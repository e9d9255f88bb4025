package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Session]] as the one place a session is built, and the test
  * session to the conf set Bench, Verify and the tools run under — so a
  * digest pinned by a tool is checked here under the same plans. */
class SessionSpec extends AnyFunSuite {

  test("no session is built outside graft/Session.scala") {
    // split so this file does not match itself
    val builder = Seq("SparkSession", "builder()").mkString(".")
    val src = Paths.get("src")
    val hits = Using.resource(Files.walk(src))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(builder))
      .map(p => src.relativize(p).toString).toList)
    assert(hits === List("main/scala/graft/Session.scala"))
  }

  test("the test session carries the shared confs") {
    val spark = SparkTest.session
    assert(spark.sparkContext.master === "local[8]")
    assert(spark.conf.get("spark.sql.sources.v2.bucketing.enabled") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }
}
