package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins Spark's vectorized reader (sources/GraftVectorized.scala) as the
  * engine's one Parquet decoder: no main source may bring back a
  * row-at-a-time parquet-mr reader beside it. */
class ParquetDecoderLintSpec extends AnyFunSuite {

  test("no main source uses parquet-mr's row reader or its Group records") {
    // `pkg.Name`, or `Name` inside a `pkg.{...}` selector; the package
    // strings are split so this file does not match itself
    def ref(pkg: String, name: String) =
      (java.util.regex.Pattern.quote(pkg) +
        raw"\.(\{[^}]*\b$name\b|$name\b)").r
    val banned = Seq(
      ref(Seq("org", "apache", "parquet", "hadoop").mkString("."), "ParquetReader"),
      ref(Seq("org", "apache", "parquet", "example", "data").mkString("."), "Group"))
    val src = Paths.get("src/main")
    val hits = Using.resource(Files.walk(src))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        banned.flatMap(_.findFirstIn(text)).map(m => s"${src.relativize(p)}: $m")
      }.toList)
    assert(hits === Nil)
  }
}
