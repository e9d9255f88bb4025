package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Using

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{NoForkLocalFileSystem, TableStore}

/** A store's writes set file modes without forking a process: Hadoop's
  * local file system without its native library forks `chmod` for every
  * file, `.crc` and directory it creates. */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  /** The commands of the processes this JVM started while `op` ran. */
  private def processesStartedBy(op: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val out = Files.createTempFile("forks", ".jfr")
    rec.start()
    try op finally rec.stop()
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(out): Unit }
  }

  /** Runs `op`, then asserts it forked no `chmod` (and that the
    * recording saw this JVM's processes at all). */
  private def forksNoChmod(op: => Unit): Unit = {
    val started = processesStartedBy {
      op
      // the recording sees processes this JVM starts
      new ProcessBuilder("true").start().waitFor(): Unit
    }
    assert(started.exists(_.split(' ').head.endsWith("true")), started)
    val chmods = started.filter(_.split(' ').head.endsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod forks, e.g. ${chmods.take(3)}")
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** `dir` and its first `suffix` file and that file's `.crc` carry the
    * modes Hadoop's `chmod` gives them. */
  private def assertHadoopModes(dir: Path, suffix: String = ".parquet"): Unit = {
    val file = Using.resource(Files.list(dir))(_.iterator().asScala
      .find(_.getFileName.toString.endsWith(suffix))).get
    val crc = dir.resolve(s".${file.getFileName}.crc")
    assert(mode(file) === "rw-r--r--")
    assert(mode(crc) === "rw-r--r--")
    assert(mode(dir) === "rwxr-xr-x")
  }

  private def catalogStore(prefix: String): (TableStore, String) = {
    val root = Files.createTempDirectory(prefix).toString
    val cat = s"graft_$prefix"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (new TableStore(spark, root), cat)
  }

  test("a bucketed feed-on write forks no chmod and keeps Hadoop's modes") {
    val ts = new TableStore(spark, Files.createTempDirectory("nofork").toString)
    ts.createBucketed("t", (1L to 400L).map(i => (i, s"a$i")).toDF("id", "v"),
      Seq("id"), n = 16)
    ts.setChangeFeed("t", true)
    val before = ts.liveDirs("t").toSet
    forksNoChmod(ts.mergeUpsert("t", (390L to 420L).map(i => (i, s"m$i")).toDF("id", "v"),
      Seq("id"), changeTypeCol = None))
    assertHadoopModes(ts.dataRoot("t").resolve(ts.liveDirs("t").filterNot(before).head))
  }

  test("a SQL INSERT into a bucketed table forks no chmod and keeps Hadoop's modes") {
    val (ts, cat) = catalogStore("nofork_sql")
    ts.createEmpty("t", Seq((1L, "a")).toDF("id", "v").schema, Some((Seq("id"), 16)))
    spark.range(2000).selectExpr("id", "concat('v', id) AS v")
      .createOrReplaceTempView("nofork_src")
    forksNoChmod(spark.sql(s"INSERT INTO $cat.t SELECT * FROM nofork_src"): Unit)
    assert(ts.read("t").count() === 2000)
    assertHadoopModes(ts.dataRoot("t").resolve(ts.liveDirs("t").head))
  }

  test("an AvailableNow trigger's checkpoint forks no chmod and keeps Hadoop's modes") {
    val (ts, cat) = catalogStore("nofork_stream")
    ts.create("feed", (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v"))
    val ckpt = Files.createTempDirectory("nofork_ckpt")
    forksNoChmod {
      val q = spark.readStream.table(s"$cat.feed").writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000))
    }
    assertHadoopModes(ckpt.resolve("offsets"), suffix = "0")
    assertHadoopModes(ckpt.resolve("commits"), suffix = "0")
  }

  test("the file system sets each mode Hadoop's chmod would, sticky bit " +
      "through Hadoop's own call") {
    val fs = new NoForkLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration)
    val d = Files.createTempDirectory("modes")
    val f = Files.createFile(d.resolve("f"))
    def set(p: Path, symbolic: String): Unit =
      fs.setPermission(new org.apache.hadoop.fs.Path(p.toUri), FsPermission.valueOf(symbolic))
    try {
      Seq("rwxrwxrwx", "rw-r--r--", "rwxr-x---", "r---w---x", "---------").foreach { m =>
        set(f, "-" + m)
        assert(mode(f) === m)
      }
      set(d, "drwxrwxrwt")
      assert(mode(d) === "rwxrwxrwx")
      assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x200) != 0, "sticky bit")
    } finally { Files.delete(f); Files.delete(d); fs.close() }
  }
}
