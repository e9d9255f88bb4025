package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DirStats, TableStore}

/** One Parquet writer: every file the engine writes, through the store
  * and through the SQL and streaming writers, is zstd-compressed, and
  * tables that still hold older snappy or uncompressed files read as
  * before. */
class ParquetWriterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def parquetFiles(root: Path): Set[Path] =
    Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .toSet)

  /** The parquet files `op` added under `root`. */
  private def added(root: Path)(op: => Unit): Set[Path] = {
    val before = parquetFiles(root)
    op
    parquetFiles(root) -- before
  }

  /** Every column chunk codec of `f`. */
  private def codecs(f: Path): Set[String] =
    DirStats.footer(f.toString).getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet

  private def assertZstd(kind: String, files: Set[Path]): Unit = {
    assert(files.nonEmpty, s"$kind: no file written")
    files.foreach(f => assert(codecs(f) === Set("ZSTD"), s"$kind: $f"))
  }

  private def rows(from: Long, to: Long): DataFrame =
    (from to to).map(i => (i, s"v$i")).toDF("id", "v")

  test("every kind of file the engine writes is zstd") {
    val dir = Files.createTempDirectory("pqzstd")
    val root = Files.createDirectories(dir.resolve("store"))
    val ts = new TableStore(spark, root.toString)
    spark.conf.set("spark.sql.catalog.graft_pw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pw.root", root.toString)

    assertZstd("data leaves", added(root) {
      ts.create("p", rows(1, 200))
      ts.createBucketed("b", rows(1, 200), Seq("id"), n = 4)
    })
    ts.setChangeFeed("b", true)
    val merged = added(root)(
      ts.mergeUpsert("b", rows(190, 240), Seq("id"), changeTypeCol = None))
    assertZstd("change files", merged.filter(_.toString.contains("/_cdf/")))
    assertZstd("DV sidecars", added(root)(
      ts.updateVectorized("b", col("id") % 7 === 0L, Map("v" -> lit("u")))
    ).filter(_.toString.contains("/_dv/")))
    assertZstd("compaction output", added(root) {
      ts.compact("b")
      ts.optimizeByRange("p", Seq("id"), nDirs = 2)
    })
    assertZstd("SQL INSERT", added(root)(
      spark.sql("INSERT INTO graft_pw.p VALUES (1000, 'a'), (1001, 'b')")))
    assertZstd("bucketed INSERT", added(root)(
      spark.sql("INSERT INTO graft_pw.b SELECT id + 1000, v FROM graft_pw.p")))

    ts.createEmpty("sink", rows(1, 1).schema)
    assertZstd("streaming-sink epoch", added(root) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("id", "v").writeStream
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .toTable("graft_pw.sink")
      try {
        input.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable()
      } finally q.stop()
    })
    assert(ts.read("sink").count() === 2)

    ts.create("mor", rows(1, 100))
    ts.setProperties("mor", Map("rowlevel.mode" -> "merge-on-read"))
    rows(95, 110).withColumn("v", lit("m")).createOrReplaceTempView("pw_src")
    val morFiles = added(root)(spark.sql(
      """MERGE INTO graft_pw.mor t USING pw_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assertZstd("SQL merge-on-read data", morFiles.filter(_.toString.contains("/data/")))
    assertZstd("SQL merge-on-read sidecar", morFiles.filter(_.toString.contains("/_dv/")))
    assert(ts.read("mor").filter(col("v") === "m").count() === 16)
  }

  test("a table of snappy, uncompressed and zstd files reads equal to its " +
      "rows through TableStore.read, the catalog scan and .changes") {
    val root = Files.createTempDirectory("pqmixed")
    val ts = new TableStore(spark, root.toString)
    spark.conf.set("spark.sql.catalog.graft_mix", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mix.root", root.toString)
    ts.create("t", rows(1, 100))
    ts.setChangeFeed("t", true)
    val v0 = ts.currentVersion("t")
    Seq("snappy" -> rows(101, 200), "uncompressed" -> rows(201, 300)).foreach {
      case (codec, df) =>
        val dirName = s"ext-$codec"
        df.coalesce(1).write.option("compression", codec)
          .parquet(ts.dataRoot("t").resolve(dirName).toString)
        assert(parquetFiles(ts.dataRoot("t").resolve(dirName)).flatMap(codecs) ===
          Set(codec.toUpperCase))
        ts.attachDir("t", dirName, replace = false)
    }
    // tombstones and postimages in every codec's files
    ts.updateVectorized("t", col("id") % 50 === 0L, Map("v" -> lit("u")))

    val expected = (1L to 300L).map(i => (i, if (i % 50 == 0) "u" else s"v$i")).toSet
    assert(ts.read("t").as[(Long, String)].collect().toSet === expected)
    assert(spark.table("graft_mix.t").as[(Long, String)].collect().toSet === expected)

    val updated = (1L to 6L).map(_ * 50L)
    val expectedChanges =
      (101L to 300L).map(i => (i, s"v$i", "insert")) ++
        updated.map(i => (i, s"v$i", "update_preimage")) ++
        updated.map(i => (i, "u", "update_postimage"))
    // changes after v0
    val changes = spark.read.option("startVersion", v0.toString)
      .table("graft_mix.t.changes")
      .select("id", "v", "_change_type").as[(Long, String, String)].collect()
    assert(changes.sorted.toSeq === expectedChanges.sorted)
  }
}
