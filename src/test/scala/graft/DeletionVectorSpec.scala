package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Deletion vectors: merge-on-read DELETE that commits (file, position)
  * tombstones instead of rewriting dirs; reads on both the library and
  * the SQL (DSv2) path apply them; rewrites materialize and drop them. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def fresh(): (TableStore, java.nio.file.Path) = {
    val root = Files.createTempDirectory("dvstore")
    (new TableStore(spark, root.toString), root)
  }

  test("deleteVectorized removes rows without rewriting dirs") {
    val (ts, root) = fresh()
    ts.create("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.append("t", (101L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))
    val dirsBefore = ts.liveDirs("t")
    ts.deleteVectorized("t", col("id") % 10 === 0L)
    assert(ts.liveDirs("t") === dirsBefore) // no dir rewritten
    assert(ts.read("t").count() === 180)
    assert(ts.countDecoded("t") === 180)
    assert(ts.read("t").filter(col("id") % 10 === 0L).count() === 0)
    // sidecar exists; time travel shows the pre-delete state
    assert(Files.isDirectory(root.resolve("t").resolve("_dv")))
    assert(ts.readVersion("t", 1).count() === 200)
  }

  test("a library read of a DV'd 16-bucket table over 32 dirs is one Spark job") {
    val (ts, _) = fresh()
    def rows(k: Long) =
      ((k * 1000L + 1L) to (k * 1000L + 400L)).map(i => (i, s"v$i")).toDF("id", "v")
    ts.createBucketed("t", rows(0L), Seq("id"), 16)
    ts.append("t", rows(1L))
    ts.append("t", rows(2L))
    assert(ts.liveDirs("t").size > 32)
    ts.deleteVectorized("t", col("id") % 10 === 0L)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(counter)
    try {
      val got = ts.read("t").collect()
      ListenerBus.drain(sc)
      assert(got.length === 1080)
      assert(jobs.get === 1)
    } finally sc.removeSparkListener(counter)
  }

  test("a second DV delete on the same dir merges tombstones") {
    val (ts, _) = fresh()
    ts.create("t", (1L to 50L).map(i => (i, i * 2)).toDF("id", "x"))
    ts.deleteVectorized("t", col("id") <= 10L)
    ts.deleteVectorized("t", col("id") > 40L)
    assert(ts.read("t").as[(Long, Long)].collect().map(_._1).sorted.toSeq ===
      (11L to 40L))
    // metadata row count reflects both waves
    assert(ts.snapshot("t").rowCount === Some(30L))
  }

  test("merge and compact materialize DV deletes; no resurrection") {
    val (ts, _) = fresh()
    ts.createBucketed("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    ts.deleteVectorized("t", col("id") === 7L)
    assert(ts.read("t").count() === 39)
    // merge rewrites the touched buckets reading THROUGH the DV
    ts.mergeUpsert("t", Seq((8L, "V8")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)
    assert(ts.read("t").filter(col("id") === 7L).count() === 0)
    ts.compact("t")
    assert(ts.read("t").count() === 39)
    assert(ts.snapshot("t").dvs.isEmpty) // rewritten dirs dropped their DVs
  }

  test("SQL catalog path applies DVs: scan, filter, metadata COUNT") {
    val root = Files.createTempDirectory("dvsql").toString
    spark.conf.set("spark.sql.catalog.gdv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdv.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 100L).map(i => (i, i % 10, s"v$i")).toDF("id", "x", "v"))
    ts.deleteVectorized("t", col("id") <= 20L)
    assert(spark.sql("SELECT count(*) FROM gdv.t").head().getLong(0) === 80L)
    assert(spark.sql("SELECT sum(id) FROM gdv.t").head().getLong(0) ===
      (21L to 100L).sum)
    // pushdown-shaped predicate over a DV'd file still correct
    assert(spark.sql("SELECT count(*) FROM gdv.t WHERE id <= 30").head().getLong(0) === 10L)
    // MIN falls back to a real scan (stats would say 1)
    assert(spark.sql("SELECT min(id) FROM gdv.t").head().getLong(0) === 21L)
  }

  test("DV delete with change feed records the deleted rows") {
    val (ts, _) = fresh()
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.setChangeFeed("t", true)
    val v0 = ts.currentVersion("t")
    ts.deleteVectorized("t", col("id") === 3L || col("id") === 4L)
    val ch = ts.readChangesBetween("t", v0, ts.currentVersion("t"))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((3L, "delete"), (4L, "delete")))
    // without CDF, the change feed refuses to skip over a DV commit
    val (ts2, _) = fresh()
    ts2.create("u", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts2.deleteVectorized("u", col("id") === 3L)
    val e = intercept[IllegalStateException](
      ts2.readChangesBetween("u", 0, 1).count())
    assert(e.getMessage.contains("deletion vectors"))
  }

  test("delete.mode=merge-on-read routes SQL DELETE through DVs") {
    val root = Files.createTempDirectory("dvmode").toString
    spark.conf.set("spark.sql.catalog.gdvm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvm.root", root)
    spark.sql("""CREATE TABLE gdvm.t (id BIGINT, v STRING)
                 TBLPROPERTIES ('delete.mode'='merge-on-read')""")
    val ts = new TableStore(spark, root)
    ts.append("t", (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val dirsBefore = ts.liveDirs("t")
    spark.sql("DELETE FROM gdvm.t WHERE id <= 10")
    assert(ts.liveDirs("t") === dirsBefore) // merge-on-read: no rewrite
    assert(spark.sql("SELECT count(*) FROM gdvm.t").head().getLong(0) === 40L)
    assert(spark.sql("SHOW TBLPROPERTIES gdvm.t").collect()
      .exists(r => r.getString(0) == "delete.mode" && r.getString(1) == "merge-on-read"))
    // flip the mode off via ALTER and the next delete rewrites
    spark.sql("ALTER TABLE gdvm.t UNSET TBLPROPERTIES ('delete.mode')")
    spark.sql("DELETE FROM gdvm.t WHERE id = 11")
    assert(spark.sql("SELECT count(*) FROM gdvm.t").head().getLong(0) === 39L)
    assert(ts.liveDirs("t") !== dirsBefore)
  }

  test("updateVectorized rewrites no dirs: tombstones + appended postimages") {
    val (ts, _) = fresh()
    ts.create("t", (1L to 100L).map(i => (i, i * 10)).toDF("id", "x"))
    ts.append("t", (101L to 200L).map(i => (i, i * 10)).toDF("id", "x"))
    val dirsBefore = ts.liveDirs("t")
    ts.updateVectorized("t", col("id") % 50 === 0L, Map("x" -> (col("x") + 1L)))
    // every pre-update dir still live untouched, one new dir appended
    assert(ts.liveDirs("t").take(dirsBefore.size) === dirsBefore)
    assert(ts.liveDirs("t").size === dirsBefore.size + 1)
    val got = ts.read("t").as[(Long, Long)].collect().toMap
    assert(got.size === 200)
    assert(got(50L) === 501L && got(100L) === 1001L &&
      got(150L) === 1501L && got(200L) === 2001L)
    assert(got(49L) === 490L)
    // metadata row count stays exact: +postimages -tombstones = 0
    assert(ts.snapshot("t").rowCount === Some(200L))
  }

  test("updateVectorized stacks: merged tombstones, postimage dirs re-targetable") {
    val (ts, _) = fresh()
    ts.create("t", (1L to 50L).map(i => (i, "a")).toDF("id", "s"))
    ts.deleteVectorized("t", col("id") > 45L)
    ts.updateVectorized("t", col("id") <= 5L, Map("s" -> lit("b")))
    // the second update's target rows live in the FIRST update's
    // appended postimage dir — its tombstones must land there
    ts.updateVectorized("t", col("id") === 1L, Map("s" -> lit("c")))
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got.size === 45)
    assert(got(1L) === "c" && got(2L) === "b" && got(6L) === "a")
    assert(ts.snapshot("t").rowCount === Some(45L))
  }

  test("updateVectorized with change feed records pre/postimages same-pass") {
    val (ts, _) = fresh()
    ts.create("t", (1L to 10L).map(i => (i, i * 1L)).toDF("id", "x"))
    ts.setChangeFeed("t", true)
    val v0 = ts.currentVersion("t")
    ts.updateVectorized("t", col("id") >= 9L, Map("x" -> (col("x") * 100L)))
    val ch = ts.readChangesBetween("t", v0, ts.currentVersion("t"))
      .select("id", "x", "_change_type").as[(Long, Long, String)].collect().toSet
    assert(ch === Set((9L, 9L, "update_preimage"), (10L, 10L, "update_preimage"),
      (9L, 900L, "update_postimage"), (10L, 1000L, "update_postimage")))
    // without CDF the change feed refuses to skip the DV+append commit
    val (ts2, _) = fresh()
    ts2.create("u", (1L to 10L).map(i => (i, i * 1L)).toDF("id", "x"))
    ts2.updateVectorized("u", col("id") === 1L, Map("x" -> lit(0L)))
    intercept[IllegalStateException](ts2.readChangesBetween("u", 0, 1).count())
  }

  test("feed-on updateVectorized sizes its postimage like a batch; " +
      "bucketed postimages keep their leaves") {
    val (ts, root) = fresh()
    // one dir of 8 files (an external write: the store's own writes are
    // sized), so the staged scan has one partition per file
    ts.create("t", Seq((0L, "v0")).toDF("id", "v"))
    (1L to 80L).map(i => (i, s"v$i")).toDF("id", "v").repartition(8)
      .write.parquet(ts.dataRoot("t").resolve("ext").toString)
    ts.attachDir("t", "ext", replace = true)
    ts.setChangeFeed("t", enabled = true)
    val before = ts.liveDirs("t").toSet
    ts.updateVectorized("t", col("id") % 2 === 0L, Map("v" -> lit("u")))
    val post = ts.liveDirs("t").filterNot(before)
    assert(post.size === 1)
    def parquets(d: java.nio.file.Path): Seq[String] =
      scala.util.Using.resource(Files.list(d))(_.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq)
    assert(parquets(root.resolve("t").resolve("data").resolve(post.head)).size === 1)
    assert(ts.read("t").filter(col("v") === "u").count() === 40)
    val (tb, _) = fresh()
    tb.createBucketed("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    tb.setChangeFeed("t", enabled = true)
    tb.updateVectorized("t", col("id") <= 20L, Map("v" -> lit("u")))
    assert(tb.liveDirs("t").size > 4 && tb.liveDirs("t").forall(_.contains("/__b=")))
    assert(tb.readChangesBetween("t", 1L, 2L).count() === 40)
    assert(tb.read("t").filter(col("v") === "u").count() === 20)
  }

  test("bucketed updateVectorized keeps layout; merge/compact materialize") {
    val (ts, _) = fresh()
    ts.createBucketed("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    ts.updateVectorized("t", col("id") === 7L, Map("v" -> lit("V7")))
    // postimages were bucket-routed: merges can still prune by bucket
    assert(ts.liveDirs("t").forall(_.contains("/__b=")))
    ts.mergeUpsert("t", Seq((7L, "W7")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)
    assert(ts.read("t").filter(col("v").isin("v7", "V7")).count() === 0)
    ts.compact("t")
    assert(ts.read("t").count() === 40)
    assert(ts.snapshot("t").dvs.isEmpty)
    assert(ts.read("t").as[(Long, String)].collect().toMap.apply(7L) === "W7")
  }

  test("a small mark writes one sidecar file, sized to its bytes") {
    val (ts, root) = fresh()
    ts.createBucketed("t", (1L to 1000L).map(i => (i, i % 100, s"v$i"))
      .toDF("id", "c", "v"), Seq("id"), 16)
    (1 to 3).foreach(k => ts.append("t", (1L to 1000L).map(i => (k * 1000L + i, i % 100, s"v$i"))
      .toDF("id", "c", "v")))
    ts.setChangeFeed("t", true)
    // 40 rows spread over every batch and bucket
    ts.updateVectorized("t", col("c") === 7L && col("id") % 1000 < 400,
      Map("v" -> lit("erased")))
    assert(ts.read("t").filter(col("v") === "erased").count() === 16)
    ts.updateVectorized("t", col("c") === 3L, Map("v" -> lit("erased")))
    assert(ts.read("t").filter(col("v") === "erased").count() === 56)
    val sidecars = Files.list(root.resolve("t").resolve("_dv")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("dv-")).toSeq
    assert(sidecars.size === 2)
    sidecars.foreach { s =>
      val files = Files.list(s).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size === 1, s"$s: ${files.map(_.getFileName)}")
    }
  }

  test("CALL graft.system.update_vectorized drives it from SQL") {
    val root = Files.createTempDirectory("dvproc").toString
    spark.conf.set("spark.sql.catalog.gdvp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvp.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 20L).map(i => (i, i * 1.0, s"v$i")).toDF("id", "x", "v"))
    val dirsBefore = ts.liveDirs("t")
    spark.sql("""CALL gdvp.system.update_vectorized('t', 'id <= 3',
                 'x = coalesce(x, 0) * 2, v = concat(v, ''!'')')""")
    assert(ts.liveDirs("t").take(dirsBefore.size) === dirsBefore)
    val got = spark.sql("SELECT id, x, v FROM gdvp.t").as[(Long, Double, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((2.0, "v1!")) && got(3L) === ((6.0, "v3!")))
    assert(got(4L) === ((4.0, "v4")))
    assert(got.size === 20)
  }

  test("DV'd files stay on the columnar read path; skip is batch-exact") {
    val root = Files.createTempDirectory("dvcol").toString
    spark.conf.set("spark.sql.catalog.gdvc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvc.root", root)
    val ts = new TableStore(spark, root)
    // one file spanning >2 vectorized batches (capacity 4096), with
    // tombstones crossing batch boundaries AND one fully-deleted batch
    // range (4096..8191) — the three RemappedColumnVector cases
    val n = 10000L
    ts.create("t", (0L until n).map(i => (i, i * 3)).toDF("id", "x")
      .coalesce(1))
    ts.deleteVectorized("t",
      col("id") % 7 === 0L || (col("id") >= 4096L && col("id") < 8192L))
    val surviving = (0L until n)
      .filterNot(i => i % 7 == 0 || (i >= 4096L && i < 8192L))
    val got = spark.sql("SELECT id, x FROM gdvc.t")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === surviving)
    assert(got.forall { case (i, x) => x == i * 3 })
    // pushdown-shaped filter over the DV'd file (pushdown is dropped on
    // that file, Spark re-filters above): still exact
    assert(spark.sql("SELECT sum(x) FROM gdvc.t WHERE id < 100").head().getLong(0)
      === surviving.filter(_ < 100).map(_ * 3).sum)
    // plan evidence: the scan stays columnar (ColumnarToRow feeding
    // whole-stage codegen) and reports the dv skip
    val plan = spark.sql("SELECT id, x FROM gdvc.t WHERE x >= 0")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("ColumnarToRow"), plan)
    assert(plan.contains("dv columnar-skip: 1 dirs"), plan)
  }

  test("vacuum sweeps sidecars no retained manifest references") {
    val (ts, root) = fresh()
    ts.create("t", (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.deleteVectorized("t", col("id") === 5L)
    val dvDir = root.resolve("t").resolve("_dv")
    assert(Files.list(dvDir).count() === 1)
    ts.compact("t") // materializes; DV no longer referenced by latest
    // a FRESH unreferenced sidecar is in-flight-protected (could be a
    // concurrent write's staging or a pre-commit sidecar): not swept
    ts.vacuum("t", retainVersions = 1)
    assert(Files.list(dvDir).count() === 1)
    // age it past the 1h guard: now it's a crash leftover and goes
    import java.nio.file.attribute.FileTime
    Files.list(dvDir).forEach(p => Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600L * 1000)))
    ts.vacuum("t", retainVersions = 1)
    assert(!Files.isDirectory(dvDir) || Files.list(dvDir).count() === 0)
    assert(ts.read("t").count() === 29)
  }

  test("compactDvHeavy purges only tombstone-heavy dirs") {
    val (ts, _) = fresh()
    ts.create("t", (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    ts.append("t", (100L until 200L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    ts.append("t", (200L until 300L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    // 30% of dir 0 tombstoned, 2% of dir 1, dir 2 clean
    ts.deleteVectorized("t", col("k") < 30)
    ts.deleteVectorized("t", col("k") === 150L || col("k") === 151L)
    val before = ts.liveDirs("t")
    assert(ts.compactDvHeavy("t", minDeletedRatio = 0.1) === 1)
    val after = ts.liveDirs("t")
    assert(after.toSet.intersect(before.toSet).size === 2,
      "lightly-tombstoned and clean dirs must carry")
    assert(ts.read("t").count() === 268)
    // the purged dir's DV is gone; the light one remains
    assert(ts.snapshot("t").dvs.size === 1)
    // below-threshold state: second pass is a no-op
    assert(ts.compactDvHeavy("t", minDeletedRatio = 0.1) === 0)
    assert(ts.read("t").filter(col("k") < 30).count() === 0)
  }

  test("GraftDvSidecars executor probe returns exactly each file's tombstones") {
    val (ts, _) = fresh()
    // several dirs, several files per dir (repartition), deletes across all
    ts.create("t", spark.range(1, 2001).repartition(4)
      .select(col("id"), (col("id") * 7).as("x")).toDF())
    ts.append("t", spark.range(2001, 4001).repartition(4)
      .select(col("id"), (col("id") * 7).as("x")).toDF())
    ts.deleteVectorized("t", col("id") % 13 === 0L)
    ts.deleteVectorized("t", col("id") % 17 === 0L) // merges into new sidecars
    val v = ts.currentVersion("t")
    val byDir = ts.dvSidecarsByDir("t", ts.snapshotAt("t", v).dvs)
    assert(byDir.nonEmpty, "expected DV'd dirs")
    // ground truth per file from the sidecar rows read through Spark
    val truth = byDir.values.flatten.toSeq.distinct
      .map(spark.read.parquet(_)).reduce(_ unionByName _)
      .groupBy("relpath").agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(col("pos"))).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(truth.nonEmpty)
    // the executor-side probe must agree file by file, sorted
    truth.foreach { case (relpath, expected) =>
      val dir = relpath.split('/').dropRight(1).mkString("/")
      val got = graft.sources.GraftDvSidecars
        .positions(byDir(dir), relpath, spark.sessionState.newHadoopConf()).toSeq
      assert(got === expected, s"probe mismatch for $relpath")
    }
    // a file with no tombstones probes empty, not an error
    val dvdDir = byDir.keys.head
    assert(graft.sources.GraftDvSidecars
      .positions(byDir(dvdDir), s"$dvdDir/no-such-file.parquet",
        spark.sessionState.newHadoopConf()).isEmpty)
    // end-to-end: live scan equals the predicate-derived survivor set
    assert(ts.read("t").count() === (1L to 4000L)
      .count(i => i % 13 != 0 && i % 17 != 0))
  }
}
