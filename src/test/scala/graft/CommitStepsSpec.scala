package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.graftest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Pins the commit protocol of every mutating [[TableStore]] entry
  * point: the exact `onStep` sequence the operation fires (the durable
  * steps [[CrashSweepSpec]] enumerates crash points from) and the shape
  * of the version it commits — versions advanced, live dir count,
  * deletion-vector count, dirs carrying stats, live rows, and the
  * change-kind dirs recorded under `_cdf/<v>` (`-` when none exists,
  * `[]` for an empty "no logical change" marker) — and the Spark jobs
  * the operation ran (`jobs=`). Live rows are counted twice, from the
  * manifest and by decoding the files, and the two must agree. A
  * refactor of the commit-side helpers must leave every row
  * byte-identical; a change that lowers a job count updates its row
  * and says so in CHANGES.md. */
class CommitStepsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def rows(from: Long, to: Long, tag: String): DataFrame =
    (from to to).map(i => (i, s"$tag$i", i % 3)).toDF("id", "v", "k")

  /** Two unbucketed dirs of ten rows each. */
  private def plain(cdf: Boolean = false): TableStore = {
    val ts = new TableStore(spark, Files.createTempDirectory("steps").toString)
    ts.create("t", rows(1L, 10L, "a"))
    ts.append("t", rows(11L, 20L, "b"))
    if (cdf) ts.setChangeFeed("t", enabled = true)
    ts
  }

  /** Twenty rows hash-bucketed on `id` into four leaf dirs. */
  private def bucketed(cdf: Boolean = false): TableStore = {
    val ts = new TableStore(spark, Files.createTempDirectory("steps").toString)
    ts.createBucketed("t", rows(1L, 20L, "a"), Seq("id"), 4)
    if (cdf) ts.setChangeFeed("t", enabled = true)
    ts
  }

  /** Rows written by an "external" writer as a dir under data/. */
  private def external(ts: TableStore, dirName: String, df: DataFrame): Unit =
    df.coalesce(1).write.parquet(ts.dataRoot("t").resolve(dirName).toString)

  /** Rows laid out as `<batch>/__b=<k>/` leaves of a 4-bucket table. */
  private def externalBucketed(ts: TableStore, batch: String, df: DataFrame): Unit =
    df.withColumn("__b", pmod(hash(col("id")), lit(4)))
      .repartition(col("__b")).write.partitionBy("__b")
      .parquet(ts.dataRoot("t").resolve(batch).toString)

  /** Executor-style epoch files outside the table (optionally under
    * `__b=<k>` parents). */
  private def epochFiles(df: DataFrame, bucketedLayout: Boolean): Seq[Path] = {
    val tmp = Files.createTempDirectory("steps_epoch").resolve("out")
    if (bucketedLayout)
      df.withColumn("__b", pmod(hash(col("id")), lit(4)))
        .repartition(col("__b")).write.partitionBy("__b").parquet(tmp.toString)
    else df.coalesce(1).write.parquet(tmp.toString)
    Using.resource(Files.walk(tmp))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted)
  }

  /** The files a merge-on-read SQL MERGE's executors stage for
    * [[TableStore.commitDelta]]: a (relpath, pos) tombstone parquet for
    * rows 0 and 1 of the first live file, plus the inserted rows (one
    * file, or one per `__b=<k>` leaf on a bucketed table). */
  private def commitDeltaOf(ts: TableStore): Unit = {
    val bucketedLayout = ts.bucketingOf("t").isDefined
    val dataRoot = ts.dataRoot("t")
    val scratch = dataRoot.resolve(".delta-steps")
    val first = ts.snapshot("t").files(ts, "t").min
    val relpath = first.substring(first.lastIndexOf("/data/") + "/data/".length)
    Seq((relpath, 0L), (relpath, 1L)).toDF("relpath", "pos").coalesce(1)
      .write.parquet(scratch.resolve("del").toString)
    val ins = scratch.resolve("ins").toString
    if (bucketedLayout)
      rows(30L, 33L, "i").withColumn("__b", pmod(hash(col("id")), lit(4)))
        .repartition(col("__b")).write.partitionBy("__b").parquet(ins)
    else rows(30L, 31L, "i").coalesce(1).write.parquet(ins)
    def parquetUnder(p: Path): Seq[Path] =
      Using.resource(Files.walk(p))(_.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted)
    ts.commitDelta("t", parquetUnder(scratch.resolve("del")),
      parquetUnder(scratch.resolve("ins")))
  }

  private val upsertSrc = () =>
    (Seq((3L, "u3", 9L), (7L, "u7", 9L)) ++ Seq((31L, "n31", 1L))).toDF("id", "v", "k")

  /** (label, fixture, operation, expected record) — the pinned table. */
  private val cases: Seq[(String, () => TableStore, TableStore => Unit, String)] = Seq(
    ("append", () => plain(), ts => ts.append("t", rows(21L, 25L, "c")),
      "batch-written,manifest-linked,latest-published | +1 dirs=3 dvs=0 stats=3 rows=25 cdf=- jobs=2"),
    ("overwrite", () => plain(), ts => ts.overwrite("t", rows(1L, 5L, "o")),
      "batch-written,manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=5 cdf=- jobs=2"),
    ("overwriteWhere", () => plain(),
      ts => ts.overwriteWhere("t", col("id") <= 12L, rows(0L, 0L, "w")),
      "batch-written,dv-written,manifest-linked,latest-published | +1 dirs=2 dvs=1 stats=2 rows=9 cdf=- jobs=6"),
    ("overwriteWhere cdf", () => plain(cdf = true),
      ts => ts.overwriteWhere("t", col("id") <= 12L, rows(0L, 0L, "w")),
      "batch-written,dv-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=2 dvs=1 stats=2 rows=9 cdf=[delete,insert] jobs=6"),
    ("attachDir", () => { val ts = plain(); external(ts, "ext-a", rows(21L, 22L, "x")); ts },
      ts => ts.attachDir("t", "ext-a", replace = false),
      "manifest-linked,latest-published | +1 dirs=3 dvs=0 stats=3 rows=22 cdf=- jobs=0"),
    ("attachDir replace", () => { val ts = plain(); external(ts, "ext-a", rows(21L, 22L, "x")); ts },
      ts => ts.attachDir("t", "ext-a", replace = true),
      "manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=2 cdf=- jobs=0"),
    ("attachBucketedDirs", () => { val ts = bucketed(); externalBucketed(ts, "ext-b", rows(21L, 28L, "x")); ts },
      ts => ts.attachBucketedDirs("t", "ext-b", replace = false),
      "manifest-linked,latest-published | +1 dirs=8 dvs=0 stats=8 rows=28 cdf=- jobs=0"),
    ("attachDirWhere", () => { val ts = plain(); external(ts, "ext-w", rows(2L, 3L, "x")); ts },
      ts => ts.attachDirWhere("t", "ext-w", col("id") <= 3L),
      "dv-written,manifest-linked,latest-published | +1 dirs=3 dvs=1 stats=3 rows=19 cdf=- jobs=5"),
    ("replaceDirs", () => { val ts = plain(); external(ts, "ext-r", rows(1L, 4L, "x")); ts },
      ts => ts.replaceDirs("t", Set(ts.liveDirs("t").head), "ext-r"),
      "manifest-linked,latest-published | +1 dirs=2 dvs=0 stats=2 rows=14 cdf=- jobs=0"),
    ("attachStreamEpoch empty", () => plain(),
      ts => { ts.attachStreamEpoch("t", "q", 0L, Seq.empty): Unit },
      "manifest-linked,latest-published | +1 dirs=2 dvs=0 stats=2 rows=20 cdf=- jobs=0"),
    ("attachStreamEpoch files", () => plain(),
      ts => { ts.attachStreamEpoch("t", "q", 0L, epochFiles(rows(21L, 23L, "e"), false)): Unit },
      "manifest-linked,latest-published | +1 dirs=3 dvs=0 stats=3 rows=23 cdf=- jobs=1"),
    ("attachStreamEpoch bucketed files", () => bucketed(),
      ts => { ts.attachStreamEpoch("t", "q", 0L, epochFiles(rows(21L, 28L, "e"), true)): Unit },
      "manifest-linked,latest-published | +1 dirs=8 dvs=0 stats=8 rows=28 cdf=- jobs=2"),
    ("attachStreamEpoch replaceAll", () => plain(),
      ts => { ts.attachStreamEpoch("t", "q", 0L, epochFiles(rows(1L, 2L, "e"), false),
        replaceAll = true): Unit },
      "manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=2 cdf=- jobs=1"),
    ("commitDelta (SQL MERGE merge-on-read)", () => plain(), commitDeltaOf,
      "dv-written,manifest-linked,latest-published | +1 dirs=3 dvs=1 stats=3 rows=20 cdf=- jobs=5"),
    ("commitDelta (SQL MERGE merge-on-read) cdf", () => plain(cdf = true),
      commitDeltaOf,
      "dv-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=3 dvs=1 stats=3 rows=20 cdf=[delete,insert] jobs=7"),
    ("commitDelta (SQL MERGE merge-on-read) bucketed", () => bucketed(), commitDeltaOf,
      "dv-written,manifest-linked,latest-published | +1 dirs=6 dvs=1 stats=6 rows=22 cdf=- jobs=6"),
    ("mergeUpsert", () => bucketed(),
      ts => ts.mergeUpsert("t", upsertSrc(), Seq("id"), changeTypeCol = None),
      "batch-written,manifest-linked,latest-published | +1 dirs=4 dvs=0 stats=4 rows=21 cdf=- jobs=7"),
    ("mergeUpsert cdf", () => bucketed(cdf = true),
      ts => ts.mergeUpsert("t", upsertSrc(), Seq("id"), changeTypeCol = None),
      "batch-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=4 dvs=0 stats=4 rows=21 cdf=[insert,update_postimage,update_preimage] jobs=7"),
    ("mergeDelete", () => bucketed(),
      ts => ts.mergeDelete("t", Seq(3L, 7L).toDF("id"), Seq("id")),
      "batch-written,manifest-linked,latest-published | +1 dirs=4 dvs=0 stats=4 rows=18 cdf=- jobs=6"),
    ("mergeDelete cdf", () => bucketed(cdf = true),
      ts => ts.mergeDelete("t", Seq(3L, 7L).toDF("id"), Seq("id")),
      "batch-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=4 dvs=0 stats=4 rows=18 cdf=[delete] jobs=6"),
    ("mergeUpdate", () => plain(),
      ts => ts.mergeUpdate("t", Seq(3L, 13L).toDF("id"), Seq("id"), lit(true),
        Map("v" -> lit("m"))),
      "batch-written,manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=20 cdf=- jobs=4"),
    ("mergeUpdate cdf", () => plain(cdf = true),
      ts => ts.mergeUpdate("t", Seq(3L, 13L).toDF("id"), Seq("id"), lit(true),
        Map("v" -> lit("m"))),
      "batch-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=1 dvs=0 stats=1 rows=20 cdf=[update_postimage,update_preimage] jobs=3"),
    ("update", () => plain(),
      ts => ts.update("t", col("id") <= 3L, Map("v" -> lit("s"))),
      "batch-written,manifest-linked,latest-published | +1 dirs=2 dvs=0 stats=2 rows=20 cdf=- jobs=2"),
    ("update cdf", () => plain(cdf = true),
      ts => ts.update("t", col("id") <= 3L, Map("v" -> lit("s"))),
      "batch-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=2 dvs=0 stats=2 rows=20 cdf=[update_postimage,update_preimage] jobs=1"),
    ("delete", () => plain(),
      ts => ts.delete("t", col("id") <= 3L),
      "batch-written,manifest-linked,latest-published | +1 dirs=2 dvs=0 stats=2 rows=17 cdf=- jobs=2"),
    ("delete cdf", () => plain(cdf = true),
      ts => ts.delete("t", col("id") <= 3L),
      "batch-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=2 dvs=0 stats=2 rows=17 cdf=[delete] jobs=1"),
    ("deleteVectorized", () => plain(),
      ts => ts.deleteVectorized("t", col("id") <= 3L),
      "dv-written,manifest-linked,latest-published | +1 dirs=2 dvs=1 stats=2 rows=17 cdf=- jobs=4"),
    ("deleteVectorized cdf", () => plain(cdf = true),
      ts => ts.deleteVectorized("t", col("id") <= 3L),
      "dv-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=2 dvs=1 stats=2 rows=17 cdf=[delete] jobs=5"),
    ("updateVectorized", () => plain(),
      ts => ts.updateVectorized("t", col("id") <= 3L, Map("v" -> lit("g"))),
      "batch-written,dv-written,manifest-linked,latest-published | +1 dirs=3 dvs=1 stats=3 rows=20 cdf=- jobs=6"),
    ("updateVectorized cdf", () => plain(cdf = true),
      ts => ts.updateVectorized("t", col("id") <= 3L, Map("v" -> lit("g"))),
      "batch-written,dv-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=3 dvs=1 stats=3 rows=20 cdf=[update_postimage,update_preimage] jobs=6"),
    ("updateVectorized cdf rowtracking",
      () => { val ts = plain(cdf = true); ts.enableRowTracking("t"); ts },
      ts => ts.updateVectorized("t", col("id") <= 3L, Map("v" -> lit("g"))),
      "batch-written,dv-written,cdf-staged,manifest-linked,latest-published,cdf-published | +1 dirs=3 dvs=1 stats=3 rows=20 cdf=[update_postimage,update_preimage] jobs=6"),
    ("compact", () => plain(),
      ts => ts.compact("t"),
      "batch-written,manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=20 cdf=- jobs=2"),
    ("compact cdf", () => plain(cdf = true),
      ts => ts.compact("t"),
      "batch-written,manifest-linked,latest-published | +1 dirs=1 dvs=0 stats=1 rows=20 cdf=[] jobs=2"),
  )

  /** Jobs started on the shared session since the last reset. */
  private lazy val jobCount: AtomicInteger = {
    val n = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    })
    n
  }

  /** Run `op` on a fresh fixture; render its step trace, the shape of
    * the head version it leaves behind and the jobs it ran. */
  private def record(build: () => TableStore, op: TableStore => Unit): String = {
    val ts = build()
    val before = ts.currentVersion("t")
    val steps = mutable.Buffer.empty[String]
    ListenerBus.drain(spark.sparkContext)
    jobCount.set(0)
    ts.onStep = s => steps += s
    try op(ts) finally ts.onStep = _ => ()
    ListenerBus.drain(spark.sparkContext)
    val jobs = jobCount.get
    val v = ts.currentVersion("t")
    val snap = ts.snapshot("t")
    val cdfDir = ts.dataRoot("t").getParent.resolve("_cdf").resolve(v.toString)
    val kinds =
      if (!Files.isDirectory(cdfDir)) "-"
      else Using.resource(Files.list(cdfDir))(_.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("__cdc="))
        .map(_.stripPrefix("__cdc=")).toSeq.sorted).mkString("[", ",", "]")
    val rows = ts.read("t").count()
    assert(ts.countDecoded("t") === rows, "manifest count vs decoded count")
    s"${steps.mkString(",")} | +${v - before} dirs=${snap.dirs.size} " +
      s"dvs=${snap.dvs.size} stats=${snap.dirs.count(snap.stats.contains)} " +
      s"rows=$rows cdf=$kinds jobs=$jobs"
  }

  cases.foreach { case (label, build, op, expected) =>
    test(s"commit steps and manifest shape: $label") {
      assert(record(build, op) === expected)
    }
  }
}
