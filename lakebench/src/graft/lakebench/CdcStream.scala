package graft.lakebench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.core.TableStore
import graft.jobs.{PaymentData, PaymentJobs}
import graft.ops.{DateSpine, Ivm, JobControl}

/** cdc_stream: the scheduled watermark-incremental job. Set-up builds a
  * bucketed, change-feed-enabled `silver` from 12K seeded orders and an
  * IVM join view `fact` over it (the gold star's enrich with pinned
  * dims). Each op applies one seeded CDC batch of 1,000 rows, inside the
  * reference's 1-5K incremental range (750 updates of existing ids,
  * recent ones favoured, plus 250 late and new inserts; the mix is an
  * assumption, see the README):
  * a MERGE into silver, a GDPR soft delete of one customer (the batch's
  * erasure request), a job_control watermark record, and one AvailableNow
  * trigger of `silver.changes` whose foreachBatch applies the change
  * feed to the view. The op ends when a SQL reader of the view through
  * GraftCatalog counts the batch's rows (the freshness probe). */
final class CdcStream(ctx: Ctx) extends Workload {
  import ctx.spark

  val BaseOrders = 12000L
  val Updates = 750
  val Inserts = 250
  override def minOps = 1
  // one set-up per run: the second and third cost 14 s more per run,
  // which the run budget cannot hold (README)
  override def setupReps = 1

  private val basePath = ctx.path("input/base_silver")
  private def batchPath(i: Int) = ctx.path(s"input/batch_$i")
  private val root = ctx.path("store")
  private val ckpt = ctx.path("checkpoint")
  private val catalog = "lakebench_cdc"
  private var store: TableStore = _
  private var jc: JobControl = _
  private var v0 = 0L
  private var enrich: DataFrame => DataFrame = _
  private var loopBytes0 = -1L
  private val applied = mutable.ArrayBuffer.empty[Int]
  private val gdpr = mutable.ArrayBuffer.empty[(Int, String)]
  private val progress = mutable.ArrayBuffer.empty[(Int, Double, StreamingQueryProgress)]
  private val mergeRatios = mutable.ArrayBuffer.empty[Double]
  private val batchRows = mutable.HashMap.empty[Int, Long]
  private val seen = mutable.HashMap.empty[Int, Long]
  private val keptRatios = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    Seq(ctx.path("input"), root, ckpt).foreach(ctx.delete)
    ctx.phase("setup.generate")(baseSilver.write.parquet(basePath))
    val base = spark.read.parquet(basePath)
    store = new TableStore(spark, root)
    ctx.phase("setup.silver")(store.createBucketed("silver", base, Seq("transaction_id"), n = 16))
    store.setChangeFeed("silver", true)
    v0 = store.currentVersion("silver")
    // dims pinned from the base silver, as the nightly star pins them
    val dims = Seq(PaymentJobs.dimCustomerCurrent(base), PaymentJobs.dimMerchantCurrent(base),
      PaymentJobs.dimPaymentMethod(base), PaymentJobs.dimStatus(base))
    ctx.phase("setup.dims")(
      dims.zipWithIndex.foreach { case (d, k) => d.write.parquet(ctx.path(s"input/dim$k")) })
    val Seq(dc, dm, dp, ds) = dims.indices.map(k => spark.read.parquet(ctx.path(s"input/dim$k")))
    val dd = DateSpine.dimDate(spark, "1995-01-01", "2002-12-31")
    enrich = df => PaymentJobs.factStar(df, dc, dm, dp, ds, dd)
    ctx.phase("setup.view")(store.createBucketed("fact", enrich(store.readVersion("silver", v0))
      .withColumn("_live", lit(true)), Seq("transaction_id"), n = 16))
    jc = new JobControl(store)
    jc.init()
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
  }

  private def baseSilver: DataFrame =
    Gen.silverOf(Gen.transactions(spark, ctx.args.seed, BaseOrders), 1L)
  private def batch(i: Int, base: DataFrame): DataFrame =
    Gen.cdcBatch(base, ctx.args.seed, i, Updates, Inserts)

  def inputFiles: Seq[(String, String)] =
    ("base_silver" -> basePath) +: applied.toSeq.map(i => s"cdc_batch_$i" -> batchPath(i))
  def generated: Seq[(String, DataFrame)] =
    Seq("base_silver" -> baseSilver, "cdc_batch_0" -> batch(0, baseSilver))

  override def before(i: Int): Unit = {
    if (loopBytes0 < 0) loopBytes0 = ctx.dirBytes(root)
    batch(i, spark.read.parquet(basePath)).write.parquet(batchPath(i))
    batchRows(i) = spark.read.parquet(batchPath(i)).count()
  }

  private def customerFor(i: Int): String = {
    val h = java.util.Objects.hash(Long.box(ctx.args.seed), Int.box(i))
    f"USER_${Math.floorMod(h, 1000)}%04d"
  }

  def op(i: Int, tr: Tracer): Long = {
    val batch = spark.read.parquet(batchPath(i))
    val started = new Timestamp(System.currentTimeMillis())
    val traced = tr.on
    val dirs0 = if (traced) store.liveDirs("silver").toSet else Set.empty[String]
    tr.span("core.merge_upsert") {
      store.mergeUpsert("silver", batch, Seq("transaction_id"), changeTypeCol = None)
    }
    if (traced)
      mergeRatios += (dirs0 -- store.liveDirs("silver")).size.toDouble / dirs0.size
    val c = customerFor(i)
    tr.span("core.update_vectorized") {
      store.updateVectorized("silver", col("customer_id") === c, Map(
        "is_deleted" -> lit(true),
        "deleted_at" -> lit(PaymentData.Now).cast("timestamp_ntz"),
        "delta_change_type" -> lit("DELETE")))
    }
    gdpr += ((i, c))
    tr.span("ops.job_control") {
      jc.record("silver_incremental", s"CDC_$i", "silver", "SUCCESS", started,
        new Timestamp(System.currentTimeMillis()),
        Some(Timestamp.valueOf(PaymentData.Now)), batchRows(i), batchRows(i), 0L)
    }
    tr.span("streaming.trigger") {
      val trigger = tr.current
      val t0 = System.nanoTime()
      val q = spark.readStream
        .option("startVersion", v0.toString)
        .table(s"$catalog.silver.changes")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (feed: DataFrame, batchId: Long) =>
          tr.span("ops.ivm_apply", trigger) {
            Ivm.applyJoinDeltaFeed(store, "fact", feed, Seq("transaction_id"), enrich,
              txn = Some(("lakebench_cdc", batchId)))
          }
        }
        .start()
      q.awaitTermination()
      if (traced) {
        val wall = (System.nanoTime() - t0) / 1e9
        q.recentProgress.foreach(p => progress += ((i, wall, p)))
      }
    }
    // a reader sees the batch: the view's rows stamped with its version
    val probe = s"SELECT count(*) FROM $catalog.fact WHERE _live AND delta_version = ${i + 2}"
    val df = tr.span("sources.freshness.plan") {
      val d = spark.sql(probe)
      d.queryExecution.executedPlan
      d
    }
    seen(i) = tr.span("sources.freshness.exec")(df.collect().head.getLong(0))
    if (traced) {
      val (kept, total) = store.pruneCount("fact", col("delta_version") === i + 2)
      keptRatios += kept.toDouble / total
    }
    applied += i
    batchRows(i)
  }

  /** The probe must count every batch row the star keeps. */
  override def after(i: Int): Long = {
    val want = spark.read.parquet(batchPath(i)).filter(!col("merchant_id").like("MERCH_9%")).count()
    if (seen(i) != want)
      System.err.println(s"[lakebench] cdc_stream op $i: view shows ${seen(i)} of $want batch rows")
    math.abs(seen(i) - want)
  }

  /** Silver by folding the batches in plain Spark: the last upsert of
    * each id wins, then a soft delete of its customer at or after that
    * batch marks it deleted. */
  def foldedSilver(): DataFrame = {
    val cols = spark.read.parquet(basePath).columns.map(col)
    val versions = applied.foldLeft(spark.read.parquet(basePath).withColumn("__b", lit(-1))) {
      (acc, i) => acc.unionByName(spark.read.parquet(batchPath(i)).withColumn("__b", lit(i)))
    }
    val latest = versions.withColumn("__rn", row_number().over(
        Window.partitionBy("transaction_id").orderBy(col("__b").desc)))
      .filter(col("__rn") === 1)
    val deletes = spark.createDataFrame(gdpr.toSeq).toDF("__g", "__c")
    val hit = latest.join(deletes, col("customer_id") === col("__c") && col("__g") >= col("__b"),
        "left_semi").select(col("transaction_id").as("__del"))
    latest.join(hit, col("transaction_id") === col("__del"), "left")
      .withColumn("is_deleted", col("__del").isNotNull || col("is_deleted"))
      .withColumn("deleted_at", when(col("__del").isNotNull,
        lit(PaymentData.Now).cast("timestamp_ntz")).otherwise(col("deleted_at")))
      .withColumn("delta_change_type", when(col("__del").isNotNull, lit("DELETE"))
        .otherwise(col("delta_change_type")))
      .select(cols: _*)
  }

  def finalCheck(): Long = {
    val silver = store.read("silver")
    val silverDiff = ctx.mismatches(silver, foldedSilver())
    val viewDiff = ctx.mismatches(Ivm.readJoinView(store, "fact"), enrich(silver))
    if (silverDiff + viewDiff > 0)
      System.err.println(s"[lakebench] cdc_stream mismatches: silver $silverDiff, view $viewDiff")
    silverDiff + viewDiff
  }

  def commitsNow(): Long = ctx.versions(store)
  def storeBytes: Long = ctx.dirBytes(root)
  def writeAmp: Double = (storeBytes - loopBytes0).toDouble /
    applied.map(i => ctx.dirBytes(batchPath(i))).sum

  def layerMetrics(tr: Tracer): Map[String, Double] = {
    val spans = Seq("core.merge_upsert", "core.update_vectorized", "ops.job_control",
      "streaming.trigger", "ops.ivm_apply").map(tr.spanMetrics).reduce(_ ++ _)
    def dur(k: String) = Stats.median(progress.toSeq.map(p =>
      Option(p._3.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val starts = progress.groupBy(_._1).values.map { ps =>
      ps.head._2 - ps.map(p => Option(p._3.durationMs.get("triggerExecution"))
        .map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    }.toSeq
    val probes = tr.spans.filter(_.name == "sources.freshness.exec").toSeq
      .map(s => (tr.totals(tr.jobsOf(s)), seen(s.op)))
    val plan = tr.spanMetrics("sources.freshness.plan")
    val exec = tr.spanMetrics("sources.freshness.exec")
    val merges = tr.spans.filter(_.name == "core.merge_upsert").toSeq
    val writtenPerChanged = Stats.median(merges.map(s =>
      tr.totals(tr.jobsOf(s)).writtenRows.toDouble / batchRows(s.op)))
    spans ++ Map(
      "streaming.start_s" -> Stats.median(starts),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "core.merge_upsert.dirs_rewritten_ratio" -> Stats.median(mergeRatios.toSeq),
      "core.merge_upsert.rows_written_per_row_changed" -> writtenPerChanged,
      "sources.freshness.plan_s" -> plan("sources.freshness.plan.wall_s"),
      "sources.freshness.exec_s" -> exec("sources.freshness.exec.wall_s"),
      "sources.freshness.spark_jobs" -> (plan("sources.freshness.plan.spark_jobs") +
        exec("sources.freshness.exec.spark_jobs")),
      "core.freshness.dirs_kept_ratio" -> Stats.median(keptRatios.toSeq),
      "core.freshness.rows_read_per_row_matched" -> Stats.median(probes.map { case (t, n) =>
        t.readRows.toDouble / math.max(n, 1L) }),
      "core.freshness.read_mb" -> Stats.median(probes.map(_._1.readMb)))
  }
}
