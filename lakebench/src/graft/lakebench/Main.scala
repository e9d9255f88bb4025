package graft.lakebench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{FsUtil, TableStore}

/** Command line of one run (see lakebench/run.py). */
final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, record: String, repo: String,
                      commit: String, sourceDigest: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("mode", "run"), m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"), m("record"), m("repo"),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-digest", "unknown"))
  }
}

/** What one workload provides to the closed loop in [[Main]]. */
trait Workload {
  /** Times an untraced run repeats the set-up; setup_s is the median.
    * A traced run, which does not report setup_s, sets up once. */
  def setupReps: Int = 3
  /** Least timed ops one run makes, whatever --seconds says. */
  def minOps: Int
  /** Generate inputs and build the initial store, from scratch. */
  def setup(): Unit
  /** Untimed: generate op i's input. */
  def before(i: Int): Unit = ()
  /** The timed op; returns the input rows it applied. */
  def op(i: Int, tr: Tracer): Long
  /** Untimed check of op i; returns the rows that differ from the reference. */
  def after(i: Int): Long = 0L
  /** Untimed end-of-run check; returns the rows that differ from the reference. */
  def finalCheck(): Long
  /** Table versions in the store(s) the ops write: sum of (version + 1). */
  def commitsNow(): Long
  /** Bytes the ops wrote under the store root ÷ the Parquet bytes of the
    * input they consumed, and the store footprint at the end. */
  def writeAmp: Double
  def storeBytes: Long
  /** The seeded input frames, generated afresh (no store work). */
  def generated: Seq[(String, org.apache.spark.sql.DataFrame)]
  /** The Parquet copies of the inputs a run consumed, by name. */
  def inputFiles: Seq[(String, String)]
  /** Per-layer metrics beyond the generic span fields. */
  def layerMetrics(tr: Tracer): Map[String, Double]
}

/** Shared run context: session, work directory, helpers. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val work: Path = Paths.get(args.work).toAbsolutePath

  /** Seconds since the JVM started. */
  def elapsedS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def path(name: String): String = work.resolve(name).toString

  /** Wall seconds of each named phase of the run, in order, for the record. */
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      phases += name -> s
      System.err.println(f"[lakebench] $name%-24s $s%8.2f s")
    }
  }

  def delete(p: String): Unit = FsUtil.deleteRecursively(new File(p))

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Release everything a finished op left cached (as graft.Bench does). */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Rows in `got` missing from `ref` plus rows in `ref` missing from
    * `got`, as multisets. Equal digests (`refDigest`, when given, is
    * `ref`'s) mean 0 without the two anti-joins. */
  def mismatches(got: org.apache.spark.sql.DataFrame, ref: org.apache.spark.sql.DataFrame,
                 refDigest: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val g = got.select(ref.columns.map(col): _*)
    if (Gen.digest(g) == refDigest.getOrElse(Gen.digest(ref))) 0L
    else g.exceptAll(ref).count() + ref.exceptAll(g).count()
  }

  def versions(st: TableStore): Long = st.tableNames.map(st.currentVersion(_) + 1).sum

  /** Module of each program and benchmark source file, by file name:
    * the package directory under graft/, or "bench". */
  lazy val moduleOf: Map[String, String] = {
    def files(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    }
    val src = Paths.get(args.repo, "src", "main", "scala", "graft")
    files(src).map { f =>
      val rel = src.relativize(f)
      f.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap ++ files(Paths.get(args.repo, "lakebench", "src")).map(_.getFileName.toString -> "bench")
  }

  /** Module whose code started the job: its own call site, or, for a job
    * started on an adaptive-execution thread pool, its SQL query's. */
  def moduleOfJob(j: JobRec): String = Seq(j.site, j.querySite)
    .flatMap(s => moduleOf.get(s.split(" at ").last.split(':')(0))).headOption.getOrElse("other")
}

/** The benchmark's JVM entry: one workload, one seed, one closed loop of
  * ops driven by a single client, on local[nproc]. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_s" -> "s",
    "rows_per_s" -> "rows/s", "commits_per_op" -> "count", "write_amp" -> "ratio",
    "store_mb" -> "MB", "retained_heap_mb" -> "MB")
  /** Every per-layer metric, printed on every workload (0 where the
    * workload does not exercise the layer). */
  val PerLayer: Seq[String] = {
    def spans(names: String*) = names.flatMap(n => Tracer.SpanFields.map(f => s"$n.$f"))
    spans("jobs.run_daily", "jobs.fact_materialize") ++
      Seq("jobs", "ops", "core").flatMap(m =>
        Seq("spark_jobs", "task_cpu_s", "shuffle_mb").map(f => s"site.$m.$f")) ++
      spans("core.merge_upsert", "core.update_vectorized", "ops.job_control",
        "streaming.trigger", "ops.ivm_apply") ++
      Seq("streaming.start_s", "streaming.add_batch_ms", "streaming.latest_offset_ms",
        "streaming.wal_commit_ms", "core.merge_upsert.dirs_rewritten_ratio",
        "core.merge_upsert.rows_written_per_row_changed") ++
      Seq("sources.freshness.plan_s", "sources.freshness.exec_s",
        "sources.freshness.spark_jobs", "core.freshness.dirs_kept_ratio",
        "core.freshness.rows_read_per_row_matched", "core.freshness.read_mb") ++
      Seq("trace_overhead", "trace.span_coverage")
  }
  // no op starts that would, at the slowest op's pace so far, end later
  // than this many seconds after JVM start: the check and exit that
  // follow must fit in run.py's 170 s deadline even on a slow machine
  private val OpsEndByS = 130.0

  def session(args: Args, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"lakebench-${args.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(args.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "medallion_batch" => new MedallionBatch(ctx)
    case "cdc_stream" => new CdcStream(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(args, nproc)
    val ctx = new Ctx(spark, args)
    ctx.phases += "session" -> ctx.elapsedS
    val line =
      try if (args.mode == "digest") digest(ctx) else run(ctx, nproc)
      finally ctx.phase("stop")(spark.stop())
    println(line)
    sys.exit(0)
  }

  /** Name, rows and digest of each input frame. */
  def inputDigests(frames: Seq[(String, org.apache.spark.sql.DataFrame)]): Seq[Map[String, Any]] =
    frames.map { case (n, df) =>
      val d = Gen.digest(df)
      Map("name" -> n, "rows" -> d.split(':')(0).toLong, "digest" -> d)
    }

  /** Sizes and digests of one workload's seeded inputs. */
  def digest(ctx: Ctx): String =
    Stats.json(Map("workload" -> ctx.args.workload, "seed" -> ctx.args.seed,
      "inputs" -> inputDigests(workload(ctx).generated)))

  def run(ctx: Ctx, nproc: Int): String = {
    val a = ctx.args
    val w = workload(ctx)
    val setupS = (0 until (if (a.trace) 1 else w.setupReps)).map { r =>
      ctx.phase(s"setup $r")(w.setup())
      ctx.phases.last._2
    }
    ctx.clearCaches()
    val tr = new Tracer(ctx.spark.sparkContext, () => w.commitsNow())
    var mismatches = 0L
    // Every run warms up with one untimed op, so the timed ops measure a
    // warm JVM rather than its JIT and Spark's first-use costs. A traced
    // run then traces ops in the order T U T: traced over untraced gives
    // the tracing overhead with a steady drift cancelled, and the
    // per-layer figures come from warm ops.
    val warm = 1
    val minOps = if (a.trace) math.max(w.minOps, 3) else w.minOps
    ctx.phase("warmup") {
      (0 until warm).foreach { i =>
        w.before(i); w.op(i, tr); mismatches += w.after(i); ctx.clearCaches()
      }
    }

    val lat = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var attempted, failed = 0
    var rowsIn, commits = 0L
    var opWallS, slowestS = 0.0
    val loopStart = System.nanoTime()
    def loopS = (System.nanoTime() - loopStart) / 1e9
    var i = warm
    def measured = i - warm
    while ((measured == 0 || ctx.elapsedS + slowestS < OpsEndByS) &&
        (measured < minOps || loopS < a.seconds)) {
      if (measured > 0) ctx.clearCaches()
      w.before(i)
      val traced = a.trace && measured % 2 == 0
      val c0 = w.commitsNow()
      if (traced) tr.beginOp(i)
      val t0 = tr.nowMs
      attempted += 1
      val ok =
        try { rowsIn += w.op(i, tr); true }
        catch { case e: Exception =>
          System.err.println(s"[lakebench] op $i failed: $e")
          e.printStackTrace()
          failed += 1
          false
        }
      val t1 = tr.nowMs
      if (traced) tr.endOp(t0, t1)
      if (ok) lat += ((i, (t1 - t0) / 1e3, traced))
      opWallS += (t1 - t0) / 1e3
      slowestS = math.max(slowestS, (t1 - t0) / 1e3)
      commits += w.commitsNow() - c0
      mismatches += w.after(i)
      i += 1
    }
    ctx.phases += "loop" -> loopS
    // the last op's caches are still in place for the check
    mismatches += ctx.phase("check")(w.finalCheck())
    val writeAmp = w.writeAmp
    val storeMb = w.storeBytes / 1e6
    ctx.clearCaches()
    // Spark's cleaner frees broadcast and shuffle blocks only after a GC
    // has found them unreachable: collect until the heap stops shrinking
    val heapUsed = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    val inputs = ctx.phase("digests")(inputDigests(w.inputFiles.map { case (n, p) =>
      n -> ctx.spark.read.parquet(p) }))

    val untracedLat = lat.filterNot(_._3).map(_._2).toSeq
    val allLat = lat.map(_._2).toSeq
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupS),
      "op_p50_s" -> Stats.median(if (a.trace) untracedLat else allLat),
      "rows_per_s" -> rowsIn / opWallS,
      "commits_per_op" -> commits.toDouble / attempted,
      "write_amp" -> writeAmp,
      "store_mb" -> storeMb,
      "retained_heap_mb" -> heapUsed / 1e6)
    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else w.layerMetrics(tr) ++ Map(
        "trace_overhead" -> Stats.median(lat.filter(_._3).map(_._2).toSeq) /
          Stats.median(untracedLat),
        "trace.span_coverage" -> Stats.median(tr.coverage))
    val correct = mismatches == 0 && failed == 0

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted, "output_mismatches" -> mismatches,
      "ops" -> lat.size, "run_s" -> opWallS,
      "setup_runs_s" -> setupS, "op_latency_s" -> lat.map(x => Map("op" -> x._1,
        "s" -> x._2, "traced" -> x._3)),
      "end_to_end" -> endToEnd, "per_layer" -> layers,
      "inputs" -> inputs, "phases_s" -> ctx.phases.map { case (k, v) => Map(k -> v) },
      "env" -> env(ctx, nproc),
      "spans" -> (if (a.trace) tr.spanRows else Nil),
      "jobs" -> (if (a.trace) tr.listener.jobs.values.map(j => Map("id" -> j.id,
        "span" -> tr.jobSpan.get(j.id), "site" -> j.site,
        "query_site" -> j.querySite, "module" -> ctx.moduleOfJob(j), "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)).toSeq else Nil))
    Files.write(Paths.get(a.record), Stats.json(record).getBytes("UTF-8"))

    def finite(v: Double) = if (v.isNaN || v.isInfinite) 0.0 else v
    val chosen = if (a.trace) PerLayer.map(k =>
      k -> Map("value" -> finite(layers.getOrElse(k, 0.0)), "unit" -> layerUnit(k)))
    else EndToEnd.map { case (k, u) => k -> Map("value" -> finite(endToEnd(k)), "unit" -> u) }
    Stats.json(scala.collection.immutable.ListMap("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(chosen: _*)))
  }

  def layerUnit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case "spark_jobs" | "commits" => "count"
    case _ => "ratio"
  }

  /** The environment stamp every record carries. */
  def env(ctx: Ctx, nproc: Int): Map[String, Any] = {
    val sc = ctx.spark.sparkContext
    Map("nproc" -> nproc, "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark" -> ctx.spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"), "commit" -> ctx.args.commit,
      "source_sha256" -> ctx.args.sourceDigest, "seed" -> ctx.args.seed,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "spark_conf" -> (sc.getConf.getAll.toSeq ++ ctx.spark.conf.getAll.toSeq)
        .filterNot { case (k, _) => k.contains("dir") || k.contains("host") ||
          k.contains("port") || k.contains("id") }
        .toMap)
  }
}
