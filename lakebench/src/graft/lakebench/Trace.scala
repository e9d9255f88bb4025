package graft.lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a module's public function. Times are epoch
  * milliseconds (fractional), comparable with Spark's event times. */
final class SpanRec(val id: Int, val name: String, val parent: Int, val op: Int,
                    val startMs: Double) {
  var endMs: Double = Double.NaN
  var commits: Long = 0L
  def wallMs: Double = endMs - startMs
}

/** One Spark job as the listener saw it. `span` is the benchmark's span
  * id from the job's local properties. `site` is the call site Spark
  * names the job's result stage after ("count at TableStore.scala:1234");
  * `querySite` is the first frame outside Spark of the SQL query the job
  * belongs to ("TableStore.scala:688"), when it belongs to one. */
final class JobRec(val id: Int, val startMs: Long, val span: Option[Int],
                   val site: String, val querySite: String, val stages: Seq[Int]) {
  var endMs: Long = -1L
}

/** Task metrics summed per stage. */
final class StageAcc {
  var cpuNs, shuffleWrite, outBytes, outRecords, inBytes, inRecords = 0L
}

/** Records jobs, their stages and their tasks' metrics. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageAcc]
  private val executionSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // the long call site's second line is the first frame outside
      // Spark: "graft.core.TableStore.commit(TableStore.scala:688)"
      s.details.split('\n').lift(1).map(f => f.substring(f.lastIndexOf('(') + 1).stripSuffix(")"))
        .foreach(executionSite(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val querySite = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => executionSite.get(id.toLong)).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, e.time, span, site, querySite, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageJob.contains(e.stageId)) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }
}

/** Sums over a set of jobs. */
final case class JobTotals(jobs: Int, cpuS: Double, shuffleMb: Double, writtenMb: Double,
                           writtenRows: Long, readMb: Double, readRows: Long)

/** In-memory span recorder plus the job listener. Tracing is active
  * only between [[beginOp]] and [[endOp]]; outside that, [[span]] runs
  * its body and records nothing. Spans nest through a Spark local
  * property, so each job carries the span open on its thread when it
  * started. */
final class Tracer(sc: SparkContext, commitsNow: () => Long) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  val listener = new JobListener
  val tracedOps = mutable.ArrayBuffer.empty[(Int, Double, Double)] // (op, startMs, endMs)
  @volatile private var active = false
  @volatile private var op = -1
  private var nextId = 0
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  def on: Boolean = active

  def beginOp(i: Int): Unit = {
    sc.addSparkListener(listener)
    op = i
    active = true
  }

  /** Stops recording and waits until the listener saw every event. */
  def endOp(startMs: Double, endMs: Double): Unit = {
    active = false
    tracedOps += ((op, startMs, endMs))
    org.apache.spark.lakebench.ListenerBus.flush(sc)
    sc.removeSparkListener(listener)
  }

  /** Time `body` as span `name`, a child of the span open on this
    * thread (or of `parent` when given — a body on another thread). */
  def span[T](name: String, parent: Option[Int] = None)(body: => T): T = {
    if (!active) return body
    val outer = sc.getLocalProperty(Tracer.SpanProp)
    val c0 = commitsNow()
    val s = synchronized {
      nextId += 1
      new SpanRec(nextId, name, parent.getOrElse(Option(outer).map(_.toInt).getOrElse(-1)),
        op, nowMs)
    }
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      sc.setLocalProperty(Tracer.SpanProp, outer)
      s.commits = commitsNow() - c0
      synchronized { spans += s }
    }
  }

  /** Id of the span open on this thread, if any. */
  def current: Option[Int] = Option(sc.getLocalProperty(Tracer.SpanProp)).map(_.toInt)

  // ---- analysis, after the run ----

  private lazy val children: Map[Int, Seq[SpanRec]] = spans.toSeq.groupBy(_.parent)

  /** Job -> span: the span recorded in its properties; a job started on
    * a thread with no span open goes to the innermost span of the same
    * op whose interval holds the job's start. */
  lazy val jobSpan: Map[Int, Int] = listener.jobs.values.flatMap { j =>
    j.span.filter(id => spans.exists(_.id == id)).orElse {
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(-_.startMs).headOption.map(_.id)
    }.map(j.id -> _)
  }.toMap

  def descendants(s: SpanRec): Seq[SpanRec] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  def jobsOf(s: SpanRec): Seq[JobRec] = {
    val ids = descendants(s).map(_.id).toSet
    listener.jobs.values.filter(j => jobSpan.get(j.id).exists(ids)).toSeq
  }

  def totals(js: Seq[JobRec]): JobTotals = {
    val accs = js.flatMap(j => j.stages.filter(listener.stageJob.get(_).contains(j.id))
      .flatMap(listener.stages.get))
    JobTotals(js.size, accs.map(_.cpuNs).sum / 1e9,
      accs.map(_.shuffleWrite).sum / 1e6, accs.map(_.outBytes).sum / 1e6,
      accs.map(_.outRecords).sum, accs.map(_.inBytes).sum / 1e6, accs.map(_.inRecords).sum)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, end = 0.0
    var started = false
    clipped.foreach { case (a, b) =>
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def selfMs(s: SpanRec): Double =
    s.wallMs - covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
      s.startMs, s.endMs)

  /** Span wall during which no Spark job was running. */
  def driverGapMs(s: SpanRec): Double =
    s.wallMs - covered(listener.jobs.values.filter(_.endMs >= 0)
      .map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq, s.startMs, s.endMs)

  /** Share of each traced op's wall that its top-level spans cover. */
  def coverage: Seq[Double] = tracedOps.toSeq.map { case (o, a, b) =>
    covered(spans.filter(s => s.op == o && s.parent == -1).map(s => (s.startMs, s.endMs)).toSeq,
      a, b) / (b - a)
  }

  /** Per-occurrence medians of the eight span fields for `name`. */
  def spanMetrics(name: String): Map[String, Double] = {
    val occ = spans.filter(_.name == name).toSeq
    def med(f: SpanRec => Double): Double = Stats.median(occ.map(f))
    if (occ.isEmpty) Tracer.SpanFields.map(f => s"$name.$f" -> 0.0).toMap
    else {
      val tot = occ.map(s => s -> totals(jobsOf(s))).toMap
      Map(
        s"$name.wall_s" -> med(_.wallMs / 1e3),
        s"$name.self_s" -> med(selfMs(_) / 1e3),
        s"$name.spark_jobs" -> med(tot(_).jobs.toDouble),
        s"$name.task_cpu_s" -> med(tot(_).cpuS),
        s"$name.driver_gap_s" -> med(driverGapMs(_) / 1e3),
        s"$name.shuffle_mb" -> med(tot(_).shuffleMb),
        s"$name.written_mb" -> med(tot(_).writtenMb),
        s"$name.commits" -> med(_.commits.toDouble))
    }
  }

  /** Every span, for the run record. */
  def spanRows: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val t = totals(jobsOf(s))
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s),
      "driver_gap_ms" -> driverGapMs(s), "spark_jobs" -> t.jobs, "task_cpu_s" -> t.cpuS,
      "shuffle_mb" -> t.shuffleMb, "written_mb" -> t.writtenMb, "commits" -> s.commits)
  }
}

object Tracer {
  val SpanProp = "lakebench.span"
  val SpanFields: Seq[String] = Seq("wall_s", "self_s", "spark_jobs", "task_cpu_s",
    "driver_gap_s", "shuffle_mb", "written_mb", "commits")
}
