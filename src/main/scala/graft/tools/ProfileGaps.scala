package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-query wall decomposition for optimization work (guide §1): runs
  * each named registry query under a job listener and splits the wall
  * into (a) time covered by at least one running Spark job and (b)
  * driver-side gaps (planning, manifest/checkpoint fsync, stream
  * trigger latency, listing). Also prints job count and the slowest
  * jobs — a query whose wall is mostly gaps is job-LAUNCH/driver
  * bound (more jobs = more fixed cost), one whose wall is mostly
  * covered is compute bound (optimize the plan). Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ProfileGaps st18_stream_scd2_dim,mv4_incremental_star"
  */
object ProfileGaps {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores)
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())

    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("st18_stream_scd2_dim"))

    final case class J(id: Int, start: Long, var end: Long, desc: String)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, J]
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        running.incrementAndGet()
        val p0 = Option(e.properties)
        val d = p0.flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(p0.flatMap(p => Option(p.getProperty("spark.job.description"))))
          .getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, -1L, d))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        running.decrementAndGet()
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // gap sampler: every ~15 ms, when NO job is running, snapshot the
    // main thread's stack and count its topmost graft/spark frame —
    // a poor-man's profiler for the driver-side time between jobs
    val mainThread = Thread.currentThread()
    val gapFrames = scala.collection.concurrent.TrieMap.empty[String, Int]
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get()) {
        if (running.get() == 0) {
          val st = mainThread.getStackTrace
          val top = st.find { f =>
            val c = f.getClassName
            (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.") ||
              c.startsWith("org.apache.parquet.") || c.startsWith("java.io.") ||
              c.startsWith("java.nio.") || c.startsWith("sun.nio.")) &&
              !c.contains("ProfileGaps")
          }.map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
            .getOrElse(st.headOption.map(f =>
              s"${f.getClassName.split('.').takeRight(1).mkString}.${f.getMethodName}").getOrElse("?"))
          gapFrames.updateWith(top) { c => Some(c.getOrElse(0) + 1) }: Unit
        }
        Thread.sleep(15)
      }
    }, "gap-sampler")
    sampler.setDaemon(true)
    sampler.start()

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[gaps] unknown query $name")
        case Some(fn) =>
          jobs.clear()
          gapFrames.clear()
          val t0 = System.currentTimeMillis()
          fn(spark, sfDir).queryExecution.toRdd.count()
          val t1 = System.currentTimeMillis()
          // listener bus is async — give it a beat to drain
          Thread.sleep(300)
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          val wall = (t1 - t0) / 1e3
          val js = jobs.values.toSeq.filter(j => j.end > 0 && j.start >= t0)
            .sortBy(_.start)
          // union of [start,end] intervals = time covered by >=1 job
          var covered = 0L; var curS = -1L; var curE = -1L
          js.foreach { j =>
            if (j.start > curE) { if (curE > 0) covered += curE - curS; curS = j.start; curE = j.end }
            else curE = math.max(curE, j.end)
          }
          if (curE > 0) covered += curE - curS
          println(f"[gaps] $name wall=$wall%.2f s jobs=${js.size} covered=${covered / 1e3}%.2f s gaps=${wall - covered / 1e3}%.2f s")
          gapFrames.toSeq.sortBy(-_._2).take(14).foreach { case (f, n) =>
            println(f"[gaps]   gap ${n * 0.015}%6.2f s  $f")
          }
      }
    }
    spark.stop()
  }
}
