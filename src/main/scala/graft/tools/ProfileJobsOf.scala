package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB wall breakdown of one registry query (guide §1): every Spark
  * job it launches, sorted by duration, with its call site — names the
  * specific job a regression hides in, where ProfileGaps only splits
  * covered vs gap time. Run:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileJobsOf <query>"
  */
object ProfileJobsOf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores)
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.all.foreach(t => graft.Tables.load(spark, sfDir, t).count())

    final case class J(id: Int, start: Long, var end: Long, desc: String)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, J]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p0 = Option(e.properties)
        val d = p0.flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, -1L, d)): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
    })

    args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty).foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { fn =>
        jobs.clear()
        val t0 = System.currentTimeMillis()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.currentTimeMillis() - t0) / 1e3
        Thread.sleep(300)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        val js = jobs.values.toSeq.filter(_.end > 0).sortBy(j => -(j.end - j.start))
        println(f"[jobsof] $name wall=$wall%.2f s jobs=${js.size}")
        js.take(25).foreach(j => println(
          f"[jobsof]   ${(j.end - j.start) / 1e3}%6.2f s  job ${j.id}%4d  ${j.desc}"))
      }
    }
    spark.stop()
  }
}
