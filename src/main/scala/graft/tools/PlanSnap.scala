package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Dumps `explain("formatted")` of named registry queries to
  * plans/<tag>/<query>_<suffix>.txt for the optimization-round plan
  * record. Running a query's fn executes its fixture (mutations,
  * streams), so the captured plan is the DECLARED RESULT's physical
  * plan — the thing the driver's oracle hashes. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.PlanSnap r14 after q1,q2,..."
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val tag = args.lift(0).getOrElse("r14")
    val suffix = args.lift(1).getOrElse("after")
    val names = args.lift(2).map(_.split(",").toSeq).getOrElse(Seq("q1_agg"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores)
    val out = Paths.get(s"plans/$tag")
    Files.createDirectories(out)
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plansnap] unknown query $n")
        case Some(fn) =>
          System.err.println(s"[plansnap] $n")
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(out.resolve(s"${n}_$suffix.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
      }
    }
    // the one INTERNAL plan this round's Ivm change reshapes: the join
    // apply's feed scan. Before r14 the change-kind gate ran as its own
    // full pass (filter NOT isin + isEmpty) before the final-kind filter
    // re-read the feed; after, one filter carries both (unknown kinds
    // raise in-flight). Dump both shapes over the same CDF feed.
    if (suffix == "after") {
      val st = new graft.core.TableStore(spark,
        Files.createTempDirectory("plansnap").toString)
      import spark.implicits._
      st.create("src", Seq((1L, 10L)).toDF("k", "qty"))
      st.setChangeFeed("src", true)
      st.append("src", Seq((2L, 20L)).toDF("k", "qty"))
      st.update("src", col("k") === 1L, Map("qty" -> lit(11L)))
      val feed = st.readChangesBetween("src", 1, st.currentVersion("src"))
      val before = feed
        .filter(!col("_change_type").isin(
          "insert", "update_postimage", "delete", "update_preimage"))
      val beforeGate = "== pre-r14 gate pass (its own scan; a SECOND scan then " +
        "ran the final-kind filter) ==\n" +
        before.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      val after = feed.filter(
        when(col("_change_type").isin(
          "insert", "update_postimage", "delete"), lit(true))
          .when(col("_change_type") === "update_preimage", lit(false))
          .otherwise(raise_error(concat(lit("unknown kind: "),
            col("_change_type")))))
      val afterGate = "== r14 fused gate (ONE scan: final-kind filter carries " +
        "the unknown-kind raise) ==\n" +
        after.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      Files.write(out.resolve("ivm_join_feed_gate_before.txt"),
        beforeGate.getBytes(StandardCharsets.UTF_8))
      Files.write(out.resolve("ivm_join_feed_gate_after.txt"),
        afterGate.getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
