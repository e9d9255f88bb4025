package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, the tools and the
  * test suites all run under this conf set, so a digest pinned by one of
  * them and checked by another was computed under the same plans. */
object Session {

  /** Local core count, a deployment setting: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session (or the already-running one) with the shared
    * confs applied. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // defensive: a no-op for MICROS parquet, but keeps the LongType
      // branch of the dtype-adaptive events() reader reachable if the
      // testdata ever regenerates as TIMESTAMP(NANOS) again (r6 ADVICE)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned joins ON for the whole run: sql_spj_join
      // needs the conf at EVALUATION time, and set inside its query fn
      // it leaked to whatever queries happened to sort after it —
      // order-dependent plans. Constant-on is the deterministic choice
      // (and the representative one for a bucketed-table engine).
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // default 100-entry codegen cache evicts everything over a
      // 189-query suite, so the end-of-suite suspect RE-RUNS measured
      // effectively COLD: r8's job_incremental re-run read 15.95 s
      // where the same query in a warm context reads 6.7 s (the 9 s
      // delta is whole-stage-codegen compilation + JIT of the wide
      // staging-chain plans, not data processing — PLANS.md,
      // "job_incremental"). 2000 entries keeps every plan shape of the
      // suite resident (~50 KB of generated code each ≪ the 2 g
      // code-cache reserve; Bench's fresh-constant CPU canary still
      // guards actual exhaustion)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
