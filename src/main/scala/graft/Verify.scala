package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local runs only)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Session.local(Session.cores)
    // same pre-run trash sweep as Bench (r15): the dump itself isn't
    // timed, but the driver's bench often follows it in one session —
    // don't hand that run a fixture-trash backlog to sweep mid-suite
    graft.core.FsUtil.sweepStale()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // refuse hash-fragile output types on oracle-checked queries
        // BEFORE dumping: a silent cross-engine canonicalization
        // mismatch becomes an explicit red with the fix in the message
        if (SparkEntry.oracleSql.contains(name))
          OracleTypeLint.check(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        // a thrown query must NOT read as an absent-therefore-ignored
        // entry (r5: 13 broken queries vanished silently). Write a
        // well-formed 1-row parquet whose schema can never match any
        // oracle, so the driver's compare records an explicit red row.
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        failures(name) = msg
        System.err.println(s"[verify] FAILED $name: $msg")
        import spark.implicits._
        Seq(msg).toDF("__graft_query_failed")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      // isolate queries from each other, exactly like Bench.runOne:
      // many queries hand back still-cached intermediates, and a
      // 180-query dump's leaked blocks pile up monotonically — storage
      // memory exhaustion here reads as spurious red rows in the
      // round's correctness artifact
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED queries: ${failures.keys.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // provenance: which commit produced this dump, and when (r5/r6 ADVICE)
    Files.writeString(Paths.get(s"$outDir/_meta.json"), s"{${Stamp.jsonFields}}")
    if (core.FsUtil.failedDeletes > 0)
      System.err.println(s"[verify] WARNING: ${core.FsUtil.failedDeletes} fixture-trash " +
        "entries under java.io.tmpdir/.graft_trash could not be deleted")
    spark.stop()
  }
}
