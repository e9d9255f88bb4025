package graft.tools
/** Empirical probe behind TableStore.parquetWidenable: writes one
  * parquet file per narrow type and re-reads it under each widened
  * requested schema through spark.read (the same
  * VectorizedParquetRecordReader the DSv2 scan drives). Every arm of
  * the metadata-only widening lattice must print OK here before it is
  * added to parquetWidenable — the lattice is maintained against this
  * probe, not against documentation. Run:
  *   sbt "runMain graft.tools.ProbeParquetWidening"
  */
object ProbeParquetWidening {
  def main(args: Array[String]): Unit = {
    val s = graft.Session.local(4)
    import s.implicits._
    val p = "/tmp/graft_widen_probe"
    graft.core.FsUtil.deleteRecursively(new java.io.File(p))
    Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("i", "f", "s")
      .selectExpr("CAST(i AS TINYINT) AS b", "CAST(i AS SMALLINT) AS sh",
        "i", "CAST(i AS BIGINT) AS l", "f",
        "CAST('2024-01-0' || i AS DATE) AS d",
        "CAST(i AS DECIMAL(5,2)) AS dec")
      .write.parquet(p)
    def probe(ddl: String): Unit = {
      val sch = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      try { val n = s.read.schema(sch).parquet(p).collect().length
        println(s"OK   $ddl -> $n rows") }
      catch { case e: Throwable =>
        println(s"FAIL $ddl : ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(120)}") }
    }
    probe("b SMALLINT, sh INT, i BIGINT, l BIGINT, f DOUBLE, d DATE, dec DECIMAL(5,2)")
    probe("b INT, sh BIGINT, i BIGINT, l DECIMAL(20,0), f DOUBLE, d TIMESTAMP_NTZ, dec DECIMAL(10,2)")
    probe("b BIGINT, sh BIGINT, i DOUBLE, l BIGINT, f DOUBLE, d DATE, dec DECIMAL(12,4)")
    probe("b TINYINT, sh SMALLINT, i DECIMAL(10,0), l BIGINT, f DOUBLE, d DATE, dec DOUBLE")
    s.stop()
  }
}
