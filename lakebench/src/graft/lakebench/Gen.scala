package graft.lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{PaymentData, PaymentJobs}

/** Seeded input generator. Every frame is a pure function of (seed,
  * size, salt): columns come from xxhash64 of the seed and the row id,
  * never from partition-dependent randomness, so the same seed gives
  * the same rows on any core count. Order keys are 1..n for every seed,
  * which fixes how many rows the planted-defect generator
  * (PaymentData.transactionsFrom) keeps, duplicates or versions: two
  * seeds give inputs of equal size and different content. */
object Gen {

  /** Orders-shaped frame (o_orderkey, o_custkey, o_orderdate,
    * o_totalprice) with keys 1..n and order dates in 1995-1998, inside
    * goldFact's date spine. */
  def orders(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    def h(salt: Int): Column = xxhash64(lit(seed), id, lit(salt))
    s.range(1, n + 1, 1, 4).select(
      id.as("o_orderkey"),
      (pmod(h(1), lit(150000L)) + 1).as("o_custkey"),
      date_add(to_date(lit("1995-01-01")), pmod(h(2), lit(1461L)).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      (pmod(h(3), lit(50000000L)) / 100.0 + 900.0).as("o_totalprice"))
  }

  /** The payment transactions the program consumes. */
  def transactions(s: SparkSession, seed: Long, n: Long): DataFrame =
    PaymentData.transactionsFrom(orders(s, seed, n))

  /** 21-column silver rows with the CDC stamps a first load carries. */
  def silverOf(txns: DataFrame, version: Long): DataFrame =
    PaymentJobs.silverFromBronze(PaymentJobs.bronzeStaging(txns))
      .withColumn("delta_change_type", lit("LOAD"))
      .withColumn("delta_version", lit(version))
      .withColumn("is_deleted", lit(false))
      .withColumn("deleted_at", lit(null).cast("timestamp_ntz"))

  /** One CDC batch against a silver whose base rows are `base`:
    * `updates` existing ids, recent transactions eight times likelier
    * than old ones, with a new status, amount and updated_at; plus
    * `inserts` new ids copied from other base rows, half of them late
    * arrivals dated 1995 and half new transactions dated late 1998.
    * Unique on transaction_id; its size depends only on the sizes. */
  def cdcBatch(base: DataFrame, seed: Long, batch: Int, updates: Int, inserts: Int): DataFrame = {
    def h(salt: Int): Column = xxhash64(lit(seed), lit(batch), lit(salt), col("transaction_id"))
    val recent = col("transaction_timestamp") >= lit("1998-07-01").cast("timestamp_ntz")
    val weight = when(recent, lit(1L)).otherwise(lit(8L))
    val stamp = lit(PaymentData.Now).cast("timestamp_ntz") + expr(s"INTERVAL $batch MINUTES")
    val upd = base.orderBy(pmod(h(1), lit(1000000L)) * weight, col("transaction_id"))
      .limit(updates)
      .withColumn("transaction_status",
        when(pmod(h(2), lit(3L)) === 0, "Failed").otherwise("Successful"))
      .withColumn("amount", round(col("amount") + pmod(h(3), lit(1000L)) / 100.0, 2))
    val late = pmod(h(5), lit(2L)) === 0
    val ins = base.orderBy(h(4), col("transaction_id")).limit(inserts)
      .withColumn("transaction_timestamp", date_add(
          when(late, to_date(lit("1995-01-01"))).otherwise(to_date(lit("1998-10-01"))),
          pmod(h(6), lit(90L)).cast("int")).cast("timestamp_ntz"))
      .withColumn("transaction_id", concat(lit(s"TXN_B${batch}_"),
        substring(col("transaction_id"), 5, 20)))
    upd.unionByName(ins)
      .withColumn("updated_at", stamp)
      .withColumn("delta_change_type", lit("MERGE"))
      .withColumn("delta_version", lit(batch.toLong + 2))
  }

  /** Order-independent content digest: row count and the sum of the
    * rows' 32-bit xxhash64 residues. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}
