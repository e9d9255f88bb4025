package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableStore
import graft.jobs.{PaymentData, PaymentJobs}
import graft.ops.DateSpine

/** SURVEY §2.11 composite pipeline jobs as oracle-checked queries: each
  * runs a real job composition (through TableStore where the job
  * mutates tables) over the deterministic defect-planted PaymentData
  * input, and the DuckDB oracle re-derives the same end state in one
  * SQL statement over the shared `txns` CTE (PaymentData.Sql).
  */
object QueriesJobs {

  import Queries.{Q, QDef}

  private def freshStore(s: SparkSession, name: String): TableStore = {
    val root = s"/tmp/graft_qstore/$name"
    graft.core.FsUtil.clearAsync(new java.io.File(root))
    new TableStore(s, root)
  }

  // ---- shared oracle-SQL fragments (DuckDB dialect) ----

  /** Bronze staging: ¬Tier-1 + Tier-3 defaults + Tier-2 flags + W1
    * dedup (planted duplicates are exact rows -> DISTINCT). */
  private val StagingSql: String =
    s"""${PaymentData.Sql},
       |clean AS (
       |  SELECT DISTINCT transaction_id, customer_id, transaction_timestamp, merchant_id,
       |    coalesce(merchant_name, 'UNKNOWN_MERCHANT') AS merchant_name,
       |    product_category,
       |    coalesce(product_name, 'NOT_AVAILABLE') AS product_name,
       |    amount, fee_amount, cashback_amount, loyalty_points, payment_method,
       |    transaction_status,
       |    coalesce(device_type, 'UNKNOWN') AS device_type,
       |    coalesce(location_type, 'NOT_AVAILABLE') AS location_type,
       |    currency, updated_at,
       |    CASE WHEN amount < 0 OR cashback_amount > amount
       |         THEN 'FAILED_VALIDATION' ELSE 'PASSED' END AS data_quality_flag,
       |    concat_ws(';',
       |      CASE WHEN amount < 0 THEN 'NEGATIVE_AMOUNT' END,
       |      CASE WHEN cashback_amount > amount THEN 'EXCESSIVE_CASHBACK' END) AS validation_errors
       |  FROM txns
       |  WHERE NOT (transaction_id IS NULL OR transaction_id LIKE '% %'
       |         OR amount IS NULL OR transaction_timestamp IS NULL
       |         OR transaction_timestamp > TIMESTAMP '${PaymentData.Now}'))""".stripMargin

  /** Silver: documented flag filter + W2 latest-version per id. */
  private val SilverSql: String =
    s"""$StagingSql,
       |silver AS (
       |  SELECT * EXCLUDE (data_quality_flag, validation_errors, rn) FROM (
       |    SELECT *, row_number() OVER (PARTITION BY transaction_id
       |                                 ORDER BY updated_at DESC) AS rn
       |    FROM clean WHERE data_quality_flag <> 'FAILED_VALIDATION')
       |  WHERE rn = 1)""".stripMargin

  /** The registry's 21-col silver: SilverSql + the CDC columns the
    * bronze merge stamps (MERGE/2 for CDC-updated ids, LOAD/1 else —
    * the latest version per id wins, which for k%50 ids is the v2 row). */
  private val SilverFullSql: String =
    s"""$SilverSql,
       |silverf AS (
       |  SELECT s.*,
       |    CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
       |         THEN 'MERGE' ELSE 'LOAD' END AS delta_change_type,
       |    CAST(CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
       |              THEN 2 ELSE 1 END AS BIGINT) AS delta_version,
       |    false AS is_deleted, CAST(NULL AS TIMESTAMP) AS deleted_at
       |  FROM silver s)""".stripMargin

  /** The five dimension CTEs the 30-col fact joins (keys by ordered
    * ROW_NUMBER over each dimension's business-key set). */
  private val FactDimsSql: String =
    """dim_pm AS (
      |  SELECT CAST(row_number() OVER (ORDER BY payment_method) AS BIGINT) AS payment_method_key,
      |    payment_method FROM (SELECT DISTINCT payment_method FROM silverf)),
      |dim_st AS (
      |  SELECT CAST(row_number() OVER (ORDER BY transaction_status) AS BIGINT) AS status_key,
      |    transaction_status FROM (SELECT DISTINCT transaction_status FROM silverf)),
      |dim_cust AS (
      |  SELECT CAST(row_number() OVER (ORDER BY customer_id) AS BIGINT) AS customer_key,
      |    customer_id FROM (SELECT DISTINCT customer_id FROM silverf
      |                      WHERE customer_id IS NOT NULL)),
      |dim_merch AS (
      |  SELECT CAST(row_number() OVER (ORDER BY merchant_id) AS BIGINT) AS merchant_key,
      |    merchant_id FROM (SELECT DISTINCT merchant_id FROM silverf
      |                      WHERE merchant_id IS NOT NULL
      |                        AND merchant_id NOT LIKE 'MERCH_9%'))""".stripMargin

  /** The registry's full 30-column fact SELECT
    * (docs/SCHEMA_REGISTRY.md:155-189). */
  private val FactSelectSql: String =
    s"""SELECT
       |  coalesce(dc.customer_key, -1) AS customer_key,
       |  coalesce(dm.merchant_key, -1) AS merchant_key,
       |  coalesce(p.payment_method_key, -1) AS payment_method_key,
       |  coalesce(t.status_key, -1) AS status_key,
       |  CAST(strftime(s.transaction_timestamp, '%Y%m%d') AS BIGINT) AS date_key,
       |  s.transaction_id, s.product_category, s.product_name, s.device_type,
       |  s.amount, s.fee_amount, s.cashback_amount,
       |  CAST(s.loyalty_points AS BIGINT) AS loyalty_points,
       |  s.amount - s.fee_amount + s.cashback_amount AS net_customer_amount,
       |  s.amount - s.cashback_amount AS merchant_net_amount,
       |  s.fee_amount AS gateway_revenue,
       |  s.transaction_timestamp, s.currency,
       |  false AS is_refunded, CAST(NULL AS DOUBLE) AS refund_amount,
       |  CAST(NULL AS DATE) AS refund_date, CAST(1 AS BIGINT) AS attempt_number,
       |  TIMESTAMP '${PaymentData.Now}' AS loaded_at,
       |  'payment_gateway' AS source_system,
       |  s.transaction_timestamp AS created_at, s.updated_at,
       |  s.delta_change_type, s.delta_version, s.is_deleted, s.deleted_at
       |FROM silverf s
       |LEFT JOIN dim_cust dc USING (customer_id)
       |LEFT JOIN dim_merch dm USING (merchant_id)
       |LEFT JOIN dim_pm p USING (payment_method)
       |LEFT JOIN dim_st t ON s.transaction_status = t.transaction_status
       |WHERE s.merchant_id NOT LIKE 'MERCH_9%'""".stripMargin

  /** Spark twin of `silverf`: 21-col silver with the CDC stamps the
    * bronze merge would have applied (for the fact queries, which don't
    * need a store round-trip to get registry-width silver). */
  private[graft] def stampedSilver(staging: DataFrame): DataFrame = {
    val cdc = expr("CAST(substring(transaction_id, 5, 20) AS BIGINT)") % 50 === 0
    PaymentJobs.silverFromBronze(staging)
      .withColumn("delta_change_type", when(cdc, "MERGE").otherwise("LOAD"))
      .withColumn("delta_version", when(cdc, lit(2L)).otherwise(lit(1L)))
      .withColumn("is_deleted", lit(false))
      .withColumn("deleted_at", lit(null).cast("timestamp_ntz"))
  }

  /** job_fact_load's retired seed row (30 cols) — a transaction absent
    * from today's source that the merge must CARRY, distinguishing
    * MERGE from blind overwrite. Two dialect twins: Spark needs
    * TIMESTAMP_NTZ literals, DuckDB's TIMESTAMP already is ntz. */
  private def retiredRowSql(ntzType: String): String = {
    def ts(v: String) = s"$ntzType '$v'"
    s"""SELECT CAST(-1 AS BIGINT) AS customer_key, CAST(-1 AS BIGINT) AS merchant_key,
       |  CAST(-1 AS BIGINT) AS payment_method_key, CAST(-1 AS BIGINT) AS status_key,
       |  CAST(19941231 AS BIGINT) AS date_key, 'TXN_RETIRED' AS transaction_id,
       |  'grocery' AS product_category, 'Product_0' AS product_name, 'Web' AS device_type,
       |  CAST(0.0 AS DOUBLE) AS amount, CAST(0.0 AS DOUBLE) AS fee_amount,
       |  CAST(0.0 AS DOUBLE) AS cashback_amount, CAST(0 AS BIGINT) AS loyalty_points,
       |  CAST(0.0 AS DOUBLE) AS net_customer_amount, CAST(0.0 AS DOUBLE) AS merchant_net_amount,
       |  CAST(0.0 AS DOUBLE) AS gateway_revenue,
       |  ${ts("1994-12-31 00:00:00")} AS transaction_timestamp, 'INR' AS currency,
       |  false AS is_refunded, CAST(NULL AS DOUBLE) AS refund_amount,
       |  CAST(NULL AS DATE) AS refund_date, CAST(1 AS BIGINT) AS attempt_number,
       |  ${ts(PaymentData.Now)} AS loaded_at, 'payment_gateway' AS source_system,
       |  ${ts("1994-12-31 00:00:00")} AS created_at,
       |  ${ts("1994-12-31 00:00:00")} AS updated_at,
       |  'LOAD' AS delta_change_type, CAST(1 AS BIGINT) AS delta_version,
       |  false AS is_deleted, CAST(NULL AS $ntzType) AS deleted_at""".stripMargin
  }

  private[graft] val RetiredRowSparkSql: String = retiredRowSql("TIMESTAMP_NTZ")
  private val RetiredRowDuckSql: String = retiredRowSql("TIMESTAMP")

  /** job_fact_star's oracle — shared verbatim by the incremental and
    * streaming maintenance twins, whose converged views must be
    * digest-EQUAL to the rebuild. */
  private[graft] val FactStarOracleSql: String =
    s"$SilverFullSql,\n$FactDimsSql\n$FactSelectSql"

  /** The star's enrich face over PINNED dims (the frames fullFact hands
    * factStar, built once from the full silver and broadcast at every
    * use) — shared by job_fact_star_incremental and
    * st20_stream_star_maintenance. The second element RELEASES the four
    * cached dims; callers must invoke it once the maintained view is
    * materialized in the store (r12 ADVICE: a bench run through both
    * callers otherwise accumulates orphaned cached partitions). */
  private[graft] def starEnrich(s: SparkSession, silverAll: DataFrame)
      : (DataFrame => DataFrame, () => Unit) = {
    val dims = Seq(
      PaymentJobs.dimCustomerCurrent(silverAll).cache(),
      PaymentJobs.dimMerchantCurrent(silverAll).cache(),
      PaymentJobs.dimPaymentMethod(silverAll).cache(),
      PaymentJobs.dimStatus(silverAll).cache())
    val Seq(dimC, dimM, dimPm, dimSt) = dims
    val dimDate = DateSpine.dimDate(s, "1995-01-01", "2002-12-31")
    (df => PaymentJobs.factStar(df, dimC, dimM, dimPm, dimSt, dimDate),
      () => dims.foreach(_.unpersist()))
  }

  /** The two-day silver split the maintenance twins load: day 1 = final
    * values for the LOAD-class ids + BASE-version values for the
    * MERGE-class ids (their CDC rows haven't arrived; semi-joined to
    * the final id set so a validation-boundary id can't leak a fact
    * row the replayed oracle never sees); day 2 = the CDC merge batch. */
  private[graft] def starLoads(staging: DataFrame, silverAll: DataFrame)
      : (DataFrame, DataFrame) = {
    val cdc = expr("CAST(substring(transaction_id, 5, 20) AS BIGINT)") % 50 === 0
    val silverBase = stampedSilver(
        staging.filter(col("updated_at") === col("transaction_timestamp")))
      .join(silverAll.select("transaction_id"), Seq("transaction_id"), "left_semi")
    (silverAll.filter(!cdc).unionByName(silverBase.filter(cdc)),
      silverAll.filter(cdc))
  }

  /** The fact star at full width over a 21-col silver. */
  private[graft] def fullFact(s: SparkSession, silver: DataFrame): DataFrame =
    PaymentJobs.factStar(silver,
      PaymentJobs.dimCustomerCurrent(silver), PaymentJobs.dimMerchantCurrent(silver),
      PaymentJobs.dimPaymentMethod(silver), PaymentJobs.dimStatus(silver),
      DateSpine.dimDate(s, "1995-01-01", "2002-12-31"))

  // ---- composite-job cores, parameterized by the transactions frame —
  //      the QDefs feed them PaymentData.transactions(s, dir); the
  //      1x/4x/16x curves in SURVEY.md §7.5 item 16 (r7 VERDICT #2) fed
  //      k-times-replicated orders through the same cores ----

  /** job_incremental: day-1 load below the cutoff + watermark record,
    * day-2 own-watermark incremental merge with late-arrival derivation,
    * then an idempotent-re-run proof. */
  private[graft] def incrementalCore(s: SparkSession, tx: DataFrame,
                                     storeName: String = "job_incr"): DataFrame = {
    import java.sql.Timestamp
    val st = freshStore(s, storeName)
    val jc = new graft.ops.JobControl(st)
    val staging = PaymentJobs.bronzeStaging(tx).cache()
    val cutoff = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    def ntz(t: Timestamp) = lit(t.toString.stripSuffix(".0")).cast("timestamp_ntz")
    // ---- day 1: initial load below the cutoff, watermark recorded ----
    val batch1 = staging.filter(col("updated_at") < cutoff)
      .withColumn("is_late_arrival", lit(false))
      .withColumn("arrival_delay_hours", lit(0))
      .withColumn("delta_change_type", lit("LOAD"))
    st.createBucketed("bronze_transactions", batch1, Seq("transaction_id"), n = 32)
    val n1 = batch1.count()
    val w1 = Timestamp.valueOf(batch1.agg(max("updated_at"))
      .head().getAs[java.time.LocalDateTime](0))
    jc.record("load_bronze", "BATCH_D1", "bronze", "SUCCESS",
      Timestamp.valueOf("2026-08-11 00:00:00"), Timestamp.valueOf("2026-08-11 01:00:00"),
      Some(w1), n1, n1, 0)
    // ---- day 2: OWN-watermark incremental (P2) + late arrivals (P8) ----
    val w = ntz(jc.lastWatermark("load_bronze").get)
    val incr = staging.filter(col("updated_at") > w)
      .withColumn("is_late_arrival", graft.ops.Validation.isLateArrival(
        col("transaction_timestamp"), col("updated_at"), w))
      .withColumn("arrival_delay_hours",
        when(col("is_late_arrival"), graft.ops.Validation.arrivalDelayHours(
          col("transaction_timestamp"), col("updated_at"))).otherwise(lit(0)))
      .withColumn("delta_change_type", lit("INCREMENTAL"))
    st.mergeUpsert("bronze_transactions", incr,
      Seq("transaction_id", "updated_at"), changeTypeCol = None)
    val n2 = incr.count()
    val w2 = Timestamp.valueOf(incr.agg(max("updated_at"))
      .head().getAs[java.time.LocalDateTime](0))
    jc.record("load_bronze", "BATCH_D2", "bronze", "SUCCESS",
      Timestamp.valueOf("2026-08-12 00:00:00"), Timestamp.valueOf("2026-08-12 01:00:00"),
      Some(w2), n2, n2, 0)
    // ---- idempotent re-run: the advanced watermark admits nothing ----
    val rerun = staging.filter(col("updated_at") > ntz(jc.lastWatermark("load_bronze").get)).count()
    require(rerun == 0, s"idempotency violated: re-run admitted $rerun rows")
    st.read("bronze_transactions").withColumn("watermark_used", w)
  }

  /** job_fact_load: full-width fact star build, stale+retired seed,
    * pre-merge gate, bucket-pruned M2 merge, job_control record. */
  private[graft] def factLoadCore(s: SparkSession, tx: DataFrame,
                                  storeName: String = "job_factload"): DataFrame = {
    import java.sql.Timestamp
    val st = freshStore(s, storeName)
    val silver = stampedSilver(PaymentJobs.bronzeStaging(tx)).cache()
    val fact = fullFact(s, silver).cache()
    // the reference's pre-merge gate: refuse an empty source
    require(!fact.isEmpty, "load_fact gate: empty source")
    val retired = s.sql(RetiredRowSparkSql)
    val seed = fact.filter(col("date_key") % 2 === 0)
      .withColumn("gateway_revenue", lit(0.0))
      .unionByName(retired)
    st.createBucketed("fact_transactions", seed, Seq("transaction_id"), n = 32)
    st.mergeUpsert("fact_transactions", fact, Seq("transaction_id"),
      changeTypeCol = None)
    val n = fact.count()
    val jc = new graft.ops.JobControl(st)
    jc.record("load_fact", "BATCH_0001", "gold", "SUCCESS",
      Timestamp.valueOf("2026-08-12 00:00:00"), Timestamp.valueOf("2026-08-12 01:00:00"),
      None, n, n, 0)
    st.read("fact_transactions")
  }

  /** job_gdpr_propagate: full bronze->silver pipeline, then the GDPR
    * mark-and-propagate delete for one customer. */
  private[graft] def gdprCore(s: SparkSession, tx: DataFrame,
                              storeName: String = "job_gdpr"): DataFrame = {
    val st = freshStore(s, storeName)
    // silver is all GDPR needs — the gold dims' eager surrogate-key
    // jobs would run at construction only to be discarded
    PaymentJobs.runPipelineToSilver(st, tx)
    PaymentJobs.gdprDelete(st, "USER_0042")
  }

  /** The gold_dim_customer_scd2 DuckDB replay, CTEs only (through the
    * `closed`/`ins` sets) — shared by the batch job's oracle and st18's
    * (which outputs the same rows WITHOUT the surrogate key, since key
    * ORDER legitimately differs across streamed chunkings). */
  private[graft] val Scd2CustomerOracleCtes: String =
    s"""$SilverSql,
              |s1 AS (SELECT * FROM clean
              |       WHERE data_quality_flag <> 'FAILED_VALIDATION'
              |         AND updated_at = transaction_timestamp
              |         AND transaction_timestamp < TIMESTAMP '1998-01-01'),
              |agg1 AS (SELECT customer_id,
              |    CASE WHEN cnt >= 100 THEN 'Platinum' WHEN cnt >= 50 THEN 'Gold'
              |         WHEN cnt >= 20 THEN 'Silver' ELSE 'Bronze' END AS customer_tier,
              |    is_active, first_transaction_date, last_transaction_date, lifetime_value
              |  FROM (SELECT customer_id, count(*) AS cnt,
              |          bool_or(transaction_status = 'Successful') AS is_active,
              |          CAST(min(transaction_timestamp) AS DATE) AS first_transaction_date,
              |          CAST(max(transaction_timestamp) AS DATE) AS last_transaction_date,
              |          round(sum(amount), 2) AS lifetime_value
              |        FROM s1 WHERE customer_id IS NOT NULL GROUP BY customer_id)),
              |agg2 AS (SELECT customer_id,
              |    CASE WHEN cnt >= 100 THEN 'Platinum' WHEN cnt >= 50 THEN 'Gold'
              |         WHEN cnt >= 20 THEN 'Silver' ELSE 'Bronze' END AS customer_tier,
              |    is_active, first_transaction_date, last_transaction_date, lifetime_value
              |  FROM (SELECT customer_id, count(*) AS cnt,
              |          bool_or(transaction_status = 'Successful') AS is_active,
              |          CAST(min(transaction_timestamp) AS DATE) AS first_transaction_date,
              |          CAST(max(transaction_timestamp) AS DATE) AS last_transaction_date,
              |          round(sum(amount), 2) AS lifetime_value
              |        FROM silver WHERE customer_id IS NOT NULL GROUP BY customer_id)),
              |dim1 AS (SELECT customer_id, customer_tier, is_active,
              |    first_transaction_date, last_transaction_date, lifetime_value,
              |    CAST(row_number() OVER (ORDER BY customer_id) AS BIGINT) AS customer_key,
              |    DATE '2026-01-01' AS effective_start_date,
              |    CAST(NULL AS DATE) AS effective_end_date, true AS is_current
              |  FROM agg1 WHERE customer_id NOT LIKE 'USER_09%'),
              |chg AS (SELECT d.customer_id, a.customer_tier AS n_tier,
              |    a.is_active AS n_active, a.first_transaction_date AS n_first,
              |    a.last_transaction_date AS n_last, a.lifetime_value AS n_ltv
              |  FROM dim1 d JOIN agg2 a USING (customer_id)
              |  WHERE d.customer_tier <> a.customer_tier
              |     OR d.last_transaction_date <> a.last_transaction_date),
              |closed AS (SELECT d.customer_key, d.customer_id, d.customer_tier,
              |    d.is_active, d.first_transaction_date, d.last_transaction_date,
              |    d.lifetime_value, d.effective_start_date,
              |    CASE WHEN c.customer_id IS NOT NULL THEN DATE '2026-08-12'
              |         ELSE d.effective_end_date END AS effective_end_date,
              |    CASE WHEN c.customer_id IS NOT NULL THEN false ELSE d.is_current END AS is_current
              |  FROM dim1 d LEFT JOIN chg c ON d.customer_id = c.customer_id),
              |ins AS (SELECT CAST(row_number() OVER (ORDER BY customer_id)
              |         + (SELECT max(customer_key) FROM dim1) AS BIGINT) AS customer_key,
              |    customer_id, customer_tier, is_active, first_transaction_date,
              |    last_transaction_date, lifetime_value,
              |    DATE '2026-08-12' AS effective_start_date,
              |    CAST(NULL AS DATE) AS effective_end_date, true AS is_current
              |  FROM (SELECT customer_id, customer_tier, is_active, first_transaction_date,
              |          last_transaction_date, lifetime_value FROM agg2
              |        WHERE customer_id NOT IN (SELECT customer_id FROM dim1)
              |        UNION ALL SELECT customer_id, n_tier, n_active, n_first, n_last, n_ltv
              |        FROM chg))""".stripMargin

  val defs: Map[String, QDef] = Map(

    // ---- validate_bronze: quarantine branch (+ audit metadata cols) ----
    // (full 24-column registry contract — docs/SCHEMA_REGISTRY.md:85-114:
    //  all 17 source columns + CDC stamp + error triple + audit triple)
    "job_bronze_quarantine" -> QDef(
      (s, dir) => PaymentJobs.bronzeQuarantine(PaymentData.transactions(s, dir)),
      Some(s"""${PaymentData.Sql}
              |SELECT transaction_id, customer_id, transaction_timestamp,
              |  merchant_id, merchant_name, product_category, product_name,
              |  amount, fee_amount, cashback_amount,
              |  CAST(loyalty_points AS BIGINT) AS loyalty_points,
              |  payment_method, transaction_status, device_type, location_type,
              |  currency, updated_at,
              |  'QUARANTINE' AS delta_change_type,
              |  CAST(NULL AS BIGINT) AS delta_version,
              |  CASE WHEN transaction_id IS NULL THEN 'NULL_TRANSACTION_ID'
              |       WHEN transaction_id LIKE '% %' THEN 'INVALID_FORMAT'
              |       WHEN amount IS NULL THEN 'NULL_AMOUNT'
              |       WHEN transaction_timestamp IS NULL THEN 'NULL_TIMESTAMP'
              |       WHEN transaction_timestamp > TIMESTAMP '${PaymentData.Now}' THEN 'FUTURE_TIMESTAMP'
              |  END AS error_reason,
              |  'TIER_1' AS error_tier,
              |  TIMESTAMP '${PaymentData.Now}' AS quarantined_at,
              |  'ingest/payments_batch_0001.csv' AS source_file,
              |  'BATCH_0001' AS processing_batch_id
              |FROM txns
              |WHERE transaction_id IS NULL OR transaction_id LIKE '% %'
              |   OR amount IS NULL OR transaction_timestamp IS NULL
              |   OR transaction_timestamp > TIMESTAMP '${PaymentData.Now}'""".stripMargin)),

    // ---- validate_bronze: staging branch ----
    "job_bronze_staging" -> QDef(
      (s, dir) => PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)),
      Some(s"$StagingSql\nSELECT * FROM clean")),

    // ---- load_bronze: MERGE a CDC batch on the composite key ----
    "job_bronze_load" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_bronze")
        PaymentJobs.bronzeLoad(st,
          PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)))
      },
      Some(s"""$StagingSql
              |SELECT c.*, CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
              |                 THEN 'MERGE' ELSE 'LOAD' END AS delta_change_type,
              |  CAST(CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
              |            THEN 2 ELSE 1 END AS BIGINT) AS delta_version
              |FROM clean c""".stripMargin)),

    // ---- validate_silver + load_silver: current-state table ----
    "job_silver" -> QDef(
      (s, dir) => PaymentJobs.silverFromBronze(
        PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir))),
      Some(s"$SilverSql\nSELECT * FROM silver")),

    // ---- GDPR pair: soft-delete in bronze, propagate to silver ----
    // (silver is now the registry's 21-col shape: the oracle re-derives
    //  the CDC stamps the bronze merge applied)
    "job_gdpr_propagate" -> QDef(
      (s, dir) => gdprCore(s, PaymentData.transactions(s, dir)),
      Some(s"$SilverFullSql\nSELECT * FROM silverf WHERE customer_id <> 'USER_0042'")),

    // ---- gold dims: distinct + surrogate keys + enrichment ----
    "job_dim_payment_method" -> QDef(
      (s, dir) => PaymentJobs.dimPaymentMethod(PaymentJobs.silverFromBronze(
        PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)))),
      Some(s"""$SilverSql
              |SELECT CAST(row_number() OVER (ORDER BY payment_method) AS BIGINT) AS payment_method_key,
              |  payment_method,
              |  payment_method IN ('UPI', 'Wallet Balance') AS is_digital
              |FROM (SELECT DISTINCT payment_method FROM silver)""".stripMargin)),

    "job_dim_status" -> QDef(
      (s, dir) => PaymentJobs.dimStatus(PaymentJobs.silverFromBronze(
        PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)))),
      Some(s"""$SilverSql
              |SELECT CAST(row_number() OVER (ORDER BY transaction_status) AS BIGINT) AS status_key,
              |  transaction_status,
              |  transaction_status <> 'Pending' AS is_final
              |FROM (SELECT DISTINCT transaction_status FROM silver)""".stripMargin)),

    // ---- gold_dim_customer SCD2 at the registry's full 12-col width
    //      with the REFERENCE's aggregate semantics: COUNT(*)-threshold
    //      tiers (>=100 Platinum / >=50 Gold / >=20 Silver), lifetime
    //      value, is_active, first/last transaction dates
    //      (Gold/dim/gold_dim_customer_scd2.py:32-54; tier change is the
    //      tracked attribute, per the reference's chg join :102-120) ----
    // (dim seeded from the ORIGINAL loads before 1998 — the dim as it
    //  stood at an earlier watermark — minus the USER_09% band; the
    //  full snapshot then drives ALL THREE branches with real volume:
    //  customers who transacted since 1998 change last_transaction_date
    //  (close + reversion), first-seen-after-1998 customers insert,
    //  dormant ones carry untouched. Tracking tier alone left the close
    //  branch provably dead at this SF: tiers are COUNT-thresholded and
    //  CDC replaces rows 1:1, so counts — hence tiers — never moved.)
    "job_dim_customer_scd2" -> QDef(
      (s, dir) => {
        val staging = PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir))
          .withColumn("is_deleted", lit(false)).cache()
        val silverAll = PaymentJobs.silverFromBronze(staging)
        val silverPre = PaymentJobs.silverFromBronze(
          staging.filter(col("updated_at") === col("transaction_timestamp") &&
            col("transaction_timestamp") < lit("1998-01-01").cast("timestamp_ntz")))
        // dim1 and the snapshot are each referenced several times inside
        // Scd2.step (anti-join, change join, close, max-key action):
        // cache both so the silver aggregate chain runs ONCE per side
        val dim1 = graft.ops.SurrogateKeys.byOrder(
            PaymentJobs.customerAggregates(silverPre)
              .filter(!col("customer_id").like("USER_09%")),
            "customer_key", Seq(col("customer_id")))
          .withColumn("effective_start_date", to_date(lit("2026-01-01")))
          .withColumn("effective_end_date", lit(null).cast("date"))
          .withColumn("is_current", lit(true))
          .cache()
        graft.ops.Scd2.step(dim1,
            PaymentJobs.customerAggregates(silverAll).cache(),
            graft.ops.Scd2.Config("customer_id", "customer_key",
              Seq("customer_tier", "last_transaction_date")),
            to_date(lit("2026-08-12")))
          .withColumn("loaded_at", lit(PaymentData.Now).cast("timestamp_ntz"))
          .withColumn("source_system", lit("payment_gateway"))
          .select("customer_key", "customer_id", "customer_tier", "is_active",
            "first_transaction_date", "last_transaction_date", "lifetime_value",
            "loaded_at", "source_system",
            "effective_start_date", "effective_end_date", "is_current")
      },
      Some(s"""$Scd2CustomerOracleCtes
              |SELECT customer_key, customer_id, customer_tier, is_active,
              |  first_transaction_date, last_transaction_date, lifetime_value,
              |  TIMESTAMP '${PaymentData.Now}' AS loaded_at,
              |  'payment_gateway' AS source_system,
              |  effective_start_date, effective_end_date, is_current FROM closed
              |UNION ALL
              |SELECT customer_key, customer_id, customer_tier, is_active,
              |  first_transaction_date, last_transaction_date, lifetime_value,
              |  TIMESTAMP '${PaymentData.Now}' AS loaded_at,
              |  'payment_gateway' AS source_system,
              |  effective_start_date, effective_end_date, is_current FROM ins""".stripMargin)),

    // ---- fact: FULL 30-col star join — all 5 dim FKs (customer and
    //      merchant via SCD2-current rows), degenerate dims, measures,
    //      ETL metadata, refund placeholders, CDC columns ----
    "job_fact_star" -> QDef(
      (s, dir) => {
        // silver feeds the fact scan and all dim builds
        val silver = stampedSilver(
          PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir))).cache()
        fullFact(s, silver)
      },
      Some(s"$SilverFullSql,\n$FactDimsSql\n$FactSelectSql")),

    // ---- THE GOLD STAR, INCREMENTALLY MAINTAINED (r11 VERDICT #1's
    //      endgame): the same fact job_fact_star REBUILDS — the
    //      reference's central artifact (Gold/fact/
    //      validate_fact_transactions.py:152-224) — maintained by
    //      delta-join algebra on the REAL payment fixture. Day 1 loads
    //      the silver with pre-CDC values for the MERGE-class
    //      transactions; day 2 is the CDC batch (exactly the rows the
    //      reference's MERGE touches), applied as one mergeUpsert
    //      whose change feed drives Ivm.applyJoinDelta: final states
    //      re-enrich through the 5 broadcast dims (pinned, as
    //      factStar builds them) and upsert by transaction_id — the
    //      unchanged fact region is never read or rewritten, and
    //      factStar's MERCH_9% exclusion rides the filtered-enrich
    //      contract (a row updated out of the view tombstones). The
    //      oracle is job_fact_star's own — the converged view and the
    //      rebuild must be digest-EQUAL (the m20/sql_replace_where
    //      same-result pinning pattern). ----
    "job_fact_star_incremental" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "fact_incr")
        val staging = PaymentJobs.bronzeStaging(
          PaymentData.transactions(s, dir)).cache()
        val silverAll = stampedSilver(staging).cache()
        val (load1, load2) = starLoads(staging, silverAll)
        st.createBucketed("silver", load1, Seq("transaction_id"), n = 16)
        st.setChangeFeed("silver", true)
        val v0 = st.currentVersion("silver")
        val (enrich, releaseDims) = starEnrich(s, silverAll)
        st.createBucketed("fact",
          enrich(st.readVersion("silver", v0)).withColumn("_live", lit(true)),
          Seq("transaction_id"), n = 16)
        // gate off (r15): load2 is a filter of the latestVersionAgg-
        // deduped silver — unique on transaction_id by construction
        st.mergeUpsert("silver", load2, Seq("transaction_id"),
          changeTypeCol = None, verifyUniqueSource = false)
        graft.ops.Ivm.applyJoinDelta(st, "fact", "silver", v0,
          st.currentVersion("silver"), Seq("transaction_id"), enrich,
          txn = Some(("fact_incr", 1L)))
        releaseDims() // view is materialized in the store; readJoinView
        staging.unpersist(); silverAll.unpersist() // re-reads from disk
        graft.ops.Ivm.readJoinView(st, "fact")
      },
      Some(FactStarOracleSql)),

    // ---- gold_dim_merchant_scd2: W4 attribute pick -> SCD2 step with
    //      the reference's effective_start_date < today close guard ----
    // (dim seeded from the pre-CDC snapshot minus the MERCH_04% band so
    //  the insert branch fires; a third of the seed rows get
    //  effective_start_date = today so the close GUARD fires: those
    //  changed merchants keep their old row current AND insert a new one)
    "job_dim_merchant_scd2" -> QDef(
      (s, dir) => {
        val today = to_date(lit("2026-08-12"))
        val staging = PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)).cache()
        val silverAll = PaymentJobs.silverFromBronze(staging)
        val silverPre = PaymentJobs.silverFromBronze(
          staging.filter(col("updated_at") === col("transaction_timestamp")))
        // cache dim1 + snapshot: Scd2.step references each several times
        // (see job_dim_customer_scd2) and the merchant snapshot is the
        // most expensive input (countDistinct + window over silver)
        val dim1 = graft.ops.SurrogateKeys.byOrder(
            PaymentJobs.merchantSnapshot(silverPre)
              .filter(!col("merchant_id").like("MERCH_04%")),
            "merchant_key", Seq(col("merchant_id")))
          .withColumn("effective_start_date",
            when(substring(col("merchant_id"), 7, 10).cast("int") % 3 === 0, today)
              .otherwise(to_date(lit("2026-01-01"))))
          .withColumn("effective_end_date", lit(null).cast("date"))
          .withColumn("is_current", lit(true))
          .cache()
        graft.ops.Scd2.step(dim1, PaymentJobs.merchantSnapshot(silverAll).cache(),
            graft.ops.Scd2.Config("merchant_id", "merchant_key",
              Seq("merchant_name", "category", "location_type"),
              closeGuard = col("effective_start_date") < today),
            today)
          .select("merchant_id", "merchant_key", "merchant_name", "category",
            "location_type", "effective_start_date", "effective_end_date", "is_current")
      },
      Some(s"""$SilverSql,
              |s1 AS (SELECT * FROM clean
              |       WHERE data_quality_flag <> 'FAILED_VALIDATION'
              |         AND updated_at = transaction_timestamp),
              |snap1 AS (
              |  SELECT merchant_id, merchant_name, product_category AS category, location_type
              |  FROM (SELECT *, row_number() OVER (PARTITION BY merchant_id
              |          ORDER BY last_transaction_date DESC, transaction_count DESC,
              |                   merchant_name, product_category, location_type) AS rn
              |        FROM (SELECT merchant_id, merchant_name, location_type, product_category,
              |                count(DISTINCT transaction_id) AS transaction_count,
              |                max(transaction_timestamp) AS last_transaction_date
              |              FROM s1
              |              WHERE merchant_id IS NOT NULL AND merchant_id NOT LIKE 'MERCH_9%'
              |              GROUP BY 1,2,3,4) a) b
              |  WHERE rn = 1),
              |snap2 AS (
              |  SELECT merchant_id, merchant_name, product_category AS category, location_type
              |  FROM (SELECT *, row_number() OVER (PARTITION BY merchant_id
              |          ORDER BY last_transaction_date DESC, transaction_count DESC,
              |                   merchant_name, product_category, location_type) AS rn
              |        FROM (SELECT merchant_id, merchant_name, location_type, product_category,
              |                count(DISTINCT transaction_id) AS transaction_count,
              |                max(transaction_timestamp) AS last_transaction_date
              |              FROM silver
              |              WHERE merchant_id IS NOT NULL AND merchant_id NOT LIKE 'MERCH_9%'
              |              GROUP BY 1,2,3,4) a) b
              |  WHERE rn = 1),
              |dim1 AS (SELECT merchant_id, merchant_name, category, location_type,
              |    CAST(row_number() OVER (ORDER BY merchant_id) AS BIGINT) AS merchant_key,
              |    CASE WHEN CAST(substr(merchant_id, 7) AS INT) % 3 = 0 THEN DATE '2026-08-12'
              |         ELSE DATE '2026-01-01' END AS effective_start_date,
              |    CAST(NULL AS DATE) AS effective_end_date, true AS is_current
              |  FROM snap1 WHERE merchant_id NOT LIKE 'MERCH_04%'),
              |chg AS (SELECT d.merchant_id, s.merchant_name AS n_name,
              |    s.category AS n_cat, s.location_type AS n_loc
              |  FROM dim1 d JOIN snap2 s USING (merchant_id)
              |  WHERE d.merchant_name <> s.merchant_name
              |     OR d.category <> s.category OR d.location_type <> s.location_type),
              |closed AS (SELECT d.merchant_id, d.merchant_key, d.merchant_name,
              |    d.category, d.location_type, d.effective_start_date,
              |    CASE WHEN c.merchant_id IS NOT NULL AND d.effective_start_date < DATE '2026-08-12'
              |         THEN DATE '2026-08-12' ELSE d.effective_end_date END AS effective_end_date,
              |    CASE WHEN c.merchant_id IS NOT NULL AND d.effective_start_date < DATE '2026-08-12'
              |         THEN false ELSE d.is_current END AS is_current
              |  FROM dim1 d LEFT JOIN (SELECT DISTINCT merchant_id FROM chg) c USING (merchant_id)),
              |ins AS (SELECT merchant_id, merchant_name, category, location_type,
              |    CAST(row_number() OVER (ORDER BY merchant_id)
              |         + (SELECT max(merchant_key) FROM dim1) AS BIGINT) AS merchant_key,
              |    DATE '2026-08-12' AS effective_start_date,
              |    CAST(NULL AS DATE) AS effective_end_date, true AS is_current
              |  FROM (SELECT merchant_id, merchant_name, category, location_type FROM snap2
              |        WHERE merchant_id NOT IN (SELECT merchant_id FROM dim1)
              |        UNION ALL SELECT merchant_id, n_name, n_cat, n_loc FROM chg))
              |SELECT merchant_id, merchant_key, merchant_name, category, location_type,
              |  effective_start_date, effective_end_date, is_current FROM closed
              |UNION ALL
              |SELECT merchant_id, merchant_key, merchant_name, category, location_type,
              |  effective_start_date, effective_end_date, is_current FROM ins""".stripMargin)),

    // ---- bronze_backfill: P3 date window + W1 + MERGE stamped BACKFILL ----
    // (seed = initial LOAD of the original versions; the backfill window
    //  re-merges 1995-1996: matched originals update to BACKFILL/v3, CDC
    //  versions inside the window arrive as BACKFILL inserts)
    "job_bronze_backfill" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_backfill")
        val staging = PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)).cache()
        st.createBucketed("bronze_transactions",
          staging.filter(col("updated_at") === col("transaction_timestamp"))
            .withColumn("delta_change_type", lit("LOAD"))
            .withColumn("delta_version", lit(1L)),
          keys = Seq("transaction_id"), n = 32)
        PaymentJobs.bronzeBackfill(st, staging, "1995-01-01", "1996-12-31")
      },
      Some(s"""$StagingSql,
              |seed AS (SELECT * FROM clean WHERE updated_at = transaction_timestamp),
              |bf AS (SELECT * FROM clean
              |       WHERE CAST(transaction_timestamp AS DATE)
              |             BETWEEN DATE '1995-01-01' AND DATE '1996-12-31')
              |SELECT s.*,
              |  CASE WHEN b.transaction_id IS NOT NULL THEN 'BACKFILL' ELSE 'LOAD' END
              |    AS delta_change_type,
              |  CAST(CASE WHEN b.transaction_id IS NOT NULL THEN 3 ELSE 1 END AS BIGINT)
              |    AS delta_version
              |FROM seed s LEFT JOIN (SELECT DISTINCT transaction_id, updated_at FROM bf) b
              |  ON s.transaction_id = b.transaction_id AND s.updated_at = b.updated_at
              |UNION ALL
              |SELECT b.*, 'BACKFILL' AS delta_change_type, CAST(3 AS BIGINT) AS delta_version
              |FROM bf b
              |WHERE NOT EXISTS (SELECT 1 FROM seed s
              |  WHERE s.transaction_id = b.transaction_id AND s.updated_at = b.updated_at)""".stripMargin)),

    // ---- bronze_full_refresh: truncate-load + count confirmation gate ----
    // (stale seed is fully replaced by the re-derived staging, stamped
    //  FULL_REFRESH with NULL delta_version per the reference's staging;
    //  fullRefresh() fails unless the post-load count equals the staged
    //  count — TESTING_GUIDE scenario 5's confirmation gate)
    "job_bronze_full_refresh" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_bfr")
        val staging = PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)).cache()
        st.createBucketed("bronze_transactions",
          staging.filter(col("updated_at") === col("transaction_timestamp"))
            .withColumn("delta_change_type", lit("LOAD"))
            .withColumn("delta_version", lit(1L)),
          keys = Seq("transaction_id"), n = 32)
        PaymentJobs.fullRefresh(st, "bronze_transactions",
          staging.withColumn("delta_change_type", lit("FULL_REFRESH"))
            .withColumn("delta_version", lit(null).cast("bigint")))
      },
      Some(s"""$StagingSql
              |SELECT c.*, 'FULL_REFRESH' AS delta_change_type,
              |  CAST(NULL AS BIGINT) AS delta_version
              |FROM clean c""".stripMargin)),

    // ---- the reference's core operational loop, end to end: two-batch
    //      watermark-incremental load through job_control
    //      (bronze/TESTING_GUIDE.md:125-161; own-watermark invariant
    //      docs/KNOWN_ISSUES.md:368-432) ----
    // day 1 loads everything below a cutoff and records the watermark;
    // day 2 reads its OWN watermark, loads only updated_at > w with P8
    // late-arrival derivation, advances the watermark; a third run then
    // proves idempotency: the advanced watermark admits 0 rows.
    "job_incremental" -> QDef(
      (s, dir) => incrementalCore(s, PaymentData.transactions(s, dir)),
      Some(s"""$StagingSql,
              |wm AS (SELECT max(updated_at) AS w FROM clean
              |       WHERE updated_at < TIMESTAMP '1997-01-01 00:00:00')
              |SELECT c.*,
              |  CASE WHEN c.updated_at > (SELECT w FROM wm)
              |       THEN c.transaction_timestamp < (SELECT w FROM wm)
              |       ELSE false END AS is_late_arrival,
              |  CASE WHEN c.updated_at > (SELECT w FROM wm)
              |        AND c.transaction_timestamp < (SELECT w FROM wm)
              |       THEN CAST(floor((epoch(c.updated_at) - epoch(c.transaction_timestamp)) / 3600) AS INT)
              |       ELSE 0 END AS arrival_delay_hours,
              |  CASE WHEN c.updated_at > (SELECT w FROM wm)
              |       THEN 'INCREMENTAL' ELSE 'LOAD' END AS delta_change_type,
              |  (SELECT w FROM wm) AS watermark_used
              |FROM clean c""".stripMargin)),

    // ---- load_fact composite: gate + M2 merge into the fact store
    //      table + job_control record
    //      (Gold/fact/load_fact_transactions.py:79-139) ----
    // seed = "yesterday's" fact state: stale gateway_revenue on half the
    // rows + one retired transaction absent from today's source. The
    // merge must restore the stale measures and CARRY the retired row —
    // distinguishing MERGE from blind overwrite in the oracle.
    "job_fact_load" -> QDef(
      (s, dir) => factLoadCore(s, PaymentData.transactions(s, dir)),
      Some(s"""$SilverFullSql,
              |$FactDimsSql
              |$FactSelectSql
              |UNION ALL
              |$RetiredRowDuckSql""".stripMargin)),

    // ---- validate_silver -> staging TABLE -> load_silver: the
    //      reference's persisted two-phase handoff with count
    //      reconciliation (silver/jobs/validate_silver.py:130-155) ----
    // validate writes the deduped batch to silver_transactions_staging
    // (INSERT OVERWRITE) and re-counts it (the reconciliation gate);
    // load_silver then merges the STAGING TABLE into the seeded target
    // with per-branch change types (M2): matched -> UPDATE, new
    // (the held-out USER_09% band) -> INSERT.
    "job_silver_handoff" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_handoff")
        val staging0 = PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir)).cache()
        val full = stampedSilver(staging0).cache()
        st.createEmpty("silver_transactions_staging", full.schema)
        st.overwrite("silver_transactions_staging", full)
        val expected = full.count()
        val staged = st.read("silver_transactions_staging").count()
        require(staged == expected,
          s"staging count mismatch: expected $expected, got $staged")
        val seed = stampedSilver(
            staging0.filter(col("updated_at") === col("transaction_timestamp")))
          .filter(!col("customer_id").like("USER_09%"))
        st.createBucketed("silver_transactions", seed, Seq("transaction_id"), n = 32)
        st.mergeUpsert("silver_transactions",
          st.read("silver_transactions_staging"), Seq("transaction_id"),
          matchedChangeType = "UPDATE", insertChangeType = "INSERT")
        st.read("silver_transactions")
      },
      Some(s"""$SilverFullSql
              |SELECT * REPLACE (
              |  CASE WHEN customer_id LIKE 'USER_09%' THEN 'INSERT'
              |       ELSE 'UPDATE' END AS delta_change_type)
              |FROM silverf""".stripMargin)),

    // ---- job_control retention sweep into job_control_archive
    //      (docs/SCHEMA_REGISTRY.md:118-121): records older than 90
    //      days move to the archive table; the delete is stats-pruned ----
    // (deterministic run history derived from the orders date set,
    //  shifted +28 years so the 90-day cutoff lands mid-history)
    "job_control_archive" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_jcarch")
        val jc = new graft.ops.JobControl(st)
        val d = to_date(col("o_orderdate"))
        val runs = Tables.orders(s, dir).select(d.as("d")).distinct()
          .select(
            lit("load_bronze").as("job_name"), lit("bronze").as("layer"),
            concat(lit("BATCH_"), date_format(col("d"), "yyyyMMdd")).as("batch_id"),
            lit("incremental").as("run_mode"), lit("SUCCESS").as("status"),
            col("d").as("processing_date"),
            lit(null).cast("date").as("start_date"),
            lit(null).cast("date").as("end_date"),
            col("d").cast("timestamp").as("last_processed_timestamp"),
            lit(null).cast("string").as("last_processed_batch_id"),
            lit(1000L).as("records_read"), lit(1000L).as("records_written"),
            lit(0L).as("records_failed"), lit(0L).as("records_quarantined"),
            (col("d") + expr("INTERVAL 28 YEARS")).cast("timestamp").as("started_at"),
            (col("d") + expr("INTERVAL 28 YEARS")).cast("timestamp").as("completed_at"),
            lit(0L).as("duration_seconds"), lit(0L).as("retry_count"),
            lit(2L).as("max_retries"),
            lit(null).cast("string").as("error_message"),
            lit("manual").as("triggered_by"),
            lit(null).cast("string").as("dataproc_cluster"),
            lit(null).cast("string").as("spark_app_id"))
        st.create("job_control", runs)
        val cutoff = lit(PaymentData.Now).cast("timestamp") - expr("INTERVAL 90 DAYS")
        jc.archive(cutoff)
        st.read("job_control").withColumn("in_archive", lit(false))
          .unionByName(st.read("job_control_archive").withColumn("in_archive", lit(true)))
          .select(col("job_name"), col("batch_id"), col("processing_date"),
            col("completed_at").cast("timestamp_ntz").as("completed_at"),
            col("last_processed_timestamp").cast("timestamp_ntz").as("last_processed_timestamp"),
            col("in_archive"))
      },
      Some(s"""WITH runs AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
              |SELECT 'load_bronze' AS job_name,
              |  'BATCH_' || strftime(d, '%Y%m%d') AS batch_id,
              |  d AS processing_date,
              |  CAST(d + INTERVAL 28 YEAR AS TIMESTAMP) AS completed_at,
              |  CAST(d AS TIMESTAMP) AS last_processed_timestamp,
              |  CAST(d + INTERVAL 28 YEAR AS TIMESTAMP)
              |    < (TIMESTAMP '${PaymentData.Now}' - INTERVAL 90 DAY) AS in_archive
              |FROM runs""".stripMargin)),

    // ---- quarantine replay (bronze/README.md:364-404 operational
    //      loop): rows quarantined for a then-future timestamp are
    //      re-validated at a later clock and admitted through staging
    //      + M1 merge, stamped REPLAY/3. Runs the replay TWICE so the
    //      oracle also proves exactly-once admission (the second pass
    //      rewrites the same rows identically). ----
    "job_quarantine_replay" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_qreplay")
        val txns = PaymentData.transactions(s, dir)
        PaymentJobs.bronzeLoad(st, PaymentJobs.bronzeStaging(txns))
        st.create("bronze_quarantine", PaymentJobs.bronzeQuarantine(txns))
        val clock = lit("2030-06-01 00:00:00").cast("timestamp_ntz")
        PaymentJobs.quarantineReplay(st, st.read("bronze_quarantine"), clock)
        PaymentJobs.quarantineReplay(st, st.read("bronze_quarantine"), clock)
      },
      Some(s"""$StagingSql,
              |replay AS (
              |  SELECT DISTINCT transaction_id, customer_id, transaction_timestamp, merchant_id,
              |    coalesce(merchant_name, 'UNKNOWN_MERCHANT') AS merchant_name,
              |    product_category,
              |    coalesce(product_name, 'NOT_AVAILABLE') AS product_name,
              |    amount, fee_amount, cashback_amount, loyalty_points, payment_method,
              |    transaction_status,
              |    coalesce(device_type, 'UNKNOWN') AS device_type,
              |    coalesce(location_type, 'NOT_AVAILABLE') AS location_type,
              |    currency, updated_at,
              |    CASE WHEN amount < 0 OR cashback_amount > amount
              |         THEN 'FAILED_VALIDATION' ELSE 'PASSED' END AS data_quality_flag,
              |    concat_ws(';',
              |      CASE WHEN amount < 0 THEN 'NEGATIVE_AMOUNT' END,
              |      CASE WHEN cashback_amount > amount THEN 'EXCESSIVE_CASHBACK' END) AS validation_errors
              |  FROM txns
              |  WHERE (transaction_id IS NULL OR transaction_id LIKE '% %'
              |         OR amount IS NULL OR transaction_timestamp IS NULL
              |         OR transaction_timestamp > TIMESTAMP '${PaymentData.Now}')
              |    AND NOT (transaction_id IS NULL OR transaction_id LIKE '% %'
              |         OR amount IS NULL OR transaction_timestamp IS NULL
              |         OR transaction_timestamp > TIMESTAMP '2030-06-01 00:00:00'))
              |SELECT c.*, CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
              |                 THEN 'MERGE' ELSE 'LOAD' END AS delta_change_type,
              |  CAST(CASE WHEN CAST(substr(transaction_id, 5, 20) AS BIGINT) % 50 = 0
              |            THEN 2 ELSE 1 END AS BIGINT) AS delta_version
              |FROM clean c
              |UNION ALL
              |SELECT r.*, 'REPLAY', CAST(3 AS BIGINT) FROM replay r""".stripMargin)),

    // ---- GDPR compliance report (docs/RUNBOOK.md:235-252): UNION ALL
    //      over the job_control audit rows of the soft-delete +
    //      propagate pair, scoped to the requesting customer. The
    //      report projects the deterministic audit core (timestamps
    //      are wall-clock); the oracle re-derives the affected counts
    //      from the shared txns CTEs. ----
    "job_compliance_report" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_compliance")
        PaymentJobs.runPipelineToSilver(st, PaymentData.transactions(s, dir))
        val cust = "USER_0042"
        val bronzeAffected = st.read("bronze_transactions")
          .filter(col("customer_id") === cust).count()
        val silverBefore = st.read("silver_transactions").count()
        PaymentJobs.gdprDelete(st, cust)
        val silverAffected = silverBefore - st.read("silver_transactions").count()
        val jc = new graft.ops.JobControl(st)
        val t = java.sql.Timestamp.valueOf(PaymentData.Now)
        jc.record("bronze_compliance_deletion", s"BATCH_GDPR_$cust", "bronze",
          "SUCCESS", t, t, None, bronzeAffected, bronzeAffected, 0,
          error = Some(s"Soft-deleted $bronzeAffected records for $cust"))
        jc.record("silver_propagate_deletes", s"BATCH_GDPR_$cust", "silver",
          "SUCCESS", t, t, None, silverAffected, silverAffected, 0,
          error = Some(s"Hard-deleted $silverAffected records for $cust"))
        val jcT = st.read("job_control")
        def leg(action: String, job: String) = jcT
          .filter(col("job_name") === job &&
            col("error_message").like(s"%$cust%"))
          .select(lit(action).as("action"), col("job_name"), col("status"),
            col("records_written").as("records_affected"), col("error_message"))
        leg("Bronze Soft Delete", "bronze_compliance_deletion")
          .unionByName(leg("Silver Hard Delete", "silver_propagate_deletes"))
      },
      Some(s"""$SilverFullSql,
              |bn AS (SELECT count(*) AS n FROM clean WHERE customer_id = 'USER_0042'),
              |sn AS (SELECT count(*) AS n FROM silverf WHERE customer_id = 'USER_0042')
              |SELECT 'Bronze Soft Delete' AS action,
              |  'bronze_compliance_deletion' AS job_name, 'SUCCESS' AS status,
              |  CAST(n AS BIGINT) AS records_affected,
              |  'Soft-deleted ' || n || ' records for USER_0042' AS error_message FROM bn
              |UNION ALL
              |SELECT 'Silver Hard Delete', 'silver_propagate_deletes', 'SUCCESS',
              |  CAST(n AS BIGINT),
              |  'Hard-deleted ' || n || ' records for USER_0042' FROM sn""".stripMargin)),

    // ---- Monitoring pack (docs/RUNBOOK.md:608-671): silver lag vs the
    //      job_control watermark, dedup effectiveness (bronze-unique vs
    //      silver-total), layer record counts, and per-job success rate
    //      over a planted deterministic run history (FAILED every 10th
    //      day-of-month, the archive query's scheme). One (metric,
    //      value) frame so the whole pack is a single oracle entry. ----
    "job_monitoring_report" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_monitor")
        PaymentJobs.runPipelineToSilver(st, PaymentData.transactions(s, dir))
        val bronze = st.read("bronze_transactions")
        val silver = st.read("silver_transactions")
        val d = to_date(col("o_orderdate"))
        val hist = Tables.orders(s, dir).select(d.as("d")).distinct()
          .select(
            lit("silver_incremental_load").as("job_name"), lit("silver").as("layer"),
            concat(lit("BATCH_"), date_format(col("d"), "yyyyMMdd")).as("batch_id"),
            lit("incremental").as("run_mode"),
            when(dayofmonth(col("d")) % 10 === 0, "FAILED")
              .otherwise("SUCCESS").as("status"),
            col("d").as("processing_date"),
            lit(null).cast("date").as("start_date"),
            lit(null).cast("date").as("end_date"),
            col("d").cast("timestamp").as("last_processed_timestamp"),
            lit(null).cast("string").as("last_processed_batch_id"),
            lit(1000L).as("records_read"), lit(1000L).as("records_written"),
            lit(0L).as("records_failed"), lit(0L).as("records_quarantined"),
            col("d").cast("timestamp").as("started_at"),
            col("d").cast("timestamp").as("completed_at"),
            lit(0L).as("duration_seconds"), lit(0L).as("retry_count"),
            lit(2L).as("max_retries"),
            lit(null).cast("string").as("error_message"),
            lit("scheduler").as("triggered_by"),
            lit(null).cast("string").as("dataproc_cluster"),
            lit(null).cast("string").as("spark_app_id"))
        st.create("job_control", hist)
        val jcT = st.read("job_control")
        val lag = bronze.agg(max(col("updated_at")).as("bmax"))
          .crossJoin(jcT
            .filter(col("job_name") === "silver_incremental_load" &&
              col("status") === "SUCCESS")
            .agg(max(col("last_processed_timestamp")).as("wm")))
          .select(lit("silver_lag_minutes").as("metric"),
            floor((unix_timestamp(col("bmax")) - unix_timestamp(col("wm"))) / 60)
              .cast("double").as("value"))
        val counts = bronze.agg(countDistinct(col("transaction_id")).as("u"))
          .crossJoin(silver.agg(count(lit(1)).as("t")))
        val dedup = counts.select(
            lit("bronze_unique_txns").as("metric"), col("u").cast("double").as("value"))
          .unionByName(counts.select(lit("silver_total_rows").as("metric"),
            col("t").cast("double").as("value")))
          .unionByName(counts.select(lit("dedup_discrepancy").as("metric"),
            abs(col("u") - col("t")).cast("double").as("value")))
        val rate = jcT.groupBy("job_name")
          .agg((floor(lit(10000.0) *
              sum(when(col("status") === "SUCCESS", 1L).otherwise(0L)) /
              count(lit(1))) / 100.0).as("value"))
          .select(concat(lit("success_rate:"), col("job_name")).as("metric"),
            col("value").cast("double"))
        lag.unionByName(dedup).unionByName(rate)
      },
      Some(s"""$SilverSql,
              |hist AS (SELECT CASE WHEN day(CAST(o_orderdate AS DATE)) % 10 = 0
              |                     THEN 'FAILED' ELSE 'SUCCESS' END AS status,
              |           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS lpt
              |         FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS o_orderdate
              |               FROM orders)),
              |u AS (SELECT count(DISTINCT transaction_id) AS u FROM clean),
              |t AS (SELECT count(*) AS t FROM silver)
              |SELECT 'silver_lag_minutes' AS metric,
              |  CAST(floor(date_diff('second',
              |    (SELECT max(lpt) FROM hist WHERE status = 'SUCCESS'),
              |    (SELECT max(updated_at) FROM clean)) / 60.0) AS DOUBLE) AS value
              |UNION ALL SELECT 'bronze_unique_txns', CAST(u AS DOUBLE) FROM u
              |UNION ALL SELECT 'silver_total_rows', CAST(t AS DOUBLE) FROM t
              |UNION ALL SELECT 'dedup_discrepancy', CAST(abs(u - t) AS DOUBLE) FROM u, t
              |UNION ALL SELECT 'success_rate:silver_incremental_load',
              |  floor(10000.0 * sum(CASE WHEN status = 'SUCCESS' THEN 1 ELSE 0 END)
              |        / count(*)) / 100.0 FROM hist""".stripMargin)),

    // ---- fact_full_refresh: full-width star join + overwrite + gate ----
    "job_fact_full_refresh" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "job_ffr")
        val silver = stampedSilver(
          PaymentJobs.bronzeStaging(PaymentData.transactions(s, dir))).cache()
        val fact = fullFact(s, silver)
        st.createEmpty("fact_transactions", fact.schema)
        PaymentJobs.fullRefresh(st, "fact_transactions", fact)
      },
      Some(s"$SilverFullSql,\n$FactDimsSql\n$FactSelectSql"))
  )
}
