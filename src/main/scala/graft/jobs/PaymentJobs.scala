package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.TableStore
import graft.ops.{DateSpine, Dedup, SurrogateKeys, Validation}

/** The reference's composite pipeline jobs (SURVEY §2.11) as Scala
  * function composition over the ops layer — validate_bronze,
  * load_bronze, validate/load_silver, GDPR mark+propagate, dims, fact.
  * Airflow orchestration collapses to plain function calls; table
  * mutation goes through [[graft.core.TableStore]].
  *
  * All transforms are pure Column logic (whole-stage codegen, no UDFs),
  * the validation split reuses one predicate for both branches
  * (bronze/jobs/validate_bronze.py:100-104,163-167), and dims are
  * broadcast into the fact join (docs/Gold_Layer_Developer_Guide.md:
  * 388-398). The clock is injected via [[PaymentData.Now]].
  */
object PaymentJobs {

  private[graft] val now = lit(PaymentData.Now).cast("timestamp_ntz")

  /** Tier-1 fatal rules against an explicit clock (docs/
    * VALIDATION_RULES.md:17-35); order matters — classify() reports the
    * FIRST failing rule. FUTURE_TIMESTAMP is the one rule whose outcome
    * changes as the clock advances, which is what makes quarantined
    * rows replayable later ([[quarantineReplay]]). */
  def tier1RulesAt(clock: Column): Seq[Validation.Rule] = Seq(
    Validation.Rule("NULL_TRANSACTION_ID", col("transaction_id").isNull),
    Validation.Rule("INVALID_FORMAT", col("transaction_id").like("% %")),
    Validation.Rule("NULL_AMOUNT", col("amount").isNull),
    Validation.Rule("NULL_TIMESTAMP", col("transaction_timestamp").isNull),
    Validation.Rule("FUTURE_TIMESTAMP", col("transaction_timestamp") > clock))

  /** Tier-1 rules at the pipeline clock [[PaymentData.Now]]. */
  val tier1Rules: Seq[Validation.Rule] = tier1RulesAt(now)

  /** Tier-2 suspect rules (loaded but flagged). */
  val tier2Rules: Seq[Validation.Rule] = Seq(
    Validation.Rule("NEGATIVE_AMOUNT", col("amount") < 0),
    Validation.Rule("EXCESSIVE_CASHBACK", col("cashback_amount") > col("amount")))

  /** Tier-3 fixable nulls (docs/VALIDATION_RULES.md:64-79). */
  val tier3Defaults: Map[String, String] = Map(
    "merchant_name" -> "UNKNOWN_MERCHANT",
    "product_name" -> "NOT_AVAILABLE",
    "device_type" -> "UNKNOWN",
    "location_type" -> "NOT_AVAILABLE")

  /** validate_bronze quarantine branch: Tier-1 rows + classification +
    * the reference's audit metadata — delta_change_type='QUARANTINE',
    * delta_version, quarantined_at, source_file, processing_batch_id
    * (bronze/jobs/validate_bronze.py:65-105;
    * docs/SCHEMA_REGISTRY.md:85-114 for the column contract). The
    * source file and batch id are injected per run (Airflow passes them
    * as job args in the reference); the clock is [[PaymentData.Now]]. */
  def bronzeQuarantine(txns: DataFrame,
                       sourceFile: String = "ingest/payments_batch_0001.csv",
                       batchId: String = "BATCH_0001"): DataFrame =
    txns.filter(Validation.anyFail(tier1Rules))
      .select(col("transaction_id"), col("customer_id"),
        col("transaction_timestamp"), col("merchant_id"), col("merchant_name"),
        col("product_category"), col("product_name"), col("amount"),
        col("fee_amount"), col("cashback_amount"),
        col("loyalty_points").cast("long").as("loyalty_points"),
        col("payment_method"), col("transaction_status"), col("device_type"),
        col("location_type"), col("currency"), col("updated_at"),
        lit("QUARANTINE").as("delta_change_type"),
        lit(null).cast("bigint").as("delta_version"),
        Validation.classify(tier1Rules).as("error_reason"),
        lit("TIER_1").as("error_tier"),
        now.as("quarantined_at"),
        lit(sourceFile).as("source_file"),
        lit(batchId).as("processing_batch_id"))

  /** The staging chain proper — Tier-3 defaults → Tier-2 flags → W1
    * exact dedup — shared by [[bronzeStaging]] and [[quarantineReplay]]
    * so the two admission paths can never drift. */
  private def stagingChain(clean: DataFrame): DataFrame = {
    val fixed = Validation.applyDefaults(clean, tier3Defaults)
      .withColumn("data_quality_flag", Validation.qualityFlag(tier2Rules))
      .withColumn("validation_errors", Validation.errorList(tier2Rules))
    Dedup.exact(fixed, Seq("transaction_id", "updated_at"))
  }

  /** validate_bronze staging branch: ¬Tier-1 → Tier-3 defaults → Tier-2
    * flags → W1 exact dedup (bronze/jobs/validate_bronze.py:114-181). */
  def bronzeStaging(txns: DataFrame): DataFrame =
    stagingChain(txns.filter(!Validation.anyFail(tier1Rules)))

  /** [[bronzeStaging]] plus the GDPR audit columns the PIPELINE's bronze
    * carries (is_deleted/deleted_at) — one definition shared by
    * [[runPipeline]] and the orchestrated daily chain. */
  def stagingWithAudit(txns: DataFrame): DataFrame =
    bronzeStaging(txns)
      .withColumn("is_deleted", lit(false))
      .withColumn("deleted_at", lit(null).cast("timestamp_ntz"))

  /** Align `df` to the TARGET table's schema before a merge: columns the
    * table carries but the frame lacks (the pipeline's GDPR audit pair)
    * are filled — is_deleted with false, everything else with a typed
    * null. Without this, replay/backfill against a pipeline-created
    * 23-column bronze fails the merge's conform ("missing columns"). */
  private def alignToTable(store: TableStore, table: String,
                           df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    store.schemaOf(table).fields.filterNot(f => have.contains(f.name))
      .foldLeft(df) { (d, f) =>
        val fill = if (f.name == "is_deleted") lit(false) else lit(null)
        d.withColumn(f.name, fill.cast(f.dataType))
      }
  }

  /** load_bronze (M1): seed the table with the original versions, then
    * MERGE a CDC batch on the composite key; returns the loaded table.
    * (bronze/jobs/load_bronze.py:66-109 — matched→UPDATE all cols,
    * not-matched→INSERT, both stamped delta_change_type='MERGE') */
  def bronzeLoad(store: TableStore, staging0: DataFrame): DataFrame = {
    // staging feeds the seed load, the CDC batch, AND the merge's
    // uniqueness precondition (a separate action): cache it so the
    // validation+dedup chain runs once
    val staging = staging0.cache()
    val originals = staging.filter(col("updated_at") === col("transaction_timestamp"))
    // hash-bucketed on the merge key prefix: the CDC merge below rewrites
    // only the buckets the batch touches (TableStore prune path).
    // delta_version tracks the commit that last wrote each row
    // (docs/SCHEMA_REGISTRY.md:5): 1 = initial load, 2 = the CDC merge.
    store.createBucketed("bronze_transactions",
      originals.withColumn("delta_change_type", lit("LOAD"))
        .withColumn("delta_version", lit(1L)),
      keys = Seq("transaction_id"), n = 32)
    val cdcBatch = staging
      .filter(expr("CAST(substring(transaction_id, 5, 20) AS BIGINT)") % 50 === 0)
      .withColumn("delta_change_type", lit("ignored"))
      .withColumn("delta_version", lit(2L))
    store.mergeUpsert("bronze_transactions", cdcBatch,
      Seq("transaction_id", "updated_at"))
    store.read("bronze_transactions")
  }

  /** quarantine_replay (the operational loop bronze/README.md:364-404
    * monitors): re-validate quarantined rows at a LATER clock — rows
    * whose only fatal defect was a then-future timestamp now pass —
    * and admit them through the full staging path (Tier-3 defaults,
    * Tier-2 flags, W1 dedup) with an M1 merge into bronze stamped
    * 'REPLAY'. Idempotent by construction: a second replay finds the
    * same rows already present and rewrites them identically, so the
    * table state is a pure function of (quarantine, clock). */
  def quarantineReplay(store: TableStore, quarantine: DataFrame,
                       clock: Column): DataFrame = {
    val src = quarantine.select(
      col("transaction_id"), col("customer_id"), col("transaction_timestamp"),
      col("merchant_id"), col("merchant_name"), col("product_category"),
      col("product_name"), col("amount"), col("fee_amount"),
      col("cashback_amount"), col("loyalty_points"), col("payment_method"),
      col("transaction_status"), col("device_type"), col("location_type"),
      col("currency"), col("updated_at"))
    val passing = src.filter(!Validation.anyFail(tier1RulesAt(clock)))
    val staged = stagingChain(passing)
      .withColumn("delta_change_type", lit("ignored")) // merge stamps it
      .withColumn("delta_version", lit(3L)) // after load=1, CDC merge=2
    store.mergeUpsert("bronze_transactions",
      alignToTable(store, "bronze_transactions", staged),
      Seq("transaction_id", "updated_at"),
      matchedChangeType = "REPLAY", insertChangeType = "REPLAY")
    store.read("bronze_transactions")
  }

  /** bronze_backfill (composite: P3 date window + W1 + M1 stamped
    * 'BACKFILL' — bronze/jobs/bronze_backfill.py:47,161-203): re-merge
    * the staging rows whose transaction date falls in [start, end];
    * matched rows update, late/new rows insert, both stamped BACKFILL
    * with the backfill commit's delta_version. */
  def bronzeBackfill(store: TableStore, staging: DataFrame,
                     startDate: String, endDate: String,
                     version: Long = 3L): DataFrame = {
    val window = staging.filter(
      to_date(col("transaction_timestamp")).between(lit(startDate), lit(endDate)))
      .withColumn("delta_change_type", lit("ignored"))
      .withColumn("delta_version", lit(version))
    store.mergeUpsert("bronze_transactions",
      alignToTable(store, "bronze_transactions", window),
      Seq("transaction_id", "updated_at"),
      matchedChangeType = "BACKFILL", insertChangeType = "BACKFILL")
    store.read("bronze_transactions")
  }

  /** Full refresh with the reference's confirmation gate
    * (bronze/jobs/bronze_full_refresh.py:174-203,
    * Gold/fact/fact_full_refresh.py:190-224): INSERT OVERWRITE the
    * table, then a post-load COUNT must equal the staged row count or
    * the job fails. Schema is preserved by the store's overwrite. */
  def fullRefresh(store: TableStore, table: String, df: DataFrame): DataFrame = {
    val expected = df.count()
    store.overwrite(table, df)
    val actual = store.countDecoded(table)
    require(actual == expected,
      s"full-refresh count gate failed for $table: staged $expected, table has $actual")
    store.read(table)
  }

  /** gold_dim_merchant_scd2 snapshot: the W4 attribute pick — ONE row
    * per merchant carrying the latest name and most-common category
    * (gold_dim_merchant_scd2.py:24-82). The reference's ROW_NUMBER
    * order (last_transaction_date DESC, transaction_count DESC) is
    * extended with the attribute columns as tie-breaks so the pick is a
    * total order — without it the hash-compare (and any two cluster
    * runs) could legitimately disagree. */
  def merchantSnapshot(silver: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = silver
      .filter(col("merchant_id").isNotNull && !col("merchant_id").like("MERCH_9%"))
      .groupBy("merchant_id", "merchant_name", "location_type", "product_category")
      .agg(countDistinct("transaction_id").as("transaction_count"),
        max("transaction_timestamp").as("last_transaction_date"))
    val w = Window.partitionBy("merchant_id")
      .orderBy(col("last_transaction_date").desc, col("transaction_count").desc,
        col("merchant_name"), col("product_category"), col("location_type"))
    agg.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("merchant_id"), col("merchant_name"),
        col("product_category").as("category"), col("location_type"))
  }

  /** validate_silver: documented semantics — drop FAILED_VALIDATION and
    * deleted rows, then W2 latest-version dedup (SURVEY §2.3 semantics
    * note; silver/jobs/validate_silver.py:119-129). Hash-agg max_by form:
    * map-side partial aggregation, no hot-key window sort at scale.
    * CDC columns (delta_change_type/delta_version/is_deleted/deleted_at)
    * are CARRIED when present — the registry's 21-column silver
    * (docs/SCHEMA_REGISTRY.md:128-140); inputs without them (standalone
    * staging-fed queries) stay at the 17-column source shape. */
  def silverFromBronze(bronze: DataFrame): DataFrame = {
    val clean = bronze
      .filter(col("data_quality_flag") =!= "FAILED_VALIDATION")
      .drop("data_quality_flag", "validation_errors")
    Dedup.latestVersionAgg(clean, Seq("transaction_id"), struct(col("updated_at")))
  }

  /** The reference's per-customer metric aggregation driving dim_customer
    * (Gold/dim/gold_dim_customer_scd2.py:32-54): COUNT(*)-threshold
    * tiers, first/last transaction dates, lifetime_value, is_active.
    * Requires a silver input carrying is_deleted (the 21-col shape).
    * lifetime_value is rounded so the double sum is hash-stable. */
  def customerAggregates(silver: DataFrame): DataFrame = silver
    .filter(col("customer_id").isNotNull && !coalesce(col("is_deleted"), lit(false)))
    .groupBy("customer_id")
    .agg(count(lit(1)).as("transaction_count"),
      to_date(min("transaction_timestamp")).as("first_transaction_date"),
      to_date(max("transaction_timestamp")).as("last_transaction_date"),
      round(sum("amount"), 2).as("lifetime_value"),
      max(col("transaction_status") === "Successful").as("is_active"))
    .select(col("customer_id"),
      when(col("transaction_count") >= 100, "Platinum")
        .when(col("transaction_count") >= 50, "Gold")
        .when(col("transaction_count") >= 20, "Silver")
        .otherwise("Bronze").as("customer_tier"),
      col("is_active"), col("first_transaction_date"),
      col("last_transaction_date"), col("lifetime_value"))

  private def scd2Meta(df: DataFrame): DataFrame = df
    .withColumn("loaded_at", now)
    .withColumn("source_system", lit("payment_gateway"))
    .withColumn("effective_start_date", to_date(lit("2026-01-01")))
    .withColumn("effective_end_date", lit(null).cast("date"))
    .withColumn("is_current", lit(true))

  /** Current-state dim_customer (12-col registry shape) in one step —
    * what the fact join needs when no history has accumulated yet. */
  def dimCustomerCurrent(silver: DataFrame): DataFrame =
    scd2Meta(SurrogateKeys.byOrder(customerAggregates(silver),
        "customer_key", Seq(col("customer_id"))))
      .select("customer_key", "customer_id", "customer_tier", "is_active",
        "first_transaction_date", "last_transaction_date", "lifetime_value",
        "loaded_at", "source_system",
        "effective_start_date", "effective_end_date", "is_current")

  /** Current-state dim_merchant (10-col registry shape). */
  def dimMerchantCurrent(silver: DataFrame): DataFrame =
    scd2Meta(SurrogateKeys.byOrder(merchantSnapshot(silver),
        "merchant_key", Seq(col("merchant_id"))))
      .select("merchant_key", "merchant_id", "merchant_name", "category",
        "location_type", "loaded_at", "source_system",
        "effective_start_date", "effective_end_date", "is_current")

  /** GDPR pair (M5 + M3): soft-delete a customer's rows in bronze, then
    * hard-delete those transaction ids from silver
    * (silver/jobs/bronze_mark_deleted_by_customer.py:126-134,
    * silver/jobs/silver_propagate_deletes.py:150-155). */
  def gdprDelete(store: TableStore, customerId: String): DataFrame = {
    // MERGE-ON-READ soft delete (r15, guide §6): the GDPR predicate is a
    // high-cardinality point lookup on a table bucketed by an UNRELATED
    // key, so the copy-on-write `update` could never dir-prune and
    // rewrote the whole bronze for a ~10^-3 row fraction. The vectorized
    // form stages only the matched rows: one DV sidecar + one postimage
    // append — O(customer's rows) at ANY bronze volume, the exact shape
    // Delta takes for this job. Result rows are identical (readers apply
    // the DV and see the postimages); downstream rewrites materialize
    // the deletion lazily.
    store.updateVectorized("bronze_transactions",
      condition = col("customer_id") === customerId,
      set = Map(
        "is_deleted" -> lit(true),
        "deleted_at" -> now,
        "delta_change_type" -> lit("DELETE")))
    val deletedIds = store.read("bronze_transactions")
      .filter(col("is_deleted")).select("transaction_id")
    store.mergeDelete("silver_transactions", deletedIds, Seq("transaction_id"))
    store.read("silver_transactions")
  }

  /** gold_dim_payment_methods (A4 + W3 + enrichment). */
  def dimPaymentMethod(silver: DataFrame): DataFrame =
    SurrogateKeys.byOrder(
      silver.select("payment_method").distinct(),
      "payment_method_key", Seq(col("payment_method")))
      .withColumn("is_digital",
        col("payment_method").isin("UPI", "Wallet Balance"))
      .select("payment_method_key", "payment_method", "is_digital")

  /** gold_dim_status (A4 + W3 + enrichment). */
  def dimStatus(silver: DataFrame): DataFrame =
    SurrogateKeys.byOrder(
      silver.select("transaction_status").distinct(),
      "status_key", Seq(col("transaction_status")))
      .withColumn("is_final", col("transaction_status") =!= "Pending")
      .select("status_key", "transaction_status", "is_final")

  /** validate_fact_transactions at the registry's FULL 30-column width
    * (docs/SCHEMA_REGISTRY.md:155-189; Gold/fact/validate_fact_
    * transactions.py:150-200): all five dimension FKs (customer and
    * merchant via the SCD2 dims' CURRENT rows), degenerate dimensions,
    * base + calculated measures, ETL metadata, refund placeholders, and
    * the silver CDC columns. Dims are broadcast: only the fact scan is
    * large. The documented -1 unknown-member convention applies to every
    * key (docs/VALIDATION_RULES.md:164-182). Requires 21-col silver. */
  def factStar(silver: DataFrame, dimCust: DataFrame, dimMerch: DataFrame,
               dimPm: DataFrame, dimSt: DataFrame, dimDate: DataFrame): DataFrame =
    silver
      .filter(!col("merchant_id").like("MERCH_9%"))
      .join(broadcast(dimCust.filter(col("is_current"))
        .select("customer_id", "customer_key")), Seq("customer_id"), "left")
      .join(broadcast(dimMerch.filter(col("is_current"))
        .select("merchant_id", "merchant_key")), Seq("merchant_id"), "left")
      .join(broadcast(dimPm.select("payment_method", "payment_method_key")),
        Seq("payment_method"), "left")
      .join(broadcast(dimSt.select("transaction_status", "status_key")),
        Seq("transaction_status"), "left")
      .join(broadcast(dimDate.select(col("full_date"), col("date_key"))),
        to_date(col("transaction_timestamp")) === col("full_date"), "left")
      .select(
        coalesce(col("customer_key"), lit(-1L)).as("customer_key"),
        coalesce(col("merchant_key"), lit(-1L)).as("merchant_key"),
        coalesce(col("payment_method_key"), lit(-1L)).as("payment_method_key"),
        coalesce(col("status_key"), lit(-1L)).as("status_key"),
        coalesce(col("date_key").cast("long"), lit(-1L)).as("date_key"),
        col("transaction_id"),
        col("product_category"), col("product_name"), col("device_type"),
        col("amount"), col("fee_amount"), col("cashback_amount"),
        col("loyalty_points").cast("long").as("loyalty_points"),
        (col("amount") - col("fee_amount") + col("cashback_amount")).as("net_customer_amount"),
        (col("amount") - col("cashback_amount")).as("merchant_net_amount"),
        col("fee_amount").as("gateway_revenue"),
        col("transaction_timestamp"), col("currency"),
        lit(false).as("is_refunded"),
        lit(null).cast("double").as("refund_amount"),
        lit(null).cast("date").as("refund_date"),
        lit(1L).as("attempt_number"),
        now.as("loaded_at"),
        lit("payment_gateway").as("source_system"),
        col("transaction_timestamp").as("created_at"),
        col("updated_at"),
        col("delta_change_type"), col("delta_version"),
        col("is_deleted"), col("deleted_at"))

  /** load_silver stage: registry 21-col silver from bronze (CDC columns
    * carried by the merge), written bucketed so the GDPR mergeDelete
    * prunes. Cached — the dims and the fact all read it. ONE definition
    * for [[runPipeline]] and the orchestrated daily chain. */
  def loadSilver(store: TableStore, bronze: DataFrame): DataFrame = {
    val silver = silverFromBronze(bronze).cache()
    store.createBucketed("silver_transactions", silver,
      keys = Seq("transaction_id"), n = 32)
    silver
  }

  /** load_fact stage: the 30-column star over silver with all five dims
    * derived from it and the shared date spine. ONE definition for
    * [[runPipeline]] and the orchestrated daily chain — a spine-range or
    * dim-wiring change can no longer silently diverge between them. */
  def goldFact(silver: DataFrame): DataFrame =
    factStar(silver, dimCustomerCurrent(silver), dimMerchantCurrent(silver),
      dimPaymentMethod(silver), dimStatus(silver),
      DateSpine.dimDate(silver.sparkSession, "1995-01-01", "2002-12-31"))

  /** bronze→silver only — for consumers that need the mutated tables
    * but not the gold star (GDPR propagation, compliance/monitoring
    * reports): goldFact's dims run eager zipWithIndex jobs at
    * CONSTRUCTION time, so building-and-discarding the fact pays four
    * real Spark jobs for nothing. Returns the (cached) silver frame. */
  def runPipelineToSilver(store: TableStore, txns: DataFrame): DataFrame = {
    // audit columns added before the load so bronze is written once;
    // cached — the load reads it for the seed, the CDC batch and the
    // uniqueness gate
    val staging = stagingWithAudit(txns).cache()
    val bronze = bronzeLoad(store, staging)
    loadSilver(store, bronze)
  }

  /** The full bronze→silver→gold chain against a scratch store; returns
    * the fact table (used by the flagship query and PipelineSpec). */
  def runPipeline(store: TableStore, txns: DataFrame): DataFrame =
    goldFact(runPipelineToSilver(store, txns))
}
