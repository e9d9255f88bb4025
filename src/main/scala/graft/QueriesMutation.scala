package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TableStore

/** SURVEY §2.2 mutation-operator inventory (M1-M6) + the sink surface
  * (S5/S6/S7 + time travel) as oracle-checked queries: each query seeds a
  * fresh TableStore under /tmp from the driver testdata, applies the
  * mutation, and returns the post-mutation table; the DuckDB oracle
  * re-derives the expected end state in pure SQL over the same inputs.
  *
  * This is the layer the reference gets from Delta Lake (MERGE INTO /
  * UPDATE / DELETE / INSERT OVERWRITE — e.g. bronze/jobs/load_bronze.py:
  * 66-109, silver/jobs/silver_propagate_deletes.py:150-155) re-built on
  * versioned Parquet (graft.core.TableStore).
  */
object QueriesMutation {

  import Queries.{Q, QDef}

  /** Per-query scratch store, wiped on entry so every run (Verify, Bench
    * iterations, tests) starts from the same state. */
  private def freshStore(s: SparkSession, name: String): TableStore = {
    val root = s"/tmp/graft_qstore/$name"
    graft.core.FsUtil.clearAsync(new java.io.File(root))
    new TableStore(s, root)
  }

  // ---- shared IVM fixture (mv1 / mv2 / st19): ONE mutation history so
  //      the three views provably absorb the same backlog, and ONE
  //      oracle replay so a history edit can't silently diverge from
  //      what an oracle tests. ----

  /** The IVM family's source rows: lineitem with integer qty (exact
    * sums/maxes on both engines). */
  private[graft] def ivmLineitem(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
      col("l_quantity").cast("long").as("qty"))

  /** Create `src` with its change feed and seed load (v0-v2); returns
    * the seed version the view's initial full compute reads. */
  private[graft] def ivmCreateSource(st: TableStore, li: DataFrame,
                                     table: String = "src"): Long = {
    st.createEmpty(table, org.apache.spark.sql.types.StructType.fromDDL(
      "l_orderkey BIGINT, l_suppkey BIGINT, qty BIGINT"))          // v0
    st.setChangeFeed(table, true)                                  // v1
    st.append(table, li.filter(col("l_orderkey") % 4 === 1))       // v2
    st.currentVersion(table)
  }

  /** The post-seed backlog (v3-v5): an update that MOVES rows between
    * groups (both retraction and addition arms fire), a delete, an
    * insert-only append. */
  private[graft] def ivmMutateSource(st: TableStore, li: DataFrame,
                                     table: String = "src"): Unit = {
    st.updateVectorized(table, col("qty") <= 10L,
      Map("l_suppkey" -> (col("l_suppkey") + 100000L)))            // v3
    st.deleteVectorized(table, col("l_orderkey") % 10 === 3)       // v4
    st.append(table, li.filter(col("l_orderkey") % 4 === 2))       // v5
  }

  /** The oracle: replay the same history relationally, aggregate the
    * final state with `agg` (per l_suppkey). */
  private[graft] def ivmOracle(agg: String): String =
    s"""WITH init AS (
       |  SELECT l_orderkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
       |  FROM lineitem WHERE l_orderkey % 4 = 1),
       |upd AS (
       |  SELECT l_orderkey,
       |    CASE WHEN qty <= 10 THEN l_suppkey + 100000
       |         ELSE l_suppkey END AS l_suppkey,
       |    qty
       |  FROM init),
       |del AS (SELECT * FROM upd WHERE l_orderkey % 10 <> 3),
       |fin AS (SELECT * FROM del
       |        UNION ALL
       |        SELECT l_orderkey, l_suppkey, CAST(l_quantity AS BIGINT)
       |        FROM lineitem WHERE l_orderkey % 4 = 2)
       |SELECT l_suppkey, $agg
       |FROM fin GROUP BY 1""".stripMargin

  private[graft] val IvmCountSumAgg =
    """CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(qty) AS BIGINT) AS sum_qty""".stripMargin

  /** mv4's oracle: replay the silver backlog and the dim renames
    * relationally, join the final states. */
  private val Mv4OracleSql: Option[String] =
    Some("""WITH sil0 AS (
           |  SELECT o_orderkey, o_custkey, o_totalprice AS price,
           |         o_orderstatus AS status
           |  FROM orders WHERE o_orderkey % 3 = 0),
           |upd AS (
           |  SELECT o_orderkey, o_custkey,
           |    CASE WHEN o_orderkey % 5 = 0 THEN price + 1000 ELSE price END AS price,
           |    status
           |  FROM sil0),
           |del AS (SELECT * FROM upd WHERE o_orderkey % 7 <> 0),
           |fin AS (SELECT * FROM del
           |        UNION ALL
           |        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           |        FROM orders WHERE o_orderkey % 3 = 1),
           |dc AS (SELECT c_custkey,
           |         CASE WHEN c_custkey % 4 = 0 THEN c_name || '!' ELSE c_name END AS c_name,
           |         c_nationkey
           |       FROM customer),
           |dn AS (SELECT n_nationkey,
           |         CASE WHEN n_nationkey % 2 = 0 THEN n_name || '!' ELSE n_name END AS n_name
           |       FROM nation)
           |SELECT f.o_orderkey, f.o_custkey, f.price, f.status, dc.c_name, dn.n_name
           |FROM fin f
           |LEFT JOIN dc ON f.o_custkey = dc.c_custkey
           |LEFT JOIN dn ON dc.c_nationkey = dn.n_nationkey""".stripMargin)

  /** mv5's oracle (shared with sql_matview_dag — the registered DAG
    * and the library cascade must be digest-equal): replay the silver
    * backlog + dim renames, join, roll up per nation. */
  private[graft] val Mv5OracleSql: Option[String] =
    Some("""WITH sil0 AS (
           |  SELECT o_orderkey, o_custkey, o_orderkey % 1000 + 1 AS price_c,
           |         o_orderstatus AS status
           |  FROM orders WHERE o_orderkey % 3 = 0),
           |upd AS (
           |  SELECT o_orderkey, o_custkey,
           |    CASE WHEN o_orderkey % 5 = 0 THEN price_c + 7 ELSE price_c END AS price_c,
           |    status
           |  FROM sil0),
           |del AS (SELECT * FROM upd WHERE o_orderkey % 7 <> 0),
           |fin AS (SELECT * FROM del
           |        UNION ALL
           |        SELECT o_orderkey, o_custkey, o_orderkey % 1000 + 1, o_orderstatus
           |        FROM orders WHERE o_orderkey % 3 = 1),
           |dc AS (SELECT c_custkey,
           |         CASE WHEN c_custkey % 4 = 0 THEN c_name || '!' ELSE c_name END AS c_name,
           |         c_nationkey
           |       FROM customer),
           |dn AS (SELECT n_nationkey,
           |         CASE WHEN n_nationkey % 2 = 0 THEN n_name || '!' ELSE n_name END AS n_name
           |       FROM nation)
           |SELECT dn.n_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(f.price_c) AS BIGINT) AS sum_price_c
           |FROM fin f
           |LEFT JOIN dc ON f.o_custkey = dc.c_custkey
           |LEFT JOIN dn ON dc.c_nationkey = dn.n_nationkey
           |GROUP BY 1""".stripMargin)

  /** mv6's oracle (shared with sql_matview_join2): replay both sides,
    * inner-join the final states. */
  private val Mv6OracleSql: Option[String] =
    Some("""WITH a0 AS (SELECT o_orderkey, o_custkey, o_totalprice AS price
             |            FROM orders WHERE o_orderkey % 3 = 0),
             |a1 AS (SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 11 = 0 THEN o_custkey % 500 + 1
             |              ELSE o_custkey END AS o_custkey,
             |         CASE WHEN o_orderkey % 5 = 0 THEN price + 1000
             |              ELSE price END AS price
             |       FROM a0),
             |a2 AS (SELECT * FROM a1 WHERE o_orderkey % 7 <> 0),
             |af AS (SELECT * FROM a2
             |       UNION ALL
             |       SELECT o_orderkey, o_custkey, o_totalprice
             |       FROM orders WHERE o_orderkey % 3 = 1),
             |b0 AS (SELECT event_id, user_id, event_type
             |       FROM events WHERE event_id % 2 = 0),
             |b1 AS (SELECT event_id,
             |         CASE WHEN event_id % 9 = 0 THEN user_id % 500 + 1
             |              ELSE user_id END AS user_id,
             |         event_type
             |       FROM b0),
             |b2 AS (SELECT * FROM b1 WHERE event_id % 5 <> 0),
             |bf AS (SELECT * FROM b2
             |       UNION ALL
             |       SELECT event_id, user_id, event_type
             |       FROM events WHERE event_id % 2 = 1)
             |SELECT a.o_orderkey, b.event_id, a.o_custkey, a.price, b.event_type
             |FROM af a JOIN bf b ON a.o_custkey = b.user_id""".stripMargin)

  /** mv7's oracle (shared with st22_stream_topk — the batch registry
    * refresh and the standing stream must be digest-equal): replay the
    * mutations, direct row_number top-3 over the final state (ties
    * broken by the unique key, so the digest is exact). */
  private[graft] val Mv7OracleSql: Option[String] =
    Some("""WITH s0 AS (
           |  SELECT o_custkey % 50 AS grp, o_orderkey % 100000 AS val,
           |         o_orderkey AS okey
           |  FROM orders WHERE o_orderkey % 2 = 0),
           |upd AS (
           |  SELECT grp,
           |    CASE WHEN okey % 7 = 0 THEN val + 50000 ELSE val END AS val,
           |    okey
           |  FROM s0 WHERE okey % 10 <> 0),
           |fin AS (SELECT * FROM upd
           |        UNION ALL
           |        SELECT o_custkey % 50, o_orderkey % 100000, o_orderkey
           |        FROM orders WHERE o_orderkey % 2 = 1),
           |r AS (SELECT grp, val, okey, row_number() OVER (
           |        PARTITION BY grp ORDER BY val DESC, okey ASC) AS rnk
           |      FROM fin)
           |SELECT grp, CAST(rnk AS INT) AS rnk, val, okey
           |FROM r WHERE rnk <= 3""".stripMargin)

  /** ONE oracle text for m24_merge_evolve and sql_merge_evolve — the
    * library call and the SQL surface run the same evolution + merge
    * semantics, so their driver digests must be equal by construction
    * (the m20/sql_replace_where pinning pattern). */
  private val MergeEvolveOracleSql =
    """WITH t AS (SELECT o_orderkey, CAST(o_orderkey AS INT) AS qty,
      |             o_orderstatus AS status
      |           FROM orders WHERE o_orderkey % 2 = 0),
      |     s AS (SELECT o_orderkey,
      |             CAST(o_orderkey AS BIGINT) + 5000000000 AS qty,
      |             o_totalprice AS price
      |           FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      |  CAST(COALESCE(s.qty, t.qty) AS BIGINT) AS qty,
      |  t.status AS status, s.price AS price
      |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey""".stripMargin

  /** ONE shared root for every query that reads through the `graft` SQL
    * catalog: Spark caches a catalog instance per session at first use,
    * so a second query pointing `spark.sql.catalog.graft.root` elsewhere
    * would silently keep resolving against the first root. Queries share
    * the root and each wipes only its OWN table directory. */
  private def sqlCatalogStore(s: SparkSession, table: String): TableStore = {
    val root = "/tmp/graft_qstore/sqlcat"
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", root)
    graft.core.FsUtil.clearAsync(new java.io.File(s"$root/$table"))
    new TableStore(s, root)
  }

  val defs: Map[String, QDef] = Map(

    // ---- M1: MERGE upsert on composite key (load_bronze.py:66-109) ----
    // (composite key derived by splitting the unique o_orderkey — the
    //  synthetic lineitem is deliberately non-unique on its natural key,
    //  which the M6 uniqueness precondition would rightly reject)
    "m1_merge_composite" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m1")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"),
          floor(col("o_orderkey") / 100).cast("long").as("k_hi"),
          (col("o_orderkey") % 100).as("k_lo"),
          col("o_totalprice"), col("o_orderstatus"))
        st.create("t", base.filter(col("o_orderkey") % 2 === 0).drop("o_orderkey")
          .withColumn("delta_change_type", lit("LOAD")))
        val source = base.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("delta_change_type", lit("ignored"))
        st.mergeUpsert("t", source, Seq("k_hi", "k_lo"))
        st.read("t")
      },
      Some("""WITH b AS (SELECT o_orderkey, CAST(floor(o_orderkey / 100) AS BIGINT) AS k_hi,
             |            o_orderkey % 100 AS k_lo, o_totalprice, o_orderstatus FROM orders),
             |     t AS (SELECT k_hi, k_lo, o_totalprice, o_orderstatus,
             |            'LOAD' AS delta_change_type FROM b WHERE o_orderkey % 2 = 0),
             |     s AS (SELECT k_hi, k_lo, o_totalprice * 2 AS o_totalprice, o_orderstatus
             |          FROM b WHERE o_orderkey % 3 = 0)
             |SELECT s.*, 'MERGE' AS delta_change_type FROM s
             |UNION ALL
             |SELECT t.* FROM t WHERE NOT EXISTS (SELECT 1 FROM s
             |  WHERE s.k_hi = t.k_hi AND s.k_lo = t.k_lo)""".stripMargin)),

    // ---- M2: MERGE upsert, single key, per-branch change types ----
    //      (load_silver.py:82-127 sets UPDATE/INSERT per branch)
    "m2_merge_single_key" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m2")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        st.create("t", base.filter(col("o_orderkey") % 4 === 1)
          .withColumn("delta_change_type", lit("LOAD")))
        val source = base.filter((col("o_orderkey") % 4 === 1) || (col("o_orderkey") % 4 === 2))
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("delta_change_type", lit("ignored"))
        st.mergeUpsert("t", source, Seq("o_orderkey"),
          matchedChangeType = "UPDATE", insertChangeType = "INSERT")
        st.read("t")
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             |            'LOAD' AS delta_change_type FROM orders WHERE o_orderkey % 4 = 1),
             |     s AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
             |          FROM orders WHERE o_orderkey % 4 IN (1, 2))
             |SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
             |  CASE WHEN t.o_orderkey IS NOT NULL THEN 'UPDATE' ELSE 'INSERT' END AS delta_change_type
             |FROM s LEFT JOIN t ON s.o_orderkey = t.o_orderkey
             |UNION ALL
             |SELECT t.* FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)""".stripMargin)),

    // ---- M3: MERGE delete driven by a keys table (GDPR hard delete) ----
    "m3_merge_delete" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m3")
        st.create("t", Tables.customer(s, dir).select(
          col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment")))
        val keys = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey"))
        st.mergeDelete("t", keys, Seq("c_custkey"))
        st.read("t")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),

    // ---- M4: MERGE update-only — the SCD2 "close current version" ----
    //      (gold_dim_customer_scd2.py:182-191)
    "m4_scd2_close" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m4")
        st.create("dim", Tables.customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment"),
          (col("c_custkey") % 3 =!= 0).as("is_current"),
          lit(null).cast("date").as("effective_end_date")))
        val changed = Tables.customer(s, dir).filter(col("c_custkey") % 5 === 0)
        st.mergeUpdate("dim", changed, Seq("c_custkey"),
          condition = col("is_current"),
          set = Map(
            "is_current" -> lit(false),
            "effective_end_date" -> to_date(lit("2026-08-12"))))
        st.read("dim")
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |  CASE WHEN c_custkey % 5 = 0 AND c_custkey % 3 <> 0 THEN false
             |       ELSE c_custkey % 3 <> 0 END AS is_current,
             |  CASE WHEN c_custkey % 5 = 0 AND c_custkey % 3 <> 0 THEN DATE '2026-08-12'
             |       ELSE NULL END AS effective_end_date
             |FROM customer""".stripMargin)),

    // ---- M5: UPDATE ... WHERE — soft delete with audit columns ----
    //      (bronze_mark_deleted_by_customer.py:126-134)
    "m5_soft_delete" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m5")
        st.create("t", Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          lit(false).as("is_deleted"),
          lit(null).cast("timestamp_ntz").as("deleted_at")))
        st.update("t",
          condition = col("o_orderstatus") === "F" && col("o_custkey") % 10 === 0,
          set = Map(
            "is_deleted" -> lit(true),
            "deleted_at" -> lit("2026-08-12 00:00:00").cast("timestamp_ntz")))
        st.read("t")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
             |  (o_orderstatus = 'F' AND o_custkey % 10 = 0) AS is_deleted,
             |  CASE WHEN o_orderstatus = 'F' AND o_custkey % 10 = 0
             |       THEN TIMESTAMP '2026-08-12 00:00:00' END AS deleted_at
             |FROM orders""".stripMargin)),

    // ---- M5b: DELETE ... WHERE (hard delete by predicate) ----
    "m6_delete_where" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m6")
        st.create("t", Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag")))
        st.delete("t", col("l_returnflag") === "A" && col("l_quantity") > 30)
        st.read("t")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
             |WHERE NOT (l_returnflag = 'A' AND l_quantity > 30)""".stripMargin)),

    // ---- S5+S7: typed empty staging, then schema-preserving OVERWRITE ----
    //      (validate_silver.py:100-102; INSERT OVERWRITE keeps the declared
    //       schema — extra cols dropped, types cast: docs/KNOWN_ISSUES.md:77-99)
    "s7_overwrite_conform" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "s7")
        st.createEmpty("staging", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey INT, status STRING, o_totalprice DOUBLE"))
        val incoming = Tables.orders(s, dir).filter(col("o_orderkey") % 6 === 0)
          .select(col("o_orderstatus").as("status"), col("o_orderkey"),
            col("o_totalprice"), col("o_orderpriority"))
        st.overwrite("staging", incoming)
        st.read("staging")
      },
      Some("""SELECT CAST(o_orderkey AS INT) AS o_orderkey, o_orderstatus AS status, o_totalprice
             |FROM orders WHERE o_orderkey % 6 = 0""".stripMargin)),

    // ---- S6: INSERT INTO append — O(new rows), no table rewrite ----
    "s6_append" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "s6")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        st.create("t", base.filter(col("o_orderkey") % 9 === 0))
        st.append("t", base.filter(col("o_orderkey") % 9 === 1))
        st.read("t")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderkey % 9 IN (0, 1)""".stripMargin)),

    // ---- SQL MERGE INTO through the DSv2 catalog (row-level ops) ----
    // (same semantics as m2 but driven entirely by SQL text against
    //  graft.<table>, like the reference's SQL-in-Py jobs drive Delta)
    "sql_merge_into" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "t")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        st.create("t", base.filter(col("o_orderkey") % 4 === 1))
        base.filter((col("o_orderkey") % 4 === 1) || (col("o_orderkey") % 4 === 2))
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .createOrReplaceTempView("merge_src")
        s.sql("""MERGE INTO graft.t t USING merge_src s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        st.read("t")
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |          FROM orders WHERE o_orderkey % 4 = 1),
             |     s AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
             |          FROM orders WHERE o_orderkey % 4 IN (1, 2))
             |SELECT s.* FROM s
             |UNION ALL
             |SELECT t.* FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)""".stripMargin)),

    // ---- MERGE-ON-READ SQL MERGE: same semantics as sql_merge_into
    //      but delta-based ('rowlevel.mode'='merge-on-read') — matched
    //      rows become (file, position) tombstones + appended
    //      postimages, NOT-matched rows append; no live dir is
    //      rewritten. The read applies the DV sidecars. ----
    "sql_mor_merge" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "mor")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        st.create("mor", base.filter(col("o_orderkey") % 4 === 1))
        st.setProperties("mor", Map("rowlevel.mode" -> "merge-on-read"))
        base.filter((col("o_orderkey") % 4 === 1) || (col("o_orderkey") % 4 === 2))
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .createOrReplaceTempView("mor_src")
        s.sql("""MERGE INTO graft.mor t USING mor_src s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                 FROM graft.mor""")
      },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |          FROM orders WHERE o_orderkey % 4 = 1),
             |     s AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000 AS o_totalprice
             |          FROM orders WHERE o_orderkey % 4 IN (1, 2))
             |SELECT s.* FROM s
             |UNION ALL
             |SELECT t.* FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)""".stripMargin)),

    // ---- SQL SELECT ... WHERE through the DSv2 catalog: the predicate
    //      is pushed into the parquet scan (row-group statistics skip —
    //      GraftScanBuilder.pushFilters), so the store skips row groups
    //      that cannot match instead of decoding every row. The
    //      plan audit shows PushedFilters on the graft scan node. ----
    "sql_select_pushdown" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "big")
        st.create("big", Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"), col("l_linestatus")))
        s.sql("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
                |FROM graft.big
                |WHERE l_returnflag = 'A' AND l_quantity > 45.0""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_returnflag = 'A' AND l_quantity > 45.0""".stripMargin)),

    // ---- Data skipping: the manifest's per-dir [min,max] drops whole
    //      dirs at plan time (StatsPruning) — three appends give three
    //      dirs with disjoint date ranges; the predicate reaches only
    //      the last. StatsPruningSpec asserts the 1/3-dirs plan shape;
    //      this query gates the RESULTS against the oracle. ----
    "sql_stats_prune" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "pruned")
        val orders = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        st.create("pruned", orders.filter(col("o_orderdate") < lit("1995-01-01")))
        st.append("pruned", orders.filter(
          col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1997-01-01")))
        st.append("pruned", orders.filter(col("o_orderdate") >= lit("1997-01-01")))
        s.sql("""SELECT o_orderkey, o_totalprice FROM graft.pruned
                |WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'""".stripMargin)),

    // ---- TopN pushdown: ORDER BY <clustered col> LIMIT n on a range-
    //      clustered table keeps only the dirs whose [min,max] can hold
    //      the top-n (SupportsPushDownTopN partial push — Spark's TakeOrdered
    //      still runs on what the scan returns, so results are exact).
    //      Both sort directions probe opposite edges of the layout.
    //      StatsPruningSpec asserts the k/m-dirs plan shape; this query
    //      gates the RESULTS. (OFFSET pushdown is spec-only: a pushed
    //      offset applies to the scan's physical order, which no
    //      engine-independent oracle can name.) ----
    // ---- Incremental re-clustering: range-cluster, append an
    //      overlapping slice, recluster ONLY the overlap
    //      (optimizeIncrementalByRange) — the oracle proves the commit
    //      preserved every row through the partial rewrite. ----
    "m13_incremental_cluster" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "increc")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        st.create("increc", orders.filter(col("o_orderkey") % 3 =!= 0))
        st.optimizeByRange("increc", Seq("o_orderkey"), 4)
        st.append("increc", orders.filter(col("o_orderkey") % 3 === 0))
        st.optimizeIncrementalByRange("increc", "o_orderkey")
        s.sql("SELECT o_orderkey, o_totalprice FROM graft.increc")
      },
      Some("SELECT o_orderkey, o_totalprice FROM orders")),

    "sql_topn_page" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "paged")
        st.create("paged", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice")))
        st.optimizeByRange("paged", Seq("o_orderkey"), 4)
        s.sql("""SELECT o_orderkey, o_totalprice FROM graft.paged
                |ORDER BY o_orderkey LIMIT 100""".stripMargin)
          .unionByName(s.sql(
            """SELECT o_orderkey, o_totalprice FROM graft.paged
              |ORDER BY o_orderkey DESC LIMIT 50""".stripMargin))
      },
      Some("""(SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100)
             |UNION ALL
             |(SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey DESC LIMIT 50)""".stripMargin)),

    // ---- Metadata-only aggregates: COUNT/MIN/MAX with no WHERE answered
    //      from the manifest, zero files read (MetadataAggregate; the
    //      reference's watermark MAX() before every incremental load is
    //      exactly this shape). Two commits prove cross-dir merging. ----
    "sql_meta_agg" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "metaagg")
        val orders = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
        st.create("metaagg", orders.filter(col("o_orderkey") % 2 === 0))
        st.append("metaagg", orders.filter(col("o_orderkey") % 2 =!= 0))
        s.sql("""SELECT count(*) AS n_rows, count(o_orderstatus) AS n_status,
                |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
                |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
                |FROM graft.metaagg""".stripMargin)
      },
      Some("""SELECT count(*) AS n_rows, count(o_orderstatus) AS n_status,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
             |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
             |FROM orders""".stripMargin)),

    // ---- Storage-partitioned join: both sides hash-bucketed on the
    //      join key -> KeyGroupedPartitioning from the scans, no
    //      shuffle on either side (GraftCatalogSpec asserts the plan;
    //      this query gates the RESULTS with the SPJ confs on) ----
    "sql_spj_join" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "spj_o")
        graft.core.FsUtil.clearAsync(new java.io.File("/tmp/graft_qstore/sqlcat/spj_c"))
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        st.createBucketed("spj_o", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          Seq("o_custkey"), n = 16)
        st.createBucketed("spj_c", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
          Seq("c_custkey"), n = 16)
        s.sql("""SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
                |FROM graft.spj_o o JOIN graft.spj_c c ON o.o_custkey = c.c_custkey
                |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)
      },
      Some("""SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)),

    // ---- OPTIMIZE clustered-by-range: after optimizeByRange the dirs
    //      hold disjoint key ranges, so a point predicate's plan-time
    //      stats pruning reaches ~1 of N dirs (TableStoreSpec asserts
    //      the dir counts; this query gates the RESULTS) ----
    "sql_range_cluster" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "rangecl")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        // three interleaved appends: every dir spans the full custkey
        // range, so before clustering nothing can prune
        st.create("rangecl", orders.filter(col("o_orderkey") % 3 === 0))
        st.append("rangecl", orders.filter(col("o_orderkey") % 3 === 1))
        st.append("rangecl", orders.filter(col("o_orderkey") % 3 === 2))
        st.optimizeByRange("rangecl", Seq("o_custkey"), 8)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM graft.rangecl
                |WHERE o_custkey = 371""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey = 371""".stripMargin)),

    // ---- DECIMAL(10,2) through the DSv2 write/read/filter path (the
    //      reference's decimal amounts variant —
    //      bronze/dags/bronze_full_refresh_dag.py:34-36): exact unscaled
    //      integers in parquet, predicate pushed as unscaled long ----
    // (amounts derived from integer arithmetic, not doubles, so both
    //  engines compute bit-identical decimals — no rounding-mode flap)
    "sql_decimal" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "decamt")
        Tables.orders(s, dir)
          .selectExpr("o_orderkey",
            "CAST(CAST(o_orderkey % 100000 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(10,2)) AS DECIMAL(10,2)) AS amount_raw")
          .createOrReplaceTempView("dec_src")
        s.sql("CREATE TABLE graft.decamt (o_orderkey BIGINT, amount_dec DECIMAL(10,2))")
        s.sql("INSERT INTO graft.decamt SELECT o_orderkey, amount_raw FROM dec_src")
        s.sql("""SELECT o_orderkey, amount_dec FROM graft.decamt
                |WHERE amount_dec > 90000.00""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(CAST(o_orderkey % 100000 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(10,2)) AS DECIMAL(10,2)) AS amount_dec
             |FROM orders
             |WHERE CAST(CAST(o_orderkey % 100000 AS DECIMAL(10,2)) + CAST(0.25 AS DECIMAL(10,2)) AS DECIMAL(10,2)) > 90000.00""".stripMargin)),

    // ---- Runtime (DPP-style) dir pruning: the dim side's join keys
    //      reach the bucketed fact scan as a dynamic IN filter and drop
    //      whole bucket dirs before any file is read
    //      (RuntimePruningSpec asserts the 2/16-dirs plan; this query
    //      gates the RESULTS) ----
    "sql_runtime_prune" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "dppfact")
        graft.core.FsUtil.clearAsync(new java.io.File("/tmp/graft_qstore/sqlcat/dppdim"))
        st.createBucketed("dppfact", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          Seq("o_custkey"), n = 16)
        st.create("dppdim", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
        s.sql("""SELECT f.o_orderkey, f.o_totalprice, d.c_name
                |FROM graft.dppfact f JOIN graft.dppdim d ON f.o_custkey = d.c_custkey
                |WHERE d.c_name IN ('Customer#000000042', 'Customer#000000077')""".stripMargin)
      },
      Some("""SELECT o.o_orderkey, o.o_totalprice, c.c_name
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |WHERE c.c_name IN ('Customer#000000042', 'Customer#000000077')""".stripMargin)),

    // ---- OPTIMIZE ... ZORDER: after z-ordering on (o_custkey,
    //      o_totalprice), a predicate on the SECOND column alone prunes
    //      dirs at plan time (lexical range clustering can't —
    //      ZOrderSpec asserts the prune counts; this query gates the
    //      RESULTS through the SQL scan) ----
    "sql_zorder_cluster" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "zordered")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        st.create("zordered", orders.filter(col("o_orderkey") % 3 === 0))
        st.append("zordered", orders.filter(col("o_orderkey") % 3 =!= 0))
        st.optimizeByZOrder("zordered", Seq("o_custkey", "o_totalprice"), 16)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM graft.zordered
                |WHERE o_totalprice < 5000.0""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_totalprice < 5000.0""".stripMargin)),

    // ---- Bloom-index point SELECT: interleaved appends give every dir
    //      a near-full o_custkey span (min/max can't prune), the per-dir
    //      bloom index still narrows a point predicate to the dirs that
    //      truly hold the key (two-key IN probes 2/3 dirs here —
    //      BloomIndexSpec asserts the single-key 1/3 plan;
    //      this query gates the RESULTS) ----
    "sql_bloom_prune" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "bloomed")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        st.create("bloomed", orders.filter(col("o_orderkey") % 3 === 0))
        st.append("bloomed", orders.filter(col("o_orderkey") % 3 === 1))
        st.append("bloomed", orders.filter(col("o_orderkey") % 3 === 2))
        st.setBloomColumns("bloomed", Seq("o_orderkey"))
        // each key lives in exactly one dir, but every dir's [min,max]
        // spans ~the whole key space (interleaved %3 split) — only the
        // bloom can prune; 1502 and 3001 sit in different dirs -> 2/3
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM graft.bloomed
                |WHERE o_orderkey IN (1502, 3001)""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderkey IN (1502, 3001)""".stripMargin)),

    // ---- M5 at scale: a point DELETE through the bloom index — only
    //      dirs whose bloom contains the key are rewritten (the others
    //      carry untouched); result must equal a plain anti-filter ----
    "m7_bloom_point_delete" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m7")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        st.create("t", orders.filter(col("o_orderkey") % 3 === 0))
        st.append("t", orders.filter(col("o_orderkey") % 3 === 1))
        st.append("t", orders.filter(col("o_orderkey") % 3 === 2))
        st.setBloomColumns("t", Seq("o_orderkey"))
        st.delete("t", col("o_orderkey") === 371L)
        st.read("t")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderkey <> 371""".stripMargin)),

    // ---- Deletion vectors: two merge-on-read deletes (merged
    //      tombstones) then a filtered SQL read through the DSv2
    //      catalog — the scan applies the (file, position) sidecars
    //      without any dir having been rewritten. ----
    "m8_dv_delete" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "dvt")
        st.create("dvt", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        st.deleteVectorized("dvt", col("o_custkey") % 7 === 0)
        st.deleteVectorized("dvt", col("o_orderkey") % 5 === 0)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM graft.dvt
                 WHERE o_totalprice > 1000""")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey % 7 <> 0 AND o_orderkey % 5 <> 0
             |  AND o_totalprice > 1000""".stripMargin)),

    // ---- Column mapping: RENAME + DROP COLUMN are metadata-only; a
    //      post-rename append mixes file generations (both carrying the
    //      ORIGINAL physical name); the SQL read maps logical->physical
    //      for the scan, the pushed filter, and the dropped column's
    //      projection. ----
    "m10_column_mapping" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "cmt")
        st.create("cmt", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        st.renameColumn("cmt", "o_totalprice", "price")
        st.dropColumn("cmt", "o_custkey")
        st.append("cmt", Tables.orders(s, dir)
          .filter(col("o_orderkey") % 3 === 0)
          .select((col("o_orderkey") + 5000000L).as("o_orderkey"),
            (col("o_totalprice") * 2).as("price")))
        s.sql("SELECT o_orderkey, price FROM graft.cmt WHERE price > 1000")
      },
      Some("""SELECT o_orderkey, o_totalprice AS price FROM orders
             |WHERE o_totalprice > 1000
             |UNION ALL
             |SELECT o_orderkey + 5000000 AS o_orderkey,
             |       o_totalprice * 2 AS price
             |FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice * 2 > 1000""".stripMargin)),

    // ---- SCHEMA EVOLUTION (m14): INSERT INTO ... mergeSchema. The
    //      incoming batch carries a column the table has never seen;
    //      appendEvolve widens the table schema FIRST (metadata-only
    //      ALTER — no data file rewrites) and then appends, and the
    //      old row generation reads back with NULL in the new column.
    //      At 100 TB this is the only acceptable evolution shape:
    //      schema changes must never rewrite history. ----
    "m14_schema_evolution" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m14_evolve")
        st.create("ev", Tables.orders(s, dir)
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), col("o_totalprice")))
        st.appendEvolve("ev", Tables.orders(s, dir)
          .filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority").as("priority")))
        // narrower-than-table batches also align (missing col -> NULL)
        st.appendEvolve("ev", Tables.orders(s, dir)
          .filter(col("o_orderkey") % 3 === 2)
          .select(col("o_orderkey")))
        st.read("ev")
      },
      Some("""SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS priority
             |FROM orders WHERE o_orderkey % 3 = 0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice, o_orderpriority AS priority
             |FROM orders WHERE o_orderkey % 3 = 1
             |UNION ALL
             |SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
             |       CAST(NULL AS VARCHAR) AS priority
             |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin)),

    // ---- CHECK CONSTRAINTS (m17): ALTER TABLE ADD CONSTRAINT ...
    //      CHECK, the Delta constraints model. Enforcement is a single
    //      write-pass assert_true — no extra validation scan. The query
    //      PROVES enforcement by attempting a violating append (negated
    //      prices): if the refusal failed, the extra rows would land and
    //      the oracle hash would break. ----
    "m17_check_constraint" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m17_check")
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        st.create("cc", o.filter(col("o_orderkey") % 2 === 0))
        st.addCheckConstraint("cc", "positive_price", "o_totalprice > 0")
        st.append("cc", o.filter(col("o_orderkey") % 4 === 1))       // passes
        try {
          st.append("cc", o.filter(col("o_orderkey") % 4 === 3)      // refused
            .withColumn("o_totalprice", -col("o_totalprice")))
          throw new IllegalStateException(
            "violating append was accepted — CHECK enforcement is broken")
        } catch {
          // only the constraint refusal may pass; an unrelated store
          // failure must not masquerade as a successful enforcement
          case scala.util.control.NonFatal(e) =>
            val isCheck = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(10)
              .exists(t => String.valueOf(t.getMessage).contains("positive_price"))
            if (!isCheck) throw e
        }
        st.read("cc")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1""".stripMargin)),

    // ---- DV COMPACTION (m18): compactDvHeavy rewrites ONLY the dirs
    //      whose tombstone ratio crossed the threshold (purging their
    //      deletion vectors); content is preserved exactly and
    //      lightly-deleted dirs keep their cheap DV sidecars. Cost is
    //      O(rewritten bytes), never O(table) — the measured curve is in
    //      PLANS.md, "r12 scale curves at HEAD". The oracle proves
    //      content equality after the tombstone purge. ----
    "m18_compact_dv" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m18_compact")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        st.create("t", li)
        st.deleteVectorized("t", col("l_orderkey") % 5 === 2) // ~20% tombstoned
        val rewritten = st.compactDvHeavy("t", minDeletedRatio = 0.1)
        require(rewritten > 0, "compaction must rewrite the DV-heavy dirs")
        st.read("t")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey % 5 <> 2""".stripMargin)),

    // ---- AUTO-COMPACTION (m19): the Delta autoOptimize/autoCompact
    //      idea — opt-in per session conf; a small-file append folds the
    //      accumulated small dirs into one as part of the SAME logical
    //      operation (no separate maintenance window). The query appends
    //      8 small batches, requires that the live dir count actually
    //      folded (< 8 — the conf path fired), and proves content
    //      survived via the oracle. Confs reset in finally so no other
    //      registry query inherits them. ----
    "m19_auto_compact" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m19_autoc")
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        st.create("t", o.filter(col("o_orderkey") % 9 === 0))
        s.conf.set("graft.autoCompact.enabled", "true")
        s.conf.set("graft.autoCompact.minSmallDirs", "4")
        try {
          (1 to 8).foreach(r =>
            st.append("t", o.filter(col("o_orderkey") % 9 === r)))
          require(st.liveDirCount("t") < 8,
            s"auto-compaction did not fold: ${st.liveDirCount("t")} dirs")
          st.read("t")
        } finally {
          s.conf.unset("graft.autoCompact.enabled")
          s.conf.unset("graft.autoCompact.minSmallDirs")
        }
      },
      // the 8 appended batches partition ALL orders (every o_orderkey
      // % 9 residue), so the oracle is the unfiltered table — written
      // plainly, not as a tautological residue predicate a later edit
      // could mistake for a real filter
      Some("SELECT o_orderkey, o_totalprice FROM orders")),

    // ---- RESTORE (m15): time-travel WRITE. Restore commits a NEW
    //      version whose content equals the target version — history is
    //      append-only, never erased (vacuum-safe, auditable). Sequence:
    //      create(v0) → append(v1) → delete(v2) → RESTORE to v1 (v3,
    //      un-deleting) → append more (v4). The final state must carry
    //      every pre-delete row plus the post-restore batch — possible
    //      only if restore actually rewound the delete. ----
    "m15_restore" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m15_restore")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
        st.create("r", o.filter(col("o_orderkey") % 2 === 0))          // v0
        st.append("r", o.filter(col("o_orderkey") % 2 === 1))          // v1
        st.delete("r", col("o_totalprice") < 100000)                   // v2
        st.restore("r", 1)                                             // v3
        st.append("r", o.filter(col("o_orderkey") % 7 === 0)           // v4
          .select((col("o_orderkey") + 9000000L).as("o_orderkey"),
            col("o_totalprice")))
        st.read("r")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |UNION ALL
             |SELECT o_orderkey + 9000000 AS o_orderkey, o_totalprice
             |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin)),

    // ---- IDENTITY + GENERATED columns (m16): the system owns both.
    //      Appends OMIT the identity column (ALWAYS semantics — dense
    //      ids continue from the manifest's persisted watermark, minted
    //      via zipWithIndex, no global window) and the generated column
    //      (computed from its expression at write). Inputs are sorted
    //      before the append, so zipWithIndex's partition walk IS the
    //      sort order and the oracle can replay ids as row_number —
    //      determinism here is a property of the sorted input, not of
    //      the assignment (which only guarantees dense-unique). ----
    "m16_identity_generated" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m16_idgen")
        st.createEmpty("idt", org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, o_orderkey BIGINT, price DOUBLE, price_band STRING"))
        st.setIdentityColumn("idt", "id", start = 100L)
        st.setGeneratedColumn("idt", "price_band",
          "CASE WHEN price > 100000 THEN 'high' ELSE 'low' END")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice").as("price"))
        st.append("idt", o.filter(col("o_orderkey") % 3 === 0).orderBy("o_orderkey"))
        st.append("idt", o.filter(col("o_orderkey") % 3 === 1).orderBy("o_orderkey"))
        st.read("idt")
      },
      Some("""WITH b1 AS (SELECT o_orderkey, o_totalprice AS price,
             |    row_number() OVER (ORDER BY o_orderkey) AS rn
             |  FROM orders WHERE o_orderkey % 3 = 0),
             |b2 AS (SELECT o_orderkey, o_totalprice AS price,
             |    row_number() OVER (ORDER BY o_orderkey) AS rn
             |  FROM orders WHERE o_orderkey % 3 = 1)
             |SELECT rn + 99 AS id, o_orderkey, price,
             |  CASE WHEN price > 100000 THEN 'high' ELSE 'low' END AS price_band
             |FROM b1
             |UNION ALL
             |SELECT rn + 99 + (SELECT count(*) FROM b1) AS id, o_orderkey, price,
             |  CASE WHEN price > 100000 THEN 'high' ELSE 'low' END AS price_band
             |FROM b2""".stripMargin)),

    // ---- ROW TRACKING (m11): stable row ids joining PRE- and
    //      POST-mutation snapshots. The pre snapshot's plan is pinned
    //      before the merge-on-read update (old files survive as DV'd
    //      files, so it still reads the old state); the post snapshot
    //      sees postimages carrying their MATERIALIZED preimage ids.
    //      The join on _row_id must pair every surviving row with its
    //      own past self — if ids drifted or duplicated, rows would
    //      drop out or fan out and the oracle hash would break. ----
    "m11_row_tracking" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m11_rowtrack")
        st.create("rt", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice")))
        st.enableRowTracking("rt")
        val pre = st.readWithRowIds("rt")
        st.updateVectorized("rt", col("o_orderkey") % 10 === 0,
          Map("o_totalprice" -> (col("o_totalprice") + lit(1.0))))
        val post = st.readWithRowIds("rt")
        pre.select(col("_row_id"), col("o_orderkey"),
            col("o_totalprice").as("old_price"))
          .join(post.select(col("_row_id"), col("o_totalprice").as("new_price")),
            Seq("_row_id"))
          .select(col("o_orderkey"), col("old_price"), col("new_price"))
      },
      Some("""SELECT o_orderkey, o_totalprice AS old_price,
             |  o_totalprice + CASE WHEN o_orderkey % 10 = 0
             |                      THEN 1.0 ELSE 0.0 END AS new_price
             |FROM orders""".stripMargin)),

    // ---- Merge-on-read UPDATE stacked on a merge-on-read DELETE: the
    //      update tombstones its preimages and appends postimages (no
    //      dir rewritten); the delete then tombstones across BOTH the
    //      original dirs and the appended postimage dir; the SQL read
    //      applies the merged sidecars per file. ----
    "m9_dv_update" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "dvu")
        st.create("dvu", Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
        st.updateVectorized("dvu", col("o_custkey") % 7 === 0,
          Map("o_totalprice" -> (col("o_totalprice") * 2)))
        st.deleteVectorized("dvu", col("o_orderkey") % 5 === 0)
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM graft.dvu
                 WHERE o_totalprice > 1000""")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CASE WHEN o_custkey % 7 = 0 THEN o_totalprice * 2
             |       ELSE o_totalprice END AS o_totalprice
             |FROM orders
             |WHERE o_orderkey % 5 <> 0
             |  AND (CASE WHEN o_custkey % 7 = 0 THEN o_totalprice * 2
             |            ELSE o_totalprice END) > 1000""".stripMargin)),

    // ---- Change data feed: row-level change capture across a merge +
    //      a pruned delete, read back with readChangesBetween. The
    //      oracle re-derives every change row relationally: preimage =
    //      matched target rows, postimage = their source versions,
    //      insert = unmatched source, delete = the post-merge rows the
    //      predicate hits. `* 2` keeps doubles exact in both engines. ----
    "cdc1_change_feed" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "cdc1")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        st.create("t", orders.filter(col("o_orderkey") % 4 === 1))    // v0
        st.setChangeFeed("t", true)                                   // v1
        val src = orders.filter(col("o_orderkey") % 4 <= 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        st.mergeUpsert("t", src, Seq("o_orderkey"), changeTypeCol = None) // v2
        st.delete("t", col("o_custkey") % 10 === 3)                   // v3
        st.readChangesBetween("t", 1, st.currentVersion("t"))
      },
      Some("""WITH t0 AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |            WHERE o_orderkey % 4 = 1),
             |s AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
             |      FROM orders WHERE o_orderkey % 4 <= 1)
             |SELECT t0.o_orderkey, t0.o_custkey, t0.o_totalprice,
             |  'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
             |FROM t0 JOIN s ON t0.o_orderkey = s.o_orderkey
             |UNION ALL
             |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice,
             |  'update_postimage', CAST(2 AS BIGINT)
             |FROM s JOIN t0 ON t0.o_orderkey = s.o_orderkey
             |UNION ALL
             |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice, 'insert', CAST(2 AS BIGINT)
             |FROM s WHERE NOT EXISTS (SELECT 1 FROM t0 WHERE t0.o_orderkey = s.o_orderkey)
             |UNION ALL
             |SELECT s.o_orderkey, s.o_custkey, s.o_totalprice, 'delete', CAST(3 AS BIGINT)
             |FROM s WHERE s.o_custkey % 10 = 3""".stripMargin)),

    // ---- CDC REPLICATION BY ROW ID: a KEYLESS table (no column is a
    //      key — duplicate rows are legal) converges onto a replica by
    //      applying its change feed keyed on the stable `_row_id` the
    //      feed carries (recorded MoR changes materialize `__rid`;
    //      synthesized appends derive base + position from the commit's
    //      manifest). Key-based MERGE cannot replicate such a table;
    //      the row id is the identity. Scale: each increment costs
    //      O(changes) and the replica merges prune by rid. ----
    "cdc2_rowid_replicate" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "cdc2")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        st.createEmpty("src", org.apache.spark.sql.types.StructType.fromDDL(
          "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE")) // v0
        st.enableRowTracking("src")                                  // v1
        st.setChangeFeed("src", true)                                // v2
        st.append("src", li.filter(col("l_orderkey") % 4 === 1))     // v3
        st.updateVectorized("src", col("l_quantity") <= 10.0,
          Map("l_suppkey" -> (col("l_suppkey") + 100000L)))          // v4
        st.deleteVectorized("src", col("l_orderkey") % 10 === 3)     // v5
        st.append("src", li.filter(col("l_orderkey") % 4 === 2))     // v6
        st.createEmpty("replica", org.apache.spark.sql.types.StructType.fromDDL(
          "rid BIGINT, l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE"))
        // ONE feed read (st10's pattern): cache the whole backlog, apply
        // commits in version order — each increment is O(its changes).
        // One aggregate over the cached feed replaces the per-version
        // isEmpty probes (2 jobs x versions -> 1 job), and the merges
        // skip the uniqueness gate: CDF rows are rid-unique within a
        // commit by construction (a rid is inserted OR updated, never
        // both, in one version).
        val feed = st.readChangesBetween("src", 0, st.currentVersion("src"),
          withRowIds = true).cache()
        // ONE aggregate over the cached feed yields both the per-version
        // apply plan AND an always-on assertion of readChangesBetween's
        // rid-uniqueness-per-commit contract (the invariant the
        // verifyUniqueSource=false below leans on): upsert-row count ==
        // distinct upsert rids per version, same job, no extra scan.
        val isUpsert = col("_change_type").isin("insert", "update_postimage")
        val counts = feed.groupBy(col("_commit_version"))
          .agg(
            count(when(col("_change_type") === "insert", 1)).as("n_ins"),
            count(when(col("_change_type") === "update_postimage", 1)).as("n_upd"),
            count(when(col("_change_type") === "delete", 1)).as("n_del"),
            countDistinct(when(isUpsert, col("_row_id"))).as("n_rid"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toMap
        counts.foreach { case (v, (nIns, nUpd, _, nRid)) =>
          require(nIns + nUpd == nRid,
            s"CDF rid-uniqueness contract violated at version $v: " +
              s"${nIns + nUpd} upsert rows but $nRid distinct rids — " +
              "rid-keyed apply with the uniqueness gate off is unsafe")
        }
        val versions = counts.keys.toSeq.sorted
        versions.foreach { v =>
          val (nIns, nUpd, nDel, _) = counts(v)
          val b = feed.filter(col("_commit_version") === v)
          val upserts = b
            .filter(col("_change_type").isin("insert", "update_postimage"))
            .select(col("_row_id").as("rid"), col("l_orderkey"),
              col("l_suppkey"), col("l_quantity"))
          // insert-only commit → plain append: a row-tracking rid is
          // minted fresh at its origin append and never reused, so an
          // `insert` rid cannot already exist in a replica that has
          // applied every prior version — no join, no rewrite of live
          // dirs, one new dir. (Half of real CDC backlogs are ingest
          // appends; this is the difference between O(changes) and
          // O(replica) per such version.)
          if (nIns > 0 && nUpd == 0 && nDel == 0) st.append("replica", upserts)
          else {
            if (nIns + nUpd > 0) st.mergeUpsert("replica", upserts,
              Seq("rid"), changeTypeCol = None, verifyUniqueSource = false)
            if (nDel > 0) st.mergeDelete("replica",
              b.filter(col("_change_type") === "delete")
                .select(col("_row_id").as("rid")), Seq("rid"))
          }
        }
        feed.unpersist()
        st.read("replica").select("l_orderkey", "l_suppkey", "l_quantity")
      },
      Some("""WITH init AS (
             |  SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem
             |  WHERE l_orderkey % 4 = 1),
             |upd AS (
             |  SELECT l_orderkey,
             |    CASE WHEN l_quantity <= 10 THEN l_suppkey + 100000
             |         ELSE l_suppkey END AS l_suppkey,
             |    l_quantity
             |  FROM init),
             |del AS (SELECT * FROM upd WHERE l_orderkey % 10 <> 3)
             |SELECT * FROM del
             |UNION ALL
             |SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem
             |WHERE l_orderkey % 4 = 2""".stripMargin)),

    // ---- cdc3: COMPACTED APPLY — the scale complement of cdc2's
    //      per-version replication loop. The whole backlog collapses to
    //      the LAST change per `_row_id` (max_by on commit version; a
    //      rid's final word is an upsert or a delete), then applies in
    //      ONE pass. A replica that fell N versions behind catches up
    //      at O(distinct changed rids), not O(sum of all versions'
    //      change rows) — the Delta "coalesce changes per key before
    //      merging" pattern, keyed on the stable row id so it works on
    //      KEYLESS tables. Same source history and final state as cdc2. ----
    "cdc3_rowid_compact_apply" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "cdc3")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        st.createEmpty("src", org.apache.spark.sql.types.StructType.fromDDL(
          "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE"))
        st.enableRowTracking("src")
        st.setChangeFeed("src", true)
        st.append("src", li.filter(col("l_orderkey") % 4 === 1))
        st.updateVectorized("src", col("l_quantity") <= 10.0,
          Map("l_suppkey" -> (col("l_suppkey") + 100000L)))
        st.deleteVectorized("src", col("l_orderkey") % 10 === 3)
        st.append("src", li.filter(col("l_orderkey") % 4 === 2))
        val feed = st.readChangesBetween("src", 0, st.currentVersion("src"),
          withRowIds = true)
        val last = feed
          .filter(col("_change_type").isin("insert", "update_postimage", "delete"))
          .groupBy(col("_row_id"))
          .agg(max_by(
            struct(col("_change_type"), col("l_orderkey"), col("l_suppkey"),
              col("l_quantity")),
            col("_commit_version")).as("f"))
        last.filter(col("f._change_type") =!= "delete")
          .select(col("f.l_orderkey").as("l_orderkey"),
            col("f.l_suppkey").as("l_suppkey"),
            col("f.l_quantity").as("l_quantity"))
      },
      Some("""WITH init AS (
             |  SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem
             |  WHERE l_orderkey % 4 = 1),
             |upd AS (
             |  SELECT l_orderkey,
             |    CASE WHEN l_quantity <= 10 THEN l_suppkey + 100000
             |         ELSE l_suppkey END AS l_suppkey,
             |    l_quantity
             |  FROM init),
             |del AS (SELECT * FROM upd WHERE l_orderkey % 10 <> 3)
             |SELECT * FROM del
             |UNION ALL
             |SELECT l_orderkey, l_suppkey, l_quantity FROM lineitem
             |WHERE l_orderkey % 4 = 2""".stripMargin)),

    // ---- mv1: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE with
    //      retraction — the change feed maintains a per-group aggregate
    //      (count + sum) through updates and deletes without ever
    //      re-aggregating the source. The whole backlog collapses to
    //      ONE signed delta aggregate (+1 for insert/update_postimage,
    //      −1 for delete/update_preimage — commutative, so no
    //      per-version loop), new absolutes come from a group-pruned
    //      read of the view (broadcast semi-join on the changed groups,
    //      stats/bloom prune the dirs), and emptied groups retract to
    //      deletion. Maintenance cost is O(changed rows → changed
    //      groups), never O(source) or O(view) — at 100 TB this is the
    //      difference between a view that refreshes per commit and one
    //      that needs a nightly recompute. The update here MOVES rows
    //      between groups (suppkey shift), so both the retraction and
    //      the addition arm are load-bearing. Integer qty keeps every
    //      sum exact. Oracle: replay the mutations relationally, then
    //      aggregate the final state directly — equality proves the
    //      incremental path converged to the full recompute. ----
    // ---- m25: RESTORE of a registered materialized view is
    //      registry-aware (r12 VERDICT "what's wrong" #1, made
    //      driver-visible): restoring the view rewinds its ivm:*
    //      absorbed-source watermarks WITH the rows, so the next
    //      self-driving refresh re-absorbs (stamp_v, head] and
    //      converges. Without the rewind the refresh derives an empty
    //      window and the result is the SEED-ONLY aggregate — this
    //      row's oracle (the full final state) would hash-mismatch,
    //      so the row is a live guard on the silent-staleness class.
    //      Oracle: direct aggregate over the replayed final state. ----
    "m25_restore_view" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m25")
        val orders = Tables.orders(s, dir)
        val src = orders.select((col("o_custkey") % 100).as("grp"),
          (col("o_orderkey") % 1000).as("qty"), col("o_orderkey"))
        st.create("src", src.filter(col("o_orderkey") % 2 === 0))
        st.setChangeFeed("src", true)
        graft.ops.Ivm.createCountSumView(st, "v", "src", Seq("grp"), "qty")
        val viewSeedV = st.currentVersion("v")
        // the backlog the restored view must RE-absorb
        st.delete("src", col("o_orderkey") % 6 === 0)
        st.append("src", src.filter(col("o_orderkey") % 2 === 1))
        graft.ops.Ivm.refreshView(st, "v")
        // RESTORE rewinds rows AND ivm:* stamps; refresh re-converges
        st.restore("v", viewSeedV)
        graft.ops.Ivm.refreshView(st, "v")
        graft.ops.Ivm.compactDead(st, "v", Seq("grp"))
        graft.ops.Ivm.readView(st, "v")
          .select(col("grp"), col("n_rows"), col("sum_qty"))
      },
      Some("""WITH fin AS (
             |  SELECT o_custkey % 100 AS grp, o_orderkey % 1000 AS qty
             |  FROM orders
             |  WHERE (o_orderkey % 2 = 0 AND o_orderkey % 6 <> 0)
             |     OR o_orderkey % 2 = 1)
             |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(qty) AS BIGINT) AS sum_qty
             |FROM fin GROUP BY 1""".stripMargin)),

    // ---- mv7: incremental TOP-K — the SET-VALUED non-distributive
    //      IVM class beyond max/min: each group's state is its k
    //      highest (value, key) pairs. Inserts rerank by algebra; a
    //      retraction below the group's floor drops; a retraction
    //      hitting a FULL group's stored pair recomputes that group
    //      only, version-pinned and group-pruned (the (k+1)-th is
    //      unknowable from k state). The history drives BOTH arms:
    //      the delete retracts stored top pairs (hard), the update's
    //      +50000 shift re-ranks pairs up through pre/postimage
    //      retraction (easy + hard), the append inserts (easy). The
    //      refresh runs through the REGISTRY dispatch (self-driving
    //      window, idempotent re-delivery). Oracle: direct row_number
    //      top-3 over the replayed final state — ties broken by the
    //      unique key, so the digest is exact. ----
    "mv7_incremental_topk" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv7")
        val orders = Tables.orders(s, dir)
        val src = orders.select((col("o_custkey") % 50).as("grp"),
          (col("o_orderkey") % 100000).as("val"),
          col("o_orderkey").as("okey"))
        st.create("src", src.filter(col("okey") % 2 === 0))
        st.setChangeFeed("src", true)
        graft.ops.Ivm.createTopKView(st, "v", "src", Seq("grp"),
          "val", "okey", k = 3)
        st.delete("src", col("okey") % 10 === 0)
        st.update("src", col("okey") % 7 === 0,
          Map("val" -> (col("val") + 50000L)))
        st.append("src", src.filter(col("okey") % 2 === 1))
        graft.ops.Ivm.refreshView(st, "v")
        graft.ops.Ivm.refreshView(st, "v") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "v") // sweep padded tail ranks
        graft.ops.Ivm.readTopKView(st, "v", "val")
          .select(col("grp"), col("rnk"), col("val"), col("okey"))
      },
      Mv7OracleSql),

    // ---- m26: vacuum_view driver-visible — registry-aware retention
    //      on a LIVE two-level cascade (the distinct kind: face +
    //      CDF-enabled __aux twin). Two refresh cycles build history,
    //      vacuum_view(retain=1) age-sweeps BOTH levels (clamped so
    //      every absorbed-window read survives), then a THIRD backlog
    //      refreshes across the swept history. The row is a live guard
    //      on the retention clamp: a sweep that took a manifest or CDF
    //      dir a later refresh needs throws "overlaps vacuumed
    //      history" (row errs), and one that broke a watermark
    //      diverges from the oracle (row reds). ----
    "m26_vacuum_view" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m26")
        val orders = Tables.orders(s, dir)
        val src = orders.select((col("o_custkey") % 100).as("grp"),
          (col("o_orderkey") % 50).as("qty"), col("o_orderkey"))
        st.create("src", src.filter(col("o_orderkey") % 2 === 0))
        st.setChangeFeed("src", true)
        graft.ops.Ivm.createCountSumView(st, "v", "src",
          Seq("grp"), "qty", kind = "distinct")
        st.delete("src", col("o_orderkey") % 6 === 0)
        graft.ops.Ivm.refreshView(st, "v")
        st.append("src", src.filter(col("o_orderkey") % 2 === 1))
        graft.ops.Ivm.refreshView(st, "v")
        graft.ops.Ivm.vacuumView(st, "v", retain = 1)
        st.delete("src", col("o_orderkey") % 10 === 4)
        graft.ops.Ivm.refreshView(st, "v")
        graft.ops.Ivm.compactView(st, "v")
        graft.ops.Ivm.readView(st, "v")
          .select(col("grp"), col("n_rows").as("n_distinct"),
            col("sum_qty").as("sum_distinct"))
      },
      Some("""WITH fin AS (
             |  SELECT o_custkey % 100 AS grp, o_orderkey % 50 AS qty
             |  FROM orders
             |  WHERE (o_orderkey % 2 = 0 AND o_orderkey % 6 <> 0
             |         AND o_orderkey % 10 <> 4)
             |     OR o_orderkey % 2 = 1)
             |SELECT grp,
             |  CAST(count(DISTINCT qty) AS BIGINT) AS n_distinct,
             |  CAST(sum(DISTINCT qty) AS BIGINT) AS sum_distinct
             |FROM fin GROUP BY 1""".stripMargin)),

    // ---- mv8: the FK secondary index, driver-visible (r13 VERDICT
    //      #2): a REGISTERED join view with `CALL index_view`'s
    //      `<view>__fkidx` enabled from the first refresh, driven
    //      through fk moves, deletes, appends, and a dim-rename batch
    //      whose dim-term probe routes through the index (with the
    //      adaptive arm choice deciding index-vs-scan per batch). The
    //      oracle is the UNINDEXED semantics — a direct relational
    //      replay — so the row is a live guard on the index's
    //      conservative-superset contract: a probe that ever misses a
    //      live row, or a stale entry that leaks a dead one, turns
    //      this row red. The quiesced compactFkIndex sweep runs before
    //      the final read so the swept index's exactness is inside the
    //      digest too. ----
    "mv8_indexed_star" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv8")
        val orders = Tables.orders(s, dir)
        val src = orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"))
        st.create("silver", src.filter(col("o_orderkey") % 2 === 0))
        st.setChangeFeed("silver", true)
        st.create("dcust", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name")))
        st.setChangeFeed("dcust", true)
        graft.ops.Ivm.createJoinView(st, "fact", "silver",
          Seq("o_orderkey"), "dcust:o_custkey=c_custkey:c_name", buckets = 8)
        graft.ops.Ivm.enableFkIndexRegistered(st, "fact",
          Seq("o_custkey"), buckets = 8)
        // batch 1 (source term): fk moves + deletes + appends — the
        // moves leave ever-live (old_fk, key) entries behind, which
        // batch 2's probe must treat as candidates-only
        st.updateVectorized("silver", col("o_orderkey") % 10 === 0,
          Map("o_custkey" -> (col("o_custkey") % 500 + 1)))
        st.deleteVectorized("silver", col("o_orderkey") % 7 === 0)
        st.append("silver", src.filter(col("o_orderkey") % 2 === 1))
        graft.ops.Ivm.refreshJoinView(st, "fact")
        // batch 2 (dim term): renames re-enrich exactly the rows whose
        // CURRENT fk is affected — through the index
        st.updateVectorized("dcust", col("c_custkey") % 3 === 0,
          Map("c_name" -> concat(col("c_name"), lit("!"))))
        graft.ops.Ivm.refreshJoinView(st, "fact")
        graft.ops.Ivm.compactFkIndex(st, "fact") // quiesced here
        graft.ops.Ivm.compactDeadJoin(st, "fact", Seq("o_orderkey"))
        graft.ops.Ivm.readJoinView(st, "fact")
      },
      Some("""WITH s0 AS (SELECT o_orderkey, o_custkey,
             |              o_totalprice AS price
             |            FROM orders WHERE o_orderkey % 2 = 0),
             |u AS (SELECT o_orderkey,
             |        CASE WHEN o_orderkey % 10 = 0 THEN o_custkey % 500 + 1
             |             ELSE o_custkey END AS o_custkey,
             |        price
             |      FROM s0),
             |d AS (SELECT * FROM u WHERE o_orderkey % 7 <> 0),
             |fin AS (SELECT * FROM d
             |        UNION ALL
             |        SELECT o_orderkey, o_custkey, o_totalprice
             |        FROM orders WHERE o_orderkey % 2 = 1),
             |dc AS (SELECT c_custkey,
             |         CASE WHEN c_custkey % 3 = 0 THEN c_name || '!'
             |              ELSE c_name END AS c_name
             |       FROM customer)
             |SELECT f.o_orderkey, f.o_custkey, f.price, dc.c_name
             |FROM fin f
             |LEFT JOIN dc ON f.o_custkey = dc.c_custkey""".stripMargin)),

    // ---- mv9: incremental APPROX-DISTINCT — the sketch-state IVM kind
    //      (r13 VERDICT #5). Where mv3 maintains COUNT(DISTINCT)
    //      exactly through O(distinct values) aux state, mv9 holds one
    //      4 KB HLL register set per group regardless of cardinality —
    //      the 100 TB shape when the aux table itself would be
    //      fact-sized. Inserts union registers (pure algebra, no source
    //      read); the suppkey-shifting update and the delete retract,
    //      and registers can't retract, so exactly those groups
    //      recompute version-pinned and group-pruned (max's hard arm
    //      with the whole register set as the irrecoverable state).
    //      Refresh runs through the REGISTRY dispatch. Oracle: the
    //      a13 gate pattern — the row carries the EXACT distinct count
    //      (oracle-checkable) plus whether the maintained estimate
    //      landed within 3x the registered 1.6% rsd; a broken sketch
    //      or a stale view turns the row red instead of hiding behind
    //      no_oracle. ----
    "mv9_incremental_sketch" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv9")
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li)
        graft.ops.Ivm.createCountSumView(st, "sk_view", "src",
          Seq("l_suppkey"), "l_orderkey", kind = "sketch_distinct")
        ivmMutateSource(st, li) // the backlog: update moves groups,
                                // delete retracts, append inserts
        graft.ops.Ivm.refreshView(st, "sk_view")
        graft.ops.Ivm.refreshView(st, "sk_view") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "sk_view") // sweep NULL tombstones
        val est = graft.ops.Ivm.readSketchView(st, "sk_view")
          .select(col("l_suppkey"), col("n_est"))
        // the exact side exists only for the gate (a13's pattern) —
        // production reads the maintained estimate
        val exact = st.read("src").groupBy(col("l_suppkey"))
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        exact.join(est, Seq("l_suppkey"), "left")
          .select(col("l_suppkey"), col("n_exact"),
            (col("n_est").isNotNull &&
              abs(col("n_est") - col("n_exact")) <=
                greatest(col("n_exact") * lit(0.05), lit(3.0)))
              .as("within_rsd"))
      },
      Some(ivmOracle(
        """CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
          |  TRUE AS within_rsd""".stripMargin))),

    // ---- mv10: SKETCH ROLLUP — the payoff of mergeable register
    //      state: a coarser approx-distinct view maintained from the
    //      fine sketch view's OWN change feed by register union, never
    //      a fact read. New fine groups union into the coarse
    //      registers by algebra; a fine group whose registers were
    //      REPLACED (the delete and the suppkey-moving update below —
    //      registers may shrink) recomputes its coarse group from the
    //      SKETCH VIEW's live rows — O(member fine groups), which at
    //      100 TB is orders of magnitude below the O(source rows) a
    //      flat coarse view would pay. One refresh call drives the
    //      whole DAG (src -> fine -> rollup). Oracle: the a13 gate —
    //      exact distinct per coarse group (DuckDB-checked) + the
    //      rollup estimate inside 3x rsd. ----
    "mv10_sketch_rollup" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv10")
        val li = Tables.lineitem(s, dir)
        val src0 = li.select(col("l_orderkey"), col("l_suppkey"),
          (col("l_suppkey") % 10).as("cgrp"))
        st.create("src", src0.filter(col("l_orderkey") % 4 === 1))
        st.setChangeFeed("src", true)
        graft.ops.Ivm.createCountSumView(st, "fine", "src",
          Seq("cgrp", "l_suppkey"), "l_orderkey", kind = "sketch_distinct")
        st.setChangeFeed("fine", true)
        graft.ops.Ivm.createSketchRollup(st, "roll", "fine", Seq("cgrp"))
        // the backlog: the update MOVES fine groups across coarse
        // groups (both sides recompute), the delete retracts, the
        // append adds new fine groups (the union arm)
        st.updateVectorized("src", col("l_orderkey") % 9 === 0,
          Map("l_suppkey" -> (col("l_suppkey") + 7L),
            "cgrp" -> ((col("l_suppkey") + 7L) % 10)))
        st.deleteVectorized("src", col("l_orderkey") % 10 === 3)
        st.append("src", src0.filter(col("l_orderkey") % 4 === 2))
        graft.ops.Ivm.refreshView(st, "roll") // cascades fine first
        graft.ops.Ivm.refreshView(st, "roll") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "roll")
        val est = graft.ops.Ivm.readSketchView(st, "roll")
          .select(col("cgrp"), col("n_est"))
        val exact = st.read("src").groupBy(col("cgrp"))
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        exact.join(est, Seq("cgrp"), "left")
          .select(col("cgrp"), col("n_exact"),
            (col("n_est").isNotNull &&
              abs(col("n_est") - col("n_exact")) <=
                greatest(col("n_exact") * lit(0.05), lit(3.0)))
              .as("within_rsd"))
      },
      Some("""WITH init AS (
             |  SELECT l_orderkey, l_suppkey FROM lineitem
             |  WHERE l_orderkey % 4 = 1),
             |upd AS (
             |  SELECT l_orderkey,
             |    CASE WHEN l_orderkey % 9 = 0 THEN l_suppkey + 7
             |         ELSE l_suppkey END AS l_suppkey
             |  FROM init),
             |del AS (SELECT * FROM upd WHERE l_orderkey % 10 <> 3),
             |fin AS (SELECT * FROM del
             |        UNION ALL
             |        SELECT l_orderkey, l_suppkey FROM lineitem
             |        WHERE l_orderkey % 4 = 2)
             |SELECT l_suppkey % 10 AS cgrp,
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
             |  TRUE AS within_rsd
             |FROM fin GROUP BY 1""".stripMargin)),

    // ---- sql_matview_sketch: mv9 through the PURE SQL registry face
    //      (CALL create_agg_view kind='sketch_distinct' / refresh /
    //      compact, SELECT over the view) — digest-equal to mv9 BY
    //      DESIGN: one register algebra, three drivers (library calls,
    //      SQL registry, st23's standing stream). Own catalog name so
    //      the session's catalog-by-name cache never re-roots the
    //      shared `graft` catalog. ----
    "sql_matview_sketch" -> QDef(
      (s, dir) => {
        val root = "/tmp/graft_qstore/mv9sql"
        graft.core.FsUtil.clearAsync(new java.io.File(root))
        val st = new TableStore(s, root)
        s.conf.set("spark.sql.catalog.gmv9sql", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gmv9sql.root", root)
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li)
        s.sql("CALL gmv9sql.system.create_agg_view('sk_view', 'src', " +
          "'l_suppkey', 'l_orderkey', 'sketch_distinct', 8)")
        ivmMutateSource(st, li)
        s.sql("CALL gmv9sql.system.refresh_agg_view('sk_view')")
        s.sql("CALL gmv9sql.system.refresh_agg_view('sk_view')") // no-op
        s.sql("CALL gmv9sql.system.compact_agg_view('sk_view')")
        val est = s.sql(
          "SELECT l_suppkey, n_est FROM gmv9sql.sk_view WHERE sketch IS NOT NULL")
        val exact = st.read("src").groupBy(col("l_suppkey"))
          .agg(countDistinct(col("l_orderkey")).as("n_exact"))
        exact.join(est, Seq("l_suppkey"), "left")
          .select(col("l_suppkey"), col("n_exact"),
            (col("n_est").isNotNull &&
              abs(col("n_est") - col("n_exact")) <=
                greatest(col("n_exact") * lit(0.05), lit(3.0)))
              .as("within_rsd"))
      },
      Some(ivmOracle(
        """CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
          |  TRUE AS within_rsd""".stripMargin))),

    // ---- mv13: incremental SUMMARY STATISTICS — a6_summary_stats'
    //      maintained twin (kind='moments'): exact (n, Σv, Σv²) per
    //      group, each moment a group homomorphism of the feed, so the
    //      whole update/delete/append backlog is pure algebra (count_
    //      sum with one more power). avg/var/stddev derive at READ
    //      time from exact longs — no float ever enters the state —
    //      which is why this row needs NO gate: every column including
    //      the variance is hash-checked against DuckDB. ----
    "mv13_incremental_moments" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv13")
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li)
        graft.ops.Ivm.createCountSumView(st, "m_view", "src",
          Seq("l_suppkey"), "qty", kind = "moments")
        ivmMutateSource(st, li)
        graft.ops.Ivm.refreshView(st, "m_view")
        graft.ops.Ivm.refreshView(st, "m_view") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "m_view") // sweep n_rows=0 rows
        graft.ops.Ivm.readMomentsView(st, "m_view")
          .select(col("l_suppkey"), col("n_rows"), col("sum_v"),
            round(col("avg_v"), 4).as("avg_v"),
            round(col("var_v"), 4).as("var_v"),
            round(col("stddev_v"), 4).as("stddev_v"))
      },
      Some(ivmOracle(
        """CAST(count(qty) AS BIGINT) AS n_rows,
          |  CAST(sum(qty) AS BIGINT) AS sum_v,
          |  round(avg(qty), 4) AS avg_v,
          |  round(var_pop(qty), 4) AS var_v,
          |  round(stddev_pop(qty), 4) AS stddev_v""".stripMargin))),

    // ---- mv12: QUANTILE ROLLUP — the only rollup kind that is pure
    //      algebra at BOTH levels: bin counts over a partition of the
    //      data SUM to the bin counts of the union, so the coarse view
    //      absorbs the fine view's signed histogram pre/postimages and
    //      never reads anything but its own feed — where mv10's sketch
    //      rollup must re-read the sketch view when registers shrink,
    //      there is no hard arm here AT ALL. The update below moves
    //      fine groups ACROSS coarse groups (both sides adjust by
    //      signed sums), the delete retracts, the append adds new fine
    //      groups. One refresh drives the whole DAG (src -> fine ->
    //      roll). Oracle: hash-checked n_rows (count algebra must be
    //      exact through TWO levels) + exact p50/p95 + the α gate. ----
    "mv12_quantile_rollup" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv12")
        val li = Tables.lineitem(s, dir)
        val src0 = li.select(col("l_orderkey"), col("l_suppkey"),
          (col("l_suppkey") % 10).as("cgrp"),
          col("l_quantity").cast("long").as("qty"))
        st.create("src", src0.filter(col("l_orderkey") % 4 === 1))
        st.setChangeFeed("src", true)
        graft.ops.Ivm.createCountSumView(st, "fine", "src",
          Seq("cgrp", "l_suppkey"), "qty", kind = "quantile")
        st.setChangeFeed("fine", true)
        graft.ops.Ivm.createQuantileRollup(st, "roll", "fine", Seq("cgrp"))
        st.updateVectorized("src", col("l_orderkey") % 9 === 0,
          Map("l_suppkey" -> (col("l_suppkey") + 7L),
            "cgrp" -> ((col("l_suppkey") + 7L) % 10)))
        st.deleteVectorized("src", col("l_orderkey") % 10 === 3)
        st.append("src", src0.filter(col("l_orderkey") % 4 === 2))
        graft.ops.Ivm.refreshView(st, "roll") // cascades fine first
        graft.ops.Ivm.refreshView(st, "roll") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "roll")
        val est = graft.ops.Ivm.readQuantileView(st, "roll", Seq(0.5, 0.95))
        val exact = st.read("src").groupBy(col("cgrp"))
          .agg(expr("percentile(qty, 0.5)").as("p50_exact"),
            expr("percentile(qty, 0.95)").as("p95_exact"))
        exact.join(est, Seq("cgrp"), "left")
          .select(col("cgrp"), col("n_rows"),
            round(col("p50_exact"), 4).as("p50_exact"),
            round(col("p95_exact"), 4).as("p95_exact"),
            (col("q50").isNotNull && col("q95").isNotNull &&
              abs(col("q50") - col("p50_exact")) <=
                greatest(col("p50_exact") * lit(0.10), lit(2.0)) &&
              abs(col("q95") - col("p95_exact")) <=
                greatest(col("p95_exact") * lit(0.10), lit(2.0)))
              .as("within_err"))
      },
      Some("""WITH init AS (
             |  SELECT l_orderkey, l_suppkey,
             |         CAST(l_quantity AS BIGINT) AS qty
             |  FROM lineitem WHERE l_orderkey % 4 = 1),
             |upd AS (
             |  SELECT l_orderkey,
             |    CASE WHEN l_orderkey % 9 = 0 THEN l_suppkey + 7
             |         ELSE l_suppkey END AS l_suppkey,
             |    qty
             |  FROM init),
             |del AS (SELECT * FROM upd WHERE l_orderkey % 10 <> 3),
             |fin AS (SELECT * FROM del
             |        UNION ALL
             |        SELECT l_orderkey, l_suppkey, CAST(l_quantity AS BIGINT)
             |        FROM lineitem WHERE l_orderkey % 4 = 2)
             |SELECT l_suppkey % 10 AS cgrp,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  round(quantile_cont(qty, 0.5), 4) AS p50_exact,
             |  round(quantile_cont(qty, 0.95), 4) AS p95_exact,
             |  TRUE AS within_err
             |FROM fin GROUP BY 1""".stripMargin)),

    // ---- sql_matview_quantile: mv11 through the PURE SQL registry
    //      face (CALL create_agg_view kind='quantile' / refresh /
    //      compact; n_rows read back by SELECT over the view) —
    //      digest-equal to mv11 and st24 BY DESIGN: one histogram
    //      algebra, three drivers. Own catalog name so the session's
    //      catalog-by-name cache never re-roots a shared catalog. ----
    "sql_matview_quantile" -> QDef(
      (s, dir) => {
        val root = "/tmp/graft_qstore/mv11sql"
        graft.core.FsUtil.clearAsync(new java.io.File(root))
        val st = new TableStore(s, root)
        s.conf.set("spark.sql.catalog.gmv11sql", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gmv11sql.root", root)
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li)
        s.sql("CALL gmv11sql.system.create_agg_view('q_view', 'src', " +
          "'l_suppkey', 'qty', 'quantile', 8)")
        ivmMutateSource(st, li)
        s.sql("CALL gmv11sql.system.refresh_agg_view('q_view')")
        s.sql("CALL gmv11sql.system.refresh_agg_view('q_view')") // no-op
        s.sql("CALL gmv11sql.system.compact_agg_view('q_view')")
        // the view is a plain SQL-readable table (hist rides as an
        // array<struct> column); quantile extraction via the read face
        val sqlN = s.sql(
          "SELECT l_suppkey, n_rows FROM gmv11sql.q_view WHERE hist IS NOT NULL")
        val est = graft.ops.Ivm.readQuantileView(st, "q_view", Seq(0.5, 0.95))
          .drop("n_rows")
        val exact = st.read("src").groupBy(col("l_suppkey"))
          .agg(expr("percentile(qty, 0.5)").as("p50_exact"),
            expr("percentile(qty, 0.95)").as("p95_exact"))
        exact.join(sqlN, Seq("l_suppkey"), "left")
          .join(est, Seq("l_suppkey"), "left")
          .select(col("l_suppkey"), col("n_rows"),
            round(col("p50_exact"), 4).as("p50_exact"),
            round(col("p95_exact"), 4).as("p95_exact"),
            (col("q50").isNotNull && col("q95").isNotNull &&
              abs(col("q50") - col("p50_exact")) <=
                greatest(col("p50_exact") * lit(0.10), lit(2.0)) &&
              abs(col("q95") - col("p95_exact")) <=
                greatest(col("p95_exact") * lit(0.10), lit(2.0)))
              .as("within_err"))
      },
      Some(ivmOracle(
        """CAST(count(*) AS BIGINT) AS n_rows,
          |  round(quantile_cont(qty, 0.5), 4) AS p50_exact,
          |  round(quantile_cont(qty, 0.95), 4) AS p95_exact,
          |  TRUE AS within_err""".stripMargin))),

    // ---- mv11: incremental APPROX-QUANTILE — the histogram-state IVM
    //      kind: DDSketch log bins per group. Counts per bin form a
    //      full abelian group (inserts add, retractions subtract,
    //      EXACTLY), so this is the engine's first approximate kind
    //      with NO recompute arm at all — the group-moving update and
    //      the delete below absorb by the same pure algebra as the
    //      append, never a source read. That exactness is driver-
    //      visible: the view's own maintained n_rows is emitted as a
    //      HASH-CHECKED column (count algebra must be exact), beside
    //      the exact p50/p95 (Spark percentile ≡ DuckDB quantile_cont,
    //      a12's pattern) and the a13-style gate on the maintained
    //      estimates (registered α=1% + discrete-rank slop; a stale
    //      view or broken merge turns the row red, never no_oracle). ----
    "mv11_incremental_quantile" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv11")
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li)
        graft.ops.Ivm.createCountSumView(st, "q_view", "src",
          Seq("l_suppkey"), "qty", kind = "quantile")
        ivmMutateSource(st, li) // update moves groups, delete retracts,
                                // append inserts — all the algebra arm
        graft.ops.Ivm.refreshView(st, "q_view")
        graft.ops.Ivm.refreshView(st, "q_view") // re-delivery: absorbs 0
        graft.ops.Ivm.compactView(st, "q_view") // sweep NULL tombstones
        val est = graft.ops.Ivm.readQuantileView(st, "q_view", Seq(0.5, 0.95))
        // the exact side exists only for the gate + hash columns —
        // production reads the maintained histogram
        val exact = st.read("src").groupBy(col("l_suppkey"))
          .agg(expr("percentile(qty, 0.5)").as("p50_exact"),
            expr("percentile(qty, 0.95)").as("p95_exact"))
        exact.join(est, Seq("l_suppkey"), "left")
          .select(col("l_suppkey"), col("n_rows"),
            round(col("p50_exact"), 4).as("p50_exact"),
            round(col("p95_exact"), 4).as("p95_exact"),
            (col("q50").isNotNull && col("q95").isNotNull &&
              abs(col("q50") - col("p50_exact")) <=
                greatest(col("p50_exact") * lit(0.10), lit(2.0)) &&
              abs(col("q95") - col("p95_exact")) <=
                greatest(col("p95_exact") * lit(0.10), lit(2.0)))
              .as("within_err"))
      },
      Some(ivmOracle(
        """CAST(count(*) AS BIGINT) AS n_rows,
          |  round(quantile_cont(qty, 0.5), 4) AS p50_exact,
          |  round(quantile_cont(qty, 0.95), 4) AS p95_exact,
          |  TRUE AS within_err""".stripMargin))),

    "mv1_incremental_agg" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv1")
        val li = ivmLineitem(s, dir)
        val v0 = ivmCreateSource(st, li)
        // initial full compute, ONCE, at the seed version
        st.createBucketed("agg_view", st.readVersion("src", v0)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty")),
          Seq("l_suppkey"), 8)
        ivmMutateSource(st, li) // the backlog the view absorbs
        graft.ops.Ivm.applyCountSumDelta(st, "agg_view",
          st.readChangesBetween("src", v0, st.currentVersion("src")),
          groupCols = Seq("l_suppkey"), valueCol = "qty")
        // maintenance-window sweep of retraction tombstones (a no-op
        // when no group emptied), then the consumer face
        graft.ops.Ivm.compactDead(st, "agg_view", Seq("l_suppkey"))
        graft.ops.Ivm.readView(st, "agg_view")
          .select(col("l_suppkey"), col("n_rows"), col("sum_qty"))
      },
      Some(ivmOracle(IvmCountSumAgg))),

    // ---- mv2: incremental MAX — the NON-distributive IVM face.
    //      Count/sum retract by algebra (mv1); MAX cannot: retracting
    //      the current max may or may not lower it (another row can
    //      carry the same value). applyMaxDelta absorbs raises by
    //      algebra and recomputes ONLY the groups whose retraction
    //      reaches the stored max, from a version-pinned group-pruned
    //      source read — O(affected groups' rows), never the table.
    //      Same mutation history as mv1: the suppkey-shifting update
    //      retracts low values (the algebra arm) and the delete
    //      retracts arbitrary ones incl. group maxima (the recompute
    //      arm) — both paths run here. Oracle: direct MAX per group
    //      over the replayed final state. ----
    "mv2_incremental_max" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv2")
        val li = ivmLineitem(s, dir)
        val v0 = ivmCreateSource(st, li)
        st.createBucketed("max_view", st.readVersion("src", v0)
          .groupBy(col("l_suppkey")).agg(max(col("qty")).as("mx")),
          Seq("l_suppkey"), 8)
        ivmMutateSource(st, li)
        val vEnd = st.currentVersion("src")
        graft.ops.Ivm.applyMaxDelta(st, "max_view", "src", vEnd,
          st.readChangesBetween("src", v0, vEnd),
          groupCols = Seq("l_suppkey"), valueCol = "qty")
        graft.ops.Ivm.compactDeadMax(st, "max_view", Seq("l_suppkey"))
        graft.ops.Ivm.readMaxView(st, "max_view")
          .select(col("l_suppkey"), col("mx"))
      },
      Some(ivmOracle("CAST(max(qty) AS BIGINT) AS mx"))),

    // ---- mv3: incremental COUNT(DISTINCT) — the auxiliary-state IVM
    //      face, completing the aggregate-class story: sum/count
    //      retract by algebra (mv1), max by bounded recompute (mv2),
    //      and DISTINCT by maintaining the exact multiplicity state no
    //      sketch can retract (HLL has no delete). The aux table keys
    //      (group, value) and absorbs the feed through the SAME
    //      count-sum core — a value's multiplicity hitting zero IS the
    //      distinct retraction. The distinct count itself is a SECOND-
    //      LEVEL view maintained from the aux table's OWN change feed:
    //      aux CDF rows filtered to live multiplicities (n_rows > 0)
    //      make a (g,v) pair's birth/death a clean ±1 — a 2→3
    //      multiplicity update nets to zero through its pre/postimage
    //      pair — so the SAME count-sum core maintains (group,
    //      n_distinct). Maintenance stays O(changed rows → changed
    //      (group, value) pairs) at BOTH levels, and the read face is
    //      O(changed groups), never O(live aux) — the 100 TB cap the
    //      r11 verdict asked for (next-round #5). ----
    "mv3_incremental_distinct" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv3")
        val li = ivmLineitem(s, dir)
        val v0 = ivmCreateSource(st, li)
        st.createBucketed("aux", st.readVersion("src", v0)
          .groupBy(col("l_suppkey"), col("qty"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty")),
          Seq("l_suppkey"), 8)
        st.setChangeFeed("aux", true)
        val auxV0 = st.currentVersion("aux")
        // second level seeded from aux's pinned state: n_rows counts the
        // DISTINCT values per group (one live aux row each), sum_qty
        // sums them — maintained from aux's feed, never recomputed
        st.createBucketed("cnt_view", st.readVersion("aux", auxV0)
          .filter(col("n_rows") > 0L)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty")),
          Seq("l_suppkey"), 8)
        ivmMutateSource(st, li)
        graft.ops.Ivm.applyCountSumDelta(st, "aux",
          st.readChangesBetween("src", v0, st.currentVersion("src")),
          groupCols = Seq("l_suppkey", "qty"), valueCol = "qty")
        // cascade: aux's CDF → the count view. Pre/postimages of a
        // still-live multiplicity cancel; only 0↔live transitions count
        graft.ops.Ivm.applyCountSumDelta(st, "cnt_view",
          st.readChangesBetween("aux", auxV0, st.currentVersion("aux"))
            .filter(col("n_rows") > 0L),
          groupCols = Seq("l_suppkey"), valueCol = "qty")
        graft.ops.Ivm.compactDead(st, "cnt_view", Seq("l_suppkey"))
        graft.ops.Ivm.readView(st, "cnt_view")
          .select(col("l_suppkey"), col("n_rows").as("n_distinct"))
      },
      Some(ivmOracle("CAST(count(DISTINCT qty) AS BIGINT) AS n_distinct"))),

    // ---- mv4: incremental maintenance of a JOIN view — THE reference
    //      shape (gold fact = silver × dims, Gold/fact/
    //      validate_fact_transactions.py:152-224), maintained by
    //      delta-join algebra instead of the rebuild job_fact_star
    //      does: ΔV = ΔS ⋈ D ∪ S ⋈ ΔD. Two batches prove both arms:
    //      batch 1 is a silver backlog (update + delete + append —
    //      including keys hit by BOTH an update and the delete, so the
    //      last-writer-wins collapse is load-bearing) joined against
    //      broadcast dims; batch 2 is DIM-ONLY change (the SCD-style
    //      attribute drift) — customer renames plus a nation rename
    //      that propagates to affected custkeys DIM-SIDE (snowflake
    //      walk over broadcast-small tables), then re-enriches exactly
    //      the view's rows carrying those FKs — never a fact rescan,
    //      never a silver rescan. Deletes land as _live=false
    //      tombstones in the same commit (no partial-apply window);
    //      the sweep is the conflict-safe compactDeadJoin. Oracle:
    //      replay the whole history relationally and join the final
    //      states — equality proves the incremental path converged to
    //      the rebuild. ----
    "mv4_incremental_star" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv4")
        val orders = Tables.orders(s, dir)
        val silverAll = orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
        // seed: silver (CDF on), two dims (CDF on)
        st.createEmpty("silver", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE, status STRING"))
        st.setChangeFeed("silver", true)
        st.append("silver", silverAll.filter(col("o_orderkey") % 3 === 0))
        val sv0 = st.currentVersion("silver")
        st.create("dcust", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
        st.setChangeFeed("dcust", true)
        st.create("dnat", Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name")))
        st.setChangeFeed("dnat", true)
        def dims(src: DataFrame): DataFrame = src
          .join(broadcast(st.read("dcust")),
            col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(st.read("dnat")),
            col("c_nationkey") === col("n_nationkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"), col("price"),
            col("status"), col("c_name"), col("n_name"))
        // initial full compute, ONCE — the last full-join this view runs
        st.createBucketed("fact",
          dims(st.readVersion("silver", sv0)).withColumn("_live", lit(true)),
          Seq("o_orderkey"), 8)

        // ---- batch 1: silver backlog (ΔS ⋈ D) ----
        st.updateVectorized("silver", col("o_orderkey") % 5 === 0,
          Map("price" -> (col("price") + 1000d)))
        st.deleteVectorized("silver", col("o_orderkey") % 7 === 0)
        st.append("silver", silverAll.filter(col("o_orderkey") % 3 === 1))
        val sv1 = st.currentVersion("silver")
        graft.ops.Ivm.applyJoinDelta(st, "fact", "silver", sv0, sv1,
          keys = Seq("o_orderkey"), enrich = dims,
          txn = Some(("mv4", 1L)))

        // ---- batch 2: dim-only backlog (S ⋈ ΔD) ----
        val cv0 = st.currentVersion("dcust")
        val nv0 = st.currentVersion("dnat")
        st.updateVectorized("dcust", col("c_custkey") % 4 === 0,
          Map("c_name" -> concat(col("c_name"), lit("!"))))
        st.updateVectorized("dnat", col("n_nationkey") % 2 === 0,
          Map("n_name" -> concat(col("n_name"), lit("!"))))
        // affected FKs, computed dim-side: directly renamed customers ∪
        // customers of renamed nations (snowflake walk, all broadcast)
        val affected = st.readChangesBetween("dcust", cv0, st.currentVersion("dcust"))
          .select(col("c_custkey").as("o_custkey"))
          .unionByName(st.read("dcust")
            .join(broadcast(
              st.readChangesBetween("dnat", nv0, st.currentVersion("dnat"))
                .select(col("n_nationkey").as("c_nationkey")).distinct()),
              Seq("c_nationkey"), "left_semi")
            .select(col("c_custkey").as("o_custkey")))
        graft.ops.Ivm.applyJoinDelta(st, "fact", "silver", sv1, sv1,
          keys = Seq("o_orderkey"), enrich = dims,
          dimAffected = Some((affected, Seq("o_custkey"))),
          txn = Some(("mv4", 2L)))

        graft.ops.Ivm.compactDeadJoin(st, "fact", Seq("o_orderkey"))
        graft.ops.Ivm.readJoinView(st, "fact")
      },
      Mv4OracleSql),

    // ---- mv5: a grouped aggregate maintained OVER the maintained join
    //      view — the two-level IVM DAG the gold reporting layer
    //      actually is (source → star join → per-nation rollup), each
    //      level incremental and exactly-once. Level 1 is mv4's
    //      delta-join apply with CDF ON; level 2 tails the JOIN VIEW'S
    //      OWN change feed through the same count-sum core, filtered
    //      to live rows: a row's birth is +1, its tombstoning
    //      surfaces as (live preimage −1, filtered postimage), and a
    //      DIM RENAME that moves rows between groups (n_name IS the
    //      group key) retracts from the old group and adds to the new
    //      one through the pre/postimage pair — the cascade never
    //      re-reads silver, the dims, or the unchanged fact region.
    //      Integer price (pure o_orderkey arithmetic) keeps the
    //      incremental sums bit-exact against the oracle's replay. ----
    "mv5_incremental_star_agg" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv5")
        val orders = Tables.orders(s, dir)
        val silverAll = orders.select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 1000 + 1).as("price_c"),
          col("o_orderstatus").as("status"))
        st.createEmpty("silver", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price_c BIGINT, status STRING"))
        st.setChangeFeed("silver", true)
        st.append("silver", silverAll.filter(col("o_orderkey") % 3 === 0))
        val sv0 = st.currentVersion("silver")
        st.create("dcust", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
        st.setChangeFeed("dcust", true)
        st.create("dnat", Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name")))
        st.setChangeFeed("dnat", true)
        def dims(src: DataFrame): DataFrame = src
          .join(broadcast(st.read("dcust")),
            col("o_custkey") === col("c_custkey"), "left")
          .join(broadcast(st.read("dnat")),
            col("c_nationkey") === col("n_nationkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"), col("price_c"),
            col("status"), col("c_name"), col("n_name"))
        // LEVEL 1: the join view, with ITS OWN change feed for level 2
        st.createBucketed("fact",
          dims(st.readVersion("silver", sv0)).withColumn("_live", lit(true)),
          Seq("o_orderkey"), 8)
        st.setChangeFeed("fact", true)
        val fv0 = st.currentVersion("fact")
        // LEVEL 2: per-nation rollup seeded from the pinned fact state
        st.createBucketed("agg", st.readVersion("fact", fv0)
          .filter(col("_live"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_qty")),
          Seq("n_name"), 4)

        // silver backlog (update + delete + append), then dim renames —
        // the nation rename MOVES fact rows between level-2 groups
        st.updateVectorized("silver", col("o_orderkey") % 5 === 0,
          Map("price_c" -> (col("price_c") + 7L)))
        st.deleteVectorized("silver", col("o_orderkey") % 7 === 0)
        st.append("silver", silverAll.filter(col("o_orderkey") % 3 === 1))
        val sv1 = st.currentVersion("silver")
        graft.ops.Ivm.applyJoinDelta(st, "fact", "silver", sv0, sv1,
          keys = Seq("o_orderkey"), enrich = dims, txn = Some(("mv5", 1L)))
        val cv0 = st.currentVersion("dcust")
        val nv0 = st.currentVersion("dnat")
        st.updateVectorized("dcust", col("c_custkey") % 4 === 0,
          Map("c_name" -> concat(col("c_name"), lit("!"))))
        st.updateVectorized("dnat", col("n_nationkey") % 2 === 0,
          Map("n_name" -> concat(col("n_name"), lit("!"))))
        val affected = st.readChangesBetween("dcust", cv0, st.currentVersion("dcust"))
          .select(col("c_custkey").as("o_custkey"))
          .unionByName(st.read("dcust")
            .join(broadcast(
              st.readChangesBetween("dnat", nv0, st.currentVersion("dnat"))
                .select(col("n_nationkey").as("c_nationkey")).distinct()),
              Seq("c_nationkey"), "left_semi")
            .select(col("c_custkey").as("o_custkey")))
        graft.ops.Ivm.applyJoinDelta(st, "fact", "silver", sv1, sv1,
          keys = Seq("o_orderkey"), enrich = dims,
          dimAffected = Some((affected, Seq("o_custkey"))),
          txn = Some(("mv5", 2L)))

        // CASCADE: the fact's own feed drives the rollup. Live-row
        // filter makes birth/death a clean ±1 (a tombstoning surfaces
        // as live preimage only) and group moves net through the
        // pre/postimage pair.
        graft.ops.Ivm.applyCountSumDelta(st, "agg",
          st.readChangesBetween("fact", fv0, st.currentVersion("fact"))
            .filter(col("_live")),
          groupCols = Seq("n_name"), valueCol = "price_c",
          txn = Some(("mv5_agg", 1L)))
        graft.ops.Ivm.compactDead(st, "agg", Seq("n_name"))
        graft.ops.Ivm.readView(st, "agg")
          .select(col("n_name"), col("n_rows"), col("sum_qty").as("sum_price_c"))
      },
      Mv5OracleSql),

    // ---- mv6: SYMMETRIC two-big-sided delta join — the IVM class
    //      beyond the star: view = A ⋈ B where NEITHER side is
    //      broadcast-small (orders × events by customer — the
    //      "transactions × user activity" join), maintained by the
    //      full algebra ΔV = ΔA ⋈ B ∪ (A − ΔA) ⋈ ΔB with the
    //      superseded-pair rule sweeping every retraction: row
    //      deletes, JOIN-KEY MOVES on BOTH sides (an order moved to
    //      another customer kills its old pairs and mints the new
    //      ones), and partner loss, all in one commit. Cost is
    //      O(Δ ⋈ partners + touched pairs), never |A ⋈ B|. Oracle:
    //      replay both sides, inner-join the final states. ----
    "mv6_incremental_join2" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "mv6")
        val ordersAll = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice").as("price"))
        val eventsAll = Tables.events(s, dir).select(col("event_id"),
          col("user_id"), col("event_type"))
        st.createEmpty("ta", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE"))
        st.setChangeFeed("ta", true)
        st.append("ta", ordersAll.filter(col("o_orderkey") % 3 === 0))
        val a0 = st.currentVersion("ta")
        st.createEmpty("tb", org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, event_type STRING"))
        st.setChangeFeed("tb", true)
        st.append("tb", eventsAll.filter(col("event_id") % 2 === 0))
        val b0 = st.currentVersion("tb")
        def combine(a: DataFrame, b: DataFrame): DataFrame =
          a.join(b, col("o_custkey") === col("user_id"))
            .select(col("o_orderkey"), col("event_id"), col("o_custkey"),
              col("price"), col("event_type"))
        st.createBucketed("pairs",
          combine(st.readVersion("ta", a0), st.readVersion("tb", b0))
            .withColumn("_live", lit(true)),
          Seq("o_orderkey"), 8)
        // A backlog: a JOIN-KEY MOVE, a value update, a delete, an append
        st.updateVectorized("ta", col("o_orderkey") % 11 === 0,
          Map("o_custkey" -> (col("o_custkey") % 500 + 1)))
        st.updateVectorized("ta", col("o_orderkey") % 5 === 0,
          Map("price" -> (col("price") + 1000d)))
        st.deleteVectorized("ta", col("o_orderkey") % 7 === 0)
        st.append("ta", ordersAll.filter(col("o_orderkey") % 3 === 1))
        // B backlog: a join-key move, a delete, an append
        st.updateVectorized("tb", col("event_id") % 9 === 0,
          Map("user_id" -> (col("user_id") % 500 + 1)))
        st.deleteVectorized("tb", col("event_id") % 5 === 0)
        st.append("tb", eventsAll.filter(col("event_id") % 2 === 1))
        graft.ops.Ivm.applyTwoSidedJoinDelta(st, "pairs",
          "ta", a0, st.currentVersion("ta"), Seq("o_orderkey"),
          "tb", b0, st.currentVersion("tb"), Seq("event_id"),
          combine, txn = Some(("mv6", 1L)))
        graft.ops.Ivm.compactDeadJoin(st, "pairs",
          Seq("o_orderkey", "event_id"))
        graft.ops.Ivm.readJoinView(st, "pairs")
      },
      Mv6OracleSql),

    // ---- REGISTERED two-sided join view through SQL: mv6's pair view
    //      (orders × events by customer, both sides fact-sized)
    //      declared with CALL create_join2_view — the join condition
    //      and projection are pure data, so the definition fits the
    //      registry — then the WHOLE mutation history (join-key moves,
    //      deletes, appends on BOTH sides) absorbed by one CALL
    //      refresh_join2_view deriving both windows itself. Oracle:
    //      mv6's — digest-equal to the library call. ----
    "sql_matview_join2" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "j2a")
        Seq("j2b", "j2v").foreach(t =>
          graft.core.FsUtil.clearAsync(
            new java.io.File(s"/tmp/graft_qstore/sqlcat/$t")))
        val ordersAll = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice").as("price"))
        val eventsAll = Tables.events(s, dir).select(col("event_id"),
          col("user_id"), col("event_type"))
        st.createEmpty("j2a", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE"))
        st.setChangeFeed("j2a", true)
        st.append("j2a", ordersAll.filter(col("o_orderkey") % 3 === 0))
        st.createEmpty("j2b", org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, event_type STRING"))
        st.setChangeFeed("j2b", true)
        st.append("j2b", eventsAll.filter(col("event_id") % 2 === 0))
        s.sql("""CALL graft.system.create_join2_view('j2v', 'j2a',
                |  'o_orderkey', 'j2b', 'event_id', 'o_custkey=user_id',
                |  'event_type', 8)""".stripMargin)
        // the mv6 history on both sides, one refresh window
        st.updateVectorized("j2a", col("o_orderkey") % 11 === 0,
          Map("o_custkey" -> (col("o_custkey") % 500 + 1)))
        st.updateVectorized("j2a", col("o_orderkey") % 5 === 0,
          Map("price" -> (col("price") + 1000d)))
        st.deleteVectorized("j2a", col("o_orderkey") % 7 === 0)
        st.append("j2a", ordersAll.filter(col("o_orderkey") % 3 === 1))
        st.updateVectorized("j2b", col("event_id") % 9 === 0,
          Map("user_id" -> (col("user_id") % 500 + 1)))
        st.deleteVectorized("j2b", col("event_id") % 5 === 0)
        st.append("j2b", eventsAll.filter(col("event_id") % 2 === 1))
        val r1 = s.sql("CALL graft.system.refresh_join2_view('j2v')")
          .head().getLong(1)
        require(r1 == 7L, s"refresh must absorb 4 + 3 versions, got $r1")
        val r2 = s.sql("CALL graft.system.refresh_join2_view('j2v')")
          .head().getLong(1)
        require(r2 == 0L, s"idle refresh must absorb nothing, got $r2")
        s.sql("CALL graft.system.compact_agg_view('j2v')")
        s.sql("""SELECT o_orderkey, event_id, o_custkey, price, event_type
                |FROM graft.j2v WHERE _live""".stripMargin)
      },
      Mv6OracleSql),


    // ---- MATERIALIZED VIEWS AS FIRST-CLASS SQL OBJECTS: CREATE /
    //      REFRESH / COMPACT driven entirely through CALL procedures.
    //      The view's definition lives in its own manifest properties
    //      and its absorbed-source watermark in its txn registry, so
    //      REFRESH is SELF-DRIVING: each CALL derives its change-feed
    //      window from the registry and lands data + bookkeeping in
    //      ONE commit (crash-atomic, idempotent, loud under races —
    //      the same Delta-txn mechanics as the library face). The
    //      mv1 history is split across TWO refresh cycles here, and
    //      the oracle is mv1's own — the SQL surface and the library
    //      call must be digest-EQUAL. ----
    "sql_matview_refresh" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "mvsrc")
        graft.core.FsUtil.clearAsync(
          new java.io.File("/tmp/graft_qstore/sqlcat/mvagg"))
        val li = ivmLineitem(s, dir)
        ivmCreateSource(st, li, table = "mvsrc")
        s.sql("""CALL graft.system.create_agg_view(
                |  'mvagg', 'mvsrc', 'l_suppkey', 'qty', 'count_sum', 8)""".stripMargin)
        // refresh cycle 1: the update + delete arms
        st.updateVectorized("mvsrc", col("qty") <= 10L,
          Map("l_suppkey" -> (col("l_suppkey") + 100000L)))
        st.deleteVectorized("mvsrc", col("l_orderkey") % 10 === 3)
        val r1 = s.sql("CALL graft.system.refresh_agg_view('mvagg')")
          .head().getLong(1)
        require(r1 == 2L, s"refresh 1 must absorb 2 source versions, got $r1")
        // refresh cycle 2: the insert-only arm; then an idle refresh
        st.append("mvsrc", li.filter(col("l_orderkey") % 4 === 2))
        val r2 = s.sql("CALL graft.system.refresh_agg_view('mvagg')")
          .head().getLong(1)
        require(r2 == 1L, s"refresh 2 must absorb 1 source version, got $r2")
        val r3 = s.sql("CALL graft.system.refresh_agg_view('mvagg')")
          .head().getLong(1)
        require(r3 == 0L, s"idle refresh must absorb nothing, got $r3")
        s.sql("CALL graft.system.compact_agg_view('mvagg')")
        s.sql("""SELECT l_suppkey, n_rows, sum_qty FROM graft.mvagg
                |WHERE n_rows > 0""".stripMargin)
      },
      Some(ivmOracle(IvmCountSumAgg))),

    // ---- DECLARATIVE JOIN VIEW through SQL: mv4's star (silver ×
    //      customer × nation, snowflake chain) registered with CALL
    //      create_join_view from a STRING dim spec, then maintained by
    //      two CALL refresh_join_view cycles — the first absorbing the
    //      silver backlog, the second a DIM-ONLY change whose affected
    //      keys the refresh derives ITSELF by backward propagation
    //      through the registered chain (no caller-side delta logic at
    //      all). Every absorbed-source watermark advances in the
    //      apply's own commit. Oracle: mv4's — the SQL object and the
    //      library call must be digest-EQUAL. ----
    "sql_matview_join" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "jvsrc")
        Seq("jvfact", "jvdc", "jvdn").foreach(t =>
          graft.core.FsUtil.clearAsync(
            new java.io.File(s"/tmp/graft_qstore/sqlcat/$t")))
        val orders = Tables.orders(s, dir)
        val silverAll = orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"), col("o_orderstatus").as("status"))
        st.createEmpty("jvsrc", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE, status STRING"))
        st.setChangeFeed("jvsrc", true)
        st.append("jvsrc", silverAll.filter(col("o_orderkey") % 3 === 0))
        st.create("jvdc", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
        st.setChangeFeed("jvdc", true)
        st.create("jvdn", Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name")))
        st.setChangeFeed("jvdn", true)
        s.sql("""CALL graft.system.create_join_view('jvfact', 'jvsrc',
                |  'o_orderkey',
                |  'jvdc:o_custkey=c_custkey:c_name|jvdn:c_nationkey=n_nationkey:n_name',
                |  8)""".stripMargin)
        // cycle 1: the silver backlog
        st.updateVectorized("jvsrc", col("o_orderkey") % 5 === 0,
          Map("price" -> (col("price") + 1000d)))
        st.deleteVectorized("jvsrc", col("o_orderkey") % 7 === 0)
        st.append("jvsrc", silverAll.filter(col("o_orderkey") % 3 === 1))
        val r1 = s.sql("CALL graft.system.refresh_join_view('jvfact')")
          .head().getLong(1)
        require(r1 == 3L, s"cycle 1 must absorb 3 source versions, got $r1")
        // cycle 2: DIM-ONLY — the refresh must find the affected keys
        st.updateVectorized("jvdc", col("c_custkey") % 4 === 0,
          Map("c_name" -> concat(col("c_name"), lit("!"))))
        st.updateVectorized("jvdn", col("n_nationkey") % 2 === 0,
          Map("n_name" -> concat(col("n_name"), lit("!"))))
        val r2 = s.sql("CALL graft.system.refresh_join_view('jvfact')")
          .head().getLong(1)
        require(r2 == 2L, s"cycle 2 must absorb 2 dim versions, got $r2")
        val r3 = s.sql("CALL graft.system.refresh_join_view('jvfact')")
          .head().getLong(1)
        require(r3 == 0L, s"idle refresh must absorb nothing, got $r3")
        s.sql("CALL graft.system.compact_agg_view('jvfact')")
        s.sql("""SELECT o_orderkey, o_custkey, price, status, c_name, n_name
                |FROM graft.jvfact WHERE _live""".stripMargin)
      },
      Mv4OracleSql),

    // ---- THE REGISTERED DAG: mv5's two-level pipeline (silver →
    //      star join → per-nation rollup) built ENTIRELY from SQL
    //      objects — create_join_view + set_change_feed on the view +
    //      create_agg_view SOURCED FROM THE JOIN VIEW — and refreshed
    //      root-to-leaf by ONE CALL per cycle: refresh_agg_view walks
    //      ivm.source, refreshes the join view first (source + dim
    //      windows, affected keys self-derived), then absorbs the
    //      join view's own feed filtered to its live face (a pair's
    //      tombstoning retracts; a dim rename that moves rows between
    //      nations re-groups through the pre/postimage pair). Oracle:
    //      mv5's — the registered DAG and the library cascade must be
    //      digest-EQUAL. ----
    "sql_matview_dag" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "dgsrc")
        Seq("dgfact", "dgagg", "dgdc", "dgdn").foreach(t =>
          graft.core.FsUtil.clearAsync(
            new java.io.File(s"/tmp/graft_qstore/sqlcat/$t")))
        val orders = Tables.orders(s, dir)
        val silverAll = orders.select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderkey") % 1000 + 1).as("price_c"),
          col("o_orderstatus").as("status"))
        st.createEmpty("dgsrc", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, price_c BIGINT, status STRING"))
        st.setChangeFeed("dgsrc", true)
        st.append("dgsrc", silverAll.filter(col("o_orderkey") % 3 === 0))
        st.create("dgdc", Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
        st.setChangeFeed("dgdc", true)
        st.create("dgdn", Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name")))
        st.setChangeFeed("dgdn", true)
        s.sql("""CALL graft.system.create_join_view('dgfact', 'dgsrc',
                |  'o_orderkey',
                |  'dgdc:o_custkey=c_custkey:c_name|dgdn:c_nationkey=n_nationkey:n_name',
                |  8)""".stripMargin)
        s.sql("CALL graft.system.set_change_feed('dgfact', true)")
        s.sql("""CALL graft.system.create_agg_view(
                |  'dgagg', 'dgfact', 'n_name', 'price_c', 'count_sum', 4)""".stripMargin)
        // cycle 1: the silver backlog, absorbed through BOTH levels
        st.updateVectorized("dgsrc", col("o_orderkey") % 5 === 0,
          Map("price_c" -> (col("price_c") + 7L)))
        st.deleteVectorized("dgsrc", col("o_orderkey") % 7 === 0)
        st.append("dgsrc", silverAll.filter(col("o_orderkey") % 3 === 1))
        s.sql("CALL graft.system.refresh_agg_view('dgagg')")
        // cycle 2: dim-only — the nation rename MOVES rows between
        // the rollup's groups
        st.updateVectorized("dgdc", col("c_custkey") % 4 === 0,
          Map("c_name" -> concat(col("c_name"), lit("!"))))
        st.updateVectorized("dgdn", col("n_nationkey") % 2 === 0,
          Map("n_name" -> concat(col("n_name"), lit("!"))))
        s.sql("CALL graft.system.refresh_agg_view('dgagg')")
        val r3 = s.sql("CALL graft.system.refresh_agg_view('dgagg')")
          .head().getLong(1)
        require(r3 == 0L, s"idle DAG refresh must absorb nothing, got $r3")
        s.sql("CALL graft.system.compact_agg_view('dgagg')")
        s.sql("""SELECT n_name, n_rows, sum_qty AS sum_price_c
                |FROM graft.dgagg WHERE n_rows > 0""".stripMargin)
      },
      Mv5OracleSql),

    // ---- ROW-ID LINEAGE: row ids partition by origin commit (initial
    //      load gets [0, n0), later appends get ids >= n0) and SURVIVE
    //      merge-on-read mutation — so "which load did this row come
    //      from" is a range test on `_row_id`, still correct after an
    //      update (ids preserved via materialized postimage rids) and
    //      a DV delete. The oracle re-derives the per-origin counts
    //      relationally; they only match if ids really are stable. ----
    "m12_rowid_lineage" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m12_lineage")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        st.createEmpty("t", org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE"))
        st.enableRowTracking("t")
        val initial = o.filter(col("o_orderkey") % 3 === 0)
        st.append("t", initial)
        val n0 = initial.count() // id watermark after the initial load
        st.updateVectorized("t", col("o_custkey") % 5 === 0,
          Map("o_totalprice" -> (col("o_totalprice") * 2)))
        st.deleteVectorized("t", col("o_orderkey") % 7 === 0)
        st.append("t", o.filter(col("o_orderkey") % 3 === 1))
        st.readWithRowIds("t")
          .withColumn("origin",
            when(col("_row_id") < n0, "initial").otherwise("appended"))
          .groupBy("origin")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT 'initial' AS origin, COUNT(*) AS n,
             |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
             |UNION ALL
             |SELECT 'appended', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
             |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin)),

    // ---- CLONE: zero-copy table copy (hard-linked files, fresh
    //      manifest); the clone mutates independently of its source. ----
    "sql_clone" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "cl")
        graft.core.FsUtil.clearAsync(
          new java.io.File("/tmp/graft_qstore/sqlcat/cl2"))
        st.create("cl", Tables.nation(s, dir)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
        s.sql("CALL graft.system.clone('cl', 'cl2')")
        s.sql("DELETE FROM graft.cl2 WHERE n_nationkey < 10")
        s.sql("""SELECT 'src' AS side, n_nationkey, n_name FROM graft.cl
                 UNION ALL
                 SELECT 'clone' AS side, n_nationkey, n_name FROM graft.cl2""")
      },
      Some("""SELECT 'src' AS side, n_nationkey, n_name FROM nation
             |UNION ALL
             |SELECT 'clone' AS side, n_nationkey, n_name FROM nation
             |WHERE n_nationkey >= 10""".stripMargin)),

    // ---- m21: VACUUM lifecycle (retention GC, r8 VERDICT #6) —
    //      append → delete → compact → CALL graft.system.vacuum, then
    //      prove all four contract edges in one run: (1) dry-run
    //      previews EXACTLY the set the real vacuum removes (names
    //      compared, not just counts); (2) every previewed path is
    //      gone afterwards; (3) time travel below the retention window
    //      refuses loudly with the manifest-vacuumed error (never a
    //      bare file-not-found), while (4) the current version's
    //      content — the oracle hash — is untouched. At 100 TB this is
    //      the operator that caps storage: history is O(retained
    //      versions), and the sweep is one directory listing + O(swept
    //      dirs) deletes, never a table scan. ----
    "m21_vacuum" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "vac")
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
        st.create("vac", o.filter(col("o_orderkey") % 2 === 0))  // v0
        st.append("vac", o.filter(col("o_orderkey") % 2 === 1))  // v1
        st.delete("vac", col("o_totalprice") < 50000)            // v2 (rewrite)
        st.compact("vac")                                        // v3 (fold)
        val vCur = st.currentVersion("vac")
        require(vCur >= 3, s"lifecycle built only $vCur versions")
        // dry run BEFORE: the preview set, through the SQL surface too
        val dry = st.vacuum("vac", retainVersions = 1, dryRun = true)
        val dryN = s.sql("CALL graft.system.vacuum_dry_run('vac', 1)")
          .select("result").head().getLong(0)
        require(dryN == dry.size && dryN > 0,
          s"dry-run disagreement: SQL $dryN vs API ${dry.size}")
        val sweptN = s.sql("CALL graft.system.vacuum('vac', 1)")
          .select("result").head().getLong(0)
        require(sweptN == dryN,
          s"vacuum removed $sweptN entries but dry-run previewed $dryN")
        require(dry.forall(p => !java.nio.file.Files.exists(p)),
          "a previewed path survived the vacuum")
        // history below the window is GONE — and says so loudly
        try {
          st.readVersion("vac", 0).count()
          throw new IllegalStateException(
            "time travel to a vacuumed version was served")
        } catch {
          case e: IllegalArgumentException
            if String.valueOf(e.getMessage).contains("manifest vacuumed") => ()
        }
        st.read("vac")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice >= 50000""".stripMargin)),

    // ---- m22: TYPE WIDENING (Delta's metadata-only ALTER COLUMN
    //      TYPE): int→bigint and float→double commit as ONE manifest
    //      version — the in-query require proves NO data dir was
    //      rewritten — and every later scan decodes the old narrow
    //      files at the widened type (Spark's parquet readers upcast
    //      in place; both the library and DSv2 paths share the
    //      machinery, TypeWideningSpec). Post-widen rows then exceed
    //      the old range (qty + 5e9 needs BIGINT), so the final
    //      aggregate is only right if old int32 files and new int64
    //      files read as one BIGINT column. At 100 TB this is the
    //      difference between a metadata commit and a table rewrite. ----
    "m22_type_widen" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m22_widen")
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"),
          col("o_orderkey").cast("int").as("qty"),
          col("o_totalprice").cast("float").as("price_f"))
        st.create("t", base.filter(col("o_orderkey") % 2 === 0))
        val dirs0 = st.liveDirs("t")
        st.alterColumnType("t", "qty", org.apache.spark.sql.types.LongType)
        st.alterColumnType("t", "price_f", org.apache.spark.sql.types.DoubleType)
        require(st.liveDirs("t") == dirs0,
          "type widening must be metadata-only — a data dir changed")
        st.append("t", base.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"),
            (col("qty").cast("long") + 5000000000L).as("qty"),
            col("price_f").cast("double").as("price_f")))
        st.read("t")
          .groupBy((col("o_orderkey") % 10).as("grp"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
            max(col("price_f")).as("max_price"))
      },
      Some("""WITH base AS (SELECT o_orderkey, CAST(o_orderkey AS INT) AS qty,
             |    CAST(o_totalprice AS REAL) AS price_f FROM orders),
             |t AS (SELECT o_orderkey, CAST(qty AS BIGINT) AS qty,
             |        CAST(price_f AS DOUBLE) AS price_f
             |      FROM base WHERE o_orderkey % 2 = 0
             |      UNION ALL
             |      SELECT o_orderkey, CAST(qty AS BIGINT) + 5000000000 AS qty,
             |        CAST(price_f AS DOUBLE)
             |      FROM base WHERE o_orderkey % 2 = 1)
             |SELECT o_orderkey % 10 AS grp, count(*) AS n,
             |  CAST(sum(qty) AS BIGINT) AS sum_qty, max(price_f) AS max_price
             |FROM t GROUP BY 1""".stripMargin)),

    // ---- m22b: WIDENING x PRUNING (r9 VERDICT #7) — the in-query
    //      requires prove, on driver-visible counts from the SAME prune
    //      the DSv2 scan and pruned mutations use, that (a) a
    //      stats-prunable predicate prunes IDENTICALLY before and after
    //      a metadata-only int→bigint widen (DirStats re-canonicalize
    //      exactly), (b) post-widen appends beyond the old int range
    //      land in dirs the prune isolates (a beyond-int predicate
    //      scans ONLY them — old dirs neither wrong-prune rows away nor
    //      drag the scan), and (c) a widen whose stats CANNOT convert
    //      exactly (int→decimal) degrades that column to might-match on
    //      every pre-widen dir — scans widen, answers never change. At
    //      100 TB: schema evolution costs one manifest commit and
    //      keeps data skipping. ----
    "m22b_widen_prune" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m22b_prune")
        val base = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_orderkey").cast("int").as("qty"),
          col("o_orderkey").cast("int").as("price"))
        val mx = base.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = math.max(mx / 4, 1L)
        // four range-clustered commits -> tight per-dir min/max stats
        st.create("t", base.filter(col("o_orderkey") <= q))
        st.append("t", base.filter(col("o_orderkey") > q && col("o_orderkey") <= 2 * q))
        st.append("t", base.filter(col("o_orderkey") > 2 * q && col("o_orderkey") <= 3 * q))
        st.append("t", base.filter(col("o_orderkey") > 3 * q))
        val (preT, preN) = st.pruneCount("t", col("qty") > lit((3 * q).toInt))
        require(preT < preN, s"stats prune must skip dirs pre-widen ($preT/$preN)")
        val dirs0 = st.liveDirs("t")
        st.alterColumnType("t", "qty", org.apache.spark.sql.types.LongType)
        st.alterColumnType("t", "price", org.apache.spark.sql.types.DecimalType(12, 2))
        require(st.liveDirs("t") == dirs0, "widening must be metadata-only")
        // (a) int→bigint stats re-canonicalized EXACTLY: identical prune
        val (postT, postN) = st.pruneCount("t", col("qty") > lit(3 * q))
        require((postT, postN) == (preT, preN),
          s"prune must survive the widen: pre=($preT/$preN) post=($postT/$postN)")
        // (c) int→decimal stats cannot convert exactly -> DROPPED, so
        // the column degrades to might-match on all pre-widen dirs
        val (decT, decN) = st.pruneCount("t", col("price") > lit(BigDecimal(3 * q)))
        require(decT == decN,
          s"dropped decimal stats must mean might-match everywhere ($decT/$decN)")
        // (b) beyond-int rows land prunable next to the old dirs
        st.append("t", base.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"),
            (col("qty").cast("long") + 5000000000L).as("qty"),
            col("price").cast("decimal(12,2)").as("price")))
        val (hugeT, hugeN) = st.pruneCount("t", col("qty") > lit(4999999999L))
        require(hugeT >= 1 && hugeT < hugeN,
          s"beyond-int predicate must isolate the post-widen dirs ($hugeT/$hugeN)")
        // sum(DECIMAL(12,2)) would land at DECIMAL(22,2) — the
        // HUGEINT-backed precision band where the cross-engine hash
        // canonicalization diverges (x3, m22b-r10). Emit exact BIGINT
        // cents instead; values are integral multiples of 0.01.
        st.read("t")
          .filter(col("qty") > lit(4999999999L) || col("qty") <= lit(q))
          .groupBy((col("o_orderkey") % 7).as("grp"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
            sum((col("price") * 100).cast("long")).as("sum_price_cents"))
      },
      Some("""WITH qq AS (SELECT GREATEST(max(o_orderkey) // 4, 1) AS q FROM orders),
             |t AS (SELECT o_orderkey, CAST(o_orderkey AS BIGINT) AS qty,
             |             CAST(CAST(o_orderkey AS INT) AS DECIMAL(12,2)) AS price
             |      FROM orders
             |      UNION ALL
             |      SELECT o_orderkey, CAST(o_orderkey AS BIGINT) + 5000000000 AS qty,
             |             CAST(CAST(o_orderkey AS INT) AS DECIMAL(12,2)) AS price
             |      FROM orders WHERE o_orderkey % 97 = 0)
             |SELECT o_orderkey % 7 AS grp, count(*) AS n,
             |  CAST(sum(qty) AS BIGINT) AS sum_qty,
             |  CAST(sum(CAST(price * 100 AS BIGINT)) AS BIGINT) AS sum_price_cents
             |FROM t, qq WHERE qty > 4999999999 OR qty <= qq.q
             |GROUP BY 1""".stripMargin)),

    // ---- m23: CRASH RECOVERY, driver-visible — a commit is (write
    //      dirs, hard-link manifest v, move _LATEST); a writer dying
    //      between the last two leaves a durable-but-unpublished
    //      "ghost" that previously wedged every later commit (the
    //      put-if-absent collides with it forever). The query builds
    //      BOTH crash states byte-for-byte (rewind the pointer; strand
    //      the change-feed staging dot-dir) and proves the next writer
    //      ADOPTS the ghost — pointer rolled forward, staged _cdf rows
    //      completed, history byte-faithful — with the end state
    //      checked against the oracle's pure-SQL rederivation. ----
    "m23_crash_adopt" -> QDef(
      (s, dir) => {
        import java.nio.charset.StandardCharsets
        import java.nio.file.{Files, Paths}
        val st = freshStore(s, "m23_crash")
        val orders = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
        def slice(k: Int) = orders.filter(col("o_orderkey") % 4 === k)
        val td = Paths.get("/tmp/graft_qstore/m23_crash/t")
        def rewind(v: Long): Unit =
          Files.write(td.resolve("_LATEST"),
            v.toString.getBytes(StandardCharsets.UTF_8))
        st.create("t", slice(0))                      // v0
        st.setChangeFeed("t", enabled = true)         // v1
        st.append("t", slice(1))                      // v2 — ghost #1
        rewind(1L)                                    // crash before publish
        require(st.currentVersion("t") == 1L, "ghost must be invisible")
        st.append("t", slice(2))                      // adopts v2, lands v3
        require(st.currentVersion("t") == 3L,
          s"plain ghost not adopted: at v${st.currentVersion("t")}")
        st.deleteVectorized("t", col("o_custkey") % 10 === 7) // v4, CDF recorded
        // ghost #2: the DV commit published its manifest but died
        // before BOTH the pointer move and the _cdf staging move —
        // restage the feed dir under the writer's own uuid (shared
        // with its dv-<v>-<uuid> sidecar) and rewind
        val uuid = scala.util.Using.resource(Files.list(td.resolve("_dv")))(
          _.iterator().next().getFileName.toString.split('-').last)
        val staging = td.resolve("_cdf").resolve(s".v4-$uuid")
        Files.move(td.resolve("_cdf").resolve("4"), staging)
        Files.setLastModifiedTime(staging, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 120000L)) // past live-writer grace
        rewind(3L)
        st.append("t", slice(3))                      // adopts v4 + its feed, lands v5
        require(st.currentVersion("t") == 5L,
          s"cdf ghost not adopted: at v${st.currentVersion("t")}")
        require(Files.isDirectory(td.resolve("_cdf").resolve("4")),
          "adoption must complete the staged change-feed dir")
        require(st.readChangesBetween("t", 3L, 4L)
          .filter(col("_change_type") === "delete").count() > 0,
          "the adopted version's change feed must read back")
        st.read("t")
          .groupBy((col("o_orderkey") % 7).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(col("o_custkey")).as("sum_cust"))
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_custkey FROM orders
             |  WHERE o_orderkey % 4 <= 2 AND o_custkey % 10 <> 7
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 4 = 3)
             |SELECT o_orderkey % 7 AS grp, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
             |FROM t GROUP BY 1""".stripMargin)),

    // ---- m24: MERGE WITH SCHEMA EVOLUTION (r10 VERDICT #4 — Delta's
    //      withSchemaEvolution()): an upstream adds a column AND widens
    //      a column mid-merge. The store widens qty int→bigint through
    //      the m22 metadata-only path, adds `price` (old rows read
    //      NULL), keeps `status` on matched rows (the source doesn't
    //      carry it) and NULLs it on inserted rows — UPDATE SET * /
    //      INSERT * semantics. The oracle replays add-column + upsert
    //      as one pure-SQL full-outer join. ----
    "m24_merge_evolve" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m24_evolve")
        val orders = Tables.orders(s, dir)
        st.create("t", orders.filter(col("o_orderkey") % 2 === 0).select(
          col("o_orderkey"),
          col("o_orderkey").cast("int").as("qty"),
          col("o_orderstatus").as("status")))
        val source = orders.filter(col("o_orderkey") % 3 === 0).select(
          col("o_orderkey"),
          (col("o_orderkey").cast("long") + 5000000000L).as("qty"), // beyond int
          col("o_totalprice").as("price")) // NEW column; no `status`
        st.mergeUpsertEvolve("t", source, Seq("o_orderkey"),
          changeTypeCol = None)
        val sch = st.schemaOf("t")
        require(sch("qty").dataType == org.apache.spark.sql.types.LongType,
          s"qty must have widened to BIGINT, got ${sch("qty").dataType}")
        require(sch.fieldNames.toSeq == Seq("o_orderkey", "qty", "status", "price"),
          s"evolved schema drifted: ${sch.fieldNames.mkString(",")}")
        // the widen + add-column must both have been metadata-only: the
        // create's data dirs are still live verbatim after them (only
        // the merge itself rewrote — it commits LAST)
        require(st.readVersion("t", st.currentVersion("t") - 1)
          .schema.fieldNames.contains("price"),
          "add-column must commit before the merge's data commit")
        st.read("t")
      },
      Some(MergeEvolveOracleSql)),

    // ---- MERGE WITH SCHEMA EVOLUTION through SQL (r11 VERDICT #4):
    //      the same add-a-column-and-widen-mid-merge as m24, driven
    //      entirely by Spark 4.1's `MERGE WITH SCHEMA EVOLUTION INTO`
    //      against the DSv2 catalog — the catalog declares
    //      AUTOMATIC_SCHEMA_EVOLUTION, Spark's analyzer computes the
    //      schema changes from the source and issues them through
    //      alterTable (metadata-only here: add-column + the m22
    //      widening path), then plans the ordinary row-level MERGE
    //      against the evolved schema. Same fixture, same oracle text
    //      as m24 — the digests must be EQUAL (the m20/
    //      sql_replace_where same-code-path pinning pattern). ----
    "sql_merge_evolve" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "ev")
        val orders = Tables.orders(s, dir)
        st.create("ev", orders.filter(col("o_orderkey") % 2 === 0).select(
          col("o_orderkey"),
          col("o_orderkey").cast("int").as("qty"),
          col("o_orderstatus").as("status")))
        orders.filter(col("o_orderkey") % 3 === 0).select(
            col("o_orderkey"),
            (col("o_orderkey").cast("long") + 5000000000L).as("qty"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("ev_src")
        s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.ev t
                |USING ev_src s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val sch = st.schemaOf("ev")
        require(sch("qty").dataType == org.apache.spark.sql.types.LongType,
          s"qty must have widened to BIGINT through SQL evolution, got ${sch("qty").dataType}")
        require(sch.fieldNames.toSeq == Seq("o_orderkey", "qty", "status", "price"),
          s"evolved schema drifted: ${sch.fieldNames.mkString(",")}")
        st.read("ev")
      },
      Some(MergeEvolveOracleSql)),

    // ---- m20: INSERT OVERWRITE ... WHERE (Delta's replaceWhere) —
    //      atomically replace exactly the predicate's region with new
    //      rows in ONE commit: the per-order detail lines of every
    //      l_orderkey % 10 = 3 order are replaced by one zeroed summary
    //      line each. The two dirs are split so BOTH replace paths
    //      provably exercise under the oracle: dir A holds ONLY
    //      matching rows (%10=3, line <= 3 — every live row matches,
    //      so it DROPS metadata-only) while dir B mixes matching
    //      (%10=3, line > 3) and surviving rows, so it tombstones via
    //      one merged DV sidecar (no rewrite). The region contract
    //      (incoming rows must satisfy the predicate) is enforced
    //      executor-side. Oracle = survivors UNION the replacements. ----
    "m20_replace_where" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "m20_replace")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        st.create("t",
          li.filter(col("l_orderkey") % 10 === 3 && col("l_linenumber") <= 3))
        st.append("t",
          li.filter(col("l_orderkey") % 10 =!= 3 || col("l_linenumber") > 3))
        st.overwriteWhere("t", col("l_orderkey") % 10 === 3,
          li.filter(col("l_orderkey") % 10 === 3)
            .select(col("l_orderkey")).distinct()
            .select(col("l_orderkey"),
              lit(0).cast("int").as("l_linenumber"),
              lit(0.0).as("l_quantity")))
        st.read("t")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey % 10 <> 3
             |UNION ALL
             |SELECT DISTINCT l_orderkey, CAST(0 AS INT) AS l_linenumber,
             |  CAST(0.0 AS DOUBLE) AS l_quantity
             |FROM lineitem WHERE l_orderkey % 10 = 3""".stripMargin)),

    // ---- sql_replace_where: the same region replacement through the
    //      SQL surface — `INSERT INTO ... REPLACE WHERE` lands in the
    //      DSv2 writer as OverwriteByExpression, the builder translates
    //      the v1 filters back to the store's predicate, and the commit
    //      is the identical one-version attachDirWhere path (region
    //      contract + CHECKs validated against the staged files before
    //      any metadata changes). Oracle = survivors UNION replacements,
    //      same as m20's. ----
    "sql_replace_where" -> QDef(
      (s, dir) => {
        val st = sqlCatalogStore(s, "rw")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        st.create("rw", li)
        li.createOrReplaceTempView("rw_src")
        s.sql("""INSERT INTO graft.rw REPLACE WHERE l_orderkey % 10 = 3
                |SELECT DISTINCT l_orderkey, CAST(0 AS INT) AS l_linenumber,
                |  CAST(0.0 AS DOUBLE) AS l_quantity
                |FROM rw_src WHERE l_orderkey % 10 = 3""".stripMargin)
        s.sql("SELECT l_orderkey, l_linenumber, l_quantity FROM graft.rw")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey % 10 <> 3
             |UNION ALL
             |SELECT DISTINCT l_orderkey, CAST(0 AS INT) AS l_linenumber,
             |  CAST(0.0 AS DOUBLE) AS l_quantity
             |FROM lineitem WHERE l_orderkey % 10 = 3""".stripMargin)),

    // ---- Time travel: versioned manifests keep old states readable ----
    "tt_time_travel" -> QDef(
      (s, dir) => {
        val st = freshStore(s, "tt")
        st.create("t", Tables.nation(s, dir).select(
          col("n_nationkey"), col("n_name"), col("n_regionkey")))
        st.overwrite("t", st.read("t").filter(col("n_nationkey") < 10))
        st.readVersion("t", 0) // the pre-overwrite state
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))
  )
}
