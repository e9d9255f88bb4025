package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** SQL stored procedures: CALL graft.system.<verb>(...) drives the
  * store's maintenance surface and returns a summary row. */
class ProcedureSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  test("vacuum / compact / restore / zorder / bloom via CALL") {
    val root = Files.createTempDirectory("proc").toString
    spark.conf.set("spark.sql.catalog.gproc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (0L until 300L).map(i => (i, i % 100, s"v$i")).toDF("id", "x", "v"))
    ts.append("t", (300L until 600L).map(i => (i, i % 100, s"v$i")).toDF("id", "x", "v"))
    ts.append("t", (600L until 900L).map(i => (i, i % 100, s"v$i")).toDF("id", "x", "v"))

    // compact to one batch
    val c = spark.sql("CALL gproc.system.compact('t', 2)").head()
    assert(c.getString(0) === "t")
    assert(ts.read("t").count() === 900)

    // restore to the pre-compact version
    spark.sql("CALL gproc.system.restore('t', 2)")
    assert(ts.currentVersion("t") === 4)
    assert(ts.read("t").count() === 900)
    assert(ts.liveDirCount("t") === 3)

    // z-order on (id, x), then vacuum away the superseded layouts
    spark.sql("CALL gproc.system.optimize_zorder('t', 'id,x', 8)")
    assert(ts.read("t").count() === 900)
    val deleted = spark.sql("CALL gproc.system.vacuum('t', 1)").head().getLong(1)
    assert(deleted > 0)
    assert(ts.read("t").count() === 900)

    // bloom index from SQL; a point delete then prunes
    spark.sql("CALL gproc.system.set_bloom_columns('t', 'id')")
    assert(ts.bloomRoot("t").toFile.list().nonEmpty)

    // DESCRIBE HISTORY as a multi-row procedure result
    val hist = spark.sql("CALL gproc.system.history('t')").collect()
    assert(hist.length >= 2) // vacuum kept the latest window
    assert(hist.map(_.getLong(0)).contains(ts.currentVersion("t")))

    // procedures are discoverable
    val names = spark.sql("SHOW PROCEDURES IN gproc.system")
      .collect().map(_.toString).mkString(",")
    assert(names.contains("vacuum") && names.contains("optimize_zorder"))

    // change feed toggle from SQL; a delete then records change rows
    spark.sql("CALL gproc.system.set_change_feed('t', true)")
    assert(ts.changeFeedEnabled("t"))
    val v0 = ts.currentVersion("t")
    ts.delete("t", col("id") === 7L)
    val ch = ts.readChangesBetween("t", v0, ts.currentVersion("t"))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch === Set((7L, "delete")))

    // row tracking from SQL: enable, then _row_id appears on the scan
    // and on the change feed
    spark.sql("CALL gproc.system.enable_row_tracking('t')")
    val ids = spark.sql("SELECT id, _row_id FROM gproc.t")
      .as[(Long, Long)].collect().toMap
    assert(ids.size === 899 && ids.values.toSeq.distinct.size === 899)
    val v1 = ts.currentVersion("t")
    ts.deleteVectorized("t", col("id") === 11L)
    val chId = ts.readChangesBetween("t", v1, ts.currentVersion("t"),
        withRowIds = true)
      .select("id", "_change_type", "_row_id")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(chId === Set((11L, "delete", Some(ids(11L)))))
  }

  test("optimize_incremental via CALL reclusters only the overlap") {
    val root = Files.createTempDirectory("procinc").toString
    spark.conf.set("spark.sql.catalog.ginc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ginc.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (0L until 3000L).map(i => (i, s"v$i")).toDF("k", "v"))
    ts.optimizeByRange("t", Seq("k"), 3)
    ts.append("t", (1200L until 1300L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    val r = spark.sql("CALL ginc.system.optimize_incremental('t', 'k')").head()
    assert(r.getString(0) === "t")
    assert(r.getLong(1) === 2L, s"expected 2 dirs rewritten, got ${r.getLong(1)}")
    assert(spark.sql("CALL ginc.system.optimize_incremental('t', 'k')")
      .head().getLong(1) === 0L)
    assert(ts.read("t").count() === 3100)
  }

  test("vacuum_dry_run reports the sweep without touching anything") {
    val root = Files.createTempDirectory("procdry").toString
    spark.conf.set("spark.sql.catalog.gdry", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdry.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    ts.overwrite("t", (0L until 100L).map(i => (i, s"w$i")).toDF("k", "v"))
    val dry = spark.sql("CALL gdry.system.vacuum_dry_run('t', 1)").head().getLong(1)
    assert(dry > 0L, "superseded version 0 should be sweepable")
    // nothing was deleted: time travel to v0 still works
    assert(ts.readVersion("t", 0).count() === 100)
    val real = spark.sql("CALL gdry.system.vacuum('t', 1)").head().getLong(1)
    assert(real === dry, "the real sweep deletes exactly what dry-run named")
    // BOTH time-travel faces refuse the swept version LOUDLY (the
    // manifest-vacuumed contract m21 proves for the library face)
    val e = intercept[IllegalArgumentException](ts.readVersion("t", 0).count())
    assert(e.getMessage.contains("manifest vacuumed"))
    val eSql = intercept[Exception](
      spark.sql("SELECT * FROM gdry.t VERSION AS OF 0").count())
    assert(Iterator.iterate(eSql: Throwable)(_.getCause).takeWhile(_ != null)
      .take(8).exists(t =>
        String.valueOf(t.getMessage).contains("manifest vacuumed")),
      s"SQL time travel must surface the vacuumed-version error, got $eSql")
  }

  test("update_vectorized assignments survive quoted commas and escapes") {
    val root = java.nio.file.Files.createTempDirectory("procparse").toString
    spark.conf.set("spark.sql.catalog.gproc2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gproc2.root", root)
    val ts = new graft.core.TableStore(spark, root)
    ts.create("t", Seq((1L, "a", "z"), (2L, "b", "z")).toDF("id", "v", "w"))
    // double-quoted literal with a comma + a second clause: the old
    // splitter never tracked double quotes and split inside the string
    spark.sql(
      """CALL gproc2.system.update_vectorized('t', 'id = 1',
        |  'v = "x,y", w = concat(w, \'!\')')""".stripMargin)
    assert(ts.read("t").as[(Long, String, String)].collect().toSet ===
      Set((1L, "x,y", "z!"), (2L, "b", "z")))
  }

  test("materialized-view procedures: create / refresh / compact, " +
      "self-driving watermark, loud on non-views") {
    val root = Files.createTempDirectory("procmv").toString
    spark.conf.set("spark.sql.catalog.gmv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    // CREATE: full compute + definition props + seeded watermark
    val seedV = spark.sql(
      "CALL gmv.system.create_agg_view('v', 'src', 'grp', 'qty', 'count_sum', 4)")
      .head().getLong(1)
    assert(seedV === ts.lastTxnVersion("v", "ivm:src").get)
    assert(ts.properties("v")("ivm.kind") === "count_sum")
    // an idle refresh absorbs nothing
    assert(spark.sql("CALL gmv.system.refresh_agg_view('v')")
      .head().getLong(1) === 0L)
    // mutate: group 1 loses a row, group 2 empties, group 3 appears
    ts.delete("src", col("k") === 2L)
    ts.delete("src", col("grp") === 2L)
    ts.append("src", Seq((4L, 3L, 40L)).toDF("k", "grp", "qty"))
    assert(spark.sql("CALL gmv.system.refresh_agg_view('v')")
      .head().getLong(1) === 3L)
    // a RE-DELIVERED refresh (same window) is a no-op — the watermark
    // rode the apply's own commit
    assert(spark.sql("CALL gmv.system.refresh_agg_view('v')")
      .head().getLong(1) === 0L)
    assert(spark.sql("SELECT grp, n_rows, sum_qty FROM gmv.v WHERE n_rows > 0")
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 1L, 10L), (3L, 1L, 40L)))
    // the emptied group's tombstone sweeps through the procedure face
    assert(ts.read("v").count() === 3)
    spark.sql("CALL gmv.system.compact_agg_view('v')")
    assert(ts.read("v").count() === 2)
    // refusals are loud: refresh/compact on a non-view
    val boom = intercept[Exception](
      spark.sql("CALL gmv.system.refresh_agg_view('src')").collect())
    assert(boom.getMessage.contains("not a registered"))
  }

  test("materialized-view kinds max and distinct: self-driving refresh " +
      "including the two-level cascade") {
    val root = Files.createTempDirectory("procmv2").toString
    spark.conf.set("spark.sql.catalog.gmv2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv2.root", root)
    val ts = new TableStore(spark, root)
    // grp 1 holds 10 TWICE and 20; grp 2 holds 30 — exercises both the
    // max multiplicity retraction and the distinct zero-crossing
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 1L, 20L),
      (4L, 2L, 30L)).toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL gmv2.system.create_agg_view('vmax', 'src', 'grp', 'qty', 'max', 4)")
    spark.sql("CALL gmv2.system.create_agg_view('vdst', 'src', 'grp', 'qty', 'distinct', 4)")
    ts.delete("src", col("k") === 3L) // grp 1's max 20 retracts -> 10
    ts.delete("src", col("k") === 1L) // one copy of (1,10): value survives
    ts.append("src", Seq((5L, 2L, 40L)).toDF("k", "grp", "qty"))
    assert(spark.sql("CALL gmv2.system.refresh_agg_view('vmax')")
      .head().getLong(1) === 3L)
    assert(spark.sql("CALL gmv2.system.refresh_agg_view('vdst')")
      .head().getLong(1) >= 1L) // its own level absorbed the aux feed
    assert(spark.sql("SELECT grp, mx FROM gmv2.vmax WHERE mx IS NOT NULL")
      .as[(Long, Long)].collect().toSet === Set((1L, 10L), (2L, 40L)))
    assert(spark.sql(
      "SELECT grp, n_rows AS n_distinct FROM gmv2.vdst WHERE n_rows > 0")
      .as[(Long, Long)].collect().toSet === Set((1L, 1L), (2L, 2L)))
    // idle refreshes absorb nothing at any level
    assert(spark.sql("CALL gmv2.system.refresh_agg_view('vmax')")
      .head().getLong(1) === 0L)
    assert(spark.sql("CALL gmv2.system.refresh_agg_view('vdst')")
      .head().getLong(1) === 0L)
    // the cascade sweeps BOTH levels
    spark.sql("CALL gmv2.system.compact_agg_view('vdst')")
    assert(ts.read("vdst__aux").filter(col("n_rows") === 0L).count() === 0)
    // converged to the direct aggregates
    assert(spark.sql("SELECT grp, mx FROM gmv2.vmax WHERE mx IS NOT NULL")
      .as[(Long, Long)].collect().toSet ===
      ts.read("src").groupBy("grp").agg(max("qty").as("mx"))
        .as[(Long, Long)].collect().toSet)
    assert(spark.sql(
      "SELECT grp, n_rows FROM gmv2.vdst WHERE n_rows > 0")
      .as[(Long, Long)].collect().toSet ===
      ts.read("src").groupBy("grp").agg(countDistinct(col("qty")).as("nd"))
        .as[(Long, Long)].collect().toSet)
  }

  test("sketch_distinct view through the SQL registry: insert-only " +
      "union arm, retraction recompute arm, tombstone sweep, lifecycle") {
    val root = Files.createTempDirectory("procmv3").toString
    spark.conf.set("spark.sql.catalog.gmv3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv3.root", root)
    val ts = new TableStore(spark, root)
    // tiny cardinalities keep the HLL in its exact (coupon-list) mode,
    // so the estimates here are ASSERTABLE as exact while the machinery
    // (union vs recompute arms, tombstones) is the 100 TB one
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 1L, 20L),
      (4L, 2L, 30L)).toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL gmv3.system.create_agg_view('vsk', 'src', 'grp', 'qty', 'sketch_distinct', 4)")
    def est(): Set[(Long, Long)] = spark.sql(
      "SELECT grp, n_est FROM gmv3.vsk WHERE sketch IS NOT NULL")
      .as[(Long, Long)].collect().toSet
    assert(est() === Set((1L, 2L), (2L, 1L)))
    // registers can't retract: deleting ONE copy of (1,10) forces the
    // recompute arm, which must see the surviving copy
    ts.delete("src", col("k") === 1L)
    // insert-only arms: a new value for grp 2 (union into stored
    // registers) and a brand-new grp 3 (batch sketch outright)
    ts.append("src", Seq((5L, 2L, 40L), (6L, 3L, 50L)).toDF("k", "grp", "qty"))
    assert(spark.sql("CALL gmv3.system.refresh_agg_view('vsk')")
      .head().getLong(1) === 2L)
    assert(est() === Set((1L, 2L), (2L, 2L), (3L, 1L)))
    // idle refresh absorbs nothing; re-delivery converges
    assert(spark.sql("CALL gmv3.system.refresh_agg_view('vsk')")
      .head().getLong(1) === 0L)
    // a group emptied entirely tombstones (sketch NULL), the sweep
    // removes it, and a later re-insert re-creates it via the union arm
    ts.delete("src", col("grp") === 3L)
    spark.sql("CALL gmv3.system.refresh_agg_view('vsk')")
    assert(est() === Set((1L, 2L), (2L, 2L)))
    assert(ts.read("vsk").filter(col("sketch").isNull).count() === 1)
    spark.sql("CALL gmv3.system.compact_agg_view('vsk')")
    assert(ts.read("vsk").filter(col("sketch").isNull).count() === 0)
    ts.append("src", Seq((7L, 3L, 60L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gmv3.system.refresh_agg_view('vsk')")
    assert(est() === Set((1L, 2L), (2L, 2L), (3L, 1L)))
    // registry faces: describe carries the registered precision; drop
    assert(spark.sql("CALL gmv3.system.describe_view('vsk')").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .contains(("ivm.lg_k", graft.ops.Ivm.DefaultLgK.toString)))
    assert(spark.sql("CALL gmv3.system.drop_view('vsk')").head().getLong(1) === 1L)
    assert(!ts.exists("vsk"))
  }

  test("quantile view through the SQL registry: pure-algebra inserts " +
      "AND retractions (no recompute arm), tombstone sweep, lifecycle") {
    val root = Files.createTempDirectory("procmvq").toString
    spark.conf.set("spark.sql.catalog.gmvq", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvq.root", root)
    val ts = new TableStore(spark, root)
    // integers ≤ 50 each own their 1%-log-bin, so the estimates are
    // assertable within the α guarantee while the machinery (signed
    // bin counts, tombstones) is the 100 TB one
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L),
      (4L, 1L, 40L), (5L, 2L, 5L)).toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql(
      "CALL gmvq.system.create_agg_view('vq', 'src', 'grp', 'qty', 'quantile', 4)")
    def q(): Map[Long, (Long, Double, Double)] =
      graft.ops.Ivm.readQuantileView(ts, "vq", Seq(0.5, 1.0))
        .as[(Long, Long, Double, Double)].collect()
        .map { case (g, n, q50, q100) => g -> (n, q50, q100) }.toMap
    def near(got: Double, want: Double): Boolean =
      math.abs(got - want) <= want * 0.011
    val s0 = q()
    assert(s0(1L)._1 === 4L && near(s0(1L)._2, 20d) && near(s0(1L)._3, 40d))
    assert(s0(2L)._1 === 1L && near(s0(2L)._2, 5d))
    // a retraction+insert in one window — bin counts subtract exactly,
    // no recompute arm exists to fire
    ts.updateVectorized("src", col("k") === 4L, Map("qty" -> lit(8L)))
    assert(spark.sql("CALL gmvq.system.refresh_agg_view('vq')")
      .head().getLong(1) === 1L)
    val s1 = q()
    assert(s1(1L)._1 === 4L && near(s1(1L)._2, 10d) && near(s1(1L)._3, 30d))
    // same-bin churn: an update that leaves every value in its bin is
    // a provable no-op — the watermark still advances
    ts.updateVectorized("src", col("k") === 3L, Map("qty" -> lit(30L)))
    assert(spark.sql("CALL gmvq.system.refresh_agg_view('vq')")
      .head().getLong(1) === 1L)
    assert(spark.sql("CALL gmvq.system.refresh_agg_view('vq')")
      .head().getLong(1) === 0L)
    assert(q() === s1)
    // a group emptied entirely tombstones (hist NULL), the sweep
    // removes it, a later re-insert re-creates it by algebra
    ts.delete("src", col("grp") === 2L)
    spark.sql("CALL gmvq.system.refresh_agg_view('vq')")
    assert(!q().contains(2L))
    assert(ts.read("vq").filter(col("hist").isNull).count() === 1)
    spark.sql("CALL gmvq.system.compact_agg_view('vq')")
    assert(ts.read("vq").filter(col("hist").isNull).count() === 0)
    ts.append("src", Seq((6L, 2L, 7L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gmvq.system.refresh_agg_view('vq')")
    assert(near(q()(2L)._2, 7d))
    // over-retraction fails loudly: re-applying the delete window
    // without a txn drives a bin count negative
    val head = ts.currentVersion("src")
    // (the guard is fused into the merged-bins checkpoint; the apply
    // rethrows its task failure as the typed error)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Ivm.applyQuantileDelta(ts, "vq",
        ts.readChangesBetween("src", head - 2, head - 1),
        Seq("grp"), "qty", graft.ops.Ivm.QuantileAlpha, txn = None)
    }
    assert(ex.getMessage.contains("IVM quantile bin count went negative on vq"))
    // registry faces: describe carries the registered α; drop
    assert(spark.sql("CALL gmvq.system.describe_view('vq')").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .contains(("ivm.alpha", graft.ops.Ivm.QuantileAlpha.toString)))
    assert(spark.sql("CALL gmvq.system.drop_view('vq')").head().getLong(1) === 1L)
    assert(!ts.exists("vq"))
  }

  test("sketch_rollup through the SQL registry: register-union arm, " +
      "preimage-triggered recompute from the SKETCH VIEW, DAG refresh") {
    val root = Files.createTempDirectory("procmv5").toString
    spark.conf.set("spark.sql.catalog.gmv5", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv5.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 1L, 10L), (2L, 1L, 1L, 20L),
      (3L, 1L, 2L, 20L), (4L, 2L, 1L, 30L)).toDF("k", "g", "sub", "v"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL gmv5.system.create_agg_view('fine', 'src', 'g,sub', 'v', 'sketch_distinct', 4)")
    // rollup refuses while the fine view's feed is off, then registers
    intercept[Exception](spark.sql(
      "CALL gmv5.system.create_sketch_rollup('roll', 'fine', 'g', 4)"))
    spark.sql("CALL gmv5.system.set_change_feed('fine', true)")
    spark.sql("CALL gmv5.system.create_sketch_rollup('roll', 'fine', 'g', 4)")
    def est(): Set[(Long, Long)] = spark.sql(
      "SELECT g, n_est FROM gmv5.roll WHERE sketch IS NOT NULL")
      .as[(Long, Long)].collect().toSet
    // g=1 holds values {10,20} across two fine groups; g=2 holds {30}
    assert(est() === Set((1L, 2L), (2L, 1L)))
    // union arm: a NEW fine group under g=1 and a brand-new g=3;
    // hard arm: deleting k=1 replaces fine (1,1)'s registers (10 gone)
    ts.append("src", Seq((5L, 1L, 3L, 40L), (6L, 3L, 1L, 50L))
      .toDF("k", "g", "sub", "v"))
    ts.delete("src", col("k") === 1L)
    assert(spark.sql("CALL gmv5.system.refresh_agg_view('roll')")
      .head().getLong(1) >= 1L)
    assert(est() === Set((1L, 2L), (2L, 1L), (3L, 1L))) // g1 = {20,40}
    assert(spark.sql("CALL gmv5.system.refresh_agg_view('roll')")
      .head().getLong(1) === 0L)
    // a coarse group emptied entirely tombstones, sweeps, and returns
    ts.delete("src", col("g") === 3L)
    spark.sql("CALL gmv5.system.refresh_agg_view('roll')")
    assert(est() === Set((1L, 2L), (2L, 1L)))
    assert(ts.read("roll").filter(col("sketch").isNull).count() === 1)
    spark.sql("CALL gmv5.system.compact_agg_view('roll')")
    assert(ts.read("roll").filter(col("sketch").isNull).count() === 0)
    ts.append("src", Seq((7L, 3L, 2L, 60L)).toDF("k", "g", "sub", "v"))
    spark.sql("CALL gmv5.system.refresh_agg_view('roll')")
    assert(est() === Set((1L, 2L), (2L, 1L), (3L, 1L)))
    // registry hygiene: drop refuses mid-DAG, then cascades leaf-first
    intercept[Exception](spark.sql("CALL gmv5.system.drop_view('fine')"))
    spark.sql("CALL gmv5.system.drop_view('roll')")
    spark.sql("CALL gmv5.system.drop_view('fine')")
    assert(!ts.exists("roll") && !ts.exists("fine"))
  }

  test("moments view through the SQL registry: exact summary stats " +
      "under retraction, all-NULL windows, tombstone sweep") {
    val root = Files.createTempDirectory("procmvm").toString
    spark.conf.set("spark.sql.catalog.gmvm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvm.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, Some(2L)), (2L, 1L, Some(4L)),
      (3L, 1L, Some(6L)), (4L, 2L, Some(10L)), (5L, 2L, None))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql(
      "CALL gmvm.system.create_agg_view('vm', 'src', 'grp', 'qty', 'moments', 4)")
    def stats(): Map[Long, (Long, Long, Long)] = ts.read("vm")
      .filter(col("n_rows") > 0L)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (g, n, s, sq) => g -> (n, s, sq) }.toMap
    // NULL values contribute to no moment (grp 2 counts one row)
    assert(stats() === Map(1L -> ((3L, 12L, 56L)), 2L -> ((1L, 10L, 100L))))
    // derived faces from exact longs: mean 4, var (56/3 - 16) = 8/3
    val r = graft.ops.Ivm.readMomentsView(ts, "vm")
      .filter(col("grp") === 1L)
      .select(col("avg_v"), col("var_v")).head()
    assert(r.getDouble(0) === 4.0 && math.abs(r.getDouble(1) - 8.0 / 3) < 1e-12)
    // retraction is exact algebra; an all-NULL window touches nothing
    ts.delete("src", col("k") === 3L)
    ts.append("src", Seq((6L, 2L, Option.empty[Long])).toDF("k", "grp", "qty"))
    assert(spark.sql("CALL gmvm.system.refresh_agg_view('vm')")
      .head().getLong(1) === 2L)
    assert(stats() === Map(1L -> ((2L, 6L, 20L)), 2L -> ((1L, 10L, 100L))))
    // a fully-retracted group lands at literal (0,0,0), sweeps, returns
    ts.delete("src", col("grp") === 1L)
    spark.sql("CALL gmvm.system.refresh_agg_view('vm')")
    assert(!stats().contains(1L))
    assert(ts.read("vm").filter(col("n_rows") === 0L)
      .select(col("sum_v"), col("sum_sq")).as[(Long, Long)]
      .collect().toSeq === Seq((0L, 0L)))
    spark.sql("CALL gmvm.system.compact_agg_view('vm')")
    assert(ts.read("vm").filter(col("n_rows") === 0L).count() === 0)
    ts.append("src", Seq((7L, 1L, Some(5L))).toDF("k", "grp", "qty"))
    spark.sql("CALL gmvm.system.refresh_agg_view('vm')")
    assert(stats()(1L) === ((1L, 5L, 25L)))
    assert(spark.sql("CALL gmvm.system.drop_view('vm')").head().getLong(1) === 1L)
  }

  test("quantile_rollup through the SQL registry: signed bin sums at " +
      "both levels (no hard arm anywhere), cross-coarse move, DAG refresh") {
    val root = Files.createTempDirectory("procmvqr").toString
    spark.conf.set("spark.sql.catalog.gmvqr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvqr.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 1L, 10L), (2L, 1L, 1L, 20L),
      (3L, 1L, 2L, 30L), (4L, 2L, 3L, 40L)).toDF("k", "g", "sub", "v"))
    ts.setChangeFeed("src", true)
    spark.sql(
      "CALL gmvqr.system.create_agg_view('fine', 'src', 'g,sub', 'v', 'quantile', 4)")
    // rollup refuses a non-quantile source, a feed-off source, and a
    // non-strict-subset grouping
    intercept[Exception](spark.sql(
      "CALL gmvqr.system.create_quantile_rollup('roll', 'src', 'g', 4)"))
    intercept[Exception](spark.sql(
      "CALL gmvqr.system.create_quantile_rollup('roll', 'fine', 'g', 4)"))
    spark.sql("CALL gmvqr.system.set_change_feed('fine', true)")
    intercept[Exception](spark.sql(
      "CALL gmvqr.system.create_quantile_rollup('roll', 'fine', 'g,sub', 4)"))
    spark.sql("CALL gmvqr.system.create_quantile_rollup('roll', 'fine', 'g', 4)")
    def q(): Map[Long, (Long, Double, Double)] =
      graft.ops.Ivm.readQuantileView(ts, "roll", Seq(0.5, 1.0))
        .as[(Long, Long, Double, Double)].collect()
        .map { case (g, n, q50, q100) => g -> (n, q50, q100) }.toMap
    def near(got: Double, want: Double): Boolean =
      math.abs(got - want) <= want * 0.011
    val s0 = q()
    assert(s0(1L)._1 === 3L && near(s0(1L)._2, 20d) && near(s0(1L)._3, 30d))
    assert(s0(2L)._1 === 1L && near(s0(2L)._2, 40d))
    // a cross-coarse MOVE in one window: k=3 leaves g=1 for g=2 — both
    // coarse histograms adjust by signed sums, nothing recomputes
    ts.updateVectorized("src", col("k") === 3L,
      Map("g" -> lit(2L), "sub" -> lit(4L)))
    assert(spark.sql("CALL gmvqr.system.refresh_agg_view('roll')")
      .head().getLong(1) >= 1L)
    val s1 = q()
    assert(s1(1L)._1 === 2L && near(s1(1L)._2, 10d) && near(s1(1L)._3, 20d))
    assert(s1(2L)._1 === 2L && near(s1(2L)._2, 30d) && near(s1(2L)._3, 40d))
    assert(spark.sql("CALL gmvqr.system.refresh_agg_view('roll')")
      .head().getLong(1) === 0L)
    // a coarse group emptied entirely tombstones, sweeps, and returns;
    // the FINE view's own compaction (hist-NULL sweep) must be a
    // rollup no-op (swept tombstones explode to nothing)
    ts.delete("src", col("g") === 2L)
    spark.sql("CALL gmvqr.system.refresh_agg_view('roll')")
    assert(!q().contains(2L))
    assert(ts.read("roll").filter(col("hist").isNull).count() === 1)
    spark.sql("CALL gmvqr.system.compact_agg_view('roll')")
    assert(ts.read("roll").filter(col("hist").isNull).count() === 0)
    spark.sql("CALL gmvqr.system.compact_agg_view('fine')")
    assert(spark.sql("CALL gmvqr.system.refresh_agg_view('roll')")
      .head().getLong(1) >= 1L) // absorbs the sweep window as a no-op
    assert(q().keySet === Set(1L))
    ts.append("src", Seq((5L, 2L, 5L, 25L)).toDF("k", "g", "sub", "v"))
    spark.sql("CALL gmvqr.system.refresh_agg_view('roll')")
    assert(near(q()(2L)._2, 25d))
    // registry hygiene: drop refuses mid-DAG, then cascades leaf-first
    intercept[Exception](spark.sql("CALL gmvqr.system.drop_view('fine')"))
    spark.sql("CALL gmvqr.system.drop_view('roll')")
    spark.sql("CALL gmvqr.system.drop_view('fine')")
    assert(!ts.exists("roll") && !ts.exists("fine"))
  }

  test("vacuum_view: refresh -> vacuum -> refresh converges, old " +
      "versions gone, watermarks intact, dependent windows clamp-survive") {
    val root = Files.createTempDirectory("procvac").toString
    spark.conf.set("spark.sql.catalog.gvac", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvac.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL gvac.system.create_agg_view('v1', 'src', 'grp', 'qty', 'count_sum', 4)")
    ts.setChangeFeed("v1", true)
    spark.sql("CALL gvac.system.create_agg_view('v2', 'v1', 'grp', 'sum_qty', 'count_sum', 4)")
    // v1 absorbs two batches v2 has NOT seen — v2's watermark lags, so
    // a naive vacuum of v1 would sweep the very change window v2's
    // next refresh must read ("overlaps vacuumed history")
    ts.append("src", Seq((4L, 2L, 40L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gvac.system.refresh_agg_view('v1')")
    ts.append("src", Seq((5L, 3L, 50L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gvac.system.refresh_agg_view('v1')")
    val v1Head = ts.currentVersion("v1")
    spark.sql("CALL gvac.system.vacuum_view('v1', 1)")
    assert(ts.currentVersion("v1") === v1Head)
    // the clamp kept (w2, head]: the lagging dependent still refreshes
    assert(spark.sql("CALL gvac.system.refresh_agg_view('v2')")
      .head().getLong(1) >= 2L)
    def direct(): Set[(Long, Long, Long)] = ts.read("v1")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("sum_qty")).as("s"))
      .as[(Long, Long, Long)].collect().toSet
    def v2Now(): Set[(Long, Long, Long)] = spark.sql(
      "SELECT grp, n_rows, sum_qty FROM gvac.v2 WHERE n_rows > 0")
      .as[(Long, Long, Long)].collect().toSet
    assert(v2Now() === direct())
    // vacuum v2 itself (no dependents): old versions genuinely gone,
    // its own absorbed watermark rides the head manifest and survives
    ts.append("src", Seq((6L, 3L, 60L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gvac.system.refresh_agg_view('v2')") // cascades v1
    spark.sql("CALL gvac.system.vacuum_view('v2', 1)")
    intercept[IllegalArgumentException](ts.readVersion("v2", 0))
    assert(spark.sql("CALL gvac.system.describe_view('v2')").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .contains(("absorbed.v1", ts.currentVersion("v1").toString)))
    // a further mutate/refresh cycle on the swept registry converges
    ts.append("src", Seq((7L, 1L, 70L)).toDF("k", "grp", "qty"))
    spark.sql("CALL gvac.system.refresh_agg_view('v2')")
    assert(v2Now() === direct())
    // plain tables refuse (vacuum_view is a registry verb)
    intercept[Exception](
      spark.sql("CALL gvac.system.vacuum_view('src', 1)"))
  }

  test("declarative join view via CALL: snowflake chain, dim-only " +
      "refresh propagates through the chain, deletes tombstone") {
    val root = Files.createTempDirectory("procjv").toString
    spark.conf.set("spark.sql.catalog.gjv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gjv.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L))
      .toDF("k", "fk", "qty"))
    ts.setChangeFeed("src", true)
    // snowflake: d1 (fk -> region ref + attr), d2 (region -> attr)
    ts.create("d1", Seq((10L, "a", 7L), (20L, "b", 8L))
      .toDF("d_fk", "d_attr", "d_reg"))
    ts.setChangeFeed("d1", true)
    ts.create("d2", Seq((7L, "r7"), (8L, "r8")).toDF("r_key", "r_name"))
    ts.setChangeFeed("d2", true)
    spark.sql("""CALL gjv.system.create_join_view('jv', 'src', 'k',
                |  'd1:fk=d_fk:d_attr|d2:d_reg=r_key:r_name', 4)""".stripMargin)
    assert(spark.sql("SELECT k, d_attr, r_name FROM gjv.jv WHERE _live")
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "r7"), (2L, "a", "r7"), (3L, "b", "r8")))
    // DEEP dim-only change: d2's r7 renames; the refresh must walk
    // d2 -> d1 -> src.fk and re-enrich exactly k=1,2
    ts.update("d2", col("r_key") === 7L, Map("r_name" -> lit("R7!")))
    assert(spark.sql("CALL gjv.system.refresh_join_view('jv')")
      .head().getLong(1) === 1L)
    assert(spark.sql("SELECT k, r_name FROM gjv.jv WHERE _live")
      .as[(Long, String)].collect().toSet ===
      Set((1L, "R7!"), (2L, "R7!"), (3L, "r8")))
    // source delete + append in one window; deletes tombstone
    ts.delete("src", col("k") === 2L)
    ts.append("src", Seq((4L, 20L, 400L)).toDF("k", "fk", "qty"))
    assert(spark.sql("CALL gjv.system.refresh_join_view('jv')")
      .head().getLong(1) === 2L)
    assert(spark.sql("SELECT k FROM gjv.jv WHERE NOT _live")
      .as[Long].collect().toSeq === Seq(2L))
    // idle refresh no-ops; compact sweeps the tombstone
    assert(spark.sql("CALL gjv.system.refresh_join_view('jv')")
      .head().getLong(1) === 0L)
    spark.sql("CALL gjv.system.compact_agg_view('jv')")
    assert(ts.read("jv").count() === 3)
    assert(spark.sql("SELECT k, qty, d_attr, r_name FROM gjv.jv WHERE _live")
      .as[(Long, Long, String, String)].collect().toSet ===
      Set((1L, 100L, "a", "R7!"), (3L, 300L, "b", "r8"),
        (4L, 400L, "b", "r8")))
  }

  test("registered two-sided join view and the min kind via CALL") {
    val root = Files.createTempDirectory("procj2").toString
    spark.conf.set("spark.sql.catalog.gj2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gj2.root", root)
    val ts = new TableStore(spark, root)
    ts.create("ta", Seq((1L, 10L, 5L), (2L, 10L, 9L), (3L, 20L, 3L))
      .toDF("ka", "j", "qty"))
    ts.setChangeFeed("ta", true)
    ts.create("tb", Seq((100L, 10L, "x"), (200L, 20L, "y"))
      .toDF("kb", "bj", "tag"))
    ts.setChangeFeed("tb", true)
    spark.sql("""CALL gj2.system.create_join2_view('pairs', 'ta', 'ka',
                |  'tb', 'kb', 'j=bj', 'tag', 4)""".stripMargin)
    assert(spark.sql("SELECT ka, kb FROM gj2.pairs WHERE _live")
      .as[(Long, Long)].collect().toSet ===
      Set((1L, 100L), (2L, 100L), (3L, 200L)))
    // min view over ta through the registry
    spark.sql("CALL gj2.system.create_agg_view('vmin', 'ta', 'j', 'qty', 'min', 4)")
    assert(spark.sql("SELECT j, mx FROM gj2.vmin WHERE mx IS NOT NULL")
      .as[(Long, Long)].collect().toSet === Set((10L, 5L), (20L, 3L)))
    // B-side join-key move + A-side delete, one refresh for each view
    ts.update("tb", col("kb") === 200L, Map("bj" -> lit(10L)))
    ts.delete("ta", col("ka") === 3L) // grp 20's min-holder dies
    assert(spark.sql("CALL gj2.system.refresh_join2_view('pairs')")
      .head().getLong(1) === 2L)
    assert(spark.sql("SELECT ka, kb FROM gj2.pairs WHERE _live")
      .as[(Long, Long)].collect().toSet ===
      Set((1L, 100L), (2L, 100L), (1L, 200L), (2L, 200L)))
    assert(spark.sql("CALL gj2.system.refresh_agg_view('vmin')")
      .head().getLong(1) === 1L)
    // grp 20 emptied -> NULL tombstone filtered by the face; grp 10's
    // min survives its non-minimal retraction arm untouched
    assert(spark.sql("SELECT j, mx FROM gj2.vmin WHERE mx IS NOT NULL")
      .as[(Long, Long)].collect().toSet === Set((10L, 5L)))
    // compact sweeps the two-sided view's tombstones
    spark.sql("CALL gj2.system.compact_agg_view('pairs')")
    assert(ts.read("pairs").count() === 4)
  }

  test("top-k view through the SQL registry: create_topk_view, " +
      "self-driving refresh across both arms, compact, drop") {
    val root = Files.createTempDirectory("proctk").toString
    spark.conf.set("spark.sql.catalog.gtk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtk.root", root)
    val ts = new TableStore(spark, root)
    // grp 1: values 50,40,30,20 (keys 1-4); grp 2: 10,5 (under-full)
    ts.create("src", Seq((1L, 50L, 1L), (1L, 40L, 2L), (1L, 30L, 3L),
      (1L, 20L, 4L), (2L, 10L, 5L), (2L, 5L, 6L)).toDF("grp", "val", "k"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL gtk.system.create_topk_view('v', 'src', 'grp', 'val', 'k', 2, 4)")
    assert(spark.sql("SELECT grp, rnk, val FROM gtk.v WHERE val IS NOT NULL")
      .as[(Long, Int, Long)].collect().toSet ===
      Set((1L, 1, 50L), (1L, 2, 40L), (2L, 1, 10L), (2L, 2, 5L)))
    // HARD arm: retract grp 1's stored #1 from a full group — the
    // recompute must surface 30 (invisible to the stored state);
    // EASY arms: an insert that enters grp 2's top-2, and a retract
    // from the under-full grp 2
    ts.delete("src", col("k") === 1L)
    ts.append("src", Seq((2L, 20L, 7L)).toDF("grp", "val", "k"))
    ts.delete("src", col("k") === 6L)
    assert(spark.sql("CALL gtk.system.refresh_agg_view('v')")
      .head().getLong(1) === 3L)
    assert(spark.sql("SELECT grp, rnk, val FROM gtk.v WHERE val IS NOT NULL")
      .as[(Long, Int, Long)].collect().toSet ===
      Set((1L, 1, 40L), (1L, 2, 30L), (2L, 1, 20L), (2L, 2, 10L)))
    // idle refresh absorbs nothing; compact sweeps padded tails; a
    // post-sweep refresh re-pads through the keyed upsert
    assert(spark.sql("CALL gtk.system.refresh_agg_view('v')")
      .head().getLong(1) === 0L)
    ts.delete("src", col("k") === 5L) // grp 2 shrinks to one pair
    assert(spark.sql("CALL gtk.system.refresh_agg_view('v')")
      .head().getLong(1) === 1L)
    spark.sql("CALL gtk.system.compact_agg_view('v')")
    assert(ts.read("v").filter(col("val").isNull).count() === 0)
    assert(spark.sql("SELECT grp, rnk, val FROM gtk.v WHERE val IS NOT NULL")
      .as[(Long, Int, Long)].collect().toSet ===
      Set((1L, 1, 40L), (1L, 2, 30L), (2L, 1, 20L)))
    // lifecycle: listed with its definition, droppable
    val row = spark.sql("CALL gtk.system.list_views()")
      .filter(col("view") === "v").head()
    assert(row.getString(1) === "topk")
    assert(spark.sql("CALL gtk.system.drop_view('v')").head().getLong(1) === 1L)
    assert(!ts.exists("v"))
  }

  test("RESTORE is registry-aware: restoring a materialized view rewinds " +
      "its ivm:* watermarks so the next refresh re-absorbs and converges") {
    val root = Files.createTempDirectory("procrst").toString
    spark.conf.set("spark.sql.catalog.grst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grst.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    val seedV = spark.sql(
      "CALL grst.system.create_agg_view('v', 'src', 'grp', 'qty', 'count_sum', 4)")
      .head().getLong(1)
    val viewSeedVersion = ts.currentVersion("v")
    // a non-ivm writer watermark on the view — exactly-once guards must
    // stay CURRENT through the restore (the Delta choice), unlike ivm:*
    ts.recordTxn("v", "stream_writer", 7L)
    // mutate + refresh: the view absorbs past the seed
    ts.delete("src", col("k") === 2L)
    ts.append("src", Seq((4L, 3L, 40L)).toDF("k", "grp", "qty"))
    val head = ts.currentVersion("src")
    assert(spark.sql("CALL grst.system.refresh_agg_view('v')")
      .head().getLong(1) === (head - seedV))
    assert(ts.lastTxnVersion("v", "ivm:src").get === head)

    // RESTORE the view to its seed: rows rewind — and so must the
    // absorbed watermark, or every later refresh derives an empty
    // window while the rows sit at the seed (silent staleness forever)
    spark.sql(s"CALL grst.system.restore('v', $viewSeedVersion)")
    assert(ts.lastTxnVersion("v", "ivm:src").get === seedV,
      "restore must rewind the ivm:* absorbed-source watermark with the rows")
    assert(ts.lastTxnVersion("v", "stream_writer").get === 7L,
      "non-ivm exactly-once watermarks must NOT rewind")
    // the next self-driving refresh re-absorbs (seed, head] and converges
    assert(spark.sql("CALL grst.system.refresh_agg_view('v')")
      .head().getLong(1) === (head - seedV))
    assert(spark.sql("SELECT grp, n_rows, sum_qty FROM grst.v WHERE n_rows > 0")
      .as[(Long, Long, Long)].collect().toSet ===
      ts.read("src").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("qty").as("s"))
        .as[(Long, Long, Long)].collect().toSet)

    // same through a JOIN view: restore-then-refresh converges to the
    // current enrich(source)
    ts.create("dim", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("g", "nm"))
    ts.setChangeFeed("dim", true)
    spark.sql("CALL grst.system.create_join_view('jv', 'src', 'k', 'dim:grp=g:nm', 4)")
    val jvSeed = ts.currentVersion("jv")
    ts.update("dim", col("g") === 1L, Map("nm" -> lit("A")))
    ts.append("src", Seq((5L, 2L, 50L)).toDF("k", "grp", "qty"))
    assert(spark.sql("CALL grst.system.refresh_join_view('jv')")
      .head().getLong(1) === 2L)
    spark.sql(s"CALL grst.system.restore('jv', $jvSeed)")
    // both absorbed watermarks (source + dim) rewound with the rows
    assert(spark.sql("CALL grst.system.refresh_join_view('jv')")
      .head().getLong(1) === 2L)
    assert(spark.sql("SELECT k, nm FROM grst.jv WHERE _live")
      .as[(Long, String)].collect().toSet ===
      ts.read("src").join(ts.read("dim"), col("grp") === col("g"))
        .select(col("k"), col("nm"))
        .as[(Long, String)].collect().toSet)
  }

  test("registry lifecycle: drop_view cascades the distinct aux, refuses " +
      "mid-DAG, and list/describe surface definitions + watermarks") {
    val root = Files.createTempDirectory("proclc").toString
    spark.conf.set("spark.sql.catalog.glc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glc.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 2L, 30L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL glc.system.create_agg_view('vd', 'src', 'grp', 'qty', 'distinct', 4)")
    assert(ts.exists("vd__aux"), "distinct cascade registers the aux twin")
    // a DAG: join view with CDF on, rollup sourced from it
    ts.create("dim", Seq((1L, "a"), (2L, "b")).toDF("g", "nm"))
    ts.setChangeFeed("dim", true)
    spark.sql("CALL glc.system.create_join_view('jv', 'src', 'k', 'dim:grp=g:nm', 4)")
    ts.setChangeFeed("jv", true)
    spark.sql("CALL glc.system.create_agg_view('roll', 'jv', 'nm', 'qty', 'count_sum', 4)")

    // list_views: every registered face, no aux rows, definitions +
    // absorbed watermarks readable
    val views = spark.sql("CALL glc.system.list_views()").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(views === Map("vd" -> "distinct", "jv" -> "join", "roll" -> "count_sum"))
    val jvRow = spark.sql("CALL glc.system.list_views()")
      .filter(col("view") === "jv").head()
    assert(jvRow.getString(3).contains("dims=dim:grp=g:nm"))
    assert(jvRow.getString(4).contains("src=") && jvRow.getString(4).contains("dim="))

    // describe_view: definition props + absorbed/head pairs
    val desc = spark.sql("CALL glc.system.describe_view('roll')").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("ivm.kind") === "count_sum" && desc("ivm.source") === "jv")
    assert(desc("absorbed.jv") === ts.currentVersion("jv").toString)
    assert(desc("source_head.jv") === ts.currentVersion("jv").toString)

    // mid-DAG drop refuses while the dependent lives; leaf-to-root works
    val mid = intercept[Exception](
      spark.sql("CALL glc.system.drop_view('jv')").collect())
    assert(mid.getMessage.contains("drop them first"))
    assert(spark.sql("CALL glc.system.drop_view('roll')").head().getLong(1) === 1L)
    assert(spark.sql("CALL glc.system.drop_view('jv')").head().getLong(1) === 1L)
    assert(!ts.exists("jv") && !ts.exists("roll"))

    // the distinct cascade drops BOTH tables — no orphan aux
    assert(spark.sql("CALL glc.system.drop_view('vd')").head().getLong(1) === 2L)
    assert(!ts.exists("vd") && !ts.exists("vd__aux"))

    // a plain table is not droppable through the registry face
    val plain = intercept[Exception](
      spark.sql("CALL glc.system.drop_view('src')").collect())
    assert(plain.getMessage.contains("not a registered"))
  }

  test("two concurrent CALL refreshes of one view (and of one DAG): " +
      "loser loud or no-op, one data commit, re-run converges") {
    val root = Files.createTempDirectory("procrace").toString
    spark.conf.set("spark.sql.catalog.grc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grc.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", (1L to 40L).map(i => (i, i % 4, i * 10L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    spark.sql("CALL grc.system.create_agg_view('v', 'src', 'grp', 'qty', 'count_sum', 4)")
    ts.delete("src", col("k") % 5 === 0L)
    ts.append("src", Seq((41L, 7L, 70L)).toDF("k", "grp", "qty"))
    val vBefore = ts.currentVersion("v")

    // two real threads through the SQL face: the refresh's
    // read-definition -> derive-window -> apply sequence races end to
    // end. ANY interleaving must satisfy: a loser is LOUD
    // (version-conflict) or a clean no-op (it re-derived an empty
    // window), never a silent double-apply.
    def callRefresh(view: String): Either[Throwable, Long] =
      try Right(spark.sql(s"CALL grc.system.refresh_agg_view('$view')")
        .head().getLong(1))
      catch { case t: Throwable => Left(t) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val outcomes = Await.result(
      Future.sequence(Seq(Future(callRefresh("v")), Future(callRefresh("v")))),
      5.minutes)
    outcomes.foreach {
      case Left(t) =>
        val chain = Iterator.iterate[Throwable](t)(_.getCause)
          .takeWhile(_ != null).map(_.toString).mkString(" <- ")
        assert(chain.contains("ConcurrentModification") ||
          chain.contains("conflict"), s"loser must be LOUD, got: $chain")
      case Right(_) => // absorbed >= 0: winner, or post-winner no-op
    }
    // exactly one data commit landed (plus nothing silent): the loser
    // never wrote stale absolutes at a later version
    assert(ts.currentVersion("v") === vBefore + 1,
      "the race must land exactly ONE apply commit")
    assert(callRefresh("v") === Right(0L))
    assert(spark.sql("SELECT grp, n_rows, sum_qty FROM grc.v WHERE n_rows > 0")
      .as[(Long, Long, Long)].collect().toSet ===
      ts.read("src").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("qty").as("s"))
        .as[(Long, Long, Long)].collect().toSet)

    // same through a DAG (rollup over a join view): the cascade's two
    // levels both race; after the dust settles one more refresh
    // drains to empty and the rollup equals the direct aggregate
    ts.create("dim", Seq((0L, "x"), (1L, "y"), (2L, "z"), (3L, "w"))
      .toDF("g", "nm"))
    ts.setChangeFeed("dim", true)
    spark.sql("CALL grc.system.create_join_view('jv', 'src', 'k', 'dim:grp=g:nm', 4)")
    ts.setChangeFeed("jv", true)
    spark.sql("CALL grc.system.create_agg_view('roll', 'jv', 'nm', 'qty', 'count_sum', 4)")
    ts.update("dim", col("g") === 1L, Map("nm" -> lit("Y")))
    ts.delete("src", col("k") === 2L)
    val dagOutcomes = Await.result(
      Future.sequence(Seq(Future(callRefresh("roll")), Future(callRefresh("roll")))),
      5.minutes)
    pool.shutdown()
    dagOutcomes.foreach {
      case Left(t) =>
        val chain = Iterator.iterate[Throwable](t)(_.getCause)
          .takeWhile(_ != null).map(_.toString).mkString(" <- ")
        assert(chain.contains("ConcurrentModification") ||
          chain.contains("conflict"), s"DAG loser must be LOUD, got: $chain")
      case Right(_) =>
    }
    // drain any level a loser left unabsorbed, then: converged
    var guard = 0
    while (callRefresh("roll") != Right(0L) && guard < 4) guard += 1
    assert(guard < 4, "DAG refresh failed to drain after the race")
    val direct = ts.read("jv").filter(col("_live"))
      .groupBy("nm").agg(count(lit(1)).as("n"), sum("qty").as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(spark.sql("SELECT nm, n_rows, sum_qty FROM grc.roll WHERE n_rows > 0")
      .as[(String, Long, Long)].collect().toSet === direct)
  }

  test("refresh refuses loudly when the source was recreated under a " +
      "live view (absorbed watermark past the source's head)") {
    val root = Files.createTempDirectory("procrs2").toString
    spark.conf.set("spark.sql.catalog.grs2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grs2.root", root)
    val ts = new TableStore(spark, root)
    ts.create("src", Seq((1L, 1L, 10L)).toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    ts.append("src", Seq((2L, 2L, 20L)).toDF("k", "grp", "qty"))
    ts.append("src", Seq((3L, 3L, 30L)).toDF("k", "grp", "qty"))
    spark.sql("CALL grs2.system.create_agg_view('v', 'src', 'grp', 'qty', 'count_sum', 4)")
    // drop + recreate the source: its head resets BELOW the view's
    // absorbed watermark — the (stamp, head] window is inverted and a
    // silent no-op here would strand the view diverged forever
    graft.core.FsUtil.deleteRecursively(
      new java.io.File(s"$root/src"))
    ts.create("src", Seq((9L, 9L, 90L)).toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    val boom = intercept[Exception](
      spark.sql("CALL grs2.system.refresh_agg_view('v')").collect())
    assert(boom.getMessage.contains("past the source's head"),
      s"expected the inverted-window refusal, got: ${boom.getMessage}")
  }
}
