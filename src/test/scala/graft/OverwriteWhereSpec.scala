package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** INSERT OVERWRITE ... WHERE (Delta's replaceWhere): one-commit
  * predicate-scoped replacement — region contract, full-dir drops,
  * partial-dir tombstones, CDF/rid integration, race behavior. */
class OverwriteWhereSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("owwstore").toString)

  test("replaces exactly the matching region in ONE commit; a dir whose " +
      "live rows all match is dropped, not tombstoned") {
    val ts = freshStore()
    ts.create("t", (1L to 100L).map(i => (i, s"old$i")).toDF("id", "v")) // dir A
    ts.append("t", (101L to 200L).map(i => (i, s"old$i")).toDF("id", "v")) // dir B
    val v0 = ts.currentVersion("t")
    val dirsBefore = ts.liveDirs("t")
    ts.overwriteWhere("t", col("id") <= 100L,
      (1L to 50L).map(i => (i, s"new$i")).toDF("id", "v"))
    assert(ts.currentVersion("t") === v0 + 1) // ONE commit, no intermediate
    // content: dir B untouched, region replaced (100 olds -> 50 news)
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got.size === 150)
    assert((1L to 50L).forall(i => got(i) === s"new$i"))
    assert((51L to 100L).forall(i => !got.contains(i)))
    assert((101L to 200L).forall(i => got(i) === s"old$i"))
    // dir A (all rows matched) was DROPPED: no DV entries, dir gone
    val after = ts.liveDirs("t")
    assert(!after.contains(dirsBefore.head), "fully-matched dir must drop")
    assert(ts.snapshot("t").dvs.isEmpty, "a full drop costs no tombstones")
    // time travel still sees the pre-replace content
    assert(ts.readVersion("t", v0).count() === 200)
  }

  test("partially-matching dirs tombstone via DV (no rewrite) and merge " +
      "prior tombstones into one sidecar ref") {
    val ts = freshStore()
    ts.create("t", (1L to 100L).map(i => (i, i * 10L)).toDF("id", "x"))
    ts.deleteVectorized("t", col("id") === 7L) // prior DV on the dir
    val dirsBefore = ts.liveDirs("t")
    ts.overwriteWhere("t", col("id") <= 20L,
      Seq((1L, 111L)).toDF("id", "x"))
    assert(ts.liveDirs("t").take(dirsBefore.size) === dirsBefore,
      "partial replace must not rewrite the dir")
    val got = ts.read("t").as[(Long, Long)].collect().toMap
    assert(got(1L) === 111L)
    assert((2L to 20L).forall(i => !got.contains(i))) // replaced away (incl. 7)
    assert((21L to 100L).forall(i => got(i) === i * 10L))
    // one sidecar ref carrying prior + fresh tombstones (19 matched live
    // rows with id<=20 minus the already-deleted 7, plus the prior 1)
    val dv = ts.snapshot("t").dvs(dirsBefore.head)
    assert(dv.deleted === 20L)
  }

  test("region contract: an incoming row outside the predicate fails " +
      "loudly and nothing commits") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (50L, "z")).toDF("id", "v"))
    val v0 = ts.currentVersion("t")
    val e = intercept[IllegalArgumentException](
      ts.overwriteWhere("t", col("id") <= 10L,
        Seq((5L, "ok"), (99L, "outside")).toDF("id", "v")))
    assert(e.getMessage.contains("does not satisfy the replace predicate"))
    assert(ts.currentVersion("t") === v0, "failed replace must not commit")
    assert(ts.read("t").count() === 2)
  }

  test("empty incoming = pure region delete; no-match predicate = pure insert") {
    val ts = freshStore()
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.overwriteWhere("t", col("id") <= 3L,
      spark.emptyDataset[(Long, String)].toDF("id", "v"))
    assert(ts.read("t").as[(Long, String)].collect().map(_._1).sorted ===
      (4L to 10L).toArray)
    ts.overwriteWhere("t", col("id") >= 100L,
      Seq((100L, "n")).toDF("id", "v"))
    assert(ts.read("t").count() === 8)
  }

  test("with the change feed on, delete + insert rows land under the " +
      "SAME commit version; rid-tracked deletes carry _row_id") {
    val ts = freshStore()
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.enableRowTracking("t")
    ts.setChangeFeed("t", true)
    val idsBefore = ts.readWithRowIds("t")
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    ts.overwriteWhere("t", col("id") <= 4L,
      Seq((1L, "n1"), (2L, "n2")).toDF("id", "v"))
    val v = ts.currentVersion("t")
    val ch = ts.readChangesBetween("t", v - 1, v, withRowIds = true)
    val dels = ch.filter(col("_change_type") === "delete")
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert(dels.keySet === Set(1L, 2L, 3L, 4L))
    // deleted rows carry their STABLE pre-replace ids
    assert(dels.forall { case (id, rid) => idsBefore(id) === rid })
    val ins = ch.filter(col("_change_type") === "insert")
      .select(col("id")).as[Long].collect().sorted
    assert(ins === Array(1L, 2L))
    // untouched rows keep their row ids across the replace
    val idsAfter = ts.readWithRowIds("t")
      .select(col("id"), col("_row_id")).as[(Long, Long)].collect().toMap
    assert((5L to 10L).forall(i => idsAfter(i) === idsBefore(i)))
  }

  test("CHECK constraints apply to the incoming rows") {
    val ts = freshStore()
    ts.create("t", Seq((1L, 5L)).toDF("id", "x"))
    ts.addCheckConstraint("t", "pos", "x > 0")
    val v0 = ts.currentVersion("t")
    intercept[Exception](
      ts.overwriteWhere("t", col("id") <= 10L, Seq((2L, -1L)).toDF("id", "x")))
    assert(ts.currentVersion("t") === v0)
  }

  test("SQL INSERT INTO ... REPLACE WHERE runs the one-commit region " +
      "replacement; bucketed tables keep their layout; contract enforced") {
    val root = Files.createTempDirectory("owwsql").toString
    spark.conf.set("spark.sql.catalog.graft_oww", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_oww.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 100L).map(i => (i, s"old$i")).toDF("id", "v"))
    val v0 = ts.currentVersion("t")
    spark.sql(
      """INSERT INTO graft_oww.t REPLACE WHERE id <= 10
        |SELECT col1 AS id, col2 AS v FROM VALUES (1L, 'new1'), (2L, 'new2')""".stripMargin)
    assert(ts.currentVersion("t") === v0 + 1) // ONE commit
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got.size === 92 && got(1L) === "new1" && got(2L) === "new2")
    assert((3L to 10L).forall(i => !got.contains(i)))
    assert((11L to 100L).forall(i => got(i) === s"old$i"))
    // region contract: a row outside the predicate refuses the commit
    val vNow = ts.currentVersion("t")
    intercept[Exception](spark.sql(
      """INSERT INTO graft_oww.t REPLACE WHERE id <= 10
        |SELECT col1 AS id, col2 AS v FROM VALUES (999L, 'outside')""".stripMargin))
    assert(ts.currentVersion("t") === vNow)
    // bucketed: the replacement batch keeps the leaf layout
    ts.createBucketed("b", (1L to 40L).map(i => (i, i * 2L)).toDF("k", "x"),
      Seq("k"), 4)
    spark.sql(
      """INSERT INTO graft_oww.b REPLACE WHERE k <= 4
        |SELECT col1 AS k, col2 AS x FROM VALUES (1L, 100L), (2L, 200L)""".stripMargin)
    val gotB = ts.read("b").as[(Long, Long)].collect().toMap
    assert(gotB.size === 38 && gotB(1L) === 100L && gotB(2L) === 200L)
    assert(!gotB.contains(3L) && !gotB.contains(4L))
    assert(ts.snapshot("b").bucketing.isDefined)
    assert(ts.liveDirs("b").forall(_.contains("__b=")),
      "replacement dirs must be bucket leaves")
    // empty source = pure region delete through SQL
    spark.sql(
      """INSERT INTO graft_oww.t REPLACE WHERE id > 90
        |SELECT id, v FROM graft_oww.t WHERE false""".stripMargin)
    assert(ts.read("t").count() === 82)
    // typed literals: a DATE region predicate must round-trip through
    // the connector-predicate SQL rendering (the internal encoding is
    // epoch DAYS — bare-number rendering would match nothing)
    ts.create("d", Seq(("2024-01-01", 1L), ("2024-01-02", 2L)).toDF("ds", "x")
      .select(col("ds").cast("date").as("d"), col("x")))
    spark.sql(
      """INSERT INTO graft_oww.d REPLACE WHERE d = DATE'2024-01-01'
        |SELECT CAST('2024-01-01' AS DATE) AS d, CAST(100 AS BIGINT) AS x""".stripMargin)
    val gotD = ts.read("d").select(col("d").cast("string"), col("x"))
      .as[(String, Long)].collect().toMap
    assert(gotD === Map("2024-01-01" -> 100L, "2024-01-02" -> 2L))
  }

  test("rewrite-shaped: a racing append conflicts loudly, never rebases") {
    val ts = freshStore()
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.append("t", Seq((99L, "r")).toDF("id", "v")) }
    try intercept[java.util.ConcurrentModificationException](
      ts.overwriteWhere("t", col("id") <= 5L, Seq((1L, "n")).toDF("id", "v")))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // the rival's append is intact, the replace never half-landed
    assert(ts.read("t").count() === 11)
    ts.overwriteWhere("t", col("id") <= 5L, Seq((1L, "n")).toDF("id", "v"))
    assert(ts.read("t").count() === 7) // 6..10, 99, new 1
  }

  test("timestamp REPLACE WHERE regions survive a non-UTC session " +
      "timezone (zone-qualified / NTZ literal round-trip)") {
    // r8 ADVICE: the connector-predicate SQL rendering emitted a
    // zone-less TIMESTAMP'...' from the UTC wall clock; re-parsed under
    // a non-UTC session zone it denoted a different INSTANT, shifting
    // the replaced/validated region by the zone offset. NTZ literals
    // re-parsed as session-zoned TIMESTAMP — same drift via the cast.
    val root = Files.createTempDirectory("owwtz").toString
    spark.conf.set("spark.sql.catalog.graft_owtz", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_owtz.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq("2024-03-01 05:00:00", "2024-03-01 18:00:00")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("s", "x")
      .select(col("s").cast("timestamp").as("t"), col("x"))) // instants (UTC session)
    ts.create("n", Seq("2024-03-01 05:00:00", "2024-03-01 18:00:00")
      .zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("s", "x")
      .select(col("s").cast("timestamp_ntz").as("t"), col("x")))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata") // +05:30
    try {
      // predicate parsed under +05:30: TIMESTAMP'12:00' = 06:30Z — only
      // the 05:00Z row matches; a zone-less round-trip would re-parse
      // the rendered UTC wall clock as +05:30 and shift the region
      spark.sql(
        """INSERT INTO graft_owtz.t REPLACE WHERE t < TIMESTAMP'2024-03-01 12:00:00'
          |SELECT TIMESTAMP'2024-03-01 11:00:00' AS t, CAST(100 AS BIGINT) AS x""".stripMargin)
      val got = ts.read("t").select("x").as[Long].collect().toSet
      assert(got === Set(100L, 1L), s"wrong region replaced: $got")
      // NTZ: wall-clock semantics, zone must not leak in at all
      spark.sql(
        """INSERT INTO graft_owtz.n REPLACE WHERE t < TIMESTAMP_NTZ'2024-03-01 12:00:00'
          |SELECT TIMESTAMP_NTZ'2024-03-01 11:00:00' AS t, CAST(200 AS BIGINT) AS x""".stripMargin)
      val gotN = ts.read("n").select("x").as[Long].collect().toSet
      assert(gotN === Set(200L, 1L), s"wrong NTZ region replaced: $gotN")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }
}
