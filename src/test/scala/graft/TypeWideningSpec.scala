package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Delta-style TYPE WIDENING (metadata-only ALTER COLUMN TYPE): for the
  * pairs Spark's parquet readers decode in place, the retype is ONE
  * manifest commit — no data rewrite — and every scan requests the
  * widened schema over the old files. The copy-on-write fallback
  * remains for canUpCast pairs the reader can't decode (int→string). */
class TypeWideningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  def fresh(): TableStore =
    new TableStore(spark, Files.createTempDirectory("widenstore").toString)

  test("int→bigint is metadata-only: same data dirs, widened reads, " +
      "post-widen appends exceed the old range") {
    val ts = fresh()
    ts.create("t", (1 to 100).map(i => (i, s"v$i")).toDF("x", "v"))
    val dirsBefore = ts.liveDirs("t")
    val v0 = ts.currentVersion("t")
    ts.alterColumnType("t", "x", LongType)
    assert(ts.liveDirs("t") === dirsBefore, "widening must not rewrite data")
    assert(ts.currentVersion("t") === v0 + 1) // one metadata commit
    assert(ts.schemaOf("t")("x").dataType === LongType)
    // old int32 files decode as BIGINT
    assert(ts.read("t").agg(sum("x")).head().getLong(0) === 5050L)
    // a value only BIGINT can hold lands next to the old files
    ts.append("t", Seq((Int.MaxValue.toLong + 7L, "big")).toDF("x", "v"))
    val big = ts.read("t").filter(col("x") > Int.MaxValue.toLong)
      .select("v").as[String].collect().toSeq
    assert(big === Seq("big"))
    // time travel below the widening keeps the narrow type
    assert(ts.readVersion("t", v0).schema("x").dataType === IntegerType)
  }

  test("manifest stats survive the widening re-canonicalized (pruning " +
      "stays typed-correct)") {
    val ts = fresh()
    ts.create("t", (1 to 50).map(i => (i, i)).toDF("x", "y"))
    ts.append("t", (1000 to 1050).map(i => (i, i)).toDF("x", "y"))
    ts.alterColumnType("t", "x", LongType)
    val stats = ts.snapshot("t").stats
    assert(stats.nonEmpty)
    stats.values.foreach { ds =>
      ds.cols.get("x").foreach { cs =>
        assert(cs.min.forall(_.isInstanceOf[Long]) &&
          cs.max.forall(_.isInstanceOf[Long]),
          s"stats must re-canonicalize to Long, got ${cs.min}/${cs.max}")
      }
    }
    // the widened bounds still prune: a BIGINT point filter outside
    // dir 1's range must read only dir 2 (observable through results
    // staying exact either way — the typed compare must not throw)
    assert(ts.read("t").filter(col("x") === 1025L).count() === 1L)
  }

  test("float→double, date→timestamp_ntz, int→decimal all widen in place") {
    val ts = fresh()
    ts.create("t", Seq((1, 1.5f, "2024-03-01"), (2, 2.5f, "2024-03-02"))
      .toDF("i", "f", "d")
      .select(col("i"), col("f"), col("d").cast("date").as("d")))
    val dirsBefore = ts.liveDirs("t")
    ts.alterColumnType("t", "f", DoubleType)
    ts.alterColumnType("t", "d", TimestampNTZType)
    ts.alterColumnType("t", "i", DecimalType(12, 0))
    assert(ts.liveDirs("t") === dirsBefore)
    val row = ts.read("t").orderBy("i").head()
    assert(row.getDecimal(0).longValueExact() === 1L)
    assert(row.getDouble(1) === 1.5d)
    assert(row.getAs[java.time.LocalDateTime](2) ===
      java.time.LocalDate.parse("2024-03-01").atStartOfDay())
  }

  test("refusals: narrowing, bucketing keys, bloom columns") {
    val ts = fresh()
    ts.createBucketed("b", (1L to 40L).map(i => (i, i.toInt)).toDF("k", "x"),
      Seq("k"), 4)
    ts.alterColumnType("b", "x", IntegerType) // same type: silent no-op
    intercept[IllegalArgumentException](
      ts.alterColumnType("b", "x", ShortType)) // narrowing int→short
    intercept[IllegalArgumentException](
      ts.alterColumnType("b", "k", IntegerType)) // narrowing long→int
    ts.create("bl", (1 to 20).map(i => (i, i.toLong)).toDF("x", "k"))
    ts.setBloomColumns("bl", Seq("x"))
    val e = intercept[IllegalArgumentException](
      ts.alterColumnType("bl", "x", LongType))
    assert(e.getMessage.contains("bloom"))
  }

  test("bucketing-key retype refused even though widening (hash layout " +
      "is type-dependent)") {
    val ts = fresh()
    ts.createBucketed("b", (1 to 40).map(i => (i, i)).toDF("k", "x"),
      Seq("k"), 4)
    val e = intercept[IllegalArgumentException](
      ts.alterColumnType("b", "k", LongType))
    assert(e.getMessage.contains("bucketing"))
  }

  test("non-decodable upcast (int→string) falls back to the " +
      "id-preserving rewrite") {
    val ts = fresh()
    ts.create("t", (1 to 30).map(i => (i, i)).toDF("k", "x"))
    ts.enableRowTracking("t")
    val before = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Int, Long)].collect().toMap
    val dirsBefore = ts.liveDirs("t")
    ts.alterColumnType("t", "x", StringType)
    assert(ts.liveDirs("t") !== dirsBefore, "int→string must rewrite")
    assert(ts.schemaOf("t")("x").dataType === StringType)
    assert(ts.read("t").filter(col("x") === "7").count() === 1L)
    val after = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Int, Long)].collect().toMap
    assert(after === before, "rewrite must keep every row's id")
  }

  test("change feed spanning a widening unifies to the wide type") {
    val ts = fresh()
    ts.create("t", (1 to 10).map(i => (i, i)).toDF("k", "x"))  // v0
    ts.setChangeFeed("t", true)                                 // v1
    ts.append("t", (11 to 20).map(i => (i, i)).toDF("k", "x")) // v2 (old type)
    ts.alterColumnType("t", "x", LongType)                      // v3 (widen)
    ts.append("t", Seq((21, Int.MaxValue.toLong + 1L)).toDF("k", "x")) // v4
    val ch = ts.readChangesBetween("t", 1, ts.currentVersion("t"))
    assert(ch.schema("x").dataType === LongType)
    val got = ch.filter(col("_change_type") === "insert")
      .select("x").as[Long].collect().toSet
    assert(got === ((11 to 20).map(_.toLong).toSet + (Int.MaxValue.toLong + 1L)))
  }

  test("an append racing a widening refuses loudly (its dirs and stats " +
      "were written under the old schema), then succeeds on retry") {
    val ts = fresh()
    ts.create("t", (1 to 50).map(i => (i, i)).toDF("k", "x"))
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.alterColumnType("t", "x", LongType) }
    try intercept[java.util.ConcurrentModificationException](
      ts.append("t", Seq((51, 51)).toDF("k", "x")))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // the retry conforms to the widened schema and lands cleanly
    ts.append("t", Seq((51, 51)).toDF("k", "x"))
    assert(ts.read("t").agg(sum("x")).head().getLong(0) === (1 to 51).sum.toLong)
    assert(ts.schemaOf("t")("x").dataType === LongType)
  }

  test("appendEvolve with a still-narrow source conforms up to the " +
      "widened column; CHECK constraints keep enforcing across the widen") {
    val ts = fresh()
    ts.create("t", (1 to 20).map(i => (i, i)).toDF("k", "x"))
    ts.addCheckConstraint("t", "x_pos", "x > 0")
    ts.alterColumnType("t", "x", LongType)
    // a producer still emitting the old narrow type keeps working
    ts.appendEvolve("t", Seq((21, 21)).toDF("k", "x"))
    assert(ts.read("t").agg(sum("x")).head().getLong(0) === (1 to 21).sum.toLong)
    // the stored CHECK still guards the widened column
    val e = intercept[Exception](
      ts.append("t", Seq((22, -5L)).toDF("k", "x")))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(8).exists(t => String.valueOf(t.getMessage).contains("x_pos")))
  }

  test("catalog scan with a pushed filter over a widened column reads " +
      "old narrow files correctly (pushdown dropped per-file, never wrong)") {
    val root = Files.createTempDirectory("widenpush").toString
    spark.conf.set("spark.sql.catalog.graft_widenpush", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_widenpush.root", root)
    val ts = new TableStore(spark, root)
    // the DSv2 scan pushes filters into parquet-mr — a BIGINT predicate
    // over an old INT32 file must drop per-file instead of failing
    // schema validation
    ts.createBucketed("b", (1L to 100L).map(i => (i, i.toInt)).toDF("k", "x"),
      Seq("k"), 4)
    ts.alterColumnType("b", "x", LongType)
    ts.append("b", Seq((101L, Int.MaxValue.toLong + 9L)).toDF("k", "x"))
    val got = spark.sql(
      s"SELECT k FROM graft_widenpush.b WHERE x > ${Int.MaxValue.toLong}")
      .as[Long].collect().toSeq
    assert(got === Seq(101L))
    assert(spark.sql("SELECT count(*) FROM graft_widenpush.b WHERE x <= 50")
      .head().getLong(0) === 50L)
  }

  test("streaming .changes source spanning a widening delivers the wide type") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("widenstream").toString
    spark.conf.set("spark.sql.catalog.graft_widenst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_widenst.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1 to 10).map(i => (i, i)).toDF("k", "x"))  // v0
    ts.setChangeFeed("t", true)                                 // v1
    ts.append("t", (11 to 20).map(i => (i, i)).toDF("k", "x")) // v2 (int files)
    ts.alterColumnType("t", "x", LongType)                      // v3 (widen)
    ts.append("t", Seq((21, Int.MaxValue.toLong + 2L)).toDF("k", "x")) // v4
    val q = spark.readStream.option("startVersion", "1")
      .table("graft_widenst.t.changes")
      .writeStream.format("memory").queryName("widenst_mem")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("widenst_mem")
    assert(got.schema("x").dataType === LongType)
    assert(got.filter(col("_change_type") === "insert")
      .select("x").as[Long].collect().toSet ===
      ((11 to 20).map(_.toLong).toSet + (Int.MaxValue.toLong + 2L)))
  }

  test("DSv2 catalog scan widens old files too (vectorized reader) and " +
      "SQL ALTER COLUMN TYPE goes metadata-only") {
    val root = Files.createTempDirectory("widensql").toString
    spark.conf.set("spark.sql.catalog.graft_widen", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_widen.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1 to 100).map(i => (i, s"v$i")).toDF("x", "v"))
    val dirsBefore = ts.liveDirs("t")
    spark.sql("ALTER TABLE graft_widen.t ALTER COLUMN x TYPE BIGINT")
    assert(ts.liveDirs("t") === dirsBefore, "SQL widen must not rewrite")
    val got = spark.sql(
      "SELECT sum(x) AS s FROM graft_widen.t WHERE x > 90").head()
    assert(got.getLong(0) === (91 to 100).sum.toLong)
    assert(spark.table("graft_widen.t").schema("x").dataType === LongType)
  }

  test("decimal targets above the writer's precision-18 layout refuse " +
      "loudly — never a wedged table") {
    val ts = fresh()
    ts.create("t", (1L to 20L).map(i => (i, i * 100L)).toDF("k", "amt"))
    // canUpCast(bigint, DECIMAL(20,0)) holds, but the engine can only
    // WRITE decimals to precision 18: committing the widen metadata-only
    // would make every later append/merge throw with no way back
    // (canUpCast forbids narrowing). Must refuse upfront instead.
    val e1 = intercept[IllegalArgumentException](
      ts.alterColumnType("t", "amt", DecimalType(20, 0)))
    assert(e1.getMessage.contains("precision 18"))
    ts.create("d", (1 to 20).map(i => i).toDF("k")
      .select(col("k"), col("k").cast(DecimalType(12, 2)).as("amt")))
    val e2 = intercept[IllegalArgumentException](
      ts.alterColumnType("d", "amt", DecimalType(38, 28)))
    assert(e2.getMessage.contains("precision 18"))
    // the refusals left both tables fully writable
    ts.append("t", Seq((21L, 2100L)).toDF("k", "amt"))
    ts.append("d", Seq((21, BigDecimal("21.00"))).toDF("k", "amt")
      .select(col("k"), col("amt").cast(DecimalType(12, 2)).as("amt")))
    assert(ts.read("t").count() === 21L && ts.read("d").count() === 21L)
  }

  test("decimal rescale widening within the writable range: metadata-only, " +
      "exact values through the catalog scan, predicates push only on " +
      "scale-matching files") {
    val root = Files.createTempDirectory("widendec").toString
    spark.conf.set("spark.sql.catalog.graft_widendec", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_widendec.root", root)
    val ts = new TableStore(spark, root)
    // the DSv2 scan's vectorized reader rescales unscaled longs per
    // file, and the reader decides pushdown per file
    ts.createBucketed("b", (1 to 100).map(i => i).toDF("k")
      .select(col("k").cast("long").as("k"),
        col("k").cast(DecimalType(10, 2)).as("amt")), Seq("k"), 4)
    val dirsBefore = ts.liveDirs("b")
    ts.alterColumnType("b", "amt", DecimalType(18, 4))
    assert(ts.liveDirs("b") === dirsBefore, "decimal rescale must be metadata-only")
    // post-widen append carries the new scale next to the old files
    ts.append("b", Seq((101L, BigDecimal("101.2345"))).toDF("k", "amt")
      .select(col("k"), col("amt").cast(DecimalType(18, 4)).as("amt")))
    // exact rescale: old files' unscaled x100, new file as-stored. The
    // predicate pushes into post-widen files (annotation scale == 4)
    // and drops per-file on pre-widen ones (scale 2) — either way the
    // answer is exact
    val got = spark.sql(
      "SELECT k, amt FROM graft_widendec.b WHERE amt > 99.5 ORDER BY k")
      .collect().toSeq
    assert(got.map(_.getLong(0)) === Seq(100L, 101L))
    assert(got.map(_.getDecimal(1).toPlainString) === Seq("100.0000", "101.2345"))
    assert(spark.sql("SELECT sum(amt) AS s FROM graft_widendec.b")
      .head().getDecimal(0).toPlainString === "5151.2345")
  }

  test("unwidened INT64-backed decimal predicates stay pushable on the " +
      "catalog scan (scale matches the file annotation)") {
    val root = Files.createTempDirectory("decpush").toString
    spark.conf.set("spark.sql.catalog.graft_decpush", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_decpush.root", root)
    val ts = new TableStore(spark, root)
    ts.createBucketed("b", (1 to 60).map(i => i).toDF("k")
      .select(col("k").cast("long").as("k"),
        col("k").cast(DecimalType(12, 2)).as("amt")), Seq("k"), 4)
    assert(spark.sql(
      "SELECT count(*) FROM graft_decpush.b WHERE amt >= 31.00")
      .head().getLong(0) === 30L)
    assert(spark.sql(
      "SELECT count(*) FROM graft_decpush.b WHERE amt = 7.00")
      .head().getLong(0) === 1L)
  }

  test("mergeUpsertEvolve widens across the merge (int→bigint rides the " +
      "metadata-only path) and adds the source's new column") {
    val ts = fresh()
    ts.create("t", (1 to 100).map(i => (i.toLong, i, s"s$i"))
      .toDF("k", "qty", "status"))
    val v0 = ts.currentVersion("t")
    // source: qty BIGINT beyond int range, NEW col price, NO status
    val src = Seq((2L, Int.MaxValue.toLong + 2L, 0.5),
        (101L, Int.MaxValue.toLong + 101L, 1.5))
      .toDF("k", "qty", "price")
    ts.mergeUpsertEvolve("t", src, Seq("k"), changeTypeCol = None)
    val sch = ts.schemaOf("t")
    assert(sch("qty").dataType === LongType)
    assert(sch.fieldNames.toSeq === Seq("k", "qty", "status", "price"))
    // the widen and add-column are metadata-only commits BEFORE the
    // merge's data commit: widen at v0+1, add at v0+2, merge at v0+3
    assert(ts.currentVersion("t") === v0 + 3)
    assert(ts.readVersion("t", v0 + 1).schema("qty").dataType === LongType)
    assert(ts.readVersion("t", v0 + 2).schema.fieldNames.contains("price"))
    val out = ts.read("t")
    // matched row: qty updated past int range, status KEPT, price set
    val r2 = out.filter(col("k") === 2L).head()
    assert(r2.getLong(out.columns.indexOf("qty")) === Int.MaxValue.toLong + 2L)
    assert(r2.getString(out.columns.indexOf("status")) === "s2")
    assert(r2.getDouble(out.columns.indexOf("price")) === 0.5)
    // untouched row: old narrow value decodes wide, price NULL
    val r3 = out.filter(col("k") === 3L).head()
    assert(r3.getLong(out.columns.indexOf("qty")) === 3L)
    assert(r3.isNullAt(out.columns.indexOf("price")))
    // inserted row: status NULL (source never carried it)
    val r101 = out.filter(col("k") === 101L).head()
    assert(r101.isNullAt(out.columns.indexOf("status")))
    assert(r101.getDouble(out.columns.indexOf("price")) === 1.5)
    assert(out.count() === 101L)
  }

  test("mergeUpsertEvolve guards: case-colliding source refused; missing " +
      "merge key refused; unwidenable decimal target refuses loudly") {
    val ts = fresh()
    ts.create("t", Seq((1L, BigDecimal("1.00"))).toDF("k", "amt")
      .select(col("k"), col("amt").cast(DecimalType(12, 2)).as("amt")))
    val collide = Seq((1L, 1, 2)).toDF("k", "Amt", "amt")
    val e1 = intercept[IllegalArgumentException](
      ts.mergeUpsertEvolve("t", collide, Seq("k"), changeTypeCol = None))
    assert(e1.getMessage.contains("collide case-insensitively"))
    val noKey = Seq((1, 2)).toDF("amt2", "amt3")
    val e2 = intercept[IllegalArgumentException](
      ts.mergeUpsertEvolve("t", noKey, Seq("k"), changeTypeCol = None))
    assert(e2.getMessage.contains("lacks merge key"))
    // widening amt to DECIMAL(22,2) is canUpCast but outside the
    // writer's INT64 layout — alterColumnType's loud refusal surfaces
    val wide = Seq((1L, BigDecimal("2.00"))).toDF("k", "amt")
      .select(col("k"), col("amt").cast(DecimalType(22, 2)).as("amt"))
    val e3 = intercept[IllegalArgumentException](
      ts.mergeUpsertEvolve("t", wide, Seq("k"), changeTypeCol = None))
    assert(e3.getMessage.contains("precision 18"))
  }
}
