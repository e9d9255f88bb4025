package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** SQL over the store through the DSv2 catalog: SELECT with column
  * pruning, snapshot isolation, and native DELETE FROM. */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  lazy val root: String = {
    val r = Files.createTempDirectory("graftcat").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", r)
    // NOTE: no outputTimestampType override here — TableStore itself must
    // pin TIMESTAMP_MICROS or the timestamp round-trip test breaks on
    // Spark's INT96 default
    r
  }

  def store = new TableStore(spark, root)

  test("SELECT over a store table through SQL, with aggregation") {
    store.create("accounts", Seq(
      (1L, "alice", 10.5, true), (2L, "bob", -3.0, false), (3L, "carol", 7.25, true))
      .toDF("id", "name", "balance", "active"))
    val got = spark.sql(
      "SELECT name, balance FROM graft.accounts WHERE active ORDER BY id")
      .as[(String, Double)].collect().toSeq
    assert(got === Seq(("alice", 10.5), ("carol", 7.25)))
    val agg = spark.sql("SELECT count(*), sum(balance) FROM graft.accounts").head()
    assert(agg.getLong(0) === 3 && math.abs(agg.getDouble(1) - 14.75) < 1e-9)
  }

  test("reads observe the committed snapshot (bucketed tables too)") {
    store.createBucketed("kv", (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), n = 4)
    assert(spark.sql("SELECT count(*) FROM graft.kv").head().getLong(0) === 50)
    store.append("kv", Seq((100L, "new")).toDF("k", "v"))
    assert(spark.sql("SELECT count(*) FROM graft.kv").head().getLong(0) === 51)
    assert(spark.sql("SELECT v FROM graft.kv WHERE k = 100").head().getString(0) === "new")
  }

  test("DELETE FROM ... WHERE runs natively against the store") {
    store.create("del_t", (1L to 10L).map(i => (i, i % 2 == 0)).toDF("id", "even"))
    spark.sql("DELETE FROM graft.del_t WHERE id > 7")
    assert(spark.sql("SELECT count(*) FROM graft.del_t").head().getLong(0) === 7)
    // the pre-delete version remains time-travel readable via the API
    assert(store.readVersion("del_t", 0).count() === 10)
    spark.sql("DELETE FROM graft.del_t WHERE even AND id < 5")
    assert(spark.sql("SELECT id FROM graft.del_t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 5L, 6L, 7L))
  }

  test("timestamps and dates round-trip through the SQL read path") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-08-12 10:30:00"),
        java.sql.Date.valueOf("2026-08-12"))).toDF("id", "ts", "d")
    store.create("times", df)
    val row = spark.sql("SELECT ts, d FROM graft.times").head()
    assert(row.getTimestamp(0) === java.sql.Timestamp.valueOf("2026-08-12 10:30:00"))
    assert(row.getDate(1) === java.sql.Date.valueOf("2026-08-12"))
  }

  test("INSERT INTO and INSERT OVERWRITE run natively against the store") {
    store.create("ins_t", Seq((1L, "a", Option(1.5))).toDF("id", "v", "x"))
    spark.sql("INSERT INTO graft.ins_t VALUES (2, 'b', 2.5), (3, 'c', CAST(NULL AS DOUBLE))")
    val got = spark.sql("SELECT id, v, x FROM graft.ins_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq === Seq((1L, "a", Some(1.5)), (2L, "b", Some(2.5)), (3L, "c", None)))
    // INSERT ... SELECT from another store table
    spark.sql("INSERT INTO graft.ins_t SELECT id + 10, v, x FROM graft.ins_t WHERE id = 1")
    assert(spark.sql("SELECT count(*) FROM graft.ins_t").head().getLong(0) === 4)
    // OVERWRITE replaces contents atomically; prior version time-travels
    val vBefore = store.currentVersion("ins_t")
    spark.sql("INSERT OVERWRITE graft.ins_t VALUES (99, 'only', 0.0)")
    assert(spark.sql("SELECT id FROM graft.ins_t").as[Long].collect().toSeq === Seq(99L))
    assert(store.readVersion("ins_t", vBefore).count() === 4)
  }

  test("SQL UPDATE and MERGE INTO run natively (row-level operations)") {
    store.create("rlo_t", Seq(
      (1L, "a", Option(10.0)), (2L, "b", Option(20.0)), (3L, "c", Option(30.0)))
      .toDF("id", "v", "x"))
    spark.sql("UPDATE graft.rlo_t SET x = x + 1 WHERE id >= 2")
    assert(spark.sql("SELECT sum(x) FROM graft.rlo_t").head().getDouble(0) === 62.0)

    Seq((2L, "B2", Option(200.0)), (4L, "d", Option(40.0)))
      .toDF("id", "v", "x").createOrReplaceTempView("rlo_src")
    spark.sql("""MERGE INTO graft.rlo_t t USING rlo_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, v, x FROM graft.rlo_t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "B2", 200.0),
      (3L, "c", 31.0), (4L, "d", 40.0)))
    // MERGE with DELETE clause
    spark.sql("""MERGE INTO graft.rlo_t t USING rlo_src s ON t.id = s.id
                |WHEN MATCHED AND t.id = 2 THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id FROM graft.rlo_t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 4L))
  }

  test("SHOW TABLES lists store tables") {
    store.create("listed", Seq((1L, "x")).toDF("id", "v"))
    val names = spark.sql("SHOW TABLES IN graft").select("tableName")
      .as[String].collect().toSet
    assert(names.contains("listed"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel through SQL") {
    store.create("tt_sql", Seq((1L, "a")).toDF("id", "v"))           // v0
    store.append("tt_sql", Seq((2L, "b")).toDF("id", "v"))           // v1
    store.overwrite("tt_sql", Seq((9L, "z")).toDF("id", "v"))        // v2
    assert(spark.sql("SELECT id FROM graft.tt_sql VERSION AS OF 0")
      .as[Long].collect().toSeq === Seq(1L))
    assert(spark.sql("SELECT id FROM graft.tt_sql VERSION AS OF 1 ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L))
    assert(spark.sql("SELECT id FROM graft.tt_sql")
      .as[Long].collect().toSeq === Seq(9L))
    // TIMESTAMP AS OF now resolves to the latest committed version
    assert(spark.sql(
      "SELECT id FROM graft.tt_sql TIMESTAMP AS OF current_timestamp()")
      .as[Long].collect().toSeq === Seq(9L))
    // writes against a pinned table are rejected
    intercept[Exception] {
      spark.sql("INSERT INTO graft.tt_sql VERSION AS OF 0 VALUES (5, 'x')")
    }
  }

  test("streaming table feed: each appended version arrives as a micro-batch") {
    store.create("st_feed", Seq((1L, "a")).toDF("id", "v"))
    val q = spark.readStream.table("graft.st_feed")
      .writeStream.format("memory").queryName("st_feed_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("st_feed_sink").count() === 1)
      store.append("st_feed", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("st_feed_sink").as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // a non-append commit fails the stream loudly instead of replaying
      store.overwrite("st_feed", Seq((9L, "z")).toDF("id", "v"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      assert(ex.getMessage != null)
    } finally q.stop()
  }

  test("ALTER TABLE ADD COLUMN evolves the schema through SQL") {
    store.create("evo", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("ALTER TABLE graft.evo ADD COLUMN score DOUBLE")
    // old files surface the new column as NULL through the SQL read path
    val got = spark.sql("SELECT id, score FROM graft.evo ORDER BY id")
      .as[(Long, Option[Double])].collect().toSeq
    assert(got === Seq((1L, None), (2L, None)))
    // inserts now carry it; mixed old/new files read consistently
    spark.sql("INSERT INTO graft.evo VALUES (3, 'c', 7.5)")
    val got2 = spark.sql(
      "SELECT id, score FROM graft.evo WHERE score IS NOT NULL").head()
    assert(got2.getLong(0) === 3 && got2.getDouble(1) === 7.5)
    // RENAME COLUMN is now supported via column mapping (ColumnMappingSpec
    // covers it in depth)
    spark.sql("ALTER TABLE graft.evo RENAME COLUMN v TO w")
    assert(spark.table("graft.evo").columns.contains("w"))
    // ALTER COLUMN TYPE: widening copy-on-write rewrite works
    store.create("evot", Seq((1, 10.0f), (2, 20.0f)).toDF("i", "f"))
    spark.sql("ALTER TABLE graft.evot ALTER COLUMN i TYPE BIGINT")
    spark.sql("ALTER TABLE graft.evot ALTER COLUMN f TYPE DOUBLE")
    assert(spark.table("graft.evot").schema("i").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(i), sum(f) FROM graft.evot").head()
      .getLong(0) === 3L)
    // old version still reads with its old type (time travel)
    assert(store.readVersion("evot", 0).schema("i").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // narrowing refused
    intercept[Exception] { spark.sql("ALTER TABLE graft.evot ALTER COLUMN i TYPE INT") }
  }

  test("filter pushdown reaches parquet-mr and never changes results") {
    store.create("pf", (1L to 1000L).map(i =>
      (i, s"name_$i", i * 1.5, i % 2 == 0)).toDF("id", "name", "x", "even"))
    val q = spark.sql(
      "SELECT id, x FROM graft.pf WHERE id > 990 AND name <> 'name_995' AND even")
    // the scan advertises the pushed predicates
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.description().contains("PushedFilters"))
    assert(scans.head.scan.description().contains("id"),
      s"expected id filter pushed: ${scans.head.scan.description()}")
    assert(q.as[(Long, Double)].collect().toSet ===
      Set((992L, 1488.0), (994L, 1491.0), (996L, 1494.0), (998L, 1497.0), (1000L, 1500.0)))
    // timestamp + date + IN-list predicates over the SQL read path
    store.create("pf2", Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), java.sql.Date.valueOf("2026-01-01")),
      (2L, java.sql.Timestamp.valueOf("2026-06-01 12:00:00"), java.sql.Date.valueOf("2026-06-01")),
      (3L, java.sql.Timestamp.valueOf("2026-12-31 23:59:59"), java.sql.Date.valueOf("2026-12-31")))
      .toDF("id", "ts", "d"))
    assert(spark.sql(
      """SELECT id FROM graft.pf2
        |WHERE ts >= TIMESTAMP '2026-06-01 00:00:00' AND d < DATE '2026-12-01'
        |  AND id IN (1, 2, 3)""".stripMargin).as[Long].collect().toSeq === Seq(2L))
    // pushed filter on a column old files lack (post-ADD COLUMN) is safe
    spark.sql("ALTER TABLE graft.pf2 ADD COLUMN tag STRING")
    spark.sql("INSERT INTO graft.pf2 VALUES (4, TIMESTAMP '2026-07-01 00:00:00', DATE '2026-07-01', 'hot')")
    assert(spark.sql("SELECT id FROM graft.pf2 WHERE tag = 'hot'")
      .as[Long].collect().toSeq === Seq(4L))
    assert(spark.sql("SELECT id FROM graft.pf2 WHERE tag IS NULL ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
  }

  test("DECIMAL(10,2) round-trips through the DSv2 write/read/stats path") {
    spark.sql("CREATE TABLE graft.dec_t (id BIGINT, amt DECIMAL(10,2))")
    spark.sql("INSERT INTO graft.dec_t VALUES (1, 12.34), (2, 56.78), (3, NULL)")
    val got = spark.sql("SELECT id, amt FROM graft.dec_t ORDER BY id").collect()
    assert(got.map(r => Option(r.getDecimal(1)).map(_.toString)).toSeq ===
      Seq(Some("12.34"), Some("56.78"), None))
    // predicate over the decimal column (pushed as unscaled long)
    assert(spark.sql("SELECT id FROM graft.dec_t WHERE amt > 50.00")
      .as[Long].collect().toSeq === Seq(2L))
    // metadata-only MIN/MAX from manifest stats, unscaled-long canonical
    val agg = spark.sql("SELECT min(amt) AS mn, max(amt) AS mx FROM graft.dec_t").head()
    assert(agg.getDecimal(0).toString === "12.34")
    assert(agg.getDecimal(1).toString === "56.78")
  }

  test("every column type the store accepts round-trips through SQL INSERT") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      "b" -> ByteType, "s" -> ShortType, "i" -> IntegerType, "l" -> LongType,
      "f" -> FloatType, "d" -> DoubleType, "dec9" -> DecimalType(9, 2),
      "dec18" -> DecimalType(18, 4), "dec38" -> DecimalType(38, 6),
      "str" -> StringType, "bin" -> BinaryType, "bool" -> BooleanType,
      "date" -> DateType, "ts" -> TimestampType, "ntz" -> TimestampNTZType,
      "arr" -> ArrayType(IntegerType), "m" -> MapType(StringType, LongType),
      "st" -> StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))
      .map { case (n, t) => StructField(n, t) })
    val rows = Seq(
      Row(1.toByte, -2.toShort, 3, 4L << 40, 1.5f, -2.25,
        new java.math.BigDecimal("1234567.89"), new java.math.BigDecimal("12345678901234.5678"),
        new java.math.BigDecimal("12345678901234567890123456789012.345678"),
        "héllo", Array[Byte](0, 1, -1), true, java.sql.Date.valueOf("2026-08-12"),
        java.sql.Timestamp.valueOf("2026-08-12 10:30:00.123456"),
        java.time.LocalDateTime.parse("2026-08-12T10:30:00.654321"),
        Seq(1, 2, 3), Map("a" -> 1L, "b" -> 2L), Row(5, "y")),
      Row.fromSeq(Seq.fill(schema.length)(null)))
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    store.createEmpty("alltypes", schema)
    src.createOrReplaceTempView("alltypes_src")
    spark.sql("INSERT INTO graft.alltypes SELECT * FROM alltypes_src")
    def sorted(rs: Array[Row]) = rs.sortBy(_.isNullAt(0)).toSeq
    val expected = sorted(src.collect())
    assert(sorted(spark.sql("SELECT * FROM graft.alltypes").collect()) === expected)
    assert(sorted(store.read("alltypes").collect()) === expected)
  }

  test("_file metadata column names the producing parquet file") {
    store.create("fmeta", Seq((1L, "a")).toDF("id", "v"))
    store.append("fmeta", Seq((2L, "b")).toDF("id", "v"))
    val rows = spark.sql("SELECT id, _file FROM graft.fmeta")
      .as[(Long, String)].collect().toMap
    assert(rows.size === 2)
    assert(rows.values.forall(_.endsWith(".parquet")))
    assert(rows(1L) !== rows(2L)) // two appends -> two distinct files
  }

  test("storage-partitioned join: co-bucketed tables join without shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      store.createBucketed("spj_a",
        (0L until 200L).map(i => (i, s"a$i")).toDF("id", "va"), Seq("id"), n = 8)
      store.createBucketed("spj_b",
        (0L until 200L by 2).map(i => (i, s"b$i")).toDF("id", "vb"), Seq("id"), n = 8)
      val joined = spark.sql(
        "SELECT a.id, a.va, b.vb FROM graft.spj_a a JOIN graft.spj_b b ON a.id = b.id")
      assert(joined.count() === 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free storage-partitioned join, got:\n$plan")
      // correctness spot check
      assert(joined.filter("id = 42").select("va", "vb")
        .as[(String, String)].head() === ("a42", "b42"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("aggregation on bucket keys runs shuffle-free (key-grouped scan)") {
    store.createBucketed("spj_agg",
      (0L until 300L).map(i => (i % 30, i.toDouble)).toDF("k", "x"), Seq("k"), n = 8)
    val agg = spark.sql("SELECT k, sum(x) AS sx, count(*) AS n FROM graft.spj_agg GROUP BY k")
    assert(agg.count() === 30)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected shuffle-free aggregation over the key-grouped scan, got:\n$plan")
    assert(agg.filter("k = 3").select("n").as[Long].head() === 10L)
  }

  test("a failing TBLPROPERTIES rolls the whole CREATE TABLE back — the " +
      "corrected statement re-runs without a manual DROP") {
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.cre_rb (id BIGINT, v STRING)
        |TBLPROPERTIES ('identity.id.next' = 'not-a-number')""".stripMargin))
    assert(!store.exists("cre_rb"), "half-configured table left behind")
    spark.sql("""CREATE TABLE graft.cre_rb (id BIGINT, v STRING)
                |TBLPROPERTIES ('identity.id.next' = '1')""".stripMargin)
    // the corrected create landed WITH its identity config (library
    // writes mint from it; SQL INSERT is the attach path, no minting)
    store.append("cre_rb", Seq("a").toDF("v"))
    assert(spark.sql("SELECT id FROM graft.cre_rb").head().getLong(0) === 1L)
  }

  test("table identifiers are one path segment: quoted names with " +
      "separators can never escape the store root") {
    store.create("sec_t", Seq((1L, "a")).toDF("id", "v"))
    // a traversal name is rejected loudly, nothing deleted
    val e = intercept[Exception](spark.sql("DROP TABLE graft.`../sec_t`"))
    assert(e.getMessage.contains("invalid table name") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
    assert(store.exists("sec_t"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.`sub/dir_t` (id BIGINT) USING graft"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "sub")))
  }

  test("a bogus namespace never silently resolves a root table") {
    store.create("ns_t", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM graft.bogus_ns.ns_t").collect())
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    // SHOW TABLES in a nonexistent namespace lists nothing (not everything)
    assert(spark.sql("SHOW TABLES IN graft.bogus_ns").count() === 0)
  }

  test("CREATE TABLE AS SELECT and DROP TABLE through the catalog") {
    store.create("ctas_src", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    spark.sql("CREATE TABLE graft.ctas_t AS SELECT id, v FROM graft.ctas_src WHERE id > 1")
    assert(spark.sql("SELECT id FROM graft.ctas_t ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 3L))
    spark.sql("DROP TABLE graft.ctas_t")
    assert(!store.exists("ctas_t"))
  }

  test("CREATE TABLE declares bucketing (bucket transform) and a bloom index") {
    spark.sql("""CREATE TABLE graft.ddl_t (id BIGINT, v STRING)
                |PARTITIONED BY (bucket(8, id))
                |TBLPROPERTIES ('bloom_columns' = 'id')""".stripMargin)
    assert(store.bucketingOf("ddl_t").exists(b => b.keys == Seq("id") && b.n == 8))
    spark.sql("INSERT INTO graft.ddl_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM graft.ddl_t").head().getLong(0) === 3)
    // SQL INSERT routed rows into __b= leaves: the declared layout
    // survives with no compact() step
    assert(store.liveDirs("ddl_t").nonEmpty)
    assert(store.liveDirs("ddl_t").forall(_.contains("/__b=")))
    // the declared bloom index built files for the inserted leaves
    assert(store.bloomRoot("ddl_t").toFile.list().exists(_.endsWith(".id.bloom")))
    // rows are in the buckets the store's own layout function assigns:
    // a library mergeUpsert must take the bucket-PRUNED path and stay
    // correct (it reads only the source keys' buckets)
    store.mergeUpsert("ddl_t",
      Seq((2L, "B")).toDF("id", "v"), Seq("id"), changeTypeCol = None)
    assert(spark.sql("SELECT v FROM graft.ddl_t WHERE id = 2").head().getString(0) === "B")
    assert(spark.sql("SELECT count(*) FROM graft.ddl_t").head().getLong(0) === 3)
    // INSERT OVERWRITE keeps the bucketed layout too
    spark.sql("INSERT OVERWRITE graft.ddl_t VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM graft.ddl_t").head().getLong(0) === 1)
    assert(store.liveDirs("ddl_t").forall(_.contains("/__b=")))
    // only bucket transforms are accepted
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ddl_bad (id BIGINT) PARTITIONED BY (id)")
    }
  }

  test("a bucketed SQL INSERT from many partitions lands one file per " +
      "leaf, written by one task") {
    val st = store // registers the catalog
    spark.sql("CREATE TABLE graft.ins_b (id BIGINT, v STRING) PARTITIONED BY (bucket(16, id))")
    spark.sql("INSERT INTO graft.ins_b SELECT id, CAST(id AS STRING) FROM range(0, 2000, 1, 8)")
    assert(spark.sql("SELECT count(*) FROM graft.ins_b").head().getLong(0) === 2000)
    val leaves = st.liveDirs("ins_b")
    assert(leaves.size === 16 && leaves.forall(_.contains("/__b=")), leaves)
    val files = leaves.map(l => scala.util.Using.resource(
        Files.list(st.dataRoot("ins_b").resolve(l)))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq))
    assert(files.forall(_.size == 1), files)
    // part-<partition>-<task>.parquet: the clustering requests no
    // partition count, so adaptive execution packs the small buckets
    // of a 2,000-row insert into one write task
    val writers = files.flatten.map(_.split('-')(1)).distinct
    assert(writers.size === 1, files)
  }

  test("row-level ops with non-pushable predicates stay correct (fallback)") {
    // an expression condition (id % 2 = 0) is not translatable for the
    // DELETE pushdown and gives the runtime group filter nothing exact
    // to key on — whatever path Spark picks, results must be right
    store.create("fb_t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    spark.sql("DELETE FROM graft.fb_t WHERE id % 2 = 0")
    assert(spark.sql("SELECT id FROM graft.fb_t ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 5L, 7L, 9L))
    spark.sql("UPDATE graft.fb_t SET v = 'odd' WHERE id % 3 = 0")
    assert(spark.sql("SELECT v FROM graft.fb_t WHERE id = 3").head().getString(0) === "odd")
    assert(spark.sql("SELECT v FROM graft.fb_t WHERE id = 5").head().getString(0) === "v5")
  }

  test("SQL UPDATE/MERGE rewrite only the dirs containing matches (group-based)") {
    store.create("grp_t", Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x"))
    store.append("grp_t", Seq((10L, "c", 30.0), (11L, "d", 40.0)).toDF("id", "v", "x"))
    store.append("grp_t", Seq((20L, "e", 50.0), (21L, "f", 60.0)).toDF("id", "v", "x"))
    val before = store.liveDirs("grp_t")
    assert(before.size === 3)
    // UPDATE matching only the middle dir: the other two must be carried
    spark.sql("UPDATE graft.grp_t SET x = x + 1 WHERE id = 10")
    val afterUpdate = store.liveDirs("grp_t")
    assert(afterUpdate.toSet.intersect(before.toSet) === Set(before(0), before(2)))
    assert(spark.sql("SELECT sum(x) FROM graft.grp_t").head().getDouble(0) === 211.0)
    assert(spark.sql("SELECT count(*) FROM graft.grp_t").head().getLong(0) === 6)
    // MERGE matching only the last dir: carried dirs keep their entries
    Seq((20L, "E", 500.0), (30L, "g", 70.0)).toDF("id", "v", "x")
      .createOrReplaceTempView("grp_src")
    spark.sql("""MERGE INTO graft.grp_t t USING grp_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = store.liveDirs("grp_t")
    // dirs [1,2] and the rewritten [10,11] dir survive untouched
    assert(afterMerge.toSet.intersect(afterUpdate.toSet).size >= 2)
    val got = spark.sql("SELECT id, v, x FROM graft.grp_t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "b", 20.0), (10L, "c", 31.0),
      (11L, "d", 40.0), (20L, "E", 500.0), (21L, "f", 60.0), (30L, "g", 70.0)))
  }

  test(".files metadata table: per-dir inventory from manifest + listing") {
    store.create("ft", (0L until 100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    store.append("ft", (100L until 150L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
    store.deleteVectorized("ft", org.apache.spark.sql.functions.col("id") < 10)
    val inv = spark.sql(
      "SELECT dir, n_files, bytes, rows, dv_deleted, column_stats FROM graft.ft.files")
      .collect().sortBy(_.getString(0))
    assert(inv.length === 2)
    assert(inv.forall(_.getInt(1) === 1))
    assert(inv.forall(_.getLong(2) > 0L), "bytes from the fs listing")
    assert(inv.map(_.getLong(3)).toSeq === Seq(100L, 50L), "manifest row counts")
    assert(inv.map(_.getLong(4)).toSeq === Seq(10L, 0L), "dv tombstones")
    assert(inv.head.getString(5).contains("\"id\":{\"min\":\"0\",\"max\":\"99\""),
      s"column stats json: ${inv.head.getString(5)}")
    // planned as a LocalScan: zero data files read
    val plan = spark.sql("SELECT * FROM graft.ft.files")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("metadata-only"),
      s"expected local scan: $plan")
    // time travel: the version-0 inventory has the single original dir
    val v0 = spark.read.option("version", 0).table("graft.ft.files").collect()
    assert(v0.length === 1 && v0.head.getLong(3) === 100L)
  }

  test("small files pack into shared scan tasks (bin-packed partitions), " +
      "results identical, DV'd files pack too") {
    val ts = store
    // 40 tiny one-file dirs — unpacked this scan would launch 40+ tasks
    ts.create("packed", spark.range(0, 10).selectExpr("id", "id * 2 AS x")
      .coalesce(1))
    (1 to 39).foreach(i => ts.append("packed",
      spark.range(i * 10L, i * 10L + 10).selectExpr("id", "id * 2 AS x")
        .coalesce(1)))
    // a DV on one dir: packed partitions must still apply tombstones
    ts.deleteVectorized("packed", $"id" === 5L)
    val q = spark.sql("SELECT id, x FROM graft.packed")
    val rows = q.collect()
    assert(rows.length === 399)
    assert(rows.map(_.getLong(0)).toSet === ((0L until 400L).toSet - 5L))
    assert(rows.forall(r => r.getLong(1) === r.getLong(0) * 2))
    // the executed scan packed the 40 files into far fewer tasks —
    // bounded by defaultParallelism (size-driven), never one per file
    val scanParts = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.head
    assert(scanParts < 40, s"expected packed partitions, got $scanParts")
    // pushed point predicate still prunes + answers exactly
    assert(spark.sql("SELECT count(*) FROM graft.packed WHERE id = 123")
      .head().getLong(0) === 1L)
  }

  test(".changes over a BUCKETED table's recorded merge CDC matches the " +
      "library read (regression: bucket-nested _cdf files were invisible " +
      "to the SQL/stream surface)") {
    // a mergeUpsert on a bucketed CDF table writes its change rows flat
    // under __cdc=<kind>/, but an older writer nested them one level
    // deeper (__cdc=<kind>/__b=<bucket>/): the file-group lister recurses
    // so the SQL `.changes` read (and every `.changes` STREAM batch)
    // reads both layouts, never ZERO rows where readChangesBetween sees
    // them all (ChangeFeedSpec reads the nested layout next to the flat)
    import org.apache.spark.sql.functions.col
    val ts = store
    ts.createBucketed("bcdc",
      (1L to 100L).map(i => (i, i * 10L)).toDF("k", "qty"), Seq("k"), n = 8)
    ts.setChangeFeed("bcdc", true)
    val v0 = ts.currentVersion("bcdc")
    ts.mergeUpsert("bcdc",
      (50L to 120L).map(i => (i, i * 10L + 1L)).toDF("k", "qty"),
      Seq("k"), changeTypeCol = None)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "qty", "_change_type").as[(Long, Long, String)].collect().toSet
    val expected = (50L to 100L).map(i => (i, i * 10L, "update_preimage")).toSet ++
      (50L to 100L).map(i => (i, i * 10L + 1L, "update_postimage")) ++
      (101L to 120L).map(i => (i, i * 10L + 1L, "insert"))
    val libDf = ts.readChangesBetween("bcdc", v0, ts.currentVersion("bcdc"))
    val lib = libDf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(lib === Map("update_preimage" -> 51L, "update_postimage" -> 51L,
      "insert" -> 20L), lib.toString)
    assert(rows(libDf) === expected)
    val sqlRead = spark.read
      .option("startVersion", v0.toString)
      .option("endVersion", ts.currentVersion("bcdc").toString)
      .table("graft.bcdc.changes")
    assert(sqlRead.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap === lib)
    assert(rows(sqlRead) === expected)
    // values identical, not just counts
    assert(sqlRead.filter(col("_change_type") === "update_postimage")
      .agg(org.apache.spark.sql.functions.sum("qty")).head().getLong(0) ===
      (50L to 100L).map(_ * 10L + 1L).sum)
    // and the DELETE kind rides the same nested layout
    val v1 = ts.currentVersion("bcdc")
    ts.deleteVectorized("bcdc", col("k") <= 10L)
    val delExpected = (1L to 10L).map(i => (i, i * 10L, "delete")).toSet
    val delLib = ts.readChangesBetween("bcdc", v1, ts.currentVersion("bcdc"))
      .filter(col("_change_type") === "delete")
    val delSql = spark.read
      .option("startVersion", v1.toString)
      .table("graft.bcdc.changes")
      .filter(col("_change_type") === "delete")
    assert(delLib.count() === 10L)
    assert(delSql.count() === delLib.count())
    assert(rows(delLib) === delExpected)
    assert(rows(delSql) === delExpected)
  }
}
