package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Change data feed: write-time change capture on row-level mutations,
  * manifest-diff synthesis for appends / drops / full replaces, and the
  * no-logical-change marker on OPTIMIZE-family rewrites. */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("cdfstore").toString)

  private def changes(ts: TableStore, name: String, from: Long, to: Long) =
    ts.readChangesBetween(name, from, to)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet

  test("Ivm maintains a grouped view incrementally, retracting emptied groups") {
    val ts = freshStore()
    // src: (key, grp, qty) — group 1 will fully empty, group 2 mutates
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L),
      (4L, 2L, 40L)).toDF("k", "grp", "qty"))                  // v0
    ts.setChangeFeed("src", true)                              // v1
    val v0 = ts.currentVersion("src")
    ts.create("view", ts.readVersion("src", v0).groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty")))
    ts.delete("src", col("grp") === 1L)                        // v2: group 1 dies
    ts.update("src", col("k") === 3L, Map("qty" -> lit(35L)))  // v3: sum moves
    ts.append("src", Seq((5L, 3L, 50L)).toDF("k", "grp", "qty")) // v4: new group
    val feed = ts.readChangesBetween("src", v0, ts.currentVersion("src"))
    graft.ops.Ivm.applyCountSumDelta(ts, "view", feed,
      groupCols = Seq("grp"), valueCol = "qty", txn = Some(("ivm-test", 1L)))
    val view = graft.ops.Ivm.readView(ts, "view")
      .as[(Long, Long, Long)].collect().toSet
    assert(view === Set((2L, 2L, 75L), (3L, 1L, 50L)),
      s"retraction/addition algebra broke: $view")
    // the emptied group survives as a one-commit tombstone until swept
    assert(ts.read("view").as[(Long, Long, Long)].collect().toSet ===
      view + ((1L, 0L, 0L)))
    // exactly-once: re-delivering the same batch under the same txn is
    // a no-op (the stamp rode the view's own commit)
    graft.ops.Ivm.applyCountSumDelta(ts, "view", feed,
      groupCols = Seq("grp"), valueCol = "qty", txn = Some(("ivm-test", 1L)))
    assert(graft.ops.Ivm.readView(ts, "view")
      .as[(Long, Long, Long)].collect().toSet === view)
    // without txn protection the double apply is refused loudly — the
    // guard is fused into the delta checkpoint's own evaluation (r15:
    // one fewer job per apply), so it surfaces as a task failure whose
    // cause chain carries the message
    val boom = intercept[Exception] {
      graft.ops.Ivm.applyCountSumDelta(ts, "view", feed,
        groupCols = Seq("grp"), valueCol = "qty")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${msgs(t.getCause)}"
    assert(msgs(boom).contains("double apply"))
    // maintenance sweep removes the tombstone; live groups untouched
    graft.ops.Ivm.compactDead(ts, "view", Seq("grp"))
    assert(ts.read("view").as[(Long, Long, Long)].collect().toSet === view)
    // the maintained view equals a direct recompute of the final state
    val direct = ts.read("src").groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty"))
      .as[(Long, Long, Long)].collect().toSet
    assert(view === direct)
  }

  test("Ivm max view: algebra raises, multiplicity-aware retraction, death") {
    val ts = freshStore()
    ts.create("src", Seq(
      (1L, 1L, 10L), (2L, 1L, 20L),             // grp 1: max 20, unique
      (3L, 2L, 30L), (4L, 2L, 30L),             // grp 2: max 30, DUPLICATED
      (5L, 3L, 40L),                            // grp 3: gets a raise
      (6L, 4L, 50L)                             // grp 4: will empty
    ).toDF("k", "grp", "qty"))                                // v0
    ts.setChangeFeed("src", true)                             // v1
    val v0 = ts.currentVersion("src")
    ts.create("vmax", ts.readVersion("src", v0).groupBy("grp")
      .agg(max("qty").as("mx")))
    ts.delete("src", col("k") === 2L)       // v2: grp 1 max retracts, lowers
    ts.delete("src", col("k") === 3L)       // v3: grp 2 max retracts, SURVIVES (dup)
    ts.append("src", Seq((7L, 3L, 45L)).toDF("k", "grp", "qty")) // v4: raise
    ts.delete("src", col("grp") === 4L)     // v5: grp 4 dies
    val vEnd = ts.currentVersion("src")
    val feed = ts.readChangesBetween("src", v0, vEnd)
    graft.ops.Ivm.applyMaxDelta(ts, "vmax", "src", vEnd, feed,
      groupCols = Seq("grp"), valueCol = "qty", txn = Some(("ivm-max", 1L)))
    val view = graft.ops.Ivm.readMaxView(ts, "vmax")
      .as[(Long, Long)].collect().toSet
    assert(view === Set((1L, 10L), (2L, 30L), (3L, 45L)), view.toString)
    // grp 4's death is a mx=NULL tombstone until swept
    assert(ts.read("vmax").filter(col("mx").isNull).select("grp")
      .as[Long].collect().toSeq === Seq(4L))
    // exactly-once under the same txn
    graft.ops.Ivm.applyMaxDelta(ts, "vmax", "src", vEnd, feed,
      groupCols = Seq("grp"), valueCol = "qty", txn = Some(("ivm-max", 1L)))
    assert(graft.ops.Ivm.readMaxView(ts, "vmax")
      .as[(Long, Long)].collect().toSet === view)
    graft.ops.Ivm.compactDeadMax(ts, "vmax", Seq("grp"))
    assert(ts.read("vmax").as[(Long, Long)].collect().toSet === view)
    // converged to the direct recompute
    assert(ts.read("src").groupBy("grp").agg(max("qty").as("mx"))
      .as[(Long, Long)].collect().toSet === view)
  }

  test("Ivm min view mirrors max: lowers by algebra, retraction recomputes") {
    val ts = freshStore()
    ts.create("src", Seq(
      (1L, 1L, 10L), (2L, 1L, 20L),   // grp 1: min 10, unique — retract lifts
      (3L, 2L, 30L), (4L, 2L, 30L),   // grp 2: min 30, DUP — retract survives
      (5L, 3L, 40L)                   // grp 3: gets a LOWER insert
    ).toDF("k", "grp", "qty"))                                // v0
    ts.setChangeFeed("src", true)                             // v1
    val v0 = ts.currentVersion("src")
    ts.create("vmin", ts.readVersion("src", v0).groupBy("grp")
      .agg(min("qty").as("mx")))
    ts.delete("src", col("k") === 1L)   // grp 1 min retracts -> lifts to 20
    ts.delete("src", col("k") === 3L)   // grp 2 min retracts -> survives (dup)
    ts.append("src", Seq((6L, 3L, 35L)).toDF("k", "grp", "qty")) // lower
    val vEnd = ts.currentVersion("src")
    graft.ops.Ivm.applyMinDelta(ts, "vmin", "src", vEnd,
      ts.readChangesBetween("src", v0, vEnd),
      groupCols = Seq("grp"), valueCol = "qty")
    val view = graft.ops.Ivm.readMaxView(ts, "vmin")
      .as[(Long, Long)].collect().toSet
    assert(view === Set((1L, 20L), (2L, 30L), (3L, 35L)), view.toString)
    assert(ts.read("src").groupBy("grp").agg(min("qty").as("mx"))
      .as[(Long, Long)].collect().toSet === view)
  }

  test("Ivm distinct via multiplicity aux: a value retracts only at zero") {
    val ts = freshStore()
    // grp 1 holds value 10 TWICE and 20 once; grp 2 holds 30
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 1L, 20L),
      (4L, 2L, 30L)).toDF("k", "grp", "qty"))                  // v0
    ts.setChangeFeed("src", true)                              // v1
    val v0 = ts.currentVersion("src")
    ts.create("aux", ts.readVersion("src", v0).groupBy("grp", "qty")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty")))
    ts.delete("src", col("k") === 1L)  // v2: one copy of (1,10) — value survives
    ts.delete("src", col("k") === 3L)  // v3: (1,20) multiplicity hits zero
    ts.append("src", Seq((5L, 2L, 40L)).toDF("k", "grp", "qty")) // v4: new value
    graft.ops.Ivm.applyCountSumDelta(ts, "aux",
      ts.readChangesBetween("src", v0, ts.currentVersion("src")),
      groupCols = Seq("grp", "qty"), valueCol = "qty")
    val distinct = graft.ops.Ivm.readView(ts, "aux").groupBy("grp")
      .agg(count(lit(1)).as("n_distinct"))
      .as[(Long, Long)].collect().toSet
    // grp 1: 10 survives (one copy left), 20 gone -> 1 distinct;
    // grp 2: 30 + 40 -> 2 distinct
    assert(distinct === Set((1L, 1L), (2L, 2L)), distinct.toString)
    assert(ts.read("src").groupBy("grp")
      .agg(countDistinct(col("qty")).as("n_distinct"))
      .as[(Long, Long)].collect().toSet === distinct)
  }

  test("mergeUpsert records insert + update pre/postimage in one commit") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v0
    ts.setChangeFeed("t", true)                               // v1
    ts.mergeUpsert("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)                                   // v2
    assert(ts.read("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert(changes(ts, "t", 1, 2) === Set(
      (2L, "b", "update_preimage", 2L),
      (2L, "B", "update_postimage", 2L),
      (3L, "c", "insert", 2L)))
  }

  test("delete and update record change rows; untouched dirs carry") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    ts.setChangeFeed("t", true)
    ts.delete("t", col("id") === 2L)                          // v2
    ts.update("t", col("id") === 3L, Map("v" -> lit("C")))    // v3
    assert(changes(ts, "t", 1, 3) === Set(
      (2L, "b", "delete", 2L),
      (3L, "c", "update_preimage", 3L),
      (3L, "C", "update_postimage", 3L)))
  }

  test("mergeDelete on a bucketed table keeps layout and records deletes") {
    val ts = freshStore()
    ts.createBucketed("t", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    ts.setChangeFeed("t", true)
    ts.mergeDelete("t", Seq(5L, 6L).toDF("id"), Seq("id"))
    assert(ts.read("t").count() === 18)
    assert(ts.bucketingOf("t").isDefined)
    // layout preserved: every live dir is still a bucket leaf
    assert(ts.liveDirs("t").forall(_.contains("/__b=")))
    assert(changes(ts, "t", 1, 2) ===
      Set((5L, "v5", "delete", 2L), (6L, "v6", "delete", 2L)))
  }

  test("appends synthesize inserts without recorded change rows") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    ts.append("t", Seq((2L, "b")).toDF("id", "v"))            // v1, CDF off
    assert(changes(ts, "t", 0, 1) === Set((2L, "b", "insert", 1L)))
    // creation itself readable from fromVersion = -1
    assert(changes(ts, "t", -1, 0) === Set((1L, "a", "insert", 0L)))
  }

  test("full replace reads as delete-all + insert-all; partial rewrite without CDF throws") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    ts.overwrite("t", Seq((2L, "b")).toDF("id", "v"))         // v1 full replace
    assert(changes(ts, "t", 0, 1) ===
      Set((1L, "a", "delete", 1L), (2L, "b", "insert", 1L)))
    // partial rewrite with CDF off: update rewrites the only dir but
    // appends first so the rewrite is partial
    val ts2 = freshStore()
    ts2.create("u", Seq((1L, "a")).toDF("id", "v"))
    ts2.append("u", Seq((2L, "b")).toDF("id", "v"))
    ts2.update("u", col("id") === 1L, Map("v" -> lit("A")))
    val e = intercept[IllegalStateException](
      ts2.readChangesBetween("u", 0, ts2.currentVersion("u")).count())
    assert(e.getMessage.contains("enable the change feed"))
  }

  test("SQL metadata table <t>.changes equals readChangesBetween") {
    val root = Files.createTempDirectory("cdfsql").toString
    spark.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // v0
    ts.setChangeFeed("t", true)                                  // v1
    ts.mergeUpsert("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)                                      // v2
    ts.deleteVectorized("t", col("id") === 1L)                   // v3 (DV + cdf)
    val lib = ts.readChangesBetween("t", -1, 3)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    val sql = spark.sql(
      "SELECT id, v, _change_type, _commit_version FROM gcdf.t.changes")
      .as[(Long, String, String, Long)].collect().toSet
    val expected = Set((1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "insert", 2L), (1L, "a", "delete", 3L))
    assert(lib === expected)
    assert(sql === expected)
    // bounded range via read options
    val ranged = spark.read.option("startVersion", "1").option("endVersion", "2")
      .table("gcdf.t.changes")
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(ranged === Set((2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "insert")))
    // projection pruning: selecting only meta columns works
    val kinds = spark.sql("SELECT _change_type FROM gcdf.t.changes")
      .as[String].collect().toSeq
    assert(kinds.count(_ == "insert") === 3) // v0 create synthesizes 2 + merge 1
  }

  test("SQL .changes over a full-replace version on a DV-heavy table " +
      "applies tombstones via the lazy sidecar path") {
    val root = Files.createTempDirectory("cdfdv").toString
    // catalog name must be UNIQUE across the whole test tree: Spark's
    // CatalogManager caches the instance at first load, so a second
    // suite re-setting an existing name's .root is silently ignored
    // and resolves the FIRST suite's tables (bit this test once)
    spark.conf.set("spark.sql.catalog.gdvfr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdvfr.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")) // v0
    ts.setChangeFeed("t", true)                                         // v1
    ts.deleteVectorized("t", col("id") % 10 === 0L)                     // v2: 100 DV tombstones
    ts.deleteVectorized("t", col("id") % 10 === 1L)                     // v3: +100, merged sidecar
    assert(ts.currentVersion("t") === 3,
      s"fixture versions shifted: at ${ts.currentVersion("t")} before the replace")
    ts.overwrite("t", Seq((0L, "fresh")).toDF("id", "v"))               // v4: full replace
    assert(ts.currentVersion("t") === 4,
      "fixture versions shifted: overwrite did not commit v4")
    // the synthesized delete-all group reads the PRIOR version's dirs
    // through their DV sidecars: the 200 tombstoned rows were already
    // reported deleted at v2/v3 and must NOT reappear in v4's deletes
    val dels = spark.read.option("startVersion", "3").option("endVersion", "4")
      .table("gdvfr.t.changes")
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet
    val survivors = (1L to 1000L).filter(i => i % 10 >= 2).toSet
    assert(dels.size === 800)
    assert(dels === survivors)
    // and the library path agrees exactly
    val lib = ts.readChangesBetween("t", 3, 4)
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet
    assert(lib === survivors)
  }

  test("packed change scans keep per-file constants: batch and stream " +
      "read many change files in at most one task per core, row for row") {
    import org.apache.spark.graftest.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    import org.apache.spark.sql.streaming.Trigger
    val cores = spark.sparkContext.defaultParallelism
    val root = Files.createTempDirectory("cdfpack").toString
    spark.conf.set("spark.sql.catalog.gcpk", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcpk.root", root)
    val ts = new TableStore(spark, root)
    // the tasks of every stage submitted while `op` runs
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks.add(e.stageInfo.numTasks): Unit
    }
    def tasksOf[T](op: => T): (T, Seq[Int]) = {
      ListenerBus.drain(spark.sparkContext)
      stageTasks.clear()
      val out = op
      ListenerBus.drain(spark.sparkContext)
      (out, stageTasks.toArray.toSeq.map(_.asInstanceOf[Int]))
    }
    // recorded bucketed merges (one change file per kind each), a
    // synthesized append, a DV'd delete and a full replace whose
    // synthesized delete-all reads DV'd dirs: far more than 4 x cores
    // change files, of many kinds and versions
    def build(t: String, rowTracking: Boolean): Unit = {
      ts.createBucketed(t, (1L to 400L).map(i => (i, s"a$i")).toDF("id", "v"),
        Seq("id"), n = 8)
      ts.setChangeFeed(t, true)
      if (rowTracking) ts.enableRowTracking(t)
      (1L to 16L).foreach { r =>
        ts.mergeUpsert(t, (r to 480L by 3L).map(i => (i, s"m$r-$i")).toDF("id", "v"),
          Seq("id"), changeTypeCol = None)
      }
      ts.append(t, (1000L to 1040L).map(i => (i, s"p$i")).toDF("id", "v"))
      ts.deleteVectorized(t, col("id") % 7 === 0L)
      ts.overwrite(t, (2000L to 2010L).map(i => (i, s"o$i")).toDF("id", "v"))
      val recorded = scala.util.Using.resource(
          Files.walk(java.nio.file.Paths.get(root, t, "_cdf")))(
        _.iterator().asScala.count(_.toString.endsWith(".parquet")))
      assert(recorded > 4 * cores, s"only $recorded change files for $cores cores")
    }
    type Row5 = (Long, String, String, Long, Option[Long])
    def projected(df: org.apache.spark.sql.DataFrame, rid: Boolean) =
      df.select(col("id"), col("v"), col("_change_type"), col("_commit_version"),
        if (rid) col("_row_id") else lit(null).cast("long").as("_row_id"))
    def ordered(rows: Seq[Row5]): Seq[Row5] = rows.sortBy(r => (r._4, r._3, r._1, r._2))
    def sorted(df: org.apache.spark.sql.DataFrame, rid: Boolean): Seq[Row5] =
      ordered(projected(df, rid).as[(Long, String, String, Long, Option[Long])]
        .collect().toSeq)

    spark.sparkContext.addSparkListener(listener)
    try Seq(false, true).foreach { rid =>
      val t = if (rid) "tracked" else "plain"
      build(t, rowTracking = rid)
      // the library and the SQL batch face: one columnar Graft scan
      // whether or not `_row_id` is projected
      val faces = Seq(
        "library" -> ts.readChangesBetween(t, -1L, ts.currentVersion(t), withRowIds = rid),
        "batch" -> spark.read.option("startVersion", "-1").table(s"gcpk.$t.changes"))
      val Seq(lib, rows) = faces.map { case (face, df) =>
        val (rows, tasks) = tasksOf(sorted(df, rid))
        val plan = projected(df, rid).queryExecution.executedPlan
        val scans = plan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            (s.inputRDD.getNumPartitions, s.supportsColumnar)
        }
        assert(scans === Seq((cores, true)), s"$face scans for $cores cores: $scans")
        assert(plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.isEmpty, s"$face plan reads files beside the Graft scan: $plan")
        // the pin: one stage, one task per core — never one per file
        assert(tasks === Seq(8), s"$face .changes stages: $tasks")
        rows
      }
      assert(lib.map(_._3).toSet === Set("insert", "update_preimage",
        "update_postimage", "delete"))
      assert(rows === lib)
      // stream: Trigger.AvailableNow drains the same window in one batch
      val streamed = scala.collection.mutable.Buffer.empty[Row5]
      val (q, streamTasks) = tasksOf {
        val q = spark.readStream.option("startVersion", "-1").table(s"gcpk.$t.changes")
          .writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (feed: org.apache.spark.sql.DataFrame, _: Long) =>
            streamed ++= sorted(feed, rid): Unit
          }.start()
        q.awaitTermination()
        q
      }
      assert(ordered(streamed.toSeq) === lib)
      assert(streamTasks === Seq(8), s"stream .changes stages: $streamTasks")
      // a stream's scan carries every column, `_row_id` included
      val plan = new java.io.ByteArrayOutputStream
      Console.withOut(plan)(q.explain())
      assert(plan.toString.contains("ColumnarToRow"), plan.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Entries directly under `p` whose names pass `keep`, sorted. */
  private def entries(p: java.nio.file.Path, keep: String => Boolean = _ => true) =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala
      .filter(f => keep(f.getFileName.toString)).toSeq.sorted)

  /** The `__cdc=<kind>` dirs that version `v` recorded under `_cdf/<v>`. */
  private def kindDirs(root: String, t: String, v: Long) =
    entries(java.nio.file.Paths.get(root, t, "_cdf", v.toString), _.startsWith("__cdc="))

  test("a bucketed feed-on commit writes one change file per kind and " +
      "one file per new data leaf") {
    val root = Files.createTempDirectory("cdfcount").toString
    val ts = new TableStore(spark, root)
    ts.createBucketed("t", (1L to 2000L).map(i => (i, s"a$i")).toDF("id", "v"),
      Seq("id"), n = 16)
    ts.setChangeFeed("t", true)
    def commitFiles(kinds: Set[String])(op: => Unit): Unit = {
      val before = ts.liveDirs("t").toSet
      op
      val v = ts.currentVersion("t")
      val recorded = kindDirs(root, "t", v)
      assert(recorded.map(_.getFileName.toString.stripPrefix("__cdc=")).toSet === kinds)
      recorded.foreach { k =>
        assert(entries(k, _.startsWith("__b=")).isEmpty, s"bucket dirs under $k")
        assert(entries(k, _.endsWith(".parquet")).size === 1, s"files under $k")
      }
      val added = ts.liveDirs("t").filterNot(before)
      assert(added.nonEmpty && added.forall(_.contains("/__b=")), added)
      added.foreach(d => assert(
        entries(ts.dataRoot("t").resolve(d), _.endsWith(".parquet")).size === 1,
        s"files in new leaf $d"))
    }
    commitFiles(Set("insert", "update_preimage", "update_postimage")) {
      ts.mergeUpsert("t", (1990L to 2100L).map(i => (i, s"m$i")).toDF("id", "v"),
        Seq("id"), changeTypeCol = None)
    }
    commitFiles(Set("update_preimage", "update_postimage")) {
      ts.updateVectorized("t", col("id") % 100 === 0L, Map("v" -> lit("u")))
    }
  }

  test("change readers read a bucketed table's old nested change layout " +
      "next to the flat one, row for row") {
    import org.apache.spark.sql.streaming.Trigger
    type Row4 = (Long, String, String, Long)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row4] =
      df.select("id", "v", "_change_type", "_commit_version")
        .as[(Long, String, String, Long)]
        .collect().toSeq.sortBy(r => (r._4, r._3, r._1, r._2))
    val root = Files.createTempDirectory("cdfnested").toString
    spark.conf.set("spark.sql.catalog.gcnl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcnl.root", root)
    val ts = new TableStore(spark, root)
    ts.createBucketed("t", (1L to 200L).map(i => (i, s"a$i")).toDF("id", "v"),
      Seq("id"), n = 4)
    ts.setChangeFeed("t", true)
    val v0 = ts.currentVersion("t")
    ts.mergeUpsert("t", (150L to 260L by 2L).map(i => (i, s"m$i")).toDF("id", "v"),
      Seq("id"), changeTypeCol = None)
    val old = ts.currentVersion("t")
    val oldRows = sorted(ts.readChangesBetween("t", v0, old))
    // the layout an older writer recorded on a bucketed table: each
    // change file (and its .crc) one level down, under a bucket leaf
    kindDirs(root, "t", old).foreach { k =>
      entries(k, _.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        val leaf = Files.createDirectories(k.resolve(s"__b=$i"))
        val crc = k.resolve(s".${f.getFileName}.crc")
        (f +: Seq(crc).filter(Files.exists(_))).foreach(e =>
          Files.move(e, leaf.resolve(e.getFileName)))
      }
    }
    ts.deleteVectorized("t", col("id") % 5 === 0L)
    ts.mergeUpsert("t", (1L to 40L by 3L).map(i => (i, s"n$i")).toDF("id", "v"),
      Seq("id"), changeTypeCol = None)
    val last = ts.currentVersion("t")
    // old version nested, later ones flat
    val oldKinds = kindDirs(root, "t", old)
    assert(oldKinds.nonEmpty && oldKinds.forall(k =>
      entries(k, _.endsWith(".parquet")).isEmpty && entries(k, _.startsWith("__b=")).nonEmpty))
    (old + 1 to last).foreach(v => kindDirs(root, "t", v).foreach(k =>
      assert(entries(k, _.startsWith("__b=")).isEmpty, s"bucket dirs under $k")))

    val lib = sorted(ts.readChangesBetween("t", v0, last))
    assert(lib.map(_._4).toSet === (old to last).toSet)
    assert(sorted(ts.readChangesBetween("t", v0, old)) === oldRows)
    assert(lib.filter(_._4 == old) === oldRows)
    assert(sorted(spark.read.option("startVersion", v0.toString)
      .table("gcnl.t.changes")) === lib)
    val streamed = scala.collection.mutable.Buffer.empty[Row4]
    spark.readStream.option("startVersion", v0.toString).table("gcnl.t.changes")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (feed: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed ++= sorted(feed): Unit
      }.start().awaitTermination()
    assert(streamed.toSeq.sortBy(r => (r._4, r._3, r._1, r._2)) === lib)
  }

  test("streaming change feed delivers updates/deletes per commit") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("cdfstream").toString
    spark.conf.set("spark.sql.catalog.gcfs", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcfs.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // v0
    ts.setChangeFeed("t", true)                                  // v1
    ts.mergeUpsert("t", Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)                                      // v2
    ts.updateVectorized("t", col("id") === 1L, Map("v" -> lit("A")))  // v3
    ts.delete("t", col("id") === 3L)                             // v4
    // startVersion=1 (exclusive): the stream drains (1, current]
    val q = spark.readStream.option("startVersion", "1")
      .table("gcfs.t.changes")
      .writeStream.format("memory").queryName("cfs_mem")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cfs_mem")
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === ts.readChangesBetween("t", 1, ts.currentVersion("t"))
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet)
    assert(got.contains((1L, "A", "update_postimage", 3L)))
    assert(got.contains((3L, "c", "delete", 4L)))
    // maxVersionsPerTrigger bounds each micro-batch; same total drain
    val q2 = spark.readStream.option("startVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .table("gcfs.t.changes")
      .writeStream.format("memory").queryName("cfs_mem2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("cfs_mem2").count() === got.size)
    assert(q2.recentProgress.count(_.numInputRows > 0) >= 2) // stepped batches
    // without startVersion only NEW commits flow: an immediate
    // AvailableNow drain sees zero rows
    val q3 = spark.readStream.table("gcfs.t.changes")
      .writeStream.format("memory").queryName("cfs_mem3")
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(spark.table("cfs_mem3").count() === 0)
  }

  test("streaming change feed resumes from its checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("cdfresume").toString
    spark.conf.set("spark.sql.catalog.gcfr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcfr.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))   // v0
    ts.setChangeFeed("t", true)                       // v1
    ts.append("t", Seq((2L, "b")).toDF("id", "v"))   // v2
    val ckpt = s"$root/_ckpt"
    // sink = a store table (the memory sink cannot recover from a
    // checkpoint; the store's epoch path can)
    ts.createEmpty("sink", org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, _change_type STRING, _commit_version BIGINT"))
    def drain(): Unit = {
      val q = spark.readStream.option("startVersion", "-1")
        .table("gcfr.t.changes")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable("gcfr.sink")
      q.awaitTermination()
    }
    drain()
    val first = ts.read("sink").count()
    assert(first === 2) // v0 create synthesizes 1 insert, v2 append 1
    // new commits after the stream stopped; the restart must deliver
    // ONLY them (offset restored from the checkpoint, no replay)
    ts.delete("t", col("id") === 1L)                  // v3 (recorded)
    ts.append("t", Seq((3L, "c")).toDF("id", "v"))   // v4
    drain()
    val rows = ts.read("sink")
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows.size === 4)
    assert(rows.count(_._3 <= 2) === 2) // nothing re-delivered
    assert(rows.toSet.contains((1L, "delete", 3L)))
    assert(rows.toSet.contains((3L, "insert", 4L)))
  }

  test("compact and optimize mark no-logical-change; vacuum sweeps old cdf dirs") {
    val root = Files.createTempDirectory("cdfstore")
    val ts = new TableStore(spark, root.toString)
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.setChangeFeed("t", true)
    ts.append("t", Seq((11L, "v11")).toDF("id", "v"))
    ts.compact("t")                                           // physical only
    val ch = changes(ts, "t", 1, ts.currentVersion("t"))
    assert(ch === Set((11L, "v11", "insert", 2L)))
    // mutate again so _cdf/<v> exists, then vacuum beyond it
    ts.delete("t", col("id") === 1L)
    val delV = ts.currentVersion("t")
    assert(Files.isDirectory(root.resolve("t").resolve("_cdf").resolve(delV.toString)))
    ts.compact("t"); ts.compact("t")
    ts.vacuum("t", retainVersions = 1)
    assert(!Files.exists(root.resolve("t").resolve("_cdf").resolve(delV.toString)))
  }

  test("change feed carries stable _row_id through MoR mutations (lib + SQL + stream)") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("cdfrid").toString
    spark.conf.set("spark.sql.catalog.gcrid", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcrid.root", root)
    val ts = new TableStore(spark, root)
    // KEYLESS table: the duplicate (1, "a") rows make key-based CDC
    // ambiguous — only the row id distinguishes them
    ts.create("t", Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v"))                                              // v0
    ts.setChangeFeed("t", true)                                     // v1
    ts.enableRowTracking("t")                                       // v2
    val ids0 = ts.readWithRowIds("t")
      .select("k", "v", "_row_id").as[(Long, String, Long)].collect()
    assert(ids0.map(_._3).distinct.length === 4)
    ts.updateVectorized("t", col("v") === "a", Map("v" -> lit("A"))) // v3
    ts.deleteVectorized("t", col("k") === 2L)                        // v4
    ts.append("t", Seq((4L, "d")).toDF("k", "v"))                    // v5
    val ch = ts.readChangesBetween("t", 2, 5, withRowIds = true)
      .select("k", "v", "_change_type", "_commit_version", "_row_id")
      .as[(Long, String, String, Long, Option[Long])].collect()
    // update pre/postimages pair up BY ID (both (1,"a") rows updated)
    val pre = ch.filter(_._3 == "update_preimage")
    val post = ch.filter(_._3 == "update_postimage")
    assert(pre.length === 2 && post.length === 2)
    assert(pre.map(_._5).toSet === post.map(_._5).toSet)
    assert(pre.forall(_._5.isDefined))
    assert(pre.map(_._5).toSet ===
      ids0.filter(r => r._1 == 1L).map(r => Some(r._3)).toSet)
    // the delete row carries the deleted row's id
    val del = ch.filter(_._3 == "delete")
    assert(del.map(r => (r._1, r._2, r._5)).toSet ===
      Set((2L, "b", Some(ids0.find(_._1 == 2L).get._3))))
    // the synthesized insert carries the newly assigned id
    val ins = ch.filter(_._3 == "insert")
    val finalIds = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(ins.map(r => (r._1, r._5)).toSet ===
      Set((4L, Some(finalIds(4L)))))
    // SQL surface agrees with the library
    val sql = spark.read.option("startVersion", "2")
      .table("gcrid.t.changes")
      .select("k", "v", "_change_type", "_commit_version", "_row_id")
      .as[(Long, String, String, Long, Option[Long])].collect()
    assert(sql.toSet === ch.toSet)
    // streaming surface agrees too (same change groups, rid attached)
    val q = spark.readStream.option("startVersion", "2")
      .table("gcrid.t.changes")
      .writeStream.format("memory").queryName("cdfrid_mem")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cdfrid_mem")
      .select("k", "v", "_change_type", "_commit_version", "_row_id")
      .as[(Long, String, String, Long, Option[Long])].collect()
    assert(streamed.toSet === ch.toSet)
    // replication by row id converges the keyless table: apply the
    // feed to a replica keyed on _row_id
    ts.createEmpty("replica", org.apache.spark.sql.types.StructType.fromDDL(
      "rid BIGINT, k BIGINT, v STRING"))
    // bootstrap: the state at startVersion, keyed by id
    val seed = spark.createDataset(ids0.toSeq)
      .toDF("k", "v", "rid").select("rid", "k", "v")
    ts.mergeUpsert("replica", seed, Seq("rid"), changeTypeCol = None)
    (3L to 5L).foreach { v =>
      val b = ts.readChangesBetween("t", v - 1, v, withRowIds = true)
      val ups = b.filter(col("_change_type").isin("insert", "update_postimage"))
        .select(col("_row_id").as("rid"), col("k"), col("v"))
      if (!ups.isEmpty) ts.mergeUpsert("replica", ups, Seq("rid"),
        changeTypeCol = None)
      val dels = b.filter(col("_change_type") === "delete")
        .select(col("_row_id").as("rid"))
      if (!dels.isEmpty) ts.mergeDelete("replica", dels, Seq("rid"))
    }
    assert(ts.read("replica").select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq ===
      ts.read("t").select("k", "v").as[(Long, String)].collect().sorted.toSeq)
  }

  test("rid replication: insert-only commits applied as appends converge " +
    "to the same replica as merge-applied ones") {
    // the cdc2 fast path's invariant: an `insert` change row's rid is
    // minted fresh at its origin append and never reused, so applying
    // an insert-only commit with a plain append (no rid-keyed merge)
    // must yield the same replica — including after later update /
    // delete commits merge on those same rids
    val ts = freshStore()
    ts.createEmpty("src", org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING"))
    ts.enableRowTracking("src")
    ts.setChangeFeed("src", true)
    ts.append("src", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    ts.updateVectorized("src", col("id") === 2L, Map("v" -> lit("B")))
    ts.deleteVectorized("src", col("id") === 3L)
    ts.append("src", Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    val feed = ts.readChangesBetween("src", 0, ts.currentVersion("src"),
      withRowIds = true).cache()
    val counts = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val versions = counts.keys.map(_._1).toSeq.distinct.sorted
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "rid BIGINT, id BIGINT, v STRING")
    def replicate(name: String, fastPath: Boolean): Set[(Long, Long, String)] = {
      ts.createEmpty(name, schema)
      versions.foreach { vn =>
        val nIns = counts.getOrElse((vn, "insert"), 0L)
        val nUpd = counts.getOrElse((vn, "update_postimage"), 0L)
        val nDel = counts.getOrElse((vn, "delete"), 0L)
        val b = feed.filter(col("_commit_version") === vn)
        val ups = b.filter(col("_change_type").isin("insert", "update_postimage"))
          .select(col("_row_id").as("rid"), col("id"), col("v"))
        if (fastPath && nIns > 0 && nUpd == 0 && nDel == 0) ts.append(name, ups)
        else {
          if (nIns + nUpd > 0) ts.mergeUpsert(name, ups, Seq("rid"),
            changeTypeCol = None, verifyUniqueSource = false)
          if (nDel > 0) ts.mergeDelete(name,
            b.filter(col("_change_type") === "delete")
              .select(col("_row_id").as("rid")), Seq("rid"))
        }
      }
      ts.read(name).as[(Long, Long, String)].collect().toSet
    }
    val viaMerge = replicate("replica_merge", fastPath = false)
    val viaAppend = replicate("replica_append", fastPath = true)
    feed.unpersist()
    assert(viaAppend == viaMerge)
    assert(viaMerge.map(t => (t._2, t._3)) ==
      Set((1L, "a"), (2L, "B"), (4L, "d"), (5L, "e")))
  }

  test("a commit that loses the version race never poisons the change feed") {
    val root = Files.createTempDirectory("cdfrace")
    val ts = new TableStore(spark, root.toString)
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.setChangeFeed("t", true)
    val v = ts.currentVersion("t")
    // simulate losing the put-if-absent race: the next version's
    // manifest already exists (a concurrent writer won it)
    val winner = root.resolve("t").resolve("_v").resolve(s"${v + 1}.json")
    val winnerBytes = Files.readAllBytes(
      root.resolve("t").resolve("_v").resolve(s"$v.json"))
    Files.write(winner, winnerBytes)
    intercept[Throwable](ts.deleteVectorized("t", col("id") === 3L))
    // the loser's change rows must NOT sit under _cdf/<v+1> where the
    // feed would attribute them to the winner's commit
    val cdfDir = root.resolve("t").resolve("_cdf").resolve((v + 1).toString)
    assert(!Files.exists(cdfDir) ||
      !Files.list(cdfDir).iterator().hasNext,
      s"failed commit left change rows under _cdf/${v + 1}")
    // no dot-dir staging leaked either
    val leaked = Files.list(root.resolve("t").resolve("_cdf")).iterator()
    while (leaked.hasNext) {
      val p = leaked.next()
      assert(!p.getFileName.toString.startsWith("."), s"leaked staging: $p")
    }
  }

  test("mergeUpdate records precise update changes, not a synthesized " +
      "full replace") {
    val ts = freshStore()
    ts.create("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")) // v0
    ts.setChangeFeed("t", true)                                        // v1
    ts.mergeUpdate("t", Seq(Tuple1(7L)).toDF("id"), Seq("id"),
      condition = lit(true), set = Map("v" -> lit("CLOSED")))          // v2
    assert(ts.read("t").filter(col("v") === "CLOSED").count() === 1)
    // exactly one pre/postimage pair — the old path recorded nothing and
    // the feed synthesized delete-all + insert-all (200 rows here)
    assert(changes(ts, "t", 1, 2) === Set(
      (7L, "v7", "update_preimage", 2L),
      (7L, "CLOSED", "update_postimage", 2L)))
  }

  test("Ivm refuses a feed carrying an unknown change kind") {
    val ts = freshStore()
    ts.create("view", Seq((1L, 1L, 10L)).toDF("grp", "n_rows", "sum_qty"))
    val feed = Seq((1L, 5L, "insert"), (1L, 7L, "upsert"))
      .toDF("grp", "qty", "_change_type")
    val boom = intercept[IllegalArgumentException](
      graft.ops.Ivm.applyCountSumDelta(ts, "view", feed, Seq("grp"), "qty"))
    assert(boom.getMessage.contains("change kind"))
    // nothing landed — the known-kind rows did not half-apply
    assert(ts.read("view").as[(Long, Long, Long)].head() === ((1L, 1L, 10L)))
    // same gate on the extreme face
    ts.create("vmax", Seq((1L, 10L)).toDF("grp", "mx"))
    ts.create("src0", Seq((1L, 1L, 10L)).toDF("k", "grp", "qty"))
    val boom2 = intercept[IllegalArgumentException](
      graft.ops.Ivm.applyMaxDelta(ts, "vmax", "src0", 0L, feed,
        Seq("grp"), "qty"))
    assert(boom2.getMessage.contains("change kind"))
    // same gate on the JOIN face — fused into the final-kind filter
    // (r14: one feed pass instead of a separate gate pass), so the
    // refusal now surfaces from inside the scan job; the message names
    // both the contract and the offending kind, and nothing half-applies
    ts.create("jview", Seq((5L, 50L, true)).toDF("k", "qty", "_live"))
    val jfeed = Seq((5L, 51L, "insert", 1L), (6L, 60L, "upsert", 1L))
      .toDF("k", "qty", "_change_type", "_commit_version")
    val boom3 = intercept[Exception](
      graft.ops.Ivm.applyJoinDeltaFeed(ts, "jview", jfeed, Seq("k"),
        enrich = identity))
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(boom3).contains("change kind"))
    assert(messages(boom3).contains("upsert"))
    assert(ts.read("jview").as[(Long, Long, Boolean)].head() === ((5L, 50L, true)))
  }

  test("Ivm join view: delta-join maintenance over source and dim batches") {
    val ts = freshStore()
    // src (k, fk, qty) with CDF; dim (fk, attr) with CDF
    ts.create("src", Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L))
      .toDF("k", "fk", "qty"))                                   // v0
    ts.setChangeFeed("src", true)                                // v1
    val sv0 = ts.currentVersion("src")
    ts.create("dim", Seq((10L, "a"), (20L, "b"), (30L, "c"))
      .toDF("fk", "attr"))
    ts.setChangeFeed("dim", true)
    def enrich(rows: org.apache.spark.sql.DataFrame) = rows
      .join(broadcast(ts.read("dim")), Seq("fk"), "left")
      .select(col("k"), col("fk"), col("qty"), col("attr"))
    ts.create("view", enrich(ts.readVersion("src", sv0))
      .withColumn("_live", lit(true)))

    // ---- source batch: k=2 updated THEN deleted (last-writer-wins
    //      must net to the delete), k=3 updated, k=4 inserted ----
    ts.update("src", col("k") === 2L, Map("qty" -> lit(250L)))   // v2
    ts.update("src", col("k") === 3L, Map("qty" -> lit(350L)))   // v3
    ts.delete("src", col("k") === 2L)                            // v4
    ts.append("src", Seq((4L, 30L, 400L)).toDF("k", "fk", "qty")) // v5
    val sv1 = ts.currentVersion("src")
    graft.ops.Ivm.applyJoinDelta(ts, "view", "src", sv0, sv1,
      keys = Seq("k"), enrich = enrich, txn = Some(("jv", 1L)))
    def face = graft.ops.Ivm.readJoinView(ts, "view")
      .select("k", "fk", "qty", "attr").as[(Long, Long, Long, String)]
      .collect().toSet
    assert(face === Set((1L, 10L, 100L, "a"), (3L, 20L, 350L, "b"),
      (4L, 30L, 400L, "c")))
    // k=2's delete is a _live=false tombstone until swept
    assert(ts.read("view").filter(!col("_live")).select("k")
      .as[Long].collect().toSeq === Seq(2L))
    // re-delivery under the same txn is a no-op
    graft.ops.Ivm.applyJoinDelta(ts, "view", "src", sv0, sv1,
      keys = Seq("k"), enrich = enrich, txn = Some(("jv", 1L)))
    assert(face === Set((1L, 10L, 100L, "a"), (3L, 20L, 350L, "b"),
      (4L, 30L, 400L, "c")))

    // ---- dim-only batch: fk=10 renamed; only ITS view rows re-enrich ----
    val dv0 = ts.currentVersion("dim")
    ts.update("dim", col("fk") === 10L, Map("attr" -> lit("a2")))
    val affected = ts.readChangesBetween("dim", dv0, ts.currentVersion("dim"))
      .select("fk")
    graft.ops.Ivm.applyJoinDelta(ts, "view", "src", sv1, sv1,
      keys = Seq("k"), enrich = enrich,
      dimAffected = Some((affected, Seq("fk"))), txn = Some(("jv", 2L)))
    assert(face === Set((1L, 10L, 100L, "a2"), (3L, 20L, 350L, "b"),
      (4L, 30L, 400L, "c")))

    // sweep the tombstone; converged to the direct join of final states
    graft.ops.Ivm.compactDeadJoin(ts, "view", Seq("k"))
    assert(ts.read("view").count() === 3)
    val direct = enrich(ts.read("src"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(face === direct)
  }

  test("Ivm join view with a FILTERING enrich: rows updated out of the " +
      "view predicate tombstone, rows updated in appear") {
    val ts = freshStore()
    ts.create("src", Seq((1L, "a", 10L), (2L, "x", 20L), (3L, "a", 30L))
      .toDF("k", "cat", "qty"))                                  // v0
    ts.setChangeFeed("src", true)                                // v1
    val v0 = ts.currentVersion("src")
    // the view excludes cat='x' (the gold fact's MERCH_9% shape)
    def enrich(rows: org.apache.spark.sql.DataFrame) =
      rows.filter(col("cat") =!= "x")
    ts.create("view", enrich(ts.readVersion("src", v0))
      .withColumn("_live", lit(true)))
    ts.update("src", col("k") === 1L, Map("cat" -> lit("x"))) // leaves the view
    ts.update("src", col("k") === 2L, Map("cat" -> lit("b"))) // enters the view
    ts.delete("src", col("k") === 3L)
    graft.ops.Ivm.applyJoinDelta(ts, "view", "src", v0,
      ts.currentVersion("src"), Seq("k"), enrich)
    val face = graft.ops.Ivm.readJoinView(ts, "view")
      .as[(Long, String, Long)].collect().toSet
    assert(face === Set((2L, "b", 20L)), face.toString)
    // k=1 (filtered out) and k=3 (deleted) are both tombstones
    assert(ts.read("view").filter(!col("_live")).select("k")
      .as[Long].collect().toSet === Set(1L, 3L))
    assert(face === enrich(ts.read("src")).drop("_live")
      .as[(Long, String, Long)].collect().toSet)
  }

  test("IVM cascade resumes after a crash between levels: re-running the " +
      "whole DAG with the same txns converges, nothing double-applies") {
    val ts = freshStore()
    ts.create("src", Seq((1L, 1L, 10L), (2L, 1L, 10L), (3L, 2L, 30L))
      .toDF("k", "grp", "qty"))
    ts.setChangeFeed("src", true)
    val v0 = ts.currentVersion("src")
    // level 1: multiplicity aux (CDF on, so level 2 can tail it);
    // level 2: distinct count per group from the aux feed
    ts.create("aux", ts.readVersion("src", v0).groupBy("grp", "qty")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty")))
    ts.setChangeFeed("aux", true)
    val auxV0 = ts.currentVersion("aux")
    ts.create("cnt", ts.readVersion("aux", auxV0).filter(col("n_rows") > 0L)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("qty").as("sum_qty")))
    ts.delete("src", col("k") === 1L)  // (1,10) multiplicity 2 -> 1
    ts.append("src", Seq((4L, 2L, 40L)).toDF("k", "grp", "qty"))
    def runDag(): Unit = {
      graft.ops.Ivm.applyCountSumDelta(ts, "aux",
        ts.readChangesBetween("src", v0, ts.currentVersion("src")),
        Seq("grp", "qty"), "qty", txn = Some(("dag_l1", 1L)))
      graft.ops.Ivm.applyCountSumDelta(ts, "cnt",
        ts.readChangesBetween("aux", auxV0, ts.currentVersion("aux"))
          .filter(col("n_rows") > 0L),
        Seq("grp"), "qty", txn = Some(("dag_l2", 1L)))
    }
    // the "crash": level 1 commits, the driver dies before level 2
    graft.ops.Ivm.applyCountSumDelta(ts, "aux",
      ts.readChangesBetween("src", v0, ts.currentVersion("src")),
      Seq("grp", "qty"), "qty", txn = Some(("dag_l1", 1L)))
    // recovery = re-run the WHOLE DAG with the same txns: level 1
    // skips on its stamp, level 2 applies its (still-derivable) window
    runDag()
    val want = Set((1L, 1L, 10L), (2L, 2L, 70L)) // distinct counts + sums
    def face = graft.ops.Ivm.readView(ts, "cnt")
      .as[(Long, Long, Long)].collect().toSet
    assert(face === want, face.toString)
    // a second full re-run is a complete no-op at both levels
    runDag()
    assert(face === want)
    assert(ts.lastTxnVersion("aux", "dag_l1") === Some(1L))
    assert(ts.lastTxnVersion("cnt", "dag_l2") === Some(1L))
  }

  test("Ivm two-sided join view: join-key moves, deletes, and appends on " +
      "BOTH sides converge; superseded pairs die") {
    val ts = freshStore()
    // A (ka, j, av); B (kb, j, bv); view = A ⋈ B on j, keyed (ka, kb)
    ts.create("ta", Seq((1L, 10L, "a1"), (2L, 10L, "a2"), (3L, 20L, "a3"))
      .toDF("ka", "j", "av"))
    ts.setChangeFeed("ta", true)
    val a0 = ts.currentVersion("ta")
    ts.create("tb", Seq((100L, 10L, "b1"), (200L, 20L, "b2"), (300L, 30L, "b3"))
      .toDF("kb", "j", "bv"))
    ts.setChangeFeed("tb", true)
    val b0 = ts.currentVersion("tb")
    def combine(a: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame) =
      a.join(b.select(col("kb"), col("j").as("bj"), col("bv")),
          col("j") === col("bj"))
        .select(col("ka"), col("kb"), col("j"), col("av"), col("bv"))
    ts.create("pairs", combine(ts.readVersion("ta", a0), ts.readVersion("tb", b0))
      .withColumn("_live", lit(true)))
    // seed pairs: (1,100) (2,100) (3,200)
    assert(ts.read("pairs").count() === 3)
    // A: ka=1 MOVES j 10→30 (old pair dies, gains partner 300);
    //    ka=2 deleted; ka=4 appended at j=20
    ts.update("ta", col("ka") === 1L, Map("j" -> lit(30L)))
    ts.delete("ta", col("ka") === 2L)
    ts.append("ta", Seq((4L, 20L, "a4")).toDF("ka", "j", "av"))
    // B: kb=200 MOVES j 20→10 (loses 3, would gain nobody at 10 —
    //    ka=1 left, ka=2 died); kb=400 appended at j=30
    ts.update("tb", col("kb") === 200L, Map("j" -> lit(10L)))
    ts.append("tb", Seq((400L, 30L, "b4")).toDF("kb", "j", "bv"))
    graft.ops.Ivm.applyTwoSidedJoinDelta(ts, "pairs",
      "ta", a0, ts.currentVersion("ta"), Seq("ka"),
      "tb", b0, ts.currentVersion("tb"), Seq("kb"),
      combine, txn = Some(("j2", 1L)))
    val face = graft.ops.Ivm.readJoinView(ts, "pairs")
      .select("ka", "kb").as[(Long, Long)].collect().toSet
    // final: ka=1@30 ⋈ {300,400}; ka=3@20 ⋈ {} (200 moved away);
    //        ka=4@20 ⋈ {}; kb=200@10 ⋈ {} (no A rows left at 10)
    assert(face === Set((1L, 300L), (1L, 400L)), face.toString)
    // superseded pairs died as tombstones (seed pairs all invalidated)
    assert(ts.read("pairs").filter(!col("_live")).select("ka", "kb")
      .as[(Long, Long)].collect().toSet ===
      Set((1L, 100L), (2L, 100L), (3L, 200L)))
    // re-delivery under the same txn is a no-op
    graft.ops.Ivm.applyTwoSidedJoinDelta(ts, "pairs",
      "ta", a0, ts.currentVersion("ta"), Seq("ka"),
      "tb", b0, ts.currentVersion("tb"), Seq("kb"),
      combine, txn = Some(("j2", 1L)))
    assert(graft.ops.Ivm.readJoinView(ts, "pairs")
      .select("ka", "kb").as[(Long, Long)].collect().toSet === face)
    // converged to the direct join of final states
    assert(face === combine(ts.read("ta"), ts.read("tb"))
      .select("ka", "kb").as[(Long, Long)].collect().toSet)
  }

  test("Ivm join view under an SCD2 dim close: affected facts re-enrich " +
      "to the new current attributes without a fact rescan") {
    val ts = freshStore()
    ts.create("src", Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L))
      .toDF("k", "fk", "qty"))
    ts.setChangeFeed("src", true)
    val v0 = ts.currentVersion("src")
    // SCD2-shaped dim: (fk, attr, is_current); the view joins the
    // CURRENT row only
    ts.create("dim", Seq((10L, "v1", true), (20L, "w1", true))
      .toDF("fk", "attr", "is_current"))
    ts.setChangeFeed("dim", true)
    def enrich(rows: org.apache.spark.sql.DataFrame) = rows
      .join(broadcast(ts.read("dim").filter(col("is_current"))),
        Seq("fk"), "left")
      .select(col("k"), col("fk"), col("qty"), col("attr"))
    ts.create("view", enrich(ts.readVersion("src", v0))
      .withColumn("_live", lit(true)))
    // the SCD2 close: today's attribute supersedes — old row closes,
    // new current row inserts (two commits, one logical change)
    val dv0 = ts.currentVersion("dim")
    ts.update("dim", col("fk") === 10L && col("attr") === "v1",
      Map("is_current" -> lit(false)))
    ts.append("dim", Seq((10L, "v2", true)).toDF("fk", "attr", "is_current"))
    val affected = ts.readChangesBetween("dim", dv0, ts.currentVersion("dim"))
      .select("fk")
    // NO source changes: the apply's source feed is empty; only the
    // dim term runs, probing the view for fk=10 rows
    graft.ops.Ivm.applyJoinDelta(ts, "view", "src", v0, v0,
      Seq("k"), enrich, dimAffected = Some((affected, Seq("fk"))))
    val face = graft.ops.Ivm.readJoinView(ts, "view")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(face === Set((1L, 10L, 100L, "v2"), (2L, 10L, 200L, "v2"),
      (3L, 20L, 300L, "w1")), face.toString)
    assert(face === enrich(ts.read("src"))
      .as[(Long, Long, Long, String)].collect().toSet)
  }

  test("fused kind gate still fires under a co-pushed predicate on the feed " +
    "(optimizer-adversarial pin, r14 VERDICT #6)") {
    val ts = freshStore()
    ts.create("jv", Seq((5L, 50L, true)).toDF("k", "qty", "_live"))
    // bad kind sits at _commit_version 1; the caller's extra filter on
    // the SAME frame is exactly the kind of predicate Catalyst is free
    // to reorder ahead of the gate's CASE — the refusal must survive
    // whichever order the optimizer picks
    val jfeed = Seq((5L, 51L, "insert", 1L), (6L, 60L, "upsert", 1L),
        (7L, 70L, "insert", 2L))
      .toDF("k", "qty", "_change_type", "_commit_version")
      .filter(col("_commit_version") <= 1L)
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    val boom = intercept[Exception](
      graft.ops.Ivm.applyJoinDeltaFeed(ts, "jv", jfeed, Seq("k"),
        enrich = identity))
    assert(messages(boom).contains("change kind"))
    assert(messages(boom).contains("upsert"))
    // nothing half-applied
    assert(ts.read("jv").as[(Long, Long, Boolean)].head() === ((5L, 50L, true)))
    // ...and a caller filter that EXCLUDES the bad row means the gate
    // never sees it: the apply of the remaining window succeeds (the
    // gate's contract is over the feed AS PASSED)
    val clean = Seq((5L, 51L, "insert", 1L), (6L, 60L, "upsert", 2L))
      .toDF("k", "qty", "_change_type", "_commit_version")
      .filter(col("_commit_version") <= 1L)
    graft.ops.Ivm.applyJoinDeltaFeed(ts, "jv", clean, Seq("k"),
      enrich = identity)
    assert(graft.ops.Ivm.readJoinView(ts, "jv")
      .as[(Long, Long)].collect().toSet === Set((5L, 51L)))
  }

  test("IVM apply's gate-collected bucket ids prune the merge exactly " +
    "(precomputed-bucket merge, r15)") {
    val ts = freshStore()
    // 8-bucket view over 64 groups; a delta touching ONE group must
    // carry >= 6 leaf dirs and converge to the right absolutes
    ts.createBucketed("bview",
      (0L until 64L).map(g => (g, 1L, 10L)).toDF("grp", "n_rows", "sum_qty"),
      Seq("grp"), 8)
    val v0Dirs = ts.liveDirs("bview").toSet
    assert(v0Dirs.size === 8)
    val feed = Seq((7L, 5L, "insert"), (7L, 6L, "insert"))
      .toDF("grp", "qty", "_change_type")
    graft.ops.Ivm.applyCountSumDelta(ts, "bview", feed, Seq("grp"), "qty")
    val v1Dirs = ts.liveDirs("bview").toSet
    assert(v1Dirs.intersect(v0Dirs).size >= 6,
      s"expected >= 6 carried leaf dirs, got ${v1Dirs.intersect(v0Dirs)}")
    val got = ts.read("bview").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(7L) === ((3L, 21L)) && got(3L) === ((1L, 10L))
      && got.size === 64)
    // the folded negative-count guard still fails loudly on a replayed
    // window (no txn), and nothing half-applies
    val replay = Seq((9L, 4L, "delete"), (9L, 5L, "delete"))
      .toDF("grp", "qty", "_change_type")
    val boom = intercept[IllegalArgumentException](
      graft.ops.Ivm.applyCountSumDelta(ts, "bview", replay, Seq("grp"), "qty"))
    assert(boom.getMessage.contains("IVM count went negative on bview"))
    assert(ts.read("bview").filter(col("grp") === 9L)
      .as[(Long, Long, Long)].head() === ((9L, 1L, 10L)))
  }
}
