package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Optimistic concurrency: append-shaped commits that lose the manifest
  * put-if-absent race rebase onto the winner's manifest; metadata
  * conflicts are rejected; true concurrent writers all land. */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("occstore").toString)

  test("append rebases deterministically over a concurrent append") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    // a second handle plays the concurrent writer exactly once, firing
    // between our manifest read and our commit attempt
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.append("t", Seq((2L, "b")).toDF("id", "v")) }
    try ts.append("t", Seq((3L, "c")).toDF("id", "v"))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(ts.read("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(ts.currentVersion("t") === 2) // create + rival + rebased ours
  }

  test("append refuses to rebase over a concurrent metadata change") {
    val ts = freshStore()
    ts.create("t", Seq((1L, 5L)).toDF("id", "x"))
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.addCheckConstraint("t", "pos", "x > 0") }
    try {
      intercept[java.util.ConcurrentModificationException](
        ts.append("t", Seq((2L, -1L)).toDF("id", "x")))
    } finally ts.onBeforeOptimisticCommit = () => ()
    // the winner's constraint survives; our unvalidated rows never landed
    assert(ts.read("t").count() === 1)
    assert(ts.checkConstraints("t").contains("pos"))
  }

  test("truly concurrent appends from two threads all land") {
    val ts = freshStore()
    ts.create("t", Seq((0L, 0L)).toDF("id", "x"))
    val root = ts.dataRoot("t").getParent.getParent.toString
    def writer(offset: Long): Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1L to 5L).foreach(i =>
        mine.append("t", Seq((offset + i, i)).toDF("id", "x")))
    }
    Await.result(Future.sequence(Seq(writer(100L), writer(200L))), 120.seconds)
    assert(ts.read("t").count() === 11)
    assert(ts.currentVersion("t") === 10) // every append got its own version
  }

  test("racing DV deletes: loser fails with a clear conflict, winner's " +
      "tombstones are never lost") {
    import org.apache.spark.sql.functions.col
    val ts = freshStore()
    ts.create("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")) // v0
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    // rival's DV delete lands between our manifest read and our commit
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.deleteVectorized("t", col("id") % 10 === 3L) }
    val e =
      try intercept[java.util.ConcurrentModificationException](
        ts.deleteVectorized("t", col("id") % 10 === 7L))
      finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(e.getMessage.contains("conflicts with a concurrent commit"))
    // the WINNER's tombstones survive; the loser's never landed
    assert(ts.read("t").filter(col("id") % 10 === 3L).count() === 0)
    assert(ts.read("t").filter(col("id") % 10 === 7L).count() === 100)
    // and the documented resolution — re-run against the new state — works
    ts.deleteVectorized("t", col("id") % 10 === 7L)
    assert(ts.read("t").count() === 800)
  }

  test("DV delete racing compaction of the same dir: either order loses " +
      "loudly, tombstones never silently dropped") {
    import org.apache.spark.sql.functions.col
    // order 1: compaction wins the race, the delete conflicts
    val ts = freshStore()
    ts.create("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts.deleteVectorized("t", col("id") % 10 === 0L) // v1: DV on the dir
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.compactDvHeavy("t", minDeletedRatio = 0.05) }
    try intercept[java.util.ConcurrentModificationException](
      ts.deleteVectorized("t", col("id") % 10 === 5L))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(ts.read("t").count() === 900) // compaction preserved v1's deletes
    ts.deleteVectorized("t", col("id") % 10 === 5L) // re-run lands
    assert(ts.read("t").count() === 800)

    // order 2: the delete wins the race, compaction conflicts
    val ts2 = freshStore()
    ts2.create("u", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    ts2.deleteVectorized("u", col("id") % 10 === 0L)
    val rival2 = new TableStore(spark, ts2.dataRoot("u").getParent.getParent.toString)
    var fired2 = false
    ts2.onBeforeOptimisticCommit = () =>
      if (!fired2) { fired2 = true; rival2.deleteVectorized("u", col("id") % 10 === 5L) }
    try intercept[java.util.ConcurrentModificationException](
      ts2.compactDvHeavy("u", minDeletedRatio = 0.05))
    finally ts2.onBeforeOptimisticCommit = () => ()
    assert(fired2)
    // BOTH deletes visible — the failed compaction dropped nothing
    assert(ts2.read("u").count() === 800)
    assert(ts2.compactDvHeavy("u", minDeletedRatio = 0.05) > 0) // re-run lands
    assert(ts2.read("u").count() === 800)
  }

  test("two racing MoR merges on one table: loser conflicts, no lost update") {
    import org.apache.spark.sql.functions.col
    val ts = freshStore()
    ts.createBucketed("t", (1L to 100L).map(i => (i, 0L)).toDF("id", "x"),
      Seq("id"), 4)
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true
        rival.mergeUpsert("t", Seq((1L, 111L)).toDF("id", "x"), Seq("id")) }
    try intercept[java.util.ConcurrentModificationException](
      ts.mergeUpsert("t", Seq((2L, 222L)).toDF("id", "x"), Seq("id")))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // winner's update visible, loser's absent — then the re-run converges
    assert(ts.read("t").filter(col("id") === 1L).select("x").head().getLong(0) === 111L)
    assert(ts.read("t").filter(col("id") === 2L).select("x").head().getLong(0) === 0L)
    ts.mergeUpsert("t", Seq((2L, 222L)).toDF("id", "x"), Seq("id"))
    assert(ts.read("t").filter(col("id") === 2L).select("x").head().getLong(0) === 222L)
  }

  test("overwrite of a ZERO-dir table racing an append conflicts loudly " +
      "(never silently rebases the rival's rows into the overwrite)") {
    val ts = freshStore()
    ts.createEmpty("t", Seq((1L, "a")).toDF("id", "v").schema) // v0, zero dirs
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.append("t", Seq((9L, "r")).toDF("id", "v")) }
    val e =
      try intercept[java.util.ConcurrentModificationException](
        ts.overwrite("t", Seq((1L, "a")).toDF("id", "v")))
      finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(e.getMessage.contains("conflicts with a concurrent commit"))
    // winner's append intact, loser's rows never landed
    assert(ts.read("t").as[(Long, String)].collect().toSet === Set((9L, "r")))
    ts.overwrite("t", Seq((1L, "a")).toDF("id", "v")) // re-run replaces
    assert(ts.read("t").as[(Long, String)].collect().toSet === Set((1L, "a")))
  }

  test("INSERT OVERWRITE attach racing a concurrent commit conflicts loudly") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v")) // v0
    // externally staged dir, as the DSv2 write path lays it out
    val dirName = "sqtest0001"
    Seq((5L, "x")).toDF("id", "v").write
      .parquet(ts.dataRoot("t").resolve(dirName).toString)
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.append("t", Seq((9L, "r")).toDF("id", "v")) }
    val e =
      try intercept[java.util.ConcurrentModificationException](
        ts.attachDir("t", dirName, replace = true))
      finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(e.getMessage.contains("INSERT OVERWRITE"))
    // nothing replaced; the rival's append is intact
    assert(ts.read("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (9L, "r")))
    ts.attachDir("t", dirName, replace = true) // re-run replaces
    assert(ts.read("t").as[(Long, String)].collect().toSet === Set((5L, "x")))
  }

  test("row-level rewrite pinned at its SCAN version: a rival DV delete " +
      "landing mid-operation wins — stale rewrite conflicts, tombstones kept") {
    import org.apache.spark.sql.functions.col
    val ts = freshStore()
    ts.create("t", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")) // v0
    val scanVersion = ts.currentVersion("t")
    val removedAtScan = ts.liveDirs("t").toSet
    // replacement dir rebuilt from the v0 snapshot (pre-delete rows)
    val dirName = "sqrewrite01"
    ts.read("t").write.parquet(ts.dataRoot("t").resolve(dirName).toString)
    // rival DV delete lands AFTER the scan, before the rewrite commits
    val rival = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    rival.deleteVectorized("t", col("id") <= 10L) // v1
    val e = intercept[java.util.ConcurrentModificationException](
      ts.replaceDirs("t", removedAtScan, dirName, basedOnVersion = scanVersion))
    assert(e.getMessage.contains("conflicts with a concurrent commit"))
    // the rival's tombstones were never resurrected
    assert(ts.read("t").count() === 90)
    // and replacing dirs the read manifest does not know is refused loudly
    val bogus = intercept[IllegalArgumentException](
      ts.replaceDirs("t", Set("no-such-dir"), dirName))
    assert(bogus.getMessage.contains("not live"))
  }

  test("attachDir append rebases over a racing append; racing metadata " +
      "changes (constraint OR generated rule) refuse the rebase") {
    val ts = freshStore()
    ts.create("t", Seq((1L, 5L)).toDF("id", "x")) // v0
    val root = ts.dataRoot("t").getParent.getParent.toString
    def stage(d: String, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("id", "x").write.parquet(ts.dataRoot("t").resolve(d).toString)
    // (a) racing append: both land via the bounded rebase
    stage("sqattach01", Seq((2L, 6L)))
    val rival = new TableStore(spark, root)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.append("t", Seq((3L, 7L)).toDF("id", "x")) }
    try ts.attachDir("t", "sqattach01", replace = false)
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(ts.read("t").as[(Long, Long)].collect().toSet ===
      Set((1L, 5L), (2L, 6L), (3L, 7L)))
    // (b) racing CHECK constraint: the staged rows were validated
    // against the OLD constraint set — rebase refused
    stage("sqattach02", Seq((4L, -1L)))
    var fired2 = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired2) { fired2 = true; rival.addCheckConstraint("t", "pos", "x > 0") }
    try intercept[java.util.ConcurrentModificationException](
      ts.attachDir("t", "sqattach02", replace = false))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired2)
    assert(ts.read("t").count() === 3) // unvalidated rows never landed
    ts.dropCheckConstraint("t", "pos")
    // (c) racing generated-column rule: same refusal — the rule is part
    // of the validation surface even though it lives in props
    stage("sqattach03", Seq((5L, 999L)))
    var fired3 = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired3) { fired3 = true; rival.setGeneratedColumn("t", "x", "id * 2") }
    try intercept[java.util.ConcurrentModificationException](
      ts.attachDir("t", "sqattach03", replace = false))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired3)
    assert(ts.read("t").count() === 3)
  }

  test("chaos: concurrent DV deletes, compactions, and appends with " +
      "retry-on-conflict converge to the exact expected table") {
    import org.apache.spark.sql.functions.col
    val ts = freshStore()
    ts.create("t", (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v"))
    val root = ts.dataRoot("t").getParent.getParent.toString
    // the documented resolution for a lost race is "re-run against the
    // new state" — each worker does exactly that, bounded
    def withRetry(op: => Unit): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try { op; done = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            attempts += 1
            assert(attempts < 30, "mutation never converged under contention")
        }
      }
    }
    val deleter: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      // ten disjoint point-delete batches: ids 1-10, 11-20, ... 91-100
      (0 until 10).foreach { b =>
        withRetry(mine.deleteVectorized("t",
          col("id") > b * 10L && col("id") <= (b + 1) * 10L))
      }
    }
    val compactor: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1 to 5).foreach { _ =>
        Thread.sleep(200)
        withRetry(mine.compactDvHeavy("t", minDeletedRatio = 0.01): Unit)
      }
    }
    val appender: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1L to 5L).foreach(i =>
        mine.append("t", Seq((10000L + i, s"a$i")).toDF("id", "v")))
    }
    // region replacer: repeatedly replaces ids 501-600 with ten fixed
    // rows — idempotent, so retry-on-conflict converges like the others;
    // exercises the replaceWhere commit path under the same contention
    val replacement = (1L to 10L).map(i => (500L + i, s"r$i"))
    val replacer: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1 to 3).foreach { _ =>
        Thread.sleep(120)
        withRetry(mine.overwriteWhere("t",
          col("id") > 500L && col("id") <= 600L,
          replacement.toDF("id", "v")))
      }
    }
    Await.result(
      Future.sequence(Seq(deleter, compactor, appender, replacer)), 300.seconds)
    // every delete landed exactly (no resurrected tombstones through any
    // compaction), every append landed, the replaced region holds exactly
    // its replacement, nothing else changed
    assert(ts.read("t").filter(col("id") <= 100L).count() === 0)
    assert(ts.read("t").filter(col("id") > 500L && col("id") <= 600L)
      .as[(Long, String)].collect().toSet === replacement.toSet)
    assert(ts.read("t").count() === 815) // 900 live - 100 region + 10 repl + 5 appends
    assert(ts.read("t").filter(col("id") > 10000L).count() === 5)
  }

  test("vacuum racing live writers never breaks a commit") {
    val ts = freshStore()
    ts.create("t", Seq((0L, 0L)).toDF("id", "x"))
    val root = ts.dataRoot("t").getParent.getParent.toString
    def writer(offset: Long): Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1L to 6L).foreach(i =>
        mine.append("t", Seq((offset + i, i)).toDF("id", "x")))
    }
    val sweeper: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1 to 8).foreach { _ =>
        Thread.sleep(150)
        mine.vacuum("t", retainVersions = 2)
      }
    }
    Await.result(
      Future.sequence(Seq(writer(100L), writer(200L), writer(300L), sweeper)),
      180.seconds)
    // every append landed and is READABLE: a vacuum that yanked an
    // in-flight batch dir would surface here as a missing-file scan
    val got = ts.read("t").as[(Long, Long)].collect().map(_._1).toSet
    assert(got === (Set(0L) ++ (1L to 6L).flatMap(i =>
      Seq(100L + i, 200L + i, 300L + i))), s"lost rows: $got")
    assert(ts.currentVersion("t") === 18)
    // and a cold store still resolves the (vacuumed) manifest chain
    assert(new TableStore(spark, root).read("t").count() === 19)
  }

  test("vacuum sweeping a pinned-version scan below the window: the read " +
      "fails LOUDLY, never returns silent partial rows") {
    val ts = freshStore()
    ts.create("t", (1 to 500).map(i => (i.toLong, i)).toDF("id", "x")) // v0
    ts.overwrite("t", Seq((0L, 0)).toDF("id", "x"))                    // v1
    // the reader pinned v0 BEFORE the sweep — its plan resolved v0's
    // dirs and files while they still existed
    val pinned = ts.readVersion("t", 0)
    val swept = ts.vacuum("t", retainVersions = 1)
    assert(swept.nonEmpty, "v0's superseded dirs must sweep")
    // the manifest answers COUNT exactly, without the files
    assert(pinned.count() === 500)
    // materializing the already-planned scan must surface a loud
    // missing-file error; 0 or 500-minus-some rows would be a silent
    // wrong answer
    val e = intercept[Exception](pinned.collect())
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    assert(chain.exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).toLowerCase.matches(
          "(?s).*(no such file|does not exist|path_not_found|file_not_exist).*")),
      s"expected a missing-file failure, got: $e")
    // a FRESH time travel refuses at plan time with the vacuum message
    val e2 = intercept[IllegalArgumentException](ts.readVersion("t", 0))
    assert(e2.getMessage.contains("manifest vacuumed"))
    // the retained version is untouched
    assert(ts.read("t").as[(Long, Int)].collect().toSeq === Seq((0L, 0)))
  }

  test("a commit landing inside vacuum's race window (after its version " +
      "read) keeps its dirs — the sweep treats the future as live") {
    val ts = freshStore()
    ts.create("t", (1 to 100).map(i => (i.toLong, i)).toDF("id", "x")) // v0
    ts.overwrite("t", (1 to 50).map(i => (i.toLong, i)).toDF("id", "x")) // v1
    val root = ts.dataRoot("t").getParent.getParent.toString
    var fired = false
    ts.onVacuumAfterVersionRead = () =>
      if (!fired) {
        fired = true
        // rival lands v2 with fresh dirs AFTER vacuum resolved cur=1:
        // vacuum's retained-window arithmetic never saw this version
        new TableStore(spark, root)
          .append("t", Seq((1000L, 1000)).toDF("id", "x"))
      }
    try ts.vacuum("t", retainVersions = 1)
    finally ts.onVacuumAfterVersionRead = () => ()
    assert(fired)
    // the racing commit's rows are fully readable — vacuum must not
    // have swept dirs referenced only by the version committed mid-sweep
    assert(ts.currentVersion("t") === 2)
    assert(ts.read("t").as[(Long, Int)].collect().map(_._1).toSet ===
      ((1L to 50L).toSet + 1000L))
    // and v0's superseded history is gone as requested
    intercept[IllegalArgumentException](ts.readVersion("t", 0))
  }

  test("two racing vacuums converge: deleting already-swept history is " +
      "success, not an error, and the table stays fully readable") {
    val ts = freshStore()
    ts.create("t", Seq((0L, 0L)).toDF("id", "x"))
    (1L to 10L).foreach(i => ts.append("t", Seq((i, i)).toDF("id", "x")))
    val root = ts.dataRoot("t").getParent.getParent.toString
    // two sweepers over the same history, interleaved with more commits
    def sweeper(): Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (1 to 6).foreach { _ => mine.vacuum("t", retainVersions = 2); Thread.sleep(40) }
    }
    val writer: Future[Unit] = Future {
      val mine = new TableStore(spark, root)
      (11L to 16L).foreach { i =>
        mine.append("t", Seq((i, i)).toDF("id", "x")); Thread.sleep(30)
      }
    }
    Await.result(Future.sequence(Seq(sweeper(), sweeper(), writer)), 180.seconds)
    // every committed row survived both sweeps
    assert(ts.read("t").as[(Long, Long)].collect().map(_._1).toSet ===
      (0L to 16L).toSet)
    // quiet vacuums converge: one sweep of whatever the racing pair
    // left behind, then a strict no-op
    ts.vacuum("t", retainVersions = 2)
    val again = ts.vacuum("t", retainVersions = 2)
    assert(again.isEmpty, s"post-convergence vacuum swept: $again")
    // and a cold store still resolves the (checkpointed) manifest chain
    assert(new TableStore(spark, root).read("t").count() === 17)
  }

  test("vacuum sweeping a change reader's (start, end] window: the planned " +
      "read fails loudly, a fresh plan refuses with the vacuum message, and " +
      "a restarted .changes stream refuses instead of silently skipping") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val root = Files.createTempDirectory("cdcvac").toString
    spark.conf.set("spark.sql.catalog.gvcr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gvcr.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v")) // v0
    ts.setChangeFeed("t", true)                                       // v1
    ts.delete("t", col("id") === 1L)                                  // v2 (recorded)
    // a .changes stream drains (-1, 2] into its checkpoint — its next
    // restart will ask for the window starting at v2
    val ckpt = s"$root/_ckpt"
    ts.createEmpty("sink", org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v STRING, _change_type STRING, _commit_version BIGINT"))
    val q = spark.readStream.option("startVersion", "-1")
      .table("gvcr.t.changes")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("gvcr.sink")
    q.awaitTermination()
    assert(ts.read("sink").count() > 0)
    // more recorded changes the stream has NOT delivered yet
    ts.delete("t", col("id") === 2L)                                  // v3
    ts.append("t", Seq((11L, "k")).toDF("id", "v"))                   // v4
    // a batch reader plans its window while every version still exists
    val planned = ts.readChangesBetween("t", 1L, 3L)
    ts.compact("t")                                                   // v5
    val swept = ts.vacuum("t", retainVersions = 1)
    assert(swept.nonEmpty)
    // face 1: the ALREADY-PLANNED read must fail loudly when it
    // materializes — 0 or partial change rows would be a silent wrong
    // answer feeding a replica
    val e1 = intercept[Exception](planned.count())
    val chain1 = Iterator.iterate(e1: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    assert(chain1.exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).toLowerCase.matches(
          "(?s).*(no such file|does not exist|path_not_found|file_not_exist|vacuum).*")),
      s"expected a loud missing-file/vacuum failure, got: $e1")
    // face 2: a FRESH plan over the swept window refuses at plan time
    // with the window semantics spelled out
    val e2 = intercept[IllegalStateException](ts.readChangesBetween("t", 1L, 3L))
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    // face 3: the restarted stream's checkpoint pins start=v2; its next
    // batch (2, 5] overlaps swept history and must fail the query, not
    // skip the missing versions (exactly-once would be broken silently)
    val q2 = spark.readStream.option("startVersion", "-1")
      .table("gvcr.t.changes")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable("gvcr.sink")
    val e3 = intercept[StreamingQueryException](q2.awaitTermination())
    val chain3 = Iterator.iterate(e3: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).toSeq
    assert(chain3.exists(t =>
      String.valueOf(t.getMessage).contains("vacuumed")), s"got: $e3")
    // the table itself stays fully readable at the retained version
    assert(ts.read("t").as[(Long, String)].collect().map(_._1).toSet ===
      ((3L to 11L).toSet))
  }

  test("stream epoch refuses to rebase over a concurrent metadata change") {
    import org.apache.spark.sql.functions.col
    val ts = freshStore()
    ts.create("t", Seq((1L, 5L)).toDF("id", "x"))
    val root = ts.dataRoot("t").getParent.getParent.toString
    val rival = new TableStore(spark, root)
    // executor-written epoch files whose rows VIOLATE the constraint the
    // rival is about to add — the old rebase would attach them unchecked
    val tmp = Files.createTempDirectory("epoch")
    Seq((2L, -1L)).toDF("id", "x").coalesce(1).write.mode("overwrite")
      .parquet(tmp.toString)
    val files = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.toPath).toSeq
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true; rival.addCheckConstraint("t", "pos", "x > 0") }
    try intercept[java.util.ConcurrentModificationException](
      ts.attachStreamEpoch("t", "q-meta", 0L, files))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // nothing landed; the winner's constraint survives and holds
    assert(ts.read("t").count() === 1)
    assert(ts.checkConstraints("t").contains("pos"))
    assert(ts.read("t").filter(col("x") <= 0L).count() === 0)
  }

  // ---- IVM maintenance under concurrency (r11 VERDICT #3): applies
  //      are optimistic — the loser of any interleaving fails LOUDLY
  //      and a re-run converges; nothing is ever silently lost. A
  //      synthesized feed (grp, qty, _change_type) stands in for
  //      readChangesBetween: the apply only reads those columns. ----

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, lit}

  private def ivmFeed(rows: (Long, Long)*): DataFrame =
    rows.toSeq.toDF("grp", "qty").withColumn("_change_type", lit("insert"))

  private def ivmView(ts: TableStore): Unit =
    // grp 1 live, grp 2 a retraction tombstone awaiting sweep
    ts.create("view", Seq((1L, 1L, 10L), (2L, 0L, 0L))
      .toDF("grp", "n_rows", "sum_qty"))

  test("IVM apply racing a concurrent apply: loser loud, re-run converges") {
    val ts = freshStore()
    ivmView(ts)
    val rival = new TableStore(spark, ts.dataRoot("view").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) {
        fired = true
        graft.ops.Ivm.applyCountSumDelta(rival, "view", ivmFeed((1L, 7L)),
          Seq("grp"), "qty", txn = Some(("b", 1L)))
      }
    try intercept[java.util.ConcurrentModificationException](
      graft.ops.Ivm.applyCountSumDelta(ts, "view", ivmFeed((1L, 5L)),
        Seq("grp"), "qty", txn = Some(("a", 1L))))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // only the winner landed — the loser's stale absolutes never wrote
    assert(graft.ops.Ivm.readView(ts, "view").filter(col("grp") === 1L)
      .select("n_rows", "sum_qty").as[(Long, Long)].head() === ((2L, 17L)))
    // the loser re-runs against the new state and converges
    graft.ops.Ivm.applyCountSumDelta(ts, "view", ivmFeed((1L, 5L)),
      Seq("grp"), "qty", txn = Some(("a", 1L)))
    assert(graft.ops.Ivm.readView(ts, "view").filter(col("grp") === 1L)
      .select("n_rows", "sum_qty").as[(Long, Long)].head() === ((3L, 22L)))
  }

  test("IVM sweep refuses when an apply resurrected its dead set " +
      "(pinned-version arm)") {
    val ts = freshStore()
    ivmView(ts)
    val v = ts.currentVersion("view")
    val dead = ts.readVersion("view", v).filter(col("n_rows") === 0L)
      .select("grp").localCheckpoint()
    assert(dead.count() === 1)
    // between the sweep's pinned read and its delete, an apply
    // resurrects grp 2
    graft.ops.Ivm.applyCountSumDelta(ts, "view", ivmFeed((2L, 9L)),
      Seq("grp"), "qty", txn = Some(("r", 1L)))
    val boom = intercept[IllegalArgumentException](
      ts.mergeDelete("view", dead, Seq("grp"), expectedVersion = Some(v)))
    assert(boom.getMessage.contains("advanced"))
    // the resurrected group survives; a re-run sweep sees it live -> no-op
    graft.ops.Ivm.compactDead(ts, "view", Seq("grp"))
    assert(graft.ops.Ivm.readView(ts, "view").filter(col("grp") === 2L)
      .select("n_rows", "sum_qty").as[(Long, Long)].head() === ((1L, 9L)))
  }

  test("IVM sweep racing an apply at commit time: loser loud, nothing lost") {
    val ts = freshStore()
    ivmView(ts)
    val rival = new TableStore(spark, ts.dataRoot("view").getParent.getParent.toString)
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) {
        fired = true
        graft.ops.Ivm.applyCountSumDelta(rival, "view", ivmFeed((2L, 9L)),
          Seq("grp"), "qty", txn = Some(("r", 1L)))
      }
    // the sweep's expectedVersion check passed at read time; the rival
    // lands before its commit -> put-if-absent collision, loud
    try intercept[java.util.ConcurrentModificationException](
      graft.ops.Ivm.compactDead(ts, "view", Seq("grp")))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    // the apply's resurrection was never deleted
    assert(graft.ops.Ivm.readView(ts, "view").filter(col("grp") === 2L)
      .select("n_rows", "sum_qty").as[(Long, Long)].head() === ((1L, 9L)))
    graft.ops.Ivm.compactDead(ts, "view", Seq("grp")) // re-run: no-op
    assert(ts.read("view").count() === 2)
  }

  test("IVM apply racing a concurrent sweep: loser loud, re-run " +
      "re-inserts the swept group") {
    val ts = freshStore()
    ivmView(ts)
    val rival = new TableStore(spark, ts.dataRoot("view").getParent.getParent.toString)
    var fired = false
    // our apply resurrects grp 2; the sweep deletes its tombstone first
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) {
        fired = true
        graft.ops.Ivm.compactDead(rival, "view", Seq("grp"))
      }
    try intercept[java.util.ConcurrentModificationException](
      graft.ops.Ivm.applyCountSumDelta(ts, "view", ivmFeed((2L, 9L)),
        Seq("grp"), "qty", txn = Some(("a", 1L))))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    assert(ts.read("view").count() === 1) // sweep won; tombstone gone
    // re-run: grp 2 now absent from the view -> fresh insert, converged
    graft.ops.Ivm.applyCountSumDelta(ts, "view", ivmFeed((2L, 9L)),
      Seq("grp"), "qty", txn = Some(("a", 1L)))
    assert(graft.ops.Ivm.readView(ts, "view").filter(col("grp") === 2L)
      .select("n_rows", "sum_qty").as[(Long, Long)].head() === ((1L, 9L)))
  }
}
