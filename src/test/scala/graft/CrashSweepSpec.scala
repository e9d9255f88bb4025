package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.util.control.ControlThrowable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Crash-point ENUMERATION (r10 VERDICT #3): instead of hand-picked
  * crash states, every durable side-effect step of a commit /
  * streaming-epoch attach / vacuum is an injection point. The store's
  * `onStep` hook fires after each step; the sweep throws
  * [[CrashSweepSpec.SimulatedCrash]] (a ControlThrowable, so the
  * store's NonFatal cleanup handlers do NOT run — on-disk state is
  * byte-identical to a kill there), then proves a later writer and
  * reader converge to exactly-once state:
  *   - crash BEFORE the manifest hard-link → the operation never
  *     happened; its scratch (batch dirs, DV sidecars, feed staging)
  *     is invisible, and a recovery append lands cleanly on the
  *     pre-op state;
  *   - crash AT/AFTER the link → the operation is durable; the
  *     recovery append adopts the ghost (rolling `_LATEST` forward and
  *     completing any staged change feed) and the final table equals
  *     post-op + the recovery row, with the change feed reading back
  *     exactly once.
  * The sweep is trace-driven: a clean run records the step sequence,
  * then each prefix length k re-runs on a fresh fixture with death
  * injected after step k. */
class CrashSweepSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  final class SimulatedCrash(val step: String, val k: Int)
    extends ControlThrowable

  private def root(ts: TableStore, name: String): Path =
    ts.dataRoot(name).getParent

  /** Age every in-flight dot-dir (feed staging, commit scratch) past
    * the live-writer grace window — the recovery runs "two minutes
    * after the crash", like the hand-built tests did. */
  private def ageScratch(td: Path): Unit = {
    val old = FileTime.fromMillis(System.currentTimeMillis() - 120000L)
    Seq("_cdf", "data", "_dv", "_v").map(td.resolve).filter(Files.isDirectory(_))
      .foreach { d =>
        scala.util.Using.resource(Files.list(d))(_.iterator().forEachRemaining(p =>
          if (p.getFileName.toString.startsWith(".")) Files.setLastModifiedTime(p, old)))
      }
  }

  /** Record the clean step trace of `op` on a fresh fixture. */
  private def trace(build: () => TableStore, op: TableStore => Unit): Seq[String] = {
    val ts = build()
    val steps = mutable.Buffer.empty[String]
    ts.onStep = s => steps += s
    try op(ts) finally ts.onStep = _ => ()
    steps.toSeq
  }

  /** Run `op` on a fresh fixture, killing the writer after its k-th
    * durable step; return the fixture's table root. */
  private def crashAt(build: () => TableStore, op: TableStore => Unit,
                      k: Int): TableStore = {
    val ts = build()
    var n = 0
    ts.onStep = s => { n += 1; if (n == k) throw new SimulatedCrash(s, k) }
    try {
      op(ts)
      fail(s"expected the injected crash at step $k to propagate")
    } catch { case _: SimulatedCrash => () }
    ts.onStep = _ => ()
    ts
  }

  // ---- scenario 1: merge-on-read DELETE with the change feed on ----
  // steps: dv-written, cdf-staged, manifest-linked, latest-published,
  // cdf-published
  test("sweep: writer death after EVERY step of a CDF row-level delete " +
      "converges to exactly-once under a recovery append") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_del").toString)
      ts.create("t", (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts
    }
    val op = (ts: TableStore) => ts.deleteVectorized("t", col("id") <= 3L)
    val steps = trace(build, op)
    assert(steps.containsSlice(Seq("dv-written", "cdf-staged",
      "manifest-linked", "latest-published", "cdf-published")), steps.toString)
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString) // "new process"
      tsR.append("t", Seq((99L, "x")).toDF("id", "v"))
      val ids = tsR.read("t").select("id").as[Long].collect().toSet
      val expected =
        if (k < linkAt) (1L to 10L).toSet + 99L // op never became durable
        else (4L to 10L).toSet + 99L            // op durable; ghost adopted
      assert(ids === expected, s"step $k (${steps(k - 1)})")
      if (k >= linkAt) {
        // the adopted/healed version's change feed reads back exactly once
        val changes = tsR.readChangesBetween("t", 1L, 2L)
          .filter(col("_change_type") === "delete")
          .select("id").as[Long].collect().toSeq
        assert(changes.sorted === Seq(1L, 2L, 3L), s"step $k feed")
      } else {
        // the orphan staging must NOT be mis-adopted onto the recovery
        // append's version: its changes synthesize as pure inserts
        val kinds = tsR.readChangesBetween("t", 1L, 2L)
          .select("_change_type").distinct().as[String].collect().toSet
        assert(kinds === Set("insert"), s"step $k: orphan staging leaked in")
      }
    }
  }

  // ---- scenario 1b: the GDPR mark — a merge-on-read UPDATE on a
  // row-tracked table with the feed on (postimage dir + DV sidecar +
  // pre/postimages carrying stable ids, one commit) ----
  test("sweep: writer death after EVERY step of a CDF row-tracked " +
      "vectorized update converges; ids survive and the feed records once") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_gdpr").toString)
      ts.create("t", (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts.enableRowTracking("t") // v2: the op commits v3
      ts
    }
    val op = (ts: TableStore) =>
      ts.updateVectorized("t", col("id") <= 3L, Map("v" -> lit("gdpr")))
    val steps = trace(build, op)
    assert(steps === Seq("batch-written", "dv-written", "cdf-staged",
      "manifest-linked", "latest-published", "cdf-published"), steps.toString)
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      tsR.append("t", Seq((99L, "x")).toDF("id", "v"))
      val got = tsR.read("t").as[(Long, String)].collect()
      val durable = k >= linkAt
      val expected = (1L to 10L).map(i =>
        i -> (if (durable && i <= 3L) "gdpr" else s"r$i")).toMap + (99L -> "x")
      assert(got.length === expected.size && got.toMap === expected,
        s"step $k (${steps(k - 1)})")
      // stable ids survive the tombstone + re-append
      def idsAt(v: Long): Map[Long, Long] =
        tsR.readWithRowIds("t", v).filter(col("id") <= 10L)
          .select("id", "_row_id").as[(Long, Long)].collect().toMap
      assert(idsAt(tsR.currentVersion("t")) === idsAt(2L), s"step $k ids")
      val ch = tsR.readChangesBetween("t", 2L, 3L, withRowIds = true)
        .select("id", "_row_id", "_change_type").as[(Long, Long, String)]
        .collect().toSeq
      if (durable) {
        // the adopted/healed version's feed reads each image ONCE, keyed
        // by the rows' pre-update ids
        val pre = ch.filter(_._3 == "update_preimage").map(r => r._1 -> r._2)
        val post = ch.filter(_._3 == "update_postimage").map(r => r._1 -> r._2)
        assert(pre.sorted === idsAt(2L).filter(_._1 <= 3L).toSeq.sorted, s"step $k pre")
        assert(post.sorted === pre.sorted, s"step $k post")
        assert(ch.size === 6, s"step $k feed")
      } else {
        // the orphan staging must not be mis-adopted onto the recovery
        // append's version: its changes synthesize as pure inserts
        assert(ch.map(_._3).toSet === Set("insert"), s"step $k: orphan staging leaked in")
      }
    }
  }

  // ---- scenario 2: rewrite-shaped replaceWhere (full drop + partial
  // tombstone + insert) with the feed on ----
  test("sweep: writer death after EVERY step of a CDF replaceWhere " +
      "(drop+tombstone+insert) converges") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_rw").toString)
      // dir A: ids 1-5 all replaced (full drop); dir B: 6-10, only 6
      // replaced (DV tombstone)
      ts.create("t", (1L to 5L).map(i => (i, s"a$i")).toDF("id", "v"))
      ts.append("t", (6L to 10L).map(i => (i, s"b$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts
    }
    val op = (ts: TableStore) => ts.overwriteWhere("t", col("id") <= 6L,
      Seq((0L, "new")).toDF("id", "v"))
    val steps = trace(build, op)
    assert(steps.contains("batch-written") && steps.contains("dv-written") &&
      steps.contains("cdf-staged"), steps.toString)
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      tsR.append("t", Seq((99L, "x")).toDF("id", "v"))
      val ids = tsR.read("t").select("id").as[Long].collect().toSet
      val expected =
        if (k < linkAt) (1L to 10L).toSet + 99L
        else (7L to 10L).toSet + 0L + 99L
      assert(ids === expected, s"step $k (${steps(k - 1)})")
      if (k >= linkAt) {
        val ch = tsR.readChangesBetween("t", 2L, 3L)
        assert(ch.filter(col("_change_type") === "delete").count() === 6L,
          s"step $k deletes")
        assert(ch.filter(col("_change_type") === "insert")
          .select("id").as[Long].collect().toSeq === Seq(0L), s"step $k inserts")
      }
    }
  }

  // ---- scenario 3: plain append (no feed) ----
  test("sweep: writer death after EVERY step of an append converges") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_app").toString)
      ts.create("t", Seq((1L, "a")).toDF("id", "v"))
      ts
    }
    val op = (ts: TableStore) => ts.append("t", Seq((2L, "b")).toDF("id", "v"))
    val steps = trace(build, op)
    assert(steps === Seq("batch-written", "manifest-linked", "latest-published"))
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      tsR.append("t", Seq((3L, "c")).toDF("id", "v"))
      val ids = tsR.read("t").select("id").as[Long].collect().toSet
      val expected = if (k < linkAt) Set(1L, 3L) else Set(1L, 2L, 3L)
      assert(ids === expected, s"step $k (${steps(k - 1)})")
    }
  }

  // ---- scenario 4: streaming-epoch attach stays exactly-once ----
  test("sweep: writer death after EVERY step of a streaming-epoch " +
      "commit — the restarted sink never double-commits") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_ep").toString)
      ts.create("t", Seq((1L, "a")).toDF("id", "v"))
      ts
    }
    val op = (ts: TableStore) => {
      ts.attachStreamEpoch("t", queryId = "q", epochId = 1L,
        files = Seq.empty): Unit
    }
    val steps = trace(build, op)
    assert(steps === Seq("manifest-linked", "latest-published"))
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val tsR = new TableStore(spark, root(ts, "t").getParent.toString)
      // the restarted sink re-attempts the SAME epoch: whatever step
      // died, epoch 1 must end up committed exactly once
      tsR.attachStreamEpoch("t", queryId = "q", epochId = 1L, files = Seq.empty)
      assert(tsR.currentVersion("t") === 1L, s"step $k double-committed")
      tsR.attachStreamEpoch("t", queryId = "q", epochId = 2L, files = Seq.empty)
      assert(tsR.currentVersion("t") === 2L, s"step $k")
    }
  }

  // ---- scenario 5: vacuum killed mid-sweep ----
  test("sweep: vacuum death after EVERY phase leaves the table readable " +
      "and a re-run converges") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_vac").toString)
      ts.create("t", (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts.deleteVectorized("t", col("id") === 1L)     // v2: DV + feed
      ts.append("t", Seq((11L, "k")).toDF("id", "v")) // v3
      ts.compact("t")                                 // v4: supersedes all dirs
      ts
    }
    val op = (ts: TableStore) => { ts.vacuum("t", retainVersions = 1): Unit }
    val steps = trace(build, op)
    assert(steps.count(_.startsWith("vacuum-")) >= 4, steps.toString)
    val want = Set((2L to 11L): _*)
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val tsR = new TableStore(spark, root(ts, "t").getParent.toString)
      // current version stays fully readable whatever phase died
      assert(tsR.read("t").select("id").as[Long].collect().toSet === want,
        s"step $k (${steps(k - 1)})")
      // the re-run completes the interrupted sweep and converges
      tsR.vacuum("t", retainVersions = 1)
      assert(tsR.read("t").select("id").as[Long].collect().toSet === want)
      // and the table stays writable on top
      tsR.append("t", Seq((12L, "z")).toDF("id", "v"))
      assert(tsR.read("t").count() === 11L, s"step $k")
    }
  }

  // ---- scenario 5b: compact (exclusive rewrite, feed ON) killed at
  // every step — the no-logical-change marker path ----
  test("sweep: writer death after EVERY step of a compact (feed on) " +
      "converges; the change feed never synthesizes phantom changes") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_cmp").toString)
      ts.create("t", (1L to 5L).map(i => (i, s"a$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts.append("t", (6L to 10L).map(i => (i, s"b$i")).toDF("id", "v"))
      ts
    }
    val op = (ts: TableStore) => ts.compact("t")
    val steps = trace(build, op)
    assert(steps.contains("manifest-linked"), steps.toString)
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      tsR.append("t", Seq((99L, "x")).toDF("id", "v"))
      // rows identical whatever step died — compact is physical-only
      assert(tsR.read("t").select("id").as[Long].collect().toSet ===
        ((1L to 10L).toSet + 99L), s"step $k (${steps(k - 1)})")
      // the feed reads the whole history without phantom deletes: a
      // durable compact carries its no-logical-change marker; a
      // never-happened compact leaves plain appends
      val ch = tsR.readChangesBetween("t", -1L, tsR.currentVersion("t"))
      assert(ch.filter(col("_change_type") =!= "insert").count() === 0L,
        s"step $k: compact leaked non-insert changes")
      assert(ch.count() === 11L, s"step $k feed row count")
      val _ = linkAt // both branches assert the same converged state
    }
  }

  // ---- scenario 5c: merge-on-read UPSERT (the flagship mutation:
  // tombstone DVs + inserted dir + recorded pre/postimages in ONE
  // commit) killed at every durable step ----
  test("sweep: writer death after EVERY step of a CDF MoR merge " +
      "converges to exactly-once; the feed records each image once") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_mrg").toString)
      ts.create("t", (1L to 10L).map(i => (i, s"old$i")).toDF("id", "v"))
      ts.setChangeFeed("t", enabled = true)
      ts
    }
    val src = (1L to 3L).map(i => (i, s"new$i")) ++
      Seq((11L, "new11"), (12L, "new12"))
    val op = (ts: TableStore) => ts.mergeUpsert("t",
      src.toDF("id", "v"), Seq("id"), changeTypeCol = None)
    val steps = trace(build, op)
    assert(steps.contains("manifest-linked") && steps.contains("cdf-staged"),
      steps.toString)
    val linkAt = steps.indexOf("manifest-linked") + 1
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, op, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      tsR.append("t", Seq((99L, "x")).toDF("id", "v"))
      val got = tsR.read("t").select("id", "v").as[(Long, String)]
        .collect().toMap
      if (k < linkAt) {
        // merge never became durable: pristine table + recovery row
        assert(got === ((1L to 10L).map(i => i -> s"old$i").toMap +
          (99L -> "x")), s"step $k (${steps(k - 1)})")
      } else {
        // merge durable exactly once: updates applied, inserts in
        assert(got === ((4L to 10L).map(i => i -> s"old$i").toMap ++
          (1L to 3L).map(i => i -> s"new$i") +
          (11L -> "new11") + (12L -> "new12") + (99L -> "x")),
          s"step $k (${steps(k - 1)})")
        // the adopted/healed version's feed reads each image ONCE
        val ch = tsR.readChangesBetween("t", 1L, 2L)
          .select("id", "_change_type").as[(Long, String)].collect().toSeq
        assert(ch.count(_._2 == "update_preimage") === 3, s"step $k pre")
        assert(ch.count(_._2 == "update_postimage") === 3, s"step $k post")
        assert(ch.filter(_._2 == "insert").map(_._1).sorted === Seq(11L, 12L),
          s"step $k inserts")
      }
    }
  }

  // ---- scenario 5d: TXN-STAMPED merge (idempotent writes) killed at
  // every durable step, then the caller re-issues the SAME merge with
  // the SAME txn — the crash face of the IVM exactly-once claim. If the
  // crashed attempt never became durable the retry must APPLY; if it
  // did (ghost or published), the retry must SKIP — either way the
  // final state is exactly-once and the registry records the version. ----
  test("sweep: writer death at EVERY step of a txn-stamped merge, then a " +
      "same-txn retry, lands exactly-once") {
    def build(): TableStore = {
      val ts = new TableStore(spark,
        Files.createTempDirectory("sweep_txn").toString)
      ts.create("t", Seq((1L, 10L), (2L, 20L)).toDF("id", "n"))
      ts
    }
    val src = Seq((2L, 21L), (3L, 30L)) // one update + one insert
    def merge(ts: TableStore): Unit = ts.mergeUpsert("t",
      src.toDF("id", "n"), Seq("id"), changeTypeCol = None,
      txn = Some(("ivm-app", 7L)))
    val steps = trace(build, merge)
    assert(steps.contains("manifest-linked"), steps.toString)
    for (k <- 1 to steps.length) {
      val ts = crashAt(build, merge, k)
      val td = root(ts, "t")
      ageScratch(td)
      val tsR = new TableStore(spark, td.getParent.toString)
      // the retry: first attempt may lose to the crashed attempt's own
      // ghost (the collision handler adopts it and asks to re-run)
      try merge(tsR)
      catch { case _: java.util.ConcurrentModificationException => merge(tsR) }
      assert(tsR.read("t").as[(Long, Long)].collect().toSet ===
        Set((1L, 10L), (2L, 21L), (3L, 30L)), s"step $k (${steps(k - 1)})")
      assert(tsR.lastTxnVersion("t", "ivm-app") === Some(7L),
        s"step $k registry")
    }
  }

  // ---- scenario 6: the ADOPTER dies mid-adoption ----
  test("adopter death between completing the staged feed and publishing " +
      "the pointer: the next writer finishes the adoption") {
    val ts = new TableStore(spark,
      Files.createTempDirectory("sweep_adopt").toString)
    ts.create("t", (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    ts.setChangeFeed("t", enabled = true)
    // ghost: the delete's manifest is linked, pointer and staging not
    // yet moved (death right after "manifest-linked")
    var n = 0
    ts.onStep = s => { n += 1; if (s == "manifest-linked")
      throw new SimulatedCrash(s, n) }
    try ts.deleteVectorized("t", col("id") <= 3L)
    catch { case _: SimulatedCrash => () }
    ts.onStep = _ => ()
    val td = root(ts, "t")
    ageScratch(td)
    // adopter #1 dies right after moving the staged feed into place
    val tsA = new TableStore(spark, td.getParent.toString)
    tsA.onStep = s => if (s == "cdf-adopted") throw new SimulatedCrash(s, 0)
    try {
      tsA.append("t", Seq((98L, "a")).toDF("id", "v"))
      fail("expected adopter death")
    } catch { case _: SimulatedCrash => () }
    tsA.onStep = _ => ()
    assert(Files.isDirectory(td.resolve("_cdf").resolve("2")),
      "the dead adopter had completed the staging move")
    assert(tsA.currentVersion("t") === 1L, "pointer not yet rolled forward")
    // adopter #2 finds the staging already in place, publishes, commits
    val tsB = new TableStore(spark, td.getParent.toString)
    tsB.append("t", Seq((99L, "b")).toDF("id", "v"))
    assert(tsB.currentVersion("t") === 3L)
    assert(tsB.read("t").select("id").as[Long].collect().toSet ===
      (4L to 10L).toSet + 99L)
    assert(tsB.readChangesBetween("t", 1L, 2L)
      .filter(col("_change_type") === "delete").count() === 3L)
  }
}
