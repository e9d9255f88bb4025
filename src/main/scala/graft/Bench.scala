package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

object Bench {

  /** The queries reported in the driver-parsed JSON line — one per
    * BASELINE.md headline row (jobs) plus the most expensive engine
    * primitives. The full per-query map for all registered queries is
    * written to target/bench_full.json; it can't go on the stdout line
    * because the driver's tail buffer truncates long lines (BENCH_r01/
    * r02 both came back "parsed": null from an ~2.5 KB line). */
  val headline: Seq[String] = Seq(
    "job_bronze_load", "job_bronze_full_refresh", "job_bronze_backfill",
    "job_bronze_quarantine", "job_silver", "job_gdpr_propagate",
    "job_dim_customer_scd2", "job_dim_merchant_scd2", "job_fact_star",
    "job_fact_full_refresh", "job_fact_load", "job_incremental",
    "job_silver_handoff", "j1_star_join", "m1_merge_composite",
    "d3_minhash_lsh", "d5_dedup_clusters", "e3_ann_lsh_topk",
    "d2_ngram_jaccard", "x4_asof_join", "x7_incremental_dedup",
    "x8_corpus_pipeline", "sql_mor_merge", "cdc2_rowid_replicate",
    "cdc3_rowid_compact_apply", "x18_exact_substring_dedup",
    "st15_stream_dedup_admission", "st18_stream_scd2_dim",
    "er1_fuzzy_match", "t16_bpe_encode")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cores)
    // warm up executor threads, codegen compiler, and the FS cache so the
    // first timed query doesn't absorb session start-up (~3-4 s). The
    // warm-up time doubles as a co-tenant contention sentinel: r5's
    // recorded bench was poisoned by a contended machine (a trivial
    // projection read 395 s); a slow warm-up makes such a run
    // self-identifying in the artifact.
    // sweep a PREVIOUS run's abandoned fixture trash before any timing
    // starts (r15): the background sweeper otherwise starts draining
    // the backlog at the suite's first clearAsync — concurrent unlink
    // IO inside the first measurement interval (r14 ADVICE #2's
    // overlap caveat, observed as a ~2x tax on the a-family). Runs
    // BEFORE w0 so a large backlog can't trip the warm-up sentinel.
    core.FsUtil.sweepStale()
    val w0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    val warmupSec = (System.nanoTime() - w0) / 1e9
    if (warmupSec > 30)
      System.err.println(f"[bench] WARNING: warm-up took $warmupSec%.1f s — machine likely contended; treat this run's timings as unreliable")

    // ---- periodic contention canary (r6: the ONE-SHOT warm-up sentinel
    // missed a co-tenant that arrived mid-suite and tripled d2/d3/d5).
    // A fixed CPU-bound probe runs every CanaryEvery queries; a probe
    // reading slow (vs the best probe seen) marks the queries timed in
    // the adjacent intervals as "suspect". Suspects are re-run once at
    // suite end (keeping the min), so one contention spike costs a
    // re-measure instead of poisoning the round's artifact. ----
    // clamped to >= 1: a 0 would divide-by-zero after the warm-up
    val canaryEvery =
      sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "15").toInt.max(1)
    // each probe uses a FRESH expression constant so whole-stage codegen
    // emits (and must JIT-compile) a new class every time: a probe that
    // reused one shape stayed hot in the JIT cache and was blind to the
    // very degradation it should catch — JIT code-cache exhaustion from
    // a 150-query suite's generated classes ran expression-heavy
    // queries interpreted (d2 9->60 s) while the old canary read 0.3 s
    var canaryN = 0
    def canaryProbe(): Double = {
      canaryN += 1
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr(s"sum(id * ${2 * canaryN + 1})").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // the CPU probe alone demonstrably misses I/O contention: one r7
    // local suite recorded cdc2 at 27 s (vs 6.6-8.5 s on clean re-runs)
    // with every CPU canary green — the mutation queries are commit/
    // fsync-bound on the same filesystem co-tenants hammer. Probe the
    // query stores' tmp filesystem too: write+read+delete ~64 MB.
    def canaryIoProbe(): Double = {
      val p = Paths.get("/tmp/graft_bench_io_canary.bin")
      val chunk = new Array[Byte](1 << 20)
      java.util.Arrays.fill(chunk, 0x5a.toByte)
      val t0 = System.nanoTime()
      val out = Files.newOutputStream(p)
      try { var i = 0; while (i < 64) { out.write(chunk); i += 1 } } finally out.close()
      val in = Files.newInputStream(p)
      try { val buf = new Array[Byte](1 << 20); while (in.read(buf) > 0) () }
      finally in.close()
      Files.deleteIfExists(p)
      (System.nanoTime() - t0) / 1e9
    }
    // CPU and IO probes BOTH miss scheduler-latency contention (r13:
    // the streaming family ran 2-3x its r12 walls — st1, UNCHANGED
    // code, swung 2.78->4.69 s between consecutive standalone runs —
    // while every burst canary sat at its floor; micro-batch streams
    // are bound by trigger/job-scheduling latency, not CPU or IO
    // bandwidth). Probe it directly: 20 empty jobs, end to end —
    // clean ~0.2-0.5 s, a contended scheduler reads seconds.
    def canarySchedProbe(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 20) { spark.range(1L).count(): Unit; i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canariesIo = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canariesSched = scala.collection.mutable.ArrayBuffer.empty[Double]
    canaries += canaryProbe() // clean-ish baseline right after warm-up
    canariesIo += canaryIoProbe()
    canariesSched += canarySchedProbe()
    // floors sized to each probe's own baseline: the CPU probe reads
    // ~0.2-0.45 s clean, the 64 MB page-cache IO probe ~0.04-0.11 s —
    // a shared 1.0 s floor silently neutered the IO canary (a 5x IO
    // slowdown, exactly the r7 cdc2-at-27s shape it was added to catch,
    // read green because 3x its min never reached 1.0)
    def slowCanary(sec: Double): Boolean =
      sec > math.max(3.0 * canaries.min, 0.75)
    def slowIoCanary(sec: Double): Boolean =
      sec > math.max(3.0 * canariesIo.min, 0.3)
    // the scheduler probe participates in the LIVE warning too (r13
    // ADVICE: it was measured and gated post-hoc but never triggered the
    // mid-run line, so a scheduler-contended window was invisible until
    // the final gate); floor mirrors schedThreshold's hard tier
    def slowSchedCanary(sec: Double): Boolean =
      sec > math.max(3.0 * canariesSched.min, 1.5)

    // optional local-iteration filter: comma-separated query names as
    // args(0); the driver invokes with no args (all queries)
    val only: Option[Set[String]] = args.lift(0).map(_.split(",").toSet)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val suspect = scala.collection.mutable.LinkedHashSet.empty[String]

    def runOne(name: String, fn: Queries.Q): (Boolean, Double) = {
      System.err.println(s"[bench] running $name")
      val t0 = System.nanoTime()
      // materialize through the PHYSICAL plan: df.count() would let
      // Catalyst prune every unreferenced projection (measuring a
      // different, cheaper query); toRdd.count() iterates the plan's
      // fully-evaluated UnsafeRows, so projections, casts, and derived
      // measures are all actually computed
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // isolate queries from each other: several cache intermediates
      // they hand back still-cached; 80 queries' worth of leaked blocks
      // fills storage memory and the GC pressure taxes every later
      // query (r02: a trivial 8-column projection read 26 s)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      (ok, sec)
    }

    // deterministic order so per-round numbers are comparable
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // interval k's queries ran between probe k-1 and probe k (probe 0 is
    // the post-warm-up baseline) — recorded for RETROSPECTIVE marking
    val intervalQueries = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var sinceCanary = scala.collection.mutable.ArrayBuffer.empty[String]
    toRun.zipWithIndex.foreach { case ((name, fn), i) =>
      val (ok, sec) = runOne(name, fn)
      if (ok) timings(name) = sec else failed += name
      sinceCanary += name
      if ((i + 1) % canaryEvery == 0 || i == toRun.size - 1) {
        val c = canaryProbe()
        val cio = canaryIoProbe()
        val csc = canarySchedProbe()
        if (slowCanary(c) || slowIoCanary(cio) || slowSchedCanary(csc))
          System.err.println(f"[bench] WARNING: canary cpu $c%.2f s / io $cio%.2f s / sched $csc%.2f s (best-so-far ${canaries.min}%.2f/${canariesIo.min}%.2f/${canariesSched.min}%.2f)")
        canaries += c
        canariesIo += cio
        canariesSched += csc
        intervalQueries += sinceCanary.toSeq
        sinceCanary = scala.collection.mutable.ArrayBuffer.empty[String]
      }
    }
    // suspects decided AGAINST THE WHOLE TRAIL, not a running min:
    // contention present from suite start that clears mid-suite leaves
    // its early probes slow relative to the FINAL min — an online
    // comparison (each probe vs min-so-far) could never flag them. An
    // interval is tainted when EITHER bounding probe is slow (a
    // co-tenant can arrive right after one probe or leave right before
    // the next).
    //
    // TWO-TIER rule (r9 VERDICT #2): the absolute floors that keep the
    // canaries from flagging noise also blinded them to MODERATE IO
    // contention — st15's window passed on a 0.217 s probe, 5x the
    // run's 0.042 s clean min but under the 0.3 s floor, while st15
    // itself read ~2x its cold standalone. A probe is now slow when it
    // breaches EITHER the hard floor OR 3x the trail's p25 (p25, not
    // min: one lucky fast probe must not make every normal probe look
    // slow; a mostly-contended trail elevates p25, where the hard floor
    // still catches).
    def p25(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s((s.size - 1) / 4)
    }
    // flag when above EITHER tier = above the SMALLER of the two
    // thresholds; the inner max()es are noise floors so a tiny p25
    // can't flag ordinary jitter (clean probes: cpu ~0.2-0.45 s,
    // io ~0.04-0.11 s)
    def cpuThreshold: Double =
      math.min(math.max(3.0 * canaries.min, 0.75),
        math.max(3.0 * p25(canaries.toSeq), 0.6))
    def ioThreshold: Double =
      math.min(0.3, math.max(3.0 * p25(canariesIo.toSeq), 0.15))
    // scheduler-latency tier (r13): clean ~0.2-0.5 s for 20 empty
    // jobs; the floor keeps GC/JIT jitter from flagging, the p25 tier
    // catches a scheduler 3x slower than the run's own normal — the
    // contention class that inflates micro-batch streaming walls while
    // the CPU/IO burst probes sit at their floors
    def schedThreshold: Double =
      math.min(math.max(3.0 * canariesSched.min, 1.5),
        math.max(3.0 * p25(canariesSched.toSeq), 1.2))
    def probeSlowFinal(k: Int): Boolean =
      canaries(k) > cpuThreshold || canariesIo(k) > ioThreshold ||
        canariesSched(k) > schedThreshold
    intervalQueries.zipWithIndex.foreach { case (qs, k0) =>
      if (probeSlowFinal(k0) || probeSlowFinal(k0 + 1)) suspect ++= qs
    }
    if (suspect.nonEmpty)
      System.err.println(s"[bench] ${suspect.size} queries suspect after full-trail review")

    // re-measure suspects keeping the min (a clean re-run replaces the
    // contended number; a still-contended one can't make it worse) —
    // in CHUNKS bracketed by their own probe pairs, with up to three
    // passes (r9 VERDICT #3: the single-pass protocol re-ran all 75
    // suspects and then threw every fresh measurement away because the
    // ONE closing probe pair read slow — per-chunk brackets clear the
    // chunks whose window was actually clean, and later passes retry
    // only the chunks that weren't). Whatever is still flagged after
    // the last pass ships as `unvalidated` — an explicit statement that
    // those timings never got a clean measurement window.
    val remeasured = scala.collection.mutable.LinkedHashSet.empty[String]
    // r10 VERDICT #5: the contended first-pass samples are evidence of
    // HOW contended the run was — snapshot them before the re-run loop
    // overwrites timings with validated minima, and ship the pair for
    // every suspect query in bench_full (stdout stays counts-only)
    val firstPass: Map[String, Double] =
      timings.view.filterKeys(suspect.contains).toMap
    def probeCleanNow(): Boolean = {
      val c = canaryProbe(); val cio = canaryIoProbe()
      val csc = canarySchedProbe()
      canaries += c; canariesIo += cio; canariesSched += csc
      c <= cpuThreshold && cio <= ioThreshold && csc <= schedThreshold
    }
    var pass = 0
    while (suspect.exists(timings.contains) && pass < 3) {
      pass += 1
      // cool-down (r12 VERDICT #7): burning a re-run pass against LIVE
      // contention just re-records poisoned numbers and exhausts the
      // pass budget — wait (bounded) for a clean probe window first.
      // BENCH_r12 re-measured 125 queries mid-contention and still
      // closed dirty; ninety seconds of patience is cheaper.
      var cool = 0
      while (!probeCleanNow() && cool < 6) {
        cool += 1
        System.err.println(s"[bench] window contended — cool-down $cool/6 (15 s)")
        Thread.sleep(15000)
      }
      val pending = toRun.filter { case (n, _) =>
        suspect.contains(n) && timings.contains(n) }
      System.err.println(s"[bench] re-run pass $pass: ${pending.size} suspect queries")
      pending.grouped(5).foreach { chunk =>
        val beforeClean = probeCleanNow()
        val fresh = chunk.flatMap { case (name, fn) =>
          val (ok, sec) = runOne(name, fn)
          if (ok) { timings(name) = math.min(timings(name), sec); Some(name) }
          else None
        }
        val afterClean = probeCleanNow()
        // a chunk clears only when BOTH its bounding probes were clean
        // AND the query actually got a fresh measurement — a re-run
        // that threw still carries its contended first-pass number
        if (beforeClean && afterClean) {
          fresh.foreach { n => remeasured += n; suspect -= n }
        }
      }
    }
    val unvalidated = suspect.toSeq

    val results = timings.toSeq
    val total = results.map(_._2).sum
    // the artifact's own authority verdict (r12 VERDICT #7): BENCH_r12
    // closed the round on a record with a 7.84 s IO canary and 125/215
    // remeasured, and nothing in the artifact SAID it was poisoned —
    // the judge had to reconstruct that from the canary arrays. The
    // gate makes the verdict explicit and machine-readable; a
    // non-authoritative record names its reasons so the round re-runs
    // instead of shipping it.
    val slowProbes = canaries.indices.count(probeSlowFinal)
    val (authoritative, gateReasons) = Bench.authorityGate(
      probesSlow = slowProbes, probes = canaries.size,
      unvalidated = unvalidated.size, remeasured = remeasured.size,
      queries = toRun.size)
    if (!authoritative)
      System.err.println(
        s"[bench] NON-AUTHORITATIVE record: ${gateReasons.mkString("; ")}")
    // first-pass canary interval per query (interval k is bounded by
    // probes k-1 and k in the canaries arrays) — lets a reader join any
    // timing to the contention state it was measured under
    val intervalOf: Seq[(String, Int)] = intervalQueries.zipWithIndex
      .flatMap { case (qs, k0) => qs.map(_ -> (k0 + 1)) }.toSeq
    Files.createDirectories(Paths.get("target"))
    // bench_full.json: timings nested under their own key — failures and
    // run metadata live beside, never inside, the measurement map
    // (r6 ADVICE: -1.0 sentinels mixed into the map skewed naive sums).
    // Written BOTH to target/ and to the repo root: the root copy is the
    // git-TRACKED per-round record (r9 VERDICT #1/#2 — the only full
    // artifact of r9's run lived untracked in target/ after the stdout
    // line truncated; a judge must be able to diff per-query walls
    // across rounds from committed files alone).
    // the artifact's own drift analysis (r11 VERDICT #7): ratio
    // distribution vs the newest tracked BENCH_FULL_r<N>.json (or
    // SPARK_GRAFT_BENCH_PREV). env_factor != 1 with no outliers reads
    // "environment drift"; a named outlier is a regression to chase.
    // The newest tracked snapshot may be THIS round's own (the builder
    // commits BENCH_FULL_r<N>.json mid-round) — comparing against it
    // reports env_factor ~1.0 and masks exactly the cross-round drift
    // this block watches (r12 ADVICE). The in-progress round is
    // (max CORRECTNESS_r<N>) + 1 — the driver cuts CORRECTNESS at round
    // END — so only snapshots from COMPLETED rounds are candidates.
    val prevArtifact: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_PREV")
      .orElse {
        val files = Option(new java.io.File(".").listFiles()).toSeq.flatten
        def roundsOf(rx: scala.util.matching.Regex): Seq[Int] =
          files.flatMap(f => f.getName match {
            case rx(n) => Some(n.toInt); case _ => None
          })
        val doneRounds = roundsOf("""CORRECTNESS_r(\d+)\.json""".r)
        val benchRounds = roundsOf("""BENCH_FULL_r(\d+)\.json""".r).sorted
        // no CORRECTNESS files visible (e.g. run from another cwd): the
        // in-progress round can't be inferred, and defaulting to
        // Int.MaxValue would readmit the current round's own snapshot as
        // the baseline — exactly the env_factor~1.0 self-compare this
        // block exists to avoid (r13 ADVICE). Drop the highest-numbered
        // snapshot instead: it is the one most likely to be ours.
        val candidates =
          if (doneRounds.isEmpty) benchRounds.dropRight(1)
          else benchRounds.filter(_ < doneRounds.max + 1)
        candidates.lastOption.map(n => s"BENCH_FULL_r$n.json")
      }
    val compareBlock = prevArtifact.flatMap { p =>
      val c = scala.util.Try(
        graft.tools.BenchCompare.comparisonJson(p, results.toMap)).toOption.flatten
      c.foreach(_ => System.err.println(s"[bench] compare block computed vs $p"))
      c.map(j => s""""compare":$j,""")
    }.getOrElse("")
    val fullJson =
      (s"""{"timings":${jsonMap(results)},$compareBlock""" +
        s""""authoritative":$authoritative,""" +
        s""""gate_reasons":${jsonArr(gateReasons)},""" +
        s""""failed":${jsonArr(failed.toSeq)},""" +
        s""""suspect":${jsonArr(unvalidated)},""" +
        s""""unvalidated":${jsonArr(unvalidated)},""" +
        s""""remeasured":${jsonArr(remeasured.toSeq)},""" +
        s""""first_pass":${jsonMap(firstPass.toSeq.sortBy(_._1))},""" +
        s""""intervals":${intervalOf.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")},""" +
        s""""canaries_sec":${jsonNums(canaries.toSeq)},""" +
        s""""canaries_io_sec":${jsonNums(canariesIo.toSeq)},""" +
        s""""canaries_sched_sec":${jsonNums(canariesSched.toSeq)},""" +
        s""""warmup_sec":$warmupSec,${Stamp.jsonFields}}""")
    Files.write(Paths.get("target/bench_full.json"),
      fullJson.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get("BENCH_FULL.json"),
      fullJson.getBytes(StandardCharsets.UTF_8))
    val head = results.filter(r => headline.contains(r._1))
    println(stdoutLine(total, head, results.size, failed.toSeq,
      unvalidated.size, remeasured.size, canaries.toSeq, canariesIo.toSeq,
      warmupSec, sfDir, authoritative, canariesSched.toSeq))
    if (core.FsUtil.failedDeletes > 0)
      System.err.println(s"[bench] WARNING: ${core.FsUtil.failedDeletes} fixture-trash " +
        "entries under java.io.tmpdir/.graft_trash could not be deleted")
    spark.stop()
  }

  /** The record's authority verdict, as a PURE function so
    * BenchReportSpec can pin the gate (r12 VERDICT #7). A record is
    * authoritative unless:
    *   - any query never got a clean measurement window (`unvalidated`
    *     survivors after the bounded re-run passes);
    *   - the canary trail violated its floors at more than
    *     max(2, probes/4) probes — the whole window was contended, not
    *     one passing spike;
    *   - more than half the suite required re-measurement — the first
    *     pass was so poisoned that even clean-bracketed minima carry
    *     elevated risk (BENCH_r12: 125/215).
    * Reasons are returned for the artifact; an empty list means
    * authoritative. */
  def authorityGate(probesSlow: Int, probes: Int, unvalidated: Int,
                    remeasured: Int, queries: Int): (Boolean, Seq[String]) = {
    val reasons = Seq(
      if (unvalidated > 0)
        Some(s"$unvalidated queries never got a clean measurement window")
      else None,
      if (probesSlow > math.max(2, probes / 4))
        Some(s"canary floors violated at $probesSlow/$probes probes")
      else None,
      if (queries > 0 && remeasured + unvalidated > queries / 2)
        Some(s"first pass poisoned: ${remeasured + unvalidated}/$queries " +
          "queries required re-measurement")
      else None).flatten
    (reasons.isEmpty, reasons)
  }

  def jsonMap(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
  def jsonArr(ss: Seq[String]): String =
    ss.map("\"" + _ + "\"").mkString("[", ",", "]")
  def jsonNums(ds: Seq[Double]): String = ds.map(fmt).mkString("[", ",", "]")
  // Locale.ROOT: the f-interpolator delegates to the DEFAULT locale,
  // and a comma-decimal locale would emit invalid JSON
  def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** The driver-parsed stdout line. The line must survive the driver's
    * ~2.5 KB tail buffer UNDER ANY RUN CONDITION: BENCH_r01/r02 lost
    * their rounds to over-long lines, r8's caps fixed the clean case,
    * and BENCH_r09 (`parsed: null`) proved the CONTENDED case — 75
    * suspects + 75 remeasured at cap + two 40-entry canary arrays —
    * still outgrew the buffer exactly when the artifact mattered most.
    * So: every unbounded set ships as a COUNT (suspect_n/remeasured_n/
    * unvalidated_n/failed_n) plus canary min/max summaries; the full
    * lists live in bench_full.json (committed as BENCH_FULL.json).
    * Only `failed` keeps names (capped at 3 — a failure is a red alert
    * worth naming). BenchReportSpec pins the WORST-CASE line length. */
  def stdoutLine(total: Double, head: Seq[(String, Double)], queriesRun: Int,
                 failedNames: Seq[String], unvalidatedN: Int, remeasuredN: Int,
                 canaries: Seq[Double], canariesIo: Seq[Double],
                 warmupSec: Double, sfDir: String,
                 authoritative: Boolean = true,
                 canariesSched: Seq[Double] = Seq(0.0)): String = {
    def capped(ss: Seq[String], n: Int): Seq[String] =
      if (ss.size <= n) ss else ss.take(n) :+ s"+${ss.size - n}"
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${jsonMap(head)},"queries_run":$queriesRun,""" +
      s""""authoritative":$authoritative,""" +
      s""""failed":${jsonArr(capped(failedNames, 3))},"failed_n":${failedNames.size},""" +
      s""""unvalidated_n":$unvalidatedN,"remeasured_n":$remeasuredN,""" +
      s""""probes_n":${canaries.size},""" +
      s""""canary_cpu_min":${fmt(canaries.min)},"canary_cpu_max":${fmt(canaries.max)},""" +
      s""""canary_io_min":${fmt(canariesIo.min)},"canary_io_max":${fmt(canariesIo.max)},""" +
      s""""canary_sched_min":${fmt(canariesSched.min)},"canary_sched_max":${fmt(canariesSched.max)},""" +
      s""""warmup_sec":${fmt(warmupSec)},${Stamp.jsonFields},"sf":"$sfDir"}"""
  }
}
