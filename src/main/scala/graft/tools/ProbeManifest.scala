package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** Manifest driver-memory/latency scale probe (r10 VERDICT #6): the one
  * remaining 100×-scale driver-side cost is the manifest itself — the
  * per-dir maps (dirs, stats, dvs) live on the driver, and commit-time
  * work touches them. This probe synthesizes tables of 10^3 / 10^4 /
  * 10^5 tiny dirs (hard-linked clones of 32 real parquet files, so the
  * filesystem cost is dir entries, not bytes) and measures, per N:
  *   - attach     one commit attaching all N dirs (footer stats collect
  *                + manifest encode + link) — the cold-build worst case
  *   - coldRead   a NEW store process materializing the manifest
  *   - heapMB     retained driver heap of the held Snapshot (GC-fenced
  *                delta), plus the on-disk manifest record size
  *   - prune      pruneCount over a point predicate — the O(N)
  *                driver-side stats walk every filtered scan pays
  *   - append     one more tiny commit ON TOP of the N-dir manifest —
  *                must stay flat (delta record), not O(N)
  *   - plan1      building + executing limit(1) over the N-dir scan
  *                (driver file-listing + task launch floor); plan1b =
  *                same with the listing-job task count capped at 256
  *   - catScan    point-predicate count through the DSv2 catalog —
  *                stats prune runs BEFORE any listing/opening, the
  *                designated scale path
  * The scaling VERDICT is the shape of each column across the three
  * rows: attach/coldRead/prune/plan1 may grow ~linearly (they are
  * O(dirs) by design); append must not. Run:
  *   sbt "runMain graft.tools.ProbeManifest [maxN]"
  */
object ProbeManifest {
  def main(args: Array[String]): Unit = {
    val maxN = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Session.local(32)
    spark.range(1000000).selectExpr("sum(id)").collect(): Unit // warm

    def heapUsed(): Long = {
      System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
      Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    }
    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    println("[manifest]        N   attach  coldRead   heapMB  recordMB    prune   append    plan1  plan1b  catScan")
    Seq(1000, 10000, 100000).filter(_ <= maxN).foreach { n =>
      val root = Files.createTempDirectory(s"probemanifest$n").toString
      val ts = new graft.core.TableStore(spark, root)
      // 32 real template files with DISJOINT id ranges (one job), so
      // per-dir min/max stats differ and the prune has real work to do
      val tmpl = Files.createTempDirectory("pm_tmpl")
      spark.range(0, 32L * 100, 1, 32)
        .select(col("id"), concat(lit("v"), col("id")).as("v"))
        .sortWithinPartitions("id")
        .write.mode("overwrite").parquet(tmpl.toString)
      val parts: Seq[Path] = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.list(tmpl))(_.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString))
      }
      ts.create("t", spark.range(1).select(col("id"),
        concat(lit("v"), col("id")).as("v")))                       // v0
      // batch dir with N hard-linked leaf dirs (attachBucketedDirs's
      // layout: <batch>/__b=<k>/) — built directly on the filesystem;
      // only dir entries and links, no data bytes
      val batch = "b000000001-probe"
      val batchPath = ts.dataRoot("t").resolve(batch)
      var k = 0
      while (k < n) {
        val leaf = batchPath.resolve(s"__b=$k")
        Files.createDirectories(leaf)
        Files.createLink(leaf.resolve("part-0.parquet"), parts(k % parts.size))
        k += 1
      }
      val tA = System.nanoTime()
      ts.attachBucketedDirs("t", batch, replace = true)             // v1
      val attach = sec(tA)

      // cold manifest materialization in a "new process"
      val tC = System.nanoTime()
      val ts2 = new graft.core.TableStore(spark, root)
      val snap = ts2.snapshot("t")
      val coldRead = sec(tC)
      require(snap.dirs.size == n, s"expected $n dirs, got ${snap.dirs.size}")

      // retained heap of the held snapshot: build a SECOND independent
      // copy (fresh store, cache cleared) between two GC fences
      val before = heapUsed()
      val ts3 = new graft.core.TableStore(spark, root)
      val held = ts3.snapshot("t")
      val heapMb = (heapUsed() - before) / 1e6
      val recordMb = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(Files.list(
          java.nio.file.Paths.get(root).resolve("t").resolve("_v")))(
          _.iterator().asScala.map(Files.size).sum) / 1e6
      }

      val tP = System.nanoTime()
      val (hit, total) = ts.pruneCount("t", col("id") === 1234L)
      val prune = sec(tP)
      require(total == n && hit < n, s"prune $hit/$total")

      val tApp = System.nanoTime()
      ts.append("t", spark.range(1).select(col("id"),
        concat(lit("v"), col("id")).as("v")))                       // v2
      val append = sec(tApp)

      val tPlan = System.nanoTime()
      val one = ts.read("t").limit(1).collect()
      val plan1 = sec(tPlan)
      require(one.nonEmpty)

      // plan1 A/B: the wall above is dominated by Spark's parallel
      // file-listing JOB — min(paths, parallelPartitionDiscovery
      // .parallelism=10000 default) tasks, i.e. one near-empty task per
      // dir. Capping the task count amortizes dirs per task; on a real
      // cluster 256 tasks is still fully parallel across executors.
      spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism", "256")
      val tPlanB = System.nanoTime()
      val oneB = ts.read("t").limit(1).collect()
      val plan1b = sec(tPlanB)
      require(oneB.nonEmpty)
      spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.parallelism")

      // the engine's OWN scan path: DSv2 catalog plan (per-dir listing +
      // stats prune before any file opens) with a point predicate —
      // what a filtered query on the 10^5-dir table actually pays
      spark.conf.set(s"spark.sql.catalog.pm$n", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.pm$n.root", root)
      val tCat = System.nanoTime()
      val catRows = spark.table(s"pm$n.t").filter(col("id") === 1234L).count()
      val catScan = sec(tCat)
      require(catRows >= 1L, s"catalog point scan found $catRows")

      println(f"[manifest] $n%8d ${attach}%8.2f ${coldRead}%9.2f " +
        f"${heapMb}%8.1f ${recordMb}%9.1f ${prune}%8.3f ${append}%8.3f " +
        f"${plan1}%8.2f ${plan1b}%8.2f ${catScan}%8.2f")
      require(held.dirs.size == n) // keep `held` live across the GC fence
      graft.core.FsUtil.deleteRecursively(new java.io.File(root))
      graft.core.FsUtil.deleteRecursively(tmpl.toFile)
    }
    spark.stop()
  }
}
