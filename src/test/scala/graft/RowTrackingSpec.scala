package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Row tracking (the Delta fresh-row-id model on the manifest): stable
  * per-row ids derived from per-file bases, preserved through
  * merge-on-read mutations (DV deletes move nothing; updateVectorized
  * postimages materialize their preimage id). */
class RowTrackingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def fresh(): TableStore =
    new TableStore(spark, Files.createTempDirectory("rowtrack").toString)

  test("ids are unique, dense per file, and stable across appends") {
    val ts = fresh()
    ts.create("t", (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    ts.enableRowTracking("t")
    val first = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(first.values.toSeq.distinct.size === 100)
    // an append mints NEW ids and never disturbs existing ones
    ts.append("t", (101L to 150L).map(i => (i, s"v$i")).toDF("k", "v"))
    val second = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(second.size === 150)
    assert(second.values.toSeq.distinct.size === 150)
    first.foreach { case (k, id) => assert(second(k) === id, s"id moved for k=$k") }
    // time travel reads the ids that version knew — same ids, fewer rows
    val atV1 = ts.readWithRowIds("t", ts.currentVersion("t") - 1)
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(atV1 === first)
  }

  test("DV delete and merge-on-read update preserve surviving row ids") {
    val ts = fresh()
    ts.create("t", (1L to 200L).map(i => (i, i * 10)).toDF("k", "x"))
    ts.enableRowTracking("t")
    val before = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    // DV delete: surviving rows keep their ids (no file moved)
    ts.deleteVectorized("t", col("k") % 10 === 0L)
    val afterDel = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(afterDel.size === 180)
    afterDel.foreach { case (k, id) => assert(before(k) === id) }
    // merge-on-read UPDATE: the postimage row carries the SAME id the
    // preimage had (materialized __rid beats the new file's base)
    ts.updateVectorized("t", col("k") % 7 === 0L, Map("x" -> (col("x") + 1L)))
    val afterUpd = ts.readWithRowIds("t")
      .select("k", "_row_id", "x").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(afterUpd.size === 180)
    afterUpd.foreach { case (k, (id, x)) =>
      assert(before(k) === id, s"id changed for k=$k")
      assert(x === (if (k % 7 == 0) k * 10 + 1 else k * 10))
    }
    // a SECOND update of already-rewritten rows still carries the id
    // (the carried __rid survives chains of rewrites)
    ts.updateVectorized("t", col("k") % 7 === 0L, Map("x" -> (col("x") + 1L)))
    val afterUpd2 = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    afterUpd2.foreach { case (k, id) => assert(before(k) === id) }
  }

  test("ids stay unique on bucketed tables through merges; watermark only grows") {
    val ts = fresh()
    ts.createBucketed("t", (1L to 64L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), 8)
    ts.enableRowTracking("t")
    val wm0 = ts.properties("t")("rowtracking.next").toLong
    assert(wm0 === 64L)
    val before = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    ts.mergeUpsert("t", Seq((1L, "V1"), (65L, "v65")).toDF("k", "v"),
      Seq("k"), changeTypeCol = None)
    val after = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(after.size === 65)
    assert(after.values.toSeq.distinct.size === 65)
    // the bucketed merge PRESERVES every pre-existing id (including the
    // matched row's) and mints a fresh one only for the insert
    before.foreach { case (k, id) => assert(after(k) === id, s"id moved for k=$k") }
    assert(after(65L) >= wm0)
    assert(ts.properties("t")("rowtracking.next").toLong > wm0)
  }

  test("SQL _metadata row id: SELECT _row_id matches readWithRowIds") {
    val root = Files.createTempDirectory("rowtracksql").toString
    spark.conf.set("spark.sql.catalog.grt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grt.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 100L).map(i => (i, i * 2)).toDF("k", "x"))
    ts.enableRowTracking("t")
    val lib = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val sql = spark.sql("SELECT k, _row_id FROM grt.t")
      .as[(Long, Long)].collect().toMap
    assert(sql === lib)
    // after a merge-on-read update, the SQL path reads the MATERIALIZED
    // id from the postimage file (and applies the DV on the old one)
    ts.updateVectorized("t", col("k") % 9 === 0L, Map("x" -> (col("x") + 1L)))
    val sql2 = spark.sql("SELECT k, _row_id FROM grt.t")
      .as[(Long, Long)].collect().toMap
    assert(sql2.size === 100)
    assert(sql2 === lib, "SQL _row_id drifted across a MoR update")
    // a table without tracking doesn't offer the column
    ts.create("u", Seq((1L, "a")).toDF("k", "v"))
    intercept[Exception](spark.sql("SELECT _row_id FROM grt.u").collect())
    // STREAMING surface: `<t>.rowids` carries the id as a REAL column
    // (DSv2 streaming scans never see metadata-column requests); each
    // micro-batch's files get their base from that batch's end snapshot
    ts.append("t", (101L to 120L).map(i => (i, i)).toDF("k", "x"))
    val q = spark.readStream.table("grt.t.rowids")
      .select("k", "_row_id")
      .writeStream.format("memory").queryName("rowtrack_stream_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("rowtrack_stream_mem")
      .as[(Long, Long)].collect().toMap
    val batchNow = spark.sql("SELECT k, _row_id FROM grt.t")
      .as[(Long, Long)].collect().toMap
    assert(streamed.size === 120)
    assert(streamed === batchNow, "streaming _row_id diverged from batch read")
    // the batch SQL surface of .rowids agrees with the metadata column
    val viaSuffix = spark.sql("SELECT k, _row_id FROM grt.t.rowids")
      .as[(Long, Long)].collect().toMap
    assert(viaSuffix === batchNow)
    // .rowids refuses when tracking is off
    intercept[Exception](spark.sql("SELECT * FROM grt.u.rowids").collect())
  }

  test("ids survive every rewrite: compact, optimize, CoW update/delete/merge") {
    val ts = fresh()
    ts.create("t", (1L to 300L).map(i => (i, i * 10)).toDF("k", "x"))
    ts.enableRowTracking("t")
    def ids(): Map[Long, Long] = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    // physical reorganizations change NOTHING logically
    ts.compact("t", targetPartitions = 2)
    assert(ids() === before, "compact moved row ids")
    ts.optimizeByRange("t", Seq("k"), nDirs = 4)
    assert(ids() === before, "optimizeByRange moved row ids")
    // copy-on-write UPDATE: rewritten rows keep their ids
    ts.update("t", col("k") % 7 === 0, Map("x" -> (col("x") + 1L)))
    assert(ids() === before, "CoW update moved row ids")
    // copy-on-write DELETE: survivors keep ids, no id reuse
    ts.delete("t", col("k") % 10 === 0)
    val afterDel = ids()
    assert(afterDel.size === 270)
    afterDel.foreach { case (k, id) => assert(before(k) === id) }
    // CoW MERGE: matched rows keep ids; inserted rows mint FRESH ids
    ts.mergeUpsert("t", Seq((3L, 999L), (1001L, 1L)).toDF("k", "x"),
      Seq("k"), changeTypeCol = None)
    val afterMerge = ids()
    assert(afterMerge(3L) === before(3L), "merge-matched row lost its id")
    assert(afterMerge.size === 271)
    assert(afterMerge.values.toSeq.distinct.size === 271, "duplicate ids after merge")
    assert(!before.values.toSet.contains(afterMerge(1001L)), "merge reused an id")
    // mergeUpdate (SCD2 close shape) keeps ids too
    ts.mergeUpdate("t", Seq(Tuple1(5L)).toDF("k"), Seq("k"),
      condition = lit(true), set = Map("x" -> lit(0L)))
    assert(ids()(5L) === before(5L), "mergeUpdate moved row ids")
    // compact after the mutations still preserves (mixed materialized +
    // derived ids resolve before the rewrite)
    ts.compact("t")
    assert(ids() === afterMerge ++ Map(5L -> before(5L)), "post-mutation compact moved ids")
  }

  test("CoW change rows carry ids when CDF is on (keyed replication keeps working)") {
    val ts = fresh()
    ts.create("t", (1L to 50L).map(i => (i, i * 2)).toDF("k", "x"))
    ts.enableRowTracking("t")
    ts.setChangeFeed("t", true)
    val before = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val v0 = ts.currentVersion("t")
    ts.update("t", col("k") <= 5, Map("x" -> lit(0L)))          // CoW update
    ts.delete("t", col("k") === 9L)                             // CoW delete
    ts.mergeUpsert("t", Seq((10L, 0L), (60L, 1L)).toDF("k", "x"),
      Seq("k"), changeTypeCol = None)                           // CoW merge
    val ch = ts.readChangesBetween("t", v0, ts.currentVersion("t"),
        withRowIds = true)
      .select("k", "_change_type", "_row_id")
      .as[(Long, String, Option[Long])].collect()
    // preimages/postimages/deletes carry the row's stable id
    ch.filter(r => r._2 != "insert").foreach { case (k, kind, rid) =>
      assert(rid === Some(before(k)), s"$kind row for k=$k lost its id")
    }
    // CoW-merge inserts can't know their commit-assigned id -> null
    val ins = ch.filter(_._2 == "insert")
    assert(ins.map(_._1).toSet === Set(60L))
    assert(ins.forall(_._3.isEmpty))
  }

  test("ids stay unique when an append loses the commit race and rebases") {
    val ts = fresh()
    ts.create("t", (1L to 20L).map(i => (i, i)).toDF("k", "x"))
    ts.enableRowTracking("t")
    val root = ts.dataRoot("t").getParent.getParent.toString
    val rival = new TableStore(spark, root)
    // a rival append lands between our manifest read and commit attempt:
    // the rebase must re-assign OUR files' bases from the WINNER's
    // advanced watermark, never from the manifest we started from
    var fired = false
    ts.onBeforeOptimisticCommit = () =>
      if (!fired) { fired = true
        rival.append("t", (21L to 40L).map(i => (i, i)).toDF("k", "x")) }
    try ts.append("t", (41L to 60L).map(i => (i, i)).toDF("k", "x"))
    finally ts.onBeforeOptimisticCommit = () => ()
    assert(fired)
    val ids = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect()
    assert(ids.length === 60)
    assert(ids.map(_._2).distinct.length === 60, "rebase duplicated row ids")
  }

  test("model fuzz: ids stable for survivors across random mutation chains") {
    for (seed <- 1L to 3L) {
      val troot = Files.createTempDirectory("rowtrackfuzz").toString
      val ts = new TableStore(spark, troot)
      val rnd = new scala.util.Random(seed)
      var nextKey = 201L
      ts.create("t", (1L to 200L).map(i => (i, i)).toDF("k", "x"))
      ts.enableRowTracking("t")
      def readAll(): Map[Long, (Long, Long)] = ts.readWithRowIds("t")
        .select("k", "x", "_row_id").as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      var model: Map[Long, (Long, Long)] = readAll() // k -> (x, rid)
      var seen: Set[Long] = model.values.map(_._2).toSet
      def check(op: String): Unit = {
        val cur = readAll()
        assert(cur.keySet === model.keySet, s"seed=$seed after $op: key drift")
        model.foreach { case (k, (x, rid)) =>
          assert(cur(k)._1 === x, s"seed=$seed after $op: value drift k=$k")
          assert(cur(k)._2 === rid, s"seed=$seed after $op: id moved k=$k")
        }
      }
      def admitNew(op: String): Unit = {
        // fresh rows: adopt their ids; they must be genuinely new
        val cur = readAll()
        val fresh = cur.keySet -- model.keySet
        fresh.foreach { k =>
          val rid = cur(k)._2
          assert(!seen.contains(rid), s"seed=$seed after $op: id $rid reused")
          seen += rid
          model += k -> cur(k)
        }
        check(op)
      }
      for (step <- 1 to 14) rnd.nextInt(11) match {
        case 0 =>
          val rows = (nextKey until nextKey + 20).map(i => (i, i))
          nextKey += 20
          ts.append("t", rows.toDF("k", "x"))
          admitNew(s"append@$step")
        case 1 =>
          val m = rnd.nextInt(7) + 3
          ts.updateVectorized("t", col("k") % m === 0, Map("x" -> (col("x") + 1000L)))
          model = model.map { case (k, (x, rid)) =>
            k -> (if (k % m == 0) (x + 1000L, rid) else (x, rid)) }
          check(s"updateVectorized@$step")
        case 2 =>
          val cut = rnd.nextInt(40) + 1
          ts.deleteVectorized("t", col("k") % 50 === cut)
          model = model.filterNot { case (k, _) => k % 50 == cut }
          check(s"deleteVectorized@$step")
        case 3 =>
          val m = rnd.nextInt(7) + 3
          ts.update("t", col("k") % m === 1, Map("x" -> (col("x") - 7L)))
          model = model.map { case (k, (x, rid)) =>
            k -> (if (k % m == 1) (x - 7L, rid) else (x, rid)) }
          check(s"CoW update@$step")
        case 4 =>
          val cut = rnd.nextInt(40) + 1
          ts.delete("t", col("k") % 50 === cut && col("k") > 100L)
          model = model.filterNot { case (k, _) => k % 50 == cut && k > 100L }
          check(s"CoW delete@$step")
        case 5 =>
          // merge: update an existing slice, insert two new keys
          val existing = model.keySet.toSeq.sorted.take(5)
          val news = Seq(nextKey, nextKey + 1)
          nextKey += 2
          val src = (existing.map(k => (k, -k)) ++ news.map(k => (k, k)))
            .toDF("k", "x")
          ts.mergeUpsert("t", src, Seq("k"), changeTypeCol = None)
          model = model ++ existing.map(k => k -> (-k, model(k)._2))
          admitNew(s"mergeUpsert@$step")
        case 6 =>
          ts.compact("t", targetPartitions = rnd.nextInt(3) + 1)
          check(s"compact@$step")
        case 7 =>
          ts.optimizeByRange("t", Seq("k"), nDirs = rnd.nextInt(4) + 2)
          check(s"optimizeByRange@$step")
        case 8 =>
          // vacuum: content unchanged; exercises the manifest-log sweep
          // (checkpoint-at-oldest-retained, chain-safe deletes). A COLD
          // store must still resolve the head from disk afterwards.
          ts.vacuum("t", retainVersions = rnd.nextInt(3) + 1)
          check(s"vacuum@$step")
          val cold = new TableStore(spark, troot)
          assert(cold.readWithRowIds("t").count().toInt === model.size,
            s"seed=$seed vacuum@$step: cold resolution drift")
        case 9 =>
          // vary the delta-chain shape for every subsequent commit
          spark.conf.set("graft.manifest.checkpointInterval",
            (rnd.nextInt(12) + 1).toString)
          check(s"ckptInterval@$step")
        case 10 =>
          ts.optimizeIncrementalByRange("t", "k")
          check(s"optimizeIncremental@$step")
      }
      spark.conf.unset("graft.manifest.checkpointInterval")
    }
  }

  test("readWithRowIds refuses when tracking is off") {
    val ts = fresh()
    ts.create("t", Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](ts.readWithRowIds("t"))
    assert(e.getMessage.contains("row tracking"))
  }

  test("auto-compaction preserves row ids across the fold") {
    val ts = fresh()
    ts.create("t", (1L to 50L).map(i => (i, i)).toDF("k", "x"))
    ts.enableRowTracking("t")
    val before = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    spark.conf.set("graft.autoCompact.enabled", "true")
    spark.conf.set("graft.autoCompact.minSmallDirs", "4")
    try {
      (51L to 60L).foreach(i => ts.append("t", Seq((i, i)).toDF("k", "x")))
      assert(ts.liveDirCount("t") < 5, "appends should have auto-folded")
      val after = ts.readWithRowIds("t")
        .select("k", "_row_id").as[(Long, Long)].collect().toMap
      assert(after.size === 60)
      before.foreach { case (k, rid) =>
        assert(after(k) === rid, s"id moved for k=$k across auto-compaction")
      }
      assert(after.values.toSet.size === 60, "ids stay unique")
    } finally {
      spark.conf.unset("graft.autoCompact.enabled")
      spark.conf.unset("graft.autoCompact.minSmallDirs")
    }
  }

  test("alterColumnType preserves row ids (id-preserving retype rewrite)") {
    val ts = fresh()
    ts.create("t", (1L to 100L).map(i => (i, i.toInt)).toDF("k", "x"))
    ts.enableRowTracking("t")
    def ids(): Map[Long, Long] = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val before = ids()
    ts.alterColumnType("t", "x", org.apache.spark.sql.types.LongType)
    assert(ts.schemaOf("t")("x").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(ids() === before, "retype rewrite must keep every row's id")
  }

  test("restore never rewinds the row-id watermark or drops tracking") {
    val ts = fresh()
    ts.create("t", (1L to 10L).map(i => (i, i)).toDF("k", "x"))   // v0
    ts.enableRowTracking("t")                                     // v1
    def ids(): Map[Long, Long] = ts.readWithRowIds("t")
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val baseIds = ids()
    ts.append("t", Seq((100L, 100L)).toDF("k", "x"))              // v2
    val bId = ids()(100L)
    ts.restore("t", 1)                                            // v3
    // tracking still on; the surviving rows kept their ids
    assert(ids() === baseIds, "restore moved surviving row ids")
    ts.append("t", Seq((200L, 200L)).toDF("k", "x"))              // v4
    val cId = ids()(200L)
    assert(cId != bId && !baseIds.values.toSet.contains(cId),
      s"restore rewound the watermark: id $cId was already minted")
    // restore to BEFORE tracking was enabled: stays enabled, ids intact
    ts.restore("t", 0)
    assert(ids() === baseIds,
      "restore past the enablement point lost or moved ids")
  }

  test("readWithRowIds is one Graft scan with the SQL face's (row, _row_id) " +
      "set through a DV delete, an updateVectorized and a compaction") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = Files.createTempDirectory("rowtrackone").toString
    spark.conf.set("spark.sql.catalog.grto", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grto.root", root)
    val ts = new TableStore(spark, root)
    ts.createBucketed("t", (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), 4)
    ts.enableRowTracking("t")
    ts.append("t", (401L to 600L).map(i => (i, s"v$i")).toDF("k", "v"))
    def ids(): Set[(Long, String, Long)] = {
      val df = ts.readWithRowIds("t")
      val leaves = df.queryExecution.executedPlan.collectLeaves()
      assert(leaves.size === 1 && leaves.head.isInstanceOf[BatchScanExec],
        df.queryExecution.executedPlan)
      val lib = df.select("k", "v", "_row_id").as[(Long, String, Long)].collect().toSet
      assert(lib === spark.sql("SELECT k, v, _row_id FROM grto.t")
        .as[(Long, String, Long)].collect().toSet)
      lib
    }
    val created = ids()
    assert(created.map(_._3).size === 600)
    ts.deleteVectorized("t", col("k") % 10 === 0L)
    val deleted = ids()
    assert(deleted === created.filter(_._1 % 10 != 0))
    ts.updateVectorized("t", col("k") % 7 === 1L, Map("v" -> concat(col("v"), lit("u"))))
    val updated = ids()
    assert(updated === deleted.map { case (k, v, id) =>
      if (k % 7 == 1) (k, v + "u", id) else (k, v, id) })
    ts.compact("t")
    assert(ts.snapshot("t").dvs.isEmpty)
    assert(ids() === updated)
  }

  test("catalog _file/_pos/_row_id match Spark's file source and " +
      "readWithRowIds, with and without a mid-file OFFSET") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val root = Files.createTempDirectory("rowtrackdiff").toString
    spark.conf.set("spark.sql.catalog.grtd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grtd.root", root)
    val ts = new TableStore(spark, root)
    // one file written before tracking, INT `x` (widened below) and
    // more than two 4096-row batches long
    ts.create("t", (0L until 10000L).map(i => (i, i.toInt)).toDF("k", "x").coalesce(1))
    ts.enableRowTracking("t")
    val first = ts.liveDirs("t").head
    ts.alterColumnType("t", "x", LongType)
    assert(ts.liveDirs("t").head === first, "the widen must keep the INT file")
    ts.append("t", (10000L until 10100L).map(i => (i, i << 33)).toDF("k", "x"))
    // tombstones in both dirs, then merge-on-read postimages carrying
    // their preimage ids in `__rid`
    ts.deleteVectorized("t", col("k") % 5 === 0L)
    ts.updateVectorized("t", col("k") % 7 === 1L, Map("x" -> (col("x") + 1L)))
    val snap = ts.snapshot("t")
    assert(snap.dvs.contains(first))
    val files = snap.filesByDir(ts, "t").flatMap(_._2)
    val bases = ts.rowBaseByFile("t", snap.rowbase)

    type Row = (Long, Long, String, Long, Option[Long])
    def read(sql: String): Seq[Row] = {
      val df = spark.sql(sql)
      val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty && scans.forall(_.supportsColumnar), df.queryExecution.executedPlan)
      df.select("k", "x", "_file", "_pos", "_row_id")
        .as[(Long, Long, String, Long, Option[Long])].collect().toSeq
    }
    val all = read("SELECT *, _file, _pos, _row_id FROM grtd.t")

    // Spark's own file source: every physical row, tombstoned ones too,
    // keyed by (file, row index), with the materialized `__rid`
    val physical: Map[(String, Long), (Long, Long, Option[Long])] =
      spark.read.schema(StructType(Seq(StructField("k", LongType),
          StructField("x", LongType), StructField("__rid", LongType))))
        .parquet(files: _*)
        .select(col("k"), col("x"), col("__rid"),
          col("_metadata.file_path"), col("_metadata.row_index"))
        .as[(Long, Long, Option[Long], String, Long)].collect()
        .map(r => (new java.net.URI(r._4).getPath, r._5) -> ((r._1, r._2, r._3))).toMap
    assert(physical.values.exists(_._3.isDefined), "no postimage carries __rid")
    assert(all.map(r => (r._3, r._4)).distinct.size === all.size)
    all.foreach { case (k, x, f, pos, rid) =>
      val (pk, px, prid) = physical((f, pos))
      assert((k, x) === ((pk, px)), s"$f@$pos")
      assert(rid === prid.orElse(bases.get(f).map(_ + pos)), s"$f@$pos")
    }
    // readWithRowIds: the same live rows with the same ids
    val lib = ts.readWithRowIds("t").select("k", "x", "_row_id")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(all.map(r => (r._1, r._2, r._5)).sortBy(_._1) === lib.sortBy(_._1))

    // a mid-file OFFSET past the first batch of the DV'd first file
    val off = 5000
    val q = s"SELECT *, _file, _pos, _row_id FROM grtd.t OFFSET $off"
    assert(spark.sql(q).queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.description().contains(s"PushedOffset: $off"))
    val firstFile = snap.filesByDir(ts, "t").head._2.head
    val skipped = all.filter(_._3 == firstFile).sortBy(_._4).take(off).toSet
    assert(read(q).sortBy(r => (r._3, r._4)) ===
      all.filterNot(skipped).sortBy(r => (r._3, r._4)))

    // the no-base sentinel: a file read without a manifest base reports
    // its materialized `__rid`, else NULL, never a derived id
    val meta = StructType(Seq(StructField("k", LongType),
      StructField(graft.sources.GraftPosMeta.Name, LongType, nullable = false),
      StructField(graft.sources.GraftRowIdMeta.Name, LongType)))
    files.foreach { f =>
      val r = new graft.sources.GraftReaderFactory(meta, snap.schema, Array.empty)
        .createColumnarReader(graft.sources.GraftInputPartition(
          Seq(graft.sources.GraftFileRead(f))))
      val got = Seq.newBuilder[(Long, Option[Long])]
      try while (r.next()) r.get().rowIterator().forEachRemaining { row =>
        got += ((row.getLong(1), if (row.isNullAt(2)) None else Some(row.getLong(2))))
      } finally r.close()
      val rows = got.result()
      assert(rows.map(_._1) === rows.indices.map(_.toLong), f)
      rows.foreach { case (pos, rid) => assert(rid === physical((f, pos))._3, s"$f@$pos") }
    }
  }
}
