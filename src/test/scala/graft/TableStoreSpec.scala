package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

class TableStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("tablestore").toString)

  test("optimized write: small commits land few files, large estimates keep parallelism") {
    val ts = freshStore()
    def filesOf(name: String): Int =
      ts.snapshot(name).files(ts, name).size
    // a tiny batch spread over 32 partitions folds to ONE file
    ts.create("small", (1L to 1000L).map(i => (i, i)).toDF("k", "x").repartition(32))
    assert(filesOf("small") === 1, "small write should emit one sized file")
    // with a tiny per-file target the same batch keeps many files —
    // the sizing follows the estimate, it is not a blanket coalesce(1)
    spark.conf.set("graft.write.targetFileBytes", "1024")
    try {
      ts.create("wide", (1L to 100000L).map(i => (i, i)).toDF("k", "x").repartition(32))
      assert(filesOf("wide") > 8, "large estimate must keep write parallelism")
    } finally spark.conf.unset("graft.write.targetFileBytes")
  }

  test("create/read/overwrite preserves schema and swaps atomically") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(ts.read("t").count() === 2)
    assert(ts.currentVersion("t") === 0)
    // overwrite with extra column: conform drops nothing, requires cols
    ts.overwrite("t", Seq((3, "c")).toDF("id", "v")) // int id cast to long by conform
    assert(ts.read("t").as[(Long, String)].collect().toSet === Set((3L, "c")))
    assert(ts.currentVersion("t") === 1)
    // old version still readable (time travel)
    assert(ts.readVersion("t", 0).count() === 2)
  }

  test("append is incremental and conforms types") {
    val ts = freshStore()
    ts.create("t", Seq((1L, 1.5)).toDF("id", "x"))
    ts.append("t", Seq((2, 2)).toDF("id", "x"))
    assert(ts.read("t").count() === 2)
    assert(ts.read("t").schema("x").dataType.typeName === "double")
  }

  test("mergeUpsert: matched rows updated, new rows inserted, others kept") {
    val ts = freshStore()
    ts.create("t", Seq(
      (1L, "old1", "INSERT"), (2L, "old2", "INSERT")).toDF("id", "v", "delta_change_type"))
    val source = Seq((2L, "new2", "x"), (3L, "new3", "x")).toDF("id", "v", "delta_change_type")
    ts.mergeUpsert("t", source, Seq("id"),
      matchedChangeType = "UPDATE", insertChangeType = "INSERT")
    val got = ts.read("t").as[(Long, String, String)].collect().toSet
    assert(got === Set(
      (1L, "old1", "INSERT"),   // untouched
      (2L, "new2", "UPDATE"),   // matched -> updated
      (3L, "new3", "INSERT")))  // not matched -> inserted
  }

  test("mergeUpsert is idempotent (reference idempotence scenario)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a", "INSERT")).toDF("id", "v", "delta_change_type"))
    val src = Seq((1L, "b", "x"), (2L, "c", "x")).toDF("id", "v", "delta_change_type")
    ts.mergeUpsert("t", src, Seq("id"))
    val first = ts.read("t").collect().map(_.toSeq).toSet
    ts.mergeUpsert("t", src, Seq("id"))
    assert(ts.read("t").collect().map(_.toSeq).toSet === first)
  }

  test("mergeUpsert on composite key (bronze M1)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, 10L, "v1")).toDF("id", "ver", "v"))
    ts.mergeUpsert("t", Seq((1L, 20L, "v2")).toDF("id", "ver", "v"),
      Seq("id", "ver"), changeTypeCol = None)
    // different version = new row, audit-trail semantics
    assert(ts.read("t").count() === 2)
  }

  test("mergeUpsert rejects non-unique source (M6)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    val dup = Seq((1L, "x"), (1L, "y")).toDF("id", "v")
    assertThrows[IllegalArgumentException] {
      ts.mergeUpsert("t", dup, Seq("id"), changeTypeCol = None)
    }
  }

  test("mergeDelete removes exactly the keyed rows (M3)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    ts.mergeDelete("t", Seq(Tuple1(2L), Tuple1(2L)).toDF("id"), Seq("id"))
    assert(ts.read("t").select("id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("a precomputed bucket gate over Int keys prunes a BIGINT-keyed merge soundly") {
    val ts = freshStore()
    ts.createBucketed("t", (1L to 64L).map(i => (i, s"old$i")).toDF("id", "v"),
      Seq("id"), 8)
    // the caller's gate frame types the key as INT: Spark's hash() is
    // type-sensitive, so hashing it as-is names other buckets than the
    // table's BIGINT layout does
    val src = (1 to 16).map(i => (i, s"new$i")).toDF("id", "v")
    val (fp, gate) = ts.mergeBucketGate("t", Seq("id")).get
    val ids = src.agg(gate).collect()(0).getSeq[Int](0).toSet
    ts.mergeUpsert("t", src, Seq("id"), changeTypeCol = None,
      verifyUniqueSource = false, precomputedBuckets = Some((fp, ids)))
    val got = ts.read("t").as[(Long, String)].collect()
    assert(got.length === 64, "every matched key must update in place, not duplicate")
    assert(got.toMap === (1L to 64L).map(i =>
      i -> (if (i <= 16L) s"new$i" else s"old$i")).toMap)
  }

  test("update applies set-map only where condition holds (M5)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, false), (2L, false)).toDF("id", "is_deleted"))
    ts.update("t", col("id") === 2L, Map("is_deleted" -> lit(true)))
    val got = ts.read("t").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> false, 2L -> true))
  }

  test("delete keeps null-condition rows (SQL semantics)") {
    val ts = freshStore()
    ts.create("t", Seq((1L, Some(true)), (2L, None), (3L, Some(false)))
      .toDF("id", "flag"))
    ts.delete("t", col("flag"))
    assert(ts.read("t").select("id").as[Long].collect().toSet === Set(2L, 3L))
  }

  test("compact folds accumulated append dirs into one, preserving data") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    (2L to 5L).foreach(i => ts.append("t", Seq((i, "x" + i)).toDF("id", "v")))
    assert(ts.liveDirCount("t") === 5)
    val before = ts.read("t").collect().map(_.toSeq).toSet
    ts.compact("t", targetPartitions = 1)
    assert(ts.liveDirCount("t") === 1)
    assert(ts.read("t").collect().map(_.toSeq).toSet === before)
    // pre-compaction version still time-travels
    assert(ts.readVersion("t", 4).count() === 5)
  }

  test("bucketed merge rewrites only affected buckets, carries the rest") {
    val ts = freshStore()
    val base = (0L until 100L).map(i => (i, "v" + i)).toDF("id", "v")
    ts.createBucketed("t", base, Seq("id"), n = 8)
    val v0Dirs = ts.liveDirs("t")
    assert(v0Dirs.size === 8 && v0Dirs.forall(_.contains("/__b=")))
    // source touches two ids -> at most two buckets rewritten
    val src = Seq((7L, "UPDATED"), (200L, "INSERTED")).toDF("id", "v")
    ts.mergeUpsert("t", src, Seq("id"), changeTypeCol = None)
    val v1Dirs = ts.liveDirs("t")
    val carried = v1Dirs.toSet.intersect(v0Dirs.toSet)
    assert(carried.size >= 6, s"expected >=6 carried leaf dirs, got $carried")
    assert((v1Dirs.toSet -- v0Dirs.toSet).forall(_.startsWith("b000000001")))
    // content is a correct merge
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got.size === 101 && got(7L) === "UPDATED" && got(200L) === "INSERTED"
      && got(3L) === "v3")
    // bucket-pruned delete
    ts.mergeDelete("t", Seq(Tuple1(7L)).toDF("id"), Seq("id"))
    assert(ts.read("t").count() === 100)
    assert(ts.liveDirs("t").toSet.intersect(v0Dirs.toSet).size >= 6)
    // append adds leaves only for the buckets present in the new rows
    val before = ts.liveDirCount("t")
    ts.append("t", Seq((300L, "a")).toDF("id", "v"))
    assert(ts.liveDirCount("t") === before + 1)
    // compaction folds everything back to <= 8 leaf dirs, keeps bucketing
    ts.compact("t")
    assert(ts.liveDirCount("t") <= 8 && ts.liveDirs("t").forall(_.contains("/__b=")))
    assert(ts.bucketingOf("t").exists(b => b.keys == Seq("id") && b.n == 8))
    assert(ts.read("t").count() === 101)
  }

  test("createEmpty yields a zero-row table with the right schema") {
    val ts = freshStore()
    val schema = Seq((1L, "a")).toDF("id", "v").schema
    ts.createEmpty("t", schema)
    assert(ts.read("t").count() === 0)
    // stored schemas are always nullable (parquet can't enforce
    // non-nullability; a non-null declared schema would let codegen
    // read later-appended nulls as 0)
    assert(ts.read("t").schema ===
      org.apache.spark.sql.types.StructType(schema.map(_.copy(nullable = true))))
    ts.append("t", Seq((1L, "a")).toDF("id", "v"))
    assert(ts.read("t").count() === 1)
  }

  test("addColumns evolves the schema; old files read the column as NULL") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ts.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType))))
    // metadata-only: same data dirs, new schema, old rows -> NULL
    val got = ts.read("t").select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> None))
    // new writes carry the column; old rows stay NULL
    ts.append("t", Seq((3L, "c", Option(9.5))).toDF("id", "v", "score"))
    val got2 = ts.read("t").select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(got2 === Map(1L -> None, 2L -> None, 3L -> Some(9.5)))
    // duplicate / non-nullable additions are rejected loudly
    intercept[IllegalArgumentException] {
      ts.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    }
  }

  test("vacuum deletes data unreferenced by the retained versions") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))       // v0
    ts.append("t", Seq((2L, "b")).toDF("id", "v"))       // v1
    ts.overwrite("t", Seq((3L, "c")).toDF("id", "v"))    // v2: v0/v1 dirs dead
    val deleted = ts.vacuum("t", retainVersions = 1)
    assert(deleted.nonEmpty)
    // current version intact
    assert(ts.read("t").as[(Long, String)].collect().toSet === Set((3L, "c")))
    // old manifests are gone -> time travel beyond the window fails
    intercept[Exception] { ts.readVersion("t", 0).count() }
    // vacuum again is a no-op
    assert(ts.vacuum("t", retainVersions = 1).isEmpty)
  }

  test("vacuum spares fresh write scratch, sweeps crashed leftovers") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    val dataDir = ts.dataRoot("t")
    // a concurrent writer's staging dir: young -> untouchable
    val fresh = dataDir.resolve(".delta-inflight")
    java.nio.file.Files.createDirectories(fresh)
    // a crashed writer's leftover: old -> swept
    val stale = dataDir.resolve(".cdc-crashed")
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600L * 1000))
    ts.vacuum("t", retainVersions = 1)
    assert(java.nio.file.Files.isDirectory(fresh))
    assert(!java.nio.file.Files.exists(stale))
    assert(ts.read("t").count() === 1)
  }

  test("vacuum keeps live bucket leaves, drops superseded ones") {
    val ts = freshStore()
    ts.createBucketed("t", (0L until 100L).map(i => (i, "v" + i)).toDF("id", "v"),
      Seq("id"), n = 8)
    // touch ~2 buckets: their old leaves become dead, others stay live
    ts.mergeUpsert("t", Seq((7L, "U")).toDF("id", "v"), Seq("id"),
      changeTypeCol = None)
    val liveBefore = ts.liveDirs("t").toSet
    val deleted = ts.vacuum("t", retainVersions = 1)
    assert(deleted.nonEmpty) // the rewritten bucket's v0 leaf
    assert(ts.liveDirs("t").toSet === liveBefore)
    assert(ts.read("t").count() === 100)
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got(7L) === "U" && got(3L) === "v3")
  }

  test("a garbage manifest squatting the next slot fails loudly instead of losing a commit") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    // simulate a second writer that already committed version 1
    val ts2 = new TableStore(spark, ts.dataRoot("t").getParent.getParent.toString)
    ts2.append("t", Seq((2L, "b")).toDF("id", "v"))
    // the next manifest slot is squatted by an UNPARSEABLE file (a torn
    // legacy write, or external corruption). Hard-link publication
    // blocks every clobber attempt; the append's ghost-adoption path
    // tries to parse it, can't, and must refuse LOUDLY naming the file
    // (pre-r10 it silently burned 50 retries against the same slot
    // before giving up; a VALID squatter is now adopted instead — see
    // CrashRecoverySpec).
    val vDir = ts.dataRoot("t").getParent.resolve("_v")
    java.nio.file.Files.write(vDir.resolve("2.json"), "{}".getBytes)
    val e = intercept[IllegalStateException] {
      ts.append("t", Seq((3L, "c")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("unreadable manifest"))
    // the pre-existing manifest was not clobbered, pointer still at v1
    assert(ts.currentVersion("t") === 1)
    assert(ts.read("t").count() === 2)
  }

  test("compactWhere folds only matching dirs; compactSmall only small ones") {
    val ts = freshStore()
    ts.create("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))       // [1,10]
    ts.append("t", (100L to 110L).map(i => (i, s"v$i")).toDF("id", "v"))    // [100,110]
    ts.append("t", (101L to 105L).map(i => (i, s"u$i")).toDF("id", "v"))    // [101,105]
    ts.append("t", (200L to 5000L).map(i => (i, s"v$i")).toDF("id", "v"))   // big
    val before = ts.liveDirs("t")
    assert(before.size === 4)
    // predicate touches the two overlapping [100..] dirs only
    ts.compactWhere("t", col("id").between(100L, 110L))
    val after = ts.liveDirs("t")
    assert(after.size === 3)
    assert(after.toSet.intersect(before.toSet).size === 2) // dirs 1 + 4 carried
    assert(ts.read("t").count() === (10 + 11 + 5 + 4801))
    // small-file pass: the [1,10] dir and the folded dir are tiny, the
    // 4801-row dir is not — with a threshold between the two sizes only
    // the small ones fold. The line sits midway between the measured
    // sizes, so it holds under any codec.
    def dirBytes(d: String): Long = {
      val files = Files.list(ts.dataRoot("t").resolve(d))
      try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally files.close()
    }
    val big = dirBytes(before(3))
    val small = after.filterNot(_ == before(3)).map(dirBytes).max
    assert(small < big)
    val folded = ts.compactSmall("t", maxBytes = (small + big) / 2)
    assert(folded === 2)
    assert(ts.liveDirs("t").size === 2)
    assert(ts.read("t").count() === (10 + 11 + 5 + 4801))
    // bucketed tables keep their layout through compactSmall
    val ts2 = freshStore()
    ts2.createBucketed("b", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    ts2.append("b", Seq((41L, "v41")).toDF("id", "v"))
    ts2.compactSmall("b", maxBytes = Long.MaxValue)
    assert(ts2.liveDirs("b").forall(_.contains("/__b=")))
    assert(ts2.read("b").count() === 41)
  }

  test("update/delete rewrite only dirs whose stats might match; rest carried") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a", false), (2L, "b", false)).toDF("id", "v", "is_deleted"))
    ts.append("t", Seq((10L, "c", false), (11L, "d", false)).toDF("id", "v", "is_deleted"))
    ts.append("t", Seq((20L, "e", false), (21L, "f", false)).toDF("id", "v", "is_deleted"))
    val before = ts.liveDirs("t")
    assert(before.size === 3)
    // UPDATE touching only the middle dir ([10,11]): the other two dirs
    // must be carried byte-identical (same manifest entries), not rewritten
    ts.update("t", col("id") === 10L, Map("is_deleted" -> lit(true)))
    val afterUpdate = ts.liveDirs("t")
    assert(afterUpdate.toSet.intersect(before.toSet) === Set(before(0), before(2)))
    assert(afterUpdate.size === 3) // 2 carried + 1 rewritten
    assert(ts.read("t").filter(col("is_deleted")).select("id")
      .as[Long].collect().toSeq === Seq(10L))
    assert(ts.read("t").count() === 6)
    // DELETE touching only the [20,21] dir
    ts.delete("t", col("id") >= 20L)
    val afterDelete = ts.liveDirs("t")
    assert(!afterDelete.contains(before(2)))
    assert(afterDelete.toSet.intersect(afterUpdate.toSet).size === 2)
    assert(ts.read("t").count() === 4)
    // predicate no dir can match: stats prove a no-op, no version bump
    val v = ts.currentVersion("t")
    ts.delete("t", col("id") === 999L)
    assert(ts.currentVersion("t") === v)
  }

  test("appendEvolve widens the schema and aligns both row generations") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))
    // new column arrives: schema evolves, old rows read NULL
    ts.appendEvolve("t", Seq((2L, "b", 9.5)).toDF("id", "v", "score"))
    val got = ts.read("t").select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> Some(9.5)))
    // narrower-than-table input: missing column null-filled for new rows
    ts.appendEvolve("t", Seq((3L, "c")).toDF("id", "v"))
    assert(ts.read("t").filter(col("id") === 3L).select("score")
      .collect().head.isNullAt(0))
    assert(ts.read("t").count() === 3)
  }

  test("history lists committed versions with metadata-only row counts") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ts.append("t", Seq((3L, "c")).toDF("id", "v"))
    ts.overwrite("t", Seq((9L, "z")).toDF("id", "v"))
    val h = ts.history("t").orderBy("version")
      .select("version", "approx_rows").as[(Long, Option[Long])].collect().toSeq
    assert(h === Seq((0L, Some(2L)), (1L, Some(3L)), (2L, Some(1L))))
  }

  test("optimizeByRange clusters dirs so point predicates prune to one dir") {
    import org.apache.spark.sql.sources.EqualTo
    import graft.core.StatsPruning
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"v$i")).toDF("id", "v")
    val ts = freshStore()
    // interleaved appends: every dir spans [~1, ~99] so nothing prunes
    ts.create("t", rows(Seq(1L, 50L, 99L)))
    ts.append("t", rows(Seq(2L, 51L, 98L)))
    ts.append("t", rows(Seq(3L, 52L, 97L)))
    val m0 = ts.snapshot("t")
    // a mid-range key falls inside every dir's [min,max]: nothing prunes
    assert(StatsPruning.liveDirs(m0.dirs, m0.stats, m0.schema,
      Seq(EqualTo("id", 51L))).size === 3)
    ts.optimizeByRange("t", Seq("id"), 3)
    // ranges now disjoint per dir: the same point predicate reaches 1 dir
    val m1 = ts.snapshot("t")
    // range sampling on a tiny input may merge adjacent ranges — what
    // matters is that the surviving dirs are DISJOINT, so a point
    // predicate reaches exactly one
    assert(m1.dirs.size >= 2)
    assert(StatsPruning.liveDirs(m1.dirs, m1.stats, m1.schema,
      Seq(EqualTo("id", 51L))).size === 1)
    assert(ts.read("t").count() === 9)
    assert(ts.read("t").select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 50L, 51L, 52L, 97L, 98L, 99L))
    // and the pruned DELETE rewrites exactly that one dir
    ts.delete("t", col("id") === 51L)
    assert(ts.liveDirs("t").toSet.intersect(m1.dirs.toSet).size === m1.dirs.size - 1)
    assert(ts.read("t").count() === 8)
  }

  test("readAppendsBetween feeds incremental consumers; refuses non-append ranges") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))                   // v0
    ts.append("t", Seq((2L, "b"), (3L, "c")).toDF("id", "v"))        // v1
    ts.append("t", Seq((4L, "d")).toDF("id", "v"))                   // v2
    assert(ts.readAppendsBetween("t", 0, 2).select("id").as[Long]
      .collect().sorted === Array(2L, 3L, 4L))
    assert(ts.readAppendsBetween("t", 1, 2).select("id").as[Long]
      .collect().sorted === Array(4L))
    assert(ts.readAppendsBetween("t", 2, 2).count() === 0)
    ts.delete("t", col("id") === 2L)                                 // v3: rewrite
    intercept[IllegalStateException] { ts.readAppendsBetween("t", 0, 3) }
    // ranges after the rewrite are clean again
    ts.append("t", Seq((5L, "e")).toDF("id", "v"))                   // v4
    assert(ts.readAppendsBetween("t", 3, 4).select("id").as[Long]
      .collect().sorted === Array(5L))
  }

  test("restore rolls content back as a NEW version; history preserved") {
    val ts = freshStore()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))        // v0
    ts.append("t", Seq((3L, "c")).toDF("id", "v"))                   // v1
    ts.delete("t", col("id") === 1L)                                 // v2
    assert(ts.read("t").count() === 2)

    ts.restore("t", 0)                                               // v3 == v0
    assert(ts.currentVersion("t") === 3)
    assert(ts.read("t").select("id").as[Long].collect().sorted === Array(1L, 2L))
    // the pre-restore state is still one version back (restore of the
    // restore works too)
    assert(ts.readVersion("t", 2).count() === 2)
    ts.restore("t", 2)                                               // v4 == v2
    assert(ts.read("t").select("id").as[Long].collect().sorted === Array(2L, 3L))

    // a vacuumed version refuses to restore instead of resurrecting a
    // manifest whose data is gone
    ts.overwrite("t", Seq((9L, "z")).toDF("id", "v"))                // v5
    ts.vacuum("t", retainVersions = 1)
    intercept[IllegalArgumentException] { ts.restore("t", 0) }
  }

  test("auto-compaction folds accreted small appends when enabled") {
    val ts = freshStore()
    ts.create("ac", Seq((0L, "s")).toDF("k", "v"))
    (1L to 9L).foreach(i => ts.append("ac", Seq((i, s"v$i")).toDF("k", "v")))
    assert(ts.liveDirCount("ac") === 10, "off by default: dirs accrete")
    spark.conf.set("graft.autoCompact.enabled", "true")
    try {
      ts.append("ac", Seq((10L, "z")).toDF("k", "v"))
      assert(ts.liveDirCount("ac") === 1,
        "the 11th append crosses the threshold and folds the small dirs")
      assert(ts.read("ac").count() === 11)
      (11L to 13L).foreach(i => ts.append("ac", Seq((i, s"v$i")).toDF("k", "v")))
      assert(ts.liveDirCount("ac") === 4, "below threshold: no re-fold")
      assert(ts.read("ac").count() === 14)
    } finally spark.conf.unset("graft.autoCompact.enabled")
  }

  test("metadata-only DELETE drops fully-covered dirs with zero data I/O") {
    val ts = freshStore()
    ts.create("md", (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    ts.append("md", (100L until 200L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    ts.append("md", (200L until 300L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    val before = ts.liveDirs("md")
    // retention sweep fully covering the first two dirs: both DROP from
    // the manifest; the third is untouched — and NOTHING is rewritten
    ts.delete("md", col("k") < 200L)
    val after = ts.liveDirs("md")
    assert(after === Seq(before(2)), s"expected pure manifest drop, got $after")
    assert(ts.read("md").count() === 100)
    // time travel still sees the dropped dirs' rows (files untouched)
    assert(ts.readVersion("md", 2).count() === 300)
    // boundary predicate: one dir drops whole, the boundary dir rewrites
    val ts2 = freshStore()
    ts2.create("md2", (0L until 100L).map(i => (i, i)).toDF("k", "x").coalesce(1))
    ts2.append("md2", (100L until 200L).map(i => (i, i)).toDF("k", "x").coalesce(1))
    ts2.append("md2", (200L until 300L).map(i => (i, i)).toDF("k", "x").coalesce(1))
    val b2 = ts2.liveDirs("md2")
    ts2.delete("md2", col("k") < 150L)
    val a2 = ts2.liveDirs("md2")
    assert(!a2.contains(b2(0)), "first dir must drop whole")
    assert(a2.contains(b2(2)), "disjoint dir must carry")
    assert(!a2.contains(b2(1)), "boundary dir must be rewritten (new dir)")
    assert(ts2.read("md2").as[(Long, Long)].collect().map(_._1).toSet ===
      (150L until 300L).toSet)
  }

  test("metadata-only DELETE never fires on a WEAKENED translation: an " +
      "untranslatable conjunct nested under OR forces the rewrite path") {
    import org.apache.spark.sql.functions.length
    val ts = freshStore()
    // one dir, every row has k < 100 (stats would prove full coverage of
    // the translatable disjunct) but only SOME rows satisfy the
    // untranslatable length() conjunct
    ts.create("wk", Seq((1L, "abcdef"), (2L, "ab"), (3L, "x"))
      .toDF("k", "v").coalesce(1))
    // condition: (k < 100 AND length(v) > 3) OR k = 999
    // a partial translation would weaken it to (k < 100 OR k = 999),
    // "prove" the dir fully covered, and drop ALL THREE rows
    ts.delete("wk", (col("k") < 100L && length(col("v")) > 3) || col("k") === 999L)
    assert(ts.read("wk").as[(Long, String)].collect().toSet ===
      Set((2L, "ab"), (3L, "x")),
      "rows failing the untranslatable conjunct must survive")
  }

  test("appendEvolve matches existing columns case-insensitively") {
    val ts = freshStore()
    ts.create("ce", Seq((1L, "a")).toDF("id", "name"))
    // ID differs only in case from the table's id: it must resolve to
    // the existing column (Spark's default resolution), not error and
    // not spawn a duplicate column
    ts.appendEvolve("ce", Seq((2L, "b", 9L)).toDF("ID", "name", "extra"))
    assert(ts.read("ce").columns.toSeq === Seq("id", "name", "extra"))
    assert(ts.read("ce").as[(Long, String, Option[Long])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("append survives a failing auto-compaction (maintenance is " +
      "best-effort, never a spurious append failure)") {
    val ts = freshStore()
    ts.create("ac", Seq((1L, "a")).toDF("k", "v"))
    spark.conf.set("graft.autoCompact.enabled", "true")
    // a broken tunable makes the maintenance pass throw — the caller's
    // already-committed append must still report success (propagating
    // would invite a retry that lands the rows twice)
    spark.conf.set("graft.autoCompact.smallFileBytes", "not-a-number")
    try ts.append("ac", Seq((2L, "b")).toDF("k", "v"))
    finally {
      spark.conf.unset("graft.autoCompact.enabled")
      spark.conf.unset("graft.autoCompact.smallFileBytes")
    }
    assert(ts.read("ac").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }
}
