package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableStore

/** Column mapping (the Delta column-mapping model): RENAME / DROP
  * COLUMN are metadata-only commits — files keep stable PHYSICAL
  * column names, the manifest maps logical names onto them, and no
  * data is rewritten at any scale. */
class ColumnMappingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def fresh(): TableStore =
    new TableStore(spark, Files.createTempDirectory("cmstore").toString)

  test("renameColumn is metadata-only; old and new files read as one") {
    val ts = fresh()
    ts.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    ts.append("t", Seq((10L, "c")).toDF("id", "v"))
    val dirsBefore = ts.liveDirs("t")
    ts.renameColumn("t", "v", "val")
    assert(ts.liveDirs("t") === dirsBefore) // no dir rewritten
    assert(ts.schemaOf("t").fieldNames.toSeq === Seq("id", "val"))
    val got = ts.read("t").select("id", "val").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "b", 10L -> "c"))
    // writes after the rename store the ORIGINAL physical name; both
    // file generations read back under the new logical name
    ts.append("t", Seq((20L, "d")).toDF("id", "val"))
    assert(ts.read("t").filter(col("val") === "d").count() === 1)
    // time travel: the pre-rename version still speaks the old name
    assert(ts.readVersion("t", 1).schema.fieldNames.toSeq === Seq("id", "v"))
    assert(ts.readVersion("t", 1).count() === 3)
  }

  test("stats pruning works through a rename: UPDATE rewrites only matching dirs") {
    val ts = fresh()
    ts.create("t", Seq((1L, "a", false), (2L, "b", false)).toDF("id", "v", "dead"))
    ts.append("t", Seq((10L, "c", false), (11L, "d", false)).toDF("id", "v", "dead"))
    ts.append("t", Seq((20L, "e", false), (21L, "f", false)).toDF("id", "v", "dead"))
    ts.renameColumn("t", "id", "entity_id")
    val before = ts.liveDirs("t")
    assert(before.size === 3)
    // predicate on the RENAMED column must still prune via manifest
    // stats (keys were renamed with the schema)
    ts.update("t", col("entity_id") === 10L, Map("dead" -> lit(true)))
    val after = ts.liveDirs("t")
    assert(before.toSet.intersect(after.toSet).size === 2) // 2 carried
    assert(ts.read("t").filter(col("dead")).count() === 1)
    // delete through the renamed column as well
    ts.delete("t", col("entity_id") === 20L)
    assert(ts.read("t").count() === 5)
  }

  test("rename on a bucketed table keeps the layout and merge pruning") {
    val ts = fresh()
    ts.createBucketed("t", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), 4)
    ts.renameColumn("t", "id", "key")
    assert(ts.bucketingOf("t").map(_.keys) === Some(Seq("key")))
    val before = ts.liveDirs("t")
    ts.mergeUpsert("t", Seq((7L, "V7"), (41L, "V41")).toDF("key", "v"),
      Seq("key"), changeTypeCol = None)
    val after = ts.liveDirs("t")
    assert(before.toSet.intersect(after.toSet).nonEmpty) // untouched buckets carried
    val got = ts.read("t").as[(Long, String)].collect().toMap
    assert(got(7L) === "V7" && got(41L) === "V41" && got(8L) === "v8")
  }

  test("dropColumn hides data; re-ADD of the same name never resurrects") {
    val ts = fresh()
    ts.create("t", Seq((1L, "secret1", 5L), (2L, "secret2", 6L))
      .toDF("id", "pii", "x"))
    val dirsBefore = ts.liveDirs("t")
    ts.dropColumn("t", "pii")
    assert(ts.liveDirs("t") === dirsBefore) // metadata-only
    assert(ts.schemaOf("t").fieldNames.toSeq === Seq("id", "x"))
    assert(!ts.read("t").columns.contains("pii"))
    // re-adding 'pii' maps to a FRESH physical name: old file values
    // must surface as NULL, not the dropped secrets
    ts.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pii",
        org.apache.spark.sql.types.StringType))))
    val got = ts.read("t").select("id", "pii").as[(Long, Option[String])]
      .collect().toMap
    assert(got === Map(1L -> None, 2L -> None))
    // and new writes to the re-added column round-trip
    ts.append("t", Seq((3L, 7L, "fresh")).toDF("id", "x", "pii"))
    assert(ts.read("t").filter(col("pii") === "fresh").count() === 1)
  }

  test("rename/drop refused while CHECK constraints or layout reference the column") {
    val ts = fresh()
    ts.createBucketed("t", Seq((1L, 10L)).toDF("id", "amt"), Seq("id"), 2)
    ts.addCheckConstraint("t", "pos_amt", "amt >= 0")
    intercept[IllegalArgumentException](ts.renameColumn("t", "amt", "amount"))
    intercept[IllegalArgumentException](ts.dropColumn("t", "amt"))
    intercept[IllegalArgumentException](ts.dropColumn("t", "id")) // bucketing key
    ts.dropCheckConstraint("t", "pos_amt")
    ts.renameColumn("t", "amt", "amount") // now allowed
    assert(ts.schemaOf("t").fieldNames.contains("amount"))
  }

  test("change feed across a rename surfaces rows under CURRENT names") {
    val ts = fresh()
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))      // v0
    ts.setChangeFeed("t", true)                          // v1
    ts.mergeUpsert("t", Seq((1L, "A"), (2L, "b")).toDF("id", "v"),
      Seq("id"), changeTypeCol = None)                   // v2 (recorded, old names)
    ts.renameColumn("t", "v", "val")                     // v3 (no logical change)
    ts.delete("t", col("id") === 2L)                     // v4 (recorded, new names)
    val ch = ts.readChangesBetween("t", 1, ts.currentVersion("t"))
      .select("id", "val", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(ch === Set(
      (1L, "a", "update_preimage", 2L), (1L, "A", "update_postimage", 2L),
      (2L, "b", "insert", 2L), (2L, "b", "delete", 4L)))
  }

  test("SQL path: ALTER TABLE RENAME/DROP COLUMN, pushdown, DML through the mapping") {
    val root = Files.createTempDirectory("cmsql").toString
    spark.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcm.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", (1L to 100L).map(i => (i, i % 10, s"v$i")).toDF("id", "x", "v"))
    spark.sql("ALTER TABLE gcm.t RENAME COLUMN id TO entity_id")
    // scan + filter pushdown through the mapping (files still say 'id')
    assert(spark.sql("SELECT entity_id FROM gcm.t WHERE entity_id <= 10")
      .collect().map(_.getLong(0)).sorted.toSeq === (1L to 10L))
    // metadata-only aggregate over renamed stats keys
    assert(spark.sql("SELECT max(entity_id) FROM gcm.t").head().getLong(0) === 100L)
    // INSERT writes the ORIGINAL physical name; reads compose
    spark.sql("INSERT INTO gcm.t VALUES (200, 0, 'new')")
    assert(spark.sql("SELECT count(*) FROM gcm.t WHERE entity_id = 200")
      .head().getLong(0) === 1L)
    // SQL UPDATE (row-level op) through the mapping
    spark.sql("UPDATE gcm.t SET v = 'X' WHERE entity_id = 7")
    assert(spark.sql("SELECT v FROM gcm.t WHERE entity_id = 7").head().getString(0) === "X")
    // DROP COLUMN hides the data; SELECT * no longer carries it
    spark.sql("ALTER TABLE gcm.t DROP COLUMN x")
    assert(!spark.table("gcm.t").columns.contains("x"))
    assert(spark.sql("SELECT count(*) FROM gcm.t").head().getLong(0) === 101L)
  }

  test("SQL changes table and streaming CDF read through a rename") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("cmcdf").toString
    spark.conf.set("spark.sql.catalog.gcmc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmc.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))      // v0
    ts.setChangeFeed("t", true)                          // v1
    ts.mergeUpsert("t", Seq((1L, "A"), (2L, "b")).toDF("id", "v"),
      Seq("id"), changeTypeCol = None)                   // v2 (old names in _cdf)
    ts.renameColumn("t", "v", "val")                     // v3
    ts.delete("t", col("id") === 2L)                     // v4 (new names in _cdf)
    val expect = Set((1L, "a", "update_preimage"), (1L, "A", "update_postimage"),
      (2L, "b", "insert"), (2L, "b", "delete"))
    val lib = ts.readChangesBetween("t", 1, 4)
      .select("id", "val", "_change_type").as[(Long, String, String)].collect().toSet
    assert(lib === expect)
    val sql = spark.read.option("startVersion", "1").table("gcmc.t.changes")
      .select("id", "val", "_change_type").as[(Long, String, String)].collect().toSet
    assert(sql === expect)
    val q = spark.readStream.option("startVersion", "1").table("gcmc.t.changes")
      .writeStream.format("memory").queryName("cm_cdf_mem")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("cm_cdf_mem").select("id", "val", "_change_type")
      .as[(Long, String, String)].collect().toSet === expect)
  }

  test("rename SWAP: two columns exchange names; data never moves") {
    val ts = fresh()
    ts.create("t", Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "x", "y"))
    ts.renameColumn("t", "x", "tmp")
    ts.renameColumn("t", "y", "x")
    ts.renameColumn("t", "tmp", "y")
    // x now reads the OLD y values and vice versa
    val got = ts.read("t").select("id", "x", "y").as[(Long, Long, Long)]
      .collect().map { case (i, a, b) => i -> ((a, b)) }.toMap
    assert(got(1L) === ((100L, 10L)) && got(2L) === ((200L, 20L)))
    // writes after the swap route each logical column to its ORIGINAL
    // physical name; mixed generations agree
    ts.append("t", Seq((3L, 300L, 30L)).toDF("id", "x", "y"))
    val got2 = ts.read("t").select("id", "x", "y").as[(Long, Long, Long)]
      .collect().map { case (i, a, b) => i -> ((a, b)) }.toMap
    assert(got2(3L) === ((300L, 30L)))
    // stats-pruned update through the swapped names stays sound
    ts.update("t", col("x") === 300L, Map("y" -> lit(0L)))
    assert(ts.read("t").filter(col("y") === 0L && col("x") === 300L).count() === 1)
  }

  test("read-option time travel: versionAsOf composes with renames") {
    val root = Files.createTempDirectory("cmtt").toString
    spark.conf.set("spark.sql.catalog.gtt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtt.root", root)
    val ts = new TableStore(spark, root)
    ts.create("t", Seq((1L, "a")).toDF("id", "v"))   // v0
    ts.append("t", Seq((2L, "b")).toDF("id", "v"))   // v1
    ts.renameColumn("t", "v", "val")                  // v2
    ts.append("t", Seq((3L, "c")).toDF("id", "val")) // v3
    // Spark routes the option through catalog time travel
    // (loadTable(ident, version)): the pinned snapshot presents ITS OWN
    // schema — the pre-rename version still speaks the old name
    val v1 = spark.read.option("versionAsOf", "1").table("gtt.t")
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(v1 === Set((1L, "a"), (2L, "b")))
    assert(spark.read.option("versionAsOf", "0").table("gtt.t").count() === 1)
    assert(spark.read.table("gtt.t").count() === 3)
    // the .history metadata table lists all four versions, zero files read
    val hist = spark.sql("SELECT version, n_dirs FROM gtt.t.history")
      .as[(Long, Int)].collect().toMap
    assert(hist.keySet === Set(0L, 1L, 2L, 3L))
    assert(hist(1L) === 2 && hist(2L) === 2 && hist(3L) === 3)
  }

  test("deletion vectors and merge-on-read update compose with a rename") {
    val ts = fresh()
    ts.create("t", (1L to 30L).map(i => (i, i * 2)).toDF("id", "x"))
    ts.renameColumn("t", "x", "y")
    ts.deleteVectorized("t", col("y") === 20L)           // id 10
    ts.updateVectorized("t", col("id") === 1L, Map("y" -> lit(0L)))
    val got = ts.read("t").as[(Long, Long)].collect().toMap
    assert(got.size === 29 && got(1L) === 0L && !got.contains(10L))
    ts.compact("t")
    assert(ts.read("t").count() === 29)
    // post-compact files were written under the ORIGINAL physical name
    // and still read back through the mapping
    assert(ts.read("t").filter(col("y") === 0L).count() === 1)
  }
}
