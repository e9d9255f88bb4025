package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.core.TableStore

/** DSv2 write path: INSERT INTO (append) and INSERT OVERWRITE
  * (truncate+append) over TableStore. Executors write zstd Parquet
  * files through Spark's Parquet writer ([[GraftParquetOut]]) into a
  * fresh `data/sq<uuid>` dir; the driver's
  * commit attaches that dir to the manifest in one atomic version bump —
  * a failed/aborted write leaves an orphan dir that no manifest
  * references (invisible to readers, GC-able), so the commit protocol
  * matches the store's snapshot semantics.
  */
/** V2 `Predicate` -> Column, for the REPLACE WHERE write path: Spark
  * hands the parsed replace condition to [[SupportsOverwriteV2]] as
  * connector predicates (general scalar expressions — `k % 10 = 3`
  * included, which the v1 Filter bridge cannot carry). Spark's own
  * [[V2ExpressionSQLBuilder]] renders them back to SQL text (with
  * identifiers re-quoted for Spark's parser) and `expr()` re-parses —
  * name/type resolution then happens where the Column is used, against
  * the table's schema. Driver-side only. */
private[sources] object GraftReplaceFilter {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.expr
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** Epoch micros → 'yyyy-MM-dd HH:mm:ss.SSSSSS' UTC wall-clock text.
    * Explicit full-width pattern: LocalDateTime.toString drops :00
    * seconds, and '...06:30+00:00' is not a parseable typed literal. */
  private def microsToWall(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd HH:mm:ss.SSSSSS"))

  private object SqlBuilder
      extends org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder {
    override def visitNamedReference(ref: NamedReference): String =
      ref.fieldNames.map(n => "`" + n.replace("`", "``") + "`").mkString(".")
    // date/time literals arrive as their INTERNAL encodings (epoch days
    // / micros); the default rendering emits the bare number, which
    // expr() happily parses as an int — the predicate then either fails
    // analysis late or, under lenient coercion, silently matches
    // nothing. Emit typed ANSI literals instead (replaceWhere over a
    // date region is the single most common use of this path).
    override def visitLiteral(
        l: org.apache.spark.sql.connector.expressions.Literal[_]): String =
      l.dataType match {
        case org.apache.spark.sql.types.DateType =>
          s"DATE'${java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong)}'"
        case org.apache.spark.sql.types.TimestampType =>
          // TimestampType micros are an INSTANT: emit a zone-qualified
          // literal so expr()'s re-parse under any session timezone
          // denotes the same instant — a zone-less TIMESTAMP'...' built
          // from the UTC wall clock shifts the replaced region by the
          // session-zone offset (r8 ADVICE)
          s"TIMESTAMP'${microsToWall(l.value.asInstanceOf[Long])}+00:00'"
        case org.apache.spark.sql.types.TimestampNTZType =>
          // NTZ micros are a WALL CLOCK: a plain TIMESTAMP'...' would
          // re-parse as session-zoned and implicitly cast — keep it NTZ
          s"TIMESTAMP_NTZ'${microsToWall(l.value.asInstanceOf[Long])}'"
        case _ => super.visitLiteral(l)
      }
  }

  def toColumn(p: Predicate): Column = expr(SqlBuilder.build(p))

  def translatable(p: Predicate): Boolean =
    try { toColumn(p); true }
    catch { case scala.util.control.NonFatal(_) => false }
}

class GraftWriteBuilder(root: String, table: String, schema: StructType,
                        replaceAll: Boolean = false,
                        replacedDirs: () => Option[Set[String]] = () => None,
                        queryId: String = "",
                        bucketing: Option[(Seq[String], Int)] = None,
                        colmap: Map[String, String] = Map.empty,
                        scanVersion: () => Long = () => -1L)
    extends WriteBuilder with SupportsOverwriteV2 {

  /** COLUMN MAPPING: parquet files carry PHYSICAL names. Incoming rows
    * are positional, so the file writers just get the renamed schema
    * (and bucket keys, which they resolve by fieldIndex against it);
    * the requested DISTRIBUTION stays logical — Spark resolves it
    * against the query plan. */
  private def phys(n: String): String = colmap.getOrElse(n, n)
  private val physSchema: StructType =
    if (colmap.isEmpty) schema else StructType(schema.map(f => f.copy(name = phys(f.name))))

  private var replace = replaceAll
  // REPLACE WHERE condition (SQL `INSERT INTO ... REPLACE WHERE` /
  // `DataFrameWriterV2.overwrite(cond)`): all-AlwaysTrue degenerates to
  // a plain truncate, anything else becomes the store's one-commit
  // predicate-scoped region replacement
  private var replaceWhere: Option[org.apache.spark.sql.Column] = None
  override def truncate(): WriteBuilder = { replace = true; this }
  override def canOverwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    predicates.forall(GraftReplaceFilter.translatable)
  override def overwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : WriteBuilder = {
    if (predicates.isEmpty || predicates.forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions.filter.AlwaysTrue]))
      replace = true
    else replaceWhere =
      Some(predicates.map(GraftReplaceFilter.toColumn).reduce(_ && _))
    this
  }

  /** Plain INSERTs into a bucketed table keep the bucketed layout:
    * executors route each row to its `__b=<k>` leaf, and the write
    * REQUESTS clustering by the catalog's `bucket` v2 function, so
    * same-bucket rows co-locate and the batch lands as ~n files instead
    * of tasks x buckets. No partition count is requested: like the
    * store's own bucketed writes, adaptive execution coalesces small
    * buckets into few write tasks. Row-level rewrites
    * keep the unbucketed replacement path (their group filter already
    * did the pruning). Correctness never depends on the distribution —
    * routing is per-row — the clustering only shapes file counts. */
  private def bucketedInsert = bucketing.filter(_ => !replaceAll)

  override def build(): Write = new Write
      with RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
    override def requiredDistribution(): Distribution = bucketedInsert match {
      case Some((keys, n)) =>
        Distributions.clustered(Array(Expressions.bucket(n, keys: _*)))
      case None => Distributions.unspecified()
    }
    override def requiredOrdering(): Array[SortOrder] = Array.empty
    override def toBatch: BatchWrite =
      new GraftBatchWrite(root, table, physSchema, replace, rowLevel = replaceAll,
        replacedDirs, bucketing = bucketedInsert.map { case (ks, n) => (ks.map(phys), n) },
        scanVersion = scanVersion, replaceWhere = replaceWhere)
    // `replace` reaches the streaming write: Spark negotiates COMPLETE
    // output mode through SupportsTruncate.truncate(), so ignoring it
    // here would silently APPEND every recomputed aggregate epoch.
    // Bucketed tables route per-row exactly like batch INSERTs — one
    // streamed epoch must not demote the table off its layout.
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(root, table, physSchema, queryId,
        replaceAll = replace,
        bucketing = bucketing.map { case (ks, n) => (ks.map(phys), n) })
  }
}

/** Streaming sink (`df.writeStream.toTable("graft.t")`, append mode):
  * executors write each epoch's rows as loose parquet files under a
  * scratch dir and report the paths; the driver's epoch commit moves
  * them into a batch dir and commits it atomically WITH the advanced
  * per-query epoch watermark ([[TableStore.attachStreamEpoch]]) —
  * re-delivered epochs are dropped, giving exactly-once end to end. */
class GraftStreamingWrite(root: String, table: String, schema: StructType,
                          queryId: String,
                          replaceAll: Boolean = false,
                          bucketing: Option[(Seq[String], Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val scratch = Paths.get(root, table, ".stream-scratch")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(scratch.toString, GraftParquet.prepare(schema), bucketing)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap {
      case GraftFileMessage(p) => Seq(Paths.get(p))
      case GraftFilesMessage(ps) => ps.map(Paths.get(_))
      case _ => Seq.empty
    }
    new TableStore(SparkSession.active, root)
      .attachStreamEpoch(table, queryId, epochId, files.toSeq,
        replaceAll = replaceAll): Unit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftFileMessage(p) => Files.deleteIfExists(Paths.get(p)): Unit
      case GraftFilesMessage(ps) =>
        ps.foreach(p => Files.deleteIfExists(Paths.get(p)): Unit)
      case _ => ()
    }
}

/** Commit message carrying the task's written file (streaming path). */
case class GraftFileMessage(path: String) extends WriterCommitMessage

/** Commit message of a bucket-routing streaming task (one file per
  * bucket seen, each under its `__b=<k>/` parent). */
case class GraftFilesMessage(paths: Seq[String]) extends WriterCommitMessage

/** Executor-side factory for streaming epochs (serializable — carries
  * only the scratch path, the prepared writer, and bucket layout). */
class GraftStreamingWriterFactory(scratch: String, out: GraftParquetOut,
                                  bucketing: Option[(Seq[String], Int)] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    val base = s"$scratch/e$epochId-p$partitionId-t$taskId-" +
      java.util.UUID.randomUUID.toString.take(8)
    bucketing match {
      case Some((keys, n)) =>
        new GraftBucketedStreamWriter(base, out, keys, n, partitionId, taskId)
      case None =>
        new GraftDataWriter(base + ".parquet", out, rowLevel = false, reportFile = true)
    }
  }
}

/** Bucket-routing streaming writer: each row lands in a per-bucket file
  * under a `__b=<k>/` parent, which [[TableStore.attachStreamEpoch]]
  * maps to manifest bucket-leaf dirs — streaming into a bucketed table
  * KEEPS its layout (SPJ scans, key-driven merge pruning) instead of
  * silently demoting it to unbucketed until the next full compact. */
class GraftBucketedStreamWriter(baseDir: String, out: GraftParquetOut,
                                keys: Seq[String], n: Int,
                                partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val keyFields = GraftBucketHash.keyFields(out.schema, keys)
  private val open = scala.collection.mutable.HashMap[Int, (String, GraftDataWriter)]()

  override def write(row: InternalRow): Unit = {
    val b = GraftBucketHash.bucketOf(row, keyFields, 0, n)
    open.getOrElseUpdate(b, {
      // task-unique filename like the batch twin: attachStreamEpoch
      // moves files keyed by (bucket leaf, filename), so if anything
      // defeats the requested clustered distribution and two tasks of
      // one epoch write the same bucket, a shared part-0.parquet name
      // would collide at epoch commit and kill the query (r8 ADVICE)
      val p = s"$baseDir/__b=$b/part-$partitionId-$taskId.parquet"
      (p, new GraftDataWriter(p, out, rowLevel = false))
    })._2.write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_._2.commit())
    GraftFilesMessage(open.values.map(_._1).toSeq)
  }
  override def abort(): Unit = open.values.foreach(_._2.abort())
  override def close(): Unit = open.values.foreach(_._2.close())
}

/** The engine's bucket function — pmod(murmur3(keys, seed 42), n),
  * EXACTLY [[TableStore]]'s `Bucketing.expr` and the catalog's `bucket`
  * v2 function — shared by every per-row routing writer. */
private[sources] object GraftBucketHash {
  def keyFields(schema: StructType, keys: Seq[String])
      : Array[(Int, org.apache.spark.sql.types.DataType)] =
    keys.map { k =>
      val i = schema.fieldIndex(k)
      (i, schema.fields(i).dataType)
    }.toArray

  def bucketOf(row: InternalRow,
               keyFields: Array[(Int, org.apache.spark.sql.types.DataType)],
               off: Int, n: Int): Int = {
    var h = 42L // hash() seed, chained across columns like Murmur3Hash
    var i = 0
    while (i < keyFields.length) {
      val (idx, dt) = keyFields(i)
      if (!row.isNullAt(off + idx))
        h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
          .hash(row.get(off + idx, dt), dt, h)
      i += 1
    }
    val b = h.toInt % n
    if (b < 0) b + n else b
  }
}

class GraftBatchWrite(root: String, table: String, schema: StructType,
                      replace: Boolean, rowLevel: Boolean,
                      replacedDirs: () => Option[Set[String]] = () => None,
                      bucketing: Option[(Seq[String], Int)] = None,
                      scanVersion: () => Long = () => -1L,
                      replaceWhere: Option[org.apache.spark.sql.Column] = None)
    extends BatchWrite {
  private val batchDir = "sq" + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(Paths.get(root, table, "data", batchDir).toString,
      GraftParquet.prepare(schema), rowLevel, bucketing)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = new TableStore(SparkSession.active, root)
    val wrote = messages.nonEmpty &&
      Files.isDirectory(Paths.get(root, table, "data", batchDir))
    if (wrote || replace || replaceWhere.isDefined) {
      // an all-empty write still needs the dir for the manifest entry
      if (!wrote) Files.createDirectories(Paths.get(root, table, "data", batchDir))
      // REPLACE WHERE: one-commit predicate-scoped region replacement
      // (region contract + CHECKs validated against the staged files
      // before any metadata changes; bucket leaves become manifest dirs)
      replaceWhere match {
        case Some(cond) =>
          store.attachDirWhere(table, batchDir, cond)
          return
        case None => ()
      }
      (replacedDirs(), bucketing) match {
        // group-based row-level op: the runtime group filter proved the
        // operation touched only these dirs — replace them, carry the
        // rest. Commit pins at the version the operation's SCAN read
        // (the replacement rows were rebuilt from that snapshot), so a
        // rival mutation landing mid-operation conflicts loudly instead
        // of having its tombstones/compaction silently overwritten.
        case (Some(removed), _) =>
          store.replaceDirs(table, removed, batchDir, scanVersion())
        // bucketed INSERT: the writers routed rows into __b=<k> leaves —
        // commit them as manifest leaf dirs, preserving the layout
        case (None, Some(_)) => store.attachBucketedDirs(table, batchDir, replace)
        // row-level fallback (runtime filter never fired) rebuilds the
        // WHOLE table from its scan — same scan-version pin applies
        case (None, None) => store.attachDir(table, batchDir, replace,
          if (rowLevel) scanVersion() else -1L)
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    graft.core.FsUtil.deleteRecursively(Paths.get(root, table, "data", batchDir).toFile)
}

class GraftDataWriterFactory(dirPath: String, out: GraftParquetOut,
                             rowLevel: Boolean,
                             bucketing: Option[(Seq[String], Int)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketing match {
      case Some((keys, n)) =>
        new GraftBucketedDataWriter(dirPath, out, keys, n, partitionId, taskId)
      case None =>
        new GraftDataWriter(s"$dirPath/part-$partitionId-$taskId.parquet", out, rowLevel)
    }
}

/** Routes each row to its hash bucket's `__b=<k>` leaf, one lazily
  * opened parquet file per bucket seen by this task. The bucket id is
  * pmod(murmur3(keys, seed 42), n) — EXACTLY [[TableStore]]'s
  * `Bucketing.expr` and the catalog's `bucket` v2 function, so routed
  * leaves always agree with the layout merges and SPJ scans assume.
  * With the write's requested clustering each task sees one bucket
  * (or a few), so the batch lands as ~n files total. */
class GraftBucketedDataWriter(dirPath: String, out: GraftParquetOut,
                              keys: Seq[String], n: Int,
                              partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val keyFields = GraftBucketHash.keyFields(out.schema, keys)
  private val open = scala.collection.mutable.HashMap[Int, GraftDataWriter]()

  override def write(row: InternalRow): Unit = {
    val b = GraftBucketHash.bucketOf(row, keyFields, 0, n)
    open.getOrElseUpdate(b, new GraftDataWriter(
      s"$dirPath/__b=$b/part-$partitionId-$taskId.parquet", out,
      rowLevel = false)).write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach(_.commit())
    new WriterCommitMessage {}
  }
  override def abort(): Unit = open.values.foreach(_.abort())
  override def close(): Unit = open.values.foreach(_.close())
}

/** Spark's Parquet writer for one schema, prepared once on the driver:
  * the `OutputWriterFactory` that `ParquetUtils.prepareWrite` returns
  * (the call Spark's own `ParquetFileFormat.prepareWrite` makes) and the
  * Hadoop conf it filled in, which travel to the executors inside the
  * writer factories. */
final class GraftParquetOut(val schema: StructType, factory: OutputWriterFactory,
                            conf: SerializableConfiguration) extends Serializable {
  // one per deserialized copy, shared by the task's files like Spark's
  // own writers share theirs
  @transient private lazy val ctx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

  def open(file: String): OutputWriter = factory.newInstance(file, schema, ctx)
}

object GraftParquet {
  /** Prepare `schema`'s writer under the session's SQL and Hadoop confs
    * (so the store's `file:` system reaches these writes too), with
    * INT64-micros timestamps (the columnar reader reads no INT96) and
    * the store's codec. */
  def prepare(schema: StructType): GraftParquetOut = {
    val spark = SparkSession.active
    val sqlConf = spark.sessionState.conf.clone()
    sqlConf.setConfString("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map("compression" -> TableStore.ParquetCodec), sqlConf))
    new GraftParquetOut(schema, factory, new SerializableConfiguration(job.getConfiguration))
  }
}

class GraftDataWriter(file: String, out: GraftParquetOut, rowLevel: Boolean,
                      reportFile: Boolean = false)
    extends DataWriter[InternalRow] {

  Files.createDirectories(Paths.get(file).getParent)
  private val width = out.schema.length
  private val writer = out.open(file)
  /** A row-level row's data columns, past its leading marker column. */
  private lazy val dataOf = UnsafeProjection.create(out.schema.fields.toSeq.zipWithIndex
    .map { case (f, i) => BoundReference(i + 1, f.dataType, nullable = true) })

  override def write(row: InternalRow): Unit = {
    // group-based row-level operations (SQL UPDATE / MERGE INTO) prepend
    // an internal bookkeeping column to the replacement rows while
    // LogicalWriteInfo still reports the data schema; the data columns
    // sit at the END of the row, so align by trailing offset. The layout
    // is asserted per write kind so a Spark version changing the
    // ReplaceData row shape fails loudly instead of silently writing
    // values from the wrong positions:
    //  - plain INSERT writes carry EXACTLY the data columns (off == 0);
    //  - Spark 4.x group-based ReplaceData prepends at most the one
    //    internal row-operation marker (off <= 1).
    val off = row.numFields - width
    if (rowLevel)
      require(off == 0 || off == 1,
        s"unexpected ReplaceData row layout: ${row.numFields} fields for " +
          s"$width columns (expected 0 or 1 leading metadata cols)")
    else
      require(off == 0,
        s"INSERT row has ${row.numFields} fields for $width columns")
    writer.write(if (off == 0) row else dataOf(row))
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (reportFile) GraftFileMessage(file) else new WriterCommitMessage {}
  }

  override def abort(): Unit = {
    writer.close()
    Files.deleteIfExists(Paths.get(file)): Unit
  }

  override def close(): Unit = ()
}

// ---- MERGE-ON-READ (delta-based) SQL row-level writes ----

/** Per-task commit message of a delta write: the task's staged
  * tombstone file (if it recorded deletes) and inserted-row data files. */
case class GraftDeltaMessage(deleteFile: Option[String], insertFiles: Seq[String])
    extends WriterCommitMessage

/** The write half of a [[SupportsDelta]] row-level operation: rows
  * arrive as per-row DELETE (rowId only) / INSERT (full row) actions —
  * updates are delete+reinsert (`representUpdateAsDeleteAndInsert`).
  * Deletes stage as (relpath, pos) parquet, inserts as data files
  * carrying PHYSICAL column names; [[TableStore.commitDelta]] fuses
  * both into one manifest version (DV sidecars + one attached dir). */
class GraftDeltaWriteBuilder(root: String, table: String, schema: StructType,
                             colmap: Map[String, String] = Map.empty,
                             bucketing: Option[(Seq[String], Int)] = None)
    extends DeltaWriteBuilder {
  private def phys(n: String) = colmap.getOrElse(n, n)
  private val physSchema: StructType =
    if (colmap.isEmpty) schema
    else StructType(schema.map(f => f.copy(name = phys(f.name))))
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite =
      new GraftDeltaBatchWrite(root, table, physSchema,
        bucketing.map { case (ks, n) => (ks.map(phys), n) })
  }
}

class GraftDeltaBatchWrite(root: String, table: String, physSchema: StructType,
                           bucketing: Option[(Seq[String], Int)] = None)
    extends DeltaBatchWrite {
  private val scratch = Paths.get(root, table, "data",
    ".delta-" + java.util.UUID.randomUUID.toString.replace("-", "").take(16))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(scratch.toString, GraftParquet.prepare(physSchema),
      GraftParquet.prepare(TableStore.TombstoneSchema), bucketing)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: GraftDeltaMessage => m }
    val store = new TableStore(SparkSession.active, root)
    try store.commitDelta(table,
      ms.flatMap(_.deleteFile).map(Paths.get(_)).toSeq,
      ms.flatMap(_.insertFiles).map(Paths.get(_)).toSeq)
    finally graft.core.FsUtil.deleteRecursively(scratch.toFile)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    graft.core.FsUtil.deleteRecursively(scratch.toFile)
}

class GraftDeltaWriterFactory(scratch: String, ins: GraftParquetOut, del: GraftParquetOut,
                              bucketing: Option[(Seq[String], Int)] = None)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(scratch, ins, del, bucketing, partitionId, taskId)
}

/** Executor side: tombstones buffer to a (relpath, pos) parquet,
  * inserted rows stream through a plain [[GraftDataWriter]]. The id
  * row carries the operation's rowId = (`_file`, `_pos`). */
class GraftDeltaWriter(scratch: String, ins: GraftParquetOut, del: GraftParquetOut,
                       bucketing: Option[(Seq[String], Int)],
                       partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var delWriter: GraftDataWriter = _
  private def delFile = s"$scratch/del-$partitionId-$taskId.parquet"
  // unbucketed tables stream inserts to one file; bucketed tables route
  // each row to its __b=<k> leaf so the table KEEPS its layout through
  // merge-on-read merges (per-row routing, like GraftBucketedDataWriter,
  // but offset-aware: delta rows may carry one leading marker column)
  private var insWriter: GraftDataWriter = _
  private def insFile = s"$scratch/ins-$partitionId-$taskId.parquet"
  private val insByBucket = scala.collection.mutable.HashMap[Int, GraftDataWriter]()
  private val keyFields =
    GraftBucketHash.keyFields(ins.schema, bucketing.map(_._1).getOrElse(Seq.empty))

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    require(id.numFields == 2,
      s"delta rowId row has ${id.numFields} fields (expected (_file, _pos))")
    val rel = TableStore.relpath(id.getUTF8String(0).toString)
    val pos = id.getLong(1)
    if (delWriter == null) delWriter = new GraftDataWriter(delFile, del, rowLevel = false)
    delWriter.write(InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(rel), pos))
  }

  override def insert(row: InternalRow): Unit = bucketing match {
    case Some((_, n)) =>
      val off = row.numFields - ins.schema.length
      val b = GraftBucketHash.bucketOf(row, keyFields, off, n)
      insByBucket.getOrElseUpdate(b, new GraftDataWriter(
        s"$scratch/ins/__b=$b/part-$partitionId-$taskId.parquet", ins,
        rowLevel = true)).write(row)
    case None =>
      if (insWriter == null) insWriter = new GraftDataWriter(insFile, ins, rowLevel = true)
      insWriter.write(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates arrive as delete+reinsert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) delWriter.commit()
    if (insWriter != null) insWriter.commit()
    insByBucket.values.foreach(_.commit())
    val bucketFiles = insByBucket.map { case (b, _) =>
      s"$scratch/ins/__b=$b/part-$partitionId-$taskId.parquet" }.toSeq
    GraftDeltaMessage(Option(delWriter).map(_ => delFile),
      Option(insWriter).map(_ => insFile).toSeq ++ bucketFiles)
  }

  override def abort(): Unit = {
    if (delWriter != null) delWriter.abort()
    if (insWriter != null) insWriter.abort()
    insByBucket.values.foreach(_.abort())
  }

  override def close(): Unit = ()
}
