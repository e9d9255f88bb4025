package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one Parquet decoder: every catalog scan (table,
  * row-level, `.rowids`, `.changes`) and every deletion-vector sidecar
  * probe reads through it. Built on Spark's own
  * VectorizedParquetRecordReader — the same class behind
  * FileSourceScanExec's parquet scans — driven through the production
  * ParquetReadSupport schema-clipping path so:
  *   - decoding is columnar (no per-row boxed materialization),
  *   - columns a file predates (ALTER TABLE ADD COLUMN) come back as
  *     null vectors,
  *   - a pushed FilterPredicate does row-group statistics skipping,
  *   - `consts` (schema `constSchema`, a change file's kind and commit
  *     version) follow the data columns as constant vectors.
  * Each file opens under a copy of `hadoopConf`, the session's conf
  * that [[GraftReaderFactory]] broadcasts.
  *
  * `required` may also name the metadata columns, which never reach
  * the decoder: `_file` is one more per-file constant, `_pos` the
  * running file row index, and `_row_id` the file's materialized
  * `__rid` where non-null, else `rowIdBase + _pos` (NULL under the
  * `Long.MinValue` no-base sentinel). `_pos` and `_row_id` are file
  * positions only when nothing is pushed — the caller's contract.
  *
  * The batch is handed to Spark as-is, so whole-stage codegen consumes
  * ColumnVectors directly — at scale this is the difference between a
  * scan bound by object churn and one bound by I/O.
  */
class GraftColumnarPartitionReader(file: String, hadoopConf: Configuration,
                                   required: StructType,
                                   pushed: Array[Filter],
                                   fullSchema: StructType,
                                   constSchema: StructType = new StructType(),
                                   consts: InternalRow = InternalRow.empty,
                                   // no-base sentinel (NULL `_row_id`), never
                                   // 0L: a defaulted base would mint ids
                                   // colliding with the file whose real
                                   // manifest base IS 0
                                   rowIdBase: Long = Long.MinValue)
    extends PartitionReader[ColumnarBatch] {
  import GraftColumnarPartitionReader._

  private val wantFile = required.fieldNames.contains(GraftFileMeta.Name)
  private val wantPos = required.fieldNames.contains(GraftPosMeta.Name)
  private val wantRowId = required.fieldNames.contains(GraftRowIdMeta.Name)
  private val data = required.fields.filterNot(f => MetaNames.contains(f.name))
  /** What the decoder reads: the data columns, plus the materialized
    * `__rid` a merge-on-read postimage carries when `_row_id` is wanted
    * (a null vector in files without it). */
  private val decoded = StructType(
    if (wantRowId) data :+ StructField(RidCol, LongType) else data)
  /** The decoder's constant columns: `_file` when wanted, then the
    * caller's. */
  private val (allConstSchema, allConsts) =
    if (!wantFile) (constSchema, consts)
    else (StructType(StructField(GraftFileMeta.Name, StringType, nullable = false) +:
            constSchema.fields),
          InternalRow.fromSeq(UTF8String.fromString(file) +: consts.toSeq(constSchema)))

  /** Output column i is decoder column `layout(i)`, or the `_pos` (-1)
    * or `_row_id` (-2) vector; null when the decoder's batch already
    * is the output (no metadata column asked for). */
  private val layout: Array[Int] =
    if (data.length == required.length) null
    else required.fields.map { f =>
      if (f.name == GraftPosMeta.Name) -1
      else if (f.name == GraftRowIdMeta.Name) -2
      else if (f.name == GraftFileMeta.Name) decoded.length
      else decoded.fieldIndex(f.name)
    } ++ constSchema.indices.map(_ + decoded.length + (if (wantFile) 1 else 0))
  private val posVec = if (wantPos) new OnHeapColumnVector(Capacity, LongType) else null
  private val ridVec = if (wantRowId) new OnHeapColumnVector(Capacity, LongType) else null
  private var pos = 0L // file row index of the next batch's first row

  private def mk(pred: FilterPredicate): VectorizedParquetRecordReader = {
    val conf = new Configuration(hadoopConf)
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, decoded.json)
    // the engine's files are written by this store (Spark parquet or the
    // GraftParquet writer): binary=UTF8 strings, INT64-micros timestamps,
    // no INT96, modern (proleptic-Gregorian) dates -> CORRECTED rebase
    // ParquetToSparkSchemaConverter reads these with no defaults — the
    // production scan always sets the full quintet, so must we
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", false)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.setBoolean("spark.sql.parquet.fieldId.write.enabled", false)
    if (pred != null) ParquetInputFormat.setFilterPredicate(conf, pred)
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, Capacity)
    // mapred.FileSplit (extends the mapreduce one): Spark's reader base
    // casts the split to the old API class
    val size =
      try java.nio.file.Files.size(java.nio.file.Paths.get(file))
      catch { case _: java.nio.file.NoSuchFileException =>
        // a planned file is gone (a vacuum swept its version): the read
        // fails loudly and typed, never with partial rows
        throw new java.io.FileNotFoundException(
          s"$file does not exist: removed since the scan was planned")
      }
    val split = new org.apache.hadoop.mapred.FileSplit(new Path(file), 0, size,
      Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    try {
      r.initialize(split, ctx)
      r.initBatch(allConstSchema, allConsts)
      r.enableReturningBatches()
      r
    } catch { case e: Throwable =>
      // initialize already opened the file: close before rethrowing, or
      // every schema-evolution retry leaks a file handle
      try r.close() catch { case _: Exception => () }
      throw e
    }
  }

  private def footerSchema(): org.apache.parquet.schema.MessageType =
    graft.core.DirStats.footer(file).getFileMetaData.getSchema

  private val reader: VectorizedParquetRecordReader = {
    // DECIMAL predicates translate to unscaled longs AT THE LOGICAL
    // SCALE, TIMESTAMP predicates to MICROS — pushing one into a file
    // whose annotation carries a DIFFERENT scale (pre-rescale-widening
    // files) or unit (an external TIMESTAMP(MILLIS) writer) passes
    // parquet's schema validation (both sides INT64) but compares
    // wrongly-scaled values: row groups with MATCHING rows get skipped
    // and Spark's re-evaluation above the scan cannot resurrect them — a
    // silent wrong answer, not a perf loss. No exception fires, so this
    // must be gated PROACTIVELY: when the pushed set references a
    // decimal or timestamp column, one footer read decides per-file
    // whether the annotation matches the literal's encoding;
    // mismatching files keep every other conjunct.
    val effective: Array[Filter] = {
      def encoded(ref: String): Option[DataType] =
        fullSchema.fields.find(_.name.equalsIgnoreCase(ref)).map(_.dataType).filter {
          case _: DecimalType | TimestampType | TimestampNTZType => true
          case _ => false
        }
      if (!pushed.exists(_.references.exists(r => encoded(r).isDefined))) pushed
      else {
        val fs = try footerSchema() catch { case _: Exception => null }
        def encodingMatches(ref: String): Boolean = encoded(ref) match {
          case None => true // other types: the exception-retry below covers them
          case Some(t) => fs != null && fs.containsField(ref) && {
            val p = fs.getFields.get(fs.getFieldIndex(ref))
            p.isPrimitive && ((t, p.asPrimitiveType().getLogicalTypeAnnotation) match {
              case (d: DecimalType, dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
                dec.getScale == d.scale
              case (_, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            })
          }
        }
        pushed.filter(_.references.forall(encodingMatches))
      }
    }
    // a predicate over a column this file predates (ALTER TABLE ADD
    // COLUMN) fails parquet's schema validation at row-group filtering.
    // Retry with the subset of filters THIS file can evaluate (the
    // columns its footer holds) — dropping everything would
    // lose row-group skipping on the still-valid conjuncts; Spark
    // re-applies all filters above the scan, so any dropped pushdown is
    // safe, never wrong. The footer read happens only on evolved files.
    val full = GraftVectorized.predicate(effective, fullSchema)
    if (full == null) mk(null)
    else try mk(full) catch { case _: Exception =>
      val sub =
        try {
          val fileSchema = footerSchema()
          GraftVectorized.predicate(
            effective.filter(_.references.forall(fileSchema.containsField)),
            fullSchema)
        } catch { case _: Exception => null }
      if (sub == null) mk(null)
      else try mk(sub) catch { case _: Exception => mk(null) }
    }
  }

  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    val has = reader.nextKeyValue()
    if (has) {
      val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      batch = if (layout == null) b else withMeta(b)
    }
    has
  }

  private def withMeta(b: ColumnarBatch): ColumnarBatch = {
    val n = b.numRows()
    var i = 0
    if (posVec != null) while (i < n) { posVec.putLong(i, pos + i); i += 1 }
    if (ridVec != null) {
      ridVec.reset()
      val rid = b.column(decoded.length - 1)
      i = 0
      while (i < n) {
        if (!rid.isNullAt(i)) ridVec.putLong(i, rid.getLong(i))
        else if (rowIdBase == Long.MinValue) ridVec.putNull(i) // unknowable (pre-tracking)
        else ridVec.putLong(i, rowIdBase + pos + i)
        i += 1
      }
    }
    pos += n
    new ColumnarBatch(layout.map {
      case -1 => posVec: ColumnVector
      case -2 => ridVec: ColumnVector
      case c => b.column(c)
    }, n)
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    reader.close()
    if (posVec != null) posVec.close()
    if (ridVec != null) ridVec.close()
  }
}

object GraftColumnarPartitionReader {
  private val Capacity = 4096
  private val RidCol = "__rid"
  private val MetaNames = Set(GraftFileMeta.Name, GraftPosMeta.Name, GraftRowIdMeta.Name)
}

/** A ColumnVector view that remaps row ids through a surviving-rows
  * index — the zero-copy half of the columnar deletion-vector skip:
  * every accessor delegates to the wrapped vector at `map(rowId)`.
  * Struct/interval children are wrapped with the same map (their
  * accessors are addressed by parent row id via ColumnVector's final
  * getStruct/getInterval); array/map children are NOT remapped —
  * their coordinates are element offsets, and getArray/getMap delegate
  * to the base vector which builds them against its own children.
  * Per-batch and owns nothing: close() is a no-op (the parquet reader
  * owns the underlying vectors). */
private[sources] class RemappedColumnVector(base: org.apache.spark.sql.vectorized.ColumnVector,
                                            map: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  import org.apache.spark.sql.types.{CalendarIntervalType, StructType => SStructType}
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = {
    var n = 0; var i = 0
    while (i < map.length) { if (base.isNullAt(map(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(map(rowId))
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(map(rowId))
  override def getByte(rowId: Int): Byte = base.getByte(map(rowId))
  override def getShort(rowId: Int): Short = base.getShort(map(rowId))
  override def getInt(rowId: Int): Int = base.getInt(map(rowId))
  override def getLong(rowId: Int): Long = base.getLong(map(rowId))
  override def getFloat(rowId: Int): Float = base.getFloat(map(rowId))
  override def getDouble(rowId: Int): Double = base.getDouble(map(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(map(rowId))
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(map(ordinal))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(map(rowId), precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(map(rowId))
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(map(rowId))
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    base.dataType match {
      case _: SStructType | CalendarIntervalType =>
        new RemappedColumnVector(base.getChild(ordinal), map)
      case _ => base.getChild(ordinal)
    }
}

/** Columnar row skip: wraps the vectorized per-file reader (run
  * WITHOUT parquet-mr pushdown, so the running row count equals the
  * file row index) and re-exposes each batch with the deletion
  * vector's tombstoned `positions` removed, then the first `skipLive`
  * surviving rows dropped (the boundary file of a pushed OFFSET), via
  * [[RemappedColumnVector]] — no data copy. DV'd files stay on the
  * ColumnarBatch path that whole-stage codegen consumes. */
class GraftDvSkipColumnarReader(inner: PartitionReader[ColumnarBatch],
                                positions: Array[Long],
                                skipLive: Long = 0L)
    extends PartitionReader[ColumnarBatch] {
  private var base = 0L // file row index of the current batch's first row
  private var p = 0 // cursor into the sorted positions
  private var toSkip = skipLive // live rows the OFFSET still drops
  private var out: ColumnarBatch = _

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val startP = p
      while (p < positions.length && positions(p) < base + n) p += 1
      val ndel = p - startP
      val skip = math.min(toSkip, (n - ndel).toLong).toInt
      toSkip -= skip
      if (ndel == 0 && skip == 0) { out = b; base += n; return true }
      if (ndel + skip < n) {
        val map = new Array[Int](n - ndel - skip)
        var i = 0; var q = startP; var j = 0; var s = skip
        while (i < n) {
          if (q < p && positions(q) == base + i) q += 1
          else if (s > 0) s -= 1
          else { map(j) = i; j += 1 }
          i += 1
        }
        val cols = Array.tabulate[ColumnVector](b.numCols())(c =>
          new RemappedColumnVector(b.column(c), map))
        out = new ColumnarBatch(cols, map.length)
        base += n
        return true
      }
      base += n // every row in the batch tombstoned or skipped
    }
    false
  }
  override def get(): ColumnarBatch = out
  override def close(): Unit = inner.close()
}

object GraftVectorized {
  /** Combined parquet predicate for a partition, or null. */
  def predicate(pushed: Array[Filter], fullSchema: StructType): FilterPredicate =
    pushed.toSeq.flatMap(f => GraftFilters.translate(f, fullSchema))
      .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
      .orNull
}
