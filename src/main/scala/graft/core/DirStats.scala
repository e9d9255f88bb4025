package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.types._

/** Per-data-dir column statistics stored in the table manifest — the
  * engine's analogue of the per-file stats Delta keeps in its
  * transaction log for data skipping (Delta VLDB paper §4.2): a scan
  * with a pushed predicate consults the manifest and never even OPENS
  * files in dirs whose [min,max] ranges can't match, and metadata-only
  * aggregates (COUNT/MIN/MAX without WHERE) are answered from the
  * manifest with zero data I/O.
  *
  * Collection is one parquet FOOTER read per file at commit time,
  * driver-side — O(files just written), no data pages touched. Values
  * are held in the engine's canonical primitive forms (Long / Int /
  * Double / Float / Boolean / String; timestamps as Long micros, dates
  * as Int days — the same representations the store's INT64-micros
  * parquet layout uses), so comparisons during pruning are exact.
  *
  * A column with unreliable or absent footer statistics simply has no
  * entry — every consumer treats "no stats" as "might match".
  */
final case class ColStats(min: Option[Any], max: Option[Any], nulls: Option[Long])

final case class DirStats(rows: Long, cols: Map[String, ColStats])

object DirStats {

  // Hadoop Configuration construction parses the default XML resources —
  // ~10 ms a pop; a 32-bucket commit reads 32+ footers, so share one
  // immutable instance (footer reads never mutate it)
  private lazy val hadoopConf = new Configuration()

  /** One Parquet file's footer. The read options come from the shared
    * conf: opened without them, the reader builds them on a fresh
    * Configuration, which parses the XML resources on every open. */
  def footer(file: String): ParquetMetadata =
    Using.resource(ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build()))(_.getFooter)

  /** Per-file row counts for one data dir (footer reads only) — row
    * tracking assigns each file's base row id from these. Sorted by
    * file name so base assignment is deterministic. */
  def fileRowCounts(dirPath: Path): Seq[(String, Long)] = {
    if (!Files.isDirectory(dirPath)) return Seq.empty
    val files = Using.resource(Files.list(dirPath))(
      _.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
        .sortBy(_.getFileName.toString)
    import scala.collection.parallel.CollectionConverters._
    files.par.map { f =>
      val rows = footer(f.toString).getBlocks.asScala.map(_.getRowCount).sum
      f.getFileName.toString -> rows
    }.seq
  }

  /** Aggregate footer statistics over the parquet files of one data dir.
    * Returns None when the dir has no parquet files (empty write).
    *
    * `absentIsNull`: how to interpret a column with no chunk in a file.
    * The store's own commits pass true — its files only ever lack a
    * column because the file predates an ADD COLUMN, so every row is
    * null for it. Externally attached dirs (attachDir) pass false: the
    * writer may have omitted the column for other reasons, so the stats
    * are marked unreliable instead of asserting an all-null count. */
  def collect(dirPath: Path, schema: StructType,
              absentIsNull: Boolean = true): Option[DirStats] = {
    if (!Files.isDirectory(dirPath)) return None
    val files = Using.resource(Files.list(dirPath))(
      _.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    if (files.isEmpty) return None
    // footer reads are independent metadata fetches — do them in parallel
    // (commit latency on a 32-bucket write is otherwise 32 serial opens)
    import scala.collection.parallel.CollectionConverters._
    val footers = files.par.map(f => footer(f.toString)).seq
    var rows = 0L
    // per column: (min, max, nulls, reliable) — reliable drops to false
    // the moment any row group lacks usable stats for that column.
    // Non-primitive columns (struct/array/map) start UNRELIABLE: their
    // parquet chunks are nested leaves ('s.x', never 's'), so the
    // chunk-path lookup below would miss and the absentIsNull branch
    // would fabricate an all-null count — turning COUNT(s) pushdowns
    // and IS NOT NULL pruning silently wrong.
    val acc = scala.collection.mutable.Map[String, (Any, Any, Long, Boolean)]()
    schema.fields.foreach(f =>
      acc(f.name) = (null, null, 0L, statsPrimitive(f.dataType)))
    footers.foreach { footer =>
      footer.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        // parquet column resolution in Spark is case-insensitive by
        // default — match chunks the same way so an externally written
        // file with different case isn't mistaken for a missing column
        val byPath = block.getColumns.asScala
          .map(c => c.getPath.toDotString.toLowerCase -> c).toMap
        schema.fields.foreach { field =>
          val (mn, mx, nulls, ok) = acc(field.name)
          if (ok) byPath.get(field.name.toLowerCase) match {
            case None if absentIsNull =>
              // file predates this column (ADD COLUMN): all its rows are
              // null for it — null count grows, min/max unaffected
              acc(field.name) = (mn, mx, nulls + block.getRowCount, true)
            case None =>
              acc(field.name) = (null, null, 0L, false)
            case Some(chunk) =>
              val st = chunk.getStatistics
              if (st == null || !st.isNumNullsSet ||
                  !annotationOk(chunk.getPrimitiveType, field.dataType))
                acc(field.name) = (null, null, 0L, false)
              else if (!st.hasNonNullValue)
                // stats present but no values -> row group is all-null
                acc(field.name) = (mn, mx, nulls + st.getNumNulls, true)
              else canonical(st.genericGetMin, field.dataType)
                .zip(canonical(st.genericGetMax, field.dataType)) match {
                case Some((lo, hi)) =>
                  val nmn = if (mn == null || lt(lo, mn)) lo else mn
                  val nmx = if (mx == null || lt(mx, hi)) hi else mx
                  acc(field.name) = (nmn, nmx, nulls + st.getNumNulls, true)
                case None =>
                  acc(field.name) = (null, null, 0L, false)
              }
          }
        }
      }
    }
    val cols = acc.collect { case (name, (mn, mx, nulls, true)) =>
      name -> ColStats(Option(mn), Option(mx), Some(nulls))
    }.toMap
    Some(DirStats(rows, cols))
  }

  /** Types the stats machinery trusts end to end; anything else
    * (struct/array/map/binary) never gets a manifest entry. */
  private def statsPrimitive(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | TimestampType | TimestampNTZType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The chunk's parquet logical-type annotation must mean what the
    * Spark type assumes, or the footer values are in the WRONG UNIT and
    * bounds built from them prune unsoundly. The store's own writers
    * always satisfy this; it guards externally written files imported
    * via attachDir — e.g. a TIMESTAMP(MILLIS) file reads correctly
    * (Spark converts at scan time) but its raw footer Long is millis,
    * ~1000x below a micros literal: GreaterThan pruning would drop dirs
    * whose rows match. Mismatches make the column unreliable, never
    * wrong. */
  private def annotationOk(pt: org.apache.parquet.schema.PrimitiveType,
                           dt: DataType): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val ann = pt.getLogicalTypeAnnotation
    dt match {
      case TimestampType | TimestampNTZType => ann match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }
      case DateType =>
        ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
      case d: DecimalType => ann match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          a.getScale == d.scale
        case _ => false
      }
      case StringType =>
        ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      case _ => true
    }
  }

  /** parquet footer value -> the engine's canonical primitive for the
    * Spark type; None if the combination isn't one we trust. NaN
    * float/double bounds are rejected: parquet-mr sorts NaN above
    * everything, so a NaN "min" bounds nothing — Delta and Iceberg
    * special-case NaN stats the same way. */
  private def canonical(v: Any, dt: DataType): Option[Any] = (dt, v) match {
    case (LongType, x: java.lang.Long) => Some(x.longValue)
    case (IntegerType, x: java.lang.Integer) => Some(x.intValue)
    case (DoubleType, x: java.lang.Double) =>
      if (x.isNaN) None else Some(x.doubleValue)
    case (FloatType, x: java.lang.Float) =>
      if (x.isNaN) None else Some(x.floatValue)
    case (BooleanType, x: java.lang.Boolean) => Some(x.booleanValue)
    case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
    case (TimestampType | TimestampNTZType, x: java.lang.Long) => Some(x.longValue)
    case (DateType, x: java.lang.Integer) => Some(x.intValue)
    // decimals: canonical form is the unscaled long (INT32- or
    // INT64-backed per precision, like the store's parquet layout)
    case (_: DecimalType, x: java.lang.Long) => Some(x.longValue)
    case (_: DecimalType, x: java.lang.Integer) => Some(x.longValue)
    case _ => None
  }

  /** Total order over canonical values of one column's type. Strings
    * compare by code point (== unsigned UTF-8 byte order, the order
    * parquet computes UTF8 min/max in); Java's natural String order is
    * UTF-16 code-unit order, which disagrees for supplementary
    * characters vs high-BMP and would merge bounds that don't bound. */
  def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Double, y: Double) => x < y
    case (x: Float, y: Float) => x < y
    case (x: Boolean, y: Boolean) => !x && y
    case (x: String, y: String) => utf8Lt(x, y)
    case _ => throw new IllegalArgumentException(
      s"incomparable stats values: ${a.getClass} vs ${b.getClass}")
  }

  /** Code-point order — identical to comparing the UTF-8 encodings as
    * unsigned bytes, without materializing them. */
  private[graft] def utf8Lt(x: String, y: String): Boolean = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val a = x.codePointAt(i)
      val b = y.codePointAt(j)
      if (a != b) return a < b
      i += Character.charCount(a)
      j += Character.charCount(b)
    }
    i >= x.length && j < y.length
  }
  def lte(a: Any, b: Any): Boolean = !lt(b, a)

  // ---- manifest JSON round trip (values as strings, typed by schema) ----

  def toJsonFragment(stats: Map[String, DirStats], jsonStr: String => String): String = {
    val dirs = stats.toSeq.sortBy(_._1).map { case (d, ds) =>
      val cols = ds.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
        val parts = Seq(
          cs.min.map(v => s""""min": ${jsonStr(encode(v))}"""),
          cs.max.map(v => s""""max": ${jsonStr(encode(v))}"""),
          cs.nulls.map(n => s""""nulls": $n""")).flatten
        s"${jsonStr(c)}: {${parts.mkString(", ")}}"
      }
      s"""${jsonStr(d)}: {"rows": ${ds.rows}, "cols": {${cols.mkString(", ")}}}"""
    }
    s"{${dirs.mkString(", ")}}"
  }

  private def encode(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d) // round-trip exact
    case f: Float => java.lang.Float.toString(f)
    case other => other.toString
  }

  def fromParsed(parsed: Any, schema: StructType): Map[String, DirStats] = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    parsed.asInstanceOf[Map[String, Any]].map { case (d, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      val cols = m.getOrElse("cols", Map.empty).asInstanceOf[Map[String, Any]]
        .flatMap { case (c, cv) =>
          // a column dropped from the schema (never happens today) or of
          // an unexpected type is simply skipped — "no stats"
          types.get(c).flatMap { dt =>
            val cm = cv.asInstanceOf[Map[String, Any]]
            def dec(k: String): Option[Any] =
              cm.get(k).flatMap(s => decode(s.asInstanceOf[String], dt))
            Some(c -> ColStats(dec("min"), dec("max"),
              cm.get("nulls").map(_.asInstanceOf[Long])))
          }
        }
      d -> DirStats(m("rows").asInstanceOf[Long], cols)
    }
  }

  private def decode(s: String, dt: DataType): Option[Any] = dt match {
    case LongType | TimestampType | TimestampNTZType => s.toLongOption
    case IntegerType | DateType => s.toIntOption
    case DoubleType => s.toDoubleOption
    case FloatType => s.toFloatOption
    case BooleanType => s.toBooleanOption
    case StringType => Some(s)
    case _: DecimalType => s.toLongOption // unscaled
    case _ => None
  }
}
