package graft.sources

import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

import scala.util.Using

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{And => SAnd, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In => SIn, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not => SNot, Or => SOr, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TableStore

/** DataSource V2 catalog over [[graft.core.TableStore]]: register with
  *
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /path/to/store
  *
  * and plain SQL DML runs against store tables —
  *   SELECT ... FROM graft.<table>            (snapshot read, col pruning)
  *   INSERT INTO / INSERT OVERWRITE graft.<t> (GraftWrite batch path)
  *   DELETE FROM graft.<table> WHERE ...      (SupportsDelete -> store)
  *   UPDATE / MERGE INTO graft.<table> ...    (row-level operations,
  *                                             copy-on-write ReplaceData)
  *
  * The read path plans the live parquet files the committed manifest
  * lists (small ones packed into shared tasks, [[GraftInputPartition]]),
  * so SQL reads observe the same atomic snapshot isolation as
  * TableStore.read; the requested projection and pushed predicates
  * reach the parquet reader. Flat schemas only (the engine's data
  * model, SURVEY §1.2) and INT64 timestamps (TableStore pins
  * TIMESTAMP_MICROS output; INT96 legacy files are not supported).
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _

  /** `CALL graft.system.<verb>(...)` — SQL maintenance procedures
    * (vacuum / compact / restore / optimize_range / optimize_zorder /
    * set_bloom_columns), see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live under the `system` namespace, got $ident")
    GraftProcedures.load(root, ident.name())
  }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray

  /** The catalog serves the `bucket` transform function so Spark can
    * resolve the KeyGroupedPartitioning the bucketed scans report —
    * the hook storage-partitioned joins hang off (two tables bucketed
    * the same way join with NO shuffle on either side). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$name.root is required"))
  }

  override def name(): String = catalogName

  private def store: TableStore = new TableStore(SparkSession.active, root)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // tables live directly under the store root (no namespaces): a
    // non-empty namespace holds nothing — echoing every table under
    // any namespace would mask typos (SHOW TABLES IN graft.bogus)
    if (namespace.nonEmpty) return Array.empty
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Array.empty
    else Using.resource(Files.list(dir))(
      _.iterator().asScala
        .filter(p => Files.exists(p.resolve("_LATEST")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray)
  }

  override def loadTable(ident: Identifier): Table = {
    val t = ident.name()
    // Iceberg-style metadata table: SELECT * FROM graft.<t>.changes
    // (options startVersion / endVersion bound the range)
    if (t == "changes" && ident.namespace().length == 1 &&
        store.exists(ident.namespace()(0)))
      return new GraftChangesTable(root, ident.namespace()(0))
    // Iceberg-style metadata table: SELECT * FROM graft.<t>.history
    // (versions, commit times, dir counts, metadata-only row counts)
    if (t == "history" && ident.namespace().length == 1 &&
        store.exists(ident.namespace()(0)))
      return new GraftHistoryTable(root, ident.namespace()(0))
    // Iceberg-style metadata table: SELECT * FROM graft.<t>.files
    // (per-dir file counts, bytes, manifest stats — DESCRIBE DETAIL)
    if (t == "files" && ident.namespace().length == 1 &&
        store.exists(ident.namespace()(0)))
      return new GraftFilesTable(root, ident.namespace()(0))
    // row-id projection table: the table plus its stable `_row_id` as a
    // REAL column — the STREAMING surface for row tracking
    if (t == "rowids" && ident.namespace().length == 1 &&
        store.exists(ident.namespace()(0)))
      return new GraftRowIdsTable(root, ident.namespace()(0))
    // plain tables live at the root: a leftover namespace here is a typo
    // (graft.bogus_ns.orders must not silently resolve to orders)
    if (ident.namespace().nonEmpty || !store.exists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new GraftSqlTable(root, t)
  }

  /** SELECT ... FROM graft.t VERSION AS OF <n> — time travel pinned to
    * a committed manifest version (TableStore.readVersion's SQL face). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = ident.name()
    if (ident.namespace().nonEmpty || !store.exists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new GraftSqlTable(root, t, pinnedVersion = Some(version.toLong))
  }

  /** SELECT ... FROM graft.t TIMESTAMP AS OF <ts> (Spark hands the
    * timestamp down in microseconds since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = ident.name()
    if (ident.namespace().nonEmpty || !store.exists(t))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    new GraftSqlTable(root, t,
      pinnedVersion = Some(store.versionAsOfTimestamp(t, timestamp / 1000L)))
  }

  /** CREATE TABLE with the full layout surface:
    *   PARTITIONED BY (bucket(n, cols...))  -> hash-bucketed layout
    *     (key-pruned merges + storage-partitioned joins; rows INSERTed
    *      through SQL land as attached dirs until compact() re-splits)
    *   TBLPROPERTIES ('bloom_columns'='a,b') -> point-lookup bloom index */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    import org.apache.spark.sql.connector.expressions.{Literal => TLiteral, NamedReference}
    val bucketing = partitions.toSeq.map { t =>
      require(t.name() == "bucket",
        s"unsupported partition transform ${t.name()} (only bucket(n, cols...))")
      val n = t.arguments().collectFirst {
        case l: TLiteral[_] if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException("bucket(n, cols...) needs a count"))
      val keys = t.arguments().collect {
        case r: NamedReference => r.fieldNames().mkString(".")
      }.toSeq
      require(keys.nonEmpty, "bucket(n, cols...) needs at least one column")
      (keys, n)
    }.headOption
    require(partitions.length <= 1, "at most one bucket transform")
    val existedBefore = store.exists(ident.name())
    store.createEmpty(ident.name(), schema, bucketing)
    try {
      Option(properties.get("bloom_columns")).foreach { cs =>
        store.setBloomColumns(ident.name(), cs.split(",").map(_.trim).toSeq)
      }
      // TBLPROPERTIES ('check.<name>' = '<expr>') -> CHECK constraints
      properties.asScala.toSeq.sortBy(_._1).foreach {
        case (k, v) if k.startsWith("check.") =>
          store.addCheckConstraint(ident.name(), k.stripPrefix("check."), v)
        case _ => ()
      }
      // every other property (minus Spark-injected ones) persists in the
      // manifest — e.g. 'delete.mode'='merge-on-read' picks deletion
      // vectors for SQL DELETE
      val free = properties.asScala.view
        .filterKeys(k => k != "bloom_columns" && !k.startsWith("check.") &&
          !k.startsWith("option.") && k != "provider" && k != "owner" &&
          k != "location" && k != "comment" && k != "external").toMap
      // generated / identity declarations take the TYPED setters so a bad
      // expression or non-BIGINT identity column fails the CREATE, not the
      // first write
      val (typed, plain) = free.partition { case (k, _) =>
        k.startsWith("generated.") || k.startsWith("identity.") }
      typed.toSeq.sortBy(_._1).foreach {
        case (k, v) if k.startsWith("generated.") =>
          store.setGeneratedColumn(ident.name(), k.stripPrefix("generated."), v)
        case (k, v) if k.startsWith("identity.") && k.endsWith(".next") =>
          store.setIdentityColumn(ident.name(),
            k.stripPrefix("identity.").stripSuffix(".next"), v.toLong)
        case (k, _) => throw new IllegalArgumentException(
          s"malformed identity property $k (use identity.<col>.next)")
      }
      if (plain.nonEmpty) store.setProperties(ident.name(), plain)
      new GraftSqlTable(root, ident.name())
    } catch {
      // a failing property must fail the WHOLE create: roll back the
      // just-created table so the corrected CREATE TABLE can re-run
      // (instead of half-configured leftovers + TableAlreadyExists)
      case e: Throwable =>
        if (!existedBefore)
          graft.core.FsUtil.deleteRecursively(Paths.get(root, ident.name()).toFile)
        throw e
    }
  }

  /** ALTER TABLE ADD COLUMN(S) — manual schema evolution
    * (/root/reference/docs/Silver_Layer_Developer_Guide.md:140-153):
    * a metadata-only manifest commit; old files read the new column as
    * NULL. Other change kinds are rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val (propChanges, colChanges) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    val kvs = propChanges.map {
      case sp: TableChange.SetProperty => sp.property() -> sp.value()
      case rp: TableChange.RemoveProperty => rp.property() -> (null: String)
    }.toMap
    if (kvs.nonEmpty) store.setProperties(ident.name(), kvs)
    val adds = colChanges.flatMap {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "nested columns not supported (flat data model — SURVEY §1.2)")
        Some(StructField(a.fieldNames()(0), a.dataType(), a.isNullable()))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "nested columns not supported (flat data model — SURVEY §1.2)")
        // metadata-only rename via column mapping — no data rewrite
        store.renameColumn(ident.name(), r.fieldNames()(0), r.newName())
        None
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "nested columns not supported (flat data model — SURVEY §1.2)")
        store.dropColumn(ident.name(), d.fieldNames()(0))
        None
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "nested columns not supported (flat data model — SURVEY §1.2)")
        // widening-only copy-on-write retype (see TableStore.alterColumnType)
        store.alterColumnType(ident.name(), u.fieldNames()(0), u.newDataType())
        None
      case other =>
        throw new UnsupportedOperationException(s"ALTER TABLE change $other not supported")
    }
    if (adds.nonEmpty) store.addColumns(ident.name(), StructType(adds))
    new GraftSqlTable(root, ident.name())
  }

  override def dropTable(ident: Identifier): Boolean =
    // store.exists validates the name (single path segment — a quoted
    // `../other/t` must never delete outside the root) and requires a
    // real table (_LATEST), not just any directory under the root
    if (ident.namespace().nonEmpty || !store.exists(ident.name())) false
    else {
      graft.core.FsUtil.deleteRecursively(Paths.get(root, ident.name()).toFile)
      true
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE not supported")
}

/** The `bucket(n, cols...)` function behind the reported partitioning:
  * EXACTLY the store's layout function — pmod over Spark's Murmur3
  * hash chained across the key columns with seed 42, matching
  * [[graft.core.TableStore]]'s `Bucketing.expr` (`pmod(hash(keys), n)`)
  * bit for bit, so partition keys reported by the scan and values Spark
  * might compute through this function always agree. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, cols...): pmod(murmur3_hash(cols), n) — the graft store layout"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    val types = inputType.fields.map(_.dataType)
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[org.apache.spark.sql.types.DataType] = types
      override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        var h = 42L // hash() seed, chained across columns like Murmur3Hash
        var i = 1
        while (i < types.length) {
          if (!input.isNullAt(i))
            h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
              .hash(input.get(i, types(i)), types(i), h)
          i += 1
        }
        val b = h.toInt % n
        if (b < 0) b + n else b
      }
    }
  }
}

/** The `_pos` metadata column: a row's ordinal position within its
  * file — with `_file`, the stable ROW IDENTITY of the store's
  * immutable-file layout (what deletion vectors key on). Built per
  * batch by [[GraftColumnarPartitionReader]] from its running row
  * count, so it is only served on scans with NO parquet-mr skipping
  * (the reader factory drops pushdown when `_pos` is requested; DV
  * position-skipping composes correctly because the count includes
  * tombstoned rows). The delta row-level path uses (`_file`, `_pos`)
  * as its rowId. */
object GraftPosMeta extends MetadataColumn {
  val Name = "_pos"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType = LongType
  override def isNullable(): Boolean = false
}

/** The `_row_id` metadata column (row tracking): the row's STABLE id —
  * the manifest's per-file base + position for fresh rows, or the
  * materialized `__rid` a merge-on-read postimage file carries.
  * Built per batch like `_pos` (requesting it drops parquet-mr
  * skipping so the running count stays the file position; DV
  * position-skips compose — the count includes tombstoned rows). */
object GraftRowIdMeta extends MetadataColumn {
  val Name = "_row_id"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType = LongType
  // nullable: a reader that cannot attribute a base (file unknown to
  // the planning manifest) surfaces NULL, never a silently wrong id
  override def isNullable(): Boolean = true
}

/** The `_file` metadata column: which live parquet file produced a
  * row. Exposed for observability AND as the group identity Spark's
  * runtime row-level group filtering keys on ([[GraftRowLevelScan]]). */
object GraftFileMeta extends MetadataColumn {
  val Name = "_file"
  override def name(): String = Name
  override def dataType(): org.apache.spark.sql.types.DataType = StringType
  override def isNullable(): Boolean = false

  /** Parse a runtime `_file IN (...)` / `_file = v` predicate into the
    * matched file set; None for any other shape (no filtering). */
  def inFiles(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[String]] = {
    val ch = p.children()
    val onFile = ch.headOption.exists {
      case r: org.apache.spark.sql.connector.expressions.NamedReference =>
        r.fieldNames().length == 1 && r.fieldNames()(0) == Name
      case _ => false
    }
    p.name() match {
      case "IN" | "=" if onFile =>
        val vals = ch.drop(1).collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value())
        }
        if (vals.length == ch.length - 1) Some(vals.toSet) else None
      case _ => None
    }
  }
}

/** A TableStore table exposed through DSv2 (optionally pinned to a
  * historical version for VERSION AS OF / TIMESTAMP AS OF). */
class GraftSqlTable(root: String, tableName: String,
                    pinnedVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  private def store: TableStore = new TableStore(SparkSession.active, root)

  /** One consistent (version, schema, dirs) tuple resolved at first use:
    * schema() and newScanBuilder() read from the SAME snapshot, so a
    * commit landing between them can no longer pair version v's file
    * list with version v+1's schema. */
  private lazy val snap = pinnedVersion match {
    case Some(v) => store.snapshotAt(tableName, v)
    case None => store.snapshot(tableName)
  }

  override def name(): String = tableName
  override def schema(): StructType = snap.schema
  override def metadataColumns(): Array[MetadataColumn] =
    if (snap.rowTracking) Array(GraftFileMeta, GraftPosMeta, GraftRowIdMeta)
    else Array(GraftFileMeta, GraftPosMeta)
  /** SHOW TBLPROPERTIES: the manifest's free-form properties — from the
    * pinned snapshot, so VERSION AS OF reports THAT version's props. */
  override def properties(): util.Map[String, String] = snap.props.asJava
  /** AUTOMATIC_SCHEMA_EVOLUTION: `MERGE ... WITH SCHEMA EVOLUTION`
    * resolves source-only columns by issuing the catalog an ALTER
    * ADD COLUMN (metadata-only here) before planning the merge. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** INSERT INTO (append) / INSERT OVERWRITE (truncate) via the
    * executors' Spark Parquet writers + one manifest version bump; streaming
    * writes (writeStream.toTable) take the exactly-once epoch path. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinnedVersion.isEmpty, "cannot write to a time-travel (VERSION AS OF) table")
    new GraftWriteBuilder(root, tableName, info.schema(), queryId = info.queryId(),
      bucketing = snap.bucketing.map(b => (b.keys, b.n)), colmap = snap.colmap)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // schema and file list both come from the pinned snapshot: the scan
    // stays on this version even if the table is mutated before execution
    // (Spark's versionAsOf/timestampAsOf read options resolve through
    // loadTable(ident, version) -> pinnedVersion, so time travel arrives
    // here as a pinned snap with ITS schema and colmap).
    // Files stay grouped by manifest dir with the dir's column stats so
    // the scan can drop whole dirs against pushed predicates (data
    // skipping) before any file is opened.
    GraftScanBuilder.forSnapshot(store, root, tableName, snap, snap.schema,
      options, snap.filesByDir(store, tableName))

  /** SQL MERGE INTO / UPDATE via GROUP-BASED (file-subset copy-on-write)
    * row-level operations. Spark's RowLevelOperationRuntimeGroupFiltering
    * runs a matching-rows subquery over the table's REGULAR scan
    * (projecting the `_file` metadata column), then hands this
    * operation's scan an `IN(_file, <files with matches>)` runtime
    * filter. [[GraftRowLevelScan]] widens that to manifest-DIR
    * granularity (the engine's rewrite group), scans only touched dirs,
    * and reports them here; the write then commits a version replacing
    * exactly those dirs and carrying the rest with their stats
    * ([[TableStore.replaceDirs]]). A MERGE INTO touching 1 of N dirs
    * rewrites 1 dir, not the table. If the runtime filter never fires
    * (conf off, non-filterable condition), `touched` stays None and the
    * write falls back to the old sound replace-all commit. */
  /** MERGE-ON-READ row-level ops (`'rowlevel.mode'='merge-on-read'`):
    * instead of the group-based rewrite below, the operation is
    * DELTA-BASED ([[SupportsDelta]]): Spark hands the write per-row
    * DELETE/INSERT actions keyed by rowId = (`_file`, `_pos`) — updates
    * arrive as delete+reinsert — and the commit lands tombstone DV
    * sidecars plus ONE inserted dir ([[TableStore.commitDelta]]).
    * A MERGE matching 0.1% of the table writes 0.1%, rewrites nothing. */
  private def deltaRowLevelOperation(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperation =
    new org.apache.spark.sql.connector.write.SupportsDelta {
      override def command: org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftFileMeta.Name),
          org.apache.spark.sql.connector.expressions.Expressions.column(GraftPosMeta.Name))
      override def representUpdateAsDeleteAndInsert(): Boolean = true
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftFileMeta.Name))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder with SupportsPushDownRequiredColumns {
          private var required: StructType = snap.schema
          override def pruneColumns(s: StructType): Unit = required = s
          override def build(): Scan =
            new GraftRowLevelScan(snap.schema, required,
              snap.filesByDir(store, tableName), _ => (),
              store.dvSidecarsByDir(tableName, snap.dvs), snap.colmap)
        }
      override def newWriteBuilder(
          wInfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
        new GraftDeltaWriteBuilder(root, tableName, wInfo.schema(), snap.colmap,
          bucketing = snap.bucketing.map(b => (b.keys, b.n)))
    }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = { () =>
    // mode from the SAME snapshot the operation's scan reads — a
    // property flip committed between loadTable and planning must not
    // make the write path disagree with the scan's snapshot
    if (snap.props.get("rowlevel.mode").contains("merge-on-read"))
      deltaRowLevelOperation(info)
    else
    new org.apache.spark.sql.connector.write.RowLevelOperation {
      @volatile private var touched: Option[Set[String]] = None
      override def command: org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      /** The runtime group filter resolves its filter attributes against
        * THIS operation's scan output, so `_file` must be part of it. */
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftFileMeta.Name))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        // NO predicate pushdown on the operation scan: the rewrite must
        // return every row of every group it replaces — group selection
        // happens ONLY at whole-dir granularity via the runtime filter
        new ScanBuilder with SupportsPushDownRequiredColumns {
          private var required: StructType = snap.schema
          override def pruneColumns(s: StructType): Unit = required = s
          override def build(): Scan =
            new GraftRowLevelScan(snap.schema, required,
              snap.filesByDir(store, tableName), t => touched = Some(t),
              store.dvSidecarsByDir(tableName, snap.dvs), snap.colmap)
        }
      override def newWriteBuilder(
          wInfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new GraftWriteBuilder(root, tableName, wInfo.schema(), replaceAll = true,
          replacedDirs = () => touched, colmap = snap.colmap,
          // the commit pins at the snapshot the operation scan read, so
          // a rival mutation landing mid-MERGE conflicts instead of
          // being silently overwritten by rows rebuilt from its past
          scanVersion = () => snap.version)
    }
  }

  /** DELETE FROM ... WHERE: v1 filters -> a Column predicate -> the
    * store's versioned delete (driver-side commit, full SQL semantics
    * for the supported filter shapes; unsupported shapes are rejected
    * so Spark falls back to an error, never silent wrong results). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(translatable)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{col => c, lit}
    def t(f: Filter): org.apache.spark.sql.Column = f match {
      case EqualTo(a, v) => c(a) === lit(v)
      case GreaterThan(a, v) => c(a) > lit(v)
      case GreaterThanOrEqual(a, v) => c(a) >= lit(v)
      case LessThan(a, v) => c(a) < lit(v)
      case LessThanOrEqual(a, v) => c(a) <= lit(v)
      case IsNull(a) => c(a).isNull
      case IsNotNull(a) => c(a).isNotNull
      case SAnd(l, r) => t(l) && t(r)
      case SOr(l, r) => t(l) || t(r)
      case SNot(x) => !t(x)
      case other => throw new UnsupportedOperationException(s"filter $other")
    }
    val cond = filters.map(t).reduceOption(_ && _)
      .getOrElse(lit(true)) // DELETE with no predicate = delete all
    if (store.properties(tableName).get("delete.mode").contains("merge-on-read"))
      store.deleteVectorized(tableName, cond)   // tombstones, no rewrite
    else
      store.delete(tableName, cond)             // pruned copy-on-write
  }

  private def translatable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: IsNull | _: IsNotNull => true
    case SAnd(l, r) => translatable(l) && translatable(r)
    case SOr(l, r) => translatable(l) && translatable(r)
    case SNot(x) => translatable(x)
    case _ => false
  }
}

/** A snapshot of a store table as the library face reads it: the dirs
  * of `snap` (a manifest's live dirs, a subset of them, or dirs a commit
  * is about to link) through the catalog's own scan, with the `_file`,
  * `_pos` and `_row_id` metadata columns. The files are listed once,
  * when the table is built, like a file source's index. Read-only, and
  * named by no catalog: [[TableStore]] wraps it in a DataFrame. */
class GraftSnapshotTable(store: TableStore, root: String, tableName: String,
                         snap: TableStore.Snapshot)
    extends Table with SupportsRead with SupportsMetadataColumns {
  private val dirFiles = snap.filesByDir(store, tableName)
  override def name(): String = tableName
  override def schema(): StructType = snap.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftFileMeta, GraftPosMeta, GraftRowIdMeta)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftScanBuilder.forSnapshot(store, root, tableName, snap, snap.schema, options,
      dirFiles)
}

object GraftScanBuilder {
  /** The ONE place a table snapshot becomes a scan builder — every scan
    * input (stats, bloom config, DV sidecars, stream caps, colmap, row
    * bases) wires through here, so a new input added for one surface
    * can't silently miss the other (as separately-maintained copies
    * would). Used by the main table scan, the `.rowids` projection and
    * every library read ([[GraftSnapshotTable]]); `dirFiles` is the
    * snapshot's file listing. */
  def forSnapshot(store: TableStore, root: String, tableName: String,
                  snap: TableStore.Snapshot, schema: StructType,
                  options: CaseInsensitiveStringMap,
                  dirFiles: Seq[(String, Seq[String])]): GraftScanBuilder =
    new GraftScanBuilder(schema, dirFiles,
      snap.stats, streamSource = Some((root, tableName)),
      bucketing = snap.bucketing.map(b => (b.keys, b.n)),
      bloomPrune =
        if (snap.bloomCols.isEmpty) None
        else Some((snap.bloomCols, store.bloomRoot(tableName))),
      dvSidecars = store.dvSidecarsByDir(tableName, snap.dvs),
      dvDeleted = snap.dvs.view.mapValues(_.deleted).toMap,
      streamMaxVersions =
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      colmap = snap.colmap,
      rowBase = store.rowBaseByFile(tableName, snap.rowbase))
}

class GraftScanBuilder(schema: StructType, dirFiles: Seq[(String, Seq[String])],
                       stats: Map[String, graft.core.DirStats],
                       allowFilterPushdown: Boolean = true,
                       streamSource: Option[(String, String)] = None,
                       bucketing: Option[(Seq[String], Int)] = None,
                       bloomPrune: Option[(Seq[String], java.nio.file.Path)] = None,
                       dvSidecars: Map[String, Seq[String]] = Map.empty,
                       dvDeleted: Map[String, Long] = Map.empty,
                       streamMaxVersions: Option[Long] = None,
                       colmap: Map[String, String] = Map.empty,
                       rowBase: Map[String, Long] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownOffset {
  private var required: StructType = schema
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var topN: Option[(String, Boolean, Boolean, Int)] = None

  /** OFFSET reaches the scan — the pagination partner of the LIMIT
    * push: `LIMIT 10 OFFSET 10^9` on a 100 TB table skips whole dirs
    * by manifest row count and opens only the boundary file. Returning
    * true REMOVES the Offset from Spark's plan, so acceptance requires
    * the scan to drop EXACTLY n live rows: every dir up to the
    * boundary must have stats, and a mid-dir boundary is only exact
    * when that dir holds a single file (the common case under
    * optimized writes), whose reader then skips the remainder. */
  override def pushOffset(n: Int): Boolean = {
    // (streamSource is the CAPABILITY to stream, set on every catalog
    // table — only batch scans reach pushOffset, so it is no bar here)
    if (pushed.nonEmpty || topN.isDefined || bucketing.isDefined || n <= 0)
      return false
    var cum = 0L
    dirFiles.foreach { case (d, fs) =>
      val st = stats.getOrElse(d, return false)
      val dv = dvDeleted.getOrElse(d, 0L)
      val liveRows = math.max(0L, st.rows - dv)
      if (cum + liveRows <= n) cum += liveRows
      else {
        // boundary dir: remainder must be skippable within ONE file
        if (n - cum > 0 && fs.size != 1) return false
        offset = Some(n)
        return true
      }
    }
    // offset >= total rows: every dir drops, zero partitions planned
    offset = Some(n)
    true
  }
  /** ORDER BY <col>[, tiebreaks...] LIMIT n reaches the scan: manifest
    * [min,max] per dir bound which dirs can hold the top-n, so a
    * range-clustered table answers a top-k from the few dirs at the
    * edge of the sort order. Scheduling needs only the LEADING sort
    * column — any row whose leading value lies strictly beyond the
    * bound ranks lexicographically below >= n rows whatever the
    * tie-breakers say, and boundary ties are kept (<= / >= bound
    * comparisons). Partial push — Spark's own TopSort still runs on
    * what the scan returns. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        n: Int): Boolean = {
    if (orders.length < 1 || offset.isDefined) return false
    orders(0).expression() match {
      case fr: org.apache.spark.sql.connector.expressions.NamedReference
          if fr.fieldNames().length == 1 =>
        topN = Some((fr.fieldNames()(0),
          orders(0).direction() ==
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
          orders(0).nullOrdering() ==
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST,
          n))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true
  /** LIMIT reaches the scan: with no pushed filters the manifest's
    * per-dir row counts schedule only enough dirs to satisfy it — a
    * LIMIT 100 on a 100 TB table opens one file. Returns false: the
    * scan reads AT LEAST n rows, Spark's own limit still trims. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }
  private var pushed: Array[Filter] = Array.empty
  private var metadataAgg: Option[(StructType, InternalRow)] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** COUNT(*)/COUNT(col)/MIN/MAX with no WHERE and no GROUP BY are
    * answered from the manifest alone — see [[MetadataAggregate]].
    * Complete pushdown only: Spark gets final values, a real scan
    * happens for anything the stats can't answer exactly. */
  private def answerable(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation) =
    if (pushed.nonEmpty || !allowFilterPushdown) None
    else MetadataAggregate.answer(agg, schema, dirFiles.map(_._1), stats, dvDeleted)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answerable(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    metadataAgg = answerable(agg)
    metadataAgg.isDefined
  }

  /** Push translatable predicates into parquet-mr (row-group statistics
    * skip). ALL filters are returned as post-scan — Spark re-evaluates
    * them above the scan — so the pushdown is purely an I/O/decode
    * reduction and can never change results. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (allowFilterPushdown)
      pushed = filters.filter(f => GraftFilters.translate(f, schema).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Manifest-stats data skipping happens HERE, at plan time: the
    * pushed predicates are tested against each dir's [min,max,nulls]
    * and dirs that can't match contribute no input partitions at all
    * (see [[graft.core.StatsPruning]] for the soundness rules). The
    * pushed filters also reach parquet-mr for row-group skipping
    * inside surviving dirs, and Spark still re-evaluates them above
    * the scan, so skipping is purely an I/O reduction. */
  override def build(): Scan = metadataAgg match {
    case Some((aggSchema, row)) =>
      new GraftMetadataScan(aggSchema, row, s"${dirFiles.size} dirs")
    case None =>
      val byStats = graft.core.StatsPruning.liveDirs(
        dirFiles.map(_._1), stats, schema, pushed.toSeq)
      // point predicates also probe the per-dir bloom index (plan-time
      // skipping for keys min/max can't bound — see [[BloomIndex]])
      val liveDirs = bloomPrune match {
        case Some((cols, bloomRoot)) =>
          graft.core.BloomIndex.prune(byStats, pushed.toSeq, schema, cols, bloomRoot,
            n => colmap.getOrElse(n, n))
        case None => byStats
      }
      // set probe: Seq.contains here was O(dirs x surviving-dirs) —
      // most of a point-predicate plan's wall on a 10^5-dir table
      // (PLANS.md, "manifest driver-memory/latency at 10^5 dirs")
      val liveSet = liveDirs.toSet
      val live = dirFiles.filter(df => liveSet.contains(df._1))
      new GraftScan(schema, required, live, stats, pushed, streamSource,
        dirsTotal = dirFiles.size, bucketing = bucketing,
        bloomPrune = bloomPrune, dvSidecars = dvSidecars, dvDeleted = dvDeleted,
        streamMaxVersions = streamMaxVersions, colmap = colmap,
        rowBase = rowBase, limit = limit, topN = topN, offset = offset)
  }
}

class GraftScan(fullSchema: StructType, required: StructType,
                dirFilesLive: Seq[(String, Seq[String])],
                stats: Map[String, graft.core.DirStats],
                pushed: Array[Filter],
                streamSource: Option[(String, String)] = None,
                dirsTotal: Int = 0,
                bucketing: Option[(Seq[String], Int)] = None,
                bloomPrune: Option[(Seq[String], java.nio.file.Path)] = None,
                dvSidecars: Map[String, Seq[String]] = Map.empty,
                dvDeleted: Map[String, Long] = Map.empty,
                streamMaxVersions: Option[Long] = None,
                colmap: Map[String, String] = Map.empty,
                rowBase: Map[String, Long] = Map.empty,
                limit: Option[Int] = None,
                topN: Option[(String, Boolean, Boolean, Int)] = None,
                offset: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** Live dirs after plan-time pruning; runtime filters (DPP) narrow
    * this further before input partitions are planned. */
  private var live: Seq[(String, Seq[String])] = dirFilesLive
  private var runtimePrunedFrom: Option[Int] = None

  private def files: Seq[String] = live.flatMap(_._2)
  private def dirsScanned: Int = live.size

  /** Dynamic "partition" pruning hooks: the dim side of a star join
    * broadcasts its join-key values, and this scan drops whole dirs the
    * values can't touch — via manifest stats, the bloom index, and (for
    * a single-key bucket layout) the bucket ids of the values. The
    * attributes offered are exactly the ones a value set can prune on,
    * among the columns the scan outputs: Spark resolves every one of
    * them against that output. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val cols = (bucketing.toSeq.flatMap(_._1) ++ bloomPrune.toSeq.flatMap(_._1))
      .distinct.filter(c => required.fieldNames.exists(_.equalsIgnoreCase(c)))
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // a pushed OFFSET owns the exact row drop — runtime pruning would
    // change WHICH rows the skip lands on, so it is refused outright
    if (offset.isDefined) return
    val before = live.size
    predicates.foreach { p =>
      GraftRuntimeValues.inValues(p).foreach { case (colName, values) =>
        val v1 = org.apache.spark.sql.sources.In(colName, values.toArray)
        var dirs = graft.core.StatsPruning.liveDirs(
          live.map(_._1), stats, fullSchema, Seq(v1))
        dirs = bloomPrune match {
          case Some((cols, root)) =>
            graft.core.BloomIndex.prune(dirs, Seq(v1), fullSchema, cols, root,
              n => colmap.getOrElse(n, n))
          case None => dirs
        }
        // single-key bucket layout: the values' bucket ids name the only
        // leaf dirs that can hold them (unbucketed dirs always survive)
        dirs = bucketing match {
          case Some((Seq(key), n)) if key.equalsIgnoreCase(colName) =>
            val dt = fullSchema.fields.collectFirst {
              case f if f.name.equalsIgnoreCase(key) => f.dataType }
            dt.map { t =>
              val buckets = values.flatMap(v =>
                GraftRuntimeValues.bucketOf(v, t, n)).toSet
              dirs.filter(d => !d.contains("/__b=") ||
                buckets.contains(d.split("/__b=", 2)(1).toInt))
            }.getOrElse(dirs)
          case _ => dirs
        }
        val keep = dirs.toSet
        live = live.filter(df => keep.contains(df._1))
      }
    }
    if (live.size != before) runtimePrunedFrom = Some(before)
  }

  /** A fully hash-bucketed layout groups into one input partition per
    * bucket (padded to all n so both join sides report identical key
    * sets) and reports KeyGroupedPartitioning for storage-partitioned
    * joins; any unbucketed dir in the mix disables the grouping. */
  private def bucketGroups
      : Option[(Seq[String], Int, Seq[(Int, Seq[(String, Seq[String])])])] =
    bucketing.flatMap { case (keys, n) =>
      if (live.nonEmpty && live.forall(_._1.contains("/__b="))) {
        val byBucket = live.groupBy(df => df._1.split("/__b=", 2)(1).toInt)
        Some((keys, n, (0 until n).map(b => b -> byBucket.getOrElse(b, Seq.empty))))
      } else None
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Bucketed layouts report key-grouped partitioning on the store's
    * bucket transform: joins/aggregations clustered on the bucket keys
    * skip their shuffle (storage-partitioned join when BOTH sides are
    * graft tables bucketed alike —
    * spark.sql.sources.v2.bucketing.enabled=true). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketGroups match {
      case Some((keys, n, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, keys: _*)),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(files.size)
    }

  /** Dirs that suffice for a pushed LIMIT: with no pushed filters,
    * manifest row counts (minus DV tombstones) bound each dir's live
    * output exactly, so a prefix whose cumulative count reaches the
    * limit is all the scan needs to open. Any dir without stats, any
    * pushed filter, or a bucket-grouped (SPJ) layout keeps the full
    * set. */
  private def limitScheduled: Seq[(String, Seq[String])] = limit match {
    case Some(n) if pushed.isEmpty && live.forall(df => stats.contains(df._1)) =>
      // an accepted OFFSET consumes rows BEFORE the limit bites:
      // schedule enough dirs to cover both (covers either push order —
      // Spark pushes limit+offset combined or separately by plan shape)
      val target = n.toLong + offset.map(_.toLong).getOrElse(0L)
      var cum = 0L
      val picked = Seq.newBuilder[(String, Seq[String])]
      live.foreach { df =>
        if (cum < target) {
          picked += df
          val dv = dvDeleted.getOrElse(df._1, 0L)
          cum += math.max(0L, stats(df._1).rows - dv)
        }
      }
      picked.result()
    case _ => live
  }

  // bound comparisons reuse DirStats' total order: strings compare by
  // CODE POINT (== unsigned UTF-8 byte order, what parquet min/max and
  // Spark's ORDER BY use) — java.lang.String's UTF-16 code-unit order
  // disagrees for supplementary characters and would let the TopN
  // prune drop dirs that hold the true top-n
  private def ltAny(a: Any, b: Any): Boolean = graft.core.DirStats.lt(a, b)
  private def lteAny(a: Any, b: Any): Boolean = graft.core.DirStats.lte(a, b)

  /** Dirs that can hold a pushed ORDER BY <col> LIMIT n: walk dirs in
    * sort-bound order until their cumulative live rows reach n, take U
    * = the worst bound among them — no dir strictly beyond U can put a
    * row into the top-n. Dirs carrying nulls always stay (they win
    * under NULLS FIRST). With NULLS LAST a dir's countable
    * contribution is its non-null rows (conservatively minus every DV
    * tombstone, which only widens the kept set). Bails (full set) on
    * pushed filters, missing stats, or incomparable bounds. */
  private def topNScheduled: Option[Seq[(String, Seq[String])]] =
    topN.filter(_ => pushed.isEmpty).flatMap { case (c, asc, nullsFirst, n) =>
      try {
        val entries = live.map { df =>
          val st = stats.getOrElse(df._1, return None)
          val cs = st.cols.getOrElse(c, return None)
          val nulls = cs.nulls.getOrElse(return None)
          val dv = dvDeleted.getOrElse(df._1, 0L)
          val liveRows = math.max(0L, st.rows - dv)
          val countable =
            if (nullsFirst) liveRows
            else math.max(0L, st.rows - nulls - dv)
          if (nulls < st.rows && (cs.min.isEmpty || cs.max.isEmpty)) return None
          (df, cs.min, cs.max, nulls, countable)
        }
        val (nullDirs, valued) = entries.partition(e => e._2.isEmpty) // all-null dirs
        val sorted = valued.sortWith { (x, y) =>
          if (asc) ltAny(x._2.get, y._2.get) else ltAny(y._3.get, x._3.get)
        }
        var cum = 0L
        val prefix = sorted.takeWhile { e => val take = cum < n; cum += e._5; take }
        if (cum < n) return None // not enough rows bounded — keep all
        val bound = prefix.map(e => if (asc) e._3.get else e._2.get)
          .reduce((a, b) =>
            if (asc == ltAny(a, b)) b else a) // asc: worst max; desc: worst min
        val keep = valued.filter { e =>
          e._4 > 0 ||
            (if (asc) lteAny(e._2.get, bound) else lteAny(bound, e._3.get))
        } ++ nullDirs
        Some(keep.map(_._1))
      } catch { case _: IllegalArgumentException => None }
    }

  private def reads(dfs: Seq[(String, Seq[String])]): Seq[GraftFileRead] =
    GraftFileRead.of(dfs, dvSidecars, rowBase)

  override def planInputPartitions(): Array[InputPartition] = bucketGroups match {
    case Some((_, _, groups)) =>
      groups.map { case (b, dfs) =>
        GraftBucketInputPartition(b, reads(dfs)): InputPartition }.toArray
    case None =>
      val sched = topNScheduled.getOrElse(limitScheduled)
      offset match {
        case None => GraftInputPartition.packed(reads(sched))
        case Some(o) =>
          // drop whole leading dirs by live count; the boundary dir is
          // a single file (the builder's acceptance condition) whose
          // reader skips the remainder of the offset
          var toSkip = o.toLong
          val parts = Seq.newBuilder[InputPartition]
          sched.foreach { case (d, fs) =>
            if (toSkip == 0L)
              reads(Seq(d -> fs)).foreach(r => parts += GraftInputPartition(Seq(r)))
            else {
              // stats exist through the boundary dir (the builder's
              // acceptance condition); past it this branch never runs
              val dv = dvDeleted.getOrElse(d, 0L)
              val liveRows = math.max(0L, stats(d).rows - dv)
              if (toSkip >= liveRows) toSkip -= liveRows // dir fully skipped
              else reads(Seq(d -> fs)).foreach { r =>
                parts += GraftInputPartition(Seq(r), skipLive = toSkip)
                toSkip = 0L
              }
            }
          }
          parts.result().toArray
      }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, fullSchema, pushed, colmap = colmap)
  override def description(): String =
    s"graft parquet scan, ${files.size} files" +
      s" (stats pruning: $dirsScanned/$dirsTotal dirs)" +
      runtimePrunedFrom.map(b => s" (runtime pruning: $dirsScanned/$b dirs)").getOrElse("") +
      (if (dvSidecars.nonEmpty) s" (dv columnar-skip: ${dvSidecars.size} dirs)" else "") +
      limit.filter(_ => pushed.isEmpty && bucketGroups.isEmpty).map(n =>
        s" (PushedLimit: $n -> ${limitScheduled.size}/${live.size} dirs)").getOrElse("") +
      topN.filter(_ => bucketGroups.isEmpty).flatMap(t => topNScheduled.map(k =>
        s" (PushedTopN: ${t._1} ${if (t._2) "ASC" else "DESC"} ${t._4}" +
          s" -> ${k.size}/${live.size} dirs)")).getOrElse("") +
      offset.map(o => s" (PushedOffset: $o)").getOrElse("") +
      s", PushedFilters: [${pushed.mkString(", ")}]"

  /** File-size statistics for the optimizer: lets Spark pick broadcast
    * joins over graft tables and size AQE partitions sensibly instead
    * of assuming the default (huge) relation size. */
  // computed ONCE per scan: the planner may consult estimateStatistics
  // repeatedly during join planning, and this walks a syscall per file
  private lazy val estimatedBytes: Long = files.map(f =>
    try Files.size(Paths.get(f)) catch { case _: Exception => 0L }).sum
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = estimatedBytes
    // exact row count when every live dir carries manifest stats —
    // Spark's join-strategy and AQE decisions see real cardinality
    private val rows: Option[Long] =
      if (live.forall(df => stats.contains(df._1)))
        Some(live.map(df => stats(df._1).rows).sum -
          live.map(df => dvDeleted.getOrElse(df._1, 0L)).sum)
      else None
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    // column-level statistics for the cost-based optimizer: per-dir
    // manifest [min,max,nulls] fold into table bounds — with
    // spark.sql.cbo + planStats enabled, join reorder and broadcast
    // decisions see real value ranges instead of guessing. Only
    // columns every live dir has reliable stats for are reported.
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (!live.forall(df => stats.contains(df._1))) return out
      val dirStats = live.map(df => stats(df._1))
      fullSchema.fields.foreach { f =>
        val per = dirStats.map(ds => ds.cols.get(f.name).map(ds -> _))
        if (per.forall(_.isDefined)) {
          val cs = per.map(_.get)
          // a bound is known when every dir either carries it or is
          // provably all-null for the column (contributes no values)
          val boundsOk = cs.forall { case (ds, c) =>
            c.min.isDefined || c.nulls.contains(ds.rows) }
          val mins = cs.flatMap(_._2.min)
          val maxs = cs.flatMap(_._2.max)
          val nulls = cs.map(_._2.nulls)
          val st = new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def min(): java.util.Optional[Object] =
              if (!boundsOk || mins.isEmpty) java.util.Optional.empty()
              else java.util.Optional.of(MetadataAggregate.internal(
                mins.reduce((a, b) => if (graft.core.DirStats.lt(a, b)) a else b),
                f.dataType).asInstanceOf[Object])
            override def max(): java.util.Optional[Object] =
              if (!boundsOk || maxs.isEmpty) java.util.Optional.empty()
              else java.util.Optional.of(MetadataAggregate.internal(
                maxs.reduce((a, b) => if (graft.core.DirStats.lt(a, b)) b else a),
                f.dataType).asInstanceOf[Object])
            override def nullCount(): java.util.OptionalLong =
              if (nulls.exists(_.isEmpty)) java.util.OptionalLong.empty()
              else java.util.OptionalLong.of(nulls.flatten.sum)
          }
          out.put(org.apache.spark.sql.connector.expressions.Expressions
            .column(f.name), st)
        }
      }
      out
    }
  }

  /** Structured-streaming face of a store table: each committed version
    * is an offset; a micro-batch reads the parquet files the manifests
    * ADDED between two versions (Delta-style append-driven feed). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (root, table) = streamSource.getOrElse(
      throw new UnsupportedOperationException("this scan is not backed by a store table"))
    new GraftMicroBatchStream(root, table, required, fullSchema, streamMaxVersions)
  }
}

/** Parsing of runtime (DPP) predicates into prune inputs. */
object GraftRuntimeValues {
  import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}

  /** `col IN (v...)` / `col = v` -> (column, catalyst-internal values);
    * None for any other shape (no runtime pruning). */
  def inValues(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Seq[Any])] = p.name() match {
    case "IN" | "=" =>
      val ch = p.children()
      ch.headOption.collect {
        case r: NamedReference if r.fieldNames().length == 1 => r.fieldNames()(0)
      }.flatMap { colName =>
        val vals = ch.drop(1).collect { case l: VLiteral[_] => l.value().asInstanceOf[Any] }
        if (vals.length == ch.length - 1 && vals.nonEmpty) Some(colName -> vals.toSeq)
        else None
      }
    case _ => None
  }

  /** The store-layout bucket of one catalyst-internal value — the same
    * murmur3-seed-42 pmod as `Bucketing.expr`, the catalog `bucket`
    * function, and the bucketed writer. None if the value is null. */
  def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType, n: Int): Option[Int] =
    Option(v).map { value =>
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(value, dt, 42L).toInt
      val b = h % n
      if (b < 0) b + n else b
    }
}

/** The scan side of a group-based row-level operation (SQL UPDATE /
  * MERGE INTO): implements [[SupportsRuntimeV2Filtering]] on `_file` so
  * Spark's runtime group filter can reduce the rewrite to the files
  * that contain matching rows. File sets widen to whole manifest dirs —
  * the commit granularity — so every row of a replaced dir flows
  * through the operation (non-matching rows copy through unchanged). */
class GraftRowLevelScan(fullSchema: StructType, required: StructType,
                        dirFiles: Seq[(String, Seq[String])],
                        onTouched: Set[String] => Unit,
                        dvSidecars: Map[String, Seq[String]] = Map.empty,
                        colmap: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsRuntimeV2Filtering {

  private var live: Seq[(String, Seq[String])] = dirFiles

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftFileMeta.Name))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.iterator.flatMap(GraftFileMeta.inFiles).nextOption().foreach { matched =>
      live = dirFiles.filter(_._2.exists(matched.contains))
      onTouched(live.map(_._1).toSet)
    }

  override def planInputPartitions(): Array[InputPartition] =
    GraftFileRead.of(live, dvSidecars)
      .map(r => GraftInputPartition(Seq(r)): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, fullSchema, Array.empty, colmap = colmap)
  override def description(): String =
    s"graft row-level scan, ${live.size}/${dirFiles.size} dirs"
}

/** DESCRIBE HISTORY as a SQL metadata table:
  *   SELECT * FROM graft.<t>.history
  * One row per committed version — commit time, live dir count, and the
  * metadata-only row count (null where stats are incomplete). Planned
  * as a LocalScan: zero data files read, like `CALL system.history`. */
class GraftHistoryTable(root: String, table: String)
    extends Table with SupportsRead {
  private def store = new TableStore(SparkSession.active, root)

  override def name(): String = s"$table.history"
  override def schema(): StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("committed_at", TimestampType),
    StructField("n_dirs", IntegerType),
    StructField("approx_rows", LongType)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      val rows = store.history(table).collect().map { r =>
        org.apache.spark.sql.catalyst.InternalRow(
          r.getLong(0), r.getTimestamp(1).getTime * 1000L,
          r.getInt(2), if (r.isNullAt(3)) null else r.getLong(3))
      }
      new GraftMetadataScan(schema(), rows, s"history of $table")
    }
}

/** DESCRIBE DETAIL-style file inventory as a SQL metadata table:
  *   SELECT * FROM graft.<t>.files
  * One row per live manifest dir of the CURRENT version — file count,
  * on-disk bytes (a filesystem listing, no file content read), the
  * manifest's exact row count and per-column min/max/null stats
  * (JSON), and the deletion-vector tombstone count. This is the
  * operational view behind compaction/clustering decisions: small-file
  * pressure, skew across dirs, stats coverage. */
class GraftFilesTable(root: String, table: String)
    extends Table with SupportsRead {
  private def store = new TableStore(SparkSession.active, root)

  override def name(): String = s"$table.files"
  override def schema(): StructType = StructType(Seq(
    StructField("dir", StringType),
    StructField("n_files", IntegerType),
    StructField("bytes", LongType),
    StructField("rows", LongType),
    StructField("dv_deleted", LongType),
    StructField("column_stats", StringType)))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      // .option("version", v): the inventory of a historical snapshot
      // (dirs may have been vacuumed — their bytes then read 0/absent)
      val snap = Option(options.get("version")).map(_.toLong)
        .map(store.snapshotAt(table, _)).getOrElse(store.snapshot(table))
      val byDir = snap.filesByDir(store, table).toMap
      val rows = snap.dirs.map { d =>
        val fs = byDir.getOrElse(d, Seq.empty)
        // a file can vanish between the listing and the size call
        // (concurrent vacuum of this historical snapshot) — read 0,
        // matching the documented "bytes then read 0/absent" behavior
        val bytes = fs.map(f =>
          try Files.size(Paths.get(f)) catch { case _: Exception => 0L }).sum
        val st = snap.stats.get(d)
        def jstr(x: String): String = // string bounds can carry quotes etc.
          "\"" + x.flatMap {
            case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
            case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
          } + "\""
        val statsJson = st.map { s =>
          s.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
            val parts = Seq(
              cs.min.map(v => s""""min":${jstr(v.toString)}"""),
              cs.max.map(v => s""""max":${jstr(v.toString)}"""),
              cs.nulls.map(n => s""""nulls":$n""")).flatten
            s"${jstr(c)}:{${parts.mkString(",")}}"
          }.mkString("{", ",", "}")
        }
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(d), fs.size,
          bytes, st.map(_.rows).map(Long.box).orNull,
          Long.box(snap.dvs.get(d).map(_.deleted).getOrElse(0L)),
          statsJson.map(UTF8String.fromString).orNull)
      }.toArray
      new GraftMetadataScan(schema(), rows, s"file inventory of $table")
    }
}

/** `graft.<t>.rowids`: the table with its stable row id attached as a
  * REAL schema column — the STREAMING surface for row tracking.
  * DSv2 streaming scans are built before column resolution, so a
  * METADATA column can never reach a streaming reader factory (the
  * batch surface uses `SELECT _row_id FROM graft.<t>`); here the id is
  * part of the schema, so both batch and `readStream.table` carry it.
  * Per-micro-batch files resolve their base from that batch's
  * end-snapshot manifest ([[GraftMicroBatchStream]]); ids are exactly
  * the ones the metadata column and `readWithRowIds` report. */
class GraftRowIdsTable(root: String, tableName: String)
    extends Table with SupportsRead {
  private def store: TableStore = new TableStore(SparkSession.active, root)
  private lazy val snap = store.snapshot(tableName)

  override def name(): String = s"$tableName.rowids"
  override def schema(): StructType = {
    require(snap.rowTracking,
      s"row tracking is not enabled on $tableName — CALL graft.system.enable_row_tracking first")
    StructType(snap.schema.fields :+
      StructField(GraftRowIdMeta.Name, LongType, nullable = true))
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftScanBuilder.forSnapshot(store, root, tableName, snap, schema(),
      options, snap.filesByDir(store, tableName))
}

/** The CHANGE DATA FEED as a SQL metadata table:
  *   SELECT * FROM graft.<t>.changes
  *   spark.read.option("startVersion", a).option("endVersion", b)
  *     .table("graft.<t>.changes")
  *   spark.readStream.option("startVersion", a)
  *     .table("graft.<t>.changes")               -- streaming CDF
  * Columns = the table's schema + _change_type + _commit_version.
  * Planning lists the change files through
  * [[graft.core.TableStore.changeFiles]] (recorded `_cdf` dirs,
  * synthesized appends/drops/full-replaces with their lazy DV
  * references); they then read like table files — packed into shared
  * tasks and decoded columnar by [[GraftReaderFactory]] — with each
  * file's change kind and commit version as per-file constant columns.
  * `startVersion` is EXCLUSIVE on both surfaces ((start, end], matching
  * readChangesBetween); a STREAM without it starts at the CURRENT
  * version — only new changes flow, the Delta readChangeFeed default.
  * Streaming honors `maxVersionsPerTrigger` + Trigger.AvailableNow. */
class GraftChangesTable(root: String, table: String)
    extends Table with SupportsRead {
  private def store = new TableStore(SparkSession.active, root)
  private lazy val snap = store.snapshot(table)
  private lazy val base = snap.schema

  override def name(): String = s"$table.changes"
  /** Row-tracked tables surface each change row's stable `_row_id`. */
  override def schema(): StructType = GraftChangesScan.schema(base, snap.rowTracking)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def opt(k: String) = Option(options.get(k)).map(_.toLong)
    val (start, end) = (opt("startVersion"), opt("endVersion"))
    GraftChangesScan.builder(schema()) { required =>
      new GraftChangesScan(table, base, required, snap.colmap, () => {
        val st = store
        st.changeFiles(table, start.getOrElse(-1L), end.getOrElse(st.currentVersion(table)))
      }) {
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new GraftChangeFeedStream(root, table, base, required,
            start, opt("maxVersionsPerTrigger"))
      }
    }
  }
}

/** The change files of one version range as the library face reads
  * them ([[graft.core.TableStore.readChangesBetween]]): the list
  * resolved when the frame was built, decoded under one version's
  * logical schema `base` and column mapping, with `_row_id` when
  * `rowId`. Read-only, and named by no catalog. */
class GraftChangeFilesTable(table: String, base: StructType, colmap: Map[String, String],
                            rowId: Boolean, files: Seq[GraftFileRead])
    extends Table with SupportsRead {
  override def name(): String = s"$table.changes"
  override def schema(): StructType = GraftChangesScan.schema(base, rowId)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftChangesScan.builder(schema())(
      new GraftChangesScan(table, base, _, colmap, () => files))
}

object GraftChangesScan {
  /** The per-file constant columns trailing every change scan's data
    * columns. */
  val Consts: StructType = StructType(Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false)))

  /** A change table's columns: the logical schema `base`, then
    * `_row_id` when asked for (nullable: commits that predate
    * tracking, or copy-on-write rewrites, can't attribute one), then
    * the constants. */
  def schema(base: StructType, rowId: Boolean): StructType = StructType(base.fields ++
    (if (rowId) Seq(StructField(GraftRowIdMeta.Name, LongType, nullable = true)) else Nil) ++
    Consts.fields)

  /** A change table's scan builder: the constants are free per-file
    * columns, so pruning always keeps both and every change file
    * carries the same constant row. */
  def builder(full: StructType)(scan: StructType => Scan): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = full
      override def pruneColumns(s: StructType): Unit =
        required = StructType(s.fields.filterNot(f =>
          Consts.fieldNames.contains(f.name)) ++ Consts.fields)
      override def build(): Scan = scan(required)
    }

  /** Change files (data AND `_cdf`) carry PHYSICAL names; physical
    * identities are stable across renames, so one version's mapping
    * reads files of every version. */
  def readerFactory(base: StructType, required: StructType,
                    colmap: Map[String, String]): PartitionReaderFactory =
    new GraftReaderFactory(required, base, Array.empty, colmap = colmap, constSchema = Consts)
}

/** A change-feed scan of the files `files` lists when Spark plans it,
  * decoded under `base` and `colmap`. */
class GraftChangesScan(table: String, base: StructType, required: StructType,
                       colmap: Map[String, String], files: () => Seq[GraftFileRead])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    GraftInputPartition.packed(files())
  override def createReaderFactory(): PartitionReaderFactory =
    GraftChangesScan.readerFactory(base, required, colmap)
  override def description(): String =
    s"graft change-feed scan of $table"
}

/** Streaming CHANGE DATA FEED over TableStore versions: each
  * micro-batch (a, b] delivers the change rows of those commits —
  * recorded `_cdf` dirs for row-level mutations, synthesized
  * inserts/deletes for appends/drops/replaces — so downstream
  * consumers see UPDATES and DELETES, not just appends (the
  * `readChangeFeed` analogue; [[GraftMicroBatchStream]] remains the
  * append-only fast path). A partial rewrite with no recorded change
  * data fails the query loudly, exactly like the batch surface. */
class GraftChangeFeedStream(root: String, table: String,
                            base: StructType, required: StructType,
                            startVersion: Option[Long],
                            protected val maxVersionsPerTrigger: Option[Long])
    extends GraftVersionedStreamBase {

  protected def store = new TableStore(SparkSession.active, root)
  protected def streamTable: String = table

  /** No startVersion -> start at the CURRENT version: only changes
    * committed after the stream starts flow (Delta's default). */
  override def initialOffset(): Offset =
    GraftStreamOffset(startVersion.getOrElse(store.currentVersion(table)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val e = end.asInstanceOf[GraftStreamOffset].v
    if (e <= s) Array.empty
    else GraftInputPartition.packed(store.changeFiles(table, s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftChangesScan.readerFactory(base, required, store.snapshot(table).colmap)
}

/** Offset = committed store version (-1 = before any data). */
case class GraftStreamOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** The shared offset/admission-control surface of the store's
  * version-granularity micro-batch streams (the append stream and the
  * change feed). ONE implementation of Trigger.AvailableNow end-pinning,
  * `maxVersionsPerTrigger` stepping, and offset (de)serialization, so
  * the two streams can never drift in batching behavior. */
trait GraftVersionedStreamBase
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  type Offset = org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  protected def store: TableStore
  protected def streamTable: String
  protected def maxVersionsPerTrigger: Option[Long]

  /** Trigger.AvailableNow: the end offset is PINNED at stream start —
    * every version committed before the trigger drains in the run's
    * batches, versions landing mid-run wait for the next trigger
    * (the contract prepareForTriggerAvailableNow documents). */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(store.currentVersion(streamTable))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  /** Admission control: `maxVersionsPerTrigger` bounds each micro-batch
    * to that many store versions past the start offset — a huge backlog
    * drains in bounded, checkpointable steps instead of one giant batch
    * (the Delta maxFilesPerTrigger pattern at version granularity).
    * Composes with Trigger.AvailableNow: batches step toward the pinned
    * cap and the query stops there. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = store.currentVersion(streamTable)
    val capped = availableNowCap.fold(cur)(math.min(cur, _))
    val s = start.asInstanceOf[GraftStreamOffset].v
    GraftStreamOffset(maxVersionsPerTrigger.fold(capped)(n => math.min(capped, s + n)))
  }
  override def reportLatestOffset(): Offset =
    GraftStreamOffset(store.currentVersion(streamTable))

  override def initialOffset(): Offset = GraftStreamOffset(-1L)
  override def latestOffset(): Offset =
    GraftStreamOffset(store.currentVersion(streamTable))
  override def deserializeOffset(json: String): Offset = GraftStreamOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** MicroBatchStream over TableStore versions: APPEND-ONLY tables only —
  * a batch between offsets (a, b] is "the dirs manifest b references
  * that manifest a didn't". A version that REMOVED dirs (overwrite,
  * merge, delete, compaction) or added deletion-vector tombstones fails
  * the stream loudly rather than silently replaying rewritten data —
  * the same default Delta takes (its ignoreChanges escape hatch is out
  * of scope). */
class GraftMicroBatchStream(root: String, table: String,
                            required: StructType, fullSchema: StructType,
                            protected val maxVersionsPerTrigger: Option[Long] = None)
    extends GraftVersionedStreamBase {

  protected def store = new TableStore(SparkSession.active, root)
  protected def streamTable: String = table

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val e = end.asInstanceOf[GraftStreamOffset].v
    if (e <= s) return Array.empty
    val st = store
    // the INITIAL batch (s < 0) is a snapshot read, not a replay: it
    // streams the end snapshot with its DVs applied (lazy per-file refs,
    // probed executor-side like the batch scan), so a table whose
    // history contains MoR deletes is still streamable from scratch.
    // An incremental batch takes the dirs its range appended, each step
    // checked append-only, whatever the batch boundaries.
    val snap = if (s < 0) st.snapshotAt(table, e) else st.appendedSnapshot(table, s, e)
    // `_row_id` on a stream: each batch's files carry their base from
    // the batch's end manifest
    GraftInputPartition.packed(GraftFileRead.of(snap.filesByDir(st, table),
      st.dvSidecarsByDir(table, snap.dvs), st.rowBaseByFile(table, snap.rowbase)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required, fullSchema, Array.empty,
      colmap = store.snapshot(table).colmap)
}

/** One file of a scan: its path, its LAZY deletion-vector reference
  * (manifest relpath, sidecar parquet files — probed executor-side via
  * [[GraftDvSidecars]]; None = no pending tombstones), the manifest
  * row-id base `_row_id` derives from, and the per-file constant
  * columns trailing the data columns (a change file's `_change_type`
  * and `_commit_version`; empty on a table scan). */
case class GraftFileRead(path: String,
                         dv: Option[(String, Seq[String])] = None,
                         // no-base sentinel: `_row_id` reads NULL
                         rowIdBase: Long = Long.MinValue,
                         consts: InternalRow = InternalRow.empty)

object GraftFileRead {
  /** The reads of manifest dirs' files: a file of a dir with sidecars
    * carries its lazy DV reference, a file with a manifest base its
    * row-id base, and every file the same constants. */
  def of(dirFiles: Seq[(String, Seq[String])],
         dvSidecars: Map[String, Seq[String]] = Map.empty,
         rowBase: Map[String, Long] = Map.empty,
         consts: InternalRow = InternalRow.empty): Seq[GraftFileRead] =
    dirFiles.flatMap { case (d, fs) =>
      val sc = dvSidecars.get(d)
      fs.map(f => GraftFileRead(f,
        sc.map(s"$d/${f.substring(f.lastIndexOf('/') + 1)}" -> _),
        rowBase.getOrElse(f, Long.MinValue), consts))
    }
}

/** Files read in order as one task; `skipLive` drops the first live
  * rows (the boundary file of a pushed OFFSET). */
case class GraftInputPartition(files: Seq[GraftFileRead], skipLive: Long = 0L)
    extends InputPartition

object GraftInputPartition {
  /** Small-file packing (the FilePartition bin-packing Spark's own file
    * source does): one task per FILE makes a 10^5-tiny-file table pay
    * 10^5 task launches (~3 ms each = the whole scan wall in
    * ProbeManifest's catScan). Greedy in-order packing with the
    * standard openCostInBytes padding per file, each bin aiming at an
    * even share of the bytes still unpacked over the bins still open —
    * never more bins than cores unless maxPartitionBytes caps a bin.
    * Big files keep one task each, small ones share. Order-preserving,
    * so dir locality and the limit/topN dir prefixes survive; the
    * chained reader is lazy, so a pushed LIMIT still stops early. */
  def packed(reads: Seq[GraftFileRead]): Array[InputPartition] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val cores = math.max(SparkSession.active.sparkContext.defaultParallelism, 1)
    // packing exists to cap TASK-LAUNCH overhead, which only bites when
    // files far outnumber cores; below that, per-file tasks keep the
    // parallelism a small hot table wants (packing everything under the
    // 4 MB openCost floor into one task serialized cdc1's apply-loop
    // scans and cost it 2.4 s on the bench — the floor is right for a
    // 10^5-file tail, wrong for a 32-file working table)
    if (reads.sizeIs <= 4 * cores)
      return reads.map(r => GraftInputPartition(Seq(r)): InputPartition).toArray
    val openCost = conf.filesOpenCostInBytes
    // a file gone since planning sizes as 0 here; its reader still
    // fails loudly when it opens the file
    val sizes: Seq[Long] = { import scala.collection.parallel.CollectionConverters._
      reads.par.map(r => openCost + (try Files.size(Paths.get(r.path))
        catch { case _: java.io.IOException => 0L })).seq }
    // openCost is per-file PADDING in the bin arithmetic, not a bin
    // floor: flooring the bin size at openCost collapsed an accreted
    // ~200-tiny-file working table into a handful of tasks and
    // serialized its decode (the commit-dense job queries regressed
    // ~25% on the bench). An even share keeps ~parallelism bins on
    // small tables — never fewer tasks than the session can use —
    // while the maxPartitionBytes cap still bounds bins on the
    // 10^5-file tail.
    var unpacked = sizes.sum
    var binsOpen = cores
    val parts = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[GraftFileRead]
    var bytes = 0L
    reads.iterator.zip(sizes.iterator).foreach { case (r, c) =>
      val target = math.min(conf.filesMaxPartitionBytes,
        math.max(unpacked / binsOpen, 1L))
      if (bytes > 0L && bytes + c > target) {
        parts += GraftInputPartition(cur.toSeq)
        unpacked -= bytes; binsOpen = math.max(binsOpen - 1, 1)
        cur.clear(); bytes = 0L
      }
      cur += r; bytes += c
    }
    parts += GraftInputPartition(cur.toSeq)
    parts.result()
  }
}

/** One hash bucket's files as a single input partition, keyed for
  * Spark's key-grouped (storage-partitioned) execution. */
case class GraftBucketInputPartition(bucket: Int, files: Seq[GraftFileRead])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Sequentially chains per-file readers for multi-file partitions. */
class GraftChainedReader[T](mk: Seq[() => PartitionReader[T]])
    extends PartitionReader[T] {
  private val iter = mk.iterator
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!iter.hasNext) return false
        cur = iter.next()()
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** COLUMN MAPPING at the parquet boundary: logical schema/filter names
  * become the PHYSICAL names files carry. Rows are positional, so only
  * the names handed to parquet-mr change; `_file` (metadata column) is
  * never renamed. Unknown filter shapes are dropped from pushdown
  * (sound: Spark re-evaluates every filter above the scan). */
object ColPhys {
  def schema(s: StructType, colmap: Map[String, String]): StructType =
    if (colmap.isEmpty) s
    else StructType(s.map(f =>
      if (f.name == GraftFileMeta.Name || f.name == GraftPosMeta.Name ||
        f.name == GraftRowIdMeta.Name) f
      else f.copy(name = colmap.getOrElse(f.name, f.name))))
  def filters(fs: Array[Filter], colmap: Map[String, String]): Array[Filter] =
    if (colmap.isEmpty) fs else fs.flatMap(rename(_, colmap))
  private def rename(f: Filter, cm: Map[String, String]): Option[Filter] = {
    def p(a: String) = cm.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(p(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(p(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(p(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(p(a), v))
      case LessThan(a, v) => Some(LessThan(p(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(p(a), v))
      case SIn(a, vs) => Some(SIn(p(a), vs))
      case IsNull(a) => Some(IsNull(p(a)))
      case IsNotNull(a) => Some(IsNotNull(p(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(p(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(p(a), v))
      case StringContains(a, v) => Some(StringContains(p(a), v))
      case SAnd(l, r) => for { a <- rename(l, cm); b <- rename(r, cm) } yield SAnd(a, b)
      case SOr(l, r) => for { a <- rename(l, cm); b <- rename(r, cm) } yield SOr(a, b)
      case SNot(x) => rename(x, cm).map(SNot)
      case _ => None
    }
  }
}

/** Reads [[GraftInputPartition]]s and [[GraftBucketInputPartition]]s
  * through [[GraftColumnarPartitionReader]], the one Parquet decoder:
  * each partition's files in order, each with its own deletion vector,
  * row-id base and constant columns. `constSchema` names the per-file
  * constant columns, which must trail the data columns of `required0`.
  * Built on the driver, once per scan. */
class GraftReaderFactory(required0: StructType, fullSchema0: StructType,
                         pushed0: Array[Filter],
                         colmap: Map[String, String] = Map.empty,
                         constSchema: StructType = new StructType())
    extends PartitionReaderFactory {
  require(required0.fields.takeRight(constSchema.length).sameElements(constSchema.fields),
    s"constant columns ${constSchema.simpleString} must trail ${required0.simpleString}")
  // translate once at construction; everything below speaks physical
  private val required =
    ColPhys.schema(StructType(required0.fields.dropRight(constSchema.length)), colmap)
  private val fullSchema = ColPhys.schema(fullSchema0, colmap)
  private val pushed = ColPhys.filters(pushed0, colmap)
  /** The session's Hadoop conf (`spark.hadoop.*`, the store's local
    * file system), broadcast once per scan as Spark's file scans do. */
  private val conf = {
    val spark = SparkSession.active
    spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }
  /** Files with a deletion vector read WITHOUT parquet-mr skipping (the
    * running row count must equal the file row index) and drop the
    * tombstoned positions; Spark re-applies all filters above the scan
    * so losing their pushdown on these files is purely an I/O cost on
    * exactly the files that have pending deletes. `_pos` and `_row_id`
    * (id = base + file position) need the same sequential guarantee on
    * every file. */
  private val noSkip = required.fieldNames.contains(GraftPosMeta.Name) ||
    required.fieldNames.contains(GraftRowIdMeta.Name)
  private def dvOf(r: GraftFileRead): Array[Long] = r.dv match {
    case Some((rel, files)) => GraftDvSidecars.positions(files, rel, conf.value.value)
    case None => Array.empty
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft scans read columnar batches only")

  /** Every partition decodes through Spark's vectorized parquet reader
    * (ColumnarBatch straight into whole-stage codegen): per-file
    * constants and `_file` as constant vectors, `_pos`/`_row_id` built
    * per batch. Files carrying a deletion vector and the boundary file
    * of a pushed OFFSET pass through [[GraftDvSkipColumnarReader]]. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (files, skipLive) = partition match {
      case GraftBucketInputPartition(_, fs) => (fs, 0L)
      case GraftInputPartition(fs, skip) => (fs, skip)
    }
    // the planner gives an OFFSET boundary its own one-file partition
    require(skipLive == 0L || files.size == 1, s"OFFSET skip over ${files.size} files")
    new GraftChainedReader(files.map { f => () =>
      val dv = dvOf(f)
      val r = new GraftColumnarPartitionReader(f.path, conf.value.value, required,
        if (noSkip || dv.nonEmpty) Array.empty else pushed, fullSchema, constSchema,
        f.consts, f.rowIdBase)
      if (dv.isEmpty && skipLive == 0L) r else new GraftDvSkipColumnarReader(r, dv, skipLive)
    })
  }
}

/** Executor-side deletion-vector resolution: probe the (relpath,
  * pos)-sorted sidecar parquet for ONE data file's tombstone positions.
  * The pushed `relpath` equality skips row groups and pages, and the
  * sidecar's sorted layout makes each probe O(this file's tombstones)
  * I/O —
  * the driver never materializes any position (contrast the old
  * planning-time collect, which held every pending tombstone of the
  * table in driver memory). */
object GraftDvSidecars {
  // Executor-local probe cache: without it a DV'd dir with F files
  // rescans its sidecars F times PER QUERY (each probe opens every
  // sidecar for a footer read + filtered read — O(files x sidecars)
  // footer I/O, r6 ADVICE). Sidecar parquet is immutable once written —
  // a new DV version writes NEW sidecar files, changing the key — so
  // entries never go stale; they only evict. Bounded by total cached
  // positions (~128 MB), LRU order, so a huge tombstone backlog can't
  // pin executor memory.
  private val MaxCachedLongs = 16L << 20
  private var cachedLongs = 0L
  private val cache =
    new java.util.LinkedHashMap[(Seq[String], String), Array[Long]](64, 0.75f, true)

  def positions(sidecarFiles: Seq[String], relpath: String,
                conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val key = (sidecarFiles, relpath)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) return hit
    val arr = probe(sidecarFiles, relpath, conf)
    cache.synchronized {
      if (cache.get(key) == null) { // concurrent probes: first write wins
        cache.put(key, arr)
        cachedLongs += arr.length
        val it = cache.entrySet().iterator()
        while (cachedLongs > MaxCachedLongs && it.hasNext) {
          cachedLongs -= it.next().getValue.length
          it.remove()
        }
      }
    }
    arr
  }

  private def probe(sidecarFiles: Seq[String], relpath: String,
                    conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val pushed: Array[Filter] = Array(EqualTo("relpath", relpath))
    val want = UTF8String.fromString(relpath)
    val buf = Array.newBuilder[Long]
    sidecarFiles.foreach { f =>
      val r = new GraftColumnarPartitionReader(f, conf, TableStore.TombstoneSchema, pushed,
        TableStore.TombstoneSchema)
      // the kept row groups and pages still hold other files' rows
      try while (r.next()) {
        val b = r.get()
        val (rel, pos) = (b.column(0), b.column(1))
        var i = 0
        while (i < b.numRows()) {
          if (want == rel.getUTF8String(i)) buf += pos.getLong(i)
          i += 1
        }
      } finally r.close()
    }
    val arr = buf.result()
    java.util.Arrays.sort(arr)
    arr
  }
}

/** Spark v1 [[Filter]] -> parquet-mr [[FilterPredicate]] for the
  * engine's flat data model. Unsupported shapes/types return None and
  * simply aren't pushed (Spark evaluates them post-scan regardless). */
object GraftFilters {

  def translate(f: Filter, schema: StructType): Option[FilterPredicate] = f match {
    case EqualTo(a, v) => leaf(a, schema, v, Op.Eq)
    case GreaterThan(a, v) => leaf(a, schema, v, Op.Gt)
    case GreaterThanOrEqual(a, v) => leaf(a, schema, v, Op.GtEq)
    case LessThan(a, v) => leaf(a, schema, v, Op.Lt)
    case LessThanOrEqual(a, v) => leaf(a, schema, v, Op.LtEq)
    case IsNull(a) => leaf(a, schema, null, Op.Eq)
    case IsNotNull(a) => leaf(a, schema, null, Op.NotEq)
    case SIn(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
      val parts = vs.toSeq.map(v => leaf(a, schema, v, Op.Eq))
      if (parts.forall(_.isDefined)) Some(parts.flatten.reduce(FilterApi.or))
      else None
    case SAnd(l, r) =>
      for (lp <- translate(l, schema); rp <- translate(r, schema))
        yield FilterApi.and(lp, rp)
    case SOr(l, r) =>
      for (lp <- translate(l, schema); rp <- translate(r, schema))
        yield FilterApi.or(lp, rp)
    case SNot(x) => translate(x, schema).map(FilterApi.not)
    case _ => None
  }

  private object Op extends Enumeration { val Eq, NotEq, Gt, GtEq, Lt, LtEq = Value }

  private def leaf(name: String, schema: StructType, value: Any,
                   op: Op.Value): Option[FilterPredicate] = {
    val field = schema.fields.find(_.name == name).getOrElse(return None)

    def cmp[T <: Comparable[T], C <: org.apache.parquet.filter2.predicate.Operators.Column[T]
            with org.apache.parquet.filter2.predicate.Operators.SupportsLtGt](
        column: C, v: T): Option[FilterPredicate] = Some(op match {
      case Op.Eq => FilterApi.eq(column, v)
      case Op.NotEq => FilterApi.notEq(column, v)
      case Op.Gt => FilterApi.gt(column, v)
      case Op.GtEq => FilterApi.gtEq(column, v)
      case Op.Lt => FilterApi.lt(column, v)
      case Op.LtEq => FilterApi.ltEq(column, v)
    })

    (field.dataType, value) match {
      // null value only arises from Is(Not)Null -> eq/notEq(col, null)
      case (LongType, null) => cmp(FilterApi.longColumn(name), null.asInstanceOf[java.lang.Long])
      case (LongType, v: java.lang.Long) => cmp(FilterApi.longColumn(name), v)
      case (LongType, v: java.lang.Integer) => cmp(FilterApi.longColumn(name), java.lang.Long.valueOf(v.longValue))
      case (IntegerType, null) => cmp(FilterApi.intColumn(name), null.asInstanceOf[java.lang.Integer])
      case (IntegerType, v: java.lang.Integer) => cmp(FilterApi.intColumn(name), v)
      case (DoubleType, null) => cmp(FilterApi.doubleColumn(name), null.asInstanceOf[java.lang.Double])
      case (DoubleType, v: java.lang.Double) => cmp(FilterApi.doubleColumn(name), v)
      case (FloatType, null) => cmp(FilterApi.floatColumn(name), null.asInstanceOf[java.lang.Float])
      case (FloatType, v: java.lang.Float) => cmp(FilterApi.floatColumn(name), v)
      case (BooleanType, null) =>
        // BooleanColumn supports only eq/notEq
        if (op == Op.Eq) Some(FilterApi.eq(FilterApi.booleanColumn(name), null.asInstanceOf[java.lang.Boolean]))
        else if (op == Op.NotEq) Some(FilterApi.notEq(FilterApi.booleanColumn(name), null.asInstanceOf[java.lang.Boolean]))
        else None
      case (BooleanType, v: java.lang.Boolean) =>
        if (op == Op.Eq) Some(FilterApi.eq(FilterApi.booleanColumn(name), v))
        else if (op == Op.NotEq) Some(FilterApi.notEq(FilterApi.booleanColumn(name), v))
        else None
      case (StringType, null) => cmp(FilterApi.binaryColumn(name), null.asInstanceOf[Binary])
      case (StringType, v: String) => cmp(FilterApi.binaryColumn(name), Binary.fromString(v))
      case (TimestampType | TimestampNTZType, null) =>
        cmp(FilterApi.longColumn(name), null.asInstanceOf[java.lang.Long])
      case (TimestampType | TimestampNTZType, v) =>
        micros(v).flatMap(m => cmp(FilterApi.longColumn(name), java.lang.Long.valueOf(m)))
      case (DateType, null) => cmp(FilterApi.intColumn(name), null.asInstanceOf[java.lang.Integer])
      case (DateType, v) =>
        days(v).flatMap(d => cmp(FilterApi.intColumn(name), java.lang.Integer.valueOf(d)))
      // INT64-backed decimals (precision 10..18) compare by unscaled
      // long; INT32-backed (<=9) are simply not pushed (post-scan filter
      // still applies them)
      case (d: DecimalType, null) if d.precision > 9 && d.precision <= 18 =>
        cmp(FilterApi.longColumn(name), null.asInstanceOf[java.lang.Long])
      case (d: DecimalType, v) if d.precision > 9 && d.precision <= 18 =>
        unscaled(v, d.scale).flatMap(u =>
          cmp(FilterApi.longColumn(name), java.lang.Long.valueOf(u)))
      case _ => None
    }
  }

  /** Decimal filter literal -> exact unscaled long at the column's
    * scale; None when the value doesn't fit the scale exactly (a
    * predicate like x > 1.005 over DECIMAL(10,2) is not pushable). */
  private def unscaled(v: Any, scale: Int): Option[Long] = {
    val jbd = v match {
      case b: java.math.BigDecimal => Some(b)
      case b: scala.math.BigDecimal => Some(b.bigDecimal)
      case b: org.apache.spark.sql.types.Decimal => Some(b.toJavaBigDecimal)
      case _ => None
    }
    jbd.flatMap { b =>
      try Some(b.setScale(scale).unscaledValue().longValueExact())
      catch { case _: ArithmeticException => None }
    }
  }

  private def micros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l))
    case _ => None
  }

  private def days(v: Any): Option[Int] = v match {
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case _ => None
  }
}
