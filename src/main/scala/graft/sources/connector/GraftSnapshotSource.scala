package graft.sources.connector

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{SnapshotLog, SnapshotTable}
import graft.sources.SnapshotTable.{FileEntry, Manifest}

/** DataSource V2 connector for [[graft.sources.SnapshotTable]]:
  * `spark.read.format("graft_snapshot").load(tableRoot)` (and
  * `readStream` — see [[SnapshotMicroBatchStream]]) instead of the
  * programmatic `SnapshotTable.scan`. What the V2 integration buys at
  * 100 TB, beyond API convenience:
  *
  *  - '''File skipping from pushed filters''' — Catalyst hands the
  *    scan its predicates ([[SupportsPushDownFilters]]); files whose
  *    manifest (min,max) stats or per-column blooms refute them are
  *    never opened. Every pushed filter is ALSO re-evaluated by Spark
  *    post-scan (we return them all as residual), so skipping is
  *    conservative-correct by construction — the same contract as
  *    `readRange`/`readEquals`, but driven by the query instead of a
  *    bespoke call.
  *  - '''Metadata-only aggregates''' ([[SupportsPushDownAggregates]])
  *    — un-filtered, un-grouped `COUNT(*)`/`MIN`/`MAX` over stats
  *    columns are answered straight from the manifest: zero data files
  *    opened, one one-row partition. COUNT is deletion-vector-exact
  *    (`liveRows`); MIN/MAX push only when no file carries a dv (a dv
  *    could have deleted the extremum) and every file has stats for
  *    the column. Anything else falls back to a normal scan.
  *  - '''Statistics for the optimizer'''
  *    ([[SupportsReportStatistics]]) — post-skipping row counts from
  *    the manifest, so a small snapshot dimension joins broadcast
  *    without hints.
  *  - '''Time travel''' via `.option("versionAsOf", v)`.
  *  - '''Streaming tail''' of the commit log
  *    (`TableCapability.MICRO_BATCH_READ`): each micro-batch is the
  *    set of files a range of versions APPENDED — the Delta-style
  *    "table as an exactly-once stream source".
  *
  * The one file reader ([[SnapshotColumnarFileReader]]) is
  * self-contained (no nested Spark jobs), masks deletion vectors and
  * pending equality deletes in-reader, and prunes columns at the
  * parquet level. Batch scans, micro-batch streams and the change feed
  * all read vectorized through it, so each takes every column type
  * Spark's parquet reader decodes (decimal, struct, map, nested
  * arrays, variant). This is the table's ONE masking
  * implementation: `SnapshotTable.scan` and the DML position scans
  * read masked files through it, the latter selecting the metadata
  * columns `_file` (data-file basename) and `_pos` (file-absolute row
  * index) that new deletion vectors are built from.
  */
class GraftSnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft_snapshot"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = GraftSnapshotSource.tableDir(options)
    // a not-yet-existing table infers an EMPTY schema: the
    // write path creates version 1 from the query schema
    // (ACCEPT_ANY_SCHEMA); the read path rejects an empty schema with
    // a precise error in newScanBuilder
    if (SnapshotTable.latestVersion(spark, dir).isEmpty &&
        options.get("versionAsOf") == null &&
        options.get("timestampAsOf") == null) return new StructType()
    val v = GraftSnapshotSource.requestedVersion(spark, dir, options)
      .orElse(SnapshotTable.latestVersion(spark, dir)).get
    // the log-recorded schema: one small-file read, no footer pass
    val table = SnapshotTable.tableSchema(spark, dir, v)
    // `readChangeFeed=true` reads the CHANGE FEED (row-level diffs
    // with change_type/commit_version) instead of the table — the
    // path-based twin of `cat.ns.t.changes`, batch AND streaming
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      ChangesTable.feedSchema(table)
    else table
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val dir = GraftSnapshotSource.tableDir(
      new CaseInsensitiveStringMap(properties))
    // path-based access inherits the table's declared layout exactly
    // like the catalog path does: a bucketed table written through
    // `df.write/writeStream.format("graft_snapshot").option("path",…)`
    // must keep staging per-bucket-pure files, or the first such epoch
    // silently costs the table its storage-partitioned joins
    new SnapshotV2Table(schema, dir, tableProps = GraftTableProps.read(
      SparkSession.active.sparkContext.hadoopConfiguration, dir))
  }
}

object GraftSnapshotSource {
  /** The explicitly-requested version pin, if any: `versionAsOf` (a
    * commit number OR a tag name — see [[SnapshotTable.createTag]]) or
    * `timestampAsOf` (epoch millis or `yyyy-MM-dd[ HH:mm:ss]`),
    * mutually exclusive. */
  private[connector] def requestedVersion(spark: SparkSession, dir: String,
      options: CaseInsensitiveStringMap): Option[Long] = {
    val v = Option(options.get("versionAsOf"))
    val t = Option(options.get("timestampAsOf"))
    require(v.isEmpty || t.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    v.map(SnapshotTable.resolveVersionToken(spark, dir, _))
      .orElse(t.map(s =>
        SnapshotTable.versionAt(spark, dir, SnapshotTable.parseInstantMs(s))))
  }

  /** The first version a STREAM (or bounded feed read) starts from:
    * `startingVersion` (a commit number or tag name) or
    * `startingTimestamp` (the EARLIEST version committed at or after
    * the instant — epoch-ms or `yyyy-MM-dd[ HH:mm:ss]`), mutually
    * exclusive. At-or-AFTER is the Delta contract and the CDC-safe
    * one: a consumer keyed to a wall-clock cutover must never replay
    * (and double-apply) the commit that preceded the instant. An
    * instant beyond the newest commit starts past history — replay
    * nothing, deliver only future commits. (`timestampAsOf` /
    * `endingTimestamp` keep [[SnapshotTable.versionAt]]'s at-or-before,
    * which is correct for "the table as of then".) */
  private[connector] def startVersion(spark: SparkSession, dir: String,
      options: CaseInsensitiveStringMap): Option[Long] = {
    val v = Option(options.get("startingVersion"))
    val t = Option(options.get("startingTimestamp"))
    require(v.isEmpty || t.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    v.map(SnapshotTable.resolveVersionToken(spark, dir, _))
      .orElse(t.map(s =>
        SnapshotTable.versionAtOrAfter(spark, dir, SnapshotTable.parseInstantMs(s))))
  }

  private[connector] def tableDir(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft_snapshot requires a path: spark.read.format(\"graft_snapshot\").load(tableRoot)"))

  /** The internal file-subset option ([[resolveManifest]]). */
  private[graft] val FileSubsetOption = "graft.fileSubset"

  /** The manifest a read resolves against: `versionAsOf` or newest.
    * The INTERNAL `graft.fileSubset` option (comma-separated
    * manifest-relative data-file PATHS — full paths, not basenames:
    * two manifest entries in distinct subdirectories could share a
    * basename, and a basename match would then fail a legitimate
    * subset read or silently include the twin) restricts the read to
    * a subset of the version's files — [[SnapshotTable]]'s own reads
    * use it to route masked files (and position scans) through the
    * connector's in-reader masking; manifests are immutable, so a
    * (version, subset) read is exactly as well-defined as the whole
    * version. Such a read also skips the read-time pending-key cap
    * (see [[SnapshotScan.createReaderFactory]]). */
  private[connector] def resolveManifest(spark: SparkSession, dir: String,
                                         options: CaseInsensitiveStringMap): Manifest = {
    val v = requestedVersion(spark, dir, options)
      .orElse(SnapshotTable.latestVersion(spark, dir))
      .getOrElse(throw new IllegalStateException(s"no committed version under $dir"))
    val m = SnapshotTable.readManifest(spark, dir, v)
    // metadata-only answers (counts) must refuse a retired vector too
    m.files.find(_.dv.exists(_.legacy)).foreach(fe =>
      throw graft.sources.DeletionVectors.legacyRefusal(dir, fe.path))
    Option(options.get(FileSubsetOption)) match {
      case None => m
      case Some(s) =>
        val keep = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val hit = m.files.filter(fe => keep.contains(fe.path))
        require(hit.size == keep.size,
          s"graft.fileSubset names ${keep.size} file(s) but version $v of " +
            s"$dir contains ${hit.size} of them")
        m.copy(files = hit)
    }
  }
}

/** One snapshot table root exposed to the V2 catalog plumbing.
  * ACCEPT_ANY_SCHEMA: appends may widen the schema (snapshot reads
  * plan from the recorded union — older files surface new columns as
  * null), so Spark's output resolution is skipped and the table's own
  * write path validates. */
final class SnapshotV2Table(schema: StructType, dir: String,
                            pinnedVersion: Option[Long] = None,
                            tableProps: Map[String, String] = Map.empty)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = s"graft_snapshot($dir)"

  /** `_file` and `_pos`: each row's deletion-vector coordinate. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(SnapshotV2Table.FileCol -> StringType, SnapshotV2Table.PosCol -> LongType)
      .map { case (n, t) => new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = t
        override def isNullable(): Boolean = false
      } }

  /** A data column named `_file`/`_pos` renames the metadata column
    * instead of hiding it: `Dataset.metadataColumn` still finds it, so
    * position scans work on any schema. */
  override def canRenameConflictingMetadataColumns(): Boolean = true

  /** Catalog-persisted layout defaults (`statsCols`, `bloomCols`,
    * `clusterBy`, `clusterPartitions`): SQL `INSERT INTO` has no
    * writer options, so tables declare their layout ONCE as
    * TBLPROPERTIES and every write inherits it — explicit writer
    * options still win. Surfaced by SHOW TBLPROPERTIES. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  // NOTE deliberately NOT overriding Table.constraints(): Spark 4.1's
  // ResolveTableConstraints injects a CheckInvariant that resolves the
  // predicate BY NAME against the incoming query — on an
  // ACCEPT_ANY_SCHEMA table (positional writes are never renamed to
  // table names) that breaks every `INSERT … VALUES` at analysis,
  // enforced or not. CHECK constraints are instead enforced by the
  // write paths themselves against the STAGED batch
  // ([[SnapshotWriteSupport.enforceConstraints]]) — the same place
  // Delta puts its invariant checker — and surfaced via
  // SHOW TBLPROPERTIES (`constraint.<name>`).

  /** For the DML translation rule ([[graft.plans.SnapshotRowLevelSql]]):
    * where the table lives, and whether it is time-travel-pinned. */
  private[graft] def tableDir: String = dir
  private[graft] def pinned: Option[Long] = pinnedVersion

  /** The declared layout as V2 partitioning transforms — what SHOW
    * CREATE TABLE renders as `PARTITIONED BY`, so the emitted DDL
    * reproduces the layout RUNNABLY (identity columns = clusterBy
    * range clustering, bucket(n, col) = the hash-bucket layout —
    * exactly the transforms [[GraftCatalog.createTable]] accepts).
    * The same keys still ride TBLPROPERTIES; CREATE derives identical
    * values from either, so the duplication is harmless. */
  override def partitioning(): Array[org.apache.spark.sql.connector
      .expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val cluster = tableProps.get("clusterBy").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map(c => Expressions.identity(c):
        org.apache.spark.sql.connector.expressions.Transform)
    val bucket = for {
      c <- tableProps.get("bucketBy")
      n <- tableProps.get("buckets")
    } yield Expressions.bucket(n.toInt, c):
      org.apache.spark.sql.connector.expressions.Transform
    (cluster ++ bucket).toArray
  }

  /** SQL `DELETE FROM … WHERE …` lands as deletion vectors: a commit
    * of the touched files' bitmaps, zero data files rewritten — the
    * merge-on-read cost class every 100 TB GDPR/retraction delete
    * needs.
    *
    * The V2 `Predicate` overloads are implemented DIRECTLY — never
    * trust the default v1 bridge, whose conversion is lossy: an
    * `OR(a % 2 = 0, key = 'k1')` condition reached the v1 overload as
    * just `EqualTo(key, k1)` (caught by ConnectorSpec), and a lossy
    * filter set on a DELETE is a silent wrong answer, not a missed
    * optimization. `canDeleteWhere` accepts only conditions that
    * translate WHOLE; Spark raises otherwise instead of deleting a
    * subset. Translating V2 predicates also widens the deletable
    * surface: arithmetic (`id % 2 = 0`), string predicates, casts. */
  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    pinnedVersion.isEmpty &&
      predicates.forall(SnapshotV2Table.v2ToColumn(_).isDefined)

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(pinnedVersion.isEmpty, "cannot DELETE from a time-traveled table")
    val cols = predicates.map(p => SnapshotV2Table.v2ToColumn(p).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate DELETE predicate ${p.describe()}")))
    SnapshotTable.deleteVectors(SparkSession.active, dir,
      cols.reduceOption(_ && _).getOrElse(lit(true)))
    ()
  }

  /** v1 overload (legacy callers): same whole-or-nothing contract. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty && filters.forall(SnapshotV2Table.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    require(pinnedVersion.isEmpty, "cannot DELETE from a time-traveled table")
    val cols = filters.map(f => SnapshotV2Table.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate DELETE filter $f")))
    SnapshotTable.deleteVectors(SparkSession.active, dir,
      cols.reduceOption(_ && _).getOrElse(lit(true)))
    ()
  }

  /** SQL `TRUNCATE TABLE`: one empty overwrite commit carrying the
    * schema forward — NOT a dv over every row (that sidecar would be
    * O(rows)); time travel to pre-truncate versions still works. */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val schemaJson = SnapshotTable.latestVersion(spark, dir)
      .map(v => SnapshotLog.tableSchemaJson(spark, dir, v))
      .getOrElse(schema.json)
    // keepMapping: truncation removes rows, not the rename history —
    // later appends keep writing the frozen physical names, uniform
    // with any pre-truncate (time-travel-readable) files
    SnapshotLog.commit(spark, dir, "truncate", Nil, carry = false,
      schemaJson = Some(schemaJson), keepMapping = true)
    true
  }

  override def schema(): StructType = schema

  override def capabilities(): java.util.Set[TableCapability] =
    // OVERWRITE_DYNAMIC (round-18): with partitioning() non-empty,
    // ResolveInsertInto routes plain INSERT OVERWRITE under
    // partitionOverwriteMode=dynamic to OverwritePartitionsDynamic,
    // which failed at analysis while the builder only truncated
    // OVERWRITE_BY_FILTER (round-18): REPLACE WHERE — static
    // partition-spec'd INSERT OVERWRITE and writeTo().overwrite(cond)
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (schema.isEmpty) throw new IllegalStateException(
      s"no committed version under $dir (or the version is empty); " +
        "nothing to read")
    // `readChangeFeed=true` routes to the change-feed scan/stream
    // (the path-based twin of `cat.ns.t.changes`); the TABLE schema is
    // re-read from the log — `schema` here is the FEED one the
    // provider inferred
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
      val spark = SparkSession.active
      val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"no committed version under $dir"))
      return new ChangesScanBuilder(dir,
        SnapshotTable.tableSchema(spark, dir, v), options)
    }
    // catalog time travel (`VERSION AS OF` / `TIMESTAMP AS OF`) pins
    // the version at table-resolution time; a per-read option wins
    val opts = pinnedVersion match {
      case Some(v) if options.get("versionAsOf") == null &&
          options.get("timestampAsOf") == null =>
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("versionAsOf", v.toString)
        new CaseInsensitiveStringMap(m)
      case _ => options
    }
    new SnapshotScanBuilder(schema, dir, opts, tableProps)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // layout TBLPROPERTIES act as write-option DEFAULTS (a SQL INSERT
    // carries no writer options); an explicit option always wins
    val layout = SnapshotV2Table.LayoutProps
      .flatMap(k => tableProps.get(k).map(k -> _)).toMap
    val merged =
      if (layout.isEmpty) info
      else {
        val m = new java.util.HashMap[String, String]()
        layout.foreach { case (k, v) => m.put(k, v) }
        m.putAll(info.options.asCaseSensitiveMap())
        val opts = new CaseInsensitiveStringMap(m)
        new org.apache.spark.sql.connector.write.LogicalWriteInfo {
          override def options(): CaseInsensitiveStringMap = opts
          override def queryId(): String = info.queryId()
          override def schema(): StructType = info.schema()
        }
      }
    new SnapshotWriteBuilder(dir, merged)
  }
}

object SnapshotV2Table {
  /** Metadata columns: the data-file basename (the key a deletion
    * vector records) and the file-absolute row index. */
  val FileCol = "_file"
  val PosCol = "_pos"
  /** Spark's marker on a metadata column: its logical name. */
  private[connector] val MetaKey =
    org.apache.spark.sql.catalyst.util.METADATA_COL_ATTR_KEY

  /** Table properties that act as write-layout defaults. */
  val LayoutProps: Seq[String] =
    Seq("statsCols", "bloomCols", "clusterBy", "clusterPartitions",
      "bucketBy", "buckets", "targetFileRows", "ndvCols",
      "replaceWhereValidate")

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{abs, col, lit}
  import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal}

  /** V2 expression → Column, total translation or None (a partial
    * translation of a DELETE condition would delete the wrong rows). */
  private[connector] def v2ToColumn(e: V2Expr): Option[Column] = {
    def bin(cs: Array[V2Expr])(f: (Column, Column) => Column): Option[Column] =
      for { l <- v2ToColumn(cs(0)); r <- v2ToColumn(cs(1)) } yield f(l, r)
    e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(col(r.fieldNames.head))
      case l: V2Literal[_] => literalColumn(l)
      case c: V2Cast => v2ToColumn(c.expression()).map(_.cast(c.dataType()))
      case p: V2Predicate => (p.name(), p.children()) match {
        case ("=", cs) if cs.length == 2 => bin(cs)(_ === _)
        case ("<>" | "!=", cs) if cs.length == 2 => bin(cs)(_ =!= _)
        case ("<=>", cs) if cs.length == 2 => bin(cs)(_ <=> _)
        case ("<", cs) if cs.length == 2 => bin(cs)(_ < _)
        case ("<=", cs) if cs.length == 2 => bin(cs)(_ <= _)
        case (">", cs) if cs.length == 2 => bin(cs)(_ > _)
        case (">=", cs) if cs.length == 2 => bin(cs)(_ >= _)
        case ("AND", cs) if cs.length == 2 => bin(cs)(_ && _)
        case ("OR", cs) if cs.length == 2 => bin(cs)(_ || _)
        case ("NOT", cs) if cs.length == 1 => v2ToColumn(cs(0)).map(!_)
        case ("IS_NULL", cs) if cs.length == 1 => v2ToColumn(cs(0)).map(_.isNull)
        case ("IS_NOT_NULL", cs) if cs.length == 1 =>
          v2ToColumn(cs(0)).map(_.isNotNull)
        case ("STARTS_WITH", cs) if cs.length == 2 => bin(cs)(_ startsWith _)
        case ("ENDS_WITH", cs) if cs.length == 2 => bin(cs)(_ endsWith _)
        case ("CONTAINS", cs) if cs.length == 2 => bin(cs)(_ contains _)
        case ("IN", cs) if cs.length >= 2 =>
          val vals = cs.tail.map(v2ToColumn)
          if (vals.exists(_.isEmpty)) None
          else v2ToColumn(cs.head).map(_.isInCollection(vals.map(_.get).toSeq))
        case ("ALWAYS_TRUE", _) => Some(lit(true))
        case ("ALWAYS_FALSE", _) => Some(lit(false))
        case _ => None
      }
      case g: GeneralScalarExpression => (g.name(), g.children()) match {
        case ("+", cs) if cs.length == 2 => bin(cs)(_ + _)
        case ("-", cs) if cs.length == 2 => bin(cs)(_ - _)
        case ("-", cs) if cs.length == 1 => v2ToColumn(cs(0)).map(-_)
        case ("*", cs) if cs.length == 2 => bin(cs)(_ * _)
        case ("/", cs) if cs.length == 2 => bin(cs)(_ / _)
        case ("%", cs) if cs.length == 2 => bin(cs)(_ % _)
        case ("ABS", cs) if cs.length == 1 => v2ToColumn(cs(0)).map(abs)
        case _ => None
      }
      case _ => None
    }
  }

  /** LiteralValue holds the CATALYST-internal value; rebuild a public
    * literal (UTF8String → String, DateType days → LocalDate, …). */
  private def literalColumn(l: V2Literal[_]): Option[Column] = l.dataType match {
    case StringType => Some(lit(if (l.value == null) null else l.value.toString))
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType => Some(lit(l.value))
    case DateType => Some(lit(
      java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong)))
    case TimestampType | TimestampNTZType =>
      val us = l.value.asInstanceOf[Long]
      Some(lit(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
        .cast(l.dataType))
    case _: DecimalType => Some(lit(
      l.value.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
    case _ => None
  }

  /** Whole-filter translation to a Column predicate (for DELETE):
    * None means "cannot express", and the caller must refuse the whole
    * operation rather than delete a superset or subset. */
  private[connector] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** Catalyst calls, in order: `pushFilters` → (if no residual Filter
  * node remains above the scan, which for us means the query had no
  * filters at all) `pushAggregation` → `pruneColumns` → `build`. */
final class SnapshotScanBuilder(tableSchema: StructType, dir: String,
                                options: CaseInsensitiveStringMap,
                                tableProps: Map[String, String] = Map.empty)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private def spark = SparkSession.active
  private lazy val manifest: Manifest =
    GraftSnapshotSource.resolveManifest(spark, dir, options)

  private var required: StructType = tableSchema
  /** Requested metadata columns, as Spark passed them (they trail the
    * data columns in the scan's output). Spark marks each with its
    * logical name, which a name conflict does not change. */
  private var meta: Seq[StructField] = Nil
  private var skipping: Array[Filter] = Array.empty
  private var agg: Option[(StructType, Array[Any])] = None

  /** Column mapping (ALTER RENAME): manifest stats/bloom keys and the
    * parquet files use PHYSICAL names; queries use logical ones. */
  private val physMap: Map[String, String] =
    tableSchema.fields.map(f => f.name -> SnapshotTable.physicalName(f))
      .filter { case (l, p) => l != p }.toMap
  private def phys(c: String): String = physMap.getOrElse(c, c)

  /** ALL filters come back as residual — Spark re-evaluates every one
    * post-scan, so manifest-level skipping only ever has to be
    * conservative (never exact). The skippable subset is retained for
    * file pruning and surfaces in `pushedFilters`/explain. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipping = filters.flatMap(SnapshotScan.atoms)
      .filter(SnapshotScan.usableForSkipping)
    filters
  }

  override def pushedFilters(): Array[Filter] = skipping

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (m, data) = requiredSchema.fields.toSeq.partition(
      _.metadata.contains(SnapshotV2Table.MetaKey))
    required = StructType(data)
    meta = m
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    planMetadataAgg(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // partial pushdown (false from supportCompletePushDown) is never
    // worth it here: a partial scan would still open every file
    agg = planMetadataAgg(aggregation)
    agg.isDefined
  }

  /** COUNT(*)/MIN/MAX answered from the manifest alone, or None.
    * COUNT is dv-exact (liveRows). MIN/MAX require: single-name
    * column with (min,max) stats in EVERY file, an integral column
    * type (stats are stored as Long), at least one live row, and NO
    * deletion vectors anywhere (a dv may have deleted the extremum;
    * stats describe the physical file). */
  private def planMetadataAgg(a: Aggregation): Option[(StructType, Array[Any])] = {
    if (a.groupByExpressions.nonEmpty) return None
    val m = manifest
    // pending EQUALITY deletes make every metadata answer an upper
    // bound (matched-row counts are unknown until read/fold) — fall
    // back to a real scan until purge_deletes/compact folds them
    if (m.files.exists(_.eqDv.nonEmpty)) return None
    val anyDv = m.files.exists(_.dv.isDefined)
    def statsCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          val name = r.fieldNames.head
          val integral = tableSchema.fields.find(_.name == name).map(_.dataType)
            .exists { case ByteType | ShortType | IntegerType | LongType => true; case _ => false }
          if (integral && !anyDv && m.totalRows > 0 &&
              m.files.forall(_.stats.contains(phys(name)))) Some(name) else None
        case _ => None
      }
    def fieldType(name: String): DataType =
      tableSchema.fields.find(_.name == name).get.dataType
    def internal(v: Long, dt: DataType): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    val planned: Array[Option[(StructField, Any)]] = a.aggregateExpressions.map {
      case _: CountStar =>
        Some((StructField("count(*)", LongType, nullable = false), m.totalRows))
      case f: Min =>
        statsCol(f.column).map { c =>
          val dt = fieldType(c)
          (StructField(s"min($c)", dt),
            internal(m.files.map(_.stats(phys(c))._1).min, dt))
        }
      case f: Max =>
        statsCol(f.column).map { c =>
          val dt = fieldType(c)
          (StructField(s"max($c)", dt),
            internal(m.files.map(_.stats(phys(c))._2).max, dt))
        }
      case _: AggregateFunc => None
    }
    if (planned.isEmpty || planned.exists(_.isEmpty)) None
    else Some((StructType(planned.map(_.get._1)), planned.map(_.get._2)))
  }

  /** Declared hash bucketing, resolved to the CURRENT logical column
    * name and its type: `bucketBy` is frozen at declaration (= the
    * physical name), so a later RENAME COLUMN is followed through the
    * mapping. None when undeclared or the column no longer exists. */
  private def bucketSpec: Option[(String, DataType, Int)] = {
    val logicalFor = physMap.map(_.swap)
    for {
      c <- tableProps.get("bucketBy")
      n <- tableProps.get("buckets").map(_.toInt) if n > 0
      logical = logicalFor.getOrElse(c, c)
      f <- tableSchema.fields.find(_.name == logical)
    } yield (logical, f.dataType, n)
  }

  override def build(): Scan = {
    new SnapshotScan(dir, () => manifest, required, skipping, agg, options,
      physMap, bucketSpec, meta)
  }
}

/** Batch scan: manifest files surviving stats/bloom skipping, one
  * input partition per file. Doubles as the streaming scan factory.
  *
  * Also a [[SupportsRuntimeFiltering]] target: when this table is the
  * probe side of a join whose build side is small, Spark materializes
  * the build-side join keys first and hands them here as an `In`
  * filter — dynamic file pruning, the join-driven analogue of the
  * static skipping above (at 100 TB this is the difference between
  * scanning the fact table and scanning the handful of files whose
  * key ranges the dimension actually hits). Runtime filters prune
  * through the same conservative stats/bloom verdicts and, like every
  * pushed filter, are re-evaluated by Spark post-scan. */
final class SnapshotScan(private val dir: String, manifestF: () => Manifest,
                         private val required: StructType,
                         private val skipping: Array[Filter],
                         private val agg: Option[(StructType, Array[Any])],
                         options: CaseInsensitiveStringMap,
                         physMap: Map[String, String] = Map.empty,
                         bucketSpec: Option[(String, DataType, Int)] = None,
                         private val meta: Seq[StructField] = Nil)
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private lazy val manifest = manifestF()
  private val fileSubset = Option(options.get(GraftSnapshotSource.FileSubsetOption))

  private def phys(c: String): String = physMap.getOrElse(c, c)

  /** Schema as the FILES spell it (physical names) — what the
    * executor-side parquet readers must bind; output stays positional,
    * so the scan's logical readSchema is untouched. */
  private def physSchema(s: StructType): StructType =
    if (physMap.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = physMap.getOrElse(f.name, f.name))))

  @volatile private var runtimeSkipping: Array[Filter] = Array.empty

  /** Columns the manifest can skip on: any file carries stats or a
    * bloom for them — restricted to the scan's (pruned) output, which
    * is what the planner resolves these references against. */
  override def filterAttributes(): Array[NamedReference] = {
    val out = required.fieldNames.toSet
    val logicalFor = physMap.map(_.swap) // stats keys are physical
    val cols = manifest.files
      .flatMap(fe => fe.stats.keysIterator ++ fe.bloom.keysIterator)
      .distinct.map(k => logicalFor.getOrElse(k, k)).filter(out.contains)
    cols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeSkipping = filters.flatMap(SnapshotScan.atoms)
      .filter(SnapshotScan.usableForSkipping)

  /** Recomputed on demand: runtime filters may arrive between the
    * first planning pass and execution. */
  private def prunedFiles: Seq[FileEntry] = {
    val all = skipping ++ runtimeSkipping
    val statsPruned =
      manifest.files.filter(fe => all.forall(SnapshotScan.keeps(fe, _, phys)))
    // hash-bucket pruning: `key = v` / `key IN (…)` on the bucket
    // column keeps only the matching buckets' files — at n buckets an
    // equality read opens 1/n of the table with no stats at all.
    // Conservative by construction: files without a bucket id (written
    // outside the bucketed path) are always kept, and Spark re-applies
    // every filter post-scan.
    bucketSpec match {
      case Some((col, dt, n)) =>
        val targets: Option[Set[Int]] =
          (skipping ++ runtimeSkipping).foldLeft(Option.empty[Set[Int]]) {
            (acc, f) =>
              val thisOne: Option[Set[Int]] = f match {
                case org.apache.spark.sql.sources.EqualTo(c, v) if c == col =>
                  GraftBucket.ofLiteral(v, dt, n).map(Set(_))
                case org.apache.spark.sql.sources.In(c, vs) if c == col =>
                  val bs = vs.map(GraftBucket.ofLiteral(_, dt, n))
                  if (bs.exists(_.isEmpty)) None else Some(bs.flatten.toSet)
                case _ => None
              }
              (acc, thisOne) match {
                case (Some(a), Some(b)) => Some(a.intersect(b)) // conjuncts
                case (a, b) => a.orElse(b)
              }
          }
        targets match {
          case None => statsPruned
          case Some(bs) =>
            // a file prunes ONLY when its recorded bucket id was
            // written under the DECLARED count (bucketedUnder) — ids
            // from a different historical count are valid ints but
            // wrong coordinates, so those files are conservatively kept
            statsPruned.filter(fe =>
              !fe.bucketedUnder(n) || fe.bucket.forall(bs.contains))
        }
      case None => statsPruned
    }
  }

  /** The declared bucketing, but only when EVERY file of the (whole)
    * manifest carries a valid bucket id RECORDED UNDER the declared
    * count — one file written outside the bucketed path (a merge's
    * fresh files, a legacy append) or under a historical different
    * count (a re-declared layout read through time travel / restore)
    * disables the claim rather than corrupting it. */
  private def effectiveBucketing: Option[(String, DataType, Int)] =
    bucketSpec.filter { case (_, _, n) =>
      manifest.files.forall(_.bucketedUnder(n))
    }

  /** Storage-partitioned-join handshake: a bucketed table's scan
    * reports `KeyGroupedPartitioning(bucket(n, col), n)`; Catalyst
    * resolves the transform through [[GraftCatalog]]'s
    * FunctionCatalog and (under
    * `spark.sql.sources.v2.bucketing.enabled`) plans joins between
    * co-bucketed tables with ZERO Exchange. [[planInputPartitions]]
    * emits key-grouped partitions: all n (empty buckets included, so
    * both join sides present identical partition-value sets with no
    * reconciliation needed) — or, under
    * `spark.sql.sources.v2.bucketing.pushPartValues.enabled`, only the
    * live buckets, letting Spark's own partition-value reconciliation
    * fill the gaps and a pruned scan skip the empty-task floor. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    effectiveBucketing match {
      case Some((col, _, n)) if agg.isEmpty =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(Array(
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, col)), n)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Ordering claim on top of the partitioning one: when every bucket
    * holds at most ONE file and every file is recorded ascending in
    * the bucket key (bucketed writes and bucket-aware maintenance
    * sort for free; dv masking only ever REMOVES rows, preserving
    * order), each key-grouped partition is itself key-sorted — under
    * `spark.sql.sources.v2.bucketing.sorting.enabled` the SMJ's
    * per-partition sorts vanish on top of its retired exchanges. Two
    * files in one bucket (concatenation order is not a sort) or one
    * unsorted file withdraws the claim, never corrupts it. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    effectiveBucketing match {
      case Some((col, _, _)) if agg.isEmpty &&
          required.fieldNames.contains(col) &&
          manifest.files.forall(_.sortedBy.contains(phys(col))) &&
          manifest.files.groupBy(_.bucket).forall(_._2.size <= 1) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(col),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  override def readSchema(): StructType =
    agg.map(_._1).getOrElse(StructType(required.fields ++ meta))

  override def description(): String = agg match {
    case Some((schema, _)) =>
      s"graft_snapshot $dir v=${manifest.version} metadata-only " +
        s"agg=[${schema.fieldNames.mkString(", ")}]"
    case None =>
      s"graft_snapshot $dir v=${manifest.version} " +
        s"files=${prunedFiles.size}/${manifest.files.size} after skipping, " +
        s"skippingFilters=[${skipping.mkString(", ")}]" +
        (if (runtimeSkipping.isEmpty) ""
         else s", runtimeFilters=[${runtimeSkipping.mkString(", ")}]")
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatchStream(dir, physSchema(required), options)

  override def planInputPartitions(): Array[InputPartition] = agg match {
    case Some((schema, values)) =>
      Array(MetadataAggPartition(schema.json, values.map {
        case b: Byte => b.toLong; case s: Short => s.toLong
        case i: Int => i.toLong; case l: Long => l
      }))
    case None =>
      val planned = prunedFiles
      ScanTelemetry.record(dir, planned.size, manifest.files.size)
      // under the SPJ conf a bucketed table plans KEY-GROUPED
      // partitions; with the conf off the claim is ignored by Spark,
      // so per-file partitions keep full scan parallelism
      effectiveBucketing match {
        case Some((_, _, n)) if org.apache.spark.sql.internal.SQLConf.get
            .getConf(org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED) =>
          val byBucket = planned.groupBy(_.bucket.get)
          val pushValues = org.apache.spark.sql.internal.SQLConf.get.getConf(
            org.apache.spark.sql.internal.SQLConf
              .V2_BUCKETING_PUSH_PART_VALUES_ENABLED)
          // with pushPartValues on, report only the NON-EMPTY buckets:
          // Spark reconciles both sides' partition-value sets itself
          // (filling the gaps), and a heavily bucket/stats-pruned scan
          // then launches live-bucket tasks instead of n mostly-empty
          // ones — at n=4096 and a one-bucket point read that is 1
          // task, not 4096. With it off, all n buckets are presented
          // so both join sides' value sets match by construction.
          if (pushValues && byBucket.nonEmpty)
            byBucket.keys.toArray.sorted.map[InputPartition](b =>
              SnapshotBucketPartition(b, byBucket(b)
                .map(fe => SnapshotPartitions.partitionFor(dir, fe))))
          else
            Array.tabulate[InputPartition](n)(b =>
              SnapshotBucketPartition(b, byBucket.getOrElse(b, Nil)
                .map(fe => SnapshotPartitions.partitionFor(dir, fe))))
        case _ =>
          planned.map(fe => SnapshotPartitions.partitionFor(dir, fe)).toArray
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(
      if (agg.isDefined) readSchema() else physSchema(required),
      // in-file row-group/page pruning rides the same skipping
      // filters, rewritten to the files' physical column names
      (skipping ++ runtimeSkipping).toSeq.map(SnapshotScan.mapAttrs(_, phys)),
      // pending equality deletes mask in-reader — the reader tests
      // appended key-column vectors, so a full scan mid-CDC keeps
      // whole-stage codegen. The key sets ship as ONE broadcast per
      // scan (tasks carry sidecar refs only); built over the STATIC
      // pruned set, a superset of anything runtime filters later keep
      // (a metadata-agg scan refuses eq-pending files up front). The
      // engine's own file-subset reads skip the read-time cap: the
      // folds its refusal names (purge, compact) must still read an
      // over-cap file.
      eqBc =
        if (agg.isDefined) None
        else SnapshotPartitions.EqSidecars.broadcastFor(dir, manifest.files
          .filter(fe => skipping.forall(SnapshotScan.keeps(fe, _, phys))),
          enforceCap = fileSubset.isEmpty),
      meta = meta.map(_.metadata.getString(SnapshotV2Table.MetaKey)))

  /** Post-skipping logical rows from the manifest; size is rows ×
    * the read schema's fixed-width estimate (the manifest stores row
    * counts, not byte sizes — this is the estimate Spark itself uses
    * for in-memory width). Feeds broadcast-join selection.
    *
    * Column-level NDV for the CBO: a table whose layout declares
    * `ndvCols` carries a per-file KMV sketch in the manifest; merging
    * the pruned files' sketches (union + keep-k — the KMV monoid) at
    * plan time yields a table-level distinct-count estimate with ZERO
    * data reads, O(files × k) driver work. With `spark.sql.cbo.enabled`
    * these reach join-size estimation and reordering, where the
    * defaults otherwise assume every join key is near-unique. A column
    * gets a stat only when EVERY pruned file carries its sketch —
    * absent beats wrong (a partial merge would undercount); dv-masked
    * rows stay in their file's sketch, so a heavily-deleted file can
    * overestimate, the safe direction for join planning. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = prunedFiles
    private val rows =
      if (agg.isDefined) 1L else files.map(_.liveRows).sum
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(rows * readSchema().defaultSize, 1L))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (agg.isEmpty && files.nonEmpty) {
        val logicalFor = physMap.map(_.swap) // sketch keys are physical
        val out = readSchema().fieldNames.toSet
        val covered = files.map(_.ndv.keySet).reduce(_ intersect _)
        covered.foreach { pc =>
          val logical = logicalFor.getOrElse(pc, pc)
          if (out.contains(logical)) {
            val merged = new java.util.TreeSet[java.lang.Long]()
            files.foreach(_.ndv(pc).foreach { v =>
              merged.add(v)
              if (merged.size > SnapshotTable.NdvK) merged.pollLast()
            })
            val est = math.max(1L, graft.functions.cat.KmvSketch
              .estimate(merged, SnapshotTable.NdvK))
            val nulls =
              if (files.forall(_.noNulls.contains(pc))) OptionalLong.of(0L)
              else OptionalLong.empty()
            m.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(logical),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): OptionalLong = OptionalLong.of(est)
                override def nullCount(): OptionalLong = nulls
              })
          }
        }
      }
      m
    }
  }

  /** Identity includes the file subset (two subset reads of one
    * version are different scans) and EXCLUDES runtime filters: the
    * planner must recognize the runtime-filtered scan as "the same
    * scan" for exchange reuse (the SupportsRuntimeFiltering
    * contract). */
  override def equals(other: Any): Boolean = other match {
    case o: SnapshotScan =>
      dir == o.dir && manifest.version == o.manifest.version &&
        required == o.required && meta == o.meta &&
        fileSubset == o.fileSubset && skipping.toSeq == o.skipping.toSeq &&
        agg.map { case (s, v) => (s, v.toSeq) } ==
          o.agg.map { case (s, v) => (s, v.toSeq) }
    case _ => false
  }

  override def hashCode(): Int =
    (dir, manifest.version, required, meta, skipping.toSeq).hashCode()
}

/** Driver-side planning telemetry: the (planned, total) file counts of
  * the LAST partition planning per table root. Runtime-filtered scans
  * plan twice (statically at planning, again at execution once the
  * build-side keys arrive) — the last record is the execution-time
  * verdict, which is what specs assert dynamic file pruning against
  * (the executed BatchScanExec instance is not reachable through a
  * re-collected plan, so the scan records its own planning). */
private[graft] object ScanTelemetry {
  private val last =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
  def record(dir: String, planned: Int, total: Int): Unit =
    last.put(dir, (planned, total))
  def lastPlanned(dir: String): Option[(Int, Int)] = Option(last.get(dir))
}

object SnapshotScan {

  /** Rewrite a filter's attribute names (logical -> physical) for the
    * executor-side parquet predicate; shapes outside the skipping
    * surface pass through untouched (they translate to None anyway). */
  private[connector] def mapAttrs(f: Filter, phys: String => String): Filter =
    f match {
      case EqualTo(c, v) => EqualTo(phys(c), v)
      case GreaterThan(c, v) => GreaterThan(phys(c), v)
      case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(phys(c), v)
      case LessThan(c, v) => LessThan(phys(c), v)
      case LessThanOrEqual(c, v) => LessThanOrEqual(phys(c), v)
      case In(c, vs) => In(phys(c), vs)
      case other => other
    }

  /** Flatten conjunctions: each conjunct can skip files independently. */
  private[connector] def atoms(f: Filter): Seq[Filter] = f match {
    case And(l, r) => atoms(l) ++ atoms(r)
    case other => Seq(other)
  }

  private def longable(v: Any): Option[Long] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  /** Shapes the manifest can refute: integral comparisons against
    * (min,max) stats, string comparisons against the truncated zone
    * maps, string equality additionally against per-file blooms. */
  private[connector] def usableForSkipping(f: Filter): Boolean = f match {
    case EqualTo(_, v) => longable(v).isDefined || v.isInstanceOf[String]
    case GreaterThan(_, v) => longable(v).isDefined || v.isInstanceOf[String]
    case GreaterThanOrEqual(_, v) => longable(v).isDefined || v.isInstanceOf[String]
    case LessThan(_, v) => longable(v).isDefined || v.isInstanceOf[String]
    case LessThanOrEqual(_, v) => longable(v).isDefined || v.isInstanceOf[String]
    case In(_, vs) => vs.nonEmpty && vs.forall(v =>
      longable(v).isDefined || v.isInstanceOf[String])
    case _ => false
  }

  /** Conservative per-file verdict: false ONLY when the manifest
    * proves no row of `fe` can satisfy `f` (missing stats/bloom →
    * keep). Rows are still filtered post-scan regardless. */
  private[connector] def keeps(fe: FileEntry, f: Filter): Boolean =
    keeps(fe, f, identity)

  /** `phys` maps a filter's (logical) attribute to the manifest's
    * stats/bloom key — the physical name on a rename-mapped table. */
  private[connector] def keeps(fe: FileEntry, f: Filter,
                               phys: String => String): Boolean = {
    // string zone-map verdicts: (lo, hi) are BOUNDS in UTF8 binary
    // order (lo ≤ true min, hi ≥ true max) — refutation goes through
    // the bound on the relevant side, so truncation only loses
    // precision, never rows
    def sRange(c: String, v: Any)(keep: (String, String, String) => Boolean): Boolean =
      v match {
        case sv: String => fe.strStats.get(phys(c))
          .forall { case (lo, hi) => keep(lo, hi, sv) }
        case _ => true
      }
    f match {
      case EqualTo(c, v) =>
        val statOk = (longable(v), fe.stats.get(phys(c))) match {
          case (Some(l), Some((mn, mx))) => l >= mn && l <= mx
          case _ => true
        }
        val bloomOk = v match {
          case s: String => SnapshotTable.fileMayContain(fe, phys(c), s)
          case _ => true
        }
        statOk && bloomOk && sRange(c, v)((lo, hi, sv) =>
          SnapshotTable.strCmp(sv, lo) >= 0 && SnapshotTable.strCmp(sv, hi) <= 0)
      case GreaterThan(c, v) =>
        ((longable(v), fe.stats.get(phys(c))) match {
          case (Some(l), Some((_, mx))) => mx > l
          case _ => true
        }) && sRange(c, v)((_, hi, sv) => SnapshotTable.strCmp(hi, sv) > 0)
      case GreaterThanOrEqual(c, v) =>
        ((longable(v), fe.stats.get(phys(c))) match {
          case (Some(l), Some((_, mx))) => mx >= l
          case _ => true
        }) && sRange(c, v)((_, hi, sv) => SnapshotTable.strCmp(hi, sv) >= 0)
      case LessThan(c, v) =>
        ((longable(v), fe.stats.get(phys(c))) match {
          case (Some(l), Some((mn, _))) => mn < l
          case _ => true
        }) && sRange(c, v)((lo, _, sv) => SnapshotTable.strCmp(lo, sv) < 0)
      case LessThanOrEqual(c, v) =>
        ((longable(v), fe.stats.get(phys(c))) match {
          case (Some(l), Some((mn, _))) => mn <= l
          case _ => true
        }) && sRange(c, v)((lo, _, sv) => SnapshotTable.strCmp(lo, sv) <= 0)
      case In(c, vs) => vs.exists(v => keeps(fe, EqualTo(c, v), phys))
      case _ => true
    }
  }
}
