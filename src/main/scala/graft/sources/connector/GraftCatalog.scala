package graft.sources.connector

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{SnapshotLog, SnapshotTable}

/** A Spark `TableCatalog` over snapshot tables: full SQL DDL/DML on
  * the table format with zero services — the catalog IS the
  * filesystem layout.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.connector.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/warehouse")
  *
  *   CREATE NAMESPACE graft.ml
  *   CREATE TABLE graft.ml.docs (doc_id BIGINT, text STRING)
  *   CREATE TABLE graft.ml.sample AS SELECT * FROM src LIMIT 100
  *   INSERT INTO graft.ml.docs SELECT ...
  *   INSERT OVERWRITE graft.ml.docs SELECT ...
  *   SELECT * FROM graft.ml.docs VERSION AS OF 3       -- time travel
  *   SELECT * FROM graft.ml.docs TIMESTAMP AS OF '...' -- as-of instant
  *   SHOW TABLES IN graft.ml; DROP TABLE graft.ml.docs
  * }}}
  *
  * Identifier → directory: `<root>/<namespace…>/<name>`; a table is a
  * directory with a `_log`; a namespace is any other directory.
  * `CREATE TABLE` commits an EMPTY version 1 carrying the declared
  * schema in the log entry (readable immediately as an empty typed
  * frame); CTAS is create + the connector's V2 append. `VERSION AS
  * OF` pins the manifest; `TIMESTAMP AS OF` resolves the newest
  * version published at or before the instant — the SQL form of
  * `scanAsOf`. Everything else (reads with skipping, metadata-only
  * aggregates, the OCC write path, streaming) is [[SnapshotV2Table]]
  * unchanged. At 100 TB the load-bearing property is what this
  * catalog does NOT do: no central metastore round-trips — resolving
  * a table is one directory check, the log stays the source of truth.
  */
final class GraftCatalog extends TableCatalog with StagingTableCatalog
  with SupportsNamespaces with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark = SparkSession.active
  private def hconf = spark.sparkContext.hadoopConfiguration

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"catalog '$name' needs a root directory: spark.sql.catalog.$name.root=<dir>"))
  }

  override def name(): String = catalogName

  /** Opt into Spark's analyzer-side DDL surfaces: CHECK constraints
    * (`ALTER TABLE … ADD CONSTRAINT c CHECK (p)` — Spark validates the
    * EXISTING rows itself, then every later INSERT/write gets a
    * `CheckInvariant` guard injected from [[SnapshotV2Table.constraints]],
    * so a violating batch fails task-side BEFORE the commit publishes:
    * the staged files are aborted, no version is burned) and column
    * DEFAULTs (CREATE/ADD COLUMNS `… DEFAULT expr` — the default rides
    * the recorded schema's metadata; writes missing the column are
    * filled by the analyzer, rows in files that PREDATE the column
    * read the exists-default instead of null). */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def dirOf(ns: Seq[String], leaf: String): String =
    (root +: ns :+ leaf).mkString("/")
  private def dirOf(ident: Identifier): String =
    dirOf(ident.namespace.toSeq, ident.name)

  private def isTableDir(p: Path): Boolean =
    SnapshotLog.hasLog(p.getFileSystem(hconf), p)

  private def tableExistsAt(dir: String): Boolean =
    SnapshotTable.latestVersion(spark, dir).isDefined

  /** Latest (or pinned) version's log-recorded schema. */
  private def schemaOf(dir: String, version: Option[Long]): StructType = {
    val v = version.orElse(SnapshotTable.latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    SnapshotTable.tableSchema(spark, dir, v)
  }

  // --- tables ---

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = new Path((root +: namespace).mkString("/"))
    val fs = nsPath.getFileSystem(hconf)
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath).filter(_.isDirectory)
      .filter(st => isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    tableExistsAt(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (tableExistsAt(dir))
      new SnapshotV2Table(schemaOf(dir, None), dir,
        tableProps = readProps(dir))
    else {
      // metadata tables: `SELECT * FROM cat.ns.t.history` parses as
      // Identifier(["ns","t"], "history") — when the namespace tail
      // is itself a table, serve its metadata surface. Branches ride
      // the same addressing: `cat.ns.t.branch_staging` is the WRITABLE
      // branch table (INSERT/DML/SELECT all work — it is a full
      // snapshot table), the WAP surface of
      // [[SnapshotTable.createBranch]]/[[SnapshotTable.fastForward]].
      val branch = for {
        _ <- Some(()).filter(_ => ident.namespace.nonEmpty &&
          ident.name.toLowerCase.startsWith("branch_"))
        parentDir = dirOf(ident.namespace.init.toSeq, ident.namespace.last)
        if tableExistsAt(parentDir)
        bdir = SnapshotTable.branchDir(parentDir,
          ident.name.substring("branch_".length))
        if tableExistsAt(bdir)
      } yield new SnapshotV2Table(schemaOf(bdir, None), bdir,
        tableProps = GraftTableProps.read(hconf, bdir)): Table
      val meta = branch.orElse(for {
        _ <- Some(()).filter(_ => ident.namespace.nonEmpty &&
          MetadataTables.Names.contains(ident.name.toLowerCase))
        parentDir = dirOf(ident.namespace.init.toSeq, ident.namespace.last)
        if tableExistsAt(parentDir)
        t <- MetadataTables.resolve(spark, parentDir, ident.name)
      } yield t)
      meta.getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** SQL `VERSION AS OF v` — a commit number, a TAG name
    * ([[SnapshotTable.createTag]]): `VERSION AS OF 'v2-release'`
    * reads the pinned version ([[SnapshotTable.vacuum]] retains it for
    * as long as the tag exists) — or a BRANCH token: `VERSION AS OF
    * 'branch:staging'` reads the branch's current head (Iceberg's
    * branch-ref addressing; the writable surface stays
    * `cat.ns.t.branch_<name>`). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!tableExistsAt(dir)) throw new NoSuchTableException(ident)
    if (version.startsWith("branch:")) {
      val bdir = SnapshotTable.branchDir(dir, version.stripPrefix("branch:"))
      if (!tableExistsAt(bdir)) throw new IllegalArgumentException(
        s"no branch '${version.stripPrefix("branch:")}' on $ident")
      return new SnapshotV2Table(schemaOf(bdir, None), bdir,
        tableProps = GraftTableProps.read(hconf, bdir))
    }
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        SnapshotTable.tagVersion(spark, dir, version).getOrElse(
          throw new IllegalArgumentException(
            s"graft version identifiers are commit numbers or tag names, " +
              s"got '$version'"))
    }
    new SnapshotV2Table(schemaOf(dir, Some(v)), dir, pinnedVersion = Some(v),
      tableProps = readProps(dir))
  }

  /** SQL `TIMESTAMP AS OF t` (micros since epoch): the newest version
    * published at or before the instant — [[SnapshotTable.scanAsOf]]
    * as DDL. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!tableExistsAt(dir)) throw new NoSuchTableException(ident)
    val tsMs = timestamp / 1000L
    val v = SnapshotTable.versions(spark, dir)
      .filter(SnapshotTable.readManifest(spark, dir, _).ts <= tsMs)
      .lastOption.getOrElse(throw new IllegalStateException(
        s"no version of ${ident.toString} existed at epoch-ms $tsMs"))
    new SnapshotV2Table(schemaOf(dir, Some(v)), dir, pinnedVersion = Some(v),
      tableProps = readProps(dir))
  }

  /** `PARTITIONED BY` → layout table properties every later write
    * inherits (the q6R path), two distinct layouts:
    *
    *  - identity transforms → `clusterBy` range clustering: each data
    *    file covers a narrow disjoint key range — the same pruning
    *    directory partitioning buys, without directory explosion at
    *    100 TB.
    *  - `bucket(n, col)` → REAL hash buckets (`bucketBy`/`buckets`):
    *    every data file is pure in one [[GraftBucket]] id, the id is
    *    recorded in the manifest, and the scan reports
    *    `KeyGroupedPartitioning(bucket(n, col))` — joins between
    *    tables bucketed alike plan with ZERO shuffle (storage-
    *    partitioned joins), and `col = k` point reads prune to the one
    *    bucket's files.
    *  - MIXED `(identity(d), bucket(n, k))` → both: rows route to
    *    their bucket and sort within it by the identity columns, with
    *    rolled files per bucket — co-buckets for the join, range-
    *    pruned slices for the scan (the standard fact-table layout).
    *
    * Integral partition columns get (min,max) stats; string ones get
    * truncated zone maps AND blooms — so the layout actually prunes,
    * for ranges and point reads alike. Explicit TBLPROPERTIES win
    * over the derived defaults. */
  private def layoutProps(partitions: Array[Transform],
                          schema: StructType): Map[String, String] = {
    if (partitions.isEmpty) return Map.empty
    var cols = Seq.empty[String]
    var bucketCol = Option.empty[String]
    var buckets = Option.empty[Int]
    partitions.foreach { t =>
      t.name match {
        case "identity" =>
          require(t.references.length == 1 &&
            t.references.head.fieldNames.length == 1,
            s"unsupported partition transform: ${t.describe}")
          cols :+= t.references.head.fieldNames.head
        case "bucket" =>
          require(t.references.length == 1 &&
            t.references.head.fieldNames.length == 1,
            s"unsupported partition transform: ${t.describe}")
          require(bucketCol.isEmpty,
            "at most one bucket(n, col) transform per table")
          bucketCol = Some(t.references.head.fieldNames.head)
          buckets = t.arguments.collectFirst {
            case lit: org.apache.spark.sql.connector.expressions.Literal[_]
                if lit.value.isInstanceOf[Int] => lit.value.asInstanceOf[Int]
          }
          require(buckets.exists(_ > 0),
            s"bucket transform needs a positive literal count: ${t.describe}")
        case other => throw new UnsupportedOperationException(
          s"PARTITIONED BY $other is not supported; use identity " +
            "columns (range clustering) or bucket(n, col) (hash buckets)")
      }
    }
    // DDL-time key validation: every named column must exist, and a
    // bucket key must be a type [[GraftBucket]] can hash — failing
    // here beats failing on the first INSERT
    (cols ++ bucketCol).foreach(c =>
      require(schema.fields.exists(_.name == c),
        s"PARTITIONED BY column '$c' is not in the table schema " +
          schema.fieldNames.mkString("[", ", ", "]")))
    bucketCol.foreach { c =>
      val dt = schema.fields.find(_.name == c).get.dataType
      require(GraftBucket.supports(dt),
        s"bucket(n, $c): ${dt.simpleString} is not a supported bucket " +
          "key type (integral, date/timestamp, or string)")
      require(!cols.contains(c),
        s"column $c cannot be both an identity partition column and " +
          "the bucket key: hash buckets scatter exactly what identity " +
          "clustering would order")
    }
    // identity + bucket MIX is the standard fact layout: rows route to
    // their hash bucket (the storage-partitioned-join coordinate) and
    // sort within it by the identity columns, with the write rolling
    // files so per-file (min,max) stats prune identity slices — see
    // [[SnapshotWriteBuilder]]'s mixed-layout handling
    val keyed = cols ++ bucketCol
    def typed(p: String => Boolean): Seq[String] =
      keyed.filter(c => schema.fields.find(_.name == c).exists(f => p(
        f.dataType.simpleString)))
    // string partition columns get BOTH: zone maps (range pruning on
    // the clustered order) and blooms (point equality)
    val stats = typed(Set("tinyint", "smallint", "int", "bigint",
      "string").contains)
    val blooms = typed(_ == "string")
    val out = Map.newBuilder[String, String]
    if (cols.nonEmpty) out += "clusterBy" -> cols.mkString(",")
    if (stats.nonEmpty) out += "statsCols" -> stats.mkString(",")
    if (blooms.nonEmpty) out += "bloomCols" -> blooms.mkString(",")
    // NDV sketches feed the CBO's distinct-count estimates but cost a
    // measured ~1.2× on staged-agg writes per sketched column, so the
    // default is deliberate: AUTO only for the BUCKET key — declaring
    // bucket(n, col) states "this is my join key", exactly where the
    // CBO's near-unique default misleads join sizing. Identity
    // partition keys (range clustering — often a date, where NDV buys
    // little) opt IN via ALTER TABLE ... SET TBLPROPERTIES
    // ('ndvCols'='...') or `ANALYZE TABLE ... FOR COLUMNS`; UNSET
    // ('ndvCols') opts back out. Sketches only apply to stats-typed
    // columns (integral/string).
    val ndv = bucketCol.toSeq.filter(stats.contains)
    if (ndv.nonEmpty) out += "ndvCols" -> ndv.mkString(",")
    bucketCol.foreach(c => out += "bucketBy" -> c)
    buckets.foreach(n => out += "buckets" -> n.toString)
    out.result()
  }

  /** `cat.ns.t.history` / `cat.ns.t.branch_x` are ADDRESSES into table
    * `t`'s metadata/branch surface, not table slots — creating a real
    * table there would shadow the surface (and land a junk directory
    * INSIDE `t`'s root). Refused only when the namespace tail IS a
    * table; a top-level table named `history` stays legal. */
  private def requireNotReservedAddressing(ident: Identifier): Unit = {
    val reserved = ident.name.toLowerCase.startsWith("branch_") ||
      MetadataTables.Names.contains(ident.name.toLowerCase)
    if (reserved && ident.namespace.nonEmpty &&
        tableExistsAt(dirOf(ident.namespace.init.toSeq, ident.namespace.last)))
      throw new IllegalArgumentException(
        s"cannot create table $ident: '${ident.name}' addresses the " +
          s"metadata/branch surface of table ${ident.namespace.mkString(".")}")
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (tableExistsAt(dir)) throw new TableAlreadyExistsException(ident)
    requireNotReservedAddressing(ident)
    // an EMPTY version 1 carrying the declared schema: immediately
    // readable as an empty typed frame, appendable by INSERT/CTAS
    SnapshotLog.commit(spark, dir, "create", Nil, carry = false,
      schemaJson = Some(schema.json))
    val props = layoutProps(partitions, schema) ++ userProps(properties)
    if (props.nonEmpty) writeProps(dir, props)
    new SnapshotV2Table(schema, dir, tableProps = props)
  }

  // --- table properties: persisted layout defaults ---

  /** Reserved keys Spark injects into CREATE TABLE properties. */
  private val ReservedProps =
    Set("provider", "location", "comment", "owner", "external",
      "is_managed_location")

  private def userProps(properties: java.util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap.filter { case (k, _) =>
      !ReservedProps.contains(k.toLowerCase) && !k.startsWith("option.")
    }

  private def readProps(dir: String): Map[String, String] =
    GraftTableProps.read(hconf, dir)

  private def writeProps(dir: String, props: Map[String, String]): Unit =
    GraftTableProps.write(hconf, dir, props)

  /** V2 `Column[]` → recorded schema: each column's DEFAULT rides the
    * field metadata (CURRENT_DEFAULT for future writes, EXISTS_DEFAULT
    * for rows predating the column) — the recorded schema carries
    * both. Shared by CREATE and the staged CREATE/REPLACE surface. */
  private def structOf(columns: Array[Column]): StructType =
    StructType(columns.map { c =>
      val base = org.apache.spark.sql.types.StructField(
        c.name, c.dataType, c.nullable)
      Option(c.defaultValue).fold(base) { dv =>
        import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
        val existsSql = org.apache.spark.sql.catalyst.expressions
          .Literal(dv.getValue.value, dv.getValue.dataType).sql
        base.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY,
              Option(dv.getSql).getOrElse(existsSql))
            .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, existsSql)
            .build())
      }
    })

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    createTable(ident, structOf(columns), partitions, properties)

  // --- staged DDL: atomic CREATE OR REPLACE / RTAS / CTAS ---

  /** `CREATE OR REPLACE TABLE` / `REPLACE TABLE … AS SELECT` / atomic
    * CTAS: Spark writes the query into the returned [[GraftStagedTable]]
    * and only then commits — ONE manifest publish swaps the
    * definition, a failure anywhere before it leaves the current
    * definition untouched, and the replaced versions stay
    * time-travelable (`VERSION AS OF` reads the pre-replace history).
    * The modern SQL form of the reference's backup → truncate → load →
    * rollback protocol (/root/reference/etl/loader.py:197-238). */
  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: java.util.Map[String, String],
                    mode: StageMode.Value): StagedTable = {
    val dir = dirOf(ident)
    requireNotReservedAddressing(ident)
    // fail at stage time where possible — but the authoritative checks
    // re-run inside commitStagedChanges (the table set can move while
    // the query runs)
    mode match {
      case StageMode.Create if tableExistsAt(dir) =>
        throw new TableAlreadyExistsException(ident)
      case StageMode.Replace if !tableExistsAt(dir) =>
        throw new NoSuchTableException(ident)
      case _ => ()
    }
    val props = layoutProps(partitions, schema) ++ userProps(properties)
    new GraftStagedTable(ident, dir, schema, partitions, props, mode,
      p => writeProps(dir, p))
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, StageMode.Create)

  override def stageCreate(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable =
    stage(ident, structOf(columns), partitions, properties, StageMode.Create)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, StageMode.Replace)

  override def stageReplace(ident: Identifier, columns: Array[Column],
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable =
    stage(ident, structOf(columns), partitions, properties, StageMode.Replace)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, StageMode.CreateOrReplace)

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable =
    stage(ident, structOf(columns), partitions, properties, StageMode.CreateOrReplace)

  /** Retired PHYSICAL column names (ever dropped or renamed-away):
    * files may still carry their data, so a later ADD COLUMN of the
    * same name gets a FRESH physical name instead of silently
    * resurrecting the old values. Kept in `_props.json` (conservative
    * across compaction — a name once retired stays retired). */
  private val RetiredKey = "graft.retired"

  private def retiredNames(dir: String): Set[String] =
    readProps(dir).get(RetiredKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private def writeRetired(dir: String, names: Set[String]): Unit =
    writeProps(dir, readProps(dir) +
      (RetiredKey -> names.toSeq.sorted.mkString(",")))

  /** `ALTER TABLE … ADD COLUMNS | DROP COLUMN | RENAME COLUMN` — all
    * metadata-only schema commits; no data file is touched.
    *
    *  - ADD: new fields read as null in existing rows (the schema
    *    evolution contract). A name that ever existed physically
    *    (retired, or a live column's physical name) gets a FRESH
    *    physical name so old files can't leak the previous column's
    *    values into it.
    *  - DROP: the recorded schema shrinks (replaceSchema commit — a
    *    union can only widen); files keep the bytes, time travel to a
    *    pre-drop version still reads them, and the physical name is
    *    tombstoned.
    *  - RENAME: Delta-style column mapping — the field keeps its
    *    FROZEN physical name in metadata ([[SnapshotTable]]'s
    *    `graft.physical`); readers alias physical → logical, writers
    *    (programmatic and V2 alike) write the physical name, and
    *    stats/bloom skipping resolves through the mapping. Renaming
    *    back to the physical name simply drops the mapping.
    *
    *  - ALTER COLUMN TYPE: lossless widenings only (byte/short/int →
    *    wider int, int → long/double, float → double) — Spark's
    *    parquet readers resolve those natively against old files'
    *    narrower physical type, so this too is metadata-only; any
    *    other type change would need a data rewrite and is refused
    *    loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExistsAt(dir)) throw new NoSuchTableException(ident)
    val (constraintChanges, changes1) = changes.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    // CHECK constraints persist as `constraint.<name>` props; Spark
    // has already validated the EXISTING rows before AddConstraint
    // reaches us (AddCheckConstraintExec scans and fails on any
    // violation), and [[SnapshotV2Table.constraints]] republishes them
    // so every later write plans with a CheckInvariant guard.
    constraintChanges.foreach {
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          val key = s"${GraftCatalog.ConstraintPrefix}${c.name()}"
          require(!readProps(dir).contains(key),
            s"constraint '${c.name()}' already exists")
          writeProps(dir, readProps(dir) + (key -> c.predicateSql()))
        case other => throw new UnsupportedOperationException(
          "only CHECK constraints are supported (UNIQUE / PRIMARY KEY / " +
            s"FOREIGN KEY are informational in Spark and this format " +
            s"does not record unenforced claims); got ${other.toDDL}")
      }
      case d: TableChange.DropConstraint =>
        val key = s"${GraftCatalog.ConstraintPrefix}${d.name()}"
        val props = readProps(dir)
        if (!props.contains(key) && !d.ifExists())
          throw new IllegalArgumentException(
            s"no such constraint '${d.name()}' (use IF EXISTS)")
        writeProps(dir, props - key)
      case _ => ()
    }
    val (propChanges, rest) = changes1.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    // SET/UNSET TBLPROPERTIES: rewrite the sidecar (layout defaults,
    // not data — outside the versioned history on purpose)
    if (propChanges.nonEmpty) {
      val updated = propChanges.foldLeft(readProps(dir)) {
        case (acc, s: TableChange.SetProperty) =>
          require(!ReservedProps.contains(s.property.toLowerCase),
            s"property '${s.property}' is reserved")
          // bucketBy/buckets describe how the DATA is laid out, not a
          // future-write default: re-declaring them over existing
          // files would make the scan report a partitioning the file
          // bucket ids don't satisfy — a storage-partitioned join
          // would then silently join mis-bucketed rows. Rewrite the
          // data instead (INSERT OVERWRITE re-buckets).
          require(!Set("bucketby", "buckets").contains(s.property.toLowerCase) ||
            SnapshotTable.readManifest(spark, dir,
              SnapshotTable.latestVersion(spark, dir).get).files.isEmpty,
            s"cannot change '${s.property}' on a non-empty table: bucket " +
              "ids are recorded per file; INSERT OVERWRITE the table to " +
              "re-bucket it")
          acc + (s.property -> s.value)
        case (acc, r: TableChange.RemoveProperty) => acc - r.property
        case (acc, _) => acc
      }
      writeProps(dir, updated)
    }
    if (rest.nonEmpty) {
      import org.apache.spark.sql.types.{MetadataBuilder, StructField}
      val v = SnapshotTable.latestVersion(spark, dir).get
      val current = SnapshotTable.tableSchema(spark, dir, v)
      def single(names: Array[String], what: String): String = {
        require(names.length == 1,
          s"nested $what is not supported: ${names.mkString(".")}")
        names.head
      }
      def withPhysical(f: StructField, phys: String): StructField =
        if (phys == f.name) // identity mapping: keep the field clean
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .remove(SnapshotTable.PhysicalNameKey).build())
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(SnapshotTable.PhysicalNameKey, phys).build())

      val fields = scala.collection.mutable.ArrayBuffer(current.fields: _*)
      var retired = retiredNames(dir)
      val retiredBefore = retired
      var op = "alter-schema"
      rest.foreach {
        case a: TableChange.AddColumn =>
          op = "add-columns"
          val name = single(a.fieldNames, "ADD COLUMN")
          require(!fields.exists(_.name == name),
            s"column '$name' already exists")
          val usedPhysical =
            fields.map(f => SnapshotTable.physicalName(f)).toSet ++ retired
          val f0 = {
            val base = StructField(name, a.dataType, a.isNullable)
            Option(a.defaultValue()).fold(base) { dv =>
              // DEFAULT rides the field metadata: CURRENT_DEFAULT fills
              // writes that omit the column from now on; EXISTS_DEFAULT
              // (the value AT ADD TIME, constant-folded) is what rows
              // in files PREDATING the column read instead of null
              import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
              val existsSql = org.apache.spark.sql.catalyst.expressions
                .Literal(dv.getValue.value, dv.getValue.dataType).sql
              base.copy(metadata = new MetadataBuilder()
                .withMetadata(base.metadata)
                .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY,
                  Option(dv.getSql).getOrElse(existsSql))
                .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, existsSql)
                .build())
            }
          }
          fields += (if (!usedPhysical.contains(name)) f0
          else { // name existed physically: fresh physical, no leakage
            val fresh = s"${name}__p${java.util.UUID.randomUUID.toString.take(8)}"
            withPhysical(f0, fresh)
          })
        case d: TableChange.DeleteColumn =>
          op = "drop-column"
          val name = single(d.fieldNames, "DROP COLUMN")
          fields.indexWhere(_.name == name) match {
            case -1 =>
              if (!d.ifExists) throw new IllegalArgumentException(
                s"cannot drop missing column '$name' (use IF EXISTS)")
            case i =>
              require(fields.size > 1, "cannot drop the only column")
              retired += SnapshotTable.physicalName(fields(i))
              fields.remove(i)
          }
        case u: TableChange.UpdateColumnType =>
          op = "widen-column"
          val name = single(u.fieldNames, "ALTER COLUMN TYPE")
          val i = fields.indexWhere(_.name == name)
          require(i >= 0, s"cannot alter missing column '$name'")
          val from = fields(i).dataType
          val to = u.newDataType
          // widenings Spark's parquet readers resolve natively against
          // mixed files (old files keep the narrow physical type) —
          // anything else would need a data rewrite, loudly refused
          import org.apache.spark.sql.types._
          val ok = (from, to) match {
            case (a, b) if a == b => true
            case (ByteType, ShortType | IntegerType | LongType) => true
            case (ShortType, IntegerType | LongType) => true
            case (IntegerType, LongType | DoubleType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          require(ok, s"ALTER COLUMN $name TYPE: only lossless widenings " +
            s"readable over existing files are supported " +
            s"(byte/short/int -> wider int, int -> long/double, " +
            s"float -> double); got ${from.simpleString} -> ${to.simpleString}")
          fields(i) = fields(i).copy(dataType = to)
        case r: TableChange.RenameColumn =>
          op = "rename-column"
          val name = single(r.fieldNames, "RENAME COLUMN")
          val i = fields.indexWhere(_.name == name)
          require(i >= 0, s"cannot rename missing column '$name'")
          require(!fields.exists(_.name == r.newName),
            s"column '${r.newName}' already exists")
          val phys = SnapshotTable.physicalName(fields(i))
          fields(i) = withPhysical(fields(i).copy(name = r.newName), phys)
        case other => throw new UnsupportedOperationException(
          "supported: ADD COLUMNS, DROP COLUMN, RENAME COLUMN, " +
            s"SET/UNSET TBLPROPERTIES; got ${other.getClass.getSimpleName}")
      }
      SnapshotLog.commit(spark, dir, op, Nil, carry = true,
        schemaJson = Some(StructType(fields.toArray).json),
        replaceSchema = true)
      if (retired != retiredBefore) writeRetired(dir, retired)
    }
    loadTable(ident)
  }

  // --- procedures: SQL-invocable table services ---

  /** `CALL cat.system.<proc>('ns.table', …)` — see
    * [[GraftProcedures]]. The table argument is a dot-separated
    * identifier resolved against this catalog's root. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.toSeq == Seq("system"),
      s"procedures live in the 'system' namespace, got ${ident.toString}")
    def dirOfNew(tbl: String): String = {
      val parts = tbl.split("\\.").toSeq
      dirOf(parts.init, parts.last)
    }
    GraftProcedures.load(ident.name, tbl => {
      val dir = dirOfNew(tbl)
      require(tableExistsAt(dir), s"no such table '$tbl' in catalog $catalogName")
      dir
    }, dirOfNew).getOrElse(throw new IllegalArgumentException(
      s"no such procedure ${ident.name} (have: " +
        GraftProcedures.Names.mkString(", ") + ")"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq("system"))
      GraftProcedures.Names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!tableExistsAt(dir)) return false
    val p = new Path(dir)
    p.getFileSystem(hconf).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(dirOf(oldIdent))
    val to = new Path(dirOf(newIdent))
    val fs = from.getFileSystem(hconf)
    if (!tableExistsAt(dirOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    require(fs.rename(from, to), s"rename $from -> $to failed")
    SnapshotTable.invalidateResolveCache() // cache keys are path-based
  }

  // --- functions: the bucket transform's resolution surface ---

  /** [[GraftBucketFunction]] is how Catalyst resolves the
    * `bucket(n, col)` transform a bucketed table's scan reports —
    * without a FunctionCatalog the reported `KeyGroupedPartitioning`
    * is discarded and storage-partitioned joins never plan. Served
    * under any namespace (Spark looks it up both bare and
    * namespace-qualified). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // --- namespaces (directories without a _log) ---

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val nsPath = new Path((root +: namespace).mkString("/"))
    val fs = nsPath.getFileSystem(hconf)
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsPath).filter(_.isDirectory)
      .filterNot(st => isTableDir(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val p = new Path((root +: namespace).mkString("/"))
    val fs = p.getFileSystem(hconf)
    fs.exists(p) && !isTableDir(p)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> (root +: namespace).mkString("/")).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    val p = new Path((root +: namespace).mkString("/"))
    p.getFileSystem(hconf).mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = new Path((root +: namespace).mkString("/"))
    val fs = p.getFileSystem(hconf)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(p, true)
  }
}

object GraftCatalog {
  /** Table-prop key prefix under which CHECK constraints persist:
    * `constraint.<name>` -> the predicate SQL. */
  val ConstraintPrefix = "constraint."
}
