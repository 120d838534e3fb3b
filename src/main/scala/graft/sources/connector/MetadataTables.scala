package graft.sources.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable

/** Iceberg-style METADATA TABLES for the SQL catalog: every snapshot
  * table `cat.ns.t` exposes
  *
  *  - `cat.ns.t.history` — one row per committed version (version,
  *    op, ts, row_count, file_count, dv_rows): the SQL face of
  *    [[SnapshotTable.history]], the audit/debugging surface every
  *    table format grows;
  *  - `cat.ns.t.files` — one row per live data file of the CURRENT
  *    version (path, rows, live_rows, dv_path, dv_rows, stats,
  *    bloom_cols, bucket, sorted_by, no_nulls, str_stats): the
  *    layout-inspection surface behind
  *    maintenance decisions (which files are small? which carry
  *    vectors? what do the ranges look like? is the bucket layout
  *    intact for storage-partitioned joins?).
  *
  * Spark parses `SELECT * FROM cat.ns.t.history` as the identifier
  * `Identifier(["ns","t"], "history")`; [[GraftCatalog.loadTable]]
  * falls through to here when the namespace tail is itself a table
  * directory. The rows are computed DRIVER-SIDE from the commit log —
  * metadata-only, O(#versions) / O(#files), no data file opened — and
  * served through a single-partition V2 scan. That bound is the same
  * one every manifest read already accepts; a metadata table is by
  * definition manifest-sized, not data-sized. */
object MetadataTables {

  val Names: Set[String] = Set("history", "files", "changes", "refs",
    "branches", "stats", "indexes")

  def resolve(spark: SparkSession, tableDir: String,
              metaName: String): Option[Table] =
    metaName.toLowerCase match {
      case "history" => Some(historyTable(spark, tableDir))
      case "files" => Some(filesTable(spark, tableDir))
      // `cat.ns.t.changes` — the distributed row-level change feed
      // (see [[ChangesTable]]): unlike the driver-computed tables
      // above, its rows are a real V2 scan over the changed files
      case "changes" => Some(ChangesTable(spark, tableDir))
      // `cat.ns.t.refs` — the named tags ([[SnapshotTable.listTags]]):
      // what `VERSION AS OF '<name>'` resolves, what vacuum pins
      case "refs" => Some(refsTable(spark, tableDir))
      case "branches" => Some(branchesTable(spark, tableDir))
      // `cat.ns.t.stats` — the per-COLUMN planning surface: what the
      // skipping and the CBO actually see, live from the manifest
      case "stats" => Some(statsTable(spark, tableDir))
      // `cat.ns.t.indexes` — the table's ANN indexes with staleness
      // (indexed version vs corpus head) and quantizer drift, all
      // visible from plain SQL
      case "indexes" => Some(indexesTable(spark, tableDir))
      case _ => None
    }

  /** `cat.ns.t.indexes`: one row per ANN index under the table's
    * `_ann/` (what `CALL ann_build` creates) — layout kind, the
    * corpus version the index reflects vs the corpus HEAD (`stale`
    * says whether an `ann_refresh` is due), cell count, PQ shape,
    * and the metadata-only quantizer-drift ratio ([[graft.operators
    * .AnnIndex.driftStats]]; policy: rebuild past ~8). Computed from
    * metas + manifests + the vocabulary-sized centroid set — no
    * assignment data is read. */
  private def indexesTable(spark: SparkSession, dir: String): Table = {
    import graft.operators.AnnIndex
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("indexed_version", LongType, nullable = true),
      StructField("corpus_head", LongType, nullable = false),
      StructField("stale", BooleanType, nullable = true),
      StructField("cells", LongType, nullable = true),
      StructField("dim", IntegerType, nullable = true),
      StructField("pq_m", IntegerType, nullable = true),
      StructField("pq_ks", IntegerType, nullable = true),
      StructField("drift_ratio", DoubleType, nullable = true),
      StructField("drift_exact_fraction", DoubleType, nullable = true),
      // 'ok', or why the index is unreadable — an inspection surface
      // must SHOW a broken index, not silently omit the row (the
      // monitoring job gating on this table would otherwise conclude
      // "nothing to do" while searches fail)
      StructField("status", StringType, nullable = false)))
    val annRoot = new org.apache.hadoop.fs.Path(dir, "_ann")
    val fs = annRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val rows: Seq[InternalRow] =
      if (!fs.exists(annRoot)) Nil
      else fs.listStatus(annRoot).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).sorted.map { name =>
          try {
            val info = AnnIndex.describe(spark, s"$dir/_ann/$name")
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(name),
              UTF8String.fromString(
                if (info.pq.isDefined) "ivf_pq" else "ivf_flat"),
              info.indexedVersion, head, info.indexedVersion != head,
              info.cells, info.dim,
              info.pq.map(p => Int.box(p._1)).orNull,
              info.pq.map(p => Int.box(p._2)).orNull,
              info.drift.ratio, info.drift.exactFraction,
              UTF8String.fromString("ok"))): InternalRow
          } catch {
            case e: Exception =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(name),
                UTF8String.fromString("unreadable"),
                null, head, null, null, null, null, null, null, null,
                UTF8String.fromString(
                  Option(e.getMessage).getOrElse(e.getClass.getName)
                    .take(200)))): InternalRow
          }
        }
    new SnapshotMetaTable(s"graft_snapshot($dir).indexes", schema, rows)
  }

  /** `cat.ns.t.stats`: one row per table column of the CURRENT
    * version — the live per-column view of everything the planner
    * derives from the manifest (ANALYZE's stats.* TBLPROPERTIES are a
    * frozen snapshot of the same numbers):
    *
    *  - `row_count`: manifest live rows (an UPPER bound while
    *    equality deletes are pending — `eq_pending` says so);
    *  - `min_value`/`max_value`: the table-wide range when EVERY file
    *    carries stats for the column (integral ranges are exact;
    *    string zone maps are truncate(16) BOUNDS — `exact_bounds`
    *    distinguishes them); null otherwise (no promise beats a
    *    wrong one, the same rule the scan applies);
    *  - `ndv_estimate`: the merged KMV distinct-count estimate the
    *    CBO receives, when every file carries the column's sketch;
    *  - `proven_no_nulls`: every file holds writer evidence of zero
    *    nulls (what lets metadata-only DELETE drop whole files);
    *  - `stats_files`/`ndv_files`/`bloom_files` of `files`: coverage
    *    counts — partial coverage explains a null estimate. */
  private def statsTable(spark: SparkSession, dir: String): Table = {
    val schema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("data_type", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("eq_pending", BooleanType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("stats_files", IntegerType, nullable = false),
      StructField("min_value", StringType, nullable = true),
      StructField("max_value", StringType, nullable = true),
      StructField("exact_bounds", BooleanType, nullable = false),
      StructField("ndv_files", IntegerType, nullable = false),
      StructField("ndv_estimate", LongType, nullable = true),
      StructField("proven_no_nulls", BooleanType, nullable = false),
      StructField("bloom_files", IntegerType, nullable = false)))
    val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = SnapshotTable.readManifest(spark, dir, v)
    val known = SnapshotTable.tableSchema(spark, dir, v)
    val total = m.totalRows
    val eqPending = m.files.exists(_.eqDv.nonEmpty)
    val n = m.files.size
    val rows = known.fields.toSeq.map { f =>
      val pc = SnapshotTable.physicalName(f)
      val intCov = m.files.count(_.stats.contains(pc))
      val strCov = m.files.count(_.strStats.contains(pc))
      val ndvCov = m.files.count(_.ndv.contains(pc))
      val bloomCov = m.files.count(_.bloom.contains(pc))
      val (minV, maxV, exact) =
        if (n > 0 && intCov == n) {
          val ranges = m.files.map(_.stats(pc))
          (ranges.map(_._1).min.toString, ranges.map(_._2).max.toString, true)
        } else if (n > 0 && strCov == n) {
          val ranges = m.files.map(_.strStats(pc))
          (ranges.map(_._1).min, ranges.map(_._2).max, false)
        } else (null, null, false) // no coverage ⇒ no bounds to be exact about
      val ndv: Any =
        if (n > 0 && ndvCov == n) {
          val merged = new java.util.TreeSet[java.lang.Long]()
          m.files.foreach(_.ndv(pc).foreach { x =>
            merged.add(x)
            if (merged.size > SnapshotTable.NdvK) merged.pollLast()
          })
          Long.box(math.max(1L,
            graft.functions.cat.KmvSketch.estimate(merged, SnapshotTable.NdvK)))
        } else null
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(f.name),
        UTF8String.fromString(f.dataType.simpleString),
        total, eqPending, n,
        math.max(intCov, strCov),
        Option(minV).map(UTF8String.fromString).orNull,
        Option(maxV).map(UTF8String.fromString).orNull,
        exact, ndvCov, ndv,
        n > 0 && m.files.forall(_.noNulls.contains(pc)),
        bloomCov)): InternalRow
    }
    new SnapshotMetaTable(s"graft_snapshot($dir).stats", schema, rows)
  }

  private def historyTable(spark: SparkSession, dir: String): Table = {
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("file_count", IntegerType, nullable = false),
      StructField("dv_rows", LongType, nullable = false)))
    val rows = SnapshotTable.versions(spark, dir).map { v =>
      val m = SnapshotTable.readManifest(spark, dir, v)
      new GenericInternalRow(Array[Any](
        v, UTF8String.fromString(m.op), m.ts * 1000L, m.totalRows,
        m.files.length, m.files.flatMap(_.dv.map(_.rows)).sum))
        : InternalRow
    }
    new SnapshotMetaTable(s"graft_snapshot($dir).history", schema, rows)
  }

  private def filesTable(spark: SparkSession, dir: String): Table = {
    val statsType = MapType(StringType, ArrayType(LongType, false), false)
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("dv_path", StringType, nullable = true),
      StructField("dv_rows", LongType, nullable = false),
      StructField("stats", statsType, nullable = false),
      StructField("bloom_cols", ArrayType(StringType, false), nullable = false),
      StructField("bucket", IntegerType, nullable = true),
      StructField("bucket_n", IntegerType, nullable = true),
      StructField("sorted_by", StringType, nullable = true),
      StructField("no_nulls", ArrayType(StringType, false), nullable = false),
      StructField("str_stats",
        MapType(StringType, ArrayType(StringType, false), false),
        nullable = false),
      // pending equality-delete sidecars (paths); non-empty means
      // live_rows is an UPPER bound until purge/compact folds them
      StructField("eq_dv", ArrayType(StringType, false),
        nullable = false)))
    val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val rows = SnapshotTable.readManifest(spark, dir, v).files.map { fe =>
      val statKeys = fe.stats.keys.toSeq.sorted
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(fe.path), fe.rows, fe.liveRows,
        fe.dv.map(d => UTF8String.fromString(d.path)).orNull,
        fe.dv.map(_.rows).getOrElse(0L),
        new ArrayBasedMapData(
          new GenericArrayData(statKeys.map(UTF8String.fromString).toArray[Any]),
          new GenericArrayData(statKeys.map(k => new GenericArrayData(
            Array[Any](fe.stats(k)._1, fe.stats(k)._2))).toArray[Any])),
        new GenericArrayData(
          fe.bloom.keys.toSeq.sorted.map(UTF8String.fromString).toArray[Any]),
        fe.bucket.map(Int.box).orNull,
        fe.bucketN.map(Int.box).orNull,
        fe.sortedBy.map(UTF8String.fromString).orNull,
        new GenericArrayData(
          fe.noNulls.map(UTF8String.fromString).toArray[Any]),
        {
          val ks = fe.strStats.keys.toSeq.sorted
          new ArrayBasedMapData(
            new GenericArrayData(ks.map(UTF8String.fromString).toArray[Any]),
            new GenericArrayData(ks.map(k => new GenericArrayData(Array[Any](
              UTF8String.fromString(fe.strStats(k)._1),
              UTF8String.fromString(fe.strStats(k)._2)))).toArray[Any]))
        },
        new GenericArrayData(
          fe.eqDv.map(UTF8String.fromString).toArray[Any])))
        : InternalRow
    }
    new SnapshotMetaTable(s"graft_snapshot($dir).files", schema, rows)
  }

  private def refsTable(spark: SparkSession, dir: String): Table = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("created_at", TimestampType, nullable = false)))
    val rows = SnapshotTable.listTags(spark, dir).map { t =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(t.name), t.version, t.ts * 1000L)): InternalRow
    }
    new SnapshotMetaTable(s"graft_snapshot($dir).refs", schema, rows)
  }

  /** `cat.ns.t.branches`: every branch with the MAIN version it forked
    * from (or was last fast-forwarded to) and its own head version. */
  private def branchesTable(spark: SparkSession, dir: String): Table = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))
    val rows = SnapshotTable.listBranches(spark, dir).map {
      case (name, base, head) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(name), base, head)): InternalRow
    }
    new SnapshotMetaTable(s"graft_snapshot($dir).branches", schema, rows)
  }
}

/** A read-only V2 table serving driver-computed metadata rows through
  * one partition. */
final class SnapshotMetaTable(name0: String, schema0: StructType,
                              rows: Seq[InternalRow])
  extends Table with SupportsRead {

  override def name(): String = name0
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MetaRowsScan(name0, schema0, rows)
}

/** A V2 scan serving pre-computed rows from one partition — shared by
  * the metadata tables and the procedure result sets. */
final class MetaRowsScan(name0: String, schema0: StructType,
                         rows: Seq[InternalRow])
  extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = schema0
  override def description(): String = name0
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaRowsPartition(rows.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = p.asInstanceOf[MetaRowsPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

private final case class MetaRowsPartition(rows: Array[InternalRow])
  extends InputPartition
