package graft.sources.connector

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

import graft.sources.SnapshotTable

/** SQL-invocable TABLE SERVICES: `CALL cat.system.<proc>(…)` — the
  * stored-procedure face of the maintenance/versioning ops, through
  * Spark's own ProcedureCatalog protocol (the same surface Iceberg
  * exposes its services on). Each procedure resolves its `table`
  * argument against the catalog root, runs the programmatic op, and
  * returns a one-row result set (served by [[MetaRowsScan]]):
  *
  *  - `restore(table, version)` — roll the table back to a version
  *    (new commit; history intact).
  *  - `vacuum(table, keep_versions, min_age_ms)` — expire time
  *    travel + aged orphans; returns the reclaimed file count.
  *  - `compact(table, small_rows, target_rows)` — bin-pack small
  *    files (content-neutral).
  *  - `purge_deletes(table)` — fold deletion vectors into files.
  *  - `upgrade(table)` — bring a table to the current on-disk format
  *    ([[SnapshotTable.upgrade]]): record the schema of a table written
  *    before every commit recorded one, and convert retired (file, pos)
  *    deletion-vector sidecars to per-file bitmaps; returns the
  *    upgraded version (a no-op on a current table).
  *  - `rebucket(table)` — rewrite through the declared bucket layout
  *    (restores storage-partitioned-join capability after unbucketed
  *    writes; folds deletion vectors in).
  *  - `maintain(table)` — the policy-driven sweep (default
  *    [[SnapshotTable.MaintenancePolicy]]); returns what fired.
  *  - `create_tag(table, name, version)` / `drop_tag(table, name)` —
  *    named refs: `VERSION AS OF '<name>'` addressing plus vacuum
  *    pinning (`version = -1` tags the current version).
  *  - `clone(table, target, version, deep)` — register `target` as a
  *    clone of `table` at `version` (-1 = current): shallow by
  *    default (O(metadata), files shared + pinned by an auto tag on
  *    the source), `deep = true` copies the bytes.
  *  - `create_branch(table, name)` / `fast_forward(table, branch)` /
  *    `drop_branch(table, name)` — write-audit-publish: branch the
  *    table (O(metadata) shallow clone, writable at
  *    `cat.ns.t.branch_<name>` with main's layout and CHECK gates),
  *    validate, then publish the audited state to main as ONE
  *    linear-history commit (loud conflict if main advanced).
  *  - `recluster(table, max_depth, target_rows)` — incremental
  *    re-clustering: re-sort ONLY the clusterBy-key overlap components
  *    whose stabbing depth exceeds `max_depth` (zone-map decay
  *    detected from manifest intervals; content-neutral).
  *
  * A procedure that mutates data is `isDeterministic = false`; every
  * argument is a required IN parameter (explicit beats defaulted for
  * operations that rewrite data or drop history). */
object GraftProcedures {

  /** Every procedure name [[load]] serves. */
  val Names: Seq[String] = Seq("restore", "vacuum", "compact", "rebucket",
    "purge_deletes", "upgrade", "maintain", "create_tag", "drop_tag",
    "clone", "create_branch", "fast_forward", "drop_branch", "recluster",
    "ann_build", "ann_build_pq", "ann_refresh", "ann_search",
    "delete_by_key")

  /** Where table `dir`'s ANN index `name` lives: nested under the
    * table root (like branches), dropped with the table, never listed
    * as a table by the catalog. */
  private def annDir(dir: String, name: String): String = {
    require("^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r.findFirstIn(name).isDefined,
      s"invalid index name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*, ≤64 chars)")
    s"$dir/_ann/$name"
  }

  /** All procedures, by lower-case name. `dirOfTable` resolves an
    * EXISTING table's identifier to its directory; `dirOfNewTable`
    * resolves an identifier that may not exist yet (clone targets). */
  def load(name: String, dirOfTable: String => String,
           dirOfNewTable: String => String = identity): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "restore" => Some(proc("restore",
        Array(in("table", StringType), in("version", LongType)),
        StructType(Seq(StructField("restored_to", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val target = args.getLong(1)
          val v = SnapshotTable.restore(spark, dir, target)
          Seq(new GenericInternalRow(Array[Any](target, v)))
      })
      case "vacuum" => Some(proc("vacuum",
        Array(in("table", StringType), in("keep_versions", IntegerType),
          in("min_age_ms", LongType)),
        StructType(Seq(
          StructField("files_deleted", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val deleted = SnapshotTable.vacuum(spark, dir, args.getInt(1),
            args.getLong(2))
          Seq(new GenericInternalRow(Array[Any](deleted.length)))
      })
      case "compact" => Some(proc("compact",
        Array(in("table", StringType), in("small_rows", LongType),
          in("target_rows", LongType),
          // optional (round-18): the OPTIMIZE … WHERE shape — scope
          // the bin-pack to files the predicate may match (manifest-
          // pruned); '' = whole table. A SQL boolean expression over
          // the table's columns, e.g. 'day >= 20240101'.
          ProcedureParameter.in("where", StringType)
            .defaultValue("''").build()),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val whereStr = args.getUTF8String(3).toString.trim
          val where =
            if (whereStr.isEmpty) None
            else Some(org.apache.spark.sql.functions.expr(whereStr))
          val v = SnapshotTable.compact(spark, dir, args.getLong(1),
            args.getLong(2), where = where)
          Seq(new GenericInternalRow(Array[Any](v)))
      })
      case "rebucket" => Some(proc("rebucket",
        Array(in("table", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false),
          StructField("files", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val v = SnapshotTable.rebucket(spark, dir)
          val files = SnapshotTable.readManifest(spark, dir, v).files.size
          Seq(new GenericInternalRow(Array[Any](v, files)))
      })
      // delete_by_key(table, key_cols, keys_table): EQUALITY deletes
      // by (possibly composite) business key — `key_cols` is a
      // comma-separated column list, `keys_table` any catalog table
      // carrying those columns; one O(batch) sidecar commit, zero
      // data reads (SnapshotTable.deleteByKeys). The DML DELETE
      // statement stays on deletion vectors (predicate semantics);
      // this is the keyed-CDC shape where the key list IS the delete.
      case "delete_by_key" => Some(proc("delete_by_key",
        Array(in("table", StringType), in("key_cols", StringType),
          in("keys_table", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val cols = args.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
          require(cols.nonEmpty, "delete_by_key needs at least one key column")
          val keys = SnapshotTable.scan(spark,
            dirOfTable(args.getUTF8String(2).toString))
            .select(cols.map(c =>
              org.apache.spark.sql.functions.col(s"`$c`")): _*)
          val v = SnapshotTable.deleteByKeys(spark, dir, cols, keys)
          Seq(new GenericInternalRow(Array[Any](v)))
      })
      case "purge_deletes" => Some(proc("purge_deletes",
        Array(in("table", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val v = SnapshotTable.purgeDeletes(spark, dir)
          Seq(new GenericInternalRow(Array[Any](v)))
      })
      case "upgrade" => Some(proc("upgrade",
        Array(in("table", StringType)),
        StructType(Seq(StructField("version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val v = SnapshotTable.upgrade(spark, dir)
          Seq(new GenericInternalRow(Array[Any](v)))
      })
      case "maintain" => Some(proc("maintain",
        Array(in("table", StringType),
          // optional: the ANALYZE-freshness gate (fraction of row-count
          // drift past which frozen stats.* re-ANALYZE; 0 disables) —
          // CALL maintain('t') keeps the 10% default, CALL
          // maintain('t', 0.25) tunes it
          ProcedureParameter.in("analyze_drift_pct", DoubleType)
            .defaultValue("0.1").build(),
          // optional (round-18): walk the table's ANN indexes too —
          // refresh the stale ones (O(changed rows) each, before
          // vacuum so retention sees the fresh watermarks) and REPORT
          // rebuild-recommended for any whose quantizer-drift ratio
          // exceeds ~8 (never auto-rebuilds: a new quantizer is a new
          // index, an operator's call)
          ProcedureParameter.in("refresh_indexes", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(
          StructField("purged", BooleanType, nullable = false),
          StructField("compacted", BooleanType, nullable = false),
          StructField("files_vacuumed", IntegerType, nullable = false),
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false),
          StructField("files_rebucketed", IntegerType, nullable = false),
          StructField("stats_refreshed", BooleanType, nullable = false),
          StructField("indexes_refreshed", IntegerType, nullable = false),
          // comma-joined index names past the drift threshold or
          // structurally dead (rebuild is their remedy); empty =
          // nothing to do
          StructField("index_rebuild_recommended", StringType,
            nullable = false),
          // names whose sweep failed TWICE on a non-structural error
          // (transient I/O) — look, don't rebuild
          StructField("index_errors", StringType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          // the CALL face opts into ANALYZE freshness (default 10%
          // drift, tunable per call): a maintenance sweep is exactly
          // where stale CBO inputs should get caught — no-op on
          // never-analyzed tables
          val r = SnapshotTable.maintain(spark, dir,
            SnapshotTable.MaintenancePolicy(
              analyzeDriftPct = args.getDouble(1),
              refreshIndexes = args.getBoolean(2)))
          Seq(new GenericInternalRow(Array[Any](r.purged, r.compacted,
            r.vacuumedFiles, r.filesBefore, r.filesAfter, r.rebucketedFiles,
            r.statsRefreshed, r.indexesRefreshed,
            org.apache.spark.unsafe.types.UTF8String.fromString(
              r.indexRebuildRecommended.mkString(",")),
            org.apache.spark.unsafe.types.UTF8String.fromString(
              r.indexErrors.mkString(",")))))
      })
      case "create_tag" => Some(proc("create_tag",
        Array(in("table", StringType), in("name", StringType),
          in("version", LongType)),
        StructType(Seq(
          StructField("pinned_version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val v = args.getLong(2)
          val pinned = SnapshotTable.createTag(spark, dir,
            args.getUTF8String(1).toString, if (v < 0) None else Some(v))
          Seq(new GenericInternalRow(Array[Any](pinned)))
      })
      case "drop_tag" => Some(proc("drop_tag",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(
          StructField("existed", BooleanType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val existed = SnapshotTable.dropTag(spark, dir,
            args.getUTF8String(1).toString)
          Seq(new GenericInternalRow(Array[Any](existed)))
      })
      case "clone" => Some(proc("clone",
        Array(in("table", StringType), in("target", StringType),
          in("version", LongType), in("deep", BooleanType)),
        StructType(Seq(
          StructField("cloned_version", LongType, nullable = false),
          StructField("files_shared", IntegerType, nullable = false)))) {
        (spark, args) =>
          val src = dirOfTable(args.getUTF8String(0).toString)
          val dst = dirOfNewTable(args.getUTF8String(1).toString)
          val v = args.getLong(2)
          val deep = args.getBoolean(3)
          val resolved = if (v < 0) SnapshotTable.latestVersion(spark, src)
            .getOrElse(throw new IllegalStateException(
              s"cannot clone empty table $src")) else v
          SnapshotTable.cloneTable(spark, src, dst, Some(resolved), deep)
          val shared = if (deep) 0
          else SnapshotTable.readManifest(spark, dst, 1L).files.size
          Seq(new GenericInternalRow(Array[Any](resolved, shared)))
      })
      case "create_branch" => Some(proc("create_branch",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(
          StructField("base_version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val base = SnapshotTable.createBranch(spark, dir,
            args.getUTF8String(1).toString)
          Seq(new GenericInternalRow(Array[Any](base)))
      })
      case "fast_forward" => Some(proc("fast_forward",
        Array(in("table", StringType), in("branch", StringType)),
        StructType(Seq(
          StructField("published_version", LongType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val v = SnapshotTable.fastForward(spark, dir,
            args.getUTF8String(1).toString)
          Seq(new GenericInternalRow(Array[Any](v)))
      })
      case "recluster" => Some(proc("recluster",
        Array(in("table", StringType), in("max_depth", IntegerType),
          in("target_rows", LongType)),
        StructType(Seq(
          StructField("files_rewritten", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val n = SnapshotTable.reclusterDecayed(spark, dir,
            args.getInt(1), args.getLong(2))
          Seq(new GenericInternalRow(Array[Any](n)))
      })
      // --- ANN index services (operators.AnnIndex's SQL face) ---
      // ann_build(table, index, id_col, vec_col, dim, centroids):
      // freeze a coarse quantizer (the `centroids` rows with the
      // smallest ids — deterministic; callers wanting k-means or a
      // custom sample use the programmatic build) and materialize
      // cell assignments under <table>/_ann/<index>.
      case "ann_build" => Some(proc("ann_build",
        Array(in("table", StringType), in("index", StringType),
          in("id_col", StringType), in("vec_col", StringType),
          in("dim", IntegerType), in("centroids", IntegerType)),
        StructType(Seq(
          StructField("indexed_version", LongType, nullable = false),
          StructField("cells", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val idx = annDir(dir, args.getUTF8String(1).toString)
          val idCol = args.getUTF8String(2).toString
          val vecCol = args.getUTF8String(3).toString
          val k = args.getInt(5)
          require(k > 0, "centroids must be positive")
          import org.apache.spark.sql.functions.col
          val cents = SnapshotTable.scan(spark, dir)
            .orderBy(col(s"`$idCol`")).limit(k)
          val v = graft.operators.AnnIndex.build(spark, dir, idx, cents,
            args.getInt(4), idCol, vecCol)
          Seq(new GenericInternalRow(Array[Any](v, k)))
      })
      // ann_build_pq(table, index, id_col, vec_col, dim, centroids,
      // m, ks, iters): the PRODUCT-QUANTIZED face of ann_build — same
      // frozen coarse quantizer, plus PQ codebooks trained over the
      // build-time corpus; assign/ stores packed 8-byte codes instead
      // of embeddings (the index stops duplicating the corpus's
      // vector bytes — see AnnIndex.PqSpec).
      case "ann_build_pq" => Some(proc("ann_build_pq",
        Array(in("table", StringType), in("index", StringType),
          in("id_col", StringType), in("vec_col", StringType),
          in("dim", IntegerType), in("centroids", IntegerType),
          in("m", IntegerType), in("ks", IntegerType),
          in("iters", IntegerType),
          // round-18: codebooks train on a deterministic hash-sampled
          // fraction of the corpus (1.0 = every row) — at 10⁹ rows
          // full-corpus Lloyd rounds are hours of scan a 1% draw
          // makes minutes, with encode/search unchanged
          ProcedureParameter.in("train_fraction", DoubleType)
            .defaultValue("1.0").build()),
        StructType(Seq(
          StructField("indexed_version", LongType, nullable = false),
          StructField("cells", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val idx = annDir(dir, args.getUTF8String(1).toString)
          val idCol = args.getUTF8String(2).toString
          val vecCol = args.getUTF8String(3).toString
          val k = args.getInt(5)
          require(k > 0, "centroids must be positive")
          import org.apache.spark.sql.functions.col
          val cents = SnapshotTable.scan(spark, dir)
            .orderBy(col(s"`$idCol`")).limit(k)
          val v = graft.operators.AnnIndex.build(spark, dir, idx, cents,
            args.getInt(4), idCol, vecCol,
            pq = Some(graft.operators.AnnIndex.PqSpec(args.getInt(6),
              args.getInt(7), args.getInt(8),
              trainFraction = args.getDouble(9))))
          Seq(new GenericInternalRow(Array[Any](v, k)))
      })
      // ann_refresh(table, index): advance the index to the corpus
      // head by consuming the change feed — O(changed rows). The
      // result row carries the QUANTIZER DRIFT signal (metadata-only:
      // max/median estimated cell population — see
      // [[graft.operators.AnnIndex.driftStats]]) so maintenance jobs
      // can gate a rebuild on it (policy: rebuild past ~8).
      case "ann_refresh" => Some(proc("ann_refresh",
        Array(in("table", StringType), in("index", StringType)),
        StructType(Seq(
          StructField("indexed_version", LongType, nullable = false),
          StructField("drift_ratio", DoubleType, nullable = false),
          StructField("max_cell_rows", DoubleType, nullable = false),
          StructField("median_cell_rows", DoubleType, nullable = false),
          // confidence: the fraction of rows in single-cell files,
          // where the estimate is exact — tells a sharp signal from a
          // range-smeared one
          StructField("drift_exact_fraction", DoubleType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val idx = annDir(dir, args.getUTF8String(1).toString)
          val v = graft.operators.AnnIndex.refresh(spark, idx)
          val d = graft.operators.AnnIndex.driftStats(spark, idx)
          Seq(new GenericInternalRow(Array[Any](v, d.ratio,
            d.maxCellRows, d.medianCellRows, d.exactFraction)))
      })
      // ann_search(table, index, query_table, k, nprobe[, k_cand]):
      // top-k ANN for every row of `query_table` (same id/vector
      // columns the index was built with), as a result set
      // (qid, cid, cos, rank). On a PQ index the ADC pass retrieves
      // `k_cand` candidates (default 4*k — recall of the refined
      // top-k is capped by this pool, so it is a PARAMETER, not a
      // constant) and the exact-cosine refine keeps k
      // (AnnIndex.searchAuto), so `cos` means the same thing on
      // either index layout. One meta resolution per CALL.
      case "ann_search" => Some(proc("ann_search",
        Array(in("table", StringType), in("index", StringType),
          in("query_table", StringType), in("k", IntegerType),
          in("nprobe", IntegerType),
          // 0 = "the 4*k default"; ignored on flat indexes (no
          // retrieve-then-refine pass there)
          ProcedureParameter.in("k_cand", IntegerType)
            .defaultValue("0").build()),
        StructType(Seq(
          StructField("qid", LongType, nullable = false),
          StructField("cid", LongType, nullable = false),
          StructField("cos", DoubleType, nullable = false),
          StructField("rank", IntegerType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val idx = annDir(dir, args.getUTF8String(1).toString)
          val queries = SnapshotTable.scan(spark,
            dirOfTable(args.getUTF8String(2).toString))
          val k = args.getInt(3)
          // the procedure protocol returns driver-side rows (LocalScan)
          // — bound the result so a corpus-sized query table cannot
          // OOM the driver; bulk search stays on the distributed API.
          // CAPPED count (round-18): the bound only needs "more than
          // cap or not", so the probe early-stops at cap+1 rows
          // instead of counting a possibly corpus-sized query table.
          val qCap = 1000000L / math.max(k, 1)
          val over = queries.limit((qCap + 1).min(Int.MaxValue).toInt)
            .count() > qCap
          require(!over,
            s"ann_search would return more than 1000000 rows to the " +
              "driver (procedure results are driver-local); for bulk " +
              "search use the programmatic AnnIndex.searchTopK, which " +
              "stays distributed")
          val nprobe = args.getInt(4)
          val kCand0 = args.getInt(5)
          require(kCand0 == 0 || kCand0 >= k,
            s"k_cand=$kCand0 must be >= k=$k (or 0 for the 4*k default)")
          val hits = graft.operators.AnnIndex.searchAuto(spark, idx,
            queries, k, nprobe,
            kCand = if (kCand0 <= 0) 4 * k else kCand0)
          hits.orderBy("qid", "rank")
            .collect().toSeq.map(r => new GenericInternalRow(Array[Any](
              r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
              : InternalRow)
      })
      case "drop_branch" => Some(proc("drop_branch",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(
          StructField("existed", BooleanType, nullable = false)))) {
        (spark, args) =>
          val dir = dirOfTable(args.getUTF8String(0).toString)
          val existed = SnapshotTable.dropBranch(spark, dir,
            args.getUTF8String(1).toString)
          Seq(new GenericInternalRow(Array[Any](existed)))
      })
      case _ => None
    }

  private def in(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()

  private def proc(name0: String, params: Array[ProcedureParameter],
                   resultSchema: StructType)(
      body: (SparkSession, InternalRow) => Seq[InternalRow])
      : UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = name0
      override def description(): String = s"graft table service $name0"
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val result = body(SparkSession.active, input).toArray
        // procedure output must be a LocalScan (driver-side rows)
        val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
          override def rows(): Array[InternalRow] = result
          override def readSchema(): StructType = resultSchema
          override def description(): String = s"call $name0"
        }
        Collections.singletonList(scan).iterator()
      }
    }
}
