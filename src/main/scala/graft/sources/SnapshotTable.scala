package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

/** A minimal transactional table format over parquet — the "Delta
  * gives this for free" note of SURVEY §2.1 made concrete without any
  * dependency beyond Spark + Hadoop FS. Completes the S5-S8 story
  * (`etl/loader.py:159-348`): where [[graft.operators.Sinks]]
  * re-expresses the reference's backup/truncate/restore protocol
  * 1:1 over plain directories, this is the engine-grade shape a
  * 100 TB deployment actually wants — snapshot isolation, time
  * travel, O(changed-files) MERGE, and stats-based data skipping.
  *
  * This object holds the table's operations: writes, DML, deletion
  * vectors and equality deletes, maintenance, refs and branches. The
  * on-disk log they commit through — layout, entry codec, resolution,
  * the commit protocol and expiry — is [[SnapshotLog]].
  */
object SnapshotTable {
  import SnapshotLog.{commit, jsonEscape, readBytes, tableSchemaJson,
    unionSchemaJson, widenNullability}

  /** Write-write conflict: a concurrent commit removed a file this
    * transaction had read and rewritten. The rewrite's output is based
    * on stale content, so committing it would silently drop the
    * concurrent commit's changes (a lost update). merge/delete/compact
    * catch this and retry from the new snapshot. */
  final class CommitConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** One immutable data file: relative path, PHYSICAL row count,
    * (min,max) per stats column (integral columns only, stored as
    * Long), an optional per-column bloom filter ([[BloomBits]] bits
    * as longs) for point-lookup skipping on NON-integral keys — the
    * skipping surface (min,max) stats cannot give a string column —
    * and an optional DELETION VECTOR pointer `dv` ([[Dv]]: this
    * file's Roaring bitmap of deleted row positions inside a per-commit
    * DV file, and how many rows it deletes). A file with a dv is
    * read merge-on-read: its physical bytes are untouched, readers
    * subtract the dv positions ([[deleteVectors]]). Stats and blooms
    * stay those of the PHYSICAL file — a superset of the live rows,
    * so data skipping stays conservative-correct. `bucket` is the
    * hash-bucket id when every row of the file satisfies
    * `GraftBucket.of(key) == bucket` under the table's declared
    * bucketing (bucketBy/buckets properties) — the per-file fact the
    * connector's storage-partitioned-join reporting and equality
    * bucket pruning stand on; files written outside the bucketed
    * write path carry None and disable both, never corrupt them.
    * `sortedBy` records that the file's rows are ascending in the
    * named (physical) column — bucketed writes sort within buckets
    * for free, and a scan whose buckets each hold ONE sorted file
    * reports output ordering, dropping the sort-merge join's per-
    * partition sorts on top of the retired exchanges. */
  /** `noNulls` lists stats columns (physical names) the writer saw
    * ZERO nulls in — the per-file evidence that lets a DELETE whose
    * stats range covers the whole file drop it from the manifest
    * without scanning (a null row would evaluate the predicate to
    * NULL and have to be kept; recorded schemas are nullable-widened,
    * so schema nullability alone can never prove this). Absent on
    * pre-noNulls manifests — conservative no-proof. */
  /** `strStats` are STRING zone maps: per-column (lower, upper) BOUNDS
    * in UTF8 binary order, truncated to [[StrStatLen]] code points —
    * the lower is a prefix of the true min (≤ it), the upper is the
    * truncated-increment of the true max (≥ it), exactly parquet's /
    * Iceberg's truncate(16) contract — so every pruning decision is
    * bound-safe, never exact-value-dependent. Absent on pre-strStats
    * manifests and on files whose upper bound was unrecordable. */
  final case class FileEntry(path: String, rows: Long,
                             stats: Map[String, (Long, Long)],
                             bloom: Map[String, Seq[Long]] = Map.empty,
                             dv: Option[Dv] = None,
                             bucket: Option[Int] = None,
                             sortedBy: Option[String] = None,
                             bucketN: Option[Int] = None,
                             noNulls: Seq[String] = Nil,
                             strStats: Map[String, (String, String)] = Map.empty,
                             ndv: Map[String, Seq[Long]] = Map.empty,
                             eqDv: Seq[String] = Nil) {
    /** Logical (post-deletion-vector) row count. With pending
      * EQUALITY deletes ([[eqDv]] non-empty) this is an UPPER BOUND:
      * the matched-row count is unknown until read or fold time — the
      * metadata-count pushdown refuses such files and statistics
      * overestimate, the safe direction. */
    def liveRows: Long = rows - dv.map(_.rows).getOrElse(0L)

    /** True when this file's recorded bucket id is trustworthy under a
      * DECLARED count of `n`: the id is in range AND the file records
      * the count it was written with. The count check is what makes a
      * re-declared layout safe: a table emptied and re-bucketed from 4
      * to 8 leaves old versions' files with ids 0..3 that are VALID
      * integers under n=8 — without the per-file count, a time-travel
      * (or restore) read would claim a co-partitioning the bytes don't
      * satisfy and an SPJ would silently join mis-bucketed rows. Files
      * written before the count was recorded (bucketN None) fail the
      * check and degrade to no-claim — conservative, never wrong. */
    def bucketedUnder(n: Int): Boolean =
      bucket.exists(b => b >= 0 && b < n) && bucketN.contains(n)
  }

  /** A file's DELETION VECTOR pointer: the portable Roaring bitmap of
    * its deleted row positions is the `size` bytes at byte `offset` of
    * the DV file `path` (table-root-relative like data files, absolute
    * on shallow clones and branches), and holds `rows` positions
    * ([[DeletionVectors]] is the format). A DV commit writes one DV
    * file with the vectors of the files it touched; every other entry
    * keeps its pointer, so one DV file may back entries of many
    * versions. Two entries hold the same deletions exactly when their
    * whole pointers are equal.
    *
    * An entry parsed without an offset points at a retired
    * consolidated (file, pos) sidecar ([[legacy]], offset -1): reads
    * and writes refuse it until [[upgrade]] converts the table. */
  final case class Dv(path: String, offset: Long, size: Int, rows: Long) {
    def legacy: Boolean = offset < 0
  }

  /** `ts` is the publish wall-clock in epoch millis (0 for manifests
    * written before the field existed — they sort before any real
    * timestamp, which is the conservative reading for [[scanAsOf]]). */
  final case class Manifest(version: Long, op: String, files: Seq[FileEntry],
                            ts: Long = 0L) {
    /** Logical row count: physical rows minus deletion-vector rows. */
    def totalRows: Long = files.map(_.liveRows).sum
  }

  /** Per-file bloom geometry: 1024 bits / 4 probes ≈ 1% fpp at ~100
    * distinct keys per file, 128 bytes per (file, column) in the
    * manifest — data skipping priced in manifest bytes, like the
    * (min,max) stats. */
  val BloomBits = 1024
  val BloomK = 4

  /** Per-file KMV NDV sketch size: 64 min-hashes ≈ 12.5% relative
    * error on the merged estimate — plenty for CBO join-size
    * magnitudes — at ~700 JSON bytes per column per file, small
    * enough that a declared `ndvCols` column never dominates the
    * manifest. */
  val NdvK = 64

  /** String zone-map truncation length, in code points. */
  val StrStatLen = 16

  /** UTF8 binary comparison — Spark's string ordering (Java String
    * compareTo diverges on supplementary characters). */
  private[graft] def strCmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** A ≤-the-true-min lower bound: the [[StrStatLen]]-code-point
    * prefix (a prefix sorts ≤ the full string in UTF8 order). */
  private[graft] def strLowerBound(v: String): String =
    if (v.codePointCount(0, v.length) <= StrStatLen) v
    else v.substring(0, v.offsetByCodePoints(0, StrStatLen))

  /** A ≥-the-true-max upper bound: the value itself when it fits,
    * else the truncated prefix with its last incrementable code point
    * bumped (skipping the surrogate gap) and the tail dropped — None
    * when no code point can be bumped (all at U+10FFFF). */
  private[graft] def strUpperBound(v: String): Option[String] = {
    if (v.codePointCount(0, v.length) <= StrStatLen) return Some(v)
    val prefix = v.substring(0, v.offsetByCodePoints(0, StrStatLen))
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val bumped = if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
        return Some(new String(cps.take(i) :+ bumped, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataDir(dir: String) = new Path(dir, "data")

  /** Versions with a committed entry, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    SnapshotLog.versions(spark, dir)

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    SnapshotLog.latestVersion(spark, dir)

  /** `version`'s resolved manifest ([[SnapshotLog.readManifest]]). */
  def readManifest(spark: SparkSession, dir: String, version: Long): Manifest =
    SnapshotLog.readManifest(spark, dir, version)

  /** `version`'s recorded schema ([[SnapshotLog.tableSchema]]). */
  private[graft] def tableSchema(spark: SparkSession, dir: String,
                                 version: Long): org.apache.spark.sql.types.StructType =
    SnapshotLog.tableSchema(spark, dir, version)

  /** Test hook: force the next resolutions cold. */
  private[graft] def invalidateResolveCache(): Unit =
    SnapshotLog.invalidateResolveCache()

  /** UPGRADE a table to the current on-disk format, as one full
    * "upgrade" version over the latest version's entries:
    *  - a version that records no schema gets one from one
    *    mergeSchema footer pass over its files;
    *  - entries pointing at retired consolidated (file, pos) sidecars
    *    get per-file bitmaps: each sidecar's rows are read once, and
    *    one new DV file holds every converted vector.
    * Equality-delete refs and current vectors are untouched. Older
    * versions keep refusing reads. A no-op returning the latest
    * version when it is already current. */
  def upgrade(spark: SparkSession, dir: String): Long = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val files = readManifest(spark, dir, v).files
    val recorded = SnapshotLog.entry(spark, dir, v).schema
    val legacy = files.filter(_.dv.exists(_.legacy))
    if (recorded.isDefined && legacy.isEmpty) return v
    // no files, no footers: the empty version records no columns
    val schemaJson = recorded.getOrElse(
      if (files.isEmpty) new org.apache.spark.sql.types.StructType().json
      else spark.read.option("mergeSchema", "true")
        .parquet(files.map(fe => resolvePath(dir, fe.path)): _*).schema.json)
    val converted = convertLegacyVectors(spark, dir, legacy)
    commit(spark, dir, "upgrade",
      files.map(fe => converted.getOrElse(fe.path, fe)),
      schemaJson = Some(schemaJson), keepMapping = true, expectLatest = Some(v))
  }

  /** `legacy` entries with their retired sidecar pointers replaced by
    * bitmaps in one new DV file, keyed by entry path. Each sidecar is
    * read once, for the files that point at it; a sidecar whose rows
    * disagree with the manifest's count refuses. */
  private def convertLegacyVectors(spark: SparkSession, dir: String,
                                   legacy: Seq[FileEntry]): Map[String, FileEntry] = {
    if (legacy.isEmpty) return Map.empty
    val vectors = legacy.groupBy(_.dv.get.path).toSeq.flatMap { case (sidecar, fes) =>
      val (byFile, _) = partialVectors(spark.read.parquet(resolvePath(dir, sidecar))
        .filter(col("file").isin(fes.map(fe => fileKey(fe.path)): _*)))
      fes.map { fe =>
        val b = byFile.getOrElse(fileKey(fe.path), new RoaringBitmap())
        if (b.getLongCardinality != fe.dv.get.rows) throw new IllegalStateException(
          s"sidecar $sidecar holds ${b.getLongCardinality} positions of " +
            s"${fe.path}; the manifest records ${fe.dv.get.rows}")
        fe -> b
      }
    }
    publishVectors(spark, dir, vectors)._2.map(fe => fe.path -> fe).toMap
  }

  /** Column mapping (RENAME COLUMN support): a renamed column's
    * StructField carries its PHYSICAL (as-written) name in metadata
    * under this key. Data files and the manifest's per-file
    * stats/bloom keys always use physical names, which are FROZEN at
    * first write — a rename is then a metadata-only schema commit
    * (Delta's column-mapping `name` mode, minus the UUIDs: the
    * physical name is simply the column's original name). Absent
    * metadata ⇒ physical = logical, the overwhelmingly common case,
    * and every mapping-aware path below degenerates to the identity. */
  private[graft] val PhysicalNameKey = "graft.physical"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private[graft] def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physicalName(f) != f.name)

  /** logical → physical column name per `schema` (identity when the
    * column is unmapped or absent). */
  private[graft] def physicalFor(schema: org.apache.spark.sql.types.StructType,
                                 colName: String): String =
    schema.fields.find(_.name == colName).map(physicalName).getOrElse(colName)

  /** The schema with every field renamed to its physical name — what
    * the data files actually contain. */
  private[graft] def toPhysical(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = physicalName(f))))

  /** The schema with every [[PhysicalNameKey]] metadata entry removed.
    * A WRITER's schema must never smuggle a mapping into a commit:
    * Spark's `Alias` propagates the child attribute's metadata, so a
    * frame derived from a mapped table's scan still carries
    * `graft.physical` on its fields — recording that verbatim on an
    * OVERWRITE (whose files are written under LOGICAL names) would
    * make later reads resolve a stale physical name against files
    * that only contain the logical one and return all NULLs. The
    * mapping is chain state: carry commits inherit it from the
    * previous entry, replaceSchema commits (ALTER RENAME) declare it
    * explicitly, and everything else is stripped here. */
  private[graft] def stripMapping(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (!s.fields.exists(_.metadata.contains(PhysicalNameKey))) s
    else org.apache.spark.sql.types.StructType(s.fields.map { f =>
      if (!f.metadata.contains(PhysicalNameKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(PhysicalNameKey).build())
    })

  /** Run a rewrite transaction body, recomputing it from the fresh
    * snapshot on write-write conflict (bounded attempts). */
  private def retryOnConflict[T](what: String, maxAttempts: Int = 5)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  /** The table's DECLARED hash-bucket layout (`bucketBy`/`buckets`
    * TBLPROPERTIES) as (CURRENT logical column name, n) — None when
    * undeclared, when the column no longer exists, or when its type
    * is outside [[graft.sources.connector.GraftBucket]]'s surface.
    * DML rewrites and programmatic writes pass this to [[stageFiles]]
    * so the layout (and the table's storage-partitioned-join
    * capability) survives every non-streaming write path. */
  private def bucketLayout(spark: SparkSession, dir: String): Option[(String, Int)] = {
    val props = graft.sources.connector.GraftTableProps.read(
      spark.sparkContext.hadoopConfiguration, dir)
    for {
      c <- props.get("bucketBy")
      n <- props.get("buckets").map(_.toInt) if n > 0
      // bucketBy records the create-time (physical) name; resolve the
      // CURRENT logical field through the recorded schema
      s <- latestVersion(spark, dir).map(v => tableSchema(spark, dir, v))
      f <- s.fields.find(x => physicalName(x) == c)
        .orElse(s.fields.find(_.name == c))
      if graft.sources.connector.GraftBucket.supports(f.dataType)
    } yield (f.name, n)
  }

  /** Output-partition index from a Spark part-file name
    * (`part-00007-<uuid>…`); None on anything else — callers degrade
    * to an unbucketed entry rather than guessing. */
  private val PartIndexRe = "part-(\\d+)-.*".r
  private def partIndexOf(base: String): Option[Int] = base match {
    case PartIndexRe(i) => Some(i.toInt)
    case _ => None
  }

  /** Write `df` as new data files under `data/` and return their
    * entries (with per-file stats for `statsCols`, which must be
    * integral or string columns). Rows and min/max come from the
    * staged files' parquet footers — no Spark job re-reads the batch;
    * declared bloom/NDV sketches add one column-pruned aggregation.
    *
    * Column mapping: when the table's recorded schema carries renamed
    * columns, `df`'s (logical) columns are written under their FROZEN
    * physical names, and stats/bloom manifest keys are physical too —
    * uniform with every pre-rename file, so readers and skipping
    * resolve one canonical key. `applyMapping = false` is for
    * overwrite-shaped writes, whose commit replaces the schema (and
    * with it any mapping). One extra small log read per stage,
    * nothing when the table has no mapping.
    *
    * `bucketize = Some((col, n))` repartitions the frame by Spark's
    * own hash on `col` into exactly n partitions — partition id IS
    * the [[graft.sources.connector.GraftBucket]] id by construction —
    * and tags each staged entry with its bucket (parsed from the part
    * file's partition index; empty buckets write nothing). */
  private def stageFiles(spark: SparkSession, df0raw: DataFrame, dir: String,
                         statsCols0: Seq[String],
                         bloomCols0: Seq[String] = Nil,
                         applyMapping: Boolean = true,
                         bucketize: Option[(String, Int)] = None,
                         rebalance: Boolean = false): Seq[FileEntry] = {
    val bucketing = bucketize.filter { case (c, _) =>
      df0raw.columns.contains(c)
    }
    // `rebalance` (round-19, guide §6 small files): AQE-sized REBALANCE
    // before the stage write, so a small batch lands as ONE file
    // instead of one file per upstream partition (a 450-row CDC epoch
    // staged up to 32 tiny files; every later scan paid the opens),
    // while a large batch still splits at the advisory partition size —
    // scale-adaptive both ways, never a hard-coded coalesce. Opt-in
    // (epoch-sized writers + the `write.rebalance` table property):
    // the extra round-robin shuffle of the batch is the documented
    // Iceberg write.distribution-mode trade, wrong to force on large
    // straight-through appends. Bucketed layouts keep their own
    // exchange; a caller-clustered frame (cell-range assign writes)
    // opts out to preserve its clustering.
    val tableProps = graft.sources.connector.GraftTableProps
      .read(spark.sparkContext.hadoopConfiguration, dir)
    val wantRebalance = (rebalance ||
      tableProps.get("write.rebalance").contains("true")) && bucketing.isEmpty
    val df0 = bucketing match {
      case Some((c, n)) =>
        // the in-partition sort is what lets a one-file bucket report
        // output ordering (SMJ sorts elided) — and it is nearly free
        // here: the exchange already exists, the sort rides it
        df0raw.repartition(n, col(s"`$c`")).sortWithinPartitions(s"`$c`")
      case None => if (wantRebalance) df0raw.hint("rebalance") else df0raw
    }
    val mapping: Map[String, String] =
      if (!applyMapping) Map.empty
      else latestVersion(spark, dir).map(v => tableSchema(spark, dir, v))
        .filter(hasMapping)
        .map(_.fields.map(f => f.name -> physicalName(f)).toMap
          .filter { case (l, p) => l != p })
        .getOrElse(Map.empty)
    val (df, statsCols, bloomCols) =
      if (mapping.isEmpty) (df0, statsCols0, bloomCols0)
      else (df0.select(df0.columns.map(c =>
          col(s"`$c`").as(mapping.getOrElse(c, c))).toIndexedSeq: _*),
        statsCols0.map(c => mapping.getOrElse(c, c)),
        bloomCols0.map(c => mapping.getOrElse(c, c)))
    // statsCols must be integral or string — the same gate the V2 write
    // path enforces (SnapshotWriteSupport.validate). A fractional or
    // temporal column would record cast-truncated (min,max): for a
    // DOUBLE with true min -0.5 the manifest would say min 0, and the
    // metadata-only DELETE proofs would then "prove" a file fully
    // covered and drop it — silently deleting the -0.5 row. Fail loudly
    // here instead, BEFORE any bytes are staged.
    statsCols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = df.schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"statsCols column '$c' is not in the written schema"))
      require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType || dt == StringType,
        s"statsCols column '$c' must be integral or string, got ${dt.simpleString}")
    }
    // NDV sketches ride the table's declared `ndvCols` prop (physical
    // names, like bucketBy), so EVERY rewrite path — appends, DML
    // post-images, compaction, heal — re-records them without each
    // call site threading the list: a column that loses its sketch on
    // one file silently loses the table its plan-time NDV (the scan
    // only reports columns covered by every file). Non-eligible or
    // absent columns are skipped, never fatal.
    val ndvCols = tableProps.get("ndvCols").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .distinct
      .filter(c => df.schema.fields.find(_.name == c).exists { fld =>
        import org.apache.spark.sql.types._
        Seq(ByteType, ShortType, IntegerType, LongType, StringType)
          .contains(fld.dataType)
      })
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val stage = new Path(dir, s".stage-$nonce")
    val f = fs(spark, stage)
    df.write.mode("overwrite").parquet(stage.toString)
    // string stats columns get ZONE MAPS (truncated (lower,upper)
    // bounds) instead of long ranges; everything else is unchanged
    val strCols = statsCols.filter(c =>
      df.schema.fields.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.StringType))
    val intCols = statsCols.filterNot(strCols.contains)
    // Per-file rows / min-max / null counts come from the staged
    // parquet FOOTERS (round-18, guide §1.2/§6): the parquet writer
    // already computed exactly these statistics while writing, so the
    // post-hoc aggregation job that re-read every staged byte is pure
    // duplication — at 100 TB an append re-read its whole batch. A
    // column whose footer stats are absent/dropped (e.g. >4 KB string
    // values) degrades to "no stats entry" — readers treat missing
    // stats conservatively, so the fallback costs pruning, never
    // correctness. Bloom/NDV sketches are not in footers; they keep a
    // (column-pruned) aggregation pass below, only when declared.
    val partFiles = f.listStatus(stage).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val hc = spark.sparkContext.hadoopConfiguration
    val footers: Seq[(String, FooterFileStats)] =
      if (partFiles.lengthCompare(64) <= 0)
        partFiles.map(p => p.getName -> readFooterStats(hc, p, intCols, strCols))
      else {
        // a wide staged batch scrapes footers as one parallel
        // metadata-only job (executor-side Configuration, the sidecar
        // loaders' precedent)
        val paths = partFiles.map(_.toString)
        val ic = intCols; val sc = strCols
        spark.sparkContext
          .parallelize(paths, math.min(paths.size,
            spark.sparkContext.defaultParallelism))
          .map { s =>
            val p = new Path(s)
            p.getName -> readFooterStats(
              new org.apache.hadoop.conf.Configuration(), p, ic, sc)
          }.collect().toSeq.sortBy(_._1)
      }
    val sketchByFile: Map[String, org.apache.spark.sql.Row] =
      if (bloomCols.isEmpty && ndvCols.isEmpty) Map.empty
      else {
        val sketchAggs =
          bloomCols.map(c => graft.functions.cat.BloomAgg(
            graft.functions.TextFunctions.polyHash(col(c).cast("string")),
            BloomBits, BloomK).as(s"__bloom_$c")) ++
          ndvCols.map(c =>
            graft.functions.cat.KmvValues(col(c), NdvK).as(s"__ndv_$c"))
        spark.read.parquet(stage.toString)
          .select(((bloomCols ++ ndvCols).distinct.map(c => col(s"`$c`")) :+
            input_file_name().as("__file")): _*)
          .groupBy(col("__file"))
          .agg(sketchAggs.head, sketchAggs.tail: _*)
          .collect().toSeq
          .map(r => new Path(new java.net.URI(r.getString(0)).getPath).getName -> r)
          .toMap
      }
    f.mkdirs(dataDir(dir))
    // a 0-row part file (empty frame's schema carrier) stages nothing,
    // matching the aggregation path's per-file groupBy semantics
    val entries = footers.filter(_._2.rows > 0).zipWithIndex.map { case ((base, fst), i) =>
      val name = f"$nonce-p$i%05d.parquet"
      require(f.rename(new Path(stage, base), new Path(dataDir(dir), name)),
        s"failed to move staged file $base into $dir/data")
      val strStats = fst.strStats.flatMap { case (c, (lo, hi)) =>
        strUpperBound(hi).map(u => c -> (strLowerBound(lo), u))
      }
      val blooms = bloomCols.flatMap(c => sketchByFile.get(base).map(r =>
        c -> r.getAs[scala.collection.Seq[Long]](s"__bloom_$c").toVector
          .asInstanceOf[Seq[Long]])).toMap
      val ndv = ndvCols.flatMap(c => sketchByFile.get(base).map(r =>
        c -> r.getAs[scala.collection.Seq[Long]](s"__ndv_$c").toVector
          .asInstanceOf[Seq[Long]])).toMap
      val bucket = bucketing.flatMap { case (_, n) =>
        partIndexOf(base).filter(_ < n)
      }
      // sortedBy records the PHYSICAL name — the coordinate the files
      // (and later scans' ordering claims) actually use
      val sortedBy = bucketing.map { case (c, _) => mapping.getOrElse(c, c) }
      FileEntry(s"data/$name", fst.rows, fst.intStats, blooms,
        bucket = bucket, sortedBy = sortedBy,
        bucketN = bucket.flatMap(_ => bucketing.map(_._2)),
        noNulls = statsCols.filter(c =>
          fst.nonNull.get(c).contains(fst.rows)).sorted,
        strStats = strStats, ndv = ndv)
    }
    f.delete(stage, true)
    entries // empty input -> zero non-empty files -> empty (but valid) version
  }

  /** One staged file's stats, scraped from its parquet footer: exact
    * row count, per-column (min,max) for the requested integral and
    * string stats columns, and non-null counts for columns whose
    * every row group recorded a null count. Absent or dropped footer
    * statistics simply omit the column — the conservative direction
    * for every consumer (skipping keeps the file, noNulls stays
    * unclaimed). */
  private[graft] final case class FooterFileStats(
      rows: Long,
      intStats: Map[String, (Long, Long)],
      strStats: Map[String, (String, String)],
      nonNull: Map[String, Long])

  private[graft] def readFooterStats(
      conf: org.apache.hadoop.conf.Configuration, p: Path,
      intCols: Seq[String], strCols: Seq[String]): FooterFileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.unsafe.types.UTF8String
    val wanted = intCols ++ strCols
    val isStr = strCols.toSet
    val pfr = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      var rows = 0L
      val nn = scala.collection.mutable.Map(wanted.map(_ -> 0L): _*)
      val nnOk = scala.collection.mutable.Set(wanted: _*)
      val boundsOk = scala.collection.mutable.Set(wanted: _*)
      val iLo = scala.collection.mutable.Map[String, Long]()
      val iHi = scala.collection.mutable.Map[String, Long]()
      val sLo = scala.collection.mutable.Map[String, UTF8String]()
      val sHi = scala.collection.mutable.Map[String, UTF8String]()
      pfr.getFooter.getBlocks.forEach { b =>
        rows += b.getRowCount
        val byName = new scala.collection.mutable.HashMap[String,
          org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]()
        b.getColumns.forEach(cc => byName.put(cc.getPath.toDotString, cc))
        wanted.foreach { c =>
          byName.get(c) match {
            case None => nnOk -= c; boundsOk -= c
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) { nnOk -= c; boundsOk -= c }
              else {
                val nonNullHere = b.getRowCount - st.getNumNulls
                nn(c) += nonNullHere
                if (nonNullHere > 0) {
                  if (!st.hasNonNullValue) boundsOk -= c
                  else if (isStr(c)) {
                    val lo = UTF8String.fromBytes(st.genericGetMin
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                    val hi = UTF8String.fromBytes(st.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                    if (!sLo.contains(c) || lo.compareTo(sLo(c)) < 0) sLo(c) = lo
                    if (!sHi.contains(c) || hi.compareTo(sHi(c)) > 0) sHi(c) = hi
                  } else {
                    val lo = st.genericGetMin.asInstanceOf[Number].longValue
                    val hi = st.genericGetMax.asInstanceOf[Number].longValue
                    if (!iLo.contains(c) || lo < iLo(c)) iLo(c) = lo
                    if (!iHi.contains(c) || hi > iHi(c)) iHi(c) = hi
                  }
                }
              }
          }
        }
      }
      FooterFileStats(rows,
        intCols.collect { case c if boundsOk(c) && iLo.contains(c) =>
          c -> (iLo(c), iHi(c)) }.toMap,
        strCols.collect { case c if boundsOk(c) && sLo.contains(c) =>
          c -> (sLo(c).toString, sHi(c).toString) }.toMap,
        wanted.collect { case c if nnOk(c) => c -> nn(c) }.toMap)
    } finally pfr.close()
  }

  /** Commit `df` as a new snapshot. `mode` "overwrite" starts the file
    * list fresh; "append" carries the current version's files forward
    * — resolved INSIDE the commit's rebase loop, so concurrent
    * appenders can never drop each other's files. Old files stay on
    * disk for time travel until [[vacuum]]. */
  def write(spark: SparkSession, df: DataFrame, dir: String, mode: String,
            statsCols: Seq[String] = Nil, opTag: Option[String] = None,
            bloomCols: Seq[String] = Nil): Long = {
    val carry = mode match {
      case "overwrite" => false
      case "append" => true
      case other => throw new IllegalArgumentException(
        s"mode must be overwrite|append, got $other")
    }
    // appends stage under the table's physical names (mapping from the
    // recorded schema); overwrites stage the writer's own (logical)
    // names, so constraints bind against the writer's schema. Read
    // before staging: a refusal here leaves nothing behind.
    val known = (if (carry) latestVersion(spark, dir) else None)
      .map(v => tableSchema(spark, dir, v))
      .getOrElse(stripMapping(df.schema))
    // overwrite replaces the schema (and any rename mapping with it):
    // its files are written under the writer's own names
    val fresh = stageFiles(spark, df, dir, statsCols, bloomCols,
      applyMapping = carry, bucketize = bucketLayout(spark, dir))
    enforceCheckConstraints(spark, dir, fresh, known)
    commit(spark, dir, opTag.getOrElse(mode), fresh, carry = carry,
      schemaJson = Some(df.schema.json), owned = fresh.map(_.path))
  }

  /** CHECK-constraint gate over STAGED (not yet committed) files —
    * the core twin of the V2 write path's
    * `SnapshotWriteSupport.enforceConstraints`, covering programmatic
    * writes and DML POST-IMAGES (UPDATE/MERGE rewrites must not be a
    * back door around a declared constraint). One distributed
    * aggregate pass over exactly the staged rows; any violation
    * deletes the staged files and throws with the constraint names —
    * the table is untouched, no version burned. SQL CHECK semantics:
    * only a FALSE predicate violates (NULL passes). `known` carries
    * the rename mapping so predicates bind LOGICAL names against
    * physical-named staged files. */
  private def enforceCheckConstraints(
      spark: SparkSession, dir: String, entries: Seq[FileEntry],
      known: org.apache.spark.sql.types.StructType): Unit = {
    if (entries.isEmpty) return
    val checks = graft.sources.connector.GraftTableProps
      .read(spark.sparkContext.hadoopConfiguration, dir)
      .collect { case (k, sql) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") -> sql
      }.toSeq.sortBy(_._1)
    if (checks.isEmpty) return
    val df = readPlain(spark, dir, entries, known)
    val aggs = checks.map { case (name, sql) =>
      sum(when(coalesce(expr(sql), lit(true)) === false, 1L)
        .otherwise(0L)).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val violated = checks.zipWithIndex.collect {
      case ((name, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$name: CHECK ($sql) violated by ${row.getLong(i)} row(s)"
    }
    if (violated.nonEmpty) {
      val f = fs(spark, new Path(dir))
      entries.foreach(fe => f.delete(new Path(dir, fe.path), false))
      throw new IllegalStateException(
        "write aborted, staged files deleted — " + violated.mkString("; "))
    }
  }

  /** Commit `df` only if it passes every declarative expectation
    * (Delta-style table constraints, built from
    * [[graft.operators.Expectations]]): the batch is STAGED first,
    * the checks run against the staged files (one columnar read of
    * exactly what would publish), and a failure deletes the staged
    * files and throws — the table is untouched, no version is burned.
    * This is the engine-grade form of the reference's pre-load gate
    * (`etl/loader.py:117-156`): validation and publish are one
    * transaction instead of a filter bolted before a blind write. */
  def writeGated(spark: SparkSession, df: DataFrame, dir: String, mode: String,
                 checks: Seq[graft.operators.Expectations.Check],
                 statsCols: Seq[String] = Nil,
                 opTag: Option[String] = None): Long = {
    val carry = mode match {
      case "overwrite" => false
      case "append" => true
      case other => throw new IllegalArgumentException(
        s"mode must be overwrite|append, got $other")
    }
    val fresh = stageFiles(spark, df, dir, statsCols,
      applyMapping = carry, bucketize = bucketLayout(spark, dir))
    if (fresh.nonEmpty) {
      // staged files carry PHYSICAL names on a mapped table; the
      // declarative checks are written over logical names
      val raw = spark.read.parquet(fresh.map(fe => resolvePath(dir, fe.path)): _*)
      val staged =
        if (!carry) raw
        else latestVersion(spark, dir).map(v => tableSchema(spark, dir, v))
          .filter(hasMapping)
          .map(s => raw.select(raw.columns.map { c =>
            val logical = s.fields.find(f => physicalName(f) == c)
              .map(_.name).getOrElse(c)
            col(s"`$c`").as(logical)
          }.toIndexedSeq: _*))
          .getOrElse(raw)
      val failed = graft.operators.Expectations.report(staged, checks)
        .filter(!col("pass")).collect()
      if (failed.nonEmpty) {
        val f = fs(spark, new Path(dir))
        fresh.foreach(fe => f.delete(new Path(dir, fe.path), false))
        throw new graft.operators.Expectations.ExpectationsFailedException(
          "expectations failed, commit aborted: " +
            failed.map(r => s"${r.getString(0)} (${r.getLong(1)} violations)")
              .mkString(", "))
      }
    }
    commit(spark, dir, opTag.getOrElse(s"gated-$mode"), fresh, carry = carry,
      schemaJson = Some(df.schema.json), owned = fresh.map(_.path))
  }

  /** The file NAME a deletion vector keys a row by (staged names are
    * nonce-unique within a table, so the basename is a stable id that
    * survives path prefixing). */
  private def fileKey(path: String): String = new Path(path).getName

  /** Manifest paths are table-root-relative (`data/…`) except on
    * SHALLOW CLONES, whose entries reference the SOURCE table's files
    * absolutely — every data/sidecar read resolves through here.
    * Absolute entries are never vacuum candidates (vacuum lists only
    * the local `data/` dir), so a clone can never delete its source's
    * bytes. */
  private[graft] def resolvePath(dir: String, p: String): String =
    if (p.startsWith("/") || p.contains(":/")) p else s"$dir/$p"

  /** Every file an entry references: its data file, DV file and
    * equality-delete sidecars. */
  private[graft] def refsOf(fe: FileEntry): Seq[String] =
    (fe.path +: fe.dv.map(_.path).toSeq) ++ fe.eqDv

  /** A file's CONTENT-CHANGE token: the whole deletion-vector pointer
    * plus the equality-delete ref set. Two manifest entries for the
    * same path are the "same rows" exactly when their tokens match —
    * the unit the commit conflict check compares, so a concurrent dv
    * attach OR eq-delete attach on a file this transaction read
    * aborts it. */
  private[graft] def changeToken(fe: FileEntry): Option[String] =
    if (fe.dv.isEmpty && fe.eqDv.isEmpty) None
    else Some(fe.dv.fold("")(d => s"${d.path}@${d.offset}+${d.size}#${d.rows}") +
      fe.eqDv.sorted.mkString("#", "#", ""))

  /** A rewrite transaction's file-level read set: each file it read,
    * with the change token seen at read time ([[commit]]'s
    * conflict unit). */
  private def readSetOf(files: Seq[FileEntry]): Map[String, Option[String]] =
    files.map(fe => fe.path -> changeToken(fe)).toMap

  /** `files` as a plain parquet read against the recorded `schema`,
    * NO masking (physical names aliased back to logical under column
    * mapping; columns a file lacks read as null). */
  private def readPlain(spark: SparkSession, dir: String, files: Seq[FileEntry],
                        schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val paths = files.map(fe => resolvePath(dir, fe.path))
    if (!hasMapping(schema)) spark.read.schema(schema).parquet(paths: _*)
    else // column mapping: files store PHYSICAL names; read those and
      // alias back to the logical schema
      spark.read.schema(toPhysical(schema)).parquet(paths: _*)
        .select(schema.fields.map(f =>
          col(s"`${physicalName(f)}`").as(f.name)).toIndexedSeq: _*)
  }

  /** Read `files` — entries of `version` — merge-on-read. Files with
    * no deletion vector and no pending equality deletes are a plain
    * parquet scan ([[readPlain]], pushdown and pruning intact); every
    * masked file, and every file of a `keepPos` read, reads through
    * the V2 connector at `version` (`graft.fileSubset`), whose readers
    * mask deletion vectors and pending equality deletes in-reader —
    * the table's one masking implementation. `keepPos` keeps the
    * connector's `_file`/`_pos` metadata columns as `__graft_file`
    * (data file basename) and `__graft_pos` (file-absolute row index)
    * for callers that build NEW deletion vectors. */
  private def readFiles(spark: SparkSession, dir: String, files: Seq[FileEntry],
                        version: Long, knownSchema: org.apache.spark.sql.types.StructType,
                        keepPos: Boolean = false)
      : DataFrame = {
    import graft.sources.connector.{GraftSnapshotSource, SnapshotV2Table}
    val (viaConnector, plain) =
      files.partition(fe => keepPos || fe.dv.isDefined || fe.eqDv.nonEmpty)
    if (viaConnector.isEmpty) return readPlain(spark, dir, files, knownSchema)
    val leg = spark.read.format("graft_snapshot")
      .option("versionAsOf", version)
      .option(GraftSnapshotSource.FileSubsetOption,
        viaConnector.map(_.path).mkString(","))
      .load(dir)
    // literal name references: col() would parse a dotted column name
    // as a nested field path
    val data = knownSchema.fieldNames.toSeq.map(n => col(s"`$n`"))
    val masked = leg.select((if (!keepPos) data else data ++ Seq(
      leg.metadataColumn(SnapshotV2Table.FileCol).as("__graft_file"),
      leg.metadataColumn(SnapshotV2Table.PosCol).as("__graft_pos"))): _*)
    if (plain.isEmpty) masked
    else readPlain(spark, dir, plain, knownSchema).unionByName(masked)
  }

  /** The table as of `version` (default: newest), planned from the
    * log-recorded schema (no footer pass): appends may add columns over
    * the table's life, and older files surface them as null. An EMPTY
    * version reads as an empty typed DataFrame. */
  def scan(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    if (m.files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], known)
    else readFiles(spark, dir, m.files, v, knownSchema = known)
  }

  /** Range read with stats-based data skipping: only files whose
    * (min,max) for `keyCol` intersects [lo,hi] are opened (files
    * without stats are read conservatively). The residual filter still
    * applies — skipping is a pure optimization, invisible in results. */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
                lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    val pk = physicalFor(known, keyCol) // manifest stats keys are physical
    val hit = m.files.filter(fe =>
      fe.stats.get(pk).forall { case (mn, mx) => mx >= lo && mn <= hi })
    if (hit.isEmpty)
      return scan(spark, dir, Some(v)).filter(lit(false)) // keep the schema
    readFiles(spark, dir, hit, v, knownSchema = known)
      .filter(col(keyCol).between(lo, hi))
  }

  /** IN-list read with stats-based data skipping: only files whose
    * (min,max) range for `keyCol` admits AT LEAST ONE of `values` are
    * opened (files without stats read conservatively). The residual
    * `isin` filter still applies — skipping is a pure optimization.
    * The discrete-set sibling of [[readRange]]: an IVF probe's
    * `cell IN (...)` over a cell-clustered table opens only the
    * probed cells' files. */
  def readIn(spark: SparkSession, dir: String, keyCol: String,
             values: Seq[Long], version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    val pk = physicalFor(known, keyCol)
    val sorted = values.distinct.sorted
    val hit = m.files.filter(fe => fe.stats.get(pk).forall { case (mn, mx) =>
      sorted.exists(x => x >= mn && x <= mx)
    })
    if (hit.isEmpty)
      return scan(spark, dir, Some(v)).filter(lit(false)) // keep the schema
    readFiles(spark, dir, hit, v, knownSchema = known)
      .filter(col(keyCol).isin(sorted: _*))
  }

  /** The table AS OF a wall-clock instant: the newest version whose
    * manifest was published at or before `tsMs` (publish stamps are
    * monotone per table because versions publish serially). Manifests
    * from before the `ts` field read as 0 — i.e. "older than any real
    * instant", the conservative order. Errors when the table has no
    * version that old. */
  def scanAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    scan(spark, dir, Some(versionAt(spark, dir, tsMs)))

  /** Candidate files for `keyCol = value` under the per-file blooms:
    * a file drops only when it CARRIES a bloom for `keyCol` and the
    * bloom rejects the value (no bloom → conservative keep).
    * `keyCol` is the manifest's bloom key — the PHYSICAL column name
    * on a rename-mapped table. */
  private[graft] def pointCandidates(m: Manifest, keyCol: String,
                                     value: String): Seq[FileEntry] =
    m.files.filter(fileMayContain(_, keyCol, value))

  /** Per-file bloom verdict for `keyCol = value`: false only when the
    * file CARRIES a bloom for `keyCol` and the bloom rejects the value
    * (no bloom → conservative keep). Shared by [[readEquals]] and the
    * V2 connector's file skipping. */
  private[graft] def fileMayContain(fe: FileEntry, keyCol: String,
                                    value: String): Boolean =
    fe.bloom.get(keyCol) match {
      case Some(ws) =>
        val h = graft.functions.cat.Kernels.polyHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(value),
          31, 1000000007L)
        graft.functions.cat.Kernels.bloomMightContainWords(h, ws.toArray, BloomK)
      case None => true
    }

  /** Point lookup with bloom-based data skipping on a string key:
    * only files whose bloom might contain `value` are opened (files
    * without a bloom are read conservatively — rewrites by
    * merge/delete/compact do not rebuild blooms, so point-read
    * pruning decays gracefully rather than ever being wrong). The
    * residual equality filter still applies; skipping is a pure
    * optimization, invisible in results — the string-key analogue of
    * [[readRange]]'s (min,max) pruning. */
  def readEquals(spark: SparkSession, dir: String, keyCol: String,
                 value: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    val hit = pointCandidates(m, physicalFor(known, keyCol), value)
    if (hit.isEmpty)
      return scan(spark, dir, Some(v)).filter(lit(false)) // keep the schema
    readFiles(spark, dir, hit, v, knownSchema = known)
      .filter(col(keyCol).cast("string") === value)
  }

  /** Upsert `updates` by `keyCol` with whole-row-replace semantics,
    * copy-on-write at FILE granularity: only data files whose key
    * range contains at least one update key are rewritten; every other
    * file is carried into the new manifest by name. Touch detection is
    * exact and distributed — the (tiny) file-stats list broadcast-joins
    * against the update keys, and only the matched file names come
    * back to the driver (bounded by #files). Update keys hitting no
    * existing file's range are inserts and land in the new files.
    *
    * Concurrency: the files this merge rewrites are its file-level
    * read set; a concurrent commit removing any of them aborts the
    * publish ([[CommitConflictException]]) and the WHOLE merge —
    * touch detection included — recomputes against the new snapshot,
    * so two concurrent merges over the same keys serialize instead of
    * silently losing the earlier one's rewrites. Commits to disjoint
    * files rebase in and interleave losslessly.
    *
    * Schema evolution (`allowSchemaEvolution = true`): columns only in
    * `updates` WIDEN the table (carried files read them as null under
    * the recorded union schema); columns the updates lack keep the
    * target's value on matched rows — an update updates the columns it
    * carries, the `UPDATE SET *` semantics Delta's autoMerge gives.
    * Off by default: a misspelled column name should fail, not fork
    * the schema. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame, keyCol: String,
            statsCols: Seq[String] = Nil, opTag: Option[String] = None,
            allowSchemaEvolution: Boolean = false): Long =
    retryOnConflict(s"merge into $dir") {
      mergeOnce(spark, dir, updates, keyCol, statsCols, opTag,
        allowSchemaEvolution)
    }

  private def mergeOnce(spark: SparkSession, dir: String, updates: DataFrame,
                        keyCol: String, statsCols: Seq[String],
                        opTag: Option[String],
                        allowSchemaEvolution: Boolean): Long = {
    import spark.implicits._
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot merge into empty table $dir"))
    val m = readManifest(spark, dir, v)
    val cols = scan(spark, dir, Some(v)).columns.toSeq
    if (!allowSchemaEvolution)
      require(updates.columns.toSeq == cols,
        s"updates schema ${updates.columns.toSeq} != table schema $cols " +
          "(pass allowSchemaEvolution = true to widen the table)")
    require(updates.columns.contains(keyCol),
      s"updates lack merge key $keyCol")

    val pk = physicalFor(tableSchema(spark, dir, v), keyCol)
    val statsList = m.files.flatMap(fe =>
      fe.stats.get(pk).map { case (mn, mx) => (fe.path, mn, mx) })
    val statless = m.files.map(_.path).toSet -- statsList.map(_._1).toSet
    val touchedWithStats: Set[String] =
      if (statsList.isEmpty) Set.empty
      else {
        val statsDf = statsList.toDF("__path", "__min", "__max")
        updates.select(col(keyCol).cast("long").as("__k")).distinct()
          .join(broadcast(statsDf), $"__k".between($"__min", $"__max"))
          .select("__path").distinct().as[String].collect().toSet
      }
    val touched = touchedWithStats ++ statless
    val rewrite = m.files.filter(fe => touched.contains(fe.path))

    // Schema evolution (opt-in): columns only in `updates` widen the
    // table — carried files read them as null under the recorded union
    // schema; columns the updates LACK keep the target's value on
    // matched rows (an update updates the columns it carries — the
    // same semantics Delta's autoMerge gives UPDATE SET *).
    val tSchema = scan(spark, dir, Some(v)).schema
    val uCols = updates.columns.toSeq
    val newCols = uCols.filterNot(cols.contains)
    val outCols = cols ++ newCols
    // type authority: the table's schema for existing columns, the
    // updates' for columns this merge introduces
    def typeOf(c: String) =
      if (cols.contains(c)) tSchema(c).dataType else updates.schema(c).dataType
    val merged = if (rewrite.isEmpty) {
      if (outCols == uCols) updates
      else updates.select(outCols.map { c =>
        if (uCols.contains(c)) col(c)
        else lit(null).cast(typeOf(c)).as(c)
      }: _*)
    } else {
      // dv-masked read: a merge rewrite must not resurrect rows a
      // deletion vector already removed (the rewrite purges the dv)
      val base = readFiles(spark, dir, rewrite, v,
        knownSchema = tableSchema(spark, dir, v))
      val markedU = updates.withColumn("__isu", lit(true))
      val joined = base.alias("t").join(
        markedU.alias("u"), base(keyCol) === markedU(keyCol), "full_outer")
      joined.select(outCols.map { c =>
        val fromT = // a rewritten file may predate column c entirely
          if (base.columns.contains(c)) col(s"t.$c")
          else lit(null).cast(typeOf(c))
        if (!uCols.contains(c)) fromT.as(c) // update doesn't carry it: keep target
        else if (!cols.contains(c)) // brand-new column this merge introduces
          when(col("__isu").isNotNull, col(s"u.$c"))
            .otherwise(lit(null).cast(typeOf(c))).as(c)
        else when(col("__isu").isNotNull, col(s"u.$c")).otherwise(fromT).as(c)
      }: _*)
    }
    val fresh = stageFiles(spark, merged, dir, statsCols,
      bucketize = bucketLayout(spark, dir))
    commit(spark, dir, opTag.getOrElse("merge"), fresh,
      removed = readSetOf(rewrite), carry = true,
      // evolution: union the new columns into the recorded schema
      schemaJson = Some(merged.schema.json), owned = fresh.map(_.path))
  }

  /** DELETE WHERE: copy-on-write at FILE granularity. Touch detection
    * is distributed — one filtered scan finds the files that contain
    * at least one matching row (only file NAMES come back to the
    * driver, bounded by #files); those are rewritten without their
    * matching rows, every other file carries into the new manifest by
    * name. A predicate matching nothing commits nothing and returns
    * the current version. Exactly the rows where the predicate is TRUE
    * are removed — a NULL-evaluating row (e.g. a pre-schema-evolution
    * row whose appended column is null) is KEPT, matching SQL DELETE
    * semantics; without the `coalesce` a null row would survive in
    * untouched files but silently vanish from any rewritten one.
    * Retries from the fresh snapshot on write-write conflict, like
    * [[merge]]. */
  def delete(spark: SparkSession, dir: String,
             predicate: org.apache.spark.sql.Column,
             statsCols: Seq[String] = Nil): Long =
    retryOnConflict(s"delete from $dir") {
      deleteOnce(spark, dir, predicate, statsCols)
    }

  private def deleteOnce(spark: SparkSession, dir: String,
                         predicate: org.apache.spark.sql.Column,
                         statsCols: Seq[String]): Long = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot delete from empty table $dir"))
    val m = readManifest(spark, dir, v)
    val knownDel = tableSchema(spark, dir, v)
    val touched = readFiles(spark, dir, m.files, v, keepPos = true,
        knownSchema = knownDel)
      .filter(predicate)
      .select(col("__graft_file"))
      .distinct().collect()
      .map(r => r.getString(0)).toSet
    if (touched.isEmpty) return v
    val rewrite = m.files.filter(fe => touched.contains(fileKey(fe.path)))
    val kept = readFiles(spark, dir, rewrite, v, knownSchema = knownDel)
      .filter(!coalesce(predicate, lit(false)))
    val fresh = stageFiles(spark, kept, dir, statsCols,
      bucketize = bucketLayout(spark, dir))
    commit(spark, dir, "delete", fresh,
      removed = readSetOf(rewrite), carry = true, owned = fresh.map(_.path))
  }

  /** Publish `df` as ONE parquet file at `dir/relPath` (temp dir +
    * rename of the sole part file, so readers see a complete file or
    * nothing). Throws on failure — an equality-delete sidecar is
    * load-bearing. */
  private def writeSingleParquet(spark: SparkSession, dir: String,
                                 df: DataFrame, relPath: String): Unit = {
    val tmp = new Path(dir, s".dv-${java.util.UUID.randomUUID}")
    val f = fs(spark, tmp)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = f.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val target = new Path(dir, relPath)
    if (!f.rename(part, target) && !f.exists(target))
      throw new IllegalStateException(s"could not publish $target")
    f.delete(tmp, true)
  }

  /** Publish ≤~1k ALREADY-COLLECTED key rows as one parquet sidecar
    * written entirely on the driver (round-18): a small eq-delete
    * epoch's sidecar costs zero Spark jobs. Same temp-then-rename
    * publish as [[writeSingleParquet]]; the message type is
    * [[graft.sources.connector.SnapshotWriteSupport.messageTypeFor]] —
    * the exact layout Spark's own writer emits — so both sidecar
    * reader families are indifferent to which path wrote the file. */
  private def writeDriverSidecar(spark: SparkSession, dir: String,
                                 relPath: String,
                                 schema: org.apache.spark.sql.types.StructType,
                                 rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.spark.sql.types._
    val msg = graft.sources.connector.SnapshotWriteSupport.messageTypeFor(schema)
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    val tmp = new Path(dir, s".dv-${java.util.UUID.randomUUID}/part-sidecar.parquet")
    val f = fs(spark, tmp)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(tmp)
      .withConf(conf).withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.zipWithIndex.foreach { case (fld, i) =>
        if (!r.isNullAt(i)) fld.dataType match {
          case ByteType => g.add(i, r.getByte(i).toInt)
          case ShortType => g.add(i, r.getShort(i).toInt)
          case IntegerType => g.add(i, r.getInt(i))
          case LongType => g.add(i, r.getLong(i))
          case StringType => g.add(i,
            org.apache.parquet.io.api.Binary.fromString(r.getString(i)))
          // stored as days-since-epoch INT32 — what Spark's writer emits
          case DateType => g.add(i, (r.get(i) match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay
            case d: java.time.LocalDate => d.toEpochDay
            case other => throw new IllegalStateException(
              s"unexpected date value $other")
          }).toInt)
          case dt => throw new IllegalStateException(
            s"unsupported sidecar member type ${dt.simpleString}")
        }
      }
      w.write(g)
    } finally w.close()
    val target = new Path(dir, relPath)
    if (!f.rename(tmp, target) && !f.exists(target))
      throw new IllegalStateException(s"could not publish $target")
    f.delete(tmp.getParent, true)
  }

  /** DELETE WHERE via DELETION VECTORS (merge-on-read): instead of
    * rewriting every file that contains a matching row ([[delete]]'s
    * copy-on-write), commit a Roaring bitmap of deleted row positions
    * per touched file and leave the data files untouched. The
    * connector's readers subtract the positions in-reader, as a
    * per-batch position mask ([[readFiles]]). This is the Delta/Iceberg
    * deletion-vector / positional-delete design, and it changes the
    * cost class of small deletes at scale: removing 0.01% of rows
    * scattered over a 100 TB table costs O(matched rows) bytes written
    * instead of rewriting every touched multi-GB file (GDPR-style row
    * removal, late-arriving retractions, per-document takedowns).
    *
    * Semantics match [[delete]] exactly: rows where the predicate is
    * TRUE are removed; NULL-evaluating rows are kept. The commit is
    * the same OCC transaction as any rewrite — the touched files are
    * its read set, so a concurrent rewrite of one of them aborts and
    * retries from the fresh snapshot.
    *
    * A dv commit writes ONE new DV file holding the vectors of the
    * files it touched — each the file's prior vector ORed with the
    * fresh positions ([[stageVectors]]); every other file keeps its
    * pointer. The commit costs O(touched files' vectors), never
    * O(all deleted rows), and a reader loads only its own file's
    * vector with one range read. When deleted rows stop being small
    * relative to the data, run [[purgeDeletes]] (or [[compact]],
    * which purges as it packs) to fold the vectors into the files. */
  def deleteVectors(spark: SparkSession, dir: String,
                    predicate: org.apache.spark.sql.Column): Long =
    deleteVectorsWith(spark, dir, predicate)

  /** What one merge-on-read DML transaction does to the snapshot
    * [[dvTransaction]] resolved:
    *  - `positions`: the (file, pos) rows that join their files'
    *    vectors (None: no file needs a position scan);
    *  - `postImage`: rows staged as fresh files — only when some
    *    position matched, unless `inserts` says they may replace
    *    nothing (MERGE's NOT MATCHED rows);
    *  - `callerFiles`: files the caller staged and owns, committed
    *    with the vectors and never deleted here;
    *  - `dropped`: files removed whole, their stats proving every row
    *    deleted;
    *  - `alwaysCommit`: commit even when no vector, file or drop
    *    changes (a schema-widening MERGE, a streaming epoch's tag);
    *  - `prunedOp`: the op name when no vector was written;
    *  - `cached`: a frame the plan persisted, released after the
    *    commit. */
  private final case class DvTxn(
      op: String,
      positions: Option[DataFrame],
      failOnDuplicate: Boolean = false,
      postImage: Option[DataFrame] = None,
      inserts: Boolean = false,
      statsCols: Seq[String] = Nil,
      callerFiles: Seq[FileEntry] = Nil,
      dropped: Seq[FileEntry] = Nil,
      schemaJson: Option[String] = None,
      alwaysCommit: Boolean = false,
      prunedOp: Option[String] = None,
      cached: Option[DataFrame] = None)

  /** The one merge-on-read DML transaction: delete, update, MERGE and
    * the streaming upsert are its instances. Inside [[retryOnConflict]]
    * it resolves the newest version, its manifest and its recorded
    * schema once and hands them to `plan`, then
    *  1. [[stageVectors]] writes one DV file for the plan's positions;
    *  2. the post-image stages through [[stageFiles]] under the
    *     declared [[bucketLayout]] and passes the table's CHECK
    *     constraints ([[enforceCheckConstraints]]);
    *  3. one [[commit]] publishes the re-pointed entries, the fresh
    *     files and the caller's files, with the touched files (and
    *     the dropped ones) as its read set.
    * A transaction that changes nothing returns the resolved version
    * and commits nothing; with no post-image it reads neither the
    * layout nor the props file.
    *
    * Clean-up has one rule: the DV file and the fresh files — the
    * paths this transaction alone wrote — are deleted exactly when
    * the failure comes before a publish attempt. Once a publish may
    * have won (a throw after the log entry was linked), nothing is
    * deleted, since the version may reference them; [[vacuum]]
    * reclaims any that no version ended up referencing. The caller's
    * files are never deleted. */
  private def dvTransaction(spark: SparkSession, dir: String, what: String)
                           (plan: (Manifest, org.apache.spark.sql.types.StructType) => DvTxn)
      : Long =
    retryOnConflict(s"dv $what $dir") {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot $what empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      val txn = plan(m, known)
      try {
        var owned = Seq.empty[String]
        val (vectors, fresh) = deletingOnFailure(spark, dir, owned) {
          val vectors = txn.positions.flatMap(
            stageVectors(spark, dir, m, _, txn.failOnDuplicate))
          owned ++= vectors.map(_._1)
          val fresh = txn.postImage.filter(_ => vectors.isDefined || txn.inserts)
            .fold(Seq.empty[FileEntry])(stageFiles(spark, _, dir, txn.statsCols,
              bucketize = bucketLayout(spark, dir)))
          owned ++= fresh.map(_.path)
          // post-images are new content: constraints gate them like an INSERT
          enforceCheckConstraints(spark, dir, fresh, known)
          (vectors, fresh)
        }
        val entries = vectors.fold(Seq.empty[FileEntry])(_._2)
        if (entries.isEmpty && fresh.isEmpty && txn.callerFiles.isEmpty &&
          txn.dropped.isEmpty && !txn.alwaysCommit) v
        else {
          val touched = entries.map(_.path).toSet
          commit(spark, dir,
            if (vectors.isEmpty) txn.prunedOp.getOrElse(txn.op) else txn.op,
            entries ++ fresh ++ txn.callerFiles,
            removed = readSetOf(m.files.filter(fe => touched(fe.path)) ++ txn.dropped),
            carry = true, schemaJson = txn.schemaJson, owned = owned)
        }
      } finally txn.cached.foreach(_.unpersist())
    }

  /** Run `body`; when it throws, delete `owned` — the paths (relative
    * to `dir`) the transaction alone has written so far — and rethrow.
    * With [[commit]]'s own `owned` rule this deletes a transaction's
    * files exactly when the failure comes before a publish attempt. */
  private def deletingOnFailure[T](spark: SparkSession, dir: String, owned: => Seq[String])
                                  (body: => T): T =
    try body catch {
      case t: Throwable =>
        val f = fs(spark, new Path(dir))
        owned.foreach(p => f.delete(new Path(dir, p), false))
        throw t
    }

  /** Stage the deletion vectors of the `matched` (file, pos) position
    * rows against snapshot `m`: one new DV file holding, for each
    * touched file, its prior vector ORed with the fresh positions.
    * Returns (DV file path, the touched files' replacement entries);
    * None, with nothing written, when nothing matched. Untouched files
    * keep their pointers, so the commit's read set is the touched
    * files only.
    *
    * One pass, no shuffle: every task ORs its positions into partial
    * bitmaps per file ([[partialVectors]]), and the driver unions the
    * partials. A position seen twice — twice in one task, or in two
    * tasks' partials of one file — is a MERGE cardinality error under
    * `failOnDuplicate` (one target row, two source images), wherever
    * the two images landed. `matched` must come from a keepPos masked
    * read of `m`, which makes it disjoint from the prior vectors; a
    * fresh position already in a prior vector refuses loudly. */
  private[graft] def stageVectors(spark: SparkSession, dir: String, m: Manifest,
                                  matched: DataFrame,
                                  failOnDuplicate: Boolean = false):
      Option[(String, Seq[FileEntry])] = {
    val (fresh, dup) = partialVectors(matched)
    if (fresh.isEmpty) return None
    if (dup && failOnDuplicate) throw new IllegalArgumentException(
      "MERGE cardinality violation: a matched target row has more " +
        "than one source image; deduplicate the source (e.g. " +
        "keep-latest by a version column) before merging")
    val byKey = m.files.map(fe => fileKey(fe.path) -> fe).toMap
    val touched = fresh.toSeq.sortBy(_._1).map { case (file, b) =>
      byKey.getOrElse(file, throw new IllegalStateException(
        s"matched positions name $file, which version ${m.version} of " +
          s"$dir does not hold")) -> b
    }
    // the touched files' prior vectors, one open per prior DV file
    val withPrior = touched.filter(_._1.dv.isDefined)
    val priors = DeletionVectors.readAll(spark.sparkContext.hadoopConfiguration,
      withPrior.flatMap { case (fe, _) =>
        graft.sources.connector.SnapshotPartitions.resolvedDv(dir, fe) })
    withPrior.zip(priors).foreach { case ((fe, b), prior) =>
      if (RoaringBitmap.intersects(prior, b)) throw new IllegalStateException(
        s"fresh deletion-vector positions of ${fe.path} are already " +
          "deleted by its prior vector: the position scan was not masked")
      b.or(prior)
    }
    touched.foreach { case (fe, b) =>
      require(b.getLongCardinality <= fe.rows,
        s"dv rows ${b.getLongCardinality} exceed file rows ${fe.rows} (${fe.path})")
    }
    Some(publishVectors(spark, dir, touched))
  }

  /** Write `vectors` (run-optimized) as one new DV file under `dir` and
    * return its path and the entries re-pointed at their vectors. */
  private def publishVectors(spark: SparkSession, dir: String,
                             vectors: Seq[(FileEntry, RoaringBitmap)])
      : (String, Seq[FileEntry]) = {
    vectors.foreach(_._2.runOptimize())
    val name = s"data/dv-${java.util.UUID.randomUUID}.bin"
    val ptrs = DeletionVectors.write(fs(spark, new Path(dir)), dir, name,
      vectors.map(_._2))
    (name, vectors.zip(ptrs).map { case ((fe, b), (off, size)) =>
      fe.copy(dv = Some(Dv(name, off, size, b.getLongCardinality)))
    })
  }

  /** The positions of a (file, pos) frame as one bitmap per file,
    * built by per-task partial bitmaps that the driver ORs; the flag
    * says some position occurred twice. */
  private def partialVectors(matched: DataFrame)
      : (Map[String, RoaringBitmap], Boolean) = {
    import matched.sparkSession.implicits._
    val partials = matched.select(col("file"), col("pos")).as[(String, Long)]
      .mapPartitions { it =>
        // per file: the partial bitmap and its in-task repeats
        val byFile = new java.util.HashMap[String, (RoaringBitmap, Array[Long])]()
        it.foreach { case (file, pos) =>
          val acc = byFile.computeIfAbsent(file,
            _ => (new RoaringBitmap(), Array(0L)))
          if (!acc._1.checkedAdd(DeletionVectors.member(pos, file))) acc._2(0) += 1
        }
        import scala.jdk.CollectionConverters._
        byFile.asScala.iterator.map { case (file, (b, repeats)) =>
          (file, DeletionVectors.serialize(b), repeats(0))
        }
      }.collect()
    var dup = false
    val out = partials.groupBy(_._1).map { case (file, ps) =>
      val acc = new RoaringBitmap()
      ps.foreach { case (_, bytes, repeats) =>
        val b = DeletionVectors.deserialize(bytes)
        if (repeats > 0 || RoaringBitmap.intersects(acc, b)) dup = true
        acc.or(b)
      }
      file -> acc
    }
    (out, dup)
  }

  /** Interval proofs for a DELETE predicate against one file's
    * manifest (min,max) stats — the machinery behind METADATA-ONLY
    * deletes. A normalized comparison `attr OP literal` over a
    * stats-carrying integral column supports two sound verdicts:
    *
    *  - '''all rows match''' (file droppable whole): requires the
    *    schema to declare the column NON-NULLABLE — a null row
    *    evaluates the predicate to NULL and must be KEPT, and the
    *    manifest records no per-file null counts, so nullability is
    *    the only proof nulls cannot lurk. `mx < c` proves `attr < c`
    *    for every row, etc.
    *  - '''no row matches''' (file skippable from the scan): needs no
    *    nullability — null rows never match a comparison anyway.
    *    `mn >= c` refutes `attr < c` for every row, etc.
    *
    * `And`/`Or` compose the proofs; anything unrecognized (casts,
    * functions, non-literal sides, stats-less columns) proves
    * NOTHING and falls to the scan — conservative, never wrong. */
  private final case class NormCmp(name: String, op: Char, eq: Boolean, c: Long)

  private def normCmp(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[NormCmp] = {
    import org.apache.spark.sql.catalyst.expressions._
    def attr(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 => Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def lit(x: Expression): Option[Long] = x match {
      case Literal(v: Byte, _) => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case _ => None
    }
    // each comparison tries both orientations: `attr OP lit` as-is,
    // `lit OP attr` with the operator flipped
    def both(x: Expression, y: Expression, op: Char, eq: Boolean,
             flip: Char): Option[NormCmp] =
      (for { n <- attr(x); c <- lit(y) } yield NormCmp(n, op, eq, c))
        .orElse(for { n <- attr(y); c <- lit(x) } yield NormCmp(n, flip, eq, c))
    e match {
      case LessThan(x, y) => both(x, y, '<', eq = false, flip = '>')
      case LessThanOrEqual(x, y) => both(x, y, '<', eq = true, flip = '>')
      case GreaterThan(x, y) => both(x, y, '>', eq = false, flip = '<')
      case GreaterThanOrEqual(x, y) => both(x, y, '>', eq = true, flip = '<')
      case EqualTo(x, y) => both(x, y, '=', eq = true, flip = '=')
      // null-safe equality against a NON-NULL literal (the lit
      // extractors never match a null) behaves exactly like `=` for
      // both directions: a range excluding c refutes every non-null
      // row and null rows never <=> a non-null c; the proof side
      // still demands nonNull. Static partition-spec overwrites
      // (`INSERT OVERWRITE ... PARTITION (d = 2)`) arrive as this
      // shape (round-18).
      case EqualNullSafe(x, y) => both(x, y, '=', eq = true, flip = '=')
      // the Column DSL (and the SQL DELETE predicate translation)
      // builds comparisons as BY-NAME unresolved functions; the
      // analyzer would resolve them to the cases above, but a DELETE
      // predicate is analyzed by the proofs before any plan exists
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.length == 1 && f.arguments.length == 2 =>
        val x = f.arguments(0)
        val y = f.arguments(1)
        f.nameParts.head match {
          case "<" => both(x, y, '<', eq = false, flip = '>')
          case "<=" => both(x, y, '<', eq = true, flip = '>')
          case ">" => both(x, y, '>', eq = false, flip = '<')
          case ">=" => both(x, y, '>', eq = true, flip = '<')
          case "=" | "==" | "<=>" => both(x, y, '=', eq = true, flip = '=')
          case _ => None
        }
      case _ => None
    }
  }

  private final case class NormSCmp(name: String, op: Char, eq: Boolean,
                                    c: String)

  /** [[normCmp]]'s STRING twin: `attr OP '<string literal>'` in either
    * shape/order, proven/refuted against the truncated zone maps
    * ([[FileEntry.strStats]]) in UTF8 binary order. */
  private def normSCmp(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[NormSCmp] = {
    import org.apache.spark.sql.catalyst.expressions._
    def attr(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 => Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def lit(x: Expression): Option[String] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => Some(v.toString)
      case Literal(v: String, org.apache.spark.sql.types.StringType) => Some(v)
      case _ => None
    }
    def both(x: Expression, y: Expression, op: Char, eq: Boolean,
             flip: Char): Option[NormSCmp] =
      (for { n <- attr(x); c <- lit(y) } yield NormSCmp(n, op, eq, c))
        .orElse(for { n <- attr(y); c <- lit(x) } yield NormSCmp(n, flip, eq, c))
    e match {
      case LessThan(x, y) => both(x, y, '<', eq = false, flip = '>')
      case LessThanOrEqual(x, y) => both(x, y, '<', eq = true, flip = '>')
      case GreaterThan(x, y) => both(x, y, '>', eq = false, flip = '<')
      case GreaterThanOrEqual(x, y) => both(x, y, '>', eq = true, flip = '<')
      case EqualTo(x, y) => both(x, y, '=', eq = true, flip = '=')
      case EqualNullSafe(x, y) => both(x, y, '=', eq = true, flip = '=')
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.length == 1 && f.arguments.length == 2 =>
        val x = f.arguments(0)
        val y = f.arguments(1)
        f.nameParts.head match {
          case "<" => both(x, y, '<', eq = false, flip = '>')
          case "<=" => both(x, y, '<', eq = true, flip = '>')
          case ">" => both(x, y, '>', eq = false, flip = '<')
          case ">=" => both(x, y, '>', eq = true, flip = '<')
          case "=" | "==" | "<=>" => both(x, y, '=', eq = true, flip = '=')
          case _ => None
        }
      case _ => None
    }
  }

  /** `attr IN (literals…)` in either shape; values kept with their
    * literal dataType so refutation can pick range vs bloom. */
  private def normIn(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, Seq[org.apache.spark.sql.catalyst.expressions.Literal])] = {
    import org.apache.spark.sql.catalyst.expressions.{In, Literal}
    def attr(x: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 => Some(a.nameParts.head)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      case _ => None
    }
    def lits(xs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Option[Seq[Literal]] = {
      val ls = xs.collect { case l: Literal => l }
      if (ls.length == xs.length && ls.nonEmpty) Some(ls) else None
    }
    e match {
      case In(a, vs) => for { n <- attr(a); ls <- lits(vs) } yield (n, ls)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.length == 1 && f.nameParts.head.equalsIgnoreCase("in") &&
          f.arguments.length >= 2 =>
        for { n <- attr(f.arguments.head); ls <- lits(f.arguments.tail) } yield (n, ls)
      case _ => None
    }
  }

  /** `attr = '<string>'` in either shape/order — refutable through the
    * per-file bloom (no string range stats exist). */
  private def normStrEq(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal}
    def attr(x: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if a.nameParts.length == 1 => Some(a.nameParts.head)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
      case _ => None
    }
    def str(x: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String,
        org.apache.spark.sql.types.StringType) => Some(v.toString)
      case Literal(v: String, org.apache.spark.sql.types.StringType) => Some(v)
      case _ => None
    }
    def both(x: org.apache.spark.sql.catalyst.expressions.Expression,
             y: org.apache.spark.sql.catalyst.expressions.Expression) =
      (for { n <- attr(x); v <- str(y) } yield (n, v))
        .orElse(for { n <- attr(y); v <- str(x) } yield (n, v))
    e match {
      case EqualTo(x, y) => both(x, y)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.length == 1 && f.arguments.length == 2 &&
          (f.nameParts.head == "=" || f.nameParts.head == "==") =>
        both(f.arguments(0), f.arguments(1))
      case _ => None
    }
  }

  /** `NOT p` in either shape. */
  private def normNot(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.Not(p) => Some(p)
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
      if f.nameParts.length == 1 && f.arguments.length == 1 &&
        (f.nameParts.head == "!" || f.nameParts.head.equalsIgnoreCase("not")) =>
      Some(f.arguments.head)
    case _ => None
  }

  /** And/Or in either shape: resolved catalyst nodes or the Column
    * DSL's by-name unresolved functions. */
  private def splitAndOr(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(Boolean, org.apache.spark.sql.catalyst.expressions.Expression,
                org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Or}
    e match {
      case And(l, r) => Some((true, l, r))
      case Or(l, r) => Some((false, l, r))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.arguments.length == 2 && f.nameParts.length == 1 &&
          f.nameParts.head.equalsIgnoreCase("and") =>
        Some((true, f.arguments(0), f.arguments(1)))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.arguments.length == 2 && f.nameParts.length == 1 &&
          f.nameParts.head.equalsIgnoreCase("or") =>
        Some((false, f.arguments(0), f.arguments(1)))
      case _ => None
    }
  }

  /** TRUE iff the interval proofs show every row of `fe` satisfies
    * `e` ([[normCmp]]'s doc: needs no-null evidence). */
  private def provesAllRows(e: org.apache.spark.sql.catalyst.expressions.Expression,
                            fe: FileEntry,
                            known: org.apache.spark.sql.types.StructType)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // nulls cannot lurk when the schema declares the column
    // non-nullable OR the file's writer recorded zero nulls in it
    def nonNull(name: String): Boolean =
      known.fields.exists(f => f.name == name && !f.nullable) ||
        fe.noNulls.contains(physicalFor(known, name))
    def cmpAll(x: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      normCmp(x).exists { nc =>
        nonNull(nc.name) &&
          fe.stats.get(physicalFor(known, nc.name)).exists { case (mn, mx) =>
            nc.op match {
              case '<' => if (nc.eq) mx <= nc.c else mx < nc.c
              case '>' => if (nc.eq) mn >= nc.c else mn > nc.c
              case '=' => mn == nc.c && mx == nc.c
            }
          }
      } || normSCmp(x).exists { nc =>
        // (lo, hi) are BOUNDS (lo ≤ min, hi ≥ max): proofs go through
        // the bound on the relevant side, so truncation only loses
        // precision, never soundness
        nonNull(nc.name) &&
          fe.strStats.get(physicalFor(known, nc.name)).exists { case (lo, hi) =>
            nc.op match {
              case '<' => if (nc.eq) strCmp(hi, nc.c) <= 0 else strCmp(hi, nc.c) < 0
              case '>' => if (nc.eq) strCmp(lo, nc.c) >= 0 else strCmp(lo, nc.c) > 0
              case '=' => strCmp(lo, nc.c) == 0 && strCmp(hi, nc.c) == 0
            }
          }
      }
    splitAndOr(e) match {
      case Some((true, l, r)) => provesAllRows(l, fe, known) && provesAllRows(r, fe, known)
      case Some((false, l, r)) => provesAllRows(l, fe, known) || provesAllRows(r, fe, known)
      case None => e match {
        case Literal(true, org.apache.spark.sql.types.BooleanType) => true
        case other => cmpAll(other)
      }
    }
  }

  /** TRUE iff the interval proofs show NO row of `fe` can satisfy `e`
    * — the file is skippable from any matched-row scan (sound without
    * null evidence: null rows never satisfy a comparison). */
  private def refutesAllRows(e: org.apache.spark.sql.catalyst.expressions.Expression,
                             fe: FileEntry,
                             known: org.apache.spark.sql.types.StructType)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def cmpNone(x: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      normCmp(x).exists { nc =>
        fe.stats.get(physicalFor(known, nc.name)).exists { case (mn, mx) =>
          nc.op match {
            case '<' => if (nc.eq) mn > nc.c else mn >= nc.c
            case '>' => if (nc.eq) mx < nc.c else mx <= nc.c
            case '=' => nc.c < mn || nc.c > mx
          }
        }
      } || normSCmp(x).exists { nc =>
        fe.strStats.get(physicalFor(known, nc.name)).exists { case (lo, hi) =>
          nc.op match {
            case '<' => if (nc.eq) strCmp(lo, nc.c) > 0 else strCmp(lo, nc.c) >= 0
            case '>' => if (nc.eq) strCmp(hi, nc.c) < 0 else strCmp(hi, nc.c) <= 0
            case '=' => strCmp(nc.c, lo) < 0 || strCmp(nc.c, hi) > 0
          }
        }
      }
    // one literal value refuted for this file: an integral value
    // outside the (min,max) range, or a string the bloom rejects
    def valueRefuted(name: String,
                     l: org.apache.spark.sql.catalyst.expressions.Literal): Boolean = {
      val phys = physicalFor(known, name)
      l match {
        case Literal(v: Byte, _) => rangeRefutes(phys, v.toLong)
        case Literal(v: Short, _) => rangeRefutes(phys, v.toLong)
        case Literal(v: Int, _) => rangeRefutes(phys, v.toLong)
        case Literal(v: Long, _) => rangeRefutes(phys, v)
        case Literal(v: org.apache.spark.unsafe.types.UTF8String,
          org.apache.spark.sql.types.StringType) => bloomRefutes(phys, v.toString)
        case Literal(v: String, org.apache.spark.sql.types.StringType) =>
          bloomRefutes(phys, v)
        case _ => false
      }
    }
    def rangeRefutes(phys: String, v: Long): Boolean =
      fe.stats.get(phys).exists { case (mn, mx) => v < mn || v > mx }
    def bloomRefutes(phys: String, v: String): Boolean =
      (fe.bloom.contains(phys) && !fileMayContain(fe, phys, v)) ||
        fe.strStats.get(phys).exists { case (lo, hi) =>
          strCmp(v, lo) < 0 || strCmp(v, hi) > 0 }
    splitAndOr(e) match {
      case Some((true, l, r)) => refutesAllRows(l, fe, known) || refutesAllRows(r, fe, known)
      case Some((false, l, r)) => refutesAllRows(l, fe, known) && refutesAllRows(r, fe, known)
      case None => e match {
        case Literal(false, org.apache.spark.sql.types.BooleanType) => true
        case other =>
          cmpNone(other) ||
            // `key = 'x'` with a bloom that rejects x
            normStrEq(other).exists { case (n, v) =>
              bloomRefutes(physicalFor(known, n), v) } ||
            // `k IN (…)`: refuted only when EVERY value is — by range
            // for integrals, by bloom for strings
            normIn(other).exists { case (n, ls) =>
              ls.forall(valueRefuted(n, _)) } ||
            // `NOT p`: if every row provably satisfies p, none can
            // satisfy NOT p (provesAllRows already carries the no-null
            // evidence NOT's three-valued logic needs)
            normNot(other).exists(provesAllRows(_, fe, known))
      }
    }
  }

  /** REPLACE WHERE (Delta's `replaceWhere`, SQL's static
    * `INSERT OVERWRITE t PARTITION (day = 'x')`, and
    * `df.writeTo(t).overwrite(cond)`): delete the rows matching the
    * predicate and insert the staged batch — ONE atomic commit.
    * Deletion rides [[deleteVectors]]' machinery, so it keeps both of
    * its scale levers: files whose stats PROVE every row matches are
    * dropped from the manifest whole (a day-clustered restatement
    * prunes almost everything metadata-only), files whose stats
    * REFUTE the predicate never open, and only boundary files scan
    * into their files' deletion vectors. Spark's
    * OverwriteByExpression contract: the inserted rows are NOT
    * validated against the predicate (unlike Delta's opt-in
    * constraint check) — the caller owns that invariant. */
  private[graft] def replaceWhere(spark: SparkSession, dir: String,
                                  added: Seq[FileEntry],
                                  predicate: org.apache.spark.sql.Column,
                                  schemaJson: String,
                                  validate: Boolean = false): Long = {
    // opt-in (round-18, Delta's replaceWhere constraint check): reject
    // the WHOLE write if any staged row does not satisfy the predicate
    // — without it, restating PARTITION (day='x') with a batch
    // carrying day='y' rows silently appends those y rows while old y
    // rows survive (Spark's OverwriteByExpression contract; surprising
    // double data, hence the knob). One scan of the BATCH, never the
    // table; a throw here aborts before anything commits, and the V2
    // write path deletes the staged files.
    if (validate && added.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, lit, not}
      import org.apache.spark.sql.types.{DataType, StructType}
      // a first commit's staged files carry the writer's own names
      val known = latestVersion(spark, dir).map(v => tableSchema(spark, dir, v))
        .getOrElse(stripMapping(DataType.fromJson(schemaJson)
          .asInstanceOf[StructType]))
      val bad = readPlain(spark, dir, added, known)
        .filter(not(coalesce(predicate, lit(false))))
        .limit(1).count()
      require(bad == 0L,
        "replaceWhere validation: the staged batch carries rows that do " +
          "not satisfy the overwrite predicate (false or null) — fix the " +
          "query, or drop the replaceWhereValidate option to take " +
          "Spark's unvalidated OverwriteByExpression semantics")
    }
    latestVersion(spark, dir) match {
      case None => // first commit: nothing to replace
        commit(spark, dir, "overwrite", added, schemaJson = Some(schemaJson))
      case Some(_) =>
        deleteVectorsWith(spark, dir, predicate, alsoAdd = added,
          opName = "replace-where", schemaJson = Some(schemaJson))
    }
  }

  /** [[deleteVectors]], committing the caller's `alsoAdd` files in the
    * same version (replace-where's inserted batch). */
  private def deleteVectorsWith(spark: SparkSession, dir: String,
                                predicate: org.apache.spark.sql.Column,
                                alsoAdd: Seq[FileEntry] = Nil,
                                opName: String = "delete",
                                schemaJson: Option[String] = None): Long =
    dvTransaction(spark, dir, "delete from") { (m, known) =>
      val expr = org.apache.spark.sql.graftbridge.Bridge.catalystExpression(predicate)
      // METADATA-ONLY fast path: a file whose stats PROVE every row
      // matches is removed from the manifest whole — no scan, no
      // vector, no bytes. A retention delete (`WHERE day < cutoff`) on
      // a day-clustered 100 TB table drops almost every matched file
      // this way and dv-scans only the boundary files; the change feed
      // still replays the removed files' live rows as deletes (removed
      // file → delete rows is already its contract). Files whose stats
      // REFUTE the predicate skip the scan entirely.
      val (dropped, rest) = m.files.partition(provesAllRows(expr, _, known))
      val candidates = rest.filterNot(refutesAllRows(expr, _, known))
      DvTxn(s"$opName-dv",
        positions = Some(candidates).filter(_.nonEmpty).map(cs =>
          readFiles(spark, dir, cs, m.version, keepPos = true, knownSchema = known)
            .filter(predicate)
            .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))),
        callerFiles = alsoAdd, dropped = dropped, schemaJson = schemaJson,
        prunedOp = Some(s"$opName-prune"))
    }

  /** EQUALITY DELETE: commit the KEY VALUES, not positions — the
    * Iceberg-v2 equality-delete cost class for high-churn CDC ingest
    * where the key misses the zone maps. [[deleteVectors]] must SCAN
    * the (stats-pruned) candidate files to find matched positions; on
    * an UNCLUSTERED key that is a table scan per epoch. This path
    * writes the distinct keys as one tiny sidecar parquet and attaches
    * its ref to the affected manifest entries — O(batch) bytes and
    * O(files) metadata per epoch, ZERO data reads. Readers subtract
    * matching rows (merge-on-read: the connector's readers mask
    * in-flight, for `scan` and the DML position scans too);
    * [[purgeDeletes]] and [[compact]] fold pending equality deletes
    * into the files, restoring metadata-exact counts.
    *
    * Trades, stated plainly: while equality deletes are pending,
    * COUNT cannot answer from metadata for affected files, per-file
    * liveRows is an upper bound, and every read of an affected file
    * probes the pending key set. That is the right trade exactly when
    * deletes are frequent and reads are batched — fold on a
    * maintenance cadence.
    *
    * Files whose stats range refutes the whole key batch are skipped
    * at attach time (metadata-level pruning), so on a CLUSTERED key
    * this degrades gracefully toward the dv path's selectivity.
    * Sequencing is structural: rows appended AFTER this commit land in
    * new files that never carry the ref, so re-inserting a deleted key
    * works (Iceberg sequence-number semantics via the flat file list).
    *
    * `keys` is a one-column frame of key values (null keys never
    * match, SQL equality). Returns the new version — or the current
    * one when every file refutes the batch.
    *
    * Isolation, stated precisely: the delete applies to the SNAPSHOT
    * IT READ, not to every file committed before its publish. Its
    * read set is the affected files only, so an append that commits
    * between this delete's manifest read and its publish neither
    * conflicts nor is masked — the histories serialize with the
    * delete FIRST (valid snapshot isolation; the appended rows
    * survive, exactly as if they arrived after the delete). This
    * deliberately diverges from Iceberg's sequence-number contract,
    * where an equality delete masks every data file with a lower
    * sequence number regardless of publish order; a caller needing
    * publish-order semantics should serialize its delete epochs with
    * its appends (the CDC appliers do). */
  def deleteByKey(spark: SparkSession, dir: String, keyCol: String,
                  keys: DataFrame): Long =
    deleteByKeys(spark, dir, Seq(keyCol), keys)

  /** [[deleteByKey]] over a COMPOSITE business key (round-17): real
    * CDC keys are often (tenant, entity)-style tuples — Iceberg's
    * equality deletes carry a key SCHEMA for the same reason. One
    * sidecar parquet stores the distinct deleted tuples (N typed
    * columns, positional against `keyCols`); readers mask rows whose
    * whole tuple matches (SQL tuple equality — any null member
    * matches nothing). Pruning stays per member column: a file whose
    * range/bloom refutes ANY member for the whole batch can hold no
    * matching tuple. All other semantics — O(batch) bytes, zero data
    * reads, sequencing, the masking budget — are [[deleteByKey]]'s. */
  def deleteByKeys(spark: SparkSession, dir: String, keyCols: Seq[String],
                   keys: DataFrame): Long =
    deleteByKeysCore(spark, dir, keyCols, keys, op = "delete-eq", schemaJson = None)

  /** [[deleteByKeys]] PLUS an atomically co-committed APPEND of
    * `appends` — the eq-CDC epoch primitive (round-19, guide §1.2):
    * an epoch used to pay TWO snapshot commits (the key-retiring
    * equality delete, then the post-image append), and the per-commit
    * driver round trips — not data volume — were the measured serial
    * floor on every CDC path (the round-18 scaling block: the CDC
    * queries ran FASTER on 8 cores than 32). Both halves already
    * compute their file sets before committing, so they publish as
    * ONE version: the delete's refs attach to the PRE-epoch manifest
    * (freshly appended files are never masked by their own epoch,
    * exactly the old sequencing), the appended files ride the same
    * commit, and the change feed emits one coherent
    * delete-pre-image + upsert-post-image change set at one version —
    * the same same-version pair shape the apply collapse already
    * resolves. The old two-commit crash window (delete published,
    * append lost) is gone outright.
    *
    * `rebalance` opts the staged append into the AQE-sized REBALANCE
    * (see stageFiles): right for epoch-sized batches, opt-out for
    * callers that pre-cluster their frame. An empty `appends` frame
    * degrades to a plain [[deleteByKeys]]; an empty key batch commits
    * just the appended files. */
  def deleteByKeysWithAppend(spark: SparkSession, dir: String,
                             keyCols: Seq[String], keys: DataFrame,
                             appends: DataFrame,
                             statsCols: Seq[String] = Nil,
                             rebalance: Boolean = true): Long =
    deleteByKeysCore(spark, dir, keyCols, keys, op = "cdc-eq",
      schemaJson = Some(appends.schema.json),
      stageAppend = () => stageFiles(spark, appends, dir, statsCols,
        applyMapping = true, bucketize = bucketLayout(spark, dir),
        rebalance = rebalance))

  /** Dynamic partition overwrite (`INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic`, `df.writeTo(t)
    * .overwritePartitions()`): replace exactly the identity-partition
    * values present in the incoming batch, keep every other
    * partition — in ONE atomic commit, O(batch) bytes, zero data
    * files rewritten.
    *
    * Partition identity is the table's IDENTITY layout columns
    * (`clusterBy` — what `PARTITIONED BY (d)` declares): the incoming
    * files' distinct key tuples become one equality-delete sidecar
    * over the existing files (manifest-range/bloom-pruned, so a
    * day-clustered table attaches only to the files whose range
    * admits the incoming days) and the staged files append — the
    * Hive/Iceberg replace-partitions semantics at the eq-CDC cost
    * class instead of a partition rewrite. Hash buckets are file
    * LAYOUT, not partition identity (Hive's view of CLUSTERED BY), so
    * a bucket-only or layout-less table degrades to a full
    * truncate-overwrite — exactly what static mode does there.
    *
    * Stated honestly: a row whose identity tuple has a NULL member
    * appends WITHOUT replacing the existing null-partition rows (SQL
    * equality never matches null — the same reason a null key never
    * eq-deletes); and the incoming distinct-tuple count is subject to
    * the per-file pending-key masking budget, so overwriting via a
    * near-unique identity column fails loudly with compact/purge as
    * the remedy rather than degrading reads. */
  private[graft] def overwritePartitionsDynamic(
      spark: SparkSession, dir: String, added: Seq[FileEntry],
      keyCols: Seq[String], physKeyCols: Seq[String],
      schemaJson: Option[String]): Long = {
    if (keyCols.isEmpty || latestVersion(spark, dir).isEmpty)
      return commit(spark, dir, "overwrite", added, schemaJson = schemaJson)
    if (added.isEmpty) // empty query output replaces no partitions
      return latestVersion(spark, dir).get
    // distinct identity tuples of the incoming batch, read back off
    // the staged files (physical names), column-pruned — one tiny job
    val keys = spark.read
      .parquet(added.map(fe => resolvePath(dir, fe.path)): _*)
      .select(physKeyCols.zip(keyCols).map { case (p, l) =>
        col(s"`$p`").as(l) }: _*)
      .distinct()
    deleteByKeysCore(spark, dir, keyCols, keys, op = "overwrite-dynamic",
      schemaJson = schemaJson, alsoAdd = added)
  }

  /** [[deleteByKeys]] with files co-committed in the same version, so
    * a crash can never leave the delete without the data:
    *  - `alsoAdd`: files the caller staged and owns (dynamic partition
    *    overwrite is "delete the incoming tuples + append the incoming
    *    files"); never deleted here, the V2 write's abort owns them;
    *  - `stageAppend`: this transaction's own append, staged inside
    *    each attempt after the key checks.
    * Clean-up is [[dvTransaction]]'s one rule: the key sidecar and the
    * staged append, the paths this attempt alone wrote, are deleted
    * exactly when the failure comes before a publish attempt. A
    * refusal leaves `data/` as it found it, and a conflict's retry
    * stages afresh. */
  private def deleteByKeysCore(spark: SparkSession, dir: String,
                               keyCols: Seq[String], keys: DataFrame,
                               op: String, schemaJson: Option[String],
                               alsoAdd: Seq[FileEntry] = Nil,
                               stageAppend: () => Seq[FileEntry] = () => Nil): Long =
    retryOnConflict(s"equality delete on $dir") {
      require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
      require(keyCols.distinct == keyCols,
        s"duplicate key columns in ${keyCols.mkString(",")}")
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot delete from empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      var owned = Seq.empty[String]
      // one commit for the co-committed files and, when `sidecar` is
      // set, the key refs attached to `affected`; with nothing to
      // refute or mask (empty or all-null key batch, or every file
      // refuted) the adds still publish
      def publish(affected: Seq[FileEntry], sidecar: Option[String]): Long = {
        val fresh = deletingOnFailure(spark, dir, owned) {
          val staged = stageAppend()
          owned ++= staged.map(_.path)
          // appended rows are new content: constraints gate them like an INSERT
          enforceCheckConstraints(spark, dir, staged, known)
          staged
        }
        val updated = sidecar.fold(Seq.empty[FileEntry])(rel =>
          affected.map(fe => fe.copy(eqDv = (fe.eqDv :+ rel).distinct)))
        if (updated.isEmpty && alsoAdd.isEmpty && fresh.isEmpty) v
        else commit(spark, dir, op, updated ++ alsoAdd ++ fresh,
          removed = readSetOf(affected), carry = true, schemaJson = schemaJson,
          owned = owned)
      }
      require(keys.columns.length == keyCols.length,
        s"deleteByKeys wants a ${keyCols.length}-column key frame for " +
          s"${keyCols.mkString(",")}, got ${keys.columns.toSeq}")
      // (physical, declared type) per member; types from the CURRENT
      // schema so the sidecar parquet is table-typed
      val members: Seq[(String, org.apache.spark.sql.types.DataType)] =
        keyCols.map { kc =>
          val field = known.fields.find(_.name == kc).getOrElse(
            throw new IllegalArgumentException(
              s"deleteByKey key '$kc' is not a column of $dir"))
          import org.apache.spark.sql.types._
          // DateType (round-18): the canonical sidecar/masking form
          // is DAYS-SINCE-EPOCH digits — what the parquet INT32
          // physically stores, so every reader family (row stringer,
          // columnar vector getInt, executor loadLocal) agrees for
          // free; only the DRIVER-side canonical load must convert
          require(Seq(ByteType, ShortType, IntegerType, LongType,
            StringType, DateType).contains(field.dataType),
            s"deleteByKey key '$kc' must be integral, string, or date, " +
              s"got ${field.dataType.simpleString}")
          (physicalName(field), field.dataType)
        }
      val physCols = members.map(_._1)
      // binding: BY NAME when the frame carries exactly the key
      // columns' names (a same-named but REORDERED frame would
      // otherwise silently delete swapped tuples — a corruption, not
      // an error); positional only for anonymous/differently-named
      // frames (spark.range(...).toDF shapes)
      val byName = keys.columns.toSet == keyCols.toSet
      // a tuple with ANY null member matches nothing (SQL equality)
      val keyDf = keys
        .select(members.zipWithIndex.map { case ((phys, dt), i) =>
          val src = if (byName) keyCols(i) else keys.columns(i)
          col(s"`$src`").cast(dt).as(phys) }: _*)
        .na.drop("any").distinct()
      // tiny jobs over the BATCH (not the table): its per-member
      // bounds refute whole files through the manifest ranges —
      // integral stats or string zone maps — and a small batch
      // additionally refutes through the per-file blooms (point
      // membership beats ranges on scattered keys).
      // Round-18 job fusion (guide §1.2): ONE typed limit-collect
      // decides small vs wide; a small batch's string forms, bounds,
      // and count all derive from the collected rows on the driver
      // (this path used to run a string-cast collect PLUS a bounds
      // aggregate PLUS, for wide batches, a third count job), and only
      // a wide batch pays one aggregate folding bounds and count
      // together.
      val isString = members.map(_._2 == org.apache.spark.sql.types.StringType)
      try {
      val typedRows = keyDf.limit(1025).collect()
      if (typedRows.isEmpty) return publish(Nil, None) // empty batch
      // driver-side canonical forms replicate the CAST-to-string the
      // old collect ran: integrals print decimal digits, dates ISO
      // yyyy-MM-dd — both are the Java toString forms
      def stringForm(x: Any): String = x match {
        case d: java.sql.Date => d.toString
        case d: java.time.LocalDate => d.toString
        case other => other.toString
      }
      // the physical stats coordinate: days-since-epoch for dates,
      // the value itself for integrals (what min(num).cast("long")
      // computed)
      def boundForm(x: Any): Long = x match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
        case n: java.lang.Number => n.longValue
        case other => throw new IllegalStateException(
          s"unexpected key member value $other")
      }
      val smallKeys: Option[Seq[Seq[String]]] =
        if (typedRows.length > 1024) None
        else Some(typedRows.toSeq.map(r =>
          physCols.indices.map(i => stringForm(r.get(i)))))
      // WIDE batches only (round-18, guide §5): the canonicalize +
      // distinct shuffle still feeds two more actions (the bounds
      // aggregate and the distributed sidecar write) — cache it for
      // their span. The small path runs exactly one action (the
      // early-stopping limit-collect above, deliberately uncached:
      // caching would force full-partition materialization) and then
      // works from the driver rows. Unpersist rides the finally.
      if (smallKeys.isEmpty) keyDf.cache()
      val (bounds, strBounds, batchKeys) = smallKeys match {
        case Some(tuples) =>
          val b: Seq[Option[(Long, Long)]] = physCols.indices.map { i =>
            if (isString(i)) None
            else {
              val vs = typedRows.map(r => boundForm(r.get(i)))
              Some((vs.min, vs.max))
            }
          }
          val sb: Seq[Option[(String, String)]] = physCols.indices.map { i =>
            if (!isString(i)) None
            else {
              val vs = typedRows.map(_.getString(i))
              Some((vs.reduce((x, y) => if (strCmp(x, y) <= 0) x else y),
                vs.reduce((x, y) => if (strCmp(x, y) >= 0) x else y)))
            }
          }
          (b, sb, tuples.size.toLong)
        case None =>
          val aggExprs = members.zipWithIndex.flatMap { case ((phys, dt), i) =>
            if (isString(i)) Seq(min(col(s"`$phys`")), max(col(s"`$phys`")))
            else {
              // DATE → days since epoch (a date cannot CAST to long; the
              // days number is also the physical stats coordinate)
              val num =
                if (dt == org.apache.spark.sql.types.DateType)
                  datediff(col(s"`$phys`"), lit("1970-01-01").cast("date"))
                else col(s"`$phys`")
              Seq(min(num).cast("long"), max(num).cast("long"))
            }
          } :+ count(lit(1)) // the wide batch's key count, same job
          val boundsRow = keyDf.agg(aggExprs.head, aggExprs.tail: _*).head
          val b: Seq[Option[(Long, Long)]] = physCols.indices.map { i =>
            if (isString(i) || boundsRow.isNullAt(2 * i)) None
            else Some((boundsRow.getLong(2 * i), boundsRow.getLong(2 * i + 1)))
          }
          val sb: Seq[Option[(String, String)]] = physCols.indices.map { i =>
            if (!isString(i) || boundsRow.isNullAt(2 * i)) None
            else Some((boundsRow.getString(2 * i), boundsRow.getString(2 * i + 1)))
          }
          (b, sb, boundsRow.getLong(aggExprs.length - 1))
      }
      // a file is refuted when ANY member's whole batch is range- or
      // bloom-disjoint from it (null keys were dropped from the batch
      // — SQL equality never matches null); string comparisons go
      // through UTF8String binary order, the zone maps' collation.
      val affected = m.files.filter { fe =>
        val rangeHit = physCols.indices.forall { i =>
          val phys = physCols(i)
          bounds(i).flatMap(b => fe.stats.get(phys).map(s =>
              !(b._2 < s._1 || b._1 > s._2)))
            .orElse(strBounds(i).flatMap { case (bl, bh) =>
              fe.strStats.get(phys).map { case (lo, hi) =>
                !(strCmp(bh, lo) < 0 || strCmp(bl, hi) > 0) } })
            .getOrElse(true)
        }
        // a small batch is refuted outright when NO tuple passes every
        // bloom-carrying member's membership test
        val bloomHit = smallKeys.forall(tuples =>
          physCols.forall(c => fe.bloom.get(c).isEmpty) ||
            tuples.exists(t => physCols.indices.forall(i =>
              fe.bloom.get(physCols(i)).isEmpty ||
                fileMayContain(fe, physCols(i), t(i)))))
        rangeHit && bloomHit
      }
      if (affected.isEmpty) return publish(Nil, None)
      // attach-time pending-key budget: readers materialize each
      // file's MERGED key set, capped at MaxPendingKeys — enforce the
      // bound where it accumulates (here) instead of surfacing it as
      // a read failure N epochs later. Footer row counts only (the
      // sum over epochs upper-bounds the merged set; refusing a hair
      // early beats refusing reads), zero Spark jobs. (batchKeys came
      // with the bounds above — driver-counted for a small batch,
      // folded into the wide batch's single aggregate.)
      val hc = spark.sparkContext.hadoopConfiguration
      affected.foreach { fe =>
        val pending = fe.eqDv.map(p => graft.sources.connector
          .SnapshotPartitions.sidecarRows(hc, resolvePath(dir, p))).sum
        require(pending + batchKeys <=
          graft.sources.connector.SnapshotPartitions.MaxPendingKeys,
          s"${fe.path} would accumulate ${pending + batchKeys} pending " +
            "equality-delete keys — over the read-side masking cap; run " +
            "purge_deletes (or compact) to fold the pending refs, then retry")
      }
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val rel = s"data/$nonce-eq.parquet"
      owned :+= rel
      // a small batch's distinct tuples are already ON the driver
      // (typedRows) — write the sidecar directly, zero Spark jobs;
      // wide batches keep the distributed single-file write
      deletingOnFailure(spark, dir, owned) {
        if (smallKeys.isDefined) {
          writeDriverSidecar(spark, dir, rel, keyDf.schema, typedRows.toSeq)
          // seed the reader-side sidecar cache with what we just wrote
          // (round-18): canonical forms replicate EqSidecars.load —
          // integrals/strings via toString (== the string cast), dates
          // as DAYS-SINCE-EPOCH digits (== the datediff canonical);
          // typedRows are distinct + null-free already (keyDf), every
          // member passed the key-type whitelist above, and
          // messageTypeFor round-trips each of those types, so the seeded
          // (name, dtype-json) columns equal the read-back schema's.
          val fields = keyDf.schema.fields
          def canon(x: Any): String = x match {
            case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
            case d: java.time.LocalDate => d.toEpochDay.toString
            case other => other.toString
          }
          val canonKeys = typedRows.toVector.map { r =>
            val parts = fields.indices.map(i => canon(r.get(i)))
            if (fields.length == 1) parts.head
            else graft.sources.connector.EqSidecar.encode(parts)
          }
          graft.sources.connector.SnapshotPartitions.EqSidecars.seed(
            resolvePath(dir, rel),
            fields.toSeq.map(f => (f.name, f.dataType.json)), canonKeys)
        }
        else writeSingleParquet(spark, dir, keyDf, rel)
      }
      publish(affected, Some(rel))
      } finally keyDf.unpersist()
    }

  /** `values` (column name → value over `rows`), each value whose type
    * is a lossless widening of its column's recorded type (Spark's
    * up-cast: int into bigint, float into double, a decimal that fits)
    * cast to that type — the store assignment `UPDATE … SET v = 1`
    * needs on a bigint column. Any other mismatch is left for the
    * schema union to refuse. */
  private def upcastAssignments(known: org.apache.spark.sql.types.StructType,
                                rows: DataFrame,
                                values: Seq[(String, org.apache.spark.sql.Column)])
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val types = rows.select(values.map { case (c, e) => e.as(c) }: _*)
      .schema.fields.map(_.dataType)
    val recorded = known.fields.map(f => f.name -> f.dataType).toMap
    values.zip(types).map { case ((c, e), t) =>
      recorded.get(c) match {
        case Some(k) if widenNullability(k, t).isEmpty && Cast.canUpCast(t, k) =>
          c -> e.cast(k)
        case _ => c -> e
      }
    }
  }

  /** UPDATE WHERE via deletion vectors (merge-on-read): matched rows'
    * positions join their files' vectors and their TRANSFORMED
    * images land in freshly appended files — one commit, no data file
    * rewritten. `assignments` maps column name → new-value expression
    * (evaluated against the matched rows; unlisted columns carry
    * over), the SQL `UPDATE SET c = expr WHERE p` shape. Same cost
    * class as [[deleteVectors]]: O(matched rows) bytes for a
    * scattered small update instead of rewriting every touched file.
    * NULL-evaluating rows are untouched, matching SQL semantics. */
  def updateVectors(spark: SparkSession, dir: String,
                    predicate: org.apache.spark.sql.Column,
                    assignments: Seq[(String, org.apache.spark.sql.Column)],
                    statsCols: Seq[String] = Nil): Long =
    dvTransaction(spark, dir, "update") { (m, known) =>
      val cols = known.fieldNames.toSeq
      val unknown = assignments.map(_._1).toSet -- cols.toSet
      require(unknown.isEmpty, s"assignments for missing columns $unknown")
      // stats-refuted files skip BOTH scans: an UPDATE WHERE day =
      // yesterday on a day-clustered table reads only the files whose
      // range admits the day, not the table
      val uexpr = org.apache.spark.sql.graftbridge.Bridge
        .catalystExpression(predicate)
      val candidates = m.files.filterNot(refutesAllRows(uexpr, _, known))
      val matched0 =
        if (candidates.isEmpty)
          readFiles(spark, dir, m.files, m.version, keepPos = true, knownSchema = known)
            .limit(0)
        else readFiles(spark, dir, candidates, m.version, keepPos = true,
          knownSchema = known)
      val values = upcastAssignments(known, matched0, assignments).toMap
      def postImages(rows: DataFrame): DataFrame =
        rows.select(cols.map(c => values.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      // an assignment whose type conflicts with its column refuses
      // here, before anything is staged
      unionSchemaJson(known.json, postImages(matched0).schema.json)
      // a second predicate-pruned pass stages the post-images
      val updated = postImages(readFiles(spark, dir,
        if (candidates.isEmpty) m.files else candidates, m.version,
        knownSchema = known).filter(predicate))
      DvTxn("update-dv",
        positions = Some(matched0.filter(predicate)
          .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))),
        postImage = Some(updated), statsCols = statsCols,
        schemaJson = Some(updated.schema.json))
    }

  /** Files whose rows could match any of `keys` on `keyCol`, by the
    * manifest's per-file (min,max): the matched-position scan of a dv
    * merge reads ONLY these. Files without stats for `keyCol` are
    * conservatively kept. On a [[SnapshotWriteBuilder clusterBy]]-
    * clustered (or range-partitioned) table this is what makes a CDC
    * epoch's cost O(files the keys land in), not O(table) — without
    * it every trickle upsert re-scans 100 TB to find its matches.
    * Stats describe the physical file (dv-deleted rows included), so
    * the verdict is conservative; the join against the masked read
    * still decides true matches. */
  private def candidateFiles(spark: SparkSession, m: Manifest,
                             keyCol: String, keys: DataFrame,
                             statsKey: Option[String] = None): Seq[FileEntry] = {
    import spark.implicits._
    // manifest stats keys are PHYSICAL names on a rename-mapped table
    val sk = statsKey.getOrElse(keyCol)
    val statsList = m.files.flatMap(fe =>
      fe.stats.get(sk).map { case (mn, mx) => (fe.path, mn, mx) })
    if (statsList.nonEmpty) {
      val statsDf = statsList.toDF("__path", "__min", "__max")
      val touched = keys.select(col(keyCol).cast("long").as("__k")).distinct()
        .join(broadcast(statsDf), $"__k".between($"__min", $"__max"))
        .select("__path").distinct().as[String].collect().toSet
      return m.files.filter(fe =>
        touched.contains(fe.path) || !fe.stats.contains(sk))
    }
    // STRING keys prune through the zone maps: Spark's string
    // comparison is UTF8 binary order — exactly the bounds' order —
    // so `lo <= k <= hi` is the bound check (a CDC stream keyed by
    // doc_id/URL gets the same O(files the keys land in) epochs the
    // integral path has always had)
    val strList = m.files.flatMap(fe =>
      fe.strStats.get(sk).map { case (lo, hi) => (fe.path, lo, hi) })
    if (strList.isEmpty) m.files
    else {
      val statsDf = strList.toDF("__path", "__lo", "__hi")
      val touched = keys.select(col(keyCol).cast("string").as("__k")).distinct()
        .join(broadcast(statsDf), $"__k" >= $"__lo" && $"__k" <= $"__hi")
        .select("__path").distinct().as[String].collect().toSet
      m.files.filter(fe =>
        touched.contains(fe.path) || !fe.strStats.contains(sk))
    }
  }

  /** MERGE (upsert by key) via DELETION VECTORS — the merge-on-read
    * form of [[merge]], completing the DML triad next to
    * [[deleteVectors]]/[[updateVectors]]: matched target rows'
    * positions join their files' vectors and EVERY update row
    * (replacements and brand-new keys alike) lands in freshly
    * appended files — one commit, zero data files rewritten.
    * Whole-row-replace semantics identical to [[merge]] without
    * schema evolution. Cost class: O(|updates| + matched positions)
    * bytes, vs the COW merge's rewrite of every file whose key range
    * an update touches — the shape of trickle upserts against a
    * 100 TB table. Read amplification accrues like any vector;
    * [[purgeDeletes]]/[[compact]] are the maintenance valve.
    *
    * The whole-row instance of [[mergeClauses]]: `WHEN MATCHED UPDATE
    * SET * / WHEN NOT MATCHED INSERT *` over `updates` renamed out of
    * the table's namespace. Three refusals run first, before anything
    * is staged: `updates` must carry exactly the table's columns, no
    * two of its rows may share a key, and no column's type may
    * conflict with the table's (lossless widenings cast). */
  def mergeVectors(spark: SparkSession, dir: String, updates: DataFrame,
                   keyCol: String, statsCols: Seq[String] = Nil): Long = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot merge into empty table $dir"))
    val known = tableSchema(spark, dir, v)
    val cols = known.fieldNames.toSeq
    require(updates.columns.toSeq == cols,
      s"updates schema ${updates.columns.toSeq} != table schema $cols")
    require(updates.columns.contains(keyCol), s"updates lack merge key $keyCol")
    // standard MERGE cardinality rule: a matched target row must have
    // exactly one source image. Two source rows sharing a key would
    // dv-delete the target once and insert BOTH images — silent
    // duplicate-key rows. Delta and ANSI MERGE raise here; so do we.
    //
    // Deliberately NOT left to the vector build's duplicate detection:
    // this upsert's contract is source-key uniqueness, and the vector
    // build only sees POSITIONS — a duplicate source key that matches
    // no target row never reaches it, so it would insert BOTH images
    // (duplicate-key rows that double-match the NEXT merge). One
    // O(batch) aggregate over the source epoch is the price of raising
    // on every duplicate, matched or not. (General clause MERGE
    // differs by design: its insert clauses legally fire per duplicate
    // source row, so only matched duplicates are violations there.)
    val Array(total, distinct) = updates
      .agg(count(col(keyCol)), count_distinct(col(keyCol)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    if (total != distinct) throw new IllegalArgumentException(
      s"MERGE cardinality violation: ${total - distinct} duplicate " +
        s"source row(s) share a $keyCol value; a matched target row " +
        "must have exactly one source image — deduplicate the source " +
        "(e.g. keep-latest by a version column) before merging")
    val images = updates.select(upcastAssignments(known, updates,
      cols.map(c => c -> col(c))).map { case (c, e) => e.as(c) }: _*)
    // a source column whose type conflicts with the table's refuses
    // here, before anything is staged
    unionSchemaJson(known.json, images.schema.json)
    val src = cols.indices.map(i => s"__merge_src_$i")
    val all = cols.zip(src.map(col))
    mergeClauses(spark, dir, images.toDF(src: _*), keyCol,
      col(src(cols.indexOf(keyCol))),
      matched = Seq(MergeWhenClause(None, MergeRowAction.Update(all))),
      notMatched = Seq(MergeInsertClause(None, all)), statsCols = statsCols)
  }

  /** What a matched (or not-matched-by-source) MERGE clause does to
    * the target row it selected. */
  sealed trait MergeRowAction
  object MergeRowAction {
    /** Partial-row update: listed columns take their expression's
      * value, unlisted columns carry the target row's value. */
    final case class Update(
        assignments: Seq[(String, org.apache.spark.sql.Column)])
      extends MergeRowAction
    case object Delete extends MergeRowAction
  }
  /** One WHEN MATCHED / WHEN NOT MATCHED BY SOURCE clause: the first
    * clause (in statement order) whose condition holds applies; a
    * None condition always holds. */
  final case class MergeWhenClause(condition: Option[org.apache.spark.sql.Column],
                                   action: MergeRowAction)
  /** One WHEN NOT MATCHED THEN INSERT clause; target columns absent
    * from `values` insert as NULL (Delta semantics). */
  final case class MergeInsertClause(condition: Option[org.apache.spark.sql.Column],
                                     values: Seq[(String, org.apache.spark.sql.Column)])

  /** The FULL MERGE clause surface over deletion vectors — multiple
    * conditional WHEN clauses, partial-row MATCHED updates, MATCHED
    * DELETE, and NOT MATCHED BY SOURCE; [[mergeVectors]] is its
    * whole-row upsert instance. Every touched target row's position
    * joins its file's vector; every surviving post-image
    * (updated rows + inserts) lands in freshly appended files — one
    * commit, zero data files rewritten, O(affected rows) bytes.
    *
    * Contract: `source`'s column names must be disjoint from the
    * target's (the SQL layer renames them `__merge_src_<i>`); clause
    * conditions and assignment values are Columns over the JOINED
    * row — target columns by their table names, source columns by
    * `source`'s names. Matched/insert clauses may reference both
    * sides; notMatchedBySource clauses see NULL source columns (no
    * source row matched) so they should reference target columns
    * only — the SQL layer enforces that. `sourceKey` is the ON
    * condition's source-side expression; a target row matches a
    * source row when `target.keyCol = sourceKey` (null keys never
    * match, standard equality).
    *
    * Cardinality follows Delta/ANSI: a target row that MORE THAN ONE
    * source row would modify raises; duplicate source rows that only
    * insert are legal (each inserts). Values are cast to the target
    * column's type (the SQL layer has already gated lossy casts).
    *
    * Scale shape: when no NOT MATCHED BY SOURCE clause is present the
    * target scan is stats-pruned to the files whose key range any
    * source key touches ([[candidateFiles]] — the trickle-upsert
    * O(files touched) property); by-source clauses must see every
    * live row, so they read the full file list by nature. The join
    * output is projected to an O(affected)-row effect frame
    * (position, op kind, post-image) and persisted, so the join runs
    * once; without an insert clause the join is a left outer one, and
    * the corpus never shuffles when the source broadcasts. One
    * [[dvTransaction]] stages and commits the effect. */
  def mergeClauses(spark: SparkSession, dir: String, source: DataFrame,
                   keyCol: String,
                   sourceKey: org.apache.spark.sql.Column,
                   matched: Seq[MergeWhenClause],
                   notMatched: Seq[MergeInsertClause],
                   notMatchedBySource: Seq[MergeWhenClause] = Nil,
                   statsCols: Seq[String] = Nil,
                   extraColumns: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : Long =
    dvTransaction(spark, dir, "merge into") { (m, known) =>
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
      val v = m.version
      // WITH SCHEMA EVOLUTION: `extraColumns` WIDEN the table — images
      // carry them, untouched rows read them as null (the same
      // union-schema contract as append-time evolution), and the
      // commit unions them into the recorded schema
      extraColumns.foreach(f => require(
        !known.fieldNames.contains(f.name),
        s"evolution column '${f.name}' already exists"))
      val logicalSchema = StructType(known.fields ++
        extraColumns.map(_.copy(nullable = true)))
      val cols = logicalSchema.fieldNames.toSeq
      require(cols.contains(keyCol), s"table $dir lacks merge key $keyCol")
      val reserved = cols.toSet ++ Seq("__graft_file", "__graft_pos",
        "__src_present", "__m", "__n", "__i", "__kind")
      val clash = source.columns.filter(reserved.contains)
      require(clash.isEmpty,
        s"source columns ${clash.mkString(", ")} collide with the " +
          "target/marker namespace; rename them before merging")

      // target leg: stats-pruned to the source keys' candidate files
      // unless a by-source clause must observe every live row
      val candidates =
        if (notMatchedBySource.nonEmpty) m.files
        else candidateFiles(spark, m, keyCol,
          source.select(sourceKey.as(keyCol)),
          statsKey = Some(physicalFor(known, keyCol)))
      val posSchema = StructType(known.fields ++
        Seq(StructField("__graft_file", StringType), StructField("__graft_pos", LongType)))
      val tgt0 =
        if (candidates.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], posSchema)
        else readFiles(spark, dir, candidates, v, keepPos = true,
          knownSchema = known)
      // evolution columns: every existing target row reads them null
      val tgt = extraColumns.foldLeft(tgt0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      val srcMarked = source.withColumn("__src_present", lit(true))
      val joinType = if (notMatched.nonEmpty) "full_outer" else "left_outer"
      val joined = tgt.join(srcMarked, tgt(keyCol) === sourceKey, joinType)

      // first-applicable-clause index (1-based; 0 = no clause fires;
      // an unconditioned clause makes later clauses dead, as in SQL)
      def firstIdxChain(conds: Seq[Option[Column]]): Column = {
        var e: Column = null
        conds.zipWithIndex.foreach { case (c, i) =>
          val cond = c.getOrElse(lit(true))
          e = if (e == null) when(cond, lit(i + 1)) else e.when(cond, lit(i + 1))
        }
        if (e == null) lit(0) else e.otherwise(lit(0))
      }

      val isMatched = col("__graft_pos").isNotNull &&
        col("__src_present").isNotNull
      val isTgtOnly = col("__graft_pos").isNotNull && col("__src_present").isNull
      val classified = joined
        .withColumn("__m", when(isMatched,
          firstIdxChain(matched.map(_.condition))).otherwise(lit(0)))
        .withColumn("__n", when(isTgtOnly,
          firstIdxChain(notMatchedBySource.map(_.condition))).otherwise(lit(0)))
        .withColumn("__i", when(col("__graft_pos").isNull,
          firstIdxChain(notMatched.map(_.condition))).otherwise(lit(0)))

      // op kind: 0 untouched, 1 dv-delete only, 2 dv + post-image
      // (update), 3 insert image
      def kindOf(idxCol: String, clauses: Seq[MergeWhenClause]): Column =
        clauses.zipWithIndex.foldLeft(lit(0)) { case (acc, (cl, i)) =>
          val k = cl.action match {
            case MergeRowAction.Delete => 1
            case _: MergeRowAction.Update => 2
          }
          when(col(idxCol) === (i + 1), lit(k)).otherwise(acc)
        }
      val kind = when(col("__m") > 0, kindOf("__m", matched))
        .when(col("__n") > 0, kindOf("__n", notMatchedBySource))
        .when(col("__i") > 0, lit(3))
        .otherwise(lit(0))

      // post-image per table column: first-matching clause's value
      // (update carries unlisted columns from the target; insert
      // fills unlisted columns with NULL), cast to the column's type
      val images: Seq[Column] = logicalSchema.fields.toSeq.map { f =>
        var e: Column = null
        def add(cond: Column, value: Column): Unit =
          e = if (e == null) when(cond, value) else e.when(cond, value)
        matched.zipWithIndex.foreach {
          case (MergeWhenClause(_, MergeRowAction.Update(as)), i) =>
            add(col("__m") === (i + 1),
              as.toMap.getOrElse(f.name, col(f.name)))
          case _ => ()
        }
        notMatchedBySource.zipWithIndex.foreach {
          case (MergeWhenClause(_, MergeRowAction.Update(as)), i) =>
            add(col("__n") === (i + 1),
              as.toMap.getOrElse(f.name, col(f.name)))
          case _ => ()
        }
        notMatched.zipWithIndex.foreach { case (MergeInsertClause(_, vals), i) =>
          add(col("__i") === (i + 1),
            vals.toMap.getOrElse(f.name, lit(null)))
        }
        (if (e == null) lit(null) else e).cast(f.dataType).as(f.name)
      }

      val effect = classified
        .withColumn("__kind", kind)
        .filter(col("__kind") =!= 0)
        .select((Seq(col("__graft_file").as("__e_file"),
          col("__graft_pos").as("__e_pos"), col("__kind")) ++ images): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      DvTxn("merge-dv",
        positions = Some(effect.filter(col("__kind") < 3)
          .select(col("__e_file").as("file"), col("__e_pos").as("pos"))),
        // Delta/ANSI cardinality: >1 source row modifying one target
        // row is ambiguous (which image wins?) — raise, don't guess.
        // Detection rides the vector build: a position repeated in one
        // task's partial bitmap, or shared by two tasks' partials of
        // one file, is the violation. The scan masks dv-deleted rows,
        // so fresh positions never meet prior ones.
        failOnDuplicate = matched.nonEmpty,
        postImage = Some(effect.filter(col("__kind") >= 2).select(cols.map(col): _*)),
        inserts = notMatched.nonEmpty, statsCols = statsCols,
        // a widening merge records the UNION schema even when the
        // effect set is empty-of-images (schema evolution is part of
        // the statement's contract)
        schemaJson = Some(logicalSchema.json).filter(_ => extraColumns.nonEmpty),
        alwaysCommit = extraColumns.nonEmpty, cached = Some(effect))
    }

  /** [[mergeVectors]] for rows ALREADY staged as data files under the
    * table — the V2 streaming sink's upsert path: its tasks streamed
    * the epoch's rows into `staged` while computing stats/blooms, so
    * the merge costs no second write job. Same dv algebra: the live
    * rows of the stats-candidate files whose key a staged row carries
    * join their files' vectors, `staged` commits as the post-image,
    * one version, zero data files rewritten. Its post-image is already
    * written, so it is a [[dvTransaction]] with `staged` as the
    * caller's files: a failure discards only the DV file (the sink
    * deletes the staged files via abort), and a conflict's retry
    * recomputes the vector against the new snapshot and recommits the
    * same files. An empty table commits `staged` as the first version
    * (pure insert). */
  private[graft] def mergeStaged(spark: SparkSession, dir: String,
                                 staged: Seq[FileEntry], keyCol: String,
                                 opTag: String,
                                 schemaJson: Option[String]): Long =
    if (latestVersion(spark, dir).isEmpty)
      commit(spark, dir, opTag, staged, schemaJson = schemaJson)
    else dvTransaction(spark, dir, "merge into") { (m, known) =>
      require(known.fieldNames.contains(keyCol), s"table $dir lacks merge key $keyCol")
      // staged files carry physical names on a mapped table — the
      // knownSchema read aliases them back to logical
      val keys = readPlain(spark, dir, staged, known).select(col(keyCol)).distinct()
      val candidates = candidateFiles(spark, m, keyCol, keys,
        statsKey = Some(physicalFor(known, keyCol)))
      DvTxn(opTag,
        positions = Some(candidates).filter(_.nonEmpty).map(cs =>
          readFiles(spark, dir, cs, m.version, keepPos = true, knownSchema = known)
            .join(keys, Seq(keyCol), "left_semi")
            .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))),
        callerFiles = staged, schemaJson = schemaJson, alwaysCommit = true)
    }

  /** Fold every live deletion vector and pending equality delete into
    * its files: masked files are rewritten with only their live rows,
    * the new entries reference no vector or eq ref, and the DV files
    * and sidecars become vacuum-reclaimable. Delta's `REORG TABLE ... APPLY (PURGE)`.
    * The fold reads through the V2 connector's in-reader mask — one
    * scan per bucket group, one key-set broadcast, whatever the number
    * of ref groups. A no-op (no version burned) when nothing is
    * masked. */
  def purgeDeletes(spark: SparkSession, dir: String,
                   statsCols: Seq[String] = Nil): Long =
    retryOnConflict(s"purge deletes of $dir") {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot purge empty table $dir"))
      val m = readManifest(spark, dir, v)
      // the rewrite reads through the merge-on-read mask, so the fresh
      // files hold only live rows and carry no eqDv ref — restoring
      // metadata-exact counts
      val dvd = m.files.filter(fe => fe.dv.isDefined || fe.eqDv.nonEmpty)
      if (dvd.isEmpty) v
      else {
        // rewrite per bucket GROUP so a bucketed table's layout (and
        // its storage-partitioned-join capability) survives the purge:
        // each group's rewritten files inherit its bucket id (None
        // stays None — unbucketed files purge together as before),
        // key-sorted so the ordering claim can survive too
        val known = tableSchema(spark, dir, v)
        val sortKey = bucketLayout(spark, dir).map(_._1)
        val fresh = dvd.groupBy(fe => (fe.bucket, fe.bucketN)).toSeq.flatMap {
          case ((bucket, bucketN), files) =>
            // the connector plans one partition per file; coalescing to
            // the split count Spark's own file packing gives the same
            // files (planned from a plain read, no job runs) keeps the
            // fold from writing one small file per input file
            val splits = readPlain(spark, dir, files, known).rdd.getNumPartitions
            val df0 = readFiles(spark, dir, files, v, knownSchema = known)
              .coalesce(splits)
            val key = sortKey.filter(k =>
              bucket.isDefined && df0.columns.contains(k))
            val df = key.fold(df0)(k => df0.sortWithinPartitions(col(s"`$k`")))
            stageFiles(spark, df, dir, statsCols).map(_.copy(
              bucket = bucket, bucketN = bucketN,
              sortedBy = key.map(physicalFor(known, _))))
        }
        commit(spark, dir, "purge", fresh,
          removed = readSetOf(dvd), carry = true, owned = fresh.map(_.path))
      }
    }

  /** REBUCKET: rewrite the whole table through its DECLARED bucket
    * layout — one overwrite commit whose files are per-bucket-pure and
    * tagged, restoring storage-partitioned-join capability after any
    * history of unbucketed writes (streaming epochs, legacy appends).
    * Deletion vectors fold in (the rewrite materializes live rows);
    * stats/bloom layout defaults from the table properties are kept.
    * Fails loudly when the table declares no layout — rewriting
    * without one would just burn a version. */
  def rebucket(spark: SparkSession, dir: String): Long = {
    require(bucketLayout(spark, dir).isDefined,
      s"table $dir declares no bucket layout (bucketBy/buckets " +
        "TBLPROPERTIES); declare one on an empty table or at CREATE " +
        "TABLE ... PARTITIONED BY (bucket(n, col))")
    val hconf = spark.sparkContext.hadoopConfiguration
    val props = graft.sources.connector.GraftTableProps.read(hconf, dir)
    val df = scan(spark, dir)
    // props may name columns by their retired PHYSICAL names on a
    // rename-mapped table; resolve to logical before matching the
    // (logical-named) scan frame
    val logicalFor: Map[String, String] = tableSchema(spark, dir,
      latestVersion(spark, dir).get).fields
      .map(f => physicalName(f) -> f.name).filter(p => p._1 != p._2).toMap
    def csv(k: String): Seq[String] = props.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .map(c => logicalFor.getOrElse(c, c))
      .filter(df.columns.contains)
    // the overwrite commit drops any rename mapping (files now carry
    // logical names) AND rewrites the named layout props to the
    // logical names ([[followPropsAfterMappingDrop]]) — so the next
    // write still finds the declared bucket column
    write(spark, df, dir, "overwrite", statsCols = csv("statsCols"),
      opTag = Some("rebucket"), bloomCols = csv("bloomCols"))
  }

  /** Incremental layout repair: rewrite ONLY the files that break the
    * table's declared bucket layout (no bucket id, an out-of-range id,
    * or an id recorded under a different bucket count), shuffling just
    * their rows into per-bucket-pure files — O(broken files), not
    * O(table), unlike [[rebucket]]'s full rewrite. This is what keeps
    * a 100 TB table's storage-partitioned joins alive after a few
    * stray unbucketed writes without repaying the whole table's write
    * cost: one legacy epoch breaks the scan's partitioning claim for
    * EVERY query until something heals it. Deletion vectors on broken
    * files fold in (the rewrite materializes live rows). Returns the
    * number of files rewritten (0 = layout already effective, no
    * version burned). */
  def rebucketBroken(spark: SparkSession, dir: String): Int =
    bucketLayout(spark, dir) match {
      case None => 0
      case Some((c, n)) if latestVersion(spark, dir).isEmpty => 0
      case Some((c, n)) => retryOnConflict(s"rebucket-heal $dir") {
        val v = latestVersion(spark, dir).get
        val m = readManifest(spark, dir, v)
        val broken = m.files.filterNot(_.bucketedUnder(n))
        if (broken.isEmpty) 0
        else {
          val known = tableSchema(spark, dir, v)
          val props = graft.sources.connector.GraftTableProps.read(
            spark.sparkContext.hadoopConfiguration, dir)
          val df = readFiles(spark, dir, broken, v, knownSchema = known)
          def csv(k: String): Seq[String] = props.get(k)
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
            .map(pc => known.fields.find(f => physicalName(f) == pc)
              .map(_.name).getOrElse(pc))
            .filter(df.columns.contains)
          val fresh = stageFiles(spark, df, dir, csv("statsCols"),
            csv("bloomCols"), bucketize = Some((c, n)))
          commit(spark, dir, "rebucket-heal", fresh,
            removed = readSetOf(broken), carry = true,
            owned = fresh.map(_.path))
          broken.size
        }
      }
    }

  /** Incremental RE-CLUSTERING (liquid-style): detect zone-map
    * overlap decay on the declared `clusterBy` key and re-sort ONLY
    * the decayed groups — the incremental form of a full clustered
    * rewrite. Appends over a range-clustered table land files whose
    * key ranges straddle the existing slices; once a point of the key
    * domain is covered by more than `maxDepth` files, range predicates
    * there stop pruning (every straddling file plans). This pass
    * sweeps the per-file (min,max) intervals (pure manifest metadata,
    * O(files log files) driver work), groups overlap-CONNECTED files,
    * and rewrites just the components whose max stabbing depth exceeds
    * `maxDepth` — a hot-tail ingest decays the tail's component, and
    * only the tail is re-sorted, not the cold 99% of a 100 TB table.
    * Bucketed layouts re-cluster within bucket groups (the SPJ claim
    * survives); deletion vectors and pending equality deletes fold in.
    * Content-neutral; returns files rewritten (0 = healthy, no version
    * burned). */
  def reclusterDecayed(spark: SparkSession, dir: String, maxDepth: Int = 3,
                       targetRows: Long = 1000000L): Int = {
    val key = graft.sources.connector.GraftTableProps
      .read(spark.sparkContext.hadoopConfiguration, dir)
      .get("clusterBy").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).headOption
      .getOrElse(return 0) // no declared clustering: nothing to decay
    if (latestVersion(spark, dir).isEmpty) return 0
    retryOnConflict(s"recluster $dir") {
      val v = latestVersion(spark, dir).get
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      // the key as stats record it (create-time physical name)
      val physKey = physicalFor(known, key)
      val logicalKey = known.fields.find(f => physicalName(f) == physKey)
        .map(_.name).getOrElse(key)
      // components per bucket group: a mixed identity+bucket layout
      // decays within buckets, and the rewrite must stay bucket-pure
      val decayed: Seq[((Option[Int], Option[Int]), Seq[FileEntry])] =
        m.files.filter(_.stats.contains(physKey))
          .groupBy(fe => (fe.bucket, fe.bucketN)).toSeq.flatMap {
            case (grp, files) =>
              val sorted = files.sortBy(_.stats(physKey)._1)
              val comps = Seq.newBuilder[Seq[FileEntry]]
              var cur = Vector.empty[FileEntry]
              var hi = Long.MinValue
              sorted.foreach { fe =>
                val (lo, h) = fe.stats(physKey)
                if (cur.nonEmpty && lo > hi) { comps += cur; cur = Vector.empty }
                cur :+= fe
                hi = math.max(hi, h)
              }
              if (cur.nonEmpty) comps += cur
              comps.result().filter { comp =>
                comp.size > maxDepth && {
                  // max stabbing depth of the component's intervals
                  val events = comp.flatMap(fe => Seq(
                    (fe.stats(physKey)._1, 1), (fe.stats(physKey)._2, -1)))
                    .sortBy(e => (e._1, -e._2)) // open before close at ties
                  var d = 0; var worst = 0
                  events.foreach { e => d += e._2; worst = math.max(worst, d) }
                  worst > maxDepth
                }
              }.map(grp -> _)
          }
      if (decayed.isEmpty) return 0
      val props = graft.sources.connector.GraftTableProps.read(
        spark.sparkContext.hadoopConfiguration, dir)
      def csv(k: String): Seq[String] = props.get(k)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map(pc => known.fields.find(f => physicalName(f) == pc)
          .map(_.name).getOrElse(pc))
      val fresh = decayed.flatMap { case ((bucket, bucketN), comp) =>
        val df = readFiles(spark, dir, comp, v, knownSchema = known)
        val nOut = math.max(1,
          math.ceil(comp.map(_.liveRows).sum.toDouble / targetRows).toInt)
        val packed = df
          .repartitionByRange(nOut, col(s"`$logicalKey`"))
          .sortWithinPartitions(col(s"`$logicalKey`"))
        // no sortedBy claim: the rewrite sorts by the CLUSTER key, not
        // (necessarily) the bucket key the ordering claim speaks for
        stageFiles(spark, packed, dir,
          csv("statsCols").filter(df.columns.contains),
          csv("bloomCols").filter(df.columns.contains)).map(_.copy(
          bucket = bucket, bucketN = bucketN))
      }
      commit(spark, dir, "recluster", fresh,
        removed = readSetOf(decayed.flatMap(_._2)), carry = true,
        owned = fresh.map(_.path))
      decayed.map(_._2.size).sum
    }
  }

  /** RESTORE: make `toVersion`'s file list the newest version (a
    * metadata-only commit — no data movement, unlike Sinks S7's copy). */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long =
    // keepMapping: the restored files really are the old (physical-
    // named) bytes, so the restored schema's rename mapping must
    // survive the re-record — unlike a writer's overwrite
    commit(spark, dir, "restore", readManifest(spark, dir, toVersion).files,
      schemaJson = Some(tableSchemaJson(spark, dir, toVersion)),
      carry = false, keepMapping = true)

  /** Data files younger than this survive [[vacuum]] even when no kept
    * manifest references them (7 days — the same default Delta uses
    * for `deletedFileRetentionDuration`, and for the same two races):
    *  - an IN-FLIGHT commit's staged files live in `data/` unreferenced
    *    by design until its manifest publishes; age is the only signal
    *    that separates them from a crashed writer's orphans. Any sane
    *    retention dwarfs a commit's stage-to-publish window.
    *  - a long-running READER that planned against an old snapshot
    *    still holds that version's file list; files it references stay
    *    readable for the horizon even after their manifests expire.
    * Tests (and operators that KNOW no writer/reader is live) pass
    * `minAgeMs = 0` to reclaim immediately. */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Drop time travel older than the newest `keepVersions` versions:
    * deletes the expired manifests plus data files that are BOTH
    * unreferenced by every kept manifest AND older than `minAgeMs`
    * (see [[DefaultVacuumRetentionMs]] for why age-gating is load-
    * bearing, not an optimization). Returns the deleted data-file
    * paths. Young unreferenced files are left for a later vacuum —
    * reclamation is eventually complete, never early. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int,
             minAgeMs: Long = DefaultVacuumRetentionMs): Seq[String] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val vs = versions(spark, dir)
    if (vs.isEmpty) return Nil
    val (below, kept0) = vs.splitAt(math.max(0, vs.size - keepVersions))
    // Named refs PIN their targets through retention: a tag is a
    // promise that `VERSION AS OF '<name>'` — and every shallow clone
    // that recorded one — keeps reading, so tagged versions below the
    // count horizon survive: manifest, checkpoint, and referenced data
    // files alike. Dropping the tag is the only way a pin expires.
    // Fast-forward intent markers PIN their planned main-relative
    // paths: a publish in flight — or crashed between its renames and
    // its commit — has moved branch-exclusive files into main's
    // `data/` with their ORIGINAL mtimes (rename preserves mtime), so
    // the age gate alone cannot protect them and no kept manifest
    // references them yet. Reclaiming one would leave the later
    // rollback's rename-back restoring nothing — a corrupted branch
    // under the protocol's "provably completes or rolls back" claim.
    // An unreadable marker pins nothing: corrupt means the writer died
    // inside the marker write, before any rename ran.
    def ffIntentPaths(): Set[String] = {
      val bd = branchesDir(dir)
      val bf = fs(spark, bd)
      if (!bf.exists(bd)) return Set.empty
      bf.listStatus(bd).toSeq.filter(_.isDirectory).flatMap { st =>
        val marker = new Path(st.getPath, FfIntentName)
        try {
          if (!bf.exists(marker)) Nil
          else {
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(readBytes(bf, marker))
            if (node == null || node.get("paths") == null) Nil
            else {
              import scala.jdk.CollectionConverters._
              node.get("paths").elements().asScala.map(_.asText()).toSeq
            }
          }
        } catch { case _: Exception => Nil }
      }.toSet
    }
    def planSweep(tagged: Set[Long]) = {
      val pinned = below.filter(tagged)
      val kept = pinned ++ kept0
      // DV files and equality-delete sidecars are referenced data like
      // any file; a DV file lives while any kept entry points into it.
      val referenced = kept.flatMap(readManifest(spark, dir, _).files
        .flatMap(refsOf)).toSet
      (pinned, below.filterNot(tagged), referenced ++ ffIntentPaths())
    }
    val tagged0 = listTags(spark, dir).map(_.version).toSet
    var (pinned, expired, referenced) = planSweep(tagged0)
    val dd = dataDir(dir)
    val f = fs(spark, dd)
    val horizon = System.currentTimeMillis() - minAgeMs
    // the sweep runs even with nothing expired: crashed writers' aged
    // orphans get reclaimed on a table whose versions never turn over
    def deadUnder(refs: Set[String]) = f.listStatus(dd).toSeq
      .filter(_.getModificationTime <= horizon)
      .map(_.getPath.getName)
      .filterNot(n => refs.contains(s"data/$n"))
    var dead = deadUnder(referenced)
    // TOCTOU narrowing vs createTag/cloneTable: a tag published between
    // the listTags snapshot above and the deletes below would pin a
    // version this sweep is about to reclaim. Re-list immediately
    // before deleting and re-plan if the tag set moved — createTag's
    // post-publish re-verification covers the residual window.
    val tagged1 = listTags(spark, dir).map(_.version).toSet
    if (tagged1 != tagged0) {
      val replanned = planSweep(tagged1)
      pinned = replanned._1; expired = replanned._2; referenced = replanned._3
      dead = deadUnder(referenced)
    }
    dead.foreach(n => f.delete(new Path(dd, n), false))
    // the oldest kept version and every pinned tag target below it
    // anchor the folds that would walk into the expired log
    SnapshotLog.expire(spark, dir, expired, (pinned :+ kept0.head).distinct, horizon)
    // crashed stage/DV-file temp dirs (and fast-forward intent
    // temps — the published marker is _ff_intent.json, never swept;
    // only orphaned `.tmp-ff-*` from a crash mid-marker-write) live
    // under the table root
    f.listStatus(new Path(dir)).toSeq
      .filter(_.getModificationTime <= horizon)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(".stage-") || n.startsWith(".dv-") ||
        n.startsWith(".tmp-ff-"))
      .foreach(n => f.delete(new Path(dir, n), true))
    dead.map(n => s"data/$n")
  }

  // --- named refs (tags) & zero-copy clones ---

  private def refsDir(dir: String) = new Path(dir, "_refs")
  private val RefNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r

  /** A named immutable ref: `name` → pinned `version`, created at
    * wall-clock `ts` (epoch millis). */
  final case class TagRef(name: String, version: Long, ts: Long)

  /** Create tag `name` → `version` (default: current). A tag makes a
    * version addressable by name — `VERSION AS OF 'name'`,
    * `.option("versionAsOf", "name")` — and PINS it through [[vacuum]]
    * (the retention contract shallow clones rely on). Publish is
    * atomic (temp + rename-fails-if-present) and create-only:
    * re-pointing a ref is an explicit drop + create, never a silent
    * overwrite. Tags live beside (not inside) the versioned log, like
    * the layout props: they address history, they are not part of it.
    * Returns the pinned version. */
  def createTag(spark: SparkSession, dir: String, name: String,
                version: Option[Long] = None): Long = {
    require(RefNameRe.findFirstIn(name).isDefined,
      s"invalid tag name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*, ≤64 chars)")
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"cannot tag empty table $dir"))
    require(versions(spark, dir).contains(v),
      s"cannot tag version $v of $dir: no such retained version")
    val rd = refsDir(dir)
    val f = fs(spark, rd)
    f.mkdirs(rd)
    val target = new Path(rd, s"$name.json")
    if (f.exists(target)) throw new IllegalStateException(
      s"tag '$name' already exists on $dir (drop it first to re-point)")
    val tmp = new Path(rd, s".tmp-${java.util.UUID.randomUUID}.json")
    val out = f.create(tmp, true)
    try out.write(
      s"""{"version":$v,"ts":${System.currentTimeMillis()}}""".getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"tag '$name' already exists on $dir (lost the publish race)")
    }
    // TOCTOU guard vs a concurrent vacuum: the up-front retained-version
    // check and this publish are not atomic, so a sweep that snapshotted
    // the tag list before the publish may already be deleting version
    // `v`. Re-verify the version is still resolvable AFTER the pin is
    // visible — fail loudly (and un-publish) rather than leave a tag
    // that dangles. vacuum narrows its side of the window by re-listing
    // tags immediately before its delete loop.
    // ...and verify a SAMPLE of the manifest's data files still exists,
    // not just the manifest: vacuum re-lists tags before its delete
    // loop, but a tag published after that re-list can land while the
    // version's data files are mid-deletion — the manifest read alone
    // would pass and leave a tag whose data is gone. Sampling head,
    // tail, and middle entries catches any in-order or reverse-order
    // sweep (best-effort on a transactionless FS; the window shrinks,
    // it cannot close).
    val stillThere =
      try {
        versions(spark, dir).contains(v) && {
          val m = readManifest(spark, dir, v)
          val n = m.files.size
          val sample =
            if (n <= 6) m.files
            else Seq(0, 1, n / 2, n / 2 + 1, n - 2, n - 1).distinct.map(m.files)
          val f = fs(spark, new Path(dir))
          sample.forall(fe =>
            f.exists(new Path(resolvePath(dir, fe.path))))
        }
      }
      catch { case _: Exception => false }
    if (!stillThere) {
      dropTag(spark, dir, name)
      throw new IllegalStateException(
        s"tag '$name' lost a race with vacuum: version $v of $dir was " +
          "reclaimed mid-publish; re-create the version or tag an earlier sweep survivor")
    }
    v
  }

  /** Drop tag `name`; false when it did not exist. The pinned version
    * re-enters normal [[vacuum]] retention on the next sweep. */
  def dropTag(spark: SparkSession, dir: String, name: String): Boolean = {
    val rd = refsDir(dir)
    fs(spark, rd).delete(new Path(rd, s"$name.json"), false)
  }

  /** All tags on `dir`, name-sorted. */
  def listTags(spark: SparkSession, dir: String): Seq[TagRef] = {
    val rd = refsDir(dir)
    val f = fs(spark, rd)
    if (!f.exists(rd)) return Nil
    f.listStatus(rd).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith(".")).sorted
      .map { n =>
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(readBytes(f, new Path(rd, n)))
        TagRef(n.stripSuffix(".json"),
          node.get("version").asLong(), node.get("ts").asLong())
      }
  }

  /** The version tag `name` pins, if the tag exists. */
  def tagVersion(spark: SparkSession, dir: String, name: String): Option[Long] = {
    val p = new Path(refsDir(dir), s"$name.json")
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else Some(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readBytes(f, p)).get("version").asLong())
  }

  /** A user-supplied version token: a commit number, or a tag name. */
  def resolveVersionToken(spark: SparkSession, dir: String, token: String): Long =
    token.trim.toLongOption.getOrElse(
      tagVersion(spark, dir, token.trim).getOrElse(
        throw new IllegalArgumentException(
          s"'$token' is neither a commit number nor a tag of $dir")))

  /** Newest version published at or before epoch-ms `tsMs` (the
    * [[scanAsOf]] resolution, shared with the `timestampAsOf` read
    * option and SQL `TIMESTAMP AS OF`). Publish stamps are monotone
    * per table because versions publish serially; pre-`ts` manifests
    * read as 0 — older than any real instant, the conservative
    * order. */
  def versionAt(spark: SparkSession, dir: String, tsMs: Long): Long =
    versions(spark, dir)
      .filter(readManifest(spark, dir, _).ts <= tsMs)
      .lastOption.getOrElse(throw new IllegalStateException(
        s"no version of $dir existed at epoch-ms $tsMs"))

  /** EARLIEST version published at or after epoch-ms `tsMs` — the
    * `startingTimestamp` resolution for streams and change feeds
    * (Delta's contract: a wall-clock cutover must never replay a
    * commit that happened BEFORE the instant; [[versionAt]]'s
    * at-or-before would double-apply the preceding commit in a CDC
    * consumer). An instant beyond the newest commit resolves to
    * `latest + 1`: replay nothing, deliver only commits after the
    * instant — a stream started "from now" idles until the next
    * write, a bounded feed read returns empty. */
  def versionAtOrAfter(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val vs = versions(spark, dir)
    vs.find(readManifest(spark, dir, _).ts >= tsMs)
      .getOrElse(vs.lastOption.map(_ + 1).getOrElse(
        throw new IllegalStateException(s"no committed version under $dir")))
  }

  /** An instant for `timestampAsOf`: epoch millis, `yyyy-MM-dd`, or
    * `yyyy-MM-dd HH:mm:ss[.fff]` (session-JVM local time, matching
    * `java.sql.Timestamp.valueOf`). */
  private[graft] def parseInstantMs(s: String): Long =
    s.trim.toLongOption.getOrElse {
      val t = s.trim
      try java.sql.Timestamp.valueOf(
        if (t.length == 10) s"$t 00:00:00" else t).getTime
      catch {
        case _: IllegalArgumentException => throw new IllegalArgumentException(
          s"timestampAsOf wants epoch-millis or 'yyyy-MM-dd[ HH:mm:ss]', got '$s'")
      }
    }

  /** Register `dstDir` as a CLONE of `srcDir` at `version` (default:
    * current). Shallow (the default): a brand-new table whose v1
    * manifest REFERENCES the source's data files by absolute path —
    * O(metadata), zero bytes copied, ready in milliseconds at any
    * table size (Delta's shallow CLONE; Iceberg snapshot-ref
    * semantics). The clone is a full table from the first instant:
    * reads, time travel, DML, compaction, and SPJ joins (the layout
    * props and per-file bucket ids travel with it) all work; every
    * WRITE lands under the clone's own `data/` — natural copy-on-write,
    * shared bytes localize only when a rewrite touches them — and the
    * clone's [[vacuum]] lists only its own `data/`, so it can never
    * delete the source's files.
    *
    * What makes the shallow form SAFE (the failure mode Delta
    * documents and punts on — "vacuum on the source may break
    * clones"): the clone records tag `clone-<dstName>` on the source
    * at the cloned version, and [[vacuum]] retains tagged versions and
    * their files. The shared bytes outlive the source's retention
    * until someone drops the tag — breaking a clone requires an
    * explicit act, never a background sweep. `deep = true` copies the
    * bytes instead (O(data), no tag, fully independent). */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
                 version: Option[Long] = None, deep: Boolean = false): Long = {
    require(latestVersion(spark, dstDir).isEmpty,
      s"clone target $dstDir already holds a table")
    val v = version.orElse(latestVersion(spark, srcDir)).getOrElse(
      throw new IllegalStateException(s"cannot clone empty table $srcDir"))
    val m = readManifest(spark, srcDir, v)
    val schemaJson = tableSchemaJson(spark, srcDir, v)
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcFs = fs(spark, new Path(srcDir))
    // A shallow-clone SOURCE may itself carry absolute entries (clone
    // of a clone): those point at the ORIGINAL table's bytes and must
    // stay as-is — prefixing them under srcRoot would build dangling
    // '$srcRoot/<absolute>' paths, and a deep copy resolved via
    // new Path(srcDir, abs) would open src == dst and TRUNCATE the
    // original's data file. [[resolvePath]] semantics throughout.
    def isAbs(p: String) = p.startsWith("/") || p.contains(":/")
    val entries =
      if (!deep) {
        val srcRoot = srcFs.makeQualified(new Path(srcDir)).toString
        def absolutize(p: String) = if (isAbs(p)) p else s"$srcRoot/$p"
        m.files.map(fe => fe.copy(
          path = absolutize(fe.path),
          dv = fe.dv.map(d => d.copy(path = absolutize(d.path))),
          eqDv = fe.eqDv.map(absolutize)))
      } else {
        val dstFs = fs(spark, new Path(dstDir))
        dstFs.mkdirs(dataDir(dstDir))
        // each referenced file lands under the clone's own root: local
        // (relative) entries keep their path; foreign (absolute)
        // entries land as data/<basename>, de-collided by prefix when
        // two chained roots happen to share a basename
        val taken = scala.collection.mutable.Set[String]()
        val relOf = m.files.flatMap(fe =>
          refsOf(fe))
          .distinct.map { p =>
            val want = if (isAbs(p)) s"data/${new Path(p).getName}" else p
            var (cand, i) = (want, 0)
            while (!taken.add(cand)) { i += 1; cand = s"data/dc$i-${new Path(want).getName}" }
            p -> cand
          }.toMap
        relOf.foreach { case (p, rel) =>
          val srcPath = if (isAbs(p)) new Path(p) else new Path(srcDir, p)
          org.apache.hadoop.fs.FileUtil.copy(
            fs(spark, srcPath), srcPath,
            dstFs, new Path(dstDir, rel), false, hconf)
        }
        m.files.map(fe => fe.copy(
          path = relOf(fe.path),
          dv = fe.dv.map(d => d.copy(path = relOf(d.path))),
          eqDv = fe.eqDv.map(relOf)))
      }
    if (!deep) {
      // Pin the shared files through every upstream root's retention.
      // The tag name carries a digest of the QUALIFIED clone path: two
      // clones whose targets merely share a basename ('dev' under two
      // namespaces) must never silently re-point each other's pin —
      // that would hand the first clone's files to the source's next
      // vacuum. Re-cloning into the SAME qualified target re-points.
      val tag = clonePinTag(spark, dstDir)
      def pin(root: String, atV: Long): Unit =
        if (!tagVersion(spark, root, tag).contains(atV)) {
          if (tagVersion(spark, root, tag).isDefined) dropTag(spark, root, tag)
          createTag(spark, root, tag, Some(atV)) // re-verifies vs vacuum races
        }
      pin(srcDir, v)
      // files the source itself borrowed (clone-of-clone): pin each
      // foreign root too, at its newest version that still covers the
      // borrowed set, so dropping the INTERMEDIATE clone's pin can
      // never dangle this one. Versions scan is metadata-only.
      val foreign = m.files.flatMap(fe =>
        refsOf(fe))
        .filter(isAbs)
      foreign.groupBy { p =>
        val i = p.lastIndexOf("/data/")
        require(i > 0, s"unrecognized absolute clone entry layout: $p")
        p.substring(0, i)
      }.foreach { case (root, refs) =>
        val rootQual = fs(spark, new Path(root))
          .makeQualified(new Path(root)).toString
        val need = refs.toSet
        val cover = versions(spark, root).reverse.find { rv =>
          val have = readManifest(spark, root, rv).files
            .flatMap(fe => refsOf(fe))
            .map(p => if (isAbs(p)) p else s"$rootQual/$p").toSet
          need.subsetOf(have)
        }.getOrElse(throw new IllegalStateException(
          s"cannot shallow-clone $srcDir: no retained version of upstream " +
            s"$root still covers ${need.size} borrowed file(s) — the " +
            "upstream pin was dropped; deep-clone instead"))
        pin(root, cover)
      }
    }
    // layout/constraint defaults travel with the clone — future writes
    // inherit them exactly as they would on the source
    val props = graft.sources.connector.GraftTableProps.read(hconf, srcDir)
    if (props.nonEmpty)
      graft.sources.connector.GraftTableProps.write(hconf, dstDir, props)
    // keepMapping: the cloned entries are the SOURCE's physical bytes,
    // so a rename-mapped source schema must survive the re-record
    commit(spark, dstDir, if (deep) "clone-deep" else "clone", entries,
      carry = false, schemaJson = Some(schemaJson), keepMapping = true)
  }

  /** The vacuum-pin tag a shallow clone (or branch) of `dstDir`
    * records on its upstream roots: the name digests the QUALIFIED
    * target path so same-basename targets never collide. */
  private[graft] def clonePinTag(spark: SparkSession, dstDir: String): String = {
    val dstQual = fs(spark, new Path(dstDir))
      .makeQualified(new Path(dstDir)).toString
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dstQual.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    s"clone-${new Path(dstDir).getName}-$digest"
  }

  // --- writable branches & write-audit-publish ---

  private def branchesDir(dir: String) = new Path(dir, "_branches")

  /** Where branch `name` of the table at `dir` lives. A branch is a
    * full table (own log, own data/) nested INSIDE the main table's
    * root — never listed as a table by the catalog (only namespace-
    * level directories with a `_log` are), dropped with the table. */
  private[graft] def branchDir(dir: String, name: String): String =
    new Path(branchesDir(dir), name).toString

  /** Branch props key: the MAIN version this branch forked from (and,
    * after each fast-forward, is level with). Fast-forward requires
    * main's head to still BE this version — the linear-history
    * contract: a branch publishes onto the exact state it audited. */
  private val BranchBaseKey = "graft.branchBase"

  /** Create branch `name` from the current version of `dir` — the
    * WRITE side of write-audit-publish. O(metadata): the branch is a
    * shallow clone (shared files pinned on main through vacuum by the
    * clone tag, layout/constraint props inherited, so the branch's
    * writes stage through the same bucket layout and CHECK gates as
    * main's). Write and validate on the branch with every normal
    * surface — INSERT/DML/streaming — then [[fastForward]] publishes
    * the audited state to main as ONE commit. Returns the base
    * version. */
  def createBranch(spark: SparkSession, dir: String, name: String): Long = {
    require(RefNameRe.findFirstIn(name).isDefined,
      s"invalid branch name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*, ≤64 chars)")
    val bdir = branchDir(dir, name)
    require(latestVersion(spark, bdir).isEmpty,
      s"branch '$name' already exists on $dir")
    val base = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot branch empty table $dir"))
    cloneTable(spark, dir, bdir)
    val hconf = spark.sparkContext.hadoopConfiguration
    graft.sources.connector.GraftTableProps.write(hconf, bdir,
      graft.sources.connector.GraftTableProps.read(hconf, bdir) +
        (BranchBaseKey -> base.toString))
    base
  }

  /** All branches of `dir`, name-sorted, with (base, head) versions.
    * Self-healing: a branch whose fast-forward was interrupted
    * mid-protocol ([[healFastForward]]'s intent marker present) is
    * completed or rolled back BEFORE being listed, so the returned
    * (base, head) always describe a readable branch. */
  def listBranches(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val bd = branchesDir(dir)
    val f = fs(spark, bd)
    if (!f.exists(bd)) return Nil
    f.listStatus(bd).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
      .flatMap { n =>
        // best-effort: a read-only caller (no write perms for the
        // heal's commit/renames) still gets the listing — the heal
        // retries on the next fastForward
        try healFastForward(spark, dir, n)
        catch { case _: Exception => () }
        val bdir = branchDir(dir, n)
        latestVersion(spark, bdir).map { head =>
          val base = graft.sources.connector.GraftTableProps
            .read(spark.sparkContext.hadoopConfiguration, bdir)
            .get(BranchBaseKey).map(_.toLong).getOrElse(-1L)
          (n, base, head)
        }
      }
  }

  /** Drop branch `name`: delete its directory and release its vacuum
    * pin on main. False when it did not exist. */
  def dropBranch(spark: SparkSession, dir: String, name: String): Boolean = {
    val bdir = branchDir(dir, name)
    if (latestVersion(spark, bdir).isEmpty) return false
    dropTag(spark, dir, clonePinTag(spark, bdir))
    fs(spark, new Path(bdir)).delete(new Path(bdir), true)
    true
  }

  /** Fast-forward intent marker: written into the branch root BEFORE
    * the first rename, deleted after the branch re-point completes.
    * Records everything recovery needs: the expected base, the
    * planned (src → dst) moves, and the post-publish main-relative
    * path set (which disambiguates WHOSE publish landed when two
    * branches share a base). [[healFastForward]] reads it to either
    * complete an interrupted publish or roll it back. */
  private val FfIntentName = "_ff_intent.json"

  /** Test-only crash injection for the fast-forward protocol: set to
    * one of "before-renames" / "after-renames" / "after-publish" /
    * "mid-repoint" and the next fastForward dies there like a killed
    * process would — no rollback runs ([[SimulatedCrash]] bypasses
    * the catch), leaving exactly the on-disk state a real crash
    * leaves. */
  private[graft] var ffCrashPoint: Option[String] = None
  private[graft] final class SimulatedCrash(at: String)
    extends Error(s"simulated crash at $at")
  private def maybeCrash(at: String): Unit =
    if (ffCrashPoint.contains(at)) {
      ffCrashPoint = None
      throw new SimulatedCrash(at)
    }

  /** Re-point branch `bdir` at main's published version `newV`: its
    * head absolutizes to main's files, its recorded base and vacuum
    * pin follow. Idempotent — safe to run again from recovery. */
  private def repointBranch(spark: SparkSession, dir: String, bdir: String,
                            newV: Long, schemaJson: String): Unit = {
    val f = fs(spark, new Path(dir))
    val mainRoot = f.makeQualified(new Path(dir)).toString
    def isAbs(p: String) = p.startsWith("/") || p.contains(":/")
    val mm = readManifest(spark, dir, newV)
    val bEntries = mm.files.map(fe => fe.copy(
      path = if (isAbs(fe.path)) fe.path else s"$mainRoot/${fe.path}",
      dv = fe.dv.map(d =>
        d.copy(path = if (isAbs(d.path)) d.path else s"$mainRoot/${d.path}")),
      eqDv = fe.eqDv.map(p => if (isAbs(p)) p else s"$mainRoot/$p")))
    commit(spark, bdir, "fast_forward", bEntries, carry = false,
      schemaJson = Some(schemaJson), keepMapping = true)
    maybeCrash("mid-repoint")
    val hconf = spark.sparkContext.hadoopConfiguration
    graft.sources.connector.GraftTableProps.write(hconf, bdir,
      graft.sources.connector.GraftTableProps.read(hconf, bdir) +
        (BranchBaseKey -> newV.toString))
    val pin = clonePinTag(spark, bdir)
    if (tagVersion(spark, dir, pin).isDefined) dropTag(spark, dir, pin)
    createTag(spark, dir, pin, Some(newV))
  }

  /** Recover an interrupted [[fastForward]] of branch `name`, if its
    * intent marker is present. Decides from main's log whether the
    * publish LANDED (version base+1 exists, is a fast_forward, and
    * its path set is exactly the one this intent planned — the path
    * set distinguishes a sibling branch's publish onto the same
    * base): if so, completes the branch re-point; if not, renames the
    * moved files back (each rename guarded by exists checks, so a
    * partially-rolled-back state heals too). Returns a description of
    * the action taken, None when there was nothing to heal. Runs
    * automatically at the top of [[fastForward]] and per-branch in
    * [[listBranches]]. A corrupt marker (crash mid-write — before any
    * rename could have happened) is deleted. */
  def healFastForward(spark: SparkSession, dir: String, name: String): Option[String] = {
    val bdir = branchDir(dir, name)
    val f = fs(spark, new Path(bdir))
    val marker = new Path(bdir, FfIntentName)
    if (!f.exists(marker)) return None
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readBytes(f, marker))
      catch { case _: Exception => null }
    if (node == null || node.get("base") == null) {
      // unreadable ⇒ the writer died inside the marker write, which
      // precedes the first rename — nothing moved, nothing published
      f.delete(marker, false)
      return Some(s"dropped a corrupt fast-forward intent on branch '$name' " +
        "(crash during intent write; no files had moved)")
    }
    val base = node.get("base").asLong
    import scala.jdk.CollectionConverters._
    val expectPaths = node.get("paths").elements().asScala
      .map(_.asText()).toSet
    val moves: Seq[(String, String)] = node.get("moves").elements().asScala
      .map(m => (m.get(0).asText(), m.get(1).asText())).toSeq
    val landed = versions(spark, dir).contains(base + 1) && {
      val m = readManifest(spark, dir, base + 1)
      m.op == "fast_forward" &&
        m.files.flatMap(fe =>
          refsOf(fe)).toSet == expectPaths
    }
    if (landed) {
      repointBranch(spark, dir, bdir, base + 1,
        tableSchemaJson(spark, dir, base + 1))
      f.delete(marker, false)
      Some(s"completed the interrupted fast-forward of branch '$name': " +
        s"main had published v${base + 1}; the branch is re-pointed at it")
    } else {
      moves.foreach { case (src, dst) =>
        val s = new Path(bdir, src)
        val d = new Path(dir, dst)
        if (f.exists(d) && !f.exists(s)) f.rename(d, s)
      }
      f.delete(marker, false)
      Some(s"rolled back the interrupted fast-forward of branch '$name': " +
        "main never published; the branch's files are back in place")
    }
  }

  /** PUBLISH a branch: fast-forward main to the branch's current
    * state in ONE commit — the publish side of write-audit-publish.
    *
    * Requirements and guarantees:
    *  - main's head must still be the branch's recorded base (a
    *    concurrent main commit → loud [[CommitConflictException]],
    *    never a silent merge or clobber — re-branch and replay). The
    *    check is enforced INSIDE the commit's publish loop
    *    (`expectLatest`), so even a racing writer that lands between
    *    check and publish is caught.
    *  - O(changed files) metadata: branch-exclusive data files RENAME
    *    into main's `data/` (no bytes copied); files the branch still
    *    shares with main fold back to main-relative paths. A failed
    *    publish renames them back — the branch stays intact.
    *  - CRASH-SAFE: an intent marker in the branch root brackets the
    *    whole protocol (planned moves recorded before the first
    *    rename, marker deleted after the branch re-point). A process
    *    killed at ANY point leaves a state [[healFastForward]] —
    *    which runs automatically on the next fastForward or
    *    listBranches — provably completes or rolls back; the branch
    *    can never silently reference renamed-away files.
    *  - main's history stays linear: one `fast_forward` version, time
    *    travel to pre-publish versions unchanged.
    *  - the branch survives, re-pointed at the published state (its
    *    entries absolutize to main's files; its vacuum pin moves to
    *    the published version), level with main for further epochs.
    *
    * Returns main's new version. */
  def fastForward(spark: SparkSession, dir: String, name: String): Long = {
    // recover any interrupted prior attempt first — a completed heal
    // means the previous publish actually landed, which IS the
    // requested state transition
    healFastForward(spark, dir, name).foreach { action =>
      if (action.startsWith("completed"))
        // the heal re-pointed the branch at the published version and
        // recorded it as the new base — that IS main's fast_forward
        return graft.sources.connector.GraftTableProps
          .read(spark.sparkContext.hadoopConfiguration, branchDir(dir, name))
          .get(BranchBaseKey).map(_.toLong).getOrElse(
            throw new IllegalStateException(
              s"healed branch '$name' records no base"))
    }
    val bdir = branchDir(dir, name)
    val bv = latestVersion(spark, bdir).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' on $dir"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val bprops = graft.sources.connector.GraftTableProps.read(hconf, bdir)
    val base = bprops.get(BranchBaseKey).map(_.toLong).getOrElse(
      throw new IllegalStateException(
        s"'$name' under $dir records no branch base — not a branch?"))
    val mv = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    if (mv != base) throw new CommitConflictException(
      s"cannot fast-forward $dir to branch '$name': main advanced to " +
        s"v$mv past the branch base v$base — re-branch from the current " +
        "head and replay the work")
    val bm = readManifest(spark, bdir, bv)
    val schemaJson = tableSchemaJson(spark, bdir, bv)
    val f = fs(spark, new Path(dir))
    val mainRoot = f.makeQualified(new Path(dir)).toString
    val mainPrefix = s"$mainRoot/"
    def isAbs(p: String) = p.startsWith("/") || p.contains(":/")
    // PLAN the moves (no renames yet): branch-exclusive files
    // (relative to bdir) will rename into main's data/; shared files
    // fold back to main-relative; foreign absolute entries (main
    // itself a clone) stay absolute
    val moved = scala.collection.mutable.LinkedHashMap[String, String]()
    def toMain(p: String): String =
      if (p.startsWith(mainPrefix)) p.stripPrefix(mainPrefix)
      else if (isAbs(p)) p
      else moved.getOrElseUpdate(p, {
        var target = p
        var i = 0
        while (moved.valuesIterator.contains(target) ||
            f.exists(new Path(dir, target))) {
          i += 1
          target = s"data/ff$i-${new Path(p).getName}"
        }
        target
      })
    val entries = bm.files.map(fe => fe.copy(
      path = toMain(fe.path),
      dv = fe.dv.map(d => d.copy(path = toMain(d.path))),
      eqDv = fe.eqDv.map(toMain)))
    // intent marker BEFORE the first rename (temp + atomic rename, so
    // a marker that exists is complete; a corrupt one means no move
    // ever ran)
    val marker = new Path(bdir, FfIntentName)
    locally {
      val paths = entries.flatMap(fe =>
        refsOf(fe)).distinct
      val sb = new StringBuilder
      sb.append(s"""{"base":$base,"paths":[""")
      sb.append(paths.map(p => s""""${jsonEscape(p)}"""").mkString(","))
      sb.append("""],"moves":[""")
      sb.append(moved.map { case (s, d) =>
        s"""["${jsonEscape(s)}","${jsonEscape(d)}"]""" }.mkString(","))
      sb.append("]}")
      val tmp = new Path(bdir, s".tmp-ff-${java.util.UUID.randomUUID}.json")
      val out = f.create(tmp, true)
      try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
      require(f.rename(tmp, marker),
        s"could not publish fast-forward intent for branch '$name'" +
          " (another fast-forward in flight?)")
    }
    maybeCrash("before-renames")
    val newV =
      try {
        moved.foreach { case (src, target) =>
          require(f.rename(new Path(bdir, src), new Path(dir, target)),
            s"fast-forward could not move $bdir/$src into $dir")
        }
        maybeCrash("after-renames")
        commit(spark, dir, "fast_forward", entries, carry = false,
          schemaJson = Some(schemaJson), keepMapping = true,
          expectLatest = Some(base))
      } catch {
        case e: SimulatedCrash => throw e // a real crash runs no rollback
        case e: Throwable =>
          // publish did NOT land: un-move, so BOTH tables are exactly
          // as they were (renames are same-fs metadata ops, the
          // rollback cannot half-fail on bytes). After a successful
          // publish there is no rollback — main owns the files.
          moved.foreach { case (orig, target) =>
            f.rename(new Path(dir, target), new Path(bdir, orig))
          }
          f.delete(marker, false)
          throw e
      }
    maybeCrash("after-publish")
    // re-point the branch at the published state: its (moved) files
    // now live under main, so the branch's head absolutizes to them
    // and its vacuum pin follows the published version. Main is
    // already correct whatever happens below — and a crash below is
    // healed by the marker.
    repointBranch(spark, dir, bdir, newV, schemaJson)
    f.delete(marker, false)
    newV
  }

  /** OPTIMIZE: bin-pack files smaller than `smallRows` into files of
    * ~`targetRows`, leaving already-large files untouched — the
    * small-file problem is THE operational failure mode of streaming/
    * incremental ingestion at scale (a 100 TB table fed by per-batch
    * appends decays into millions of KB-size files whose open/footer
    * cost dwarfs the data read). A metadata-only no-op when fewer than
    * two small files exist. Optionally clusters the rewrite by a
    * z-order pair so the compacted files get tight (min,max) ranges on
    * BOTH columns — compaction and [[readRange]] skipping compound.
    * Content is bit-identical; only layout changes. */
  /** `where` (round-18, the `OPTIMIZE … WHERE` shape): scope the
    * bin-pack to files the predicate cannot be REFUTED for through
    * the manifest stats/blooms — at 100 TB only the hot ingest tail
    * decays, and whole-table compaction there is write amplification
    * over cold data nobody touched. Conservative the safe way: a
    * file the manifest cannot prove non-matching is included (still
    * content-neutral), a proven-cold file is never rewritten and its
    * manifest entry rides through untouched. */
  def compact(spark: SparkSession, dir: String, smallRows: Long, targetRows: Long,
              statsCols: Seq[String] = Nil,
              zorderBy: Option[(String, String, Int)] = None,
              where: Option[org.apache.spark.sql.Column] = None): Long =
    retryOnConflict(s"compact $dir") {
      compactOnce(spark, dir, smallRows, targetRows, statsCols, zorderBy,
        where)
    }

  private def compactOnce(spark: SparkSession, dir: String, smallRows: Long,
                          targetRows: Long, statsCols: Seq[String],
                          zorderBy: Option[(String, String, Int)],
                          where: Option[org.apache.spark.sql.Column] = None): Long = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot compact empty table $dir"))
    val m = readManifest(spark, dir, v)
    val small0 = m.files.filter(_.liveRows < smallRows)
    val small = where match {
      case None => small0
      case Some(p) =>
        val expr = org.apache.spark.sql.graftbridge.Bridge
          .catalystExpression(p)
        val k = tableSchema(spark, dir, v)
        small0.filterNot(refutesAllRows(expr, _, k))
    }
    if (small.size < 2) return v // nothing to gain
    // bin-pack WITHIN each bucket group so a bucketed table's layout
    // (and its storage-partitioned-join capability) survives
    // compaction — rewritten files inherit the group's bucket id, and
    // unbucketed files (bucket None) pack together exactly as before.
    // A group needs >= 2 files to gain anything; singletons stay.
    val groups = small.groupBy(fe => (fe.bucket, fe.bucketN)).toSeq
      .filter(_._2.size >= 2)
    if (groups.isEmpty) return v
    val known = tableSchema(spark, dir, v)
    val sortKey = bucketLayout(spark, dir).map(_._1)
    val fresh = groups.flatMap { case ((bucket, bucketN), files) =>
      // dv-masked: compacting a dv-carrying file PURGES its deletion
      // vector (the rewrite materializes only live rows)
      val df = readFiles(spark, dir, files, v, knownSchema = known)
      val nOut = math.max(1,
        math.ceil(files.map(_.liveRows).sum.toDouble / targetRows).toInt)
      // bucketed groups compact KEY-SORTED (zorder would scatter the
      // key): a bucket down to one sorted file is what lets the scan
      // report output ordering and the SMJ drop its sorts
      val key = sortKey.filter(k =>
        bucket.isDefined && zorderBy.isEmpty && df.columns.contains(k))
      val packed = (zorderBy, key) match {
        case (Some((c1, c2, bits)), _) =>
          df.repartitionByRange(nOut,
            graft.operators.ZOrder.zkey(col(c1), col(c2), bits))
        case (None, Some(k)) =>
          df.repartition(nOut).sortWithinPartitions(col(s"`$k`"))
        case (None, None) => df.repartition(nOut)
      }
      stageFiles(spark, packed, dir, statsCols).map(_.copy(
        bucket = bucket, bucketN = bucketN,
        sortedBy = key.map(physicalFor(known, _))))
    }
    commit(spark, dir, "compact", fresh,
      removed = readSetOf(groups.flatMap(_._2)), carry = true,
      owned = fresh.map(_.path))
  }

  /** CDC: the row-level change feed between two versions, computed
    * from the manifest diff so ONLY files touched between the
    * versions are ever read — carried files are identical in both
    * and cancel by construction. Returns the table columns plus
    * `change_type`: 'upsert' rows are the post-images present in
    * `toV` but not `fromV`; 'delete' rows are the pre-images present
    * in `fromV` but not `toV` (an updated row contributes one of
    * each). Multiset semantics (EXCEPT ALL), so duplicate rows diff
    * correctly.
    *
    * Cost note: an entry whose ONLY change is ACCRUED equality-delete
    * refs (same path/dv/stats, eqDv grew) takes a fast path — the
    * file is read ONCE (masked at the FROM state) and semi-joined
    * against just the NEW keys (minus keys already pending), emitting
    * exactly the newly-deleted pre-images. That is O(one masked read
    * + key join) instead of the general two-sided whole-row EXCEPT
    * ALL — the same replay the SQL `.changes` surface does with its
    * eqKeep reads. Every other difference (rewrites, dv changes,
    * multi-key-column eq deltas) goes through the general diff. */
  def changes(spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame = {
    val from = readManifest(spark, dir, fromV)
    val to = readManifest(spark, dir, toV)
    // identity includes BOTH in-place masking refs: a dv-only or
    // eq-delete-only commit keeps the file's path but CHANGES its
    // logical content, so the entry must diff as removed(old refs) +
    // added(new refs). (Round-16 fix: eqDv was missing from the key,
    // so the programmatic feed silently skipped equality deletes that
    // the SQL `.changes` surface emitted — caught by the q7N
    // index-maintenance oracle.)
    def key(fe: FileEntry) = (fe.path, fe.dv, fe.eqDv.sorted)
    import graft.sources.connector.SnapshotPartitions.EqSidecars
    def keySigsOf(refs: Seq[String]): Set[Seq[String]] =
      refs.map(p => EqSidecars.load(resolvePath(dir, p)).colNames).toSet
    // eq-only-grown pairs: identical entries except ACCRUED eq refs.
    // Single-key-COLUMN deltas ride the fast path; a multi-signature
    // delta (distinct key columns across epochs in one range) or a
    // COMPOSITE-key delta would need per-row tuple semantics across
    // its semi-joins, so both keep the general diff (whose reads mask
    // composite refs as tuples in the connector's readers).
    val fromByPathDv = from.files.map(fe => (fe.path, fe.dv) -> fe).toMap
    val (eqPairs, _) = to.files.flatMap { cur =>
      fromByPathDv.get((cur.path, cur.dv))
        .filter(old => old.eqDv != cur.eqDv &&
          old.eqDv.toSet.subsetOf(cur.eqDv.toSet) &&
          old.copy(eqDv = Nil) == cur.copy(eqDv = Nil))
        .map(old => (old, cur))
    }.partition { case (old, cur) =>
      val sigs = keySigsOf(cur.eqDv.filterNot(old.eqDv.contains))
      sigs.size == 1 && sigs.head.lengthCompare(1) == 0
    }
    val fastKeys = eqPairs.flatMap { case (o, c) => Seq(key(o), key(c)) }.toSet
    val fromKeys = from.files.map(key).toSet
    val toKeys = to.files.map(key).toSet
    val removed = from.files.filterNot(fe =>
      toKeys.contains(key(fe)) || fastKeys.contains(key(fe)))
    val added = to.files.filterNot(fe =>
      fromKeys.contains(key(fe)) || fastKeys.contains(key(fe)))
    if (removed.isEmpty && added.isEmpty && eqPairs.isEmpty)
      return scan(spark, dir, Some(toV)).filter(lit(false))
        .withColumn("change_type", lit(""))
    // schema evolution between the versions: align a frame to the
    // other's column union (missing columns become typed nulls) so
    // the multiset diff compares whole rows under ONE schema.
    def align(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.foldLeft(df) { (acc, f) =>
        if (acc.columns.contains(f.name)) acc
        else acc.withColumn(f.name, lit(null).cast(f.dataType))
      }
    val preSchema = tableSchema(spark, dir, fromV)
    val general: Option[DataFrame] =
      if (removed.isEmpty && added.isEmpty) None
      else {
        // an empty side is its version's schema with no rows
        def read(files: Seq[FileEntry], atV: Long): DataFrame = {
          val known = tableSchema(spark, dir, atV)
          if (files.nonEmpty) readFiles(spark, dir, files, atV, knownSchema = known)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], known)
        }
        val pre0 = read(removed, fromV)
        val post0 = read(added, toV)
        val post = align(post0, pre0)
        val pre = align(pre0, post0).select(post.columns.map(col): _*)
        val cols = post.columns.toSeq
        // EXCEPT ALL refuses map columns: diff each top-level map as its
        // key-sorted entry array, then rebuild the map
        val maps = post.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => f.name
        }.toSet
        def entries(df: DataFrame) = df.select(cols.map(c =>
          if (maps(c)) array_sort(map_entries(col(c))).as(c) else col(c)): _*)
        val (postE, preE) = (entries(post), entries(pre))
        Some(postE.exceptAll(preE).withColumn("change_type", lit("upsert"))
          .unionAll(preE.exceptAll(postE).withColumn("change_type", lit("delete")))
          .select(cols.map(c => if (maps(c)) map_from_entries(col(c)).as(c) else col(c)) :+
            col("change_type"): _*))
      }
    // fast-path delta legs: one masked read per distinct (newRefs,
    // oldRefs) GROUP (one delete epoch attaches the same ref to many
    // files → one read), semi-joined on the fresh keys only
    val eqDeltas: Option[DataFrame] = eqPairs
      .groupBy { case (old, cur) =>
        (cur.eqDv.filterNot(old.eqDv.contains), old.eqDv) }
      .toSeq.sortBy(_._1._1.mkString(","))
      .flatMap { case ((newRefs, oldRefs), pairs) =>
        val c = keySigsOf(newRefs).head.head // the one physical key column
        val newKeys = spark.read
          .parquet(newRefs.map(resolvePath(dir, _)): _*)
          .select(col(s"`$c`").as("__graft_eqkey")).na.drop().distinct()
        val oldSameCol = oldRefs.filter(p =>
          EqSidecars.load(resolvePath(dir, p)).colNames == Seq(c))
        // keys already pending at fromV were deleted then, not now
        val fresh =
          if (oldSameCol.isEmpty) newKeys
          else newKeys.join(
            spark.read.parquet(oldSameCol.map(resolvePath(dir, _)): _*)
              .select(col(s"`$c`").as("__graft_eqkey")).distinct(),
            Seq("__graft_eqkey"), "left_anti")
        val logical = preSchema.fields.find(f => physicalName(f) == c)
          .map(_.name).getOrElse(c)
        val pre = readFiles(spark, dir, pairs.map(_._1), fromV,
          knownSchema = preSchema)
        Seq(pre.join(broadcast(fresh),
          pre(s"`$logical`") === fresh("__graft_eqkey"), "left_semi"))
      }
      .reduceOption(_ unionByName _)
      .map(_.withColumn("change_type", lit("delete")))
    (general, eqDeltas) match {
      case (Some(g), Some(e)) =>
        // the fromV schema is one side of the general union, so e's
        // columns are always a subset of g's
        g.unionAll(align(e, g).select(g.columns.map(col): _*))
      case (Some(g), None) => g
      case (None, Some(e)) => e
      case (None, None) => // unreachable (guarded above)
        scan(spark, dir, Some(toV)).filter(lit(false))
          .withColumn("change_type", lit(""))
    }
  }

  /** `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]` backend: record
    * table-level stats as TBLPROPERTIES (`stats.rowCount`,
    * `stats.sizeBytes`, `stats.analyzedVersion`) so `DESCRIBE
    * EXTENDED` / `SHOW TBLPROPERTIES` show a SQL user what the CBO
    * sees. Metadata-only: rows come from the manifest (NOSCAN keeps
    * the manifest sum even when pending equality deletes make it an
    * upper bound; the default pays one exact count — itself answered
    * from metadata when nothing is pending), bytes from the live
    * files' lengths. Returns (rowCount, sizeBytes). */
  def analyzeTable(spark: SparkSession, dir: String,
                   noscan: Boolean): (Long, Long) = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot analyze empty table $dir"))
    val m = readManifest(spark, dir, v)
    val eqPending = m.files.exists(_.eqDv.nonEmpty)
    val rows =
      if (noscan || !eqPending) m.totalRows
      else scan(spark, dir, Some(v)).count()
    val f = fs(spark, new Path(dir))
    val bytes = m.files.map(fe =>
      f.getFileStatus(new Path(resolvePath(dir, fe.path))).getLen).sum
    val hconf = spark.sparkContext.hadoopConfiguration
    graft.sources.connector.GraftTableProps.write(hconf, dir,
      graft.sources.connector.GraftTableProps.read(hconf, dir) ++ Map(
        "stats.rowCount" -> rows.toString,
        "stats.sizeBytes" -> bytes.toString,
        "stats.analyzedVersion" -> v.toString))
    (rows, bytes)
  }

  /** `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS ...` backend:
    * opt the columns into the table's `ndvCols` (future writes sketch
    * them — the round-16 default only auto-sketches bucket keys) and
    * BACKFILL per-file KMV sketches for existing files, in ONE job
    * grouped by file. The scan's plan-time NDV only reports columns
    * covered by EVERY pruned file, so backfill is what makes ANALYZE
    * take effect immediately instead of after a full rewrite cycle.
    * Sketches are physical-file sketches (dv/eq-masked rows included
    * — the safe overestimate, same as write-time). Non-stats-typed
    * columns are refused loudly. Returns the committed version (the
    * current one when every file was already covered). */
  def analyzeColumns(spark: SparkSession, dir: String,
                     cols: Seq[String]): Long =
    retryOnConflict(s"analyze columns of $dir") {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot analyze empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      cols.foreach { c =>
        val fld = known.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE: no column '$c' in $dir"))
        import org.apache.spark.sql.types._
        require(Seq(ByteType, ShortType, IntegerType, LongType, StringType)
          .contains(fld.dataType),
          s"ANALYZE FOR COLUMNS: '$c' is ${fld.dataType.simpleString}; " +
            "NDV sketches cover integral and string columns")
      }
      val physCols = cols.map(physicalFor(known, _)).distinct
      // declare for future writes (merge into any existing list)
      val hconf = spark.sparkContext.hadoopConfiguration
      val props = graft.sources.connector.GraftTableProps.read(hconf, dir)
      val declared = props.get("ndvCols").toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
      graft.sources.connector.GraftTableProps.write(hconf, dir,
        props + ("ndvCols" -> (declared ++ physCols).distinct.mkString(",")))
      val missing = m.files.filter(fe =>
        physCols.exists(pc => !fe.ndv.contains(pc)))
      if (missing.isEmpty) return v
      val byUriPath: Map[String, String] = missing.map(fe =>
        new Path(resolvePath(dir, fe.path)).toUri.getPath -> fe.path).toMap
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(missing.map(fe => resolvePath(dir, fe.path)): _*)
      val present = physCols.filter(raw.columns.contains)
      if (present.isEmpty) return v
      val aggs = present.map(pc =>
        graft.functions.cat.KmvValues(col(s"`$pc`"), NdvK).as(s"__ndv_$pc"))
      val perFile = raw.groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map { r =>
          val rel = byUriPath(new Path(new java.net.URI(r.getString(0)).getPath)
            .toUri.getPath)
          rel -> present.map(pc =>
            pc -> r.getAs[scala.collection.Seq[Long]](s"__ndv_$pc")
              .toVector.asInstanceOf[Seq[Long]]).toMap
        }.toMap
      val updated = missing.map(fe =>
        fe.copy(ndv = fe.ndv ++ perFile.getOrElse(fe.path, Map.empty)))
      commit(spark, dir, "analyze", updated,
        removed = readSetOf(missing), carry = true)
    }

  /** (version, op, totalRows) per committed version, ascending. */
  def history(spark: SparkSession, dir: String): Seq[(Long, String, Long)] =
    versions(spark, dir).map { v =>
      val m = readManifest(spark, dir, v)
      (v, m.op, m.totalRows)
    }

  /** Maintenance thresholds — see [[maintain]]. */
  final case class MaintenancePolicy(
      smallFileRows: Long = 100000L,
      targetRows: Long = 1000000L,
      maxSmallFiles: Int = 8,
      maxDeletedRatio: Double = 0.2,
      keepVersions: Int = 100,
      vacuumMinAgeMs: Long = DefaultVacuumRetentionMs,
      statsCols: Seq[String] = Nil,
      zorderBy: Option[(String, String, Int)] = None,
      healBucketLayout: Boolean = true,
      // 0 disables; > 0 refreshes the frozen `stats.*` TBLPROPERTIES
      // (ANALYZE's CBO inputs) when the manifest row count has
      // drifted more than this fraction from the recorded
      // stats.rowCount — CDC-heavy tables otherwise serve the
      // planner rowcounts frozen at the last hand-run ANALYZE while
      // `cat.ns.t.stats` is live. Opt-in: the refresh may pay one
      // exact count when equality deletes are pending.
      analyzeDriftPct: Double = 0.0,
      // 0 disables; N > 0 re-sorts overlap components on the declared
      // clusterBy key whose stabbing depth exceeds N (opt-in: the
      // rewrite is real write amplification, sized O(decayed), and a
      // deployment chooses its pruning-vs-write trade)
      reclusterMaxDepth: Int = 0,
      // opt-in (round-18): walk the table's ANN indexes (`_ann/*`)
      // and REFRESH the stale ones off the change feed — O(changed
      // rows) each. Runs BEFORE vacuum, so the refreshed watermark
      // (not a stale one) decides which corpus versions a PQ rerank
      // still needs retained; content-neutral for the corpus itself.
      refreshIndexes: Boolean = false,
      // when refreshIndexes is on, an index whose metadata-only
      // quantizer-drift ratio exceeds this REPORTS rebuild-recommended
      // (AnnIndex.driftStats policy: ~8 = one cell holds an order of
      // magnitude more than the typical cell). Reported, never
      // auto-executed: a rebuild re-trains the quantizer — a new
      // index — and that is an operator's call.
      indexRebuildDriftRatio: Double = 8.0)

  /** What one [[maintain]] pass actually did (all content-neutral).
    * `indexRebuildRecommended` lists the ANN indexes whose drift
    * ratio crossed the policy threshold — or that are UNREADABLE
    * (a dead index's only remedy is a rebuild) — for the operator to
    * act on; maintain never rebuilds by itself. */
  final case class MaintenanceReport(purged: Boolean, compacted: Boolean,
                                     vacuumedFiles: Int,
                                     filesBefore: Int, filesAfter: Int,
                                     rebucketedFiles: Int = 0,
                                     reclusteredFiles: Int = 0,
                                     statsRefreshed: Boolean = false,
                                     indexesRefreshed: Int = 0,
                                     indexRebuildRecommended: Seq[String] = Nil,
                                     indexErrors: Seq[String] = Nil)

  /** One policy-driven maintenance pass — the "table services" sweep a
    * 100 TB deployment runs on a schedule instead of hand-sequencing
    * purge/compact/vacuum per table:
    *
    *  1. PURGE when deletion vectors mask more than `maxDeletedRatio`
    *     of the physical rows (the readers' position-mask work and
    *     the dead bytes both grow with the ratio);
    *  2. HEAL the declared bucket layout ([[rebucketBroken]]) when any
    *     file breaks it — the only way a production table's
    *     storage-partitioned joins come back after a stray unbucketed
    *     write, priced O(broken files);
    *  3. COMPACT (optionally z-ordered) when at least `maxSmallFiles`
    *     files are under `smallFileRows` — the small-file decay every
    *     per-batch append sink produces;
    *  4. VACUUM expired versions and aged orphans, always.
    *
    * Every step is content-neutral (the catalog gate hashes the scan
    * before/after) and each is its own commit, so a maintenance crash
    * mid-pass leaves a consistent table. A second pass on a healthy
    * table is a no-op that burns no version. Thresholds trade write
    * amplification against read cost: purge/compact REWRITE data, so
    * they must fire on accumulated debt, never per commit. */
  def maintain(spark: SparkSession, dir: String,
               policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val v0 = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot maintain empty table $dir"))
    val m0 = readManifest(spark, dir, v0)
    val physical = m0.files.map(_.rows).sum
    val deleted = m0.files.flatMap(_.dv.map(_.rows)).sum
    val purged = physical > 0 &&
      deleted.toDouble / physical > policy.maxDeletedRatio
    if (purged) purgeDeletes(spark, dir, policy.statsCols)
    // heal the declared bucket layout BEFORE compaction: stray
    // unbucketed files re-shuffle into per-bucket-pure ones (restoring
    // the scan's storage-partitioned-join claim), and the per-bucket
    // bin-pack then sees them in their final groups. O(broken files);
    // a healthy (or undeclared) layout is a version-free no-op.
    val rebucketed =
      if (policy.healBucketLayout) rebucketBroken(spark, dir) else 0
    val m1 = readManifest(spark, dir, latestVersion(spark, dir).get)
    val small = m1.files.count(_.liveRows < policy.smallFileRows)
    val compacted = small >= policy.maxSmallFiles
    if (compacted)
      compact(spark, dir, policy.smallFileRows, policy.targetRows,
        policy.statsCols, policy.zorderBy)
    // incremental re-clustering AFTER compaction (the bin-pack may
    // itself merge straddling small files; what remains decayed gets
    // the targeted re-sort)
    val reclustered =
      if (policy.reclusterMaxDepth > 0)
        reclusterDecayed(spark, dir, policy.reclusterMaxDepth,
          policy.targetRows)
      else 0
    // index lifecycle (opt-in), BEFORE vacuum: refresh advances each
    // index's watermark so vacuum retention is judged against the
    // fresh indexed versions, and the change feed still has the
    // manifests it must diff. The maintenance rewrites above are
    // content-neutral, so their file churn diffs to an EMPTY change
    // set (EXCEPT ALL cancels identical rows) — a refresh after
    // compact pays a diff read, never a wrong assignment.
    val (indexesRefreshed, rebuildRec, indexErrors) =
      if (!policy.refreshIndexes) (0, Nil, Nil)
      else {
        var refreshed = 0
        val rec = Seq.newBuilder[String]
        val errs = Seq.newBuilder[String]
        graft.operators.AnnIndex.listIndexes(spark, dir).foreach { name =>
          val idx = s"$dir/_ann/$name"
          def sweepOne(): Unit = {
            val head = latestVersion(spark, dir).get
            val info = graft.operators.AnnIndex.describe(spark, idx)
            val drift =
              if (info.indexedVersion == head) info.drift
              else {
                graft.operators.AnnIndex.refresh(spark, idx)
                refreshed += 1
                // post-refresh drift: the signal should reflect the
                // assignments the sweep just landed
                graft.operators.AnnIndex.driftStats(spark, idx)
              }
            if (drift.ratio > policy.indexRebuildDriftRatio) rec += name
          }
          // one failure must neither kill the sweep nor hide — but a
          // TRANSIENT hiccup (object-store 503, a listing racing a
          // publish) must not masquerade as "rebuild me" either: retry
          // once, then classify. Structurally-dead shapes (no readable
          // meta, vanished centroids — this engine's own loud errors)
          // report rebuild-recommended, rebuild being their one remedy;
          // anything else reports as an ERROR for the operator to look
          // at (the indexes metadata table carries the detail).
          try sweepOne()
          catch {
            case _: Exception =>
              try sweepOne()
              catch {
                case _: IllegalStateException |
                     _: IllegalArgumentException => rec += name
                case _: Exception => errs += name
              }
          }
        }
        (refreshed, rec.result(), errs.result())
      }
    val swept = vacuum(spark, dir, policy.keepVersions, policy.vacuumMinAgeMs)
    val mEnd = readManifest(spark, dir, latestVersion(spark, dir).get)
    // 5. ANALYZE freshness (opt-in): only tables that WERE analyzed
    // carry frozen stats to rot — a never-analyzed table is a no-op,
    // as is one whose recorded rowCount still tracks the manifest.
    // Props-only, no commit: content-neutral like every other step.
    val statsRefreshed = policy.analyzeDriftPct > 0 && {
      val props = graft.sources.connector.GraftTableProps.read(
        spark.sparkContext.hadoopConfiguration, dir)
      props.get("stats.rowCount").flatMap(_.toLongOption).exists { recorded =>
        // manifest totalRows is an upper bound under pending equality
        // deletes — fine for a TRIGGER (the refresh itself counts
        // exactly when pending refs exist)
        val drift = math.abs(mEnd.totalRows - recorded).toDouble /
          math.max(recorded, 1L)
        drift > policy.analyzeDriftPct && {
          analyzeTable(spark, dir, noscan = false)
          true
        }
      }
    }
    MaintenanceReport(purged, compacted, swept.size,
      filesBefore = m0.files.size, filesAfter = mEnd.files.size,
      rebucketedFiles = rebucketed, reclusteredFiles = reclustered,
      statsRefreshed = statsRefreshed,
      indexesRefreshed = indexesRefreshed,
      indexRebuildRecommended = rebuildRec,
      indexErrors = indexErrors)
  }
}
