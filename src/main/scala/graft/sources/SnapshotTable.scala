package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A minimal transactional table format over parquet — the "Delta
  * gives this for free" note of SURVEY §2.1 made concrete without any
  * dependency beyond Spark + Hadoop FS. Completes the S5-S8 story
  * (`etl/loader.py:159-348`): where [[graft.operators.Sinks]]
  * re-expresses the reference's backup/truncate/restore protocol
  * 1:1 over plain directories, this is the engine-grade shape a
  * 100 TB deployment actually wants — snapshot isolation, time
  * travel, O(changed-files) MERGE, and stats-based data skipping.
  *
  * Layout (all paths relative to the table root):
  * {{{
  *   _log/v0000000042.json   one manifest per committed version
  *   _log/v0000000042.lock   claim marker (commit protocol, below)
  *   data/<nonce>-p0042.parquet   immutable data files
  * }}}
  *
  * A manifest lists the data files that ARE the table at that version,
  * each with a row count and optional per-column (min,max) stats for
  * integral columns. Data files are never mutated or renamed after
  * commit; every write produces new files plus a new manifest that
  * references old files by name. Readers resolve the newest manifest
  * (or an explicit `version`) and read exactly its file list — a
  * half-finished write is invisible because its manifest doesn't
  * exist yet.
  *
  * Commit protocol (optimistic concurrency, no coordinator):
  *  1. stage the txn's new data files (no manifest references them
  *     yet, so they are invisible);
  *  2. read the newest manifest `v`; REBASE the txn onto it — the
  *     output file list is `v`'s files minus the files this txn
  *     rewrites plus the staged files — and VALIDATE: every file the
  *     txn rewrote must still be live in `v`. If a concurrent commit
  *     already removed one (both txns rewrote the same file), the
  *     write-write conflict throws [[CommitConflictException]] and the
  *     operation recomputes from the new snapshot;
  *  3. publish at `v+1` by writing the manifest bytes to a temp name
  *     and atomically linking/renaming them onto `v<v+1>.json`
  *     (create-exclusive — exactly one writer can own a version).
  *     Losing the race loops back to 2 against the new snapshot.
  * A writer crashing before step 3 leaves only unreferenced staged
  * files — reclaimed by [[vacuum]] once older than its retention
  * horizon (age is what distinguishes them from a LIVE txn's staged
  * files, which are also unreferenced until publish) — and can never
  * corrupt the table.
  * Because the rebase recomputes the carried list each attempt, pure
  * appends never conflict and never drop a concurrent commit's files;
  * rewrites (merge/delete/compact) conflict exactly when their
  * file-level read sets overlap — the same file-granular isolation
  * Delta calls WriteSerializable. On an object store without atomic
  * create-exclusive, step 3 swaps for a DynamoDB/etcd conditional put
  * — the file layout and reader are unchanged (same contract Delta
  * documents for S3).
  *
  * Scale notes: manifests are O(#files), not O(rows); stats make MERGE
  * rewrite only the files whose key range the batch touches
  * (copy-on-write at file granularity) and let point/range reads skip
  * files entirely. The one driver-side structure is the file list —
  * bounded by #files, the same budget every table format spends.
  *
  * Delta log: a commit file is either a FULL entry (the complete file
  * list — an anchor) or a DELTA entry (`add` + `remove` relative to
  * the previous version). Overwrite/restore are naturally full;
  * appends/merges/deletes/compacts write deltas, so the per-commit
  * write cost is O(changed files), not O(#files) — at 100 TB a
  * streaming sink's per-micro-batch append serializes a handful of
  * entries, not millions. Every [[CheckpointInterval]]-th version
  * commits full regardless, bounding a reader's backward fold; a
  * bounded cache of resolved manifests (validated against the commit
  * file's (mtime, len), so a recreated table at the same path misses)
  * makes warm resolution O(changed) too. [[vacuum]] first promotes the
  * retention boundary to a side checkpoint (`v*.ckpt.json`, written
  * temp-then-rename and verified before anything is deleted), then
  * drops the expired commit files — so expired versions disappear
  * exactly as before while every surviving version stays resolvable.
  * Pre-delta-log manifests carry no `kind` field and read as full.
  */
object SnapshotTable {

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
    * and an optional DELETION VECTOR reference `dv`: (relative path
    * of a sidecar parquet of (file, pos) deleted row positions,
    * number of this file's rows it deletes). A file with a dv is
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
                             dv: Option[(String, Long)] = None,
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
    def liveRows: Long = rows - dv.map(_._2).getOrElse(0L)

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

  /** JSON string escaping for manifest-embedded DATA values (zone-map
    * bounds carry arbitrary user text; paths/column names never
    * needed this). */
  private def jsonEscape(v: String): String = v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(dir: String) = new Path(dir, "_log")
  private def dataDir(dir: String) = new Path(dir, "data")
  private def manifestName(v: Long) = f"v$v%010d.json"
  private def ckptName(v: Long) = f"v$v%010d.ckpt.json"
  private def parquetAnchorName(v: Long) = f"v$v%010d.ckpt.parquet"

  private val ManifestRe = "v(\\d{10})\\.json".r

  /** Every this-many versions a commit writes a full entry even when a
    * delta would do — the anchor that bounds a cold reader's backward
    * fold (Delta Lake's checkpoint interval default, for the same
    * reason). */
  val CheckpointInterval = 10

  /** Schemes whose `rename` is known atomic-and-fails-if-present
    * (the property [[tryPublish]]'s non-`file` branch depends on). */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "webhdfs")

  /** Above this live-file count, a full anchor ALSO materializes as a
    * parquet checkpoint (`v*.ckpt.parquet`) that readers prefer over
    * the JSON entry — Delta's checkpoint.parquet move. The JSON commit
    * file remains the commit-protocol source of truth (atomic publish,
    * OCC); the parquet anchor is DERIVED, written best-effort after
    * the version wins its slot, and a reader that doesn't find one
    * falls back to the JSON — so a crash between publish and anchor
    * write costs speed, never correctness.
    *
    * What the format buys, per the measured anchor-format family
    * (ScaleBench / AnchorFormatProbe, local NVMe): BYTES — 6.2-6.4×
    * smaller at every size (2M entries: 28 MB vs 180 MB). On the
    * object stores where 10^5+-file tables actually live, the cold
    * path is dominated by fetching the anchor, so the byte reduction
    * is the win; reading 180 MB of JSON through ~100 MB/s of S3
    * bandwidth costs more than everything else combined. On LOCAL
    * warm-cache disk the single-threaded jackson parse is actually
    * competitive at every measured size (2M entries: 8.5 s JSON vs
    * 10.1 s for the parquet job + collect), which is why the
    * threshold stays high instead of "always": below it the ~0.1 s
    * Spark-job round trip is pure overhead on the small tables local
    * deployments have. Tunable for tests/benches via the system
    * property. */
  def parquetAnchorMinFiles: Int =
    sys.props.get("graft.snapshot.parquetAnchorMinFiles")
      .map(_.toInt).getOrElse(100000)

  /** Row shape of a parquet anchor: one row per live file; `stats`
    * values are [min,max]; `op`/`ts` repeat the version's metadata on
    * every row (RLE/dictionary encoding makes the repetition free,
    * and it lets a reader skip the JSON entry entirely). Explicit
    * schema + Row (not a case-class encoder): the class would be
    * private to this object, which knocks the deserializer out of
    * codegen with a noisy Janino access error on every read. */
  private val AnchorSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("stats",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      nullable = false),
    org.apache.spark.sql.types.StructField("bloom",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      nullable = false),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.LongType, nullable = false),
    // deletion-vector ref; nulls on dv-less entries AND on anchors
    // written before the field existed (schema merge reads them null)
    org.apache.spark.sql.types.StructField("dv_path",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("dv_rows",
      org.apache.spark.sql.types.LongType, nullable = true),
    // hash-bucket id; null on unbucketed entries AND on anchors
    // written before the field existed (explicit-schema read → null)
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    // ascending-sort column of the file's rows (physical name); same
    // null contract as `bucket`
    org.apache.spark.sql.types.StructField("sorted_by",
      org.apache.spark.sql.types.StringType, nullable = true),
    // bucket COUNT the file was written under (see
    // [[FileEntry.bucketedUnder]]); same null contract as `bucket`
    org.apache.spark.sql.types.StructField("bucket_n",
      org.apache.spark.sql.types.IntegerType, nullable = true),
    // stats columns with zero nulls in this file (see
    // [[FileEntry.noNulls]]); null on pre-noNulls anchors
    org.apache.spark.sql.types.StructField("no_nulls",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false),
      nullable = true),
    // string zone maps [lower, upper] (see [[FileEntry.strStats]]);
    // null on pre-strStats anchors
    org.apache.spark.sql.types.StructField("sstats",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false)),
      nullable = true),
    // per-column KMV NDV sketches (see [[FileEntry.ndv]]); null on
    // pre-NDV anchors
    org.apache.spark.sql.types.StructField("ndv",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      nullable = true),
    // equality-delete sidecar paths (see [[FileEntry.eqDv]]); null on
    // pre-equality-delete anchors
    org.apache.spark.sql.types.StructField("eq_dv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false),
      nullable = true)))

  /** Best-effort derived parquet anchor for a just-published full
    * version: single-file write (temp dir + rename of the part file),
    * so readers see a complete anchor or nothing. Failures log and
    * fall through — the JSON entry stays authoritative. */
  private def writeParquetAnchor(spark: SparkSession, dir: String,
                                 e: LogEntry): Unit =
    try {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(e.files.map(fe => org.apache.spark.sql.Row(
          fe.path, fe.rows,
          fe.stats.map { case (c, (lo, hi)) => c -> Seq(lo, hi) },
          fe.bloom.map { case (c, ws) => c -> ws },
          e.op, e.ts,
          fe.dv.map(_._1).orNull,
          fe.dv.map(d => java.lang.Long.valueOf(d._2)).orNull,
          fe.bucket.map(java.lang.Integer.valueOf).orNull,
          fe.sortedBy.orNull,
          fe.bucketN.map(java.lang.Integer.valueOf).orNull,
          if (fe.noNulls.isEmpty) null else fe.noNulls,
          if (fe.strStats.isEmpty) null
          else fe.strStats.map { case (c, (lo, hi)) => c -> Seq(lo, hi) },
          if (fe.ndv.isEmpty) null else fe.ndv,
          if (fe.eqDv.isEmpty) null else fe.eqDv)): _*)
      val tmp = new Path(logDir(dir), s".ckpt-pq-${java.util.UUID.randomUUID}")
      val f = fs(spark, tmp)
      spark.createDataFrame(rows, AnchorSchema).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = f.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException("no part file written"))
      val target = new Path(logDir(dir), parquetAnchorName(e.version))
      f.delete(target, false) // concurrent re-write: content deterministic
      if (!f.rename(part, target) && !f.exists(target))
        throw new IllegalStateException(s"could not publish $target")
      f.delete(tmp, true)
    } catch {
      case t: Throwable => // derived artifact: never fail the commit
        System.err.println(s"[snapshot] parquet anchor for v${e.version} " +
          s"of $dir not written (reader falls back to JSON): ${t.getMessage}")
    }

  /** Read a parquet anchor back as a resolved [[Manifest]]. */
  private def readParquetAnchor(spark: SparkSession, dir: String,
                                version: Long): Manifest = {
    val p = new Path(logDir(dir), parquetAnchorName(version))
    val rows = spark.read.schema(AnchorSchema).parquet(p.toString).collect()
    val files = rows.toSeq.map { r =>
      val stats = r.getMap[String, scala.collection.Seq[Long]](2)
      val bloom = r.getMap[String, scala.collection.Seq[Long]](3)
      val dv =
        if (r.isNullAt(6) || r.isNullAt(7)) None
        else Some((r.getString(6), r.getLong(7)))
      FileEntry(r.getString(0), r.getLong(1),
        stats.map { case (c, a) => c -> (a(0), a(1)) }.toMap,
        bloom.map { case (c, a) => c -> (a.toVector: Seq[Long]) }.toMap,
        dv, if (r.isNullAt(8)) None else Some(r.getInt(8)),
        if (r.isNullAt(9)) None else Some(r.getString(9)),
        if (r.isNullAt(10)) None else Some(r.getInt(10)),
        if (r.isNullAt(11)) Nil else r.getSeq[String](11),
        if (r.isNullAt(12)) Map.empty
        else r.getMap[String, scala.collection.Seq[String]](12)
          .map { case (c, a) => c -> (a(0), a(1)) }.toMap,
        if (r.isNullAt(13)) Map.empty
        else r.getMap[String, scala.collection.Seq[Long]](13)
          .map { case (c, a) => c -> (a.toVector: Seq[Long]) }.toMap,
        if (r.isNullAt(14)) Nil else r.getSeq[String](14))
    }
    Manifest(version, rows.headOption.map(_.getString(4)).getOrElse("anchor"),
      files, rows.headOption.map(_.getLong(5)).getOrElse(0L))
  }

  /** Versions with a committed manifest, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val ld = logDir(dir)
    val f = fs(spark, ld)
    if (!f.exists(ld)) return Nil
    f.listStatus(ld).toSeq.map(_.getPath.getName).collect {
      case ManifestRe(v) => v.toLong
    }.sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  // --- log entry ser/de (schema is ours, so a hand-written emitter +
  // --- jackson tree reader keeps it dependency-light and explicit) ---

  /** One commit file. `kind` "full": `files` IS the table. `kind`
    * "delta": the table is the previous version's list minus `remove`
    * plus `files`. Pre-delta-log manifests carry no kind and parse as
    * full. */
  /** `schema` is the TABLE's logical schema (Spark StructType JSON)
    * as of this version — stored on every commit like Delta's
    * metaData action, so readers plan without a footer pass over the
    * file list (at 2k files that pass costs seconds of driver time
    * PER QUERY; at 100 TB it is a non-starter). Append commits store
    * the union of the previous schema and the batch's (evolution);
    * absent on pre-schema manifests and on any union conflict, where
    * readers fall back to the mergeSchema footer pass — the fallback
    * is never wrong, only slower. */
  private[graft] final case class LogEntry(version: Long, op: String, ts: Long,
                                           kind: String, files: Seq[FileEntry],
                                           remove: Seq[String],
                                           schema: Option[String] = None)

  private def renderFiles(sb: StringBuilder, files: Seq[FileEntry]): Unit = {
    sb.append('[')
    files.zipWithIndex.foreach { case (fe, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"path":"${fe.path}","rows":${fe.rows},"stats":{""")
      fe.stats.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, (lo, hi)), j) =>
        if (j > 0) sb.append(',')
        sb.append(s""""$c":[$lo,$hi]""")
      }
      sb.append("}")
      if (fe.strStats.nonEmpty) {
        sb.append(""","sstats":{""")
        fe.strStats.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, (lo, hi)), j) =>
          if (j > 0) sb.append(',')
          sb.append(s""""$c":["${jsonEscape(lo)}","${jsonEscape(hi)}"]""")
        }
        sb.append("}")
      }
      if (fe.bloom.nonEmpty) {
        sb.append(""","bloom":{""")
        fe.bloom.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, ws), j) =>
          if (j > 0) sb.append(',')
          sb.append(s""""$c":[${ws.mkString(",")}]""")
        }
        sb.append("}")
      }
      if (fe.ndv.nonEmpty) {
        sb.append(""","ndv":{""")
        fe.ndv.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, ks), j) =>
          if (j > 0) sb.append(',')
          sb.append(s""""$c":[${ks.mkString(",")}]""")
        }
        sb.append("}")
      }
      fe.dv.foreach { case (p, n) =>
        sb.append(s""","dv":{"path":"$p","n":$n}""")
      }
      if (fe.noNulls.nonEmpty)
        sb.append(s""","nn":[${fe.noNulls.sorted.map(c => s"\"$c\"").mkString(",")}]""")
      if (fe.eqDv.nonEmpty)
        sb.append(s""","eq":[${fe.eqDv.map(p => s"\"$p\"").mkString(",")}]""")
      fe.bucket.foreach(b => sb.append(s""","bucket":$b"""))
      fe.bucketN.foreach(n => sb.append(s""","bucketN":$n"""))
      fe.sortedBy.foreach(c => sb.append(s""","sortedBy":"$c""""))
      sb.append("}")
    }
    sb.append(']')
  }

  private def renderEntry(e: LogEntry): String = {
    val sb = new StringBuilder
    sb.append(s"""{"version":${e.version},"op":"${e.op}","ts":${e.ts},""")
    sb.append(s""""kind":"${e.kind}",""")
    if (e.kind == "delta") {
      sb.append(""""remove":[""")
      sb.append(e.remove.map(p => s""""$p"""").mkString(","))
      sb.append("],")
    }
    // StructType.json is itself valid JSON — embedded raw
    e.schema.foreach(s => sb.append(s""""schema":$s,"""))
    sb.append(""""files":""")
    renderFiles(sb, e.files)
    sb.append('}')
    sb.toString
  }

  private def parseFiles(node: com.fasterxml.jackson.databind.JsonNode): Seq[FileEntry] = {
    val files = node.elements()
    val out = Seq.newBuilder[FileEntry]
    while (files.hasNext) {
      val fe = files.next()
      val stats = Map.newBuilder[String, (Long, Long)]
      val it = fe.get("stats").properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        stats += e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
      }
      val bloom = Map.newBuilder[String, Seq[Long]]
      val bn = fe.path("bloom") // absent on pre-bloom manifests
      if (!bn.isMissingNode) {
        val bit = bn.properties().iterator()
        while (bit.hasNext) {
          val e = bit.next()
          val ws = Vector.newBuilder[Long]
          val vs = e.getValue.elements()
          while (vs.hasNext) ws += vs.next().asLong
          bloom += e.getKey -> ws.result()
        }
      }
      val dvn = fe.path("dv") // absent on pre-deletion-vector manifests
      val dv =
        if (dvn.isMissingNode) None
        else Some((dvn.get("path").asText, dvn.get("n").asLong))
      val bn2 = fe.path("bucket") // absent on pre-bucketing manifests
      val bucket = if (bn2.isMissingNode) None else Some(bn2.asInt)
      val bn3 = fe.path("bucketN") // absent on pre-bucket-count manifests
      val bucketN = if (bn3.isMissingNode) None else Some(bn3.asInt)
      val sn2 = fe.path("sortedBy") // absent on pre-sort-metadata manifests
      val sortedBy = if (sn2.isMissingNode) None else Some(sn2.asText)
      val nn = fe.path("nn") // absent on pre-noNulls manifests
      val noNulls =
        if (nn.isMissingNode) Nil
        else {
          val b = Vector.newBuilder[String]
          val it2 = nn.elements()
          while (it2.hasNext) b += it2.next().asText
          b.result()
        }
      val ss = fe.path("sstats") // absent on pre-strStats manifests
      val strStats = Map.newBuilder[String, (String, String)]
      if (!ss.isMissingNode) {
        val sit = ss.properties().iterator()
        while (sit.hasNext) {
          val e = sit.next()
          strStats += e.getKey -> (e.getValue.get(0).asText, e.getValue.get(1).asText)
        }
      }
      val nv = fe.path("ndv") // absent on pre-NDV-sketch manifests
      val ndv = Map.newBuilder[String, Seq[Long]]
      if (!nv.isMissingNode) {
        val nit = nv.properties().iterator()
        while (nit.hasNext) {
          val e = nit.next()
          val ks = Vector.newBuilder[Long]
          val vs = e.getValue.elements()
          while (vs.hasNext) ks += vs.next().asLong
          ndv += e.getKey -> ks.result()
        }
      }
      val eqn = fe.path("eq") // absent on pre-equality-delete manifests
      val eqDv =
        if (eqn.isMissingNode) Nil
        else {
          val b = Vector.newBuilder[String]
          val it3 = eqn.elements()
          while (it3.hasNext) b += it3.next().asText
          b.result()
        }
      out += FileEntry(fe.get("path").asText, fe.get("rows").asLong,
        stats.result(), bloom.result(), dv, bucket, sortedBy, bucketN,
        noNulls, strStats.result(), ndv.result(), eqDv)
    }
    out.result()
  }

  private def readBytes(f: FileSystem, p: Path): Array[Byte] = {
    val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes
  }

  private def parseEntry(bytes: Array[Byte]): LogEntry = {
    val root = new ObjectMapper().readTree(bytes)
    val remove = Seq.newBuilder[String]
    val rn = root.path("remove")
    if (!rn.isMissingNode) {
      val it = rn.elements()
      while (it.hasNext) remove += it.next().asText
    }
    val sn = root.path("schema") // absent on pre-schema manifests
    LogEntry(root.get("version").asLong, root.get("op").asText,
      root.path("ts").asLong(0L), // absent on pre-ts manifests
      root.path("kind").asText("full"), // absent on pre-delta-log manifests
      parseFiles(root.get("files")), remove.result(),
      if (sn.isMissingNode) None else Some(sn.toString))
  }

  // --- manifest resolution: fold the delta log into the file list ---

  /** Bounded LRU of resolved manifests keyed by (table dir, version),
    * validated against the commit file's (mtime, len): a version's
    * resolved content is immutable once published, but a table dir
    * deleted and recreated at the same path (tests) restarts the log —
    * the fresh commit file's stamp misses and the entry recomputes.
    * Accessed under its own lock; values are immutable. */
  private val resolveCacheMax = 64
  private val resolveCache =
    new java.util.LinkedHashMap[(String, Long), (Long, Long, Manifest)](
      resolveCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Long, Long, Manifest)]): Boolean =
        size > resolveCacheMax
    }

  /** Test hook: force the next resolutions cold (the cache is
    * otherwise correct by construction — commit files are immutable —
    * so production code never needs this). */
  private[graft] def invalidateResolveCache(): Unit =
    resolveCache.synchronized(resolveCache.clear())

  /** Bench hook: publish a synthetic FULL version (entries reference
    * no real data files) with or without its parquet anchor — lets
    * ScaleBench measure cold anchor-parse cost at file counts (10^5+)
    * no local staging could create for real. Metadata-plane only;
    * scanning such a version would fail, by design. */
  private[graft] def debugPublishFull(spark: SparkSession, dir: String,
                                      files: Seq[FileEntry],
                                      withParquetAnchor: Boolean): Long = {
    val ld = logDir(dir)
    val f = fs(spark, ld)
    f.mkdirs(ld)
    val v = latestVersion(spark, dir).getOrElse(0L) + 1
    val e = LogEntry(v, "bench", System.currentTimeMillis(), "full", files, Nil)
    require(tryPublish(f, ld, e), s"bench publish lost the v$v slot under $dir")
    if (withParquetAnchor) writeParquetAnchor(spark, dir, e)
    v
  }

  /** Bench/test hook: the derived parquet anchor's path (delete it to
    * force the JSON fallback). */
  private[graft] def parquetAnchorPath(dir: String, v: Long): Path =
    new Path(logDir(dir), parquetAnchorName(v))

  /** The resolved manifest of `version`: walks backward through delta
    * entries to the nearest full anchor (a full commit, or a vacuum
    * checkpoint at this version) and folds forward. Warm calls are
    * O(1) via the cache; cold calls read at most
    * [[CheckpointInterval]] delta entries plus one anchor. */
  def readManifest(spark: SparkSession, dir: String, version: Long): Manifest = {
    val p = new Path(logDir(dir), manifestName(version))
    val f = fs(spark, p)
    require(f.exists(p), s"no version $version under $dir")
    val st = f.getFileStatus(p)
    val key = (dir, version)
    resolveCache.synchronized {
      val hit = resolveCache.get(key)
      if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen)
        return hit._3
    }
    // a parquet anchor (commit-time or vacuum-promoted) IS the resolved
    // list — prefer it and skip the JSON entry parse entirely
    val pqa = new Path(logDir(dir), parquetAnchorName(version))
    val m: Manifest =
      if (f.exists(pqa)) readParquetAnchor(spark, dir, version)
      else parseEntry(readBytes(f, p)) match {
        case entry if entry.kind == "full" =>
          Manifest(entry.version, entry.op, entry.files, entry.ts)
        case entry if entry.kind == "delta" =>
          val ckpt = new Path(logDir(dir), ckptName(version))
          if (f.exists(ckpt)) { // vacuum promoted this version to an anchor
            val full = parseEntry(readBytes(f, ckpt))
            Manifest(entry.version, entry.op, full.files, entry.ts)
          } else {
            val base: Seq[FileEntry] =
              if (version <= 1) Nil // delta against an empty table
              else readManifest(spark, dir, version - 1).files
            val gone = entry.remove.toSet
            Manifest(entry.version, entry.op,
              base.filterNot(fe => gone.contains(fe.path)) ++ entry.files, entry.ts)
          }
        case entry => throw new IllegalStateException(
          s"unknown log entry kind '${entry.kind}' at version $version of $dir")
      }
    resolveCache.synchronized {
      resolveCache.put(key, (st.getModificationTime, st.getLen, m))
    }
    m
  }

  /** Atomically publish `m` at its version slot; false if the slot is
    * already owned. Fully writes the bytes to a temp name first, then
    * create-exclusive-links them onto the final name, so readers see a
    * complete manifest or nothing and exactly one writer owns a
    * version. Hadoop's rename is atomic-and-fails-if-present on HDFS
    * (server-side) but NOT on the local filesystem — RawLocalFileSystem
    * delegates to POSIX rename(2), which silently overwrites. For
    * `file:` URIs we use NIO `Files.createLink` (link(2) fails EEXIST —
    * a single atomic syscall) instead. */
  private def tryPublish(f: FileSystem, ld: Path, m: LogEntry): Boolean = {
    val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID}.json")
    val out = f.create(tmp, true)
    try out.write(renderEntry(m).getBytes("UTF-8")) finally out.close()
    val target = new Path(ld, manifestName(m.version))
    val won =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // a concurrent vacuum may reclaim the temp between write and
          // link; losing the slot (and retrying) is the safe reading
          case _: java.nio.file.NoSuchFileException => false
        }
      } else {
        // rename-fails-if-present is an HDFS server-side guarantee, NOT
        // part of the general FileSystem contract — on s3a/gs/abfs a
        // rename may overwrite or be non-atomic, silently clobbering a
        // committed manifest (a lost version). Refuse schemes we can't
        // vouch for; the object-store path is the documented
        // conditional-put escape hatch in the protocol doc above.
        if (!AtomicRenameSchemes.contains(f.getScheme))
          throw new UnsupportedOperationException(
            s"scheme '${f.getScheme}' lacks an atomic fail-if-present " +
              "rename; commit needs a conditional put (see protocol doc)")
        // cheap pre-check: lose the slot without burning a server-side
        // rename when the version is already visibly owned
        if (f.exists(target)) false
        else try f.rename(tmp, target) catch { case _: java.io.IOException => false }
      }
    if (f.getScheme == "file" || !won) f.delete(tmp, false)
    won
  }

  /** Rebase-validate-publish commit (see protocol in the object doc).
    * `added` are the txn's staged files; `removed` is the txn's
    * file-level READ SET — each live file whose content the txn read
    * and replaced, mapped to the deletion-vector ref the txn SAW on
    * it (None = no vector; empty map for appends); `carry` says
    * whether the rest of the current snapshot flows into the new
    * manifest (false for overwrite/restore, which replace the whole
    * list). Each attempt rebases onto the CURRENT newest manifest, so
    * concurrent commits to disjoint files interleave losslessly. A
    * conflict is a read-set entry whose file is now GONE from the
    * snapshot **or carries a different dv ref** than the txn read —
    * the dv check matters because a deletion-vector commit changes a
    * file's logical content while keeping its path, so a path-only
    * check would let a concurrent rewrite/dv-commit silently drop
    * those deletions (a lost update). Throws
    * [[CommitConflictException]]; returns the committed version. */
  /** The table schema recorded in `version`'s commit entry, if that
    * commit (and its union chain) recorded one. One small-file read —
    * NO footer pass, no manifest resolution. */
  private[graft] def tableSchemaJson(spark: SparkSession, dir: String,
                                     version: Long): Option[String] = {
    val p = new Path(logDir(dir), manifestName(version))
    val f = fs(spark, p)
    if (!f.exists(p)) None else parseEntry(readBytes(f, p)).schema
  }

  /** [[tableSchemaJson]] as a StructType, every field forced nullable
    * (schema evolution surfaces missing columns as null, and reads
    * must never promise more than the files deliver). */
  private[graft] def tableSchema(spark: SparkSession, dir: String,
                                 version: Long): Option[org.apache.spark.sql.types.StructType] =
    tableSchemaJson(spark, dir, version).map { j =>
      val st = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      org.apache.spark.sql.types.StructType(st.fields.map(_.copy(nullable = true)))
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
    * column is unmapped or the schema unknown). */
  private[graft] def physicalFor(schema: Option[org.apache.spark.sql.types.StructType],
                                 colName: String): String =
    schema.flatMap(_.fields.find(_.name == colName)).map(physicalName)
      .getOrElse(colName)

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

  private def stripMappingJson(j: String): String = {
    val st = org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val out = stripMapping(st)
    if (out eq st) j else out.json
  }

  /** Layout TBLPROPERTIES that NAME columns; when an overwrite drops a
    * rename mapping, these must follow the rename or they dangle. */
  private val NamedLayoutProps =
    Seq("bucketBy", "clusterBy", "statsCols", "bloomCols")

  /** After a mapping-DROPPING commit (overwrite/truncate: files now
    * carry logical names, the recorded schema has no mapping), rewrite
    * any layout property that still names a column by its retired
    * PHYSICAL name to the current logical one — otherwise the declared
    * bucket/cluster/stats layout silently stops applying to every
    * later write (and `bucketLayout` would resolve to None). */
  private def followPropsAfterMappingDrop(
      spark: SparkSession, dir: String,
      prevSchemaJson: Option[String]): Unit = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val prev = prevSchemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType])
    if (!prev.exists(hasMapping)) return
    val logicalFor: Map[String, String] = prev.get.fields
      .map(f => physicalName(f) -> f.name).filter(p => p._1 != p._2).toMap
    val hconf = spark.sparkContext.hadoopConfiguration
    val props = graft.sources.connector.GraftTableProps.read(hconf, dir)
    val updated = props.map {
      case (k, v) if NamedLayoutProps.contains(k) =>
        k -> v.split(",").map(_.trim).filter(_.nonEmpty)
          .map(c => logicalFor.getOrElse(c, c)).mkString(",")
      case kv => kv
    }
    if (updated != props)
      graft.sources.connector.GraftTableProps.write(hconf, dir, updated)
  }

  /** Union-by-name for append-time schema evolution: previous fields
    * keep their order (they are the files read first), new-only
    * fields append — the same order mergeSchema produces. A same-name
    * type conflict returns None: the entry stores no schema and
    * readers take the footer-pass fallback, which is authoritative.
    * A new field whose name collides with a RENAMED column's physical
    * name throws instead: files still carry data under that physical
    * name, so the "new" column would silently resurrect the renamed
    * column's old values in every pre-rename file. */
  private def unionSchemaJson(prevJson: String, newJson: String): Option[String] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val prev = DataType.fromJson(prevJson).asInstanceOf[StructType]
    val next = DataType.fromJson(newJson).asInstanceOf[StructType]
    val prevByName = prev.fields.map(f => f.name -> f.dataType).toMap
    val conflict = next.fields.exists(f =>
      prevByName.get(f.name).exists(_ != f.dataType))
    if (conflict) None
    else {
      val newFields = next.fields.filterNot(f => prevByName.contains(f.name))
      val prevPhysical = prev.fields.map(physicalName).toSet -- prevByName.keySet
      val clash = newFields.map(_.name).filter(prevPhysical.contains)
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"cannot add column(s) ${clash.mkString(", ")}: the name is the " +
          "PHYSICAL name of a renamed column and existing files still " +
          "carry its data — pick a different name (or add it via ALTER " +
          "TABLE, which assigns a fresh physical name)")
      Some(StructType(prev.fields ++ newFields).json)
    }
  }

  private def commit(spark: SparkSession, dir: String, op: String,
                     added: Seq[FileEntry],
                     removed: Map[String, Option[String]] = Map.empty,
                     carry: Boolean = false,
                     schemaJson: Option[String] = None,
                     replaceSchema: Boolean = false,
                     keepMapping: Boolean = false,
                     expectLatest: Option[Long] = None): Long = {
    val ld = logDir(dir)
    val f = fs(spark, ld)
    f.mkdirs(ld)
    // writer-provided schemas never carry a rename mapping (see
    // [[stripMapping]]); only replaceSchema (ALTER RENAME declares the
    // mapping) and keepMapping (restore/truncate re-record a CHAIN
    // schema whose files really are physical-named) pass it through
    val incomingSchema: Option[String] =
      if (replaceSchema || keepMapping) schemaJson
      else schemaJson.map(stripMappingJson)
    var attempts = 0
    while (true) {
      val latest = latestVersion(spark, dir)
      // linear-history guard (fast-forward, staged REPLACE): the
      // commit must land DIRECTLY on `expectLatest` — losing the slot
      // race means someone advanced the table first, and replacing
      // their state would silently drop their commit. Conflict, never
      // clobber. `-1` encodes "expect NO version yet" (atomic CTAS:
      // a concurrent creation must conflict, not be overwritten).
      expectLatest.foreach(e => if (latest.getOrElse(-1L) != e)
        throw new CommitConflictException(
          s"$op expected $dir at version ${if (e < 0) "<none>" else e} " +
            s"but found ${latest.getOrElse(-1L)}: a concurrent commit " +
            "advanced the table"))
      val current: Seq[FileEntry] =
        if (carry) latest.map(readManifest(spark, dir, _).files).getOrElse(Nil)
        else Nil
      if (removed.nonEmpty) {
        val currentDv = current.map(fe => fe.path -> changeToken(fe)).toMap
        val gone = removed.filter { case (p, sawDv) =>
          !currentDv.get(p).contains(sawDv)
        }.keys
        if (gone.nonEmpty) throw new CommitConflictException(
          s"write-write conflict under $dir: concurrent commit changed " +
            s"${gone.mkString(", ")} after this $op read them")
      }
      val v = latest.getOrElse(0L) + 1
      // schema chain: a fresh/overwritten table records the writer's
      // schema; a carrying commit unions it with (or just carries) the
      // previous version's — except replaceSchema commits (ALTER
      // DROP/RENAME COLUMN), whose schema REPLACES the chain's (a
      // union can only widen). A legacy previous entry (no schema)
      // keeps the chain legacy — a stored schema must describe EVERY
      // file.
      val entrySchema: Option[String] =
        if (replaceSchema) {
          require(carry && incomingSchema.isDefined &&
            latest.flatMap(tableSchemaJson(spark, dir, _)).isDefined,
            "replaceSchema needs a carrying commit over a schema-recording chain")
          incomingSchema
        } else if (!carry || latest.isEmpty) incomingSchema
        else latest.flatMap(tableSchemaJson(spark, dir, _)) match {
          case None => None
          case prev @ Some(p) => incomingSchema match {
            case None => prev
            case Some(n) => unionSchemaJson(p, n)
          }
        }
      // overwrite/restore replace the whole list (naturally full), and
      // every CheckpointInterval-th version anchors the log so a cold
      // reader's backward fold is bounded; everything else commits the
      // O(changed-files) delta.
      val entry =
        if (!carry || v % CheckpointInterval == 0) {
          val outFiles = current.filterNot(fe => removed.contains(fe.path)) ++ added
          LogEntry(v, op, System.currentTimeMillis(), "full", outFiles, Nil,
            entrySchema)
        } else
          LogEntry(v, op, System.currentTimeMillis(), "delta", added,
            removed.keys.toSeq.sorted, entrySchema)
      if (tryPublish(f, ld, entry)) {
        if (entry.kind == "full" && entry.files.size >= parquetAnchorMinFiles)
          writeParquetAnchor(spark, dir, entry)
        // a mapping-dropping overwrite retires the physical names; the
        // layout props that referenced them follow the rename
        if (!carry && !replaceSchema && !keepMapping)
          followPropsAfterMappingDrop(spark, dir,
            latest.flatMap(tableSchemaJson(spark, dir, _)))
        return v
      }
      attempts += 1 // lost the slot race; rebase onto the winner and retry
      if (attempts > 10000) throw new IllegalStateException(
        s"could not publish a version under $dir after $attempts attempts")
    }
    -1L // unreachable
  }

  /** V2 connector write hook: commit externally-staged file entries
    * whose stats the connector's executor-side writers computed WHILE
    * writing (no post-hoc stats job — the one cost [[stageFiles]]
    * pays). Appends carry and never conflict; overwrite replaces. */
  private[graft] def commitAdded(spark: SparkSession, dir: String, op: String,
                                 added: Seq[FileEntry], carry: Boolean,
                                 schemaJson: Option[String] = None,
                                 replaceSchema: Boolean = false,
                                 keepMapping: Boolean = false,
                                 expectLatest: Option[Long] = None): Long =
    commit(spark, dir, op, added, carry = carry, schemaJson = schemaJson,
      replaceSchema = replaceSchema, keepMapping = keepMapping,
      expectLatest = expectLatest)

  /** Like [[commit]] but deletes the staged `added` files before
    * rethrowing a conflict, so a retried operation leaves no orphans. */
  private def commitStaged(spark: SparkSession, dir: String, op: String,
                           added: Seq[FileEntry],
                           removed: Map[String, Option[String]],
                           carry: Boolean,
                           schemaJson: Option[String] = None): Long =
    try commit(spark, dir, op, added, removed, carry, schemaJson)
    catch {
      case e: CommitConflictException =>
        val f = fs(spark, new Path(dir))
        added.foreach(fe => f.delete(new Path(dir, fe.path), false))
        throw e
    }

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
      f <- latestVersion(spark, dir).flatMap(v => tableSchema(spark, dir, v))
        .map(s => s.fields.find(x => physicalName(x) == c)
          .orElse(s.fields.find(_.name == c)))
        .getOrElse(Some(org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.NullType))) // schema-less: type unknowable
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
      else latestVersion(spark, dir).flatMap(v => tableSchema(spark, dir, v))
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
    // overwrite replaces the schema (and any rename mapping with it):
    // its files are written under the writer's own names
    val fresh = stageFiles(spark, df, dir, statsCols, bloomCols,
      applyMapping = carry, bucketize = bucketLayout(spark, dir))
    // appends stage under the table's physical names (mapping from the
    // recorded schema); overwrites stage the writer's own (logical)
    // names, so constraints bind without a mapping
    enforceCheckConstraints(spark, dir, fresh,
      if (carry) latestVersion(spark, dir)
        .flatMap(v => tableSchema(spark, dir, v))
      else None)
    commit(spark, dir, opTag.getOrElse(mode), fresh, carry = carry,
      schemaJson = Some(df.schema.json))
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
      known: Option[org.apache.spark.sql.types.StructType]): Unit = {
    if (entries.isEmpty) return
    val checks = graft.sources.connector.GraftTableProps
      .read(spark.sparkContext.hadoopConfiguration, dir)
      .collect { case (k, sql) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") -> sql
      }.toSeq.sortBy(_._1)
    if (checks.isEmpty) return
    val df = readFiles(spark, dir, entries, knownSchema = known)
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
    val fresh = stageFiles(spark, df, dir, statsCols,
      applyMapping = mode == "append", bucketize = bucketLayout(spark, dir))
    if (fresh.nonEmpty) {
      // staged files carry PHYSICAL names on a mapped table; the
      // declarative checks are written over logical names
      val raw = spark.read.parquet(fresh.map(fe => resolvePath(dir, fe.path)): _*)
      val staged =
        if (mode != "append") raw
        else latestVersion(spark, dir).flatMap(v => tableSchema(spark, dir, v))
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
    val carry = mode match {
      case "overwrite" => false
      case "append" => true
      case other => throw new IllegalArgumentException(
        s"mode must be overwrite|append, got $other")
    }
    commit(spark, dir, opTag.getOrElse(s"gated-$mode"), fresh, carry = carry,
      schemaJson = Some(df.schema.json))
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

  /** A file's CONTENT-CHANGE token: the deletion-vector ref plus the
    * equality-delete ref set. Two manifest entries for the same path
    * are the "same rows" exactly when their tokens match — the unit
    * the commit conflict check compares, so a concurrent dv attach OR
    * eq-delete attach on a file this transaction read aborts it. */
  private def changeToken(fe: FileEntry): Option[String] =
    if (fe.dv.isEmpty && fe.eqDv.isEmpty) None
    else Some(fe.dv.map(_._1).getOrElse("") +
      fe.eqDv.sorted.mkString("#", "#", ""))

  /** A rewrite transaction's file-level read set: each file it read,
    * with the change token seen at read time ([[commit]]'s
    * conflict unit). */
  private def readSetOf(files: Seq[FileEntry]): Map[String, Option[String]] =
    files.map(fe => fe.path -> changeToken(fe)).toMap

  /** `files` as a plain parquet read, NO masking: against `schema`
    * when known (physical names aliased back to logical under column
    * mapping), else the files' merged footer schema. */
  private def readPlain(spark: SparkSession, dir: String, files: Seq[FileEntry],
                        schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val paths = files.map(fe => resolvePath(dir, fe.path))
    schema match {
      case Some(s) if hasMapping(s) =>
        // column mapping: files store PHYSICAL names; read those and
        // alias back to the logical schema (metadata columns still
        // resolve through the projection — Project propagates them)
        spark.read.schema(toPhysical(s)).parquet(paths: _*)
          .select(s.fields.map(f =>
            col(s"`${physicalName(f)}`").as(f.name)).toIndexedSeq: _*)
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Read `files` with deletion vectors applied (merge-on-read) and,
    * when `keepPos`, the per-row provenance columns `__graft_file`
    * (data file basename) and `__graft_pos` (row position within it)
    * retained for callers that build NEW deletion vectors.
    *
    * Shape at scale: the dv sidecars are tiny relative to data (they
    * hold positions of DELETED rows only), so the mask is a broadcast
    * anti-join on (file, pos) — the corpus never shuffles. The
    * per-row cost of materializing `_metadata` + probing the join is
    * paid ONLY by the files that actually carry a vector: the read
    * splits into a plain scan of vector-free files unioned with the
    * masked scan of the dv-carrying subset (both against the same
    * merged schema, so schema evolution behaves exactly like the
    * single mergeSchema read). A dv-free read (the common case) is
    * the untouched plain scan with its pushdown/pruning intact.
    * `_metadata.row_index` gives the in-file position without any
    * row-number window (Spark keeps it file-absolute under row-group
    * pruning). */
  private def readFiles(spark: SparkSession, dir: String, files: Seq[FileEntry],
                        keepPos: Boolean = false,
                        knownSchema: Option[org.apache.spark.sql.types.StructType] = None,
                        version: Option[Long] = None)
      : DataFrame = {
    def withPos(df: DataFrame) = df
      .withColumn("__graft_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    // masked leg = deletion-vector positions AND/OR pending equality
    // deletes; both apply merge-on-read
    val (dvd, plainFiles) = files.partition(fe =>
      fe.dv.isDefined || fe.eqDv.nonEmpty)
    if (dvd.isEmpty)
      return if (!keepPos) readPlain(spark, dir, files, knownSchema)
      else withPos(readPlain(spark, dir, files, knownSchema))
    // the log-recorded schema plans the mixed read directly; absent
    // (legacy / union conflict), one driver-side footer pass fixes the
    // merged schema both legs share
    val schema = knownSchema.getOrElse(readPlain(spark, dir, files, None).schema)
    // masked files: preferred path is the V2 connector's vectorized
    // readers, which apply a deletion vector IN-READER as a per-batch
    // position mask and pending equality deletes against ONE memoized
    // key-set broadcast per scan — one leg however many ref groups the
    // files span, no broadcast join, no per-row `_metadata`
    // materialization. Requires a pinned version (manifest-immutable
    // file subset), a log-recorded schema, the connector's primitive
    // type surface, and pending keys within the connector's read-time
    // cap. Pinned callers: the reads (scan, readRange, readIn,
    // readEquals) and the maintenance rewrites (purgeDeletes, compact,
    // rebucketBroken, reclusterDecayed).
    if (!keepPos && version.isDefined && knownSchema.isDefined &&
        graft.sources.connector.GraftSnapshotSource.isReadable(schema) &&
        graft.sources.connector.SnapshotPartitions.EqSidecars
          .withinCap(dir, dvd)) {
      val dvLeg = spark.read.format("graft_snapshot")
        .option("versionAsOf", version.get)
        .option("graft.fileSubset", dvd.map(_.path).mkString(","))
        .load(dir)
        // literal name references: col() would parse a dotted column
        // name as a nested field path
        .select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
      return if (plainFiles.isEmpty) dvLeg
      else readPlain(spark, dir, plainFiles, Some(schema)).unionByName(dvLeg)
    }
    // the fallback anti-join leg serves everything else: position-
    // keeping callers (DML staging needs `__graft_file`/`__graft_pos`),
    // schema-less legacy chains, non-connector column types, over-cap
    // files the connector refuses (the folds must still read them), and
    // the unpinned copy-on-write reads (deleteOnce's kept rows, the merge
    // rewrite, constraint checks, the change feed's pre/post images).
    // It groups the masked files by their equality-delete ref set
    // (heterogeneous sets arise when appends interleave with
    // deleteByKey epochs): each group dv-masks, then
    // anti-joins the broadcast union of its sidecars' keys — over ALL
    // the sidecar's key columns (composite keys anti-join on the
    // whole tuple; a null member never matches, the === condition's
    // null verdict). Key columns resolve by the sidecar's own
    // (physical) column names.
    def eqMask(leg0: DataFrame, eqs: Seq[String]): DataFrame =
      eqs.foldLeft(leg0) { (leg, pth) =>
        val ks = spark.read.parquet(resolvePath(dir, pth))
        val cond = ks.columns.toSeq.zipWithIndex.map { case (kc, i) =>
          val legCol =
            if (leg.columns.contains(kc)) kc
            else schema.fields.find(f => physicalName(f) == kc)
              .map(_.name).getOrElse(kc)
          leg(s"`$legCol`") === col(s"__eq_key_$i")
        }.reduce(_ && _)
        leg.join(broadcast(ks.select(ks.columns.toSeq.zipWithIndex.map {
            case (kc, i) => col(s"`$kc`").as(s"__eq_key_$i") }: _*)),
          cond, "left_anti")
      }
    val maskedDvd = dvd.groupBy(_.eqDv.sorted).toSeq.sortBy(_._1.mkString(","))
      .map { case (eqs, fs2) =>
        val dvPaths = fs2.flatMap(_.dv.map(_._1)).distinct
        val wp = withPos(readPlain(spark, dir, fs2, Some(schema)))
        val dvMasked =
          if (dvPaths.isEmpty) wp
          else {
            // a shared dv sidecar may carry positions for files outside
            // this read set (or since rewritten under a new name); the
            // anti-join ignores them by construction
            val dv = spark.read
              .parquet(dvPaths.map(p => resolvePath(dir, p)): _*)
              .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
            wp.join(broadcast(dv),
              wp("__graft_file") === dv("__dv_file") &&
                wp("__graft_pos") === dv("__dv_pos"),
              "left_anti")
          }
        eqMask(dvMasked, eqs)
      }.reduce(_ unionByName _)
    val out =
      if (plainFiles.isEmpty) maskedDvd
      else if (keepPos) withPos(readPlain(spark, dir, plainFiles, Some(schema)))
        .unionByName(maskedDvd)
      else readPlain(spark, dir, plainFiles, Some(schema))
        .unionByName(maskedDvd.drop("__graft_file", "__graft_pos"))
    if (keepPos) out else out.drop("__graft_file", "__graft_pos")
  }

  /** The table as of `version` (default: newest). Plans from the
    * log-recorded schema when the commit chain carries one (no footer
    * pass); an EMPTY version with a recorded schema reads as an empty
    * typed DataFrame instead of erroring. */
  def scan(spark: SparkSession, dir: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    if (m.files.isEmpty)
      return known.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(throw new IllegalStateException(
          s"version $v of $dir is empty and records no schema; cannot infer"))
    // mergeSchema: appends may add columns over the table's life
    // (schema evolution); older files surface the new columns as null.
    readFiles(spark, dir, m.files, knownSchema = known, version = Some(v))
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
    readFiles(spark, dir, hit, knownSchema = known, version = Some(v))
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
    readFiles(spark, dir, hit, knownSchema = known, version = Some(v))
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
    readFiles(spark, dir, hit, knownSchema = known, version = Some(v))
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
    * `updates` WIDEN the table (carried files surface them as null via
    * the reader's mergeSchema); columns the updates lack keep the
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
    // table — carried files surface them as null through the reader's
    // mergeSchema; columns the updates LACK keep the target's value on
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
      val base = readFiles(spark, dir, rewrite,
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
    commitStaged(spark, dir, opTag.getOrElse("merge"), fresh,
      removed = readSetOf(rewrite), carry = true,
      // evolution: union the new columns into the recorded schema
      schemaJson = Some(merged.schema.json))
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
    val touched = readFiles(spark, dir, m.files, keepPos = true,
        knownSchema = knownDel)
      .filter(predicate)
      .select(col("__graft_file"))
      .distinct().collect()
      .map(r => r.getString(0)).toSet
    if (touched.isEmpty) return v
    val rewrite = m.files.filter(fe => touched.contains(fileKey(fe.path)))
    val kept = readFiles(spark, dir, rewrite, knownSchema = knownDel)
      .filter(!coalesce(predicate, lit(false)))
    val fresh = stageFiles(spark, kept, dir, statsCols,
      bucketize = bucketLayout(spark, dir))
    commitStaged(spark, dir, "delete", fresh,
      removed = readSetOf(rewrite), carry = true)
  }

  /** Publish `df` as ONE parquet file at `dir/relPath` (temp dir +
    * rename of the sole part file, so readers see a complete file or
    * nothing). Unlike the parquet-anchor writer this THROWS on
    * failure — a deletion vector is load-bearing, not derived. */
  private def writeSingleParquet(spark: SparkSession, dir: String,
                                 df: DataFrame, relPath: String): Unit = {
    val tmp = new Path(dir, s".dv-${java.util.UUID.randomUUID}")
    val f = fs(spark, tmp)
    // ~128 KB row groups (vs the 128 MB default — roughly 40k encoded
    // (file, pos) rows each): the dv sidecar is read by per-FILE
    // maskers with a pushed `file = basename` predicate, and row-group
    // stats can only prune what row-group boundaries expose — a single
    // monolithic group would make the sorted layout unprunable. The
    // per-group footer overhead is trivial against the sidecar's size,
    // and data files are untouched (this writer publishes sidecars
    // only).
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (1 << 17).toString)
      .parquet(tmp.toString)
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
    * copy-on-write), commit a tiny sidecar parquet of (file, pos)
    * row positions and leave the data files untouched. Readers
    * subtract the positions with a broadcast anti-join
    * ([[readFiles]]). This is the Delta/Iceberg deletion-vector /
    * positional-delete design, and it changes the cost class of
    * small deletes at scale: removing 0.01% of rows scattered over a
    * 100 TB table costs O(matched rows) bytes written instead of
    * rewriting every touched multi-GB file (GDPR-style row removal,
    * late-arriving retractions, per-document takedowns).
    *
    * Semantics match [[delete]] exactly: rows where the predicate is
    * TRUE are removed; NULL-evaluating rows are kept. The commit is
    * the same OCC transaction as any rewrite — the touched files are
    * its read set, so a concurrent rewrite of one of them aborts and
    * retries from the fresh snapshot.
    *
    * Each dv commit CONSOLIDATES all live deletion vectors into one
    * new sidecar (prior vectors' rows are carried over), so a
    * version references at most one dv file and read-side masking is
    * a single tiny scan. Consolidation prices the commit at
    * O(total deleted rows); when that stops being small relative to
    * the data — the read-side anti-join degrades with it — run
    * [[purgeDeletes]] (or [[compact]], which purges as it packs) to
    * fold the vectors into the files. */
  def deleteVectors(spark: SparkSession, dir: String,
                    predicate: org.apache.spark.sql.Column): Long =
    retryOnConflict(s"dv-delete from $dir") {
      deleteVectorsOnce(spark, dir, predicate)
    }

  /** Stage the consolidated deletion-vector sidecar for `predicate`'s
    * matches against snapshot `m` (see [[stageDvSidecarFrom]]).
    * `known` routes the scan through column mapping so the (logical)
    * predicate resolves. */
  private def stageDvSidecar(spark: SparkSession, dir: String, m: Manifest,
                             predicate: org.apache.spark.sql.Column,
                             known: Option[org.apache.spark.sql.types.StructType]):
      Option[(String, Seq[FileEntry])] =
    stageDvSidecarFrom(spark, dir, m,
      readFiles(spark, dir, m.files, keepPos = true, knownSchema = known)
        .filter(predicate)
        .select(col("__graft_file").as("file"), col("__graft_pos").as("pos")))

  /** Stage the consolidated deletion-vector sidecar for the given
    * `matched` (file, pos) position rows against snapshot `m`:
    * publishes a new sidecar holding the matched positions plus every
    * prior vector's still-live rows, and returns (sidecar path,
    * dv-carrying replacement entries). None — with the sidecar
    * already cleaned up — when nothing new matched. `matched` must be
    * derived from a keepPos masked read of `m`, which makes it
    * disjoint from already-deleted positions by construction. */
  private def stageDvSidecarFrom(spark: SparkSession, dir: String, m: Manifest,
                                 matched: DataFrame,
                                 failOnDuplicate: Boolean = false):
      Option[(String, Seq[FileEntry])] = {
    import spark.implicits._
    val oldDvPaths = m.files.flatMap(_.dv.map(_._1)).distinct
    val prior =
      if (oldDvPaths.isEmpty) matched.limit(0)
      else {
        // prior sidecars may carry rows for files rewritten since
        // (their names are no longer live) — drop those here so the
        // consolidated vector never grows dead weight
        val live = m.files.map(fe => fileKey(fe.path)).toDF("file")
        spark.read.parquet(oldDvPaths.map(p => resolvePath(dir, p)): _*)
          .select(col("file"), col("pos"))
          .join(broadcast(live), Seq("file"), "left_semi")
      }
    val name = s"data/dv-${java.util.UUID.randomUUID.toString.take(8)}.parquet"
    // sorted by (file, pos) into small row groups: a reader masking ONE
    // file pushes `file = <basename>` and parquet's row-group stats +
    // dictionary filters prune the shared sidecar to that file's run —
    // per-task sidecar decode stays O(own positions), not O(all
    // deleted positions) (the K×D amplification a consolidated sidecar
    // would otherwise cost across K dv-carrying files)
    //
    // Round-18 job fusion (guide §1.2): the single sorted writer task
    // streams every (file, pos) row anyway, so the per-file counts
    // (previously a read-back job over the published sidecar) and the
    // MERGE cardinality check (previously its own groupBy-count job in
    // mergeClauses) both ride the write as accumulators — duplicates
    // are ADJACENT in the sort, so detection is one comparison per
    // row. The counts accumulator collapses through toMap, so a rare
    // duplicated successful attempt (speculation) cannot double-count;
    // the dup flag is only ever read as "> 0".
    val dupAcc = spark.sparkContext.longAccumulator("graft.dv.dupPositions")
    val countsAcc = spark.sparkContext
      .collectionAccumulator[(String, Long)]("graft.dv.fileCounts")
    val sortedChecked = matched.unionByName(prior)
      .repartition(1).sortWithinPartitions("file", "pos")
      .as[(String, Long)]
      .mapPartitions { it =>
        var prevF: String = null
        var prevP = Long.MinValue
        var runRows = 0L
        val checked = it.map { case (f0, p0) =>
          if (f0 == prevF) {
            if (p0 == prevP) dupAcc.add(1)
            runRows += 1
          } else {
            if (prevF != null) countsAcc.add((prevF, runRows))
            runRows = 1
          }
          prevF = f0; prevP = p0
          (f0, p0)
        }
        checked ++ {
          if (prevF != null) countsAcc.add((prevF, runRows))
          Iterator.empty
        }
      }
      .toDF("file", "pos")
    writeSingleParquet(spark, dir, sortedChecked, name)
    val f = fs(spark, new Path(dir))
    if (failOnDuplicate && dupAcc.value > 0) {
      f.delete(new Path(dir, name), false)
      throw new IllegalArgumentException(
        "MERGE cardinality violation: a matched target row has more " +
          "than one source image; deduplicate the source (e.g. " +
          "keep-latest by a version column) before merging")
    }
    val counts: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      countsAcc.value.asScala.toMap
    }
    // Fail-loud fusion pin (round-19, the round-18 advisor's edge):
    // the adjacency dup detection and the per-file counts above are
    // correct ONLY because the write is one sorted task (duplicated
    // successful attempts collapse through toMap; a file split across
    // tasks would split its run). Verify the fused bookkeeping against
    // the published sidecar's own footer row count — one driver
    // metadata read per dv commit — so a future layout change breaks
    // HERE instead of silently under-counting the manifest.
    val writtenRows = readFooterStats(spark.sparkContext.hadoopConfiguration,
      new Path(dir, name), Nil, Nil).rows
    if (counts.values.sum != writtenRows) {
      f.delete(new Path(dir, name), false)
      throw new IllegalStateException(
        s"dv sidecar bookkeeping diverged: accumulator counted " +
          s"${counts.values.sum} rows, the published sidecar holds " +
          s"$writtenRows — the single-sorted-task write invariant broke")
    }
    val oldTotal = m.files.flatMap(_.dv.map(_._2)).sum
    if (counts.values.sum == oldTotal) { // nothing newly matched
      f.delete(new Path(dir, name), false)
      return None
    }
    val touched = m.files.filter(fe => counts.contains(fileKey(fe.path)))
    val entries = touched.map { fe =>
      val n = counts(fileKey(fe.path))
      require(n <= fe.rows, s"dv rows $n exceed file rows ${fe.rows} (${fe.path})")
      fe.copy(dv = Some((name, n)))
    }
    Some((name, entries))
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
                            known: Option[org.apache.spark.sql.types.StructType])
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // nulls cannot lurk when the schema declares the column
    // non-nullable OR the file's writer recorded zero nulls in it
    def nonNull(name: String): Boolean =
      known.exists(_.fields.exists(f => f.name == name && !f.nullable)) ||
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
                             known: Option[org.apache.spark.sql.types.StructType])
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
    * into the consolidated deletion vector. Spark's
    * OverwriteByExpression contract: the inserted rows are NOT
    * validated against the predicate (unlike Delta's opt-in
    * constraint check) — the caller owns that invariant. */
  private[graft] def replaceWhere(spark: SparkSession, dir: String,
                                  added: Seq[FileEntry],
                                  predicate: org.apache.spark.sql.Column,
                                  schemaJson: Option[String],
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
      val known = latestVersion(spark, dir)
        .flatMap(v => tableSchema(spark, dir, v))
      val bad = readFiles(spark, dir, added, knownSchema = known)
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
        commitAdded(spark, dir, "overwrite", added, carry = false,
          schemaJson = schemaJson)
      case Some(_) => retryOnConflict(s"replace-where on $dir") {
        deleteVectorsOnce(spark, dir, predicate, alsoAdd = added,
          opName = "replace-where", schemaJson = schemaJson)
      }
    }
  }

  private def deleteVectorsOnce(spark: SparkSession, dir: String,
                                predicate: org.apache.spark.sql.Column,
                                alsoAdd: Seq[FileEntry] = Nil,
                                opName: String = "delete",
                                schemaJson: Option[String] = None): Long = {
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"cannot delete from empty table $dir"))
    val m = readManifest(spark, dir, v)
    val known = tableSchema(spark, dir, v)
    val expr = org.apache.spark.sql.graftbridge.Bridge.catalystExpression(predicate)
    def allRows(e: org.apache.spark.sql.catalyst.expressions.Expression,
                fe: FileEntry): Boolean = provesAllRows(e, fe, known)
    def noRows(e: org.apache.spark.sql.catalyst.expressions.Expression,
               fe: FileEntry): Boolean = refutesAllRows(e, fe, known)
    // METADATA-ONLY fast path: a file whose stats PROVE every row
    // matches is removed from the manifest whole — no scan, no
    // sidecar, no bytes. A retention delete (`WHERE day < cutoff`) on
    // a day-clustered 100 TB table drops almost every matched file
    // this way and dv-scans only the boundary files; the change feed
    // still replays the removed files' live rows as deletes (removed
    // file → delete rows is already its contract). Files whose stats
    // REFUTE the predicate skip the scan entirely.
    val (dropped, rest) = m.files.partition(fe => allRows(expr, fe))
    val candidates = rest.filterNot(fe => noRows(expr, fe))
    def pruneOnly(): Long =
      if (dropped.isEmpty && alsoAdd.isEmpty) v
      else commit(spark, dir, s"$opName-prune", alsoAdd,
        removed = readSetOf(dropped), carry = true, schemaJson = schemaJson)
    if (candidates.isEmpty) return pruneOnly()
    // the consolidation manifest is every SURVIVING file (rest, not
    // candidates): prior sidecar rows of scan-skipped files must carry
    // into the new vector so a version keeps referencing ONE sidecar;
    // dropped files' prior rows vanish with their files
    val matched = readFiles(spark, dir, candidates, keepPos = true,
      knownSchema = known)
      .filter(predicate)
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
    stageDvSidecarFrom(spark, dir, m.copy(files = rest), matched) match {
      case None => pruneOnly()
      case Some((name, entries)) =>
        val newPaths = entries.map(_.path).toSet
        try commit(spark, dir, s"$opName-dv", entries ++ alsoAdd,
          removed = readSetOf(
            rest.filter(fe => newPaths.contains(fe.path)) ++ dropped),
          carry = true, schemaJson = schemaJson)
        catch {
          case e: CommitConflictException =>
            fs(spark, new Path(dir)).delete(new Path(dir, name), false)
            throw e
        }
    }
  }

  /** EQUALITY DELETE: commit the KEY VALUES, not positions — the
    * Iceberg-v2 equality-delete cost class for high-churn CDC ingest
    * where the key misses the zone maps. [[deleteVectors]] must SCAN
    * the (stats-pruned) candidate files to find matched positions; on
    * an UNCLUSTERED key that is a table scan per epoch. This path
    * writes the distinct keys as one tiny sidecar parquet and attaches
    * its ref to the affected manifest entries — O(batch) bytes and
    * O(files) metadata per epoch, ZERO data reads. Readers subtract
    * matching rows (merge-on-read: the V2 readers mask in-flight, the
    * programmatic path anti-joins); [[purgeDeletes]] and [[compact]]
    * fold pending equality deletes into the files, restoring
    * metadata-exact counts and vectorized reads.
    *
    * Trades, stated plainly: while equality deletes are pending,
    * COUNT cannot answer from metadata for affected files, per-file
    * liveRows is an upper bound, and affected scans run the row-based
    * readers. That is the right trade exactly when deletes are
    * frequent and reads are batched — fold on a maintenance cadence.
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
    deleteByKeysCore(spark, dir, keyCols, keys, alsoAdd = Nil,
      op = "delete-eq", schemaJson = None)

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
                             rebalance: Boolean = true): Long = {
    val fresh = stageFiles(spark, appends, dir, statsCols,
      applyMapping = true, bucketize = bucketLayout(spark, dir),
      rebalance = rebalance)
    enforceCheckConstraints(spark, dir, fresh,
      latestVersion(spark, dir).flatMap(v => tableSchema(spark, dir, v)))
    deleteByKeysCore(spark, dir, keyCols, keys, alsoAdd = fresh,
      op = "cdc-eq", schemaJson = Some(appends.schema.json))
  }

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
      return commitAdded(spark, dir, "overwrite", added, carry = false,
        schemaJson = schemaJson)
    if (added.isEmpty) // empty query output replaces no partitions
      return latestVersion(spark, dir).get
    // distinct identity tuples of the incoming batch, read back off
    // the staged files (physical names), column-pruned — one tiny job
    val keys = spark.read
      .parquet(added.map(fe => resolvePath(dir, fe.path)): _*)
      .select(physKeyCols.zip(keyCols).map { case (p, l) =>
        col(s"`$p`").as(l) }: _*)
      .distinct()
    deleteByKeysCore(spark, dir, keyCols, keys, alsoAdd = added,
      op = "overwrite-dynamic", schemaJson = schemaJson)
  }

  /** [[deleteByKeys]] with an optional atomically-co-committed set of
    * staged files (`alsoAdd`) — dynamic partition overwrite is
    * "delete the incoming tuples + append the incoming files" as ONE
    * commit, so a crash can never leave the delete without the data. */
  private def deleteByKeysCore(spark: SparkSession, dir: String,
                               keyCols: Seq[String], keys: DataFrame,
                               alsoAdd: Seq[FileEntry], op: String,
                               schemaJson: Option[String]): Long =
    retryOnConflict(s"equality delete on $dir") {
      // nothing to refute/mask (empty or all-null key batch, or every
      // file refuted): the co-committed adds still publish. Plain
      // commit, NOT commitStaged: a slot-race conflict must leave the
      // staged files on disk for the retry (the V2 write's abort owns
      // terminal cleanup).
      def addsOnly(v: Long): Long =
        if (alsoAdd.isEmpty) v
        else commit(spark, dir, op, alsoAdd, removed = Map.empty,
          carry = true, schemaJson = schemaJson)
      require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
      require(keyCols.distinct == keyCols,
        s"duplicate key columns in ${keyCols.mkString(",")}")
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot delete from empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      require(keys.columns.length == keyCols.length,
        s"deleteByKeys wants a ${keyCols.length}-column key frame for " +
          s"${keyCols.mkString(",")}, got ${keys.columns.toSeq}")
      // (logical, physical, declared type) per member; types from the
      // CURRENT schema so the sidecar parquet is table-typed
      val members: Seq[(String, Option[org.apache.spark.sql.types.DataType])] =
        keyCols.map { kc =>
          val field = known.flatMap(_.fields.find(_.name == kc))
          val dt = field.map(_.dataType)
          dt.foreach { d =>
            import org.apache.spark.sql.types._
            // DateType (round-18): the canonical sidecar/masking form
            // is DAYS-SINCE-EPOCH digits — what the parquet INT32
            // physically stores, so every reader family (row stringer,
            // columnar vector getInt, executor loadLocal) agrees for
            // free; only the DRIVER-side canonical load must convert
            require(Seq(ByteType, ShortType, IntegerType, LongType,
              StringType, DateType).contains(d),
              s"deleteByKey key '$kc' must be integral, string, or date, " +
                s"got ${d.simpleString}")
          }
          (field.map(physicalName).getOrElse(kc), dt)
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
          dt.fold(col(s"`$src`"))(d =>
            col(s"`$src`").cast(d)).as(phys) }: _*)
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
      val isString = members.map(_._2
        .contains(org.apache.spark.sql.types.StringType))
      try {
      val typedRows = keyDf.limit(1025).collect()
      if (typedRows.isEmpty) return addsOnly(v) // empty batch
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
            if (isString(i) || members(i)._2.isEmpty) None
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
            else if (dt.isEmpty) // legacy chain without a recorded schema:
              Seq(max(lit(null)), max(lit(null))) // no bound, no refutation
            else {
              // DATE → days since epoch (a date cannot CAST to long; the
              // days number is also the physical stats coordinate)
              val num =
                if (dt.contains(org.apache.spark.sql.types.DateType))
                  datediff(col(s"`$phys`"), lit("1970-01-01").cast("date"))
                else col(s"`$phys`")
              Seq(min(num).cast("long"), max(num).cast("long"))
            }
          } :+ count(lit(1)) // the wide batch's key count, same job
          val boundsRow = keyDf.agg(aggExprs.head, aggExprs.tail: _*).head
          val b: Seq[Option[(Long, Long)]] = physCols.indices.map { i =>
            if (isString(i) || members(i)._2.isEmpty || boundsRow.isNullAt(2 * i))
              None
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
      if (affected.isEmpty) return addsOnly(v)
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
      // a small batch's distinct tuples are already ON the driver
      // (typedRows) — write the sidecar directly, zero Spark jobs;
      // wide batches keep the distributed single-file write
      if (smallKeys.isDefined) {
        writeDriverSidecar(spark, dir, rel, keyDf.schema, typedRows.toSeq)
        // seed the reader-side sidecar cache with what we just wrote
        // (round-18): canonical forms replicate EqSidecars.load —
        // integrals/strings via toString (== the string cast), dates
        // as DAYS-SINCE-EPOCH digits (== the datediff canonical);
        // typedRows are distinct + null-free already (keyDf), and
        // messageTypeFor round-trips every member type, so the seeded
        // (name, dtype-json) columns equal the read-back schema's.
        // ONLY when every member's declared type is known (round-19,
        // the round-18 advisor's edge): the legacy arm with no
        // recorded schema skips the type whitelist, and canon()'s
        // toString fallback could then diverge from load()'s
        // canonical (e.g. a timestamp's '... 00:00:00.0') — an
        // unseeded cache just re-reads the sidecar it would have
        // skipped; a wrongly-seeded one silently un-deletes rows.
        val fields = keyDf.schema.fields
        if (members.forall(_._2.isDefined)) {
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
      }
      else writeSingleParquet(spark, dir, keyDf, rel)
      val updated = affected.map(fe => fe.copy(eqDv = (fe.eqDv :+ rel).distinct))
      try commit(spark, dir, op, updated ++ alsoAdd,
        removed = readSetOf(affected), carry = true, schemaJson = schemaJson)
      catch {
        case e: CommitConflictException =>
          fs(spark, new Path(dir)).delete(new Path(dir, rel), false)
          throw e
      }
      } finally keyDf.unpersist()
    }

  /** UPDATE WHERE via deletion vectors (merge-on-read): matched rows'
    * positions join the consolidated vector and their TRANSFORMED
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
    retryOnConflict(s"dv-update of $dir") {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot update empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v)
      val cols = scan(spark, dir, Some(v)).columns.toSeq
      val assign = assignments.toMap
      val unknown = assign.keySet -- cols.toSet
      require(unknown.isEmpty, s"assignments for missing columns $unknown")
      // stats-refuted files skip BOTH scans: an UPDATE WHERE day =
      // yesterday on a day-clustered table reads only the files whose
      // range admits the day, not the table (the prior-dv
      // consolidation still spans every live file)
      val uexpr = org.apache.spark.sql.graftbridge.Bridge
        .catalystExpression(predicate)
      val candidates = m.files.filterNot(refutesAllRows(uexpr, _, known))
      val matched0 =
        if (candidates.isEmpty)
          readFiles(spark, dir, m.files, keepPos = true, knownSchema = known)
            .limit(0)
        else readFiles(spark, dir, candidates, keepPos = true,
          knownSchema = known)
      stageDvSidecarFrom(spark, dir, m, matched0.filter(predicate)
        .select(col("__graft_file").as("file"),
          col("__graft_pos").as("pos"))) match {
        case None => v
        case Some((name, entries)) =>
          val f = fs(spark, new Path(dir))
          try {
            // second predicate-pruned pass stages the post-images
            val updated = readFiles(spark, dir,
              if (candidates.isEmpty) m.files else candidates,
              knownSchema = known)
              .filter(predicate)
              .select(cols.map(c =>
                assign.get(c).map(_.as(c)).getOrElse(col(c))): _*)
            val fresh = stageFiles(spark, updated, dir, statsCols,
              bucketize = bucketLayout(spark, dir))
            // UPDATE post-images are new content: the table's CHECK
            // constraints gate them exactly like an INSERT
            enforceCheckConstraints(spark, dir, fresh, known)
            val newPaths = entries.map(_.path).toSet
            try commit(spark, dir, "update-dv", entries ++ fresh,
              removed = readSetOf(m.files.filter(fe => newPaths.contains(fe.path))),
              carry = true)
            catch {
              case e: CommitConflictException =>
                fresh.foreach(fe => f.delete(new Path(dir, fe.path), false))
                throw e
            }
          } catch {
            case t: Throwable =>
              f.delete(new Path(dir, name), false)
              throw t
          }
      }
    }

  /** MERGE (upsert by key) via DELETION VECTORS — the merge-on-read
    * form of [[merge]], completing the DML triad next to
    * [[deleteVectors]]/[[updateVectors]]: matched target rows'
    * positions join the consolidated vector and EVERY update row
    * (replacements and brand-new keys alike) lands in freshly
    * appended files — one commit, zero data files rewritten.
    * Whole-row-replace semantics identical to [[merge]] without
    * schema evolution. Cost class: O(|updates| + matched positions)
    * bytes, vs the COW merge's rewrite of every file whose key range
    * an update touches — the shape of trickle upserts against a
    * 100 TB table. Read amplification accrues like any vector;
    * [[purgeDeletes]]/[[compact]] are the maintenance valve. */
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

  /** (file, pos) of the live rows of `m` whose `keyCol` is in `keys`,
    * reading only the stats-candidate files (an empty candidate set —
    * every key outside every file's range — short-circuits to an
    * empty frame: nothing to mask). `known` (the version's recorded
    * schema) routes the masked read through column mapping and
    * resolves the physical stats key. */
  private def matchedPositions(spark: SparkSession, dir: String, m: Manifest,
                               keyCol: String, keys: DataFrame,
                               known: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    import spark.implicits._
    val cand = candidateFiles(spark, m, keyCol, keys,
      statsKey = Some(physicalFor(known, keyCol)))
    if (cand.isEmpty) Seq.empty[(String, Long)].toDF("file", "pos")
    else readFiles(spark, dir, cand, keepPos = true, knownSchema = known)
      .join(keys, Seq(keyCol), "left_semi")
      .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
  }

  def mergeVectors(spark: SparkSession, dir: String, updates: DataFrame,
                   keyCol: String, statsCols: Seq[String] = Nil): Long =
    retryOnConflict(s"dv-merge into $dir") {
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot merge into empty table $dir"))
      val m = readManifest(spark, dir, v)
      val cols = scan(spark, dir, Some(v)).columns.toSeq
      require(updates.columns.toSeq == cols,
        s"updates schema ${updates.columns.toSeq} != table schema $cols")
      require(updates.columns.contains(keyCol), s"updates lack merge key $keyCol")
      // standard MERGE cardinality rule: a matched target row must have
      // exactly one source image. Two source rows sharing a key would
      // dv-delete the target once and insert BOTH images — silent
      // duplicate-key rows. Delta and ANSI MERGE raise here; so do we.
      //
      // Deliberately NOT fused into the sidecar write's adjacency
      // detection (round-19, closing the round-18 question): this
      // upsert's contract is source-key uniqueness, and the write-job
      // detector only sees POSITIONS — a duplicate source key that
      // matches no target row never reaches it, so fusing would let
      // that duplicate silently insert BOTH images (duplicate-key rows
      // that double-match the NEXT merge). One O(batch) aggregate over
      // the source epoch is the price of raising on every duplicate,
      // matched or not. (mergeClauses differs by design: its insert
      // clauses legally fire per duplicate source row, so only matched
      // duplicates are violations there — exactly what its fused
      // position-adjacency check sees.)
      val Array(total, distinct) = updates
        .agg(count(col(keyCol)), count_distinct(col(keyCol)))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      if (total != distinct) throw new IllegalArgumentException(
        s"MERGE cardinality violation: ${total - distinct} duplicate " +
          s"source row(s) share a $keyCol value; a matched target row " +
          "must have exactly one source image — deduplicate the source " +
          "(e.g. keep-latest by a version column) before merging")
      val keys = updates.select(col(keyCol)).distinct()
      val matched = matchedPositions(spark, dir, m, keyCol, keys,
        tableSchema(spark, dir, v))
      val staged = stageDvSidecarFrom(spark, dir, m, matched)
      val f = fs(spark, new Path(dir))
      try {
        val fresh = stageFiles(spark, updates.select(cols.map(col): _*),
          dir, statsCols, bucketize = bucketLayout(spark, dir))
        // MERGE post-images are new content: constraints gate them
        enforceCheckConstraints(spark, dir, fresh,
          tableSchema(spark, dir, v))
        staged match {
          case None => // pure insert: nothing matched, plain append
            if (fresh.isEmpty) v
            else commit(spark, dir, "merge-dv", fresh, carry = true)
          case Some((name, entries)) =>
            val newPaths = entries.map(_.path).toSet
            try commit(spark, dir, "merge-dv", entries ++ fresh,
              removed = readSetOf(m.files.filter(fe => newPaths.contains(fe.path))),
              carry = true)
            catch {
              case e: CommitConflictException =>
                fresh.foreach(fe => f.delete(new Path(dir, fe.path), false))
                throw e
            }
        }
      } catch {
        case t: Throwable =>
          staged.foreach { case (name, _) => f.delete(new Path(dir, name), false) }
          throw t
      }
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
    * DELETE, and NOT MATCHED BY SOURCE — generalizing the whole-row
    * upsert of [[mergeVectors]]. Every touched target row's position
    * joins the consolidated vector; every surviving post-image
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
    * once; the corpus itself never shuffles when the source
    * broadcasts (the common CDC shape). */
  def mergeClauses(spark: SparkSession, dir: String, source: DataFrame,
                   keyCol: String,
                   sourceKey: org.apache.spark.sql.Column,
                   matched: Seq[MergeWhenClause],
                   notMatched: Seq[MergeInsertClause],
                   notMatchedBySource: Seq[MergeWhenClause] = Nil,
                   statsCols: Seq[String] = Nil,
                   extraColumns: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : Long =
    retryOnConflict(s"dv-merge-clauses into $dir") {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      require(matched.nonEmpty || notMatched.nonEmpty ||
        notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
      val v = latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(s"cannot merge into empty table $dir"))
      val m = readManifest(spark, dir, v)
      val known = tableSchema(spark, dir, v) // recorded (mapping-carrying)
      val baseSchema = scan(spark, dir, Some(v)).schema
      // WITH SCHEMA EVOLUTION: `extraColumns` WIDEN the table — images
      // carry them, untouched rows read them as null (the same
      // union-schema contract as append-time evolution), and the
      // commit unions them into the recorded schema
      extraColumns.foreach(f => require(
        !baseSchema.fieldNames.contains(f.name),
        s"evolution column '${f.name}' already exists"))
      val logicalSchema = StructType(baseSchema.fields ++
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
      val posSchema = StructType(
        baseSchema.fields.map(_.copy(nullable = true)) ++
          Seq(StructField("__graft_file", StringType),
            StructField("__graft_pos", LongType)))
      val tgt0 =
        if (candidates.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], posSchema)
        else readFiles(spark, dir, candidates, keepPos = true,
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
      try {
        val positions = effect.filter(col("__kind") < 3)
          .select(col("__e_file").as("file"), col("__e_pos").as("pos"))
        // Delta/ANSI cardinality: >1 source row modifying one target
        // row is ambiguous (which image wins?) — raise, don't guess.
        // Detection rides the sidecar write's sorted single task
        // (duplicates are adjacent there), replacing what used to be
        // a separate groupBy-count job per merge (round-18): prior
        // vectors can never collide with fresh positions (the scan
        // masks dv-deleted rows), so any adjacent duplicate IS a
        // source-cardinality violation.
        val staged = stageDvSidecarFrom(spark, dir, m, positions,
          failOnDuplicate = matched.nonEmpty)
        val f = fs(spark, new Path(dir))
        try {
          val post = effect.filter(col("__kind") >= 2).select(cols.map(col): _*)
          val fresh = stageFiles(spark, post, dir, statsCols,
            bucketize = bucketLayout(spark, dir))
          // clause-form MERGE post-images (updates + inserts) are new
          // content: constraints gate them
          enforceCheckConstraints(spark, dir, fresh, known)
          // a widening merge records the UNION schema even when the
          // effect set is empty-of-images (schema evolution is part of
          // the statement's contract)
          val schemaJson =
            if (extraColumns.isEmpty) None else Some(logicalSchema.json)
          staged match {
            case None =>
              if (fresh.isEmpty && extraColumns.isEmpty) v
              else commit(spark, dir, "merge-dv", fresh, carry = true,
                schemaJson = schemaJson)
            case Some((name, entries)) =>
              val newPaths = entries.map(_.path).toSet
              try commit(spark, dir, "merge-dv", entries ++ fresh,
                removed = readSetOf(
                  m.files.filter(fe => newPaths.contains(fe.path))),
                carry = true, schemaJson = schemaJson)
              catch {
                case e: CommitConflictException =>
                  fresh.foreach(fe => f.delete(new Path(dir, fe.path), false))
                  throw e
              }
          }
        } catch {
          case t: Throwable =>
            staged.foreach { case (name, _) =>
              f.delete(new Path(dir, name), false)
            }
            throw t
        }
      } finally effect.unpersist()
    }

  /** [[mergeVectors]] for rows ALREADY staged as data files under the
    * table — the V2 streaming sink's upsert path: its tasks streamed
    * the epoch's rows into `staged` while computing stats/blooms, so
    * the merge costs no second write job. Same dv algebra: matched
    * target positions join the consolidated vector, `staged` commits
    * as the post-image, one version, zero data files rewritten. On an
    * OCC conflict only the sidecar is discarded — the staged files
    * are the caller's (the sink deletes them via abort) and the retry
    * recomputes the vector against the new snapshot and recommits the
    * same files. An empty table commits `staged` as the first version
    * (pure insert). */
  private[graft] def mergeStaged(spark: SparkSession, dir: String,
                                 staged: Seq[FileEntry], keyCol: String,
                                 opTag: String,
                                 schemaJson: Option[String]): Long =
    retryOnConflict(s"staged dv-merge into $dir") {
      latestVersion(spark, dir) match {
        case None =>
          commit(spark, dir, opTag, staged, carry = false,
            schemaJson = schemaJson)
        case Some(v) =>
          val m = readManifest(spark, dir, v)
          val known = tableSchema(spark, dir, v)
          val cols = scan(spark, dir, Some(v)).columns.toSeq
          require(cols.contains(keyCol),
            s"table $dir lacks merge key $keyCol")
          // staged files carry physical names on a mapped table — the
          // knownSchema read aliases them back to logical
          val keys = readFiles(spark, dir, staged, knownSchema = known)
            .select(col(keyCol)).distinct()
          val matched = matchedPositions(spark, dir, m, keyCol, keys, known)
          stageDvSidecarFrom(spark, dir, m, matched) match {
            case None => // pure insert epoch
              commit(spark, dir, opTag, staged, carry = true,
                schemaJson = schemaJson)
            case Some((name, entries)) =>
              val newPaths = entries.map(_.path).toSet
              try commit(spark, dir, opTag, entries ++ staged,
                removed = readSetOf(
                  m.files.filter(fe => newPaths.contains(fe.path))),
                carry = true, schemaJson = schemaJson)
              catch {
                case t: Throwable =>
                  fs(spark, new Path(dir)).delete(new Path(dir, name), false)
                  throw t
              }
          }
      }
    }

  /** Fold every live deletion vector and pending equality delete into
    * its files: masked files are rewritten with only their live rows,
    * the new entries reference no vector or eq ref, and the sidecars
    * become vacuum-reclaimable. Delta's `REORG TABLE ... APPLY (PURGE)`.
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
            val df0 = readFiles(spark, dir, files, knownSchema = known,
              version = Some(v)).coalesce(splits)
            val key = sortKey.filter(k =>
              bucket.isDefined && df0.columns.contains(k))
            val df = key.fold(df0)(k => df0.sortWithinPartitions(col(s"`$k`")))
            stageFiles(spark, df, dir, statsCols).map(_.copy(
              bucket = bucket, bucketN = bucketN,
              sortedBy = key.map(physicalFor(known, _))))
        }
        commitStaged(spark, dir, "purge", fresh,
          removed = readSetOf(dvd), carry = true)
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
    val logicalFor: Map[String, String] = latestVersion(spark, dir)
      .flatMap(v => tableSchema(spark, dir, v))
      .map(_.fields.map(f => physicalName(f) -> f.name)
        .filter(p => p._1 != p._2).toMap)
      .getOrElse(Map.empty)
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
          val df = readFiles(spark, dir, broken, knownSchema = known,
            version = Some(v))
          def csv(k: String): Seq[String] = props.get(k)
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
            .map(pc => known.flatMap(_.fields.find(f => physicalName(f) == pc)
              .map(_.name)).getOrElse(pc))
            .filter(df.columns.contains)
          val fresh = stageFiles(spark, df, dir, csv("statsCols"),
            csv("bloomCols"), bucketize = Some((c, n)))
          commitStaged(spark, dir, "rebucket-heal", fresh,
            removed = readSetOf(broken), carry = true)
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
      val physKey = known.flatMap(_.fields.find(_.name == key))
        .map(physicalName).getOrElse(key)
      val logicalKey = known.flatMap(_.fields.find(f =>
        physicalName(f) == physKey).map(_.name)).getOrElse(key)
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
        .map(pc => known.flatMap(_.fields.find(f => physicalName(f) == pc)
          .map(_.name)).getOrElse(pc))
      val fresh = decayed.flatMap { case ((bucket, bucketN), comp) =>
        val df = readFiles(spark, dir, comp, knownSchema = known,
          version = Some(v))
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
      commitStaged(spark, dir, "recluster", fresh,
        removed = readSetOf(decayed.flatMap(_._2)), carry = true)
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
      schemaJson = tableSchemaJson(spark, dir, toVersion),
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
      // Deletion-vector and equality-delete sidecars are referenced
      // data like any file.
      val referenced = kept.flatMap(readManifest(spark, dir, _).files
        .flatMap(fe => (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv)).toSet
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
    if (expired.nonEmpty) {
      // Promote every RETAINED version whose backward delta fold would
      // walk into the log being dropped — the oldest kept version AND
      // each pinned tag target scattered below it — to a side
      // checkpoint first (temp write + rename, existence-verified — a
      // crash in between leaves the log intact and the next vacuum
      // retries). Content is deterministic, so a concurrent vacuum
      // writing the same checkpoint is benign.
      (pinned :+ kept0.head).distinct.foreach { boundary =>
        val bPath = new Path(logDir(dir), manifestName(boundary))
        val bEntry = parseEntry(readBytes(f, bPath))
        val ckpt = new Path(logDir(dir), ckptName(boundary))
        if (bEntry.kind == "delta" && !f.exists(ckpt)) {
          val m = readManifest(spark, dir, boundary)
          val tmp = new Path(logDir(dir), s".ckpt-${java.util.UUID.randomUUID}.json")
          val out = f.create(tmp, true)
          try out.write(renderEntry(
            LogEntry(m.version, m.op, m.ts, "full", m.files, Nil)).getBytes("UTF-8"))
          finally out.close()
          if (!f.rename(tmp, ckpt) && !f.exists(ckpt))
            throw new IllegalStateException(
              s"could not publish vacuum checkpoint for version $boundary of $dir")
          f.delete(tmp, false) // no-op when rename consumed it
          require(f.exists(ckpt), s"vacuum checkpoint vanished under $dir")
          if (m.files.size >= parquetAnchorMinFiles)
            writeParquetAnchor(spark, dir,
              LogEntry(m.version, m.op, m.ts, "full", m.files, Nil))
        }
      }
      expired.foreach { v =>
        f.delete(new Path(logDir(dir), manifestName(v)), false)
        f.delete(new Path(logDir(dir), ckptName(v)), false) // below the boundary
        f.delete(new Path(logDir(dir), parquetAnchorName(v)), false)
        f.delete(new Path(logDir(dir), f"v$v%010d.lock"), false) // pre-OCC tables
      }
    }
    // reclaim publish temps left by crashed writers — same age gate: a
    // LIVE writer between write and link would otherwise lose its slot
    // spuriously (tryPublish treats the vanished temp as a lost race,
    // which is safe but needless churn)
    f.listStatus(logDir(dir)).toSeq
      .filter(_.getModificationTime <= horizon)
      .map(_.getPath.getName)
      .filter(n => (n.startsWith(".tmp-") && n.endsWith(".json")) ||
        n.startsWith(".ckpt-pq-")) // crashed parquet-anchor temp dirs
      .foreach(n => f.delete(new Path(logDir(dir), n), true))
    // crashed stage/dv-sidecar temp dirs (and fast-forward intent
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
          dv = fe.dv.map { case (p, n) => (absolutize(p), n) },
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
          (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv)
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
          dv = fe.dv.map { case (p, n) => (relOf(p), n) },
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
        (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv)
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
            .flatMap(fe => (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv)
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
      carry = false, schemaJson = schemaJson, keepMapping = true)
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
                            newV: Long, schemaJson: Option[String]): Unit = {
    val f = fs(spark, new Path(dir))
    val mainRoot = f.makeQualified(new Path(dir)).toString
    def isAbs(p: String) = p.startsWith("/") || p.contains(":/")
    val mm = readManifest(spark, dir, newV)
    val bEntries = mm.files.map(fe => fe.copy(
      path = if (isAbs(fe.path)) fe.path else s"$mainRoot/${fe.path}",
      dv = fe.dv.map { case (p, n) =>
        (if (isAbs(p)) p else s"$mainRoot/$p", n) },
      eqDv = fe.eqDv.map(p => if (isAbs(p)) p else s"$mainRoot/$p")))
    commit(spark, bdir, "fast_forward", bEntries, carry = false,
      schemaJson = schemaJson, keepMapping = true)
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
          (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv).toSet == expectPaths
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
      dv = fe.dv.map { case (p, n) => (toMain(p), n) },
      eqDv = fe.eqDv.map(toMain)))
    // intent marker BEFORE the first rename (temp + atomic rename, so
    // a marker that exists is complete; a corrupt one means no move
    // ever ran)
    val marker = new Path(bdir, FfIntentName)
    locally {
      val paths = entries.flatMap(fe =>
        (fe.path +: fe.dv.map(_._1).toSeq) ++ fe.eqDv).distinct
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
          schemaJson = schemaJson, keepMapping = true,
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
      val df = readFiles(spark, dir, files, knownSchema = known,
        version = Some(v))
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
    commitStaged(spark, dir, "compact", fresh,
      removed = readSetOf(groups.flatMap(_._2)), carry = true)
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
    * keepOnly readers. Every other difference (rewrites, dv changes,
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
    def key(fe: FileEntry) = (fe.path, fe.dv.map(_._1), fe.eqDv.sorted)
    import graft.sources.connector.SnapshotPartitions.EqSidecars
    def keySigsOf(refs: Seq[String]): Set[Seq[String]] =
      refs.map(p => EqSidecars.load(resolvePath(dir, p)).colNames).toSet
    // eq-only-grown pairs: identical entries except ACCRUED eq refs.
    // Single-key-COLUMN deltas ride the fast path; a multi-signature
    // delta (distinct key columns across epochs in one range) or a
    // COMPOSITE-key delta would need per-row tuple semantics across
    // its semi-joins, so both keep the general diff (which masks
    // composite refs correctly through readFiles' tuple anti-join).
    val fromByPathDv = from.files.map(fe => (fe.path, fe.dv.map(_._1)) -> fe).toMap
    val (eqPairs, _) = to.files.flatMap { cur =>
      fromByPathDv.get((cur.path, cur.dv.map(_._1)))
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
        def readOr(files: Seq[FileEntry], other: Seq[FileEntry],
                   atV: Long): DataFrame = {
          val use = if (files.nonEmpty) files else other
          val df = readFiles(spark, dir, use,
            knownSchema = tableSchema(spark, dir, atV))
          if (files.nonEmpty) df else df.filter(lit(false))
        }
        val pre0 = readOr(removed, added, fromV)
        val post0 = readOr(added, removed, toV)
        val post = align(post0, pre0)
        val pre = align(pre0, post0).select(post.columns.map(col): _*)
        val cols = post.columns.toSeq
        Some(post.exceptAll(pre).withColumn("change_type", lit("upsert"))
          .unionAll(pre.exceptAll(post).withColumn("change_type", lit("delete")))
          .select((cols :+ "change_type").map(col): _*))
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
        val logical = preSchema
          .flatMap(_.fields.find(f => physicalName(f) == c).map(_.name))
          .getOrElse(c)
        val pre = readFiles(spark, dir, pairs.map(_._1),
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
        val fld = known.flatMap(_.fields.find(_.name == c)).getOrElse(
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
    *     of the physical rows (the read-side anti-join toll and the
    *     dead bytes both grow with the ratio);
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
    val deleted = m0.files.flatMap(_.dv.map(_._2)).sum
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
