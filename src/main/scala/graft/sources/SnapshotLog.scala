package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

import SnapshotTable.{CommitConflictException, Dv, FileEntry, Manifest,
  hasMapping, physicalName, stripMapping}

/** The snapshot table's on-disk log protocol. [[SnapshotTable]] holds
  * the table's operations; this module owns the log they commit
  * through: its paths, the commit-entry codec, resolution of a
  * version's manifest and schema, the commit loop, and expiry. Its
  * API is resolve ([[versions]], [[readManifest]]), read the schema
  * ([[tableSchema]]), [[commit]] and [[expire]].
  *
  * Layout (all paths relative to the table root):
  * {{{
  *   _log/v0000000042.json        one commit entry per committed version
  *   _log/v0000000042.ckpt.json   side checkpoint of a retained delta version
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
  *     write-write conflict throws
  *     [[SnapshotTable.CommitConflictException]] and the operation
  *     recomputes from the new snapshot;
  *  3. publish at `v+1` by writing the manifest bytes to a temp name
  *     and atomically linking/renaming them onto `v<v+1>.json`
  *     (create-exclusive — exactly one writer can own a version).
  *     Losing the race loops back to 2 against the new snapshot.
  * A writer crashing before step 3 leaves only unreferenced staged
  * files — reclaimed by [[SnapshotTable.vacuum]] once older than its
  * retention horizon (age is what distinguishes them from a LIVE
  * txn's staged files, which are also unreferenced until publish) —
  * and can never corrupt the table.
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
  * list) or a DELTA entry (`add` + `remove` relative to the previous
  * version). Overwrite/restore are naturally full;
  * appends/merges/deletes/compacts write deltas, so the per-commit
  * write cost is O(changed files), not O(#files) — at 100 TB a
  * streaming sink's per-micro-batch append serializes a handful of
  * entries, not millions. A reader's backward fold stops at the
  * nearest of two anchors: a full entry, which every
  * [[CheckpointInterval]]-th version commits regardless, or a side
  * checkpoint (`v*.ckpt.json`), which [[expire]] writes (temp-then-
  * rename, verified before anything is deleted) for each retained
  * delta version whose fold would walk into the dropped log — so
  * expired versions disappear while every surviving version stays
  * resolvable. A bounded cache of parsed versions (validated against
  * the commit file's (mtime, len), so a recreated table at the same
  * path misses) parses each commit entry once: that one parse serves
  * the version's schema and its manifest, and makes warm resolution
  * O(changed). Pre-delta-log manifests carry no `kind` field and read
  * as full.
  */
object SnapshotLog {

  /** JSON string escaping for manifest-embedded DATA values (zone-map
    * bounds carry arbitrary user text; paths/column names never
    * needed this). */
  private[sources] def jsonEscape(v: String): String = v.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(dir: String) = new Path(dir, "_log")
  private def manifestName(v: Long) = f"v$v%010d.json"
  private def ckptName(v: Long) = f"v$v%010d.ckpt.json"

  private val ManifestRe = "v(\\d{10})\\.json".r
  private val VersionFileRe = "v(\\d{10})\\..*".r

  /** Every this-many versions a commit writes a full entry even when a
    * delta would do — the anchor that bounds a cold reader's backward
    * fold (Delta Lake's checkpoint interval default, for the same
    * reason). */
  val CheckpointInterval = 10

  /** Schemes whose `rename` is known atomic-and-fails-if-present
    * (the property [[tryPublish]]'s non-`file` branch depends on). */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "webhdfs")

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

  /** True when `dir` holds a log directory: a table, or one whose
    * first commit is in flight. */
  private[graft] def hasLog(f: FileSystem, dir: Path): Boolean =
    f.exists(logDir(dir.toString))

  /** The byte length of `version`'s commit entry. */
  private[graft] def entryBytes(spark: SparkSession, dir: String, version: Long): Long = {
    val p = new Path(logDir(dir), manifestName(version))
    fs(spark, p).getFileStatus(p).getLen
  }

  // --- log entry ser/de (schema is ours, so a hand-written emitter +
  // --- jackson tree reader keeps it dependency-light and explicit) ---

  /** One commit file. `kind` "full": `files` IS the table. `kind`
    * "delta": the table is the previous version's list minus `remove`
    * plus `files`.
    *
    * `schema` is the TABLE's logical schema (Spark StructType JSON)
    * as of this version — recorded on every commit like Delta's
    * metaData action, so readers plan without a footer pass over the
    * file list (at 2k files that pass costs seconds of driver time
    * PER QUERY). Append commits store the union of the previous
    * schema and the batch's (evolution); a same-name type conflict
    * refuses the commit. It is an Option only because
    * [[readManifest]] still parses entries written before schemas
    * were recorded: [[tableSchemaJson]] refuses such a version, and
    * [[SnapshotTable.upgrade]] re-commits the latest one with its
    * footers' schema. */
  private[graft] final case class LogEntry(version: Long, op: String, ts: Long,
                                           kind: String, files: Seq[FileEntry],
                                           remove: Seq[String],
                                           schema: Option[String] = None)

  private def quoted(ss: Seq[String]) = ss.map(s => s"\"$s\"").mkString("[", ",", "]")

  private def renderFiles(sb: StringBuilder, files: Seq[FileEntry]): Unit = {
    // `,"name":{"col":value,…}` in column order; nothing when empty
    def columns[V](name: String, m: Map[String, V])(value: V => String): Unit =
      if (m.nonEmpty) sb.append(m.toSeq.sortBy(_._1)
        .map { case (c, x) => s""""$c":${value(x)}""" }.mkString(s""","$name":{""", ",", "}"))
    sb.append('[')
    files.zipWithIndex.foreach { case (fe, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"path":"${fe.path}","rows":${fe.rows},"stats":{""")
      sb.append(fe.stats.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s""""$c":[$lo,$hi]""" }.mkString(","))
      sb.append("}")
      columns("sstats", fe.strStats) { case (lo, hi) =>
        s"""["${jsonEscape(lo)}","${jsonEscape(hi)}"]""" }
      columns("bloom", fe.bloom)(_.mkString("[", ",", "]"))
      columns("ndv", fe.ndv)(_.mkString("[", ",", "]"))
      fe.dv.foreach { d =>
        if (d.legacy) sb.append(s""","dv":{"path":"${d.path}","n":${d.rows}}""")
        else sb.append(s""","dv":{"path":"${d.path}","off":${d.offset},""" +
          s""""len":${d.size},"n":${d.rows}}""")
      }
      if (fe.noNulls.nonEmpty) sb.append(s""","nn":${quoted(fe.noNulls.sorted)}""")
      if (fe.eqDv.nonEmpty) sb.append(s""","eq":${quoted(fe.eqDv)}""")
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
    if (e.kind == "delta") sb.append(s""""remove":${quoted(e.remove)},""")
    // StructType.json is itself valid JSON — embedded raw
    e.schema.foreach(s => sb.append(s""""schema":$s,"""))
    sb.append(""""files":""")
    renderFiles(sb, e.files)
    sb.append('}')
    sb.toString
  }

  // Every field but path, rows and stats is absent on entries written
  // before it existed: a missing array or object reads as empty, a
  // missing scalar as None.
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toVector
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toVector
  private def byColumn[V](n: JsonNode)(value: JsonNode => V): Map[String, V] =
    n.properties().asScala.iterator.map(e => e.getKey -> value(e.getValue)).toMap
  private def opt[V](n: JsonNode)(value: JsonNode => V): Option[V] =
    if (n.isMissingNode) None else Some(value(n))

  private def parseFiles(node: JsonNode): Seq[FileEntry] =
    node.elements().asScala.map { fe =>
      FileEntry(fe.get("path").asText, fe.get("rows").asLong,
        stats = byColumn(fe.get("stats"))(v => (v.get(0).asLong, v.get(1).asLong)),
        bloom = byColumn(fe.path("bloom"))(longs),
        dv = opt(fe.path("dv"))(d =>
          if (d.path("off").isMissingNode) // a retired sidecar ref
            Dv(d.get("path").asText, -1L, -1, d.get("n").asLong)
          else Dv(d.get("path").asText, d.get("off").asLong, d.get("len").asInt,
            d.get("n").asLong)),
        bucket = opt(fe.path("bucket"))(_.asInt),
        sortedBy = opt(fe.path("sortedBy"))(_.asText),
        bucketN = opt(fe.path("bucketN"))(_.asInt),
        noNulls = strings(fe.path("nn")),
        strStats = byColumn(fe.path("sstats"))(v => (v.get(0).asText, v.get(1).asText)),
        ndv = byColumn(fe.path("ndv"))(longs),
        eqDv = strings(fe.path("eq")))
    }.toVector

  private[sources] def readBytes(f: FileSystem, p: Path): Array[Byte] = {
    val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
    val in = f.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes
  }

  private def parseEntry(bytes: Array[Byte]): LogEntry = {
    val root = new ObjectMapper().readTree(bytes)
    LogEntry(root.get("version").asLong, root.get("op").asText,
      root.path("ts").asLong(0L), // absent on pre-ts manifests
      // absent only on pre-delta-log chains, which upgrade reads
      // through readManifest
      root.path("kind").asText("full"),
      parseFiles(root.get("files")), strings(root.path("remove")),
      opt(root.path("schema"))(_.toString))
  }

  // --- resolution: one parse per cached version serves both its
  // --- schema and its manifest, which folds the delta log ---

  /** One parsed version: its commit file's (mtime, len) stamp, its
    * entry, and its manifest once [[readManifest]] has resolved it. */
  private final case class Cached(mtime: Long, len: Long, entry: LogEntry,
                                  manifest: Option[Manifest])

  /** Bounded LRU of parsed versions keyed by (table dir, version),
    * validated against the commit file's (mtime, len): a commit entry
    * is immutable once published, but a table dir deleted and
    * recreated at the same path (tests) restarts the log — the fresh
    * commit file's stamp misses and the version re-parses. Accessed
    * under its own lock; values are immutable. */
  private val resolveCacheMax = 64
  private val resolveCache =
    new java.util.LinkedHashMap[(String, Long), Cached](resolveCacheMax, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, Long), Cached]): Boolean =
        size > resolveCacheMax
    }

  /** Test hook: force the next resolutions cold (the cache is
    * otherwise correct by construction — commit files are immutable —
    * so production code never needs this). */
  private[graft] def invalidateResolveCache(): Unit =
    resolveCache.synchronized(resolveCache.clear())

  /** `version`'s cached parse: a stat of its commit file, plus one open
    * and one parse when the cache misses. */
  private def cached(spark: SparkSession, dir: String, version: Long): Cached = {
    val p = new Path(logDir(dir), manifestName(version))
    val f = fs(spark, p)
    require(f.exists(p), s"no version $version under $dir")
    val st = f.getFileStatus(p)
    val key = (dir, version)
    resolveCache.synchronized {
      val hit = resolveCache.get(key)
      if (hit != null && hit.mtime == st.getModificationTime && hit.len == st.getLen)
        return hit
    }
    val c = Cached(st.getModificationTime, st.getLen, parseEntry(readBytes(f, p)), None)
    resolveCache.synchronized(resolveCache.put(key, c))
    c
  }

  /** `version`'s commit entry, as parsed (cached like its manifest). */
  private[sources] def entry(spark: SparkSession, dir: String, version: Long): LogEntry =
    cached(spark, dir, version).entry

  /** The resolved manifest of `version`: walks backward through delta
    * entries to the nearest full anchor (a full commit, or a vacuum
    * checkpoint at this version) and folds forward. Warm calls are
    * O(1) via the cache; cold calls read at most
    * [[CheckpointInterval]] delta entries plus one anchor. */
  def readManifest(spark: SparkSession, dir: String, version: Long): Manifest = {
    val c = cached(spark, dir, version)
    c.manifest.getOrElse {
      val entry = c.entry
      val m = entry.kind match {
        case "full" => Manifest(entry.version, entry.op, entry.files, entry.ts)
        case "delta" =>
          val ckpt = new Path(logDir(dir), ckptName(version))
          val f = fs(spark, ckpt)
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
        case kind => throw new IllegalStateException(
          s"unknown log entry kind '$kind' at version $version of $dir")
      }
      resolveCache.synchronized(resolveCache.put((dir, version), c.copy(manifest = Some(m))))
      m
    }
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

  /** The table schema recorded in `version`'s commit entry: the
    * cached parse ([[entry]]), so at most one small-file read — NO
    * footer pass, no manifest fold. A version written before every
    * commit recorded its schema refuses, naming the upgrade. */
  private[graft] def tableSchemaJson(spark: SparkSession, dir: String,
                                     version: Long): String =
    entry(spark, dir, version).schema.getOrElse(
      throw new IllegalStateException(
        s"version $version of $dir records no schema (it predates " +
          "schema-recording commits): run CALL <catalog>.system.upgrade(" +
          "'<table>') or SnapshotTable.upgrade(spark, dir) once, then retry"))

  /** [[tableSchemaJson]] as a StructType, every field forced nullable
    * (schema evolution surfaces missing columns as null, and reads
    * must never promise more than the files deliver). */
  private[graft] def tableSchema(spark: SparkSession, dir: String,
                                 version: Long): StructType = {
    val st = DataType.fromJson(tableSchemaJson(spark, dir, version)).asInstanceOf[StructType]
    StructType(st.fields.map(_.copy(nullable = true)))
  }

  private def stripMappingJson(j: String): String = {
    val st = DataType.fromJson(j).asInstanceOf[StructType]
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
      spark: SparkSession, dir: String, prevSchemaJson: String): Unit = {
    val prev = DataType.fromJson(prevSchemaJson).asInstanceOf[StructType]
    if (!hasMapping(prev)) return
    val logicalFor: Map[String, String] = prev.fields
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
    * fields append — the order a merged footer schema has. A same-name
    * type conflict throws, naming the column: no recorded schema
    * could describe both the old files and the new ones. Types equal
    * up to nested nullability are no conflict: the recorded type takes
    * the wider nullability ([[widenNullability]]). A new field
    * whose name collides with a RENAMED column's physical name throws
    * too: files still carry data under that physical name, so the
    * "new" column would silently resurrect the renamed column's old
    * values in every pre-rename file. */
  private[sources] def unionSchemaJson(prevJson: String, newJson: String): String = {
    val prev = DataType.fromJson(prevJson).asInstanceOf[StructType]
    val next = DataType.fromJson(newJson).asInstanceOf[StructType]
    val prevByName = prev.fields.map(f => f.name -> f.dataType).toMap
    val nextByName = next.fields.map(f => f.name -> f.dataType).toMap
    val conflicts = next.fields.toSeq.flatMap(f =>
      prevByName.get(f.name).filter(widenNullability(_, f.dataType).isEmpty).map(t =>
        s"'${f.name}' is ${t.simpleString} in the table but " +
          s"${f.dataType.simpleString} in this write"))
    if (conflicts.nonEmpty) throw new IllegalArgumentException(
      s"schema conflict: column ${conflicts.mkString("; ")} — add an " +
        "explicit CAST, or overwrite the table")
    val kept = prev.fields.map(f => nextByName.get(f.name)
      .fold(f)(t => f.copy(dataType = widenNullability(f.dataType, t).get)))
    val newFields = next.fields.filterNot(f => prevByName.contains(f.name))
    val prevPhysical = prev.fields.map(physicalName).toSet -- prevByName.keySet
    val clash = newFields.map(_.name).filter(prevPhysical.contains)
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"cannot add column(s) ${clash.mkString(", ")}: the name is the " +
        "PHYSICAL name of a renamed column and existing files still " +
        "carry its data — pick a different name (or add it via ALTER " +
        "TABLE, which assigns a fresh physical name)")
    StructType(kept ++ newFields).json
  }

  /** `prev` widened to admit `next`'s nulls when the two are the same
    * type up to nullability (an UPDATE's `struct(lit(99), …)` image
    * over a table whose struct fields are declared non-null); None on
    * a real type conflict. Nullability only ever widens, so a read
    * never promises more than any file delivers. */
  private[sources] def widenNullability(prev: DataType, next: DataType): Option[DataType] = {
    (prev, next) match {
      case (ArrayType(p, pNull), ArrayType(n, nNull)) =>
        widenNullability(p, n).map(ArrayType(_, pNull || nNull))
      case (MapType(pk, pv, pNull), MapType(nk, nv, nNull)) =>
        for (k <- widenNullability(pk, nk); v <- widenNullability(pv, nv))
          yield MapType(k, v, pNull || nNull)
      case (StructType(pf), StructType(nf)) if pf.length == nf.length =>
        val fields = pf.zip(nf).map { case (a, b) =>
          if (a.name != b.name) None
          else widenNullability(a.dataType, b.dataType)
            .map(t => a.copy(dataType = t, nullable = a.nullable || b.nullable))
        }
        if (fields.forall(_.isDefined)) Some(StructType(fields.map(_.get))) else None
      case _ => Some(prev).filter(_ == next)
    }
  }

  /** Rebase-validate-publish commit (the protocol in the object doc).
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
    * [[CommitConflictException]]; returns the committed version.
    * Every entry records a schema: a commit with none to record, or
    * whose union with the previous one conflicts, refuses.
    * `owned`: the paths (relative to `dir`) this txn alone wrote for
    * this commit — its staged data files, its DV file — so a refusal
    * raised before the publish attempt deletes them (no version
    * references them); nothing is deleted once a publish may have
    * won, and files a caller staged and owns are never listed. */
  private[graft] def commit(spark: SparkSession, dir: String, op: String,
                     added: Seq[FileEntry],
                     removed: Map[String, Option[String]] = Map.empty,
                     carry: Boolean = false,
                     schemaJson: Option[String] = None,
                     replaceSchema: Boolean = false,
                     keepMapping: Boolean = false,
                     expectLatest: Option[Long] = None,
                     owned: Seq[String] = Nil): Long = {
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
    var publishing = false // past this point a publish may have won
    try {
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
          val currentDv = current.map(fe => fe.path -> SnapshotTable.changeToken(fe)).toMap
          val gone = removed.filter { case (p, sawDv) =>
            !currentDv.get(p).contains(sawDv)
          }.keys
          if (gone.nonEmpty) throw new CommitConflictException(
            s"write-write conflict under $dir: concurrent commit changed " +
              s"${gone.mkString(", ")} after this $op read them")
        }
        // a version never carries a retired sidecar pointer forward:
        // only upgrade, which converts every one, commits on such a table
        (current.filterNot(fe => removed.contains(fe.path)) ++ added)
          .find(_.dv.exists(_.legacy))
          .foreach(fe => throw DeletionVectors.legacyRefusal(dir, fe.path))
        val v = latest.getOrElse(0L) + 1
        // schema chain: every version records one. A fresh/overwritten
        // table records the writer's schema; a carrying commit unions it
        // with (or just carries) the previous version's — except
        // replaceSchema commits (ALTER DROP/RENAME COLUMN), whose schema
        // REPLACES the chain's (a union can only widen).
        val entrySchema: String =
          if (replaceSchema) {
            require(carry && incomingSchema.isDefined,
              "replaceSchema needs a carrying commit with a schema")
            incomingSchema.get
          } else if (!carry || latest.isEmpty) incomingSchema.getOrElse(
            throw new IllegalArgumentException(
              s"$op on $dir records no schema: every version must record one"))
          else {
            val prev = tableSchemaJson(spark, dir, latest.get)
            incomingSchema.fold(prev)(unionSchemaJson(prev, _))
          }
        // an overwrite retires the previous schema's rename mapping; read
        // it BEFORE publishing, so a pre-schema table refuses untouched
        val retiredSchema =
          if (carry || replaceSchema || keepMapping) None
          else latest.map(tableSchemaJson(spark, dir, _))
        // overwrite/restore replace the whole list (naturally full), and
        // every CheckpointInterval-th version anchors the log so a cold
        // reader's backward fold is bounded; everything else commits the
        // O(changed-files) delta.
        val entry =
          if (!carry || v % CheckpointInterval == 0) {
            val outFiles = current.filterNot(fe => removed.contains(fe.path)) ++ added
            LogEntry(v, op, System.currentTimeMillis(), "full", outFiles, Nil,
              Some(entrySchema))
          } else
            LogEntry(v, op, System.currentTimeMillis(), "delta", added,
              removed.keys.toSeq.sorted, Some(entrySchema))
        publishing = true
        if (tryPublish(f, ld, entry)) {
          // a mapping-dropping overwrite retires the physical names; the
          // layout props that referenced them follow the rename
          retiredSchema.foreach(followPropsAfterMappingDrop(spark, dir, _))
          return v
        }
        publishing = false
        attempts += 1 // lost the slot race; rebase onto the winner and retry
        if (attempts > 10000) throw new IllegalStateException(
          s"could not publish a version under $dir after $attempts attempts")
      }
      -1L // unreachable
    } catch {
      case e: Throwable if !publishing =>
        owned.foreach(p => f.delete(new Path(dir, p), false))
        throw e
    }
  }

  /** Expire the log below the retained versions. When any version
    * expires, every `anchors` version (the oldest kept one and each
    * tag-pinned one below it) whose backward fold would walk into the
    * dropped log is promoted to a side checkpoint first: temp write +
    * rename, existence-verified, so a crash in between leaves the log
    * intact and the next expiry retries. Content is deterministic, so
    * a concurrent expiry writing the same checkpoint is benign. Then
    * the `expired` versions' names are deleted, and publish temps
    * older than `horizon` (epoch millis) are reclaimed. */
  private[sources] def expire(spark: SparkSession, dir: String, expired: Seq[Long],
                              anchors: Seq[Long], horizon: Long): Unit = {
    val ld = logDir(dir)
    val f = fs(spark, ld)
    if (expired.nonEmpty) anchors.foreach { boundary =>
      val ckpt = new Path(ld, ckptName(boundary))
      if (entry(spark, dir, boundary).kind == "delta" && !f.exists(ckpt)) {
        val m = readManifest(spark, dir, boundary)
        val tmp = new Path(ld, s".ckpt-${java.util.UUID.randomUUID}.json")
        val out = f.create(tmp, true)
        try out.write(renderEntry(
          LogEntry(m.version, m.op, m.ts, "full", m.files, Nil)).getBytes("UTF-8"))
        finally out.close()
        if (!f.rename(tmp, ckpt) && !f.exists(ckpt))
          throw new IllegalStateException(
            s"could not publish vacuum checkpoint for version $boundary of $dir")
        f.delete(tmp, false) // no-op when rename consumed it
        require(f.exists(ckpt), s"vacuum checkpoint vanished under $dir")
      }
    }
    // One listing serves expiry and the temp reclaim. Every log name
    // of an expired version N starts with `v<N>.`: its commit file, a
    // checkpoint below the boundary, and what older layouts left beside
    // them (parquet checkpoints, pre-OCC `.lock` files). Commit files go
    // last, so a crash part-way leaves N listed for the next expiry.
    val gone = expired.toSet
    val (expiredNames, others) = f.listStatus(ld).toSeq.partition(
      _.getPath.getName match {
        case VersionFileRe(v) => gone(v.toLong)
        case _ => false
      })
    val (commits, sideFiles) =
      expiredNames.partition(st => ManifestRe.matches(st.getPath.getName))
    (sideFiles ++ commits).foreach(st => f.delete(st.getPath, false))
    // reclaim publish temps left by crashed writers — same age gate: a
    // LIVE writer between write and link would otherwise lose its slot
    // spuriously (tryPublish treats the vanished temp as a lost race,
    // which is safe but needless churn)
    others.filter(_.getModificationTime <= horizon)
      .map(_.getPath)
      .filter(p => (p.getName.startsWith(".tmp-") && p.getName.endsWith(".json")) ||
        p.getName.startsWith(".ckpt-pq-")) // crashed parquet-checkpoint temp dirs
      .foreach(f.delete(_, true))
  }
}
