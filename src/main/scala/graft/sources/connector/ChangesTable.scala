package graft.sources.connector

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.FileEntry

/** The SQL change feed: `SELECT * FROM cat.ns.t.changes` — every
  * committed version's row-level changes, as a DISTRIBUTED V2 scan
  * (nothing is collected to the driver; the programmatic
  * `SnapshotTable.changes` remains the two-version multiset-diff
  * API). Output is the table's current columns plus
  *
  *  - `change_type`: 'upsert' (row present after the commit, absent
  *    before) or 'delete' (present before, absent after);
  *  - `commit_version`: the version that introduced the change —
  *    filter on it (`WHERE commit_version > 7`) and the scan PLANS
  *    only those versions' diffs (pushed at the manifest level, like
  *    Delta's `table_changes(start, end)` arguments).
  *
  * How a version's changes are derived — entirely from the manifest
  * diff, O(changed files), zero data I/O on the driver:
  *
  *  - a file ADDED by the version replays its (dv-masked) rows as
  *    upserts; a file REMOVED replays its previous live rows as
  *    deletes (a rewritten row is one of each, Delta-CDF semantics);
  *  - a file whose DELETION VECTOR changed replays exactly the
  *    newly-deleted positions as deletes (and any restored positions
  *    as upserts) — the reader loads the pre- and post-version
  *    bitmaps and keeps their `andNot`;
  *  - versions whose op is CONTENT-NEUTRAL by contract (compact,
  *    purge, rebucket, rebucket-heal) are skipped outright: their file
  *    churn is layout, not data — without this a compaction would
  *    replay the whole table as delete+upsert noise.
  *
  * Rows of historical files are projected onto the CURRENT schema
  * (dropped columns disappear from the feed; renamed columns resolve
  * through the frozen physical names). Reading changes whose base
  * files were vacuumed fails with the vacuum horizon's file-not-found
  * — the same contract as `SnapshotTable.changes`.
  */
object ChangesTable {

  /** Ops whose commits never change table CONTENT — diffs skipped. */
  private val ContentNeutralOps =
    Set("compact", "purge", "rebucket", "rebucket-heal", "recluster")

  private[connector] def apply(spark: SparkSession, dir: String): Table = {
    val v = SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
    new SnapshotChangesTable(dir, SnapshotTable.tableSchema(spark, dir, v))
  }

  private[connector] def feedSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields.map(_.copy(nullable = true)) ++ Seq(
      StructField("change_type", StringType, nullable = false),
      StructField("commit_version", LongType, nullable = false)))

  /** Driver-side planning: one diff per in-range, content-changing
    * version. Manifests resolve through the shared cache, so a feed
    * read costs O(versions-in-range × changed files) metadata. */
  private[connector] def planChanges(spark: SparkSession, dir: String,
                                     loV: Long, hiV: Long)
      : Seq[ChangeFilePartition] = {
    val vs = SnapshotTable.versions(spark, dir)
    val out = Seq.newBuilder[ChangeFilePartition]
    vs.zip(None +: vs.map(Some(_))).foreach { case (v, prevV) =>
      if (v >= loV && v <= hiV) {
        val m = SnapshotTable.readManifest(spark, dir, v)
        if (!ContentNeutralOps.contains(m.op)) {
          val prev: Seq[FileEntry] = prevV
            .map(SnapshotTable.readManifest(spark, dir, _).files)
            .getOrElse(Nil)
          val prevByPath = prev.map(fe => fe.path -> fe).toMap
          val curByPath = m.files.map(fe => fe.path -> fe).toMap
          // a file's pending EQUALITY deletes mask its replays exactly
          // like its dv does. Partitions carry the sidecar REFS only —
          // readers resolve the merged key sets off the factory's one
          // broadcast per read (the same shape as the main scan); the
          // eqKeep sets stay inline because they are epoch-sized
          // fresh-key deltas by construction.
          def whole(fe: FileEntry) = SnapshotPartitions.partitionFor(dir, fe)
          def part(file: SnapshotFilePartition, tpe: String,
                   keepFrom: Option[SnapshotTable.Dv] = None,
                   keepMinus: Option[SnapshotTable.Dv] = None,
                   eqKeep: Option[EqSidecar] = None) =
            ChangeFilePartition(file, keepFrom, keepMinus, tpe, v, eqKeep)
          m.files.filterNot(fe => prevByPath.contains(fe.path)).foreach(fe =>
            out += part(whole(fe), "upsert"))
          prev.filterNot(fe => curByPath.contains(fe.path)).foreach(fe =>
            out += part(whole(fe), "delete"))
          // same path, different vector: replay only the delta (rows
          // already equality-deleted at the PREVIOUS version never
          // re-emit — they were deleted then, not now)
          m.files.foreach { cur =>
            prevByPath.get(cur.path).foreach { old =>
              if (old.dv != cur.dv) {
                val oldDv = SnapshotPartitions.resolvedDv(dir, old)
                val curDv = SnapshotPartitions.resolvedDv(dir, cur)
                val unvectored = whole(old).copy(dv = None)
                if (curDv.isDefined) // newly-deleted = curDv \ oldDv
                  out += part(unvectored, "delete",
                    keepFrom = curDv, keepMinus = oldDv)
                if (oldDv.isDefined) // restored = oldDv \ curDv
                  out += part(unvectored, "upsert",
                    keepFrom = oldDv, keepMinus = curDv)
              }
              // same path, new equality-delete refs: the commit deleted
              // the rows matching the NEW keys (minus keys already
              // pending) — replay exactly those as delete pre-images
              val newRefs = cur.eqDv.filterNot(old.eqDv.contains)
              if (newRefs.nonEmpty) {
                // "already pending" matches by key-column NAMES: the
                // canonical string forms are width-invariant, so a
                // widening between epochs still dedupes correctly
                val oldKeys: Map[Seq[String], Set[String]] =
                  SnapshotPartitions.EqSidecars.skipFor(dir, old)
                    .map(e => e.colNames -> e.keys.toSet).toMap
                val fresh = newRefs
                  .map(pp => SnapshotPartitions.EqSidecars
                    .load(SnapshotTable.resolvePath(dir, pp)))
                  .groupBy(_.colNames)
                  .map { case (cs, ss) =>
                    EqSidecar(ss.head.cols, ss.flatMap(_.keys).distinct
                      .filterNot(oldKeys.getOrElse(cs, Set.empty)))
                  }.filter(_.keys.nonEmpty)
                fresh.toSeq.sortBy(_.colNames.mkString(",")).foreach { e =>
                  out += part(whole(cur).copy(eqDvUris = whole(old).eqDvUris),
                    "delete", eqKeep = Some(e))
                }
              }
            }
          }
        }
      }
    }
    out.result()
  }
}

/** One change-feed read unit: a data file replayed through the
  * connector's file reader ([[SnapshotColumnarFileReader]]) with the
  * change metadata appended to every row. `file` names the vector and
  * the pending equality-delete refs to SKIP, exactly as a table scan's
  * partition does (key sets resolve executor-side — off the batch
  * feed's one broadcast, or loaded per partition in the streaming
  * factory — never the task closure); `keepFrom` minus `keepMinus`
  * (deletion-vector pointers) and `eqKeep` (a commit's fresh
  * keys) narrow the replay to just the rows a commit changed. */
final case class ChangeFilePartition(file: SnapshotFilePartition,
                                     keepFrom: Option[SnapshotTable.Dv],
                                     keepMinus: Option[SnapshotTable.Dv],
                                     changeType: String, version: Long,
                                     eqKeep: Option[EqSidecar] = None)
  extends InputPartition

final class SnapshotChangesTable(dir: String, tableSchema: StructType)
  extends Table with SupportsRead {

  override def name(): String = s"graft_snapshot($dir).changes"
  override def schema(): StructType = ChangesTable.feedSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChangesScanBuilder(dir, tableSchema, options)
}

/** Version-range pushdown: `commit_version` comparisons narrow the
  * planned versions (all filters stay residual — Spark re-applies
  * them, so the bounds only ever need to be conservative). Feed reads
  * are deliberately full-row (no column pruning): a CDC consumer
  * needs the whole post-image anyway, and positional alignment
  * between the file readers and the feed schema stays trivial. */
final class ChangesScanBuilder(dir: String, tableSchema: StructType,
                               options: CaseInsensitiveStringMap =
                                 CaseInsensitiveStringMap.empty())
  extends ScanBuilder with SupportsPushDownFilters {

  // `startingVersion`/`endingVersion` reader options bound the feed
  // the same way pushed `commit_version` predicates do (Delta's
  // table_changes(start, end) arguments); predicates compose by
  // narrowing further
  // number-or-tag version tokens; `startingTimestamp` resolves
  // at-or-AFTER the instant (the CDC-safe Delta contract — never
  // replay the commit preceding a wall-clock cutover) while
  // `endingTimestamp` keeps at-or-before ("the feed up to then")
  private def tok(name: String, tsName: String, atOrAfter: Boolean): Option[Long] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val v = Option(options.get(name))
    val t = Option(options.get(tsName))
    require(v.isEmpty || t.isEmpty, s"$name and $tsName are mutually exclusive")
    v.map(SnapshotTable.resolveVersionToken(spark, dir, _))
      .orElse(t.map(s =>
        if (atOrAfter)
          SnapshotTable.versionAtOrAfter(spark, dir, SnapshotTable.parseInstantMs(s))
        else SnapshotTable.versionAt(spark, dir, SnapshotTable.parseInstantMs(s))))
  }
  private var loV = tok("startingVersion", "startingTimestamp", atOrAfter = true)
    .getOrElse(Long.MinValue)
  private var hiV = tok("endingVersion", "endingTimestamp", atOrAfter = false)
    .getOrElse(Long.MaxValue)
  private var pushed: Array[Filter] = Array.empty

  private def longOf(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def walk(f: Filter): Unit = f match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo("commit_version", v) => longOf(v).foreach { l =>
        loV = math.max(loV, l); hiV = math.min(hiV, l)
        pushed :+= f
      }
      case GreaterThan("commit_version", v) => longOf(v).foreach { l =>
        loV = math.max(loV, l + 1); pushed :+= f
      }
      case GreaterThanOrEqual("commit_version", v) => longOf(v).foreach { l =>
        loV = math.max(loV, l); pushed :+= f
      }
      case LessThan("commit_version", v) => longOf(v).foreach { l =>
        hiV = math.min(hiV, l - 1); pushed :+= f
      }
      case LessThanOrEqual("commit_version", v) => longOf(v).foreach { l =>
        hiV = math.min(hiV, l); pushed :+= f
      }
      case _ => ()
    }
    filters.foreach(walk)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ChangesScan(dir, tableSchema, loV, hiV, options)
}

final class ChangesScan(dir: String, tableSchema: StructType,
                        loV: Long, hiV: Long,
                        options: CaseInsensitiveStringMap =
                          CaseInsensitiveStringMap.empty())
  extends Scan with Batch {

  override def readSchema(): StructType = ChangesTable.feedSchema(tableSchema)

  override def description(): String =
    s"graft_snapshot $dir change feed, versions [$loV, $hiV]"

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangesMicroBatchStream(dir, tableSchema, options)

  override def planInputPartitions(): Array[InputPartition] =
    ChangesTable.planChanges(SparkSession.active, dir, loV, hiV).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // readers bind the files' PHYSICAL column names; output stays
    // positional under the logical feed schema. planChanges is pure
    // over cached manifests, so re-planning here to collect the
    // pending sidecar refs for the broadcast costs metadata only.
    val refs = ChangesTable.planChanges(SparkSession.active, dir, loV, hiV)
      .flatMap(_.file.eqDvUris)
    new ChangesReaderFactory(SnapshotTable.toPhysical(tableSchema),
      SnapshotPartitions.EqSidecars.broadcastForUris(refs))
  }
}

/** The change feed as a Structured Streaming source — the Delta-CDF
  * stream: each micro-batch emits the ROW-LEVEL diffs of a range of
  * versions (upserts AND deletes, with `change_type`/`commit_version`
  * on every row), so a downstream table can apply real CDC — deletes
  * propagate, unlike the append-only table stream (whose
  * `ignoreDeletes` silently drops them). Offsets, `startingVersion`,
  * `maxVersionsPerTrigger` admission control, Trigger.AvailableNow,
  * and the vacuum-past-checkpoint guard all reuse the table stream's
  * version-offset protocol; exactly-once holds because a replayed
  * range replans the same manifest diffs (manifests are immutable).
  * The stream's FIRST batch replays the earliest retained version's
  * manifest as upserts (the initial snapshot), then tails diffs —
  * pass `startingVersion` to begin mid-history. */
final class ChangesMicroBatchStream(dir: String, tableSchema: StructType,
                                    options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

  @volatile private var availableNowTarget: Option[Long] = None

  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map { s =>
      val n = s.toLong
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }

  private def latestVersion: Long =
    SnapshotTable.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))

  override def initialOffset(): Offset = {
    val vs = SnapshotTable.versions(spark, dir)
    require(vs.nonEmpty, s"no committed version under $dir")
    val from = GraftSnapshotSource.startVersion(spark, dir, options)
      .getOrElse(vs.head)
    require(from >= vs.head,
      s"startingVersion $from predates the earliest available version " +
        s"${vs.head} of $dir (vacuumed?)")
    VersionOffset(from - 1, initial = true)
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(latestVersion)
    val from = start.asInstanceOf[VersionOffset]
    val end = maxVersionsPerTrigger
      .fold(target)(n => math.min(target, from.v + n))
    VersionOffset(end, end == from.v && from.initial)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val off = start.asInstanceOf[VersionOffset]
    val a = off.v
    val b = end.asInstanceOf[VersionOffset].v
    if (b <= a) return Array.empty
    val earliest = SnapshotTable.versions(spark, dir).head
    // diffing version v needs BOTH v's manifest and its predecessor's:
    // a progress offset whose successor predates the earliest retained
    // version means vacuum expired the manifests the diff needs —
    // fail like the table stream does (a silent full-snapshot replay
    // would emit every surviving row as duplicate upserts)
    if (a >= 0 && (a < earliest - 1 || (a == earliest - 1 && !off.initial)))
      throw new IllegalStateException(
        s"change-feed checkpoint offset $a predates the earliest " +
          s"retained version $earliest of $dir (vacuumed past the " +
          "checkpoint); exactly-once resume is impossible — restart " +
          "from a fresh checkpoint")
    ChangesTable.planChanges(spark, dir, a + 1, b).toArray
  }

  /** No scan broadcast: a change partition's pending sidecar refs
    * resolve EXECUTOR-side off the files themselves
    * ([[SnapshotPartitions.EqSidecars.loadLocal]], JVM-cached) — CDC
    * micro-batches carry few refs, and the factory no longer depends
    * on `planInputPartitions` having stashed them first (the
    * round-16 plan-order side channel is gone). */
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(SnapshotTable.toPhysical(tableSchema))

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final class ChangesReaderFactory(physSchema: StructType,
                                 eqBc: Option[Broadcast[Map[String, EqSidecar]]] = None)
  extends PartitionReaderFactory {

  private val sessionConf = SnapshotPartitions.readerConf()

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new IllegalStateException(s"no row reader for $p")

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val c = p.asInstanceOf[ChangeFilePartition]
    val keep = c.keepFrom.map { from =>
      val conf = SnapshotPartitions.hadoopConf(sessionConf)
      val b = graft.sources.DeletionVectors.read(conf, from)
      c.keepMinus.fold(b)(m =>
        org.roaringbitmap.RoaringBitmap.andNot(b, graft.sources.DeletionVectors.read(conf, m)))
    }
    new SnapshotColumnarFileReader(c.file, physSchema, sessionConf, Nil,
      SnapshotPartitions.EqSidecars.resolve(c.file.eqDvUris, eqBc, sessionConf),
      keep = keep, eqKeep = c.eqKeep,
      extra = Seq(StringType -> UTF8String.fromString(c.changeType),
        LongType -> c.version))
  }
}
