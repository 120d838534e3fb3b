package graft.sources.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable

/** Stream offset = snapshot-table version: "every commit up to and
  * including `v` has been emitted". `initial` records whether this is
  * the stream's STARTING offset (nothing emitted yet) — without it a
  * resumed offset equal to earliest-1 is ambiguous: it could be a
  * fresh start (base legitimately empty) or a real checkpoint whose
  * base manifest vacuum just expired, where treating the base as
  * empty re-emits every surviving file as duplicates (Delta records
  * `isStartingVersion` in its offset for exactly this reason). */
final case class VersionOffset(v: Long, initial: Boolean) extends Offset {
  override def json: String = s"""{"v":$v,"initial":$initial}"""
}

object VersionOffset {
  def parse(json: String): VersionOffset = {
    val t = json.trim
    if (!t.startsWith("{")) throw new IllegalStateException(
      s"stream checkpoint offset '$t' predates the initial-marker offset " +
        "format and cannot be resumed exactly-once — restart from a " +
        "fresh checkpoint")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
    VersionOffset(node.get("v").asLong(), node.get("initial").asBoolean())
  }
}

/** The snapshot table's commit log as a Structured Streaming source —
  * the Delta-style "table is also a stream": each micro-batch reads
  * exactly the data files a range of versions APPENDED, so a
  * downstream flow tails the table with exactly-once semantics (the
  * offset range is in the streaming checkpoint WAL; replaying a batch
  * replans the same manifest diff — manifests are immutable).
  *
  * Append-only contract: a batch whose version range REMOVES a file
  * or changes a deletion vector (overwrite, merge, delete, compact,
  * purge) fails loudly instead of silently re-emitting or dropping
  * rows — the same default Delta ships; changed-data consumption is
  * `SnapshotTable.changes`' job. Files that arrive WITH a dv (e.g.
  * `updateVectors` post-images) read masked like any other.
  *
  * Scale shape: planning a batch is two manifest resolutions and a
  * set diff — O(changed files) with the delta log, zero data I/O on
  * the driver. `startingVersion` bounds history replay; the default
  * replays from the earliest un-vacuumed version (initial load = the
  * whole table, then the tail).
  */
final class SnapshotMicroBatchStream(dir: String, schema: StructType,
                                     options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** Trigger.AvailableNow pins the end offset at prepare time so the
    * run is finite even while writers keep committing. */
  @volatile private var availableNowTarget: Option[Long] = None

  /** Opt-in dv-tolerant tailing (`.option("ignoreDeletes", "true")`),
    * for consumers downstream of a table that takes GDPR-style
    * deletes: batches whose version range REMOVES files or changes
    * deletion vectors proceed instead of failing — removed files and
    * dv-masked rows are simply never (re-)emitted, newly added files
    * emit as usual. Two documented consequences, the same ones
    * Delta's `ignoreDeletes`/`ignoreChanges` carry: deletions do NOT
    * propagate downstream (the stream stays append-only), and a
    * maintenance rewrite (compact / purge_deletes) re-emits the rows
    * of the files it rewrites (at-least-once for rewritten data —
    * run maintenance on the upstream table only if the consumer
    * dedups, or keep the loud default and consume
    * `SnapshotTable.changes` for a real change feed). The default
    * stays the loud append-only contract. */
  private val ignoreDeletes: Boolean =
    Option(options.get("ignoreDeletes")).exists(_.toBoolean)

  /** Admission control: at most this many commits per micro-batch.
    * A backfill over thousands of versions must not plan one giant
    * batch — bounded batches bound state, retry cost, and the sink's
    * per-commit size. Composes with AvailableNow: the run drains to
    * the pinned target in capped steps. */
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
      s"startingVersion $from predates the earliest available version ${vs.head} of $dir (vacuumed?)")
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
    // a batch that ADVANCES yields a progress offset; an empty trigger
    // must keep the start's initial marker — overwriting it with
    // "progress" would make a still-unstarted stream unresumable after
    // a vacuum to exactly its version+1
    VersionOffset(end, end == from.v && from.initial)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val off = start.asInstanceOf[VersionOffset]
    val a = off.v
    val b = end.asInstanceOf[VersionOffset].v
    if (b <= a) return Array.empty
    val after = SnapshotTable.readManifest(spark, dir, b)
    val earliest = SnapshotTable.versions(spark, dir).head
    // a == earliest - 1 is legitimate ONLY as the stream's initial
    // offset ("nothing emitted yet, start from the earliest retained
    // version") — the offset's own marker says which it is. A progress
    // offset at (or below) earliest-1 means vacuum expired the base
    // manifest the diff needs; treating the base as empty would
    // re-emit every surviving file as duplicates. Fail like a
    // vacuumed startingVersion does in initialOffset (Delta's
    // contract).
    if (a >= 0 && (a < earliest - 1 || (a == earliest - 1 && !off.initial)))
      throw new IllegalStateException(
        s"stream checkpoint offset $a predates the earliest retained " +
          s"version $earliest of $dir (vacuumed past the checkpoint); " +
          "exactly-once resume is impossible — restart from a fresh " +
          "checkpoint or consume SnapshotTable.changes")
    // the change token pairs the whole dv pointer with the
    // equality-delete ref set: EITHER kind of in-place delete breaks
    // the append-only contract the same way
    val base: Map[String, Option[String]] =
      if (a < earliest) Map.empty
      else SnapshotTable.readManifest(spark, dir, a).files
        .map(fe => fe.path -> SnapshotTable.changeToken(fe)).toMap
    val afterByPath = after.files.map(fe => fe.path -> fe).toMap
    val removed = base.keysIterator.filterNot(afterByPath.contains).toSeq
    if (removed.nonEmpty && !ignoreDeletes) throw new IllegalStateException(
      s"versions ($a, $b] of $dir removed ${removed.size} data file(s) " +
        s"(e.g. ${removed.head}); the stream source is append-only — " +
        "restart from a fresh checkpoint, set ignoreDeletes=true to " +
        "tail past deletes, or consume SnapshotTable.changes")
    val dvChanged = base.collect {
      case (path, tok) if afterByPath.get(path).exists(SnapshotTable.changeToken(_) != tok) =>
        path
    }
    if (dvChanged.nonEmpty && !ignoreDeletes) throw new IllegalStateException(
      s"versions ($a, $b] of $dir changed deletion vectors on " +
        s"${dvChanged.size} file(s) (e.g. ${dvChanged.head}); the stream " +
        "source is append-only — set ignoreDeletes=true to tail past " +
        "deletes, or consume SnapshotTable.changes for DML feeds")
    val fresh = after.files.filterNot(fe => base.contains(fe.path))
    fresh.map(fe => SnapshotPartitions.partitionFor(dir, fe): InputPartition)
      .toArray
  }

  /** No scan broadcast: a partition carrying eq refs (a NEW file that
    * arrives with pending equality deletes — e.g. the initial load of
    * a mid-CDC table, or a commit that both appends and attaches)
    * resolves its sidecars EXECUTOR-side off the files themselves
    * ([[SnapshotPartitions.EqSidecars.loadLocal]], JVM-cached).
    * Micro-batches carry few refs, and the factory no longer depends
    * on `planInputPartitions` having run first — the round-16
    * plan-order side channel (a ConcurrentHashMap of seen files) is
    * gone: Spark reordering those calls can no longer fail, let alone
    * un-delete rows. */
  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(schema)

  override def deserializeOffset(json: String): Offset =
    VersionOffset.parse(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
