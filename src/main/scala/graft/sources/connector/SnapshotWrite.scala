package graft.sources.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, MessageType, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.FileEntry

/** The V2 WRITE path: `df.write.format("graft_snapshot")
  * .option("path", tableRoot).mode("append"|"overwrite").save()` —
  * the snapshot table's OCC commit protocol behind Spark's own write
  * API.
  *
  * Each task streams its rows straight into a new parquet file under
  * `data/` (invisible until a manifest references it — a failed or
  * speculative task leaves only an unreferenced file for [[
  * graft.sources.SnapshotTable.vacuum]], exactly like a crashed
  * `stageFiles` writer) and computes the manifest metadata WHILE
  * writing: row count, per-column (min,max) for `statsCols`, and a
  * bloom filter for `bloomCols` — so the commit needs NO second pass
  * over the data, the one extra job the programmatic
  * `SnapshotTable.write` pays. The driver-side commit folds the
  * writers' entries into one atomic manifest publish; appends rebase
  * inside the OCC loop and never conflict.
  *
  * Options: `statsCols` (comma-separated integral columns → (min,max)
  * skipping stats), `bloomCols` (comma-separated string columns →
  * point-lookup blooms), `clusterBy` (comma-separated columns → the
  * write requests a range distribution + sort from the planner, so
  * files cover narrow disjoint key ranges and the stats actually
  * skip), `clusterPartitions` (pin the exchange's partition count;
  * default lets AQE size it).
  *
  * The table reports `ACCEPT_ANY_SCHEMA`: appends may widen the
  * schema (the snapshot reader surfaces columns a file lacks as null
  * — same contract as the programmatic path), and writes to a
  * not-yet-existing table root create version 1.
  */
final class SnapshotWriteBuilder(dir: String, info: LogicalWriteInfo,
                                 asFresh: Boolean = false,
                                 defer: Option[Seq[FileEntry] => Unit] = None)
  extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
    with SupportsOverwriteV2 {

  private var overwrite = false
  private var dynamic = false
  private var replaceWhere: Option[org.apache.spark.sql.Column] = None

  override def truncate(): WriteBuilder = { overwrite = true; this }

  /** REPLACE WHERE (round-18): static `INSERT OVERWRITE … PARTITION
    * (day = 'x')` and `df.writeTo(t).overwrite(cond)` — delete the
    * predicate's rows (metadata-pruned + deletion vectors) and insert
    * the batch as ONE atomic commit
    * ([[graft.sources.SnapshotTable.replaceWhere]]). Whole-or-nothing
    * translation like DELETE: a predicate that cannot translate
    * refuses here (canOverwrite), never deletes a subset. */
  override def canOverwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean =
    predicates.forall(SnapshotV2Table.v2ToColumn(_).isDefined)

  override def overwrite(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): WriteBuilder = {
    import org.apache.spark.sql.functions.lit
    val cols = predicates.map(p => SnapshotV2Table.v2ToColumn(p).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate overwrite predicate ${p.describe()}")))
    val cond = cols.reduceOption(_ && _).getOrElse(lit(true))
    // a trivially-true predicate IS a truncate: take the full-replace
    // path (drops the rename mapping, replaces the schema) instead of
    // dv-scanning the whole table into a deletion vector
    if (predicates.isEmpty ||
        (predicates.length == 1 && predicates.head.name() == "ALWAYS_TRUE"))
      overwrite = true
    else replaceWhere = Some(cond)
    this
  }

  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` /
    * `df.writeTo(t).overwritePartitions()`: replace exactly the
    * identity-partition values present in the incoming data
    * ([[graft.sources.SnapshotTable.overwritePartitionsDynamic]] —
    * one atomic eq-delete + append commit, zero data files
    * rewritten). On a table with no identity layout columns this is a
    * full truncate-overwrite, the Hive semantics for non-partitioned
    * tables (buckets are layout, not partition identity) and the
    * pre-round-18 behavior. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true
    this
  }

  private def cols(key: String): Seq[String] =
    Option(info.options.get(key))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  override def build(): Write = new Write
    with RequiresDistributionAndOrdering {
    // ACCEPT_ANY_SCHEMA means Spark hands us the query schema raw —
    // the builder aligns it against the table (by name, or by
    // position for SQL INSERT) before any row is written. A STAGED
    // DDL write (`asFresh` — RTAS/atomic CTAS via GraftStagedTable)
    // DEFINES the table: the query schema is the declared schema, so
    // aligning against the to-be-replaced table's schema (or its
    // rename mapping, or its constraints) would be aligning against a
    // definition this very statement retires.
    private val aligned =
      if (asFresh) info.schema()
      else SnapshotWriteSupport.align(dir, info.schema())

    // column mapping (ALTER RENAME): tasks write files and compute
    // stats/bloom manifest keys under the table's FROZEN physical
    // names; the commit records the LOGICAL schema. Overwrites replace
    // the schema (and the mapping with it), so they write as aligned.
    private val tableMapping: Map[String, String] =
      if (asFresh) Map.empty else SnapshotWriteSupport.physicalMap(dir)
    private def physMapFor: Map[String, String] =
      if (overwrite) Map.empty else tableMapping

    // layout options injected from TBLPROPERTIES may name columns by
    // their FROZEN physical (declaration-time) names; the aligned
    // write schema speaks CURRENT logical names — resolve before any
    // validation or distribution building, or renaming a bucketBy/
    // clusterBy/statsCols column makes the table unwritable
    private val logicalNameFor: Map[String, String] = tableMapping.map(_.swap)
    private def logicalName(c: String): String = logicalNameFor.getOrElse(c, c)

    // Write clustering (`clusterBy=k1,k2`): ask the PLANNER for a
    // range distribution + in-partition sort on the given columns, so
    // each task — hence each data file — covers a narrow, mostly
    // non-overlapping key range. That turns the per-file (min,max)
    // stats from "technically present" into "actually selective":
    // point/range reads plan O(1) files instead of O(all), the same
    // lever as Iceberg's write.distribution-mode=range. Requested
    // through Spark's own RequiresDistributionAndOrdering so AQE
    // sizes the exchange (optionally pinned via `clusterPartitions`),
    // rather than a hand-rolled repartitionByRange the optimizer
    // can't see through.
    private val clusterCols = cols("clusterBy").map(logicalName)
    clusterCols.foreach(c => require(aligned.fieldNames.contains(c),
      s"clusterBy column $c is not in the write schema " +
        aligned.fieldNames.mkString("[", ", ", "]")))
    // the distribution's references resolve against the INCOMING
    // query's attributes: a positional `INSERT INTO … SELECT expr…`
    // carries auto-generated names, so map each (table-name) cluster
    // column to the incoming name at the same aligned position
    private def incomingName(c: String): String = {
      val incoming = info.schema()
      // NB the distribution/ordering binds BY NAME against the
      // incoming query. A positional INSERT whose outputs carry the
      // same name twice still binds when they are the SAME attribute
      // (`SELECT id, id` — resolution dedupes by exprId); only
      // genuinely distinct same-named outputs (`SELECT id, cast(id AS
      // double)` — the cast auto-aliases to `id`) fail, with Spark's
      // AMBIGUOUS_REFERENCE naming the column: alias the SELECT
      // columns distinctly. The builder sees names only, so it cannot
      // pre-empt that error without breaking the legitimate case.
      if (incoming.fieldNames.contains(c)) c
      else incoming.fields(aligned.fieldIndex(c)).name
    }
    // backtick-quoted like the bucket path below: a positional
    // INSERT's incoming name can be an expression string
    // ("format_string(k%03d, id)") the bare column parser rejects
    private val sortOrders: Array[SortOrder] = clusterCols.map(c =>
      Expressions.sort(Expressions.column(
        "`" + incomingName(c).replace("`", "``") + "`"),
        SortDirection.ASCENDING)).toArray

    // Hash bucketing (`bucketBy=key, buckets=n`): the write requests a
    // CLUSTERED distribution on the key with exactly n partitions.
    // Spark's exchange routes rows by pmod(murmur3(key), n) — which IS
    // [[GraftBucket.of]] — so each task receives one bucket and writes
    // one per-bucket-pure file whose bucket id lands in the manifest;
    // the task-side splitter keeps correctness even if routing ever
    // diverged. This is what the scan's storage-partitioned-join
    // reporting stands on.
    private val bucketCol: Option[String] =
      Option(info.options.get("bucketBy")).map(_.trim).filter(_.nonEmpty)
        .map(logicalName)
    private val bucketCount: Int =
      Option(info.options.get("buckets")).map(_.toInt).getOrElse(0)
    // a table with a DECLARED bucket layout must never accept a write
    // bucketed differently: mixed-hash bucket ids under one declared n
    // would make the scan's reported partitioning a lie and a
    // storage-partitioned join silently wrong. (A bucket-less write is
    // fine — its files disable the partitioning claim conservatively.)
    locally {
      val declared = GraftTableProps.read(
        SparkSession.active.sparkContext.hadoopConfiguration, dir)
      for (dc <- declared.get("bucketBy"); dn <- declared.get("buckets"))
        bucketCol.foreach { c =>
          require(c == logicalName(dc) && bucketCount.toString == dn,
            s"write bucketing ($c, $bucketCount) contradicts the table's " +
              s"declared layout ($dc, $dn); INSERT OVERWRITE re-buckets " +
              "under the declared layout")
        }
    }
    bucketCol.foreach { c =>
      require(bucketCount > 0,
        s"bucketBy=$c needs buckets=<n> (a positive bucket count)")
      require(!clusterCols.contains(c),
        s"column $c cannot be both the bucket key and a clusterBy " +
          "column: hash buckets scatter exactly what range clustering " +
          "would order")
      require(aligned.fieldNames.contains(c),
        s"bucketBy column $c is not in the write schema " +
          aligned.fieldNames.mkString("[", ", ", "]"))
      val dt = aligned.fields(aligned.fieldIndex(c)).dataType
      require(GraftBucket.supports(dt),
        s"bucketBy column $c: ${dt.simpleString} is not a supported " +
          "bucket key type (integral, date/timestamp, or string)")
    }

    // Mixed layout (`PARTITIONED BY (identity(d), bucket(n, k))` → both
    // clusterBy and bucketBy set): rows route to their bucket (the SPJ
    // coordinate), sort WITHIN each bucket by the identity columns,
    // and the per-bucket writer ROLLS to a new file every
    // `targetFileRows` rows — consecutive files of a bucket then cover
    // disjoint identity-column ranges, so the (min,max) stats prune a
    // time-sliced read down to a few files per bucket while the bucket
    // ids keep the join shuffle-free. This is the standard 100 TB fact
    // layout: co-buckets for the join, range-pruned slices for the
    // scan. Rolling defaults ON only for the mixed layout (a pure
    // bucket layout prefers one sorted file per bucket — that is what
    // elides the SMJ sorts); `targetFileRows` overrides either way.
    private val targetFileRows: Long =
      Option(info.options.get("targetFileRows")).map(_.toLong).getOrElse(
        if (bucketCol.isDefined && clusterCols.nonEmpty) 1L << 20 else 0L)

    override def requiredDistribution(): Distribution =
      if (bucketCol.isDefined)
        // backtick-quoted: a positional INSERT's incoming name is an
        // expression string ("(id % 5)") that the bare column parser
        // rejects — quoting makes it one literal name part
        Distributions.clustered(Array[Expression](Expressions.column(
          "`" + incomingName(bucketCol.get).replace("`", "``") + "`")))
      else if (clusterCols.isEmpty) Distributions.unspecified()
      else Distributions.ordered(sortOrders)

    override def requiredOrdering(): Array[SortOrder] =
      // bucketed writes sort within partitions by the key: the
      // exchange already exists, the sort rides it — and a one-file
      // bucket of sorted rows lets the scan report output ordering
      // (the SMJ's per-partition sorts go the way of its exchanges).
      // A MIXED layout sorts by the identity columns instead: range
      // pruning within each bucket is what that layout is for.
      if (bucketCol.isDefined && clusterCols.isEmpty)
        Array(Expressions.sort(Expressions.column(
          "`" + incomingName(bucketCol.get).replace("`", "``") + "`"),
          SortDirection.ASCENDING))
      else sortOrders

    override def requiredNumPartitions(): Int =
      // only meaningful under an ordered/clustered distribution —
      // Spark rejects a partition count with an unspecified one (and a
      // table may carry clusterPartitions after UNSETting clusterBy)
      if (bucketCol.isDefined) bucketCount
      else if (clusterCols.isEmpty) 0
      else Option(info.options.get("clusterPartitions"))
        .map(_.toInt).getOrElse(0)

    override def toBatch: BatchWrite = {
      val pm = physMapFor
      require(!((dynamic || replaceWhere.isDefined) && defer.isDefined),
        "staged DDL (CREATE/REPLACE TABLE AS SELECT) cannot take a " +
          "dynamic-overwrite or replace-where write")
      // dynamic overwrite keys an equality-delete sidecar on the
      // identity columns, whose member types are integral, string, or
      // date — fail HERE (before any file stages) with the workaround,
      // not deep in the delete machinery after the write ran
      if (dynamic) clusterCols.foreach { c =>
        val dt = aligned.fields(aligned.fieldIndex(c)).dataType
        val ok = dt match {
          case ByteType | ShortType | IntegerType | LongType |
               StringType | DateType => true
          case _ => false
        }
        require(ok,
          s"dynamic partition overwrite keys on identity column '$c' of " +
            s"type ${dt.simpleString}, outside the equality-delete key " +
            "surface (integral, string, or date); use a static " +
            "partition-spec INSERT OVERWRITE (REPLACE WHERE handles any " +
            "comparable type)")
      }
      new SnapshotBatchWrite(dir, aligned, overwrite,
        cols("statsCols").map(logicalName).map(c => pm.getOrElse(c, c)),
        cols("bloomCols").map(logicalName).map(c => pm.getOrElse(c, c)),
        SnapshotWriteSupport.rename(aligned, pm),
        bucketCol.map(c => (pm.getOrElse(c, c), bucketCount)),
        targetFileRows, defer,
        cols("ndvCols").map(logicalName).map(c => pm.getOrElse(c, c)),
        // dynamic overwrite's partition identity = the identity layout
        // (clusterBy) columns, as (logical, physical) name pairs
        dynamicKeys =
          if (dynamic) Some((clusterCols, clusterCols.map(c => pm.getOrElse(c, c))))
          else None,
        replaceWhere = replaceWhere,
        // opt-in validation that every inserted row satisfies the
        // replace predicate (Delta's replaceWhere check): a writer
        // option, or declared once as a TBLPROPERTY (the layout-props
        // merge makes it the write default, so SQL INSERT OVERWRITE
        // PARTITION inherits it)
        replaceWhereValidate = Option(info.options.get("replaceWhereValidate"))
          .exists(_.toBoolean))
    }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(defer.isEmpty,
        "staged DDL (CREATE/REPLACE TABLE AS SELECT) cannot take a streaming write")
      require(!overwrite && !dynamic && replaceWhere.isEmpty,
        "graft_snapshot streaming sink is append-only (outputMode append)")
      val mergeKey = Option(info.options.get("mergeKey")).map(_.trim)
        .filter(_.nonEmpty)
      mergeKey.foreach(k => require(aligned.fieldNames.contains(k),
        s"mergeKey column $k is not in the write schema " +
          aligned.fieldNames.mkString("[", ", ", "]")))
      val pm = physMapFor
      // the declared bucket layout applies to STREAMING epochs too:
      // each epoch's files stage per-bucket-pure and tagged, so a
      // CDC-maintained table keeps its shuffle-free joins — without
      // this, the first epoch breaks effectiveBucketing for every
      // reader until a rebucket rewrite nobody asked for
      new SnapshotStreamingWrite(dir, aligned,
        cols("statsCols").map(logicalName).map(c => pm.getOrElse(c, c)),
        cols("bloomCols").map(logicalName).map(c => pm.getOrElse(c, c)),
        mergeKey,
        SnapshotWriteSupport.rename(aligned, pm),
        bucketCol.map(c => (pm.getOrElse(c, c), bucketCount)),
        targetFileRows,
        cols("ndvCols").map(logicalName).map(c => pm.getOrElse(c, c)))
    }
  }
}

/** Native streaming sink: each micro-batch commits one `append`
  * version tagged with its epoch. A replayed epoch (restart between
  * sink commit and checkpoint advance — the documented at-least-once
  * window of every streaming sink) is detected by tag in the commit
  * history and skipped, the same idempotence upgrade the Delta sink
  * and [[graft.streaming.StreamingFlows.startSnapshotSink]] make —
  * but here it is the FORMAT's own sink: `df.writeStream
  * .format("graft_snapshot")`, no foreachBatch glue. Combined with
  * the micro-batch source this closes the loop: a table-to-table
  * streaming pipeline runs entirely inside the format with
  * exactly-once semantics end to end. Replayed epochs' staged files
  * are deleted like an abort. */
final class SnapshotStreamingWrite(dir: String, schema: StructType,
                                   statsCols: Seq[String],
                                   bloomCols: Seq[String],
                                   mergeKey: Option[String] = None,
                                   physSchema0: StructType = null,
                                   bucketSpec: Option[(String, Int)] = None,
                                   targetFileRows: Long = 0L,
                                   ndvCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  /** Task-side (physical-name) schema; `schema` is the logical one the
    * commit records. statsCols/bloomCols arrive already physical. */
  private val physSchema =
    if (physSchema0 == null) schema else physSchema0

  SnapshotWriteSupport.validate(physSchema, statsCols, bloomCols, ndvCols)

  private def epochTag(epochId: Long) = s"stream-epoch-$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new SnapshotStreamingWriterFactory(dir, physSchema, statsCols, bloomCols,
      java.util.UUID.randomUUID.toString.take(8), bucketSpec, targetFileRows,
      ndvCols)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val entries = SnapshotWriteSupport.writtenFiles(messages).map(w =>
      FileEntry(w.path, w.rows, w.stats, w.bloom, bucket = w.bucket,
        sortedBy = w.sortedBy, bucketN = w.bucketN, noNulls = w.noNulls,
        strStats = w.strStats, ndv = w.ndv))
    // replay guard is metadata-only: one commit-history walk
    val replayed = SnapshotTable.latestVersion(spark, dir).isDefined &&
      SnapshotTable.history(spark, dir).exists(_._2 == epochTag(epochId))
    if (replayed) abort(epochId, messages)
    else {
      // CHECK constraints gate streaming epochs too — a failed epoch
      // leaves no staged files and the restarted query retries it
      SnapshotWriteSupport.enforceConstraints(dir, entries, physSchema, schema)
      mergeKey match {
      case None =>
        SnapshotTable.commitAdded(spark, dir, epochTag(epochId), entries,
          carry = true, schemaJson = Some(schema.json))
      case Some(k) =>
        // streaming UPSERT: the epoch's staged files are the merge's
        // post-image — matched target positions land in a deletion
        // vector, one commit, zero data files rewritten (the CDC
        // trickle-upsert cost class). Exactly-once rides the same
        // epoch tag: a replayed epoch is detected above and its
        // staged files are deleted like an abort.
        SnapshotTable.mergeStaged(spark, dir, entries, k,
          epochTag(epochId), Some(schema.json))
      }
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotWriteSupport.writtenFiles(messages).foreach(w =>
      fs.delete(new Path(root, w.path), false))
  }
}

final class SnapshotStreamingWriterFactory(dir: String, schema: StructType,
                                           statsCols: Seq[String],
                                           bloomCols: Seq[String], nonce: String,
                                           bucketSpec: Option[(String, Int)] = None,
                                           targetFileRows: Long = 0L,
                                           ndvCols: Seq[String] = Nil)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    bucketSpec match {
      case Some((col, n)) =>
        new BucketedDataWriter(dir, schema, statsCols, bloomCols, col, n,
          targetFileRows, (b, seg) =>
            f"data/$nonce-e$epochId-p$partitionId%05d-t$taskId-b$b%05d-s$seg%03d.parquet",
          ndvCols)
      case None =>
        new SnapshotDataWriter(dir, schema, statsCols, bloomCols,
          f"data/$nonce-e$epochId-p$partitionId%05d-t$taskId.parquet", ndvCols)
    }
}

final class SnapshotBatchWrite(dir: String, schema: StructType,
                               overwrite: Boolean, statsCols: Seq[String],
                               bloomCols: Seq[String],
                               physSchema0: StructType = null,
                               bucketSpec: Option[(String, Int)] = None,
                               targetFileRows: Long = 0L,
                               defer: Option[Seq[FileEntry] => Unit] = None,
                               ndvCols: Seq[String] = Nil,
                               dynamicKeys: Option[(Seq[String], Seq[String])] = None,
                               replaceWhere: Option[org.apache.spark.sql.Column] = None,
                               replaceWhereValidate: Boolean = false)
  extends BatchWrite {

  /** Task-side (physical-name) schema; `schema` is the logical one the
    * commit records. statsCols/bloomCols arrive already physical. */
  private val physSchema =
    if (physSchema0 == null) schema else physSchema0

  // fail at planning, not mid-write: every column writable, every
  // stats column integral, every bloom column a string
  SnapshotWriteSupport.validate(physSchema, statsCols, bloomCols, ndvCols)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotWriterFactory(dir, physSchema, statsCols, bloomCols,
      java.util.UUID.randomUUID.toString.take(8), bucketSpec, targetFileRows,
      ndvCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = SnapshotWriteSupport.writtenFiles(messages).map(w =>
      FileEntry(w.path, w.rows, w.stats, w.bloom, bucket = w.bucket,
        sortedBy = w.sortedBy, bucketN = w.bucketN, noNulls = w.noNulls,
        strStats = w.strStats, ndv = w.ndv))
    defer match {
      // staged DDL (RTAS / atomic CTAS): the files are on disk but
      // NOTHING is published — GraftStagedTable.commitStagedChanges
      // owns the single atomic manifest commit, so a failure anywhere
      // later in the statement leaves the table's current definition
      // untouched. Constraints are not enforced here: REPLACE defines
      // the table anew (the old definition's constraints die with it).
      case Some(stash) => stash(entries)
      case None =>
        SnapshotWriteSupport.enforceConstraints(dir, entries, physSchema, schema)
        (dynamicKeys, replaceWhere) match {
          // dynamic partition overwrite: ONE commit that eq-deletes the
          // incoming identity tuples from the existing files and
          // appends the staged ones (full overwrite when the table
          // declares no identity columns)
          case (Some((logical, physical)), _) =>
            SnapshotTable.overwritePartitionsDynamic(SparkSession.active,
              dir, entries, logical, physical, Some(schema.json))
          // REPLACE WHERE: delete the predicate's rows (metadata prune
          // + dv boundary scan) and append the staged files, one commit
          case (None, Some(cond)) =>
            SnapshotTable.replaceWhere(SparkSession.active, dir, entries,
              cond, schema.json, validate = replaceWhereValidate)
          case (None, None) =>
            SnapshotTable.commitAdded(SparkSession.active, dir,
              if (overwrite) "overwrite" else "append", entries,
              carry = !overwrite, schemaJson = Some(schema.json))
        }
        ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // empty-partition messages carry "" — new Path(root, "") throws,
    // masking the original failure and orphaning the remaining staged
    // files (same guard as the streaming abort)
    SnapshotWriteSupport.writtenFiles(messages).foreach(w =>
      fs.delete(new Path(root, w.path), false))
  }
}

/** One committed data file, as reported by the task that wrote it. */
final case class WrittenFile(path: String, rows: Long,
                             stats: Map[String, (Long, Long)],
                             bloom: Map[String, Seq[Long]],
                             bucket: Option[Int] = None,
                             sortedBy: Option[String] = None,
                             bucketN: Option[Int] = None,
                             noNulls: Seq[String] = Nil,
                             strStats: Map[String, (String, String)] = Map.empty,
                             ndv: Map[String, Seq[Long]] = Map.empty)
  extends WriterCommitMessage

/** A bucketed task's files — one per bucket id it received. */
final case class WrittenFileSet(files: Seq[WrittenFile])
  extends WriterCommitMessage

final class SnapshotWriterFactory(dir: String, schema: StructType,
                                  statsCols: Seq[String],
                                  bloomCols: Seq[String], nonce: String,
                                  bucketSpec: Option[(String, Int)] = None,
                                  targetFileRows: Long = 0L,
                                  ndvCols: Seq[String] = Nil)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    bucketSpec match {
      case Some((col, n)) =>
        new BucketedDataWriter(dir, schema, statsCols, bloomCols, col, n,
          targetFileRows,
          // taskId is unique per attempt (same note as below)
          (b, seg) => f"data/$nonce-p$partitionId%05d-t$taskId-b$b%05d-s$seg%03d.parquet",
          ndvCols)
      case None =>
        new SnapshotDataWriter(dir, schema, statsCols, bloomCols,
          // taskId is unique per attempt: a speculative/retried attempt
          // writes a distinct file; only the committed attempt's message
          // reaches the manifest
          f"data/$nonce-p$partitionId%05d-t$taskId.parquet", ndvCols)
    }
}

/** Splits a task's rows into per-bucket [[SnapshotDataWriter]]s, so
  * every data file is PURE in one bucket id regardless of how the
  * exchange routed rows. Under the builder's clustered-distribution
  * request the routing aligns (partition id == bucket id) and exactly
  * one delegate opens; the map is the correctness backstop, not the
  * common path.
  *
  * Two further per-bucket behaviors:
  *  - '''Measured sort claims.''' The writer TRACKS whether each
  *    file's rows actually arrive ascending in the bucket key and
  *    claims `sortedBy` only then — never assumed from the planner's
  *    requested ordering, which a streaming epoch (or a mixed layout's
  *    identity-column sort) does not deliver. A wrong ordering claim
  *    would let the scan elide SMJ sorts over unsorted data: silent
  *    wrong join results, so the claim must be observed, not hoped.
  *  - '''Rolling''' (`targetFileRows` > 0): the bucket's file closes
  *    and a new one opens every that-many rows. With rows sorted by
  *    the mixed layout's identity columns, consecutive files cover
  *    disjoint identity ranges and the per-file (min,max) stats prune
  *    time-sliced reads; it also caps file size on skewed buckets. */
private final class BucketedDataWriter(dir: String, schema: StructType,
                                       statsCols: Seq[String],
                                       bloomCols: Seq[String],
                                       bucketCol: String, n: Int,
                                       targetFileRows: Long,
                                       relPath: (Int, Int) => String,
                                       ndvCols: Seq[String] = Nil)
  extends DataWriter[InternalRow] {

  private val keyIdx = schema.fieldIndex(bucketCol)
  private val keyType = schema.fields(keyIdx).dataType

  /** Ascending comparison in Spark's sort order for the bucket-key
    * type surface (nulls FIRST, matching the exchange's default). */
  private def keyLt(prev: Any, cur: Any): Boolean = {
    if (prev == null) return false // null sorts first: anything follows
    if (cur == null) return true
    keyType match {
      case StringType =>
        prev.asInstanceOf[UTF8String].compareTo(cur.asInstanceOf[UTF8String]) > 0
      case ByteType => prev.asInstanceOf[Byte] > cur.asInstanceOf[Byte]
      case ShortType => prev.asInstanceOf[Short] > cur.asInstanceOf[Short]
      case IntegerType | DateType =>
        prev.asInstanceOf[Int] > cur.asInstanceOf[Int]
      case _ => prev.asInstanceOf[Long] > cur.asInstanceOf[Long]
    }
  }

  private final class BucketState(b: Int) {
    var writer: SnapshotDataWriter = _
    var seg = 0
    var rowsInSeg = 0L
    var segSorted = true
    var lastKey: Any = _
    var sawRow = false
    val done = Seq.newBuilder[WrittenFile]

    def write(row: InternalRow, key: Any): Unit = {
      if (writer == null)
        writer = new SnapshotDataWriter(dir, schema, statsCols, bloomCols,
          relPath(b, seg), ndvCols)
      else if (targetFileRows > 0 && rowsInSeg >= targetFileRows) roll()
      if (sawRow && keyLt(lastKey, key)) segSorted = false
      // UTF8String may alias a reused row buffer; detach before keeping
      lastKey = key match {
        case u: UTF8String => u.clone()
        case other => other
      }
      sawRow = true
      writer.write(row)
      rowsInSeg += 1
    }

    private def roll(): Unit = {
      finishSeg()
      seg += 1
      rowsInSeg = 0L
      segSorted = true
      sawRow = false
      writer = new SnapshotDataWriter(dir, schema, statsCols, bloomCols,
        relPath(b, seg), ndvCols)
    }

    def finishSeg(): Unit = if (writer != null) {
      writer.commit() match {
        case f: WrittenFile if f.path.nonEmpty =>
          done += f.copy(bucket = Some(b), bucketN = Some(n),
            sortedBy = if (segSorted) Some(bucketCol) else None)
        case _ => ()
      }
      writer = null
    }
  }

  private val buckets = new java.util.HashMap[Int, BucketState]()

  override def write(row: InternalRow): Unit = {
    val v = if (row.isNullAt(keyIdx)) null else row.get(keyIdx, keyType)
    val b = GraftBucket.of(v, keyType, n)
    var st = buckets.get(b)
    if (st == null) {
      st = new BucketState(b)
      buckets.put(b, st)
    }
    st.write(row, v)
  }

  override def commit(): WriterCommitMessage = {
    val files = Seq.newBuilder[WrittenFile]
    buckets.forEach { (_, st) =>
      st.finishSeg()
      files ++= st.done.result()
    }
    WrittenFileSet(files.result())
  }

  override def abort(): Unit = {
    val fs = new Path(dir).getFileSystem(new Configuration())
    buckets.forEach { (_, st) =>
      if (st.writer != null) st.writer.abort()
      // already-rolled segments are durable files by now; delete them
      // like the batch abort deletes reported files
      st.done.result().foreach(f => fs.delete(new Path(dir, f.path), false))
    }
  }

  override def close(): Unit = buckets.forEach { (_, st) =>
    if (st.writer != null) st.writer.close()
  }
}

private[sources] object SnapshotWriteSupport {

  /** CHECK-constraint gate over a STAGED batch: every `constraint.*`
    * table prop (written by `ALTER TABLE … ADD CONSTRAINT`) is
    * evaluated against the not-yet-committed files in ONE distributed
    * aggregate pass; any violation deletes the staged files and
    * throws with the constraint names — the table is untouched, no
    * version burned. SQL CHECK semantics: only a FALSE predicate
    * violates (NULL/unknown passes). Enforcement lives here (not in
    * Spark's analyzer-injected CheckInvariant) because
    * ACCEPT_ANY_SCHEMA writes are never renamed to table column
    * names, so an injected predicate cannot resolve against a
    * positional INSERT — the staged files, by contrast, already carry
    * the table's (physical) schema. Cost: one extra read of the
    * incoming batch, O(batch) and only on constrained tables. */
  def enforceConstraints(dir: String, entries: Seq[FileEntry],
                         physSchema: StructType,
                         logicalSchema: StructType): Unit = {
    if (entries.isEmpty) return
    val spark = SparkSession.active
    val checks = GraftTableProps
      .read(spark.sparkContext.hadoopConfiguration, dir)
      .collect { case (k, sql) if k.startsWith(GraftCatalog.ConstraintPrefix) =>
        k.stripPrefix(GraftCatalog.ConstraintPrefix) -> sql
      }.toSeq.sortBy(_._1)
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum, when}
    val raw = spark.read.parquet(entries.map(fe => SnapshotTable.resolvePath(dir, fe.path)): _*)
    // staged files carry PHYSICAL names; predicates speak LOGICAL ones
    val df = raw.select(physSchema.fields.zip(logicalSchema.fields).map {
      case (p, l) => col("`" + p.name.replace("`", "``") + "`").as(l.name)
    }.toIndexedSeq: _*)
    val aggs = checks.map { case (name, sql) =>
      sum(when(coalesce(expr(sql), lit(true)) === false, 1L)
        .otherwise(0L)).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val violated = checks.zipWithIndex.collect {
      case ((name, sql), i) if row.getLong(i) > 0 =>
        s"$name: CHECK ($sql) violated by ${row.getLong(i)} row(s)"
    }
    if (violated.nonEmpty) {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      entries.foreach(fe => fs.delete(new Path(root, fe.path), false))
      throw new IllegalStateException(
        "write aborted, staged files deleted — " + violated.mkString("; "))
    }
  }

  /** Flatten commit messages to the non-empty written files (empty
    * partitions report a ""-path placeholder; bucketed tasks report a
    * [[WrittenFileSet]]). */
  def writtenFiles(messages: Array[WriterCommitMessage]): Seq[WrittenFile] =
    messages.toSeq.flatMap {
      case w: WrittenFile => Seq(w)
      case s: WrittenFileSet => s.files
      case _ => Nil
    }.filter(_.path.nonEmpty)

  /** Schema alignment under ACCEPT_ANY_SCHEMA (which disables Spark's
    * own output resolution): write columns by NAME when the incoming
    * names correspond to the table's — exact sets, a subset (absent
    * columns read as null), or a superset (evolution widens the
    * table); otherwise, if the arity matches and the types agree
    * positionally, RENAME to the table's column names — SQL `INSERT
    * INTO t SELECT expr1, expr2` semantics, where the query's
    * auto-generated names are meaningless. Anything else (arity
    * mismatch with unrecognized names, positional type conflict)
    * fails before a row is written. Note the one documented
    * ambiguity: a same-arity same-types write whose names are ALL new
    * is read as positional (SQL wins); a deliberate whole-table
    * rename goes through `SnapshotTable.write`. */
  def align(dir: String, incoming: StructType): StructType = {
    val spark = SparkSession.active
    val table = SnapshotTable.latestVersion(spark, dir)
      .map(v => SnapshotTable.tableSchema(spark, dir, v))
    table match {
      case None => incoming // fresh root: as declared
      case Some(t) =>
        val tNames = t.fieldNames.toSet
        val inNames = incoming.fieldNames.toSet
        // duplicate incoming names (e.g. `INSERT … SELECT id, CAST(id
        // AS DOUBLE)` — Cast keeps the child's name, so both columns
        // arrive as "id") can never be a by-name write: sets would
        // hide the collision and a two-"id" parquet schema is garbage
        // — force the positional path
        val dupNames = incoming.fieldNames.length != inNames.size
        if (!dupNames &&
          (inNames.subsetOf(tNames) || tNames.subsetOf(inNames))) {
          // by-name writes get the SAME type gate as positional ones:
          // an int written over a same-named long would commit, make
          // the schema union conflict, and break every later read —
          // an accepted write must never poison the chain
          val byName = t.fields.map(f => f.name -> f.dataType).toMap
          incoming.fields.foreach { in =>
            byName.get(in.name).foreach { tdt =>
              require(in.dataType == tdt,
                s"write type mismatch at column '${in.name}': table " +
                  s"${tdt.simpleString}, query ${in.dataType.simpleString} " +
                  "— add an explicit CAST")
            }
          }
          incoming
        } else if (incoming.length == t.length) {
          incoming.fields.zip(t.fields).foreach { case (in, tf) =>
            require(in.dataType == tf.dataType,
              s"positional INSERT type mismatch at column '${tf.name}': " +
                s"table ${tf.dataType.simpleString}, query " +
                s"${in.dataType.simpleString} — add an explicit CAST")
          }
          StructType(incoming.fields.zip(t.fields).map {
            case (in, tf) => in.copy(name = tf.name)
          })
        } else throw new IllegalArgumentException(
          s"cannot align write schema ${incoming.fieldNames.mkString("(", ",", ")")} " +
            s"to table schema ${t.fieldNames.mkString("(", ",", ")")}: names do " +
            "not correspond and the column counts differ")
    }
  }

  /** logical → physical column renames of the table's CURRENT recorded
    * schema (empty when unmapped or a fresh root). */
  def physicalMap(dir: String): Map[String, String] = {
    val spark = SparkSession.active
    SnapshotTable.latestVersion(spark, dir)
      .map(v => SnapshotTable.tableSchema(spark, dir, v))
      .map(_.fields.map(f => f.name -> SnapshotTable.physicalName(f))
        .filter { case (l, p) => l != p }.toMap)
      .getOrElse(Map.empty)
  }

  def rename(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  def validate(schema: StructType, statsCols: Seq[String],
               bloomCols: Seq[String], ndvCols: Seq[String] = Nil): Unit = {
    messageTypeFor(schema) // refuses a type the writer cannot encode
    (statsCols.map(("statsCols", _)) ++ ndvCols.map(("ndvCols", _)))
      .foreach { case (what, c) =>
        val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(s"$what column '$c' is not in the written schema"))
        require(dt == ByteType || dt == ShortType || dt == IntegerType ||
          dt == LongType || dt == StringType,
          s"$what column '$c' must be integral or string, got ${dt.simpleString}")
      }
    bloomCols.foreach { c =>
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"bloomCols column '$c' is not in the written schema"))
      require(dt == StringType,
        s"bloomCols column '$c' must be a string, got ${dt.simpleString}")
    }
  }

  /** Spark schema → parquet message type (primitive + primitive-array
    * surface, all fields optional — the reader's null contract).
    * Arrays use the standard 3-level LIST shape (`list`/`element`
    * inner names), byte-identical to what Spark's own parquet writer
    * emits — so staged-batch files and V2-written files interleave. */
  def messageTypeFor(schema: StructType): MessageType = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def primitive(dt: DataType, name: String)
        : Types.PrimitiveBuilder[org.apache.parquet.schema.PrimitiveType] =
      dt match {
      case BooleanType => Types.optional(BOOLEAN)
      case ByteType => Types.optional(INT32).as(LTA.intType(8, true))
      case ShortType => Types.optional(INT32).as(LTA.intType(16, true))
      case IntegerType => Types.optional(INT32)
      case LongType => Types.optional(INT64)
      case FloatType => Types.optional(FLOAT)
      case DoubleType => Types.optional(DOUBLE)
      case StringType => Types.optional(BINARY).as(LTA.stringType())
      case BinaryType => Types.optional(BINARY)
      case DateType => Types.optional(INT32).as(LTA.dateType())
      case TimestampType =>
        Types.optional(INT64).as(LTA.timestampType(true, LTA.TimeUnit.MICROS))
      case TimestampNTZType =>
        Types.optional(INT64).as(LTA.timestampType(false, LTA.TimeUnit.MICROS))
      case other => throw new UnsupportedOperationException(
        s"graft_snapshot writes primitive and primitive-array columns " +
          s"only; column '$name' has type ${other.simpleString}")
    }
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val built = f.dataType match {
        case ArrayType(et, _) =>
          Types.optionalList()
            .element(primitive(et, s"${f.name}.element").named("element"))
            .named(f.name)
        case dt => primitive(dt, f.name).named(f.name)
      }
      b.addField(built)
    }
    b.named("spark_schema")
  }
}

private final class SnapshotDataWriter(dir: String, schema: StructType,
                                       statsCols: Seq[String],
                                       bloomCols: Seq[String],
                                       relPath: String,
                                       ndvCols: Seq[String] = Nil)
  extends DataWriter[InternalRow] {

  private val messageType = SnapshotWriteSupport.messageTypeFor(schema)
  private val factory = new SimpleGroupFactory(messageType)
  private val absPath = new Path(s"$dir/$relPath")

  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var rows = 0L

  private val strStatCols = statsCols.filter(c =>
    schema.fields(schema.fieldIndex(c)).dataType == StringType)
  private val intStatCols = statsCols.filterNot(strStatCols.contains)
  private val statIdx = intStatCols.map(c => c -> schema.fieldIndex(c))
  private val statMin = scala.collection.mutable.Map(intStatCols.map(_ -> Long.MaxValue): _*)
  private val statMax = scala.collection.mutable.Map(intStatCols.map(_ -> Long.MinValue): _*)
  private val statCnt = scala.collection.mutable.Map(statsCols.map(_ -> 0L): _*)
  private val strIdx = strStatCols.map(c => c -> schema.fieldIndex(c))
  private val strMin = scala.collection.mutable.Map[String, UTF8String](
    strStatCols.map(_ -> null.asInstanceOf[UTF8String]): _*)
  private val strMax = scala.collection.mutable.Map[String, UTF8String](
    strStatCols.map(_ -> null.asInstanceOf[UTF8String]): _*)
  private val bloomIdx = bloomCols.map(c => c -> schema.fieldIndex(c))
  private val bloomBits = bloomCols.map(_ ->
    new Array[Long](SnapshotTable.BloomBits / 64)).toMap
  // per-file KMV NDV sketch: k smallest mixed hashes of the value's
  // string form — the same domain the staged-batch agg (KmvValues)
  // produces, so sketches from either write path merge at plan time
  private val ndvIdx = ndvCols.map(c => c -> schema.fieldIndex(c))
  private val ndvSets = ndvCols.map(_ ->
    new java.util.TreeSet[java.lang.Long]()).toMap

  /** Lazy: an empty partition writes no file at all. */
  private def openedWriter() = {
    if (writer == null) {
      val conf = new Configuration()
      GroupWriteSupport.setSchema(messageType, conf)
      writer = ExampleParquetWriter.builder(absPath)
        .withConf(conf)
        .withType(messageType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
    }
    writer
  }

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i)) {
        schema.fields(i).dataType match {
          case BooleanType => g.add(i, row.getBoolean(i))
          case ByteType => g.add(i, row.getByte(i).toInt)
          case ShortType => g.add(i, row.getShort(i).toInt)
          case IntegerType | DateType => g.add(i, row.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            g.add(i, row.getLong(i))
          case FloatType => g.add(i, row.getFloat(i))
          case DoubleType => g.add(i, row.getDouble(i))
          case StringType =>
            g.add(i, Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
          case BinaryType =>
            g.add(i, Binary.fromReusedByteArray(row.getBinary(i)))
          case ArrayType(et, _) =>
            // standard 3-level LIST: one "list" group per element, the
            // element value at its field 0 (absent = null element)
            val arr = row.getArray(i)
            val lg = g.addGroup(i)
            var j = 0
            while (j < arr.numElements()) {
              val eg = lg.addGroup(0)
              if (!arr.isNullAt(j)) et match {
                case BooleanType => eg.add(0, arr.getBoolean(j))
                case ByteType => eg.add(0, arr.getByte(j).toInt)
                case ShortType => eg.add(0, arr.getShort(j).toInt)
                case IntegerType | DateType => eg.add(0, arr.getInt(j))
                case LongType | TimestampType | TimestampNTZType =>
                  eg.add(0, arr.getLong(j))
                case FloatType => eg.add(0, arr.getFloat(j))
                case DoubleType => eg.add(0, arr.getDouble(j))
                case StringType => eg.add(0,
                  Binary.fromReusedByteArray(arr.getUTF8String(j).getBytes))
                case BinaryType => eg.add(0,
                  Binary.fromReusedByteArray(arr.getBinary(j)))
                case dt => throw new IllegalStateException(s"unreachable: $dt")
              }
              j += 1
            }
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        }
      }
      i += 1
    }
    openedWriter().write(g)
    rows += 1
    statIdx.foreach { case (c, idx) =>
      if (!row.isNullAt(idx)) {
        val v = schema.fields(idx).dataType match {
          case ByteType => row.getByte(idx).toLong
          case ShortType => row.getShort(idx).toLong
          case IntegerType => row.getInt(idx).toLong
          case _ => row.getLong(idx)
        }
        if (v < statMin(c)) statMin(c) = v
        if (v > statMax(c)) statMax(c) = v
        statCnt(c) += 1
      }
    }
    strIdx.foreach { case (c, idx) =>
      if (!row.isNullAt(idx)) {
        // clone only when the value becomes a bound — row buffers alias
        val u = row.getUTF8String(idx)
        if (strMin(c) == null || u.compareTo(strMin(c)) < 0) strMin(c) = u.clone()
        if (strMax(c) == null || u.compareTo(strMax(c)) > 0) strMax(c) = u.clone()
        statCnt(c) += 1
      }
    }
    bloomIdx.foreach { case (c, idx) =>
      if (!row.isNullAt(idx)) {
        val h = graft.functions.cat.Kernels.polyHash(
          row.getUTF8String(idx), 31, 1000000007L)
        graft.functions.cat.Kernels.bloomSet(bloomBits(c), h,
          SnapshotTable.BloomK)
      }
    }
    ndvIdx.foreach { case (c, idx) =>
      if (!row.isNullAt(idx)) {
        // hash the CAST-to-string form (integral types print as
        // decimal digits — identical to Spark's string cast)
        val u = schema.fields(idx).dataType match {
          case StringType => row.getUTF8String(idx)
          case ByteType => UTF8String.fromString(row.getByte(idx).toString)
          case ShortType => UTF8String.fromString(row.getShort(idx).toString)
          case IntegerType => UTF8String.fromString(row.getInt(idx).toString)
          case _ => UTF8String.fromString(row.getLong(idx).toString)
        }
        val s = ndvSets(c)
        s.add(graft.functions.cat.KmvSketch.hash(u))
        if (s.size > SnapshotTable.NdvK) s.pollLast()
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) return WrittenFile("", 0L, Map.empty, Map.empty)
    writer.close()
    writer = null
    val stats = intStatCols.flatMap { c =>
      if (statMin(c) > statMax(c)) None // all-null column in this file
      else Some(c -> (statMin(c), statMax(c)))
    }.toMap
    val strStats = strStatCols.flatMap { c =>
      if (strMin(c) == null || strMax(c) == null) None
      else SnapshotTable.strUpperBound(strMax(c).toString)
        .map(u => c -> (SnapshotTable.strLowerBound(strMin(c).toString), u))
    }.toMap
    WrittenFile(relPath, rows, stats,
      bloomCols.map(c => c -> bloomBits(c).toVector.asInstanceOf[Seq[Long]]).toMap,
      noNulls = statsCols.filter(c => statCnt(c) == rows).sorted,
      strStats = strStats,
      ndv = ndvCols.map { c =>
        val out = Vector.newBuilder[Long]
        ndvSets(c).forEach(v => out += v)
        c -> (out.result(): Seq[Long])
      }.toMap)
  }

  override def abort(): Unit = close()

  override def close(): Unit = if (writer != null) {
    writer.close()
    writer = null
    val fs = absPath.getFileSystem(new Configuration())
    fs.delete(absPath, false)
  }
}
