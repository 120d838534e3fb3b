package graft.sources.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

import graft.sources.SnapshotTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.SnapshotTable.FileEntry

/** Executor-side reads for the V2 connector: one partition per
  * manifest file, every one read vectorized by
  * [[SnapshotColumnarFileReader]] — table scans, micro-batch streams
  * and the change feed alike, whatever the projection (data columns,
  * only `_file`/`_pos`, or none at all for a row count). Column
  * pruning reaches the parquet layer as the requested Spark schema;
  * columns a file predates (schema evolution) surface as null or their
  * exists-default; deletion vectors and pending equality deletes mask
  * in-reader. Scale shape: partitions = files, no shuffle; a file's
  * deletion vector is its own Roaring bitmap, loaded by its reader
  * with one range read of the DV file its [[SnapshotTable.Dv]] pointer
  * names. parquet-hadoop record assembly survives only to decode
  * equality-delete sidecars ([[SnapshotPartitions.EqSidecars.loadLocal]]).
  */
/** `dv`: the file's deletion-vector pointer, its path resolved.
  * `eqDvUris`: pending EQUALITY-delete sidecars (resolved URIs). The
  * partition carries only the REFERENCES — the key sets themselves
  * ride one torrent broadcast per scan ([[SnapshotPartitions.EqSidecars
  * .broadcastFor]]), so task closures stay O(refs) however many keys
  * are pending (at the 2M-key cap × many files sharing one sidecar,
  * closure-embedded keys were megabytes per task). Readers mask rows
  * whose key-column value is in the merged set. */
final case class SnapshotFilePartition(fileUri: String, baseName: String,
                                       rows: Long, dv: Option[SnapshotTable.Dv],
                                       eqDvUris: Seq[String] = Nil)
  extends InputPartition

/** One loaded equality-delete sidecar: the physical key columns (with
  * their Spark types as DataType JSON — the columnar reader types an
  * appended key column from them) and the distinct deleted keys in
  * CANONICAL string form: a single-column sidecar stores raw value
  * strings (integral members as decimal digits, dates as days since
  * the epoch); a COMPOSITE sidecar (round-17: real CDC keys are often
  * (tenant, entity)-style tuples) stores [[EqSidecar.encode]]d tuples
  * — length-prefixed parts, collision-free without escaping. The
  * reader parses them back into typed probe sets once per sidecar. */
final case class EqSidecar(cols: Seq[(String, String)], keys: Seq[String]) {
  require(cols.nonEmpty, "an equality-delete sidecar needs key columns")
  /** Memoized PROBE STRUCTURES built from this sidecar's keys (typed
    * hash sets / vector matchers), keyed by the binder's type
    * signature (round-18, guide §1.2): a 96-file scan whose files
    * share one merged sidecar used to rebuild the same ~100k-key set
    * 96 times. Probe structures are read-only after construction and
    * the map provides safe publication, so sharing across tasks is
    * sound; sidecars are immutable, so the memo can never go stale.
    * Transient + lazy: a broadcast deserialization starts it empty. */
  @transient lazy val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  def single: Boolean = cols.lengthCompare(1) == 0
  def colNames: Seq[String] = cols.map(_._1)
}

object EqSidecar {
  /** Canonical tuple form: `len:value|len:value|…` in sidecar column
    * order. Length prefixes make the join separator-collision-free
    * for arbitrary string members; integral members print as decimal
    * digits (identical to Spark's string cast). */
  def encode(parts: Seq[String]): String =
    parts.iterator.map(p => s"${p.length}:$p").mkString("|")

  /** Inverse of [[encode]] — the typed fast paths parse the canonical
    * keys back into member values at BIND time (once per file), so
    * the per-row probe never builds strings. */
  def decode(encoded: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < encoded.length) {
      val colon = encoded.indexOf(':', i)
      val len = encoded.substring(i, colon).toInt
      val start = colon + 1
      out += encoded.substring(start, start + len)
      i = start + len + 1 // skip the '|' separator
    }
    out.result()
  }
}

/** A completed metadata-only aggregate: values computed on the driver
  * from the manifest, replayed as one row ([[SnapshotScanBuilder]]
  * guarantees every value is integral — count/min/max over stats). */
final case class MetadataAggPartition(schemaJson: String, values: Seq[Long])
  extends InputPartition

/** All surviving files of ONE hash bucket, as a single key-grouped
  * input partition — the unit a storage-partitioned join zips with
  * the other side's same-keyed partition. Possibly empty: both scans
  * always present every bucket id, so their partition-value sets
  * match by construction. */
final case class SnapshotBucketPartition(bucket: Int,
                                         files: Seq[SnapshotFilePartition])
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** `schema` holds the requested DATA columns; `meta` names the
  * requested metadata columns (`_file`/`_pos`), which every reader
  * appends after them. */
final class SnapshotReaderFactory(schema: StructType,
                                  filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                                  eqBc: Option[Broadcast[Map[String, EqSidecar]]] = None,
                                  meta: Seq[String] = Nil)
  extends PartitionReaderFactory {

  private val sessionConf = SnapshotPartitions.readerConf()

  private def reader(f: SnapshotFilePartition) =
    new SnapshotColumnarFileReader(f, schema, sessionConf, filters,
      SnapshotPartitions.EqSidecars.resolve(f.eqDvUris, eqBc, sessionConf), meta)

  /** Only a metadata-agg scan, which plans exactly one
    * [[MetadataAggPartition]], reads rows. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case m: MetadataAggPartition => new MetadataAggReader(m)
      case other => throw new IllegalStateException(s"no row reader for $other")
    }

  /** Every file and bucket partition reads VECTORIZED
    * ([[SnapshotColumnarFileReader]]), whatever the projection: batches
    * feed whole-stage codegen directly, dv masking is an in-batch
    * position map, and pending EQUALITY deletes test the (appended)
    * key columns' vector values. An empty projection (a row count) or
    * one of only `_file`/`_pos` decodes no data column at all. */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: SnapshotFilePartition | _: SnapshotBucketPartition => true
    case _ => false
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    p match {
      case f: SnapshotFilePartition => reader(f)
      case b: SnapshotBucketPartition =>
        new ChainedPartitionReader(b.files.map(f => () => reader(f)))
      case other => throw new IllegalStateException(
        s"no columnar reader for $other")
    }
}

/** Sequential concatenation of per-file readers — a bucket partition
  * reads its files one after another. Readers open LAZILY (thunks),
  * so at most one file's reader is live at a time. */
private final class ChainedPartitionReader[T](
    parts: Seq[() => PartitionReader[T]])
  extends PartitionReader[T] {

  private val it = parts.iterator
  private var current: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (!it.hasNext) return false
        current = it.next()()
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false // unreachable
  }

  override def get(): T = current.get()

  override def close(): Unit = if (current != null) {
    current.close()
    current = null
  }
}

private final class MetadataAggReader(p: MetadataAggPartition)
  extends PartitionReader[InternalRow] {

  private val schema = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
  private var emitted = false

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow =
    new GenericInternalRow(schema.fields.zip(p.values).map[Any] {
      case (f, v) => f.dataType match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case _ => v
      }
    })

  override def close(): Unit = ()
}

private[graft] object SnapshotPartitions {

  /** The SQLConf entries Spark's vectorized parquet machinery
    * (ParquetToSparkSchemaConverter, ParquetReadSupport,
    * VectorizedParquetRecordReader) reads off the hadoop conf. In
    * Spark's own scan path ParquetFileFormat copies them from the
    * session; the connector factory does the same at driver time. */
  private def sessionParquetConf(): Map[String, String] = {
    import org.apache.spark.sql.internal.SQLConf
    val c = SQLConf.get
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
      SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
      SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
      SQLConf.VARIANT_ALLOW_READING_SHREDDED,
      SQLConf.LEGACY_PARQUET_RETURN_NULL_STRUCT_IF_ALL_FIELDS_MISSING)
      .map(e => e.key -> c.getConf(e).toString).toMap
  }

  /** Driver-applied hadoop settings that DIFFER from the classpath
    * defaults (object-store credentials, custom fs impls, anything
    * `sparkContext.hadoopConfiguration.set` at runtime) — what an
    * executor-side `new Configuration()` cannot see (round-18; the
    * streaming factories' sidecar loads used classpath defaults and
    * could fail loudly where the batch broadcast path worked). The
    * DELTA only, captured at factory construction on the driver, so
    * task closures carry a handful of entries instead of the ~full
    * Configuration the SerializableConfiguration pattern ships. */
  private def hadoopConfDelta(): Seq[(String, String)] = {
    val session = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val defaults = new Configuration()
    val out = Seq.newBuilder[(String, String)]
    val it = session.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (defaults.get(e.getKey) != e.getValue) out += e.getKey -> e.getValue
    }
    out.result()
  }

  /** Everything a reader factory captures on the DRIVER for its
    * executor-side readers: the runtime hadoop-conf delta plus the
    * parquet SQLConf entries — the executor's bare `Configuration()`
    * has no session, and Spark's vectorized stack reads the SQLConf
    * keys without defaults. */
  def readerConf(): Map[String, String] =
    hadoopConfDelta().toMap ++ sessionParquetConf()

  /** A fresh hadoop conf: classpath defaults overlaid with a factory's
    * [[readerConf]]. */
  def hadoopConf(readerConf: Map[String, String]): Configuration = {
    val conf = new Configuration()
    readerConf.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  def partitionFor(dir: String, fe: FileEntry): SnapshotFilePartition =
    SnapshotFilePartition(SnapshotTable.resolvePath(dir, fe.path),
      new Path(fe.path).getName, fe.rows, resolvedDv(dir, fe),
      fe.eqDv.map(p => SnapshotTable.resolvePath(dir, p)))

  /** `fe`'s deletion-vector pointer with its path resolved; refuses a
    * retired sidecar pointer. */
  def resolvedDv(dir: String, fe: FileEntry): Option[SnapshotTable.Dv] =
    fe.dv.map { d =>
      if (d.legacy) throw graft.sources.DeletionVectors.legacyRefusal(dir, fe.path)
      d.copy(path = SnapshotTable.resolvePath(dir, d.path))
    }

  /** Per-file pending-key budget: readers materialize the merged key
    * set per (file, query), so an unbounded accumulation would OOM at
    * read; the cap fails loudly with the fold as the stated remedy.
    * Enforced at ATTACH time (deleteByKey) and re-checked at read
    * planning — a reader can meet a legacy over-cap table. */
  private[graft] val MaxPendingKeys = 2000000L

  /** Footer-only row count of one sidecar parquet (= its distinct key
    * count; sidecars store distinct non-null keys). The attach-time
    * pending-key budget check reads this instead of running Spark
    * jobs — O(affected files × refs) footer opens, cached (sidecars
    * are immutable). */
  private val sidecarRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def sidecarRows(conf: Configuration, uri: String): Long =
    sidecarRowCache.computeIfAbsent(uri, u => {
      val pfr = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(u), conf))
      try java.lang.Long.valueOf(pfr.getRecordCount) finally pfr.close()
    }).longValue()

  /** Driver-side cache of equality-delete sidecars: each is one tiny
    * immutable parquet (the distinct deleted keys of one commit,
    * column-named for the physical key, typed as the table's key
    * column), loaded once per JVM. Scans ship the loaded sets to
    * executors as ONE torrent broadcast per scan
    * ([[broadcastFor]]) — tasks carry sidecar REFS only. */
  private[graft] object EqSidecars {
    // size-bounded LRU (sidecars are immutable, so eviction only costs
    // a re-read): a long-lived session sweeping many high-churn tables
    // must not accumulate every epoch's key array for the JVM's life
    private val MaxCached = 256
    private val cache =
      new java.util.LinkedHashMap[String, EqSidecar](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, EqSidecar]): Boolean =
          size() > MaxCached
      }

    /** Pre-populate the cache with a sidecar the DRIVER just wrote
      * (round-18, guide §1.2): a small epoch's keys are already in
      * memory at write time, so the first post-epoch scan needn't run
      * a Spark read job to re-derive what the writer held. The entry
      * is exactly what [[load]] would compute (same canonical string
      * forms, same (name, dtype-json) columns), keyed by the same
      * resolved uri, and evicts like any other entry. */
    def seed(uri: String, cols: Seq[(String, String)],
             canonicalKeys: Vector[String]): Unit = {
      val loaded = EqSidecar(cols, canonicalKeys)
      cache.synchronized { cache.put(uri, loaded) }
    }

    def load(uri: String): EqSidecar = {
      cache.synchronized {
        val hit = cache.get(uri)
        if (hit != null) return hit
      }
      // read OUTSIDE the lock (a Spark job); a racing double-load is
      // idempotent — sidecars are immutable
      val spark = org.apache.spark.sql.SparkSession.active
      val df = spark.read.parquet(uri)
      val cols = df.schema.fields.toSeq.map(f => (f.name, f.dataType.json))
      // canonical string form per member: decimal digits for
      // integrals, raw value for strings, DAYS-SINCE-EPOCH for dates
      // (round-18; a yyyy-MM-dd cast here would disagree with every
      // executor-side reader, which sees the parquet INT32 days)
      val strs = df.select(df.schema.fields.map { f =>
        import org.apache.spark.sql.functions.{col, datediff, lit}
        val c = col(s"`${f.name}`")
        (f.dataType match {
          case DateType => datediff(c, lit("1970-01-01").cast("date"))
          case _ => c
        }).cast("string")
        // no .distinct() (round-18): sidecars store distinct non-null
        // keys by construction (deleteByKeysCore writes the distinct
        // typed batch; canonical string forms are injective per
        // member type), so the dedup was a shuffle per sidecar load
      }.toIndexedSeq: _*).na.drop().collect()
      val keys =
        if (cols.lengthCompare(1) == 0) strs.map(_.getString(0)).toVector
        else strs.map(r =>
          EqSidecar.encode(cols.indices.map(r.getString))).toVector
      val loaded = EqSidecar(cols, keys)
      cache.synchronized { cache.put(uri, loaded) }
      loaded
    }

    /** EXECUTOR-safe sidecar load: parquet-hadoop record assembly
      * against the one-column key file — no SparkSession, no nested
      * job — so a reader factory can resolve a partition's refs with
      * NO scan broadcast. This is the streaming micro-batch path:
      * batches are small, refs are few, and the old alternative was a
      * plan-order side channel (the factory depended on
      * `planInputPartitions` having stashed the refs first). Shares
      * the LRU cache, so an executor reads each immutable sidecar
      * once however many tasks/files reference it. */
    def loadLocal(conf: Configuration, uri: String): EqSidecar = {
      cache.synchronized {
        val hit = cache.get(uri)
        if (hit != null) return hit
      }
      val path = new Path(uri)
      val fileSchema = {
        val pfr = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try pfr.getFileMetaData.getSchema finally pfr.close()
      }
      require(fileSchema.getFieldCount >= 1,
        s"equality-delete sidecar $uri carries no columns")
      import PrimitiveType.PrimitiveTypeName._
      val members = (0 until fileSchema.getFieldCount).map { i =>
        val pt = fileSchema.getType(i).asPrimitiveType()
        val name = fileSchema.getFieldName(i)
        val dt: DataType = pt.getPrimitiveTypeName match {
          case INT32 => pt.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if t.getBitWidth == 8 => ByteType
            case t: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if t.getBitWidth == 16 => ShortType
            // DATE sidecar members surface as DateType so an appended
            // request field decodes the annotated column correctly;
            // the canonical form stays the raw INT32 days below
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
              DateType
            case _ => IntegerType
          }
          case INT64 => LongType
          case BINARY => StringType
          case other => throw new IllegalStateException(
            s"equality-delete sidecar $uri has unmaskable physical type $other")
        }
        val toStr: Group => String = pt.getPrimitiveTypeName match {
          case INT32 => g => g.getInteger(i, 0).toString
          case INT64 => g => g.getLong(i, 0).toString
          case _ => g => g.getBinary(i, 0).toStringUsingUTF8
        }
        ((name, dt.json), toStr)
      }
      val single = members.lengthCompare(1) == 0
      val keys = Vector.newBuilder[String]
      val r = ParquetReader.builder(new GroupReadSupport(), path)
        .withConf(conf).build()
      try {
        var g = r.read()
        while (g != null) {
          // sidecars store non-null members by construction, but stay
          // defensive: a row with an absent member can match nothing
          if (members.indices.forall(i => g.getFieldRepetitionCount(i) > 0))
            keys += (if (single) members.head._2(g)
            else EqSidecar.encode(members.map(_._2(g))))
          g = r.read()
        }
      } finally r.close()
      val loaded = EqSidecar(members.map(_._1), keys.result())
      cache.synchronized { cache.put(uri, loaded) }
      loaded
    }

    /** Per-key-signature union of several sidecars' key sets (a file
      * can accumulate pending refs across delete epochs; sidecars
      * with DIFFERENT column signatures stay separate entries — a row
      * dies when it matches ANY of them). */
    def merge(sidecars: Seq[EqSidecar]): Seq[EqSidecar] =
      sidecars.groupBy(_.cols).map { case (cs, ss) =>
        if (ss.lengthCompare(1) == 0) ss.head // nothing to union — and
        // reusing the instance keeps its probeMemo warm
        else EqSidecar(cs, ss.flatMap(_.keys).distinct)
      }.toSeq.sortBy(_.colNames.mkString(","))

    /** [[merge]] memoized on the resolved ref-uri LIST (round-18):
      * every file of a scan that carries the same pending refs gets
      * the SAME merged sidecar objects, so the union work runs once
      * per distinct ref combination per JVM instead of once per file
      * — and the shared instances make [[EqSidecar.probeMemo]]
      * coalesce the typed-set builds across the scan's tasks.
      * Sidecar files are immutable, so the uri list fully determines
      * the result. */
    private val mergedCache =
      new java.util.LinkedHashMap[Seq[String], Seq[EqSidecar]](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[String], Seq[EqSidecar]]): Boolean =
          size() > 128
      }

    def mergedFor(uris: Seq[String], resolve: String => EqSidecar)
        : Seq[EqSidecar] = {
      mergedCache.synchronized {
        val hit = mergedCache.get(uris)
        if (hit != null) return hit
      }
      val m = merge(uris.map(resolve)) // outside the lock; idempotent
      mergedCache.synchronized { mergedCache.put(uris, m) }
      m
    }

    /** The merged pending sidecars behind one partition's `refs`,
      * resolved EXECUTOR-side by every reader factory: off the scan's
      * one broadcast when it shipped one (batch scans and the batch
      * change feed — loud on a ref the broadcast missed, silence there
      * would un-delete rows), or loaded directly off the sidecar files
      * when it did not (streaming micro-batch factories, whose batches
      * carry few refs — no dependence on plan-order side state). */
    def resolve(refs: Seq[String], bc: Option[Broadcast[Map[String, EqSidecar]]],
                readerConf: Map[String, String]): Seq[EqSidecar] =
      if (refs.isEmpty) Nil
      else mergedFor(refs, bc match {
        case Some(b) =>
          val data = b.value
          u => data.getOrElse(u, throw new IllegalStateException(
            s"equality-delete sidecar $u is not in the scan's broadcast"))
        case None =>
          val conf = hadoopConf(readerConf)
          u => loadLocal(conf, u)
      })

    /** One file's merged pending sidecars, loaded on the driver — the
      * change-feed planner subtracts them from a commit's new keys. */
    def skipFor(dir: String, fe: FileEntry): Seq[EqSidecar] =
      if (fe.eqDv.isEmpty) Nil
      else merge(fe.eqDv.map(p => load(SnapshotTable.resolvePath(dir, p))))

    /** ONE broadcast per scan carrying every pending sidecar the
      * scan's files reference — the executor-side lookup behind
      * [[resolve]]. None when nothing is pending
      * (the overwhelmingly common case — zero broadcast overhead).
      * With `enforceCap`, re-checks the per-file key cap ([[overCap]])
      * and refuses loudly past it. */
    def broadcastFor(dir: String, files: Seq[FileEntry], enforceCap: Boolean = true)
        : Option[Broadcast[Map[String, EqSidecar]]] = {
      val withRefs = files.filter(_.eqDv.nonEmpty)
      if (withRefs.isEmpty) return None
      val data = withRefs.flatMap(_.eqDv).distinct.map { p =>
        val uri = SnapshotTable.resolvePath(dir, p)
        uri -> load(uri)
      }.toMap
      if (enforceCap) overCap(dir, withRefs, data).foreach { case (fe, exact) =>
        throw new IllegalArgumentException(
          s"${fe.path} carries $exact pending equality-delete keys — " +
            "too many to mask at read; run purge_deletes (or compact) " +
            "to fold them into the files")
      }
      Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(data))
    }

    /** The first file whose pending keys exceed [[MaxPendingKeys]],
      * with its exact merged count. The check sums the refs' sizes —
      * the same upper bound attach-time enforcement maintains, so
      * every engine-written table passes identically. The exact merged
      * count used here previously re-unioned every file's full key
      * sets on the driver per scan — O(files × keys) string hashing
      * that profiled at ~15% of a CDC query's driver time (round-18,
      * guide §7.3), for a number only compared against the cap. When
      * the cheap sum DOES exceed the cap (overlap-heavy refs from a
      * legacy/external writer — engine attach-time enforcement bounds
      * the sum, so its own tables never get here), fall back to the
      * exact merged count before refusing, so the optimization can
      * never reject a table the slow path could read (round-19, pinned
      * by EqualityDeleteSpec "overlapping refs", the round-18
      * advisor's edge). */
    private def overCap(dir: String, withRefs: Seq[FileEntry],
                        data: Map[String, EqSidecar]): Option[(FileEntry, Long)] =
      withRefs.iterator.map { fe =>
        val uris = fe.eqDv.map(p => SnapshotTable.resolvePath(dir, p))
        val total = uris.map(u => data(u).keys.size.toLong).sum
        fe -> (if (total <= MaxPendingKeys) total
               else mergedFor(uris, data).map(_.keys.size.toLong).sum)
      }.find(_._2 > MaxPendingKeys)

    /** [[broadcastFor]] from already-resolved sidecar URIs — the
      * change-feed surfaces collect refs off their planned partitions
      * (no FileEntry in hand, no cap re-check: the feed replays what
      * the table already holds). */
    def broadcastForUris(uris: Seq[String])
        : Option[Broadcast[Map[String, EqSidecar]]] =
      if (uris.isEmpty) None
      else Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(uris.distinct.map(u => u -> load(u)).toMap))
  }

  /** Data rows decoded by the columnar readers since the last reset —
    * pins that pushed FilterPredicates actually prune row groups /
    * pages inside dv-carrying files. */
  private[graft] val columnarRowsDecoded = new java.util.concurrent.atomic.LongAdder
}
