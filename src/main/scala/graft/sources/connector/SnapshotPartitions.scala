package graft.sources.connector

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}

import graft.sources.SnapshotTable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable.FileEntry

/** Executor-side row production for the V2 connector: one partition
  * per manifest file, each read with a self-contained parquet-hadoop
  * reader (record-assembly API — no nested Spark job, no driver
  * round-trip). Column pruning reaches the parquet layer as a
  * projection `MessageType`, so unrequested columns are never
  * decoded; columns a file predates (schema evolution) surface as
  * null; deletion-vector positions are subtracted row-by-row exactly
  * as `SnapshotTable.scan`'s anti-join does.
  *
  * The readers deliberately trade the vectorized reader's throughput
  * for zero dependence on Spark's internal parquet classes — the
  * connector is the declarative/planning surface; bulk reads go
  * through `SnapshotTable.scan`. Scale shape is unchanged either way:
  * partitions = files, no shuffle, dv sidecars are tiny and loaded
  * per-file (positions of DELETED rows only).
  */
/** `eqDvUris`: pending EQUALITY-delete sidecars (resolved URIs). The
  * partition carries only the REFERENCES — the key sets themselves
  * ride one torrent broadcast per scan ([[SnapshotPartitions.EqSidecars
  * .broadcastFor]]), so task closures stay O(refs) however many keys
  * are pending (at the 2M-key cap × many files sharing one sidecar,
  * closure-embedded keys were megabytes per task). Readers mask rows
  * whose key-column value is in the merged set. */
final case class SnapshotFilePartition(fileUri: String, baseName: String,
                                       rows: Long, dvUri: Option[String],
                                       eqDvUris: Seq[String] = Nil)
  extends InputPartition

/** One loaded equality-delete sidecar: the physical key columns (with
  * their Spark types as DataType JSON — the columnar reader rebuilds
  * typed key sets from them) and the distinct deleted keys in
  * CANONICAL string form: a single-column sidecar stores raw value
  * strings (the row readers' comparison coordinate); a COMPOSITE
  * sidecar (round-17: real CDC keys are often (tenant, entity)-style
  * tuples) stores [[EqSidecar.encode]]d tuples — length-prefixed
  * parts, collision-free without escaping. */
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
  /** Single-column accessors — loud on composite sidecars, so a
    * not-yet-composite-aware path can never treat encoded tuples as
    * raw key values. */
  def col: String = {
    require(single, s"composite equality-delete key ${colNames.mkString(",")}" +
      " reached a single-column path")
    cols.head._1
  }
  def dtJson: String = cols.head._2
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

final class SnapshotReaderFactory(schema: StructType,
                                  filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                                  eqBc: Option[org.apache.spark.broadcast
                                    .Broadcast[Map[String, EqSidecar]]] = None)
  extends PartitionReaderFactory {

  /** SQLConf-derived parquet settings PLUS the driver's runtime
    * hadoop-conf delta ([[SnapshotPartitions.hadoopConfDelta]]),
    * captured on the DRIVER (the factory is built in
    * createReaderFactory) — the executor's bare `Configuration()` has
    * no session, Spark's vectorized stack reads the SQLConf keys
    * without defaults, and runtime fs settings (object-store creds)
    * never reach classpath defaults. */
  private val sessionConf: Map[String, String] =
    SnapshotPartitions.hadoopConfDelta().toMap ++
      SnapshotPartitions.sessionParquetConf()

  /** The partition's pending equality deletes, resolved EXECUTOR-side:
    * from the scan's one broadcast when it shipped one (batch scans —
    * loud on a ref the broadcast missed, silence there would
    * un-delete rows), or loaded directly off the sidecar files when
    * it did not (streaming micro-batch factories, whose batches carry
    * few refs — the per-partition load retires the factory's old
    * dependence on plan-order side state). */
  private def eqFor(p: SnapshotFilePartition): Seq[EqSidecar] =
    if (p.eqDvUris.isEmpty) Nil
    else SnapshotPartitions.EqSidecars.mergedFor(p.eqDvUris, eqBc match {
      case Some(bc) =>
        val data = bc.value
        u => data.getOrElse(u, throw new IllegalStateException(
          s"equality-delete sidecar $u is not in the scan's broadcast"))
      case None =>
        val conf = new Configuration()
        sessionConf.foreach { case (k, v) => conf.set(k, v) }
        u => SnapshotPartitions.EqSidecars.loadLocal(conf, u)
    })

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case m: MetadataAggPartition => new MetadataAggReader(m)
      case f: SnapshotFilePartition => new SnapshotFileReader(f, schema,
        eqSkipOverride = Some(eqFor(f)), confExtra = sessionConf)
      case b: SnapshotBucketPartition => new ChainedPartitionReader(
        b.files.map(f => () => new SnapshotFileReader(f, schema,
          eqSkipOverride = Some(eqFor(f)), confExtra = sessionConf)))
    }

  /** File partitions with a non-empty projection read VECTORIZED
    * ([[SnapshotColumnarFileReader]]): batches feed whole-stage
    * codegen directly; dv masking is an in-batch position map and
    * pending EQUALITY deletes test the (appended) key columns'
    * vector values — the columnar verdict never flips on eq-pending
    * files, so a full scan mid-CDC keeps whole-stage codegen.
    * An empty projection (pure row counting) stays on the row reader,
    * which replays `liveRows` without opening the file at all (and,
    * with eq refs pending, decodes just the key columns) — and a
    * metadata-agg scan plans exactly one [[MetadataAggPartition]], so
    * the all-or-nothing columnar contract holds per scan. */
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case _: SnapshotFilePartition => schema.nonEmpty
    case _: SnapshotBucketPartition => schema.nonEmpty
    case _ => false
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case f: SnapshotFilePartition =>
        new SnapshotColumnarFileReader(f, schema, sessionConf, filters, eqFor(f))
      case b: SnapshotBucketPartition =>
        new ChainedPartitionReader(b.files.map(f =>
          () => new SnapshotColumnarFileReader(f, schema, sessionConf,
            filters, eqFor(f))))
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

private object SnapshotFileReader {
  /** Julian day of the unix epoch (INT96 timestamps are
    * (nanos-of-day, julian-day) pairs — the legacy parquet encoding
    * some writers still emit). */
  val JulianEpochDay = 2440588L
}

/** Row reader for one data file. Default behavior: emit every row
  * except the dv-deleted positions. The change-feed readers override
  * the masking: `skipOverride` replaces the dv-derived skip set, and
  * `keepOnly` inverts the contract to "emit ONLY these positions"
  * (how a dv DELTA between two versions replays just the newly
  * deleted/restored rows). `extra` values are appended verbatim to
  * every emitted row (the feed's change_type / commit_version). */
private[connector] final class SnapshotFileReader(
    p: SnapshotFilePartition, schema: StructType,
    skipOverride: Option[java.util.HashSet[java.lang.Long]] = None,
    keepOnly: Option[java.util.HashSet[java.lang.Long]] = None,
    extra: Array[Any] = Array.empty,
    eqSkipOverride: Option[Seq[EqSidecar]] = None,
    eqKeepOnly: Option[(Seq[String], Seq[String])] = None,
    confExtra: Map[String, String] = Map.empty)
  extends PartitionReader[InternalRow] {

  // classpath defaults plus the factory's driver-captured overlay
  // (runtime hadoop-conf delta — object-store creds, custom fs impls
  // — and the parquet SQLConf entries); callers without a factory
  // (change-feed driver-side loads) pass nothing and keep the old
  // file://-and-hdfs classpath resolution
  private val conf = new Configuration()
  confExtra.foreach { case (k, v) => conf.set(k, v) }
  private val path = new Path(p.fileUri)

  /** Deleted row positions of THIS file (dv sidecars may be shared
    * across files — filter on the file's basename). */
  private val deleted: java.util.HashSet[java.lang.Long] =
    skipOverride.getOrElse(SnapshotPartitions.deletedPositions(conf, p))

  private def emits(pos: Long): Boolean = keepOnly match {
    case Some(keep) => keep.contains(pos)
    case None => !deleted.contains(pos)
  }

  /** Pending EQUALITY deletes to mask (canonical-string membership:
    * raw value for single-column keys, [[EqSidecar.encode]]d tuple
    * for composite ones), and the feed's inversion ("emit ONLY rows
    * matching these keys"). Key sets arrive from the caller — the
    * factory resolves them executor-side (broadcast or per-partition
    * load); the change feed materializes its own (CDC-epoch-sized)
    * sets driver-side. */
  private val eqSkip: Seq[(Seq[String], java.util.HashSet[String])] =
    eqSkipOverride.getOrElse(Nil).map { e =>
      // memoized on the (shared, immutable) sidecar — files sharing
      // one merged sidecar build the canonical-string set once per
      // JVM (round-18; HashSet is probe-only after construction here)
      e.colNames -> e.probeMemo.computeIfAbsent("strset", _ => {
        val s = new java.util.HashSet[String](e.keys.size * 2)
        e.keys.foreach(s.add)
        s
      }).asInstanceOf[java.util.HashSet[String]]
    }
  private val eqKeep: Option[(Seq[String], java.util.HashSet[String])] =
    eqKeepOnly.map { case (cs, ks) =>
      val s = new java.util.HashSet[String](ks.size * 2)
      ks.foreach(s.add)
      cs -> s
    }

  private val liveRows =
    keepOnly.map(_.size.toLong).getOrElse(p.rows - deleted.size)

  /** (projection index or -1, converter) per requested field, bound
    * against this file's actual schema — -1 (column added after this
    * file was written) reads as null. Equality-delete key columns are
    * APPENDED to the projection when not already requested (the mask
    * needs their values) and never surface in the output row. */
  private val (reader: Option[ParquetReader[Group]],
               fields: Array[(Int, (Group, Int) => Any)],
               eqCheckers: Seq[(Array[(Int, Group => String)], java.util.HashSet[String])],
               eqKeepChecker: Option[Option[(Array[(Int, Group => String)], java.util.HashSet[String])]]) = {
    val eqColsWanted =
      (eqSkip.flatMap(_._1) ++ eqKeep.toSeq.flatMap(_._1)).distinct
    if (schema.isEmpty && eqColsWanted.isEmpty)
      (None, Array.empty[(Int, (Group, Int) => Any)], Nil, None)
    else {
      val fileSchema = footerSchema(path)
      val present = schema.fields.filter(f => fileSchema.containsField(f.name))
      val eqPresent = eqColsWanted.filter(c =>
        fileSchema.containsField(c) && !present.exists(_.name == c))
      val projCols = present.map(_.name).toSeq ++ eqPresent
      val projection: Option[MessageType] =
        if (projCols.isEmpty) None // no requested column predates this file
        else Some(buildProjection(fileSchema, projCols))
      val r = projection.map(openWith(path, _))
      val fs: Array[(Int, (Group, Int) => Any)] = schema.fields.map { f =>
        projection match {
          case Some(proj) if proj.containsField(f.name) =>
            val idx = proj.getFieldIndex(f.name)
            (idx, anyConverter(f.dataType, proj.getType(idx), f.name))
          case _ => (-1, null)
        }
      }
      // the string form of a key value, straight off the parquet
      // primitive (integral types print as decimal digits — identical
      // to Spark's string cast, the form the sidecars store)
      def stringer(proj: MessageType, c: String): Option[(Int, Group => String)] =
        if (!proj.containsField(c)) None
        else {
          val idx = proj.getFieldIndex(c)
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          val f: Group => String = proj.getType(idx).asPrimitiveType()
            .getPrimitiveTypeName match {
            case BINARY => g => g.getBinary(idx, 0).toStringUsingUTF8
            case INT64 => g => g.getLong(idx, 0).toString
            case INT32 => g => g.getInteger(idx, 0).toString
            case other => throw new IllegalStateException(
              s"equality-delete key '$c' has unmaskable parquet type $other")
          }
          Some((idx, f))
        }
      // one checker per SIDECAR: its member (idx, stringer) pairs plus
      // the canonical key set. A sidecar with a member the file
      // predates can match no row (tuple equality over an absent
      // member is never true) — its checker drops for skip, and the
      // keep case emits nothing (Some(None) below).
      def tupleChecker(proj: MessageType, cs: Seq[String],
                       set: java.util.HashSet[String])
          : Option[(Array[(Int, Group => String)], java.util.HashSet[String])] = {
        val members = cs.map(stringer(proj, _))
        if (members.exists(_.isEmpty)) None
        else Some((members.map(_.get).toArray, set))
      }
      val checkers = projection.toSeq.flatMap(proj =>
        eqSkip.flatMap { case (cs, set) => tupleChecker(proj, cs, set) })
      // Some(None) = keep-only requested but a keyed column predates
      // this file: NO row can match — emit nothing
      val keepChecker = eqKeep.map { case (cs, set) =>
        projection.flatMap(proj => tupleChecker(proj, cs, set))
      }
      (r, fs, checkers, keepChecker)
    }
  }

  /** One sidecar's membership test for the current group: every member
    * present (a null/absent key never matches — SQL tuple equality),
    * canonical form (raw single value / encoded tuple) in the set. */
  private def eqMatches(members: Array[(Int, Group => String)],
                        set: java.util.HashSet[String], g: Group): Boolean = {
    var i = 0
    while (i < members.length) {
      if (g.getFieldRepetitionCount(members(i)._1) == 0) return false
      i += 1
    }
    val form =
      if (members.length == 1) members(0)._2(g)
      else EqSidecar.encode(members.toSeq.map(_._2(g)))
    set.contains(form)
  }

  /** Equality verdict for the current group: not in any pending
    * delete set, and (for feed delta legs) IN the keep set. */
  private def eqEmits(g: Group): Boolean = {
    var i = 0
    while (i < eqCheckers.length) {
      val (members, set) = eqCheckers(i)
      if (eqMatches(members, set, g)) return false
      i += 1
    }
    eqKeepChecker match {
      case None => true
      case Some(None) => false // keep-only over a column this file lacks
      case Some(Some((members, set))) => eqMatches(members, set, g)
    }
  }

  /** Existence defaults per requested field (null where none): a row
    * in a file that PREDATES a DEFAULT-carrying column reads the
    * column's exists-default instead of null — the value is already in
    * Catalyst's internal form (the vectorized reader applies the same
    * metadata natively; this keeps the row reader identical). A real
    * NULL in a file that HAS the column stays null: the default is an
    * absence fill, not a null rewrite. */
  private val existsDefaults: Array[Any] =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .existenceDefaultValues(schema)

  private var pos = -1L // physical row index, dv positions' coordinate
  private var emitted = 0L
  private var current: Group = _

  override def next(): Boolean = reader match {
    case None => // nothing to decode; emit liveRows empty/null rows
      // keep-only over a projectionless read (the keyed column — and
      // every requested one — predates this file): nothing can match
      if (eqKeepChecker.contains(None)) return false
      if (emitted >= liveRows) false
      else { emitted += 1; true }
    case Some(r) =>
      var g = r.read()
      pos += 1
      while (g != null && !(emits(pos) && eqEmits(g))) {
        g = r.read(); pos += 1
      }
      current = g
      g != null
  }

  override def get(): InternalRow =
    new GenericInternalRow(fields.zipWithIndex.map[Any] {
      case ((idx, conv), i) =>
        if (idx < 0 || current == null) existsDefaults(i)
        else if (current.getFieldRepetitionCount(idx) == 0) null
        else conv(current, idx)
    } ++ extra)

  override def close(): Unit = reader.foreach(_.close())

  private def footerSchema(f: Path): MessageType = {
    val pfr = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try pfr.getFileMetaData.getSchema finally pfr.close()
  }

  private def buildProjection(fileSchema: MessageType,
                              cols: Seq[String]): MessageType = {
    val types: java.util.List[org.apache.parquet.schema.Type] =
      cols.filter(fileSchema.containsField)
        .map(c => fileSchema.getType(fileSchema.getFieldIndex(c)))
        .toList.asJava
    new MessageType(fileSchema.getName, types)
  }

  private def openWith(f: Path, projection: MessageType): ParquetReader[Group] = {
    val c = new Configuration(conf)
    c.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    ParquetReader.builder(new GroupReadSupport(), f).withConf(c).build()
  }

  private def openProjected(f: Path, cols: Seq[String]): ParquetReader[Group] =
    openWith(f, buildProjection(footerSchema(f), cols))

  /** Dispatch over the connector's readable surface: primitives bind
    * [[converter]] directly; ARRAY columns bind an element converter
    * through the standard 3-level LIST shape (`group (LIST) {
    * repeated group list { <element> } }` — what both this engine's
    * writers and Spark's parquet writer emit). */
  private def anyConverter(dt: DataType, t: org.apache.parquet.schema.Type,
                           name: String): (Group, Int) => Any = (dt, t) match {
    case (ArrayType(et, _), gt: org.apache.parquet.schema.GroupType)
        if gt.getFieldCount == 1 && !gt.getType(0).isPrimitive =>
      val inner = gt.getType(0).asGroupType() // the repeated "list" group
      require(inner.getFieldCount == 1,
        s"graft_snapshot: array column '$name' is not a standard " +
          "3-level parquet LIST; read via SnapshotTable.scan")
      val elemConv = converter(et, inner.getType(0).asPrimitiveType(),
        s"$name.element")
      (g, i) => {
        val lg = g.getGroup(i, 0)
        val n = lg.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var j = 0
        while (j < n) {
          val eg = lg.getGroup(0, j)
          out(j) =
            if (eg.getFieldRepetitionCount(0) == 0) null else elemConv(eg, 0)
          j += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
    case (d, pt: PrimitiveType) => converter(d, pt, name)
    case (d, other) => throw new UnsupportedOperationException(
      s"graft_snapshot: column '$name' ${d.simpleString} stored as " +
        s"$other is outside the connector's type surface; read via " +
        "SnapshotTable.scan")
  }

  /** Physical parquet value → Spark internal value for one primitive
    * column. Bound once per file, so the per-row path is a direct
    * accessor call. */
  private def converter(dt: DataType, pt: PrimitiveType,
                        name: String): (Group, Int) => Any = {
    import PrimitiveType.PrimitiveTypeName._
    def tsUnitToMicros(raw: Long): Long =
      pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => raw
            case LogicalTypeAnnotation.TimeUnit.NANOS => raw / 1000L
          }
        case _ => raw // bare INT64 written as micros
      }
    (dt, pt.getPrimitiveTypeName) match {
      case (BooleanType, BOOLEAN) => (g, i) => g.getBoolean(i, 0)
      case (ByteType, INT32) => (g, i) => g.getInteger(i, 0).toByte
      case (ShortType, INT32) => (g, i) => g.getInteger(i, 0).toShort
      case (IntegerType, INT32) => (g, i) => g.getInteger(i, 0)
      case (LongType, INT64) => (g, i) => g.getLong(i, 0)
      case (FloatType, FLOAT) => (g, i) => g.getFloat(i, 0)
      case (DoubleType, DOUBLE) => (g, i) => g.getDouble(i, 0)
      case (StringType, BINARY) =>
        (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case (BinaryType, BINARY) => (g, i) => g.getBinary(i, 0).getBytes
      case (DateType, INT32) => (g, i) => g.getInteger(i, 0)
      case (TimestampType | TimestampNTZType, INT64) =>
        (g, i) => tsUnitToMicros(g.getLong(i, 0))
      case (TimestampType | TimestampNTZType, INT96) =>
        (g, i) => {
          val buf = ByteBuffer.wrap(g.getInt96(i, 0).getBytes)
            .order(LITTLE_ENDIAN)
          val nanosOfDay = buf.getLong
          val julianDay = buf.getInt
          (julianDay - SnapshotFileReader.JulianEpochDay) * 86400L * 1000000L +
            nanosOfDay / 1000L
        }
      case (d, phys) => throw new UnsupportedOperationException(
        s"graft_snapshot: column '$name' ${d.simpleString} stored as $phys " +
          "is outside the connector's type surface; read via SnapshotTable.scan")
    }
  }
}

private[graft] object SnapshotPartitions {

  /** The SQLConf entries Spark's vectorized parquet machinery
    * (ParquetToSparkSchemaConverter, ParquetReadSupport,
    * VectorizedParquetRecordReader) reads off the hadoop conf. In
    * Spark's own scan path ParquetFileFormat copies them from the
    * session; the connector factory does the same at driver time. */
  def sessionParquetConf(): Map[String, String] = {
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
  def hadoopConfDelta(): Seq[(String, String)] = {
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

  def partitionFor(dir: String, fe: FileEntry): SnapshotFilePartition =
    SnapshotFilePartition(SnapshotTable.resolvePath(dir, fe.path),
      new Path(fe.path).getName, fe.rows,
      fe.dv.map(d => SnapshotTable.resolvePath(dir, d._1)),
      fe.eqDv.map(p => SnapshotTable.resolvePath(dir, p)))

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

    /** The change feed's driver-side merged skip sets for one file
      * (CDC epochs are tiny; the feed replays files one epoch at a
      * time, so closure-embedded sets stay batch-sized there). */
    def skipFor(dir: String, fe: FileEntry): Seq[EqSidecar] =
      if (fe.eqDv.isEmpty) Nil
      else merge(fe.eqDv.map(p => load(SnapshotTable.resolvePath(dir, p))))

    /** ONE broadcast per scan carrying every pending sidecar the
      * scan's files reference — the executor-side lookup behind
      * [[SnapshotReaderFactory.eqFor]]. None when nothing is pending
      * (the overwhelmingly common case — zero broadcast overhead).
      * Re-checks the per-file key cap ([[overCap]]) and refuses loudly
      * past it. */
    def broadcastFor(dir: String, files: Seq[FileEntry])
        : Option[org.apache.spark.broadcast.Broadcast[Map[String, EqSidecar]]] = {
      val withRefs = files.filter(_.eqDv.nonEmpty)
      if (withRefs.isEmpty) return None
      val data = loadAll(dir, withRefs)
      overCap(dir, withRefs, data).foreach { case (fe, exact) =>
        throw new IllegalArgumentException(
          s"${fe.path} carries $exact pending equality-delete keys — " +
            "too many to mask at read; run purge_deletes (or compact) " +
            "to fold them into the files")
      }
      Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(data))
    }

    /** True when [[broadcastFor]] would accept `files`: no file's
      * pending keys exceed the cap. Loads (and caches) the sidecars a
      * scan of them broadcasts. `SnapshotTable.readFiles` asks before
      * routing a read through the connector, so the folds the refusal
      * names (purge, compact) still read an over-cap file. */
    def withinCap(dir: String, files: Seq[FileEntry]): Boolean = {
      val withRefs = files.filter(_.eqDv.nonEmpty)
      withRefs.isEmpty || overCap(dir, withRefs, loadAll(dir, withRefs)).isEmpty
    }

    private def loadAll(dir: String, withRefs: Seq[FileEntry])
        : Map[String, EqSidecar] =
      withRefs.flatMap(_.eqDv).distinct.map { p =>
        val uri = SnapshotTable.resolvePath(dir, p)
        uri -> load(uri)
      }.toMap

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
        : Option[org.apache.spark.broadcast.Broadcast[Map[String, EqSidecar]]] =
      if (uris.isEmpty) None
      else Some(org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(uris.distinct.map(u => u -> load(u)).toMap))
  }

  /** Sidecar rows DECODED by [[deletedPositions]] since the last
    * reset — single-JVM telemetry for specs/probes pinning that a
    * shared sidecar prunes to ~each task's own positions (local[n]
    * runs executors in-process, so the adder sees every task). */
  private[graft] val sidecarRowsDecoded = new java.util.concurrent.atomic.LongAdder
  /** Data rows decoded by the columnar readers since the last reset —
    * pins that pushed FilterPredicates actually prune row groups /
    * pages inside dv-carrying files. */
  private[graft] val columnarRowsDecoded = new java.util.concurrent.atomic.LongAdder
  private[graft] def resetSidecarTelemetry(): Unit = {
    sidecarRowsDecoded.reset()
    columnarRowsDecoded.reset()
  }

  /** The deleted row positions of the partition's file, loaded from its
    * dv sidecar. Sidecars are SHARED across a version's files (one
    * consolidated vector per commit), so the reader pushes a
    * `file = <basename>` parquet predicate: the stage-time (file, pos)
    * sort + 128 KB row groups (writeSingleParquet's parquet.block.size
    * — ~40k encoded (file,pos) rows per group) let row-group stats and
    * dictionary filters prune the shared sidecar to this file's run,
    * keeping the
    * per-task decode O(own positions) instead of O(all deleted
    * positions) — across K dv-carrying files that is the difference
    * between O(D) and O(K×D) total sidecar work. Record-level
    * filtering drops any residual same-row-group strangers; the
    * basename check in the loop stays as a cheap invariant (legacy
    * pre-sort sidecars prune nothing and still read correctly).
    * Shared by the row and columnar readers. */
  def deletedPositions(conf: Configuration,
                       p: SnapshotFilePartition): java.util.HashSet[java.lang.Long] =
    positionsOf(conf, p.dvUri, p.baseName)

  /** The (file = `baseName`) rows of one dv sidecar, as a position
    * set — the per-file pruned decode [[deletedPositions]] documents,
    * reusable against an EXPLICIT sidecar uri (the change feed loads
    * a file's pre- and post-version vectors side by side). */
  def positionsOf(conf: Configuration, dvUri: Option[String],
                  baseName: String): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    dvUri.foreach { dv =>
      val path = new Path(dv)
      val fileSchema = {
        val pfr = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
        try pfr.getFileMetaData.getSchema finally pfr.close()
      }
      val projection = new MessageType(fileSchema.getName,
        Seq("file", "pos").map(c =>
          fileSchema.getType(fileSchema.getFieldIndex(c))).toList.asJava)
      val c = new Configuration(conf)
      c.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
      val onlyThisFile = FilterCompat.get(FilterApi.eq(
        FilterApi.binaryColumn("file"), Binary.fromString(baseName)))
      val r = ParquetReader.builder(new GroupReadSupport(), path)
        .withConf(c).withFilter(onlyThisFile).build()
      try {
        var g = r.read()
        while (g != null) {
          sidecarRowsDecoded.increment()
          if (g.getBinary("file", 0).toStringUsingUTF8 == baseName)
            set.add(g.getLong("pos", 0))
          g = r.read()
        }
      } finally r.close()
    }
    set
  }
}
