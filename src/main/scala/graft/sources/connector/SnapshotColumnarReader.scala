package graft.sources.connector

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** The V2 connector's one file reader — table scans, micro-batch
  * streams and the change feed all read through it: one
  * [[VectorizedParquetRecordReader]] — Spark's own whole-stage-
  * codegen-feeding parquet machinery — per manifest file, so every
  * column type Spark's parquet reader decodes (decimal, struct, map,
  * nested arrays, variant, every timestamp encoding) reads here, with
  * the file's deletion vector applied IN-READER as a per-batch
  * position mask (the shape of Delta deletion vectors and Iceberg
  * positional deletes, both of which filter inside the vectorized
  * batch).
  *
  * The deletion vector is this file's own Roaring bitmap: the reader
  * loads it with one range read of the DV file its pointer names
  * ([[graft.sources.DeletionVectors.read]], which refuses on a CRC or
  * cardinality mismatch), before the first batch.
  *
  * Schema evolution rides Spark's own clipping: the requested Spark
  * schema goes in via `ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA`,
  * and columns a file predates surface as constant-null vectors (or
  * their exists-default) — the same semantics as a merged footer schema.
  *
  * Masking strategy per batch of `n` rows: if the bitmap holds no
  * position in the batch's row-index span (`rangeCardinality`, the
  * common case) the batch passes through with only the generated index
  * column stripped, zero copy; otherwise each row probes
  * `bitmap.contains` on its unboxed int position, the live row indices
  * become an `int[]` map, and each column is wrapped in a delegating
  * [[ColumnVector]] that redirects `get*(i)` through the map — still
  * zero data copied. Positions come from Spark's own row-index
  * generator (see `needPos` below), so they stay exact under the
  * row-group/page skipping the pushed FilterPredicates buy.
  *
  * Pending EQUALITY deletes mask here too: key columns join the
  * requested schema, each row's vector value probes a typed key set,
  * and the same live-index map carries both verdicts.
  *
  * The change feed narrows the same mask with two KEEP predicates:
  * `keep` emits only the positions in a bitmap (a vector delta between
  * two versions), `eqKeep` only the rows matching one sidecar's keys
  * (a commit's fresh equality deletes).
  *
  * Requested metadata columns (`meta`) trail the data columns: `_pos`
  * is the generated row-index vector (masked like any column), `_file`
  * one constant vector per file reader — so each reader a bucket
  * partition chains emits its own file's name. `extra` constants (the
  * feed's change_type / commit_version) trail those, the same way.
  */
private final class SnapshotColumnarFileReader(p: SnapshotFilePartition,
                                               schema: StructType,
                                               sessionConf: Map[String, String],
                                               filters: Seq[Filter],
                                               eq: Seq[EqSidecar] = Nil,
                                               meta: Seq[String] = Nil,
                                               keep: Option[RoaringBitmap] = None,
                                               eqKeep: Option[EqSidecar] = None,
                                               extra: Seq[(DataType, Any)] = Nil)
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private val conf = SnapshotPartitions.hadoopConf(sessionConf)
  private val path = new Path(p.fileUri)

  /** Deleted row positions of THIS file; null without a vector. */
  private val deleted: RoaringBitmap =
    p.dv.map(graft.sources.DeletionVectors.read(conf, _)).orNull

  /** Equality-delete key columns (pending deletes and the feed's keep
    * sidecar) not already in the output projection are APPENDED to
    * the requested schema (typed from the sidecar, which records the
    * table's key type at delete time) so their vectors are decodable
    * for the mask, then stripped before the batch leaves. A file that
    * PREDATES a key column surfaces it as constant-null vectors, and
    * null never matches a delete key. Composite sidecars append every member column; a column
    * shared by two sidecar signatures appends once (if their recorded
    * types differ — widening between delete epochs — the request uses
    * the first and the matcher binds to the DECODED vector type
    * anyway). */
  private val eqAppend: Seq[StructField] = {
    val seen = scala.collection.mutable.LinkedHashMap[String, String]()
    (eq ++ eqKeep).flatMap(_.cols).foreach { case (c, dtJson) =>
      if (!schema.fieldNames.contains(c) && !seen.contains(c))
        seen(c) = dtJson
    }
    seen.toSeq.map { case (c, dtJson) =>
      StructField(c, DataType.fromJson(dtJson)) }
  }

  /** dv masking keys rows by FILE-ABSOLUTE position. With row-group /
    * page filtering those are no longer sequential, so the reader asks
    * Spark's own row-index machinery for them: a trailing
    * `_tmp_metadata_row_index` column in the requested schema makes
    * `VectorizedParquetRecordReader` emit the exact file row index per
    * row (the `_metadata.row_index` mechanism), valid under any
    * skipping. The column is generated, not read — zero extra I/O —
    * and is stripped before the batch leaves this reader unless the
    * scan asked for `_pos`. */
  private val posMask = (deleted != null && !deleted.isEmpty) || keep.isDefined
  private val needPos = posMask || meta.contains(SnapshotV2Table.PosCol)
  private val posIdx = schema.length + eqAppend.length
  private val requested: StructType = {
    val withEq = eqAppend.foldLeft(schema)(_ add _)
    if (!needPos) withEq
    else withEq.add(StructField(SnapshotColumnarFileReader.RowIndexCol,
      LongType)) // nullable: the file doesn't contain it (generated)
  }

  /** One membership test per pending SIDECAR, bound to its member
    * vector indexes in the decoded batch. Single-column sidecars keep
    * the typed fast path: the key set converts ONCE (strings →
    * UTF8String / Long), so the per-row test is a hash probe on the
    * vector's native value — no per-row stringification. Matchers
    * bind LAZILY to the DECODED vector's type, not the sidecar's
    * attach-time dtJson: a lossless ALTER COLUMN
    * widening after the delete (INT key → BIGINT) makes the projected
    * vector LongType while dtJson still says int — typing the probe
    * from dtJson would getInt a long vector (garbage / NPE, i.e.
    * wrong masking). dtJson's only remaining job is typing the
    * APPENDED request field when a key column is not in the output
    * projection. COMPOSITE sidecars (round-18) all probe
    * allocation-free typed sets: two integral members keep the
    * long-pair fast path, everything else — (string, string) keys,
    * 3+ members, mixed tuples — probes [[TypedTupleOpenHashSet]]
    * through reused scratch arrays; the canonical encoded-string
    * probe (one string build per surviving row, the 11.3× toll
    * SCALE_r17 measured) is gone. */
  private def idxOf(c: String): Int = schema.fieldNames.indexOf(c) match {
    case -1 => schema.length + eqAppend.indexWhere(_.name == c)
    case i => i
  }

  private sealed trait EqBatchCheck {
    def bind(raw: ColumnarBatch): Unit
    def matches(i: Int): Boolean
  }

  private final class SingleEqCheck(idx: Int, e: EqSidecar)
    extends EqBatchCheck {
    private var v: ColumnVector = _
    private var m: EqVectorMatcher = _
    def bind(raw: ColumnarBatch): Unit = {
      v = raw.column(idx)
      if (m == null) // once per file, to the REAL type — and memoized
        // on the (shared, immutable) sidecar per type signature, so a
        // scan's files sharing one merged sidecar build the key set
        // once per JVM, not once per file (round-18; matchers are
        // probe-only after construction)
        m = e.probeMemo.computeIfAbsent(
          "single:" + v.dataType().catalogString,
          _ => EqVectorMatcher.of(v.dataType(), e.keys, e.cols.head._1))
          .asInstanceOf[EqVectorMatcher]
    }
    def matches(i: Int): Boolean = !v.isNullAt(i) && m.matches(v, i)
  }

  private final class CompositeEqCheck(idxs: Array[Int], e: EqSidecar)
    extends EqBatchCheck {
    private val vs = new Array[ColumnVector](idxs.length)
    // fast path for the (tenant, entity)-shaped key: exactly TWO
    // integral members probe an allocation-free long-pair set (keys
    // parse back out of the canonical form ONCE at bind; the generic
    // probe measured ~3× slower per pending 16M-row scan)
    private var pairSet: LongPairOpenHashSet = _
    private var getA: (ColumnVector, Int) => Long = _
    private var getB: (ColumnVector, Int) => Long = _
    // every other shape — (string, string) business keys, 3+ members,
    // mixed tuples — probes a TYPED tuple set (round-18; previously
    // the canonical encoded-string probe, one string build per
    // surviving row — the measured 11.3× pending-read toll). Member
    // values land in reused scratch arrays; keys parse out of the
    // canonical form ONCE at bind.
    private var tupleSet: TypedTupleOpenHashSet = _
    private var isStr: Array[Boolean] = _
    private var longGets: Array[(ColumnVector, Int) => Long] = _
    private var scratchL: Array[Long] = _
    private var scratchS: Array[UTF8String] = _

    private def longGetter(dt: org.apache.spark.sql.types.DataType)
        : (ColumnVector, Int) => Long = dt match {
      case ByteType => (v, i) => v.getByte(i).toLong
      case ShortType => (v, i) => v.getShort(i).toLong
      // a DATE member's vector value is the days-since-epoch int —
      // the canonical coordinate (round-18)
      case IntegerType | DateType => (v, i) => v.getInt(i).toLong
      case LongType => (v, i) => v.getLong(i)
      case _ => null
    }

    def bind(raw: ColumnarBatch): Unit = {
      var j = 0
      while (j < idxs.length) { vs(j) = raw.column(idxs(j)); j += 1 }
      if (tupleSet == null && pairSet == null) { // once per file, REAL types
        val getters =
          if (vs.length == 2) (longGetter(vs(0).dataType()),
            longGetter(vs(1).dataType()))
          else (null, null)
        if (getters._1 != null && getters._2 != null) {
          getA = getters._1; getB = getters._2
          // memoized on the shared sidecar (see SingleEqCheck): the
          // set is probe-only after construction
          pairSet = e.probeMemo.computeIfAbsent("pair", _ => {
            val s = new LongPairOpenHashSet(e.keys.size)
            e.keys.foreach { k =>
              val parts = EqSidecar.decode(k)
              s.add(parts(0).toLong, parts(1).toLong)
            }
            s
          }).asInstanceOf[LongPairOpenHashSet]
        } else {
          isStr = vs.map(_.dataType() == StringType)
          longGets = vs.map(v => longGetter(v.dataType()))
          var m = 0
          while (m < vs.length) {
            if (!isStr(m) && longGets(m) == null)
              throw new IllegalStateException(
                s"equality-delete key '${e.cols(m)._1}' has unmaskable " +
                  s"type ${vs(m).dataType().simpleString}")
            m += 1
          }
          val sig = isStr
          tupleSet = e.probeMemo.computeIfAbsent(
            "tuple:" + sig.mkString(","), _ => {
              val ts = new TypedTupleOpenHashSet(sig, e.keys.size)
              e.keys.foreach { k =>
                val parts = EqSidecar.decode(k)
                val ls = new Array[Long](sig.length)
                val ss = new Array[UTF8String](sig.length)
                var p = 0
                while (p < sig.length) {
                  if (sig(p)) ss(p) = UTF8String.fromString(parts(p))
                  else ls(p) = parts(p).toLong
                  p += 1
                }
                ts.add(ls, ss)
              }
              ts
            }).asInstanceOf[TypedTupleOpenHashSet]
          scratchL = new Array[Long](vs.length)
          scratchS = new Array[UTF8String](vs.length)
        }
      }
    }
    def matches(i: Int): Boolean = {
      var j = 0
      while (j < vs.length) {
        if (vs(j).isNullAt(i)) return false // null never matches a tuple
        j += 1
      }
      if (pairSet != null)
        return pairSet.contains(getA(vs(0), i), getB(vs(1), i))
      j = 0
      while (j < vs.length) {
        if (isStr(j)) scratchS(j) = vs(j).getUTF8String(i)
        else scratchL(j) = longGets(j)(vs(j), i)
        j += 1
      }
      tupleSet.contains(scratchL, scratchS)
    }
  }

  private def checkOf(e: EqSidecar): EqBatchCheck =
    if (e.single) new SingleEqCheck(idxOf(e.cols.head._1), e)
    else new CompositeEqCheck(e.colNames.map(idxOf).toArray, e)

  private val eqChecks: Array[EqBatchCheck] = eq.map(checkOf).toArray
  private val keepCheck: EqBatchCheck = eqKeep.map(checkOf).orNull

  private def eqDeletes(i: Int): Boolean = {
    var j = 0
    while (j < eqChecks.length) {
      if (eqChecks(j).matches(i)) return true
      j += 1
    }
    false
  }

  private val reader: VectorizedParquetRecordReader = {
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    // push the scan's predicates for ROW-GROUP + PAGE (column-index)
    // skipping inside the file — the same FilterPredicates Spark's own
    // parquet scan sets; Spark re-evaluates every filter post-scan, so
    // pushdown only ever prunes, never decides. Translation binds
    // against the FILE's schema, so columns a file predates (or a
    // mapped table's logical names) simply translate to None.
    if (filters.nonEmpty) {
      val footer = {
        val pfr = org.apache.parquet.hadoop.ParquetFileReader.open(
          HadoopInputFile.fromPath(path, conf))
        try pfr.getFileMetaData.getSchema finally pfr.close()
      }
      val translator = new ParquetFilters(footer,
        /* pushDownDate */ true, /* pushDownTimestamp */ false,
        /* pushDownDecimal */ false, /* pushDownStringPredicate */ true,
        /* inFilterThreshold */ 10, /* caseSensitive */ false,
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      filters.flatMap(f => translator.createFilter(f))
        .reduceOption(FilterApi.and)
        .foreach(pred => org.apache.parquet.hadoop.ParquetInputFormat
          .setFilterPredicate(conf, pred))
    }
    val len = path.getFileSystem(conf).getFileStatus(path).getLen
    // rebase CORRECTED on both calendars: every snapshot-table file is
    // written by this engine (Spark 3+ proleptic Gregorian); convertTz
    // null = no session-local shifting, as `spark.read.parquet` reads
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    try {
      r.initialize(
        new org.apache.hadoop.mapred.FileSplit(path, 0, len, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()))
      r.initBatch(new StructType(),
        org.apache.spark.sql.catalyst.InternalRow.empty)
      r.enableReturningBatches()
    } catch { case t: Throwable => r.close(); throw t }
    r
  }

  private var current: ColumnarBatch = _
  private val needMask = posMask || eqChecks.nonEmpty || keepCheck != null
  // `_file` and the `extra` constants: one value for every row (the
  // row count only sizes struct children, so 1 serves any batch)
  private def constant(dt: DataType, v: Any): ConstantColumnVector = {
    val c = new ConstantColumnVector(1, dt)
    ColumnVectorUtils.populate(c, new GenericInternalRow(Array(v)), 0)
    c
  }
  private val fileVec = constant(StringType, UTF8String.fromString(p.baseName))
  private val extraVecs = extra.map { case (dt, v) => constant(dt, v) }.toArray

  override def next(): Boolean = {
    if (!reader.nextBatch()) return false
    val raw = reader.resultBatch()
    val n = raw.numRows()
    SnapshotPartitions.columnarRowsDecoded.add(n)
    current =
      if (!needMask && meta.isEmpty && extraVecs.isEmpty) raw else mask(raw, n)
    true
  }

  private val keepSet = keep.orNull

  private def mask(raw: ColumnarBatch, n: Int): ColumnarBatch = {
    if (!needMask || n == 0) return emit(raw, identity, n)
    val pos = if (posMask) raw.column(posIdx) else null // generated row index
    // positions ascend within a batch: a vector with no member in the
    // batch's span masks nothing, and its per-row probe is skipped
    val (lo, hi) = if (posMask) (pos.getLong(0), pos.getLong(n - 1) + 1) else (0L, 0L)
    val del = deleted != null && deleted.rangeCardinality(lo, hi) != 0
    if (keepSet != null && keepSet.rangeCardinality(lo, hi) == 0)
      return emit(raw, identity, 0) // nothing in the batch is kept
    if (!del && keepSet == null && eqChecks.length == 0 && keepCheck == null)
      return emit(raw, identity, n)
    var j = 0
    while (j < eqChecks.length) { eqChecks(j).bind(raw); j += 1 }
    if (keepCheck != null) keepCheck.bind(raw)
    var live = 0
    val map = new Array[Int](n)
    var i = 0
    while (i < n) {
      val dead = (del && deleted.contains(pos.getLong(i).toInt)) ||
        (keepSet != null && !keepSet.contains(pos.getLong(i).toInt)) ||
        (eqChecks.length != 0 && eqDeletes(i)) ||
        (keepCheck != null && !keepCheck.matches(i))
      if (!dead) { map(live) = i; live += 1 }
      i += 1
    }
    if (live == n) emit(raw, identity, n) // nothing deleted in range
    // a fully-deleted batch legally emits 0 rows; consumers skip it
    else emit(raw, new PositionMaskedColumnVector(_, map, live), live)
  }

  /** The output batch: the data columns and `_pos` seen through
    * `view`, `_file` and the `extra` values as constants — appended
    * key and row-index columns the scan did not ask for are stripped. */
  private def emit(raw: ColumnarBatch, view: ColumnVector => ColumnVector,
                   rows: Int): ColumnarBatch = {
    val vecs = new Array[ColumnVector](schema.length + meta.length + extraVecs.length)
    var c = 0
    while (c < schema.length) { vecs(c) = view(raw.column(c)); c += 1 }
    meta.zipWithIndex.foreach { case (m, j) =>
      vecs(schema.length + j) =
        if (m == SnapshotV2Table.FileCol) fileVec else view(raw.column(posIdx))
    }
    System.arraycopy(extraVecs, 0, vecs, schema.length + meta.length, extraVecs.length)
    new ColumnarBatch(vecs, rows)
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    reader.close(); fileVec.close(); extraVecs.foreach(_.close())
  }
}

private object SnapshotColumnarFileReader {
  /** Spark's temporary row-index column name
    * (`FileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`): a requested field
    * with this name makes the vectorized reader generate file-absolute
    * row indexes, exact under row-group and page skipping. */
  val RowIndexCol: String =
    org.apache.spark.sql.graftbridge.Bridge.rowIndexTempColumn
}

/** Typed pending-equality-delete membership test against a decoded
  * [[ColumnVector]] value (null rows are screened by the caller — SQL
  * equality never matches null). One instance per (key column, file
  * reader); the set conversion happens once at bind time. */
private sealed trait EqVectorMatcher {
  def matches(v: ColumnVector, i: Int): Boolean
}

private object EqVectorMatcher {
  /** `keys` are the sidecar's string-cast forms; integral keys parse
    * back losslessly (decimal digits), string keys convert to
    * [[UTF8String]] so the probe compares the vector's native bytes. */
  def of(dt: org.apache.spark.sql.types.DataType, keys: Seq[String],
         col: String): EqVectorMatcher = dt match {
    case StringType =>
      val s = new java.util.HashSet[UTF8String](keys.size * 2)
      keys.foreach(k => s.add(UTF8String.fromString(k)))
      new EqVectorMatcher {
        def matches(v: ColumnVector, i: Int): Boolean =
          s.contains(v.getUTF8String(i))
      }
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      // primitive open-addressing set: a boxed HashSet probe would
      // allocate a Long per ROW (the cache covers only small values) —
      // at 16M rows that is 16M allocations on the scan's hot loop.
      // DateType rides the integer arm: its vector value IS the
      // days-since-epoch int, the sidecars' canonical coordinate.
      val s = new LongOpenHashSet(keys.map(_.toLong).toArray)
      dt match {
        case ByteType => new EqVectorMatcher {
          def matches(v: ColumnVector, i: Int): Boolean =
            s.contains(v.getByte(i).toLong)
        }
        case ShortType => new EqVectorMatcher {
          def matches(v: ColumnVector, i: Int): Boolean =
            s.contains(v.getShort(i).toLong)
        }
        case IntegerType | DateType => new EqVectorMatcher {
          def matches(v: ColumnVector, i: Int): Boolean =
            s.contains(v.getInt(i).toLong)
        }
        case _ => new EqVectorMatcher {
          def matches(v: ColumnVector, i: Int): Boolean =
            s.contains(v.getLong(i))
        }
      }
    case other => throw new IllegalStateException(
      s"equality-delete key '$col' has unmaskable type ${other.simpleString}")
  }

}

/** Allocation-free membership set over TYPED tuples of any arity:
  * each member is a long (integral key member) or a [[UTF8String]]
  * (string member), stored in parallel per-member arrays with open
  * addressing + linear probing over an occupancy bitmap. Round-18:
  * replaces the canonical encoded-string probe — which allocated
  * per-member String conversions plus one encoded key string PER
  * SURVIVING ROW and measured an 11.3× pending-read toll at 16M rows
  * — for every composite shape beyond the two-integral pair:
  * (string, string) business keys, 3+ integral members, mixed
  * tuples. A probe reads the row's member values into caller-owned
  * scratch arrays once, hashes across members, and compares
  * slot-wise — the only per-row allocations left are the vector
  * accessors' own UTF8String views, the same cost the single-column
  * string path pays. */
private[connector] final class TypedTupleOpenHashSet(isStr: Array[Boolean],
                                                     n: Int) {
  private val arity = isStr.length
  private val cap: Int = {
    var c = 8
    while (c < n * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val used = new Array[Boolean](cap)
  private val longs: Array[Array[Long]] =
    isStr.map(s => if (s) null else new Array[Long](cap))
  private val strs: Array[Array[UTF8String]] =
    isStr.map(s => if (s) new Array[UTF8String](cap) else null)

  /** UTF8String.hashCode is murmur3 over the bytes; integral members
    * feed their raw value — one multiply-xor fold per member, the
    * same finalizer family as [[LongOpenHashSet]]. */
  private def slotOf(ls: Array[Long], ss: Array[UTF8String]): Int = {
    var h = 0x9E3779B97F4A7C15L
    var m = 0
    while (m < arity) {
      h = (h ^ (if (isStr(m)) ss(m).hashCode().toLong else ls(m))) *
        0xFF51AFD7ED558CCDL
      h ^= h >>> 33
      m += 1
    }
    (h & mask).toInt
  }

  private def equalAt(i: Int, ls: Array[Long], ss: Array[UTF8String]): Boolean = {
    var m = 0
    while (m < arity) {
      if (isStr(m)) { if (!(strs(m)(i) == ss(m))) return false }
      else if (longs(m)(i) != ls(m)) return false
      m += 1
    }
    true
  }

  def add(ls: Array[Long], ss: Array[UTF8String]): Unit = {
    var i = slotOf(ls, ss)
    while (used(i) && !equalAt(i, ls, ss)) i = (i + 1) & mask
    if (!used(i)) {
      used(i) = true
      var m = 0
      while (m < arity) {
        if (isStr(m)) strs(m)(i) = ss(m) else longs(m)(i) = ls(m)
        m += 1
      }
    }
  }

  def contains(ls: Array[Long], ss: Array[UTF8String]): Boolean = {
    var i = slotOf(ls, ss)
    while (used(i)) {
      if (equalAt(i, ls, ss)) return true
      i = (i + 1) & mask
    }
    false
  }
}

/** Allocation-free membership set over PAIRS of longs: open
  * addressing with linear probing over parallel key arrays and an
  * occupancy bitmap (any long value is legal, including 0), mixed
  * with the same murmur finalizer as [[LongOpenHashSet]]. Backs the
  * two-integral-column composite equality-delete fast path — the
  * (tenant, entity)-shaped CDC key — where the generic
  * encoded-string probe measured ~3× slower per pending scan. */
private[connector] final class LongPairOpenHashSet(n: Int) {
  private val cap: Int = {
    var c = 8
    while (c < n * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val as = new Array[Long](cap)
  private val bs = new Array[Long](cap)
  private val used = new Array[Boolean](cap)

  private def mix(a: Long, b: Long): Int = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 33
    h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33
    (h & mask).toInt
  }

  def add(a: Long, b: Long): Unit = {
    var i = mix(a, b)
    while (used(i) && !(as(i) == a && bs(i) == b)) i = (i + 1) & mask
    as(i) = a; bs(i) = b; used(i) = true
  }

  def contains(a: Long, b: Long): Boolean = {
    var i = mix(a, b)
    while (used(i)) {
      if (as(i) == a && bs(i) == b) return true
      i = (i + 1) & mask
    }
    false
  }
}

/** Minimal allocation-free Long membership set: open addressing,
  * linear probing, power-of-two capacity at ≤50% load, murmur-style
  * finalizer for slot spreading. Zero is handled by a flag (0 is the
  * empty-slot sentinel). Immutable after construction — built once
  * per (key column, file reader), probed once per row. */
private[connector] final class LongOpenHashSet(keys: Array[Long]) {
  private val cap: Int = {
    var c = 8
    while (c < keys.length * 2) c <<= 1
    c
  }
  private val mask = cap - 1
  private val slots = new Array[Long](cap)
  private var hasZero = false
  locally { keys.foreach(add) }

  private def mix(k: Long): Int = {
    var h = k
    h ^= h >>> 33
    h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33
    (h & mask).toInt
  }

  private def add(k: Long): Unit =
    if (k == 0L) hasZero = true
    else {
      var i = mix(k)
      while (slots(i) != 0L && slots(i) != k) i = (i + 1) & mask
      slots(i) = k
    }

  def contains(k: Long): Boolean =
    if (k == 0L) hasZero
    else {
      var i = mix(k)
      while (slots(i) != 0L) {
        if (slots(i) == k) return true
        i = (i + 1) & mask
      }
      false
    }
}

/** A [[ColumnVector]] view that redirects row ids through a live-index
  * map (valid entries `[0, live)`) — the deletion-vector mask. No data
  * is copied; the delegate stays owned (and eventually closed) by the
  * parquet reader, so `close()` is a no-op. `hasNull` delegates
  * conservatively (a superset verdict is safe for null-check elision);
  * `numNulls` is a COUNT, not a bound — a consumer summing it would
  * get a wrong number from delegation, so it counts the masked rows
  * exactly (lazily, O(live) once per batch, only if anyone asks). */
private[graft] final class PositionMaskedColumnVector(
    d: ColumnVector, map: Array[Int], live: Int)
  extends ColumnVector(d.dataType()) {

  private var nullCount = -1 // lazy: -1 = not yet counted

  override def close(): Unit = ()
  override def hasNull: Boolean = d.hasNull
  override def numNulls(): Int = {
    if (nullCount < 0) {
      var n = 0
      var i = 0
      while (i < live) { if (d.isNullAt(map(i))) n += 1; i += 1 }
      nullCount = n
    }
    nullCount
  }
  override def isNullAt(i: Int): Boolean = d.isNullAt(map(i))
  override def getBoolean(i: Int): Boolean = d.getBoolean(map(i))
  override def getByte(i: Int): Byte = d.getByte(map(i))
  override def getShort(i: Int): Short = d.getShort(map(i))
  override def getInt(i: Int): Int = d.getInt(map(i))
  override def getLong(i: Int): Long = d.getLong(map(i))
  override def getFloat(i: Int): Float = d.getFloat(map(i))
  override def getDouble(i: Int): Double = d.getDouble(map(i))
  override def getArray(i: Int): ColumnarArray = d.getArray(map(i))
  override def getMap(i: Int): ColumnarMap = d.getMap(map(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    d.getDecimal(map(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = d.getUTF8String(map(i))
  override def getBinary(i: Int): Array[Byte] = d.getBinary(map(i))
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    d.getInterval(map(i))
  // struct children share the parent's row ids, so the mask carries
  override def getChild(ordinal: Int): ColumnVector =
    new PositionMaskedColumnVector(d.getChild(ordinal), map, live)
}
