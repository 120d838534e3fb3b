package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** A PERSISTED, incrementally-maintained IVF-flat ANN index over a
  * snapshot table's embedding column — the production shape of
  * [[Similarity.ivfTopK]], which trains/assigns in-query.
  *
  * Layout under `indexDir` (plain directory, two nested snapshot
  * tables plus a tiny meta file):
  *  - `centroids/` — (cen_id BIGINT, embedding ARRAY<FLOAT>): the
  *    coarse quantizer, FROZEN at [[build]] (standard IVF practice —
  *    re-training the quantizer is a rebuild, not maintenance).
  *  - `assign/`    — one row per corpus vector, clustered by `cell`
  *    with per-file (min,max) stats so a probe's `cell IN (...)`
  *    prunes to the probed cells' files at the manifest. Flat layout:
  *    (vec_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>). PQ
  *    layout: (vec_id BIGINT, cell BIGINT, codes BIGINT) — the
  *    packed 8-byte product-quantization code, so the index holds
  *    ~8 B of payload per vector instead of a second copy of the
  *    corpus's embedding bytes (the 100 TB storage story).
  *  - `codebooks/` — (sub INT, code INT, pos INT, val DOUBLE): the
  *    PQ codebooks, flattened to scalar rows, FROZEN at [[build]]
  *    like the centroids (PQ indexes only).
  *  - `_ann_meta-<seq>.json` — corpus dir, the corpus VERSION the
  *    index reflects, dim, the id/vector column names, and the PQ
  *    (m, ks) when quantized.
  *
  * Maintenance is O(changed rows), NOT O(corpus): [[refresh]] reads
  * the corpus's row-level change feed ([[SnapshotTable.changes]] —
  * a manifest diff that only opens touched files) between the
  * indexed version and the head, masks the touched ids out of
  * `assign` with ONE equality delete (zero data reads), assigns just
  * the upserted batch against the frozen centroids, and appends.
  * That is the same cost class as the eq-CDC table apply: per-batch
  * work stays flat as the corpus grows (`ann_index` in SCALE_r16.json
  * and `ann_index_pq` in SCALE_r17.json measure it at N and 8N).
  *
  * Search through the index never re-assigns the corpus: queries
  * rank the (driver-cached, vocabulary-sized) centroid set, probe
  * `nprobe` cells, and exact-cosine re-rank only those cells' rows —
  * identical semantics to [[Similarity.ivfTopK]] given the same
  * centroid rows, so a maintained index answers bit-identically to a
  * from-scratch rebuild at the same corpus version (pinned by the
  * q7N oracle query and AnnIndexSpec).
  *
  * Assignment determinism: cells rank by UNROUNDED cosine with ties
  * to the lowest centroid id ([[graft.functions.cat.Kernels
  * .nearestCentroid]]) — partition-order invariant, so incremental
  * and rebuilt assignments agree everywhere. */
object AnnIndex {

  private def centroidsDir(indexDir: String) = s"$indexDir/centroids"
  private def assignDir(indexDir: String) = s"$indexDir/assign"
  private def codebooksDir(indexDir: String) = s"$indexDir/codebooks"

  /** Product-quantization layout parameters: `m` subspaces × `ks`
    * codewords, trained for `iters` Lloyd rounds at [[build]] time
    * (and FROZEN, like the coarse quantizer — re-training either is a
    * rebuild). `m ≤ 8` and `ks ≤ 256` so one row's codes pack into a
    * single BIGINT — the literal "8-byte code" of Jégou et al.
    *
    * `trainFraction` (round-18): train the codebooks on a
    * DETERMINISTIC hash-sampled subset of the build-time corpus
    * instead of every row — standard PQ practice (the codebooks are a
    * vocabulary-sized summary; Lloyd rounds over 10⁹ rows buy nothing
    * a 1% draw doesn't), and at scale the difference between minutes
    * and hours of scan per round. The draw is [[Sampling]]'s
    * partition-invariant hash on the id column, so the same corpus
    * version + fraction reproduces the same codebooks on any cluster
    * layout; ENCODING still covers every row, so the index is exact
    * over the full corpus either way. 1.0 (default) trains on
    * everything — the pre-round-18 behavior. */
  final case class PqSpec(m: Int, ks: Int, iters: Int,
                          trainFraction: Double = 1.0) {
    require(m >= 1 && m <= 8, s"pq m must be in [1,8], got $m")
    require(ks >= 2 && ks <= 256, s"pq ks must be in [2,256], got $ks")
    require(iters >= 0, s"pq iters must be >= 0, got $iters")
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"pq trainFraction must be in (0,1], got $trainFraction")
  }

  private final case class Meta(corpusDir: String, indexedVersion: Long,
                                dim: Int, idCol: String, vecCol: String,
                                pq: Option[(Int, Int)] = None) // (m, ks)

  /** Meta files are named `_ann_meta-<seq>.json`, seq monotonically
    * increasing; the newest READABLE one wins. Publish writes seq+1
    * under a fresh name (temp + rename — never over an existing path)
    * and only then deletes the older files, so a crash at ANY point
    * leaves at least one readable meta: the delete-then-rename window
    * of the old single-file scheme (crash ⇒ no meta at all ⇒ every
    * refresh/search fails until a full rebuild) is gone. */
  private def metaCandidates(f: org.apache.hadoop.fs.FileSystem,
                             indexDir: String): Seq[(Long, Path)] = {
    val root = new Path(indexDir)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case n if n.startsWith("_ann_meta-") && n.endsWith(".json") =>
          n.stripPrefix("_ann_meta-").stripSuffix(".json")
            .toLongOption.map((_, p))
        case _ => None
      }
    }
  }

  private def writeMeta(spark: SparkSession, indexDir: String, m: Meta): Unit = {
    val f = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val older = metaCandidates(f, indexDir)
    val pqJson = m.pq.fold("")(p => s""","pqM":${p._1},"pqKs":${p._2}""")
    val bytes =
      (s"""{"corpusDir":"${m.corpusDir}","indexedVersion":${m.indexedVersion},""" +
        s""""dim":${m.dim},"idCol":"${m.idCol}","vecCol":"${m.vecCol}"$pqJson}""")
        .getBytes("UTF-8")
    // CREATE-EXCLUSIVE publish at the seq-named destination (round-18;
    // previously temp + rename, but rename REPLACES an existing file
    // on POSIX/local filesystems — two concurrent publishers could
    // both land _ann_meta-<N>.json and one watermark advance was
    // silently lost). Losing the slot race now retries at a higher
    // seq; a writer crashing mid-create leaves a torn file that
    // readMeta's content fallback already skips, with the older meta
    // still in place (older files are deleted only after success).
    publishExclusive(f, indexDir, bytes,
      older.map(_._1).maxOption.getOrElse(-1L) + 1L)
    older.foreach(c => f.delete(c._2, false)) // only after the new one exists
  }

  /** The exclusive-create slot loop, seam'd out so AnnIndexSpec can
    * pin the collision retry deterministically (two publishers given
    * the SAME start seq land on DISTINCT files, both intact). */
  private[graft] def publishExclusive(f: org.apache.hadoop.fs.FileSystem,
                                      indexDir: String, bytes: Array[Byte],
                                      startSeq: Long): Long = {
    var seq = startSeq
    var attempts = 0
    while (true) {
      try {
        val out = f.create(new Path(indexDir, s"_ann_meta-$seq.json"),
          /* overwrite = */ false)
        try out.write(bytes) finally out.close()
        return seq
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          attempts += 1
          require(attempts <= 1000,
            s"could not publish ANN index meta under $indexDir after " +
              s"$attempts slot collisions")
          seq += 1L
      }
    }
    -1L // unreachable
  }

  /** Meta resolutions since the last reset — single-JVM telemetry so a
    * spec can pin that one `CALL ann_search` costs ONE list+open round
    * trip (round-18; the CALL face used to resolve three times on a PQ
    * index — isPq, rerank, nested search — each a listing + open on
    * the query latency path). */
  private[graft] val metaResolves = new java.util.concurrent.atomic.LongAdder

  private def readMeta(spark: SparkSession, indexDir: String): Meta = {
    metaResolves.increment()
    val f = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val candidates = metaCandidates(f, indexDir).sortBy(-_._1)
    require(candidates.nonEmpty,
      s"$indexDir holds no ANN index (missing _ann_meta*.json)")
    candidates.view.flatMap { case (_, p) =>
      val bytes =
        try {
          val in = f.open(p)
          try {
            val bos = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
            bos.toByteArray
          } finally in.close()
        } catch {
          // a candidate DELETED between listing and open is the
          // publish protocol's crash window — fall through to the
          // older one. Any OTHER I/O failure must NOT: silently
          // reading a stale meta would time-travel searches/reranks
          // to an older corpus version with no error.
          case _: java.io.FileNotFoundException => null
        }
      if (bytes == null) None
      else try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        Some(Meta(node.get("corpusDir").asText(),
          node.get("indexedVersion").asLong(), node.get("dim").asInt(),
          node.get("idCol").asText(), node.get("vecCol").asText(),
          if (node.get("pqM") == null) None
          else Some((node.get("pqM").asInt(), node.get("pqKs").asInt()))))
      } catch { // torn/garbage CONTENT (a writer died mid-create at its
        // seq slot): fall through to the older candidate
        case _: com.fasterxml.jackson.core.JacksonException => None
        case _: NullPointerException => None // readable JSON, wrong shape
      }
    }.headOption.getOrElse(throw new IllegalStateException(
      s"no readable ANN index meta under $indexDir"))
  }

  /** Version-keyed LRU of collected centroid/codebook tables
    * (round-18, guide §1.2): one index operation chain (build → CDC
    * epochs → refresh → search) used to re-scan + re-collect the
    * SAME immutable vocabulary-sized tables up to 9× per query. A
    * snapshot version is immutable, so (dir, version) fully
    * determines the content — this is metadata-read avoidance inside
    * one JVM (the [[graft.sources.connector.SnapshotPartitions]]
    * EqSidecars precedent), not cross-run result caching: every
    * entry re-derives from disk on first touch of that version. */
  private val vocabCache =
    new java.util.LinkedHashMap[(String, Long), AnyRef](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), AnyRef]): Boolean =
        size() > 64
    }

  private def vocabCached[T <: AnyRef](dir: String, v: Long)(load: => T): T = {
    vocabCache.synchronized {
      val hit = vocabCache.get((dir, v))
      if (hit != null) return hit.asInstanceOf[T]
    }
    val loaded = load // outside the lock (a Spark job); double-load is idempotent
    vocabCache.synchronized { vocabCache.put((dir, v), loaded) }
    loaded
  }

  /** The frozen coarse quantizer, collected driver-side (centroid
    * sets are vocabulary-sized by design — k cells for a corpus of
    * millions) and inlined as literals so cell assignment runs as a
    * codegen'd kernel argmax, zero joins. */
  private def loadCentroids(spark: SparkSession, indexDir: String)
      : Array[(Long, Array[Float])] = {
    val cDir = centroidsDir(indexDir)
    val v = SnapshotTable.latestVersion(spark, cDir).getOrElse(
      throw new IllegalStateException(s"no centroids under $indexDir"))
    vocabCached(cDir, v) {
      SnapshotTable.scan(spark, cDir, Some(v))
        .select(col("cen_id"), col("embedding"))
        .orderBy("cen_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    }
  }

  private def cellOf(vec: Column, cents: Array[(Long, Array[Float])],
                     dim: Int): Column = {
    val centsLit = array(cents.flatMap(_._2.map(x => lit(x.toDouble)))
      .toIndexedSeq: _*)
    val idsLit = array(cents.map(c => lit(c._1)).toIndexedSeq: _*)
    element_at(idsLit,
      graft.functions.cat.GraftExpr.nearestCentroid(vec, centsLit, dim) + 1)
  }

  /** The persisted PQ codebooks (flat layout `[(sub*ks+code)*ds+i]`,
    * [[ProductQuantizer]]'s coordinate), collected driver-side —
    * m*ks*ds doubles, vocabulary-sized like the centroid set. Public
    * so a rebuild (or a spec) can re-seed a sibling index with the
    * SAME frozen codebooks via `build(..., pqCodebooks = …)`. */
  def loadCodebooks(spark: SparkSession, indexDir: String,
                    m: Int, ks: Int, dim: Int): Array[Double] = {
    val ds = dim / m
    val cbDir = codebooksDir(indexDir)
    val v = SnapshotTable.latestVersion(spark, cbDir).getOrElse(
      throw new IllegalStateException(s"no codebooks under $indexDir"))
    vocabCached(cbDir, v) {
      val cb = new Array[Double](m * ks * ds)
      SnapshotTable.scan(spark, cbDir, Some(v))
        .select(col("sub"), col("code"), col("pos"), col("val"))
        .collect()
        .foreach(r => cb((r.getInt(0) * ks + r.getInt(1)) * ds + r.getInt(2)) =
          r.getDouble(3))
      cb
    }
  }

  /** m codes (each < 256) → ONE base-256 big-endian BIGINT, folded in
    * ascending subspace order. Pure bit ops (shift + or): the 8th
    * byte legitimately occupies the sign bit, which ANSI arithmetic
    * would reject as long overflow; [[unpackCodes]]' UNSIGNED shifts
    * recover every digit regardless of sign. */
  private def packCodes(codes: Column, m: Int): Column =
    aggregate(codes, lit(0L),
      (acc, x) => shiftleft(acc, 8).bitwiseOR(x.cast("long")))

  private def unpackCodes(packed: Column, m: Int): Column =
    array((0 until m).map(i =>
      shiftrightunsigned(packed, (m - 1 - i) * 8)
        .bitwiseAND(lit(255L)).cast("int")): _*)

  /** Assign + write one batch of corpus rows into `assign/`,
    * range-clustered by cell so probes prune at the manifest. A PQ
    * index stores (vec_id, cell, codes BIGINT) — ~8 bytes of payload
    * per row instead of the full embedding, so the index never
    * duplicates the corpus's vector bytes; a flat index stores the
    * embedding for in-cell exact re-rank. */
  /** One batch of corpus rows as index rows, cell-range-clustered for
    * manifest pruning: (vec_id, cell, embedding) flat, (vec_id, cell,
    * codes BIGINT) PQ — ~8 bytes of payload per row instead of a
    * second copy of the corpus's vector bytes. */
  private def assignedFrame(rows: DataFrame, meta: Meta,
                            cents: Array[(Long, Array[Float])],
                            pqCb: Option[Array[Double]]): DataFrame = {
    val assigned = pqCb match {
      case None => rows.select(
        col(meta.idCol).cast("long").as("vec_id"),
        cellOf(col(meta.vecCol), cents, meta.dim).as("cell"),
        col(meta.vecCol).as("embedding"))
      case Some(cb) =>
        val (m, ks) = meta.pq.get
        val ds = meta.dim / m
        rows.select(
          col(meta.idCol).cast("long").as("vec_id"),
          cellOf(col(meta.vecCol), cents, meta.dim).as("cell"),
          packCodes(ProductQuantizer.encodeCol(cb, m, ks, ds,
            col(meta.vecCol)), m).as("codes"))
    }
    assigned.repartitionByRange(col("cell")).sortWithinPartitions("cell")
  }

  private def writeAssigned(spark: SparkSession, indexDir: String,
                            rows: DataFrame, meta: Meta,
                            cents: Array[(Long, Array[Float])],
                            pqCb: Option[Array[Double]],
                            mode: String): Unit =
    SnapshotTable.write(spark, assignedFrame(rows, meta, cents, pqCb),
      assignDir(indexDir), mode, statsCols = Seq("cell", "vec_id"))

  private def loadPqCb(spark: SparkSession, indexDir: String,
                       meta: Meta): Option[Array[Double]] =
    meta.pq.map { case (m, ks) =>
      loadCodebooks(spark, indexDir, m, ks, meta.dim) }

  /** Build the index over the corpus's CURRENT version. `centroids`
    * is the caller's coarse quantizer (any small frame of id +
    * vector — a sampled subset, k-means output, whatever): it is
    * copied into the index and frozen. With `pq` set the index is
    * IVF+PQ (Jégou et al.'s IVFADC, the q4K in-query composition
    * persisted): PQ codebooks train over the build-time corpus (or
    * arrive pre-trained via `pqCodebooks` — e.g. another index's, for
    * an answer-identical rebuild), persist next to the centroids, and
    * `assign/` stores one packed 8-byte code per row instead of the
    * embedding — at 100 TB that is the difference between an index
    * and a second copy of the corpus. Returns the indexed corpus
    * version. */
  def build(spark: SparkSession, corpusDir: String, indexDir: String,
            centroids: DataFrame, dim: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            pq: Option[PqSpec] = None,
            pqCodebooks: Option[Array[Double]] = None): Long = {
    val v = SnapshotTable.latestVersion(spark, corpusDir).getOrElse(
      throw new IllegalStateException(s"cannot index empty corpus $corpusDir"))
    // vocabulary-sized by design (k cells) — ONE file, not one file
    // per upstream partition: the quantizer is re-read far more often
    // than written (every search/refresh loads it), and an 8-row
    // table shredded over 32 single-row files paid 32 opens per load
    // (round-18, guide §6 small files)
    SnapshotTable.write(spark,
      centroids.select(col(idCol).cast("long").as("cen_id"),
        col(vecCol).as("embedding")).coalesce(1),
      centroidsDir(indexDir), "overwrite", statsCols = Seq("cen_id"))
    val meta = Meta(corpusDir, v, dim, idCol, vecCol,
      pq.map(p => (p.m, p.ks)))
    val cb: Option[Array[Double]] = pq.map { p =>
      require(dim % p.m == 0, s"pq m=${p.m} must divide dim=$dim")
      val trained = pqCodebooks.getOrElse {
        val full = SnapshotTable.scan(spark, corpusDir, Some(v))
        val trainDf =
          if (p.trainFraction >= 1.0) full
          else {
            // deterministic hash draw on the id: same corpus version +
            // fraction ⇒ same training set (hence same codebooks) on
            // any cluster/partition layout
            val den = 1 << 20
            val num = math.max(1,
              math.round(p.trainFraction * den).toInt)
            val s = Sampling.hashSample(full, idCol, num, den,
              salt = "pq-train")
            // the seeds are the ks lowest-id TRAINING rows — a draw
            // thinner than ks codewords would leave dead (zero)
            // codewords silently degrading every encode
            require(s.limit(p.ks).count() >= p.ks,
              s"pq trainFraction=${p.trainFraction} drew fewer than " +
                s"ks=${p.ks} rows — raise the fraction (or shrink ks)")
            s
          }
        ProductQuantizer.train(trainDf, p.m, p.ks, p.iters, dim, idCol,
          vecCol)
      }
      require(trained.length == p.m * p.ks * (dim / p.m),
        s"codebooks carry ${trained.length} coords, want m*ks*ds")
      import spark.implicits._
      val ds = dim / p.m
      val rows = for {
        sub <- 0 until p.m; code <- 0 until p.ks; pos <- 0 until ds
      } yield (sub, code, pos, trained((sub * p.ks + code) * ds + pos))
      // m*ks*ds rows — vocabulary-sized like the centroids; one file
      SnapshotTable.write(spark,
        rows.toDF("sub", "code", "pos", "val").coalesce(1),
        codebooksDir(indexDir), "overwrite", statsCols = Seq("sub", "code"))
      trained
    }
    val cents = loadCentroids(spark, indexDir)
    writeAssigned(spark, indexDir,
      SnapshotTable.scan(spark, corpusDir, Some(v)), meta, cents, cb,
      "overwrite")
    writeMeta(spark, indexDir, meta)
    v
  }

  /** Self-maintenance BEFORE attaching more pending refs: assignments
    * are clustered by cell, so every epoch's vec_id batch attaches
    * broadly and pending keys accumulate across refreshes — fold once
    * any file's accumulated total crosses half the masking budget,
    * instead of letting the attach-time cap become a hard error a
    * thousand epochs in. Footer counts only, zero jobs on the
    * no-fold path. */
  private def maybeFold(spark: SparkSession, indexDir: String): Unit = {
    val aDir = assignDir(indexDir)
    val av = SnapshotTable.latestVersion(spark, aDir).get
    val hc = spark.sparkContext.hadoopConfiguration
    val worst = SnapshotTable.readManifest(spark, aDir, av).files
      .map(fe => fe.eqDv.map(p => graft.sources.connector.SnapshotPartitions
        .sidecarRows(hc, SnapshotTable.resolvePath(aDir, p))).sum)
      .maxOption.getOrElse(0L)
    if (worst > graft.sources.connector.SnapshotPartitions.MaxPendingKeys / 2)
      foldAssign(spark, indexDir)
  }

  /** Fold pending refs by a CELL-CLUSTERED self-rewrite of `assign/`
    * (round-17; previously `purgeDeletes`, whose per-bucket bin-pack
    * knows nothing of the cell layout — the rewritten files' (min,
    * max) cell ranges went wide, silently degrading probed-cell
    * manifest pruning AND the drift estimate exactly when the index
    * had lived longest). One job over the INDEX (not the corpus;
    * ~8 B/row on a PQ index), fired roughly once per
    * (MaxPendingKeys/2 ÷ batch) epochs; restores both the fold and
    * the layout. */
  private[graft] def foldAssign(spark: SparkSession, indexDir: String): Unit = {
    val aDir = assignDir(indexDir)
    SnapshotTable.write(spark,
      SnapshotTable.scan(spark, aDir)
        .repartitionByRange(col("cell")).sortWithinPartitions("cell"),
      aDir, "overwrite", statsCols = Seq("cell", "vec_id"))
  }

  /** Mask + re-assign one collapsed change set: ONE equality delete
    * retires every touched id's old assignment row (upserted ids
    * included — an update moves cells), and the upserts' fresh
    * assignments append IN THE SAME commit
    * ([[SnapshotTable.deleteByKeysWithAppend]], round-19 — the
    * per-epoch commit round trips were the CDC paths' measured serial
    * floor). The refs attach to the pre-epoch manifest only, so an
    * epoch never masks its own appends. Content-idempotent: a replay
    * retires its own previous append before re-appending. */
  private def applyChangeSet(spark: SparkSession, indexDir: String,
                             meta: Meta, changes: DataFrame): Unit = {
    maybeFold(spark, indexDir)
    // no .distinct() here: deleteByKeys canonicalizes + distincts the
    // key frame itself, so the explicit one was a second shuffle of
    // the same batch (round-18, guide §2.4)
    val touched = changes.select(col(meta.idCol).cast("long").as("vec_id"))
    val upserts = changes.filter(col("change_type") === "upsert")
    if (upserts.limit(1).count() > 0) {
      val cents = loadCentroids(spark, indexDir)
      // rebalance=false: the assign frame carries its own cell-range
      // clustering (probe pruning depends on it); AQE already
      // right-sizes the unpinned repartitionByRange on small epochs
      SnapshotTable.deleteByKeysWithAppend(spark, assignDir(indexDir),
        Seq("vec_id"), touched,
        assignedFrame(upserts, meta, cents, loadPqCb(spark, indexDir, meta)),
        statsCols = Seq("cell", "vec_id"), rebalance = false)
    } else // delete-only batch: skip the quantizer loads outright
      SnapshotTable.deleteByKey(spark, assignDir(indexDir), "vec_id", touched)
  }

  /** Advance the index to the corpus head by consuming the change
    * feed since the indexed version. O(changed rows) data work +
    * O(files) metadata, whatever the corpus size. Returns the newly
    * indexed version (= the old one when the corpus hasn't moved). */
  def refresh(spark: SparkSession, indexDir: String): Long = {
    val meta = readMeta(spark, indexDir)
    val head = SnapshotTable.latestVersion(spark, meta.corpusDir).getOrElse(
      throw new IllegalStateException(s"corpus ${meta.corpusDir} vanished"))
    if (head == meta.indexedVersion) return head
    val feed = SnapshotTable.changes(spark, meta.corpusDir,
      meta.indexedVersion, head)
      .select(col(meta.idCol), col(meta.vecCol), col("change_type"))
      .cache()
    try {
      applyChangeSet(spark, indexDir, meta, feed)
      writeMeta(spark, indexDir, meta.copy(indexedVersion = head))
      head
    } finally feed.unpersist()
  }

  /** STREAMING maintenance: the foreachBatch consumer for a
    * `readChangeFeed` stream of the corpus —
    *
    * {{{
    *   spark.readStream.format("graft_snapshot")
    *     .option("readChangeFeed", "true")
    *     .option("startingVersion", (indexedVersion + 1).toString)
    *     .load(corpusDir)
    *     .writeStream
    *     .foreachBatch((b: DataFrame, _: Long) =>
    *       AnnIndex.applyFeedBatch(b, indexDir))
    *     .option("checkpointLocation", ckpt).start()
    * }}}
    *
    * A batch may span several source versions, so the newest action
    * per id wins first (an UPDATE's same-version pre-image delete
    * loses to its post-image upsert — the ApplyChanges collapse),
    * then [[applyChangeSet]] applies it. Content-idempotent under the
    * stream's at-least-once replay window, and the recorded indexed
    * version advances to the batch's max commit_version so a batch
    * [[refresh]] composes with (or takes over from) the stream. Start
    * the stream at `indexedVersion + 1` — an initial-load replay
    * would re-assign the whole corpus (correct, wasteful). */
  def applyFeedBatch(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    val meta = readMeta(spark, indexDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(meta.idCol))
      .orderBy(col("commit_version").desc,
        when(col("change_type") === "upsert", 0).otherwise(1))
    val collapsed = batch
      .withColumn("__cdc_rn", row_number().over(w))
      .filter(col("__cdc_rn") === 1)
      .select(col(meta.idCol), col(meta.vecCol), col("change_type"),
        col("commit_version"))
      .cache()
    try {
      if (collapsed.limit(1).count() == 0) return
      applyChangeSet(spark, indexDir, meta, collapsed)
      val maxV = collapsed.agg(max(col("commit_version"))).head.getLong(0)
      if (maxV > meta.indexedVersion)
        writeMeta(spark, indexDir, meta.copy(indexedVersion = maxV))
    } finally collapsed.unpersist()
  }

  /** Quantizer-drift signal for a maintained index. [[refresh]] never
    * re-trains (correct IVF practice — a new quantizer is a new
    * index), so a corpus whose distribution MOVES away from the
    * build-time sample silently degrades: new vectors funnel into few
    * cells, probes over-read those cells, recall/latency rot. This
    * measures that from MANIFEST STATS ALONE — zero assign/ data
    * reads: each assign file's (min,max) `cell` range plus its live
    * row count, distributed over the centroid ids inside the range
    * (the centroid set is vocabulary-sized and already driver-side),
    * estimates a per-cell population; the signal is max/median over
    * all cells. Cell-clustered files cover few cells each (hot cells
    * get single-cell files, where the estimate is exact), so the
    * estimate tightens exactly where it matters. `liveRows` is an
    * upper bound while equality deletes are pending — fine for a
    * heuristic.
    *
    * Policy, stated plainly: the uniform fixture sits near 1–3
    * (AnnIndexSpec pins < 4); REBUILD THE INDEX when the ratio
    * exceeds ~8 — at that point one cell holds an order of magnitude
    * more than the typical cell and nprobe-bounded search is paying
    * a hot-cell scan per probe. [[refresh]]'s SQL face (`CALL
    * ann_refresh`) returns the ratio per epoch so maintenance jobs
    * can gate on it. */
  /** `exactFraction`: the fraction of live rows sitting in
    * SINGLE-CELL files, where the per-cell estimate is exact rather
    * than range-smeared — a consumer can tell a sharp signal (1.0 on
    * a freshly-folded hot index) from a washed-out one (a hand-built
    * or foreign-compacted layout) instead of trusting the ratio
    * blindly. */
  final case class DriftStats(cells: Int, maxCellRows: Double,
                              medianCellRows: Double,
                              exactFraction: Double) {
    def ratio: Double = maxCellRows / math.max(medianCellRows, 1.0)
  }

  def driftStats(spark: SparkSession, indexDir: String): DriftStats = {
    val cents = loadCentroids(spark, indexDir).map(_._1).sorted
    val aDir = assignDir(indexDir)
    val av = SnapshotTable.latestVersion(spark, aDir).getOrElse(
      throw new IllegalStateException(s"no assignments under $indexDir"))
    val est = new Array[Double](cents.length)
    var liveRows = 0L  // every live row, attributable or not
    var exactRows = 0L // rows in single-cell files (exact estimate)
    SnapshotTable.readManifest(spark, aDir, av).files.foreach { fe =>
      liveRows += fe.liveRows
      fe.stats.get("cell").foreach { case (lo, hi) =>
        var i = java.util.Arrays.binarySearch(cents, lo)
        if (i < 0) i = -i - 1
        var j = java.util.Arrays.binarySearch(cents, hi)
        j = if (j < 0) -j - 2 else j
        if (j >= i) {
          if (j == i) exactRows += fe.liveRows
          val share = fe.liveRows.toDouble / (j - i + 1)
          var k = i
          while (k <= j) { est(k) += share; k += 1 }
        }
      }
    }
    val sorted = est.sorted
    // exactFraction is honest about BLINDNESS: rows in files with no
    // `cell` stats at all (a foreign rewrite dropped the statsCols)
    // count against it, so a fully-blind layout reports 0.0 — never
    // maximum confidence — and only a genuinely EMPTY index says 1.0
    DriftStats(cents.length, if (sorted.isEmpty) 0.0 else sorted.last,
      if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2),
      if (liveRows == 0) 1.0 else exactRows.toDouble / liveRows)
  }

  /** Inspection surface for the SQL `cat.ns.t.indexes` metadata table
    * (and anything else that wants to see an index without opening
    * it): everything comes from the metas + manifests + the
    * vocabulary-sized centroid set — no assign/ data read. */
  final case class IndexInfo(corpusDir: String, indexedVersion: Long,
                             dim: Int, pq: Option[(Int, Int)], cells: Long,
                             drift: DriftStats)

  /** Names of the ANN indexes living under a TABLE root's `_ann/`
    * directory (what `CALL ann_build[_pq]` creates) — the walk the
    * `cat.ns.t.indexes` metadata table and `maintain`'s index sweep
    * share. Listing only; nothing is opened. */
  def listIndexes(spark: SparkSession, tableDir: String): Seq[String] = {
    val annRoot = new Path(tableDir, "_ann")
    val f = annRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(annRoot)) Nil
    else f.listStatus(annRoot).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Whether the index at `indexDir` is product-quantized (the SQL
    * `ann_search` face refines PQ results to exact cosine so its
    * result column means the same thing on either layout). */
  def isPq(spark: SparkSession, indexDir: String): Boolean =
    readMeta(spark, indexDir).pq.isDefined

  def describe(spark: SparkSession, indexDir: String): IndexInfo = {
    val meta = readMeta(spark, indexDir)
    val cDir = centroidsDir(indexDir)
    val cells = SnapshotTable.latestVersion(spark, cDir)
      .map(v => SnapshotTable.readManifest(spark, cDir, v).totalRows)
      .getOrElse(0L)
    IndexInfo(meta.corpusDir, meta.indexedVersion, meta.dim, meta.pq,
      cells, driftStats(spark, indexDir))
  }

  /** Top-k ANN through the maintained index: rank centroids per
    * query (driver-side — queries are batch-small by contract, the
    * corpus is what scales), push the probed cells' UNION as a
    * static `cell IN (...)` filter so the assign scan opens only the
    * probed cells' files, join probes to candidates per cell, then
    * score in-cell — exact cosine on a flat index (output (qid, cid,
    * cos, rank), the [[Similarity.ivfTopK]] contract) or the
    * broadcast-lut ADC sum on a PQ index (output (qid, cid, adist,
    * rank), ascending — the [[ProductQuantizer.ivfPqTopK]] contract,
    * with no vector bytes in flight: the probed files stream 8-byte
    * codes). */
  def searchTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
                 k: Int, nprobe: Int): DataFrame =
    searchTopKWith(spark, indexDir, readMeta(spark, indexDir), queries, k,
      nprobe)

  /** [[searchTopK]] against an ALREADY-RESOLVED meta — the rerank and
    * CALL faces thread one resolution through the whole search instead
    * of paying a list+open per layer (round-18). */
  private def searchTopKWith(spark: SparkSession, indexDir: String,
                             meta: Meta, queries: DataFrame,
                             k: Int, nprobe: Int): DataFrame = {
    val cents = loadCentroids(spark, indexDir)
    // the quantizer is ALREADY on the driver (loadCentroids) — inline
    // it as a local relation instead of re-scanning the centroids
    // table for the probe cross-join (round-18: one fewer scan +
    // broadcast-build job per search; same rows by construction)
    val cen = broadcast {
      import spark.implicits._
      cents.toSeq.toDF("cen_id", "cen_v")
    }
    val qa = queries.select(col(meta.idCol).as("qid"), col(meta.vecCol).as("qv"))
      .crossJoin(cen)
      .withColumn("csim", Similarity.cosine(col("qv"), col("cen_v")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cen_id").asc)
    val probes = qa.withColumn("prank", row_number().over(wq))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qv"), col("cen_id").as("cell"))
      .cache()
    try {
      // the probed-cell union is DISTINCT cells, bounded by the
      // vocabulary-sized centroid set however large the query batch —
      // always driver-safe to collect. It decides both halves at once
      // (round-18; this used to be a separate count job over the
      // queries estimating the union): few cells probed → manifest-
      // level file pruning (readIn opens only files whose cell range
      // admits a probe); most cells probed → the static filter would
      // prune nothing, scan flat and let the per-cell join route.
      val cells = probes.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq
      val broadBatch = cells.size > cents.length / 2
      val assignRows =
        if (broadBatch) SnapshotTable.scan(spark, assignDir(indexDir))
        else SnapshotTable.readIn(spark, assignDir(indexDir), "cell", cells)
      meta.pq match {
        case None =>
          val ca = assignRows.select(col("vec_id").as("cid"), col("cell"),
            col("embedding").as("cv"))
          // no broadcast pin either way (round-18): `cells` bounds the
          // probed CELLS, not the probe ROWS, so pinning here could
          // ship an arbitrarily large query batch to every executor;
          // the probe side is cached, so AQE sees its true runtime
          // size and still broadcasts exactly when it fits
          val probeSide = probes
          val scored = probeSide.join(ca, Seq("cell"))
            .filter(col("qid") =!= col("cid"))
            .withColumn("cos", round(Similarity.cosine(col("qv"), col("cv")), 6))
          val w = Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("cid").asc)
          scored.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= k)
            .select("qid", "cid", "cos", "rank")
        case Some((m, ks)) =>
          val ds = meta.dim / m
          val cb = loadCodebooks(spark, indexDir, m, ks, meta.dim)
          val cbLit = array(cb.toIndexedSeq.map(lit): _*)
          // lut per PROBE row (the q4K shape): m*ks doubles riding the
          // (broadcast-sized) probe side, so scoring a candidate is m
          // lookups — the codegen'd ADC kernel — on unpacked codes
          val probesLut = probes.withColumn("__lut",
            graft.functions.cat.GraftExpr.pqLut(col("qv"), cbLit, m, ks, ds))
            .select(col("qid"), col("cell"), col("__lut"))
          val ca = assignRows.select(col("vec_id").as("cid"), col("cell"),
            unpackCodes(col("codes"), m).as("__codes"))
          val probeSide = probesLut // see the flat branch: AQE decides
          val scored = probeSide.join(ca, Seq("cell"))
            .filter(col("qid") =!= col("cid"))
            .withColumn("adist", round(graft.functions.cat.GraftExpr
              .pqAdcSum(col("__lut"), col("__codes"), ks), 6))
          val w = Window.partitionBy(col("qid"))
            .orderBy(col("adist").asc, col("cid").asc)
          scored.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= k)
            .select("qid", "cid", "adist", "rank")
      }
    } finally probes.unpersist()
  }

  /** Retrieve-then-refine through a PQ index: take `kCand` ADC
    * candidates per query from [[searchTopK]], join the CORPUS (as of
    * the indexed version — the state the codes describe) on the id to
    * recover exact vectors for just those candidates, re-rank by
    * exact cosine, keep k. The standard IVFADC+refine recipe: the
    * approximate pass bounds the bytes, the refine pass restores
    * exact ordering on a candidate set that is queries × kCand small.
    * Output (qid, cid, cos, rank).
    *
    * Vacuum contract: the refine pass time-travels the corpus to the
    * indexed version, so that version must still be RETAINED — vacuum
    * the corpus only after refreshing its indexes (or keep enough
    * versions to cover the refresh cadence). An expired version fails
    * loudly here with that remedy, never with silently different
    * vectors. */
  def searchTopKRerank(spark: SparkSession, indexDir: String,
                       queries: DataFrame, k: Int, nprobe: Int,
                       kCand: Int): DataFrame =
    rerankWith(spark, indexDir, readMeta(spark, indexDir), queries, k,
      nprobe, kCand)

  /** The SQL `ann_search` dispatch: ONE meta resolution, then PQ →
    * retrieve-then-refine with `kCand` ADC candidates, flat → exact
    * in-cell cosine directly. `cos` means the same thing either way. */
  def searchAuto(spark: SparkSession, indexDir: String, queries: DataFrame,
                 k: Int, nprobe: Int, kCand: Int): DataFrame = {
    val meta = readMeta(spark, indexDir)
    if (meta.pq.isDefined)
      rerankWith(spark, indexDir, meta, queries, k, nprobe, kCand)
    else searchTopKWith(spark, indexDir, meta, queries, k, nprobe)
  }

  private def rerankWith(spark: SparkSession, indexDir: String, meta: Meta,
                         queries: DataFrame, k: Int, nprobe: Int,
                         kCand: Int): DataFrame = {
    require(meta.pq.isDefined,
      s"$indexDir is a flat IVF index — searchTopK already ranks by exact cosine")
    require(kCand >= k, s"kCand=$kCand must be >= k=$k")
    val cand = searchTopKWith(spark, indexDir, meta, queries, kCand, nprobe)
      .select(col("qid"), col("cid"))
    val corpusAtIndexed =
      try SnapshotTable.scan(spark, meta.corpusDir,
        Some(meta.indexedVersion))
      catch {
        case e: Exception => throw new IllegalStateException(
          s"rerank needs corpus ${meta.corpusDir} AS OF the indexed " +
            s"version ${meta.indexedVersion}, which is no longer " +
            "readable (vacuumed?) — refresh the index to advance its " +
            "watermark, or retain indexed versions through vacuum", e)
      }
    val corpus = corpusAtIndexed
      .select(col(meta.idCol).cast("long").as("cid"),
        col(meta.vecCol).as("cv"))
    val qv = queries.select(col(meta.idCol).cast("long").as("qid"),
      col(meta.vecCol).as("qv"))
    val exact = cand.join(corpus, Seq("cid")).join(broadcast(qv), Seq("qid"))
      .withColumn("cos", round(Similarity.cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cos", "rank")
  }
}
