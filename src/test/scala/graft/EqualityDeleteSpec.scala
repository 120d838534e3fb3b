package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Equality deletes: commit the KEY VALUES, not positions — O(batch)
  * bytes + O(files) metadata per delete epoch with ZERO data reads,
  * masked merge-on-read, folded into files by purge/compact. The
  * Iceberg-v2 cost class for high-churn CDC on keys the zone maps
  * can't prune. */
class EqualityDeleteSpec extends SparkTestBase {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-eq").toString
  spark.conf.set("spark.sql.catalog.grafteq",
    classOf[graft.sources.connector.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.grafteq.root", root)

  private def freshDir(): String =
    Files.createTempDirectory("graft-eq-t").toString

  private def dataFiles(dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, "data")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  private def manifest(dir: String) = SnapshotTable.readManifest(spark, dir,
    SnapshotTable.latestVersion(spark, dir).get)

  test("deleteByKey: zero data reads/writes, masked reads, re-insert works") {
    val dir = freshDir()
    // UNCLUSTERED key: ids shuffled so per-file ranges all overlap —
    // the dv path would scan everything; the eq path writes metadata
    SnapshotTable.write(spark,
      spark.range(0, 10000).select(
        (($"id" * 2654435761L) % 10000).as("k"), $"id".as("v"))
        .repartition(8),
      dir, "overwrite", Seq("k"))
    val before = dataFiles(dir).size
    val v = SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 100).toDF("k"))
    assert(v == 2L)
    // exactly ONE new on-disk file: the key sidecar — no data rewrite
    assert(dataFiles(dir).size == before + 1)
    val m = manifest(dir)
    assert(m.files.forall(_.eqDv.nonEmpty), "unclustered: every file affected")
    // merge-on-read: programmatic scan and V2 load agree
    assert(SnapshotTable.scan(spark, dir).count() == 9900)
    assert(SnapshotTable.scan(spark, dir)
      .filter($"k" < 100).count() == 0)
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.count() == 9900)
    assert(v2.filter($"k" < 100).count() == 0)
    assert(v2.agg(sum($"k")).as[Long].head ==
      (0L until 10000).map(i => (i * 2654435761L) % 10000)
        .filter(_ >= 100).sum)
    // re-inserting a deleted key lands in a NEW file that never
    // carries the ref — sequence semantics via the flat file list
    SnapshotTable.write(spark,
      Seq((5L, -1L)).toDF("k", "v"), dir, "append", Seq("k"))
    assert(SnapshotTable.scan(spark, dir).filter($"k" === 5).count() == 1)
    // a second epoch composes: both refs pending
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(100, 150).toDF("k"))
    assert(SnapshotTable.scan(spark, dir).count() == 9851)
  }

  test("clustered key: the batch's range refutes most files at attach time") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 20000).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartitionByRange(10, $"k"),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 50).toDF("k")) // first slice only
    val m = manifest(dir)
    val attached = m.files.count(_.eqDv.nonEmpty)
    assert(attached >= 1 && attached <= 2,
      s"range refutation failed: $attached of ${m.files.size} files attached")
    assert(SnapshotTable.scan(spark, dir).count() == 19950)
  }

  test("string zone maps and blooms refute the attach like a static filter") {
    val dir = freshDir()
    // ~100 distinct keys per file: inside the 1024-bit blooms'
    // selective range (a 2000-key file saturates its bloom and can
    // never refute)
    SnapshotTable.write(spark,
      spark.range(0, 1000).select(
        concat(lit("k"), lpad($"id".cast("string"), 8, "0")).as("key"),
        $"id".as("v"))
        .repartitionByRange(10, $"key"),
      dir, "overwrite", Seq("key"), bloomCols = Seq("key"))
    // a batch confined to the first string slice attaches to ~1 file
    SnapshotTable.deleteByKey(spark, dir, "key",
      spark.range(0, 30).select(
        concat(lit("k"), lpad($"id".cast("string"), 8, "0")).as("key")))
    val m1 = manifest(dir)
    assert(m1.files.count(_.eqDv.nonEmpty) <= 2,
      s"string zone maps failed to refute: ${m1.files.count(_.eqDv.nonEmpty)}")
    assert(SnapshotTable.scan(spark, dir).count() == 970)
    // keys INSIDE every file's range but absent from the data: the
    // blooms refute every file — nothing attaches, no version burns
    val vBefore = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.deleteByKey(spark, dir, "key",
      Seq("k99999991x", "k00000005x").toDF("key"))
    assert(SnapshotTable.latestVersion(spark, dir).get == vBefore,
      "bloom-refuted batch must not burn a version")
  }

  test("purge_deletes folds pending equality deletes into the files") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 5000).select(($"id" % 777).as("k"), $"id".as("v"))
        .repartition(4),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(0, 30).toDF("k"))
    SnapshotTable.deleteVectors(spark, dir, $"v" === 4999) // dv interplay
    val expect = SnapshotTable.scan(spark, dir).count()
    SnapshotTable.purgeDeletes(spark, dir)
    val m = manifest(dir)
    assert(m.files.forall(fe => fe.eqDv.isEmpty && fe.dv.isEmpty))
    assert(SnapshotTable.scan(spark, dir).count() == expect)
    // metadata-exact counts are back: liveRows sums to the true count
    assert(m.files.map(_.liveRows).sum == expect)
  }

  test("SQL reads and the metadata-count fallback stay correct") {
    spark.sql("CREATE TABLE grafteq.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO grafteq.t SELECT id % 500, id FROM range(0, 5000)")
    val dir = s"$root/t"
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(0, 10).toDF("k"))
    // COUNT must NOT answer from metadata while eq deletes are pending
    assert(spark.sql("SELECT count(*) FROM grafteq.t").as[Long].head == 4900)
    assert(spark.sql("SELECT sum(v) FROM grafteq.t").as[Long].head ==
      (0L until 5000).filter(_ % 500 >= 10).sum)
    // fold restores the metadata-only answer path
    SnapshotTable.purgeDeletes(spark, dir)
    assert(spark.sql("SELECT count(*) FROM grafteq.t").as[Long].head == 4900)
  }

  test("change feed emits the equality-deleted rows as delete pre-images") {
    spark.sql("CREATE TABLE grafteq.cdc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO grafteq.cdc SELECT id, id * 7 FROM range(0, 1000)")
    val dir = s"$root/cdc"
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(10, 20).toDF("k"))
    val feed = spark.sql(
      "SELECT k, v, change_type, commit_version FROM grafteq.cdc.changes")
      .collect()
    val deletes = feed.filter(_.getString(2) == "delete")
    assert(deletes.length == 10 &&
      deletes.map(_.getLong(0)).sorted.toSeq == (10L until 20L),
      s"feed deletes wrong: ${deletes.map(_.getLong(0)).toSeq.sorted}")
    assert(deletes.forall(r => r.getLong(1) == r.getLong(0) * 7)) // pre-images
    assert(deletes.forall(_.getLong(3) == 3L)) // the delete-eq commit
    // upserts: exactly the initial insert, NOT re-emitted masked rows
    assert(feed.count(_.getString(2) == "upsert") == 1000)
    // a SECOND epoch emits only ITS keys (old pending keys never re-emit)
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(15, 25).toDF("k")) // overlaps the first batch
    val feed2 = spark.sql(
      "SELECT k, change_type, commit_version FROM grafteq.cdc.changes " +
        "WHERE commit_version = 4").collect()
    assert(feed2.filter(_.getString(1) == "delete").map(_.getLong(0))
      .sorted.toSeq == (20L until 25L),
      "second epoch must emit only newly-deleted keys")
  }

  test("the columnar verdict never flips: eq-pending scans stay vectorized") {
    val dir = freshDir()
    // range-clustered: the delete batch lands in the FIRST slice only
    SnapshotTable.write(spark,
      spark.range(0, 20000).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(10, $"k"),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(0, 40).toDF("k"))
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.sources.connector.SnapshotScan]
      }.head
    def columnar(df: org.apache.spark.sql.DataFrame): Boolean = {
      val scan = scanOf(df)
      val parts = scan.planInputPartitions()
      val factory = scan.createReaderFactory()
      parts.forall(factory.supportColumnarReads)
    }
    val base = spark.read.format("graft_snapshot").load(dir)
    // the "SELECT * while CDC is in flight" scan keeps its vectorized
    // readers — pending keys mask inside the columnar batches (the
    // round-15 fallback parked the whole scan on row readers, 4.8×)
    assert(columnar(base.filter($"v" >= 0)))
    assert(base.filter($"v" >= 0).count() == 19960)
    assert(base.agg(sum($"k")).as[Long].head ==
      (40L until 20000L).sum, "columnar eq masking dropped wrong rows")
    // a key-filtered scan agrees with the oracle arithmetic through
    // the same masked batches
    assert(base.filter($"k" < 100).count() == 60)
    // dv + eq interplay: BOTH masks apply inside one batch pass
    SnapshotTable.deleteVectors(spark, dir, $"v" === 200L) // k=100
    assert(columnar(base.filter($"v" >= 0)))
    assert(spark.read.format("graft_snapshot").load(dir).count() == 19959)
    assert(spark.read.format("graft_snapshot").load(dir)
      .agg(sum($"k")).as[Long].head == (40L until 20000L).sum - 100L)
  }

  test("columnar eq masking handles string keys and projections without the key") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 5000).select(
        concat(lit("u"), ($"id" % 700).cast("string")).as("key"),
        $"id".as("v")).repartition(4),
      dir, "overwrite")
    SnapshotTable.deleteByKey(spark, dir, "key",
      Seq("u1", "u17", "u699").toDF("key"))
    val v2 = spark.read.format("graft_snapshot").load(dir)
    // projection WITHOUT the key column: the reader appends `key` to
    // the requested batch for the mask, then strips it
    val expect = (0L until 5000L).filterNot(i =>
      Set(1L, 17L, 699L).contains(i % 700)).sum
    assert(v2.select($"v").agg(sum($"v")).as[Long].head == expect)
    assert(v2.count() == (0L until 5000L)
      .count(i => !Set(1L, 17L, 699L).contains(i % 700)))
    // and WITH it — same verdicts when the key rides the projection
    assert(v2.filter($"key" === "u17").count() == 0)
  }

  test("eq masking across schema evolution: files predating the key column never match") {
    val dir = freshDir()
    // generation 1 lacks the (future) key column entirely
    SnapshotTable.write(spark,
      spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v")),
      dir, "overwrite", Seq("k"))
    // generation 2 adds `nk`; the delete keys on nk
    SnapshotTable.write(spark,
      spark.range(100, 200).select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" + 1000).as("nk")),
      dir, "append", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "nk",
      spark.range(1100, 1110).toDF("nk"))
    // old files surface nk as null; null never matches a delete key —
    // through BOTH reader families
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.count() == 190)
    assert(v2.filter($"nk".isNull).count() == 100,
      "generation-1 rows must survive a delete keyed on a column they predate")
    assert(v2.filter($"nk".between(1100, 1109)).count() == 0)
    assert(SnapshotTable.scan(spark, dir).count() == 190)
    // the columnar verdict holds even with the key column absent from
    // some files (constant-null vectors feed the mask)
    val scan = v2.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.connector.SnapshotScan]
    }.head
    val factory = scan.createReaderFactory()
    assert(scan.planInputPartitions().forall(factory.supportColumnarReads))
  }

  test("columnar eq masking survives ALTER COLUMN widening of the key") {
    // regression (round-17 advice): the columnar matcher used to type
    // its probe from the sidecar's attach-time dtJson; after
    // `deleteByKey on INT key → ALTER COLUMN k TYPE BIGINT → SELECT`
    // the projected vector is LongType and a dtJson-typed getInt reads
    // garbage (or NPEs on on-heap vectors). The matcher now binds to
    // the DECODED vector's type.
    spark.sql("CREATE TABLE grafteq.tw (k INT, v BIGINT)")
    spark.sql("INSERT INTO grafteq.tw " +
      "SELECT CAST(id AS INT), id * 10 FROM range(0, 5000)")
    val dir = s"$root/tw"
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 50).select($"id".cast("int").as("k")))
    spark.sql("ALTER TABLE grafteq.tw ALTER COLUMN k TYPE BIGINT")
    // re-inserted keys land in files the pending refs never cover:
    // they must survive while the pre-widening images stay masked
    spark.sql("INSERT INTO grafteq.tw SELECT id, id * 100 FROM range(0, 10)")
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.tw").as[Long].head
      == 5000L - 50 + 10)
    val low = spark.sql(
      "SELECT k, v FROM grafteq.tw WHERE k < 60 ORDER BY k, v").collect()
    assert(low.length == 20, s"got ${low.length} rows under k<60")
    assert(low.take(10).map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 10L).map(i => (i, i * 100)),
      "re-inserted post-widening rows must read back unmasked")
    assert(low.drop(10).map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (50L until 60L).map(i => (i, i * 10)))
    // the key-not-projected shape (appended mask column) too
    assert(spark.sql("SELECT sum(v) AS s FROM grafteq.tw").as[Long].head ==
      (0L until 5000L).map(_ * 10).sum - (0L until 50L).map(_ * 10).sum +
        (0L until 10L).map(_ * 100).sum)
  }

  test("task closures carry sidecar REFS, not key sets (one broadcast per scan)") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 50000).select(
        (($"id" * 2654435761L) % 50000).as("k"), $"id".as("v"))
        .repartition(4),
      dir, "overwrite", Seq("k"))
    // a BIG pending batch: 40k keys — closure-embedded sets would put
    // ~40k strings in EVERY task; refs keep partitions O(bytes)
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 80000, 2).toDF("k"))
    val df = spark.read.format("graft_snapshot").load(dir)
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.sources.connector.SnapshotScan]
    }.head
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    parts.foreach(oos.writeObject)
    oos.close()
    val perPart = bos.size() / parts.length
    assert(perPart < 2048,
      s"input partitions serialize to ~$perPart bytes each — pending " +
        "keys are riding the task closures again")
    // the data still masks correctly through the broadcast
    assert(df.count() ==
      (0L until 50000L).map(i => (i * 2654435761L) % 50000)
        .count(k => !(k < 80000 && k % 2 == 0)))
  }

  test("attach-time cap: deleteByKey refuses to push a file past the masking budget") {
    val dir = freshDir()
    // ONE file, unclustered key — every epoch attaches to it
    SnapshotTable.write(spark,
      spark.range(0, 1000).select(
        (($"id" * 48271L) % 3000000L).as("k"), $"id".as("v")).coalesce(1),
      dir, "overwrite")
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 1900000).toDF("k"))
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.deleteByKey(spark, dir, "k",
        spark.range(1900000, 3000000).toDF("k"))
    }
    assert(ex.getMessage.contains("purge_deletes"),
      s"cap error must point at the fold: ${ex.getMessage}")
    // the fold clears the budget and the delete goes through
    SnapshotTable.purgeDeletes(spark, dir)
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(1900000, 3000000).toDF("k"))
    assert(SnapshotTable.scan(spark, dir).count() ==
      (0L until 1000L).map(i => (i * 48271L) % 3000000L)
        .count(_ >= 3000000L)) // everything below 3M is deleted
  }

  test("programmatic changes(): eq deltas emit exact fresh-key pre-images") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select($"id".as("k"), ($"id" * 7).as("v"))
        .repartitionByRange(4, $"k"),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(10, 20).toDF("k"))
    val feed1 = SnapshotTable.changes(spark, dir, 1, 2).collect()
    assert(feed1.forall(_.getAs[String]("change_type") == "delete"))
    assert(feed1.map(_.getAs[Long]("k")).sorted.toSeq == (10L until 20L))
    assert(feed1.forall(r => r.getAs[Long]("v") == r.getAs[Long]("k") * 7),
      "pre-images must carry the full row")
    // an OVERLAPPING second epoch emits only its newly-deleted keys
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(15, 25).toDF("k"))
    val feed2 = SnapshotTable.changes(spark, dir, 2, 3).collect()
    assert(feed2.map(_.getAs[Long]("k")).sorted.toSeq == (20L until 25L),
      s"fresh-key delta wrong: ${feed2.map(_.getAs[Long]("k")).sorted.toSeq}")
    // a range SPANNING both epochs composes
    val feed13 = SnapshotTable.changes(spark, dir, 1, 3).collect()
    assert(feed13.map(_.getAs[Long]("k")).sorted.toSeq == (10L until 25L))
    // dv + eq both pending: the dv-deleted row must NOT re-emit as an
    // eq delta (it was dead before the eq epoch)
    SnapshotTable.deleteVectors(spark, dir, $"k" === 30L) // v4
    SnapshotTable.deleteByKey(spark, dir, "k",
      Seq(30L, 31L).toDF("k")) // v5: 30 already dv-dead
    val feed45 = SnapshotTable.changes(spark, dir, 4, 5).collect()
    assert(feed45.map(_.getAs[Long]("k")).toSeq == Seq(31L),
      s"dv-dead row re-emitted: ${feed45.map(_.getAs[Long]("k")).toSeq}")
    // a mixed window (append + eq epoch) still nets correctly through
    // the general diff for the appended files
    SnapshotTable.write(spark,
      spark.range(2000, 2010).select($"id".as("k"), ($"id" * 7).as("v")),
      dir, "append", Seq("k")) // v6
    val feed56 = SnapshotTable.changes(spark, dir, 4, 6)
    assert(feed56.filter($"change_type" === "upsert").count() == 10)
    assert(feed56.filter($"change_type" === "delete")
      .select($"k").as[Long].collect().toSeq == Seq(31L))
  }

  test("applyBatchEq replays content-idempotently and matches applyBatch") {
    def feedOf(rows: Seq[(Long, Long)], tpe: String, cv: Long) =
      rows.toDF("k", "v")
        .select($"k", $"v", lit(tpe).as("change_type"),
          lit(cv).as("commit_version"))
    val boot = feedOf((0L until 100L).map(i => (i, i * 10)), "upsert", 1)
    val epoch = feedOf(Seq((5L, 0L), (6L, 0L)), "delete", 2)
      .unionByName(feedOf(Seq((7L, 777L), (200L, 2000L)), "upsert", 2))
      // same-version delete+upsert pair: the upsert must win
      .unionByName(feedOf(Seq((8L, 0L)), "delete", 2))
      .unionByName(feedOf(Seq((8L, 888L)), "upsert", 2))
    val eqDir = freshDir(); val mergeDir = freshDir()
    for (d <- Seq(eqDir, mergeDir)) {
      val apply = if (d == eqDir) graft.streaming.ApplyChanges.applyBatchEq _
        else (b: org.apache.spark.sql.DataFrame, dd: String, k: String,
              sc: Seq[String]) =>
          graft.streaming.ApplyChanges.applyBatch(b, dd, k, sc)
      apply(boot, d, "k", Seq("k"))
      apply(epoch, d, "k", Seq("k"))
    }
    def content(d: String) = SnapshotTable.scan(spark, d)
      .collect().map(_.toSeq).toSet
    assert(content(eqDir) == content(mergeDir),
      "eq-CDC apply diverged from the merge apply")
    assert(SnapshotTable.scan(spark, eqDir).count() == 99) // 100 -2 +2 -1
    // a replayed epoch (the at-least-once window) leaves content fixed
    graft.streaming.ApplyChanges.applyBatchEq(epoch, eqDir, "k", Seq("k"))
    assert(content(eqDir) == content(mergeDir))
    // and the fold squeezes out the replay's masked garbage
    SnapshotTable.purgeDeletes(spark, eqDir)
    assert(content(eqDir) == content(mergeDir))
  }

  test("composite key: TUPLE masking, not per-column OR, across reader families") {
    val dir = freshDir()
    // g = id%50, k = id%100: the deleted tuples' member VALUES both
    // collide with live rows — (3, 53) shares g with (3, 3) and
    // (7, 57) shares k-parity shapes — so per-column masking would
    // over-delete; only exact tuples may die
    SnapshotTable.write(spark,
      spark.range(0, 5000).select(($"id" % 50).as("g"), ($"id" % 100).as("k"),
        ($"id" * 7).as("v")).repartition(6),
      dir, "overwrite", Seq("g"))
    val preV = SnapshotTable.latestVersion(spark, dir).get
    val tuples = Seq((3L, 3L), (7L, 57L)).toDF("g", "k")
    SnapshotTable.deleteByKeys(spark, dir, Seq("g", "k"), tuples)
    // id%100==3 (50 rows) and id%100==57 (50 rows) die; nothing else
    val v2 = spark.read.format("graft_snapshot").load(dir)
    // COLUMNAR family (projection scan)
    assert(v2.select("g", "k", "v").count() == 4900)
    assert(v2.filter($"g" === 3 && $"k" === 3).count() == 0)
    assert(v2.filter($"g" === 7 && $"k" === 57).count() == 0)
    assert(v2.filter($"g" === 3 && $"k" === 53).count() == 50,
      "per-column masking over-deleted a tuple sibling")
    // ROW family (empty projection — pure count decodes only keys)
    assert(v2.count() == 4900)
    // programmatic change feed (its general diff reads masked files
    // through the connector's tuple mask at the pinned version)
    val head = SnapshotTable.latestVersion(spark, dir).get
    val feed = SnapshotTable.changes(spark, dir, preV, head)
    assert(feed.filter($"change_type" === "upsert").count() == 0)
    val dels = feed.filter($"change_type" === "delete")
      .select("g", "k").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dels == Set((3L, 3L), (7L, 57L)),
      s"composite feed replayed wrong tuples: $dels")
    assert(feed.count() == 100)
    // purge folds composite refs too (readFiles mask feeds the rewrite)
    SnapshotTable.purgeDeletes(spark, dir)
    val m = manifest(dir)
    assert(m.files.forall(_.eqDv.isEmpty))
    assert(SnapshotTable.scan(spark, dir).count() == 4900)
    assert(SnapshotTable.scan(spark, dir)
      .filter($"g" === 3 && $"k" === 53).count() == 50)
  }

  test("composite key with a STRING member; SQL procedure face; schema evolution") {
    spark.sql("CREATE TABLE grafteq.ck (name STRING, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO grafteq.ck " +
      "SELECT concat('u', id % 40), id % 25, id FROM range(0, 2000)")
    // CALL face: a keys table carrying the composite business key
    spark.sql("CREATE TABLE grafteq.ck_keys (name STRING, k BIGINT)")
    spark.sql("INSERT INTO grafteq.ck_keys VALUES " +
      "('u3', CAST(3 AS BIGINT)), ('u17', CAST(22 AS BIGINT))")
    spark.sql("CALL grafteq.system.delete_by_key('ck', 'name,k', 'ck_keys')")
    // (name='u3', k=3): id%40==3 && id%25==3 → id ≡ 3 (mod 200): 10 rows
    // (name='u17', k=22): id%40==17 && id%25==22 → id ≡ 97 (mod 200): 10
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.ck").as[Long].head
      == 1980L)
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.ck " +
      "WHERE name = 'u3' AND k = 3").as[Long].head == 0L)
    // the string member's OTHER tuples survive (tuple, not column)
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.ck " +
      "WHERE name = 'u3'").as[Long].head == 40L)
    // schema evolution: a composite delete keyed partly on a column
    // some files PREDATE never matches those files' rows
    spark.sql("ALTER TABLE grafteq.ck ADD COLUMNS (region STRING)")
    spark.sql("INSERT INTO grafteq.ck " +
      "SELECT concat('w', id), id, id, 'emea' FROM range(0, 10)")
    val dir = s"$root/ck"
    SnapshotTable.deleteByKeys(spark, dir, Seq("k", "region"),
      Seq((3L, "emea"), (5L, "emea")).toDF("k", "region"))
    // only the new-generation rows with those tuples die; every
    // old-generation row with k in (3, 5) survives (region absent —
    // a tuple with an absent member matches nothing)
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.ck").as[Long].head
      == 1980L + 10 - 2)
    // k=3: 80 original minus the 10 ('u3', 3)-deleted = 70; k=5: 80
    assert(spark.sql("SELECT count(*) AS n FROM grafteq.ck " +
      "WHERE k IN (3, 5) AND region IS NULL").as[Long].head == 150L)
  }

  test("composite (string,string) key: typed tuple masking, concat-collision-proof") {
    // round-18: the (string, string) business key — the most common
    // real CDC key after (int, int) — moves off the allocating
    // encoded-string probe onto TypedTupleOpenHashSet. The fixture's
    // tuples are CONCATENATION-COLLIDING: ("a","bc") vs ("ab","c") —
    // any probe keyed on joined strings (without length prefixes)
    // would kill both.
    val dir = freshDir()
    val rows = spark.range(0, 900).select(
      when($"id" % 3 === 0, "a").when($"id" % 3 === 1, "ab")
        .otherwise(concat(lit("q"), ($"id" % 5).cast("string"))).as("a"),
      when($"id" % 3 === 0, "bc").when($"id" % 3 === 1, "c")
        .otherwise(concat(lit("w"), ($"id" % 7).cast("string"))).as("b"),
      $"id".as("v"))
    SnapshotTable.write(spark, rows.repartition(4), dir, "overwrite", Nil)
    SnapshotTable.deleteByKeys(spark, dir, Seq("a", "b"),
      Seq(("a", "bc")).toDF("a", "b"))
    val v2 = spark.read.format("graft_snapshot").load(dir)
    // COLUMNAR family (projection)
    assert(v2.select("a", "b", "v").filter($"a" === "a").count() == 0,
      "the named (string,string) tuple must die")
    assert(v2.select("a", "b", "v").filter($"a" === "ab" && $"b" === "c")
      .count() == 300,
      "concatenation-colliding sibling tuple was over-deleted")
    assert(v2.select("a", "b", "v").count() == 600)
    // ROW family (empty projection — decodes only the key columns)
    assert(v2.count() == 600)
    // second epoch composes; a key whose members exist only in OTHER
    // tuples matches nothing
    SnapshotTable.deleteByKeys(spark, dir, Seq("a", "b"),
      Seq(("q1", "w0"), ("ab", "w1")).toDF("a", "b"))
    val want = 600 - rows.filter($"a" === "q1" && $"b" === "w0").count()
    assert(spark.read.format("graft_snapshot").load(dir).count() == want)
  }

  test("composite 3-integral key: tuple masking past the long-pair fast path") {
    val dir = freshDir()
    def base = spark.range(0, 8000).select(($"id" % 9).as("g"),
      ($"id" % 16).as("k"), ($"id" % 25).as("j"), $"id".as("v"))
    SnapshotTable.write(spark, base.repartition(4), dir, "overwrite", Seq("g"))
    // 9/16/25 pairwise coprime → the tuple (1,2,3) names exactly the
    // ids ≡ x0 (mod 3600); expectations computed from the base frame
    val hits = base.filter($"g" === 1 && $"k" === 2 && $"j" === 3).count()
    assert(hits > 0, "fixture lost its target tuple")
    SnapshotTable.deleteByKeys(spark, dir, Seq("g", "k", "j"),
      Seq((1L, 2L, 3L)).toDF("g", "k", "j"))
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.filter($"g" === 1 && $"k" === 2 && $"j" === 3).count() == 0)
    // every 2-member projection of the tuple survives elsewhere
    assert(v2.filter($"g" === 1 && $"k" === 2 && $"j" =!= 3).count() > 0,
      "arity-3 masking killed a 2-member sibling")
    assert(v2.filter($"g" === 1 && $"k" =!= 2 && $"j" === 3).count() > 0)
    assert(v2.filter($"g" =!= 1 && $"k" === 2 && $"j" === 3).count() > 0)
    assert(v2.count() == 8000 - hits)
    assert(v2.select("g", "k", "j", "v").count() == 8000 - hits) // columnar
    // fold leaves content fixed
    SnapshotTable.purgeDeletes(spark, dir)
    assert(SnapshotTable.scan(spark, dir).count() == 8000 - hits)
  }

  test("DATE keys: days-canonical masking agrees across every reader family") {
    // round-18: DateType joins the eq-delete key surface. The one trap
    // is the canonical form — the driver-side sidecar load must speak
    // DAYS (what executor readers see in the parquet INT32), not the
    // yyyy-MM-dd string cast; a mismatch would silently un-delete
    // through one family and mask through another. Pin all of them:
    // columnar (projection), row (pure count), scan (subset read), and
    // the composite (date, int) tuple.
    val dir = freshDir()
    val rows = spark.range(0, 1200).select(
      date_add(lit("2024-01-01").cast("date"),
        ($"id" % 6).cast("int")).as("day"),
      ($"id" % 5).as("slot"), $"id".as("v")) // 5 coprime with 6: every
    // (day, slot) combo exists (40 rows each)
    SnapshotTable.write(spark, rows.repartition(4), dir, "overwrite", Nil)
    // single date key
    SnapshotTable.deleteByKey(spark, dir, "day",
      Seq(java.sql.Date.valueOf("2024-01-03")).toDF("day"))
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.select("day", "slot", "v")
      .filter($"day" === "2024-01-03").count() == 0) // columnar family
    assert(v2.count() == 1000)                        // row family
    assert(SnapshotTable.scan(spark, dir).count() == 1000) // scan
    // composite (date, int) tuple: only the exact tuple dies
    SnapshotTable.deleteByKeys(spark, dir, Seq("day", "slot"),
      Seq((java.sql.Date.valueOf("2024-01-01"), 4L)).toDF("day", "slot"))
    val v3 = spark.read.format("graft_snapshot").load(dir)
    assert(v3.filter($"day" === "2024-01-01" && $"slot" === 4).count() == 0)
    assert(v3.filter($"day" === "2024-01-01" && $"slot" === 3).count() == 40,
      "date-tuple masking took a sibling slot")
    assert(v3.filter($"day" === "2024-01-02" && $"slot" === 4).count() == 40,
      "date-tuple masking took a sibling day")
    assert(v3.count() == 960)
    // the fold is content-neutral
    SnapshotTable.purgeDeletes(spark, dir)
    assert(SnapshotTable.scan(spark, dir).count() == 960)
    assert(SnapshotTable.scan(spark, dir)
      .filter($"day" === "2024-01-03").count() == 0)
  }

  test("composite eq-CDC epochs: no pre-existing file rewritten, siblings survive") {
    // q7T's two in-query pins, moved here (round-18, the r16 q7N
    // precedent: the pins cost a manifest walk + two count jobs per
    // bench rep; the oracle hash stays q7T's bench gate). Same epoch
    // shape as the query: applyBatchEqKeys on a (k, ln) business key.
    val dir = freshDir()
    val base = spark.range(0, 3000)
      .select(($"id" % 500).as("k"), ($"id" % 6 + 1).as("ln"),
        ($"id" * 3).as("qty"))
      .groupBy($"k", $"ln").agg(max($"qty").as("qty"))
      .cache()
    def feed(rows: org.apache.spark.sql.DataFrame, tpe: String, cv: Int) =
      rows.select($"k", $"ln", $"qty", lit(tpe).as("change_type"),
        lit(cv.toLong).as("commit_version"))
    graft.streaming.ApplyChanges.applyBatchEqKeys(
      feed(base.filter($"k" % 2 === 0).repartition(8), "upsert", 1),
      dir, Seq("k", "ln"))
    def files() = manifest(dir).files.map(_.path).toSet
    val f1 = files()
    graft.streaming.ApplyChanges.applyBatchEqKeys(
      feed(base.filter($"k" % 10 === 0 && $"ln" === 1), "delete", 2)
        .unionByName(feed(base.filter($"k" % 4 === 1), "upsert", 2)),
      dir, Seq("k", "ln"))
    // pin 1 (verbatim from q7T rounds 17): an eq-CDC epoch is a
    // sidecar + append — zero target data files rewritten
    require(f1.subsetOf(files()),
      "composite eq-CDC epoch must never rewrite a pre-existing data file")
    // pin 2 (verbatim): deleting (k, ln=1) tuples must keep the SAME
    // k's other line numbers — tuple masking, not per-column OR
    val scan2 = SnapshotTable.scan(spark, dir)
    val sibs = scan2.filter($"k" % 10 === 0 && $"ln" =!= 1).count()
    val wantSibs = base.filter($"k" % 10 === 0 && $"ln" =!= 1).count()
    require(sibs == wantSibs && sibs > 0,
      s"tuple masking lost sibling line numbers ($sibs vs $wantSibs)")
    base.unpersist()
  }

  test("composite keys bind BY NAME when the frame carries the key columns") {
    // review finding (round-17): purely positional binding would let a
    // same-named but REORDERED frame silently delete swapped tuples
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select(($"id" % 10).as("g"), ($"id" % 7).as("k"),
        $"id".as("v")),
      dir, "overwrite", Seq("g"))
    // the frame's columns are (k, g) — REVERSED relative to keyCols
    val reordered = Seq((3L, 2L)).toDF("k", "g") // means (g=2, k=3)
    SnapshotTable.deleteByKeys(spark, dir, Seq("g", "k"), reordered)
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.filter($"g" === 2 && $"k" === 3).count() == 0,
      "the named tuple (g=2, k=3) must die")
    assert(v2.filter($"g" === 3 && $"k" === 2).count() > 0,
      "positional binding deleted the SWAPPED tuple")
    // anonymous frames (no matching names) stay positional
    SnapshotTable.deleteByKeys(spark, dir, Seq("g", "k"),
      Seq((5L, 1L)).toDF("c1", "c2")) // positional: g=5, k=1
    assert(spark.read.format("graft_snapshot").load(dir)
      .filter($"g" === 5 && $"k" === 1).count() == 0)
  }

  test("streaming factories resolve eq refs without plan-order side state") {
    // regression (round-17): the micro-batch reader factory used to
    // depend on planInputPartitions having stashed the batch's eq refs
    // into a ConcurrentHashMap side channel before createReaderFactory
    // ran — a Spark call reorder failed loudly executor-side. Refs now
    // resolve per partition, executor-side, off the sidecar files.
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 2000).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartition(4),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 100).toDF("k"))
    val schema = SnapshotTable.toPhysical(
      SnapshotTable.scan(spark, dir).schema)
    val stream = new graft.sources.connector.SnapshotMicroBatchStream(
      dir, schema, org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    // build the factory BEFORE any planning call — the pinned claim
    val factory = stream.createReaderFactory()
    val start = stream.initialOffset()
    val end = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(start, end)
    assert(parts.nonEmpty)
    val kIdx = schema.fieldIndex("k")
    var n = 0L
    parts.foreach { p =>
      val r = factory.createColumnarReader(p)
      try while (r.next()) {
        val rows = r.get().rowIterator()
        while (rows.hasNext) {
          val k = rows.next().getLong(kIdx)
          assert(k >= 100, s"masked key $k leaked through the factory")
          n += 1
        }
      } finally r.close()
    }
    assert(n == 1900, s"initial-load batch emitted $n rows, want 1900")
  }

  test("the STREAMING change feed propagates equality deletes") {
    spark.sql("CREATE TABLE grafteq.scdc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO grafteq.scdc SELECT id, id * 3 FROM range(0, 300)")
    val dir = s"$root/scdc"
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(50, 60).toDF("k"))
    val out = Files.createTempDirectory("graft-eqf").toString
    val ckpt = Files.createTempDirectory("graft-eqfc").toString
    val q = spark.readStream.format("graft_snapshot")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val feed = spark.read.parquet(out).collect()
    val dels = feed.filter(_.getAs[String]("change_type") == "delete")
    assert(dels.map(_.getAs[Long]("k")).sorted.toSeq == (50L until 60L),
      s"stream feed deletes wrong: ${dels.map(_.getAs[Long]("k")).toSeq.sorted}")
    assert(dels.forall(r => r.getAs[Long]("v") == r.getAs[Long]("k") * 3))
    assert(feed.count(_.getAs[String]("change_type") == "upsert") == 300)
  }

  test("streaming: initial load masks pending eq deletes; a LATER eq delete refuses") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 100).select($"id".as("k"), $"id".as("v")),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(0, 5).toDF("k"))
    val out = Files.createTempDirectory("graft-eqs").toString
    val ckpt = Files.createTempDirectory("graft-eqsc").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // initial load = the table's CURRENT live state: already-pending
    // keys are masked out (they were deleted before the stream began),
    // through the same broadcast-backed readers as batch scans
    run()
    val first = spark.read.parquet(out)
    assert(first.count() == 95)
    assert(first.filter($"k" < 5).count() == 0,
      "initial load must not emit equality-deleted rows")
    // but an eq delete landing AFTER rows were emitted is a real
    // deletion the append-only stream cannot propagate — refuse loudly
    // (same contract as a dv change) unless ignoreDeletes opts in
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(10, 15).toDF("k"))
    val ex = intercept[Exception](run())
    assert(ex.getMessage != null)
  }

  test("eq-CDC epoch is ONE commit: feed emits a coherent same-version change set") {
    // round-19 fusion pin: applyBatchEq publishes the key retire AND
    // the post-image append as a single version, the feed emits both
    // halves at that one version, and the same-version delete+upsert
    // pair is exactly the shape the apply collapse resolves
    def feedOf(rows: Seq[(Long, Long)], tpe: String, cv: Long) =
      rows.toDF("k", "v")
        .select($"k", $"v", lit(tpe).as("change_type"),
          lit(cv).as("commit_version"))
    val dir = freshDir()
    graft.streaming.ApplyChanges.applyBatchEq(
      feedOf((0L until 50L).map(i => (i, i)), "upsert", 1), dir, "k", Seq("k"))
    val v1 = SnapshotTable.latestVersion(spark, dir).get
    graft.streaming.ApplyChanges.applyBatchEq(
      feedOf(Seq((3L, 0L)), "delete", 2)
        .unionByName(feedOf(Seq((4L, 444L), (60L, 600L)), "upsert", 2)),
      dir, "k", Seq("k"))
    val v2 = SnapshotTable.latestVersion(spark, dir).get
    assert(v2 == v1 + 1,
      s"an eq-CDC epoch must publish exactly ONE version ($v1 -> $v2)")
    val feed = SnapshotTable.changes(spark, dir, v1, v2)
    // delete pre-images: the retired keys that had live images (3 and
    // 4's old row; 60 was never present)
    assert(feed.filter($"change_type" === "delete")
      .select($"k").as[Long].collect().toSet == Set(3L, 4L))
    // upsert post-images ride the SAME one-version diff
    assert(feed.filter($"change_type" === "upsert")
      .select($"k", $"v").as[(Long, Long)].collect().toSet ==
      Set((4L, 444L), (60L, 600L)))
    // and the applied content is right (4 updated, 3 gone, 60 new)
    assert(SnapshotTable.scan(spark, dir).count() == 50L)
    assert(SnapshotTable.scan(spark, dir).filter($"k" === 4L)
      .select($"v").as[Long].head() == 444L)
  }

  /** Just over half the read-time pending-key cap: two disjoint
    * sidecars of this size overflow it. */
  private val halfCap = (graft.sources.connector.SnapshotPartitions
    .MaxPendingKeys / 2 + 100000).toInt

  /** Hand-place an equality-delete sidecar of keys `k` in
    * [lo, lo + halfCap) under `dir`/data; returns its manifest path. */
  private def writeHalfCapSidecar(dir: String, name: String, lo: Long): String = {
    val tmp = Files.createTempDirectory("graft-eqcap").toString
    spark.range(lo, lo + halfCap).select($"id".as("k"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = f.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    f.rename(part, new org.apache.hadoop.fs.Path(dir, s"data/$name"))
    s"data/$name"
  }

  test("scan-time pending-key cap: overlapping refs fall back to the exact merged count") {
    // round-19 pin of the round-18 cap-semantics change: the cheap
    // re-check sums the refs' sizes (the bound attach-time enforcement
    // maintains), and a legacy/hand-built file whose refs OVERLAP —
    // sum over the cap, merged distinct under it — must fall back to
    // the exact merged count and still read, never newly refuse.
    val dir = freshDir()
    new java.io.File(dir, "data").mkdirs()
    val a = writeHalfCapSidecar(dir, "a-eq.parquet", 0L)
    // same keys, new uri
    val aCopy = writeHalfCapSidecar(dir, "acopy-eq.parquet", 0L)
    // disjoint keys
    val b = writeHalfCapSidecar(dir, "b-eq.parquet", halfCap.toLong)
    import graft.sources.SnapshotTable.FileEntry
    val EqSidecars = graft.sources.connector.SnapshotPartitions.EqSidecars
    // overlap-heavy: sum 2x over the cap, merged distinct under it —
    // must read (the old exact check accepted this layout; the cheap
    // sum alone would newly refuse it)
    val overlapping = FileEntry("data/f1.parquet", 10L, Map.empty,
      eqDv = Seq(a, aCopy))
    val bc = EqSidecars.broadcastFor(dir, Seq(overlapping))
    assert(bc.isDefined)
    bc.foreach(_.destroy())
    // genuinely over the cap: disjoint refs whose merged count exceeds
    // it still refuse loudly, with the fold remedy in the message
    val over = FileEntry("data/f2.parquet", 10L, Map.empty,
      eqDv = Seq(a, b))
    val ex2 = intercept[IllegalArgumentException](
      EqSidecars.broadcastFor(dir, Seq(over)))
    assert(ex2.getMessage.contains("purge_deletes"))
  }

  test("a file over the read-time cap still folds: purge reads it past the connector") {
    // hand-built (a legacy or external writer): one data file whose two
    // DISJOINT refs sum past the cap — the connector refuses to mask
    // it and names purge_deletes, so the fold must not read through
    // the connector
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).select(($"id" * 500000L).as("k"), $"id".as("v"))
        .coalesce(1),
      dir, "overwrite", Seq("k"))
    val v = SnapshotTable.latestVersion(spark, dir).get
    val fe = manifest(dir).files.head
    val refs = Seq(writeHalfCapSidecar(dir, "lo-eq.parquet", 0L),
      writeHalfCapSidecar(dir, "hi-eq.parquet", halfCap.toLong))
    graft.sources.SnapshotLog.commit(spark, dir, "delete-eq",
      Seq(fe.copy(eqDv = refs)), carry = false,
      schemaJson = Some(SnapshotTable.tableSchema(spark, dir, v).json))
    val ex = intercept[Exception](
      spark.read.format("graft_snapshot").load(dir).count())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("purge_deletes")))
    // keys 0, 500k and 1M fall in the first ref, 1.5M and 2M in the second
    val live = (5L until 10L).map(_ * 500000L)
    assert(SnapshotTable.scan(spark, dir).select($"k").as[Long].collect()
      .sorted.toSeq == live)
    SnapshotTable.purgeDeletes(spark, dir)
    assert(manifest(dir).files.forall(_.eqDv.isEmpty))
    assert(spark.read.format("graft_snapshot").load(dir).select($"k")
      .as[Long].collect().sorted.toSeq == live)
  }

  /** Spark jobs `body` launches, counted by a listener (the bus is
    * drained first, so earlier jobs' queued events are not counted). */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val drain = () => org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  private def rowsAndSum(dir: String): (Long, Long) =
    SnapshotTable.scan(spark, dir).agg(count(lit(1)), sum($"v"))
      .as[(Long, Long)].head()

  test("purge folds interleaved eq-delete epochs in a job count independent of N") {
    // each epoch appends a file, then deletes keys of the base files
    // and of that append: files accrue DIFFERENT ref sets, so the ref
    // groups (and the sum of their refs) grow with N. The fold reads
    // through the connector's in-reader mask — one scan, one key-set
    // broadcast — so its job count must not track the pending refs.
    def foldJobs(n: Int): Int = {
      val dir = freshDir()
      SnapshotTable.write(spark,
        spark.range(0, 6000).select(
          (($"id" * 2654435761L) % 6000).as("k"), $"id".as("v"))
          .repartition(3),
        dir, "overwrite", Seq("k"))
      (0 until n).foreach { i =>
        val lo = 10000L + i * 100
        SnapshotTable.write(spark,
          spark.range(lo, lo + 100).select($"id".as("k"), ($"id" * 3).as("v"))
            .coalesce(1),
          dir, "append", Seq("k"))
        SnapshotTable.deleteByKey(spark, dir, "k",
          spark.range(i * 40L, i * 40L + 30).union(spark.range(lo, lo + 5))
            .toDF("k"))
      }
      val groups = manifest(dir).files.map(_.eqDv.sorted).distinct.size
      assert(groups >= n, s"only $groups ref groups after $n epochs")
      val before = rowsAndSum(dir)
      val jobs = jobsOf(SnapshotTable.purgeDeletes(spark, dir, Seq("k")))
      assert(manifest(dir).files.forall(fe => fe.eqDv.isEmpty && fe.dv.isEmpty))
      assert(rowsAndSum(dir) == before)
      jobs
    }
    val two = foldJobs(2)
    val six = foldJobs(6)
    assert(two == six,
      s"purge launched $two jobs at N=2 but $six at N=6 — the fold's " +
        "cost tracks the pending refs again")
  }

  test("purge keeps Spark's file packing: many small eq-pending files fold into few") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 4800).select(
        (($"id" * 2654435761L) % 4800).as("k"), $"id".as("v"))
        .repartition(24),
      dir, "overwrite", Seq("k"))
    // keys spread over the whole domain: every file's range admits some
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(0, 4800, 48).toDF("k"))
    val pending = manifest(dir).files
    assert(pending.size == 24 && pending.forall(_.eqDv.nonEmpty))
    // the split count Spark's own file packing gives the replaced files
    val splits = spark.read
      .parquet(pending.map(fe => SnapshotTable.resolvePath(dir, fe.path)): _*)
      .rdd.getNumPartitions
    assert(splits < pending.size, s"$splits splits: nothing to pack")
    val before = rowsAndSum(dir)
    SnapshotTable.purgeDeletes(spark, dir)
    val written = manifest(dir).files
    assert(written.size <= pending.size && written.size <= splits,
      s"the fold wrote ${written.size} files for ${pending.size} inputs " +
        s"($splits splits) — one file per input, not Spark's packing")
    assert(written.forall(fe => fe.eqDv.isEmpty && fe.dv.isEmpty))
    assert(rowsAndSum(dir) == before)
  }

  test("compact over eq-pending files from several ref groups keeps the rows") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 3000).select(
        (($"id" * 2654435761L) % 3000).as("k"), $"id".as("v"))
        .repartition(3),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteByKey(spark, dir, "k", spark.range(0, 40).toDF("k"))
    SnapshotTable.write(spark,
      spark.range(5000, 5300).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartition(2),
      dir, "append", Seq("k"))
    // the base files carry both refs, the appended files only the
    // second; a deletion vector rides along on one base file
    SnapshotTable.deleteByKey(spark, dir, "k",
      spark.range(100, 140).union(spark.range(5000, 5010)).toDF("k"))
    SnapshotTable.deleteVectors(spark, dir, $"v" === 2999)
    val m = manifest(dir)
    assert(m.files.map(_.eqDv.sorted).distinct.size >= 2)
    val before = SnapshotTable.scan(spark, dir).as[(Long, Long)].collect().sorted
    assert(before.length == 3000 - 80 - 1 + 300 - 10)
    SnapshotTable.compact(spark, dir, smallRows = 10000L, targetRows = 10000L,
      statsCols = Seq("k"))
    val after = manifest(dir)
    assert(after.files.size < m.files.size)
    assert(after.files.forall(fe => fe.eqDv.isEmpty && fe.dv.isEmpty))
    assert(SnapshotTable.scan(spark, dir).as[(Long, Long)].collect().sorted
      .sameElements(before))
  }

  test("a refused eq-CDC epoch leaves the data directory as it found it") {
    // the key batch matches live rows (so the refusal comes after the
    // key sidecar is written) and the append's l_quantity is a string
    // on a bigint table, which only the commit's schema union refuses
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select($"id".as("l_orderkey"),
        ($"id" % 50).as("l_quantity")).repartition(4),
      dir, "overwrite", Seq("l_orderkey"))
    val before = dataFiles(dir).sorted
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.deleteByKeysWithAppend(spark, dir, Seq("l_orderkey"),
        spark.range(0, 10).toDF("l_orderkey"),
        spark.range(0, 10).select($"id".as("l_orderkey"),
          $"id".cast("string").as("l_quantity")))
    }
    assert(ex.getMessage.contains("l_quantity"), ex.getMessage)
    assert(dataFiles(dir).sorted == before)
    assert(SnapshotTable.latestVersion(spark, dir).contains(1L))
    assert(SnapshotTable.scan(spark, dir).count() == 1000L)
  }

  test("an eq-CDC epoch that loses a commit conflict re-stages its append and publishes it") {
    import java.util.concurrent.TimeUnit.SECONDS
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select($"id".as("k"), $"id".as("v")).coalesce(1),
      dir, "overwrite", Seq("k"))
    // the epoch's first key evaluation waits until a concurrent commit
    // has changed the one file its keys attach to
    val gate = udf((k: Long) => { EqualityDeleteSpec.gate(); k })
    val epoch = Future(SnapshotTable.deleteByKeysWithAppend(spark, dir, Seq("k"),
      spark.range(0, 10).select(gate($"id").as("k")),
      spark.range(5000, 5010).select($"id".as("k"), $"id".as("v"))))(ExecutionContext.global)
    assert(EqualityDeleteSpec.reached.await(60, SECONDS), "the epoch never evaluated its keys")
    assert(SnapshotTable.deleteVectors(spark, dir, $"k" === 500L) == 2L)
    EqualityDeleteSpec.go.countDown()
    assert(Await.result(epoch, 2.minutes) == 3L)
    val live = SnapshotTable.scan(spark, dir).select($"k").as[Long].collect().toSet
    assert(live == ((10L until 1000L).toSet - 500L) ++ (5000L until 5010L))
    // the lost attempt's key sidecar and staged append are gone: data/
    // holds exactly what the three versions reference
    val referenced = (1L to 3L).flatMap(v => SnapshotTable.readManifest(spark, dir, v)
      .files.flatMap(fe => fe.path +: (fe.dv.map(_.path).toSeq ++ fe.eqDv))).toSet
    assert(dataFiles(dir).map(n => s"data/$n").toSet == referenced)
  }
}

object EqualityDeleteSpec {
  /** A one-shot hold on the first call, released by the test thread. */
  val reached = new java.util.concurrent.CountDownLatch(1)
  val go = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
  def gate(): Unit =
    if (first.getAndSet(false)) {
      reached.countDown()
      go.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
}
