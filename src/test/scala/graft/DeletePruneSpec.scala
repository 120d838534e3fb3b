package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Metadata-only deletes: a DELETE whose per-file (min,max) stats
  * PROVE every row of a file matches drops the file from the manifest
  * whole — no scan, no sidecar — and files the stats refute skip the
  * scan; only boundary files pay the deletion-vector path. The
  * retention-delete cost class at 100 TB. */
class DeletePruneSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-dprune").toString

  private def load(dir: String): DataFrame =
    spark.read.format("graft_snapshot").load(dir)

  /** 8 range-clustered files over ids [0, 800), NON-NULLABLE id. */
  private def build(dir: String): Unit =
    SnapshotTable.write(spark,
      spark.range(0, 800).select($"id", ($"id" * 3).as("v"))
        .repartitionByRange(8, $"id"),
      dir, "overwrite", Seq("id"))

  private def manifest(dir: String) =
    SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)

  test("aligned DELETE is pure metadata: files dropped, zero dv rows") {
    val dir = freshDir()
    build(dir)
    val before = manifest(dir)
    // [0,800) in 8 range files → `id < 400` covers the low half whole
    SnapshotTable.deleteVectors(spark, dir, $"id" < 400)
    val after = manifest(dir)
    assert(after.op == "delete-prune") // no sidecar commit happened
    assert(after.files.forall(_.dv.isEmpty))
    assert(after.files.size < before.files.size)
    assert(after.files.map(_.rows).sum == 400)
    assert(load(dir).agg(min($"id"), count(lit(1))).as[(Long, Long)].head ==
      ((400L, 400L)))
    // untouched files are the SAME entries (no rewrite, no re-stats)
    val keptPaths = after.files.map(_.path).toSet
    assert(before.files.filter(fe => keptPaths.contains(fe.path))
      .toSet == after.files.toSet)
    // time travel to the pre-delete version still reads everything
    assert(SnapshotTable.scan(spark, dir, Some(1)).count() == 800)
  }

  test("misaligned DELETE pays dv only at the boundary") {
    val dir = freshDir()
    build(dir)
    val before = manifest(dir)
    SnapshotTable.deleteVectors(spark, dir, $"id" <= 430)
    val after = manifest(dir)
    assert(after.op == "delete-dv")
    // whole low files dropped; of the kept files, only the boundary
    // file(s) straddling 430 carry a vector
    val dvd = after.files.filter(_.dv.isDefined)
    assert(dvd.nonEmpty && dvd.forall(fe =>
      fe.stats("id")._1 <= 430 && fe.stats("id")._2 > 430))
    assert(after.files.map(_.liveRows).sum == 800 - 431)
    assert(load(dir).count() == 800 - 431)
    assert(load(dir).filter($"id" <= 430).count() == 0)
    // dv rows == only the boundary files' matched rows, not the
    // dropped span (which left as whole files)
    val dvRows = after.files.flatMap(_.dv.map(_.rows)).sum
    assert(dvRows < before.files.map(_.rows).min * 2,
      s"boundary dv unexpectedly large: $dvRows rows")
  }

  test("a file carrying nulls is never dropped whole") {
    val dir = freshDir()
    // ids < 100 become NULL: after range-clustering on k they land in
    // one file with NO stats for k (all-null) — a DELETE k < 400 must
    // keep every null row (predicate evaluates to NULL), so that file
    // survives while the proven files [100,400) drop whole
    SnapshotTable.write(spark,
      spark.range(0, 800)
        .select(when($"id" < 100, lit(null)).otherwise($"id").as("k"),
          ($"id" * 3).as("v"))
        .repartitionByRange(8, $"k"),
      dir, "overwrite", Seq("k"))
    SnapshotTable.deleteVectors(spark, dir, $"k" < 400)
    val after = manifest(dir)
    assert(after.op == "delete-prune") // null file refutes nothing, but
    // matches nothing either: the scan finds zero rows, no dv commits
    assert(after.files.forall(_.dv.isEmpty))
    assert(load(dir).count() == 500) // 100 nulls + [400, 800)
    assert(load(dir).filter($"k".isNull).count() == 100)
  }

  test("conjunctions, disjunctions, and refuted files") {
    val dir = freshDir()
    build(dir)
    // OR of two aligned spans drops both; AND narrows to their overlap
    SnapshotTable.deleteVectors(spark, dir,
      ($"id" < 100) || ($"id" >= 700 && $"id" < 800))
    val after = manifest(dir)
    assert(after.op == "delete-prune")
    assert(load(dir).count() == 600)
    assert(load(dir).agg(min($"id"), max($"id")).as[(Long, Long)].head ==
      ((100L, 699L)))
    // a predicate every file refutes is a no-op commit-wise
    val v = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.deleteVectors(spark, dir, $"id" >= 5000)
    assert(SnapshotTable.latestVersion(spark, dir).get == v)
  }

  test("point deletes: IN-lists refute by range, string keys by bloom") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 800)
        .select($"id", concat(lit("k"), $"id").as("key"), ($"id" * 3).as("v"))
        .repartitionByRange(8, $"id"),
      dir, "overwrite", Seq("id"), bloomCols = Seq("key"))
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    // GDPR-takedown shape: two ids in two different files — only those
    // two files (200 rows) may be scanned, the other 6 are refuted
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.deleteVectors(spark, dir, $"id".isin(5L, 705L))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
        spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead.get() < 400,
      s"IN-delete read ${recordsRead.get()} records — range refutation " +
        "is not limiting the scan")
    assert(load(dir).count() == 798)
    // string point delete: the BLOOM refutes the 7 files that cannot
    // contain 'k300' (modulo false positives, each a 100-row file)
    recordsRead.set(0)
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.deleteVectors(spark, dir, $"key" === "k300")
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
        spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead.get() < 400,
      s"string point delete read ${recordsRead.get()} records — bloom " +
        "refutation is not limiting the scan")
    assert(load(dir).count() == 797)
    assert(load(dir).filter($"key" === "k300").count() == 0)
  }

  test("NOT inverts soundly under three-valued logic") {
    val dir = freshDir()
    build(dir)
    // NOT(id < 100): the [0,99] file PROVES id < 100 for every row, so
    // NOT refutes it — it must survive untouched; everything else goes
    SnapshotTable.deleteVectors(spark, dir, !($"id" < 100))
    assert(load(dir).count() == 100)
    assert(load(dir).agg(max($"id")).as[Long].head == 99)
    val after = manifest(dir)
    // the refuted file was not scanned into the vector
    assert(after.files.find(_.stats("id")._2 == 99).exists(_.dv.isEmpty))
  }

  test("UPDATE scans only stats-candidate files") {
    val dir = freshDir()
    build(dir) // 8 range files x 100 rows
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotTable.updateVectors(spark, dir, $"id" >= 700,
        Seq("v" -> lit(-1L)), Seq("id"))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
        spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // one candidate file (100 rows) is read by the match scan AND the
    // post-image pass (+ staged-stats re-read); an unpruned UPDATE
    // reads all 800 twice
    assert(recordsRead.get() < 800,
      s"UPDATE read ${recordsRead.get()} records — stats refutation " +
        "is not limiting the scans")
    assert(load(dir).filter($"v" === -1L).count() == 100)
    assert(load(dir).count() == 800)
    assert(load(dir).filter($"id" < 700 && $"v" =!= $"id" * 3).count() == 0)
  }

  test("SQL DELETE routes through the prune; change feed replays the rows") {
    val root = Files.createTempDirectory("graft-dpcat").toString
    spark.conf.set("spark.sql.catalog.graftdp",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdp.root", root)
    spark.sql("CREATE TABLE graftdp.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (k) " + // identity layout → clusterBy + stats on k
      "TBLPROPERTIES ('clusterPartitions'='8')")
    spark.sql("INSERT INTO graftdp.t SELECT id, id * 7 FROM range(0, 800)")
    spark.sql("DELETE FROM graftdp.t WHERE k < 400")
    val m = manifest(s"$root/t")
    assert(m.op == "delete-prune", s"got op ${m.op}")
    assert(m.files.forall(_.dv.isEmpty))
    assert(spark.sql("SELECT count(*) FROM graftdp.t").as[Long].head == 400)
    // the change feed replays the dropped files' rows as deletes
    val feed = spark.sql(
      s"SELECT change_type, count(*) AS n FROM graftdp.t.changes " +
        s"WHERE commit_version = ${m.version} GROUP BY change_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("delete" -> 400L))
  }
}
