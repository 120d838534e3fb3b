package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.{MergeInsertClause, MergeRowAction, MergeWhenClause}

/** Applies one micro-batch of a CHANGE FEED (rows shaped
  * `table columns + change_type + commit_version`, as the
  * `readChangeFeed` stream / `cat.ns.t.changes` table emit) to a
  * downstream snapshot table — the consumer half of CDC, the
  * "apply changes into" primitive:
  *
  * {{{
  *   spark.readStream.format("graft_snapshot")
  *     .option("readChangeFeed", "true").load(srcDir)
  *     .writeStream
  *     .foreachBatch((b: DataFrame, _: Long) =>
  *       ApplyChanges.applyBatch(b, tgtDir, "id"))
  *     .option("checkpointLocation", ckpt).start()
  * }}}
  *
  * Semantics (Delta's APPLY CHANGES recipe):
  *
  *  1. '''Latest action per key wins.''' A batch may span several
  *     source versions, so one key can carry a whole history
  *     (upsert at v3, delete at v5). Only the newest action by
  *     `commit_version` applies; within ONE version an UPDATE arrives
  *     as a delete+upsert PAIR, and the post-image upsert must win
  *     over its own pre-image delete.
  *  2. '''One distributed merge applies everything.''' The collapsed
  *     action frame drives a single [[SnapshotTable.mergeClauses]]
  *     call — matched deletes land in the deletion vector, matched
  *     upserts rewrite, unmatched upserts insert, unmatched deletes
  *     no-op — O(affected) rows, one commit per batch, never a
  *     per-key driver loop. Exactly-once rides the stream checkpoint:
  *     a replayed batch recomputes the same collapsed actions and the
  *     merge is idempotent (same post-images, same delete set).
  */
object ApplyChanges {

  /** Apply one feed batch to the snapshot table at `dir`, keyed by
    * `key` (a unique key column of the table). */
  def applyBatch(batch: DataFrame, dir: String, key: String,
                 statsCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val tableCols = batch.columns.toSeq
      .filterNot(Set("change_type", "commit_version"))
    require(tableCols.contains(key),
      s"key column '$key' is not in the feed (${batch.columns.mkString(", ")})")
    // newest action per key; an update's same-version pre-image delete
    // loses to its post-image upsert
    val w = Window.partitionBy(col(key))
      .orderBy(col("commit_version").desc,
        when(col("change_type") === "upsert", 0).otherwise(1))
    // cached: the collapse is a shuffle + window over the batch, and
    // everything below (emptiness probe, merge source, bootstrap
    // write) derives from it — without the cache each derived action
    // re-runs the window (round-18, guide §5: a bounded micro-batch
    // intermediate reused 2-3×)
    val collapsed = batch
      .withColumn("__cdc_rn", row_number().over(w))
      .filter(col("__cdc_rn") === 1)
      .cache()
    try {
      // bootstrap: the downstream table does not exist yet — the first
      // batch's surviving upserts ARE the initial snapshot (deletes of
      // never-seen keys no-op by definition)
      if (SnapshotTable.latestVersion(spark, dir).isEmpty) {
        val initial = collapsed.filter(col("change_type") === "upsert")
          .select(tableCols.map(c => col(s"`$c`")): _*)
        SnapshotTable.write(spark, initial, dir, "overwrite", statsCols)
        return
      }
      // source columns are renamed out of the target's namespace (the
      // merge joins target and source into one frame)
      val latest = collapsed
        .select(col("change_type").as("_cdc_change") +:
          tableCols.map(c => col(s"`$c`").as(s"_src_$c")): _*)
      if (latest.isEmpty) return
      SnapshotTable.mergeClauses(spark, dir, latest,
        keyCol = key, sourceKey = col(s"_src_$key"),
        matched = Seq(
          MergeWhenClause(Some(col("_cdc_change") === "delete"),
            MergeRowAction.Delete),
          MergeWhenClause(None, MergeRowAction.Update(
            tableCols.map(c => c -> col(s"_src_$c"))))),
        notMatched = Seq(
          MergeInsertClause(Some(col("_cdc_change") === "upsert"),
            tableCols.map(c => c -> col(s"_src_$c")))),
        statsCols = statsCols)
    } finally collapsed.unpersist()
  }

  /** [[applyBatch]]'s EQUALITY-DELETE twin — the Iceberg
    * "equality delete + data file" CDC recipe, for targets whose key
    * the zone maps cannot prune (unclustered keys, random-hash ids):
    * where the merge path pays a (stats-pruned) MATCH SCAN per batch
    * to find the replaced rows' positions, this path never reads the
    * target at all. Each batch is ONE fused O(batch) commit
    * ([[SnapshotTable.deleteByKeysWithAppend]], round-19 — previously
    * two, and the per-epoch commit round trips were the measured
    * serial floor of the whole path):
    *
    *  1. ONE equality delete retiring every affected key (upserts
    *     retire their old image, deletes retire outright) — a tiny
    *     key sidecar plus manifest refs, zero data reads;
    *  2. the surviving upserts' post-images append IN THE SAME
    *     commit — the refs attach to the pre-epoch manifest only, so
    *     an epoch never masks its own appends (the old sequencing,
    *     now atomic).
    *
    * Content-idempotent under replay (a replayed batch re-masks and
    * re-appends the same post-images — the extra bytes are masked
    * garbage, not duplicates); the old two-commit crash window
    * (delete published, append lost until replay) is gone outright
    * with the fusion. Pending refs
    * accumulate per epoch until `purge_deletes`/`compact`/`maintain`
    * folds them; run the fold on a maintenance cadence — the
    * `eq_delete` entries of SCALE_r15/r16.json price both sides of the
    * trade, and etlbench's `cdc_epochs` folds every 10th epoch. */
  def applyBatchEq(batch: DataFrame, dir: String, key: String,
                   statsCols: Seq[String] = Nil): Unit =
    applyBatchEqKeys(batch, dir, Seq(key), statsCols)

  /** [[applyBatchEq]] over a COMPOSITE business key — the common real
    * CDC shape ((tenant, entity), (order, line), …): the per-batch
    * equality delete carries the whole key TUPLE
    * ([[SnapshotTable.deleteByKeys]] — one N-column sidecar, tuple
    * masking at read), and the newest-action collapse windows over
    * all key columns. Same O(batch) cost class and replay
    * idempotence as the single-key form. */
  def applyBatchEqKeys(batch: DataFrame, dir: String, keys: Seq[String],
                       statsCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val tableCols = batch.columns.toSeq
      .filterNot(Set("change_type", "commit_version"))
    keys.foreach(k => require(tableCols.contains(k),
      s"key column '$k' is not in the feed (${batch.columns.mkString(", ")})"))
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")): _*)
      .orderBy(col("commit_version").desc,
        when(col("change_type") === "upsert", 0).otherwise(1))
    // cached: the delete's key frame, the upserts' append, and the
    // emptiness probes all derive from this one shuffle + window over
    // the batch — without the cache the collapse re-runs ~4× per
    // epoch (round-18, guide §5)
    val collapsed = batch
      .withColumn("__cdc_rn", row_number().over(w))
      .filter(col("__cdc_rn") === 1)
      .cache()
    try {
      if (SnapshotTable.latestVersion(spark, dir).isEmpty) {
        val initial = collapsed.filter(col("change_type") === "upsert")
          .select(tableCols.map(c => col(s"`$c`")): _*)
        SnapshotTable.write(spark, initial, dir, "overwrite", statsCols)
        return
      }
      // ONE fused commit per epoch (round-19, guide §1.2): the key
      // retire and the post-image append publish atomically —
      // deleteByKeysWithAppend stages the upserts, attaches the refs
      // to the pre-epoch manifest, and commits once, halving the
      // per-epoch commit round trips that were the measured serial
      // floor on this path (and closing the old two-commit crash
      // window for free). No emptiness probes on either half
      // (round-18): an empty key batch or an empty upsert set each
      // answer themselves inside the one call.
      SnapshotTable.deleteByKeysWithAppend(spark, dir, keys,
        collapsed.select(keys.map(k => col(s"`$k`")): _*),
        collapsed.filter(col("change_type") === "upsert")
          .select(tableCols.map(c => col(s"`$c`")): _*),
        statsCols)
    } finally collapsed.unpersist()
  }
}
