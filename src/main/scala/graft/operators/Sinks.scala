package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum, when, count => countAgg}

/** Sink operators (SURVEY §2.1 S4-S8, S10): the reference's
  * transactional full-refresh load re-expressed over parquet table
  * directories.
  *
  * Reference semantics (`etl/loader.py`):
  *  - S4  `load_to_cloud_sql` (`:15-96`): batched INSERT in one txn +
  *    read-back verification -> append write, its observed row count
  *    checked against the new files' parquet footers.
  *  - S6  `backup_table` (`:159-195`): `CREATE TABLE backup_<ts> AS
  *    SELECT *` -> byte-copy the table dir, published by one rename as
  *    `backup_<table>_<ts>`.
  *  - S5  `truncate_and_load` (`:197-238`): backup -> TRUNCATE ->
  *    insert -> verify; restore the backup on any failure.
  *  - S7  `restore_from_backup` (`:240-308`): newest `backup_%` by name
  *    (the reference's `ORDER BY table_name DESC LIMIT 1`, W2) ->
  *    truncate -> `INSERT SELECT` -> count equality check.
  *  - S8  `_cleanup_old_backups` (`:310-348`): keep the newest
  *    `maxBackups`, drop the rest.
  *
  * Only the load's write is a Spark job. Verification reads row counts
  * from parquet footers, backups and restores are file copies, and a
  * table is published by a pair of directory renames.
  * All paths go through the Hadoop FileSystem API, so the same code
  * runs against local disk in tests and HDFS on a cluster.
  */
object Sinks {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The parquet data files directly under `dir` (Spark names them
    * `part-*`), or none when `dir` does not exist. */
  private def partFiles(f: FileSystem, dir: Path): Seq[Path] =
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.startsWith("part-"))

  /** Rows in `files`, summed from their parquet footers in this JVM
    * (no Spark job; a truncated file fails to open). */
  private def footerRows(spark: SparkSession, files: Seq[Path]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Write `df` with `write`, counting its rows in flight; returns the
    * observed count. */
  private def observedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, countAgg(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** S4: append-load, verified: the rows the write observed must equal
    * the footer row counts of the files it added. Returns the number of
    * rows appended. */
  def appendLoad(spark: SparkSession, df: DataFrame, tableDir: String): Long = {
    val dir = new Path(tableDir)
    val f = fs(spark, dir)
    val before = partFiles(f, dir).toSet
    val n = observedWrite(df)(_.write.mode("append").parquet(tableDir))
    val written = footerRows(spark, partFiles(f, dir).filterNot(before))
    require(written == n,
      s"append to $tableDir verification failed: the new files hold $written rows, " +
        s"the write observed $n")
    n
  }

  private def backupName(table: String, ts: Long): String = f"backup_${table}_$ts%013d"

  /** `name` is [[backupName]] of `table` — not of a table whose name
    * only starts with `table`'s (`t` and `t_x` share a backup root). */
  private def isBackupOf(table: String, name: String): Boolean = {
    val ts = name.stripPrefix(s"backup_${table}_")
    ts != name && ts.length >= 13 && ts.forall(_.isDigit)
  }

  /** Backups of `table` under `backupRoot`, newest (by name) first —
    * names embed a zero-padded epoch so name order IS time order. An
    * unpublished copy (`.tmp-backup_…`) is never listed. */
  def listBackups(spark: SparkSession, backupRoot: String, table: String): Seq[String] =
    backupRootEntries(spark, backupRoot)
      .filter(isBackupOf(table, _))
      .sorted(Ordering[String].reverse)

  private def backupRootEntries(spark: SparkSession, backupRoot: String): Seq[String] = {
    val root = new Path(backupRoot)
    val f = fs(spark, root)
    if (!f.exists(root)) Nil else f.listStatus(root).toSeq.map(_.getPath.getName)
  }

  /** S6: byte-copy the current table into a timestamped backup. The
    * copy lands in `backupRoot/.tmp-<name>` and one rename publishes it,
    * so a crash mid-copy leaves nothing [[listBackups]] (and so a
    * restore) would pick; retention reclaims the leftover. A backup of
    * the same name is replaced. Returns the backup name, or None when
    * the table does not exist yet. */
  def backupTable(spark: SparkSession, tableDir: String, backupRoot: String,
                  table: String, nowEpoch: Long): Option[String] = {
    val src = new Path(tableDir)
    if (!fs(spark, src).exists(src)) return None
    val name = backupName(table, nowEpoch)
    val dst = new Path(backupRoot, name)
    val tmp = new Path(backupRoot, s".tmp-$name")
    val f = fs(spark, dst)
    f.delete(tmp, true)
    FileUtil.copy(fs(spark, src), src, f, tmp, false, spark.sparkContext.hadoopConfiguration)
    f.delete(dst, true)
    require(f.rename(tmp, dst), s"publish rename failed for backup $dst")
    Some(name)
  }

  /** S8: keep the newest `maxBackups` backups, delete the rest, and
    * reclaim unpublished copies of `table`'s backups. Returns the
    * deleted backup names. */
  def cleanupOldBackups(spark: SparkSession, backupRoot: String, table: String,
                        maxBackups: Int = 3): Seq[String] = {
    val stale = listBackups(spark, backupRoot, table).drop(maxBackups)
    val torn = backupRootEntries(spark, backupRoot)
      .filter(n => n.startsWith(".tmp-") && isBackupOf(table, n.stripPrefix(".tmp-")))
    (stale ++ torn).foreach { name =>
      val p = new Path(backupRoot, name)
      fs(spark, p).delete(p, true)
    }
    stale
  }

  /** Publish the directory `staging` as `table` with two renames: the
    * old table (if any) is retired to `retired`, then `staging` takes
    * its place. A failed commit rename rolls the old table back; the
    * retired copy is deleted once the new one is in place. */
  private def swap(f: FileSystem, staging: Path, table: Path, retired: Path): Unit = {
    val hadOld = f.exists(table)
    if (hadOld) require(f.rename(table, retired), s"retire rename failed for $table")
    try require(f.rename(staging, table), s"commit rename failed for $table")
    catch {
      case e: Throwable =>
        if (hadOld) f.rename(retired, table) // roll the old table back
        throw e
    }
    if (hadOld) f.delete(retired, true)
  }

  /** S7: restore the table from its newest backup. The backup is
    * byte-copied into a staging sibling of the table, the copy's footer
    * row count must equal the backup's, and the same rename pair as
    * the load publishes it, so a crash mid-restore leaves the current
    * table in place. Returns the restored row count. */
  def restoreFromBackup(spark: SparkSession, tableDir: String, backupRoot: String,
                        table: String): Long = {
    val latest = listBackups(spark, backupRoot, table).headOption.getOrElse(
      throw new IllegalStateException(s"no backup of $table under $backupRoot"))
    val backup = new Path(backupRoot, latest)
    val tablePath = new Path(tableDir)
    val f = fs(spark, tablePath)
    val staging = new Path(s"$tableDir.restoring_$latest")
    try {
      f.delete(staging, true)
      FileUtil.copy(fs(spark, backup), backup, f, staging, false,
        spark.sparkContext.hadoopConfiguration)
      val expected = footerRows(spark, partFiles(fs(spark, backup), backup))
      val restored = footerRows(spark, partFiles(f, staging))
      require(restored == expected,
        s"restore of $table from $latest row mismatch: $restored != $expected")
      swap(f, staging, tablePath, new Path(s"$tableDir.retired_$latest"))
      restored
    } catch {
      case e: Throwable =>
        f.delete(staging, true)
        throw e
    }
  }

  /** F-E (`etl/loader.py:29-34`): the load-time gate — drop rows whose
    * `gateCol` is null, counting the rejects *in-flight* with
    * `df.observe` (a CollectMetrics node below the filter) so the gate
    * adds zero extra passes over the data; the reference filters the
    * frame and logs the dropped count. Read `obs.get("rejected")` after
    * the load action completes. */
  def notNullLoadGate(df: DataFrame, gateCol: String, obs: Observation): DataFrame =
    df.observe(obs,
        sum(when(col(gateCol).isNull, 1L).otherwise(0L)).as("rejected"),
        countAgg(lit(1)).as("input_rows"))
      .filter(col(gateCol).isNotNull)

  /** S5 (+F-E): transactional full refresh — optional not-null load
    * gate, backup, staged write, verification, then an ATOMIC publish:
    * the new data is written to a staging directory and verified there,
    * and only then swapped into place with two filesystem renames
    * (metadata ops, no data copy). A crash anywhere before the swap
    * leaves the old table untouched and readable; the swap window itself
    * is two renames instead of `overwrite`'s whole delete-and-rewrite,
    * and a failed commit rename rolls the old directory back into place
    * (with the timestamped backup as the final remedy). Returns the
    * loaded row count.
    *
    * The write is the load's only Spark job, so the upstream pipeline
    * runs once per load. It counts its rows in flight (`observe`, after
    * the gate), and verification requires the staged files' parquet
    * footers to hold exactly that many rows: no cache, no count job, no
    * read-back. On an object store without atomic rename (S3), swap the
    * rename pair for a manifest commit (or a table format); the
    * staging/verify/publish protocol is unchanged.
    *
    * `commitHook` runs after verification, immediately before the
    * publish renames — test-only failure injection for the
    * crash-mid-load path (default no-op). */
  def truncateAndLoad(spark: SparkSession, df: DataFrame, tableDir: String,
                      backupRoot: String, table: String, nowEpoch: Long,
                      maxBackups: Int = 3, gateCol: Option[String] = None,
                      gateObs: Option[Observation] = None,
                      commitHook: () => Unit = () => ()): Long = {
    val gated = gateCol match {
      case Some(c) => notNullLoadGate(df, c, gateObs.getOrElse(Observation()))
      case None => df
    }
    val backup = backupTable(spark, tableDir, backupRoot, table, nowEpoch)
    val tablePath = new Path(tableDir)
    val f = fs(spark, tablePath)
    val staging = new Path(s"$tableDir.staging_$nowEpoch")
    try {
      val expected = observedWrite(gated)(_.write.mode("overwrite").parquet(staging.toString))
      val loaded = footerRows(spark, partFiles(f, staging))
      require(loaded == expected,
        s"load verification failed for $table: $loaded != $expected")
      commitHook()
      swap(f, staging, tablePath, new Path(s"$tableDir.retired_$nowEpoch"))
      cleanupOldBackups(spark, backupRoot, table, maxBackups)
      loaded
    } catch {
      case e: Throwable =>
        f.delete(staging, true)
        // before the publish the old table was never touched; if both
        // renames failed mid-swap the timestamped backup is the remedy
        if (!f.exists(tablePath) && backup.isDefined)
          restoreFromBackup(spark, tableDir, backupRoot, table)
        throw e
    }
  }
}
