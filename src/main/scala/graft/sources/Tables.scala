package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-data table access (S1-S3). Each table is one parquet file under
  * the scale-factor dir; Spark's vectorized parquet reader + Catalyst
  * pushdown make `scanFiltered` the analogue of the reference's
  * server-side `SELECT DISTINCT … WHERE …` (`etl/extractor.py:42-58`):
  * predicates and column pruning reach the scan, DISTINCT becomes a
  * partial/final hash aggregate.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        // events.ts as parquet TIMESTAMP(NANOS): Spark reads long nanos
        // (spark.sql.legacy.parquet.nanosAsLong) — floor-divide to a
        // microsecond timestamp, matching DuckDB's ns->us truncation.
        case org.apache.spark.sql.types.LongType if f.name == "ts" =>
          d.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        // Naive parquet timestamps (isAdjustedToUTC=false) infer as
        // TIMESTAMP_NTZ under Spark 4. Every downstream operator and
        // every DuckDB oracle treats wall-clock == UTC instant (all
        // sessions pin spark.sql.session.timeZone=UTC), so normalize
        // to the instant type here rather than forking each query on
        // the writer's annotation.
        case org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name,
            col(f.name).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
  }

  private val staged =
    scala.collection.concurrent.TrieMap[(String, String, String), DataFrame]()

  /** Table read for expression-heavy pipelines.
    *
    * The local fixtures are single-row-group parquet files, so a scan —
    * and everything Catalyst pushes down into its stage (the filters
    * over regexp/normalize-derived columns this engine is made of) —
    * would run on one core. At production scale a table has >= cores
    * row groups and this returns the plain scan; below that threshold
    * the table is re-laid-out ONCE per session into a `target`-file
    * parquet copy under the JVM temp dir (the same class of scratch
    * I/O as shuffle spill), so every later scan of it parallelizes,
    * pushdown included. Hash-repartition, not round-robin: round-robin
    * locally sorts the whole frame first (sortBeforeRepartition).
    *
    * The memo is consulted before the source is read, so a staged table
    * costs no schema inference on later calls. Only staged copies are
    * memoized: a plain scan caches its file listing, and a later call
    * must see files added to the source since.
    */
  def computeTable(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark.sparkContext.applicationId, sfDir, name)
    staged.getOrElse(key, {
      val df = table(spark, sfDir, name)
      val target = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else staged.getOrElseUpdate(key, {
        val dir = new java.io.File(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft-staged/${spark.sparkContext.applicationId}/" +
            s"${new java.io.File(sfDir).getName}-$name").getAbsolutePath
        df.repartition(target, xxhash64(df.columns.toIndexedSeq.map(col): _*))
          .write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      })
    })
  }

  /** S1: filtered + DISTINCT scan. */
  def scanFiltered(spark: SparkSession, sfDir: String, name: String,
                   predicate: org.apache.spark.sql.Column, distinct: Boolean = true): DataFrame = {
    val base = table(spark, sfDir, name).filter(predicate)
    if (distinct) base.distinct() else base
  }

  /** S2: deterministic watermark literal (the reference embeds
    * `now - 12h` as an epoch literal in the scan predicate,
    * `etl/extractor.py:8-17`; tests parameterize the "now"). */
  def watermarkPredicate(tsCol: String, nowEpoch: Long, lookbackHours: Int = 12): org.apache.spark.sql.Column =
    col(tsCol) > to_timestamp(lit(nowEpoch - lookbackHours * 3600L))
}
