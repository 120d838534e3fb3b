package graft

import org.apache.spark.sql.SparkSession

/** Builds every local session: the test suite and the dev mains
  * ([[ScaleBench]], [[ProfileQuery]], [[PlanDump]]) all start here.
  * [[Bench]] and [[Verify]] build their own on purpose — their output
  * is the bench and oracle contract, so they stay byte-identical.
  *
  * Every session gets `local[cores]` with one shuffle partition per
  * core, UTC, long-nanos parquet timestamps (`events.parquet` needs
  * them, see `sources.Tables`), the graft SQL extensions, no UI, WARN
  * logging and a fresh temp warehouse dir (catalog-table data never
  * lands in the working tree). */
object GraftSession {

  /** Bench's broadcast-join thresholds. A dev main that wants Bench's
    * plans sets these on the session it got from [[local]]. */
  val BenchJoinConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "64m")

  /** `SPARK_GRAFT_CPUS`, else every core of this machine — the core
    * count the dev mains pass to [[local]]. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
