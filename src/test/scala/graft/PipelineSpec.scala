package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Cleaners, Dedupe, UnifiedJoin}

/** E2E fixture tests for the unifier semantics the SURVEY watch-list
  * flags: empty-key matching, join multiplicity, F-D filter, and the
  * keep-latest dedup interaction. */
class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private def colaFixture: DataFrame = Seq(
    // (fn1, date, retdate, price, ctime)
    ("CI073", "2024-01-05 08:30:00", "2024-01-12 20:15:00", 100L, 1.0),
    ("CI073", "2024-01-05 08:30:00", "2024-01-12 20:15:00", 100L, 2.0), // dup payload, newer
    ("BR999", "2024-01-06 09:00:00", "2024-01-13 21:00:00", 300L, 3.0), // no competitor
    ("", "2024-01-07 10:00:00", "2024-01-14 22:00:00", 400L, 4.0)) // empty key leg
    .toDF("去程航班編號1", "去程起飛時間1", "回程起飛時間1", "基礎票價", "建立時間raw")
    .withColumn("建立時間", col("建立時間raw")).drop("建立時間raw")
    .withColumn("總售價", col("基礎票價") + 10)
    .withColumn("稅金", lit(7L))
    .withColumn("GDS Type", lit("AMADEUS"))
    .withColumn("票型", lit("票面"))
    .withColumn("公式類型", lit("R1"))
    .withColumn("票價加價成數", lit(5L))
    .withColumn("稅金加價成數", lit(3L))
    .withColumn("折扣", lit(0L))
    .withColumn("固定金額", lit(100L))

  private def setFixture: DataFrame = Seq(
    ("ci 73", "2024-01-05", "2024-01-12", 90L, 9L), // joins CI073 (tight normalize + F10)
    ("", "2024-01-07", "2024-01-14", 80L, 8L), // joins the empty-key cola row
    ("", "2024-01-07", "2024-01-14", 85L, 8L)) // second match -> multiplicity
    .toDF("去程航班編號1", "去程日期", "回程日期", "票面價格", "稅金")

  private def emptyCompetitor: DataFrame =
    Seq.empty[(String, String, String, Option[Long], Option[Long])]
      .toDF("去程航班編號1", "去程日期", "回程日期", "票面價格", "稅金")

  private def unified: DataFrame = {
    val cola = Cleaners.cleanCola(colaFixture)
    val set = Cleaners.cleanCompetitor(setFixture, "settour_air_tickets_price", "settour_tax")
    val none = Cleaners.cleanCompetitor(emptyCompetitor, "x_p", "x_t")
    UnifiedJoin.unify(cola, set,
      Cleaners.cleanCompetitor(emptyCompetitor, "lion_air_tickets_price", "lion_tax"),
      Cleaners.cleanCompetitor(emptyCompetitor, "eztravel_ticket_air_tickets_price", "eztravel_tax"),
      Cleaners.cleanCompetitor(emptyCompetitor, "foreign_supplier_eztraval_ticket_air_tickets_price", "foreign_supplier_eztraval_tax"),
      Cleaners.cleanCompetitor(emptyCompetitor, "rich_mond_air_tickets_price", "rich_mond_tax"))
  }

  test("unify: empty keys match empty keys, F-D drops no-competitor rows, multiplicity preserved") {
    val out = unified.cache()
    // BR999 has no competitor tax anywhere -> dropped by F-D
    assert(out.filter($"departure_flight_number_1" === "BR999").count() == 0)
    // CI073 rows joined the padded 'ci 73' set row
    val ci = out.filter($"departure_flight_number_1" === "CI073")
    assert(ci.count() == 2) // two cola rows (different creation_time)
    assert(ci.select("settour_air_tickets_price").distinct().collect()(0).getLong(0) == 90L)
    // empty-key cola row matched BOTH empty-key set rows (pandas '' == '')
    val empty = out.filter($"departure_flight_number_1".isNull)
    assert(empty.count() == 2)
    assert(empty.select("settour_air_tickets_price").collect().map(_.getLong(0)).toSet ==
      Set(80L, 85L))
    // full wide projection: 94 output columns
    assert(out.columns.length == 94)
    out.unpersist()
  }

  test("dedup after unify keeps the newest identical payload") {
    val deduped = Dedupe.keepLatestAllCols(unified, "creation_time")
    val ci = deduped.filter($"departure_flight_number_1" === "CI073")
    assert(ci.count() == 1)
    assert(ci.select("creation_time").collect()(0).getDouble(0) == 2.0)
  }

  test("building FlightPipeline.run starts at most one Spark job") {
    val sfDir = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    spark.range(0, 400).select(
        ($"id" / 4).cast("long").as("l_orderkey"), ($"id" % 4 + 1).as("l_linenumber"),
        ($"id" * 7 % 1000).as("l_partkey"), ($"id" * 3 % 100).as("l_suppkey"),
        ($"id" * 1.5 + 100).as("l_extendedprice"), lit(0.05).as("l_tax"),
        date_add(lit("2024-01-01").cast("date"), ($"id" % 300).cast("int"))
          .as("l_shipdate"))
      .repartition(4).write.parquet(s"$sfDir/lineitem.parquet")
    // four files on four cores: the plain (unstaged, unmemoized) read
    assert(spark.read.parquet(s"$sfDir/lineitem.parquet").rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism)
    val drain = () => org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    val out =
      try { val df = graft.FlightPipeline.run(spark, sfDir); drain(); df }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 1, s"building the plan ran ${jobs.get()} jobs")
    assert(out.columns.length == 94)
    assert(out.count() > 0)
  }

  test("projection derives airline/date/transfer fields") {
    val row = unified.filter($"departure_flight_number_1" === "CI073")
      .select("departure_airline_1", "departure_date", "return_date",
        "departure_transfer_count", "gds_type", "kp")
      .collect()(0)
    assert(row.getString(0) == "CI")
    assert(row.getString(1) == "2024/01/05")
    assert(row.getString(2) == "2024/01/12")
    assert(row.getInt(3) == 0)
    assert(row.getString(4) == "AMADEUS")
    assert(row.get(5) == null) // KP filled "" then blank-scrubbed to null
  }
}
