package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic raw flight-price sources synthesized from the testdata
  * `lineitem` table — one frame per reference source, with the raw
  * Chinese column names the per-source cleaners expect (SURVEY §1.2).
  *
  * Purpose: drive the full E1/E2 pipeline (clean ×6 -> 14-key unified
  * join -> wide projection -> dedup) over driver-controlled inputs whose
  * expected output is independently expressible in DuckDB SQL. The
  * synthesis injects exactly the messiness the cleaners must handle:
  * internal whitespace and casing in flight numbers, unpadded 2-digit
  * tails, raw datetime strings, invalid flight codes (dropped by F-C),
  * absent key columns (null-padded by P3), and luggage/duration strings.
  *
  * Every source is a projection of one `lineitem` frame the caller
  * reads once ([[graft.FlightPipeline.run]]), so a refresh pays one
  * source read, not one per source.
  */
object FlightSynth {

  // shared key ingredients (cola and competitors must agree post-cleaning)
  private def dep1 = concat(lit("CI"), (col("l_partkey") % 900 + 100).cast("string"))
  private def ret1 = concat(lit("BR"), (col("l_suppkey") % 900 + 100).cast("string"))
  private def cab1 = when(col("l_partkey") % 2 === 0, "Y").otherwise("J 1")
  private def cab2 = when(col("l_orderkey") % 3 === 0, "K").otherwise("")
  private def depDateIso = date_format(col("l_shipdate"), "yyyy-MM-dd")
  private def retDateIso = date_format(date_add(col("l_shipdate"), 7), "yyyy-MM-dd")

  /** Primary source (raw cola vocabulary, `cola_transformer.py:121-168`). */
  def cola(lineitem: DataFrame): DataFrame =
    lineitem.select(
      dep1.as("去程航班編號1"),
      // internal space + unpadded handled by J2's whitespace strip; the
      // zero pad is pre-applied here because cola (unlike competitors)
      // has no F10 stage — its source data arrives padded.
      when(col("l_orderkey") % 3 === 0,
        concat(lit("BR 0"), (col("l_partkey") % 90 + 10).cast("string")))
        .otherwise(lit("")).as("去程航班編號2"),
      lit("").as("去程航班編號3"),
      cab1.as("去程艙等與艙等編碼1"),
      cab2.as("去程艙等與艙等編碼2"),
      lit("").as("去程艙等與艙等編碼3"),
      ret1.as("回程航班編號1"),
      lit("").as("回程航班編號2"),
      lit("").as("回程航班編號3"),
      lit("Y").as("回程艙等與艙等編碼1"),
      lit("").as("回程艙等與艙等編碼2"),
      lit("").as("回程艙等與艙等編碼3"),
      concat(depDateIso, lit(" 08:30:00")).as("去程起飛時間1"),
      lit("12:45").as("去程降落時間1"),
      concat(retDateIso, lit(" 20:15:00")).as("回程起飛時間1"),
      lit("23:55").as("回程降落時間1"),
      lit("TPE 桃園國際機場").as("去程起飛機場1"),
      lit("NRT 成田機場").as("去程降落機場1"),
      lit("NRT 成田機場").as("回程起飛機場1"),
      lit("TPE 桃園國際機場").as("回程降落機場1"),
      when(col("l_partkey") % 2 === 0, "A350-900").otherwise("B777-300ER")
        .as("去程飛機公司及型號1"),
      lit("A321neo").as("回程飛機公司及型號1"),
      lit("0 days 04:15:00").as("去程飛行時間1"),
      lit("03:40:45").as("回程飛行時間1"),
      when(col("l_partkey") % 3 === 0, "25 公斤")
        .when(col("l_partkey") % 3 === 1, "30公斤")
        .otherwise("2 件").as("去程行李1"),
      lit("1件").as("回程行李1"),
      floor(col("l_extendedprice")).as("基礎票價"),
      lit(5L).as("票價加價成數"),
      floor(col("l_extendedprice") * col("l_tax")).as("稅金"),
      lit(3L).as("稅金加價成數"),
      (floor(col("l_extendedprice")) + floor(col("l_extendedprice") * col("l_tax")))
        .as("總售價"),
      lit("票面").as("票型"),
      lit("R1").as("公式類型"),
      when(col("l_orderkey") % 2 === 0, "AMADEUS").otherwise("SABRE").as("GDS Type"),
      lit("").as("折讓百分比"),
      (lit(1700000000L) + col("l_orderkey") * 10 + col("l_linenumber"))
        .cast("double").as("建立時間"),
      lit(0L).as("折扣"),
      lit(100L).as("固定金額"))

  /** One competitor source (raw set/lion/eztravel/rich vocabulary,
    * `set_transformer.py:28-58`). `keyFilter` selects the membership
    * subset; `priceFactor`/`taxFactor` differentiate supplier pricing;
    * `invalidEvery` (when > 0) poisons `去程航班編號1` on matching rows
    * so F-C provably drops them. Leg-3 columns are deliberately absent —
    * P3 must null-pad them. */
  def competitor(lineitem: DataFrame, keyFilter: Column,
                 priceFactor: Double, taxFactor: Double,
                 invalidEvery: Int = 0): DataFrame = {
    val fn1 =
      if (invalidEvery > 0)
        when(col("l_orderkey") % invalidEvery === 0, lit("BAD*1")).otherwise(dep1)
      else dep1
    lineitem.filter(keyFilter).select(
      depDateIso.as("去程日期"),
      retDateIso.as("回程日期"),
      fn1.as("去程航班編號1"),
      when(col("l_orderkey") % 3 === 0,
        concat(lit("br"), (col("l_partkey") % 90 + 10).cast("string")))
        .otherwise(lit("")).as("去程航班編號2"), // unpadded + lowercase -> F10
      cab1.as("去程艙等1"),
      cab2.as("去程艙等2"),
      ret1.as("回程航班編號1"),
      lit("Y").as("回程艙等1"),
      floor(col("l_extendedprice") * priceFactor).as("票面價格"),
      floor(col("l_extendedprice") * col("l_tax") * taxFactor).as("稅金"))
  }

  def set(lineitem: DataFrame): DataFrame =
    competitor(lineitem, col("l_orderkey") % 2 === 0, 0.97, 0.95, invalidEvery = 11)
  def lion(lineitem: DataFrame): DataFrame =
    competitor(lineitem, col("l_orderkey") % 3 === 0, 0.99, 0.90)
  def eztravel(lineitem: DataFrame): DataFrame =
    competitor(lineitem, col("l_orderkey") % 5 === 0, 1.02, 1.00)
  def foreignEztravel(lineitem: DataFrame): DataFrame =
    competitor(lineitem, col("l_orderkey") % 5 === 3, 0.95, 0.85)
  def rich(lineitem: DataFrame): DataFrame =
    competitor(lineitem, col("l_orderkey") % 7 === 0, 1.05, 1.10)
}
