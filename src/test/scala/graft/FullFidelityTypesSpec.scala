package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Decimal, struct, map and array-of-struct columns through every
  * masked read: the batch scan's vectorized readers decode them and
  * the position mask wraps their vectors, so DV deletes, equality
  * deletes, updates and merges read back through `scan`, `readRange`
  * and the connector exactly as a plain-DataFrame model of the same
  * operations says. The change feed's row readers stay primitive-only
  * and refuse such a table. */
class FullFidelityTypesSpec extends SparkTestBase {
  import spark.implicits._

  private def gen(lo: Long, hi: Long, bump: Long = 0L): DataFrame =
    spark.range(lo, hi).select(
      $"id",
      (($"id" + bump) / 7).cast("decimal(18,4)").as("d"),
      struct((($"id" + bump) % 5).cast("int").as("a"),
        concat(lit("b"), $"id".cast("string")).as("b")).as("st"),
      map(lit("k"), (($"id" + bump) % 3).cast("int")).as("mp"),
      array(struct($"id".cast("int").as("x")),
        struct(($"id" + bump + 1).cast("int").as("x"))).as("arr"))

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.select("id", "d", "st", "mp", "arr").collect().toSeq.sortBy(_.getLong(0))

  test("decimal/struct/map/array<struct> tables mask DV and eq deletes, updates and merges") {
    val dir = Files.createTempDirectory("graft-fulltypes").toString
    var model = gen(0, 600)
    SnapshotTable.write(spark, model.repartition(3), dir, "overwrite",
      statsCols = Seq("id"))

    val dvPred = $"st.a" === 1
    SnapshotTable.deleteVectors(spark, dir, dvPred)
    model = model.filter(!coalesce(dvPred, lit(false)))

    val keys = spark.range(100, 160).toDF("id")
    SnapshotTable.deleteByKey(spark, dir, "id", keys)
    model = model.join(keys, Seq("id"), "left_anti")

    val upPred = $"id" % 10 === 3
    val assigned = Seq(
      "d" -> ($"d" + lit(1)).cast("decimal(18,4)"),
      "st" -> struct(lit(99).as("a"), $"st.b".as("b")))
    SnapshotTable.updateVectors(spark, dir, upPred, assigned)
    model = model.select(model.columns.toSeq.map { c =>
      assigned.toMap.get(c)
        .map(e => when(coalesce(upPred, lit(false)), e).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)

    // matches ids 590..599 (some already deleted), inserts 600..619
    val updates = gen(590, 620, bump = 1000)
    SnapshotTable.mergeVectors(spark, dir, updates, "id")
    model = model.join(updates.select("id"), Seq("id"), "left_anti")
      .unionByName(updates)

    val want = rowsOf(model)
    assert(want.nonEmpty)
    assert(rowsOf(SnapshotTable.scan(spark, dir)) == want)
    assert(rowsOf(SnapshotTable.readRange(spark, dir, "id", 0L, 10000L)) == want)
    assert(rowsOf(spark.read.format("graft_snapshot").load(dir)) == want)

    val e = intercept[Exception](spark.read.format("graft_snapshot")
      .option("readChangeFeed", "true").load(dir).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("primitive")), msgs(e))
  }
}
