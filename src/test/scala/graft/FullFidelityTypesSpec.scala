package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Decimal, struct, map and array-of-struct columns through every
  * masked read: the connector's one vectorized file reader decodes
  * them and the position mask wraps their vectors, so DV deletes,
  * equality deletes, updates and merges read back through `scan`,
  * `readRange`, the connector and the change feed exactly as a
  * plain-DataFrame model of the same operations says, and the feed
  * agrees with the programmatic `SnapshotTable.changes` version by
  * version. Timestamps in the legacy INT96 and the TIMESTAMP_MILLIS
  * encodings read on every surface as `spark.read.parquet` reads
  * them. */
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

  private def feedOf(dir: String): DataFrame =
    spark.read.format("graft_snapshot").option("readChangeFeed", "true")
      .load(dir)

  /** Net (upserts minus deletes) multiset of change rows over `cols`. */
  private def net(df: DataFrame, cols: Seq[String]): Map[Row, Int] =
    df.select((cols :+ "change_type").map(col): _*).collect().toSeq
      .groupBy(r => Row.fromSeq(r.toSeq.init))
      .map { case (k, rs) =>
        k -> rs.map(r => if (r.getString(cols.length) == "upsert") 1 else -1).sum
      }.filter(_._2 != 0)

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

    // the change feed over every version nets out to the live table
    val cols = Seq("id", "d", "st", "mp", "arr")
    assert(net(feedOf(dir), cols) == want.map(_ -> 1).toMap)
  }

  test("the change feed equals changes() version by version over decimal/struct/map/array<struct>") {
    val dir = Files.createTempDirectory("graft-fullfeed").toString
    val cols = Seq("id", "d", "st", "mp", "arr")
    SnapshotTable.write(spark, gen(0, 400).select(cols.map(col): _*)
      .repartition(2), dir, "overwrite")
    SnapshotTable.deleteVectors(spark, dir, $"st.a" === 1)
    SnapshotTable.deleteByKey(spark, dir, "id", spark.range(100, 140).toDF("id"))
    // overlaps the first epoch: keys already pending must not re-emit
    SnapshotTable.deleteByKey(spark, dir, "id", spark.range(130, 170).toDF("id"))
    SnapshotTable.updateVectors(spark, dir, $"id" % 10 === 3, Seq(
      "d" -> ($"d" + lit(1)).cast("decimal(18,4)"),
      "st" -> struct(lit(99).as("a"), $"st.b".as("b"))))
    SnapshotTable.mergeVectors(spark, dir,
      gen(390, 420, bump = 1000).select(cols.map(col): _*), "id")
    SnapshotTable.purgeDeletes(spark, dir)
    val purged = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.write(spark, gen(500, 530).select(cols.map(col): _*),
      dir, "append")
    val vs = SnapshotTable.versions(spark, dir)
    assert(vs.size == 8)
    val feed = feedOf(dir).cache()
    try {
      vs.zip(vs.tail).foreach { case (prev, v) =>
        val got = net(feed.filter($"commit_version" === v), cols)
        val want = net(SnapshotTable.changes(spark, dir, prev, v), cols)
        assert(got == want, s"version $v")
        if (v == purged) assert(got.isEmpty && feed
          .filter($"commit_version" === v).isEmpty, "purge is content-neutral")
        else assert(got.nonEmpty, s"version $v changed nothing")
      }
    } finally feed.unpersist()
  }

  test("INT96 and TIMESTAMP_MILLIS timestamps read as spark.read.parquet reads them") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    Seq("INT96", "TIMESTAMP_MILLIS").foreach { enc =>
      val dir = Files.createTempDirectory("graft-ts").toString
      withSQLConf("spark.sql.parquet.outputTimestampType" -> enc) {
        SnapshotTable.write(spark, spark.range(0, 40).select($"id",
          expr("timestamp_micros(1700000000123456 + id * 86400001234)").as("ts")),
          dir, "overwrite")
      }
      val paths = SnapshotTable.readManifest(spark, dir,
        SnapshotTable.latestVersion(spark, dir).get).files
        .map(fe => SnapshotTable.resolvePath(dir, fe.path))
      // the files really carry the encoding under test
      val ts = {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(paths.head),
          spark.sparkContext.hadoopConfiguration))
        try {
          val schema = r.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
        } finally r.close()
      }
      if (enc == "INT96")
        assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT96)
      else assert(ts.getLogicalTypeAnnotation
        .asInstanceOf[TimestampLogicalTypeAnnotation].getUnit == TimeUnit.MILLIS)
      def pairs(df: DataFrame): Seq[(Long, java.sql.Timestamp)] =
        df.select("id", "ts").as[(Long, java.sql.Timestamp)].collect()
          .toSeq.sortBy(_._1)
      val want = pairs(spark.read.parquet(paths: _*))
      assert(want.size == 40)
      assert(pairs(spark.read.format("graft_snapshot").load(dir)) == want, enc)
      assert(pairs(feedOf(dir)) == want, enc)
      val name = s"ff_ts_${enc.toLowerCase}"
      spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ts-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(pairs(spark.table(name)) == want, enc)
    }
  }
}
