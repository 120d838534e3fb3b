package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Primitive-array columns as first-class CONNECTOR types (round 16):
  * an embedding corpus reads and writes through the V2 surface — SQL
  * CREATE TABLE ... ARRAY<FLOAT>, INSERT, batch scan (with data
  * columns and with none), dv/eq masking over array-carrying tables,
  * and the change-feed stream that drives streaming ANN maintenance. */
class ArraySurfaceSpec extends SparkTestBase {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-arr").toString
  spark.conf.set("spark.sql.catalog.graftarr",
    classOf[graft.sources.connector.GraftCatalog].getName)
  spark.conf.set("spark.sql.catalog.graftarr.root", root)

  private def freshDir(): String =
    Files.createTempDirectory("graft-arr-t").toString

  private def vecs(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    .withColumn("emb", transform(sequence(lit(0), lit(3)),
      j => sin($"id" * 0.7 + j).cast("float")))

  test("SQL surface: CREATE TABLE with ARRAY<FLOAT>, INSERT, scan parity") {
    spark.sql("CREATE TABLE graftarr.e (id BIGINT, emb ARRAY<FLOAT>)")
    vecs(0, 1000).createOrReplaceTempView("arr_src")
    spark.sql("INSERT INTO graftarr.e SELECT * FROM arr_src")
    // V2 read (columnar path) == programmatic scan == source
    val viaSql = spark.sql(
      "SELECT id, round(aggregate(emb, 0D, (a, x) -> a + x), 5) AS s " +
        "FROM graftarr.e").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val expect = vecs(0, 1000)
      .select($"id", round(aggregate($"emb", lit(0d), (a, x) => a + x), 5))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaSql == expect, "V2 array read diverged from the source")
    assert(spark.sql("SELECT count(*) FROM graftarr.e WHERE size(emb) = 4")
      .as[Long].head == 1000)
    // null arrays and null/empty elements round-trip
    spark.sql("INSERT INTO graftarr.e VALUES " +
      "(CAST(10000 AS BIGINT), NULL), " +
      "(CAST(10001 AS BIGINT), CAST(array() AS ARRAY<FLOAT>)), " +
      "(CAST(10002 AS BIGINT), array(CAST(1.5 AS FLOAT), NULL, CAST(-2.5 AS FLOAT)))")
    val odd = spark.sql(
      "SELECT id, emb FROM graftarr.e WHERE id >= 10000 ORDER BY id")
      .collect()
    assert(odd(0).isNullAt(1))
    assert(odd(1).getSeq[Float](1).isEmpty)
    assert(odd(2).getSeq[java.lang.Float](1).toSeq ==
      Seq[java.lang.Float](1.5f, null, -2.5f))
  }

  test("staged-batch files and V2-written files interleave byte-compatibly") {
    val dir = freshDir()
    // programmatic write (Spark's parquet writer) ...
    SnapshotTable.write(spark, vecs(0, 500).toDF("id", "emb"), dir,
      "overwrite", Seq("id"))
    // ... then a V2 append through the connector writer
    vecs(500, 600).write.format("graft_snapshot").mode("append").save(dir)
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.count() == 600)
    assert(v2.select(sum(aggregate($"emb", lit(0d), (a, x) => a + x)))
      .as[Double].head ==
      SnapshotTable.scan(spark, dir)
        .select(sum(aggregate($"emb", lit(0d), (a, x) => a + x)))
        .as[Double].head)
  }

  test("dv and equality deletes mask array-carrying tables in-reader") {
    val dir = freshDir()
    SnapshotTable.write(spark, vecs(0, 1000).toDF("id", "emb"), dir,
      "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"id" < 10)
    SnapshotTable.deleteByKey(spark, dir, "id",
      spark.range(10, 20).toDF("id"))
    val v2 = spark.read.format("graft_snapshot").load(dir)
    assert(v2.count() == 980)
    assert(v2.filter($"id" < 20).count() == 0)
    // the masked read still returns intact array payloads
    assert(v2.filter(size($"emb") =!= 4).count() == 0)
  }

  test("change-feed stream emits array rows (the ANN maintenance shape)") {
    val dir = freshDir()
    SnapshotTable.write(spark, vecs(0, 100).toDF("id", "emb"), dir,
      "overwrite", Seq("id"))
    SnapshotTable.write(spark, vecs(100, 120).toDF("id", "emb"), dir,
      "append", Seq("id"))
    val out = Files.createTempDirectory("graft-arr-out").toString
    val ckpt = Files.createTempDirectory("graft-arr-ck").toString
    val q = spark.readStream.format("graft_snapshot")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val feed = spark.read.parquet(out)
    assert(feed.count() == 20)
    assert(feed.filter(size($"emb") =!= 4).count() == 0,
      "feed dropped or corrupted array payloads")
  }

  test("applyFeedBatch is content-idempotent under replay") {
    val corpus = freshDir(); val idx = freshDir()
    SnapshotTable.write(spark,
      vecs(0, 300).toDF("vec_id", "embedding"), corpus, "overwrite",
      Seq("vec_id"))
    graft.operators.AnnIndex.build(spark, corpus, idx,
      vecs(0, 300).toDF("vec_id", "embedding")
        .filter($"vec_id" % 50 === 0), dim = 4)
    def feedOf(rows: org.apache.spark.sql.DataFrame, tpe: String, v: Long) =
      rows.select($"vec_id", $"embedding",
        lit(tpe).as("change_type"), lit(v).as("commit_version"))
    val batch = feedOf(vecs(300, 320).toDF("vec_id", "embedding"), "upsert", 2)
      .unionByName(feedOf(
        vecs(0, 5).toDF("vec_id", "embedding"), "delete", 2))
    graft.operators.AnnIndex.applyFeedBatch(batch, idx)
    def content() = SnapshotTable.scan(spark, s"$idx/assign")
      .select($"vec_id", $"cell").collect().map(_.toSeq).toSet
    val once = content()
    assert(SnapshotTable.scan(spark, s"$idx/assign").count() == 315)
    // the at-least-once replay window: same batch again, same content
    graft.operators.AnnIndex.applyFeedBatch(batch, idx)
    assert(content() == once, "replayed feed batch changed the index")
  }
}
