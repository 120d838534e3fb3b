package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Seeded fuzz against an engine-independent model: random tables take
  * random sequences of appends, dv deletes, equality deletes (long-
  * and string-keyed), dv updates and dv merges, and the model — a plain
  * DataFrame of the generated rows, with each dv delete applied as a
  * filter, each equality delete as an anti-join on the keys, each
  * update as a conditional projection and each merge as anti-join plus
  * union — says what the table holds. The V2 connector read and
  * `SnapshotTable.scan` must both return the model's exact multiset:
  * on the full row (decimal and struct columns included), and on a
  * projection that omits the key columns (the reader's appended-column
  * mask path). The model shares no code with the engine's masking. */
class MaskedReadFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-fuzzmask").toString

  test("connector and scan equal a DataFrame model under DML") {
    val rnd = new scala.util.Random(20260816L)
    for (round <- 1 to 6) {
      val dir = freshDir()
      val n = 2000 + rnd.nextInt(3000)
      val mod = 37 + rnd.nextInt(300)
      def gen(lo: Long, hi: Long) = spark.range(lo, hi).select(
        (($"id" * 2654435761L) % n).as("k"),
        concat(lit("u"), (($"id" * 7) % mod).cast("string")).as("s"),
        ($"id" * 3).as("v"),
        (($"id" % 1000) / 8).cast("decimal(18,4)").as("d"),
        struct(($"id" % 11).as("a"), concat(lit("t"), ($"id" % 13).cast("string"))
          .as("b")).as("st"))
      val base = rnd.nextInt(3) match {
        case 0 => gen(0, n).repartitionByRange(4, $"k") // clustered
        case 1 => gen(0, n).repartition(4) // scrambled
        case _ => gen(0, n).coalesce(1) // single file
      }
      SnapshotTable.write(spark, base, dir, "overwrite", Seq("k", "s"),
        bloomCols = if (rnd.nextBoolean()) Seq("s") else Nil)
      var model: DataFrame = gen(0, n)
      var appended = 0L
      for (_ <- 1 to 4) rnd.nextInt(6) match {
        case 0 =>
          val pred = $"v" % (5 + rnd.nextInt(20)) === rnd.nextInt(5)
          SnapshotTable.deleteVectors(spark, dir, pred)
          model = model.filter(!coalesce(pred, lit(false)))
        case 1 =>
          val lo = rnd.nextInt(n)
          val keys = spark.range(lo, lo + 1 + rnd.nextInt(200)).toDF("k")
          SnapshotTable.deleteByKey(spark, dir, "k", keys)
          model = model.join(keys, Seq("k"), "left_anti")
        case 2 =>
          val picks = Seq.fill(1 + rnd.nextInt(8))(
            s"u${rnd.nextInt(mod + 5)}") // some keys absent on purpose
          SnapshotTable.deleteByKey(spark, dir, "s", picks.toDF("s"))
          model = model.join(picks.toDF("s"), Seq("s"), "left_anti")
        case 3 =>
          val pred = $"k" % (3 + rnd.nextInt(9)) === rnd.nextInt(3)
          val assigned = Map(
            "v" -> ($"v" + 1),
            "d" -> ($"d" * 2).cast("decimal(18,4)"),
            "st" -> struct(($"st.a" + 100).as("a"), $"st.b".as("b")))
          SnapshotTable.updateVectors(spark, dir, pred, assigned.toSeq)
          model = model.select(model.columns.toSeq.map { c =>
            assigned.get(c)
              .map(e => when(coalesce(pred, lit(false)), e).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          }: _*)
        case 4 =>
          // distinct source keys; shifted past n, every one inserts
          val lo = rnd.nextInt(n)
          val updates = gen(lo, lo + 1 + rnd.nextInt(100))
            .withColumn("k", $"k" + lit(rnd.nextInt(2).toLong * n))
            .dropDuplicates("k")
          val fixed = updates.collect() // pin the source: one image per key
          val src = spark.createDataFrame(
            spark.sparkContext.parallelize(fixed.toSeq, 1), updates.schema)
          SnapshotTable.mergeVectors(spark, dir, src, "k")
          model = model.join(src.select("k"), Seq("k"), "left_anti")
            .unionByName(src)
        case _ =>
          val lo = n + appended
          val rows = gen(lo, lo + 100 + rnd.nextInt(300))
          SnapshotTable.write(spark, rows, dir, "append", Seq("k", "s"))
          model = model.unionByName(rows)
          appended += 400 // upper bound; exact count irrelevant
      }
      def multiset(df: DataFrame) =
        df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val full = Seq("k", "s", "v", "d", "st")
      val want = multiset(model.select(full.map(col): _*))
      val v2 = spark.read.format("graft_snapshot").load(dir)
      val prog = SnapshotTable.scan(spark, dir)
      assert(multiset(v2.select(full.map(col): _*)) == want,
        s"round $round: connector diverged from the model")
      assert(multiset(prog.select(full.map(col): _*)) == want,
        s"round $round: scan diverged from the model")
      // a projection WITHOUT the key columns forces the columnar
      // reader to append k and s for the mask and strip them
      val wantV = multiset(model.select($"v"))
      assert(multiset(v2.select($"v")) == wantV,
        s"round $round: keyless projection diverged")
      assert(multiset(prog.select($"v")) == wantV,
        s"round $round: keyless scan projection diverged")
      assert(v2.count() == model.count(), s"round $round: counts diverged")
    }
  }
}
