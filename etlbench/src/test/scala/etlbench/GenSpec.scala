package etlbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.host", "localhost")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives the same rows, on the driver and in Spark") {
    val ids = 0L until 2000L
    assert(ids.map(Gen.row(7, _)) == ids.map(Gen.row(7, _)))
    val a = Gen.lineitem(spark, 7, 0, 2000, 3).collect().toSeq
    val b = Gen.lineitem(spark, 7, 0, 2000, 5).collect().toSeq
    assert(a == b, "partitioning must not change the rows")
    assert(a == ids.map(id => Gen.toRow(Gen.row(7, id))))
  }

  test("another seed gives other rows with the same keys") {
    val a = (0L until 1000L).map(Gen.row(7, _))
    val b = (0L until 1000L).map(Gen.row(8, _))
    assert(a.map(r => (r.l_orderkey, r.l_linenumber)) == b.map(r => (r.l_orderkey, r.l_linenumber)))
    assert(a.count(r => b.contains(r)) == 0)
  }

  test("the flight join key is unique per row across the key space") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val keys = (0L until Gen.KeySpace.toLong).iterator.map { id =>
        val r = Gen.row(seed, id)
        (r.l_partkey % 900) * 900 + (r.l_suppkey % 900)
      }.toSet
      assert(keys.size == Gen.KeySpace)
    }
  }

  test("id and composite key map one to one") {
    val df = Gen.lineitem(spark, 3, 100, 140, 1).select(Gen.idOf.as("id"))
    assert(df.collect().map(_.getLong(0)).toSeq == (100L until 140L))
  }

  test("the driver stream repeats for a seed") {
    val a = new Gen.Rng(42)
    val b = new Gen.Rng(42)
    assert(Seq.fill(100)(a.nextInt(1000)) == Seq.fill(100)(b.nextInt(1000)))
  }
}
