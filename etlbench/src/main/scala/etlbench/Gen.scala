package etlbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

/** The seeded input generator. Every value of a generated row is a pure
  * function of (seed, id), computed by [[Gen.row]] on the driver and by
  * the same function inside Spark, so expected results never need the
  * engine under test.
  *
  * Rows are lineitem-shaped (the columns `FlightSynth` and the snapshot
  * workloads read). Row `id` has the composite key
  * (l_orderkey = id / 4 + 1, l_linenumber = id % 4 + 1); files written
  * from `spark.range` hold contiguous id ranges, so the key is
  * clustered across files the way a keyed table is.
  */
object Gen {

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A uniform draw in [0, bound) for (seed, id, salt). */
  def draw(seed: Long, id: Long, salt: Int, bound: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed * 31 + salt) ^ id), bound)

  /** Distinct (partkey mod 900, suppkey mod 900) pairs available; the
    * flight workload's 14-column join key is unique per row up to this
    * many rows, so its expected output is exact. */
  val KeySpace = 810000

  /** A seeded permutation of [0, KeySpace): multiply by a unit of the
    * ring (odd, not divisible by 3 or 5) and shift. */
  private def keySlot(seed: Long, id: Long): Long = {
    val units = Array(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L, 37L, 41L, 43L, 47L)
    val m = units(java.lang.Math.floorMod(mix(seed), units.length))
    val s = java.lang.Math.floorMod(mix(seed + 1), KeySpace.toLong)
    java.lang.Math.floorMod(id * m + s, KeySpace.toLong)
  }

  final case class Line(
      l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String,
      l_shipdate: Timestamp)

  private val Day0 = 694310400L // 1992-01-02T00:00:00Z, TPC-H's first ship date

  def quantity(seed: Long, id: Long): Int = 1 + draw(seed, id, 1, 50)

  def row(seed: Long, id: Long): Line = {
    val slot = keySlot(seed, id)
    val partkey = 1 + (slot % 900) + 900L * draw(seed, id, 2, 220)
    val suppkey = 1 + (slot / 900) + 900L * draw(seed, id, 3, 11)
    val q = quantity(seed, id)
    val unit = 900 + (partkey % 1000) + draw(seed, id, 4, 100) / 100.0
    Line(
      l_orderkey = id / 4 + 1,
      l_partkey = partkey,
      l_suppkey = suppkey,
      l_linenumber = (id % 4).toInt + 1,
      l_quantity = q.toDouble,
      l_extendedprice = math.rint(q * unit * 100) / 100,
      l_discount = draw(seed, id, 5, 11) / 100.0,
      l_tax = draw(seed, id, 6, 9) / 100.0,
      l_returnflag = "ANR".substring(draw(seed, id, 7, 3)).take(1),
      l_linestatus = "FO".substring(draw(seed, id, 8, 2)).take(1),
      l_shipdate = new Timestamp((Day0 + 86400L * draw(seed, id, 9, 2500)) * 1000))
  }

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def toRow(l: Line): Row = Row(l.l_orderkey, l.l_partkey, l.l_suppkey,
    l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
    l.l_returnflag, l.l_linestatus, l.l_shipdate)

  /** Rows for ids [from, until) as `files` Spark partitions. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
               files: Int): DataFrame = {
    val gen = udf((id: Long) => row(seed, id))
    spark.range(from, until, 1, files)
      .select(gen(col("id")).as("r"))
      .select(schema.fieldNames.toIndexedSeq.map(f => col(s"r.$f").as(f)): _*)
  }

  /** The composite key of row `id` as one long, for id-set predicates. */
  def idOf: org.apache.spark.sql.Column =
    (col("l_orderkey") - 1) * 4 + col("l_linenumber") - 1

  /** Driver-side seeded stream (SplitMix64). */
  final class Rng(seed: Long) {
    private var state = mix(seed)
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def nextInt(bound: Int): Int = java.lang.Math.floorMod(nextLong(), bound)
  }
}
