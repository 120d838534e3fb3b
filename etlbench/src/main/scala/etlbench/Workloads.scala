package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.FlightPipeline
import graft.operators.Sinks
import graft.sources.{SnapshotTable, Tables}
import graft.streaming.ApplyChanges

/** A wrong result. Counted as a failed op; the run goes on. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** One closed-loop workload. Each call returns the number of rows it
  * returned or changed, after checking them against values derived
  * from the generator (never from the engine). */
trait Workload {
  def name: String
  /** Write ops a run measures at least (it also runs for at least
    * `--seconds`); a fixed count keeps each run on the same stretch of
    * the JVM's warm-up. */
  def loopOps: Int
  /** Run the maintenance op after every `maintEvery`-th write op. */
  def maintEvery: Int
  def writeKind: String
  /** Build the inputs and the table under `dir`. Repeated for the
    * set-up samples; the last call's state is the one measured. */
  def stage(dir: Path): Unit
  def op(i: Int): Long
  def read(i: Int): Long
  def maint(i: Int): Long
  /** Untimed op + read cycles before measuring. */
  def warmOps: Int = 1
  /** Bytes under the workload's table directories. */
  def storedBytes: Long
  def liveRows: Long
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, layer: Layer): Workload =
    name match {
    case "flight_refresh" => new FlightRefresh(spark, seed, layer)
    case "cdc_epochs" => new CdcEpochs(spark, seed, layer)
    case "dv_churn" => new DvChurn(spark, seed, layer)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (flight_refresh, cdc_epochs, dv_churn)")
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** count(*) and sum(l_quantity) in one job. */
  def scanAgg(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("l_quantity")), lit(0.0))).head()
    (r.getLong(0), r.getDouble(1))
  }
}

/** The paper's job: FlightPipeline over generated raw sources, a
  * truncate-and-load with backup rotation, then the "competitor cheaper
  * than cola" read. Maintenance is the restore drill (restore the newest
  * backup and verify it). */
final class FlightRefresh(spark: SparkSession, seed: Long, layer: Layer) extends Workload {
  val name = "flight_refresh"
  val writeKind = "refresh"
  val loopOps = 4
  val maintEvery = 2
  val Rows = 20000L
  private val SrcFiles = 4
  private val Table = "flights"

  private var sfDir: String = _
  private var tableDir: String = _
  private var backupRoot: String = _
  private var expectedRows = 0L
  private var expectedGroups: Map[String, (Long, Long, Long)] = Map.empty

  def stage(dir: Path): Unit = {
    sfDir = dir.resolve("src").toString
    tableDir = dir.resolve("warehouse/flights").toString
    backupRoot = dir.resolve("warehouse/backups").toString
    Gen.lineitem(spark, seed, 0, Rows, SrcFiles).write.parquet(s"$sfDir/lineitem.parquet")
    // the engine's own fixture staging (re-layout to one file per core)
    Tables.computeTable(spark, sfDir, "lineitem").count()
    // Expected output from plain Spark over the raw source. The
    // generator makes the 14-column join key unique per row, so the
    // left joins never fan out and the dedup keeps every row; a row
    // survives the any-competitor-tax filter when some source lists it.
    val ok = col("l_orderkey")
    val ep = col("l_extendedprice")
    def priceIf(member: org.apache.spark.sql.Column, f: Double) =
      when(member, floor(ep * f))
    val setM = ok % 2 === 0 && ok % 11 =!= 0
    val competitors = Seq(priceIf(setM, 0.97), priceIf(ok % 3 === 0, 0.99),
      priceIf(ok % 5 === 0, 1.02), priceIf(ok % 5 === 3, 0.95),
      priceIf(ok % 7 === 0, 1.05))
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("cheapest", least(competitors: _*))
      .filter(col("cheapest").isNotNull)
      .withColumn("gds", when(ok % 2 === 0, "AMADEUS").otherwise("SABRE"))
      .withColumn("price", floor(ep))
    expectedGroups = groups(src, "gds", "price", "cheapest")
    expectedRows = expectedGroups.values.map(_._1).sum
  }

  private def groups(df: DataFrame, gds: String, price: String,
                     cheapest: String): Map[String, (Long, Long, Long)] =
    df.groupBy(col(gds)).agg(
      count(lit(1)),
      sum(when(col(cheapest) < col(price), 1L).otherwise(0L)),
      sum(col(price).cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  def op(i: Int): Long = {
    val unified = layer("FlightPipeline.run")(FlightPipeline.run(spark, sfDir))
    val loaded = layer("Sinks.truncateAndLoad")(Sinks.truncateAndLoad(spark, unified,
      tableDir, backupRoot, Table, nowEpoch = 1700000000L + 43200L * i))
    Check.equal("loaded rows", loaded, expectedRows)
    loaded
  }

  def read(i: Int): Long = {
    val t = spark.read.parquet(tableDir).withColumn("cheapest", least(
      col("settour_air_tickets_price"), col("lion_air_tickets_price"),
      col("eztravel_ticket_air_tickets_price"),
      col("foreign_supplier_eztraval_ticket_air_tickets_price"),
      col("rich_mond_air_tickets_price")))
    val got = groups(t, "gds_type", "ticket_price", "cheapest")
    Check.equal("cheaper-than-cola groups", got, expectedGroups)
    got.values.map(_._1).sum
  }

  // the first refresh of a JVM runs cold, the second still warms the
  // JIT; two also leave a backup for the restore drill
  override def warmOps: Int = 2

  def maint(i: Int): Long = {
    val restored = layer("Sinks.restoreFromBackup")(
      Sinks.restoreFromBackup(spark, tableDir, backupRoot, Table))
    Check.equal("restored rows", restored, expectedRows)
    restored
  }

  def storedBytes: Long =
    Workload.treeBytes(Paths.get(tableDir).getParent)
  def liveRows: Long = expectedRows
}

/** Keyed change-data capture: equality-delete epochs over a lineitem
  * replica keyed by (l_orderkey, l_linenumber), a full-scan aggregate
  * through the connector after each, and a fold of the pending deletes
  * (plus a vacuum of what it superseded) every tenth epoch. */
final class CdcEpochs(spark: SparkSession, seed: Long, layer: Layer) extends Workload {
  val name = "cdc_epochs"
  val writeKind = "epoch"
  val loopOps = 11
  val maintEvery = 10
  val Rows = 600000L
  val Updates = 300
  val Deletes = 150
  val Inserts = 150
  private val Files = 8
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val StatsCols = Seq("l_orderkey")

  private var dir: String = _
  // the live table, as the generator defines it
  private var live: Array[Long] = _
  private var liveN = 0
  private var livePos: mutable.LongMap[Int] = _
  private val qty = mutable.LongMap.empty[Int]
  private var nextId = 0L
  private var qtySum = 0.0

  private def quantity(id: Long): Int = qty.getOrElse(id, Gen.quantity(seed, id))

  def stage(root: Path): Unit = {
    dir = root.resolve("lineitem_cdc").toString
    SnapshotTable.write(spark, Gen.lineitem(spark, seed, 0, Rows, Files), dir,
      "overwrite", StatsCols)
    live = new Array[Long](Rows.toInt * 2)
    livePos = mutable.LongMap.empty[Int]
    qty.clear()
    qtySum = 0.0
    var id = 0L
    while (id < Rows) {
      live(id.toInt) = id; livePos(id) = id.toInt; qtySum += Gen.quantity(seed, id); id += 1
    }
    liveN = Rows.toInt
    nextId = Rows
  }

  private def removeLive(id: Long): Unit = {
    val p = livePos.remove(id).get
    val last = live(liveN - 1)
    live(p) = last; livePos(last) = p; liveN -= 1
  }
  private def addLive(id: Long): Unit = {
    live(liveN) = id; livePos(id) = liveN; liveN += 1
  }

  def op(i: Int): Long = {
    val rng = new Gen.Rng(seed * 1000003L + i)
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Updates + Deletes) picked += live(rng.nextInt(liveN))
    val (upd, del) = picked.toSeq.splitAt(Updates)
    val ins = (0 until Inserts).map(_ => { nextId += 1; nextId - 1 })
    def feedRow(id: Long, q: Int, change: String): Row = {
      val l = Gen.row(seed, id).copy(l_quantity = q.toDouble)
      Row.fromSeq(Gen.toRow(l).toSeq ++ Seq(change, i.toLong))
    }
    val newQ = upd.map(id => id -> (1 + rng.nextInt(50)))
    val rows = newQ.map { case (id, q) => feedRow(id, q, "upsert") } ++
      del.map(id => feedRow(id, quantity(id), "delete")) ++
      ins.map(id => feedRow(id, Gen.quantity(seed, id), "upsert"))
    val feedSchema = Gen.schema
      .add("change_type", "string").add("commit_version", "long")
    val batch = spark.createDataFrame(rows.asJava, feedSchema)
    layer("ApplyChanges.applyBatchEqKeys")(
      ApplyChanges.applyBatchEqKeys(batch, dir, Keys, StatsCols))
    newQ.foreach { case (id, q) => qtySum += q - quantity(id); qty(id) = q }
    del.foreach { id => qtySum -= quantity(id); qty.remove(id); removeLive(id) }
    ins.foreach { id => qtySum += Gen.quantity(seed, id); addLive(id) }
    rows.size.toLong
  }

  def read(i: Int): Long = {
    val (n, s) = layer("connector.scan")(
      Workload.scanAgg(spark.read.format("graft_snapshot").load(dir)))
    Check.equal("live rows", n, liveN.toLong)
    Check.equal("sum(l_quantity)", s, qtySum)
    n
  }

  def maint(i: Int): Long = {
    layer("SnapshotTable.purgeDeletes")(SnapshotTable.purgeDeletes(spark, dir, StatsCols))
    layer("SnapshotTable.vacuum")(
      SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0))
    read(i)
  }

  def storedBytes: Long = Workload.treeBytes(Paths.get(dir))
  def liveRows: Long = liveN.toLong
}

/** Deletion-vector churn: scattered ~100-row deletes on a table that
  * already carries a quarter of its rows deleted, each followed by a
  * full-scan aggregate and a key-range point read; a vacuum of
  * superseded vectors every fourth delete. */
final class DvChurn(spark: SparkSession, seed: Long, layer: Layer) extends Workload {
  val name = "dv_churn"
  val writeKind = "delete"
  val loopOps = 11
  val maintEvery = 4
  val Rows = 400000L
  val PerDelete = 100
  /** Rows with l_quantity <= this are deleted in set-up (24%). */
  val PreDeleteMaxQty = 12
  private val Files = 16
  private val PointOrders = 25

  private var dir: String = _
  private var deleted: java.util.BitSet = _
  private var liveN = 0L
  private var qtySum = 0.0

  def stage(root: Path): Unit = {
    dir = root.resolve("lineitem_dv").toString
    SnapshotTable.write(spark, Gen.lineitem(spark, seed, 0, Rows, Files), dir,
      "overwrite", Seq("l_orderkey"))
    SnapshotTable.deleteVectors(spark, dir, col("l_quantity") <= PreDeleteMaxQty)
    deleted = new java.util.BitSet(Rows.toInt)
    liveN = 0L
    qtySum = 0.0
    var id = 0L
    while (id < Rows) {
      val q = Gen.quantity(seed, id)
      if (q <= PreDeleteMaxQty) deleted.set(id.toInt)
      else { liveN += 1; qtySum += q }
      id += 1
    }
  }

  def op(i: Int): Long = {
    val rng = new Gen.Rng(seed * 1000003L + i)
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < PerDelete) {
      val id = (rng.nextLong() >>> 1) % Rows
      if (!deleted.get(id.toInt)) ids += id
    }
    layer("SnapshotTable.deleteVectors")(
      SnapshotTable.deleteVectors(spark, dir, Gen.idOf.isin(ids.toSeq: _*)))
    ids.foreach { id =>
      deleted.set(id.toInt); liveN -= 1; qtySum -= Gen.quantity(seed, id)
    }
    ids.size.toLong
  }

  def read(i: Int): Long = {
    val (n, s) = layer("connector.scan")(
      Workload.scanAgg(spark.read.format("graft_snapshot").load(dir)))
    Check.equal("live rows", n, liveN)
    Check.equal("sum(l_quantity)", s, qtySum)
    val rng = new Gen.Rng(seed * 1000003L + i + 500009L)
    val lo = 1 + (rng.nextLong() >>> 1) % (Rows / 4 - PointOrders)
    val hi = lo + PointOrders - 1
    val (pn, ps) = layer("SnapshotTable.readRange")(
      Workload.scanAgg(SnapshotTable.readRange(spark, dir, "l_orderkey", lo, hi)))
    val ids = ((lo - 1) * 4 until hi * 4).filterNot(id => deleted.get(id.toInt))
    Check.equal(s"point rows [$lo, $hi]", pn, ids.size.toLong)
    Check.equal(s"point sum [$lo, $hi]", ps, ids.map(Gen.quantity(seed, _).toDouble).sum)
    n + pn
  }

  def maint(i: Int): Long = {
    layer("SnapshotTable.vacuum")(
      SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0))
    val (n, _) = layer("connector.scan")(
      Workload.scanAgg(spark.read.format("graft_snapshot").load(dir)))
    Check.equal("live rows after vacuum", n, liveN)
    n
  }

  def storedBytes: Long = Workload.treeBytes(Paths.get(dir))
  def liveRows: Long = liveN
}
