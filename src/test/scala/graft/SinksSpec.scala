package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Sinks

/** S4-S8 sink semantics over parquet table dirs (loader.py:15-348). */
class SinksSpec extends SparkTestBase {

  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-sinks").toString

  private def readIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("id").as[Long].collect().toSet

  /** Spark jobs `body` starts, counted by a listener after draining the
    * bus. */
  private def jobsOf(body: => Unit): Int = {
    val drain = () => org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Every file under `dir` (checksums included) by name, with its bytes. */
  private def fileBytes(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().filter(_.isFile)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("S5 truncate-and-load replaces content and keeps a backup") {
    val root = freshRoot()
    val v1 = Seq(1L, 2L, 3L).toDF("id")
    val v2 = Seq(10L, 20L).toDF("id")
    assert(Sinks.truncateAndLoad(spark, v1, s"$root/t", s"$root/bk", "t", 1000L) == 3)
    assert(Sinks.truncateAndLoad(spark, v2, s"$root/t", s"$root/bk", "t", 2000L) == 2)
    assert(readIds(s"$root/t") == Set(10L, 20L))
    val backups = Sinks.listBackups(spark, s"$root/bk", "t")
    assert(backups.size == 1) // first load had nothing to back up
    assert(readIds(s"$root/bk/${backups.head}") == Set(1L, 2L, 3L))
  }

  test("S5/S7 failed load rolls back to the backup") {
    val root = freshRoot()
    val v1 = Seq(1L, 2L).toDF("id")
    Sinks.truncateAndLoad(spark, v1, s"$root/t", s"$root/bk", "t", 1000L)
    val poison = spark.range(3)
      .select(when(col("id") < 2, col("id"))
        .otherwise(expr("raise_error('boom')").cast("long")).as("id"))
    intercept[Exception] {
      Sinks.truncateAndLoad(spark, poison, s"$root/t", s"$root/bk", "t", 2000L)
    }
    assert(readIds(s"$root/t") == Set(1L, 2L)) // restored
  }

  test("S5 crash between verified write and publish leaves the old table intact") {
    val root = freshRoot()
    val v1 = Seq(1L, 2L, 3L).toDF("id")
    Sinks.truncateAndLoad(spark, v1, s"$root/t", s"$root/bk", "t", 1000L)
    // the new data is fully written and verified in staging; the crash
    // hits immediately before the publish renames
    intercept[RuntimeException] {
      Sinks.truncateAndLoad(spark, Seq(9L).toDF("id"), s"$root/t", s"$root/bk", "t",
        2000L, commitHook = () => throw new RuntimeException("crash before commit"))
    }
    // reader still sees the OLD table — not the new rows, not a torn dir
    assert(readIds(s"$root/t") == Set(1L, 2L, 3L))
    // staging is cleaned up, nothing half-published
    val leftovers = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(leftovers == Set("t", "bk"), s"unexpected leftovers: $leftovers")
    // and a subsequent load still succeeds normally
    assert(Sinks.truncateAndLoad(spark, Seq(7L, 8L).toDF("id"),
      s"$root/t", s"$root/bk", "t", 3000L) == 2)
    assert(readIds(s"$root/t") == Set(7L, 8L))
  }

  test("S8 retention keeps the newest maxBackups") {
    val root = freshRoot()
    (1 to 5).foreach { i =>
      Sinks.truncateAndLoad(spark, Seq(i.toLong).toDF("id"),
        s"$root/t", s"$root/bk", "t", i * 1000L, maxBackups = 3)
    }
    val left = Sinks.listBackups(spark, s"$root/bk", "t")
    // loads 2..5 create backups (of loads 1..4); retention keeps newest 3
    assert(left.size == 3)
    assert(readIds(s"$root/bk/${left.head}") == Set(4L))
  }

  test("F-E gds_type load gate drops null rows, observes the reject count") {
    val root = freshRoot()
    val df = Seq((1L, Option("AMADEUS")), (2L, None), (3L, Option("SABRE")),
      (4L, None), (5L, Option("AMADEUS"))).toDF("id", "gds_type")
    val obs = org.apache.spark.sql.Observation()
    val loaded = Sinks.truncateAndLoad(spark, df, s"$root/t", s"$root/bk", "t", 1000L,
      gateCol = Some("gds_type"), gateObs = Some(obs))
    assert(loaded == 3)
    assert(readIds(s"$root/t") == Set(1L, 3L, 5L))
    assert(obs.get("rejected").asInstanceOf[Long] == 2L)
    assert(obs.get("input_rows").asInstanceOf[Long] == 5L)
  }

  test("a refresh runs only its write job; its backup is a byte copy") {
    val root = freshRoot()
    // a shuffle in the frame: the write runs more than one job under AQE
    val frame = spark.range(0, 2000, 1, 4)
      .groupBy(($"id" % 100).as("id")).agg(count(lit(1)).as("n"))
    Sinks.truncateAndLoad(spark, frame, s"$root/t", s"$root/bk", "t", 1000L)
    val preLoad = fileBytes(s"$root/t")
    val plain = jobsOf(frame.write.parquet(s"$root/plain"))
    val refresh = jobsOf(
      assert(Sinks.truncateAndLoad(spark, frame, s"$root/t", s"$root/bk", "t", 2000L) == 100))
    assert(refresh == plain, s"refresh ran $refresh jobs, a plain write $plain")
    val backups = Sinks.listBackups(spark, s"$root/bk", "t")
    assert(backups.size == 1)
    val backup = fileBytes(s"$root/bk/${backups.head}")
    assert(backup.keySet == preLoad.keySet)
    assert(preLoad.keys.exists(_.startsWith("part-")))
    preLoad.foreach { case (name, bytes) => assert(backup(name) == bytes, name) }
  }

  test("a torn backup copy is never restored; retention reclaims it") {
    val root = freshRoot()
    Sinks.truncateAndLoad(spark, Seq(1L, 2L).toDF("id"), s"$root/t", s"$root/bk", "t", 1000L)
    Sinks.truncateAndLoad(spark, Seq(3L).toDF("id"), s"$root/t", s"$root/bk", "t", 2000L)
    // a copy that crashed before its publish rename, newer than the
    // good backup and holding other rows
    val torn = s"$root/bk/.tmp-backup_t_${"%013d".format(9000L)}"
    Seq(99L).toDF("id").write.parquet(torn)
    assert(Sinks.listBackups(spark, s"$root/bk", "t") == Seq("backup_t_0000000002000"))
    assert(Sinks.restoreFromBackup(spark, s"$root/t", s"$root/bk", "t") == 2)
    assert(readIds(s"$root/t") == Set(1L, 2L))
    assert(new java.io.File(root).list().toSet == Set("t", "bk"))
    assert(Sinks.cleanupOldBackups(spark, s"$root/bk", "t").isEmpty)
    assert(!new java.io.File(torn).exists(), "retention must reclaim the torn copy")
    assert(Sinks.listBackups(spark, s"$root/bk", "t") == Seq("backup_t_0000000002000"))
  }

  test("backups of a table whose name extends another's are never mixed up") {
    val root = freshRoot()
    (1 to 2).foreach { i =>
      Sinks.truncateAndLoad(spark, Seq(i.toLong).toDF("id"), s"$root/t", s"$root/bk", "t",
        i * 1000L, maxBackups = 1)
      Sinks.truncateAndLoad(spark, Seq(10L * i, 10L * i + 1).toDF("id"), s"$root/t_x",
        s"$root/bk", "t_x", i * 1000L, maxBackups = 1)
    }
    Sinks.truncateAndLoad(spark, Seq(3L).toDF("id"), s"$root/t", s"$root/bk", "t", 3000L,
      maxBackups = 1)
    assert(Sinks.listBackups(spark, s"$root/bk", "t") == Seq("backup_t_0000000003000"))
    assert(Sinks.listBackups(spark, s"$root/bk", "t_x") == Seq("backup_t_x_0000000002000"),
      "retention of t must leave t_x's backups alone")
    assert(Sinks.restoreFromBackup(spark, s"$root/t", s"$root/bk", "t") == 1)
    assert(readIds(s"$root/t") == Set(2L))
  }

  test("loading an empty frame returns 0 and leaves a readable empty table") {
    val root = freshRoot()
    assert(Sinks.truncateAndLoad(spark, Seq.empty[Long].toDF("id"),
      s"$root/t", s"$root/bk", "t", 1000L) == 0)
    assert(spark.read.parquet(s"$root/t").count() == 0)
    assert(spark.read.parquet(s"$root/t").columns.toSeq == Seq("id"))
    assert(Sinks.truncateAndLoad(spark, spark.range(10).toDF().filter($"id" < 0),
      s"$root/t", s"$root/bk", "t", 2000L) == 0)
    assert(readIds(s"$root/t").isEmpty)
    assert(Sinks.appendLoad(spark, spark.range(5).toDF().filter($"id" < 0), s"$root/a") == 0)
  }

  test("S4 append-load verifies the read-back count") {
    val root = freshRoot()
    assert(Sinks.appendLoad(spark, Seq(1L, 2L).toDF("id"), s"$root/t") == 2)
    assert(Sinks.appendLoad(spark, Seq(3L).toDF("id"), s"$root/t") == 1)
    assert(readIds(s"$root/t") == Set(1L, 2L, 3L))
  }
}
