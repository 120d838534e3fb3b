package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.SnapshotTable
import graft.sources.connector.SnapshotScan

/** The DataSource V2 surface over the snapshot table: planning-time
  * file skipping from pushed filters, metadata-only aggregates,
  * optimizer statistics, deletion-vector masking through the
  * connector's own readers, time travel by option, and the
  * append-only streaming tail of the commit log. */
class ConnectorSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-conn").toString

  private def load(dir: String): DataFrame =
    spark.read.format("graft_snapshot").load(dir)

  /** The (single) V2 scan of a query's optimized plan (the logical
    * level survives AQE wrapping, which hides BatchScanExec from the
    * pre-execution physical plan). */
  private def scanOf(df: DataFrame): SnapshotScan = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    assert(scans.size == 1, s"expected one V2 scan, got ${scans.size}")
    scans.head.asInstanceOf[SnapshotScan]
  }

  /** Turn `dir`'s first version into the retired deletion-vector
    * shape by hand, as an older writer left it: `rows` (data-file
    * basename, position) as one plain-Spark (file, pos) parquet
    * sidecar, and a new full log entry whose files point at it with
    * the old `{"path", "n"}` dv JSON. Returns that entry's version. */
  private def legacyDv(dir: String, rows: Seq[(String, Long)]): Long = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".legacy-dv-${java.util.UUID.randomUUID}")
    rows.toDF("file", "pos").coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val rel = s"data/dv-legacy-${java.util.UUID.randomUUID}.parquet"
    assert(fs.rename(part, new Path(dir, rel)))
    fs.delete(tmp, true)
    val log = java.nio.file.Paths.get(dir, "_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readAllBytes(log.resolve(f"v${1}%010d.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.get("kind").asText == "full")
    node.put("version", 2L).put("op", "delete-dv")
    val counts = rows.distinct.groupBy(_._1).map { case (f, ps) => f -> ps.size.toLong }
    node.get("files").elements().forEachRemaining { f =>
      counts.get(new Path(f.get("path").asText).getName).foreach(n =>
        f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .putObject("dv").put("path", rel).put("n", n))
    }
    Files.write(log.resolve(f"v${2}%010d.json"), mapper.writeValueAsBytes(node))
    SnapshotTable.invalidateResolveCache()
    2L
  }

  /** Spark's own (data-file basename, row index) of `df`'s rows over
    * `dir`'s version-1 files. */
  private def positionsOf(dir: String, pred: org.apache.spark.sql.Column)
      : Seq[(String, Long)] =
    spark.read.parquet(SnapshotTable.readManifest(spark, dir, 1).files
      .map(fe => SnapshotTable.resolvePath(dir, fe.path)): _*)
      .filter(pred)
      .select(element_at(split($"_metadata.file_path", "/"), -1),
        $"_metadata.row_index").as[(String, Long)].collect().toSeq

  private def refusesNamingUpgrade(body: => Any): Unit = {
    val ex = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("upgrade")), ex)
  }

  /** A LEGACY append: a plain parquet file committed with no bucket
    * tag — what a pre-bucketing writer (or a foreign engine sharing
    * the format) produces. Every in-repo write path now stages
    * through a declared layout, so breaking one takes going under
    * the write API, exactly like such a writer would. */
  private def legacyAppend(dir: String, df: DataFrame): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".legacy-${java.util.UUID.randomUUID}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .get
    val rel = s"data/legacy-${java.util.UUID.randomUUID}.parquet"
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "data"))
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(dir, rel)))
    fs.delete(tmp, true)
    SnapshotTable.commitAdded(spark, dir, "append",
      Seq(SnapshotTable.FileEntry(rel, df.count(), Map.empty, Map.empty,
        None, None, None, None)), carry = true,
      schemaJson = Some(df.schema.json))
  }

  /** An 8-file table range-partitioned on id with stats + a bloom'd
    * string key, ids [0, 800). */
  private def buildRanged(dir: String): Unit = {
    val df = spark.range(0, 800)
      .select($"id", concat(lit("k"), $"id").as("key"),
        ($"id" % 10).cast("int").as("bucket"))
      .repartitionByRange(8, $"id")
    SnapshotTable.write(spark, df, dir, "overwrite", Seq("id"),
      bloomCols = Seq("key"))
  }

  test("connector scan == SnapshotTable.scan, including dv masking") {
    val dir = freshDir()
    buildRanged(dir)
    SnapshotTable.deleteVectors(spark, dir, $"id" % 7 === 3)
    val viaConnector = load(dir).collect().map(_.toSeq).toSet
    val viaScan = SnapshotTable.scan(spark, dir).collect().map(_.toSeq).toSet
    assert(viaConnector == viaScan)
    // ids ≡ 3 (mod 7) in [0, 800): 3, 10, …, 798 — 114 of them
    assert(viaConnector.size == 800 - 114)
  }

  test("columnar read: vectorized batches, dv mask exact across batch boundaries") {
    val dir = freshDir()
    // 20k rows in 2 files: multiple 4096-row batches per file
    SnapshotTable.write(spark,
      spark.range(0, 20000)
        .select($"id", ($"id" * 3).as("v"), concat(lit("s"), $"id").as("s"))
        .repartitionByRange(2, $"id"),
      dir, "overwrite", Seq("id"))
    // deletions straddling batch boundaries + one fully-deleted batch
    // range [4096, 8192) in file 0 + scattered rows everywhere
    SnapshotTable.deleteVectors(spark, dir,
      ($"id" >= 4096 && $"id" < 8192) || $"id" % 997 === 1)
    val expected = (0L until 20000L)
      .filterNot(i => (i >= 4096 && i < 8192) || i % 997 == 1)
    val q = load(dir)
    // the scan IS columnar: batches flow into whole-stage codegen
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "file partitions must read vectorized")
    assert(q.select("id").as[Long].collect().sorted.toSeq == expected)
    // values stay row-aligned through the mask
    assert(q.filter($"id" === 8192).select("v", "s").as[(Long, String)]
      .collect().toSeq == Seq((24576L, "s8192")))
    assert(q.count() == expected.size)
  }

  test("schema evolution: pre-widening files surface nulls") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark,
      spark.range(10, 20).select($"id", lit("new").as("extra")), dir, "append")
    val rows = load(dir).orderBy("id").collect()
    assert(rows.length == 20)
    assert(rows.take(10).forall(_.isNullAt(1)))
    assert(rows.drop(10).forall(_.getString(1) == "new"))
  }

  test("versionAsOf option time-travels") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(10, 30).toDF(), dir, "append")
    assert(spark.read.format("graft_snapshot").option("versionAsOf", 1)
      .load(dir).count() == 10)
    assert(load(dir).count() == 30)
  }

  test("pushed range filter skips files via manifest stats") {
    val dir = freshDir()
    buildRanged(dir)
    val total = SnapshotTable.readManifest(spark, dir, 1).files.size
    assert(total == 8)
    val q = load(dir).filter($"id" >= 200 && $"id" < 300).select("id", "bucket")
    val planned = scanOf(q).planInputPartitions().length
    assert(planned < total, s"range filter planned $planned/$total files")
    assert(q.count() == 100)
    assert(scanOf(q).description().contains("after skipping"))
  }

  test("pushed string equality skips files via manifest blooms") {
    val dir = freshDir()
    buildRanged(dir)
    val q = load(dir).filter($"key" === "k355")
    val planned = scanOf(q).planInputPartitions().length
    assert(planned < 8, s"bloom skipping planned $planned/8 files")
    assert(q.select("id").as[Long].collect().toSeq == Seq(355L))
    // a value no bloom can contain plans zero files and returns nothing
    val none = load(dir).filter($"key" === "definitely-absent")
    assert(scanOf(none).planInputPartitions().isEmpty)
    assert(none.count() == 0)
  }

  test("unfiltered COUNT/MIN/MAX answer from the manifest alone") {
    val dir = freshDir()
    buildRanged(dir)
    val q = load(dir).agg(count(lit(1)).as("n"),
      min("id").as("mn"), max("id").as("mx"))
    val scan = scanOf(q)
    assert(scan.description().contains("metadata-only"))
    assert(scan.planInputPartitions().length == 1)
    assert(q.as[(Long, Long, Long)].collect().head == ((800L, 0L, 799L)))
    // a filter forces the normal scan path (conservative skipping only)
    val filtered = load(dir).filter($"id" >= 100)
      .agg(count(lit(1)).as("n"), min("id").as("mn"))
    assert(!scanOf(filtered).description().contains("metadata-only"))
    assert(filtered.as[(Long, Long)].collect().head == ((700L, 100L)))
  }

  test("deletion vectors: COUNT stays metadata-exact, MIN/MAX fall back") {
    val dir = freshDir()
    buildRanged(dir)
    SnapshotTable.deleteVectors(spark, dir, $"id" < 5 || $"id" >= 795)
    val cnt = load(dir).agg(count(lit(1)).as("n"))
    assert(scanOf(cnt).description().contains("metadata-only"))
    assert(cnt.as[Long].collect().head == 790L)
    // stats describe the physical file; the extremum may be deleted,
    // so min/max must read data — and get the post-dv answer
    val mm = load(dir).agg(min("id").as("mn"), max("id").as("mx"))
    assert(!scanOf(mm).description().contains("metadata-only"))
    assert(mm.as[(Long, Long)].collect().head == ((5L, 794L)))
  }

  test("reported statistics drive an un-hinted broadcast join") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 50).select($"id", concat(lit("n"), $"id").as("name")),
      dir, "overwrite", Seq("id"))
    val dim = load(dir)
    val stats = dim.filter($"id" >= 0).queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 64 * 1024,
      s"manifest-derived size should be tiny, got ${stats.sizeInBytes}")
    val fact = spark.range(0, 200000).select(($"id" % 50).as("fk"))
    val joined = fact.join(dim, $"fk" === dim("id"))
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast, "tiny snapshot dim should broadcast without hints")
    assert(joined.count() == 200000)
  }

  test("batch scans and streams read structs") {
    val dir = freshDir()
    // STRUCT and DECIMAL columns read vectorized on every surface (the
    // batch scan, and the micro-batch stream, which Spark builds
    // without column pruning); primitive ARRAYS joined in round 16
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id",
        ($"id" / 4).cast("decimal(18,4)").as("d"),
        struct($"id".as("a"), ($"id" + 1).as("b")).as("st")),
      dir, "overwrite")
    // pruning to primitive columns never touches the struct
    assert(load(dir).select("id").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
    // the batch scan reads the struct whole
    assert(load(dir).select(sum($"st.b")).as[Long].collect().head ==
      (1L to 10L).sum)
    // empty projection still counts rows (no data column decoded)
    assert(load(dir).select(lit(1).as("one")).agg(sum("one")).as[Long]
      .collect().head == 10L)
    // a stream over the DV-masked table emits exactly the batch scan's
    // live rows, on a selected column and on the full row
    SnapshotTable.deleteVectors(spark, dir, $"st.a" % 3 === 0)
    val live = load(dir).collect().sortBy(_.getLong(0)).toSeq
    assert(live.map(_.getLong(0)) == Seq(1L, 2L, 4L, 5L, 7L, 8L))
    def streamed(name: String, f: DataFrame => DataFrame): Seq[Row] = {
      f(spark.readStream.format("graft_snapshot").load(dir))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-conn-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      spark.table(name).collect().toSeq.sortBy(_.getLong(0))
    }
    assert(streamed("conn_st_ids", _.select("id")).map(_.getLong(0)) ==
      live.map(_.getLong(0)))
    assert(streamed("conn_st_rows", identity) == live)
    // primitive arrays read the same way
    val adir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", array($"id", $"id" + 1).as("arr")),
      adir, "overwrite")
    assert(load(adir).select(sum(element_at($"arr", 2))).as[Long]
      .collect().head == (1L to 10L).sum)
  }

  test("runtime In-filters prune files like static filters") {
    val dir = freshDir()
    buildRanged(dir)
    val scan = scanOf(load(dir).select("id", "key"))
    assert(scan.filterAttributes().map(_.fieldNames.head).toSet ==
      Set("id", "key"))
    assert(scan.planInputPartitions().length == 8)
    // the join-driven shape: build side materialized a handful of keys
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(5L, 700L))))
    val afterRuntime = scan.planInputPartitions().length
    assert(afterRuntime == 2, s"two point keys should hit 2/8 files, got $afterRuntime")
    assert(scan.description().contains("runtimeFilters"))
    // bloom'd string keys prune the same way
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("key", Array("k5": Any))))
    assert(scan.planInputPartitions().length <= 2)
  }

  test("join-driven dynamic file pruning end-to-end") {
    val dir = freshDir()
    buildRanged(dir)
    val fact = load(dir)
    // two surviving dim keys, 400 apart → exactly 2 of the 8
    // range-partitioned files can contain them
    val dim = spark.range(0, 800).select($"id".as("k"))
      .filter($"k" % 400 === 5)
    val joined = fact.join(dim, fact("id") === dim("k"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("dynamicpruning"), "planner should inject a runtime filter")
    assert(joined.count() == 2)
    // the scan's execution-time planning (post-runtime-filter) must
    // have pruned to the 2 candidate files
    assert(graft.sources.connector.ScanTelemetry.lastPlanned(dir)
      .contains((2, 8)))
  }

  test("z-order re-layout makes the trailing dimension skippable") {
    // a 64×64 grid: linear layout sorts by x only, so every file spans
    // the full y domain and a y-filter prunes nothing; the z-layout
    // bounds each file in BOTH dimensions
    val grid = spark.range(0, 4096)
      .select(($"id" / 64).cast("long").as("x"), ($"id" % 64).as("y"))
    val linear = freshDir()
    SnapshotTable.write(spark, grid.repartitionByRange(16, $"x", $"y"),
      linear, "overwrite", Seq("x", "y"))
    val zed = freshDir()
    SnapshotTable.write(spark, grid.repartitionByRange(16, $"x", $"y"),
      zed, "overwrite", Seq("x", "y"))
    SnapshotTable.compact(spark, zed, smallRows = Long.MaxValue,
      targetRows = 256, statsCols = Seq("x", "y"),
      zorderBy = Some(("x", "y", 6)))
    def planned(dir: String) = {
      val q = load(dir).filter($"y" >= 8 && $"y" < 16)
      val m = SnapshotTable.readManifest(spark, dir,
        SnapshotTable.latestVersion(spark, dir).get)
      (scanOf(q).planInputPartitions().length, m.files.size, q.count())
    }
    val (linHit, linTotal, linRows) = planned(linear)
    val (zHit, zTotal, zRows) = planned(zed)
    assert(linRows == 512 && zRows == 512) // identical content
    assert(linHit == linTotal, "y-filter cannot prune a pure x-sort")
    assert(zHit * 2 <= zTotal,
      s"z-layout should prune at least half the files on y, got $zHit/$zTotal")
    info(s"y-range skip: linear $linHit/$linTotal, z-order $zHit/$zTotal")
  }

  test("V2 write: creates the table, appends carry, overwrite truncates") {
    val dir = freshDir()
    val a = spark.range(0, 100).select($"id", concat(lit("k"), $"id").as("key"))
    // fresh root: the write creates version 1
    a.write.format("graft_snapshot").option("statsCols", "id")
      .option("bloomCols", "key").mode("overwrite").save(dir)
    assert(load(dir).collect().map(_.toSeq).toSet ==
      a.collect().map(_.toSeq).toSet)
    spark.range(100, 130).select($"id", concat(lit("k"), $"id").as("key"))
      .write.format("graft_snapshot").option("statsCols", "id")
      .mode("append").save(dir)
    assert(load(dir).count() == 130)
    assert(SnapshotTable.scan(spark, dir).count() == 130) // programmatic parity
    spark.range(0, 7).select($"id", lit("z").as("key"))
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    assert(load(dir).count() == 7)
    assert(SnapshotTable.scan(spark, dir, Some(2)).count() == 130) // time travel survives
  }

  test("V2 write collects stats and blooms in-flight: skipping works") {
    val dir = freshDir()
    spark.range(0, 800).select($"id", concat(lit("k"), $"id").as("key"))
      .repartitionByRange(8, $"id")
      .write.format("graft_snapshot").option("statsCols", "id")
      .option("bloomCols", "key").mode("overwrite").save(dir)
    val m = SnapshotTable.readManifest(spark, dir, 1)
    assert(m.files.size == 8)
    assert(m.files.forall(fe => fe.stats.contains("id") && fe.bloom.contains("key")))
    // (min,max) written by the tasks must be exact per range partition
    assert(m.files.map(_.stats("id")).sortBy(_._1).head._1 == 0L)
    assert(m.files.map(_.stats("id")).map(_._2).max == 799L)
    val ranged = load(dir).filter($"id" >= 200 && $"id" < 300)
    assert(scanOf(ranged).planInputPartitions().length < 8)
    assert(ranged.count() == 100)
    val pointed = load(dir).filter($"key" === "k355")
    assert(scanOf(pointed).planInputPartitions().length < 8)
    assert(pointed.count() == 1)
    // the connector-written table reads identically through the
    // programmatic path (readEquals uses the same blooms)
    assert(SnapshotTable.readEquals(spark, dir, "key", "k355").count() == 1)
  }

  test("V2 write: empty partitions produce no files; evolution widens") {
    val dir = freshDir()
    spark.range(0, 3).toDF().repartition(8)
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    val m = SnapshotTable.readManifest(spark, dir, 1)
    assert(m.files.nonEmpty && m.files.forall(_.rows > 0))
    assert(load(dir).count() == 3)
    // ACCEPT_ANY_SCHEMA: an append may add a column; old files read null
    spark.range(3, 5).select($"id", lit("w").as("extra"))
      .write.format("graft_snapshot").mode("append").save(dir)
    val rows = load(dir).orderBy("id").collect()
    assert(rows.length == 5)
    assert(rows.take(3).forall(_.isNullAt(1)))
    assert(rows.drop(3).forall(_.getString(1) == "w"))
  }

  test("V2 write: misdeclared stats/bloom columns fail at planning") {
    val dir = freshDir()
    val df = spark.range(0, 5).select($"id", concat(lit("k"), $"id").as("key"),
      ($"id" * 1.5).as("d"))
    intercept[Exception](df.write.format("graft_snapshot")
      .option("statsCols", "d").mode("overwrite").save(dir)) // non-rangeable
    intercept[Exception](df.write.format("graft_snapshot")
      .option("bloomCols", "id").mode("overwrite").save(dir)) // non-string
    intercept[Exception](df.write.format("graft_snapshot")
      .option("statsCols", "nope").mode("overwrite").save(dir)) // absent
  }

  test("streaming tail: exactly-once across AvailableNow restarts") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt").toString
    val out = Files.createTempDirectory("graft-conn-out").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(10, 25).toDF(), dir, "append")
    // file sink (the memory sink cannot recover from a checkpoint)
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.parquet(out).as[Long].collect().sorted
    assert(first.toSeq == (0L until 25L))
    SnapshotTable.write(spark, spark.range(25, 30).toDF(), dir, "append")
    runOnce() // resumes from the checkpointed version offset
    val second = spark.read.parquet(out).as[Long].collect().sorted
    assert(second.toSeq == (0L until 30L), "restart must emit ONLY the new version")
  }

  test("streaming tail: startingVersion skips history") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt2").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(100, 105).toDF(), dir, "append")
    val q = spark.readStream.format("graft_snapshot")
      .option("startingVersion", 2).load(dir)
      .writeStream.format("memory").queryName("conn_stream_sv")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("conn_stream_sv").as[Long].collect().sorted.toSeq ==
      (100L until 105L))
  }

  test("schema rides the log: planning needs no footer pass, unions on evolution") {
    val dir = freshDir()
    spark.range(0, 10).select($"id", lit("a").as("s"))
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    assert(SnapshotTable.tableSchema(spark, dir, 1).fieldNames.toSeq ==
      Seq("id", "s"))
    // evolution append: recorded schema unions (old fields first)
    SnapshotTable.write(spark,
      spark.range(10, 12).select($"id", lit("b").as("s"), lit(1.5).as("w")),
      dir, "append")
    assert(SnapshotTable.tableSchema(spark, dir, 2).fieldNames.toSeq ==
      Seq("id", "s", "w"))
    // a dv commit carries the chain
    SnapshotTable.deleteVectors(spark, dir, $"id" === 3)
    assert(SnapshotTable.tableSchema(spark, dir, 3).fieldNames.toSeq ==
      Seq("id", "s", "w"))
    assert(load(dir).count() == 11)
    // restore records the restored version's schema
    SnapshotTable.restore(spark, dir, 1)
    assert(SnapshotTable.tableSchema(spark, dir, 4).fieldNames.toSeq ==
      Seq("id", "s"))
  }

  test("a pre-schema table refuses until CALL upgrade records its schema") {
    val root = Files.createTempDirectory("graft-catup").toString
    spark.conf.set("spark.sql.catalog.graftcatup",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcatup.root", root)
    val dir = s"$root/t"
    spark.range(0, 10).select($"id", lit("a").as("s"))
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    SnapshotTable.deleteVectors(spark, dir, $"id" === 3)
    // strip the schema field from both commit entries (a pre-schema log)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq(1, 2).foreach { v =>
      val entry = java.nio.file.Paths.get(dir, "_log", f"v$v%010d.json")
      val node = mapper.readTree(java.nio.file.Files.readAllBytes(entry))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      assert(node.has("schema"))
      node.remove("schema")
      java.nio.file.Files.write(entry, mapper.writeValueAsBytes(node))
    }
    SnapshotTable.invalidateResolveCache()
    def refusesNamingUpgrade(body: => Any): Unit = {
      val ex = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("upgrade")), ex)
    }
    refusesNamingUpgrade(load(dir).count())
    refusesNamingUpgrade(SnapshotTable.scan(spark, dir).count())
    refusesNamingUpgrade(SnapshotTable.write(spark,
      spark.range(10, 12).select($"id", lit("b").as("s")), dir, "append"))
    assert(SnapshotTable.latestVersion(spark, dir).contains(2L))
    // one footer pass; the same entries, deletion vector included,
    // re-commit as v3 recording the schema
    assert(spark.sql("CALL graftcatup.system.upgrade('t')").as[Long].head == 3L)
    assert(SnapshotTable.tableSchema(spark, dir, 3).fieldNames.toSeq ==
      Seq("id", "s"))
    assert(load(dir).count() == 9)
    assert(SnapshotTable.scan(spark, dir).count() == 9)
    // history before the upgrade stays schema-less
    refusesNamingUpgrade(spark.read.format("graft_snapshot")
      .option("versionAsOf", 2).load(dir).count())
    // a second upgrade adds no version
    assert(spark.sql("CALL graftcatup.system.upgrade('t')").as[Long].head == 3L)
    assert(SnapshotTable.latestVersion(spark, dir).contains(3L))
  }

  test("an append whose column type conflicts with the table's refuses at commit") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 5).select($"id", lit("a").as("s")),
      dir, "overwrite")
    val v = SnapshotTable.latestVersion(spark, dir).get
    def dataFiles = new java.io.File(dir, "data").list().toSet
    val before = dataFiles
    val ex = intercept[IllegalArgumentException](SnapshotTable.write(spark,
      spark.range(5, 7).select($"id".cast("string").as("id"), lit("b").as("s")),
      dir, "append"))
    assert(ex.getMessage.contains("'id'"), ex.getMessage)
    assert(SnapshotTable.latestVersion(spark, dir).contains(v))
    assert(dataFiles == before, "the refused append's staged files must go")
    assert(SnapshotTable.scan(spark, dir).select($"id").as[Long].collect()
      .sorted.toSeq == (0L until 5L))
  }

  test("an empty version with a recorded schema reads as an empty typed frame") {
    val dir = freshDir()
    spark.range(0, 5).select($"id", lit("x").as("s"))
      .filter(lit(false)) // zero rows
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    val viaScan = SnapshotTable.scan(spark, dir)
    assert(viaScan.schema.fieldNames.toSeq == Seq("id", "s") && viaScan.count() == 0)
    val viaConn = load(dir)
    assert(viaConn.schema.fieldNames.toSeq == Seq("id", "s") && viaConn.count() == 0)
  }

  test("SQL surface: USING temp view reads, INSERT INTO appends") {
    val dir = freshDir()
    spark.range(0, 20).select($"id", ($"id" % 3).as("m"))
      .write.format("graft_snapshot").option("statsCols", "id")
      .mode("overwrite").save(dir)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_sql " +
      s"USING graft_snapshot OPTIONS (path '$dir')")
    assert(spark.sql("SELECT count(*) AS n FROM snap_sql").as[Long]
      .collect().head == 20L)
    assert(spark.sql("SELECT sum(m) AS s FROM snap_sql WHERE id < 10")
      .as[Long].collect().head == (0 until 10).map(_ % 3).sum)
    spark.sql("INSERT INTO snap_sql SELECT id, id % 3 AS m FROM range(20, 25)")
    assert(spark.sql("SELECT count(*) AS n FROM snap_sql").as[Long]
      .collect().head == 25L)
    assert(SnapshotTable.scan(spark, dir).count() == 25) // same table underneath
  }

  test("SQL catalog: CREATE/CTAS/INSERT/time-travel/SHOW/DROP end-to-end") {
    val root = Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.root", root)
    spark.sql("CREATE NAMESPACE graftcat.ml")
    spark.sql("CREATE TABLE graftcat.ml.docs (doc_id BIGINT, txt STRING)")
    assert(spark.sql("SELECT * FROM graftcat.ml.docs").count() == 0)
    spark.sql("INSERT INTO graftcat.ml.docs " +
      "SELECT id, concat('d', id) FROM range(0, 10)")
    spark.sql("INSERT INTO graftcat.ml.docs " +
      "SELECT id, concat('d', id) FROM range(10, 15)")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat.ml.docs")
      .as[Long].head == 15L)
    // version time travel: v2 is the first INSERT (v1 = CREATE)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftcat.ml.docs VERSION AS OF 2")
      .as[Long].head == 10L)
    // timestamp time travel: the instant v2 published
    val tsMs = SnapshotTable.readManifest(spark, s"$root/ml/docs", 2).ts
    val lit = java.time.Instant.ofEpochMilli(tsMs).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftcat.ml.docs TIMESTAMP AS OF '$lit'")
      .as[Long].head == 10L)
    // INSERT OVERWRITE truncates
    spark.sql("INSERT OVERWRITE graftcat.ml.docs " +
      "SELECT id, 'x' FROM range(0, 3)")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat.ml.docs")
      .as[Long].head == 3L)
    // CTAS
    spark.sql("CREATE TABLE graftcat.ml.copy AS " +
      "SELECT * FROM graftcat.ml.docs WHERE doc_id < 2")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat.ml.copy")
      .as[Long].head == 2L)
    assert(spark.sql("SHOW TABLES IN graftcat.ml").collect()
      .map(_.getString(1)).toSet == Set("docs", "copy"))
    // the catalog is the same table format underneath
    assert(SnapshotTable.scan(spark, s"$root/ml/docs").count() == 3)
    spark.sql("DROP TABLE graftcat.ml.copy")
    assert(spark.sql("SHOW TABLES IN graftcat.ml").count() == 1)
    intercept[Exception](
      spark.sql("CREATE TABLE graftcat.ml.docs (x INT)")) // already exists
  }

  test("SQL DELETE lands as deletion vectors; TRUNCATE and ALTER ADD COLUMNS") {
    val root = Files.createTempDirectory("graft-cat2").toString
    spark.conf.set("spark.sql.catalog.graftcat2",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat2.root", root)
    spark.sql("CREATE TABLE graftcat2.t AS " +
      "SELECT id, concat('k', id) AS key FROM range(0, 100)")
    val dir = s"$root/t"
    val filesBefore = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    spark.sql("DELETE FROM graftcat2.t WHERE id % 2 = 0 OR key = 'k1'")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat2.t")
      .as[Long].head == 49L)
    // merge-on-read: the delete touched no data file
    val mAfter = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(mAfter.files.map(_.path).toSet == filesBefore)
    assert(mAfter.files.exists(_.dv.isDefined))
    // ALTER TABLE ADD COLUMNS: metadata-only, old rows read null
    spark.sql("ALTER TABLE graftcat2.t ADD COLUMNS (score DOUBLE)")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat2.t WHERE score IS NULL")
      .as[Long].head == 49L)
    // positional alignment is type-exact by design: 0.5 is decimal(1,1),
    // the column is DOUBLE — the aligner demands the explicit cast
    intercept[Exception](spark.sql(
      "INSERT INTO graftcat2.t SELECT id, concat('k', id), 0.5 FROM range(100, 103)"))
    spark.sql("INSERT INTO graftcat2.t " +
      "SELECT id, concat('k', id), CAST(0.5 AS DOUBLE) FROM range(100, 103)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftcat2.t WHERE score = 0.5")
      .as[Long].head == 3L)
    intercept[Exception](
      spark.sql("ALTER TABLE graftcat2.t ADD COLUMNS (key STRING)"))
    // TRUNCATE: one empty overwrite commit; history stays readable
    val preTruncate = SnapshotTable.latestVersion(spark, dir).get
    spark.sql("TRUNCATE TABLE graftcat2.t")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat2.t").as[Long].head == 0L)
    assert(SnapshotTable.scan(spark, dir, Some(preTruncate)).count() == 52)
  }

  test("native streaming sink: epoch-idempotent appends") {
    val src = freshDir()
    val tgt = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-wckpt").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), src, "overwrite")
    // table-to-table: the format is both the source and the sink
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(src)
        .select($"id", ($"id" * 2).as("dbl"))
        .writeStream.format("graft_snapshot")
        .option("path", tgt).option("statsCols", "id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(load(tgt).as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 10L).map(i => (i, i * 2)))
    SnapshotTable.write(spark, spark.range(10, 14).toDF(), src, "append")
    runOnce()
    assert(load(tgt).as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 14L).map(i => (i, i * 2)),
      "restart must append ONLY the new source version, exactly once")
    // sink commits are tagged per epoch; stats flowed through in-flight
    val hist = SnapshotTable.history(spark, tgt)
    assert(hist.forall(_._2.startsWith("stream-epoch-")))
    val m = SnapshotTable.readManifest(spark, tgt, hist.last._1)
    assert(m.files.forall(_.stats.contains("id")))
  }

  test("policy maintenance: purge + compact + vacuum fire on debt, no-op when healthy") {
    val dir = freshDir()
    // fragment: 6 small appends, then dv-delete a third of the rows
    (0 until 6).foreach { i =>
      SnapshotTable.write(spark, spark.range(i * 100L, i * 100L + 100L).toDF(),
        dir, if (i == 0) "overwrite" else "append", Seq("id"))
    }
    SnapshotTable.deleteVectors(spark, dir, $"id" % 3 === 0)
    val before = SnapshotTable.scan(spark, dir).as[Long].collect().sorted
    val report = SnapshotTable.maintain(spark, dir,
      SnapshotTable.MaintenancePolicy(smallFileRows = 1000L, targetRows = 1000L,
        maxSmallFiles = 4, maxDeletedRatio = 0.2, keepVersions = 3,
        vacuumMinAgeMs = 0L, statsCols = Seq("id")))
    assert(report.purged && report.compacted)
    assert(report.filesAfter < report.filesBefore)
    // vacuum truncated history (kept manifests may still reference
    // the pre-rewrite files, so data-file deletion is not guaranteed)
    assert(SnapshotTable.versions(spark, dir).size <= 3)
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.forall(_.dv.isEmpty), "purge must fold every vector in")
    // content-neutral
    assert(SnapshotTable.scan(spark, dir).as[Long].collect().sorted.toSeq ==
      before.toSeq)
    // healthy table: second pass burns no version
    val v = SnapshotTable.latestVersion(spark, dir).get
    val second = SnapshotTable.maintain(spark, dir,
      SnapshotTable.MaintenancePolicy(smallFileRows = 1000L, targetRows = 1000L,
        maxSmallFiles = 4, maxDeletedRatio = 0.2, keepVersions = 3,
        vacuumMinAgeMs = 0L))
    assert(!second.purged && !second.compacted)
    assert(SnapshotTable.latestVersion(spark, dir).get == v)
  }

  test("streaming tail: maxVersionsPerTrigger bounds each batch") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-rl").toString
    (0 until 4).foreach { i =>
      SnapshotTable.write(spark, spark.range(i * 10L, i * 10L + 10L).toDF(),
        dir, if (i == 0) "overwrite" else "append")
    }
    val q = spark.readStream.format("graft_snapshot")
      .option("maxVersionsPerTrigger", 1).load(dir)
      .writeStream.format("memory").queryName("conn_rl_sink")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("conn_rl_sink").as[Long].collect().sorted.toSeq ==
      (0L until 40L))
    // one commit per micro-batch: 4 data-carrying batches, not 1
    assert(q.recentProgress.count(_.numInputRows > 0) == 4)
  }

  test("streaming tail: non-append commits fail loudly") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt3").toString
    val out = Files.createTempDirectory("graft-conn-out3").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    SnapshotTable.write(spark, spark.range(50, 55).toDF(), dir, "overwrite")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runOnce())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("append-only")))
  }

  test("CALL procedures: purge/compact/restore/vacuum/maintain via SQL") {
    val root = Files.createTempDirectory("graft-cat7").toString
    spark.conf.set("spark.sql.catalog.graftcat7",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat7.root", root)
    spark.sql("CREATE TABLE graftcat7.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 100)")
    spark.sql("INSERT INTO graftcat7.t " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(100, 200)")
    spark.sql("DELETE FROM graftcat7.t WHERE id % 2 = 0")
    val dir = s"$root/t"
    def m() = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m().files.exists(_.dv.isDefined))
    // purge folds the vectors in and reports the new version
    val purgedV = spark.sql(
      "CALL graftcat7.system.purge_deletes('t')").collect()
    assert(purgedV.head.getLong(0) ==
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m().files.forall(_.dv.isEmpty))
    assert(spark.sql("SELECT count(*) AS n FROM graftcat7.t")
      .as[Long].head == 100L)
    // compact bin-packs the small files
    val nBefore = m().files.length
    spark.sql("CALL graftcat7.system.compact('t', 1000000, 1000000)")
    assert(m().files.length < nBefore)
    assert(spark.sql("SELECT count(*) AS n FROM graftcat7.t")
      .as[Long].head == 100L)
    // restore rolls back to the 200-row version (atomic CTAS = v1,
    // INSERT = v2)
    val restored = spark.sql(
      "CALL graftcat7.system.restore('t', 2)").collect()
    assert(restored.head.getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) AS n FROM graftcat7.t")
      .as[Long].head == 200L)
    // vacuum with keep 1 / age 0 reclaims the dead layout
    val swept = spark.sql(
      "CALL graftcat7.system.vacuum('t', 1, 0)").collect()
    assert(swept.head.getInt(0) > 0)
    assert(spark.sql("SELECT count(*) AS n FROM graftcat7.t")
      .as[Long].head == 200L)
    // maintain: first pass may compact the restored small files;
    // the second pass must be a reported no-op. The optional
    // analyze_drift_pct parameter defaults (1-arg CALL) and tunes
    // (2-arg CALL) — never-analyzed table, so stats never refresh.
    spark.sql("CALL graftcat7.system.maintain('t')").collect()
    val rep = spark.sql("CALL graftcat7.system.maintain('t')").collect()
    assert(!rep.head.getBoolean(0) && !rep.head.getBoolean(1))
    val rep2 = spark.sql(
      "CALL graftcat7.system.maintain('t', 0.25)").collect()
    assert(!rep2.head.getAs[Boolean]("stats_refreshed"),
      "never-analyzed table must not report a stats refresh")
    // the round-18 index columns default inert on an index-less table
    assert(rep2.head.getAs[Int]("indexes_refreshed") == 0)
    assert(rep2.head.getAs[String]("index_rebuild_recommended") == "")
    assert(rep2.head.getAs[String]("index_errors") == "")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat7.t")
      .as[Long].head == 200L)
    // unknown procedure fails loudly
    val e = intercept[Exception](
      spark.sql("CALL graftcat7.system.nope('t')"))
    assert(e.getMessage.contains("no such procedure") ||
      Option(e.getCause).exists(_.getMessage.contains("no such procedure")))
  }

  test("TBLPROPERTIES persist layout defaults; SQL INSERT inherits them") {
    val root = Files.createTempDirectory("graft-cat8").toString
    spark.conf.set("spark.sql.catalog.graftcat8",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat8.root", root)
    spark.sql("""CREATE TABLE graftcat8.t (id BIGINT, v DOUBLE)
                |TBLPROPERTIES('statsCols'='id', 'clusterBy'='id',
                |              'clusterPartitions'='4')""".stripMargin)
    spark.sql("INSERT INTO graftcat8.t " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 10000)")
    val dir = s"$root/t"
    def ranges() = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
      .files.flatMap(_.stats.get("id")).sortBy(_._1)
    // SQL INSERT carried no writer options, yet the files have stats
    // AND disjoint clustered ranges — the properties did it
    val rs = ranges()
    assert(rs.length == 4)
    rs.sliding(2).foreach {
      case Seq((_, prevMax), (mn, _)) => assert(mn > prevMax)
      case _ =>
    }
    // visible to SHOW TBLPROPERTIES; survives catalog re-resolution
    val shown = spark.sql("SHOW TBLPROPERTIES graftcat8.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("statsCols").contains("id"))
    assert(shown.get("clusterBy").contains("id"))
    // ALTER SET/UNSET rewires future writes
    spark.sql("ALTER TABLE graftcat8.t SET TBLPROPERTIES('clusterPartitions'='2')")
    spark.sql("ALTER TABLE graftcat8.t UNSET TBLPROPERTIES('clusterBy')")
    spark.sql("INSERT INTO graftcat8.t " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(10000, 20000)")
    val rs2 = ranges()
    assert(rs2.length > 4, "second insert adds unclustered files")
    assert(spark.sql("SELECT count(*) AS n FROM graftcat8.t")
      .as[Long].head == 20000L)
    // explicit writer option still wins over the property
    spark.range(20000, 20100).toDF("id")
      .withColumn("v", $"id".cast("double"))
      .write.format("graft_snapshot").option("path", dir)
      .option("statsCols", "").mode("append").save()
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.exists(_.stats.isEmpty), "override suppressed stats")
  }

  test("metadata tables: t.history and t.files answer from the log") {
    val root = Files.createTempDirectory("graft-cat6").toString
    spark.conf.set("spark.sql.catalog.graftcat6",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat6.root", root)
    spark.sql("CREATE TABLE graftcat6.t AS " +
      "SELECT id, concat('k', id) AS key FROM range(0, 100)")
    spark.sql("DELETE FROM graftcat6.t WHERE id % 4 = 0")
    val hist = spark.sql(
      "SELECT version, op, row_count, dv_rows FROM graftcat6.t.history " +
        "ORDER BY version").collect()
    // CTAS is ATOMIC since the staging surface landed: one `ctas`
    // version carrying the query result, not create + append
    assert(hist.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq ==
      Seq((1L, "ctas", 100L, 0L), (2L, "delete-dv", 75L, 25L)))
    // files reflects the CURRENT version's layout, dv attribution incl.
    val files = spark.sql(
      "SELECT path, rows, live_rows, dv_rows FROM graftcat6.t.files").collect()
    assert(files.map(_.getLong(1)).sum == 100L)
    assert(files.map(_.getLong(2)).sum == 75L)
    assert(files.map(_.getLong(3)).sum == 25L)
    val m = SnapshotTable.readManifest(spark, s"$root/t",
      SnapshotTable.latestVersion(spark, s"$root/t").get)
    assert(files.map(_.getString(0)).toSet == m.files.map(_.path).toSet)
    // stats surface: a stats-carrying table exposes per-column ranges
    val dir2 = s"$root/t2"
    SnapshotTable.write(spark,
      spark.range(0, 1000).toDF("id").repartitionByRange(4, $"id"),
      dir2, "overwrite", Seq("id"))
    val stats = spark.sql(
      "SELECT stats['id'][0] AS mn, stats['id'][1] AS mx " +
        "FROM graftcat6.t2.files ORDER BY mn").collect()
    assert(stats.length == 4)
    assert(stats.head.getLong(0) == 0L && stats.last.getLong(1) == 999L)
    // unknown metadata name / missing parent still NoSuchTable
    intercept[Exception](spark.sql("SELECT * FROM graftcat6.t.nope"))
    intercept[Exception](spark.sql("SELECT * FROM graftcat6.missing.history"))
  }

  test("streaming upsert sink: per-epoch dv merge, idempotent re-drains") {
    val src = freshDir()
    val tgt = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-upsert").toString
    SnapshotTable.write(spark,
      spark.range(0, 10).toDF("id").withColumn("v", $"id"), src, "overwrite")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(src)
        .writeStream.format("graft_snapshot")
        .option("path", tgt).option("mergeKey", "id")
        .option("statsCols", "id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(load(tgt).as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 10L).map(i => (i, i)))
    // epoch 2: replace 5-9, insert 10-14
    SnapshotTable.write(spark,
      spark.range(5, 15).toDF("id").withColumn("v", $"id" * 10), src, "append")
    runOnce()
    assert(load(tgt).as[(Long, Long)].collect().sorted.toSeq ==
      (0L until 5L).map(i => (i, i)) ++ (5L until 15L).map(i => (i, i * 10)))
    // the upsert was merge-on-read: dv over the matched file, the
    // original data files all still referenced
    val m = SnapshotTable.readManifest(spark, tgt,
      SnapshotTable.latestVersion(spark, tgt).get)
    assert(m.op.startsWith("stream-epoch-"))
    assert(m.files.exists(_.dv.isDefined))
    // nothing new to drain: no version burned
    val vBefore = SnapshotTable.latestVersion(spark, tgt).get
    runOnce()
    assert(SnapshotTable.latestVersion(spark, tgt).get == vBefore)
    // misdeclared merge key fails at planning
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft_snapshot").load(src)
        .writeStream.format("graft_snapshot")
        .option("path", freshDir()).option("mergeKey", "nope")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-conn-upsert2").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("mergeKey column nope")))
  }

  test("clusterBy write: disjoint per-file ranges, point reads plan one file") {
    def ranges(dir: String): Seq[(Long, Long)] =
      SnapshotTable.readManifest(spark, dir,
        SnapshotTable.latestVersion(spark, dir).get)
        .files.flatMap(_.stats.get("id")).sortBy(_._1)
    def straddling(dir: String, v: Long): Int =
      ranges(dir).count { case (mn, mx) => mn <= v && v <= mx }
    // adversarial layout: round-robin shuffle interleaves the key
    // space, so every file's (min,max) covers nearly everything
    val df = spark.range(0, 100000).toDF("id")
      .withColumn("v", $"id" * 2).repartition(8)
    val plain = freshDir()
    df.write.format("graft_snapshot").option("path", plain)
      .option("statsCols", "id").mode("overwrite").save()
    assert(straddling(plain, 54321L) == 8) // stats present but useless
    // clustered write: the WRITE requests a range distribution + sort
    // (RequiresDistributionAndOrdering), Spark inserts the exchange
    val clustered = freshDir()
    df.write.format("graft_snapshot").option("path", clustered)
      .option("statsCols", "id").option("clusterBy", "id")
      .option("clusterPartitions", "8").mode("overwrite").save()
    val rs = ranges(clustered)
    assert(rs.length == 8)
    rs.sliding(2).foreach {
      case Seq((_, prevMax), (mn, _)) => assert(mn > prevMax)
      case _ =>
    }
    assert(straddling(clustered, 54321L) == 1) // point read: one file
    // identical content either way
    assert(load(clustered).agg(org.apache.spark.sql.functions.sum("v"))
      .head.getLong(0) == load(plain).agg(
      org.apache.spark.sql.functions.sum("v")).head.getLong(0))
    // misdeclared cluster column fails at planning
    intercept[Exception](df.write.format("graft_snapshot")
      .option("path", freshDir()).option("clusterBy", "nope")
      .mode("overwrite").save())
  }

  test("SQL UPDATE lands as a dv + post-image commit, no file rewritten") {
    val root = Files.createTempDirectory("graft-cat3").toString
    spark.conf.set("spark.sql.catalog.graftcat3",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat3.root", root)
    spark.sql("CREATE TABLE graftcat3.u AS " +
      "SELECT id, id % 5 AS grp, CAST(id AS DOUBLE) AS v FROM range(0, 100)")
    val dir = s"$root/u"
    val filesBefore = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    spark.sql("UPDATE graftcat3.u SET v = v * 10 WHERE grp = 2")
    // merge-on-read: every pre-update data file is still in the
    // manifest (matched rows masked by dv, post-images appended)
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.op == "update-dv")
    assert(filesBefore.subsetOf(m.files.map(_.path).toSet))
    assert(m.files.exists(_.dv.isDefined))
    assert(spark.sql("SELECT count(*) AS n FROM graftcat3.u")
      .as[Long].head == 100L)
    val expect = (0L until 100L).map(i => if (i % 5 == 2) i * 10.0 else i.toDouble).sum
    assert(spark.sql("SELECT sum(v) AS s FROM graftcat3.u")
      .as[Double].head == expect)
    // unassigned columns carry over
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftcat3.u WHERE grp = 2 AND v = id * 10")
      .as[Long].head == 20L)
  }

  test("SQL MERGE INTO upserts through the deletion-vector merge") {
    val root = Files.createTempDirectory("graft-cat4").toString
    spark.conf.set("spark.sql.catalog.graftcat4",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat4.root", root)
    spark.sql("CREATE TABLE graftcat4.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 50) WHERE id % 2 = 0")
    val dir = s"$root/t"
    val filesBefore = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    spark.sql("""MERGE INTO graftcat4.t AS tgt
                |USING (SELECT id, CAST(id * 100 AS DOUBLE) AS v
                |       FROM range(0, 50) WHERE id % 3 = 0) AS src
                |ON tgt.id = src.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.op == "merge-dv")
    assert(filesBefore.subsetOf(m.files.map(_.path).toSet))
    val got = spark.sql("SELECT id, v FROM graftcat4.t")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val want = ((0L until 50L).filter(_ % 2 == 0) ++
      (0L until 50L).filter(i => i % 2 != 0 && i % 3 == 0)).sorted
      .map(i => (i, if (i % 3 == 0) i * 100.0 else i.toDouble))
    assert(got == want)
    // explicit column lists equivalent to * are accepted too
    spark.sql("""MERGE INTO graftcat4.t AS tgt
                |USING (SELECT id, CAST(0 AS DOUBLE) AS v
                |       FROM range(100, 102)) AS src
                |ON tgt.id = src.id
                |WHEN MATCHED THEN UPDATE SET id = src.id, v = src.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)
                |""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graftcat4.t WHERE id >= 100")
      .as[Long].head == 2L)
  }

  test("SQL MERGE UPDATE SET * / INSERT * commits what mergeVectors commits") {
    val root = Files.createTempDirectory("graft-cat12").toString
    spark.conf.set("spark.sql.catalog.graftcat12",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat12.root", root)
    SnapshotTable.write(spark, spark.range(0, 4000)
      .select($"id", ($"id" % 97).as("v")).repartitionByRange(8, $"id"),
      s"$root/a", "overwrite", Seq("id"))
    SnapshotTable.cloneTable(spark, s"$root/a", s"$root/b", deep = true)
    // matches every 7th id below 3000 (some files untouched), inserts
    // 4000..4049
    val updates = spark.range(0, 3000).filter($"id" % 7 === 0)
      .union(spark.range(4000, 4050)).select($"id", ($"id" * 10).as("v"))
    SnapshotTable.mergeVectors(spark, s"$root/a", updates, "id")
    updates.createOrReplaceTempView("merge_equiv_src")
    spark.sql("""MERGE INTO graftcat12.b AS tgt USING merge_equiv_src AS src
                |ON tgt.id = src.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // per data file (named by its smallest id): the vector's cardinality
    def vectors(t: String): Map[Long, Long] = {
      val m = SnapshotTable.readManifest(spark, s"$root/$t",
        SnapshotTable.latestVersion(spark, s"$root/$t").get)
      assert(m.op == "merge-dv")
      m.files.filter(_.dv.isDefined)
        .map(fe => fe.stats("id")._1 -> fe.dv.get.rows).toMap
    }
    assert(vectors("a").nonEmpty && vectors("a") == vectors("b"))
    assert(vectors("a").values.sum == 429L)
    def rows(t: String) = SnapshotTable.scan(spark, s"$root/$t")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rows("a") == rows("b"))
    assert(rows("a").size == 4050)
  }

  test("SQL MERGE UPDATE SET * / INSERT * inserts each unmatched duplicate; mergeVectors refuses") {
    val root = Files.createTempDirectory("graft-cat13").toString
    spark.conf.set("spark.sql.catalog.graftcat13",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat13.root", root)
    val dir = s"$root/t"
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", $"id".as("v")), dir, "overwrite")
    val dupes = Seq((3L, 30L), (100L, 1L), (100L, 2L)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.mergeVectors(spark, dir, dupes, "id"))
    assert(e.getMessage.contains("cardinality"))
    assert(SnapshotTable.latestVersion(spark, dir).contains(1L))
    // the SQL shape lowers like every other MERGE: the two unmatched
    // rows of key 100 each insert
    dupes.createOrReplaceTempView("merge_dupes_src")
    spark.sql("""MERGE INTO graftcat13.t AS tgt USING merge_dupes_src AS src
                |ON tgt.id = src.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(SnapshotTable.scan(spark, dir).filter($"id" === 3 || $"id" === 100)
      .as[(Long, Long)].collect().sorted.toSeq == Seq((3L, 30L), (100L, 1L), (100L, 2L)))
  }

  test("general MERGE: conditional, partial, DELETE, NOT MATCHED BY SOURCE") {
    val root = Files.createTempDirectory("graft-cat9").toString
    spark.conf.set("spark.sql.catalog.graftcat9",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat9.root", root)
    spark.sql("CREATE TABLE graftcat9.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v, 'keep' AS s FROM range(0, 20)")
    val dir = s"$root/t"
    val filesBefore = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    spark.sql(
      """MERGE INTO graftcat9.t AS tgt
        |USING (SELECT id AS k, CAST(id * 10 AS DOUBLE) AS nv
        |       FROM range(10, 30)) AS src
        |ON tgt.id = src.k
        |WHEN MATCHED AND src.k % 2 = 0 THEN UPDATE SET v = src.nv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND src.k < 25
        |  THEN INSERT (id, v) VALUES (src.k, src.nv)
        |WHEN NOT MATCHED BY SOURCE AND tgt.id < 3 THEN UPDATE SET s = 'old'
        |WHEN NOT MATCHED BY SOURCE AND tgt.id = 5 THEN DELETE
        |""".stripMargin)
    // merge-on-read: zero data files rewritten
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.op == "merge-dv")
    assert(filesBefore.subsetOf(m.files.map(_.path).toSet))
    val got = spark.sql("SELECT id, v, s FROM graftcat9.t ORDER BY id")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.getString(2)))).toSeq
    val want: Seq[(Long, Option[Double], Option[String])] =
      // unmatched target [0,10): 0-2 flagged 'old', 5 deleted
      ((0L until 10L).filterNot(_ == 5L).map(i =>
        (i, Some(i.toDouble), Some(if (i < 3) "old" else "keep"))) ++
        // matched [10,20): even keep v=id*10 + carried s, odd deleted
        (10L until 20L).filter(_ % 2 == 0).map(i =>
          (i, Some(i * 10.0), Some("keep"))) ++
        // inserts [20,25): unassigned s is NULL
        (20L until 25L).map(i => (i, Some(i * 10.0), None))).sortBy(_._1)
    assert(got == want)
    // duplicate source rows that MODIFY one target row: cardinality
    val e = intercept[Exception](spark.sql(
      """MERGE INTO graftcat9.t AS tgt
        |USING (SELECT CAST(id AS BIGINT) AS k FROM VALUES 3, 3, 4 AS x(id)) AS src
        |ON tgt.id = src.k
        |WHEN MATCHED THEN UPDATE SET s = 'dup'
        |""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cardinality")))
    // ...but duplicate source rows that only INSERT are legal (each
    // inserts — Delta semantics), and an insert-only merge works
    spark.sql(
      """MERGE INTO graftcat9.t AS tgt
        |USING (SELECT CAST(id AS BIGINT) AS k FROM VALUES 100, 100 AS x(id)) AS src
        |ON tgt.id = src.k
        |WHEN NOT MATCHED THEN INSERT (id) VALUES (src.k)
        |""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graftcat9.t WHERE id = 100")
      .as[Long].head == 2L)
  }

  test("a DV commit rewrites only the touched files' pointers") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      // 16 slices of 1000 consecutive ids: a sampled range partition
      // moves its bounds with the RDD ids the JVM handed out before
      spark.range(0, 16000, 1, 16).toDF("id").withColumn("v", $"id" % 1000),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"id" % 100 === 7)
    val m1 = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m1.files.size == 16 && m1.files.forall(_.dv.isDefined))
    // ids below 2000 live in the first two of the 16 range files
    val v2 = SnapshotTable.deleteVectors(spark, dir, $"id" < 2000 && $"id" % 10 === 3)
    val m2 = SnapshotTable.readManifest(spark, dir, v2)
    val before = m1.files.map(fe => fe.path -> fe.dv).toMap
    val (changed, same) = m2.files.partition(fe => before(fe.path) != fe.dv)
    assert(changed.size == 2 && same.size == 14,
      s"${changed.size} pointers changed, ${same.size} kept")
    // the new DV file holds exactly the two touched vectors: the
    // format byte, then each vector and its 4-byte CRC
    val dvFile = changed.head.dv.get.path
    assert(changed.forall(_.dv.get.path == dvFile))
    assert(m2.files.count(_.dv.exists(_.path == dvFile)) == 2)
    val len = new org.apache.hadoop.fs.Path(s"$dir/$dvFile")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$dvFile")).getLen
    assert(len == 1 + changed.map(_.dv.get.size + 4).sum)
    // each touched vector is its prior deletions plus the fresh ones
    assert(changed.map(fe => fe.dv.get.rows - before(fe.path).get.rows).sum == 200)
    assert(load(dir).count() ==
      spark.range(0, 16000).filter(!($"id" % 100 === 7) &&
        !($"id" < 2000 && $"id" % 10 === 3)).count())
  }

  test("a retired (file, pos) sidecar refuses reads and writes until upgrade converts it") {
    val dir = freshDir()
    val base = spark.range(0, 400).select($"id", ($"id" * 3).as("v"))
    SnapshotTable.write(spark, base.repartitionByRange(4, $"id"), dir,
      "overwrite", Seq("id"))
    val v2 = legacyDv(dir, positionsOf(dir, $"id" % 7 === 3))
    refusesNamingUpgrade(load(dir).count())
    refusesNamingUpgrade(SnapshotTable.scan(spark, dir).count())
    refusesNamingUpgrade(SnapshotTable.deleteVectors(spark, dir, $"id" === 1))
    refusesNamingUpgrade(SnapshotTable.write(spark, base.limit(1), dir, "append"))
    assert(SnapshotTable.latestVersion(spark, dir).contains(v2))
    // one upgrade version: every vector becomes a bitmap in one DV file
    val v3 = SnapshotTable.upgrade(spark, dir)
    assert(v3 == v2 + 1)
    val dvs = SnapshotTable.readManifest(spark, dir, v3).files.flatMap(_.dv)
    assert(dvs.size == 4 && dvs.forall(!_.legacy) && dvs.map(_.path).distinct.size == 1)
    val model = base.filter(!($"id" % 7 === 3)).as[(Long, Long)].collect().sorted.toSeq
    assert(SnapshotTable.scan(spark, dir).as[(Long, Long)].collect().sorted.toSeq == model)
    assert(load(dir).as[(Long, Long)].collect().sorted.toSeq == model)
    // a second upgrade adds no version; DML works again
    assert(SnapshotTable.upgrade(spark, dir) == v3)
    SnapshotTable.deleteVectors(spark, dir, $"id" === 1)
    assert(load(dir).count() == model.size - 1)
  }

  test("a refused insert-only clause MERGE leaves no staged file in data/") {
    import SnapshotTable.MergeInsertClause
    val dir = freshDir()
    val base = spark.range(0, 400).select($"id", ($"id" * 3).as("v"))
    SnapshotTable.write(spark, base.repartitionByRange(4, $"id"), dir,
      "overwrite", Seq("id"))
    val v2 = legacyDv(dir, positionsOf(dir, $"id" % 7 === 3))
    def dataFiles = new java.io.File(s"$dir/data").list().toSet
    val before = dataFiles
    // keys past every file's range: nothing is scanned, the inserts
    // stage, and the commit refuses the retired sidecar
    refusesNamingUpgrade(SnapshotTable.mergeClauses(spark, dir,
      spark.range(1000, 1010).select($"id".as("k"), ($"id" * 3).as("nv")),
      "id", $"k", matched = Nil,
      notMatched = Seq(MergeInsertClause(None, Seq("id" -> $"k", "v" -> $"nv")))))
    assert(SnapshotTable.latestVersion(spark, dir).contains(v2))
    assert(dataFiles == before, s"left behind: ${dataFiles -- before}")
  }

  test("a DV file lives while any kept entry points into it; clones and branches read it") {
    val dir = freshDir()
    val base = spark.range(0, 8000).select($"id", ($"id" % 10).as("d"))
    SnapshotTable.write(spark, base.repartitionByRange(8, $"id"), dir,
      "overwrite", Seq("id"))
    // ids i*1000 .. i*1000+999 live in range file i
    val pA = $"id" < 4000 && $"d" === 1 // files 0-3
    val pF = $"id".between(6000, 6999) && $"d" === 5 // file 6, on a branch
    val pB = $"id" >= 4000 && $"d" === 2 // files 4-7
    val pC = $"id".between(4000, 4999) && $"d" === 3 // file 4
    val pD = $"id".between(4000, 4999) && $"d" === 4 // file 4 again
    def ids(df: DataFrame) = df.select("id").as[Long].collect().sorted.toSeq
    def model(ps: org.apache.spark.sql.Column*) = ids(base.filter(!ps.reduce(_ || _)))
    def dvFiles(v: Long) = SnapshotTable.readManifest(spark, dir, v).files
      .flatMap(_.dv.map(_.path)).toSet
    def exists(rel: String) = new java.io.File(s"$dir/$rel").exists
    val v2 = SnapshotTable.deleteVectors(spark, dir, pA)
    // a shallow and a deep clone and a branch, between the DV commits
    val shallow = s"${freshDir()}/t"
    val deep = s"${freshDir()}/t"
    SnapshotTable.cloneTable(spark, dir, shallow)
    SnapshotTable.cloneTable(spark, dir, deep, deep = true)
    SnapshotTable.createBranch(spark, dir, "dev")
    val bdir = SnapshotTable.branchDir(dir, "dev")
    SnapshotTable.deleteVectors(spark, bdir, pF)
    assert(ids(SnapshotTable.scan(spark, bdir)) == model(pA, pF))
    // main takes the branch's vector; the branch re-points at main
    SnapshotTable.fastForward(spark, dir, "dev")
    assert(ids(SnapshotTable.scan(spark, dir)) == model(pA, pF))
    assert(ids(SnapshotTable.scan(spark, bdir)) == model(pA, pF))
    val v4 = SnapshotTable.deleteVectors(spark, dir, pB)
    SnapshotTable.createTag(spark, dir, "mid", Some(v4))
    val v5 = SnapshotTable.deleteVectors(spark, dir, pC)
    val v6 = SnapshotTable.deleteVectors(spark, dir, pD)
    val fileA = dvFiles(v2)
    val fileC = dvFiles(v5) -- dvFiles(v4)
    assert(fileA.size == 1 && fileC.size == 1)
    // files 0-3 still point into the first commit's DV file; only v5
    // pointed into C's
    assert(fileA.subsetOf(dvFiles(v6)) && !fileC.subsetOf(dvFiles(v6)))
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(fileA.forall(exists), "a DV file that kept entries point into was vacuumed")
    assert((dvFiles(v4) ++ dvFiles(v6)).forall(exists))
    assert(!fileC.exists(exists), "an unreferenced DV file survived vacuum")
    assert(ids(SnapshotTable.scan(spark, dir)) == model(pA, pF, pB, pC, pD))
    assert(ids(spark.read.format("graft_snapshot").option("versionAsOf", "mid")
      .load(dir)) == model(pA, pF, pB))
    assert(ids(SnapshotTable.scan(spark, shallow)) == model(pA))
    assert(ids(SnapshotTable.scan(spark, deep)) == model(pA))
  }

  test("a DV file with one flipped byte refuses the read") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 1000).toDF("id").coalesce(1),
      dir, "overwrite")
    val v = SnapshotTable.deleteVectors(spark, dir, $"id" % 10 === 1)
    val dv = SnapshotTable.readManifest(spark, dir, v).files.head.dv.get
    val f = new java.io.File(s"$dir/${dv.path}")
    // the local filesystem's own checksum file would refuse first
    new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      val at = dv.offset + dv.size / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0x10)
    } finally raf.close()
    // collect, not count: a count is answered from the manifest
    val ex = intercept[Exception](load(dir).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("CRC32")), ex)
  }

  test("fresh positions a prior vector already holds refuse; duplicates across tasks raise") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 100).toDF("id").coalesce(1),
      dir, "overwrite")
    val v = SnapshotTable.deleteVectors(spark, dir, $"id" < 10)
    val m = SnapshotTable.readManifest(spark, dir, v)
    val file = new org.apache.hadoop.fs.Path(m.files.head.path).getName
    val e = intercept[IllegalStateException](SnapshotTable.stageVectors(spark,
      dir, m, Seq((file, 5L), (file, 50L)).toDF("file", "pos")))
    assert(e.getMessage.contains("already deleted"))
    // one target row, two source images, each in its own task
    val twoTasks = spark.createDataFrame(spark.sparkContext
      .parallelize(Seq((file, 50L), (file, 50L)), 2)).toDF("file", "pos")
    assert(twoTasks.rdd.glom().collect().map(_.length).toSeq == Seq(1, 1))
    val dup = intercept[IllegalArgumentException](SnapshotTable.stageVectors(
      spark, dir, m, twoTasks, failOnDuplicate = true))
    assert(dup.getMessage.contains("cardinality"))
    // the same duplicate inside one task raises too
    intercept[IllegalArgumentException](SnapshotTable.stageVectors(
      spark, dir, m, twoTasks.coalesce(1), failOnDuplicate = true))
    // a position an int cannot key refuses
    val far = intercept[Exception](SnapshotTable.stageVectors(spark, dir, m,
      Seq((file, 1L << 31)).toDF("file", "pos")))
    assert(Iterator.iterate[Throwable](far)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("2^31")), far)
    // nothing was published by the refusals
    assert(SnapshotTable.latestVersion(spark, dir).contains(v))
    assert(SnapshotTable.scan(spark, dir).count() == 90)
  }

  test("pushed predicates prune pages inside a dv-carrying file; mask stays exact") {
    import graft.sources.connector.SnapshotPartitions
    val dir = freshDir()
    // ONE sorted 500k-row file with a wide payload: the id column
    // index spans several pages, so a selective filter can prune
    // inside the file (manifest skipping can't help a single file)
    SnapshotTable.write(spark,
      spark.range(0, 500000).toDF("id")
        .withColumn("pay", concat(lit("p"), lpad($"id".cast("string"), 18, "0")))
        .repartitionByRange(1, $"id"),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"id" % 100000 === 7) // 5 rows
    SnapshotPartitions.columnarRowsDecoded.reset()
    val top = load(dir).filter($"id" >= 499000).select("id", "pay").collect()
    assert(top.length == 1000 && top.forall(_.getLong(0) >= 499000))
    val decoded = SnapshotPartitions.columnarRowsDecoded.sum()
    assert(decoded < 250000,
      s"pushed FilterPredicates should page-prune the dv leg: decoded " +
        s"$decoded of 500000 rows for a 1000-row slice")
    // position exactness UNDER pruning: a pruned read whose range
    // contains a deleted position must still mask exactly that row
    // (row indexes come from Spark's generator, not a running counter)
    val mid = load(dir).filter($"id".between(400000, 400014))
      .select("id").as[Long].collect().sorted.toSeq
    assert(mid == (400000L to 400014L).filterNot(_ == 400007L),
      "dv mask must key file-absolute row indexes under page pruning")
  }

  test("masked vector: numNulls is exact, not the delegate's superset") {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.types.IntegerType
    val raw = new OnHeapColumnVector(5, IntegerType)
    // [null, 1, null, 3, null] — delete row 2 (a null), keeping nulls
    // on both sides of the deleted position
    raw.putNull(0); raw.putInt(1, 1); raw.putNull(2)
    raw.putInt(3, 3); raw.putNull(4)
    val masked = new graft.sources.connector.PositionMaskedColumnVector(
      raw, Array(0, 1, 3, 4, -1 /* slack beyond live, never read */), 4)
    assert(masked.numNulls() == 2, "count the MASKED rows, not the raw batch")
    assert(raw.numNulls() == 3)
    assert(masked.isNullAt(0) && !masked.isNullAt(1) &&
      !masked.isNullAt(2) && masked.isNullAt(3))
    assert(masked.getInt(1) == 1 && masked.getInt(2) == 3)
    raw.close()
  }

  test("streaming tail: vacuum past the checkpoint fails the restart loudly") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt4").toString
    val out = Files.createTempDirectory("graft-conn-out4").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(10, 20).toDF(), dir, "append")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // checkpoint now holds offset v2
    SnapshotTable.write(spark, spark.range(20, 30).toDF(), dir, "append")
    SnapshotTable.write(spark, spark.range(30, 40).toDF(), dir, "append")
    // vacuum keeps only v4: versions (2, 3] the stream never read are gone
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runOnce())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("predates the earliest retained")),
      "silently re-emitting the whole table would duplicate rows")
  }

  test("vacuum to exactly checkpoint+1 fails the restart (offset marker)") {
    // the boundary the bare-long offset could not express: versions
    // 1..3, stream checkpointed through v2, vacuum retains only v3 —
    // the resumed offset equals earliest-1, which is ALSO what a fresh
    // initial offset looks like. The offset's initial marker breaks
    // the tie; without it the base is treated as empty and every file
    // surviving into v3 re-emits as a duplicate.
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt5").toString
    val out = Files.createTempDirectory("graft-conn-out5").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(10, 20).toDF(), dir, "append")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce() // checkpoint now holds offset v2
    SnapshotTable.write(spark, spark.range(20, 30).toDF(), dir, "append")
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotTable.versions(spark, dir) == Seq(3L)) // earliest = 3
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runOnce())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("predates the earliest retained")))
    // and a FRESH stream of the same table (offset genuinely initial,
    // same numeric value) still starts fine
    val ckpt2 = Files.createTempDirectory("graft-conn-ckpt6").toString
    val out2 = Files.createTempDirectory("graft-conn-out6").toString
    val q2 = spark.readStream.format("graft_snapshot").load(dir)
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).count() == 30)
  }

  test("a bare-long stream offset refuses to parse") {
    intercept[IllegalStateException](
      graft.sources.connector.VersionOffset.parse("3"))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table with assigned columns") {
    val root = Files.createTempDirectory("graft-catD").toString
    spark.conf.set("spark.sql.catalog.graftcatd",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcatd.root", root)
    spark.sql("CREATE TABLE graftcatd.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 10)")
    // star form: the new source column `tag` joins the table; matched
    // rows take it from the source, untouched rows read null
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftcatd.t AS tgt
        |USING (SELECT id, CAST(id * 10 AS DOUBLE) AS v,
        |              concat('s', id) AS tag
        |       FROM range(5, 15)) AS src
        |ON tgt.id = src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, v, tag FROM graftcatd.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)))).toSeq
    val want = (0L until 5L).map(i => (i, i.toDouble, None)) ++
      (5L until 15L).map(i => (i, i * 10.0, Some(s"s$i")))
    assert(got == want)
    // explicit partial assignment of a new column evolves too
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftcatd.t AS tgt
        |USING (SELECT id, id * 100 AS score FROM range(0, 3)) AS src
        |ON tgt.id = src.id
        |WHEN MATCHED THEN UPDATE SET score = src.score
        |""".stripMargin)
    assert(spark.sql("SELECT sum(score) AS s FROM graftcatd.t")
      .as[Long].head == 0L + 100L + 200L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftcatd.t WHERE score IS NULL")
      .as[Long].head == 12L)
    // WITHOUT the clause, a new column stays a loud error
    val e = intercept[Exception](spark.sql(
      """MERGE INTO graftcatd.t AS tgt
        |USING (SELECT id, id AS brand_new FROM range(0, 3)) AS src
        |ON tgt.id = src.id
        |WHEN MATCHED THEN UPDATE SET brand_new = src.brand_new
        |""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("unknown column") ||
      m.contains("cannot resolve")))
  }

  test("ignoreDeletes: stream tails past dv deletes; loud default stays") {
    val dir = freshDir()
    val ckpt = Files.createTempDirectory("graft-conn-ckpt7").toString
    val out = Files.createTempDirectory("graft-conn-out7").toString
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(10, 20).toDF(), dir, "append")
    def drain(ignore: Boolean): Unit = {
      val r = spark.readStream.format("graft_snapshot")
      val q = (if (ignore) r.option("ignoreDeletes", "true") else r)
        .load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(ignore = false)
    assert(spark.read.parquet(out).count() == 20)
    // a GDPR-style dv delete lands; the DEFAULT restart fails loudly
    SnapshotTable.deleteVectors(spark, dir, $"id" % 5 === 0)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      drain(ignore = false))
    assert(msgs(e).exists(_.contains("deletion vectors")))
    // opted in: the dv commit passes (nothing re-emitted, deletions do
    // not propagate), and later appends still arrive exactly once
    drain(ignore = true)
    assert(spark.read.parquet(out).count() == 20,
      "a dv-only commit must emit nothing downstream")
    SnapshotTable.write(spark, spark.range(20, 30).toDF(), dir, "append")
    drain(ignore = true)
    val got = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(got == (0L until 30L), "appends exactly once; deletes ignored")
  }

  test("MERGE with duplicate source keys raises the cardinality error") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).toDF("id").withColumn("v", $"id"), dir, "overwrite")
    val dupes = Seq((3L, 30L), (3L, 31L), (7L, 70L)).toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.mergeVectors(spark, dir, dupes, "id"))
    assert(e.getMessage.contains("cardinality"))
    // nothing committed, table untouched
    assert(SnapshotTable.latestVersion(spark, dir).contains(1L))
    assert(SnapshotTable.scan(spark, dir).count() == 10)
    // unique keys still merge fine
    SnapshotTable.mergeVectors(spark, dir,
      Seq((3L, 30L), (7L, 70L)).toDF("id", "v"), "id")
    assert(SnapshotTable.scan(spark, dir).filter($"v" >= 30).count() == 2)
  }

  test("a duplicate position in a historical dv sidecar does not fail later MERGEs") {
    import SnapshotTable.{MergeRowAction, MergeWhenClause}
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", ($"id" * 10).as("v")).coalesce(1),
      dir, "overwrite")
    val v1 = SnapshotTable.latestVersion(spark, dir).get
    val fe = SnapshotTable.readManifest(spark, dir, v1).files.head
    val base = new org.apache.hadoop.fs.Path(fe.path).getName
    // a hand-written sidecar of the retired format (an older or
    // external writer) holding position 2 twice; one file, so
    // position = id. upgrade converts it to a bitmap
    legacyDv(dir, Seq((base, 2L), (base, 2L), (base, 5L)))
    SnapshotTable.upgrade(spark, dir)
    assert(SnapshotTable.scan(spark, dir).count() == 8)
    def update(src: DataFrame): Long =
      SnapshotTable.mergeClauses(spark, dir, src, "id", $"k",
        matched = Seq(MergeWhenClause(None,
          MergeRowAction.Update(Seq("v" -> $"nv")))),
        notMatched = Nil)
    // a MERGE matching one other row succeeds...
    update(Seq((7L, 700L)).toDF("k", "nv"))
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    val dv = m.files.find(_.path == fe.path).flatMap(_.dv).get
    // ...and writes each deleted position once: 2, 5 and 7
    assert(dv.rows == 3L)
    assert(graft.sources.DeletionVectors.read(spark.sparkContext.hadoopConfiguration,
      dv.copy(path = SnapshotTable.resolvePath(dir, dv.path))).toArray.toSeq ==
      Seq(2, 5, 7))
    assert(SnapshotTable.scan(spark, dir).as[(Long, Long)].collect()
      .sortBy(_._1).toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L).map(i => (i, if (i == 7) 700L else i * 10)))
    // two source images of one key still raise
    val e = intercept[IllegalArgumentException](
      update(Seq((8L, 1L), (8L, 2L)).toDF("k", "nv")))
    assert(e.getMessage.contains("cardinality"))
    assert(SnapshotTable.scan(spark, dir).filter($"id" === 8).as[(Long, Long)]
      .collect().toSeq == Seq((8L, 80L)))
  }

  test("metadata columns: _file/_pos are Spark's file basename and row index, DV-masked") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 3000).select($"id", ($"id" % 7).as("m")).repartition(3),
      dir, "overwrite")
    val paths = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files
      .map(fe => SnapshotTable.resolvePath(dir, fe.path))
    // Spark's own coordinates for every row (no vector yet)
    val spark0 = spark.read.parquet(paths: _*).select($"id",
      element_at(split($"_metadata.file_path", "/"), -1).as("f"),
      $"_metadata.row_index".as("p")).as[(Long, String, Long)].collect()
    val coord = spark0.map(r => r._1 -> (r._2, r._3)).toMap
    def triples(df: DataFrame) =
      df.select($"id", $"_file", $"_pos").as[(Long, String, Long)].collect()
    assert(triples(load(dir)).sortBy(_._1).toSeq == spark0.sortBy(_._1).toSeq)
    // dv-deleted positions never appear; the rest keep their coordinates
    SnapshotTable.deleteVectors(spark, dir, $"m" === 3)
    val after = triples(load(dir))
    assert(after.length == spark0.count(_._1 % 7 != 3))
    assert(after.forall(t => t._1 % 7 != 3 && coord(t._1) == (t._2, t._3)))
    // a projection of only the metadata columns reads columnar too,
    // decoding no data column
    val metaOnly = load(dir).select($"_file", $"_pos")
    val f = scanOf(metaOnly).createReaderFactory()
    assert(scanOf(metaOnly).planInputPartitions().forall(f.supportColumnarReads))
    assert(metaOnly.as[(String, Long)].collect().sorted.toSeq ==
      after.map(t => (t._2, t._3)).sorted.toSeq)
    // a data column named _pos keeps its name; the metadata column is
    // renamed and metadataColumn still finds it, so DML works there too
    val sdir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 3).select($"id", ($"id" + 10).as("_pos")).coalesce(1),
      sdir, "overwrite")
    val shadowed = load(sdir)
    assert(shadowed.select($"_pos", shadowed.metadataColumn("_pos"))
      .as[(Long, Long)].collect().sorted.toSeq == Seq((10L, 0L), (11L, 1L), (12L, 2L)))
    SnapshotTable.deleteVectors(spark, sdir, $"id" === 1)
    assert(SnapshotTable.scan(spark, sdir).select($"_pos").as[Long].collect()
      .sorted.toSeq == Seq(10L, 12L))
  }

  test("metadata columns on a bucketed table: each chained file reader names its own file") {
    val root = Files.createTempDirectory("graft-catmeta").toString
    spark.conf.set("spark.sql.catalog.graftcatmeta",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcatmeta.root", root)
    spark.sql("CREATE TABLE graftcatmeta.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftcatmeta.t SELECT id, id * 3 FROM range(0, 400)")
    spark.sql("INSERT INTO graftcatmeta.t SELECT id, id * 3 FROM range(400, 600)")
    val dir = s"$root/t"
    SnapshotTable.deleteVectors(spark, dir, $"v" % 10 === 0)
    val files = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files
    val coord = spark.read.parquet(
        files.map(fe => SnapshotTable.resolvePath(dir, fe.path)): _*)
      .select($"k", element_at(split($"_metadata.file_path", "/"), -1).as("f"),
        $"_metadata.row_index".as("p"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    withSQLConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val full = load(dir).select($"k", $"_file", $"_pos")
      // key-grouped partitions chain several files each
      assert(scanOf(full).planInputPartitions().exists {
        case b: graft.sources.connector.SnapshotBucketPartition => b.files.size > 1
        case _ => false
      })
      val rows = full.as[(Long, String, Long)].collect()
      assert(rows.length == 540)
      assert(rows.forall(r => r._1 * 3 % 10 != 0 && coord(r._1) == (r._2, r._3)))
      assert(rows.map(_._2).distinct.length == files.size)
      // a metadata-only projection chains the same way
      assert(load(dir).select($"_file", $"_pos").as[(String, Long)].collect()
        .sorted.toSeq == rows.map(r => (r._2, r._3)).sorted.toSeq)
    }
  }

  test("the deleteVectors position scan reads through the connector, no anti-join") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 2000).select($"id", ($"id" % 5).as("m")).repartition(2),
      dir, "overwrite")
    // a prior vector: the masked files' scan is what a second delete runs
    SnapshotTable.deleteVectors(spark, dir, $"m" === 1)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val drain = () => org.apache.spark.sql.graftbridge.Bridge
      .drainListenerBus(spark.sparkContext)
    drain()
    spark.listenerManager.register(listener)
    try { SnapshotTable.deleteVectors(spark, dir, $"m" === 2); drain() }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.exists(p => p.contains("BatchScan graft_snapshot")),
      all.mkString("\n----\n"))
    assert(!all.exists(_.contains("LeftAnti")), all.mkString("\n----\n"))
    assert(SnapshotTable.scan(spark, dir).count() == 1200)
  }

  test("by-name writes get the same type gate as positional ones") {
    val dir = freshDir()
    spark.range(0, 5).select($"id", $"id".cast("double").as("v"))
      .write.format("graft_snapshot").mode("overwrite").save(dir)
    // same names, int over double: must fail at planning, not poison reads
    val e = intercept[Exception](
      spark.range(5, 8).select($"id", $"id".cast("int").as("v"))
        .write.format("graft_snapshot").mode("append").save(dir))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("type mismatch at column 'v'")))
    // table still fully readable
    assert(load(dir).count() == 5)
    // matching types append fine by name, in any column order
    spark.range(5, 8).select($"id".cast("double").as("v"), $"id")
      .write.format("graft_snapshot").mode("append").save(dir)
    assert(load(dir).count() == 8)
  }

  test("connector appends refuse struct and decimal columns before any task runs") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 5).toDF(), dir, "overwrite")
    val v0 = SnapshotTable.latestVersion(spark, dir)
    val dataDir = new java.io.File(dir, "data")
    def dataFiles = Option(dataDir.list()).map(_.toSet).getOrElse(Set.empty)
    val files0 = dataFiles
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    Seq("st" -> struct($"id".as("a")), "d" -> $"id".cast("decimal(18,4)"))
      .foreach { case (c, e) =>
        val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            tasks.incrementAndGet()
        }
        val drain = () => org.apache.spark.sql.graftbridge.Bridge
          .drainListenerBus(spark.sparkContext)
        drain()
        spark.sparkContext.addSparkListener(listener)
        val err = try intercept[Exception](
            spark.range(5, 8).select($"id", e.as(c))
              .write.format("graft_snapshot").mode("append").save(dir))
          finally { drain(); spark.sparkContext.removeSparkListener(listener) }
        assert(msgs(err).exists(m => m.contains(s"'$c'") &&
          m.contains("primitive")), msgs(err))
        assert(tasks.get == 0, s"appending '$c' ran ${tasks.get} task(s)")
        assert(dataFiles == files0, s"appending '$c' left files under data/")
        assert(SnapshotTable.latestVersion(spark, dir) == v0)
      }
    assert(load(dir).count() == 5)
  }

  test("batch abort tolerates empty-partition messages and cleans staged files") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 5).toDF(), dir, "overwrite")
    // stage a real orphan file the way a task would
    val staged = "data/abort-test-p00000-t99.parquet"
    spark.range(0, 3).toDF().coalesce(1).write.parquet(s"$dir/.abort_tmp")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/.abort_tmp"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$staged"))
    val write = new graft.sources.connector.SnapshotBatchWrite(
      dir, spark.range(1).toDF().schema, overwrite = false, Nil, Nil)
    // an empty-partition message ('' path) must not mask the cleanup
    write.abort(Array(
      graft.sources.connector.WrittenFile("", 0L, Map.empty, Map.empty),
      graft.sources.connector.WrittenFile(staged, 3L, Map.empty, Map.empty)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$staged")),
      "abort must delete the staged file listed after the empty message")
  }

  test("ALTER TABLE DROP / RENAME COLUMN: metadata-only, mapping-correct") {
    val root = Files.createTempDirectory("graft-catA").toString
    spark.conf.set("spark.sql.catalog.graftcata",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcata.root", root)
    spark.sql("CREATE TABLE graftcata.t AS " +
      "SELECT id, id * 2 AS v, concat('x', id) AS s FROM range(0, 100)")
    val dir = s"$root/t"
    def files() = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    val filesBefore = files()
    val v1 = SnapshotTable.latestVersion(spark, dir).get

    // RENAME: logical name changes, files untouched, data intact
    spark.sql("ALTER TABLE graftcata.t RENAME COLUMN v TO value")
    assert(files() == filesBefore, "rename must be metadata-only")
    assert(spark.sql("SELECT sum(value) AS s FROM graftcata.t")
      .as[Long].head == (0L until 100L).map(_ * 2).sum)
    intercept[Exception](spark.sql("SELECT v FROM graftcata.t").collect())

    // V2 append AFTER the rename writes the frozen physical name —
    // old and new rows read uniformly under the new logical name
    spark.sql("INSERT INTO graftcata.t " +
      "SELECT id, id * 2 AS value, concat('x', id) AS s FROM range(100, 110)")
    assert(spark.sql("SELECT sum(value) AS s FROM graftcata.t")
      .as[Long].head == (0L until 110L).map(_ * 2).sum)
    // programmatic append maps too
    SnapshotTable.write(spark,
      spark.range(110, 120).select($"id", ($"id" * 2).as("value"),
        concat(lit("x"), $"id").as("s")),
      dir, "append")
    assert(spark.sql("SELECT sum(value) AS s FROM graftcata.t")
      .as[Long].head == (0L until 120L).map(_ * 2).sum)

    // row-level DML through the mapping: dv update + delete
    spark.sql("UPDATE graftcata.t SET value = 0 WHERE id = 5")
    spark.sql("DELETE FROM graftcata.t WHERE id = 6")
    assert(spark.sql("SELECT sum(value) AS s FROM graftcata.t")
      .as[Long].head == (0L until 120L).map(_ * 2).sum - 10 - 12)
    assert(spark.sql("SELECT count(*) AS n FROM graftcata.t")
      .as[Long].head == 119L)

    // DROP: schema shrinks, files untouched, time travel still full
    val filesPreDrop = files()
    spark.sql("ALTER TABLE graftcata.t DROP COLUMN s")
    assert(files() == filesPreDrop, "drop must be metadata-only")
    assert(spark.sql("SELECT * FROM graftcata.t").columns.toSeq ==
      Seq("id", "value"))
    // pre-evolution version reads the ORIGINAL names and all columns
    val asOf = spark.sql(s"SELECT * FROM graftcata.t VERSION AS OF $v1")
    assert(asOf.columns.toSeq == Seq("id", "v", "s"))
    assert(asOf.filter($"s" === "x7").count() == 1)

    // re-ADD of a dropped name must NOT resurrect the old values
    spark.sql("ALTER TABLE graftcata.t ADD COLUMNS (s STRING)")
    assert(spark.sql("SELECT count(*) AS n FROM graftcata.t WHERE s IS NOT NULL")
      .as[Long].head == 0L, "dropped column's bytes must not leak back")
    // ...and an ADD of a renamed column's PHYSICAL name is fresh too
    spark.sql("ALTER TABLE graftcata.t ADD COLUMNS (v DOUBLE)")
    assert(spark.sql("SELECT count(*) AS n FROM graftcata.t WHERE v IS NOT NULL")
      .as[Long].head == 0L, "renamed column's bytes must not leak back")
    // the fresh columns are writable and read back
    spark.sql("INSERT INTO graftcata.t " +
      "SELECT id, id * 2, concat('y', id), CAST(id AS DOUBLE) " +
      "FROM range(200, 205)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftcata.t WHERE s LIKE 'y%' AND v >= 200")
      .as[Long].head == 5L)
  }

  test("ALTER COLUMN TYPE: lossless widening is metadata-only") {
    val root = Files.createTempDirectory("graft-catE").toString
    spark.conf.set("spark.sql.catalog.graftcate",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcate.root", root)
    spark.sql("CREATE TABLE graftcate.t (k INT, f FLOAT)")
    spark.sql("INSERT INTO graftcate.t " +
      "SELECT CAST(id AS INT), CAST(id AS FLOAT) FROM range(0, 10)")
    val dir = s"$root/t"
    val filesBefore = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
    spark.sql("ALTER TABLE graftcate.t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graftcate.t ALTER COLUMN f TYPE DOUBLE")
    assert(SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.map(_.path).toSet
      == filesBefore, "widening must not rewrite data")
    // old (narrow-typed) files read through the widened schema
    val sch = spark.sql("SELECT * FROM graftcate.t").schema
    assert(sch("k").dataType.simpleString == "bigint")
    assert(sch("f").dataType.simpleString == "double")
    assert(spark.sql("SELECT sum(k) AS s FROM graftcate.t").as[Long].head == 45L)
    // and new writes land the wide type next to the old files
    spark.sql("INSERT INTO graftcate.t " +
      "SELECT CAST(id AS BIGINT), CAST(id AS DOUBLE) FROM range(10, 15)")
    assert(spark.sql("SELECT sum(k) AS s, sum(f) AS sf FROM graftcate.t")
      .as[(Long, Double)].head == ((105L, 105.0)))
    // narrowing is refused loudly (by Spark's own ALTER analysis or,
    // for shapes it forwards, by the catalog's widening allowlist —
    // e.g. long -> double upcasts in Catalyst but cannot be read over
    // int64 files)
    intercept[Exception](spark.sql(
      "ALTER TABLE graftcate.t ALTER COLUMN k TYPE INT"))
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE graftcate.t ALTER COLUMN k TYPE DOUBLE"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("lossless widenings")))
    assert(spark.sql("SELECT * FROM graftcate.t").schema("k")
      .dataType.simpleString == "bigint", "refused ALTERs must not commit")
  }

  test("stats skipping and metadata aggs survive a column rename") {
    val root = Files.createTempDirectory("graft-catB").toString
    spark.conf.set("spark.sql.catalog.graftcatb",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcatb.root", root)
    val dir = s"$root/t"
    spark.range(0, 8000).toDF("k")
      .withColumn("p", $"k" % 97)
      .write.format("graft_snapshot").option("path", dir)
      .option("statsCols", "k").option("clusterBy", "k")
      .option("clusterPartitions", "8").mode("overwrite").save()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcatb.ignore_ns") // warm catalog
    spark.sql("ALTER TABLE graftcatb.t RENAME COLUMN k TO key")
    // stats were recorded under physical 'k'; the filter on logical
    // 'key' must still prune to ~1 of 8 files
    val narrow = spark.sql(
      "SELECT sum(p) AS s FROM graftcatb.t WHERE key BETWEEN 10 AND 20")
    narrow.collect()
    val (planned, total) = graft.sources.connector.ScanTelemetry
      .lastPlanned(dir).get
    assert(total == 8 && planned <= 2,
      s"rename broke stats skipping: planned $planned of $total")
    // metadata-only aggregates resolve through the mapping
    assert(spark.sql("SELECT min(key) AS mn, max(key) AS mx FROM graftcatb.t")
      .as[(Long, Long)].head == ((0L, 7999L)))
    // V2 append post-rename records stats under the SAME physical key
    spark.range(8000, 8100).toDF("key").withColumn("p", $"key" % 97)
      .write.format("graft_snapshot").option("path", dir)
      .option("statsCols", "key").mode("append").save()
    assert(spark.sql("SELECT max(key) AS mx FROM graftcatb.t")
      .as[Long].head == 8099L)
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.forall(fe => fe.stats.isEmpty || fe.stats.contains("k")),
      "stats keys must stay uniform under the frozen physical name")
  }

  test("CREATE TABLE PARTITIONED BY: hash buckets and range clustering") {
    val root = Files.createTempDirectory("graft-catC").toString
    spark.conf.set("spark.sql.catalog.graftcatc",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcatc.root", root)
    // bucket(8, k): REAL hash buckets — per-bucket-pure files with the
    // bucket id in the manifest
    spark.sql("CREATE TABLE graftcatc.t (k BIGINT, name STRING, p BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    val props = spark.sql("SHOW TBLPROPERTIES graftcatc.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("bucketBy").contains("k"))
    assert(props.get("buckets").contains("8"))
    assert(props.get("statsCols").contains("k"))
    spark.sql("INSERT INTO graftcatc.t " +
      "SELECT id, concat('n', id), id % 97 FROM range(0, 8000)")
    val dir = s"$root/t"
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.size == 8, s"expected 8 bucketed files, got ${m.files.size}")
    assert(m.files.flatMap(_.bucket).sorted == (0 until 8),
      s"expected bucket ids 0..7, got ${m.files.map(_.bucket)}")
    // each file is PURE in its bucket: recompute every row's bucket
    // with Spark's own shuffle hash (graft's bucket function by
    // construction) and compare to the manifest id
    m.files.foreach { fe =>
      val buckets = spark.read.parquet(s"$dir/${fe.path}")
        .select(pmod(hash($"k"), lit(8)).as("b")).distinct()
        .as[Int].collect().toSeq
      assert(buckets == Seq(fe.bucket.get),
        s"file ${fe.path} (bucket ${fe.bucket}) holds buckets $buckets")
    }
    // hash-bucket pruning: a point read opens only the key's bucket
    spark.sql("SELECT sum(p) AS s FROM graftcatc.t WHERE k = 123")
      .collect()
    val (planned, total) = graft.sources.connector.ScanTelemetry
      .lastPlanned(dir).get
    assert(total == 8 && planned == 1,
      s"bucket pruning did not prune: planned $planned of $total")
    // identity + string partition column → bloom layout, point reads prune
    spark.sql("CREATE TABLE graftcatc.t2 (name STRING, v BIGINT) " +
      "PARTITIONED BY (name)")
    val p2 = spark.sql("SHOW TBLPROPERTIES graftcatc.t2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(p2.get("clusterBy").contains("name"))
    assert(p2.get("bloomCols").contains("name"))
    // unsupported transforms stay loud
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graftcatc.t3 (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (days(ts))"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("PARTITIONED BY")))
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffles") {
    val root = Files.createTempDirectory("graft-spj").toString
    spark.conf.set("spark.sql.catalog.graftspj",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspj.root", root)
    spark.sql("CREATE TABLE graftspj.facts (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE graftspj.dims (k BIGINT, w STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftspj.facts " +
      "SELECT id % 500, id FROM range(0, 6000)")
    spark.sql("INSERT INTO graftspj.dims " +
      "SELECT id, concat('w', id) FROM range(0, 500)")
    val q = "SELECT f.k, count(*) AS cnt, sum(f.v) AS sv " +
      "FROM graftspj.facts f JOIN graftspj.dims d ON f.k = d.k " +
      "GROUP BY f.k"
    def shufflesOf(plan: String): Int =
      "(?i)ShuffleExchange|Exchange hashpartitioning".r
        .findAllIn(plan).size
    // baseline (SPJ off): the join shuffles; results are the truth
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql(q).collect().map(_.toSeq).toSet
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      val got = df.collect().map(_.toSeq).toSet
      assert(got == expected)
      val plan = df.queryExecution.executedPlan.toString
      // ZERO exchanges in the whole query: the join zips the two
      // scans' key-grouped partitions, and the groupBy on the bucket
      // key rides the same partitioning
      assert(shufflesOf(plan) == 0,
        s"expected the SPJ join to plan shuffle-free, got plan:\n$plan")
    }
    // a PATH write with no options now INHERITS the declared layout
    // (the provider loads the table's props), so SPJ survives it
    spark.range(10000, 10005).selectExpr("id AS k", "id AS v")
      .write.format("graft_snapshot").option("path", s"$root/facts")
      .mode("append").save()
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      df.collect()
      assert(shufflesOf(df.queryExecution.executedPlan.toString) == 0,
        "a path write into a declared-bucket table must stay bucketed")
    }
    // one file written OUTSIDE the write API (a legacy/foreign writer)
    // disables the claim conservatively (never corrupts it)
    legacyAppend(s"$root/facts",
      spark.range(0, 5).selectExpr("id AS k", "id AS v"))
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(shufflesOf(plan) >= 2,
        s"a bucket-less file must disable SPJ, got plan:\n$plan")
      df.collect() // still correct, just shuffled
    }
  }

  test("v2 bucketing shuffle: only the unbucketed join side shuffles") {
    val root = Files.createTempDirectory("graft-spjs").toString
    spark.conf.set("spark.sql.catalog.graftspjs",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjs.root", root)
    spark.sql("CREATE TABLE graftspjs.facts (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftspjs.facts " +
      "SELECT id % 300, id FROM range(0, 4000)")
    spark.range(0, 300).selectExpr("id AS k", "id * 3 AS w")
      .createOrReplaceTempView("plain_side")
    val q = "SELECT f.k AS k, count(*) AS cnt, sum(f.v + p.w) AS s " +
      "FROM graftspjs.facts f JOIN plain_side p ON f.k = p.k GROUP BY f.k"
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql(q).collect().map(_.toSeq).toSet
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      assert(df.collect().map(_.toSeq).toSet == expected)
      // final plan only — AQE's toString appends the pre-adaptive
      // initial plan, which would double-count
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // ONE exchange in the whole query, and it is the plain side
      // shuffling INTO the bucket layout by evaluating the catalog's
      // bucket function (GraftBucketBound.produceResult); the
      // bucketed scan and the bucket-key groupBy stay exchange-free
      val n = "(?i)exchange".r.findAllIn(plan).size
      assert(n == 1 && plan.contains("keygroupedpartitioning"),
        s"expected exactly one key-grouped (plain-side) exchange in:\n$plan")
    }
  }

  test("bucket layout survives delete -> purge -> compact") {
    val root = Files.createTempDirectory("graft-spjm").toString
    spark.conf.set("spark.sql.catalog.graftspjm",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjm.root", root)
    spark.sql("CREATE TABLE graftspjm.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // two appends → 8 files (2 per bucket), then a dv delete
    spark.sql("INSERT INTO graftspjm.t SELECT id % 40, id FROM range(0, 2000)")
    spark.sql("INSERT INTO graftspjm.t " +
      "SELECT id % 40, id FROM range(2000, 4000)")
    spark.sql("DELETE FROM graftspjm.t WHERE v % 10 = 3")
    val dir = s"$root/t"
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(manifest.files.forall(_.bucket.isDefined),
      "dv deletes must keep files (and their bucket ids) untouched")
    // purge rewrites the dv-carrying files PER BUCKET GROUP
    SnapshotTable.purgeDeletes(spark, dir)
    val afterPurge = manifest
    assert(afterPurge.files.forall(_.dv.isEmpty))
    assert(afterPurge.files.forall(_.bucket.isDefined),
      s"purge lost bucket ids: ${afterPurge.files.map(_.bucket)}")
    // compact bin-packs WITHIN buckets: 4 files out, ids 0..3
    SnapshotTable.compact(spark, dir, smallRows = 100000L,
      targetRows = 1000000L)
    val afterCompact = manifest
    assert(afterCompact.files.flatMap(_.bucket).sorted == (0 until 4),
      s"compact lost the layout: ${afterCompact.files.map(_.bucket)}")
    assert(afterCompact.files.forall(_.sortedBy.contains("k")),
      "bucket-aware compaction must leave each file key-sorted " +
        s"(got ${afterCompact.files.map(_.sortedBy)})")
    // each compacted file stays PURE in its bucket
    afterCompact.files.foreach { fe =>
      val buckets = spark.read.parquet(s"$dir/${fe.path}")
        .select(pmod(hash($"k"), lit(4)).as("b")).distinct()
        .as[Int].collect().toSeq
      assert(buckets == Seq(fe.bucket.get))
    }
    // MERGE (dv upsert) and UPDATE write their post-images THROUGH the
    // layout: fresh files land bucketed, so SPJ survives row-level DML
    spark.range(0, 50).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("spjm_src")
    spark.sql("MERGE INTO graftspjm.t USING spjm_src s ON graftspjm.t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    spark.sql("UPDATE graftspjm.t SET v = v + 1 WHERE v % 17 = 0")
    val afterDml = manifest
    assert(afterDml.files.forall(_.bucket.isDefined),
      s"DML lost bucket ids: ${afterDml.files.map(f => (f.path, f.bucket))}")
    // and the table still joins shuffle-free against a co-bucketed one
    spark.sql("CREATE TABLE graftspjm.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjm.d SELECT id, id FROM range(0, 40)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT count(*) AS c FROM graftspjm.t t " +
        "JOIN graftspjm.d d ON t.k = d.k")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"post-maintenance table lost SPJ:\n$plan")
    }
  }

  test("CALL rebucket restores the layout after unbucketed writes") {
    val root = Files.createTempDirectory("graft-spjr").toString
    spark.conf.set("spark.sql.catalog.graftspjr",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjr.root", root)
    spark.sql("CREATE TABLE graftspjr.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjr.t SELECT id, id FROM range(0, 400)")
    // a LEGACY append (outside the write API) lands unbucketed -> SPJ off
    val dir = s"$root/t"
    legacyAppend(dir, spark.range(400, 500).selectExpr("id AS k", "id AS v"))
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(manifest.files.exists(_.bucket.isEmpty))
    val r = spark.sql("CALL graftspjr.system.rebucket('t')").collect().head
    assert(r.getInt(1) == 4, s"expected 4 rebucketed files, got $r")
    assert(manifest.files.flatMap(_.bucket).sorted == (0 until 4))
    assert(spark.sql("SELECT count(*) FROM graftspjr.t")
      .as[Long].head == 500L)
    // a layout-less table refuses (rewriting would just burn a version)
    spark.sql("CREATE TABLE graftspjr.plain AS SELECT 1 AS a")
    val e = intercept[Exception](
      spark.sql("CALL graftspjr.system.rebucket('plain')").collect())
    def msgs(t: Throwable): String = {
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ all(x.getCause)
      all(t).mkString("\n")
    }
    assert(msgs(e).contains("bucket layout"))
  }

  test("declared bucket layout cannot be contradicted after the fact") {
    val root = Files.createTempDirectory("graft-spjg").toString
    spark.conf.set("spark.sql.catalog.graftspjg",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjg.root", root)
    spark.sql("CREATE TABLE graftspjg.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftspjg.t SELECT id, id FROM range(0, 100)")
    def msgs(t: Throwable): String = {
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ all(x.getCause)
      all(t).mkString("\n")
    }
    // changing the declared bucket count over recorded per-file ids
    // would make the reported partitioning a lie — refused on a
    // non-empty table
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE graftspjg.t SET TBLPROPERTIES ('buckets'='16')"))
    assert(msgs(e1).contains("re-bucket"))
    // a path write bucketed DIFFERENTLY from the declared layout is
    // refused before a row is written
    val e2 = intercept[Exception] {
      spark.range(0, 5).selectExpr("id AS k", "id AS v")
        .write.format("graft_snapshot").option("path", s"$root/t")
        .option("bucketBy", "k").option("buckets", "16")
        .mode("append").save()
    }
    assert(msgs(e2).contains("contradicts"))
    // TRUNCATE empties the manifest; the layout may then be re-declared
    spark.sql("TRUNCATE TABLE graftspjg.t")
    spark.sql("ALTER TABLE graftspjg.t SET TBLPROPERTIES ('buckets'='16')")
    spark.sql("INSERT INTO graftspjg.t SELECT id, id FROM range(0, 100)")
    val m = SnapshotTable.readManifest(spark, s"$root/t",
      SnapshotTable.latestVersion(spark, s"$root/t").get)
    assert(m.files.forall(_.bucket.exists(_ < 16)) && m.files.size == 16)
  }

  test("graft bucket function matches Spark's shuffle hash exactly") {
    import graft.sources.connector.GraftBucket
    import org.apache.spark.sql.types._
    // longs, strings, and a null — pmod(hash(x), n) IS GraftBucket.of
    val longs = spark.range(0, 1000).select($"id",
      pmod(hash($"id"), lit(16)).as("b")).collect()
    longs.foreach(r => assert(
      GraftBucket.of(r.getLong(0), LongType, 16) == r.getInt(1)))
    val strs = spark.range(0, 1000)
      .select(concat(lit("key-"), $"id").as("s"))
      .select($"s", pmod(hash($"s"), lit(16)).as("b")).collect()
    strs.foreach(r => assert(
      GraftBucket.ofLiteral(r.getString(0), StringType, 16)
        .contains(r.getInt(1))))
    val nullB = spark.sql("SELECT pmod(hash(CAST(NULL AS BIGINT)), 16)")
      .collect().head.getInt(0)
    assert(GraftBucket.of(null, LongType, 16) == nullB)
    // every supported key type, negatives and extremes included
    val typed = spark.sql(
      """SELECT x, CAST(x % 2000000000 AS INT) xi,
        |       CAST(x % 30000 AS SMALLINT) xs,
        |       CAST(x % 120 AS TINYINT) xb,
        |       DATE '2020-01-01' + CAST(x % 10000 AS INT) AS xd,
        |       TIMESTAMP '2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0, x % 100000) AS xt,
        |       pmod(hash(x), 32) bx,
        |       pmod(hash(CAST(x % 2000000000 AS INT)), 32) bi,
        |       pmod(hash(CAST(x % 30000 AS SMALLINT)), 32) bs,
        |       pmod(hash(CAST(x % 120 AS TINYINT)), 32) bb,
        |       pmod(hash(DATE '2020-01-01' + CAST(x % 10000 AS INT)), 32) bd,
        |       pmod(hash(TIMESTAMP '2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0, x % 100000)), 32) bt
        |FROM (SELECT CAST(id * 7919 - 500000 AS BIGINT) AS x
        |      FROM range(0, 300))""".stripMargin).collect()
    typed.foreach { r =>
      assert(GraftBucket.of(r.getLong(0), LongType, 32) == r.getInt(6))
      assert(GraftBucket.of(r.getInt(1), IntegerType, 32) == r.getInt(7))
      assert(GraftBucket.of(r.getShort(2), ShortType, 32) == r.getInt(8))
      assert(GraftBucket.of(r.getByte(3), ByteType, 32) == r.getInt(9))
      assert(GraftBucket.ofLiteral(r.getDate(4), DateType, 32)
        .contains(r.getInt(10)))
      assert(GraftBucket.ofLiteral(r.getTimestamp(5), TimestampType, 32)
        .contains(r.getInt(11)))
    }
  }

  test("sorted buckets: one-file buckets drop the SMJ sorts too") {
    val root = Files.createTempDirectory("graft-spjo").toString
    spark.conf.set("spark.sql.catalog.graftspjo",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjo.root", root)
    spark.sql("CREATE TABLE graftspjo.f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graftspjo.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjo.f SELECT id % 200, id FROM range(0, 4000)")
    spark.sql("INSERT INTO graftspjo.d SELECT id, id * 3 FROM range(0, 200)")
    val dirF = s"$root/f"
    // one sorted file per bucket, each ascending in k
    val m = SnapshotTable.readManifest(spark, dirF,
      SnapshotTable.latestVersion(spark, dirF).get)
    assert(m.files.size == 4 && m.files.forall(_.sortedBy.contains("k")))
    m.files.foreach { fe =>
      val ks = spark.read.parquet(s"$dirF/${fe.path}")
        .select("k").as[Long].collect()
      assert(ks.sameElements(ks.sorted), s"${fe.path} not ascending in k")
    }
    val q = "SELECT f.k AS k, count(*) AS cnt, sum(f.v + d.w) AS s " +
      "FROM graftspjo.f f JOIN graftspjo.d d ON f.k = d.k GROUP BY f.k"
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      spark.sql(q).collect().map(_.toSeq).toSet
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      assert(df.collect().map(_.toSeq).toSet == expected)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      assert(!"\\+- \\*?\\(?\\d*\\)? ?Sort ".r.findFirstIn(plan).isDefined &&
        !plan.contains("Sort ["),
        s"the reported ordering should elide the SMJ sorts:\n$plan")
    }
    // a second append makes two files per bucket: the ordering claim
    // is withdrawn (concatenation is not a sort), results stay right
    spark.sql("INSERT INTO graftspjo.f SELECT id % 200, id " +
      "FROM range(4000, 5000)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Sort ["),
        s"two files per bucket must re-introduce the sort:\n$plan")
    }
  }

  test("mismatched bucket counts fall back to a correct shuffled join") {
    val root = Files.createTempDirectory("graft-spjc").toString
    spark.conf.set("spark.sql.catalog.graftspjc2",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjc2.root", root)
    spark.sql("CREATE TABLE graftspjc2.f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(16, k))")
    spark.sql("CREATE TABLE graftspjc2.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjc2.f SELECT id % 300, id FROM range(0, 6000)")
    spark.sql("INSERT INTO graftspjc2.d SELECT id, id * 3 FROM range(0, 300)")
    val q = "SELECT f.k AS k, count(*) AS cnt, sum(f.v + d.w) AS s " +
      "FROM graftspjc2.f f JOIN graftspjc2.d d ON f.k = d.k GROUP BY f.k"
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      spark.sql(q).collect().map(_.toSeq).toSet
    }
    // GraftBucketBound.reducer deliberately declines the divide-
    // compatible reduction (see its doc: Spark 4.1's reduced zip
    // paired this source's groups by raw value, a silent 1/k answer)
    // — so bucket(16) ⋈ bucket(4) must SHUFFLE and stay correct, with
    // every SPJ conf an operator might enable turned on
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      assert(df.collect().map(_.toSeq).toSet == expected)
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("Exchange"),
        s"mismatched counts must fall back to a shuffle:\n$plan")
    }
  }

  test("SPJ handles skew: partially-clustered distribution stays correct") {
    val root = Files.createTempDirectory("graft-spjk").toString
    spark.conf.set("spark.sql.catalog.graftspjk",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjk.root", root)
    spark.sql("CREATE TABLE graftspjk.f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE graftspjk.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    // one hot key dominates the fact side (~70% of rows in one bucket)
    spark.sql("INSERT INTO graftspjk.f " +
      "SELECT CASE WHEN id % 10 < 7 THEN 42 ELSE id % 100 END, id " +
      "FROM range(0, 8000)")
    spark.sql("INSERT INTO graftspjk.d SELECT id, id * 3 FROM range(0, 100)")
    val q = "SELECT f.k AS k, count(*) AS cnt, sum(f.v + d.w) AS s " +
      "FROM graftspjk.f f JOIN graftspjk.d d ON f.k = d.k GROUP BY f.k"
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      spark.sql(q).collect().map(_.toSeq).toSet
    }
    // Spark's skew answer for SPJ: with push-part-values + partially-
    // clustered distribution, the skewed side's groups replicate the
    // other side instead of one task eating the hot bucket — results
    // must be identical either way
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(spark.sql(q).collect().map(_.toSeq).toSet == expected)
    }
  }

  test("SPJ composes with runtime file pruning: n groups survive the filter") {
    val root = Files.createTempDirectory("graft-spjd").toString
    spark.conf.set("spark.sql.catalog.graftspjd",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjd.root", root)
    spark.sql("CREATE TABLE graftspjd.f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE graftspjd.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftspjd.f SELECT id % 200, id FROM range(0, 4000)")
    spark.sql("INSERT INTO graftspjd.d SELECT id, id FROM range(0, 200)")
    val expected = withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false") {
      spark.sql("SELECT count(*) c, sum(f.v) s FROM graftspjd.f f " +
        "JOIN graftspjd.d d ON f.k = d.k WHERE d.w < 50")
        .collect().map(_.toSeq).toSet
    }
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // a selective dim filter rides equality pruning/runtime filters
      // into the fact scan while the join stays key-grouped; the
      // planner must keep seeing all 8 partition values on both sides
      val got = spark.sql("SELECT count(*) c, sum(f.v) s FROM graftspjd.f f " +
        "JOIN graftspjd.d d ON f.k = d.k WHERE d.w < 50")
        .collect().map(_.toSeq).toSet
      assert(got == expected)
    }
  }

  test("unsupported DML shapes fail loudly at analysis time") {
    val root = Files.createTempDirectory("graft-cat5").toString
    spark.conf.set("spark.sql.catalog.graftcat5",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat5.root", root)
    spark.sql("CREATE TABLE graftcat5.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 10)")
    def msgOf(t: Throwable): String = {
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ all(x.getCause)
      all(t).mkString("\n")
    }
    // non-equi ON condition — outside both merge paths
    val e1 = intercept[Exception](spark.sql(
      """MERGE INTO graftcat5.t AS tgt
        |USING (SELECT id, CAST(1 AS DOUBLE) AS v FROM range(0, 5)) AS src
        |ON tgt.id > src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(msgOf(e1).contains("merge condition"))
    // an insert value referencing target columns — no target row
    // exists for a NOT MATCHED source row, so resolution fails loudly
    val e2 = intercept[Exception](spark.sql(
      """MERGE INTO graftcat5.t AS tgt
        |USING (SELECT id AS k, CAST(1 AS DOUBLE) AS w FROM range(0, 5)) AS src
        |ON tgt.id = src.k
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (tgt.id, src.w)
        |""".stripMargin))
    assert(msgOf(e2).contains("cannot resolve"))
    // subquery in UPDATE
    val e3 = intercept[Exception](spark.sql(
      "UPDATE graftcat5.t SET v = 0 " +
        "WHERE id IN (SELECT id FROM graftcat5.t WHERE v > 5)"))
    assert(msgOf(e3).contains("subqueries are not supported"))
    // the rule leaves non-snapshot tables to Spark's own (rejecting)
    // analysis — UPDATE on a temp view still fails, with Spark's error
    spark.range(5).toDF("id").createOrReplaceTempView("plain_view")
    val e4 = intercept[Exception](
      spark.sql("UPDATE plain_view SET id = 0 WHERE id = 1"))
    assert(!msgOf(e4).contains("snapshot-table DML"))
  }

  test("streaming epochs stage through the declared bucket layout") {
    val root = Files.createTempDirectory("graft-spjse").toString
    spark.conf.set("spark.sql.catalog.graftspjse",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjse.root", root)
    spark.sql("CREATE TABLE graftspjse.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graftspjse.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjse.d SELECT id, id FROM range(0, 64)")
    val dir = s"$root/t"
    val src = freshDir()
    val ckpt = Files.createTempDirectory("graft-spjse-ck").toString
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    def drain(): Unit = {
      val q = spark.readStream.format("graft_snapshot").load(src)
        .writeStream.format("graft_snapshot").option("path", dir)
        .option("mergeKey", "k")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // three upsert epochs: inserts, then updates + inserts
    SnapshotTable.write(spark,
      spark.range(0, 64).selectExpr("id AS k", "id AS v"),
      src, "overwrite")
    drain()
    assert(manifest.files.forall(f =>
      f.bucket.isDefined && f.bucketN.contains(4)),
      s"epoch 1 broke the layout: ${manifest.files.map(f => (f.path, f.bucket))}")
    SnapshotTable.write(spark,
      spark.range(0, 96).selectExpr("id AS k", "id * 10 AS v"),
      src, "append")
    drain()
    assert(manifest.files.forall(f =>
      f.bucket.isDefined && f.bucketN.contains(4)),
      "epoch 2 (upsert over existing keys) broke the layout")
    // the CDC-maintained table still joins shuffle-free
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT t.k AS k, sum(t.v + d.w) AS s " +
        "FROM graftspjse.t t JOIN graftspjse.d d ON t.k = d.k GROUP BY t.k")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("exchange"),
        s"streamed-into table lost SPJ:\n$plan")
      // upsert semantics: keys 0..95 at v = k * 10, joined with w = k
      assert(got == (0 until 64).map(k => k.toLong -> (k * 11L)).toMap)
    }
  }

  test("maintain heals a broken bucket layout, O(broken files)") {
    val root = Files.createTempDirectory("graft-spjh").toString
    spark.conf.set("spark.sql.catalog.graftspjh",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftspjh.root", root)
    spark.sql("CREATE TABLE graftspjh.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjh.t SELECT id % 32, id FROM range(0, 800)")
    val dir = s"$root/t"
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    val healthyFiles = manifest.files.map(_.path).toSet
    // two legacy files break the claim
    legacyAppend(dir, spark.range(800, 850).selectExpr("id % 32 AS k", "id AS v"))
    legacyAppend(dir, spark.range(850, 900).selectExpr("id % 32 AS k", "id AS v"))
    assert(manifest.files.count(_.bucket.isEmpty) == 2)
    val before = spark.sql("SELECT * FROM graftspjh.t").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val rep = SnapshotTable.maintain(spark, dir,
      SnapshotTable.MaintenancePolicy(
        smallFileRows = 1L, targetRows = 1000000L, maxSmallFiles = 1000,
        maxDeletedRatio = 0.99, keepVersions = 100, vacuumMinAgeMs = 0L))
    assert(rep.rebucketedFiles == 2,
      s"expected the 2 broken files healed, got ${rep.rebucketedFiles}")
    // O(broken): the healthy files were NOT rewritten
    assert(healthyFiles.subsetOf(manifest.files.map(_.path).toSet),
      "heal must leave healthy files untouched")
    assert(manifest.files.forall(f =>
      f.bucket.isDefined && f.bucketN.contains(4)))
    // content-neutral (multiset equality)
    val after = spark.sql("SELECT * FROM graftspjh.t").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(after == before)
    // SPJ is back
    spark.sql("CREATE TABLE graftspjh.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftspjh.d SELECT id, id FROM range(0, 32)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT count(*) AS c FROM graftspjh.t t " +
        "JOIN graftspjh.d d ON t.k = d.k")
      df.collect()
      assert(!df.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "maintain must restore the shuffle-free join")
    }
    // healthy layout: a second pass heals nothing and burns no version
    val v = SnapshotTable.latestVersion(spark, dir).get
    val rep2 = SnapshotTable.maintain(spark, dir,
      SnapshotTable.MaintenancePolicy(
        smallFileRows = 1L, targetRows = 1000000L, maxSmallFiles = 1000,
        maxDeletedRatio = 0.99, keepVersions = 100, vacuumMinAgeMs = 0L))
    assert(rep2.rebucketedFiles == 0)
    assert(SnapshotTable.latestVersion(spark, dir).get == v)
  }

  test("rename-mapped table: overwrite drops the mapping without nulling data") {
    val root = Files.createTempDirectory("graft-rnrb").toString
    spark.conf.set("spark.sql.catalog.graftrnrb",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrnrb.root", root)
    spark.sql("CREATE TABLE graftrnrb.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftrnrb.t SELECT id, id * 2 FROM range(0, 100)")
    // rename a DATA column: files keep physical 'v', reads alias v->w
    spark.sql("ALTER TABLE graftrnrb.t RENAME COLUMN v TO w")
    spark.sql("INSERT INTO graftrnrb.t SELECT id, id * 2 FROM range(100, 200)")
    // the ADVICE r13 regression: rebucket (an overwrite of a frame
    // derived from the mapped scan) must not record the stale physical
    // name — a wrong schema here reads back ALL NULLS for w
    spark.sql("CALL graftrnrb.system.rebucket('t')")
    val rows = spark.sql("SELECT k, w FROM graftrnrb.t ORDER BY k").collect()
    assert(rows.length == 200)
    assert(rows.forall(r => !r.isNullAt(1) && r.getLong(1) == r.getLong(0) * 2),
      s"rename->rebucket nulled the renamed column: ${rows.take(3).toSeq}")
    val dir = s"$root/t"
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(manifest.files.forall(f =>
      f.bucket.isDefined && f.bucketN.contains(4)),
      "rebucket after rename must land bucketed")
    // writes after the mapping-dropping overwrite still work and stay
    // bucketed (layout props followed the rename)
    spark.sql("INSERT INTO graftrnrb.t SELECT id, id * 2 FROM range(200, 250)")
    assert(manifest.files.forall(_.bucket.isDefined))
    assert(spark.sql("SELECT count(*) FROM graftrnrb.t WHERE w = 2 * k")
      .as[Long].head == 250L)
  }

  test("renamed bucket key stays writable, joinable, and rebucketable") {
    val root = Files.createTempDirectory("graft-rnbk").toString
    spark.conf.set("spark.sql.catalog.graftrnbk",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrnbk.root", root)
    spark.sql("CREATE TABLE graftrnbk.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftrnbk.t SELECT id % 40, id FROM range(0, 400)")
    // the ADVICE r13 regression: renaming the BUCKET column froze the
    // physical name into the injected bucketBy option and every later
    // INSERT failed validation against the (logical) write schema
    spark.sql("ALTER TABLE graftrnbk.t RENAME COLUMN k TO kk")
    spark.sql("INSERT INTO graftrnbk.t SELECT id % 40, id FROM range(400, 800)")
    val dir = s"$root/t"
    def manifest = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(manifest.files.forall(f =>
      f.bucket.isDefined && f.bucketN.contains(4)),
      s"post-rename INSERT broke the layout: ${manifest.files.map(_.bucket)}")
    // SPJ still holds on the renamed key
    spark.sql("CREATE TABLE graftrnbk.d (kk BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, kk))")
    spark.sql("INSERT INTO graftrnbk.d SELECT id, id FROM range(0, 40)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT count(*) AS c FROM graftrnbk.t t " +
        "JOIN graftrnbk.d d ON t.kk = d.kk")
      assert(df.as[Long].head == 800L)
      assert(!df.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "renamed bucket key must keep the shuffle-free join")
    }
    // and the full rewrite path works on the renamed key too
    spark.sql("CALL graftrnbk.system.rebucket('t')")
    assert(spark.sql("SELECT count(*) FROM graftrnbk.t").as[Long].head == 800L)
    assert(manifest.files.forall(_.bucket.isDefined))
  }

  test("re-declared bucket count: old versions neither prune nor claim SPJ") {
    val root = Files.createTempDirectory("graft-rdbc").toString
    spark.conf.set("spark.sql.catalog.graftrdbc",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrdbc.root", root)
    spark.sql("CREATE TABLE graftrdbc.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftrdbc.t SELECT id, id FROM range(0, 400)")
    val dir = s"$root/t"
    val oldV = SnapshotTable.latestVersion(spark, dir).get
    val oldRows = spark.sql(
      s"SELECT * FROM graftrdbc.t VERSION AS OF $oldV WHERE k = 123")
      .collect().map(_.toSeq).toSet
    assert(oldRows == Set(Seq(123L, 123L)))
    // empty, re-declare n=8, refill — old files' ids 0..3 are VALID
    // ints under n=8 but wrong coordinates
    spark.sql("TRUNCATE TABLE graftrdbc.t")
    spark.sql("ALTER TABLE graftrdbc.t SET TBLPROPERTIES ('buckets'='8')")
    spark.sql("INSERT INTO graftrdbc.t SELECT id, id FROM range(0, 400)")
    // ADVICE r13: a time-travel read under the NEW declared count must
    // not bucket-prune the OLD files (silent row loss) ...
    val reread = spark.sql(
      s"SELECT * FROM graftrdbc.t VERSION AS OF $oldV WHERE k = 123")
      .collect().map(_.toSeq).toSet
    assert(reread == oldRows,
      "re-declared bucket count corrupted a time-travel point read")
    // ... and must not claim a co-partitioning the bytes don't satisfy
    spark.sql("CREATE TABLE graftrdbc.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graftrdbc.d SELECT id, id FROM range(0, 40)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(s"SELECT count(*) AS c FROM " +
        s"(SELECT * FROM graftrdbc.t VERSION AS OF $oldV) t " +
        "JOIN graftrdbc.d d ON t.k = d.k")
      assert(df.as[Long].head == 40L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        s"old-count files must fall back to a shuffled join:\n$plan")
    }
    // the CURRENT version (ids recorded under n=8) keeps full SPJ
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT count(*) AS c FROM graftrdbc.t t " +
        "JOIN graftrdbc.d d ON t.k = d.k")
      assert(df.as[Long].head == 40L)
      assert(!df.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    }
  }

  test("bucket DDL validates the key type at CREATE time") {
    val root = Files.createTempDirectory("graft-ddlv").toString
    spark.conf.set("spark.sql.catalog.graftddlv",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftddlv.root", root)
    def msgs(t: Throwable): String = {
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ all(x.getCause)
      all(t).mkString("\n")
    }
    // unsupported key type fails at DDL, not on the first INSERT
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE graftddlv.t (d DOUBLE, v BIGINT) " +
        "PARTITIONED BY (bucket(4, d))"))
    assert(msgs(e1).contains("not a supported bucket key"))
    // a column that isn't in the schema fails too (Spark's own
    // transform resolution catches it before layoutProps does)
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE graftddlv.t2 (k BIGINT) PARTITIONED BY (bucket(4, nope))"))
    assert(msgs(e2).contains("not in the table schema") ||
      msgs(e2).contains("Couldn't find column"))
    // same column as identity AND bucket key is contradictory
    val e3 = intercept[Exception](spark.sql(
      "CREATE TABLE graftddlv.t3 (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (k, bucket(4, k))"))
    assert(msgs(e3).contains("cannot be both"))
  }

  test("mixed layout: identity range pruning + bucket SPJ on one table") {
    val root = Files.createTempDirectory("graft-mix").toString
    spark.conf.set("spark.sql.catalog.graftmix",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmix.root", root)
    // the standard fact layout: co-buckets on the join key, rows
    // sorted by the identity column within each bucket, files rolled
    // so per-file (min,max) stats prune identity slices
    spark.sql("CREATE TABLE graftmix.f (day BIGINT, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (day, bucket(4, k)) " +
      "TBLPROPERTIES ('targetFileRows'='1000')")
    spark.sql("INSERT INTO graftmix.f " +
      "SELECT id % 16 AS day, id % 64 AS k, id AS v FROM range(0, 16000)")
    val dir = s"$root/f"
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.forall(f => f.bucket.isDefined && f.bucketN.contains(4)),
      s"mixed layout must still bucket: ${m.files.map(_.bucket)}")
    assert(m.files.size > 4,
      s"rolling must split each bucket into day-sliced files, got ${m.files.size}")
    // within each bucket, rolled files cover near-disjoint day ranges;
    // a day slice plans a strict subset of the files
    spark.sql("SELECT sum(v) AS s FROM graftmix.f WHERE day = 3").collect()
    val (planned, total) = graft.sources.connector.ScanTelemetry
      .lastPlanned(dir).get
    assert(planned < total,
      s"day slice did not stats-prune: planned $planned of $total")
    // and the same table joins shuffle-free on the bucket key
    spark.sql("CREATE TABLE graftmix.d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftmix.d SELECT id, id FROM range(0, 64)")
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("SELECT count(*) AS c FROM graftmix.f f " +
        "JOIN graftmix.d d ON f.k = d.k WHERE f.day BETWEEN 2 AND 5")
      assert(df.as[Long].head == 4000L)
      assert(!df.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "mixed layout must keep the shuffle-free join")
    }
  }

  test("streaming change feed: deletes propagate, exactly-once across restarts") {
    val dir = freshDir()
    val out = Files.createTempDirectory("graft-cdf-out").toString
    val ckpt = Files.createTempDirectory("graft-cdf-ck").toString
    SnapshotTable.write(spark,
      spark.range(0, 20).selectExpr("id AS k", "id AS v"), dir, "overwrite",
      Seq("k"))
    def drain(): Unit = {
      // a parquet sink: the memory sink cannot RESUME from a
      // checkpoint, and resumability is exactly what this test pins
      val q = spark.readStream.format("graft_snapshot")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: the initial snapshot replays as upserts
    drain()
    def sink = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(sink.length == 20 && sink.forall(_._3 == "upsert"))
    // a dv DELETE and an append between drains: the feed emits the
    // exact deleted rows as deletes (the table stream can only drop
    // or fail here) plus the appended rows as upserts
    SnapshotTable.deleteVectors(spark, dir, $"k" % 5 === 2)
    SnapshotTable.write(spark,
      spark.range(20, 25).selectExpr("id AS k", "id * 10 AS v"),
      dir, "append", Seq("k"))
    drain()
    val afterOps = sink
    val dels = afterOps.filter(_._3 == "delete")
    assert(dels.map(t => (t._1, t._2)).toSet ==
      (0 until 20).filter(_ % 5 == 2).map(k => (k.toLong, k.toLong)).toSet,
      s"dv delete must replay exactly the deleted rows, got ${dels.toSeq}")
    assert(afterOps.count(_._3 == "upsert") == 25)
    // exactly-once: an idle restart emits nothing new
    drain()
    assert(sink.length == afterOps.length)
    // versions are attributed: the delete batch carries its own commit
    assert(dels.map(_._4).distinct.length == 1)
    // the catalog route streams too: readStream.table(cat.ns.t.changes)
    val root = Files.createTempDirectory("graft-cdfc").toString
    spark.conf.set("spark.sql.catalog.graftcdfc",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcdfc.root", root)
    spark.sql("CREATE TABLE graftcdfc.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftcdfc.t SELECT id, id FROM range(0, 7)")
    spark.sql("DELETE FROM graftcdfc.t WHERE k = 3")
    val ckpt2 = Files.createTempDirectory("graft-cdfc-ck").toString
    val q2 = spark.readStream.table("graftcdfc.t.changes")
      .writeStream.format("memory").queryName("cdf_sink2")
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows2 = spark.sql("SELECT change_type, count(*) AS n FROM cdf_sink2 " +
      "GROUP BY change_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows2 == Map("upsert" -> 7L, "delete" -> 1L), s"got $rows2")
  }

  test("ApplyChanges: the feed replicates a table downstream, deletes included") {
    val src = freshDir()
    val tgt = freshDir()
    val ckpt = Files.createTempDirectory("graft-apply-ck").toString
    def sync(): Unit = {
      val q = spark.readStream.format("graft_snapshot")
        .option("readChangeFeed", "true").load(src)
        .writeStream
        .foreachBatch((b: DataFrame, _: Long) =>
          graft.streaming.ApplyChanges.applyBatch(b, tgt, "k"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def contentOf(dir: String): Map[Seq[Any], Int] =
      SnapshotTable.scan(spark, dir).collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
    // initial snapshot bootstraps the downstream table
    SnapshotTable.write(spark,
      spark.range(0, 50).selectExpr("id AS k", "id AS v"), src, "overwrite",
      Seq("k"))
    sync()
    assert(contentOf(tgt) == contentOf(src))
    // delete + append + UPDATE (a same-version delete+upsert pair that
    // must collapse to the post-image) — one drain spans all three
    SnapshotTable.deleteVectors(spark, src, $"k" % 3 === 0)
    SnapshotTable.write(spark,
      spark.range(50, 60).selectExpr("id AS k", "id * 10 AS v"),
      src, "append", Seq("k"))
    SnapshotTable.updateVectors(spark, src, $"k" % 5 === 1,
      Seq("v" -> ($"v" * 100)))
    sync()
    assert(contentOf(tgt) == contentOf(src),
      "CDC apply must replicate deletes, appends, and updates")
    // cross-version latest-wins: a key inserted then deleted within
    // ONE drained range must not survive downstream
    SnapshotTable.write(spark,
      spark.range(999, 1000).selectExpr("id AS k", "id AS v"),
      src, "append", Seq("k"))
    SnapshotTable.deleteVectors(spark, src, $"k" === 999)
    sync()
    assert(contentOf(tgt) == contentOf(src))
    assert(!SnapshotTable.scan(spark, tgt).filter($"k" === 999)
      .collect().nonEmpty)
    // idempotent: an idle re-sync changes nothing and burns no version
    val vBefore = SnapshotTable.latestVersion(spark, tgt).get
    sync()
    assert(SnapshotTable.latestVersion(spark, tgt).get == vBefore)
  }

  test("batch readChangeFeed option mirrors the changes metadata table") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).selectExpr("id AS k", "id AS v"), dir, "overwrite")
    SnapshotTable.deleteVectors(spark, dir, $"k" === 4)
    val feed = spark.read.format("graft_snapshot")
      .option("readChangeFeed", "true").load(dir)
    assert(feed.columns.toSeq == Seq("k", "v", "change_type", "commit_version"))
    val got = feed.collect()
      .map(r => (r.getLong(0), r.getString(2))).groupBy(_._2)
      .view.mapValues(_.length).toMap
    assert(got == Map("upsert" -> 10, "delete" -> 1))
    // version pushdown works on the option route too
    assert(spark.read.format("graft_snapshot")
      .option("readChangeFeed", "true").load(dir)
      .filter($"commit_version" > 1).count() == 1L)
    // startingVersion/endingVersion reader options bound the feed like
    // the pushed predicates do
    assert(spark.read.format("graft_snapshot")
      .option("readChangeFeed", "true").option("startingVersion", "2")
      .load(dir).count() == 1L)
    assert(spark.read.format("graft_snapshot")
      .option("readChangeFeed", "true").option("endingVersion", "1")
      .load(dir).count() == 10L)
  }

  test("CHECK constraints: a violating INSERT aborts atomically by name") {
    val root = Files.createTempDirectory("graft-ck").toString
    spark.conf.set("spark.sql.catalog.graftck",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftck.root", root)
    spark.sql("CREATE TABLE graftck.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftck.t SELECT id, id + 1 FROM range(0, 10)")
    spark.sql("ALTER TABLE graftck.t ADD CONSTRAINT positive CHECK (v > 0)")
    val dir = s"$root/t"
    def msgs(t: Throwable): String = {
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ all(x.getCause)
      all(t).mkString("\n")
    }
    // a valid insert commits
    spark.sql("INSERT INTO graftck.t SELECT CAST(100 AS BIGINT), CAST(5 AS BIGINT)")
    val vBefore = SnapshotTable.latestVersion(spark, dir).get
    // a violating insert fails WITH THE CONSTRAINT NAME and leaves the
    // table untouched: same version, same count, no staged orphans
    val e1 = intercept[Exception](spark.sql(
      "INSERT INTO graftck.t SELECT CAST(101 AS BIGINT), CAST(-3 AS BIGINT)"))
    assert(msgs(e1).contains("positive") && msgs(e1).contains("CHECK"))
    assert(SnapshotTable.latestVersion(spark, dir).get == vBefore)
    assert(spark.sql("SELECT count(*) FROM graftck.t").as[Long].head == 11L)
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(dataDir).map(_.getPath.getName).toSet
    val inManifest = SnapshotTable.readManifest(spark, dir, vBefore).files
      .map(fe => new org.apache.hadoop.fs.Path(fe.path).getName).toSet
    assert(onDisk == inManifest,
      s"violating insert left staged orphans: ${onDisk -- inManifest}")
    // NULL predicate result passes (SQL CHECK semantics): a null v row
    // is not a violation of v > 0
    spark.sql("INSERT INTO graftck.t SELECT CAST(102 AS BIGINT), CAST(NULL AS BIGINT)")
    assert(spark.sql("SELECT count(*) FROM graftck.t").as[Long].head == 12L)
    // adding a constraint the EXISTING rows violate fails (Spark
    // validates before the catalog ever sees the change)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graftck.t ADD CONSTRAINT big CHECK (k > 1000)"))
    assert(msgs(e2).contains("CONSTRAINT") || msgs(e2).contains("constraint"))
    // duplicate name refused; DROP removes enforcement; IF EXISTS soft
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE graftck.t ADD CONSTRAINT positive " +
        "CHECK (v IS NULL OR v > -1000000)")) // satisfiable: name clash fires
    assert(msgs(e3).contains("already exists"))
    spark.sql("ALTER TABLE graftck.t DROP CONSTRAINT positive")
    spark.sql("ALTER TABLE graftck.t DROP CONSTRAINT IF EXISTS positive")
    val e4 = intercept[Exception](spark.sql(
      "ALTER TABLE graftck.t DROP CONSTRAINT positive"))
    assert(msgs(e4).contains("no such constraint"))
    spark.sql("INSERT INTO graftck.t SELECT CAST(103 AS BIGINT), CAST(-4 AS BIGINT)")
    assert(spark.sql("SELECT count(*) FROM graftck.t").as[Long].head == 13L)
    // DML post-images are gated too: UPDATE and MERGE rewrites are new
    // content and must not be a back door around the constraint
    spark.sql("ALTER TABLE graftck.t ADD CONSTRAINT floor CHECK (v >= -100)")
    val e6 = intercept[Exception](spark.sql(
      "UPDATE graftck.t SET v = -200 WHERE k = 100"))
    assert(msgs(e6).contains("floor"))
    assert(spark.sql("SELECT v FROM graftck.t WHERE k = 100")
      .as[Long].head == 5L, "a violating UPDATE must leave the row alone")
    spark.range(0, 3).selectExpr("id AS k", "id - 500 AS v")
      .createOrReplaceTempView("ck_bad_src")
    val e7 = intercept[Exception](spark.sql(
      "MERGE INTO graftck.t USING ck_bad_src s ON graftck.t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(msgs(e7).contains("floor"))
    val e8 = intercept[Exception](spark.sql(
      "MERGE INTO graftck.t USING ck_bad_src s ON graftck.t.k = s.k " +
        "WHEN MATCHED AND s.v < 0 THEN UPDATE SET v = s.v")) // clause form
    assert(msgs(e8).contains("floor"))
    assert(spark.sql("SELECT count(*) FROM graftck.t").as[Long].head == 13L,
      "violating DML must leave the table untouched")
    // constraints gate STREAMING epochs too: the violating epoch fails
    // and commits nothing
    spark.sql("CREATE TABLE graftck.s (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graftck.s ADD CONSTRAINT pos CHECK (v >= 0)")
    val src = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 5).selectExpr("id AS k", "id - 3 AS v"), src, "overwrite")
    val ckpt = Files.createTempDirectory("graft-ck-ck").toString
    val q = spark.readStream.format("graft_snapshot").load(src)
      .writeStream.format("graft_snapshot").option("path", s"$root/s")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val e5 = intercept[Exception](q.awaitTermination())
    assert(msgs(e5).contains("pos"))
    assert(spark.sql("SELECT count(*) FROM graftck.s").as[Long].head == 0L)
  }

  test("column DEFAULT: fills pre-evolution rows and omitted columns") {
    val root = Files.createTempDirectory("graft-dflt").toString
    spark.conf.set("spark.sql.catalog.graftdflt",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdflt.root", root)
    // CREATE-time default: omitted and DEFAULT-keyword inserts fill it
    spark.sql("CREATE TABLE graftdflt.t (k BIGINT, v BIGINT DEFAULT 7)")
    spark.sql("INSERT INTO graftdflt.t (k) SELECT CAST(1 AS BIGINT)")
    spark.sql("INSERT INTO graftdflt.t SELECT CAST(2 AS BIGINT), DEFAULT")
    spark.sql("INSERT INTO graftdflt.t SELECT CAST(3 AS BIGINT), CAST(30 AS BIGINT)")
    assert(spark.sql("SELECT * FROM graftdflt.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 7L), (2L, 7L), (3L, 30L)))
    // ADD COLUMNS … DEFAULT: rows in files that PREDATE the column
    // read the exists-default, not null — across the plain read, the
    // dv-masked path, and time travel
    spark.sql("CREATE TABLE graftdflt.e (k BIGINT)")
    spark.sql("INSERT INTO graftdflt.e SELECT id FROM range(0, 100)")
    val dir = s"$root/e"
    val preEvolution = SnapshotTable.latestVersion(spark, dir).get
    spark.sql("ALTER TABLE graftdflt.e ADD COLUMNS (tag STRING DEFAULT 'legacy')")
    spark.sql("INSERT INTO graftdflt.e (k) SELECT CAST(100 AS BIGINT)")
    spark.sql("INSERT INTO graftdflt.e SELECT CAST(200 AS BIGINT), 'explicit'")
    val rows = spark.sql("SELECT k, tag FROM graftdflt.e ORDER BY k").collect()
    assert(rows.length == 102)
    assert(rows.count(_.getString(1) == "legacy") == 101,
      "pre-evolution rows (and the omitted-column insert) read the default")
    assert(rows.last.getString(1) == "explicit")
    assert(!rows.exists(_.isNullAt(1)))
    // dv masking composes: deleting rows does not disturb the fill
    spark.sql("DELETE FROM graftdflt.e WHERE k % 10 = 3")
    assert(spark.sql(
      "SELECT count(*) FROM graftdflt.e WHERE tag = 'legacy'")
      .as[Long].head == 91L)
    // time travel to the pre-evolution version: the column simply
    // does not exist there
    assert(!spark.sql(
      s"SELECT * FROM graftdflt.e VERSION AS OF $preEvolution")
      .columns.contains("tag"))
    // aggregate over the defaulted column is exact
    assert(spark.sql("SELECT count(DISTINCT tag) FROM graftdflt.e")
      .as[Long].head == 2L)
    // the programmatic scan (split read: its dv-carrying leg runs the
    // VECTORIZED reader) fills the same exists-default
    val viaScan = SnapshotTable.scan(spark, dir)
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaScan == Map("legacy" -> 91L, "explicit" -> 1L),
      s"scan path must fill exists-defaults too, got $viaScan")
  }

  test("changes metadata table: the SQL change feed replays history") {
    val root = Files.createTempDirectory("graft-chg").toString
    spark.conf.set("spark.sql.catalog.graftchg",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftchg.root", root)
    spark.sql("CREATE TABLE graftchg.t (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftchg.t SELECT id, id FROM range(0, 100)")
    val vAppend = SnapshotTable.latestVersion(spark, s"$root/t").get
    spark.sql("DELETE FROM graftchg.t WHERE k % 10 = 3") // dv delete
    val vDelete = SnapshotTable.latestVersion(spark, s"$root/t").get
    spark.range(50, 150).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("chg_src")
    spark.sql("MERGE INTO graftchg.t USING chg_src s ON graftchg.t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val vMerge = SnapshotTable.latestVersion(spark, s"$root/t").get
    // compaction is layout, not data: it must add NO feed rows
    SnapshotTable.compact(spark, s"$root/t", smallRows = Long.MaxValue,
      targetRows = 1000000L)
    val feed = spark.sql("SELECT * FROM graftchg.t.changes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // v1 append: 100 upserts
    assert(feed.count(_._4 == vAppend) == 100)
    assert(feed.filter(_._4 == vAppend).forall(_._3 == "upsert"))
    // v2 dv delete: exactly the 10 deleted keys, replayed as deletes
    val dels = feed.filter(_._4 == vDelete)
    assert(dels.map(t => (t._1, t._2, t._3)).toSet ==
      (0 until 100).filter(_ % 10 == 3)
        .map(k => (k.toLong, k.toLong, "delete")).toSet)
    // v3 merge: LIVE matched keys 50..99 (minus the dv-deleted ones)
    // update — pre-image delete + post-image upsert; the dv-deleted
    // keys in 50..99 are NOT MATCHED and re-insert; 100..149 insert
    val matched = (50 until 100).filterNot(_ % 10 == 3)
    val inserted = (100 until 150) ++ (50 until 100).filter(_ % 10 == 3)
    val mergeRows = feed.filter(_._4 == vMerge)
    assert(mergeRows.filter(_._3 == "delete").map(t => (t._1, t._2)).toSet ==
      matched.map(k => (k.toLong, k.toLong)).toSet,
      "merge must replay matched pre-images as deletes")
    assert(mergeRows.filter(_._3 == "upsert").map(t => (t._1, t._2)).toSet ==
      (matched ++ inserted).map(k => (k.toLong, k * 2L)).toSet,
      "merge must replay post-images as upserts")
    // nothing from the compaction
    assert(feed.forall(_._4 <= vMerge),
      "compaction (content-neutral) must contribute no feed rows")
    // version-range pushdown: the narrowed read plans only the asked
    // versions' diffs
    val narrowed = spark.sql(
      s"SELECT * FROM graftchg.t.changes WHERE commit_version > $vDelete")
    assert(narrowed.collect().length == mergeRows.length)
    val scan = narrowed.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head
    assert(scan.description.contains(s"[${vDelete + 1},"),
      s"version bound not pushed: ${scan.description}")
  }

  test("maintain refreshes frozen ANALYZE stats when the row count drifts") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 1000).toDF("id"), dir,
      "overwrite", Seq("id"))
    SnapshotTable.analyzeTable(spark, dir, noscan = false) // records 1000
    val p = SnapshotTable.MaintenancePolicy(analyzeDriftPct = 0.5)
    // fresh stats: the opt-in step is a no-op
    assert(!SnapshotTable.maintain(spark, dir, p).statsRefreshed)
    // +150% drift trips the trigger
    SnapshotTable.write(spark, spark.range(1000, 2500).toDF("id"), dir,
      "append", Seq("id"))
    assert(SnapshotTable.maintain(spark, dir, p).statsRefreshed,
      "drifted frozen stats must refresh under the opt-in policy")
    // the refresh re-recorded the count: a second pass is a no-op
    // (this IS the check that stats.rowCount now tracks the manifest)
    assert(!SnapshotTable.maintain(spark, dir, p).statsRefreshed)
    // the DEFAULT policy never refreshes — strictly opt-in
    SnapshotTable.write(spark, spark.range(2500, 9000).toDF("id"), dir,
      "append", Seq("id"))
    assert(!SnapshotTable.maintain(spark, dir).statsRefreshed)
    // a never-ANALYZEd table has no frozen stats to rot: no-op too
    val bare = freshDir()
    SnapshotTable.write(spark, spark.range(0, 100).toDF("id"), bare,
      "overwrite", Seq("id"))
    assert(!SnapshotTable.maintain(spark, bare, p).statsRefreshed)
  }

  test("SHOW CREATE TABLE reproduces layout, constraints, defaults as runnable DDL") {
    val root = Files.createTempDirectory("graft-catS").toString
    spark.conf.set("spark.sql.catalog.graftcats",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcats.root", root)
    spark.sql("""CREATE TABLE graftcats.src (
      k BIGINT, d STRING, v DOUBLE DEFAULT 1.5)
      PARTITIONED BY (d, bucket(8, k))""")
    spark.sql("ALTER TABLE graftcats.src ADD CONSTRAINT pos CHECK (k >= 0)")
    val ddl = spark.sql("SHOW CREATE TABLE graftcats.src").head.getString(0)
    info(s"emitted DDL:\n$ddl")
    // the layout must render as PARTITIONED BY transforms, not only props
    assert(ddl.contains("PARTITIONED BY"), s"no PARTITIONED BY in:\n$ddl")
    assert(ddl.toLowerCase.contains("bucket(8, k)"), s"no bucket transform in:\n$ddl")
    assert(ddl.contains("DEFAULT"), s"no column DEFAULT in:\n$ddl")
    // RUNNABLE: re-create under a new name from the emitted text alone
    spark.sql(ddl.replace("graftcats.src", "graftcats.copy"))
    val propsOf = (t: String) => spark.sql(s"SHOW TBLPROPERTIES graftcats.$t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val keep = Set("clusterBy", "bucketBy", "buckets", "statsCols",
      "bloomCols", "constraint.pos")
    assert(propsOf("copy").view.filterKeys(keep).toMap ==
      propsOf("src").view.filterKeys(keep).toMap,
      s"copy props ${propsOf("copy")} vs src ${propsOf("src")}")
    // the copy ENFORCES the constraint and FILLS the default
    spark.sql("INSERT INTO graftcats.copy (k, d) VALUES (CAST(5 AS BIGINT), 'x')")
    assert(spark.sql("SELECT v FROM graftcats.copy WHERE k = 5")
      .head.getDouble(0) == 1.5, "column DEFAULT did not survive the round trip")
    val e = intercept[Exception](spark.sql(
      "INSERT INTO graftcats.copy VALUES (CAST(-1 AS BIGINT), 'y', 0.0)"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("pos")), s"constraint not enforced: $e")
    // and the copy's files land BUCKETED like the original's would
    spark.sql("INSERT INTO graftcats.copy SELECT id, " +
      "concat('d', id % 3), CAST(id AS DOUBLE) AS v0 FROM range(0, 1000)")
    val m = SnapshotTable.readManifest(spark, s"$root/copy",
      SnapshotTable.latestVersion(spark, s"$root/copy").get)
    assert(m.files.forall(fe => fe.bucketN.contains(8)),
      s"copy lost the bucket layout: ${m.files.map(f => (f.path, f.bucket, f.bucketN))}")
  }
}
