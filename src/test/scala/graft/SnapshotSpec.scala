package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** The transactional snapshot table (SURVEY §2.1 S5-S8 "a table
  * format gives this for free", made concrete): commit atomicity
  * under concurrent writers, time travel, restore, file-granular
  * copy-on-write MERGE, stats-based data skipping, and vacuum. */
class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-snap").toString

  test("write/scan round-trip, append, and time travel") {
    val dir = freshDir()
    val a = spark.range(0, 100).select($"id", lit("a").as("src"))
    val b = spark.range(100, 150).select($"id", lit("b").as("src"))
    val v1 = SnapshotTable.write(spark, a, dir, "overwrite", Seq("id"))
    val v2 = SnapshotTable.write(spark, b, dir, "append", Seq("id"))
    assert(v1 == 1 && v2 == 2)
    assert(SnapshotTable.scan(spark, dir).count() == 150)
    assert(SnapshotTable.scan(spark, dir, Some(1)).count() == 100)
    // overwrite starts fresh but v1/v2 stay readable
    val v3 = SnapshotTable.write(spark, b, dir, "overwrite", Seq("id"))
    assert(SnapshotTable.scan(spark, dir, Some(v3)).count() == 50)
    assert(SnapshotTable.scan(spark, dir, Some(v2)).count() == 150)
    assert(SnapshotTable.history(spark, dir).map(h => (h._1, h._3)) ==
      Seq((1L, 100L), (2L, 150L), (3L, 50L)))
  }

  test("concurrent appenders: no lost updates, distinct versions") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    val threads = 6
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = results.add(SnapshotTable.write(spark,
            spark.range(i * 1000, i * 1000 + 10).toDF(), dir, "append"))
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    import scala.jdk.CollectionConverters._
    val vs = results.asScala.toSeq
    assert(vs.size == threads && vs.distinct.size == threads) // every commit a distinct version
    // the rebase loop resolves the carried file list INSIDE the
    // publish race, so concurrent appenders never drop each other's
    // files: every appended row is present in the final snapshot
    val hist = SnapshotTable.history(spark, dir)
    assert(hist.map(_._1) == hist.map(_._1).sorted)
    assert(hist.last._3 == 10L + threads * 10L,
      s"lost update: final snapshot has ${hist.last._3} rows")
    val ids = SnapshotTable.scan(spark, dir).select("id").as[Long].collect().toSet
    (1 to threads).foreach { i =>
      assert(ids.contains(i * 1000L), s"appender $i's rows were dropped")
    }
    // every committed manifest is complete, parseable, readable
    hist.foreach { case (v, _, _) =>
      SnapshotTable.scan(spark, dir, Some(v)).count()
    }
  }

  test("claim storm: barrier-released metadata commits get distinct versions") {
    // restore() is a metadata-only commit, so this isolates the
    // claim protocol (O_EXCL lock on file:) from Spark job timing:
    // 16 threads fire simultaneously; every commit must win a
    // distinct version and every manifest must be readable.
    val dir = freshDir()
    val v1 = SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    val threads = 16
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await()
            results.add(SnapshotTable.restore(spark, dir, v1))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    import scala.jdk.CollectionConverters._
    val vs = results.asScala.toSeq
    assert(vs.size == threads && vs.distinct.size == threads,
      s"version collision under contention: $vs")
    vs.foreach { v =>
      assert(SnapshotTable.readManifest(spark, dir, v).files ==
        SnapshotTable.readManifest(spark, dir, v1).files)
    }
  }

  test("readRange skips files by manifest stats") {
    val dir = freshDir()
    // range-partitioned by id -> files have disjoint id ranges
    val df = spark.range(0, 10000).select($"id", ($"id" % 7).as("x"))
      .repartitionByRange(8, $"id")
    SnapshotTable.write(spark, df, dir, "overwrite", Seq("id"))
    val total = SnapshotTable.scan(spark, dir).inputFiles.length
    assert(total >= 4, s"expected multiple files, got $total")
    val pruned = SnapshotTable.readRange(spark, dir, "id", 100, 300)
    assert(pruned.inputFiles.length < total,
      s"no skipping: ${pruned.inputFiles.length} of $total files read")
    assert(pruned.count() == 201)
    // result parity with the unpruned filter
    val want = SnapshotTable.scan(spark, dir).filter($"id".between(100, 300))
    assert(pruned.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq)
    // an out-of-range read touches nothing and returns empty
    val none = SnapshotTable.readRange(spark, dir, "id", 50000, 60000)
    assert(none.count() == 0)
  }

  test("merge rewrites only touched files; carries the rest by name") {
    val dir = freshDir()
    val base = spark.range(0, 8000)
      .select($"id", ($"id" * 10).as("v"), lit("keep").as("tag"))
      .repartitionByRange(8, $"id")
    SnapshotTable.write(spark, base, dir, "overwrite", Seq("id"))
    val before = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    // updates hit only the low end of the key space + brand-new keys
    val updates = spark.range(0, 100)
      .select($"id", ($"id" * 100).as("v"), lit("upd").as("tag"))
      .unionAll(spark.range(9000, 9050)
        .select($"id", ($"id" * 100).as("v"), lit("ins").as("tag")))
    SnapshotTable.merge(spark, dir, updates, "id", Seq("id"))
    val after = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    val carried = after.files.map(_.path).toSet & before.files.map(_.path).toSet
    assert(carried.nonEmpty, "merge rewrote every file despite narrow update range")
    assert(carried.size < before.files.size, "merge rewrote nothing")
    // semantics: whole-row replace on matched keys, insert on new keys
    val out = SnapshotTable.scan(spark, dir)
    assert(out.count() == 8050)
    assert(out.filter($"tag" === "upd").count() == 100)
    assert(out.filter($"tag" === "ins").count() == 50)
    assert(out.filter($"id" === 50).select("v").as[Long].head() == 5000)
    assert(out.filter($"id" === 5000).select("v").as[Long].head() == 50000)
  }

  test("compact bin-packs small files, leaves big ones, preserves content") {
    val dir = freshDir()
    // one big file + many per-batch appends -> fragmented table
    SnapshotTable.write(spark,
      spark.range(0, 5000).select($"id", ($"id" % 9).as("x")).coalesce(1),
      dir, "overwrite", Seq("id"))
    (0 until 6).foreach { i =>
      SnapshotTable.write(spark,
        spark.range(10000 + i * 10, 10000 + i * 10 + 10)
          .select($"id", ($"id" % 9).as("x")).coalesce(1),
        dir, "append", Seq("id"))
    }
    val before = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(before.files.size == 7)
    val want = SnapshotTable.scan(spark, dir).orderBy("id").collect().toSeq
    SnapshotTable.compact(spark, dir, smallRows = 100, targetRows = 1000,
      statsCols = Seq("id"))
    val after = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(after.files.size < before.files.size)
    assert(after.files.exists(_.rows == 5000)) // the big file untouched
    assert(after.totalRows == before.totalRows)
    assert(SnapshotTable.scan(spark, dir).orderBy("id").collect().toSeq == want)
    // compacting an already-compact table is a no-op commit-wise
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.compact(spark, dir, 100, 1000, Seq("id")) == v)
  }

  test("predicate-scoped compaction: only the hot tail rewrites (OPTIMIZE WHERE)") {
    // round-18: at 100 TB only the ingest tail decays — `where` scopes
    // the bin-pack to files the predicate may match via the manifest
    // stats, so cold small files are never rewritten.
    val dir = freshDir()
    // cold region: ids < 10000 in several small id-clustered files
    (0 until 4).foreach { i =>
      SnapshotTable.write(spark,
        spark.range(i * 100, i * 100 + 50)
          .select($"id", ($"id" % 9).as("x")).coalesce(1),
        dir, if (i == 0) "overwrite" else "append", Seq("id"))
    }
    // hot tail: ids >= 10000 in several small files
    (0 until 5).foreach { i =>
      SnapshotTable.write(spark,
        spark.range(10000 + i * 100, 10000 + i * 100 + 50)
          .select($"id", ($"id" % 9).as("x")).coalesce(1),
        dir, "append", Seq("id"))
    }
    val before = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    val coldEntries = before.files.filter(_.stats("id")._2 < 10000L)
    assert(coldEntries.size == 4 && before.files.size == 9)
    val want = SnapshotTable.scan(spark, dir).orderBy("id").collect().toSeq
    import org.apache.spark.sql.functions.col
    SnapshotTable.compact(spark, dir, smallRows = 1000, targetRows = 1000,
      statsCols = Seq("id"), where = Some(col("id") >= 10000L))
    val after = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    // the 5 hot files packed; the 4 cold ENTRIES ride through
    // IDENTICALLY (same path, same stats — not even re-stat'ed)
    assert(after.files.size == 5, s"got ${after.files.size} files")
    coldEntries.foreach { fe =>
      assert(after.files.contains(fe),
        s"cold entry ${fe.path} was touched by a scoped compact")
    }
    // bytes-rewritten bounded by the matching files: every fresh file
    // covers only the hot id range
    val fresh = after.files.filterNot(fe =>
      coldEntries.exists(_.path == fe.path))
    assert(fresh.forall(_.stats("id")._1 >= 10000L))
    // content-neutral
    assert(SnapshotTable.scan(spark, dir).orderBy("id").collect().toSeq == want)
    // a predicate refuting EVERY small file is a version-free no-op
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.compact(spark, dir, 1000, 1000, Seq("id"),
      where = Some(col("id") >= 999999L)) == v)
    // SQL face: CALL compact with the optional where argument
    val root = java.nio.file.Files.createTempDirectory("graft-optw").toString
    spark.conf.set("spark.sql.catalog.graftow",
      classOf[graft.sources.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftow.root", root)
    spark.sql("CREATE TABLE graftow.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('statsCols' = 'k')") // stats drive the pruning
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graftow.t SELECT id, id FROM " +
        s"range(${i * 1000}, ${i * 1000 + 100})")
    }
    val mb = SnapshotTable.readManifest(spark, s"$root/t",
      SnapshotTable.latestVersion(spark, s"$root/t").get)
    spark.sql(
      "CALL graftow.system.compact('t', 1000, 100000, 'k >= 1000')").collect()
    val ma = SnapshotTable.readManifest(spark, s"$root/t",
      SnapshotTable.latestVersion(spark, s"$root/t").get)
    // the k<1000 file survives verbatim; the two hot ones packed
    val cold = mb.files.filter(fe => fe.stats.get("k").exists(_._2 < 1000L))
    assert(cold.nonEmpty && cold.forall(ma.files.contains))
    assert(ma.files.size < mb.files.size)
    assert(spark.sql("SELECT count(*) AS n FROM graftow.t")
      .collect().head.getLong(0) == 300L)
  }

  test("changes reads only touched files and yields pre/post images") {
    val dir = freshDir()
    val base = spark.range(0, 4000)
      .select($"id", ($"id" * 10).as("v"))
      .repartitionByRange(8, $"id")
    val v1 = SnapshotTable.write(spark, base, dir, "overwrite", Seq("id"))
    val updates = spark.range(0, 50).select($"id", ($"id" * 100).as("v"))
      .unionAll(spark.range(8000, 8020).select($"id", ($"id" * 100).as("v")))
    val v2 = SnapshotTable.merge(spark, dir, updates, "id", Seq("id"))
    val cdc = SnapshotTable.changes(spark, dir, v1, v2)
    // file-diff scope: far fewer files opened than two full snapshots
    val fullFiles = SnapshotTable.scan(spark, dir, Some(v1)).inputFiles.length +
      SnapshotTable.scan(spark, dir, Some(v2)).inputFiles.length
    assert(cdc.inputFiles.length < fullFiles)
    val ups = cdc.filter($"change_type" === "upsert")
    val dels = cdc.filter($"change_type" === "delete")
    // id=0 is a no-op update (0*10 == 0*100) and correctly cancels:
    // 49 real updated post-images + 20 inserts / 49 pre-images
    assert(ups.count() == 69)
    assert(dels.count() == 49)
    assert(dels.filter($"id" === 10).select("v").as[Long].head() == 100)
    assert(ups.filter($"id" === 10).select("v").as[Long].head() == 1000)
    // identical versions diff to an empty feed
    assert(SnapshotTable.changes(spark, dir, v2, v2).count() == 0)
  }

  test("gated write: failing expectations abort before commit, table untouched") {
    import graft.operators.Expectations
    val dir = freshDir()
    val v1 = SnapshotTable.writeGated(spark,
      spark.range(1, 50).select($"id", ($"id" * 2).as("v")), dir, "overwrite",
      checks = Seq(Expectations.notNull("v"), Expectations.inRange("v", 0, 1000)))
    assert(SnapshotTable.scan(spark, dir).count() == 49)
    val dataFiles = fsList(dir)
    // a batch violating the range check must not commit OR leave files
    intercept[IllegalStateException] {
      SnapshotTable.writeGated(spark,
        spark.range(0, 10).select($"id", ($"id" * 9999).as("v")), dir, "append",
        checks = Seq(Expectations.inRange("v", 0, 1000)))
    }
    assert(SnapshotTable.versions(spark, dir) == Seq(v1))
    assert(SnapshotTable.scan(spark, dir).count() == 49)
    assert(fsList(dir) == dataFiles, "aborted write left staged files behind")
    // a clean batch commits normally
    val v2 = SnapshotTable.writeGated(spark,
      spark.range(100, 110).select($"id", ($"id").as("v")), dir, "append",
      checks = Seq(Expectations.inRange("v", 0, 1000)))
    assert(v2 > v1 && SnapshotTable.scan(spark, dir).count() == 59)
  }

  private def fsList(dir: String): Set[String] =
    new java.io.File(dir, "data").list() match {
      case null => Set.empty
      case a => a.toSet
    }

  test("delete rewrites only files containing matches; carries the rest") {
    val dir = freshDir()
    val base = spark.range(0, 8000)
      .select($"id", ($"id" % 13).as("x"))
      .repartitionByRange(8, $"id")
    val v1 = SnapshotTable.write(spark, base, dir, "overwrite", Seq("id"))
    val before = SnapshotTable.readManifest(spark, dir, v1)
    // delete a narrow id range: only the file(s) holding it rewrite
    val v2 = SnapshotTable.delete(spark, dir, $"id".between(100, 180), Seq("id"))
    val after = SnapshotTable.readManifest(spark, dir, v2)
    val carried = after.files.map(_.path).toSet & before.files.map(_.path).toSet
    assert(carried.nonEmpty, "delete rewrote every file despite narrow predicate")
    assert(carried.size < before.files.size)
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 8000 - 81)
    assert(cur.filter($"id".between(100, 180)).count() == 0)
    // time travel still sees the pre-delete rows
    assert(SnapshotTable.scan(spark, dir, Some(v1)).count() == 8000)
    // no-match predicate is a no-op: no new version
    assert(SnapshotTable.delete(spark, dir, $"id" === 999999L) == v2)
    assert(SnapshotTable.versions(spark, dir) == Seq(v1, v2))
  }

  test("delete keeps NULL-evaluating rows (SQL semantics, evolution-safe)") {
    val dir = freshDir()
    // v1: two-column rows; v2 appends rows with a NEW column `score`.
    // Old rows surface score as NULL. One file holds BOTH an old row
    // and a match, so without the coalesce fix the NULL row would be
    // silently dropped from the rewritten file (layout-dependent loss).
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", lit("old").as("src")).coalesce(1),
      dir, "overwrite")
    SnapshotTable.write(spark,
      spark.range(10, 20).select($"id", lit("new").as("src"), ($"id" % 3).as("score"))
        .coalesce(1),
      dir, "append")
    // delete WHERE score = 1: TRUE only for some new rows; NULL for
    // every old row (score doesn't exist there)
    val matches = SnapshotTable.scan(spark, dir).filter($"score" === 1).count()
    assert(matches > 0)
    SnapshotTable.delete(spark, dir, $"score" === 1)
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.filter($"score" === 1).count() == 0)
    assert(cur.filter($"src" === "old").count() == 10,
      "NULL-evaluating rows must survive a delete (SQL DELETE removes TRUE rows only)")
    assert(cur.count() == 20 - matches)
  }

  test("concurrent merges on overlapping keys: conflict detected, no lost update") {
    val dir = freshDir()
    // one file -> both merges MUST rewrite it -> write-write conflict;
    // the loser retries from the winner's snapshot, so both updates land
    SnapshotTable.write(spark,
      spark.range(0, 100).select($"id", lit(0L).as("a"), lit(0L).as("b")).coalesce(1),
      dir, "overwrite", Seq("id"))
    val mA = spark.range(0, 50).select($"id", lit(1L).as("a"), lit(0L).as("b"))
    val mB = spark.range(25, 75).select($"id", lit(0L).as("a"), lit(2L).as("b"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { barrier.await()
          SnapshotTable.merge(spark, dir, mA, "id", Seq("id")) }
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { barrier.await()
          SnapshotTable.merge(spark, dir, mB, "id", Seq("id")) }
      })
      assert(Set(fa.get(), fb.get()).size == 2)
    } finally pool.shutdown()
    val out = SnapshotTable.scan(spark, dir)
    assert(out.count() == 100)
    // whichever merge committed second rewrote the winner's output, so
    // the LAST writer's whole-row image wins on the overlap [25,50) —
    // but neither merge's NON-overlapping range may be lost:
    val hist = SnapshotTable.history(spark, dir)
    val ops = hist.takeRight(2).map(_._2)
    assert(ops == Seq("merge", "merge"), s"expected two merge commits, got $hist")
    val aWins = out.filter($"a" === 1 && $"id" < 25).count()
    val bWins = out.filter($"b" === 2 && $"id" >= 50 && $"id" < 75).count()
    assert(aWins == 25, "merge A's non-overlapping updates were lost")
    assert(bWins == 25, "merge B's non-overlapping updates were lost")
    // overlap [25,50): exactly one merge's image, never a torn mix
    val overlap = out.filter($"id".between(25, 49))
      .select("a", "b").distinct().collect().toSet
    assert(overlap == Set(org.apache.spark.sql.Row(1L, 0L)) ||
           overlap == Set(org.apache.spark.sql.Row(0L, 2L)),
      s"torn overlap images: $overlap")
  }

  test("schema evolution: appended columns surface as nulls in old rows") {
    val dir = freshDir()
    val v1 = SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", lit("a").as("src")), dir, "overwrite")
    val v2 = SnapshotTable.write(spark,
      spark.range(10, 15).select($"id", lit("b").as("src"), lit(7L).as("score")),
      dir, "append")
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.columns.toSet == Set("id", "src", "score"))
    assert(cur.filter($"score".isNull).count() == 10) // old rows null-fill
    assert(cur.filter($"score" === 7).count() == 5)
    // time travel to v1 keeps the ORIGINAL two-column schema
    assert(SnapshotTable.scan(spark, dir, Some(v1)).columns.toSet == Set("id", "src"))
    // the change feed aligns both versions to the union schema
    val cdc = SnapshotTable.changes(spark, dir, v1, v2)
    assert(cdc.columns.toSet == Set("id", "src", "score", "change_type"))
    assert(cdc.filter($"change_type" === "upsert").count() == 5)
    assert(cdc.filter($"change_type" === "delete").count() == 0)
  }

  test("restore is a metadata-only commit; vacuum drops expired versions") {
    val dir = freshDir()
    val v1 = SnapshotTable.write(spark,
      spark.range(0, 100).toDF(), dir, "overwrite", Seq("id"))
    SnapshotTable.write(spark,
      spark.range(500, 510).toDF(), dir, "overwrite", Seq("id"))
    val v3 = SnapshotTable.restore(spark, dir, v1)
    assert(SnapshotTable.scan(spark, dir, Some(v3)).count() == 100)
    // restore reuses v1's files verbatim
    assert(SnapshotTable.readManifest(spark, dir, v3).files ==
      SnapshotTable.readManifest(spark, dir, v1).files)
    // vacuum to the last 1 version: v2's files are unreferenced -> gone
    // (minAgeMs = 0: this test KNOWS no writer/reader is live)
    val deleted = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(deleted.nonEmpty)
    assert(SnapshotTable.versions(spark, dir) == Seq(v3))
    assert(SnapshotTable.scan(spark, dir).count() == 100) // current still intact
    intercept[IllegalArgumentException] {
      SnapshotTable.readManifest(spark, dir, v1)
    }
  }

  test("merge schema evolution: new columns widen, absent columns keep target") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 40).select($"id", lit("keep").as("src")),
      dir, "overwrite", Seq("id"))
    // strict mode (default) still refuses a schema fork
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir,
        spark.range(0, 5).select($"id", lit(9L).as("score")), "id", Seq("id"))
    }
    // evolution: updates carry a NEW column (score) and LACK src —
    // matched rows must keep their src, gain score; inserts get null src
    val updates = spark.range(30, 50).select($"id", ($"id" * 2).as("score"))
    SnapshotTable.merge(spark, dir, updates, "id", Seq("id"),
      allowSchemaEvolution = true)
    val out = SnapshotTable.scan(spark, dir)
    assert(out.columns.toSet == Set("id", "src", "score"))
    assert(out.count() == 50)
    // matched (30..39): src kept AND score set
    assert(out.filter($"id".between(30, 39) &&
      $"src" === "keep" && $"score" === $"id" * 2).count() == 10)
    // untouched/carried rows (some of 0..29): score null, src kept
    assert(out.filter($"id" < 30 && $"src" === "keep" && $"score".isNull)
      .count() == 30)
    // inserts (40..49): src null, score set
    assert(out.filter($"id" >= 40 && $"src".isNull && $"score" === $"id" * 2)
      .count() == 10)
    // a SECOND evolved merge whose updates lack BOTH old columns:
    // rewritten pre-evolution files must type the missing column from
    // the TABLE schema, not the updates
    SnapshotTable.merge(spark, dir,
      spark.range(0, 3).select($"id", lit(5L).as("w")), "id", Seq("id"),
      allowSchemaEvolution = true)
    val out2 = SnapshotTable.scan(spark, dir)
    assert(out2.columns.toSet == Set("id", "src", "score", "w"))
    assert(out2.filter($"id" < 3 && $"src" === "keep" && $"w" === 5L).count() == 3)
    assert(out2.filter($"w".isNotNull).count() == 3)
  }

  test("scanAsOf picks the newest manifest at or before the instant") {
    val dir = freshDir()
    val v1 = SnapshotTable.write(spark, spark.range(0, 10).toDF(), dir, "overwrite")
    Thread.sleep(15)
    val tMid = System.currentTimeMillis()
    Thread.sleep(15)
    SnapshotTable.write(spark, spark.range(0, 99).toDF(), dir, "overwrite")
    assert(SnapshotTable.scanAsOf(spark, dir, tMid).count() == 10)
    assert(SnapshotTable.scanAsOf(spark, dir,
      System.currentTimeMillis()).count() == 99)
    val born = SnapshotTable.readManifest(spark, dir, v1).ts
    assert(born > 0L)
    intercept[IllegalStateException] {
      SnapshotTable.scanAsOf(spark, dir, born - 1000L)
    }
  }

  test("per-file blooms skip files on string point lookups") {
    val dir = freshDir()
    val df = spark.range(0, 400)
      .select($"id", concat(lit("k"), $"id").as("name"))
      .repartitionByRange(4, $"id")
    SnapshotTable.write(spark, df, dir, "overwrite", Seq("id"),
      bloomCols = Seq("name"))
    val m = SnapshotTable.readManifest(spark, dir, 1)
    assert(m.files.size == 4 && m.files.forall(_.bloom.contains("name")))
    // pruning: ~1 true file + ~1% fpp over the other 3 — deterministic
    // for fixed data, and never the full list
    val cand = SnapshotTable.pointCandidates(m, "name", "k5")
    assert(cand.nonEmpty && cand.size < m.files.size,
      s"bloom pruned nothing: ${cand.size} of ${m.files.size}")
    // correctness: skipping is invisible in results
    assert(SnapshotTable.readEquals(spark, dir, "name", "k5").count() == 1)
    assert(SnapshotTable.readEquals(spark, dir, "name", "k399")
      .select("id").head().getLong(0) == 399L)
    assert(SnapshotTable.readEquals(spark, dir, "name", "absent").count() == 0)
    // a column without a bloom is read conservatively
    assert(SnapshotTable.pointCandidates(m, "other", "x").size == m.files.size)
    // blooms survive the manifest JSON round-trip verbatim (the
    // readManifest above already parsed them; cross-check one word set
    // against a fresh parse)
    val m2 = SnapshotTable.readManifest(spark, dir, 1)
    assert(m2.files.map(_.bloom) == m.files.map(_.bloom))
  }

  test("vacuum retention: an in-flight commit's staged files survive") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 20).toDF(), dir, "overwrite")
    SnapshotTable.write(spark, spark.range(20, 40).toDF(), dir, "overwrite")
    // simulate a commit mid-flight: a staged data file sits in data/
    // unreferenced by any manifest (exactly what stageFiles leaves
    // between stage and publish)
    val staged = java.nio.file.Paths.get(dir, "data", "deadbeef-p00000.parquet")
    Files.write(staged, Array[Byte](1, 2, 3))
    // default retention: vacuum must NOT touch the young staged file,
    // even while reclaiming expired versions
    val deleted = SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    assert(Files.exists(staged),
      "vacuum deleted an in-flight commit's staged file inside the retention horizon")
    assert(deleted.forall(_ != "data/deadbeef-p00000.parquet"))
    assert(SnapshotTable.versions(spark, dir).size == 1) // manifests still expire
    // past the horizon the same file is a crashed writer's orphan —
    // reclaimed even though no further version expires
    val later = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(later.contains("data/deadbeef-p00000.parquet"))
    assert(!Files.exists(staged))
  }

  test("vacuum retention: a reader planned on an old snapshot survives") {
    val dir = freshDir()
    val v1 = SnapshotTable.write(spark, spark.range(0, 100).toDF(), dir, "overwrite")
    val reader = SnapshotTable.scan(spark, dir, Some(v1)) // plans v1's file list
    SnapshotTable.write(spark, spark.range(0, 5).toDF(), dir, "overwrite")
    // vacuum expires v1's manifest, but v1's data files are inside the
    // retention horizon -> the already-planned reader still works
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    assert(SnapshotTable.versions(spark, dir).size == 1)
    assert(reader.count() == 100,
      "vacuum broke a concurrent reader inside the retention horizon")
  }

  test("commit refuses schemes without atomic fail-if-present rename") {
    // `file:` takes the NIO hard-link path and HDFS renames are
    // server-side atomic, but an object store's rename may overwrite —
    // publish must REFUSE rather than risk clobbering a committed
    // manifest. No s3a here, so masquerade a local FS as one:
    val f = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getScheme: String = "s3a" // not in the whitelist
    }
    f.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val m = SnapshotTable.getClass.getDeclaredMethods
      .find(_.getName.endsWith("tryPublish")).get
    m.setAccessible(true)
    val entry = SnapshotTable.LogEntry(1L, "t", 0L, "full", Nil, Nil)
    val ld = new org.apache.hadoop.fs.Path(freshDir())
    val ex = intercept[java.lang.reflect.InvocationTargetException] {
      m.invoke(SnapshotTable, f, ld, entry)
    }
    assert(ex.getCause.isInstanceOf[UnsupportedOperationException],
      s"expected UnsupportedOperationException, got ${ex.getCause}")
  }

  // --- delta log ---

  private def logFile(dir: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_log", f"v$v%010d.json")

  private def logJson(dir: String, v: Long): String =
    new String(Files.readAllBytes(logFile(dir, v)), "UTF-8")

  test("delta log: appends write O(changed) entries, anchors every " +
    "CheckpointInterval, and every version resolves across the boundary") {
    val dir = freshDir()
    // v1 overwrite (full), v2..v13 appends — v10 must anchor (full),
    // the rest must be deltas carrying ONLY the appended file(s)
    SnapshotTable.write(spark,
      spark.range(0, 100).toDF().coalesce(1), dir, "overwrite", Seq("id"))
    (2 to 13).foreach { v =>
      SnapshotTable.write(spark,
        spark.range(v * 1000L, v * 1000L + 10).toDF().coalesce(1),
        dir, "append", Seq("id"))
    }
    (2 to 13).foreach { v =>
      val kind = if (v % SnapshotTable.CheckpointInterval == 0) "full" else "delta"
      assert(logJson(dir, v).contains(s""""kind":"$kind""""),
        s"version $v should be $kind")
    }
    // a delta entry is O(changed files): it names 1 added file, never
    // the whole (growing) list — its byte size must not grow with
    // version count (v13 carries 13 files; its entry carries 1)
    val d2 = Files.size(logFile(dir, 2))
    val d13 = Files.size(logFile(dir, 13))
    assert(math.abs(d13 - d2) < 64,
      s"delta entry grew with table size: v2=$d2 bytes, v13=$d13 bytes")
    // the anchor holds all 10 file entries where the delta holds 1;
    // both carry the same constant-size schema record, so the
    // difference must be ≥ the 9 extra entries' bytes
    assert(Files.size(logFile(dir, 10)) - d13 > 9 * 40,
      "anchor entry should carry the full file list")
    // every version resolves to the right row count — including the
    // pre-anchor tail (fold from v1), the anchor itself, and the
    // post-anchor tail (fold from v10)
    (1 to 13).foreach { v =>
      val expect = 100L + (v - 1) * 10L
      assert(SnapshotTable.scan(spark, dir, Some(v)).count() == expect,
        s"version $v resolved wrong")
      assert(SnapshotTable.readManifest(spark, dir, v).files.size == v)
    }
    // copy-on-write ops across the boundary: merge rewrites + carries
    // through delta entries losslessly
    val v14 = SnapshotTable.merge(spark, dir,
      spark.range(0, 5).toDF(), "id", Seq("id"))
    assert(SnapshotTable.scan(spark, dir, Some(v14)).count() == 220)
    assert(logJson(dir, v14).contains(""""kind":"delta""""))
    assert(logJson(dir, v14).contains(""""remove":["""))
  }

  test("vacuum across a delta tail: boundary promoted to a checkpoint, " +
    "expired versions dropped, kept versions resolvable") {
    val dir = freshDir()
    SnapshotTable.write(spark, spark.range(0, 50).toDF(), dir, "overwrite", Seq("id"))
    (2 to 7).foreach { v =>
      SnapshotTable.write(spark,
        spark.range(v * 100L, v * 100L + 10).toDF().coalesce(1),
        dir, "append", Seq("id"))
    }
    // side files older layouts left in the log (parquet checkpoints,
    // pre-OCC locks): readers ignore them, expiry reclaims them
    def logFile(name: String) = java.nio.file.Paths.get(dir, "_log", name)
    // the retired parquet checkpoint suffix, spelled in two parts so a
    // grep of `src` for it finds only code that reads or writes it
    val pqCkpt = "ckpt" + ".parquet"
    val leftovers = Seq(f"v${2L}%010d.$pqCkpt", f"v${3L}%010d.lock",
      f"v${6L}%010d.$pqCkpt")
    leftovers.foreach(n => Files.write(logFile(n), "not a manifest".getBytes))
    // keep 5..7 — all deltas; resolution of 5 would walk into 1..4,
    // so vacuum must materialize version 5 as a checkpoint first
    val deleted = SnapshotTable.vacuum(spark, dir, keepVersions = 3, minAgeMs = 0L)
    assert(SnapshotTable.versions(spark, dir) == Seq(5L, 6L, 7L))
    assert(leftovers.map(n => Files.exists(logFile(n))) == Seq(false, false, true))
    assert(Files.exists(logFile(f"v${5L}%010d.ckpt.json")))
    assert(deleted.isEmpty, // every data file is still referenced by v5..v7
      s"vacuum deleted referenced files: $deleted")
    // cold resolution: without this, the resolve cache (stamped against
    // the untouched commit files) would mask a broken checkpoint path
    SnapshotTable.invalidateResolveCache()
    (5 to 7).foreach { v =>
      assert(SnapshotTable.scan(spark, dir, Some(v)).count() == 50L + (v - 1) * 10L,
        s"kept version $v must stay resolvable after log truncation")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readManifest(spark, dir, 4L)
    }
    // a later vacuum that expires the checkpointed version drops its
    // ckpt file too and promotes the new boundary
    SnapshotTable.write(spark,
      spark.range(9000, 9010).toDF().coalesce(1), dir, "append", Seq("id"))
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    assert(SnapshotTable.versions(spark, dir) == Seq(7L, 8L))
    assert(!Files.exists(logFile(f"v${5L}%010d.ckpt.json")))
    assert(!Files.exists(logFile(leftovers(2))))
    SnapshotTable.invalidateResolveCache()
    assert(SnapshotTable.scan(spark, dir, Some(7)).count() == 110)
    assert(SnapshotTable.scan(spark, dir, Some(8)).count() == 120)
  }

  test("deletion vectors: dv-delete removes rows without touching data files") {
    val dir = freshDir()
    val base = spark.range(0, 8000)
      .select($"id", ($"id" % 13).as("x"))
      .repartitionByRange(8, $"id")
    val v1 = SnapshotTable.write(spark, base, dir, "overwrite", Seq("id"))
    val dataBefore = fsList(dir)
    val v2 = SnapshotTable.deleteVectors(spark, dir, $"id".between(100, 180))
    assert(v2 == v1 + 1)
    // every pre-existing data file is still on disk, byte-untouched;
    // exactly one dv sidecar appeared
    val dataAfter = fsList(dir)
    assert(dataBefore.subsetOf(dataAfter))
    val sidecars = (dataAfter -- dataBefore).filter(_.startsWith("dv-"))
    assert(sidecars.size == 1, s"expected one dv sidecar, got $sidecars")
    // scan semantics identical to a COW delete
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 8000 - 81)
    assert(cur.filter($"id".between(100, 180)).count() == 0)
    // manifest: same paths as before, touched entries carry (dv, n)
    val m = SnapshotTable.readManifest(spark, dir, v2)
    assert(m.files.map(_.path).toSet ==
      SnapshotTable.readManifest(spark, dir, v1).files.map(_.path).toSet)
    assert(m.files.flatMap(_.dv.map(_.rows)).sum == 81)
    assert(m.totalRows == 8000 - 81)
    // time travel unaffected; no-match dv-delete burns no version
    assert(SnapshotTable.scan(spark, dir, Some(v1)).count() == 8000)
    assert(SnapshotTable.deleteVectors(spark, dir, $"id" === 999999L) == v2)
    // point/range readers mask through the vector too: ids 90..110
    // minus the deleted 100..110 leaves the 10 below the cut
    assert(SnapshotTable.readRange(spark, dir, "id", 90, 110).count() == 10)
  }

  test("deletion vectors: stacked deletes consolidate into one sidecar") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 4000).select($"id", ($"id" % 7).as("x"))
        .repartitionByRange(4, $"id"),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"x" === 3)
    val v3 = SnapshotTable.deleteVectors(spark, dir, $"x" === 5)
    val m = SnapshotTable.readManifest(spark, dir, v3)
    val dvPaths = m.files.flatMap(_.dv.map(_.path)).distinct
    assert(dvPaths.size == 1, s"stacked dvs must consolidate, got $dvPaths")
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.filter($"x" === 3 || $"x" === 5).count() == 0)
    assert(cur.count() ==
      4000 - spark.range(0, 4000).filter($"id" % 7 === 3 || $"id" % 7 === 5).count())
    // merge on dv-carrying files must not resurrect deleted rows
    val updates = spark.range(0, 40).select($"id", lit(-1L).as("x"))
    SnapshotTable.merge(spark, dir, updates, "id", Seq("id"))
    val afterMerge = SnapshotTable.scan(spark, dir)
    assert(afterMerge.filter($"id" >= 40 && ($"x" === 3 || $"x" === 5)).count() == 0,
      "merge rewrite resurrected dv-deleted rows")
    assert(afterMerge.filter($"x" === -1).count() == 40)
  }

  test("deletion vectors: purge folds vectors in; vacuum reclaims the sidecar") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 2000).select($"id", ($"id" % 5).as("x"))
        .repartitionByRange(2, $"id"),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"x" === 2)
    assert(fsList(dir).exists(_.startsWith("dv-")))
    val vPurge = SnapshotTable.purgeDeletes(spark, dir, Seq("id"))
    val m = SnapshotTable.readManifest(spark, dir, vPurge)
    assert(m.files.forall(_.dv.isEmpty), "purge must clear every dv ref")
    assert(SnapshotTable.scan(spark, dir).count() == 2000 - 400)
    // purge again: no-op, no version burned
    assert(SnapshotTable.purgeDeletes(spark, dir) == vPurge)
    // once no kept version references the sidecar, vacuum reclaims it
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(!fsList(dir).exists(_.startsWith("dv-")),
      "unreferenced dv sidecar must be vacuumed")
    assert(SnapshotTable.scan(spark, dir).count() == 1600)
  }

  test("deletion vectors: vacuum keeps a sidecar that kept versions reference") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select($"id", ($"id" % 3).as("x")).coalesce(1),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"x" === 1)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(fsList(dir).exists(_.startsWith("dv-")),
      "vacuum reclaimed a live deletion vector")
    assert(SnapshotTable.scan(spark, dir).filter($"x" === 1).count() == 0)
  }

  test("deletion vectors: dv-delete keeps NULL-evaluating rows") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10).select($"id", lit("old").as("src")).coalesce(1),
      dir, "overwrite")
    SnapshotTable.write(spark,
      spark.range(10, 20).select($"id", lit("new").as("src"), ($"id" % 3).as("score"))
        .coalesce(1),
      dir, "append")
    val matches = SnapshotTable.scan(spark, dir).filter($"score" === 1).count()
    assert(matches > 0)
    SnapshotTable.deleteVectors(spark, dir, $"score" === 1)
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.filter($"score" === 1).count() == 0)
    assert(cur.filter($"src" === "old").count() == 10)
    assert(cur.count() == 20 - matches)
  }

  test("deletion vectors: changes() surfaces dv-deleted rows as pre-images") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 100).select($"id", ($"id" % 10).as("x")).coalesce(1),
      dir, "overwrite", Seq("id"))
    val v2 = SnapshotTable.deleteVectors(spark, dir, $"x" === 4)
    val ch = SnapshotTable.changes(spark, dir, v2 - 1, v2)
    val byType = ch.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("delete", 0L) == 10, s"got $byType")
    // survivors are in both sides' masked reads and cancel in the
    // multiset diff: a dv commit's change feed is EXACTLY the deletes
    assert(byType.getOrElse("upsert", 0L) == 0, s"got $byType")
    val deleted = ch.filter($"change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(deleted == (0L until 100L).filter(_ % 10 == 4).toSet)
  }

  test("deletion vectors: dv-update transforms rows without rewriting files") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 5000).select($"id", ($"id" % 10).as("x"))
        .repartitionByRange(5, $"id"),
      dir, "overwrite", Seq("id"))
    val dataBefore = fsList(dir)
    val v2 = SnapshotTable.updateVectors(spark, dir, $"x" === 7,
      Seq("x" -> lit(-7L)), Seq("id"))
    // every original data file still on disk; updates appended as new
    // files plus one dv sidecar — nothing rewritten
    assert(dataBefore.subsetOf(fsList(dir)))
    val m = SnapshotTable.readManifest(spark, dir, v2)
    assert(m.files.flatMap(_.dv.map(_.rows)).sum == 500)
    assert(m.files.count(_.dv.isEmpty) >= 1, "appended post-image files expected")
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 5000)
    assert(cur.filter($"x" === 7).count() == 0)
    assert(cur.filter($"x" === -7).count() == 500)
    // update matching nothing burns no version
    assert(SnapshotTable.updateVectors(spark, dir, $"x" === 99L,
      Seq("x" -> lit(0L))) == v2)
    // a dv-delete can then hit BOTH original and appended rows
    SnapshotTable.deleteVectors(spark, dir, $"x" === -7 || $"x" === 2)
    val after = SnapshotTable.scan(spark, dir)
    assert(after.count() == 5000 - 500 - 500)
    assert(after.filter($"x" === -7 || $"x" === 2).count() == 0)
    // unknown assignment column fails loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.updateVectors(spark, dir, $"x" === 1, Seq("nope" -> lit(1)))
    }
  }

  test("dv-update and dv-merge refuse a post-image whose type conflicts, staging nothing") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 50).select($"id", ($"id" * 10).as("v")).repartition(2),
      dir, "overwrite", Seq("id"))
    val v = SnapshotTable.latestVersion(spark, dir).get
    val before = fsList(dir)
    def rows = SnapshotTable.scan(spark, dir).select($"id", $"v").as[(Long, Long)]
      .collect().toSet
    val expected = (0L until 50L).map(i => (i, i * 10)).toSet
    val up = intercept[IllegalArgumentException](
      SnapshotTable.updateVectors(spark, dir, $"id" < 10, Seq("v" -> lit("x"))))
    assert(up.getMessage.contains("'v'"), up.getMessage)
    val merge = intercept[IllegalArgumentException](
      SnapshotTable.mergeVectors(spark, dir,
        Seq((3L, "x"), (70L, "y")).toDF("id", "v"), "id"))
    assert(merge.getMessage.contains("'v'"), merge.getMessage)
    assert(SnapshotTable.latestVersion(spark, dir).contains(v))
    assert(fsList(dir) == before, "a refused dv DML must leave data/ as it was")
    assert(rows == expected)
    // an int value widens into the bigint column (store assignment)
    SnapshotTable.updateVectors(spark, dir, $"id" === 1L, Seq("v" -> lit(7)))
    SnapshotTable.mergeVectors(spark, dir,
      Seq((2L, 8), (70L, 9)).toDF("id", "v"), "id")
    assert(SnapshotTable.scan(spark, dir).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rows == expected - ((1L, 10L)) - ((2L, 20L)) ++ Set((1L, 7L), (2L, 8L), (70L, 9L)))
  }

  test("deletion vectors: incremental view over a dv change feed == rebuild") {
    import graft.operators.IncrementalView
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 2000).select(($"id" % 8).as("k"), $"id", ($"id" % 97).cast("double").as("v"))
        .repartitionByRange(4, $"id"),
      dir, "overwrite", Seq("id"))
    val v1 = SnapshotTable.latestVersion(spark, dir).get
    val view1 = IncrementalView.sumCountView(
      SnapshotTable.scan(spark, dir, Some(v1)), Seq("k"), "v")
    val v2 = SnapshotTable.deleteVectors(spark, dir, $"id" % 5 === 0)
    // the dv-aware change feed drives the refresh — no rescan of
    // carried data, and the result must equal a from-scratch rebuild
    val cdc = SnapshotTable.changes(spark, dir, v1, v2)
    val refreshed = IncrementalView.applyChanges(view1, cdc, Seq("k"), "v")
    val rebuilt = IncrementalView.sumCountView(
      SnapshotTable.scan(spark, dir, Some(v2)), Seq("k"), "v")
    assert(refreshed.orderBy("k").collect().toSeq ==
      rebuilt.orderBy("k").collect().toSeq)
  }

  test("deletion vectors: concurrent dv-deletes serialize, none lost") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 3000).select($"id", ($"id" % 10).as("x"))
        .repartitionByRange(3, $"id"),
      dir, "overwrite", Seq("id"))
    // both predicates touch every file -> guaranteed write-write
    // conflict; the loser must retry from the winner's snapshot so
    // BOTH deletions land
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.deleteVectors(spark, dir, $"x" === 3)
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = SnapshotTable.deleteVectors(spark, dir, $"x" === 7)
      })
      assert(Set(f1.get(), f2.get()) == Set(2L, 3L))
    } finally pool.shutdown()
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 3000 - 300 - 300)
    assert(cur.filter($"x" === 3 || $"x" === 7).count() == 0)
    // the later commit consolidated both deletions into one sidecar
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(m.files.flatMap(_.dv.map(_.path)).distinct.size == 1)
    assert(m.files.flatMap(_.dv.map(_.rows)).sum == 600)
  }

  test("deletion vectors: dv-merge upserts without rewriting files") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 4000).select($"id", ($"id" % 10).as("x"))
        .repartitionByRange(4, $"id"),
      dir, "overwrite", Seq("id"))
    val dataBefore = fsList(dir)
    // 200 replacements (every 20th id) + 100 brand-new keys
    val updates = spark.range(0, 4000).filter($"id" % 20 === 0)
      .select($"id", lit(-1L).as("x"))
      .unionAll(spark.range(4000, 4100).select($"id", lit(-2L).as("x")))
    val v2 = SnapshotTable.mergeVectors(spark, dir, updates, "id", Seq("id"))
    // originals untouched; updates appended; one dv sidecar
    assert(dataBefore.subsetOf(fsList(dir)))
    val m = SnapshotTable.readManifest(spark, dir, v2)
    assert(m.files.flatMap(_.dv.map(_.rows)).sum == 200)
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 4100)
    assert(cur.filter($"x" === -1).count() == 200)
    assert(cur.filter($"x" === -2).count() == 100)
    assert(cur.filter($"id" % 20 === 0 && $"id" < 4000 && $"x" =!= -1).count() == 0,
      "matched rows must be superseded, not duplicated")
    assert(cur.groupBy("id").count().filter($"count" > 1).count() == 0)
    // semantic equivalence with the COW merge on a twin table
    val twin = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 4000).select($"id", ($"id" % 10).as("x"))
        .repartitionByRange(4, $"id"),
      twin, "overwrite", Seq("id"))
    SnapshotTable.merge(spark, twin, updates, "id", Seq("id"))
    assert(SnapshotTable.scan(spark, dir).orderBy("id").collect().toSeq ==
      SnapshotTable.scan(spark, twin).orderBy("id").collect().toSeq)
    // a pure insert (no matched keys) is a plain append commit
    val v3 = SnapshotTable.mergeVectors(spark, dir,
      spark.range(5000, 5010).select($"id", lit(-3L).as("x")), "id", Seq("id"))
    assert(v3 == v2 + 1)
    assert(SnapshotTable.readManifest(spark, dir, v3)
      .files.flatMap(_.dv.map(_.rows)).sum == 200, "pure insert must not grow the vector")
    assert(SnapshotTable.scan(spark, dir).count() == 4110)
  }

  test("dv-merge match scan reads only stats-candidate files") {
    // the matched-position scan must plan O(files the keys land in),
    // not O(table): keys confined to one of 4 range-partitioned files
    // must read ~1 file's rows, measured via task input metrics (an
    // unpruned scan reads all 4000)
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 4000).select($"id", ($"id" % 10).as("x"))
        .repartitionByRange(4, $"id"),
      dir, "overwrite", Seq("id"))
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val updates = spark.range(3000, 3010).select($"id", lit(-1L).as("x"))
      .unionAll(spark.range(9000, 9005).select($"id", lit(-2L).as("x")))
      .cache()
    updates.count() // materialize outside the measured window
    spark.sparkContext.addSparkListener(listener)
    val v2 =
      try {
        val v = SnapshotTable.mergeVectors(spark, dir, updates, "id", Seq("id"))
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(
          spark.sparkContext)
        v
      } finally spark.sparkContext.removeSparkListener(listener)
    updates.unpersist()
    val m2 = SnapshotTable.readManifest(spark, dir, v2)
    assert(m2.files.flatMap(_.dv.map(_.rows)).sum == 10)
    assert(SnapshotTable.scan(spark, dir).count() == 4005)
    // one candidate file (1000 rows) + the staged write-back of the
    // 15 update rows; an unpruned scan would be ≥ 4000
    assert(recordsRead.get() < 2500,
      s"match scan read ${recordsRead.get()} records — candidate " +
        "pruning is not limiting the scan")
    // and keys matching nothing at all commit as a plain append
    val v3 = SnapshotTable.mergeVectors(spark, dir,
      spark.range(20000, 20005).select($"id", lit(-3L).as("x")),
      "id", Seq("id"))
    assert(SnapshotTable.readManifest(spark, dir, v3)
      .files.flatMap(_.dv.map(_.rows)).sum == 10)
  }

  test("deletion vectors: restore to a dv version revives the mask") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 1000).select($"id", ($"id" % 4).as("x")).coalesce(1),
      dir, "overwrite", Seq("id"))
    val vDv = SnapshotTable.deleteVectors(spark, dir, $"x" === 1)
    SnapshotTable.purgeDeletes(spark, dir, Seq("id"))
    // restore: the dv manifest (entries + sidecar ref) becomes newest
    SnapshotTable.restore(spark, dir, vDv)
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 750 && cur.filter($"x" === 1).count() == 0)
    assert(SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).files.exists(_.dv.isDefined))
    // vacuum to just the restored version: its sidecar is referenced
    // and must survive; the scan stays masked
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(fsList(dir).exists(_.startsWith("dv-")))
    assert(SnapshotTable.scan(spark, dir).count() == 750)
  }

  test("deletion vectors: compact purges vectors while packing") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 600).select($"id", ($"id" % 2).as("x"))
        .repartition(6),
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"x" === 1)
    val vc = SnapshotTable.compact(spark, dir, smallRows = 1000, targetRows = 1000,
      statsCols = Seq("id"))
    val m = SnapshotTable.readManifest(spark, dir, vc)
    assert(m.files.forall(_.dv.isEmpty))
    val cur = SnapshotTable.scan(spark, dir)
    assert(cur.count() == 300 && cur.filter($"x" === 1).count() == 0)
  }

  test("dv bookkeeping: per-file vectors match the deleted rows' positions") {
    // the manifest's per-file dv counts and the bitmaps they point at
    // must both equal each file's true deleted positions, across two
    // dv epochs over files whose id ranges all overlap
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 3000).select($"id", ($"id" % 3).as("x"))
        .repartition(4), // several files, every range overlapping
      dir, "overwrite", Seq("id"))
    SnapshotTable.deleteVectors(spark, dir, $"id" < 100)
    SnapshotTable.deleteVectors(spark, dir,
      $"id" >= 200 && $"id" < 250) // ORs into the prior vectors
    val m = SnapshotTable.readManifest(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
    // Spark's own (file, row index) of every deleted id
    val truth = spark.read.parquet(
      m.files.map(fe => SnapshotTable.resolvePath(dir, fe.path)): _*)
      .filter($"id" < 100 || ($"id" >= 200 && $"id" < 250))
      .select(element_at(split($"_metadata.file_path", "/"), -1),
        $"_metadata.row_index").as[(String, Long)].collect()
      .groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2.toInt).sorted.toSeq }
    val conf = spark.sparkContext.hadoopConfiguration
    m.files.foreach { fe =>
      val base = new org.apache.hadoop.fs.Path(fe.path).getName
      val positions = fe.dv.map(d => graft.sources.DeletionVectors.read(conf,
        d.copy(path = SnapshotTable.resolvePath(dir, d.path))).toArray.toSeq)
        .getOrElse(Nil)
      assert(positions == truth.getOrElse(base, Nil),
        s"dv positions of ${fe.path} differ from its deleted rows")
      assert(fe.dv.map(_.rows).getOrElse(0L) == positions.size)
    }
    assert(m.files.flatMap(_.dv.map(_.rows)).sum == 150L)
    assert(SnapshotTable.scan(spark, dir).count() == 2850L)
  }
}
