package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors}

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.CommitConflictException

/** N-thread MIXED-operation storm on one table: appends, a dv delete,
  * an equality delete, a dv update, a compaction, tag+vacuum, and a
  * branch publish all fire through one barrier. OCC is spec-proven
  * pairwise elsewhere (append/append, merge/merge, dv races,
  * tag-vs-vacuum); this is the everything-at-once case a production
  * table actually sees. The invariants are the serializable-history
  * ones, independent of interleaving:
  *
  *  1. the survivor history is gapless and every version's manifest
  *     is readable END TO END (scan succeeds at every version);
  *  2. no lost files — every retained manifest's referenced
  *     data/dv/eq files exist on disk after the storm (including the
  *     vacuum that ran INSIDE it);
  *  3. no lost updates — every operation's effect is present in the
  *     final state exactly once (ops act on disjoint key domains, so
  *     the final content is computable regardless of commit order);
  *  4. conflicted-and-retried operations commit exactly once (no
  *     double-applied deletes/updates).
  */
class ConcurrencyStormSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-storm").toString

  /** Ops whose internal retry budget can exhaust under an 8-way storm
    * get an outer loop — the op itself stays exactly-once per success
    * (each retry re-reads the snapshot; a committed effect is never
    * re-applied because the re-read sees it). */
  private def persist[T](what: String, tries: Int = 30)(body: => T): T = {
    var left = tries
    while (true) {
      try return body
      catch {
        case _: CommitConflictException if left > 1 => left -= 1
        case e: java.util.ConcurrentModificationException if left > 1 =>
          left -= 1
      }
    }
    throw new IllegalStateException(s"$what never committed")
  }

  test("mixed-op storm: gapless readable history, no lost files, no lost updates") {
    val dir = freshDir()
    SnapshotTable.write(spark,
      spark.range(0, 10000).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(8, $"k"),
      dir, "overwrite", Seq("k"))
    // the branch exists before the barrier; its PUBLISH races inside
    val branchBase = SnapshotTable.createBranch(spark, dir, "storm")
    val bdir = SnapshotTable.branchDir(dir, "storm")
    SnapshotTable.write(spark,
      spark.range(300000, 300100).select($"id".as("k"), ($"id" * 2).as("v")),
      bdir, "append", Seq("k"))

    @volatile var ffWon = false
    val ops: Seq[(String, () => Unit)] = Seq(
      "appendA" -> (() => persist("appendA") {
        SnapshotTable.write(spark,
          spark.range(100000, 100500).select($"id".as("k"), ($"id" * 2).as("v")),
          dir, "append", Seq("k")); ()
      }),
      "appendB" -> (() => persist("appendB") {
        SnapshotTable.write(spark,
          spark.range(200000, 200500).select($"id".as("k"), ($"id" * 2).as("v")),
          dir, "append", Seq("k")); ()
      }),
      "dvDelete" -> (() => persist("dvDelete") {
        SnapshotTable.deleteVectors(spark, dir, $"k".between(1000, 1099)); ()
      }),
      "eqDelete" -> (() => persist("eqDelete") {
        SnapshotTable.deleteByKey(spark, dir, "k",
          spark.range(2000, 2100).toDF("k")); ()
      }),
      "dvUpdate" -> (() => persist("dvUpdate") {
        SnapshotTable.updateVectors(spark, dir, $"k".between(3000, 3099),
          Seq("v" -> lit(-1L)), statsCols = Seq("k")); ()
      }),
      "compact" -> (() => persist("compact") {
        SnapshotTable.compact(spark, dir, smallRows = 100000,
          targetRows = 200000, statsCols = Seq("k")); ()
      }),
      "tagAndVacuum" -> (() => persist("tagAndVacuum") {
        val name = "storm-pin"
        if (SnapshotTable.tagVersion(spark, dir, name).isEmpty)
          try SnapshotTable.createTag(spark, dir, name)
          catch { case _: IllegalStateException => () } // tag/vacuum race: loud loser is fine
        SnapshotTable.vacuum(spark, dir, keepVersions = 100); ()
      }),
      "branchPublish" -> (() => {
        try { SnapshotTable.fastForward(spark, dir, "storm"); ffWon = true }
        catch { case _: CommitConflictException => () } // main advanced: the contract
      }))

    val barrier = new CyclicBarrier(ops.size)
    val pool = Executors.newFixedThreadPool(ops.size)
    try {
      val futures = ops.map { case (_, op) =>
        pool.submit(new Callable[Unit] {
          def call(): Unit = { barrier.await(); op() }
        })
      }
      futures.foreach(_.get()) // propagates any storm-thread failure
    } finally pool.shutdown()

    // 1. gapless, fully readable survivor history
    val hist = SnapshotTable.history(spark, dir)
    val versions = hist.map(_._1)
    assert(versions == (versions.head to versions.last),
      s"history has gaps: $versions")
    versions.foreach(v => SnapshotTable.scan(spark, dir, Some(v)).count())

    // 2. no lost files anywhere in the retained history
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    versions.foreach { v =>
      SnapshotTable.readManifest(spark, dir, v).files.foreach { fe =>
        ((fe.path +: fe.dv.map(_.path).toSeq) ++ fe.eqDv).foreach { p =>
          assert(f.exists(new org.apache.hadoop.fs.Path(
            SnapshotTable.resolvePath(dir, p))),
            s"version $v references missing file $p")
        }
      }
    }

    // 3. no lost updates: disjoint domains make the final content exact
    val rows = SnapshotTable.scan(spark, dir)
      .select($"k", $"v").as[(Long, Long)].collect()
    val keys = rows.map(_._1)
    assert(keys.length == keys.distinct.length, "storm duplicated rows")
    val expected = ((0L until 10000L).toSet --
      (1000L until 1100L) -- (2000L until 2100L)) ++
      (100000L until 100500L) ++ (200000L until 200500L) ++
      (if (ffWon) (300000L until 300100L).toSet else Set.empty[Long])
    assert(keys.toSet == expected,
      s"content diverged: missing=${(expected -- keys.toSet).take(5)} " +
        s"extra=${(keys.toSet -- expected).take(5)} (ffWon=$ffWon)")
    // 4. exactly-once effects: the update hit its whole domain, once
    val byK = rows.toMap
    (3000L until 3100L).foreach(k => assert(byK(k) == -1L,
      s"update lost on k=$k"))
    ((0L until 1000L) ++ (4000L until 4100L)).foreach(k =>
      assert(byK(k) == k * 2, s"stray write on k=$k"))

    // the losing branch (when it lost) is still intact and readable
    if (!ffWon)
      assert(SnapshotTable.scan(spark, bdir).count() == 10100,
        "refused publish damaged the branch")
  }
}
