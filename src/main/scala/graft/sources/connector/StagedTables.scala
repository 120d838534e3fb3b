package graft.sources.connector

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{SnapshotLog, SnapshotTable}
import graft.sources.SnapshotTable.FileEntry

private[connector] object StageMode extends Enumeration {
  val Create, Replace, CreateOrReplace = Value
}

/** The atomic half of `CREATE OR REPLACE TABLE` / `REPLACE TABLE …
  * AS SELECT` / atomic CTAS: Spark plans these through
  * [[GraftCatalog]]'s `StagingTableCatalog` surface, writes the query
  * into this staged table, and only then calls
  * [[commitStagedChanges]].
  *
  * The snapshot format makes the atomicity nearly free. V2 task
  * writers already stream their files into the table's `data/`
  * directory where they are INVISIBLE until a manifest references
  * them (a crashed writer leaves only vacuum-food). So staging "a new
  * table definition" is just: write the files, stash the manifest
  * entries driver-side ([[SnapshotBatchWrite]]'s `defer` hook), and
  * publish ONE commit — `carry = false`, the new schema recorded with
  * `replaceSchema = true` (REPLACE may narrow; the union rule would
  * refuse), layout props swapped after the publish. A failure at ANY
  * point before that single publish aborts to exactly the previous
  * definition: prior versions stay time-travelable, `VERSION AS OF`
  * over the pre-replace history keeps reading, and the staged files
  * are deleted (or, post-crash, swept by vacuum's age gate).
  *
  * This is the engine-grade form of the reference's flagship
  * backup → truncate → load → rollback sink
  * (/root/reference/etl/loader.py:197-238): the "backup" is the
  * retained previous version, the "rollback" is not-publishing.
  *
  * At 100 TB the property that matters is that the swap is O(1)
  * metadata — one manifest publish — regardless of data size, and
  * that a failed RTAS never leaves the table half-replaced for the
  * thousand readers racing it. */
private[connector] final class GraftStagedTable(
    ident: Identifier, dir: String, declared: StructType,
    partitions: Array[Transform], newProps: Map[String, String],
    mode: StageMode.Value,
    installProps: Map[String, String] => Unit)
  extends StagedTable with SupportsWrite {

  private def spark = SparkSession.active

  // the definition this statement observed when it staged: the publish
  // must land DIRECTLY on it (expectLatest) — a concurrent commit
  // racing the statement conflicts loudly instead of being silently
  // replaced (REPLACE means "replace what I saw", and an atomic CTAS
  // must never overwrite a concurrently-created table)
  private val observed: Option[Long] = SnapshotTable.latestVersion(spark, dir)

  // set by the deferred BatchWrite.commit on the driver; a plain
  // REPLACE TABLE (no AS SELECT) never writes, so these stay empty
  // and the staged commit publishes an empty version with the schema
  @volatile private var pending: Seq[FileEntry] = Nil

  override def name(): String = ident.toString
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] = partitions
  override def properties(): java.util.Map[String, String] =
    newProps.asJava

  override def capabilities(): java.util.Set[TableCapability] =
    // TRUNCATE: Spark's RTAS exec writes the query into the staged
    // table as a truncate-then-write (the staged table is notionally
    // empty, but the exec requires the capability); under the deferred
    // commit the flag is moot — the publish is always carry = false
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the NEW definition's layout rides the write (bucketBy routes the
    // exchange, clusterBy orders the files, statsCols/bloomCols land
    // in the manifest) — the to-be-replaced table's props must not
    val layout = SnapshotV2Table.LayoutProps
      .flatMap(k => newProps.get(k).map(k -> _)).toMap
    val merged =
      if (layout.isEmpty) info
      else {
        val m = new java.util.HashMap[String, String]()
        layout.foreach { case (k, v) => m.put(k, v) }
        m.putAll(info.options.asCaseSensitiveMap())
        val opts = new CaseInsensitiveStringMap(m)
        new LogicalWriteInfo {
          override def options(): CaseInsensitiveStringMap = opts
          override def queryId(): String = info.queryId()
          override def schema(): StructType = info.schema()
        }
      }
    // accumulate, never replace: should Spark ever run two batch
    // writes against one staged table, both batches publish
    new SnapshotWriteBuilder(dir, merged, asFresh = true,
      defer = Some(entries => synchronized { pending = pending ++ entries }))
  }

  override def commitStagedChanges(): Unit = {
    val exists = SnapshotTable.latestVersion(spark, dir).isDefined
    mode match {
      case StageMode.Create if exists =>
        cleanup(); throw new TableAlreadyExistsException(ident)
      case StageMode.Replace if !exists =>
        cleanup(); throw new NoSuchTableException(ident)
      case _ => ()
    }
    // ONE atomic publish, expected DIRECTLY on the staged-time version
    // (-1 = "still no table"): a commit that raced this statement
    // conflicts loudly — REPLACE replaces what the statement SAW,
    // never a concurrent writer's work. A non-carrying commit records
    // the declared schema EXACTLY (the union rule that refuses to
    // narrow only applies to carrying commits), so REPLACE may
    // drop/retype columns freely — the old definition lives on in the
    // prior versions. Only after the publish do the layout props swap
    // (stale-props window is benign: per-file bucket ids gate every
    // bucketing claim, so a reader racing the swap just plans a
    // shuffle it could have elided).
    try SnapshotLog.commit(spark, dir,
      if (exists) "replace" else "ctas", pending, carry = false,
      schemaJson = Some(declared.json),
      expectLatest = Some(observed.getOrElse(-1L)))
    catch { case e: Throwable => cleanup(); throw e }
    installProps(newProps)
  }

  override def abortStagedChanges(): Unit = cleanup()

  private def cleanup(): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    pending.foreach(fe => fs.delete(new Path(dir, fe.path), false))
    pending = Nil
  }
}
