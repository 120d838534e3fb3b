package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable.{Dv, FileEntry}

/** Golden bytes of the snapshot log's commit-entry codec: one full and
  * one delta entry that between them carry every optional field are
  * rendered and compared byte for byte with the checked-in files under
  * `src/test/resources/graft/log/`, then parsed back. A change to what
  * the log writes fails here first, whatever else moves with it.
  *
  * The codec is found by name (the log module if the build has one,
  * else the table object), so this spec pins the bytes wherever the
  * codec lives. Starts no Spark session. */
class LogCodecSpec extends AnyFunSuite {

  private val owner: AnyRef = Seq("graft.sources.SnapshotLog$", "graft.sources.SnapshotTable$")
    .iterator.flatMap(n => scala.util.Try(Class.forName(n)).toOption)
    .map(_.getField("MODULE$").get(null)).next()

  private def method(suffix: String) = {
    val m = owner.getClass.getDeclaredMethods.find(_.getName.endsWith(suffix)).get
    m.setAccessible(true)
    m
  }
  private val renderM = method("renderEntry")
  private val parseM = method("parseEntry")

  private def render(entry: AnyRef): Array[Byte] =
    renderM.invoke(owner, entry).asInstanceOf[String].getBytes("UTF-8")
  private def parse(bytes: Array[Byte]): AnyRef = parseM.invoke(owner, bytes)

  /** A commit entry: (version, op, ts, kind, files, remove, schema). */
  private def entry(version: Long, op: String, ts: Long, kind: String,
                    files: Seq[FileEntry], remove: Seq[String],
                    schema: Option[String]): AnyRef =
    renderM.getParameterTypes.head.getConstructors.head.newInstance(
      Long.box(version), op, Long.box(ts), kind, files, remove, schema)
      .asInstanceOf[AnyRef]

  private def golden(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get("src/test/resources/graft/log", name))

  private val schema =
    """{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"k","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"name","type":"string","nullable":true,""" +
      """"metadata":{"graft.physical":"n0"}}]}"""

  private val full = entry(10L, "overwrite", 1700000000000L, "full", Seq(
    FileEntry("data/a1b2c3d4-p00000.parquet", 1000L,
      stats = Map("id" -> (0L, 999L), "k" -> (-5L, 7L)),
      bloom = Map("name" -> Seq(1L, -2L, 3L)),
      dv = Some(Dv("data/dv-0001.bin", 1L, 42, 3L)),
      bucket = Some(2), sortedBy = Some("id"), bucketN = Some(4),
      noNulls = Seq("id", "k"),
      // a quote, a backslash, a control character and a non-ASCII one
      strStats = Map("name" -> ("a\"b\\c", "z\u0001é")),
      ndv = Map("k" -> Seq(11L, 22L)),
      eqDv = Seq("data/e1-eq.parquet", "data/e2-eq.parquet")),
    FileEntry("data/f00d-p00001.parquet", 20L, stats = Map.empty)),
    Nil, Some(schema))

  private val delta = entry(11L, "cdc-eq", 1700000000001L, "delta", Seq(
    FileEntry("data/legacy-p00002.parquet", 10L,
      stats = Map("id" -> (1000L, 1009L)),
      // a retired consolidated sidecar: a pointer with no offset
      dv = Some(Dv("data/legacy-sidecar.parquet", -1L, -1, 2L)),
      noNulls = Seq("id"))),
    Seq("data/a1b2c3d4-p00000.parquet", "data/f00d-p00001.parquet"), Some(schema))

  test("a full entry renders to its golden bytes and parses back equal") {
    val bytes = render(full)
    assert(new String(bytes, "UTF-8") == new String(golden("full-entry.json"), "UTF-8"))
    assert(bytes.sameElements(golden("full-entry.json")))
    assert(parse(bytes) == full)
  }

  test("a delta entry renders to its golden bytes and parses back equal") {
    val bytes = render(delta)
    assert(new String(bytes, "UTF-8") == new String(golden("delta-entry.json"), "UTF-8"))
    assert(bytes.sameElements(golden("delta-entry.json")))
    assert(parse(bytes) == delta)
  }
}
