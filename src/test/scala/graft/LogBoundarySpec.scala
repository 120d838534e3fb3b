package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot log's on-disk protocol lives in one module: no other
  * main source names the log directory, its file names, its publish
  * step or its entry codec. Reads source files only — starts no Spark
  * session. */
class LogBoundarySpec extends AnyFunSuite {

  test("only SnapshotLog.scala touches the log's paths, publish and codec") {
    val needles = Seq("\"_log\"", "manifestName", "tryPublish", "parseEntry", "renderEntry")
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
    val offenders = for {
      p <- sources
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"${p.getFileName}: $n"
    assert(offenders.filterNot(_.startsWith("SnapshotLog.scala:")).isEmpty, offenders)
    // the walk saw the module itself, so it is not vacuous
    assert(needles.forall(n => offenders.contains(s"SnapshotLog.scala: $n")), offenders)
  }
}
