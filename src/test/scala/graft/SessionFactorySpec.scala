package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Local sessions come from [[GraftSession]]; only [[Bench]] and
  * [[Verify]], whose output is the bench and oracle contract, build
  * their own. Reads source files only — starts no Spark session. */
class SessionFactorySpec extends AnyFunSuite {

  test("sessions are built only in GraftSession, Bench and Verify") {
    // assembled, so this file is not itself a site
    val needle = "SparkSession" + ".builder()"
    val walk = Files.walk(Paths.get("src"))
    val sites = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val n = Files.readString(p).split(java.util.regex.Pattern.quote(needle), -1).length - 1
        Seq.fill(n)(p.getFileName.toString)
      }.toSeq.sorted
    finally walk.close()
    assert(sites == Seq("Bench.scala", "GraftSession.scala", "Verify.scala"))
  }
}
