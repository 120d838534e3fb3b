package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite (spark_guide.md §ScalaTest). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Evaluate a single Column expression over a one-row frame. */
  def evalExpr(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  /** Run `body` with the given SQL confs set, restoring (or unsetting)
    * each afterwards — the shared-session analogue of Spark's own
    * test helper. */
  def withSQLConf[A](confs: (String, String)*)(body: => A): A = {
    val prior = confs.map { case (k, _) =>
      k -> (try Some(spark.conf.get(k)) catch { case _: Exception => None })
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
