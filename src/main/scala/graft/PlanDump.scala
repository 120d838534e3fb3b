package graft
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "/tmp/plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val only = sys.env.getOrElse("SPARK_GRAFT_PLAN_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = GraftSession.local(GraftSession.envCores)
    GraftSession.BenchJoinConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    new java.io.File(out).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$out/${name}_$suffix.txt")
          try w.println(txt) finally w.close()
          println(s"[plan] wrote $name")
        } catch { case t: Throwable =>
          println(s"[plan] $name FAILED: ${t.getMessage}") }
      }
    spark.stop()
  }
}
