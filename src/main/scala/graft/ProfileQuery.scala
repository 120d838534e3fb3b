package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1): runs named
  * catalog queries once (after the same warmup Bench does) with a
  * listener that records every Spark job's wall time and call site,
  * then prints a per-job breakdown. This is how "q7T is 9 s" becomes
  * "q7T is 14 jobs and the window collapse recomputes 4x per epoch" —
  * the empirical half of the measure-first loop. Reporting tool only:
  * the bench contract lives in [[Bench]], unchanged.
  *
  * Usage: SPARK_GRAFT_PROFILE_ONLY=q7T,q7M sbt "runMain graft.ProfileQuery"
  */
object ProfileQuery {

  private final case class JobRec(id: Int, site: String, start: Long,
                                  var end: Long = -1L, var tasks: Int = 0)

  /** execution-id → the action call site that started that SQL
    * execution (SparkListenerSQLExecutionStart.description). AQE
    * submits stage jobs from a thread pool, so the job's own call site
    * reads as the pool's lambda; the SQL execution id property on the
    * job is the durable link back to the submitting action. */
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Best-readable attribution for a job: the owning SQL execution's
    * action call site, else the job description, else the result
    * stage's name. */
  private def siteOf(e: SparkListenerJobStart): String = {
    val p = e.properties
    def prop(k: String): Option[String] =
      Option(p).flatMap(pp => Option(pp.getProperty(k))).filter(_.nonEmpty)
    prop("spark.sql.execution.id")
      .flatMap(id => Option(execSite.get(id.toLong)))
      .orElse(prop("spark.job.description"))
      .orElse(prop("callSite.short").filterNot(_.contains("withThreadLocalCaptured")))
      .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = GraftSession.local(GraftSession.envCores)
    GraftSession.BenchJoinConfs.foreach { case (k, v) => spark.conf.set(k, v) }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    @volatile var capture = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (capture) {
        jobs.put(e.jobId, JobRec(e.jobId, siteOf(e), e.time,
          tasks = e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSite.put(s.executionId, s.description.linesIterator
              .find(_.nonEmpty).getOrElse("?").take(120))
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // same warmup as Bench: JIT/codegen + computeTable staging
    spark.range(1000000).selectExpr("sum(id) s", "count(distinct id % 7) c")
      .repartition(2).count()
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(tbl => graft.sources.Tables.computeTable(spark, sfDir, tbl).count())
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // one untimed warm pass (codegen cache), matching Bench methodology
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      new java.io.File(sfDir).getParentFile match {
        case null => "/root/testdata/sf0.001"
        case p    => new java.io.File(p, "sf0.001").getPath
      })
    if (new java.io.File(warmDir).isDirectory)
      catalog.foreach { case (name, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }

    // Optional driver-stack sampler (guide §7.3 "driver thread dumps",
    // automated): samples the MAIN thread every ~20 ms during the
    // measured query and prints the hottest collapsed frames — the
    // direct view of the wall-minus-jobs gap (commit protocol,
    // planning, listing, checkpoint I/O).
    val sampleStacks = sys.env.get("SPARK_GRAFT_PROFILE_STACKS").contains("1")
    val mainThread = Thread.currentThread()
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    if (sampleStacks) {
      val t = new Thread(() => {
        while (true) {
          if (sampling) {
            val st = mainThread.getStackTrace
            // the deepest frame that names engine/Spark intent: skip
            // pure JDK noise, keep the first org.apache.spark / graft
            // / parquet / hadoop frame and its caller
            val sig = st.find { f =>
              val c = f.getClassName
              (c.startsWith("org.apache.spark.sql") ||
               c.startsWith("org.apache.parquet") ||
               c.startsWith("org.apache.hadoop") ||
               c.startsWith("graft.")) && !c.contains("ProfileQuery")
            }.map(f => s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}")
              .getOrElse(st.headOption.map(f =>
                s"${f.getClassName.split('.').takeRight(1).mkString}.${f.getMethodName}").getOrElse("?"))
            frameCounts.merge(sig, 1, (a, b) => a + b)
          }
          Thread.sleep(20)
        }
      })
      t.setDaemon(true); t.start()
    }

    catalog.foreach { case (name, fn) =>
      jobs.clear()
      frameCounts.clear()
      sampling = sampleStacks
      capture = true
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch {
        case t: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${t.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      capture = false
      sampling = false
      Thread.sleep(200) // let the listener bus drain job-end events
      val recs = {
        import scala.jdk.CollectionConverters._
        jobs.values.asScala.toSeq.sortBy(_.id)
      }
      val jobSum = recs.collect { case r if r.end > 0 => (r.end - r.start) / 1e3 }.sum
      println(f"== $name wall=$wall%.3f s, ${recs.size} jobs, sum(job)=$jobSum%.3f s, gap=${wall - jobSum}%.3f s")
      if (sampleStacks) {
        import scala.jdk.CollectionConverters._
        val total = frameCounts.values.asScala.map(_.intValue).sum.max(1)
        frameCounts.asScala.toSeq.sortBy(-_._2.intValue).take(20)
          .foreach { case (sig, n) =>
            println(f"   main-thread ${n.intValue * 100.0 / total}%5.1f%% ($n%4d) $sig")
          }
      }
      // aggregate by call site so repeated shapes read as one line
      recs.groupBy(_.site).toSeq
        .map { case (site, rs) =>
          (site, rs.size, rs.map(r => if (r.end > 0) (r.end - r.start) / 1e3 else 0.0).sum,
            rs.map(_.tasks).sum)
        }
        .sortBy(-_._3)
        .foreach { case (site, n, sec, tasks) =>
          println(f"   $sec%8.3f s  n=$n%-3d tasks=$tasks%-5d $site")
        }
      // Optional per-job timeline: start offset, duration, and the
      // DRIVER-ONLY gap since the previous job ended — the direct view
      // of where the "wall minus sum(job)" time hides (guide §7.3).
      if (sys.env.get("SPARK_GRAFT_PROFILE_TIMELINE").contains("1") &&
          recs.nonEmpty) {
        val base = recs.head.start
        var prevEnd = recs.head.start
        recs.foreach { r =>
          val gapMs = r.start - prevEnd
          val durMs = if (r.end > 0) r.end - r.start else -1L
          println(f"   job ${r.id}%-4d +${(r.start - base) / 1e3}%7.3f s  " +
            f"dur ${durMs / 1e3}%7.3f s  gap ${gapMs / 1e3}%7.3f s  " +
            f"tasks=${r.tasks}%-5d ${r.site.take(100)}")
          prevEnd = math.max(prevEnd, if (r.end > 0) r.end else r.start)
        }
      }
    }
    spark.stop()
  }
}
