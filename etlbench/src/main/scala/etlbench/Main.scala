package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one Spark session, one closed-loop client,
  * one workload. See `etlbench/README.md` for the workloads and metrics.
  *
  * {{{
  *   Main --workload cdc_epochs --seed 1 --seconds 20 --trace 0 --run-dir DIR
  * }}}
  *
  * The last line of standard output is the JSON result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("run-dir")))
  }

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3
  /** Stop measuring after this long even when short of `loopOps`. */
  val HardCapSeconds = 100.0

  def session(runDir: Path, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName("etlbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
    // traced runs count file-system metadata calls
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The measured samples of one op kind. */
  final class Series {
    val secs = mutable.ArrayBuffer.empty[Double]
    val mb = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(a.runDir, cores, a.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val w = Workload(a.workload, spark, a.seed, tracer.getOrElse(Layer.off))

    var attempted = 0L
    var failed = 0L
    val returned = mutable.Map.empty[Int, Long]
    val series = mutable.Map.empty[String, Series]
    var opId = 0

    /** One op: timed, checked, counted. Failures are reported on stderr
      * and counted; the run goes on. */
    def measure(kind: String, traceIt: Boolean, record: Boolean)(body: => Long): Unit = {
      opId += 1
      val id = opId
      attempted += 1
      val w0 = FsBytes.written
      val run = tracer match {
        case Some(t) => () => t.run(id, kind, traceIt)(body)
        case None => () => { val s = System.nanoTime(); val r = body; (r, (System.nanoTime() - s) / 1e9) }
      }
      try {
        val (n, secs) = run()
        returned(id) = n
        if (record) {
          val s = series.getOrElseUpdate(kind, new Series)
          s.secs += secs
          s.mb += (FsBytes.written - w0) / 1e6
          s.traced += traceIt
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[etlbench] $kind op $id failed: $e")
      }
    }

    // set-up: stage the inputs and the table several times (the last
    // copy is kept), then untimed warm cycles and one maintenance op
    val stageSecs = (1 to SetupReps).map { r =>
      val dir = a.runDir.resolve(s"data-$r")
      val s = System.nanoTime()
      w.stage(dir)
      val secs = (System.nanoTime() - s) / 1e9
      if (r > 1) deleteTree(a.runDir.resolve(s"data-${r - 1}"))
      secs
    }
    val warm0 = System.nanoTime()
    (1 - w.warmOps to 0).foreach { k =>
      measure(w.writeKind, traceIt = false, record = false)(w.op(k))
      measure("read", traceIt = false, record = false)(w.read(k))
    }
    measure("maint", traceIt = false, record = false)(w.maint(0))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + Stats.median(stageSecs) + warmS

    // the closed loop: op, read, and after every maintEvery-th op the
    // maintenance op
    val stored = mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = 0
    while ((elapsed < a.seconds || i < w.loopOps) && elapsed < HardCapSeconds) {
      i += 1
      // traced iterations go untraced, traced, traced, untraced, ... so
      // a steady warm-up trend cancels out of the overhead figure;
      // maintenance ops are always traced
      val traceIt = a.trace && i % 4 >= 2
      measure(w.writeKind, traceIt, record = true)(w.op(i))
      measure("read", traceIt, record = true)(w.read(i))
      if (i % w.maintEvery == 0) {
        measure("maint", a.trace, record = true)(w.maint(i))
        stored += w.storedBytes.toDouble / math.max(1L, w.liveRows)
      }
    }
    val loopS = elapsed

    def secs(kind: String) = series.get(kind).map(_.secs.toSeq).getOrElse(Nil)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.ArrayBuffer.empty[String]
    if (!a.trace) {
      def timing(kind: String, p50: String, tailName: Option[String]): Unit = {
        val xs = secs(kind)
        if (xs.nonEmpty) out(p50) = (Stats.median(xs), "s")
        tailName.foreach { tn =>
          Stats.tail(xs) match {
            case Some((pct, v)) =>
              out(tn) = (v, "s")
              notes += f"$tn is p$pct%.0f of ${xs.size} samples"
            case None if xs.nonEmpty =>
              // too few samples for ten beyond any percentile: the maximum
              out(tn) = (xs.max, "s")
              notes += s"$tn is the maximum of ${xs.size} samples (fewer than 11)"
            case None =>
          }
        }
      }
      out("setup_s") = (setupS, "s")
      timing(w.writeKind, "op_p50_s", Some("op_tail_s"))
      timing("read", "read_p50_s", Some("read_tail_s"))
      timing("maint", "maint_p50_s", None)
      series.get(w.writeKind).foreach(s => out("written_mb_per_op") = (Stats.median(s.mb.toSeq), "MB"))
      if (stored.nonEmpty) out("stored_bytes_per_live_row") = (Stats.median(stored.toSeq), "B/row")
      out("peak_rss_mb") = (peakRssMb, "MB")
      notes += f"setup: session ${sessionS}%.3f s, stage ${stageSecs.map(x => f"$x%.3f").mkString("/")} s, warm $warmS%.3f s"
    } else {
      val t = tracer.get
      val byKind = t.records().groupBy(_._1).map { case (kind, recs) =>
        kind -> recs.map { case (_, id, r) =>
          r + ("rows_decoded_per_returned" ->
            r("rows_decoded") / math.max(1L, returned.getOrElse(id, 1L)))
        }
      }
      for (k <- Metrics.OpKinds; m <- Metrics.LayerMetrics) {
        val xs = byKind.getOrElse(k, Nil).map(_(m))
        out(s"$k.$m") = (if (xs.isEmpty) 0.0 else Stats.median(xs), Metrics.unitOf(m))
      }
      // tracing overhead: mean traced minus mean untraced write op
      series.get(w.writeKind).foreach { s =>
        val (on, off) = s.secs.zip(s.traced).partition(_._2)
        if (on.nonEmpty && off.nonEmpty) {
          def mean(xs: Seq[(Double, Boolean)]) = xs.map(_._1).sum / xs.size
          val d = mean(on.toSeq) - mean(off.toSeq)
          out("trace.overhead_s") = (d, "s")
          out("trace.overhead_pct") = (100 * d / mean(off.toSeq), "%")
        }
      }
      val spanFile = a.runDir.getParent.resolve(s"traces/${a.workload}-seed${a.seed}.jsonl")
      t.write(spanFile)
      notes += s"spans written to $spanFile"
      t.selfByName().foreach { case (n, s, k) =>
        notes += f"self time $n%-34s $s%9.3f s over $k spans" }
      t.close()
    }

    val counts = series.toSeq.sortBy(_._1).map { case (k, s) => s"$k=${s.secs.size}" }.mkString(" ")
    series.toSeq.sortBy(_._1).foreach { case (k, s) =>
      notes += s"$k seconds: ${s.secs.map(x => f"$x%.3f").mkString(" ")}" }
    println(f"[etlbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"cores=$cores loop=$loopS%.1f s ops: $counts")
    notes.foreach(n => println(s"[etlbench] $n"))
    out.foreach { case (k, (v, u)) => println(f"[etlbench] $k%-28s $v%14.6f $u") }
    println(f"[etlbench] ${"error_rate"}%-28s ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%14.6f ratio ($failed of $attempted ops failed)")
    spark.stop()
    val metrics = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** The per-layer metric names, as BENCHMARK.json lists them. */
object Metrics {
  val OpKinds = Seq("refresh", "epoch", "delete", "read", "maint")
  val LayerMetrics = Seq("plan_s", "rules_s", "jobs", "job_s", "driver_s", "task_cpu_s",
    "gc_s", "max_task_s", "shuffle_mb", "rows_decoded",
    "rows_decoded_per_returned", "fs_list", "fs_open", "fs_create",
    "read_mb", "written_mb")
  def unitOf(m: String): String =
    if (m.endsWith("_s")) "s" else if (m.endsWith("_mb")) "MB"
    else if (m == "rows_decoded_per_returned") "ratio" else "count"
}
