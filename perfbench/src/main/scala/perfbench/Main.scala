package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** What one workload measured. A pass processes `itemsPerPass` work items
  * (input rows, or lookups); `requestMs` are the closed-loop client's
  * request latencies: a whole pass for the bulk workloads, one lookup for
  * the lookup workload. `passS` and `tracedS` are the untraced and the
  * traced pass times, `inOrder` every timed pass in run order. */
final case class Result(itemsPerPass: Double, requestMs: Seq[Double], passS: Seq[Double],
    tracedS: Seq[Double], inOrder: Seq[Double], layer: Seq[(String, Double)], sizes: String)

trait Workload {
  def name: String
  def measure(run: Run, jvmStartNs: Long): Result
  val MinPasses = 3

  /** Set-up, done SetupRounds times: a cold round from JVM start and a
    * warm one, whose median (their mean) is `setup_s`. Each round starts
    * a fresh session and runs `prepare` on it, timed: everything the
    * workload does before its first timed operation (inputs from the
    * seed, gff_lookup's index lifecycle, expected results, batch's
    * warm-up pass). Before the warm round the session is stopped and
    * the inputs deleted. After the last round, `first` runs once,
    * untimed: gff_lookup's warm-up lookups and the traced run's extra
    * work. Returns the last session. */
  def setUp(run: Run, jvmStartNs: Long)(prepare: (SparkSession, Int) => Unit)
      (first: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    for (round <- 0 until Workload.SetupRounds) {
      val t0 = if (round == 0) jvmStartNs else {
        Session.stop(spark)
        Files.rm(Workload.inputs(run.host))
        System.nanoTime()
      }
      spark = Session.start(run.host, run.host.cores)
      val t1 = System.nanoTime()
      prepare(spark, round)
      val t2 = System.nanoTime()
      run.setupS += (t2 - t0) / 1e9
      System.err.println(f"[perfbench] set-up round $round: session ${(t1 - t0) / 1e9}%.2f s, " +
        f"prepare ${(t2 - t1) / 1e9}%.2f s")
    }
    first(spark)
    spark
  }
}

object Workload {
  val SetupRounds = 2

  /** Where a workload writes the inputs it makes. */
  def inputs(host: Host): File = new File(host.work, "inputs")
}

/** Runs one workload for a fixed time and prints its metrics as one JSON
  * line: the end-to-end metrics, or with `--trace 1` the per-layer ones.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --heap-mb <n> --work <dir> --trace-dir <dir>
  * }}}
  */
object Main {
  val Workloads: Seq[Workload] = Seq(Batch, GffLookup)

  /** Every per-layer metric, in report order; a workload that bypasses a
    * layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "IntervalJoin.binnedJoin.s" -> "s", "IntervalJoin.binnedJoin.shuffle_bytes" -> "bytes",
    "IntervalJoin.binnedJoin.replication" -> "ratio", "IntervalJoin.binnedJoin.task_skew" -> "ratio",
    "IntervalJoin.binnedJoin.gc_s" -> "s", "IntervalJoin.binnedJoin.spill_bytes" -> "bytes",
    "IntervalJoin.sweepJoin.s" -> "s", "IntervalJoin.sweepJoin.driver_s" -> "s",
    "IntervalJoin.sweepJoin.task_skew" -> "ratio", "IntervalJoin.sweepJoin.gc_s" -> "s",
    "IntervalJoin.join.s" -> "s", "IntervalJoin.join.driver_s" -> "s",
    "IntervalJoin.join.eager_jobs" -> "count",
    "Coverage.unionLength.s" -> "s", "Coverage.unionLength.shuffle_bytes" -> "bytes",
    "interval.pairs" -> "count", "interval.task_busy_frac" -> "ratio",
    "WindowFeatures.stack.driver_s" -> "s", "AsOfJoin.windowed.driver_s" -> "s",
    "window.exec_s" -> "s", "window.exec_s_1core" -> "s", "window.shuffle_bytes" -> "bytes",
    "window.spill_bytes" -> "bytes", "window.gc_s" -> "s", "window.task_skew" -> "ratio",
    "window.task_busy_frac" -> "ratio", "window.scaling_eff" -> "ratio",
    "IndexBuild.build.s" -> "s", "IndexBuild.build.jobs" -> "count",
    "IndexBuild.build.shuffle_bytes" -> "bytes", "IndexBuild.build.gc_s" -> "s",
    "IndexBuild.write.s" -> "s", "IndexBuild.load.s" -> "s",
    "GffOps.extract.p50_ms" -> "ms", "GffOps.intersect.p50_ms" -> "ms",
    "GffOps.searchRegex.p50_ms" -> "ms",
    "lookup.driver_ms" -> "ms", "lookup.jobs_per_op" -> "count", "lookup.tasks_per_op" -> "count",
    "lookup.p75_ms" -> "ms", "lookup.samples" -> "count",
    "setup.cold_s" -> "s", "runtime.peak_rss_mb" -> "MB", "runtime.scratch_peak_mb" -> "MB", "runtime.drift" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val wname = arg(args, "workload")
    val workload = Workloads.find(_.name == wname).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$wname'; one of ${Workloads.map(_.name).mkString(", ")}"))
    val host = Host(
      cores = arg(args, "cores").toInt, heapMb = arg(args, "heap-mb").toLong,
      seed = arg(args, "seed").toLong, seconds = arg(args, "seconds").toInt,
      trace = arg(args, "trace") == "1",
      work = new File(arg(args, "work")), traceDir = new File(arg(args, "trace-dir")))
    require(host.seconds > 0 && host.cores > 0, "seconds and cores must be positive")
    println(s"# host cores=${host.cores} heap_mb=${host.heapMb} workload=$wname seed=${host.seed} " +
      s"seconds=${host.seconds} trace=${if (host.trace) 1 else 0}")

    val run = new Run(host)
    val r = workload.measure(run, jvmStartNs)

    val first = r.inOrder.headOption.getOrElse(0.0)
    val last = r.inOrder.lastOption.getOrElse(0.0)
    val drift = if (first > 0) last / first else 0.0
    val scratchMb = run.scratchPeakBytes / 1048576.0
    println(s"# sizes ${r.sizes}")
    println(s"# passes=${r.passS.length} (${r.passS.map(x => f"$x%.3f").mkString(",")}) requests=${r.requestMs.length} " +
      s"setup_rounds=${run.setupS.map(x => f"$x%.2f").mkString(",")}")
    run.samples.foreach { case (k, xs) =>
      println(f"# op $k n=${xs.length} median_s=${Stats.median(xs.toSeq)}%.3f min_s=${xs.min}%.3f")
    }
    println(f"# drift first_pass_s=$first%.3f last_pass_s=$last%.3f ratio=$drift%.3f " +
      f"scratch_peak_mb=$scratchMb%.1f")

    val metrics =
      if (!host.trace) {
        val passMedian = if (r.passS.isEmpty) Double.NaN else Stats.median(r.passS)
        Seq(
          Metric("setup_s", Stats.median(run.setupS.toSeq), "s"),
          Metric("items_per_s", r.itemsPerPass / passMedian, "1/s"),
          Metric("request_p50_ms", if (r.requestMs.isEmpty) Double.NaN else Stats.median(r.requestMs), "ms"))
      } else {
        host.traceDir.mkdirs()
        run.writeSpans(new File(host.traceDir, s"spans-$wname-${host.seed}.jsonl"))
        val overhead =
          if (r.passS.isEmpty || r.tracedS.isEmpty) 0.0
          else Stats.median(r.tracedS) / Stats.median(r.passS) - 1
        val measured = (r.layer ++ Seq(
          "setup.cold_s" -> run.setupS.headOption.getOrElse(0.0),
          "runtime.peak_rss_mb" -> Report.peakRssMb(), "runtime.scratch_peak_mb" -> scratchMb, "runtime.drift" -> drift,
          "jvm.gc_s" -> Report.jvmGcS(), "jvm.heap_after_gc_mb" -> Report.heapAfterGcMb(),
          "trace.overhead_frac" -> overhead)).toMap
        PerLayer.map { case (n, unit) => Metric(n, measured.getOrElse(n, 0.0), unit) }
      }
    val ok = run.failed == 0 && metrics.forall(m => !m.value.isNaN)
    println(Report.json(ok, run.attempted, run.failed, metrics))
  }
}
