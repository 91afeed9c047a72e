package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What one benchmark process runs on and with. */
final case class Host(cores: Int, heapMb: Long, seed: Long, seconds: Int, trace: Boolean,
    work: File, traceDir: File)

object Session {

  /** A local session whose every scratch byte stays under `host.work`.
    * Shuffle partitions follow the host, not `cores`, so a one-core
    * session runs the same plan with less parallelism. */
  def start(host: Host, cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", (host.cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(host.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(host.work, "warehouse").getPath)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()
}

/** The closed-loop client of one benchmark process: times every call into
  * the engine from outside, checks every result, and counts failures.
  *
  * Timings of passes run with tracing off feed the end-to-end metrics;
  * with `host.trace`, every other pass runs traced and feeds the
  * per-layer metrics and the tracing overhead. */
final class Run(val host: Host) {
  val tracer = new Tracer
  private val listener = new SpanListener
  private var tracing = false

  var attempted = 0
  var failed = 0
  val setupS = ArrayBuffer[Double]()
  /** Op wall times (s) by name, untraced passes only. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val passS = ArrayBuffer[Double]()
  val tracedPassS = ArrayBuffer[Double]()
  /** Every timed pass in run order, traced or not, for the drift report. */
  val allPassS = ArrayBuffer[Double]()
  var scratchPeakBytes = 0L
  /** Passes run so far; a pass's id in its spans. */
  var passCount = 0
  private var inTimedPass = false

  def record(name: String, secs: Double): Unit =
    if (inTimedPass && !tracing) samples.getOrElseUpdate(name, ArrayBuffer()) += secs

  def fail(why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $why")
  }

  /** One operation: `call` builds the result through the engine's public
    * API (driver-side planning plus any eager jobs it launches), then a
    * checksum action forces it. An exception or a checksum other than
    * `expect` fails the operation and keeps it out of the timings. */
  def op(name: String, cols: Seq[String] = Nil, expect: Option[Checksum] = None)
      (call: => DataFrame): Option[Checksum] = {
    attempted += 1
    try {
      tracer.span(name) {
        val t0 = System.nanoTime()
        val df = call
        val t1 = System.nanoTime()
        val c = tracer.span("checksum")(Checksum.of(df, cols))
        val t2 = System.nanoTime()
        expect.flatMap(Checksum.mismatch(name, _, c)) match {
          case Some(why) => fail(why); None
          case None =>
            record(name, (t2 - t0) / 1e9)
            record(name + ".driver", (t1 - t0) / 1e9)
            Some(c)
        }
      }
    } catch {
      case NonFatal(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A step that yields no DataFrame (index write/load); timed the same way. */
  def step[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      record(name, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Runs `body` with tracing `on`: its spans are kept and the Spark jobs
    * they start are attributed to them. */
  def traced[T](spark: SparkSession, on: Boolean)(body: => T): T = {
    tracing = on
    if (on) spark.sparkContext.addSparkListener(listener)
    tracer.switch(if (on) Some(spark.sparkContext) else None, passCount)
    try body
    finally {
      tracer.switch(None, passCount)
      if (on) {
        org.apache.spark.graftaccess.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracing = false
    }
  }

  /** Data still cached after a pass would let the next one reuse it: that
    * fails the pass, and the cache is cleared. */
  private def isolated(spark: SparkSession, what: String): Unit =
    if (!spark.sharedState.cacheManager.isEmpty) {
      fail(s"$what left cached data in the session")
      spark.catalog.clearCache()
    }

  /** Runs `pass` until `budgetS` seconds are used, at least `minPasses`
    * times. A pass that fails an operation or leaves cached data behind
    * is not timed. */
  def timedPasses(spark: SparkSession, budgetS: Double, minPasses: Int)(pass: Int => Unit): Unit = {
    require(minPasses > 0)
    val start = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (i < minPasses || elapsed < budgetS) {
      val on = host.trace && i % 2 == 0
      val failedBefore = failed
      inTimedPass = true
      val dt = traced(spark, on) {
        val t0 = System.nanoTime()
        tracer.span("pass")(pass(i))
        (System.nanoTime() - t0) / 1e9
      }
      inTimedPass = false
      isolated(spark, s"pass $i")
      scratchPeakBytes = math.max(scratchPeakBytes, Files.bytes(host.work))
      if (failed == failedBefore) {
        (if (on) tracedPassS else passS) += dt
        allPassS += dt
      }
      i += 1
      passCount += 1
    }
  }

  // ---- span summaries for the per-layer metrics ----

  private lazy val spans = tracer.spans
  private lazy val children = spans.groupBy(_.parent)
  private lazy val selfNs = Span.selfTimes(spans)

  /** Every traced occurrence of `name` in the passes `pass` selects. */
  def spansNamed(name: String, pass: Int => Boolean = _ => true): Seq[Span] =
    spans.filter(s => s.name == name && pass(s.pass))

  def childNamed(s: Span, name: String): Option[Span] =
    children.getOrElse(s.id, Nil).find(_.name == name)

  def selfS(s: Span): Double = selfNs(s.id) / 1e9

  /** Spark work of `s` and every span below it. */
  def counters(s: Span): SpanCounters = {
    val c = new SpanCounters
    def walk(x: Span): Unit = {
      listener.countersOf(x.id).foreach(c.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    c
  }

  /** Median over the traced occurrences of `name` of `f`; 0 when the
    * workload never calls that layer. */
  def medianOver(name: String, pass: Int => Boolean = _ => true)(f: Span => Double): Double = {
    val xs = spansNamed(name, pass).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Spans with their self times and Spark counters, one JSON object per line. */
  def writeSpans(file: File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val c = listener.countersOf(s.id)
      val cj = c.map(c =>
        s""","jobs":${c.jobs},"tasks":${c.tasks},"input_records":${c.inputRecords},""" +
          s""""scan_bytes":${c.scanBytes},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
          s""""gc_ms":${c.gcMs},"run_ms":${c.runMs},"cpu_ms":${c.cpuNs / 1000000},""" +
          s""""peak_exec_mem":${c.peakExecMem}""").getOrElse("")
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfS(s)}$cj}""")
    } finally w.close()
  }
}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Report {

  /** Runtime counters every workload reports. */
  def jvmGcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val ms = metrics.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}
