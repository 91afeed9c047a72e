package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** A span's duration minus the part of it its children cover (children
    * that overlap each other are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }

  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** Spark work attributed to one span: everything the jobs launched while
  * the span was innermost did. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var inputRecords = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecordsWritten = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var peakExecMem = 0L
  /** Task run times per stage, for straggler ratios. */
  val stageTaskMs = mutable.LinkedHashMap[Int, ArrayBuffer[Long]]()

  def add(o: SpanCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; inputRecords += o.inputRecords
    scanBytes += o.scanBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecordsWritten += o.shuffleRecordsWritten; spillBytes += o.spillBytes
    gcMs += o.gcMs; runMs += o.runMs; cpuNs += o.cpuNs
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, ArrayBuffer()) ++= v }
  }

  /** Max over median task time in the stage that ran longest in total —
    * 1.0 when work is even, large when one task straggles. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum)
      val med = Stats.median(heaviest.map(_.toDouble).toSeq)
      if (med <= 0) heaviest.max.toDouble else heaviest.max / med
    }
}

/** Maps Spark jobs to spans through a local property the tracer sets
  * before each span, and sums each task's metrics onto its span. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val counters = new ConcurrentHashMap[Int, SpanCounters]()

  private def of(span: Int): SpanCounters = counters.computeIfAbsent(span, _ => new SpanCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Key)))
    p.foreach { s =>
      val span = s.toInt
      e.stageIds.foreach(st => stageSpan.put(st, Int.box(span)))
      val c = of(span)
      c.synchronized { c.jobs += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val c = of(span.intValue)
      c.synchronized {
        c.tasks += 1
        c.inputRecords += m.inputMetrics.recordsRead
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += m.executorRunTime
      }
    }
  }

  def countersOf(span: Int): Option[SpanCounters] = Option(counters.get(span))
}

/** Records spans around the benchmark's calls into the engine. Off, it
  * only runs the body; on, it also tags the Spark jobs each span starts.
  * Spans stay in memory until the run writes them out. */
final class Tracer {
  private val done = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: Option[SparkContext] = None
  private var pass = 0

  /** Starts tracing `pass` on `context`, or turns tracing off with None. */
  def switch(context: Option[SparkContext], passId: Int): Unit = { sc = context; pass = passId }

  def span[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prop = ctx.getLocalProperty(Tracer.Key)
      ctx.setLocalProperty(Tracer.Key, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        ctx.setLocalProperty(Tracer.Key, prop)
        done += Span(id, name, parent, pass, t0, t1)
      }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {
  val Key = "perfbench.span"
}
