package perfbench

import graft.model.Synth
import graft.ops.{AsOfJoin, WindowFeatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** The window part of the batch workload: the fused feature stack (lag 1
  * and 2, backfill, rolling 8, sessionize) over per-entity event streams,
  * then a point-in-time as-of join against a dimension table a sixteenth
  * the size: shuffle, sort and window buffers, and no interval kernel.
  * The traced run's window.scaling_eff says how well it uses the cores. */
object WindowAsOf {

  val Events = 240000L
  val Entities = 4096
  /** Entities whose features the plain-window oracle recomputes. */
  val OracleEntities = Seq("u000", "u001", "u017", "u4095")

  final case class Inputs(events: DataFrame, dim: DataFrame)

  private def dir(host: Host) = new File(Workload.inputs(host), "window")

  def generate(spark: SparkSession, host: Host): Inputs = {
    val dir = this.dir(host)
    Synth.events(spark, Events, nEntities = Entities, seed = host.seed * 131 + 11)
      .write.mode("overwrite").parquet(s"$dir/events")
    Synth.events(spark, Events / 16, nEntities = Entities, seed = host.seed * 131 + 99)
      .groupBy(col("entity"), col("event_time").as("t"))
      .agg(max("value").as("dim_v"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    read(spark, host)
  }

  def read(spark: SparkSession, host: Host): Inputs = {
    val dir = this.dir(host)
    Inputs(spark.read.parquet(s"$dir/events"), spark.read.parquet(s"$dir/dim"))
  }

  private def features(run: Run, in: Inputs): DataFrame = {
    val feat = run.tracer.span("WindowFeatures.stack") {
      WindowFeatures.stack(in.events, lagCol = "value", lagOffsets = Seq(1, 2),
        backfillCol = "value", rollCol = "event_time", rollN = 8, gap = 1000L,
        tiebreak = "event_id")
    }
    run.tracer.span("AsOfJoin.windowed") {
      AsOfJoin.windowed(feat.withColumnRenamed("event_time", "t"), in.dim)
    }
  }

  /** The same rows for a few entities from the engine's single-purpose
    * window operators composed one by one, with the as-of match done as a
    * plain range join keeping each event's latest dimension row at or
    * before it. */
  private def oracle(in: Inputs, cols: Seq[String]): DataFrame = {
    val ev = in.events.where(col("entity").isin(OracleEntities: _*))
    val tb = "event_id"
    val f = WindowFeatures.sessionize(
      WindowFeatures.rolling(
        WindowFeatures.backfill(
          WindowFeatures.lagLead(ev, "value", Seq(1, 2), tiebreak = tb), "value", tiebreak = tb),
        "event_time", 8, tiebreak = tb),
      1000L, tiebreak = tb).withColumnRenamed("event_time", "t")
    val d = in.dim.select(col("entity").as("d_entity"), col("t").as("f_t"))
    val latest = f.select(col("event_id"), col("entity").as("p_entity"), col("t").as("p_t"))
      .join(d, col("p_entity") === col("d_entity") && col("f_t") <= col("p_t"), "left")
      .groupBy("event_id").agg(max("f_t").as("f_t"))
    f.join(latest, "event_id")
      .join(in.dim.select(col("entity"), col("t").as("f_t"), col("dim_v")), Seq("entity", "f_t"), "left")
      .select(cols.map(col): _*)
  }

  /** The oracle check on a few entities, then one full run whose checksum
    * every later one must reproduce. */
  def expected(run: Run, in: Inputs): Option[Checksum] = {
    val cols = features(run, in).columns.toSeq
    run.op("window.oracle", expect = Some(Checksum.of(oracle(in, cols)))) {
      features(run, in).where(col("entity").isin(OracleEntities: _*))
    }
    run.op("window")(features(run, in))
  }

  def pass(run: Run, in: Inputs, expect: Option[Checksum]): Unit =
    run.op("window", expect = expect)(features(run, in))

  /** `many` selects the passes at local[nproc]; `single` the local[1]
    * passes and their untimed wall times, when the run made them. */
  def layer(run: Run, many: Int => Boolean, manyS: Seq[Double],
      single: Option[(Int => Boolean, Seq[Double])]): Seq[(String, Double)] = {
    val cores = run.host.cores
    def exec(s: Span) = run.childNamed(s, "checksum").map(_.durNs / 1e9).getOrElse(0.0)
    def windowMedian(f: Span => Double) = run.medianOver("window", many)(f)
    Seq(
      "WindowFeatures.stack.driver_s" -> run.medianOver("WindowFeatures.stack", many)(_.durNs / 1e9),
      "AsOfJoin.windowed.driver_s" -> run.medianOver("AsOfJoin.windowed", many)(_.durNs / 1e9),
      "window.exec_s" -> windowMedian(exec),
      "window.exec_s_1core" -> single.map { case (sel, _) => run.medianOver("window", sel)(exec) }
        .getOrElse(0.0),
      "window.shuffle_bytes" -> windowMedian(s => run.counters(s).shuffleWriteBytes.toDouble),
      "window.spill_bytes" -> windowMedian(s => run.counters(s).spillBytes.toDouble),
      "window.gc_s" -> windowMedian(s => run.counters(s).gcMs / 1e3),
      "window.task_skew" -> windowMedian(s => run.counters(s).taskSkew),
      "window.task_busy_frac" -> windowMedian(s => run.counters(s).runMs / (s.durNs / 1e6 * cores)),
      // rows/s at local[nproc] over nproc x rows/s at local[1]
      "window.scaling_eff" -> single.collect { case (_, xs) if xs.nonEmpty && manyS.nonEmpty =>
        Stats.median(xs) / (cores * Stats.median(manyS))
      }.getOrElse(0.0))
  }

  val sizes = s"events=$Events dim=${Events / 16} entities=$Entities"
}
