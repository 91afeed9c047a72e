package perfbench

import graft.model.Synth
import graft.ops.{Contained, Coverage, IntervalJoin, Overlap}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File

/** The interval part of the batch workload: joins on a hot entity. Half
  * of all probes land on entity e00, so the binned join's exchange and the
  * plane sweep's per-group work are uneven. One pass runs the binned join,
  * the sweep join on the same inputs, the auto path on a small probe
  * subset (broadcast, Contained) and the interval-union coverage of the
  * feature side. */
object IntervalSkew {

  val Probes = 200000L
  val Features = 80000L
  val Entities = 64
  /** One probe in SubsetEvery goes to the broadcast path. */
  val SubsetEvery = 250L

  private val PairCols = Seq("probe_id", "fid")
  private val CoverCols = Seq("entity", "covered", "n_islands")

  final case class Inputs(probes: DataFrame, feats: DataFrame, subset: DataFrame)

  def generate(spark: SparkSession, host: Host): Inputs = {
    val dir = new File(Workload.inputs(host), "interval")
    val p = Synth.skewedProbes(spark, Probes, nEntities = Entities, seed = host.seed * 131 + 7)
    val f = Synth.featureIntervals(spark, Features, nEntities = Entities, seed = host.seed * 131 + 42)
      .select("fid", "entity", "start", "end")
    p.write.mode("overwrite").parquet(s"$dir/probes")
    f.write.mode("overwrite").parquet(s"$dir/feats")
    val probes = spark.read.parquet(s"$dir/probes")
    Inputs(probes, spark.read.parquet(s"$dir/feats"),
      probes.where(col("probe_id") % SubsetEvery === 0))
  }

  /** The subset join written as a plain equi-join plus filter. */
  private def subsetOracle(in: Inputs): Checksum = {
    val p = in.subset.as("p")
    val f = in.feats.as("f")
    Checksum.of(p.join(f, col("p.entity") === col("f.entity") &&
        col("f.start") >= col("p.start") && col("f.end") <= col("p.end"))
      .select(col("p.probe_id"), col("f.fid")), PairCols)
  }

  /** Covered length and island count per entity, merged on the driver. */
  private def coverageOracle(spark: SparkSession, in: Inputs): Checksum = {
    val rows = in.feats.select("entity", "start", "end").collect()
      .groupBy(_.getString(0)).toSeq.map { case (e, rs) =>
        var covered = 0L
        var islands = 0L
        var curEnd = Long.MinValue
        rs.map(r => (r.getLong(1), r.getLong(2))).sorted.foreach { case (s, en) =>
          if (s > curEnd) { islands += 1; covered += en - s; curEnd = en }
          else if (en > curEnd) { covered += en - curEnd; curEnd = en }
        }
        Row(e, covered, islands)
      }
    val schema = StructType(Seq(StructField("entity", StringType),
      StructField("covered", LongType), StructField("n_islands", LongType)))
    Checksum.of(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema), CoverCols)
  }

  final case class Expected(pairs: Option[Checksum], subset: Checksum, cover: Checksum)

  /** One pass. The binned join's checksum is the expected pair set: the
    * sweep join must reproduce it, and so must every later pass. */
  def pass(run: Run, in: Inputs, ex: Expected): Option[Checksum] = {
    val pairs = run.op("IntervalJoin.binnedJoin", PairCols, ex.pairs) {
      IntervalJoin.binnedJoin(in.probes, in.feats, Overlap)
    }
    run.op("IntervalJoin.sweepJoin", PairCols, ex.pairs.orElse(pairs)) {
      IntervalJoin.sweepJoin(in.probes, in.feats, Overlap)
    }
    run.op("IntervalJoin.join", PairCols, Some(ex.subset)) {
      IntervalJoin.join(in.subset, in.feats, Contained)
    }
    run.op("Coverage.unionLength", CoverCols, Some(ex.cover)) {
      Coverage.unionLength(in.feats, Seq("entity"), orderTiebreak = Seq("fid"))
    }
    pairs
  }

  /** The oracles' checksums, then one pass whose binned join sets the
    * expected pair set. */
  def expected(run: Run, spark: SparkSession, in: Inputs): Expected = {
    val ex = Expected(None, subsetOracle(in), coverageOracle(spark, in))
    ex.copy(pairs = pass(run, in, ex))
  }

  val Rows: Long = Probes + Features

  private val Ops = Seq("IntervalJoin.binnedJoin", "IntervalJoin.sweepJoin", "IntervalJoin.join",
    "Coverage.unionLength")

  def layer(run: Run, ex: Expected): Seq[(String, Double)] = {
    val rows = Rows.toDouble
    // executor run time over wall time x cores, across the interval ops
    // of one traced pass
    val busy = Ops.flatMap(run.spansNamed(_)).groupBy(_.pass).values.map { ss =>
      ss.map(run.counters(_).runMs.toDouble).sum / (ss.map(_.durNs / 1e6).sum * run.host.cores)
    }.toSeq
    Seq(
      "interval.pairs" -> ex.pairs.map(_.rows.toDouble).getOrElse(0.0),
      "interval.task_busy_frac" -> (if (busy.isEmpty) 0.0 else Stats.median(busy)),
      "IntervalJoin.binnedJoin.s" -> run.medianOver("IntervalJoin.binnedJoin")(_.durNs / 1e9),
      "IntervalJoin.binnedJoin.shuffle_bytes" ->
        run.medianOver("IntervalJoin.binnedJoin")(s => run.counters(s).shuffleWriteBytes.toDouble),
      "IntervalJoin.binnedJoin.replication" ->
        run.medianOver("IntervalJoin.binnedJoin")(s => run.counters(s).shuffleRecordsWritten / rows),
      "IntervalJoin.binnedJoin.task_skew" ->
        run.medianOver("IntervalJoin.binnedJoin")(s => run.counters(s).taskSkew),
      "IntervalJoin.binnedJoin.gc_s" ->
        run.medianOver("IntervalJoin.binnedJoin")(s => run.counters(s).gcMs / 1e3),
      "IntervalJoin.binnedJoin.spill_bytes" ->
        run.medianOver("IntervalJoin.binnedJoin")(s => run.counters(s).spillBytes.toDouble),
      "IntervalJoin.sweepJoin.s" -> run.medianOver("IntervalJoin.sweepJoin")(_.durNs / 1e9),
      "IntervalJoin.sweepJoin.driver_s" -> run.medianOver("IntervalJoin.sweepJoin")(run.selfS),
      "IntervalJoin.sweepJoin.task_skew" ->
        run.medianOver("IntervalJoin.sweepJoin")(s => run.counters(s).taskSkew),
      "IntervalJoin.sweepJoin.gc_s" ->
        run.medianOver("IntervalJoin.sweepJoin")(s => run.counters(s).gcMs / 1e3),
      "IntervalJoin.join.s" -> run.medianOver("IntervalJoin.join")(_.durNs / 1e9),
      "IntervalJoin.join.driver_s" -> run.medianOver("IntervalJoin.join")(run.selfS),
      "IntervalJoin.join.eager_jobs" -> run.medianOver("IntervalJoin.join")(s =>
        (run.counters(s).jobs - run.childNamed(s, "checksum").map(run.counters(_).jobs)
          .getOrElse(0L)).toDouble),
      "Coverage.unionLength.s" -> run.medianOver("Coverage.unionLength")(_.durNs / 1e9),
      "Coverage.unionLength.shuffle_bytes" ->
        run.medianOver("Coverage.unionLength")(s => run.counters(s).shuffleWriteBytes.toDouble))
  }

  val sizes = s"probes=$Probes features=$Features entities=$Entities hot=e00"
}
