package perfbench

import graft.index.{GffOps, IndexBuild}
import graft.ops.Overlap
import graft.queries.GffQueries
import graft.sources.GffSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** The index-once/query-many lifecycle with writes beside reads. Set-up
  * renders GFF text lines, parses and indexes them, writes the index and
  * loads it back; each timed pass then serves LookupsPerPass single-key
  * lookups from the loaded index, cycling through extract (one ID),
  * intersect (one region) and searchRegex (one pattern). Each lookup is
  * bound by per-query fixed cost, not by throughput. */
object GffLookup extends Workload {
  val name = "gff_lookup"

  /** Order keys rendered; the even half become three GFF lines each. */
  val Orders = 10000L
  val LookupsPerPass = 12
  val WarmPasses = 1
  override val MinPasses = 2
  /** Untraced lookups the traced run times at least, so that ten of them
    * lie beyond the p75 it reports. */
  val TailSamples = 40

  private sealed trait Lookup { def kind: String }
  private final case class Extract(id: String) extends Lookup { val kind = "GffOps.extract" }
  private final case class Region(seqid: String, start: Long, end: Long) extends Lookup {
    val kind = "GffOps.intersect"
  }
  private final case class Search(pattern: String) extends Lookup { val kind = "GffOps.searchRegex" }

  private def dir(host: Host) = new File(Workload.inputs(host), "gff")

  /** Seeded, distinct order keys; GffQueries.gffLines renders the even ones. */
  private def generate(spark: SparkSession, host: Host): Seq[Long] = {
    spark.range(Orders)
      .select((col("id") * 64 + pmod(xxhash64(col("id"), lit(host.seed)), lit(64L))).as("o_orderkey"))
      .write.mode("overwrite").parquet(s"${dir(host)}/orders.parquet")
    spark.read.parquet(s"${dir(host)}/orders.parquet")
      .where(col("o_orderkey") % 2 === 0).orderBy("o_orderkey")
      .collect().map(_.getLong(0)).toSeq
  }

  /** The lookups every pass serves, drawn from the seed. */
  private def lookups(host: Host, keys: Seq[Long]): Seq[Lookup] = {
    val rnd = new scala.util.Random(host.seed * 7919 + 1)
    (0 until LookupsPerPass).map { i =>
      i % 3 match {
        case 0 => Extract(s"f${keys(rnd.nextInt(keys.length))}_${rnd.nextInt(3)}")
        case 1 =>
          val s = 1L + rnd.nextInt(98000)
          Region(s"chr${rnd.nextInt(5)}", s, s + 200 + rnd.nextInt(1800))
        // gffLines names genes g(k % 50) over even k: only even names exist
        case _ => Search(s"^g${2 * rnd.nextInt(25)}$$")
      }
    }
  }

  private def query(spark: SparkSession, t: IndexBuild.IndexTables, l: Lookup): DataFrame = l match {
    case Extract(id) =>
      GffOps.extract(t, spark.range(1).select(lit(id).as("name")))
    case Region(seqid, s, e) =>
      val region = spark.range(1)
        .select(lit(seqid).as("seqid"), lit(s).as("start"), lit(e).as("end"))
        .join(t.entityDict, "seqid")
        .select(col("entity_id"), col("start"), col("end"))
      GffOps.intersect(t, region, Overlap)
    case Search(p) =>
      GffOps.searchRegex(t, Seq(p))
  }

  /** Renders, parses, indexes, writes and loads the index; the loaded
    * feature table must equal the built one. Returns the
    * built tables (their build-time scratch still held), the loaded ones
    * and the features checksum. */
  private def lifecycle(run: Run, spark: SparkSession, expect: Option[Checksum])
      : (Option[IndexBuild.IndexTables], Option[IndexBuild.IndexTables], Option[Checksum]) = {
    val d = dir(run.host)
    var built: Option[IndexBuild.IndexTables] = None
    val feats = run.op("IndexBuild.build", expect = expect) {
      val t = IndexBuild.build(GffSource.parseLines(GffQueries.gffLines(spark, d.getPath)))
      built = Some(t)
      t.features
    }
    var loaded: Option[IndexBuild.IndexTables] = None
    for (t <- built if feats.isDefined) {
      val idx = new File(d, "index").getPath
      run.step("IndexBuild.write")(IndexBuild.write(t, idx))
      run.op("IndexBuild.load", expect = feats) {
        val l = IndexBuild.load(spark, idx)
        loaded = Some(l)
        l.features
      }
    }
    (built, loaded, feats)
  }

  private def lookupPass(run: Run, spark: SparkSession, t: IndexBuild.IndexTables,
      ls: Seq[Lookup], expect: Seq[Checksum]): Unit =
    ls.zip(expect).foreach { case (l, e) => run.op(l.kind, expect = Some(e))(query(spark, t, l)) }

  /** Each set-up round makes the order table and runs the index lifecycle
    * on a fresh session. Round 0 also serves each lookup once from the
    * freshly built tables, cached the way GffQueries serves them, to
    * record the expected results. WarmPasses untimed lookup passes on
    * the last round's loaded index warm up; the timed passes are lookup
    * loops over that index (query-many) that must reproduce the expected
    * results. */
  def measure(run: Run, jvmStartNs: Long): Result = {
    val host = run.host
    var ls: Seq[Lookup] = Nil
    var want: Seq[Checksum] = Nil
    var feats: Option[Checksum] = None
    var lines = 0L
    var serving: Option[IndexBuild.IndexTables] = None
    val spark = setUp(run, jvmStartNs) { (s, round) =>
      val keys = generate(s, host)
      lines = keys.length * 3L
      ls = lookups(host, keys)
      val (built, loaded, f) = lifecycle(run, s, feats)
      for (t <- built) {
        if (round == 0) {
          feats = f
          System.err.println(s"[perfbench] $name expected: ${feats.getOrElse("none")}")
          val c = t.copy(features = t.features.cache(), intervals = t.intervals.cache(),
            entityDict = t.entityDict.cache(), attrDict = t.attrDict.cache(),
            groupExtents = t.groupExtents.cache())
          val got = ls.map(l => run.op(l.kind)(query(s, c, l)))
          s.catalog.clearCache()
          if (got.forall(_.isDefined)) want = got.flatten
        }
        t.releaseScratch()
      }
      serving = loaded
    } { s =>
      // lookups keep speeding up for dozens of calls as the JIT compiles
      // the planner's paths; time them past the steepest part
      for (t <- serving if want.nonEmpty; _ <- 1 to WarmPasses) lookupPass(run, s, t, ls, want)
      if (host.trace) {
        // a warm lifecycle, traced, for the per-layer index numbers
        val (again, reloaded, _) = run.traced(s, on = true)(lifecycle(run, s, feats))
        again.foreach(_.releaseScratch())
        serving = reloaded
      }
    }
    // the traced run alternates traced and untraced passes
    val minPasses =
      if (host.trace) 2 * ((TailSamples + LookupsPerPass - 1) / LookupsPerPass) else MinPasses
    if (want.isEmpty || serving.isEmpty) run.fail(s"$name: no index to serve lookups from")
    else run.timedPasses(spark, host.seconds, minPasses)(_ => lookupPass(run, spark, serving.get, ls, want))
    Session.stop(spark)

    val kinds = Seq("GffOps.extract", "GffOps.intersect", "GffOps.searchRegex")
    val lookupMs = kinds.flatMap(k => run.samples.getOrElse(k, Nil)).map(_ * 1000)
    val tracedLookups = kinds.flatMap(run.spansNamed(_))
    // untraced lookups only; the traced run times at least TailSamples
    val p75 = Stats.tail(lookupMs, 75.0)
    def perLookup(f: Span => Double) =
      if (tracedLookups.isEmpty) 0.0 else Stats.median(tracedLookups.map(f))
    val layer = Seq(
      "IndexBuild.build.s" -> run.medianOver("IndexBuild.build")(_.durNs / 1e9),
      "IndexBuild.build.jobs" -> run.medianOver("IndexBuild.build")(s => run.counters(s).jobs.toDouble),
      "IndexBuild.build.shuffle_bytes" ->
        run.medianOver("IndexBuild.build")(s => run.counters(s).shuffleWriteBytes.toDouble),
      "IndexBuild.build.gc_s" -> run.medianOver("IndexBuild.build")(s => run.counters(s).gcMs / 1e3),
      "IndexBuild.write.s" -> run.medianOver("IndexBuild.write")(_.durNs / 1e9),
      "IndexBuild.load.s" -> run.medianOver("IndexBuild.load")(_.durNs / 1e9)) ++
      kinds.map(k => s"$k.p50_ms" -> run.medianOver(k)(_.durNs / 1e6)) ++ Seq(
      "lookup.driver_ms" -> perLookup(s => run.selfS(s) * 1000),
      "lookup.jobs_per_op" -> perLookup(s => run.counters(s).jobs.toDouble),
      "lookup.tasks_per_op" -> perLookup(s => run.counters(s).tasks.toDouble),
      // NaN (an incorrect run) if the traced run timed too few lookups
      "lookup.p75_ms" -> p75.map(_.value).getOrElse(Double.NaN),
      "lookup.samples" -> lookupMs.length.toDouble)
    Result(LookupsPerPass.toDouble, lookupMs, run.passS.toSeq, run.tracedPassS.toSeq,
      run.allPassS.toSeq, layer,
      s"orders=$Orders lines=$lines lookups_per_pass=$LookupsPerPass " +
        s"lookup_p75=${p75.map(t => f"${t.value}%.1f ms (n=${t.samples}, ${t.beyond} beyond)").getOrElse("n/a")}")
  }
}
