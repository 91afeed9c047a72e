package perfbench

import org.apache.spark.sql.SparkSession

/** The batch workload: each pass runs the interval part (skewed interval
  * joins and coverage, see [[IntervalSkew]]) and then the window part (the
  * windowed as-of feature job, see [[WindowAsOf]]), each over inputs
  * generated from the seed. At these sizes the executors are busy for
  * about half of the interval part: kernel and exchange work and per-job
  * fixed cost both show. The traced run also repeats the window part at
  * local[1] for its scaling efficiency. */
object Batch extends Workload {
  val name = "batch"
  override val MinPasses = 2

  def measure(run: Run, jvmStartNs: Long): Result = {
    val host = run.host
    var iv: IntervalSkew.Inputs = null
    var wv: WindowAsOf.Inputs = null
    var ivEx: IntervalSkew.Expected = null
    var wEx: Option[Checksum] = None
    var spark = setUp(run, jvmStartNs) { (s, round) =>
      iv = IntervalSkew.generate(s, host)
      wv = WindowAsOf.generate(s, host)
      if (round == 0) {
        ivEx = IntervalSkew.expected(run, s, iv)
        wEx = WindowAsOf.expected(run, wv)
        System.err.println(s"[perfbench] $name expected: $ivEx, window ${wEx.getOrElse("none")}")
      } else {
        // the same inputs again: a warm-up pass that must reproduce round 0
        IntervalSkew.pass(run, iv, ivEx)
        WindowAsOf.pass(run, wv, wEx)
      }
    } { _ => () }
    val firstPass = run.passCount
    run.timedPasses(spark, host.seconds, MinPasses) { _ =>
      IntervalSkew.pass(run, iv, ivEx)
      WindowAsOf.pass(run, wv, wEx)
    }
    val passes = run.passS.toSeq
    val traced = run.tracedPassS.toSeq
    val inOrder = run.allPassS.toSeq
    val manyS = run.samples.getOrElse("window", Nil).toSeq
    val single = if (host.trace) {
      // the same plan and partition count with one task slot
      Session.stop(spark)
      spark = Session.start(host, 1)
      wv = WindowAsOf.read(spark, host)
      WindowAsOf.pass(run, wv, wEx)
      val first = run.passCount
      run.timedPasses(spark, host.seconds, 2)(_ => WindowAsOf.pass(run, wv, wEx))
      Some(((p: Int) => p >= first, run.passS.toSeq.drop(passes.length)))
    } else None
    Session.stop(spark)

    val many = (p: Int) => p >= firstPass && single.forall(sel => !sel._1(p))
    Result((IntervalSkew.Rows + WindowAsOf.Events).toDouble, passes.map(_ * 1000), passes, traced, inOrder,
      IntervalSkew.layer(run, ivEx) ++ WindowAsOf.layer(run, many, manyS, single),
      s"${IntervalSkew.sizes} ${WindowAsOf.sizes}")
  }
}
