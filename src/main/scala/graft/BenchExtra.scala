package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The engine's one profiling main: times SparkEntry queries under
  * EXACTLY Bench part 2's methodology — same session config (extensions,
  * shuffle partitions, /dev/shm spill), same untimed generic warmup, same
  * full-column checksum action — but without the ~26-minute scaling-probe
  * part 1, and with repetitions + optional formatted-plan dumps. Each
  * query runs under its name as the Spark job description. Bench.scala
  * itself is frozen for measurement; numbers cited in OPTIMIZATION_r06.md
  * marked "BenchExtra" come from here.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <reps> [queryName...]
  *   (no names = full sweep, Bench order).
  * Env: SPARK_GRAFT_CPUS (default 32); SPARK_GRAFT_PLAN_DIR — when set,
  * writes each timed query's .explain("formatted") to
  * $SPARK_GRAFT_PLAN_DIR/<query>.txt before timing it.
  */
object BenchExtra {

  private val SpillDir =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_benchx"
    else System.getProperty("java.io.tmpdir") + "/graft_benchx"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 1
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    ScalingBench.cleanDir(SpillDir)
    val s1 = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchx-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", SpillDir)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s1.sparkContext.setLogLevel("WARN")
    locally { // Bench's generic warmup, verbatim
      val warm = s1.read.parquet(s"$sfDir/lineitem.parquet")
      warm.agg(count(lit(1)),
        sum(pmod(xxhash64(warm.columns.map(col): _*), lit(1000000007L)))).collect()
      import s1.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s1.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      ms.addData(1L, 2L)
      val wq = ms.toDF().groupBy(col("value")).count()
        .writeStream.format("memory").queryName("__warm_stream")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination()
      val ms2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      ms2.addData(1L, 2L)
      val wq2 = ms2.toDS().groupByKey(_ % 2)
        .flatMapGroupsWithState[Long, Long](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
          (_: Long, it: Iterator[Long], st: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val sum = st.getOption.getOrElse(0L) + it.sum
            st.update(sum); Iterator(sum)
        }
        .writeStream.format("memory").queryName("__warm_fmgws")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq2.awaitTermination()
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) || only.contains(n.takeWhile(_ != '_')) }
    val totals = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach { case (name, fn) =>
      s1.sparkContext.setJobDescription(name)
      (0 until reps).foreach { i =>
        val t0 = System.nanoTime()
        try {
          val df = fn(s1, sfDir)
          if (i == 0) planDir.foreach { pd =>
            new java.io.File(pd).mkdirs()
            val sw = new java.io.StringWriter()
            // explain(formatted) prints to stdout; capture via the API
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            sw.write(plan)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(pd, name + ".txt"),
              sw.toString.getBytes("UTF-8"))
          }
          df.agg(count(lit(1)),
              sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L))))
            .collect()
        } catch { case e: Throwable => System.err.println(s"[benchx] $name: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[benchx] $name rep=$i t=$dt%.3f s")
        if (i == 0 || dt < totals.getOrElse(name, Double.MaxValue)) totals(name) = dt
      }
      s1.sparkContext.setJobDescription(null)
    }
    println("[benchx] ==== min-of-reps summary ====")
    totals.foreach { case (n, t) => println(f"[benchx] MIN $n $t%.3f") }
    println(f"[benchx] TOTAL(min) ${totals.values.sum}%.3f s over ${totals.size} queries")
    s1.stop()
    ScalingBench.cleanDir(SpillDir)
  }
}
