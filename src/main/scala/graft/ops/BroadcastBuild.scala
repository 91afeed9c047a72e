package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The broadcast decision shared by [[IntervalJoin.join]],
  * [[AsOfJoin.join]] and `IndexBuild.load`: a plan-statistics prefilter,
  * then ONE bounded collect of the candidate side whose rows, when within
  * the cap, ARE the build side. There is no separate count job and no
  * second scan. Nothing unbounded ever reaches the driver: at 100 TB every
  * side blows the stats ceiling and no collect runs at all.
  */
private[graft] object BroadcastBuild {

  /** Hard row cap of a broadcast build side. */
  val MaxRows = 1000000L

  /** Plan-stats ceiling for considering a side broadcastable at all. */
  val MaxPlanBytes = BigInt(256L * 1024 * 1024)

  def planBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** `Some(rows)` iff `df` has at most [[MaxRows]] rows. One job: a
    * `limit(MaxRows + 1)` executed through its RDD (per-partition local
    * limits, plus one single-partition exchange when the side has several
    * partitions), so at most MaxRows + 1 rows are collected.
    */
  def collect(df: DataFrame): Option[Array[InternalRow]] = {
    // toRdd rows may be buffer-reused per partition: copy before collect
    val rows = df.limit((MaxRows + 1).toInt).queryExecution.toRdd.map(_.copy()).collect()
    if (rows.length <= MaxRows) Some(rows) else None
  }
}
