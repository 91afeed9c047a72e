package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed feature engineering over (entity, event_time)-sorted frames —
  * the north_rule surface: backfill, lag/lead, sessionize, rolling and
  * tumbling aggregates. Every frame is bounded at the CURRENT row
  * (`rowsBetween(unboundedPreceding, 0)` or lag-only offsets): strictly
  * t' <= t, zero temporal leakage by construction (≙ the reference's
  * half-open/closed containment discipline, src/utils/tree.rs:66-121).
  *
  * One shuffle on `entity` total when features are stacked on the same
  * window spec — Catalyst reuses the sort/exchange across same-spec
  * window expressions.
  */
object WindowFeatures {

  /** Deterministic per-entity time order; `tiebreak` makes duplicate
    * timestamps reproducible across parallelism levels.
    */
  def spec(entity: String = "entity", time: String = "event_time", tiebreak: String = "") = {
    val keys = if (tiebreak.isEmpty) Seq(col(time)) else Seq(col(time), col(tiebreak))
    Window.partitionBy(col(entity)).orderBy(keys: _*)
  }

  /** lag/lead of `valueCol` by offsets 1..n. Lead looks FORWARD: it is a
    * training-label/target column, not a feature — callers must not feed
    * lead columns back as features (leakage).
    */
  def lagLead(df: DataFrame, valueCol: String, offsets: Seq[Int],
      entity: String = "entity", time: String = "event_time", tiebreak: String = ""): DataFrame = {
    val w = spec(entity, time, tiebreak)
    offsets.foldLeft(df) { (d, k) =>
      d.withColumn(s"${valueCol}_lag$k", lag(col(valueCol), k).over(w))
        .withColumn(s"${valueCol}_lead$k", lead(col(valueCol), k).over(w))
    }
  }

  /** Backfill (LOCF): latest non-null value at or before t. */
  def backfill(df: DataFrame, valueCol: String, entity: String = "entity",
      time: String = "event_time", tiebreak: String = ""): DataFrame = {
    val w = spec(entity, time, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(s"${valueCol}_ff", last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Sessionize: new session when gap from previous event > `gap`.
    * session_id = cumulative count of gap-breaks per entity (0-based).
    */
  def sessionize(df: DataFrame, gap: Long, entity: String = "entity",
      time: String = "event_time", tiebreak: String = ""): DataFrame = {
    val w = spec(entity, time, tiebreak)
    val cum = spec(entity, time, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__prev_t", lag(col(time), 1).over(w))
      .withColumn("__brk",
        when(col("__prev_t").isNull || (col(time) - col("__prev_t")) > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(cum) - 1)
      .drop("__prev_t", "__brk")
  }

  /** Rolling aggregate over the last `n` rows INCLUDING current (t' <= t). */
  def rolling(df: DataFrame, valueCol: String, n: Int, entity: String = "entity",
      time: String = "event_time", tiebreak: String = ""): DataFrame = {
    val w = spec(entity, time, tiebreak).rowsBetween(-(n - 1).toLong, 0)
    df.withColumn(s"${valueCol}_rsum$n", sum(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_rcnt$n", count(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_rmin$n", min(col(valueCol)).over(w))
      .withColumn(s"${valueCol}_rmax$n", max(col(valueCol)).over(w))
  }

  /** Tumbling time-bucket aggregate: floor(t / width) buckets per entity.
    * Map-side partial agg + single shuffle (HashAggregate partial/final,
    * ≙ the reference's partial+final merge, src/commands/coverage.rs:431-443).
    */
  def tumbling(df: DataFrame, width: Long, valueCol: String,
      entity: String = "entity", time: String = "event_time"): DataFrame =
    df.withColumn("bucket", expr(s"$time DIV ${width}L"))
      .groupBy(col(entity), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("vsum"),
        min(col(valueCol)).as("vmin"), max(col(valueCol)).as("vmax"))

  /** Fused feature stack: every independent per-entity window feature —
    * lag/lead offsets, backfill (LOCF), rolling aggregates, the session
    * break's `lag(time)` — in ONE select, so the analyzer emits ONE logical
    * Window node (same partition/order spec; frames may differ within a
    * node) and the physical plan is a single WindowExec buffering each
    * partition ONCE. A second, dependent window computes the session id
    * (running sum over the lag-derived break flag). Net: one sort + 2
    * WindowExec instead of the 4-5 produced by composing the individual
    * operators — WindowExec's per-operator UnsafeRow buffer copy is the
    * measured single-box scaling ceiling (BASELINE.md: jstack shows all
    * workers in Platform.copyMemory under WindowExec at 8->32 threads).
    *
    * Output columns and values are IDENTICAL to composing
    * lagLead(lagOffsets) . backfill(backfillCol) . rolling(rollCol, rollN)
    * . sessionize(gap).
    */
  def stack(df: DataFrame, lagCol: String, lagOffsets: Seq[Int], backfillCol: String,
      rollCol: String, rollN: Int, gap: Long,
      entity: String = "entity", time: String = "event_time", tiebreak: String = ""): DataFrame = {
    val w = spec(entity, time, tiebreak)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val roll = w.rowsBetween(-(rollN - 1).toLong, 0)
    val lagLeadCols = lagOffsets.flatMap { k =>
      Seq(lag(col(lagCol), k).over(w).as(s"${lagCol}_lag$k"),
        lead(col(lagCol), k).over(w).as(s"${lagCol}_lead$k"))
    }
    val fused = df.select(
      (df.columns.map(col).toSeq ++ lagLeadCols ++ Seq(
        last(col(backfillCol), ignoreNulls = true).over(cum).as(s"${backfillCol}_ff"),
        sum(col(rollCol)).over(roll).as(s"${rollCol}_rsum$rollN"),
        count(col(rollCol)).over(roll).as(s"${rollCol}_rcnt$rollN"),
        min(col(rollCol)).over(roll).as(s"${rollCol}_rmin$rollN"),
        max(col(rollCol)).over(roll).as(s"${rollCol}_rmax$rollN"),
        lag(col(time), 1).over(w).as("__prev_t"))): _*)
    fused
      .withColumn("__brk",
        when(col("__prev_t").isNull || (col(time) - col("__prev_t")) > gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(cum) - 1)
      .drop("__prev_t", "__brk")
  }

  /** Per-session aggregate on a sessionized frame. */
  def sessionAgg(sessionized: DataFrame, valueCol: String,
      entity: String = "entity", time: String = "event_time"): DataFrame =
    sessionized.groupBy(col(entity), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col(time)) - min(col(time))).as("duration"),
        sum(col(valueCol)).as("vsum"),
        min(col(time)).as("t_start"), max(col(time)).as("t_end"))
}
