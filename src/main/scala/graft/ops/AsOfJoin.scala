package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Point-in-time (as-of) join: for each probe (entity, t), the latest
  * feature row of that entity with t' <= t — STRICT bound, zero temporal
  * leakage by construction (reference: closed point-containment probe,
  * src/utils/tree.rs:66-94, reinterpreted per BASELINE.json north_rule).
  *
  * Column convention: probes carry (`entity`, `t`, payload...); feats carry
  * (`entity`, `t`, values...). Output: probe columns + `f_t` (matched
  * feature time, null if none) + feature value columns (null if none).
  *
  * Two physical paths:
  *  1. [[windowed]] — tag-union + `last(struct, ignoreNulls)` over an
  *     (entity, t)-ordered frame `rowsBetween(unboundedPreceding, 0)`.
  *     Pure Catalyst: one shuffle on entity, whole-stage codegen, scales by
  *     entity cardinality; the frame bound IS the leakage guarantee.
  *  2. [[broadcastPath]] — feature side small: broadcast per-entity
  *     time-sorted arrays, binary-search per probe, zero shuffle.
  */
object AsOfJoin {

  /** Pure-Catalyst union-window as-of merge. Feature rows sort BEFORE probe
    * rows at equal t (tag 0 < 1), so t' == t is visible — the `<=` bound.
    * If multiple feature rows share (entity, t), the one with the largest
    * `tiebreak` column wins deterministically.
    */
  def windowed(probes: DataFrame, feats: DataFrame, tiebreak: Option[String] = None): DataFrame = {
    val pPay = probes.columns.filterNot(Set("entity", "t"))
    val fVal = feats.columns.filterNot(Set("entity", "t"))
    val fStruct = struct((col("t").as("f_t") +: fVal.map(col)): _*)
    val tb = tiebreak.map(col).getOrElse(lit(0L))
    val fu = feats.select(col("entity"), col("t"), lit(0).as("__tag"),
      tb.cast("long").as("__tb"), fStruct.as("__fv"),
      lit(null).cast(StructType(probes.schema.fields.filter(f => pPay.contains(f.name)))).as("__pv"))
    val pu = probes.select(col("entity"), col("t"), lit(1).as("__tag"), lit(0L).as("__tb"),
      lit(null).cast(fu.schema("__fv").dataType).as("__fv"),
      struct(pPay.map(col): _*).as("__pv"))
    val w = Window.partitionBy(col("entity"))
      .orderBy(col("t"), col("__tag"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, 0)
    fu.unionByName(pu)
      .withColumn("__last", last(col("__fv"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .select((Seq(col("entity"), col("t")) ++ pPay.map(n => col("__pv").getField(n).as(n)) ++
        Seq(col("__last").getField("f_t").as("f_t")) ++
        fVal.map(n => col("__last").getField(n).as(n))): _*)
  }

  /** Auto path (same decision as [[IntervalJoin.join]]): broadcast the
    * feature side iff it is PROVABLY small — plan-statistics prefilter,
    * then ONE job that collects at most [[BroadcastBuild.MaxRows]] + 1
    * feature rows, which become the build side when within the cap — else
    * the windowed merge. At 100 TB the feature side blows the stats
    * ceiling and the join stays windowed (one shuffle, zero driver
    * traffic). The broadcast path has no tiebreak knob, so a requested
    * `tiebreak` always takes the windowed merge.
    */
  def join(probes: DataFrame, feats: DataFrame, tiebreak: Option[String] = None): DataFrame = {
    val f = buildSide(feats)
    val rows =
      if (tiebreak.isEmpty && BroadcastBuild.planBytes(feats) <= BroadcastBuild.MaxPlanBytes)
        BroadcastBuild.collect(f)
      else None
    rows match {
      case Some(r) => broadcastChecked(probes, f, r)
      case None => windowed(probes, feats, tiebreak)
    }
  }

  /** Broadcast binary-search as-of: feature side collected, per-entity
    * time-sorted; each probe binary-searches the greatest t' <= t.
    * Guarded: refuses a feature side of more than [[BroadcastBuild.MaxRows]]
    * rows (found by the single bounded collect that builds it) — use
    * [[windowed]] for two big sides.
    */
  def broadcastPath(probes: DataFrame, feats: DataFrame): DataFrame = {
    val f = buildSide(feats)
    val rows = BroadcastBuild.collect(f)
    require(rows.isDefined,
      s"as-of feature side exceeds ${BroadcastBuild.MaxRows} rows; use AsOfJoin.windowed")
    broadcastChecked(probes, f, rows.get)
  }

  /** The feature side in build layout: entity, t, values... */
  private def buildSide(feats: DataFrame): DataFrame = {
    val fVal = feats.columns.filterNot(Set("entity", "t"))
    feats.select((Seq(col("entity"), col("t")) ++ fVal.map(col)): _*)
  }

  /** [[broadcastPath]] body over `fRows`, the already collected (and
    * cap-checked) rows of `f` (see [[buildSide]]).
    *
    * r6: InternalRow end to end, like IntervalJoin.broadcastImpl — the
    * old Encoders.row mapPartitions deserialized every probe row to an
    * external Row and re-encoded the output. The matched feature row is
    * projected as (f_t, values...) behind the probe columns via one
    * UnsafeProjection over a JoinedRow; the no-match arm joins an
    * all-null feature row of the same width.
    */
  private def broadcastChecked(probes: DataFrame, f: DataFrame,
      fRows: Array[InternalRow]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
    val spark = probes.sparkSession
    val eType = f.schema.fields(0).dataType
    val byEntity: Map[Any, (Array[Long], Array[Int])] =
      fRows.indices.groupBy(i => fRows(i).get(0, eType)).map { case (e, idxs) =>
        val sorted = idxs.sortBy(i => (fRows(i).getLong(1), i.toLong)).toArray
        e -> (sorted.map(i => fRows(i).getLong(1)), sorted)
      }
    val bc = spark.sparkContext.broadcast((fRows, byEntity))
    val pFields = probes.schema.fields
    val fFields = f.schema.fields
    val nP = pFields.length
    val outSchema = StructType(pFields ++
      (org.apache.spark.sql.types.StructField("f_t", org.apache.spark.sql.types.LongType, nullable = true) +:
        fFields.drop(2).map(_.copy(nullable = true))))
    // JoinedRow layout: (probe row, feature row); feature's entity dropped
    val outRefs =
      pFields.indices.map(i => BoundReference(i, pFields(i).dataType, pFields(i).nullable)) ++
        (1 until fFields.length).map(j =>
          BoundReference(nP + j, fFields(j).dataType, nullable = true))
    val outRdd = probes.queryExecution.toRdd.mapPartitions { it =>
      val (rows, idx) = bc.value
      val proj = UnsafeProjection.create(outRefs.toArray)
      val joined = new JoinedRow
      val nullF: InternalRow = new GenericInternalRow(fFields.length)
      it.map { pr =>
        val fr: InternalRow = idx.get(pr.get(0, eType)) match {
          case None => nullF
          case Some((ts, order)) =>
            val t = pr.getLong(1)
            // greatest index with ts(i) <= t
            var lo = 0; var hi = ts.length - 1; var ans = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (ts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
            }
            if (ans < 0) nullF else rows(order(ans))
        }
        proj(joined(pr, fr)): InternalRow
      }
    }
    org.apache.spark.sql.graftx.InternalRows.create(spark, outRdd, outSchema)
  }
}
