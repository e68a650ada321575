package graft.tsdb

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core.{Models, TimestampCodec}

/** Segment-native aggregates: COUNT/MIN/MAX/SUM/AVG of one field computed
  * directly from segment metadata and models, skipping reconstruction.
  *
  * Spark-first port of the reference's `ModelSimpleAggregates` physical
  * optimizer rule
  * (/root/reference/crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:175-618):
  * instead of swapping physical operators, the facade emits the aggregate
  * over the segment DataFrame — MIN/MAX reduce to built-ins over the
  * metadata columns, COUNT/SUM go through a codegen'd-adjacent UDF per
  * segment with Spark's native partial aggregation on top.
  */
object SegmentAggregates {

  import org.apache.spark.sql.graft.ColumnBridge

  private def attr(name: String) = ColumnBridge.expression(col(name))

  /** Data points represented by a segment, decoded without gridding. */
  def lenCol: Column = ColumnBridge.column(
    SegmentLen(attr("start_time"), attr("end_time"), attr("timestamps")))

  /** Sum of a segment's values, f64-accumulated so the cross-segment total
    * matches an exact engine summing the reconstructed values.
    */
  def sumCol: Column = ColumnBridge.column(SegmentSum(
    attr("model_type_id"), attr("start_time"), attr("end_time"),
    attr("timestamps"), attr("min_value"), attr("max_value"),
    attr("values"), attr("residuals")))

  /** (Σv, m2) struct of a segment's values in ONE decode pass — m2 the
    * CENTERED second moment Σ(v − mean_seg)², the shared partial behind
    * the VAR/STDDEV closed forms (merged with [[PartialM2Merge]], never
    * the cancellation-prone raw Σv²).
    */
  def sumStatsCol: Column = ColumnBridge.column(SegmentSumStats(
    attr("model_type_id"), attr("start_time"), attr("end_time"),
    attr("timestamps"), attr("min_value"), attr("max_value"),
    attr("values"), attr("residuals")))

  /** (first, last) values of a segment in ONE decode pass — the kernel
    * behind segment-native FIRST/LAST by time (min_by/max_by on ts).
    */
  def edgeValuesCol: Column = ColumnBridge.column(SegmentEdgeValues(
    attr("model_type_id"), attr("start_time"), attr("end_time"),
    attr("timestamps"), attr("min_value"), attr("max_value"),
    attr("values"), attr("residuals")))

  /** True when a segment can hide a NaN value behind non-NaN stored bounds
    * (bounds are written NaN-ignoring): only MacaqueV value streams and
    * residual tails can — a fitted PMC/Swing model's own NaN shows in its
    * stored bounds.
    */
  private[tsdb] def nanCapable: Column =
    col("model_type_id") === lit(graft.core.Models.MacaqueVId.toInt) ||
      length(col("residuals")) > 0

  /** A segment's MAX under Spark's float order (NaN greatest). Stored
    * bounds are written NaN-ignoring, so the stored `max_value` is the
    * answer unless the segment hides a NaN. `sumIsNaN` is that detector:
    * true when the segment's float sum is NaN, i.e. its values hold a NaN
    * or both infinities, and the stored bounds tell the two apart. The one
    * corner they cannot — a segment holding +Inf, -Inf AND NaN — answers
    * +Inf. Every MAX over segments goes through here: the whole-table
    * and ranged aggregates and the writer's per-file value stats.
    */
  def maxCol(sumIsNaN: Column): Column = {
    val infMix = col("min_value") === lit(Float.NegativeInfinity) &&
      col("max_value") === lit(Float.PositiveInfinity)
    when(sumIsNaN && !infMix, lit(Float.NaN)).otherwise(col("max_value"))
  }

  /** True when the segment's stored bounds prove every value is outside
    * the constant interval (lower, upper] (None or NaN upper = unbounded,
    * NaN values included; None lower = unbounded below). Bound semantics
    * are Spark's own comparison semantics (NaN greatest, -0 = 0 —
    * matching [[graft.core.ValueCounts.sqlCompare]]): all-NaN fitted
    * segments carry NaN bounds and compare accordingly. A HIDDEN NaN (NaN
    * behind non-NaN bounds, MacaqueV/residual-tail only) is above any
    * non-NaN `upper`, so `max <= lower` still proves the segment out —
    * EXCEPT when `upper` is unbounded, which includes NaN values.
    */
  private def allOutCol(lower: Option[Double],
      upper: Option[Double]): Column = {
    val up = upper.filterNot(_.isNaN)
    val below = lower.map(l =>
      if (up.isEmpty) col("max_value") <= l && !nanCapable
      else col("max_value") <= l)
    val above = up.map(col("min_value") > _)
    (below ++ above).reduceOption(_ || _).getOrElse(lit(false))
  }

  /** A constant value bound for the kernel helpers below, None for an
    * unbounded side. It is a Catalyst literal, which [[statsInRangeCol]]
    * recognizes to pick its short-circuit on the driver.
    */
  def boundLit(v: Option[Double]): Column =
    ColumnBridge.column(Literal.create(v.map(Double.box).orNull, DoubleType))

  /** A [[boundLit]] column's value; None for any other column. */
  private def constant(bound: Column): Option[Option[Double]] =
    ColumnBridge.expression(bound) match {
      case Literal(v, DoubleType) => Some(Option(v).map(_.asInstanceOf[Double]))
      case _ => None
    }

  /** Count of a segment's reconstructed values in (lower, upper] under SQL
    * comparison semantics ([[SegmentCountInRange]]; a NULL or NaN upper is
    * unbounded, NaN values included) among its points in [tsLo, tsHi] —
    * the partial behind segment-native value-predicate COUNT, over
    * constant bounds or PER-ROW bound columns of a broadcast-joined
    * statistics frame. Most segments never decode: the stored value
    * bounds answer entirely-out (0) and, unclipped, for segments that
    * cannot hide NaN, entirely-in (len, timestamps-only) directly; only
    * bound-straddling segments evaluate the kernel, which is itself
    * closed-form for PMC and O(log len) for Swing, and clips to the window
    * exactly (O(1) index arithmetic for regular segments). Per-row NULL
    * bounds fall through to the kernel.
    */
  def countInRangeCol(lower: Column, upper: Column,
      tsLo: Long = Long.MinValue, tsHi: Long = Long.MaxValue): Column = {
    val kernel = ColumnBridge.column(SegmentCountInRange(
      ColumnBridge.expression(lower), ColumnBridge.expression(upper),
      Literal(tsLo), Literal(tsHi),
      attr("model_type_id"), attr("start_time"), attr("end_time"),
      attr("timestamps"), attr("min_value"), attr("max_value"),
      attr("values"), attr("residuals")))
    // Constant bounds fold to plain metadata tests in the optimizer. A NULL
    // upper is unbounded like NaN, so it gets the same hidden-NaN guard.
    val allOut = coalesce(
      when(upper.isNull || isnan(upper),
        col("max_value") <= lower && !nanCapable)
        .otherwise(col("max_value") <= lower || col("min_value") > upper),
      lit(false))
    val allIn = coalesce(!nanCapable && col("min_value") > lower &&
      col("max_value") <= upper, lit(false))
    val outOrIn = when(allOut, lit(0L))
    // A clipped all-in segment still needs the clipped length.
    val clipped = tsLo != Long.MinValue || tsHi != Long.MaxValue
    (if (clipped) outOrIn else outOrIn.when(allIn, lenCol)).otherwise(kernel)
  }

  /** The value-filtered stats partial of a segment where nothing qualifies. */
  private def emptyStats: Column = struct(lit(0L).as("cnt"),
    lit(0.0).as("sum"),
    lit(null).cast("float").as("mn"), lit(null).cast("float").as("mx"),
    lit(null).cast("long").as("tmin"), lit(null).cast("long").as("tmax"),
    lit(0.0).as("m2"))

  /** (cnt, sum, mn, mx, tmin, tmax, m2) struct of a segment's values inside
    * the value interval ([[SegmentStatsInRange]]) among its points in
    * [tsLo, tsHi] — the partial behind segment-native value-filtered
    * SUM/MIN/MAX/AVG. `lower` is exclusive unless `lowerInclusive`; a NULL
    * bound is unbounded on its side (a NULL or NaN upper includes NaN
    * values). With constant exclusive bounds, the column branch answers
    * entirely-out segments from stored bounds without touching the binary
    * columns (the dominant case under selective predicates); a window,
    * constant or per-row (bucketed stats), can only shrink the in-range
    * set. Per-row bounds (argmin/argmax, per-group filtered stats) go
    * straight to the kernel, which classifies entirely-out segments from
    * its scalar bounds itself. The kernel binary-searches a Swing
    * segment's in-range run and only evaluates that.
    */
  def statsInRangeCol(lower: Column, upper: Column,
      tsLo: Column = lit(Long.MinValue), tsHi: Column = lit(Long.MaxValue),
      lowerInclusive: Boolean = false): Column = {
    val kernel = ColumnBridge.column(SegmentStatsInRange(lowerInclusive,
      ColumnBridge.expression(lower), ColumnBridge.expression(upper),
      ColumnBridge.expression(tsLo), ColumnBridge.expression(tsHi),
      attr("model_type_id"), attr("start_time"), attr("end_time"),
      attr("timestamps"), attr("min_value"), attr("max_value"),
      attr("values"), attr("residuals")))
    (constant(lower), constant(upper)) match {
      case (Some(lo), Some(up)) if !lowerInclusive =>
        when(allOutCol(lo, up), emptyStats).otherwise(kernel)
      case _ => kernel
    }
  }

  /** [[statsInRangeCol]] over a UNION of disjoint intervals — the
    * partial behind `WHERE v < a OR v > b`: a segment short-circuits to
    * the empty struct only when its stored bounds exclude EVERY
    * interval.
    */
  def statsInRangesCol(
      intervals: Seq[(Option[Double], Option[Double])],
      tsLo: Long = Long.MinValue, tsHi: Long = Long.MaxValue): Column = {
    require(intervals.nonEmpty, "statsInRangesCol needs intervals")
    val kernel = ColumnBridge.column(SegmentStatsInRanges(
      intervals.map(_._1.getOrElse(Double.NaN)),
      intervals.map(_._2.getOrElse(Double.NaN)), tsLo, tsHi,
      attr("model_type_id"), attr("start_time"), attr("end_time"),
      attr("timestamps"), attr("min_value"), attr("max_value"),
      attr("values"), attr("residuals")))
    val allOut = intervals
      .map { case (lo, up) => allOutCol(lo, up) }.reduce(_ && _)
    when(allOut, emptyStats).otherwise(kernel)
  }

  /** Per-threshold `count(v > x)` array of a segment's points in
    * [tsLo, tsHi] ([[SegmentCountAboveMulti]]) — the probe of the
    * exact-rank ladders; `thresholds` is an `array<double>` literal or
    * per-row column.
    */
  def countAboveMultiCol(thresholds: Column, tsLo: Long, tsHi: Long): Column =
    ColumnBridge.column(SegmentCountAboveMulti(
      ColumnBridge.expression(thresholds), Literal(tsLo), Literal(tsHi),
      attr("model_type_id"), attr("start_time"), attr("end_time"),
      attr("timestamps"), attr("min_value"), attr("max_value"),
      attr("values"), attr("residuals")))

  /** Number of points with timestamp in [tsLo, tsHi] — values never decode. */
  def clippedLenCol(tsLo: Long, tsHi: Long): Column = ColumnBridge.column(
    SegmentClippedLen(tsLo, tsHi,
      attr("start_time"), attr("end_time"), attr("timestamps")))

  /** The f64 histogram bin floor((v - origin) / width) of a metadata value
    * column — MUST stay arithmetically identical to
    * [[graft.core.ValueCounts.histogram]]'s bin map (floor of a double
    * subtract-divide) so the metadata fast path and the kernel agree.
    */
  def binCol(c: Column, origin: Double, width: Double): Column =
    floor((c.cast("double") - lit(origin)) / lit(width))

  /** True when ALL of a segment's values provably fall in one histogram
    * bin, decided from metadata alone: finite non-NaN bounds in the same
    * bin, and no possibility of a hidden NaN. Such segments contribute
    * (bin, len) without decoding.
    */
  def singleBinCol(origin: Double, width: Double): Column =
    !nanCapable &&
      !isnan(col("min_value")) && !isnan(col("max_value")) &&
      col("min_value") =!= lit(Float.NegativeInfinity) &&
      col("max_value") =!= lit(Float.PositiveInfinity) &&
      binCol(col("min_value"), origin, width) ===
        binCol(col("max_value"), origin, width)

  /** The Chan-merged centered second moment of (count, Σv, m2) partial
    * columns — one aggregate column merging per-segment moments into the
    * group's M2 = Σ(v − μ_group)², numerically stable at any mean (raw
    * Σv² − (Σv)²/n cancels catastrophically for large-mean/low-variance
    * series). NULL/zero-count partials are skipped inside the aggregate,
    * so `when(cond, partial)` field gating works unchanged.
    */
  def m2MergeCol(cnt: Column, s: Column, m2: Column): Column =
    ColumnBridge.column(PartialM2Merge(
      ColumnBridge.expression(cnt), ColumnBridge.expression(s),
      ColumnBridge.expression(m2)).toAggregateExpression())

  /** Variance from a group's (count, merged M2) — NULL below the minimum
    * count, mirroring SQL var_samp (n >= 2) / var_pop (n >= 1); the
    * greatest(0, ·) guard only absorbs epsilon-negative merge residue
    * (M2 is a sum of squares up to rounding), never a cancelled moment.
    */
  def varianceFromM2(cnt: Column, m2: Column, sample: Boolean): Column = {
    val n = cnt.cast("double")
    val divisor = if (sample) n - 1d else n
    when(cnt > (if (sample) 1L else 0L), greatest(lit(0d), m2 / divisor))
      .otherwise(lit(null).cast("double"))
  }

  /** The aggregate column for one kind ("count" | "min" | "max" | "sum" |
    * "avg") over one field's segments within a mixed-field frame — the
    * single source of truth shared by the facade and the Catalyst rewrite.
    */
  def aggColumnFor(kind: String, fieldIndex: Int): Column = {
    val onField = (c: Column) =>
      when(col(SegmentSchema.FieldColumn) === fieldIndex, c)
    // The var/stddev kinds share one SegmentSumStats decode: the sum and
    // m2 extracts reference the SAME struct subtree, which Spark's
    // aggregate-level subexpression elimination evaluates once; the
    // per-segment moments merge with Chan's update (PartialM2Merge).
    def cnt = sum(onField(lenCol))
    def statsM2 = m2MergeCol(onField(lenCol),
      onField(sumStatsCol.getField("sum")),
      onField(sumStatsCol.getField("m2")))
    kind match {
      case "count" => coalesce(sum(onField(lenCol)), lit(0L))
      case "min" => org.apache.spark.sql.functions.min(onField(col("min_value")))
      // Only the NaN-capable minority decodes its sum to detect a NaN.
      case "max" => org.apache.spark.sql.functions.max(
        onField(maxCol(nanCapable && isnan(sumCol))))
      case "sum" => sum(onField(sumCol))
      case "avg" => sum(onField(sumCol)) / sum(onField(lenCol))
      case "var_samp" => varianceFromM2(cnt, statsM2, sample = true)
      case "var_pop" => varianceFromM2(cnt, statsM2, sample = false)
      case "stddev_samp" =>
        sqrt(varianceFromM2(cnt, statsM2, sample = true))
      case "stddev_pop" =>
        sqrt(varianceFromM2(cnt, statsM2, sample = false))
      // FIRST/LAST by time: the group winner is the segment with the
      // extreme time bound; its edge value is that extreme's point
      // (segments of one series never overlap, so the bound is unique
      // per series; cross-series ties pick either value, matching
      // Spark's own min_by/max_by tie semantics).
      case "first" =>
        min_by(onField(edgeValuesCol.getField("first")),
          onField(col("start_time")))
      case "last" =>
        max_by(onField(edgeValuesCol.getField("last")),
          onField(col("end_time")))
      case other => throw new IllegalArgumentException(s"Unknown aggregate $other.")
    }
  }
}
