package graft.tsdb

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.{Models, TimestampCodec}

/** Number of data points a segment represents, decoded from the timestamp
  * metadata alone — the kernel behind segment-native COUNT/AVG
  * (/root/reference/crates/modelardb_compression/src/models/mod.rs:98-124).
  * Native expression with codegen: the surrounding Project/HashAggregate
  * stays in one whole-stage span, no interpreted-expression call boundary.
  * Children come from the non-null segment schema, hence no null branches
  * (matching the interpreted eval, which would throw on null anyway).
  */
case class SegmentLen(
    startTime: Expression, endTime: Expression, timestamps: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(startTime, endTime, timestamps)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    TimestampCodec.len(
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]]).toLong
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |long ${ev.value} = (long) graft.core.TimestampCodec.len(
           |  ${evals(0).value}, ${evals(1).value}, ${evals(2).value});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2))
}

/** Sum of a segment's values from the model's closed form (PMC len*value,
  * Swing trapezoid, MacaqueV decode-sum, + residuals), f64-accumulated —
  * the kernel behind segment-native SUM/AVG
  * (/root/reference/crates/modelardb_compression/src/models/mod.rs:129-184).
  * Codegen'd like [[SegmentLen]].
  */
case class SegmentSum(
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    Models.sumDouble(
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |double ${ev.value} = graft.core.Models.sumDouble(
           |  ${evals.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6), newChildren(7))
}

/** Static kernel wrapper producing the (sum, m2) struct row — callable
  * from generated code, shared with interpreted eval.
  */
object SegmentKernels {
  def sumStatsRow(modelTypeId: Byte, startTime: Long, endTime: Long,
      timestamps: Array[Byte], minValue: Float, maxValue: Float,
      values: Array[Byte], residuals: Array[Byte]): InternalRow = {
    val a = Models.sumStats(modelTypeId, startTime, endTime, timestamps,
      minValue, maxValue, values, residuals)
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    r.setDouble(0, a(0))
    r.setDouble(1, a(1))
    r
  }

  def edgeValuesRow(modelTypeId: Byte, startTime: Long, endTime: Long,
      timestamps: Array[Byte], minValue: Float, maxValue: Float,
      values: Array[Byte], residuals: Array[Byte]): InternalRow = {
    val a = Models.edgeValues(modelTypeId, startTime, endTime, timestamps,
      minValue, maxValue, values, residuals)
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    r.setFloat(0, a(0))
    r.setFloat(1, a(1))
    r
  }

  def timeGapRow(startTime: Long, endTime: Long, timestamps: Array[Byte],
      thresholdUs: Long): InternalRow = {
    val a = TimestampCodec.timeGapStats(startTime, endTime, timestamps,
      thresholdUs)
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    if (a(0) < 0L) r.update(0, null) else r.setLong(0, a(0))
    r.setLong(1, a(1))
    r
  }

  /** [[SegmentCountInRange]]'s one entry point, interpreted and generated:
    * a NULL bound is unbounded on its side. A NULL upper is the NaN
    * sentinel (the SQL order's maximum, NaN values included); a NULL lower
    * counts everything up to the upper bound, -Inf included, as the
    * clipped length less the count above the upper bound (one traversal).
    */
  def countInRange(lowerNull: Boolean, lower: Double, upperNull: Boolean,
      upper: Double, tsLo: Long, tsHi: Long, modelTypeId: Byte,
      startTime: Long, endTime: Long, timestamps: Array[Byte],
      minValue: Float, maxValue: Float, values: Array[Byte],
      residuals: Array[Byte]): Long = {
    val up = if (upperNull) Double.NaN else upper
    if (lowerNull) {
      val len = graft.core.ValueCounts.clippedLen(tsLo, tsHi, startTime,
        endTime, timestamps)
      if (java.lang.Double.isNaN(up)) len
      else len - graft.core.ValueCounts.countAboveMulti(Array(up), tsLo,
        tsHi, modelTypeId, startTime, endTime, timestamps, minValue,
        maxValue, values, residuals)(0)
    } else graft.core.ValueCounts.countInRange(lower, up, tsLo, tsHi,
      modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
      values, residuals)
  }

  /** [[SegmentStatsInRange]]'s one entry point, interpreted and generated.
    * The kernel's lower bound is exclusive with NaN meaning unbounded, so
    * a NULL lower maps to NaN and an INCLUSIVE lower folds in exactly:
    * nextDown for finite bounds (no double lies between), unbounded for
    * -Inf (nothing below it), +Inf for NaN (only NaN sits above +Inf).
    * Nothing lies above an exclusive NaN bound: the empty (+Inf, +Inf].
    * A NULL upper is the NaN "unbounded" sentinel, NaN values included.
    */
  def statsInRangeRow(lowerNull: Boolean, lower: Double,
      lowerInclusive: Boolean, upperNull: Boolean, upper: Double,
      tsLo: Long, tsHi: Long, modelTypeId: Byte, startTime: Long,
      endTime: Long, timestamps: Array[Byte], minValue: Float,
      maxValue: Float, values: Array[Byte],
      residuals: Array[Byte]): InternalRow = {
    val hi = if (upperNull) Double.NaN else upper
    val (lo, up) =
      if (lowerNull) (Double.NaN, hi)
      else if (java.lang.Double.isNaN(lower))
        (Double.PositiveInfinity,
          if (lowerInclusive) hi else Double.PositiveInfinity)
      else if (!lowerInclusive) (lower, hi)
      else if (lower == Double.NegativeInfinity) (Double.NaN, hi)
      else (Math.nextDown(lower), hi)
    statsInRangesRow(Array(lo), Array(up), tsLo, tsHi, modelTypeId,
      startTime, endTime, timestamps, minValue, maxValue, values, residuals)
  }

  /** [[SegmentCountAboveMulti]]'s one entry point, interpreted and
    * generated: a NULL threshold array probes no threshold.
    */
  def countAboveMulti(xsNull: Boolean, xs: ArrayData, tsLo: Long,
      tsHi: Long, modelTypeId: Byte, startTime: Long, endTime: Long,
      timestamps: Array[Byte], minValue: Float, maxValue: Float,
      values: Array[Byte], residuals: Array[Byte]): ArrayData =
    new GenericArrayData(graft.core.ValueCounts.countAboveMulti(
      if (xsNull) Array.emptyDoubleArray else xs.toDoubleArray(), tsLo,
      tsHi, modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
      values, residuals))

  /** The (cnt, sum, mn, mx, tmin, tmax, m2) struct of the value-filtered
    * stats kernels; mn/mx/tmin/tmax are NULL when no value qualifies.
    */
  val StatsType: StructType = StructType(Seq(
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", FloatType, nullable = true),
    StructField("mx", FloatType, nullable = true),
    StructField("tmin", LongType, nullable = true),
    StructField("tmax", LongType, nullable = true),
    StructField("m2", DoubleType, nullable = false)))

  def statsInRangesRow(los: Array[Double], his: Array[Double],
      tsLo: Long, tsHi: Long, modelTypeId: Byte, startTime: Long,
      endTime: Long, timestamps: Array[Byte], minValue: Float,
      maxValue: Float, values: Array[Byte],
      residuals: Array[Byte]): InternalRow = {
    val a = graft.core.ValueCounts.statsInRanges(los, his,
      tsLo, tsHi, modelTypeId, startTime, endTime, timestamps, minValue,
      maxValue, values, residuals)
    val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(7)
    val cnt = a(0).toLong
    r.setLong(0, cnt)
    r.setDouble(1, a(1))
    if (cnt == 0L) {
      r.update(2, null); r.update(3, null); r.update(4, null); r.update(5, null)
    } else {
      r.setFloat(2, a(2).toFloat); r.setFloat(3, a(3).toFloat)
      r.setLong(4, a(4).toLong); r.setLong(5, a(5).toLong)
    }
    r.setDouble(6, a(6))
    r
  }
}

/** (Σv, m2 = Σ(v − mean_seg)²) of a segment's values as one struct — a
  * SINGLE decode pass answers both partials, so variance closed forms
  * don't pay a second reconstruction next to [[SegmentSum]]. Codegen'd like [[SegmentLen]];
  * consumers extract the fields in a CHAINED projection so CollapseProject
  * never inlines (and re-decodes) the kernel per extracted field.
  */
case class SegmentSumStats(
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = StructType(Seq(
    StructField("sum", DoubleType, nullable = false),
    StructField("m2", DoubleType, nullable = false)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    SegmentKernels.sumStatsRow(
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$rowCls ${ev.value} = graft.tsdb.SegmentKernels.sumStatsRow(
           |  ${evals.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6), newChildren(7))
}

/** A segment's chronologically (first, last) values as one struct — the
  * kernel behind segment-native `min_by(value, ts)` / `max_by(value, ts)`
  * (FIRST/LAST by time): the group winner is the segment with the extreme
  * time bound, and its edge value is that extreme's point. Codegen'd like
  * [[SegmentSumStats]], extracted in chained projections.
  */
case class SegmentEdgeValues(
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = StructType(Seq(
    StructField("first", FloatType, nullable = false),
    StructField("last", FloatType, nullable = false)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    SegmentKernels.edgeValuesRow(
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$rowCls ${ev.value} = graft.tsdb.SegmentKernels.edgeValuesRow(
           |  ${evals.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6), newChildren(7))
}

/** (max consecutive timestamp delta, count of deltas > threshold) of one
  * segment as a struct — the intra-segment half of gap detection
  * ([[graft.core.TimestampCodec.timeGapStats]]): values never decode, and
  * regular segments answer in O(1) from the stored length. `max_delta` is
  * NULL for single-point segments (no deltas). Codegen'd like
  * [[SegmentLen]].
  */
case class SegmentTimeGaps(
    thresholdUs: Long,
    startTime: Expression, endTime: Expression, timestamps: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(startTime, endTime, timestamps)
  override def dataType: DataType = StructType(Seq(
    StructField("max_delta", LongType, nullable = true),
    StructField("n_over", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    SegmentKernels.timeGapRow(
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      thresholdUs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$rowCls ${ev.value} = graft.tsdb.SegmentKernels.timeGapRow(
           |  ${evals.map(_.value).mkString(", ")}, ${thresholdUs}L);
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(thresholdUs, newChildren(0), newChildren(1), newChildren(2))
}

/** Count of a segment's reconstructed values in (lower, upper] at
  * timestamps within [tsLo, tsHi] — the kernel behind segment-native
  * value-predicate COUNT ([[graft.core.ValueCounts.countInRange]]): PMC
  * closed form, Swing O(log len) monotone binary search, values-only walk
  * for MacaqueV. The bounds are expressions: literals for one predicate
  * per query, or columns of a broadcast-joined statistics frame for
  * per-group thresholds (outlier screens beyond each series' own
  * μ ± k·σ), so per-group bounds never collect on the driver. A NULL
  * bound is unbounded on its side ([[SegmentKernels.countInRange]]); the
  * window, like the segment columns, is never NULL. Codegen'd like
  * [[SegmentLen]].
  */
case class SegmentCountInRange(
    lower: Expression, upper: Expression, tsLo: Expression, tsHi: Expression,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(lower, upper, tsLo, tsHi,
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val lo = lower.eval(input)
    val up = upper.eval(input)
    SegmentKernels.countInRange(lo == null, lo.asInstanceOf[Double],
      up == null, up.asInstanceOf[Double],
      tsLo.eval(input).asInstanceOf[Long],
      tsHi.eval(input).asInstanceOf[Long],
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val Seq(lo, up) = evals.take(2)
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |long ${ev.value} = graft.tsdb.SegmentKernels.countInRange(
           |  ${lo.isNull}, ${lo.value}, ${up.isNull}, ${up.value},
           |  ${evals.drop(2).map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6), newChildren(7),
      newChildren(8), newChildren(9), newChildren(10), newChildren(11))
}

/** (count, Σv, min, max, tmin, tmax, m2) of a segment's reconstructed
  * values inside a value interval
  * ([[graft.core.ValueCounts.statsInRange]]) — the kernel behind
  * segment-native value-filtered SUM/MIN/MAX/AVG: lower exclusive unless
  * `lowerInclusive`, upper inclusive, timestamps clipped to [tsLo, tsHi];
  * min/max are NULL when no value qualifies. Bounds and window are
  * expressions: literals for one predicate per query, a per-row window
  * for bucketed stats (a bucket-straddling segment explodes into its
  * overlapped buckets, each row clipped to its bucket), per-row bounds of
  * a broadcast-joined per-group frame for argmin/argmax and per-group
  * filtered stats. A NULL bound is unbounded on its side, and
  * `lower = upper = target` with `lowerInclusive` selects exactly the
  * points equal to `target`, NaN targets included
  * ([[SegmentKernels.statsInRangeRow]]); the window is never NULL.
  * Codegen'd like [[SegmentSumStats]]; consumers extract fields of the
  * SAME struct subtree so aggregate-level subexpression elimination
  * evaluates the kernel once per segment.
  */
case class SegmentStatsInRange(
    lowerInclusive: Boolean, lower: Expression, upper: Expression,
    tsLo: Expression, tsHi: Expression,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(lower, upper, tsLo, tsHi,
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = SegmentKernels.StatsType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val lo = lower.eval(input)
    val up = upper.eval(input)
    SegmentKernels.statsInRangeRow(lo == null, lo.asInstanceOf[Double],
      lowerInclusive, up == null, up.asInstanceOf[Double],
      tsLo.eval(input).asInstanceOf[Long],
      tsHi.eval(input).asInstanceOf[Long],
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val Seq(lo, up) = evals.take(2)
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$rowCls ${ev.value} = graft.tsdb.SegmentKernels.statsInRangeRow(
           |  ${lo.isNull}, ${lo.value}, $lowerInclusive,
           |  ${up.isNull}, ${up.value},
           |  ${evals.drop(2).map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(lowerInclusive, newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5), newChildren(6),
      newChildren(7), newChildren(8), newChildren(9), newChildren(10),
      newChildren(11))
}

/** [[SegmentStatsInRange]] over a UNION of disjoint value intervals —
  * the kernel behind `WHERE v < a OR v > b` (the outlier band): the
  * merged, ascending interval list rides along as a codegen reference
  * object and one traversal accumulates the union's stats. `los(i)` NaN
  * = that interval is unbounded below; `his(i)` NaN = unbounded above.
  */
case class SegmentStatsInRanges(
    los: Seq[Double], his: Seq[Double], tsLo: Long, tsHi: Long,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = SegmentKernels.StatsType
  override def nullable: Boolean = false

  @transient private lazy val losArr: Array[Double] = los.toArray
  @transient private lazy val hisArr: Array[Double] = his.toArray

  override def eval(input: InternalRow): Any = {
    SegmentKernels.statsInRangesRow(losArr, hisArr, tsLo, tsHi,
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val losRef = ctx.addReferenceObj("los", losArr, "double[]")
    val hisRef = ctx.addReferenceObj("his", hisArr, "double[]")
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$rowCls ${ev.value} = graft.tsdb.SegmentKernels.statsInRangesRow(
           |  $losRef, $hisRef, ${tsLo}L, ${tsHi}L,
           |  ${evals.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(los, his, tsLo, tsHi, newChildren(0), newChildren(1),
      newChildren(2), newChildren(3), newChildren(4), newChildren(5),
      newChildren(6), newChildren(7))
}

/** Number of a segment's points with timestamp in [tsLo, tsHi] — the
  * range-clipped [[SegmentLen]] ([[graft.core.ValueCounts.clippedLen]]):
  * values never decode, regular segments answer in O(1). The boundary-side
  * total for ranged predicate counts.
  */
case class SegmentClippedLen(
    tsLo: Long, tsHi: Long,
    startTime: Expression, endTime: Expression, timestamps: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(startTime, endTime, timestamps)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    graft.core.ValueCounts.clippedLen(tsLo, tsHi,
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |long ${ev.value} = graft.core.ValueCounts.clippedLen(
           |  ${tsLo}L, ${tsHi}L, ${evals.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tsLo, tsHi, newChildren(0), newChildren(1), newChildren(2))
}

/** Per-threshold `count(v > x)` array of one segment — MANY thresholds
  * from ONE shared traversal ([[graft.core.ValueCounts.countAboveMulti]]),
  * the probe behind the exact-quantile bisection ladder: consumers extract
  * the elements in a CHAINED projection (like [[SegmentSumStats]]) so the
  * kernel evaluates once per segment however many thresholds a round
  * probes. The `array<double>` of thresholds is an expression: a literal
  * for the census, or a per-row column broadcast-joined onto the segment
  * relation by tag group, so one job answers DIFFERENT thresholds for
  * different series — each group of the ladder bisects its own interval.
  * The window, like the segment columns, is never NULL.
  */
case class SegmentCountAboveMulti(
    thresholds: Expression, tsLo: Expression, tsHi: Expression,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(thresholds, tsLo, tsHi,
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val xs = thresholds.eval(input)
    SegmentKernels.countAboveMulti(xs == null, xs.asInstanceOf[ArrayData],
      tsLo.eval(input).asInstanceOf[Long],
      tsHi.eval(input).asInstanceOf[Long],
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val xs = evals.head
    val arrCls = classOf[ArrayData].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$arrCls ${ev.value} = graft.tsdb.SegmentKernels.countAboveMulti(
           |  ${xs.isNull}, ${xs.value},
           |  ${evals.tail.map(_.value).mkString(", ")});
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), newChildren(2), newChildren(3),
      newChildren(4), newChildren(5), newChildren(6), newChildren(7),
      newChildren(8), newChildren(9), newChildren(10))
}

/** One segment's regression partials (n, Σt', Σt'², Σv, Σv², Σv·t'),
  * t' = t − t0, range-clipped ([[graft.core.Regression.sums]]) — the
  * kernel behind per-series least-squares trend and value↔time
  * correlation: one decode pass per segment, no point stream. Consumers
  * extract elements in a CHAINED projection (like [[SegmentSumStats]]).
  */
case class SegmentRegressionSums(
    t0: Long, tsLo: Long, tsHi: Long,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.Regression.sums(t0, tsLo, tsHi,
        modelTypeId.eval(input).asInstanceOf[Byte],
        startTime.eval(input).asInstanceOf[Long],
        endTime.eval(input).asInstanceOf[Long],
        timestamps.eval(input).asInstanceOf[Array[Byte]],
        minValue.eval(input).asInstanceOf[Float],
        maxValue.eval(input).asInstanceOf[Float],
        values.eval(input).asInstanceOf[Array[Byte]],
        residuals.eval(input).asInstanceOf[Array[Byte]]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val arrCls = classOf[org.apache.spark.sql.catalyst.util.ArrayData].getName
    val genCls = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    ev.copy(
      code = evals.map(_.code).reduce(_ + _) +
        code"""
           |$arrCls ${ev.value} = new $genCls(
           |  graft.core.Regression.sums(${t0}L, ${tsLo}L, ${tsHi}L,
           |  ${evals.map(_.value).mkString(", ")}));
           """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(t0, tsLo, tsHi, newChildren(0), newChildren(1), newChildren(2),
      newChildren(3), newChildren(4), newChildren(5), newChildren(6),
      newChildren(7))
}

/** Distinct in-interval values with multiplicities of one segment —
  * (lower, upper] under the SQL total order, as array<struct<v,c>>
  * ([[graft.core.ValueCounts.valuesInRange]]): the kernel behind the
  * federated rank search's bounded FETCH when the probe target is
  * segment-native. Bounds arrive as expressions (per-state intervals of
  * a broadcast-joined probe frame). Interpreted eval (CodegenFallback):
  * the fetch runs once per rank-search statement over the boundary
  * segments only — never in a per-round or per-point hot path.
  */
case class SegmentValuesInRange(
    lower: Expression, upper: Expression, tsLo: Long, tsHi: Long,
    modelTypeId: Expression, startTime: Expression, endTime: Expression,
    timestamps: Expression, minValue: Expression, maxValue: Expression,
    values: Expression, residuals: Expression)
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(lower, upper,
    modelTypeId, startTime, endTime, timestamps, minValue, maxValue,
    values, residuals)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val pairs = graft.core.ValueCounts.valuesInRange(
      lower.eval(input).asInstanceOf[Double],
      upper.eval(input).asInstanceOf[Double],
      tsLo, tsHi,
      modelTypeId.eval(input).asInstanceOf[Byte],
      startTime.eval(input).asInstanceOf[Long],
      endTime.eval(input).asInstanceOf[Long],
      timestamps.eval(input).asInstanceOf[Array[Byte]],
      minValue.eval(input).asInstanceOf[Float],
      maxValue.eval(input).asInstanceOf[Float],
      values.eval(input).asInstanceOf[Array[Byte]],
      residuals.eval(input).asInstanceOf[Array[Byte]])
    val rows = new Array[Any](pairs.length / 2)
    var i = 0
    while (i < rows.length) {
      rows(i) = InternalRow(pairs(2 * i), pairs(2 * i + 1).toLong)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(newChildren(0), newChildren(1), tsLo, tsHi, newChildren(2),
      newChildren(3), newChildren(4), newChildren(5), newChildren(6),
      newChildren(7), newChildren(8), newChildren(9))
}

/** [[graft.core.ValueCounts.totalOrderKey]] as a codegen'd expression —
  * a float's position in the SQL total order's 32-bit keyspace, used by
  * the distributed exact-rank ladder to derive probe points inside the
  * plan (no driver round-trip).
  */
case class FloatTotalOrderKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    graft.core.ValueCounts.totalOrderKey(v.asInstanceOf[Float])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.core.ValueCounts.totalOrderKey($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(newChild)
}

/** Inverse of [[FloatTotalOrderKey]] ([[graft.core.ValueCounts.floatFromKey]]). */
case class FloatFromOrderKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = FloatType
  override protected def nullSafeEval(v: Any): Any =
    graft.core.ValueCounts.floatFromKey(v.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.core.ValueCounts.floatFromKey($c)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(newChild)
}
