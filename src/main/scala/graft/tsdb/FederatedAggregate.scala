package graft.tsdb

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
  AttributeReference, Descending, Expression, ExprId, Literal,
  NamedExpression, NullsFirst, NullsLast, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, HyperLogLogPlusPlus, Max, Median, Min,
  Percentile, PercentileCont, PercentileDisc, StddevPop, StddevSamp, Sum,
  VariancePop, VarianceSamp}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
  Filter => LogicalFilter, GlobalLimit, LocalLimit, LogicalPlan,
  Offset => LogicalOffset, Project => LogicalProject, Sort => LogicalSort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Federated aggregate pushdown for `INCLUDE MERGE 'endpoint' SELECT …`.
  *
  * The plain `INCLUDE` fans the statement out verbatim and row-unions the
  * results — the reference's federation contract
  * (/root/reference/crates/modelardb_server/src/remote.rs:88-165). For an
  * aggregate SELECT that contract returns one result row per endpoint; to
  * aggregate over the COMBINED data a user would otherwise have to pull
  * raw points and re-aggregate locally. `INCLUDE MERGE` instead decomposes
  * the aggregate into algebraic partials, ships the PARTIAL query to every
  * endpoint, and merges the partial frames locally — the same
  * partial/merge split Spark itself applies between executors, lifted to
  * the federation layer. Each endpoint answers its partial query through
  * its own engine, so the segment-native aggregate rewrite applies
  * per-node: a federated `avg(value)` is answered from segment metadata on
  * every endpoint, and only `groups × partials` scalars cross the wire.
  *
  * Supported:
  *   - `count` / `sum` / `min` / `max` / `avg` and the variance family
  *     (`var_pop/var_samp/stddev_pop/stddev_samp`, merged through
  *     [[PartialM2Merge]]'s Chan update — no catastrophic Σv² cancellation)
  *     under arbitrary scalar post-processing and grouping expressions.
  *   - `approx_count_distinct(x[, rsd])`: endpoints ship fixed-size
  *     DataSketches HLL sketches (`hll_sketch_agg` partials, lgK sized
  *     from the requested rsd via RSE ≈ 1.04/√2^lgK), merged locally with
  *     `hll_union_agg` — sketch bytes cross the wire, never values. The
  *     estimate carries the sketch's rsd, like any approx-distinct.
  *   - `percentile` / `median` / `percentile_cont` / `percentile_disc`
  *     (scalar or array percentage, frequency 1): EXACT, via an
  *     interactive rank search; an array percentage registers one rank
  *     state per element and returns the array Spark would. The search
  *     bins in DOUBLE, so integral/decimal children are accepted only
  *     while their (min, max) stay inside the exactly-double-representable
  *     range (±2^53 for BIGINT, 2^52·10^-scale for DECIMAL) — beyond it
  *     the statement is rejected with a clear error rather than returning
  *     a silently-collapsed value. The partial round establishes
  *     per-group (count, min, max); each later round ships ONE statement
  *     per endpoint that returns, per state, (count, min, max) of up to
  *     1024 equal-width bins of its interval (`GROUP BY` bin, one
  *     aggregate buffer per bin), or, once the interval holds
  *     ≤ [[QuantileFetchGap]] points (or collapses to float-ulp width),
  *     its distinct values. A state resolves as soon as the bin holding
  *     its rank holds one value or the rank is the bin's first or last;
  *     otherwise it narrows to that bin's [min, max]. Bin parameters and
  *     the answer-sized group list travel inside the statement (a VALUES
  *     join the endpoint broadcasts), so a statement returns a bounded
  *     number of rows and a grouped median typically takes the partial
  *     plus two rounds. Driver state is answer-sized (the merged groups
  *     themselves).
  *
  *   - HAVING / ORDER BY / LIMIT / OFFSET on the merged statement: the
  *     analyzed Filter/Sort/Limit/Offset/Project chain around the
  *     Aggregate replays LOCALLY on the answer-sized merged frame — a
  *     federated top-k (`… GROUP BY t ORDER BY n DESC LIMIT 10`) ships
  *     the same partial query a bare aggregate does, and the endpoints
  *     never see the trailing clauses (a per-endpoint LIMIT would
  *     truncate groups before the merge).
  *
  * Rejected (with a clear error): exact DISTINCT aggregates (use
  * `approx_count_distinct`), FILTER clauses, window functions and set
  * operations over the aggregate, ordinal GROUP BY, and non-decomposable
  * functions — those semantics need the raw rows, so the caller should
  * fall back to plain INCLUDE over a point query.
  */
object FederatedAggregate {

  /** `partialSql` runs on every endpoint (including the local engine);
    * `merge` folds the resulting partial frames into the final answer.
    * `runAll` executes one follow-up SQL statement on every endpoint (same
    * order as the partial frames) — the interactive channel the exact
    * percentile rank search probes through; purely algebraic statements
    * never use it.
    */
  final case class Decomposed(
      partialSql: String,
      merge: (Seq[DataFrame], String => Seq[DataFrame]) => DataFrame)

  /** A candidate interval narrows by bin (or native count-probe) rounds
    * until it holds at most this many points, then its distinct values
    * ship in the next round. Bounds the fetch result per state per round.
    * Production value 1024; a var so scale tooling (FederationScaleProbe)
    * can lower it to force bin rounds over small per-group data instead of
    * synthesizing 10^3 points per group × 10^5 groups. `@volatile` (like
    * every test/tooling knob here): a test pinning it on one thread must
    * not leave another thread's concurrent statement reading a stale
    * value; tooling must always save/restore the prior value, never a
    * constant.
    */
  @volatile private[graft] var QuantileFetchGap = 1024L

  /** Native count-probe fanout (a segment-probe round ships 15
    * thresholds per state and narrows its interval 16-fold), and the
    * fewest bins per state of a generic round.
    */
  private val QuantileFan = 16

  /** Row budget of one generic rank-search statement: each probing state
    * gets `RoundRows / statesInChunk` bins, clamped to [QuantileFan,
    * MaxBins]. A bin is one group of a single hash aggregate (count, min,
    * max), so more bins cost rows, not aggregate buffers.
    */
  private val RoundRows = 1 << 17
  private val MaxBins = 1024

  /** Max rank states per round statement: states ride as VALUES text (or
    * probe frames), so a round over more states than this splits into
    * several parse-bounded statements instead of one unbounded one.
    */
  private val StatesPerStatement = 8192

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"INCLUDE MERGE: $msg")

  /** Test-only planted mutations proving the fuzz harness detects a wrong
    * merge (see FederatedMergeFuzzSpec): drop the last endpoint's partial
    * frame / shift every rank-search target by one. Never set in
    * production code.
    */
  @volatile private[graft] var plantDropFrameForTests = false
  @volatile private[graft] var plantRankBugForTests = false

  /** Test-only: pin the rank-search round cap so specs can force the
    * paginated-fetch safety valve without a 500-round fixture. Never set
    * in production code.
    */
  @volatile private[graft] var capRoundsOverrideForTests: Option[Int] =
    scala.None

  /** Combined (all-endpoint) point count below which an ELIGIBLE rank
    * search still uses the generic SQL rounds: generic rounds re-grid the
    * FROM per round (cost grows with data), segment-native rounds pay a
    * per-statement constant (probe-frame broadcast, kernel join) — and
    * below a few million points the re-grid is cheaper than the constant.
    * Measured (tools.RankProbeAB, local[16], medians of 3 — same numbers
    * as COVERAGE.md round 16): at 1.2M combined points the native rounds
    * LOSE the global shape (3.7s vs 2.5s) and tie the grouped one; at 20M
    * combined they win 1.8x (global, 5.2s vs 9.3s) and 3.3x (grouped,
    * 3.7s vs 11.9s) and are FLAT across the 16x data step while generic
    * grows linearly. The decision is free — the partial round already
    * returned the per-group counts — and is taken PER CHILD: a tiny child
    * in a multi-child statement keeps the generic rounds it measures
    * faster on while a large sibling goes native. A var so specs and the
    * A/B tool can pin either path.
    */
  @volatile private[graft] var NativeProbeMinPoints = 2000000L

  /** One percentile/median call: locate the order statistics of
    * `childSql` (per group) for percentages `ps` — one element for the
    * scalar form, several for `percentile(x, array(…))` (the result is
    * then an array in percentage order, like Spark's). `childType` is the
    * analyzed child's type — integral and decimal children are guarded
    * against probing outside the exactly-double-representable range.
    */
  private final case class QuantileSpec(
      childSql: String, ps: Seq[Double], isArray: Boolean, discrete: Boolean,
      resultType: DataType, childType: DataType)

  /** Analyze `selectText` against the CURRENT session catalog (the caller
    * must have registered the engine views) and decompose it.
    *
    * `analyzeSql` is the text analysis runs on when it differs from what
    * ships — time travel: `FROM t VERSION AS OF n` is pre-parser syntax,
    * so the caller binds local snapshot views and passes the view-rewritten
    * text here, while the partial and every probe keep the ORIGINAL travel
    * clause and each endpoint resolves it against its own history (the
    * same per-endpoint semantics plain INCLUDE gives the clause).
    */
  def decompose(spark: SparkSession, selectText: String,
      analyzeSql: Option[String] = scala.None,
      engine: Option[Engine] = scala.None): Decomposed = {
    val analyzed =
      spark.sql(analyzeSql.getOrElse(selectText)).queryExecution.analyzed

    // HAVING / ORDER BY / LIMIT / OFFSET on the merged statement are
    // ANSWER-SIZED local post-processing: they apply to the merged groups
    // (which ARE the statement's result rows) and need nothing from the
    // endpoints, so the analyzed Filter/Sort/Limit/Offset/Project chain
    // around the Aggregate is peeled off here (outermost first) and
    // REPLAYED on the merged frame after the decompose — a federated
    // top-k (`… GROUP BY t ORDER BY n DESC LIMIT 10`) ships exactly the
    // same partial query a bare aggregate does. The analyzer has already
    // pushed any HAVING/ORDER-only aggregate calls INTO the Aggregate's
    // output (with a stripping Project on top), so the replay only ever
    // references merged columns.
    sealed trait PostOp
    final case class PostFilter(cond: Expression) extends PostOp
    final case class PostSort(order: Seq[SortOrder], global: Boolean)
      extends PostOp
    final case class PostLimit(n: Int) extends PostOp
    final case class PostOffset(n: Int) extends PostOp
    final case class PostProject(list: Seq[NamedExpression]) extends PostOp
    // The analyzer leaves a foldable LIMIT/OFFSET (e.g. `LIMIT 5+5`)
    // unfolded — constant folding is the optimizer's job — so evaluate
    // rather than pattern-match a bare literal.
    def intOf(e: Expression, what: String): Int =
      if (!e.foldable) fail(s"$what must be a constant; got $e.")
      else e.eval() match {
        case i: Int => i
        case l: Long if l == l.toInt => l.toInt
        case other => fail(s"$what must be an integer constant; got $other.")
      }
    val postOps = mutable.ArrayBuffer.empty[PostOp] // outermost first
    var aggOpt: Option[Aggregate] = scala.None
    var cursor: LogicalPlan = analyzed
    var pairedLocalLimits = 0
    while (aggOpt.isEmpty) {
      cursor match {
        case a: Aggregate => aggOpt = Some(a)
        case LogicalFilter(cond, child) =>
          postOps += PostFilter(cond); cursor = child
        case LogicalSort(order, global, child, _) =>
          postOps += PostSort(order, global); cursor = child
        case GlobalLimit(le, child) =>
          postOps += PostLimit(intOf(le, "LIMIT"))
          pairedLocalLimits += 1
          cursor = child
        case LocalLimit(_, child) if pairedLocalLimits > 0 =>
          // The parser pairs every GlobalLimit with a LocalLimit
          // (optionally around an Offset); the global one already
          // replays the semantics.
          pairedLocalLimits -= 1; cursor = child
        case LogicalOffset(oe, child) =>
          postOps += PostOffset(intOf(oe, "OFFSET")); cursor = child
        case p: LogicalProject => postOps += PostProject(p.projectList)
          cursor = p.child
        case other => fail(
          "the statement must be an aggregate SELECT (HAVING, ORDER BY, " +
            "LIMIT and OFFSET replay locally on the merged result; set " +
            s"operations and window functions do not merge); got " +
            s"${other.nodeName}. Use plain INCLUDE for row-union " +
            "federation.")
      }
    }
    val agg = aggOpt.get
    // GROUPING SETS / CUBE / ROLLUP analyze to an Aggregate over Expand
    // whose grouping list carries the internal spark_grouping_id — the
    // partial rewrite cannot re-express that per endpoint (and each
    // super-aggregate row IS re-derivable from the merged base groups
    // locally anyway). Reject clearly instead of letting the endpoint
    // fail resolution.
    agg.child match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Expand => fail(
        "GROUPING SETS / CUBE / ROLLUP do not decompose into per-endpoint " +
          "partials; merge the base GROUP BY and roll up locally, or use " +
          "plain INCLUDE.")
      case _ =>
    }

    // Clause text is cut from the statement and re-embedded in generated
    // ones (the probe queries wrap FROM/WHERE in parens), where a `--`
    // comment would swallow what follows: drop comments first.
    val (head, fromTail0) = splitAtTopLevelFrom(withoutComments(selectText))
    if (head.isEmpty || fromTail0.isEmpty)
      fail("could not locate the statement's top-level FROM clause.")
    // The partial and probe queries must not carry the statement's
    // trailing clauses: a HAVING over partials would mis-filter and a
    // per-endpoint ORDER/LIMIT would truncate groups BEFORE the merge.
    val fromTail = stripTopLevelTrailers(fromTail0)
    rejectOrdinalGroupBy(fromTail)
    // FROM + WHERE only — the rank-search probe queries re-group by the
    // probe's own keys, so the original GROUP BY must not ride along.
    val fromWhere = stripTopLevelGroupBy(fromTail)

    val groupings = agg.groupingExpressions.zipWithIndex

    // Partial select items, deduplicated by text: __g<i> carries each
    // grouping expression, __p<j> each partial aggregate.
    val partials = mutable.LinkedHashMap.empty[String, String]
    def pAlias(text: String): String =
      partials.getOrElseUpdate(text, s"__p${partials.size}")

    def sqlOf(e: Expression): String =
      try e.sql catch {
        case scala.util.control.NonFatal(_) =>
          fail(s"cannot render $e back to SQL for the partial query.")
      }

    def m2MergeCol(cnt: Column, sm: Column, m2: Column): Column =
      ColumnBridge.column(PartialM2Merge(
        ColumnBridge.expression(cnt), ColumnBridge.expression(sm),
        ColumnBridge.expression(m2)).toAggregateExpression())

    /** Register the variance partials (n, Σv, per-endpoint M2 — the
      * endpoint computes `var_pop(x)·count(x)`, exactly its group's
      * centered second moment) and return the merged statistic.
      */
    def varianceMerge(child: Expression, pop: Boolean, sq: Boolean): Column = {
      val x = sqlOf(child)
      val pn = pAlias(s"count($x)")
      val ps = pAlias(s"sum(CAST($x AS DOUBLE))")
      val pm = pAlias(s"(var_pop($x) * count($x))")
      val n = sum(col(pn))
      val m2 = m2MergeCol(col(pn), col(ps), col(pm))
      // Spark's CentralMomentAgg contract: NULL on 0 rows, and for the
      // sample statistics NaN on a single row.
      val v =
        if (pop) when(n > 0L, m2 / n.cast("double"))
        else when(n === 0L, lit(null).cast("double"))
          .when(n === 1L, lit(Double.NaN))
          .otherwise(m2 / (n - 1L).cast("double"))
      if (sq) sqrt(v) else v
    }

    /** HLL-sketch partial for `approx_count_distinct`: the endpoint ships
      * a DataSketches HLL sketch (binary, fixed size) instead of an
      * estimate — sketches union losslessly across endpoints, estimates do
      * not. lgK is sized so the sketch's RSE (≈1.04/√2^lgK) matches the
      * call's requested rsd. Types DataSketches cannot hash directly are
      * mapped injectively (timestamps → micros, fractional → string), so
      * distinctness is preserved.
      */
    def hllMerge(h: HyperLogLogPlusPlus): Column = {
      val x = sqlOf(h.child)
      val hashable = h.child.dataType match {
        case ByteType | ShortType | IntegerType => s"CAST($x AS BIGINT)"
        case LongType | StringType | BinaryType => x
        case TimestampType => s"unix_micros($x)"
        case DateType => s"unix_date($x)"
        case FloatType | DoubleType | _: DecimalType | BooleanType =>
          s"CAST($x AS STRING)"
        case other => fail(
          s"approx_count_distinct over ${other.sql} is not sketch-mergeable.")
      }
      val lgK = math.ceil(
        2.0 * math.log(1.04 / h.relativeSD) / math.log(2.0))
        .toInt.max(4).min(21)
      val p = pAlias(s"hll_sketch_agg($hashable, $lgK)")
      hll_sketch_estimate(hll_union_agg(col(p)))
    }

    // Percentile calls discovered in the select list; merged via the
    // interactive rank search, not a single-round partial.
    val quantileSpecs = mutable.ArrayBuffer.empty[(String, QuantileSpec)]
    // childSql -> analyzed child expression (for probe-path eligibility).
    val quantileChildren = mutable.LinkedHashMap.empty[String, Expression]

    def quantileMerge(ae: AggregateExpression, alias: String,
        child: Expression, percentage: Expression,
        frequency: Option[Expression], reverse: Boolean,
        discrete: Boolean): Unit = {
      if (!percentage.foldable)
        fail(s"percentile percentage in ${ae.sql} must be a literal.")
      frequency.foreach { f =>
        val one = f.foldable && (f.eval() match {
          case l: Long => l == 1L
          case i: Int => i == 1
          case _ => false
        })
        if (!one) fail(
          s"percentile frequency in ${ae.sql} must be 1 for INCLUDE MERGE.")
      }
      if (!child.dataType.isInstanceOf[NumericType]) fail(
        s"percentile over ${child.dataType.sql} is not rank-searchable; " +
          "INCLUDE MERGE supports numeric percentile children.")
      def asDouble(v: Any): Double = v match {
        case d: Double => d
        case f: Float => f.toDouble
        case d: Decimal => d.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case other => fail(s"cannot read percentage $other in ${ae.sql}.")
      }
      // `percentile(x, array(…))` registers one rank state per element
      // and assembles an array result in percentage order, like Spark.
      val (p0s, isArray) = percentage.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          val et = percentage.dataType.asInstanceOf[ArrayType].elementType
          (a.toObjectArray(et).toSeq.map(asDouble), true)
        case v => (Seq(asDouble(v)), false)
      }
      if (p0s.isEmpty)
        fail(s"percentile percentage array in ${ae.sql} must be non-empty.")
      val ps = p0s.map { p0 =>
        if (!reverse) p0
        else if (!discrete) 1.0 - p0 // DESC cont is the ASC mirror
        else fail(s"percentile_disc … ORDER BY … DESC in ${ae.sql} is not " +
          "supported by INCLUDE MERGE (discrete ranks do not mirror).")
      }
      val x = sqlOf(child)
      // Per-child stats the search initializes from (dedup via pAlias).
      pAlias(s"count($x)")
      pAlias(s"min(CAST($x AS DOUBLE))")
      pAlias(s"max(CAST($x AS DOUBLE))")
      quantileChildren.getOrElseUpdate(x, child)
      quantileSpecs += alias -> QuantileSpec(x, ps, isArray, discrete,
        ae.dataType, child.dataType)
    }

    /** The merged column for one ALGEBRAIC aggregate call (registering its
      * partials), or None when the call is a percentile handled by the
      * rank search.
      */
    def mergeColOf(ae: AggregateExpression, alias: String): Option[Column] = {
      if (ae.isDistinct) fail(
        s"DISTINCT aggregate ${ae.sql} is not algebraically mergeable; " +
          "use approx_count_distinct(x[, rsd]) for a sketch-mergeable " +
          "estimate, or plain INCLUDE over a point query for exact " +
          "DISTINCT.")
      if (ae.filter.isDefined) fail(
        s"FILTER clause on ${ae.sql} is not supported; filter in WHERE.")
      ae.aggregateFunction match {
        case c: Count =>
          val p = pAlias(s"count(${c.children.map(sqlOf).mkString(", ")})")
          Some(coalesce(sum(col(p)), lit(0L)))
        case s: Sum => Some(sum(col(pAlias(s"sum(${sqlOf(s.child)})"))))
        case m: Min => Some(min(col(pAlias(s"min(${sqlOf(m.child)})"))))
        case m: Max => Some(max(col(pAlias(s"max(${sqlOf(m.child)})"))))
        case a: Average =>
          // Bit-exact local parity for ANY child type and session conf:
          // substitute the merged global sum and count into the analyzed
          // Average's OWN final expression (its evaluateExpression over
          // the (sum, count) buffer attributes). Hand-mirroring the
          // division is a trap — Spark's decimal Average divides through
          // DecimalDivideWithOverflowCheck straight into the result type
          // under ANSI and through a precision-ruled Divide otherwise,
          // and the two round at different scales (the sf0.1 bench
          // caught a sum-overflow from one wrong mirror, the typed fuzz
          // a 1-ulp drift from another). The substituted tree also
          // carries Spark's own empty-group NULL guard.
          val x = sqlOf(a.child)
          a.child.dataType match {
            case dt: DecimalType if dt.precision + 4 <= 15 =>
              // Mirror the DecimalAggregates optimizer rule bit for bit:
              // for precision <= 11 the LOCAL plan computes
              // cast(avg(UnscaledValue(e)) / 10^s as decimal(p+4, s+4))
              // — DOUBLE arithmetic end to end, whose last-digit rounding
              // differs from a decimal division on exact-tie means (the
              // typed fuzz caught a 1-ulp drift). Endpoints ship the
              // unscaled sum as DECIMAL(38,0) — exact at ANY row count,
              // where a BIGINT sum wraps silently (non-ANSI) or throws
              // (ANSI) past ~9.2e18 total unscaled, a DIFFERENT failure
              // than the double path's graceful imprecision — and the
              // merge casts the exact re-summed total to double once,
              // then replays the same divide-then-cast chain. Equal to
              // the local double accumulation wherever that accumulation
              // is itself exact (total unscaled below 2^53); beyond it
              // the divergence is bounded last-ulp imprecision on both
              // sides, never overflow (overflow-fuzz seed pins this).
              val mult = java.math.BigInteger.TEN.pow(dt.scale)
              val sumU = sum(col(pAlias(
                s"sum(CAST($x * $mult AS DECIMAL(38,0)))")))
              val n = sum(col(pAlias(s"count($x)")))
              Some((sumU.cast("double") / n.cast("double") /
                lit(math.pow(10.0, dt.scale))).cast(ae.dataType))
            case _ =>
              // Bit-exact local parity for every other child type and
              // session conf: substitute the merged global sum and count
              // into the analyzed Average's OWN final expression (its
              // evaluateExpression over the (sum, count) buffer
              // attributes). Hand-mirroring the division is a trap —
              // Spark's decimal Average divides through
              // DecimalDivideWithOverflowCheck straight into the result
              // type under ANSI and through a precision-ruled Divide
              // otherwise, and the two round at different scales (the
              // sf0.1 bench caught a sum-overflow from one wrong mirror).
              // The substituted tree also carries Spark's own empty-group
              // NULL guard.
              val s = sum(col(pAlias(s"sum($x)")))
              val n = sum(col(pAlias(s"count($x)")))
              val sumAttr = a.aggBufferAttributes.find(_.name == "sum")
                .getOrElse(fail(
                  s"Average buffer shape changed: ${a.aggBufferAttributes}"))
              val cntAttr = a.aggBufferAttributes.find(_.name == "count")
                .getOrElse(fail(
                  s"Average buffer shape changed: ${a.aggBufferAttributes}"))
              Some(ColumnBridge.column(a.evaluateExpression.transform {
                case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference
                    if ar.exprId == sumAttr.exprId =>
                  ColumnBridge.expression(s.cast(sumAttr.dataType))
                case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference
                    if ar.exprId == cntAttr.exprId =>
                  ColumnBridge.expression(n.cast(cntAttr.dataType))
              }))
          }
        case v: VariancePop =>
          Some(varianceMerge(v.child, pop = true, sq = false))
        case v: VarianceSamp =>
          Some(varianceMerge(v.child, pop = false, sq = false))
        case v: StddevPop =>
          Some(varianceMerge(v.child, pop = true, sq = true))
        case v: StddevSamp =>
          Some(varianceMerge(v.child, pop = false, sq = true))
        case h: HyperLogLogPlusPlus => Some(hllMerge(h))
        case p: Percentile =>
          quantileMerge(ae, alias, p.child, p.percentageExpression,
            Some(p.frequencyExpression), p.reverse, discrete = false)
          scala.None
        case m: Median =>
          quantileMerge(ae, alias, m.child,
            org.apache.spark.sql.catalyst.expressions.Literal(0.5),
            scala.None, reverse = false, discrete = false)
          scala.None
        case pc: PercentileCont =>
          quantileMerge(ae, alias, pc.left, pc.right, scala.None,
            pc.reverse, discrete = false)
          scala.None
        case pd: PercentileDisc =>
          quantileMerge(ae, alias, pd.child, pd.percentageExpression,
            scala.None, pd.reverse, discrete = true)
          scala.None
        case other => fail(
          s"aggregate ${other.prettyName} is not algebraically mergeable " +
            "(supported: count, sum, min, max, avg, var_pop, var_samp, " +
            "stddev_pop, stddev_samp, approx_count_distinct, percentile, " +
            "median, percentile_cont, percentile_disc).")
      }
    }

    // Distinct aggregate calls across the select list, keyed semantically
    // so `avg(v)` appearing twice merges once. Algebraic calls carry their
    // merged Column; percentile calls are joined in by the rank search.
    val mergedAggs =
      mutable.ArrayBuffer.empty[(AggregateExpression, String, Option[Column])]
    def mergedAliasFor(ae: AggregateExpression): String =
      mergedAggs.find(_._1.semanticEquals(ae)) match {
        case Some((_, a, _)) => a
        case scala.None =>
          val alias = s"__a${mergedAggs.size}"
          // Every merged algebraic column is cast to the ANALYZED call's
          // type: the federation contract is schema-identical to running
          // the statement locally, and the merged arithmetic naturally
          // widens (re-summing a DECIMAL(p+10,s) partial yields p+20;
          // avg merges as a division) — exactly like the quantile cast in
          // attachQuantiles.
          mergedAggs += ((ae, alias, mergeColOf(ae, alias)
            .map(_.cast(ae.dataType))))
          alias
      }

    // Rewrite each output expression over the merged frame: grouping
    // subtrees become __g<i> references, aggregate calls become their
    // merged alias, scalar post-processing (round, arithmetic, casts)
    // survives untouched.
    def rewrite(e: Expression): Expression =
      groupings.find { case (g, _) => g.semanticEquals(e) } match {
        case Some((_, i)) => UnresolvedAttribute(s"__g$i")
        case scala.None => e match {
          case ae: AggregateExpression => UnresolvedAttribute(mergedAliasFor(ae))
          case _ => e.mapChildren(rewrite)
        }
      }
    // With post-ops the merged frame's columns are aliased POSITIONALLY
    // (__o<i>): analyzer-added HAVING/ORDER-only aggregates carry
    // auto-generated names that may collide, and the replay rewrites
    // attribute references by exprId -> position anyway. The bare-
    // aggregate path keeps the statement's own names directly.
    val finalCols: Seq[Column] = agg.aggregateExpressions.zipWithIndex.map {
      case (ne, i) =>
        val body = ne match { case Alias(c, _) => c; case e => e }
        ColumnBridge.column(rewrite(body))
          .as(if (postOps.isEmpty) ne.name else s"__o$i")
    }

    /** Replay the peeled Filter/Sort/Limit/Offset/Project chain on the
      * merged (answer-sized) frame, innermost first. `mapping` tracks
      * which positional column each live attribute reference resolves to;
      * every Project re-bases it, exactly like the plan it mirrors.
      */
    def replayPost(df0: DataFrame): DataFrame = {
      var mapping: Map[ExprId, Int] = agg.aggregateExpressions.zipWithIndex
        .map { case (ne, i) => ne.toAttribute.exprId -> i }.toMap
      def ref(e: Expression): Column = {
        val m = mapping
        ColumnBridge.column(e.transform {
          case ar: AttributeReference if m.contains(ar.exprId) =>
            UnresolvedAttribute(s"__o${m(ar.exprId)}")
        })
      }
      var df = df0
      postOps.reverseIterator.foreach {
        case PostFilter(cond) => df = df.where(ref(cond))
        case PostSort(order, global) =>
          val cols = order.map { so =>
            val c = ref(so.child)
            (so.direction, so.nullOrdering) match {
              case (Ascending, NullsFirst) => c.asc_nulls_first
              case (Ascending, NullsLast) => c.asc_nulls_last
              case (Descending, NullsFirst) => c.desc_nulls_first
              case (Descending, NullsLast) => c.desc_nulls_last
            }
          }
          df = if (global) df.orderBy(cols: _*)
            else df.sortWithinPartitions(cols: _*)
        case PostLimit(n) => df = df.limit(n)
        case PostOffset(n) => df = df.offset(n)
        case PostProject(list) =>
          df = df.select(list.zipWithIndex.map { case (ne, i) =>
            val body = ne match { case Alias(c, _) => c; case e => e }
            ref(body).as(s"__o$i")
          }: _*)
          mapping = list.zipWithIndex
            .map { case (ne, i) => ne.toAttribute.exprId -> i }.toMap
      }
      // The statement's own output names, positionally (the outermost
      // node's output is what the replayed frame now holds).
      df.toDF(analyzed.output.map(_.name): _*)
    }

    val items =
      groupings.map { case (g, i) => s"${sqlOf(g)} AS __g$i" } ++
        partials.map { case (text, alias) => s"$text AS $alias" }
    if (items.isEmpty) fail("nothing to compute.")
    val partialSql = s"SELECT ${items.mkString(", ")} $fromTail"

    val gCols = groupings.map { case (_, i) => col(s"__g$i") }
    val groupExprSqls = groupings.map { case (g, _) => sqlOf(g) }
    val quantiles = quantileSpecs.toSeq
    val qChildren = quantiles.map(_._2.childSql).distinct

    // Segment-native probe path: when the statement's FROM is a bare time
    // series table, the WHERE is time/tag-only, every group key is a tag
    // and every percentile child is a stored field, the rank search's
    // probe and fetch rounds ship [[RankProbe]] statements (one per
    // child field per chunk) the endpoint answers from segment metadata
    // (interior segments settle with zero decode) instead of generic SQL
    // that re-grids the FROM per round. Time travel stays generic — each
    // endpoint resolves its own history, which the probe's pre-pruned
    // slice cannot express. A `NOT isnan(f)` WHERE conjunct is droppable
    // only for a SINGLE-child statement probing f itself (NaN never
    // satisfies f <= t); with several children it filters the OTHER
    // children's rows too, which the kernel cannot express — generic.
    // Paired with the targets: the effective per-child point gate. The
    // 2M-point crossover was measured on a SINGLE-field table; a generic
    // probe statement over a MULTI-field table re-grids through the
    // multivariate zip (one extra shuffle-assembly of ALL stored fields
    // per statement per endpoint — the all-fields-non-null row-drop
    // semantics make the zip unprunable), so the generic rounds cost a
    // multiple more per point and the crossover sits far lower. Measured
    // (tools.RankProbeAB, sf0.1, ~1.2M combined points per child): the
    // multi-field shape is native-faster already (1.79 s vs 2.21 s,
    // 1.23×) where the single-field global shape still favors generic
    // (0.95×). Gate/4 places the measured point comfortably native while
    // keeping truly tiny multi-field tables on the generic rounds.
    val fastProbe: Option[(IndexedSeq[RankProbe.Target], Long)] =
      if (engine.isEmpty || analyzeSql.isDefined || quantiles.isEmpty)
        scala.None
      else {
        val fieldNames = qChildren.map(c => quantileChildren(c) match {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            Some(a.name)
          case _ => scala.None
        })
        val tagNames = groupings.map {
          case (a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
            _) => Some(a.name)
          case _ => scala.None
        }
        if (fieldNames.exists(_.isEmpty) || tagNames.exists(_.isEmpty))
          scala.None
        else {
          val fields = fieldNames.flatten
          val isnanDroppable: String => Boolean =
            f => fields.size == 1 && fields.head == f
          graft.plans.SegmentAggregateSqlRewrite
            .federatedProbeTarget(engine.get, agg.child, isnanDroppable)
            .flatMap { case (meta, lo, hi, tagEq, tagIn) =>
              if (fields.forall(meta.fieldColumns.contains) &&
                tagNames.flatten.forall(meta.tagColumns.contains))
                Some((fields.map(f => RankProbe.Target(meta.name, f, lo, hi,
                  tagEq, tagIn, tagNames.flatten.toSeq)).toIndexedSeq,
                  if (meta.fieldColumns.size > 1) NativeProbeMinPoints / 4
                  else NativeProbeMinPoints))
              else scala.None
            }
        }
      }

    val merge = (frames0: Seq[DataFrame], runAll: String => Seq[DataFrame]) => {
      val frames =
        if (plantDropFrameForTests && frames0.size > 1) frames0.init
        else frames0
      require(frames.nonEmpty)
      val all = frames.reduce(_ unionByName _)
      val algCols = mergedAggs.collect { case (_, a, Some(c)) => c.as(a) }.toSeq
      // Per-child stats columns the rank search initializes from.
      val qStatCols = qChildren.zipWithIndex.flatMap { case (x, ci) =>
        Seq(
          sum(col(partials(s"count($x)"))).as(s"__qn$ci"),
          min(col(partials(s"min(CAST($x AS DOUBLE))"))).as(s"__qlo$ci"),
          max(col(partials(s"max(CAST($x AS DOUBLE))"))).as(s"__qhi$ci"))
      }
      val aggCols = algCols ++ qStatCols
      val grouped =
        if (aggCols.isEmpty) all.select(gCols.toSeq: _*).distinct()
        else if (gCols.isEmpty) all.agg(aggCols.head, aggCols.tail: _*)
        else all.groupBy(gCols.toSeq: _*).agg(aggCols.head, aggCols.tail: _*)
      val withQuantiles =
        if (quantiles.isEmpty) grouped
        else attachQuantiles(spark, grouped, groupings.size, groupExprSqls,
          quantiles, qChildren, fromWhere, runAll, fastProbe)
      val merged = withQuantiles.select(finalCols: _*)
      if (postOps.isEmpty) merged else replayPost(merged)
    }
    Decomposed(partialSql, merge)
  }

  // ------------------------------------------------------------------
  // Exact federated percentiles: binned rank search.
  // ------------------------------------------------------------------

  /** One active rank search: the smallest value v of child `cix` (per the
    * state's group) with cumulativeCount(x <= v) >= target. Invariant:
    * cLo = count(x <= lo) < target <= count(x <= hi) = cHi.
    */
  private final class RankState(
      val sid: Int, val groupIdx: Int, val cix: Int, val target: Long,
      var lo: Double, var hi: Double, var cLo: Long, var cHi: Long) {
    var value: Double = Double.NaN
    var done: Boolean = false
    def fetchable: Boolean =
      cHi - cLo <= QuantileFetchGap ||
        hi - lo <= 64 * math.max(math.ulp(lo), math.ulp(hi))
  }

  /** `c` values of a state's interval, all in [min, max] and above every
    * value of the bins before it. `attained` when min and max are values
    * themselves (a bin's merged min/max, a fetched value); a native count
    * probe's bin (t₍ₘ₋₁₎, t₍ₘ₎] only knows its edges, nextUp(t₍ₘ₋₁₎) and
    * t₍ₘ₎.
    */
  private final case class Bin(c: Long, min: Double, max: Double,
      attained: Boolean)

  /** The one bracket update of the rank search: walk a round's merged
    * `bins` (ascending) from cLo to the bin holding the target rank. The
    * state resolves when that bin holds one value (min = max) or the
    * target is its first (min) or last (max) rank; otherwise the bracket
    * becomes (nextDown(min), max] with the bin's cumulative counts. Exact
    * without any bin-edge arithmetic: bins are contiguous in value, so
    * every value below the bin is below its min. `complete` < +Inf marks a
    * truncated (paginated) response whose values are whole only up to
    * `complete`: a rank above it advances lo past the consumed prefix.
    */
  private def advance(st: RankState, bins: Seq[Bin], complete: Double): Unit = {
    var cum = st.cLo
    var narrowed = false
    val it = bins.iterator
    while (!st.done && !narrowed && it.hasNext) {
      val b = it.next()
      if (cum + b.c < st.target) cum += b.c
      else if (b.min == b.max || (b.attained && st.target == cum + 1)) {
        st.value = b.min; st.done = true
      } else if (b.attained && st.target == cum + b.c) {
        st.value = b.max; st.done = true
      } else {
        st.lo = math.nextDown(b.min); st.hi = b.max
        st.cLo = cum; st.cHi = cum + b.c
        narrowed = true
      }
    }
    if (!st.done && !narrowed) {
      if (complete.isPosInfinity) throw new IllegalStateException(
        s"federated percentile round lost rank ${st.target} in " +
          s"(${st.lo}, ${st.hi}] (cum=$cum) — endpoint data changed " +
          "between rounds?")
      // Truncated: the proven prefix is consumed; the next round fetches
      // (complete, hi] — at least `limit` distinct values retire per
      // round, so pagination terminates.
      st.lo = complete
      st.cLo = cum
    }
  }

  /** Equal-width binning of the interval (lo, hi] into `nBins` bins:
    * (k, o·k, s) with o = nextUp(lo) and the bin of v
    * `floor((v·k − o·k)·s)`. The power-of-two scale k brings the interval's
    * magnitude near 2^50 first, so neither the width (1e308 − (−1e308)
    * overflows) nor s (nBins over a subnormal width) leaves the finite
    * range. Correctly rounded products and differences and floor are
    * monotone, so every endpoint cuts the same contiguous bins from these
    * literals, and o (bin 0) and hi (bin ≥ nBins − 1) always split.
    */
  private def binScale(lo: Double, hi: Double,
      nBins: Int): (Double, Double, Double) = {
    val o = math.nextUp(lo)
    val k = math.scalb(1.0, math.min(1023,
      50 - math.getExponent(math.max(math.abs(o), math.abs(hi)))))
    (k, o * k, nBins / (hi * k - o * k))
  }

  /** Bins per probing state of a generic round over `states` states: the
    * statement returns at most about [[RoundRows]] rows, and never fewer
    * bins than the native fan nor more than [[MaxBins]].
    */
  private def binsFor(states: Int): Int =
    math.min(MaxBins, math.max(QuantileFan, RoundRows / math.max(1, states)))

  /** Resolve every percentile call against the endpoints and return the
    * merged rows with the calls' __a<k> columns beside them.
    *
    * All driver state here is answer-sized: the merged groups themselves
    * (which ARE the statement's result rows) plus O(1) per percentile
    * call. Each search round ships one statement per chunk to every
    * endpoint; per state it returns at most [[binsFor]] bin rows
    * (count, min, max) or, once the interval is fetchable, its
    * ≤ [[QuantileFetchGap]] distinct values.
    */
  private def attachQuantiles(
      spark: SparkSession, grouped: DataFrame, nKeys: Int,
      groupExprSqls: Seq[String], quantiles: Seq[(String, QuantileSpec)],
      qChildren: Seq[String], fromWhere: String,
      runAll: String => Seq[DataFrame],
      fastProbe0: Option[(IndexedSeq[RankProbe.Target], Long)]): DataFrame = {
    // The merged frame is answer-sized by definition: collect it once; the
    // result rows are assembled from these rows on the driver.
    val groupedRows = grouped.collect()
    val schema = grouped.schema
    def idx(name: String) = schema.fieldIndex(name)

    // Size gate on the ELIGIBLE native path, decided PER CHILD: below
    // the gate paired with the targets ([[NativeProbeMinPoints]], divided
    // by 4 for multi-field tables whose generic rounds pay the
    // multivariate zip — measured crossovers in both scaladocs) the
    // generic re-grid per round is cheaper than the native rounds'
    // per-statement constant, so a tiny child in a multi-child statement
    // keeps the generic rounds while a large sibling goes native. The
    // counts are already in hand from the partial round, so the decision
    // costs nothing.
    val nativeCix: Set[Int] =
      fastProbe0 match {
        case scala.None => Set.empty
        case Some((_, gate)) => qChildren.indices.filter { ci =>
          groupedRows.iterator.map { r =>
            if (r.isNullAt(idx(s"__qn$ci"))) 0L else r.getLong(idx(s"__qn$ci"))
          }.sum >= gate
        }.toSet
      }
    val fastProbe: Option[IndexedSeq[RankProbe.Target]] =
      fastProbe0.map(_._1).filter(_ => nativeCix.nonEmpty)
    // A round's states split by transport (above-gate children native,
    // the rest generic), then chunk at the per-statement state cap. A
    // native chunk MIXES children — the request carries one target per
    // child and each state names its own, so a multi-field statement
    // ships ONE native statement per chunk per round, not one per field.
    def chunksOf(pending: Seq[RankState]): Seq[(Seq[RankState], Boolean)] =
      fastProbe match {
        case scala.None =>
          pending.grouped(StatesPerStatement).map((_, false)).toSeq
        case Some(_) =>
          val (nat, gen) = pending.partition(st => nativeCix(st.cix))
          nat.grouped(StatesPerStatement).map((_, true)).toSeq ++
            gen.grouped(StatesPerStatement).map((_, false)).toSeq
      }

    // The probe queries' shared FROM: group keys + each percentile child,
    // evaluated over the statement's own FROM/WHERE.
    val innerItems =
      groupExprSqls.zipWithIndex.map { case (g, i) => s"$g AS __pg$i" } ++
        qChildren.zipWithIndex.map { case (x, ci) =>
          s"CAST($x AS DOUBLE) AS __px$ci" }
    val innerSql = s"SELECT ${innerItems.mkString(", ")} $fromWhere"
    val vExpr =
      if (qChildren.size == 1) "__s.__px0"
      else "CASE __probe.__cix " + qChildren.indices
        .map(ci => s"WHEN $ci THEN __s.__px$ci").mkString(" ") + " END"
    val keyCols = (0 until nKeys).map(i => s"__k$i")
    val joinSql =
      if (nKeys == 0) "CROSS JOIN"
      else "JOIN"
    def onSql(probeCols: Seq[String], valueRows: Seq[String]): String = {
      val base = s"($innerSql) __s $joinSql " +
        s"(VALUES ${valueRows.mkString(", ")}) " +
        s"AS __probe(${probeCols.mkString(", ")})"
      if (nKeys == 0) base
      else base + " ON " + (0 until nKeys)
        .map(i => s"__s.__pg$i <=> __probe.__k$i").mkString(" AND ")
    }

    // Group-key literals per merged row, rendered once.
    val keyLits: Array[Seq[String]] = groupedRows.map { r =>
      (0 until nKeys).map { i =>
        renderLiteral(r.get(idx(s"__g$i")), schema(idx(s"__g$i")).dataType)
      }.toSeq
    }
    // Raw per-group key strings for the segment-native probe statements
    // (fast-path group keys are tag columns, hence strings).
    val keyStrs: Array[Array[String]] =
      if (fastProbe.isEmpty) Array.empty
      else groupedRows.map { r =>
        (0 until nKeys).map { i =>
          val ix = idx(s"__g$i")
          if (r.isNullAt(ix)) null else r.getString(ix)
        }.toArray
      }

    // ---- Initialize one or two rank states per (group, call). ----
    // resolvedValueOf((groupIdx, cix, target)) is the located value.
    val states = mutable.LinkedHashMap.empty[(Int, Int, Long), RankState]
    // Per (groupIdx, callIdx): the plans to assemble the final result —
    // one element per percentage (several for the array form); an EMPTY
    // seq marks the 0-row group's NULL result.
    sealed trait CallPlan
    final case class Const(v: Double) extends CallPlan
    final case class Interp(n: Long, cix: Int, p: Double) extends CallPlan
    final case class Disc(cix: Int, target: Long) extends CallPlan
    val plans = Array.ofDim[Seq[CallPlan]](groupedRows.length, quantiles.size)
    var sidGen = 0
    def stateFor(g: Int, cix: Int, target: Long, lo0: Double,
        hi0: Double, n: Long): Unit =
      if (!states.contains((g, cix, target))) {
        sidGen += 1
        val effTarget = // test-only planted off-by-one, see fuzz spec
          if (plantRankBugForTests) math.min(target + 1, n) else target
        val st = new RankState(sidGen, g, cix, effTarget, Double.NaN,
          Double.NaN, 0L, n)
        // The partial's (count, min, max) is the first bin: ranks 1 and n
        // resolve here, every other rank starts on (nextDown(min), max].
        advance(st, Seq(Bin(n, lo0, hi0, attained = true)),
          Double.PositiveInfinity)
        states((g, cix, target)) = st
      }

    groupedRows.indices.foreach { g =>
      val r = groupedRows(g)
      quantiles.zipWithIndex.foreach { case ((_, spec), k) =>
        val cix = qChildren.indexOf(spec.childSql)
        val n = if (r.isNullAt(idx(s"__qn$cix"))) 0L
          else r.getLong(idx(s"__qn$cix"))
        if (n == 0L) plans(g)(k) = Seq.empty
        else {
          val lo0 = r.getDouble(idx(s"__qlo$cix"))
          val hi0 = r.getDouble(idx(s"__qhi$cix"))
          if (hi0.isNaN) fail(
            "percentile over NaN-containing data is not rank-searchable; " +
              "filter NaNs in WHERE or use plain INCLUDE.")
          // ±Infinity poisons the probe thresholds (lo + (hi-lo)·m is
          // NaN): reject clearly instead of failing mid-search.
          if (lo0.isInfinite || hi0.isInfinite) fail(
            "percentile over infinite values is not rank-searchable; " +
              "filter them in WHERE or use plain INCLUDE.")
          // The search probes in DOUBLE: integral/decimal children whose
          // values leave the exactly-representable range (±2^53 for
          // BIGINT; 2^52·10^-scale for DECIMAL, half an ulp under the
          // decimal's own grid) would silently collapse distinct values
          // onto one threshold and break the EXACT contract — reject with
          // a clear error instead. FLOAT/DOUBLE children probe losslessly
          // at any magnitude.
          val dblSafeLimit: Option[Double] = spec.childType match {
            case LongType => Some(9007199254740992.0) // 2^53
            case dt: DecimalType =>
              Some(4503599627370496.0 * math.pow(10.0, -dt.scale)) // 2^52/10^s
            case _ => scala.None
          }
          // `>=`, not `>`: lo0/hi0 already passed through CAST(x AS
          // DOUBLE), so a value just past the limit (e.g. 2^53+1) rounds
          // ONTO it and would slip a strict comparison — the exact
          // collapse this guard exists to reject.
          dblSafeLimit.foreach { lim =>
            if (math.abs(lo0) >= lim || math.abs(hi0) >= lim) fail(
              s"percentile over ${spec.childType.sql} values beyond the " +
                s"exactly-double-representable range (|x| > $lim) cannot " +
                "be rank-searched exactly; narrow the range in WHERE or " +
                "use plain INCLUDE over a point query.")
          }
          plans(g)(k) = spec.ps.map { p =>
            if (lo0 == hi0) Const(lo0)
            else if (spec.discrete) {
              val target = math.max(math.ceil(p * n).toLong, 1L)
              stateFor(g, cix, target, lo0, hi0, n)
              Disc(cix, target)
            } else {
              val pos = (n - 1) * p
              val jLo = math.floor(pos).toLong
              val jHi = math.ceil(pos).toLong
              stateFor(g, cix, jLo + 1, lo0, hi0, n)
              if (jHi != jLo) stateFor(g, cix, jHi + 1, lo0, hi0, n)
              Interp(n, cix, p)
            }
          }
        }
      }
    }

    // ---- Search rounds. ----
    // Round cap scaled from the worst initial span: a round narrows a
    // probing interval at least `fan`-fold (the native threshold fan, or
    // the generic rounds' fewest bins per state, which only grow as states
    // resolve), so ceil(log_fan(span / (64·ulp))) rounds reach the
    // ulp-width fetch condition; extreme dynamic ranges (1e308 spans
    // narrowing onto subnormal values) need up to ~530 at fan 16. If the
    // cap is still reached, the remaining states are FORCED into the
    // fetch instead of failing — and that fetch is PAGINATED (see
    // `limit`), so a forced state whose interval still holds many
    // distinct values stays wire-bounded per statement: the safety valve
    // trades extra rounds for an answer, never an abort and never an
    // unbounded result set.
    val capRounds: Int = capRoundsOverrideForTests.getOrElse {
      val fan =
        if (nativeCix.nonEmpty) QuantileFan
        else binsFor(math.min(states.size, StatesPerStatement))
      val tiny = math.log(64.0 * java.lang.Double.MIN_VALUE)
      val worst = states.values.filter(!_.done).foldLeft(64.0) { (acc, st) =>
        val span = st.hi / 2 - math.nextUp(st.lo) / 2 // halves never overflow
        math.max(acc, (math.log(span) + math.log(2.0) - tiny) /
          math.log(fan.toDouble) + 8.0)
      }
      math.min(600.0, worst).toInt
    }
    // INTERVAL DEDUP: states of the same (group, child) sharing the same
    // current interval — a median's two bracketing ranks, every element
    // of a percentile array before their brackets diverge — would ship
    // IDENTICAL bins / fetch ranges and receive identical rows (cLo/cHi
    // are functions of (group, child, lo, hi) alone). One representative
    // per interval class ships; every member consumes the
    // representative's response and diverges naturally on its own target.
    // This cuts both the statement text (the VALUES parse cost dominates
    // grouped statements at thousands of states) and the endpoint's
    // joined-row volume by the ranks-per-group factor.
    def intervalClasses(sts: Seq[RankState]): Seq[Seq[RankState]] =
      sts.groupBy(st => (st.groupIdx, st.cix, st.lo, st.hi))
        .values.toSeq.map { cls =>
          // The dedup is sound only because cLo/cHi are functions of
          // (group, child, lo, hi) alone — every member must agree with
          // the representative whose response it will consume. Cheap
          // O(states) guard so a future change to per-state count
          // advancement fails loudly instead of silently misranking.
          val rep = cls.head
          require(cls.forall(st => st.cLo == rep.cLo && st.cHi == rep.cHi),
            "interval-dedup invariant violated: states sharing " +
              "(group, child, lo, hi) disagree on cLo/cHi")
          cls.sortBy(_.sid)
        }.sortBy(_.head.sid)

    // Native count-probe thresholds: the edges of `QuantileFan` equal
    // bins, clamped into [lo, hi] (monotone, so counts never decrease).
    def thresholds(st: RankState): Array[Double] = {
      val (k, ok, s) = binScale(st.lo, st.hi, QuantileFan)
      (1 until QuantileFan).map(m =>
        math.max(st.lo, math.min(st.hi, (ok + m / s) / k))).toArray
    }
    val probeCols = Seq("__sid") ++ keyCols ++
      Seq("__cix", "__lo", "__hi", "__k", "__o", "__s")
    // Spark grouping folds -0.0 into 0.0; the driver-side merge must agree.
    def norm(v: Double): Double = if (v == 0.0) 0.0 else v

    var rounds = 0
    while (states.values.exists(!_.done)) {
      rounds += 1
      val forceFetch = rounds > capRounds
      def fetches(st: RankState): Boolean = forceFetch || st.fetchable
      // Forced fetches (round cap) may sit on intervals holding MANY
      // distinct values (cHi-cLo >> gap): those fetches are PAGINATED —
      // each endpoint returns at most QuantileFetchGap ascending values
      // per state, the merge consumes every value it can prove complete
      // across ALL endpoints (up to the smallest truncation point) and
      // re-enters the next round with lo advanced. Ordinary rounds never
      // truncate (a bin round returns ≤ binsFor + 1 rows per state, a
      // fetch ≤ gap values), so the limit is attached only on forced
      // rounds.
      val limit = if (forceFetch) QuantileFetchGap else 0L
      val classes = intervalClasses(states.values.filter(!_.done).toSeq)
      val classOf = classes.map(cls => cls.head.sid -> cls).toMap
      // Statement text is O(states): past the chunk size, several
      // statements per round keep each one parse-bounded, and each
      // chunk's rows are merged before the next chunk ships, so driver
      // memory holds one chunk's response at a time.
      chunksOf(classes.map(_.head)).foreach { case (chunk, native) =>
        // Response rows PER ENDPOINT, as sid -> (sort key, bin):
        // pagination needs each endpoint's own truncation point. Native
        // count probes sum across endpoints into per-threshold counts.
        val byEndpoint = mutable.ArrayBuffer.empty[
          mutable.HashMap[Int, mutable.ArrayBuffer[(Double, Bin)]]]
        val nativeCounts =
          mutable.HashMap.empty[Int, (Array[Double], Array[Long])]
        def collect(frames: Seq[DataFrame])(bin: Row => (Double, Bin)): Unit = {
          while (byEndpoint.size < frames.size)
            byEndpoint += mutable.HashMap.empty
          frames.zipWithIndex.foreach { case (f, e) =>
            f.collect().foreach { r =>
              byEndpoint(e).getOrElseUpdate(r.getInt(0),
                mutable.ArrayBuffer.empty) += bin(r)
            }
          }
        }
        if (native) {
          val (fetch, probe) = chunk.partition(fetches)
          if (fetch.nonEmpty)
            collect(runAll(RankProbe.render(RankProbe.Request(
              fastProbe.get, fetch = true, nT = 2, fetchLimit = limit,
              fetch.map(st => RankProbe.State(st.sid, st.cix,
                keyStrs(st.groupIdx), Array(st.lo, st.hi))))))) { r =>
              val v = norm(r.getDouble(1))
              (v, Bin(r.getLong(2), v, v, attained = true))
            }
          if (probe.nonEmpty) {
            probe.foreach(st => nativeCounts(st.sid) =
              (thresholds(st), new Array[Long](QuantileFan - 1)))
            runAll(RankProbe.render(RankProbe.Request(
              fastProbe.get, fetch = false, nT = QuantileFan - 1,
              fetchLimit = 0L, probe.map(st => RankProbe.State(st.sid,
                st.cix, keyStrs(st.groupIdx), nativeCounts(st.sid)._1)))))
              .foreach(_.collect().foreach { r =>
                val counts = nativeCounts(r.getInt(0))._2
                counts.indices.foreach(m =>
                  if (!r.isNullAt(m + 1)) counts(m) += r.getLong(m + 1))
              })
          }
        } else {
          val nBins = binsFor(chunk.size)
          val rows = chunk.map { st =>
            val (k, ok, s) =
              if (fetches(st)) (1.0, 0.0, 0.0)
              else binScale(st.lo, st.hi, nBins)
            "(" + (Seq(st.sid.toString) ++ keyLits(st.groupIdx) ++
              Seq(st.cix.toString) ++ Seq(st.lo, st.hi, k, ok, s)
              .map(renderDouble)).mkString(", ") + ")"
          }
          // One statement for both kinds of state: a probing state's __b
          // is its bin, a fetchable state's (__s = 0) the value itself. A
          // chunk of fetches alone groups by value and skips the bins'
          // min/max, which equal the value there.
          val (bin, mn, mx) =
            if (chunk.forall(fetches)) ("__v", "__b", "__b")
            else ("IF(__s = 0, __v, " +
              "CAST(floor((__v * __k - __o) * __s) AS DOUBLE))",
              "min(__v)", "max(__v)")
          val binned =
            s"""SELECT __sid, __b, count(*) AS __c, $mn AS __mn,
               |       $mx AS __mx FROM (
               |  SELECT __sid, __v, $bin AS __b
               |  FROM (
               |    SELECT __probe.__sid AS __sid, __probe.__lo AS __lo,
               |           __probe.__hi AS __hi, __probe.__k AS __k,
               |           __probe.__o AS __o, __probe.__s AS __s,
               |           $vExpr AS __v
               |    FROM ${onSql(probeCols, rows)}
               |  ) __j WHERE __v > __lo AND __v <= __hi
               |) __r GROUP BY __sid, __b""".stripMargin
          collect(runAll(
            if (limit <= 0) binned
            else
              s"""SELECT __sid, __b, __c, __mn, __mx FROM (
                 |SELECT *, row_number() OVER (
                 |  PARTITION BY __sid ORDER BY __b) AS __rn FROM (
                 |$binned
                 |) __g) WHERE __rn <= $limit""".stripMargin)) { r =>
            (norm(r.getDouble(1)), Bin(r.getLong(2), norm(r.getDouble(3)),
              norm(r.getDouble(4)), attained = true))
          }
        }
        chunk.foreach { rep =>
          val (bins, complete) = nativeCounts.get(rep.sid) match {
            case Some((ts, counts)) =>
              val edges = rep.lo +: ts :+ rep.hi
              val cum = rep.cLo +: counts :+ rep.cHi
              ((1 until edges.length).map(m => Bin(cum(m) - cum(m - 1),
                math.nextUp(edges(m - 1)), edges(m), attained = false)),
                Double.PositiveInfinity)
            case scala.None =>
              val perEp = byEndpoint.toSeq.map(_.get(rep.sid)
                .fold(Seq.empty[(Double, Bin)])(_.toSeq.sortBy(_._1)))
              // Counts merge completely only up to the smallest
              // truncation point: an endpoint that returned exactly
              // `limit` rows may hold more values above its last one.
              val complete =
                if (limit <= 0) Double.PositiveInfinity
                else perEp.map(rs =>
                  if (rs.length >= limit) rs.last._1
                  else Double.PositiveInfinity).min
              (perEp.flatten.filter(_._1 <= complete).groupBy(_._1).toSeq
                .sortBy(_._1).map { case (_, kbs) =>
                  val bs = kbs.map(_._2)
                  Bin(bs.map(_.c).sum, bs.map(_.min).min, bs.map(_.max).max,
                    attained = true)
                }, complete)
          }
          classOf(rep.sid).foreach(advance(_, bins, complete))
        }
      }
    }

    // ---- Assemble per-call results beside each merged row. ----
    def valueOf(g: Int, cix: Int, target: Long): Double =
      states((g, cix, target)).value
    val rows: Seq[Row] = groupedRows.indices.map { g =>
      def resolve(plan: CallPlan): Double = plan match {
        case Const(v) => v
        case Disc(cix, target) => valueOf(g, cix, target)
        case Interp(n, cix, p) =>
          val pos = (n - 1) * p
          val jLo = math.floor(pos).toLong
          val jHi = math.ceil(pos).toLong
          val vLo = valueOf(g, cix, jLo + 1)
          if (jHi == jLo) vLo
          else {
            val vHi = valueOf(g, cix, jHi + 1)
            vLo * (jHi - pos) + vHi * (pos - jLo)
          }
      }
      val callVals: Seq[Any] = quantiles.zipWithIndex.map { case ((_, spec), k) =>
        val elems = plans(g)(k)
        if (elems.isEmpty) null // 0-row group: the whole call is NULL
        else if (spec.isArray) elems.map(resolve)
        else java.lang.Double.valueOf(resolve(elems.head))
      }
      Row.fromSeq(groupedRows(g).toSeq ++ callVals)
    }
    // A local relation: the statement's projection over it folds on the
    // driver. Each call's column carries the analyzed expression's type
    // (double for continuous percentiles, the child type for
    // percentile_disc).
    quantiles.foldLeft(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(schema.fields ++ quantiles.map { case (a, spec) =>
        StructField(a,
          if (spec.isArray) ArrayType(DoubleType, containsNull = false)
          else DoubleType) }))) { case (df, (a, spec)) =>
      df.withColumn(a, col(a).cast(spec.resultType))
    }
  }

  /** An exact DOUBLE literal: a finite value as its shortest round-trip
    * decimal with the `D` suffix (the parser converts it with the same
    * correctly rounded parse), the rest as casts. Round statements carry
    * five doubles per state, and their parse cost grows with the text.
    */
  private def renderDouble(d: Double): String =
    if (d.isNaN) "CAST('NaN' AS DOUBLE)"
    else if (d == Double.PositiveInfinity) "CAST('Infinity' AS DOUBLE)"
    else if (d == Double.NegativeInfinity) "CAST('-Infinity' AS DOUBLE)"
    else s"${java.lang.Double.toString(d)}D"

  /** Render one collected group-key value as a SQL literal for the probe
    * statement's VALUES join. Group values are answer-sized, so this runs
    * O(groups) times total.
    */
  private def renderLiteral(v: Any, dt: DataType): String = v match {
    case null => s"CAST(NULL AS ${dt.sql})"
    case s: String =>
      // Hex-encoded, not quoted-and-escaped: backslash escapes parse
      // differently under spark.sql.parser.escapedStringLiterals, so a
      // probe VALUES row must not depend on the ENDPOINT session's parser
      // config. X'..' binary literals are parser-native and
      // config-independent; the cast to STRING decodes the UTF-8 bytes
      // exactly for arbitrary content (and stays evaluable inside an
      // inline VALUES table, which function calls are not).
      if (s.isEmpty) "''"
      else {
        val hex = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => f"${b & 0xff}%02X").mkString
        s"CAST(X'$hex' AS STRING)"
      }
    case b: java.lang.Boolean => b.toString
    case b: java.lang.Byte => s"CAST($b AS TINYINT)"
    case s: java.lang.Short => s"CAST($s AS SMALLINT)"
    case i: java.lang.Integer => i.toString
    case l: java.lang.Long => s"CAST($l AS BIGINT)"
    case f: java.lang.Float => s"CAST(${renderDouble(f.toDouble)} AS FLOAT)"
    case d: java.lang.Double => renderDouble(d)
    case d: java.math.BigDecimal => s"CAST('${d.toPlainString}' AS ${dt.sql})"
    case t: java.sql.Timestamp =>
      val us = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      s"timestamp_micros($us)"
    case t: java.time.Instant =>
      s"timestamp_micros(${SegmentSlice.micros(t)})"
    case d: java.sql.Date => s"date_from_unix_date(${d.toLocalDate.toEpochDay})"
    case d: java.time.LocalDate => s"date_from_unix_date(${d.toEpochDay})"
    case other => fail(
      s"GROUP BY value $other (${dt.sql}) cannot ship in a federated " +
        "percentile probe; group by literal-renderable types or use " +
        "plain INCLUDE.")
  }

  /** Paren depth of every character of `sql` that is SQL code; -1 inside
    * a quoted string or backticked identifier (delimiters included), -2
    * inside a `--` or `/* */` comment. The one scanner behind every clause
    * cut below and the time-travel rewrite in [[SqlExtensions]]: keywords,
    * parens and commas inside quotes or comments never cut, and an
    * apostrophe in a comment opens no quote.
    */
  private[tsdb] def codeDepths(sql: String): Array[Int] = {
    val out = new Array[Int](sql.length)
    def mark(from: Int, until: Int, v: Int): Int = {
      java.util.Arrays.fill(out, from, until.min(sql.length), v)
      until
    }
    var depth = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        while (j < sql.length && sql.charAt(j) != c) {
          if (c != '`' && sql.charAt(j) == '\\') j += 1
          j += 1
        }
        i = mark(i, j + 1, -1)
      } else if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        i = mark(i, if (nl < 0) sql.length else nl, -2)
      } else if (sql.startsWith("/*", i)) {
        val close = sql.indexOf("*/", i + 2)
        i = mark(i, if (close < 0) sql.length else close + 2, -2)
      } else {
        if (c == ')') depth -= 1
        out(i) = depth
        if (c == '(') depth += 1
        i += 1
      }
    }
    out
  }

  /** `sql` with every comment blanked to spaces, so clause text cut from
    * it can be re-embedded anywhere in a generated statement.
    */
  private def withoutComments(sql: String): String = {
    val depths = codeDepths(sql)
    sql.indices.map(i => if (depths(i) == -2) ' ' else sql.charAt(i)).mkString
  }

  /** The first index of `sql` at paren depth 0, outside quotes and
    * comments, where `at` holds.
    */
  private def topLevelIndex(sql: String)(at: Int => Boolean): Option[Int] = {
    val depths = codeDepths(sql)
    sql.indices.find(i => depths(i) == 0 && at(i))
  }

  /** True when keyword `w` starts at `i` of `sql` as a whole word. */
  private def wordAt(sql: String, i: Int, w: String): Boolean = {
    def isWordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    sql.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
      (i + w.length >= sql.length || !isWordChar(sql.charAt(i + w.length)))
  }

  private def groupByAt(sql: String, i: Int): Boolean =
    wordAt(sql, i, "GROUP") &&
      sql.substring(i).matches("(?is)^GROUP\\s+BY\\b.*")

  /** Split at the SELECT's own FROM: the first top-level `FROM` keyword
    * (`extract(x FROM ts)` and subquery FROMs sit inside parens).
    */
  private[graft] def splitAtTopLevelFrom(sql: String): (String, String) =
    topLevelIndex(sql)(wordAt(sql, _, "FROM")) match {
      case Some(i) => (sql.substring(0, i).trim, sql.substring(i).trim)
      case scala.None => (sql.trim, "")
    }

  /** Drop the statement's trailing top-level HAVING / ORDER BY / SORT BY /
    * LIMIT / OFFSET clauses: they replay locally on the answer-sized
    * merged frame, so they must not ride into the partial or probe
    * queries (a HAVING over partials would mis-filter; a per-endpoint
    * ORDER/LIMIT would truncate groups before the merge). A subquery's
    * own trailing clauses sit inside parens and survive.
    */
  private[graft] def stripTopLevelTrailers(fromTail: String): String =
    topLevelIndex(fromTail)(i =>
      wordAt(fromTail, i, "HAVING") || wordAt(fromTail, i, "LIMIT") ||
        wordAt(fromTail, i, "OFFSET") ||
        ((wordAt(fromTail, i, "ORDER") || wordAt(fromTail, i, "SORT")) &&
          fromTail.substring(i).matches("(?is)^(ORDER|SORT)\\s+BY\\b.*")))
      .fold(fromTail)(fromTail.substring(0, _)).trim

  /** Drop the trailing top-level GROUP BY clause (HAVING/ORDER/LIMIT/
    * OFFSET were stripped upstream, so the grouping list runs to the
    * statement end).
    */
  private[graft] def stripTopLevelGroupBy(fromTail: String): String =
    topLevelIndex(fromTail)(groupByAt(fromTail, _))
      .fold(fromTail)(fromTail.substring(0, _)).trim

  /** The partial query replaces the select list, so ordinal GROUP BY
    * references (`GROUP BY 1`) would silently re-bind — reject them.
    */
  private def rejectOrdinalGroupBy(fromTail: String): Unit =
    topLevelIndex(fromTail)(groupByAt(fromTail, _)).foreach { g =>
      val list = fromTail.substring(g)
        .replaceFirst("(?is)^GROUP\\s+BY\\s*", "")
      // The grouping list runs to the statement end (HAVING/ORDER/LIMIT
      // were stripped upstream); split it at its top-level commas.
      val depths = codeDepths(list)
      val cuts = -1 +: list.indices.filter(i =>
        list.charAt(i) == ',' && depths(i) == 0) :+ list.length
      if (cuts.sliding(2).exists { case Seq(a, b) =>
          list.substring(a + 1, b).trim.matches("\\d+") })
        fail("ordinal GROUP BY references re-bind when the select list " +
          "is rewritten to partials; use explicit expressions.")
    }
}
