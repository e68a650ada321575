package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, AttributeReference, Cast, CreateNamedStruct, DayOfWeek, Divide, EqualTo, ExprId, Expression, Floor, GetStructField, GreaterThan, GreaterThanOrEqual, Hour, In, IsNotNull, LessThan, LessThanOrEqual, Literal, Minute, Multiply, Or, PredicateHelper, Remainder, Second, Subtract, TruncTimestamp, UnaryMinus, WeekDay}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.tsdb.{Engine, SegmentAggregates, SegmentSlice, TableMetadata}

/** Catalyst-level rewrite of simple aggregates over a time series view
  * into segment-native (or hybrid) aggregates — the Spark counterpart of
  * the reference's `ModelSimpleAggregates` physical optimizer rule
  * (/root/reference/crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:175-334),
  * applied to the analyzed plan of SQL entering `Engine.sql`.
  *
  * Matches `Aggregate(tag-groupings, [COUNT|MIN|MAX|SUM|AVG(field)...],
  * [Filter(pred,)] SubqueryAlias(tst-view))`. Beyond the reference (which
  * disables its rewrite under ANY predicate), a filter that is a
  * conjunction of timestamp range bounds and tag equalities still
  * rewrites: tag equalities prune the (denormalized) segment relation
  * directly, and timestamp ranges route through the engine's hybrid plan —
  * interior segments answered from metadata, only boundary segments
  * reconstructed. Any other predicate blocks the rewrite and the query
  * grids as before.
  *
  * Two further shapes rewrite (also beyond the reference):
  *  - a `date_trunc(unit, ts)` grouping routes through a hybrid
    *  downsampling plan: fixed-width epoch-aligned units under a UTC
    *  session through [[graft.tsdb.Engine.readTimeSeriesTableBucketed]],
    *  and every other (unit, zone) combination — WEEK/MONTH/QUARTER/YEAR,
    *  non-UTC offsets, DST zones — through
    *  [[graft.tsdb.Engine.readTimeSeriesTableTruncated]], which buckets by
    *  the identical truncation expression; either way bucket-contained
    *  segments answer from metadata closed forms;
  *  - aggregate-free tag groupings (`SELECT DISTINCT tag`, plain
  *    `GROUP BY tag`) become DISTINCT over the segment relation, exact
  *    because tags are denormalized into every segment row;
  *  - `min(ts)`/`max(ts)` (the table-extent query) answer from
  *    `start_time`/`end_time` metadata, and `count(ts)`/`count(tag)`
  *    equal `count(*)` (both columns are non-null by construction);
  *    under a time range or bucket grouping the extent rides the hybrid
  *    plan's `__bp_tmin`/`__bp_tmax` timestamp partials — interior
  *    segments answer from their bounds, boundary segments from the
  *    decode generator — still never materializing points.
  */
object SegmentAggregateSqlRewrite extends PredicateHelper {

  private[plans] sealed trait AggSpec
  private[plans] final case class FieldAgg(kind: String, field: String, outName: String)
    extends AggSpec
  private[plans] final case class TagRef(tag: String) extends AggSpec
  private[plans] final case class BucketRef(outName: String) extends AggSpec
  /** MIN/MAX of the timestamp column itself — the table-extent query,
    * answered from `start_time`/`end_time` metadata alone (exact: segment
    * bounds are the actual first/last point of each segment).
    */
  private[plans] final case class TsAgg(kind: String, outName: String)
    extends AggSpec
  /** COUNT(DISTINCT tag...) — exact over the denormalized segment
    * relation (every tag combination with ≥1 point has ≥1 segment row,
    * and tags are non-null by construction). Declines time ranges and
    * bucket groupings: a segment overlapping a range may have no point
    * inside it, so segment-level DISTINCT would overcount there.
    */
  private[plans] final case class TagDistinctAgg(tags: Seq[String], outName: String)
    extends AggSpec
  /** An aggregate of a LINEAR expression `a*f + b` of one stored field
    * (including generated columns that are linear over a stored field):
    * sum(a*f+b) = a*sum(f) + b*count(f), avg likewise, count(a*f+b) =
    * count(f) (f non-null, literal divisors non-zero), and min/max
    * re-apply the ORIGINAL expression to the closed-form extreme of f
    * (max of f for a < 0) — exact, because correctly-rounded float ops
    * with finite literals are weakly monotone. `substitute` rebuilds the
    * original expression tree around a replacement for the field leaf.
    */
  private[plans] final case class FieldExprAgg(
    kind: String, field: String, outName: String,
    scale: Double, shift: Double,
    substitute: Expression => Expression) extends AggSpec
  /** A reference to the `window(ts, …)` grouping struct in the output:
    * the whole struct, or its `.start`/`.end` field.
    */
  private[plans] final case class WindowPart(part: String, outName: String)
    extends AggSpec
  /** A reference to the value-bin grouping `floor((field - o) / w)` in
    * the output — the SQL spelling of a fixed-width value histogram,
    * answered by [[graft.tsdb.Engine.valueHistogram]] in Spark-floor
    * semantics (non-finite values keep their FLOOR(double)->LONG bins).
    */
  private[plans] final case class ValueBinRef(outName: String) extends AggSpec
  /** A reference to a time-phase grouping — `hour(ts)`, `minute(ts)`,
    * `second(ts)`, `dayofweek(ts)`, `weekday(ts)` under a zero-offset
    * session zone — answered by [[graft.tsdb.Engine.seasonalProfile]]
    * (phase = epoch-grains mod period, exactly these extractions' floor
    * arithmetic at offset zero).
    */
  private[plans] final case class PhaseRef(outName: String) extends AggSpec
  /** `percentile(field, q)` / `median(field)` — answered by the grouped
    * exact-rank ladder ([[graft.tsdb.Engine.exactRanksBy]], no sort, no
    * decode) with Spark's own interpolation arithmetic replayed on the
    * two bracketing order statistics.
    */
  private[plans] final case class PercentileAgg(
    field: String, q: Double, outName: String,
    disc: Boolean = false) extends AggSpec
  /** An aggregate with a FILTER clause whose predicate is a value-bound
    * conjunction on one stored field — `sum(v) FILTER (WHERE v > x)` —
    * answered by [[graft.tsdb.Engine.thresholdStats]] (one pass per
    * DISTINCT bound, joined back on the tag keys). `kind` is a
    * thresholdStats output kind (count, sum, min, max, avg, the
    * variance family) or ts_min/ts_max for min/max(ts). FILTER
    * semantics keep every group — no empty-group drop here, unlike a
    * WHERE.
    */
  private[plans] final case class FilteredAgg(
    kind: String, bound: ValueBound, outName: String) extends AggSpec

  /** How a `date_trunc` grouping buckets time: a fixed width in micros
    * (epoch-aligned, answered by the pmod plan) or a calendar truncation
    * (unit + explicit zone, answered by the TruncTimestamp plan).
    */
  private[plans] sealed trait BucketSpec
  private[plans] final case class FixedUs(us: Long) extends BucketSpec
  private[plans] final case class CalendarTrunc(unit: String, zone: String)
    extends BucketSpec

  /** A rewritable aggregate: the table, tag-only groupings, an optional
    * time-bucket grouping, simple aggregate specs, and the (possibly
    * empty) parsed filter.
    */
  /** A conjunction of value comparisons on ONE stored field, canonicalized
    * to the (lower, upper] interval [[graft.tsdb.Engine.thresholdCount]]
    * counts: `v >= c` becomes `v > nextDown(c)` (exact for doubles),
    * `v = c` becomes `(nextDown(c), c]`. An upper-only bound is counted by
    * complement — `count(v <= u) = count(*) - count(v > u)` — which is
    * exact under the SQL total order (every value, NaN included, falls on
    * exactly one side).
    */
  private[plans] final case class ValueBound(
    field: String, intervals: Seq[(Option[Double], Option[Double])])

  /** A fixed-width value-bin grouping: (field, origin, width). */
  private[plans] final case class ValueBin(
    field: String, origin: Double, width: Double)

  /** A time-phase grouping: phase = (epoch µs / grainUs) mod phases, plus
    * the affine map from that phase index to the SQL function's output
    * (identity for hour/minute/second; epoch day 0 is a Thursday, so
    * dayofweek = (p+4) mod 7 + 1 and weekday = (p+3) mod 7).
    */
  private[plans] final case class TimePhase(
    grainUs: Long, phases: Int, shift: Int, base: Int)

  private[plans] final case class MatchResult(
    meta: TableMetadata, groupTags: Seq[String], specs: Seq[AggSpec],
    startUs: Option[Long], endUs: Option[Long], tagEq: Map[String, String],
    tagIn: Map[String, Seq[String]], bucket: Option[BucketSpec] = scala.None,
    valueBound: Option[ValueBound] = scala.None,
    valueBin: Option[ValueBin] = scala.None,
    timePhase: Option[TimePhase] = scala.None)

  /** Attempt the rewrite; None leaves the original DataFrame untouched.
    *
    * The matching Aggregate may sit anywhere in the plan — under the Sort
    * of an ORDER BY, the Filter of a HAVING, a LIMIT, or joined against
    * other relations — the aggregate subtree alone is swapped for its
    * segment-native equivalent ([[spliceRewrite]] preserves the subtree's
    * output attributes, so parents are untouched).
    */
  /** TEST-ONLY splice counter (SqlRewriteFuzzSpec asserts the generator
    * keeps exercising the accept paths, not just gridded declines). */
  private[plans] val spliceCountForTests = new java.util.concurrent.atomic.AtomicLong

  def tryRewrite(engine: Engine, df: DataFrame): Option[DataFrame] = {
    var hit = false
    val transformed = df.queryExecution.analyzed.transformUp {
      case agg: Aggregate => spliceRewrite(engine, agg) match {
        case Some(swapped) => hit = true; swapped
        case scala.None => agg
      }
    }
    if (hit) {
      spliceCountForTests.incrementAndGet()
      Some(org.apache.spark.sql.graft.PlanBridge.ofRows(engine.spark, transformed))
    } else scala.None
  }

  /** Rewrite one matching Aggregate into the analyzed plan of its
    * segment-native equivalent, spliced under the ORIGINAL output
    * attributes (names, exprIds, qualifiers, types) so parent operators
    * resolve unchanged. None when the aggregate doesn't match.
    */
  private[plans] def spliceRewrite(
      engine: Engine, agg: Aggregate): Option[LogicalPlan] =
    matchAggregate(engine, agg).map { m =>
      val rewritten = build(engine, m).queryExecution.analyzed
      val aliases = rewritten.output.zip(agg.output).map { case (n, o) =>
        val value =
          if (n.dataType == o.dataType) n
          else org.apache.spark.sql.catalyst.expressions.Cast(n, o.dataType)
        Alias(value, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }
      Project(aliases, rewritten)
    }

  /** Shared matcher: an Aggregate whose child is exactly the registered
    * view (optionally under a parseable Filter), tag-only groupings, and
    * only simple aggregates of stored fields.
    */
  private[plans] def matchAggregate(engine: Engine, agg: Aggregate):
      Option[MatchResult] = {
    val Aggregate(groupings, results, child, _) = agg
    // The analyzer lowers `GROUP BY window(ts, …)` into a Project that
    // computes the window struct (plus attribute passthrough) over a
    // Filter(isnotnull(ts)); peel that pair off before the view match.
    // ts is non-null by construction, so dropping the filter is sound.
    val groupingIds = groupings.collect {
      case a: AttributeReference => a.exprId
    }.toSet
    val (windowAlias, child1) = child match {
      case Project(projList, Filter(IsNotNull(a: AttributeReference), rest))
          if a.dataType == TimestampType &&
            projList.forall {
              case _: AttributeReference => true
              case al @ Alias(_: CreateNamedStruct, _) =>
                groupingIds.contains(al.exprId)
              case _ => false
            } &&
            projList.count(_.isInstanceOf[Alias]) == 1 =>
        (projList.collectFirst {
          case al @ Alias(_: CreateNamedStruct, _) => (al, a)
        }, rest)
      case other => (scala.None, other)
    }
    val (filterCond, source) = child1 match {
      case Filter(cond, inner) => (Some(cond), inner)
      case other => (scala.None, other)
    }
    viewTable(engine, source).flatMap { meta =>
      val windowBucket: Option[(ExprId, Long)] = windowAlias.flatMap {
        case (al, tsAttr) =>
          if (tsAttr.name != meta.timestampColumn) scala.None
          else windowWidth(engine, meta, source, al)
            .map(w => (al.exprId, w))
      }
      // A window projection we can't prove is a plain tumbling window
      // leaves a grouping attribute nothing else can satisfy — decline.
      if (windowAlias.nonEmpty && windowBucket.isEmpty) scala.None
      else matchGroupings(engine, meta, groupings, results, filterCond,
        windowBucket)
    }
  }

  private def matchGroupings(
      engine: Engine, meta: TableMetadata,
      groupings: Seq[Expression],
      results: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      filterCond: Option[Expression],
      windowBucket: Option[(ExprId, Long)]): Option[MatchResult] = {
    {
      val tagNames = meta.tagColumns.toSet
      val groupTags = groupings.flatMap {
        case a: AttributeReference if tagNames.contains(a.name) => Some(a.name)
        case _ => None
      }
      val windowGroups = groupings.count {
        case a: AttributeReference => windowBucket.exists(_._1 == a.exprId)
        case _ => false
      }
      val bucketSpecs = groupings.flatMap(bucketSpecOf(meta, _)) ++
        (if (windowGroups == 1) windowBucket.map(w => FixedUs(w._2)).toSeq
         else Seq.empty)
      val binSpecs = groupings.flatMap(valueBinOf(meta, _))
      val phaseSpecs = groupings.flatMap(timePhaseOf(meta, _))
      if (groupTags.size + bucketSpecs.size + binSpecs.size +
          phaseSpecs.size != groupings.size)
        None
      else if (bucketSpecs.size > 1) None // two time groupings: grid it
      else if (binSpecs.size > 1 || phaseSpecs.size > 1 ||
          Seq(binSpecs, bucketSpecs, phaseSpecs).count(_.nonEmpty) > 1) None
      else {
        val bucket = bucketSpecs.headOption
        val bin = binSpecs.headOption
        val phase = phaseSpecs.headOption
        val specs = results.map(
          spec(engine, meta, groupTags.toSet, bucket, windowBucket.map(_._1),
            bin, phase, _))
        if (specs.exists(_.isEmpty)) None
        else {
          val flat = specs.flatten
          val hasAgg = flat.exists(s =>
            s.isInstanceOf[FieldAgg] || s.isInstanceOf[TsAgg] ||
              s.isInstanceOf[TagDistinctAgg] || s.isInstanceOf[FieldExprAgg] ||
              s.isInstanceOf[PercentileAgg] || s.isInstanceOf[FilteredAgg])
          val hasTagDistinct = flat.exists(_.isInstanceOf[TagDistinctAgg])
          // A tag column named like an internal output of the rewritten
          // plan ('bucket', or a produced '<kind>_<column>') would make
          // the engine's readers throw or the final select ambiguous —
          // decline and let the query grid instead of aborting.
          val produced = flat.flatMap {
            case FieldAgg(k, f, _) => Seq(s"${k}_$f")
            case TsAgg(k, _) => Seq(s"${k}_${meta.timestampColumn}")
            case fe: FieldExprAgg => baseKinds(fe).map(k => s"${k}_${fe.field}")
            case _ => Seq.empty
          }.toSet ++ (if (bucket.nonEmpty) Set("bucket") else Set.empty) ++
            bin.map(b => Set("bin", s"count_${b.field}")).getOrElse(Set.empty) ++
            (if (phase.nonEmpty) Set("phase", "bucket") else Set.empty)
          val collides = groupTags.exists(t =>
            produced.contains(t) || t.startsWith("__"))
          // A value-bin grouping only has a closed form for row COUNTs
          // (the histogram); any other aggregate of a bin-grouped set
          // grids as before.
          val binOk = bin.isEmpty || (hasAgg && flat.forall {
            case TagRef(_) | ValueBinRef(_) => true
            case FieldAgg("count", _, _) => true
            case _ => false
          })
          // A time-phase grouping composes from grain buckets only for
          // the additive/nesting kinds, all over ONE stored field
          // (count(*) is field-agnostic: fields are timestamp-aligned).
          val phaseOk = phase.isEmpty || {
            val kindsOk = hasAgg && flat.forall {
              case TagRef(_) | PhaseRef(_) => true
              case FieldAgg("count" | "sum" | "min" | "max" | "avg", _, _) =>
                true
              case _ => false
            }
            val fields = flat.collect {
              case FieldAgg(k, f, _) if k != "count" => f
            }.distinct
            kindsOk && fields.size <= 1
          }
          // Percentiles build a driver-refined answer frame: only plain
          // tag groupings compose, and all percentiles must share one
          // stored field (one ladder per build).
          val pAggs = flat.collect { case p: PercentileAgg => p }
          val percOk = pAggs.isEmpty || (flat.forall {
            case TagRef(_) => true
            case _: PercentileAgg => true
            case _ => false
          } && pAggs.map(_.field).distinct.size == 1 &&
            bucket.isEmpty && bin.isEmpty && phase.isEmpty)
          // FILTER-clause aggregates compose with plain tag groupings,
          // the closed-form unfiltered kinds (joined frames), and
          // fixed-width date_trunc buckets (per-bucket frames joined on
          // (tags, bucket); single-interval bounds there — the bucketed
          // engine pass takes one interval). Bins, phases, calendar
          // buckets, and DISTINCT shapes decline.
          val filteredOk = !flat.exists(_.isInstanceOf[FilteredAgg]) ||
            (flat.forall {
              case TagRef(_) | FieldAgg(_, _, _) | TsAgg(_, _) |
                  FilteredAgg(_, _, _) => true
              case BucketRef(_) => bucket.exists(_.isInstanceOf[FixedUs])
              case _: FieldExprAgg => bucket.isEmpty
              case _ => false
            } && bin.isEmpty && phase.isEmpty &&
              (bucket.isEmpty || (bucket.exists(_.isInstanceOf[FixedUs]) &&
                flat.collect { case fa: FilteredAgg => fa }
                  .forall(_.bound.intervals.size == 1))))
          if (collides || !binOk || !phaseOk || !percOk || !filteredOk) None
          else filterCond match {
            case _ if (!hasAgg || hasTagDistinct) && bucket.nonEmpty =>
              // Distinct buckets (and DISTINCT-tag counts per bucket)
              // need point-level exactness: a segment overlapping a
              // bucket may have no point in it — grid it.
              None
            case scala.None =>
              Some(MatchResult(meta, groupTags, flat, scala.None,
                scala.None, Map.empty, Map.empty, bucket, valueBin = bin,
                timePhase = phase))
            case Some(cond) => parseFilter(meta, cond).flatMap {
              case (lo, hi, tags, tagIn, vb) =>
                // No aggregates + a time range would need gridding for the
                // same reason, and so would COUNT(DISTINCT tag) — a
                // segment overlapping the range may have no point inside.
                // Tag-only predicates stay metadata-exact. (min/max(ts)
                // AND min_by/max_by(field, ts) under a time range or
                // bucket answer from the __bp_tmin/__bp_tmax and
                // __bp_vfirst/__bp_vlast partials — no decline.)
                if ((!hasAgg || hasTagDistinct) && (lo.nonEmpty || hi.nonEmpty))
                  None
                else if (vb.nonEmpty) {
                  // A value predicate restricts WHICH points aggregate.
                  // COUNTs (over any column: fields are aligned and
                  // non-null, so they all count the predicate-passing
                  // rows) answer via thresholdCount, and SUM/MIN/MAX/AVG
                  // of the PREDICATE'S OWN field via thresholdStats — a
                  // different field would need a joint decode of two
                  // per-field segment streams. DISTINCT shapes and time
                  // buckets have no closed form — grid those.
                  val aggsOk = flat.forall {
                    case TagRef(_) => true
                    case FieldAgg("count", _, _) => true
                    case FieldAgg("sum" | "min" | "max" | "avg" |
                        "var_samp" | "var_pop" | "stddev_samp" |
                        "stddev_pop", f, _) =>
                      vb.exists(_.field == f)
                    // min/max(ts) of the qualifying rows — "first/last
                    // exceedance" — ride the same stats partials.
                    case TsAgg(_, _) => true
                    // Fixed-width date_trunc buckets AND tumbling
                    // window(ts, w) groupings compose (per-bucket filtered
                    // stats); calendar truncations decline and grid.
                    case BucketRef(_) | WindowPart(_, _) =>
                      bucket.exists(_.isInstanceOf[FixedUs])
                    case _ => false
                  }
                  val bucketOk = bucket.forall(_.isInstanceOf[FixedUs]) &&
                    (bucket.isEmpty || vb.forall(_.intervals.size == 1))
                  val produced = vb.map(b =>
                    Set(s"count_in_${b.field}", s"count_${b.field}",
                      s"sum_in_${b.field}", s"min_in_${b.field}",
                      s"max_in_${b.field}", s"avg_in_${b.field}",
                      s"min_ts_in_${b.field}", s"max_ts_in_${b.field}",
                      s"var_samp_in_${b.field}", s"var_pop_in_${b.field}",
                      s"stddev_samp_in_${b.field}",
                      s"stddev_pop_in_${b.field}") ++
                      (if (bucket.nonEmpty) Set("bucket") else Set.empty))
                    .getOrElse(Set.empty)
                  if (!aggsOk || !hasAgg || !bucketOk ||
                      bin.nonEmpty || phase.nonEmpty ||
                      groupTags.exists(produced.contains))
                    None
                  else Some(MatchResult(meta, groupTags, flat, lo, hi, tags,
                    tagIn, bucket, vb))
                }
                else Some(MatchResult(meta, groupTags, flat, lo, hi, tags,
                  tagIn, bucket, valueBin = bin, timePhase = phase))
            }
          }
        }
      }
    }
  }

  /** The bucket width of a verified tumbling `window(ts, w)` projection,
    * or None when the struct is not one.
    *
    * Candidate width and start-offset literals are read off the struct's
    * `(ts - off) % w` arithmetic, then the candidate is PROVEN by
    * re-analyzing `window(ts, w, w, off)` over the same source subtree and
    * requiring semantic equality with the analyzer's emitted struct — a
    * hand-written `named_struct(…) AS window` that isn't exactly Spark's
    * tumbling-window arithmetic can never match. Sliding windows take an
    * explode-based plan shape and never reach here; non-zero start offsets
    * are declined (the bucketed plan floors at the epoch).
    */
  /** Placeholder attribute both sides of the memoized comparison are
    * normalized onto: Spark's TimeWindowing lowering of
    * `window(ts, w, w, 0)` is a pure function of (w, session timezone)
    * MODULO the ts attribute itself, so the reference struct analyzed
    * once over a one-column dummy relation serves every later execution.
    */
  private val windowTsPlaceholder = AttributeReference(
    "__graft_window_ts", TimestampType, nullable = true)(ExprId(0))

  /** (width, session timezone) -> the analyzer's tumbling-window struct
    * with its ts attribute normalized to [[windowTsPlaceholder]]. */
  private val windowRefCache = new java.util.concurrent.ConcurrentHashMap[
    (Long, String), Option[Expression]]()

  /** Test-only observability: how often [[windowWidth]] fell through to
    * the full re-analysis over the real source. A genuine tumbling window
    * must take the memoized fast path after the first execution.
    */
  private[plans] val windowWidthSlowPathCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def windowRefStruct(
      engine: Engine, w: Long): Option[Expression] = {
    val tz = engine.spark.sessionState.conf.sessionLocalTimeZone
    windowRefCache.computeIfAbsent((w, tz), _ => {
      val dummy = engine.spark.sql(
        s"SELECT CAST(NULL AS TIMESTAMP) AS ${windowTsPlaceholder.name}")
      val ref = dummy.select(window(col(windowTsPlaceholder.name),
          s"$w microseconds", s"$w microseconds", "0 microseconds"))
        .queryExecution.analyzed
      ref.collectFirst {
        case Project(pl, _) if pl.exists(_.isInstanceOf[Alias]) =>
          pl.collectFirst { case Alias(c: CreateNamedStruct, _) => c }
      }.flatten.map(_.transform {
        case _: AttributeReference => windowTsPlaceholder
      })
    })
  }

  private def windowWidth(
      engine: Engine, meta: TableMetadata, source: LogicalPlan,
      al: Alias): Option[Long] = {
    val widths = al.child.collect {
      case Remainder(_, Literal(w: Long, LongType), _) => w
    }.distinct
    val offsets = al.child.collect {
      case Remainder(Subtract(_, Literal(o: Long, LongType), _), _, _) => o
    }.distinct
    (widths, offsets) match {
      case (Seq(w), Seq(0L)) if w > 0 =>
        // FAST PATH (memoized): the candidate struct must reference the
        // source's timestamp attribute and nothing else; normalized onto
        // the placeholder it must match the cached reference struct for
        // (w, session tz). This proves exactly what the slow path proves
        // — the struct IS Spark's own tumbling-window arithmetic over ts
        // — without re-analyzing a window() projection over the full
        // source subtree on every execution (QueryProfile measured that
        // re-analysis as the bulk of ts_sql_window_exceedance's ~0.4 s
        // driver gap).
        val resolver = engine.spark.sessionState.conf.resolver
        val tsAttr = source.output.collectFirst {
          case a: AttributeReference
              if resolver(a.name, meta.timestampColumn) &&
                a.dataType == TimestampType => a
        }
        val memoHit = tsAttr.exists { ts =>
          al.child.references.forall(_.exprId == ts.exprId) &&
            windowRefStruct(engine, w).exists { refNorm =>
              refNorm.semanticEquals(al.child.transform {
                case a: AttributeReference if a.exprId == ts.exprId =>
                  windowTsPlaceholder
              })
            }
        }
        if (memoHit) Some(w)
        else {
          // SLOW PATH (the decider): prove against the real source. The
          // memo can only accept faster, never reject — any normalized
          // mismatch falls through to the original full re-analysis.
          windowWidthSlowPathCount.incrementAndGet()
          val ref = org.apache.spark.sql.graft.PlanBridge
            .ofRows(engine.spark, source)
            .select(window(col(meta.timestampColumn),
              s"$w microseconds", s"$w microseconds", "0 microseconds"))
            .queryExecution.analyzed
          val refStruct = ref.collectFirst {
            case Project(pl, _) if pl.exists(_.isInstanceOf[Alias]) =>
              pl.collectFirst { case Alias(c: CreateNamedStruct, _) => c }
          }.flatten
          if (refStruct.exists(al.child.semanticEquals)) Some(w)
          else scala.None
        }
      case _ => scala.None
    }
  }

  /** A grouping expression that is a truncation of the timestamp column —
    * `date_trunc(unit, ts)`. Fixed-width epoch-aligned units under a
    * zero-offset zone become [[FixedUs]] (truncation IS the epoch-floor
    * bucket, answered by exact BIGINT pmod); every other recognized
    * (unit, zone) combination — WEEK/MONTH/QUARTER/YEAR, non-zero offsets,
    * DST zones — becomes [[CalendarTrunc]], answered by a hybrid plan that
    * buckets with the identical TruncTimestamp expression.
    */
  private def bucketSpecOf(
      meta: TableMetadata, e: Expression): Option[BucketSpec] =
    e match {
      case TruncTimestamp(Literal(fmt: UTF8String, StringType),
          a: AttributeReference, tzId)
          if a.name == meta.timestampColumn && a.dataType == TimestampType =>
        val unit = fmt.toString.toUpperCase(java.util.Locale.ROOT)
        val fixedUs = unit match {
          case "DAY" | "DD" => Some(86400000000L)
          case "HOUR" => Some(3600000000L)
          case "MINUTE" => Some(60000000L)
          case "SECOND" => Some(1000000L)
          case "MILLISECOND" => Some(1000L)
          case "MICROSECOND" => Some(1L)
          case _ => None
        }
        if (fixedUs.nonEmpty && tzId.exists(isUtcZone)) fixedUs.map(FixedUs)
        else tzId.filter(z =>
          graft.tsdb.Engine.TruncUnits.contains(unit) && isValidZone(z))
          .map(CalendarTrunc(unit, _))
      case _ => None
    }

  private def isUtcZone(id: String): Boolean =
    try {
      val rules = java.time.ZoneId.of(id).getRules
      rules.isFixedOffset &&
        rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
    } catch { case _: java.time.DateTimeException => false }

  private def isValidZone(id: String): Boolean =
    try { java.time.ZoneId.of(id); true }
    catch { case _: java.time.DateTimeException => false }

  /** The segment slice a federated rank search can probe natively: the
    * plan must be the registered time-series view under an optional
    * Filter whose condition is time/tag-only (no value bounds — those
    * would change which points a probe counts). `NOT isnan(f)` conjuncts
    * on fields accepted by `isnanDroppable` are dropped rather than
    * rejected: NaN never satisfies `x <= t` under the SQL total order,
    * so the probe counts are identical with or without the filter —
    * the idiomatic NaN guard every exact-percentile statement carries
    * must not knock the statement off the segment-native path. Returns
    * (table metadata, startUs, endUs, tag equalities, tag IN-lists).
    */
  private[graft] def federatedProbeTarget(engine: Engine, plan: LogicalPlan,
      isnanDroppable: String => Boolean)
      : Option[(TableMetadata, Option[Long], Option[Long],
        Map[String, String], Map[String, Seq[String]])] = {
    val (cond, rel) = plan match {
      case Filter(c, r) => (Some(c), r)
      case r => (scala.None, r)
    }
    viewTable(engine, rel).flatMap { meta =>
      cond match {
        case scala.None =>
          Some((meta, scala.None, scala.None,
            Map.empty[String, String], Map.empty[String, Seq[String]]))
        case Some(c) =>
          val kept = splitConjunctivePredicates(c).filterNot {
            case org.apache.spark.sql.catalyst.expressions.Not(
              org.apache.spark.sql.catalyst.expressions.IsNaN(
                a: AttributeReference)) => isnanDroppable(a.name)
            case _ => false
          }
          val parsed =
            if (kept.isEmpty)
              Some((scala.None: Option[Long], scala.None: Option[Long],
                Map.empty[String, String], Map.empty[String, Seq[String]],
                scala.None: Option[ValueBound]))
            else parseFilter(meta, kept.reduce(
              org.apache.spark.sql.catalyst.expressions.And))
          parsed.collect {
            case (lo, hi, tagEq, tagIn, scala.None) =>
              (meta, lo, hi, tagEq, tagIn)
          }
      }
    }
  }

  /** A condition that is NOTHING BUT a value-bound conjunction/disjunction
    * on one stored field — the only shape FILTER clauses and the
    * predicate-bearing aggregates (count_if/any/every) accept.
    */
  private def pureValueBound(
      meta: TableMetadata, cond: Expression): Option[ValueBound] =
    parseFilter(meta, cond).collect {
      case (scala.None, scala.None, tags, tagIn, Some(vb))
          if tags.isEmpty && tagIn.isEmpty => vb
    }

  /** Parse a filter into (startUs, endUs, tag equalities, tag IN-lists):
    * only conjunctions of `ts <cmp> TIMESTAMP-literal`, `tag = string`,
    * and `tag IN (strings)` (in either operand order for the comparisons)
    * qualify; anything else aborts the rewrite. Strict bounds tighten by
    * one microsecond (timestamps are micros). IN-lists behave like tag
    * equalities: alone they prune the segment relation directly, and with
    * a time range they ride the hybrid plan as an `isin` prune.
    */
  private def parseFilter(meta: TableMetadata, cond: Expression):
      Option[(Option[Long], Option[Long], Map[String, String],
        Map[String, Seq[String]], Option[ValueBound])] = {
    def isTs(a: AttributeReference) =
      a.name == meta.timestampColumn && a.dataType == TimestampType
    def isTag(a: AttributeReference) =
      meta.tagColumns.contains(a.name) && a.dataType == StringType

    var lo: Option[Long] = scala.None
    var hi: Option[Long] = scala.None
    var tags = Map.empty[String, String]
    var tagIn = Map.empty[String, Seq[String]]
    var valueField: Option[String] = scala.None
    var vLo: Option[Double] = scala.None
    var vHi: Option[Double] = scala.None
    var hadConjCmp = false
    var orIntervals: Option[Seq[(Option[Double], Option[Double])]] = scala.None
    var ok = true

    def tightenLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def tightenHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    def addTag(a: AttributeReference, v: Any): Unit = {
      val s = String.valueOf(v)
      tags.get(a.name) match {
        case Some(prev) if prev != s => ok = false // contradictory equality
        case _ => tags += a.name -> s
      }
    }

    // A stored float field, bare or under the analyzer's widening cast.
    def fieldOf(e: Expression): Option[String] = e match {
      case a: AttributeReference
          if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
        Some(a.name)
      case Cast(a: AttributeReference, DoubleType, _, _)
          if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
        Some(a.name)
      case _ => scala.None
    }
    // A finite numeric constant as the exact double the engine compares
    // against. Comparison coercion wraps the parsed literal (often a
    // DECIMAL) in a cast to the comparison type, so fold one
    // Cast-of-Literal level; float→double widening is exact and huge
    // longs that double cannot hold exactly are declined.
    def fin(e: Expression): Option[Double] = {
      val folded: Option[Any] = e match {
        case Literal(v, _) => Option(v)
        case c @ Cast(_: Literal, _, _, _) => Option(c.eval(null))
        case _ => scala.None
      }
      folded.flatMap {
        case v: Double => Some(v)
        case v: Float => Some(v.toDouble)
        case v: Int => Some(v.toDouble)
        case v: Short => Some(v.toDouble)
        case v: Byte => Some(v.toDouble)
        case v: Long if v.toDouble.toLong == v => Some(v.toDouble)
        case _ => scala.None
      }.filter(java.lang.Double.isFinite)
    }
    // Predicates on a SECOND field don't compose into one interval — bail.
    def addValue(f: String, newLo: Option[Double],
        newHi: Option[Double]): Unit =
      if (valueField.exists(_ != f)) ok = false
      else {
        valueField = Some(f)
        hadConjCmp = true
        newLo.foreach(l => vLo = Some(vLo.fold(l)(math.max(_, l))))
        newHi.foreach(h => vHi = Some(vHi.fold(h)(math.min(_, h))))
      }
    // One comparison canonicalized to (field, lower, upper] — the shared
    // matcher behind both the conjunction arms and OR disjunctions.
    def valueCmpOf(e: Expression): Option[(String, Option[Double], Option[Double])] =
      e match {
        case GreaterThan(l, r) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(fin(r).get), scala.None))
        case GreaterThanOrEqual(l, r) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(Math.nextDown(fin(r).get)), scala.None))
        case LessThanOrEqual(l, r) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, scala.None, Some(fin(r).get)))
        case LessThan(l, r) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, scala.None, Some(Math.nextDown(fin(r).get))))
        case EqualTo(l, r) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(Math.nextDown(fin(r).get)),
            Some(fin(r).get)))
        case GreaterThan(r, l) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, scala.None, Some(Math.nextDown(fin(r).get))))
        case GreaterThanOrEqual(r, l) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, scala.None, Some(fin(r).get)))
        case LessThanOrEqual(r, l) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(Math.nextDown(fin(r).get)), scala.None))
        case LessThan(r, l) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(fin(r).get), scala.None))
        case EqualTo(r, l) if fieldOf(l).nonEmpty && fin(r).nonEmpty =>
          Some((fieldOf(l).get, Some(Math.nextDown(fin(r).get)),
            Some(fin(r).get)))
        case _ => scala.None
      }
    // An OR whose every disjunct is a conjunction of value comparisons on
    // ONE shared field: union of the per-disjunct intervals.
    def orBoundOf(or: Expression): Option[(String, Seq[(Option[Double], Option[Double])])] = {
      val perDisjunct = splitDisjunctivePredicates(or).map { d =>
        val cmps = splitConjunctivePredicates(d).map(valueCmpOf)
        if (cmps.exists(_.isEmpty)) scala.None
        else {
          val parts = cmps.flatten
          if (parts.map(_._1).distinct.size != 1) scala.None
          else {
            val f = parts.head._1
            val lo = parts.flatMap(_._2) match {
              case Seq() => scala.None
              case ls => Some(ls.max)
            }
            val hi = parts.flatMap(_._3) match {
              case Seq() => scala.None
              case hs => Some(hs.min)
            }
            Some((f, lo, hi))
          }
        }
      }
      if (perDisjunct.exists(_.isEmpty)) scala.None
      else {
        val ds = perDisjunct.flatten
        if (ds.map(_._1).distinct.size != 1) scala.None
        else Some((ds.head._1, ds.map(d => (d._2, d._3))))
      }
    }

    splitConjunctivePredicates(cond).foreach {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v: Long, TimestampType))
        if isTs(a) => tightenLo(v)
      case GreaterThan(a: AttributeReference, Literal(v: Long, TimestampType))
        if isTs(a) => tightenLo(v + 1)
      case LessThanOrEqual(a: AttributeReference, Literal(v: Long, TimestampType))
        if isTs(a) => tightenHi(v)
      case LessThan(a: AttributeReference, Literal(v: Long, TimestampType))
        if isTs(a) => tightenHi(v - 1)
      case GreaterThanOrEqual(Literal(v: Long, TimestampType), a: AttributeReference)
        if isTs(a) => tightenHi(v)
      case GreaterThan(Literal(v: Long, TimestampType), a: AttributeReference)
        if isTs(a) => tightenHi(v - 1)
      case LessThanOrEqual(Literal(v: Long, TimestampType), a: AttributeReference)
        if isTs(a) => tightenLo(v)
      case LessThan(Literal(v: Long, TimestampType), a: AttributeReference)
        if isTs(a) => tightenLo(v + 1)
      case EqualTo(a: AttributeReference, Literal(v, StringType))
        if isTag(a) && v != null => addTag(a, v)
      case EqualTo(Literal(v, StringType), a: AttributeReference)
        if isTag(a) && v != null => addTag(a, v)
      case In(a: AttributeReference, values)
        if isTag(a) && values.nonEmpty && values.forall {
          case Literal(v, StringType) => v != null
          case _ => false
        } =>
        val vs = values.collect { case Literal(v, StringType) => String.valueOf(v) }
        // Repeated INs on one tag intersect; an empty intersection would
        // be an always-false filter — bail and let the grid return empty.
        val combined = tagIn.get(a.name).fold(vs)(_.intersect(vs))
        if (combined.isEmpty) ok = false else tagIn += a.name -> combined
      // Value comparisons on one stored field, canonicalized to the
      // (lower, upper] interval countInRange counts (SQL total order,
      // `>= c` ⇔ `> nextDown(c)` exactly for doubles).
      case e if valueCmpOf(e).nonEmpty =>
        val (f, l2, h2) = valueCmpOf(e).get
        addValue(f, l2, h2)
      // ONE disjunction of value ranges on one field — `v < a OR v > b`,
      // the outlier band. A second OR conjunct, or mixing with plain
      // value comparisons, has no single-interval-set form — bail.
      case or @ Or(_, _) =>
        orBoundOf(or) match {
          case Some((f, ivs))
              if orIntervals.isEmpty && !valueField.exists(_ != f) =>
            valueField = Some(f)
            orIntervals = Some(ivs)
          case _ => ok = false
        }
      case _ => ok = false
    }
    if (ok && hadConjCmp && orIntervals.nonEmpty) ok = false
    if (ok) Some((lo, hi, tags, tagIn,
      valueField.map { f =>
        val ivs = orIntervals.getOrElse(Seq((vLo, vHi)))
        ValueBound(f, mergeIntervals(ivs))
      }))
    else None
  }

  /** Complement of a MERGED disjoint ascending interval list under the
    * SQL total order (bottom = below -Inf, top = NaN): the head below the
    * first lower bound, the gaps, and the tail above the last upper. A
    * predicate that covers everything complements to ONE empty interval
    * (the always-false convention [[mergeIntervals]] also uses) — the
    * building block for `every(p)` = "nothing satisfies NOT p".
    */
  private def complementIntervals(
      ivs: Seq[(Option[Double], Option[Double])]):
      Seq[(Option[Double], Option[Double])] = {
    val out = scala.collection.mutable.Buffer[(Option[Double], Option[Double])]()
    ivs.head._1.foreach(lo1 => out += ((scala.None, Some(lo1))))
    ivs.sliding(2).foreach {
      case Seq((_, Some(u)), (Some(l2), _)) => out += ((Some(u), Some(l2)))
      case _ => ()
    }
    ivs.last._2.foreach(uk => out += ((Some(uk), scala.None)))
    if (out.isEmpty) Seq((Some(0.0), Some(0.0))) else out.toSeq
  }

  /** Union-merge canonical (lower, upper] intervals (all bound values
    * finite — they come from literal canonicalization; None = unbounded)
    * into a disjoint ascending list. Empty intervals drop; an all-empty
    * input keeps ONE empty interval so an always-false predicate still
    * answers 0/NULL through the kernel instead of losing its ValueBound.
    */
  private def mergeIntervals(
      ivs: Seq[(Option[Double], Option[Double])]):
      Seq[(Option[Double], Option[Double])] = {
    def isEmptyIv(iv: (Option[Double], Option[Double])): Boolean =
      iv._1.isDefined && iv._2.isDefined && iv._1.get >= iv._2.get
    val nonEmpty = ivs.filterNot(isEmptyIv)
    if (nonEmpty.isEmpty) return Seq((Some(0.0), Some(0.0)))
    val sorted = nonEmpty.sortBy(_._1.getOrElse(Double.NegativeInfinity))
    sorted.tail.foldLeft(Vector(sorted.head)) { (acc, iv) =>
      val (plo, phi) = acc.last
      val overlaps = phi.isEmpty ||
        iv._1.getOrElse(Double.NegativeInfinity) <= phi.get
      if (overlaps) {
        val hi =
          if (phi.isEmpty || iv._2.isEmpty) scala.None
          else Some(math.max(phi.get, iv._2.get))
        acc.init :+ ((plo, hi))
      } else acc :+ iv
    }
  }

  /** The child must be exactly the registered logical view of a time series
    * table (a bare SubqueryAlias, optionally over one no-op Project): any
    * Filter or computed projection blocks the rewrite, mirroring the
    * reference's no-predicate requirement. The alias's child plan is
    * compared against the registered view plan — a name match alone could
    * be spoofed by a filtered subquery aliased with the table's name.
    */
  private def viewTable(engine: Engine, child: LogicalPlan): Option[TableMetadata] =
    child match {
      case SubqueryAlias(ident, aliased) =>
        val name = ident.name
        val isRegisteredView = engine.viewPlan(name).exists { vp =>
          aliased.sameResult(vp) || stripAliases(aliased).sameResult(stripAliases(vp))
        }
        if (isRegisteredView) {
          val meta = engine.dataFolder.metadata(name)
          if (meta.isTimeSeries) Some(meta) else None
        } else None
      case Project(exprs, inner) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        viewTable(engine, inner)
      case _ => None
    }

  private def stripAliases(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, inner) => stripAliases(inner)
    case View(_, _, inner, _) => stripAliases(inner)
    case other => other
  }

  private def spec(
      engine: Engine,
      meta: TableMetadata, groupTags: Set[String], bucket: Option[BucketSpec],
      windowId: Option[ExprId], bin: Option[ValueBin],
      phase: Option[TimePhase],
      expr: org.apache.spark.sql.catalyst.expressions.NamedExpression): Option[AggSpec] =
    expr match {
      case a: AttributeReference if windowId.contains(a.exprId) =>
        Some(WindowPart("struct", a.name))
      case Alias(a: AttributeReference, outName) if windowId.contains(a.exprId) =>
        Some(WindowPart("struct", outName))
      case Alias(GetStructField(a: AttributeReference, ord, _), outName)
          if windowId.contains(a.exprId) =>
        Some(WindowPart(if (ord == 0) "start" else "end", outName))
      case a: AttributeReference if groupTags.contains(a.name) => Some(TagRef(a.name))
      // An aliased tag key (`tag AS g`, as INCLUDE MERGE ships its group
      // keys): spliceRewrite re-aliases the output positionally.
      case Alias(a: AttributeReference, _) if groupTags.contains(a.name) =>
        Some(TagRef(a.name))
      case Alias(e, outName) if bucketSpecOf(meta, e).exists(bucket.contains) =>
        // The analyzer already guarantees a non-aggregate result expression
        // appears among the groupings, so this is THE bucket grouping.
        Some(BucketRef(outName))
      case Alias(e, outName) if valueBinOf(meta, e).exists(bin.contains) =>
        Some(ValueBinRef(outName))
      case Alias(e, outName) if timePhaseOf(meta, e).exists(phase.contains) =>
        Some(PhaseRef(outName))
      case Alias(AggregateExpression(Count(args), Complete, true, None, _), outName)
          if args.nonEmpty && args.forall {
            case a: AttributeReference => meta.tagColumns.contains(a.name)
            case _ => false
          } =>
        Some(TagDistinctAgg(
          args.collect { case a: AttributeReference => a.name }, outName))
      // FILTER-clause aggregates: the filter must be a pure value-bound
      // conjunction on ONE stored field (no ts/tag conjuncts — those
      // would need per-aggregate hybrid plans), and the aggregated
      // column must be the bound's own field (count: any column — all
      // are non-null and row-aligned) or the timestamp.
      case Alias(AggregateExpression(fn, Complete, false, Some(cond), _), outName) =>
        pureValueBound(meta, cond).flatMap { vb =>
          val kind = fn match {
            case Count(Seq(Literal(_, _))) => Some("count")
            case Count(Seq(a: AttributeReference))
                if a.name == vb.field || a.name == meta.timestampColumn ||
                  meta.tagColumns.contains(a.name) ||
                  meta.fieldColumns.contains(a.name) => Some("count")
            case Sum(a: AttributeReference, _) if a.name == vb.field =>
              Some("sum")
            case Average(a: AttributeReference, _) if a.name == vb.field =>
              Some("avg")
            case Min(a: AttributeReference)
                if a.name == meta.timestampColumn &&
                  a.dataType == TimestampType => Some("ts_min")
            case Max(a: AttributeReference)
                if a.name == meta.timestampColumn &&
                  a.dataType == TimestampType => Some("ts_max")
            case Min(a: AttributeReference) if a.name == vb.field => Some("min")
            case Max(a: AttributeReference) if a.name == vb.field => Some("max")
            case VarianceSamp(e1, _)
                if varianceField(meta, e1).contains(vb.field) =>
              Some("var_samp")
            case VariancePop(e1, _)
                if varianceField(meta, e1).contains(vb.field) =>
              Some("var_pop")
            case StddevSamp(e1, _)
                if varianceField(meta, e1).contains(vb.field) =>
              Some("stddev_samp")
            case StddevPop(e1, _)
                if varianceField(meta, e1).contains(vb.field) =>
              Some("stddev_pop")
            case _ => scala.None
          }
          kind.map(FilteredAgg(_, vb, outName))
        }
      case Alias(AggregateExpression(fn, Complete, false, None, _), outName) =>
        fn match {
          case Count(Seq(a: AttributeReference))
              if meta.fieldColumns.contains(a.name) =>
            Some(FieldAgg("count", a.name, outName))
          case Count(Seq(Literal(_, _))) =>
            // count(*) == count(first field) for ANY number of stored
            // fields: every ingest path writes all fields of a row together
            // and rejects NULLs (DataFolder.SegmentIterator.checkNoNulls),
            // and segment copies require matching schemas and move every
            // field's segments under one time filter — so fields are always
            // timestamp-aligned and each field's len equals the row count
            // of the reconstructed view.
            Some(FieldAgg("count", meta.fieldColumns.head, outName))
          case Count(Seq(a: AttributeReference))
              if a.name == meta.timestampColumn ||
                meta.tagColumns.contains(a.name) =>
            // ts and tag columns are non-null by construction, so their
            // count is the row count — same closed form as count(*).
            Some(FieldAgg("count", meta.fieldColumns.head, outName))
          case Min(a: AttributeReference)
              if a.name == meta.timestampColumn && a.dataType == TimestampType =>
            Some(TsAgg("min", outName))
          case Max(a: AttributeReference)
              if a.name == meta.timestampColumn && a.dataType == TimestampType =>
            Some(TsAgg("max", outName))
          case Min(a: AttributeReference) if meta.fieldColumns.contains(a.name) =>
            Some(FieldAgg("min", a.name, outName))
          case Max(a: AttributeReference) if meta.fieldColumns.contains(a.name) =>
            Some(FieldAgg("max", a.name, outName))
          case Sum(a: AttributeReference, _) if meta.fieldColumns.contains(a.name) =>
            Some(FieldAgg("sum", a.name, outName))
          case Average(a: AttributeReference, _) if meta.fieldColumns.contains(a.name) =>
            Some(FieldAgg("avg", a.name, outName))
          // Variance family over a bare stored field (the analyzer wraps
          // the float field in a cast to double). Linear expressions are
          // deliberately DECLINED: var(a*f+b) = a^2*var(f) only in exact
          // arithmetic — per-point float rounding of the expression breaks
          // the equality, so those grid rather than silently drift.
          case VarianceSamp(e1, _) =>
            varianceField(meta, e1).map(FieldAgg("var_samp", _, outName))
          case VariancePop(e1, _) =>
            varianceField(meta, e1).map(FieldAgg("var_pop", _, outName))
          case StddevSamp(e1, _) =>
            varianceField(meta, e1).map(FieldAgg("stddev_samp", _, outName))
          case StddevPop(e1, _) =>
            varianceField(meta, e1).map(FieldAgg("stddev_pop", _, outName))
          // FIRST/LAST by time — min_by/max_by(field, ts). Whole-table
          // and tag-grouped queries answer from whole-segment edges;
          // ranges and buckets route through the hybrid plans, whose
          // range-clipped __bp_vfirst/__bp_vlast partials carry the
          // IN-bucket edge (a winning segment's global edge point can
          // fall outside the bucket, so whole-segment edges alone would
          // be wrong there).
          case MinBy(v: AttributeReference, o: AttributeReference)
              if meta.fieldColumns.contains(v.name) &&
                o.name == meta.timestampColumn && o.dataType == TimestampType =>
            Some(FieldAgg("first", v.name, outName))
          case MaxBy(v: AttributeReference, o: AttributeReference)
              if meta.fieldColumns.contains(v.name) &&
                o.name == meta.timestampColumn && o.dataType == TimestampType =>
            Some(FieldAgg("last", v.name, outName))
          // Linear expressions of one stored field — including generated
          // columns that are linear over a stored field — fold onto the
          // base field's closed forms. Bare stored-field cases matched
          // above keep their plain FieldAgg plans.
          // percentile(f, q) / median(f): the exact-rank ladder answers
          // the two bracketing order statistics per group; Spark's own
          // interpolation replays on them. Scalar literal percentages
          // only (array percentages keep their list plan), frequency 1.
          case p: Percentile
              if p.dataType == DoubleType && !p.reverse &&
                (p.frequencyExpression match {
                  case Literal(1L, LongType) => true
                  case _ => false
                }) =>
            for {
              f <- varianceField(meta, p.child)
              q <- constOf(p.percentageExpression)
              if q >= 0.0 && q <= 1.0
            } yield PercentileAgg(f, q, outName)
          case md: Median =>
            varianceField(meta, md.child).map(f =>
              PercentileAgg(f, 0.5, outName))
          // percentile_cont(q) WITHIN GROUP (ORDER BY f): its runtime
          // replacement IS Percentile with the same interpolation.
          case PercentileCont(l, r, false) =>
            for {
              f <- varianceField(meta, l)
              q <- constOf(r)
              if q >= 0.0 && q <= 1.0
            } yield PercentileAgg(f, q, outName)
          // percentile_disc(q): the smallest value whose cumulative
          // share reaches q — rank ceil(q·n), EXACTLY one ladder order
          // statistic, no interpolation. Non-legacy selection only
          // (spark.sql.legacy.percentileDiscCalculation=false).
          case PercentileDisc(l, r, false, _, _, false) =>
            for {
              f <- varianceField(meta, l)
              q <- constOf(r)
              if q >= 0.0 && q <= 1.0
            } yield PercentileAgg(f, q, outName, disc = true)
          // count_if / any / every with a value-range predicate ride the
          // FILTER machinery: count_if(p) == count(*) FILTER (WHERE p),
          // any(p) == "some point qualifies" (count > 0), every(p) ==
          // "no point satisfies NOT p" (interval complement, count == 0).
          case CountIf(p) =>
            pureValueBound(meta, p).map(FilteredAgg("count", _, outName))
          case BoolOr(p) =>
            pureValueBound(meta, p).map(FilteredAgg("any", _, outName))
          case BoolAnd(p) =>
            pureValueBound(meta, p).map(vb => FilteredAgg("none",
              ValueBound(vb.field, complementIntervals(vb.intervals)),
              outName))
          case Count(Seq(e1)) =>
            linearOf(engine, meta, e1).map(le =>
              FieldExprAgg("count", le.field, outName, le.scale, le.shift,
                le.substitute))
          case Min(e1) =>
            linearOf(engine, meta, e1).map(le =>
              FieldExprAgg("min", le.field, outName, le.scale, le.shift,
                le.substitute))
          case Max(e1) =>
            linearOf(engine, meta, e1).map(le =>
              FieldExprAgg("max", le.field, outName, le.scale, le.shift,
                le.substitute))
          case Sum(e1, _) =>
            linearOf(engine, meta, e1).map(le =>
              FieldExprAgg("sum", le.field, outName, le.scale, le.shift,
                le.substitute))
          case Average(e1, _) =>
            linearOf(engine, meta, e1).map(le =>
              FieldExprAgg("avg", le.field, outName, le.scale, le.shift,
                le.substitute))
          case _ => None
        }
      case _ => None
    }

  /** The linear decomposition `scale * field + shift` of an analyzed
    * expression over exactly ONE stored-field occurrence, plus a
    * `substitute` that rebuilds the original expression tree around a
    * replacement for the field leaf (used for exact min/max: correctly
    * rounded +,-,*,/ by finite literals and float<->double widenings are
    * weakly monotone, so applying the original ops to the closed-form
    * extreme reproduces the per-point result bit-for-bit).
    */
  private final case class LinearExpr(
    field: String, scale: Double, shift: Double,
    substitute: Expression => Expression)

  private def linearOf(
      engine: Engine, meta: TableMetadata, e: Expression,
      allowGenerated: Boolean = true): Option[LinearExpr] = {
    def go(x: Expression):
        Option[(ExprId, Expression => Expression, String, Double, Double)] =
      x match {
        case a: AttributeReference
            if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
          Some((a.exprId, (repl: Expression) => repl, a.name, 1.0, 0.0))
        case a: AttributeReference
            if allowGenerated && a.dataType == FloatType &&
              meta.generatedColumns.exists(_.name == a.name) =>
          for {
            g <- meta.generatedColumns.find(_.name == a.name)
            template <- analyzeGenerated(engine, meta, g.generatedExpr)
            inner <- linearOf(engine, meta, template, allowGenerated = false)
          } yield (a.exprId, (repl: Expression) => inner.substitute(repl),
            inner.field, inner.scale, inner.shift)
        // Widening float->double (Divide and decimal-literal arithmetic
        // insert it) is exact; narrowing back to float (the generated
        // column cast) is correctly rounded — both weakly monotone.
        case Cast(c, DoubleType, _, _) if c.dataType == FloatType => go(c)
        case Cast(c, FloatType, _, _)
            if c.dataType == DoubleType || c.dataType == FloatType => go(c)
        case Multiply(l, r, _) => (go(l), constOf(r)) match {
          case (Some((id, lr, f, s, b)), Some(c)) => Some((id, lr, f, s * c, b * c))
          case _ => (constOf(l), go(r)) match {
            case (Some(c), Some((id, lr, f, s, b))) => Some((id, lr, f, s * c, b * c))
            case _ => scala.None
          }
        }
        case Divide(l, r, _) => (go(l), constOf(r)) match {
          case (Some((id, lr, f, s, b)), Some(c)) if c != 0.0 =>
            Some((id, lr, f, s / c, b / c))
          case _ => scala.None
        }
        case Add(l, r, _) => (go(l), constOf(r)) match {
          case (Some((id, lr, f, s, b)), Some(c)) => Some((id, lr, f, s, b + c))
          case _ => (constOf(l), go(r)) match {
            case (Some(c), Some((id, lr, f, s, b))) => Some((id, lr, f, s, b + c))
            case _ => scala.None
          }
        }
        case Subtract(l, r, _) => (go(l), constOf(r)) match {
          case (Some((id, lr, f, s, b)), Some(c)) => Some((id, lr, f, s, b - c))
          case _ => (constOf(l), go(r)) match {
            case (Some(c), Some((id, lr, f, s, b))) => Some((id, lr, f, -s, c - b))
            case _ => scala.None
          }
        }
        case UnaryMinus(c, _) =>
          go(c).map { case (id, lr, f, s, b) => (id, lr, f, -s, -b) }
        case _ => scala.None
      }
    go(e).filter { case (_, _, _, s, b) =>
      // scale == 0 degenerates to a constant (and breaks the min/max
      // direction choice); non-finite coefficients break monotonicity.
      s != 0.0 && java.lang.Double.isFinite(s) && java.lang.Double.isFinite(b)
    }.map { case (id, leafRepl, f, s, b) =>
      LinearExpr(f, s, b, repl => e.transform {
        case a: AttributeReference if a.exprId == id => leafRepl(repl)
      })
    }
  }

  /** A finite literal (possibly under foldable casts) as a Double. */
  /** The (field, origin, width) of a value-bin grouping expression:
    * `floor((field - origin) / width)` or `floor(field / width)` (origin
    * 0; `v - 0.0 == v` for every float including -0.0 and NaN, so the two
    * spellings bin identically) over ONE bare stored float field beneath
    * the analyzer's widening cast. Origin/width must be finite literals,
    * width positive. The engine's histogram kernel computes the identical
    * f64 `floor((v - o) / w)` per point, so the splice is exact.
    */
  private def valueBinOf(
      meta: TableMetadata, e: Expression): Option[ValueBin] = {
    def fieldOf(x: Expression): Option[String] = x match {
      case Cast(a: AttributeReference, DoubleType, _, _)
          if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
        Some(a.name)
      case a: AttributeReference
          if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
        Some(a.name)
      case _ => scala.None
    }
    e match {
      // The kernel computes f64 arithmetic — a DECIMAL-typed divide
      // (possible with decimal literals under some parse modes) must
      // decline rather than silently differ.
      case Floor(d @ Divide(Subtract(v, o, _), w, _))
          if d.dataType == DoubleType =>
        for {
          f <- fieldOf(v)
          ov <- constOf(o)
          wv <- constOf(w) if wv > 0
        } yield ValueBin(f, ov, wv)
      case Floor(d @ Divide(v, w, _)) if d.dataType == DoubleType =>
        for (f <- fieldOf(v); wv <- constOf(w) if wv > 0)
          yield ValueBin(f, 0.0, wv)
      case _ => scala.None
    }
  }

  /** The TimePhase of a calendar-extraction grouping over the timestamp
    * column, recognized only when every zone involved is a fixed ZERO
    * offset — there hour/minute/second/day-of-week are pure epoch floor
    * arithmetic ((µs / grain) mod period), exactly what
    * [[graft.tsdb.Engine.seasonalProfile]] computes. DST zones shift the
    * phase boundary twice a year and decline to the grid.
    */
  private def timePhaseOf(
      meta: TableMetadata, e: Expression): Option[TimePhase] = {
    def isTs(a: AttributeReference) =
      a.name == meta.timestampColumn && a.dataType == TimestampType
    def tsDate(x: Expression): Boolean = x match {
      // dayofweek/weekday take a DATE: the analyzer casts ts with the
      // session zone; only a zero offset keeps date = epoch-day floor.
      case Cast(a: AttributeReference, org.apache.spark.sql.types.DateType,
          zid, _) => isTs(a) && zid.forall(isUtcZone)
      case _ => false
    }
    e match {
      case Hour(a: AttributeReference, zid)
          if isTs(a) && zid.forall(isUtcZone) =>
        Some(TimePhase(3600000000L, 24, 0, 0))
      case Minute(a: AttributeReference, zid)
          if isTs(a) && zid.forall(isUtcZone) =>
        Some(TimePhase(60000000L, 60, 0, 0))
      case Second(a: AttributeReference, zid)
          if isTs(a) && zid.forall(isUtcZone) =>
        Some(TimePhase(1000000L, 60, 0, 0))
      case DayOfWeek(d) if tsDate(d) => // 1 = Sunday; epoch day 0 = Thursday
        Some(TimePhase(86400000000L, 7, 4, 1))
      case WeekDay(d) if tsDate(d) => // 0 = Monday
        Some(TimePhase(86400000000L, 7, 3, 0))
      case _ => scala.None
    }
  }

  private def constOf(e: Expression): Option[Double] =
    if (e.foldable && e.deterministic &&
        e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) {
      e.eval(InternalRow.empty) match {
        case null => scala.None
        case d: org.apache.spark.sql.types.Decimal =>
          Some(d.toDouble).filter(java.lang.Double.isFinite)
        case n: java.lang.Number =>
          Some(n.doubleValue()).filter(java.lang.Double.isFinite)
        case _ => scala.None
      }
    } else scala.None

  /** The analyzed expression a generated column computes in the logical
    * view — `expr(sql).cast(FLOAT)` resolved against the stored-field
    * schema, mirroring GridView.withGeneratedAndOrder exactly.
    */
  private def analyzeGenerated(
      engine: Engine, meta: TableMetadata, sql: String): Option[Expression] =
    try {
      val schema = org.apache.spark.sql.types.StructType(meta.fieldColumns.map(
        f => org.apache.spark.sql.types.StructField(f, FloatType, nullable = false)))
      val empty = engine.spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      empty.select(org.apache.spark.sql.functions.expr(sql)
          .cast(FloatType).as("__g"))
        .queryExecution.analyzed.collectFirst {
          case Project(Seq(Alias(c, _)), _) => c
        }
    } catch { case scala.util.control.NonFatal(_) => scala.None }

  /** The base closed-form kinds a linear-expression aggregate needs from
    * the segment readers.
    */
  private def baseKinds(fe: FieldExprAgg): Seq[String] = fe.kind match {
    case "count" => Seq("count")
    case "sum" => if (fe.shift == 0.0) Seq("sum") else Seq("sum", "count")
    case "avg" => Seq("avg")
    case "min" => Seq(if (fe.scale > 0) "min" else "max")
    case _ => Seq(if (fe.scale > 0) "max" else "min")
  }

  /** The output column of a linear-expression aggregate over base
    * closed-form columns: count passes through (f is non-null and the
    * literals finite with non-zero divisors, so the expression never
    * nulls a row), sum/avg fold the coefficients, min/max re-apply the
    * ORIGINAL expression to the base extreme — exact by monotonicity.
    */
  private def exprAggColumn(
      fe: FieldExprAgg,
      base: String => org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    fe.kind match {
      case "count" => base("count")
      case "sum" =>
        if (fe.shift == 0.0) lit(fe.scale) * base("sum")
        else lit(fe.scale) * base("sum") + lit(fe.shift) * base("count")
      case "avg" => lit(fe.scale) * base("avg") + lit(fe.shift)
      case _ => ColumnBridge.column(
        fe.substitute(ColumnBridge.expression(base(baseKinds(fe).head))))
    }
  }

  /** TEST-ONLY mutation hook for the metamorphic fuzz harness
    * (SqlRewriteFuzzSpec): when set, every accepted time-ranged shape is
    * built with its end bound silently extended by one second — a planted
    * wrong-accept the splice-vs-gridded equivalence check MUST flag. Never
    * set outside tests.
    */
  private[plans] var plantRangeBugForTests: Boolean = false

  private[plans] def build(engine: Engine, m0: MatchResult): DataFrame = {
    import SegmentSlice.instant
    val m =
      if (plantRangeBugForTests) m0.copy(endUs = m0.endUs.map(_ + 1000000L))
      else m0
    if (m.valueBound.nonEmpty) {
      // Value-predicate aggregates. COUNT-only queries route through
      // thresholdCount — stored bounds settle most segments without
      // decode, and an upper-only bound counts by complement against the
      // same pass's total. SUM/MIN/MAX/AVG route through thresholdStats
      // (one kernel pass per straddling segment). Either way, tag groups
      // where NOTHING qualifies are dropped — the gridded plan's Filter
      // removes those rows before grouping, so the groups never exist.
      val vb = m.valueBound.get
      val countsOnly = m.specs.forall {
        case TagRef(_) | FieldAgg("count", _, _) => true
        case _ => false
      }
      if (m.bucket.nonEmpty) {
        // Per-bucket filtered stats: exceedances per day, first/last
        // qualifying timestamp per bucket, and the rest of the family.
        val w = m.bucket.get match {
          case FixedUs(us) => us
          case other => throw new IllegalStateException(
            s"non-fixed bucket $other under a value predicate")
        }
        val f = vb.field
        val (bLo, bUp) = vb.intervals.head
        val bs = engine.thresholdStatsBucketed(m.meta.name, f,
          java.time.Duration.of(w, java.time.temporal.ChronoUnit.MICROS),
          bLo, bUp, m.groupTags, m.startUs.map(instant),
          m.endUs.map(instant), m.tagEq, m.tagIn)
        val nonEmpty = bs.where(col(s"count_in_$f") > 0L)
        val wStart = col("bucket")
        val wEnd = timestamp_micros(unix_micros(col("bucket")) + lit(w))
        val ordered = m.specs.map {
          case TagRef(tag) => col(tag)
          case BucketRef(outName) => col("bucket").as(outName)
          case WindowPart("struct", outName) =>
            struct(wStart.as("start"), wEnd.as("end")).as(outName)
          case WindowPart("start", outName) => wStart.as(outName)
          case WindowPart("end", outName) => wEnd.as(outName)
          case FieldAgg("count", _, outName) =>
            col(s"count_in_$f").as(outName)
          case FieldAgg("avg", _, outName) =>
            (col(s"sum_in_$f") / col(s"count_in_$f").cast("double"))
              .as(outName)
          case FieldAgg(kind @ ("sum" | "min" | "max" | "var_samp" |
              "var_pop" | "stddev_samp" | "stddev_pop"), _, outName) =>
            col(s"${kind}_in_$f").as(outName)
          case TsAgg(kind, outName) =>
            col(s"${kind}_ts_in_$f").as(outName)
          case other => throw new IllegalStateException(
            s"unsupported spec $other under a bucketed value predicate")
        }
        nonEmpty.select(ordered: _*)
      } else if (countsOnly && vb.intervals.size == 1) {
        val (lower, upper, complement) = vb.intervals.head match {
          case (Some(l), Some(u)) => (l, u, false)
          case (Some(l), scala.None) => (l, Double.NaN, false)
          case (scala.None, Some(u)) => (u, Double.NaN, true)
          case (scala.None, scala.None) =>
            throw new IllegalStateException("value bound without bounds")
        }
        val tc = engine.thresholdCount(m.meta.name, vb.field, lower, upper,
          m.groupTags, m.startUs.map(instant), m.endUs.map(instant), m.tagEq,
          m.tagIn)
        val cnt =
          if (complement) col(s"count_${vb.field}") - col(s"count_in_${vb.field}")
          else col(s"count_in_${vb.field}")
        val nonEmpty = if (m.groupTags.nonEmpty) tc.where(cnt > 0L) else tc
        val ordered = m.specs.map {
          case TagRef(tag) => col(tag)
          case FieldAgg("count", _, outName) => cnt.as(outName)
          case other => throw new IllegalStateException(
            s"non-count spec $other under a value predicate")
        }
        nonEmpty.select(ordered: _*)
      } else {
        val f = vb.field
        val ts = engine.thresholdStatsMulti(m.meta.name, f, vb.intervals,
          m.groupTags, m.startUs.map(instant), m.endUs.map(instant), m.tagEq,
          m.tagIn)
        val nonEmpty =
          if (m.groupTags.nonEmpty) ts.where(col(s"count_in_$f") > 0L)
          else ts
        val ordered = m.specs.map {
          case TagRef(tag) => col(tag)
          case FieldAgg("count", _, outName) =>
            col(s"count_in_$f").as(outName)
          case FieldAgg(kind @ ("sum" | "min" | "max" | "avg" | "var_samp" |
              "var_pop" | "stddev_samp" | "stddev_pop"), _, outName) =>
            col(s"${kind}_in_$f").as(outName)
          case TsAgg(kind, outName) =>
            col(s"${kind}_ts_in_$f").as(outName)
          case other => throw new IllegalStateException(
            s"unsupported spec $other under a value predicate")
        }
        nonEmpty.select(ordered: _*)
      }
    } else if (m.valueBin.nonEmpty) {
      // Value-bin grouping: the SQL spelling of a fixed-width histogram —
      // route through valueHistogram in Spark-floor semantics (non-finite
      // values keep Spark's FLOOR(double)->LONG bins), so the splice is
      // bit-identical to the gridded Aggregate on any data. Single-bin
      // segments (decided from stored bounds) contribute (bin, len)
      // metadata-only; stragglers run the monotone bin-run kernel.
      val b = m.valueBin.get
      val hist = engine.valueHistogram(m.meta.name, b.field, b.origin,
        b.width, m.groupTags, m.startUs.map(instant), m.endUs.map(instant),
        m.tagEq, m.tagIn, sparkFloorBins = true)
      val ordered = m.specs.map {
        case TagRef(tag) => col(tag)
        case ValueBinRef(outName) => col("bin").as(outName)
        case FieldAgg("count", _, outName) =>
          // Fields are timestamp-aligned and non-null, so every count
          // over a bin-grouped set is the bin's row count.
          col(s"count_${b.field}").as(outName)
        case other => throw new IllegalStateException(
          s"non-count spec $other under a value-bin grouping")
      }
      hist.select(ordered: _*)
    } else if (m.timePhase.nonEmpty) {
      // Calendar-phase grouping (hour/minute/second/day-of-week under a
      // zero-offset zone): grain buckets come from the segment-native
      // bucketed plan, the tiny bucket frame folds by phase —
      // counts/sums add exactly, min/max nest exactly, avg = Σsum/Σcount.
      val tp = m.timePhase.get
      val field = m.specs.collect {
        case FieldAgg(k, f, _) if k != "count" => f
      }.distinct.headOption.getOrElse(m.meta.fieldColumns.head)
      val prof = engine.seasonalProfile(m.meta.name, field,
        java.time.Duration.of(tp.grainUs, java.time.temporal.ChronoUnit.MICROS),
        tp.phases, m.groupTags, m.startUs.map(instant), m.endUs.map(instant),
        m.tagEq, m.tagIn)
      val phaseOut =
        if (tp.shift == 0 && tp.base == 0) col("phase")
        else pmod(col("phase") + lit(tp.shift.toLong), lit(tp.phases.toLong)) +
          lit(tp.base.toLong)
      val ordered = m.specs.map {
        case TagRef(tag) => col(tag)
        case PhaseRef(outName) => phaseOut.as(outName)
        case FieldAgg(kind, _, outName) =>
          col(s"${kind}_$field").as(outName)
        case other => throw new IllegalStateException(
          s"unsupported spec $other under a time-phase grouping")
      }
      prof.select(ordered: _*)
    } else if (m.specs.exists(_.isInstanceOf[FilteredAgg])) {
      // FILTER-clause aggregates: one thresholdStats pass per DISTINCT
      // bound, every group kept (FILTER keeps groups, unlike WHERE),
      // joined with the unfiltered closed forms on the tag keys. Every
      // joined frame is already aggregated — one row per group — so the
      // joins are answer-sized; internal names are positional to survive
      // duplicate SQL output names.
      val bounds = m.specs.collect { case fa: FilteredAgg => fa.bound }.distinct
      val idxOf = bounds.zipWithIndex.toMap
      val bucketUs = m.bucket.map {
        case FixedUs(us) => us
        case other => throw new IllegalStateException(
          s"non-fixed bucket $other beside FILTER aggregates")
      }
      val joinKeys = m.groupTags ++
        (if (bucketUs.nonEmpty) Seq("__graft_b") else Seq.empty)
      val boundFrames = bounds.zipWithIndex.map { case (b, i) =>
        val f = b.field
        val base = bucketUs match {
          case Some(w) =>
            val (bLo, bUp) = b.intervals.head
            engine.thresholdStatsBucketed(m.meta.name, f,
              java.time.Duration.of(w, java.time.temporal.ChronoUnit.MICROS),
              bLo, bUp, m.groupTags, m.startUs.map(instant),
              m.endUs.map(instant), m.tagEq, m.tagIn)
              .withColumnRenamed("bucket", "__graft_b")
          case scala.None =>
            engine.thresholdStatsMulti(m.meta.name, f, b.intervals,
              m.groupTags, m.startUs.map(instant), m.endUs.map(instant),
              m.tagEq, m.tagIn)
        }
        base.select(joinKeys.map(col) ++ Seq(
          col(s"count_in_$f").as(s"__fb${i}_count"),
          col(s"sum_in_$f").as(s"__fb${i}_sum"),
          col(s"min_in_$f").as(s"__fb${i}_min"),
          col(s"max_in_$f").as(s"__fb${i}_max"),
          // Bucketed engine output carries no avg column — Average's
          // sum/count arithmetic is identical either way.
          (col(s"sum_in_$f") / col(s"count_in_$f").cast("double"))
            .as(s"__fb${i}_avg"),
          col(s"min_ts_in_$f").as(s"__fb${i}_ts_min"),
          col(s"max_ts_in_$f").as(s"__fb${i}_ts_max"),
          col(s"var_samp_in_$f").as(s"__fb${i}_var_samp"),
          col(s"var_pop_in_$f").as(s"__fb${i}_var_pop"),
          col(s"stddev_samp_in_$f").as(s"__fb${i}_stddev_samp"),
          col(s"stddev_pop_in_$f").as(s"__fb${i}_stddev_pop")): _*)
      }
      val renamedPlain = m.specs.zipWithIndex.collect {
        case (s, i) if !s.isInstanceOf[FilteredAgg] &&
            !s.isInstanceOf[TagRef] && !s.isInstanceOf[BucketRef] => s match {
          case FieldAgg(k, f2, _) => FieldAgg(k, f2, s"__pb$i")
          case TsAgg(k, _) => TsAgg(k, s"__pb$i")
          case fe: FieldExprAgg => fe.copy(outName = s"__pb$i")
          case other => throw new IllegalStateException(
            s"unsupported spec $other beside FILTER aggregates")
        }
      }
      // Under a bucket grouping the PLAIN frame defines the key set (the
      // gridded GROUP BY emits exactly the buckets holding >= 1 row; a
      // bound frame may carry extra all-empty buckets from straddler
      // spans, dropped by the inner join). With no unfiltered aggregate
      // a closed-form count stands in, unselected.
      val needPlain = renamedPlain.nonEmpty || bucketUs.nonEmpty
      val plainSpecs = m.groupTags.map(TagRef(_)) ++
        (if (bucketUs.nonEmpty) Seq(BucketRef("__graft_b")) else Seq.empty) ++
        (if (renamedPlain.nonEmpty) renamedPlain
         else Seq(FieldAgg("count", bounds.head.field, "__pb_keys")))
      val plainOpt =
        if (needPlain) Some(build(engine, m.copy(specs = plainSpecs)))
        else scala.None
      val joined = (plainOpt.toSeq ++ boundFrames).reduce { (a, b) =>
        if (joinKeys.isEmpty) a.crossJoin(b) else a.join(b, joinKeys)
      }
      val ordered = m.specs.zipWithIndex.map { case (s, i) => s match {
        case TagRef(tag) => col(tag)
        case BucketRef(outName) => col("__graft_b").as(outName)
        case FilteredAgg("any", b, outName) =>
          (col(s"__fb${idxOf(b)}_count") > 0L).as(outName)
        case FilteredAgg("none", b, outName) =>
          (col(s"__fb${idxOf(b)}_count") === 0L).as(outName)
        case FilteredAgg(kind, b, outName) =>
          col(s"__fb${idxOf(b)}_$kind").as(outName)
        case FieldAgg(_, _, outName) => col(s"__pb$i").as(outName)
        case TsAgg(_, outName) => col(s"__pb$i").as(outName)
        case fe: FieldExprAgg => col(s"__pb$i").as(fe.outName)
        case other => throw new IllegalStateException(
          s"unsupported spec $other beside FILTER aggregates")
      }}
      joined.select(ordered: _*)
    } else if (m.specs.exists(_.isInstanceOf[PercentileAgg])) {
      // percentile/median: resolve the two bracketing order statistics
      // per group with the exact-rank ladder (no sort, no decode, ~10
      // jobs regardless of group count), then replay Spark's OWN
      // interpolation — (higher−pos)·vLo + (pos−lower)·vHi with the
      // boxed-equality shortcut — so the splice reproduces Percentile's
      // result exactly. The output is an answer-sized driver frame.
      val pAggs = m.specs.collect { case p: PercentileAgg => p }
      val field = pAggs.map(_.field).distinct.head
      val (counts, resolved) = engine.exactRanksBy(m.meta.name, field,
        pAggs.map(p => (p.q, p.disc)).distinct,
        m.groupTags, m.startUs.map(instant), m.endUs.map(instant),
        m.tagEq, m.tagIn)
      // A group whose segments overlap the time range but hold no
      // in-range points has n = 0. The gridded plan this splice replaces
      // emits no row for such a group (GROUP BY over zero rows) — drop it
      // here too.
      val groups = counts.keys.toSeq.filter(g => counts(g) > 0L)
        .sortBy(_.mkString("\u0000"))
      val rows =
        if (groups.isEmpty && m.groupTags.isEmpty)
          // An UNGROUPED aggregate over an empty range still returns one
          // row (NULL percentiles) — the global-aggregate SQL shape.
          Seq(org.apache.spark.sql.Row.fromSeq(m.specs.map(_ => null)))
        else groups.map { g =>
        org.apache.spark.sql.Row.fromSeq(m.specs.map {
          case TagRef(tag) => g(m.groupTags.indexOf(tag))
          case PercentileAgg(_, q, _, disc) =>
            engine.rankValue(counts, resolved, g, q, disc)
          case other => throw new IllegalStateException(
            s"unsupported spec $other alongside percentiles")
        })
      }
      val schema = org.apache.spark.sql.types.StructType(m.specs.map {
        case TagRef(tag) =>
          org.apache.spark.sql.types.StructField(tag, StringType)
        case PercentileAgg(_, _, outName, _) =>
          org.apache.spark.sql.types.StructField(outName, DoubleType)
        case other => throw new IllegalStateException(
          s"unsupported spec $other alongside percentiles")
      })
      engine.spark.createDataFrame(
        engine.spark.sparkContext.parallelize(rows, 1), schema)
    } else if (!m.specs.exists(s => s.isInstanceOf[FieldAgg] || s.isInstanceOf[TsAgg] ||
        s.isInstanceOf[TagDistinctAgg] || s.isInstanceOf[FieldExprAgg])) {
      // Pure tag grouping (`SELECT DISTINCT tag`, `GROUP BY tag` with no
      // aggregates): every tag combination is denormalized into its
      // segments, so DISTINCT over the segment relation is exact —
      // metadata-only, no reconstruction. (matchAggregate already declined
      // time ranges and bucket groupings here.)
      val segments = new SegmentSlice(engine.dataFolder, m.meta, Seq.empty,
        scala.None, scala.None, m.tagEq, m.tagIn).segments
      val ordered = m.specs.collect { case TagRef(tag) => col(tag) }
      segments.select(ordered: _*).distinct()
    } else if (m.bucket.nonEmpty) {
      // Time-bucket grouping: the generalized hybrid plan — contained
      // segments answered by closed forms, bucket-straddlers gridded.
      val fields0 = m.specs.collect {
        case FieldAgg(_, f, _) => f
        case fe: FieldExprAgg => fe.field
      }.distinct
      // A ts-extent-only query still scans one field partition (any one:
      // fields are timestamp-aligned) rather than all of them.
      val fields =
        if (fields0.nonEmpty) fields0 else Seq(m.meta.fieldColumns.head)
      val kinds = m.specs.flatMap {
        case FieldAgg(k, _, _) => Seq(k)
        case fe: FieldExprAgg => baseKinds(fe)
        case _ => Seq.empty
      }.distinct
      val aggs: Seq[engine.Aggregate] = kinds.map(kindToAggregate(engine))
      val tsAggs: Seq[engine.Aggregate] = m.specs
        .collect { case TsAgg(k, _) => k }.distinct.map(kindToAggregate(engine))
      val bucketed = m.bucket.get match {
        case FixedUs(us) => engine.readTimeSeriesTableBucketed(m.meta.name,
          java.time.Duration.of(us, java.time.temporal.ChronoUnit.MICROS),
          fields, aggs, m.groupTags, m.startUs.map(instant),
          m.endUs.map(instant), m.tagEq, m.tagIn, tsAggs)
        case CalendarTrunc(unit, zone) => engine.readTimeSeriesTableTruncated(
          m.meta.name, unit, zone, fields, aggs, m.groupTags,
          m.startUs.map(instant), m.endUs.map(instant), m.tagEq, m.tagIn,
          tsAggs)
      }
      val ordered = m.specs.map {
        case TagRef(tag) => col(tag)
        case BucketRef(outName) => col("bucket").as(outName)
        case WindowPart(part, outName) =>
          // Tumbling window output: bucket IS the window start; end is one
          // width later (FixedUs is the only BucketSpec reaching here —
          // window groupings are matched as epoch-aligned fixed widths).
          val widthUs = m.bucket.get match {
            case FixedUs(us) => us
            case other => throw new IllegalStateException(
              s"window grouping over non-fixed bucket $other")
          }
          val start = col("bucket")
          val end = timestamp_micros(unix_micros(col("bucket")) + widthUs)
          part match {
            case "start" => start.as(outName)
            case "end" => end.as(outName)
            case _ => struct(start.as("start"), end.as("end")).as(outName)
          }
        case FieldAgg(kind, field, outName) => col(s"${kind}_$field").as(outName)
        case fe: FieldExprAgg =>
          exprAggColumn(fe, k => col(s"${k}_${fe.field}")).as(fe.outName)
        case TsAgg(kind, outName) =>
          col(s"${kind}_${m.meta.timestampColumn}").as(outName)
        case TagDistinctAgg(_, _) =>
          throw new IllegalStateException("distinct-tag counts decline buckets")
      }
      bucketed.select(ordered: _*)
    } else if (m.startUs.isEmpty && m.endUs.isEmpty && (m.groupTags.nonEmpty ||
        m.specs.exists(_.isInstanceOf[TagDistinctAgg]))) {
      // Grouped whole-table statements and distinct-tag counts: one
      // aggregate over the segment relation computes exactly the requested
      // (kind, field) pairs; tag equalities and IN-lists prune it directly —
      // still metadata-only.
      buildWholeTable(engine, m.meta, m.groupTags, m.specs, m.tagEq, m.tagIn)
    } else {
      // Route through the engine's structured read — tag equalities and
      // IN-lists stay segment-native prunes, a time range takes the hybrid
      // interior/boundary plan, and ungrouped simple aggregates read the
      // files wholly inside the range from their manifest value stats.
      // One pass answers every requested kind.
      val fields0 = m.specs.collect {
        case FieldAgg(_, f, _) => f
        case fe: FieldExprAgg => fe.field
      }.distinct
      val fields =
        if (fields0.nonEmpty) fields0 else Seq(m.meta.fieldColumns.head)
      val kinds = m.specs.flatMap {
        case FieldAgg(k, _, _) => Seq(k)
        case fe: FieldExprAgg => baseKinds(fe)
        case _ => Seq.empty
      }.distinct
      val aggs: Seq[engine.Aggregate] = kinds.map(kindToAggregate(engine))
      val tsAggs: Seq[engine.Aggregate] = m.specs
        .collect { case TsAgg(k, _) => k }.distinct.map(kindToAggregate(engine))
      val multi = engine.readTimeSeriesTableMulti(m.meta.name, fields, aggs,
        m.groupTags, m.startUs.map(instant), m.endUs.map(instant), m.tagEq,
        m.tagIn, tsAggs)
      val ordered = m.specs.map {
        case TagRef(tag) => col(tag)
        case FieldAgg(kind, field, outName) => col(s"${kind}_$field").as(outName)
        case fe: FieldExprAgg =>
          exprAggColumn(fe, k => col(s"${k}_${fe.field}")).as(fe.outName)
        case BucketRef(_) | WindowPart(_, _) =>
          throw new IllegalStateException("bucket groupings branch earlier")
        case TsAgg(kind, outName) =>
          col(s"${kind}_${m.meta.timestampColumn}").as(outName)
        case TagDistinctAgg(_, _) =>
          throw new IllegalStateException("distinct-tag counts branch earlier")
      }
      multi.select(ordered: _*)
    }
  }

  private def kindToAggregate(engine: Engine)(kind: String): engine.Aggregate =
    kind match {
      case "count" => engine.Aggregate.Count
      case "min" => engine.Aggregate.Min
      case "max" => engine.Aggregate.Max
      case "sum" => engine.Aggregate.Sum
      case "avg" => engine.Aggregate.Avg
      case "var_samp" => engine.Aggregate.VarSamp
      case "var_pop" => engine.Aggregate.VarPop
      case "stddev_samp" => engine.Aggregate.StdSamp
      case "stddev_pop" => engine.Aggregate.StdPop
      case "first" => engine.Aggregate.First
      case "last" => engine.Aggregate.Last
      case other => throw new IllegalArgumentException(s"Unknown aggregate $other.")
    }

  /** The stored float field under a variance-family aggregate — bare or
    * beneath the analyzer's widening cast to double.
    */
  private def varianceField(
      meta: TableMetadata, e: Expression): Option[String] = e match {
    case a: AttributeReference
        if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
      Some(a.name)
    case Cast(a: AttributeReference, DoubleType, _, _)
        if meta.fieldColumns.contains(a.name) && a.dataType == FloatType =>
      Some(a.name)
    case _ => scala.None
  }

  private def buildWholeTable(
      engine: Engine, meta: TableMetadata, groupTags: Seq[String],
      specs: Seq[AggSpec], tagEq: Map[String, String],
      tagIn: Map[String, Seq[String]]): DataFrame = {
    // Restrict the scan to the aggregated fields' partitions (ingest keeps
    // fields timestamp-aligned, so tag groups are identical across field
    // partitions and the per-field conditionals below are unchanged):
    // `SELECT sum(f1) FROM t` on a 32-field table reads 1/32 of it.
    // A TsAgg-only query still needs one field partition scanned (any one:
    // fields are timestamp-aligned, so every partition spans the same time
    // extent).
    val fieldAggFields = specs.collect {
      case FieldAgg(_, f, _) => f
      case fe: FieldExprAgg => fe.field
    }.distinct
    val segments = new SegmentSlice(engine.dataFolder, meta, fieldAggFields,
      scala.None, scala.None, tagEq, tagIn, extentOnly = true).segments
    val aggCols = specs.collect {
      case FieldAgg(kind, field, outName) =>
        SegmentAggregates.aggColumnFor(kind, meta.fieldIndex(field)).as(outName)
      case TsAgg("min", outName) =>
        timestamp_micros(min(col("start_time"))).as(outName)
      case TsAgg(_, outName) =>
        timestamp_micros(max(col("end_time"))).as(outName)
      case TagDistinctAgg(tags, outName) =>
        // Exact: every tag combination with ≥1 point has ≥1 segment row.
        // Restricting to the aggregated fields' partitions is safe — tag
        // combinations are identical across field partitions (alignment).
        countDistinct(col(tags.head), tags.tail.map(col): _*).as(outName)
      case fe: FieldExprAgg =>
        val idx = meta.fieldIndex(fe.field)
        exprAggColumn(fe, k => SegmentAggregates.aggColumnFor(k, idx))
          .as(fe.outName)
    }

    val grouped =
      if (groupTags.isEmpty) segments.agg(aggCols.head, aggCols.tail: _*)
      else segments.groupBy(groupTags.map(col): _*).agg(aggCols.head, aggCols.tail: _*)

    // Preserve the original result column order (tags may interleave).
    val ordered = specs.map {
      case TagRef(tag) => col(tag)
      case FieldAgg(_, _, outName) => col(outName)
      case TsAgg(_, outName) => col(outName)
      case TagDistinctAgg(_, outName) => col(outName)
      case fe: FieldExprAgg => col(fe.outName)
      case BucketRef(_) | WindowPart(_, _) =>
        throw new IllegalStateException("bucket groupings branch earlier")
    }
    grouped.select(ordered: _*)
  }
}
