package graft.tsdb

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Compressor, ErrorBound}

/** The decode generators must participate in whole-stage codegen (no
  * CodegenFallback generator breaking the stage at the Generate boundary)
  * and their partial-aggregate kernel must follow Spark's float aggregate
  * semantics — NaN sorts greatest, so MAX is NaN as soon as one value is
  * and MIN ignores NaN unless every value is — never emitting the ±Inf
  * init sentinels.
  */
class GridCodegenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def newEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft_cg").toString)

  test("decode generators are codegen-capable") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit = Literal(1)
    val gp = GridPoints(lit, lit, lit, lit, lit, lit, lit, lit)
    assert(gp.supportCodegen, "GridPoints must not be CodegenFallback")
    val bp = BucketPartials(1000L, None, None, true, lit, lit, lit, lit,
      lit, lit, lit, lit)
    assert(bp.supportCodegen, "BucketPartials must not be CodegenFallback")
    // Every segment kernel expression runs inside whole-stage codegen —
    // except SegmentValuesInRange, the once-per-statement federated fetch,
    // which is CodegenFallback by design.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val kernels = Seq(
      SegmentLen(lit, lit, lit),
      SegmentSum(lit, lit, lit, lit, lit, lit, lit, lit),
      SegmentSumStats(lit, lit, lit, lit, lit, lit, lit, lit),
      SegmentEdgeValues(lit, lit, lit, lit, lit, lit, lit, lit),
      SegmentTimeGaps(1L, lit, lit, lit),
      SegmentCountInRange(lit, lit, lit, lit, lit, lit, lit, lit, lit, lit,
        lit, lit),
      SegmentStatsInRange(false, lit, lit, lit, lit, lit, lit, lit, lit, lit,
        lit, lit, lit),
      SegmentStatsInRanges(Seq(0.0), Seq(1.0), 0L, 1L, lit, lit, lit, lit,
        lit, lit, lit, lit),
      SegmentClippedLen(0L, 1L, lit, lit, lit),
      SegmentCountAboveMulti(lit, lit, lit, lit, lit, lit, lit, lit, lit, lit,
        lit),
      SegmentRegressionSums(0L, 0L, 1L, lit, lit, lit, lit, lit, lit, lit,
        lit),
      FloatTotalOrderKey(lit),
      FloatFromOrderKey(lit))
    kernels.foreach { k =>
      assert(!k.isInstanceOf[CodegenFallback],
        s"${k.nodeName} must not be CodegenFallback")
    }
    assert(SegmentValuesInRange(lit, lit, 0L, 1L, lit, lit, lit, lit, lit,
      lit, lit, lit).isInstanceOf[CodegenFallback])
  }

  test("each value kernel answers the same through eval and generated code") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      Expression, GenericInternalRow, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.core.{DataGeneration, ValueCounts}

    // A mixed PMC/Swing/MacaqueV series with NaN, ±Inf and both zeros
    // planted, compressed losslessly.
    val (ts, vs) = DataGeneration.generateMixedSeries(600, false, None, 3L)
    Seq(17 -> Float.NaN, 18 -> Float.NaN, 99 -> Float.PositiveInfinity,
      250 -> Float.NegativeInfinity, 251 -> -0.0f, 252 -> 0.0f,
      400 -> -0.0f).foreach { case (i, v) => vs(i) = v }
    val segments = Compressor.compressUnivariate(ts, vs, ErrorBound.Lossless)
    val bounds: Seq[Any] = Seq(null, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, vs(130).toDouble, vs(480).toDouble)
    val windows = Seq((Long.MinValue, Long.MaxValue), (ts(40), ts(420)),
      (ts(130) + 1L, ts(131) - 1L))

    // Row layout: lower, upper, tsLo, tsHi, thresholds, then the segment.
    def row(lo: Any, up: Any, w: (Long, Long),
        s: graft.core.Segment): GenericInternalRow =
      new GenericInternalRow(Array[Any](lo, up, w._1, w._2,
        new GenericArrayData(bounds.filter(_ != null).toArray[Any]),
        s.modelTypeId, s.startTime, s.endTime, s.timestamps, s.minValue,
        s.maxValue, s.values, s.residuals))
    def ref(i: Int, dt: DataType) = BoundReference(i, dt, nullable = i < 2)
    val seg = Seq(ByteType, LongType, LongType, BinaryType, FloatType,
      FloatType, BinaryType, BinaryType).zipWithIndex
      .map { case (dt, i) => ref(5 + i, dt) }
    def count(lo: Expression, up: Expression, a: Expression, b: Expression) =
      SegmentCountInRange(lo, up, a, b, seg(0), seg(1), seg(2), seg(3),
        seg(4), seg(5), seg(6), seg(7))
    def stats(inclusive: Boolean, lo: Expression, up: Expression,
        a: Expression, b: Expression) =
      SegmentStatsInRange(inclusive, lo, up, a, b, seg(0), seg(1), seg(2),
        seg(3), seg(4), seg(5), seg(6), seg(7))
    def above(xs: Expression, a: Expression, b: Expression) =
      SegmentCountAboveMulti(xs, a, b, seg(0), seg(1), seg(2), seg(3),
        seg(4), seg(5), seg(6), seg(7))

    /** Evaluates `e` interpreted and through a generated projection on
      * every row, asserts both agree exactly, and returns the answers.
      */
    def agreed(e: Expression, rows: Seq[GenericInternalRow]): Seq[Any] = {
      val projection = GenerateMutableProjection.generate(Seq(e))
      val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
      rows.map { r =>
        val interpreted = toScala(e.eval(r))
        val generated = toScala(projection(r).get(0, e.dataType))
        assert(interpreted.toString == generated.toString,
          s"$e: eval $interpreted, codegen $generated")
        interpreted
      }
    }

    // Point-level truth: how many gridded points of the row's segment lie
    // in its window and pass `keep`.
    def truth(r: GenericInternalRow, s: graft.core.Segment)(
        keep: Double => Boolean): Long = {
      val (gt, gv) = s.gridded
      gv.indices.count(i => gt(i) >= r.getLong(2) && gt(i) <= r.getLong(3) &&
        keep(gv(i).toDouble)).toLong
    }
    def cmp(v: Double, b: Any) =
      ValueCounts.sqlCompare(v, b.asInstanceOf[Double])
    def upperOk(v: Double, up: Any) = up == null || cmp(v, up) <= 0

    // Column bounds and window: every bound pair, every window, one
    // compiled projection per kernel.
    val cases = for {
      s <- segments; lo <- bounds; up <- bounds; w <- windows
    } yield (s, row(lo, up, w, s))
    val rows = cases.map(_._2)
    val perRow = Seq(ref(0, DoubleType), ref(1, DoubleType), ref(2, LongType),
      ref(3, LongType))
    agreed(count(perRow(0), perRow(1), perRow(2), perRow(3)), rows)
      .zip(cases).foreach { case (n, (s, r)) =>
        // A NULL lower is unbounded: -Inf values count too.
        val lo = r.get(0, DoubleType)
        val want = truth(r, s)(v =>
          (lo == null || cmp(v, lo) > 0) && upperOk(v, r.get(1, DoubleType)))
        assert(n == want, s"count on $r")
      }
    Seq(false, true).foreach { inclusive =>
      agreed(stats(inclusive, perRow(0), perRow(1), perRow(2), perRow(3)),
        rows).zip(cases).foreach { case (st, (s, r)) =>
          val lo = r.get(0, DoubleType)
          val want = truth(r, s) { v =>
            val c = if (lo == null) 1 else cmp(v, lo)
            (c > 0 || (inclusive && c == 0)) && upperOk(v, r.get(1, DoubleType))
          }
          assert(st.asInstanceOf[org.apache.spark.sql.Row].getLong(0) == want,
            s"stats (inclusive=$inclusive) on $r")
        }
    }
    val xs = BoundReference(4, ArrayType(DoubleType, containsNull = false),
      nullable = false)
    val thresholds = bounds.filter(_ != null)
    agreed(above(xs, perRow(2), perRow(3)), rows).zip(cases)
      .foreach { case (got, (s, r)) =>
        assert(got == thresholds.map(x => truth(r, s)(v => cmp(v, x) > 0)),
          s"countAboveMulti on $r")
      }

    // Literal bounds, windows and thresholds answer exactly like the same
    // values in columns. Each literal shape compiles its own projection,
    // so a representative subset of the bound pairs.
    def literal(b: Any) = Literal.create(b, DoubleType)
    def same(a: Seq[Any], b: Seq[Any]): Unit = assert(a.toString == b.toString)
    val pairs = bounds.map((_, null)) ++ bounds.map((null, _)) ++
      bounds.map(b => (b, b))
    for ((lo, up) <- pairs; w <- windows.take(2)) {
      val rs = segments.map(row(lo, up, w, _))
      val (a, b) = (Literal(w._1), Literal(w._2))
      same(agreed(count(literal(lo), literal(up), a, b), rs),
        agreed(count(perRow(0), perRow(1), perRow(2), perRow(3)), rs))
      Seq(false, true).foreach { inclusive =>
        same(agreed(stats(inclusive, literal(lo), literal(up), a, b), rs),
          agreed(stats(inclusive, perRow(0), perRow(1), perRow(2), perRow(3)),
            rs))
      }
    }
    val rs = segments.map(row(null, null, windows(1), _))
    same(agreed(above(Literal.create(thresholds, ArrayType(DoubleType)),
      Literal(windows(1)._1), Literal(windows(1)._2)), rs),
      agreed(above(xs, perRow(2), perRow(3)), rs))
  }

  test("grid and bucket-partial generators run inside whole-stage codegen") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE cg(ts TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    val df = (0 until 600).map { i =>
      (1706745600000000L + i * 60000000L, i.toFloat % 37, s"t${i % 3}")
    }.toDF("ts", "v", "tag")
    engine.write("cg", df)

    // Reconstruction: Generate(gridpoints) must carry a codegen stage id.
    val pts = engine.sql("SELECT ts, v FROM cg")
    pts.collect()
    val ptsPlan = pts.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Generate""".r.findFirstIn(ptsPlan).isDefined,
      s"gridpoints Generate must be inside WholeStageCodegen:\n$ptsPlan")

    // Bucketed downsample: Generate(bucketpartials) likewise.
    val buck = engine.sql(
      "SELECT date_trunc('HOUR', ts) AS bucket, MIN(v) AS mn, MAX(v) AS mx " +
        "FROM cg GROUP BY bucket")
    buck.collect()
    val buckPlan = buck.queryExecution.executedPlan.toString
    assert(buckPlan.contains("bucketpartials"),
      s"bucketed aggregate must use the partials generator:\n$buckPlan")
    assert("""\*\(\d+\) Generate""".r.findFirstIn(buckPlan).isDefined,
      s"bucketpartials Generate must be inside WholeStageCodegen:\n$buckPlan")
  }

  test("bucket partials track NaN like Spark min/max, never emit sentinels") {
    // Lossless-compress a series whose middle hour is all-NaN and whose
    // first hour mixes NaN with real values; real segments, real decode.
    val hourUs = 3600000000L
    val ts = Array.tabulate(180)(i => i * 60000000L) // 3 hours of minutes
    val vs = Array.tabulate(180) { i =>
      if (i >= 60 && i < 120) Float.NaN       // hour 1: all NaN
      else if (i % 7 == 0) Float.NaN          // hours 0/2: mixed NaN
      else (i % 23).toFloat - 11f
    }
    val segments = Compressor.compressUnivariate(ts, vs, ErrorBound.Lossless)

    // Merge per-segment partials per bucket the way the rewrite's
    // HashAggregate does: sum counts, Spark-semantics min/max.
    case class Acc(var cnt: Long, var mn: Float, var mx: Float)
    val merged = scala.collection.mutable.LongMap.empty[Acc]
    segments.foreach { s =>
      val arr = DecodeKernels.bucketPartialsArray(hourUs, Long.MinValue,
        Long.MaxValue, false, s.modelTypeId, s.startTime, s.endTime,
        s.timestamps, s.minValue, s.maxValue, s.values, s.residuals)
      (0 until arr.numElements()).foreach { i =>
        val r = arr.getStruct(i, 8)
        val (b, cnt) = (r.getLong(0), r.getLong(1))
        val (mn, mx) = (r.getFloat(4), r.getFloat(5))
        assert(!mn.isInfinite && !mx.isInfinite,
          s"partial for bucket $b leaked an infinite sentinel: ($mn, $mx)")
        val acc = merged.getOrElseUpdate(b, Acc(0L, Float.NaN, Float.NaN))
        acc.cnt += cnt
        // Spark float ordering: NaN greatest.
        acc.mn = if (acc.mn.isNaN) mn
          else if (mn.isNaN) acc.mn else math.min(acc.mn, mn)
        acc.mx = if (acc.mx.isNaN || mx.isNaN) Float.NaN
          else math.max(acc.mx, mx)
      }
    }

    // Expected per-hour extremes under Spark semantics, from the raw data.
    (0 until 3).foreach { h =>
      val bucket = h * hourUs
      val hourVals = (0 until 180)
        .filter(i => ts(i) >= bucket && ts(i) < bucket + hourUs).map(vs)
      val acc = merged(bucket)
      assert(acc.cnt == hourVals.length.toLong)
      val nonNan = hourVals.filterNot(_.isNaN)
      val expMin = if (nonNan.isEmpty) Float.NaN else nonNan.min
      val expMax = if (hourVals.exists(_.isNaN)) Float.NaN else nonNan.max
      def eq(a: Float, b: Float) = (a.isNaN && b.isNaN) || a == b
      assert(eq(acc.mn, expMin), s"hour $h min: got ${acc.mn}, want $expMin")
      assert(eq(acc.mx, expMax), s"hour $h max: got ${acc.mx}, want $expMax")
    }
  }
}
