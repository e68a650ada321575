package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.ErrorBound

/** Seeded synthetic multivariate series in the shape of the engine's test
  * generator: one timestamp column, three fields and one tag. The fields
  * carry a lossless (`v0`), an absolute (`v1`, ±0.5) and a relative (`v2`,
  * 1%) error bound, and every field is made of 50-100-point runs of
  * constant, linear and random values, so PMC-Mean, Swing and MacaqueV all
  * get fitted. Points are one second apart in every series.
  */
final class Dataset(val tags: Array[String], val length: Int,
    val values: Array[Array[Array[Float]]]) {
  def nSeries: Int = tags.length
  def ts(i: Int): Long = Data.StartUs + i * Data.StepUs

  /** Rows `[from, until)` of every series in `series`, as a DataFrame with
    * the timestamp as epoch microseconds.
    */
  def frame(spark: SparkSession, series: Seq[Int], from: Int,
      until: Int): DataFrame = {
    val rows = new java.util.ArrayList[Row]((until - from) * series.size)
    series.foreach { s =>
      var i = from
      while (i < until) {
        rows.add(Row(ts(i), values(s)(0)(i), values(s)(1)(i), values(s)(2)(i),
          tags(s)))
        i += 1
      }
    }
    spark.createDataFrame(rows, Data.InputSchema)
  }

  /** Per-field accumulators over the points of `series` with index in
    * `[from, until)`.
    */
  def stats(series: Seq[Int], from: Int, until: Int): Array[FieldStats] = {
    val out = Data.Bounds.map(new FieldStats(_)).toArray
    series.foreach { s =>
      var i = from
      while (i < until) {
        var f = 0
        while (f < out.length) { out(f).add(values(s)(f)(i)); f += 1 }
        i += 1
      }
    }
    out
  }
}

object Data {
  val Table = "bench"
  val Fields: Seq[String] = Seq("v0", "v1", "v2")
  val BoundNames: Seq[String] = Seq("lossless", "abs", "rel")
  val Bounds: Seq[ErrorBound] =
    Seq(ErrorBound.Lossless, ErrorBound.Absolute(0.5f), ErrorBound.Relative(1.0f))
  val Ddl: String = s"CREATE TIME SERIES TABLE $Table(ts TIMESTAMP, " +
    "v0 FIELD, v1 FIELD(0.5), v2 FIELD(1%), tag TAG)"
  /** 2024-01-01T00:00:00Z in microseconds. */
  val StartUs = 1704067200000000L
  val StepUs = 1000000L

  val InputSchema: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("v0", FloatType, nullable = false),
    StructField("v1", FloatType, nullable = false),
    StructField("v2", FloatType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  def generate(seed: Long, nSeries: Int, length: Int): Dataset = {
    val tags = Array.tabulate(nSeries)(s => f"s$s%03d")
    val values = Array.tabulate(nSeries, Fields.size) { (s, f) =>
      series(new SplittableRandom(seed * 1000003L + s * 31L + f), length)
    }
    new Dataset(tags, length, values)
  }

  /** One field of one series: runs of 50-100 points cycling through
    * constant, linear and uniformly random values.
    */
  private def series(rng: SplittableRandom, length: Int): Array[Float] = {
    val out = new Array[Float](length)
    var i = 0
    var k = rng.nextInt(3)
    while (i < length) {
      val run = math.min(length - i, 50 + rng.nextInt(51))
      k % 3 match {
        case 0 =>
          val v = (-100.0 + rng.nextDouble() * 200.0).toFloat
          var j = 0
          while (j < run) { out(i + j) = v; j += 1 }
        case 1 =>
          var slope = 0.0f
          while (slope == 0.0f) slope = (-10.0 + rng.nextDouble() * 20.0).toFloat
          val intercept = (1.0 + rng.nextDouble() * 49.0).toFloat
          var j = 0
          while (j < run) { out(i + j) = slope * j + intercept; j += 1 }
        case _ =>
          var j = 0
          while (j < run) {
            out(i + j) = (-50.0 + rng.nextDouble() * 100.0).toFloat; j += 1
          }
      }
      i += run
      k += 1
    }
    out
  }

  /** `TIMESTAMP '...'` literal for an epoch-microsecond instant (UTC). */
  def tsLiteral(us: Long): String = {
    val instant = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    val text = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(instant)
    s"TIMESTAMP '$text'"
  }
}

/** Exact statistics of one field over raw points, plus the error budget
  * the field's bound allows an answer computed from the stored models.
  */
final class FieldStats(val bound: ErrorBound) {
  var n = 0L
  var min: Float = Float.PositiveInfinity
  var max: Float = Float.NegativeInfinity
  var sum = 0.0
  var sumAbs = 0.0
  /** Sum and maximum of the per-point bounds. */
  var boundSum = 0.0
  var boundMax = 0.0

  def add(v: Float): Unit = {
    n += 1
    if (v < min) min = v
    if (v > max) max = v
    sum += v
    sumAbs += math.abs(v.toDouble)
    val b = FieldStats.pointBound(bound, v)
    boundSum += b
    if (b > boundMax) boundMax = b
  }

  def merge(o: FieldStats): Unit = {
    n += o.n
    if (o.min < min) min = o.min
    if (o.max > max) max = o.max
    sum += o.sum
    sumAbs += o.sumAbs
    boundSum += o.boundSum
    if (o.boundMax > boundMax) boundMax = o.boundMax
  }
}

object FieldStats {
  /** How far a reconstructed value may lie from `v`: the bound itself,
    * widened by a few float ulps for the float arithmetic of the fit.
    */
  def pointBound(bound: ErrorBound, v: Float): Double = bound match {
    case ErrorBound.Lossless => 0.0
    case ErrorBound.Absolute(b) => b + 4 * math.ulp(math.abs(v) + b)
    case ErrorBound.Relative(p) =>
      math.abs(v.toDouble) * p / 100.0 + 4 * math.ulp(math.abs(v))
  }
}
