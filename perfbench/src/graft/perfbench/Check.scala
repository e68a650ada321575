package graft.perfbench

import org.apache.spark.sql.Row

import graft.core.ErrorBound

/** A wrong answer: the operation that produced it counts as failed. */
final class Mismatch(msg: String) extends Exception(msg)

/** Answer checks against values computed from the raw generated points,
  * never through the engine. `planted` turns the expectation wrong on
  * purpose, so a run can show that a wrong answer is counted as a failure.
  */
object Check {
  def fail(msg: String): Nothing = throw new Mismatch(msg)

  /** Relative tolerance of SUM/AVG over a lossless field, taken against the
    * sum of magnitudes so sums near zero do not inflate it.
    */
  val SumTolerance = 1e-5

  def count(what: String, got: Long, want: Long, planted: Boolean): Unit = {
    val w = if (planted) want + 1 else want
    if (got != w) fail(s"$what: count $got, expected $w")
  }

  def within(what: String, got: Double, want: Double, tol: Double): Unit =
    if (got.isNaN || !(math.abs(got - want) <= tol))
      fail(s"$what: $got, expected $want ± $tol")

  /** MIN/MAX: exact on a lossless field, within the largest point bound on
    * a lossy one.
    */
  def extreme(what: String, got: Float, want: Float, s: FieldStats): Unit =
    if (s.bound == ErrorBound.Lossless) {
      if (got != want) fail(s"$what: $got, expected exactly $want")
    } else within(what, got, want, s.boundMax)

  /** SUM within the summed point bounds plus double rounding. */
  def sum(what: String, got: Double, s: FieldStats): Unit =
    within(what, got, s.sum, s.boundSum + SumTolerance * s.sumAbs + 1e-9)

  def avg(what: String, got: Double, s: FieldStats): Unit =
    within(what, got, s.sum / s.n,
      (s.boundSum + SumTolerance * s.sumAbs) / s.n + 1e-12)

  /** A row holding `count(*)` at `at`, then min, max, sum and avg of every
    * field in [[Data.Fields]] order.
    */
  def aggregates(what: String, row: Row, at: Int, stats: Array[FieldStats],
      planted: Boolean): Unit = {
    count(s"$what count", row.getLong(at), stats(0).n, planted)
    stats.indices.foreach { f =>
      val c = at + 1 + 4 * f
      val s = stats(f)
      val name = s"$what ${Data.Fields(f)}"
      extreme(s"$name min", row.getFloat(c), s.min, s)
      extreme(s"$name max", row.getFloat(c + 1), s.max, s)
      sum(s"$name sum", row.getDouble(c + 2), s)
      avg(s"$name avg", row.getDouble(c + 3), s)
    }
  }

  /** The select list [[aggregates]] reads. */
  val AggregateList: String = ("count(*) AS n" +: Data.Fields.flatMap { f =>
    Seq(s"min($f) AS ${f}_min", s"max($f) AS ${f}_max",
      s"sum($f) AS ${f}_sum", s"avg($f) AS ${f}_avg")
  }).mkString(", ")

  /** Spark's `percentile` over sorted values: linear interpolation between
    * the two order statistics around position q·(n−1).
    */
  def percentile(sorted: Array[Double], q: Double): Double = {
    val position = (sorted.length - 1) * q
    val lower = math.floor(position).toInt
    val higher = math.ceil(position).toInt
    if (lower == higher) sorted(lower)
    else (higher - position) * sorted(lower) + (position - lower) * sorted(higher)
  }

  /** An exact order statistic: equal on a lossless field, and within the
    * largest point bound on a lossy one (every order statistic moves by at
    * most the largest perturbation of any point).
    */
  def orderStat(what: String, got: Double, sorted: Array[Double], q: Double,
      boundMax: Double, planted: Boolean): Unit = {
    val exact = percentile(sorted, q)
    val tol = boundMax + 1e-9 * (math.abs(exact) + 1)
    within(what, got, if (planted) exact + 2 * tol + 1 else exact, tol)
  }
}
