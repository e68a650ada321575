package graft.tools

import org.apache.spark.sql.SparkSession

import graft.tsdb.FederatedAggregate

/** A/B cost of the federated rank search's SEGMENT-NATIVE rounds vs the
  * generic SQL rounds — SAME statements, same endpoints, same session;
  * only the probe/fetch transport differs (pinning the native size gate
  * [[FederatedAggregate.NativeProbeMinPoints]] to 0 or Long.MaxValue
  * selects the path). Values are asserted equal
  * between the two paths before any timing is reported.
  *
  * Two shapes over the cached sf tables, each through a live
  * RemoteServer:
  *  - GLOBAL: percentile(value, array(0.01, 0.5, 0.999)) over
  *    events_lossless — one ~1.2M-point combined group, so BISECTION
  *    rounds actually run (the per-user groups are fetch-sized);
  *  - GROUPED: percentile(value, 0.5/0.9) GROUP BY user — 3,000 groups,
  *    bounded-FETCH-dominated.
  *
  * Usage: `sbt 'Test/runMain graft.tools.RankProbeAB [sfDir]'`
  * (default /root/testdata/sf0.1). Median of 3 timed runs per
  * (shape, path) after one untimed warmup each.
  */
object RankProbeAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = graft.queries.TsQueries.engineFor(spark, sfDir)
    val server = new graft.remote.RemoteServer(engine)
    try {
      val shapes = Seq(
        "global" -> ("SELECT percentile(value, array(0.01, 0.5, 0.999)) " +
          "AS p, count(*) AS n FROM events_lossless"),
        "grouped" -> ("SELECT user, percentile(value, 0.5) AS med, " +
          "percentile(value, 0.9) AS p90 FROM events_lossless GROUP BY user"),
        // MULTI-FIELD FROM: every generic round re-grids events_multi
        // through the multivariate zip (one shuffle per statement per
        // endpoint), so the native-vs-generic crossover sits far below
        // the single-field table's — this shape calibrates the
        // multi-field gate.
        "multi" -> ("SELECT user, percentile(value, 0.5) AS mv, " +
          "percentile(value2, 0.9) AS mv2, count(*) AS n " +
          "FROM events_multi GROUP BY user"))
      def runOnce(sel: String): Array[org.apache.spark.sql.Row] =
        engine.sql(s"INCLUDE MERGE '${server.address}' $sel").collect()
      def median3(sel: String): Double = {
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          runOnce(sel)
          (System.nanoTime() - t0) / 1e9
        }
        times.sorted.apply(1)
      }
      def ab(name: String, sel: String,
          run: String => Array[org.apache.spark.sql.Row],
          med: String => Double): Unit = {
        // Each arm pins the size gate: 0 opens it so the NATIVE rounds run
        // even below the production crossover, Long.MaxValue shuts it so
        // every child keeps the generic rounds. Save/restore the PRIOR
        // value — never a hard-coded constant — so the tool composes with
        // anything else that pinned the gate in this JVM.
        def gated[T](minPoints: Long)(body: => T): T = {
          val saved = FederatedAggregate.NativeProbeMinPoints
          FederatedAggregate.NativeProbeMinPoints = minPoints
          try body finally
            FederatedAggregate.NativeProbeMinPoints = saved
        }
        def native[T](body: => T): T = gated(0L)(body)
        def generic[T](body: => T): T = gated(Long.MaxValue)(body)
        // Values must be identical on both paths before timing means
        // anything.
        val fastRows = native(run(sel)).map(_.toString).sorted.toSeq
        val genericRows = generic(run(sel)).map(_.toString).sorted.toSeq
        require(fastRows == genericRows,
          s"$name: fast and generic paths disagree")
        val fast = native(med(sel))
        val gen = generic(med(sel))
        println(f"[rank-ab] $name%-16s fast=$fast%.2fs generic=$gen%.2fs " +
          f"ratio=${gen / fast}%.2fx (values identical)")
      }
      shapes.foreach { case (name, sel) => ab(name, sel, runOnce, median3) }

      // ---- Scale phase: the native path's claim is DATA-PROPORTIONALITY
      // (generic rounds re-grid the FROM per round per endpoint; native
      // rounds touch boundary segments). At sf0.1 (~1.2M combined points)
      // re-gridding is cheap and per-round constants dominate — the
      // crossover needs more data under the same statement.
      val nPoints = if (args.length > 1) args(1).toLong else 10000000L
      val nSeries = if (args.length > 2) args(2).toInt else 100
      import org.apache.spark.sql.functions._
      val bigEngine = new graft.tsdb.Engine(spark, java.nio.file.Files
        .createTempDirectory("graft_rank_ab").toString)
      bigEngine.sql(
        "CREATE TIME SERIES TABLE big(ts TIMESTAMP, v FIELD(1.0%), tag TAG)")
      val t0 = System.nanoTime()
      bigEngine.write("big", spark.range(nPoints).select(
        (lit(1700000000000000L) +
          (col("id") / nSeries).cast("long") * 1000000L).as("ts"),
        (sin(col("id") / 5000.0) * 100.0 +
          when(pmod(col("id"), lit(997)) === 0, rand(7) * 50).otherwise(0.0))
          .cast("float").as("v"),
        concat(lit("s"), pmod(col("id"), lit(nSeries)).cast("string"))
          .as("tag")))
      println(f"[rank-ab] big ingest: $nPoints%,d points, $nSeries series, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      val bigServer = new graft.remote.RemoteServer(bigEngine)
      try {
        def runBig(sel: String): Array[org.apache.spark.sql.Row] =
          bigEngine.sql(s"INCLUDE MERGE '${bigServer.address}' $sel").collect()
        def medBig(sel: String): Double = {
          val times = (1 to 3).map { _ =>
            val t = System.nanoTime(); runBig(sel); (System.nanoTime() - t) / 1e9
          }
          times.sorted.apply(1)
        }
        ab(s"global@${nPoints / 1000000}M",
          "SELECT percentile(v, array(0.01, 0.5, 0.999)) AS p, " +
            "count(*) AS n FROM big", runBig, medBig)
        ab(s"grouped@${nPoints / 1000000}M",
          "SELECT tag, percentile(v, 0.5) AS med, percentile(v, 0.9) AS p90 " +
            "FROM big GROUP BY tag", runBig, medBig)
      } finally bigServer.close()
    } finally {
      server.close()
      spark.stop()
    }
  }
}
