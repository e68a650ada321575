package graft.tsdb

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration

/** Segment-native value-predicate counts and value histograms
  * ([[Engine.thresholdCount]] / [[Engine.valueHistogram]]) must match
  * grid-then-filter over the reconstructed points — on lossless AND lossy
  * tables, with tag groups, time ranges, and NaN runs — while the
  * threshold plan never materializes points (no Generate operator at all)
  * and the histogram only generates for bin-straddling segments.
  */
class ValuePredicateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def newEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft_vp").toString)

  /** Mixed series incl. a NaN run per tag, as a (ts_us, value, tag) frame. */
  private def pointsDf(n: Int, tags: Seq[String], irregular: Boolean) = {
    val rng = new scala.util.Random(1234L)
    val rows = tags.flatMap { tag =>
      val ts = DataGeneration.generateTimestamps(n, irregular, rng)
      val vs = new Array[Float](n)
      var i = 0
      while (i < n) {
        val run = math.min(n - i, 40 + rng.nextInt(41))
        val vals = (rng.nextInt(4): @unchecked) match {
          case 0 => DataGeneration.generateValues(run, DataGeneration.Constant, None, rng)
          case 1 => DataGeneration.generateValues(run, DataGeneration.Linear, Some(0.3f), rng)
          case 2 => DataGeneration.generateValues(run,
            DataGeneration.RandomValues(-80f, 80f), None, rng)
          case 3 => Array.fill(run)(Float.NaN)
        }
        System.arraycopy(vals, 0, vs, i, run)
        i += run
      }
      ts.indices.map(i => (ts(i), vs(i), tag))
    }
    import spark.implicits._
    rows.toDF("ts", "value", "tag")
  }

  private def buildTable(engine: Engine, name: String, bound: String,
      irregular: Boolean): Unit = {
    engine.sql(s"CREATE TIME SERIES TABLE $name(" +
      s"ts TIMESTAMP, value FIELD$bound, tag TAG)")
    engine.write(name, pointsDf(700, Seq("a", "b", "c"), irregular))
  }

  private def inst(us: Long) =
    java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)

  test("thresholdCount matches grid-then-filter on lossless and lossy tables") {
    val engine = newEngine()
    buildTable(engine, "tl", "", irregular = false)
    buildTable(engine, "ty", "(2.0%)", irregular = true)
    for (t <- Seq("tl", "ty")) {
      val pts = engine.readTable(t).select(col("value"), col("tag")).cache()
      // Double.NaN upper = the unbounded sentinel: SQL `v > lo`, NaN
      // included — Spark's own comparison operators are the truth here,
      // NaN-greatest semantics and all.
      for ((lo, hi) <- Seq((0.0, Double.NaN),
          (0.0, Double.PositiveInfinity),
          (-30.0, 30.0), (Double.NegativeInfinity, -10.0))) {
        val got = engine.thresholdCount(t, "value", lo, hi,
          groupByTags = Seq("tag")).orderBy("tag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        val pred =
          if (hi.isNaN) col("value").cast("double") > lo
          else col("value").cast("double") > lo &&
            col("value").cast("double") <= hi
        val want = pts
          .groupBy("tag")
          .agg(
            coalesce(sum(when(pred, 1L)), lit(0L)).as("in"),
            count(lit(1)).as("n"))
          .orderBy("tag").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got == want, s"table=$t range=($lo,$hi]")
      }
      pts.unpersist()
    }
  }

  test("thresholdCount under a time range clips boundary segments exactly") {
    val engine = newEngine()
    buildTable(engine, "tr", "", irregular = true)
    val bounds = engine.readTable("tr")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (wLo, wHi) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val got = engine.thresholdCount("tr", "value", 0.0,
        startTime = Some(inst(wLo)), endTime = Some(inst(wHi)))
      .collect().head
    val pts = engine.readTable("tr")
      .where(unix_micros(col("ts")).between(wLo, wHi))
    val want = pts.agg(
      coalesce(sum(when(col("value") > 0.0f, 1L)), lit(0L)),
      count(lit(1))).collect().head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
  }

  test("valueHistogram matches grid-then-bin incl. tag groups and ranges") {
    val engine = newEngine()
    buildTable(engine, "th", "", irregular = false)
    buildTable(engine, "thy", "(1.5%)", irregular = true)
    for (t <- Seq("th", "thy")) {
      val got = engine.valueHistogram(t, "value", origin = -5.0, width = 12.5,
          groupByTags = Seq("tag"))
        .orderBy("tag", "bin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val want = engine.readTable(t)
        .where(!isnan(col("value")) &&
          abs(col("value")) =!= lit(Float.PositiveInfinity))
        .groupBy(col("tag"),
          floor((col("value").cast("double") - lit(-5.0)) / lit(12.5))
            .as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("tag", "bin").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"table=$t")
    }
    // Ranged, global.
    val bounds = engine.readTable("th")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (wLo, wHi) = (lo + (hi - lo) / 4, lo + 3 * (hi - lo) / 4)
    val got = engine.valueHistogram("th", "value", 0.0, 25.0,
        startTime = Some(inst(wLo)), endTime = Some(inst(wHi)))
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = engine.readTable("th")
      .where(unix_micros(col("ts")).between(wLo, wHi) && !isnan(col("value")))
      .groupBy(floor(col("value").cast("double") / lit(25.0)).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("threshold plan is decode-free: no Generate, no point stream") {
    val engine = newEngine()
    buildTable(engine, "tp", "", irregular = false)
    val plan = engine.thresholdCount("tp", "value", 0.0,
      groupByTags = Seq("tag")).queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"threshold count must not grid points:\n$plan")
    // Ranged variant unions interior fast paths with clipped kernels —
    // still expression-only, still no Generate.
    val ranged = engine.thresholdCount("tp", "value", 0.0,
      startTime = Some(java.time.Instant.ofEpochMilli(0L)))
      .queryExecution.executedPlan.toString
    assert(!ranged.contains("Generate"))
  }

  test("SQL count(*) under value predicates rewrites to thresholdCount") {
    val engine = newEngine()
    buildTable(engine, "sq", "", irregular = false)
    engine.readTable("sq").createOrReplaceTempView("sq_raw")
    def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val bounds = engine.readTable("sq")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val mid = fmt((bounds.getLong(0) + bounds.getLong(1)) / 2)

    // Every comparison shape, both operand orders, NaN rows in the data.
    val rewritten = Seq(
      "SELECT count(*) AS n FROM sq WHERE value > 10.0",
      "SELECT count(*) AS n FROM sq WHERE value >= 10.0",
      "SELECT count(*) AS n FROM sq WHERE value < -5.0",
      "SELECT count(*) AS n FROM sq WHERE value <= -5.0",
      "SELECT count(*) AS n FROM sq WHERE 10.0 < value",
      "SELECT count(*) AS n FROM sq WHERE value > -20.0 AND value <= 20.0",
      "SELECT count(value) AS n FROM sq WHERE value = 0.0",
      "SELECT count(*) AS n FROM sq WHERE value > 0.0 AND tag = 'b'",
      s"SELECT count(*) AS n FROM sq WHERE ts >= TIMESTAMP '$mid' " +
        "AND value > 0.0",
      "SELECT tag, count(*) AS n FROM sq WHERE value > 0.0 " +
        "GROUP BY tag ORDER BY tag")
    for (q <- rewritten) {
      val df = engine.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"), s"should be segment-native: $q\n$plan")
      val want = spark.sql(q.replace("FROM sq", "FROM sq_raw")).collect()
        .map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq == want, q)
    }

    // Shapes with no closed form still answer correctly via the grid.
    // (sum/min under the predicate's own field rewrite via thresholdStats
    // now — covered by the value-filtered spec below.)
    // (Row comparison via toString: Scala NaN != NaN, SQL NaN = NaN.)
    val declined = Seq(
      "SELECT count(DISTINCT tag) AS n FROM sq WHERE value > 0.0")
    for (q <- declined) {
      val df = engine.sql(q)
      assert(df.queryExecution.executedPlan.toString.contains("Generate"),
        s"should grid: $q")
      val want = spark.sql(q.replace("FROM sq", "FROM sq_raw")).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == want, q)
    }
  }

  test("SQL floor-bin group-by rewrites to the value histogram") {
    val engine = newEngine()
    buildTable(engine, "hb", "", irregular = false)
    engine.readTable("hb").createOrReplaceTempView("hb_raw")
    def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val bounds = engine.readTable("hb")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val mid = fmt((bounds.getLong(0) + bounds.getLong(1)) / 2)

    // Both bin spellings, tag groups, tag filters, and a time range; the
    // fixture has NaN rows, so this also pins Spark's FLOOR(NaN)->0 bin
    // through the sparkFloorBins kernel mode.
    val rewritten = Seq(
      "SELECT floor((value - 0.0) / 25.0) AS bin, count(*) AS n FROM hb " +
        "GROUP BY floor((value - 0.0) / 25.0) ORDER BY bin",
      "SELECT tag, floor(value / 12.5) AS bin, count(value) AS n FROM hb " +
        "GROUP BY tag, floor(value / 12.5) ORDER BY tag, bin",
      "SELECT floor(value / 50.0) AS bin, count(*) AS n FROM hb " +
        "WHERE tag = 'a' GROUP BY 1 ORDER BY 1",
      s"SELECT floor(value / 50.0) AS bin, count(*) AS n FROM hb " +
        s"WHERE ts >= TIMESTAMP '$mid' GROUP BY 1 ORDER BY 1")
    for (q <- rewritten) {
      val df = engine.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__vh_bin"),
        s"should splice the histogram plan: $q\n$plan")
      val want = spark.sql(q.replace("FROM hb", "FROM hb_raw")).collect()
        .map(_.toSeq).toSeq
      assert(df.collect().map(_.toSeq).toSeq == want, q)
    }

    // No closed form: non-count aggregates of a bin-grouped set, and bin
    // groupings under a value predicate — those grid, same answers.
    val declined = Seq(
      "SELECT floor(value / 25.0) AS bin, sum(value) AS s FROM hb " +
        "GROUP BY 1 ORDER BY 1",
      "SELECT floor(value / 25.0) AS bin, count(*) AS n FROM hb " +
        "WHERE value > 0.0 GROUP BY 1 ORDER BY 1")
    for (q <- declined) {
      val df = engine.sql(q)
      assert(!df.queryExecution.executedPlan.toString.contains("__vh_bin"),
        s"should grid: $q")
      val want = spark.sql(q.replace("FROM hb", "FROM hb_raw")).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == want, q)
    }
  }

  test("SQL percentile/median rewrites to the exact-rank ladder") {
    val engine = newEngine()
    buildTable(engine, "pm", "", irregular = false)
    engine.readTable("pm").createOrReplaceTempView("pm_raw")
    def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val bounds = engine.readTable("pm")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val mid = fmt((bounds.getLong(0) + bounds.getLong(1)) / 2)

    // The fixture has NaN rows: Spark's Percentile sorts NaN greatest,
    // which the total-order ladder reproduces; interpolation arithmetic
    // must match bit-for-bit (exact == below, NaN-tolerant).
    val rewritten = Seq(
      "SELECT tag, median(value) AS med FROM pm GROUP BY tag ORDER BY tag",
      "SELECT tag, percentile(value, 0.9) AS p90, " +
        "percentile(value, 0.25) AS p25 FROM pm GROUP BY tag ORDER BY tag",
      "SELECT median(value) AS med FROM pm",
      "SELECT tag, median(value) AS med FROM pm WHERE tag = 'a' " +
        "GROUP BY tag",
      s"SELECT tag, median(value) AS med FROM pm " +
        s"WHERE ts >= TIMESTAMP '$mid' GROUP BY tag ORDER BY tag",
      "SELECT tag, percentile_cont(0.25) WITHIN GROUP (ORDER BY value) " +
        "AS p25 FROM pm GROUP BY tag ORDER BY tag",
      "SELECT tag, percentile_disc(0.9) WITHIN GROUP (ORDER BY value) " +
        "AS d90, percentile_disc(0.0) WITHIN GROUP (ORDER BY value) " +
        "AS d0, percentile_disc(1.0) WITHIN GROUP (ORDER BY value) " +
        "AS d100 FROM pm GROUP BY tag ORDER BY tag",
      // DUPLICATE ranks across specs: median and percentile(0.5) imply
      // identical continuous ranks, and the disc rank can coincide with a
      // cont bracket — the ladder's per-group rank list dedups before slot
      // assignment (regression for the fixed-slot probe layout).
      "SELECT tag, median(value) AS med, percentile(value, 0.5) AS p50, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS d50 " +
        "FROM pm GROUP BY tag ORDER BY tag")
    for (q <- rewritten) {
      val df = engine.sql(q)
      assert(!df.queryExecution.executedPlan.toString.contains("Generate"),
        s"percentile must not decode points: $q")
      val got = df.collect()
      val want = spark.sql(q.replace("FROM pm", "FROM pm_raw")).collect()
      assert(got.length == want.length, q)
      got.zip(want).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach {
          case (x: java.lang.Double, y: java.lang.Double) =>
            assert(java.lang.Double.compare(x, y) == 0, s"$q: $a vs $b")
          case (x, y) => assert(x == y, s"$q: $a vs $b")
        }
      }
    }

    // No closed form: mixed with other aggregates, array percentages,
    // value predicates — those grid, same answers.
    val declined = Seq(
      "SELECT tag, median(value) AS med, sum(value) AS s FROM pm " +
        "GROUP BY tag ORDER BY tag",
      "SELECT percentile(value, array(0.25, 0.75)) AS ps FROM pm",
      "SELECT tag, median(value) AS med FROM pm WHERE value > 0.0 " +
        "GROUP BY tag ORDER BY tag")
    for (q <- declined) {
      val df = engine.sql(q)
      assert(df.queryExecution.executedPlan.toString.contains("Generate"),
        s"should grid: $q")
      val want = spark.sql(q.replace("FROM pm", "FROM pm_raw")).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == want, q)
    }
  }

  test("SQL value-filtered sum/min/max/avg rewrite to thresholdStats") {
    val engine = newEngine()
    buildTable(engine, "fa", "", irregular = false)
    engine.readTable("fa").createOrReplaceTempView("fa_raw")
    def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val bounds = engine.readTable("fa")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val mid = fmt((bounds.getLong(0) + bounds.getLong(1)) / 2)

    // NaN rows pass `value > x` (NaN-greatest), poisoning sums and
    // winning maxes — exactly like the gridded plan. Impossible
    // predicates must ERASE groups (the filter runs before grouping),
    // and the global aggregate keeps its one NULL/0 row.
    val rewritten = Seq(
      "SELECT tag, count(*) AS n, sum(value) AS s, min(value) AS mn, " +
        "max(value) AS mx, avg(value) AS a FROM fa WHERE value > 0.5 " +
        "GROUP BY tag ORDER BY tag",
      "SELECT tag, sum(value) AS s, min(value) AS mn FROM fa " +
        "WHERE value <= -10.0 GROUP BY tag ORDER BY tag",
      // Variance family under the predicate — same Σv/Σv² partials; the
      // NaN-passing predicate (unbounded above) poisons them to NaN
      // exactly like Spark's own aggregate.
      "SELECT tag, var_samp(value) AS vs, stddev_pop(value) AS sp, " +
        "count(*) AS n FROM fa WHERE value <= -5.0 " +
        "GROUP BY tag ORDER BY tag",
      "SELECT var_pop(value) AS vp FROM fa WHERE value > 0.5",
      "SELECT min(value) AS mn, max(value) AS mx, count(*) AS n FROM fa " +
        "WHERE value >= -20.0 AND value < 35.5",
      s"SELECT tag, sum(value) AS s, count(*) AS n FROM fa " +
        s"WHERE value > 0.0 AND ts >= TIMESTAMP '$mid' " +
        "GROUP BY tag ORDER BY tag",
      "SELECT tag, max(value) AS mx FROM fa WHERE value > 1.0e30 " +
        "GROUP BY tag ORDER BY tag",
      "SELECT sum(value) AS s, count(*) AS n FROM fa WHERE value > 1.0e30",
      "SELECT tag, count(*) AS n FROM fa WHERE value > 1.0e30 " +
        "GROUP BY tag ORDER BY tag",
      // First/last exceedance: min/max(ts) of the qualifying rows.
      "SELECT tag, min(ts) AS t0, max(ts) AS t1, count(*) AS n FROM fa " +
        "WHERE value > 0.5 GROUP BY tag ORDER BY tag",
      "SELECT min(ts) AS t0, max(ts) AS t1 FROM fa WHERE value <= -10.0",
      s"SELECT tag, min(ts) AS t0 FROM fa WHERE value > 0.0 " +
        s"AND ts >= TIMESTAMP '$mid' GROUP BY tag ORDER BY tag",
      // OR of value ranges — the outlier band and friends: the disjuncts
      // merge into a disjoint interval union answered in ONE pass.
      "SELECT tag, count(*) AS n, sum(value) AS s, min(ts) AS t0 FROM fa " +
        "WHERE value < -30.0 OR value > 30.0 GROUP BY tag ORDER BY tag",
      "SELECT count(*) AS n, max(value) AS mx FROM fa " +
        "WHERE value <= -60.0 OR value = 0.0 OR value >= 60.0",
      "SELECT tag, count(*) AS n FROM fa WHERE value > 10.0 OR value > 20.0 " +
        "GROUP BY tag ORDER BY tag",
      s"SELECT tag, count(*) AS n FROM fa " +
        s"WHERE (value < -30.0 OR value > 30.0) AND ts >= TIMESTAMP '$mid' " +
        "GROUP BY tag ORDER BY tag",
      "SELECT tag, count(*) FILTER (WHERE value < -30.0 OR value > 30.0) " +
        "AS n_out, count(*) AS n FROM fa GROUP BY tag ORDER BY tag",
      // Per-bucket filtered stats: exceedances per fixed date_trunc
      // bucket, straddling segments clipped per bucket; empty buckets
      // vanish like the gridded plan's.
      "SELECT date_trunc('HOUR', ts) AS b, count(*) AS n, " +
        "sum(value) AS s, min(ts) AS t0 FROM fa WHERE value > 0.5 " +
        "GROUP BY 1 ORDER BY 1",
      "SELECT tag, date_trunc('MINUTE', ts) AS b, count(*) AS n, " +
        "max(value) AS mx FROM fa WHERE value <= -5.0 " +
        "GROUP BY tag, 2 ORDER BY tag, b",
      s"SELECT date_trunc('HOUR', ts) AS b, avg(value) AS a FROM fa " +
        s"WHERE value > 0.0 AND ts >= TIMESTAMP '$mid' " +
        "GROUP BY 1 ORDER BY 1",
      // Tumbling window(ts, w) + value predicate: the proven fixed-width
      // bucket rides the same per-bucket stats, the struct rebuilt from
      // the bucket start.
      "SELECT window, count(*) AS n FROM fa WHERE value > 0.5 " +
        "GROUP BY window(ts, '1 hour') ORDER BY window",
      "SELECT window.start AS ws, window.end AS we, sum(value) AS s, " +
        "min(ts) AS t0 FROM fa WHERE value <= -5.0 " +
        "GROUP BY window(ts, '30 minutes') ORDER BY ws")
    for (q <- rewritten) {
      val df = engine.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      // The bucketed splice explodes straddling segments into their
      // overlapped buckets (a Generate over SEGMENT rows, bounded by
      // buckets); the point-decode generator must never appear.
      assert(!plan.contains("gridpoints"),
        s"filtered aggregate must not decode points: $q")
      if (!q.contains("date_trunc") && !q.contains("window("))
        assert(!plan.contains("Generate"),
          s"unbucketed filtered aggregate needs no generator at all: $q")
      val got = df.collect()
      val want = spark.sql(q.replace("FROM fa", "FROM fa_raw")).collect()
      assert(got.length == want.length, s"$q: ${got.length} vs ${want.length}")
      got.zip(want).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach {
          case (null, null) =>
          case (x: java.lang.Double, y: java.lang.Double) =>
            // Sums/avgs accumulate in different orders — tolerance; NaN
            // must match NaN exactly.
            assert((x.isNaN && y.isNaN) ||
              math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)),
              s"$q: $a vs $b")
          case (x: java.lang.Float, y: java.lang.Float) =>
            assert(java.lang.Float.compare(x, y) == 0 ||
              (x.floatValue == 0f && y.floatValue == 0f), s"$q: $a vs $b")
          case (x, y) => assert(x == y, s"$q: $a vs $b")
        }
      }
    }

    // No closed form: aggregating a DIFFERENT field than the predicate's
    // (joint decode), or a time-bucket grouping under the predicate —
    // those grid, same answers.
    engine.sql("CREATE TIME SERIES TABLE fa2(" +
      "ts TIMESTAMP, a FIELD, b FIELD, tag TAG)")
    engine.write("fa2", engine.readTable("fa")
      .select(col("ts"), col("value").as("a"),
        (col("value") * lit(2.0f)).as("b"), col("tag")))
    engine.readTable("fa2").createOrReplaceTempView("fa2_raw")
    val declined = Seq(
      ("SELECT tag, sum(a) AS s FROM fa2 WHERE b > 0.0 " +
        "GROUP BY tag ORDER BY tag", "fa2"),
      // Calendar truncations (variable-width buckets) decline under a
      // value predicate; only fixed-width epoch-floor units splice.
      ("SELECT date_trunc('MONTH', ts) AS d, sum(value) AS s FROM fa " +
        "WHERE value > 0.0 GROUP BY 1 ORDER BY 1", "fa"),
      // An OR mixing value and tag predicates has no interval form.
      ("SELECT count(*) AS n FROM fa WHERE value > 5.0 OR tag = 'a'", "fa"))
    for ((q, t) <- declined) {
      val df = engine.sql(q)
      assert(df.queryExecution.executedPlan.toString.contains("Generate"),
        s"should grid: $q")
      val want = spark.sql(q.replace(s"FROM $t", s"FROM ${t}_raw")).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == want, q)
    }
  }

  test("FILTER-clause aggregates splice thresholdStats beside closed forms") {
    val engine = newEngine()
    buildTable(engine, "fc", "", irregular = false)
    engine.readTable("fc").createOrReplaceTempView("fc_raw")
    def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val bounds = engine.readTable("fc")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val mid = fmt((bounds.getLong(0) + bounds.getLong(1)) / 2)

    // FILTER keeps every group (unlike a WHERE): groups whose filtered
    // set is empty still appear, with 0 counts and NULL sums.
    val rewritten = Seq(
      "SELECT tag, count(*) AS n, count(*) FILTER (WHERE value > 0.5) " +
        "AS n_hi FROM fc GROUP BY tag ORDER BY tag",
      "SELECT tag, sum(value) FILTER (WHERE value > 0.0) AS s_pos, " +
        "sum(value) FILTER (WHERE value <= 0.0) AS s_neg, avg(value) AS a " +
        "FROM fc GROUP BY tag ORDER BY tag",
      "SELECT tag, min(value) FILTER (WHERE value > -5.0 AND value <= 5.0)" +
        " AS band_min, max(ts) FILTER (WHERE value > 0.0) AS t_last " +
        "FROM fc GROUP BY tag ORDER BY tag",
      "SELECT count(*) FILTER (WHERE value > 1.0e30) AS none, " +
        "sum(value) FILTER (WHERE value > 1.0e30) AS s_none, " +
        "count(*) AS n FROM fc",
      "SELECT tag, var_samp(value) FILTER (WHERE value <= 0.0) AS vs, " +
        "min(ts) AS t0 FROM fc GROUP BY tag ORDER BY tag",
      // count_if/any/every are the FILTER machinery under other names:
      // every(p) goes through the interval COMPLEMENT ("nothing
      // satisfies NOT p"), so OR bands complement to bands too. The
      // fixture's NaN rows satisfy every `> x` and violate every `<= x`.
      "SELECT tag, count_if(value > 0.5) AS n_hi, " +
        "any(value > 1.0e30) AS a_none, " +
        "every(value <= 1.0e30) AS e_all, " +
        "bool_or(value < -60.0) AS has_low, " +
        "bool_and(value <= 0.0 OR value > 0.4) AS e_band, " +
        "count(*) AS n FROM fc GROUP BY tag ORDER BY tag",
      "SELECT count_if(value = 0.0) AS n_zero, " +
        "every(value > -1.0e30) AS e FROM fc",
      // FILTER beside totals PER TIME BUCKET — the dashboard shape:
      // per hour, total rows and exceedances side by side.
      "SELECT date_trunc('HOUR', ts) AS b, count(*) AS n, " +
        "count(*) FILTER (WHERE value > 0.5) AS n_hi, " +
        "sum(value) FILTER (WHERE value <= 0.5) AS s_lo FROM fc " +
        "GROUP BY 1 ORDER BY 1",
      "SELECT tag, date_trunc('MINUTE', ts) AS b, " +
        "count(*) FILTER (WHERE value > 0.0) AS n_hi FROM fc " +
        "GROUP BY tag, 2 ORDER BY tag, b",
      s"SELECT tag, count(*) FILTER (WHERE value > 0.0) AS n_hi, " +
        s"sum(value) AS s FROM fc WHERE ts >= TIMESTAMP '$mid' " +
        "GROUP BY tag ORDER BY tag")
    for (q <- rewritten) {
      val df = engine.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      // A ts range routes the UNFILTERED side through the hybrid plan
      // (at most two boundary segments per series decode), and a bucket
      // grouping explodes straddlers per bucket — those Generates are
      // the intended plans; the full point-decode generator must never
      // appear, and everything else needs no generator at all.
      assert(!plan.contains("gridpoints") || q.contains("TIMESTAMP") ||
        q.contains("date_trunc"),
        s"FILTER aggregate must not decode points: $q")
      if (!q.contains("TIMESTAMP") && !q.contains("date_trunc"))
        assert(!plan.contains("Generate"),
          s"FILTER aggregate must not decode points: $q")
      val got = df.collect()
      val want = spark.sql(q.replace("FROM fc", "FROM fc_raw")).collect()
      assert(got.length == want.length, s"$q: ${got.length} vs ${want.length}")
      got.zip(want).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach {
          case (null, null) =>
          case (x: java.lang.Double, y: java.lang.Double) =>
            assert((x.isNaN && y.isNaN) ||
              math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)),
              s"$q: $a vs $b")
          case (x: java.lang.Float, y: java.lang.Float) =>
            assert(java.lang.Float.compare(x, y) == 0 ||
              (x.floatValue == 0f && y.floatValue == 0f), s"$q: $a vs $b")
          case (x, y) => assert(x == y, s"$q: $a vs $b")
        }
      }
    }

    // Each FILTER aggregate may target its OWN field — one
    // thresholdStats pass per distinct (field, bound), joined.
    engine.sql("CREATE TIME SERIES TABLE fc2(" +
      "ts TIMESTAMP, a FIELD, b FIELD, tag TAG)")
    engine.write("fc2", engine.readTable("fc")
      .select(col("ts"), col("value").as("a"),
        (col("value") * lit(0.5f)).as("b"), col("tag")))
    engine.readTable("fc2").createOrReplaceTempView("fc2_raw")
    val multiField =
      "SELECT tag, sum(a) FILTER (WHERE a > 0.0) AS sa, " +
        "sum(b) FILTER (WHERE b <= 0.0) AS sb, count(*) AS n " +
        "FROM fc2 GROUP BY tag ORDER BY tag"
    val mfDf = engine.sql(multiField)
    assert(!mfDf.queryExecution.executedPlan.toString.contains("Generate"),
      s"multi-field FILTER must splice: $multiField")
    val mfWant = spark.sql(multiField.replace("FROM fc2", "FROM fc2_raw"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(mfDf.collect().map(_.toSeq.map(String.valueOf)).toSeq == mfWant,
      multiField)

    // HAVING over a spliced aggregate: the splice sits under the
    // analyzer's Filter and parents resolve unchanged.
    val having =
      "SELECT tag, count(*) FILTER (WHERE value > 0.5) AS n_hi FROM fc " +
        "GROUP BY tag HAVING count(*) FILTER (WHERE value > 0.5) > 0 " +
        "ORDER BY tag"
    val hvDf = engine.sql(having)
    assert(!hvDf.queryExecution.executedPlan.toString.contains("Generate"),
      s"HAVING over the splice must not grid: $having")
    val hvWant = spark.sql(having.replace("FROM fc", "FROM fc_raw"))
      .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(hvDf.collect().map(_.toSeq.map(String.valueOf)).toSeq == hvWant,
      having)
    val declined = Seq(
      ("SELECT tag, sum(a) FILTER (WHERE b > 0.0) AS s FROM fc2 " +
        "GROUP BY tag ORDER BY tag", "fc2"),
      ("SELECT tag, count(*) FILTER (WHERE value > 0.0 AND tag = 'a') " +
        "AS n FROM fc GROUP BY tag ORDER BY tag", "fc"))
    for ((q, t) <- declined) {
      val df = engine.sql(q)
      assert(df.queryExecution.executedPlan.toString.contains("Generate"),
        s"should grid: $q")
      val want = spark.sql(q.replace(s"FROM $t", s"FROM ${t}_raw")).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq
      assert(df.collect().map(_.toSeq.map(String.valueOf)).toSeq == want, q)
    }
  }

  test("argExtremum finds the earliest timestamp of each series' extreme") {
    val engine = newEngine()
    buildTable(engine, "am", "", irregular = true)
    val pts = engine.readTable("am").cache()
    val bounds = pts
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val (wLo, wHi) = (bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 4,
      bounds.getLong(0) + 3 * (bounds.getLong(1) - bounds.getLong(0)) / 4)
    // The fixture's NaN runs make every tag's MAX a NaN (NaN-greatest),
    // exercising the NaN-target path; MIN exercises the real-value path.
    // Spark-side truth: NaN = NaN is TRUE in Spark SQL equality, so the
    // join-back finds exactly the extreme's points.
    for (kind <- Seq("max", "min");
         range <- Seq(scala.None, Some((wLo, wHi)))) {
      val (st, et) = range match {
        case Some((a, b)) => (Some(inst(a)), Some(inst(b)))
        case scala.None => (scala.None, scala.None)
      }
      val got = engine.argExtremum("am", "value", kind, Seq("tag"), st, et)
        .orderBy("tag").collect()
        .map(r => (r.getString(0), r.getFloat(1), r.getTimestamp(2))).toSeq
      val window = range match {
        case Some((a, b)) => pts.where(unix_micros(col("ts")).between(a, b))
        case scala.None => pts
      }
      val ext = window.groupBy("tag").agg(
        (if (kind == "max") max(col("value")) else min(col("value"))).as("m"))
      val want = window.join(ext, "tag").where(col("value") === col("m"))
        .groupBy("tag").agg(first(col("m")).as("m"), min(col("ts")).as("t"))
        .orderBy("tag").collect()
        .map(r => (r.getString(0), r.getFloat(1), r.getTimestamp(2))).toSeq
      assert(got.length == want.length, s"$kind $range")
      got.zip(want).foreach { case ((gt, gv, gts), (wt, wv, wts)) =>
        assert(gt == wt && java.lang.Float.compare(gv, wv) == 0 &&
          gts == wts, s"$kind $range: ($gt,$gv,$gts) vs ($wt,$wv,$wts)")
      }
    }
    pts.unpersist()
  }

  test("lttbDownsample matches a full point-level replay incl. NaN runs") {
    val engine = newEngine()
    buildTable(engine, "lt", "", irregular = true)
    val bucket = java.time.Duration.ofMillis(10) // 10000 us over ~100s span
    val bucketUs = 10000L
    val got = engine.lttbDownsample("lt", "value", bucket)
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        unix_micros(col("ts")).as("t"), col("value"))
      .orderBy("tag", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        String.valueOf(r.getFloat(3)))).toSeq

    // Replay with plain Spark over the reconstructed points.
    import org.apache.spark.sql.expressions.Window
    val pts = engine.readTable("lt")
      .select(col("tag"), unix_micros(col("ts")).as("t"), col("value"))
      .withColumn("b", col("t") - pmod(col("t"), lit(bucketUs)))
    val anch = pts.groupBy("tag", "b").agg(
      ((min(col("t")).cast("double") + max(col("t")).cast("double")) / 2d)
        .as("cx"),
      ((min(col("value")).cast("double") +
        max(col("value")).cast("double")) / 2d).as("cy"))
    val w = Window.partitionBy("tag").orderBy("b")
    val ctx = anch.select(col("tag"), col("b"),
      lag(col("cx"), 1).over(w).as("px"), lag(col("cy"), 1).over(w).as("py"),
      lead(col("cx"), 1).over(w).as("nx"), lead(col("cy"), 1).over(w).as("ny"))
    val joined = pts.join(ctx, Seq("tag", "b"))
    val score = when(col("px").isNull, -(col("t") - col("b")).cast("double"))
      .when(col("nx").isNull, (col("t") - col("b")).cast("double"))
      .otherwise(abs(
        (col("px") - col("nx")) * (col("value").cast("double") - col("py")) -
          (col("px") - col("t").cast("double")) * (col("ny") - col("py"))))
    val sel = Window.partitionBy("tag", "b")
      .orderBy(score.desc, col("t").asc, col("value").asc)
    val want = joined.withColumn("rn", row_number().over(sel))
      .where(col("rn") === 1)
      .orderBy("tag", "b").collect()
      .map(r => (r.getString(0), r.getLong(r.fieldIndex("b")),
        r.getLong(r.fieldIndex("t")),
        String.valueOf(r.getFloat(r.fieldIndex("value"))))).toSeq
    assert(got == want)
    // Endpoint rule: each series' first and last points are selected.
    val firsts = pts.groupBy("tag").agg(min("t").as("t0"), max("t").as("t1"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((tag, t0, t1) <- firsts) {
      val series = got.filter(_._1 == tag)
      assert(series.head._3 == t0 && series.last._3 == t1, tag)
    }
  }

  test("exactQuantiles returns the k-th smallest value under the SQL order") {
    val engine = newEngine()
    buildTable(engine, "qt", "", irregular = false)
    buildTable(engine, "qty", "(2.0%)", irregular = true)
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    for (t <- Seq("qt", "qty")) {
      val vals = engine.readTable(t).select(col("value")).collect()
        .map(_.getFloat(0))
      val sorted = vals.sortWith((a, b) =>
        graft.core.ValueCounts.sqlCompare(a.toDouble, b.toDouble) < 0)
      val got = engine.exactQuantiles(t, "value", qs).collect()
        .map(r => (r.getDouble(0), r.getFloat(1)))
      assert(got.map(_._1).toSeq == qs, s"table=$t")
      for ((q, v) <- got) {
        val k = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
        val want = sorted(k - 1)
        assert(graft.core.ValueCounts.sqlCompare(v.toDouble,
          want.toDouble) == 0 || (v.isNaN && want.isNaN),
          s"table=$t q=$q got=$v want=$want")
      }
    }
    // Time-ranged quantiles clip exactly.
    val bounds = engine.readTable("qt")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (wLo, wHi) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val inWin = engine.readTable("qt")
      .where(unix_micros(col("ts")).between(wLo, wHi))
      .select(col("value")).collect().map(_.getFloat(0))
      .sortWith((a, b) =>
        graft.core.ValueCounts.sqlCompare(a.toDouble, b.toDouble) < 0)
    val gotR = engine.exactQuantiles("qt", "value", Seq(0.5),
      startTime = Some(inst(wLo)), endTime = Some(inst(wHi)))
      .collect().head.getFloat(1)
    val wantR = inWin((math.ceil(0.5 * inWin.length).toInt - 1).max(0))
    assert(graft.core.ValueCounts.sqlCompare(gotR.toDouble,
      wantR.toDouble) == 0 || (gotR.isNaN && wantR.isNaN))
    // A window holding no points answers one NaN row per q: between two
    // adjacent timestamps (segments straddle it) and past the last point
    // (no segment reaches it).
    val ts = engine.readTable("qt").select(unix_micros(col("ts")))
      .distinct().orderBy(unix_micros(col("ts"))).limit(2).collect()
      .map(_.getLong(0))
    for ((eLo, eHi) <- Seq((ts(0) + 1, ts(1) - 1), (hi + 1, hi + 1000000L))) {
      val empty = engine.exactQuantiles("qt", "value", qs,
          startTime = Some(inst(eLo)), endTime = Some(inst(eHi)))
        .collect().map(r => (r.getDouble(0), r.getFloat(1))).toSeq
      assert(empty.map(_._1) == qs && empty.forall(_._2.isNaN),
        s"empty window [$eLo, $eHi]: $empty")
    }
    // -0.0 comes back as 0.0.
    import spark.implicits._
    engine.sql("CREATE TIME SERIES TABLE qz(ts TIMESTAMP, value FIELD, tag TAG)")
    engine.write("qz", (1 to 20).map(i =>
      (i * 100L, if (i <= 10) -0.0f else 1.0f, "z")).toDF("ts", "value", "tag"))
    val zero = engine.exactQuantiles("qz", "value", Seq(0.25, 1.0)).collect()
      .map(r => java.lang.Float.floatToRawIntBits(r.getFloat(1))).toSeq
    assert(zero == Seq(0.0f, 1.0f).map(java.lang.Float.floatToRawIntBits))
  }

  test("exactQuantiles per tag matches point-level order statistics") {
    val engine = newEngine()
    buildTable(engine, "qg", "", irregular = false)
    buildTable(engine, "qgy", "(2.0%)", irregular = true)
    val qs = Seq(0.25, 0.5, 0.99, 1.0)
    for (tbl <- Seq("qg", "qgy")) {
      val byTag = engine.readTable(tbl)
        .select(col("tag"), col("value")).collect()
        .groupBy(_.getString(0))
        .map { case (tag, rows) =>
          tag -> rows.map(_.getFloat(1)).sortWith((a, b) =>
            graft.core.ValueCounts.sqlCompare(a.toDouble, b.toDouble) < 0)
        }
      val got = engine.exactQuantiles(tbl, "value", qs, Seq("tag"))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getFloat(2))
        .toMap
      assert(got.size == byTag.size * qs.size)
      byTag.foreach { case (tag, sorted) =>
        qs.foreach { q =>
          val k = math.max(1L, math.ceil(q * sorted.length).toLong).toInt
          val want = sorted(k - 1)
          val v = got((tag, q))
          assert(graft.core.ValueCounts.sqlCompare(v.toDouble,
            want.toDouble) == 0 || (v.isNaN && want.isNaN),
            s"table=$tbl tag=$tag q=$q got=$v want=$want")
        }
      }
    }
    // Ranged: each group's window clips independently.
    val bounds = engine.readTable("qg")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (wLo, wHi) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    val inWin = engine.readTable("qg")
      .where(unix_micros(col("ts")).between(wLo, wHi))
      .select(col("tag"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (tag, rows) =>
        tag -> rows.map(_.getFloat(1)).sortWith((a, b) =>
          graft.core.ValueCounts.sqlCompare(a.toDouble, b.toDouble) < 0)
      }
    val gotR = engine.exactQuantiles("qg", "value", Seq(0.5), Seq("tag"),
        startTime = Some(inst(wLo)), endTime = Some(inst(wHi)))
      .collect().map(r => r.getString(0) -> r.getFloat(2)).toMap
    inWin.foreach { case (tag, sorted) =>
      val want = sorted(math.max(1, math.ceil(0.5 * sorted.length).toInt) - 1)
      assert(graft.core.ValueCounts.sqlCompare(gotR(tag).toDouble,
        want.toDouble) == 0 || (gotR(tag).isNaN && want.isNaN),
        s"ranged tag=$tag")
    }
    // A window inside a segment of tag a, between two of its points, holds
    // no point of a but one of another tag: a still answers, NaN per q.
    val byTagTs = engine.readTable("qgy")
      .select(col("tag"), unix_micros(col("ts"))).collect()
      .groupBy(_.getString(0)).map { case (tag, rows) =>
        tag -> rows.map(_.getLong(1)).sorted }
    val aSegments = SegmentSlice(engine.dataFolder, "qgy", Seq("value"))
      .segments.where(col("tag") === "a")
      .select(col("start_time"), col("end_time")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (gLo, gHi) = byTagTs("a").sliding(2).map(p => (p(0) + 1, p(1) - 1))
      .find { case (l, h) =>
        aSegments.exists { case (s0, s1) => s0 < l && s1 > h } &&
          byTagTs.exists { case (tag, t) =>
            tag != "a" && t.exists(x => x >= l && x <= h) }
      }.get
    val gap = engine.exactQuantiles("qgy", "value", Seq(0.5, 1.0), Seq("tag"),
        startTime = Some(inst(gLo)), endTime = Some(inst(gHi)))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getFloat(2))
      .toMap
    assert(gap(("a", 0.5)).isNaN && gap(("a", 1.0)).isNaN, s"gap: $gap")
    val inGap = engine.readTable("qgy")
      .where(unix_micros(col("ts")).between(gLo, gHi))
      .select(col("tag"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (tag, rows) =>
        tag -> rows.map(_.getFloat(1)).sortWith((a, b) =>
          graft.core.ValueCounts.sqlCompare(a.toDouble, b.toDouble) < 0)
      }
    assert(inGap.keySet.subsetOf(gap.keySet.map(_._1)), s"gap: $gap")
    gap.foreach { case ((tag, q), v) =>
      val sorted = inGap.getOrElse(tag, Array.empty[Float])
      val want = if (sorted.isEmpty) Float.NaN
        else sorted(math.ceil(q * sorted.length).toInt - 1)
      assert(graft.core.ValueCounts.sqlCompare(v.toDouble,
        want.toDouble) == 0 || (v.isNaN && want.isNaN),
        s"gap tag=$tag q=$q got=$v want=$want")
    }
  }

  test("trendStats matches a point-level least-squares replay") {
    val engine = newEngine()
    buildTable(engine, "tt", "", irregular = true)
    val got = engine.trendStats("tt", "value", groupByTags = Seq("tag"))
      .orderBy("tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val t0 = engine.readTable("tt")
      .agg(min(unix_micros(col("ts")))).collect().head.getLong(0)
    val want = engine.readTable("tt")
      .select(col("tag"),
        (unix_micros(col("ts")) - t0).cast("double").as("tc"),
        col("value").cast("double").as("v"))
      .groupBy("tag")
      .agg(count(lit(1)).cast("double").as("n"), sum("tc").as("s1"),
        sum(col("tc") * col("tc")).as("s2"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("svv"),
        sum(col("v") * col("tc")).as("svt"))
      .orderBy("tag").collect().map { r =>
        val Seq(n, s1, s2, sv, svv, svt) =
          (1 to 6).map(r.getDouble).toSeq
        val num = n * svt - s1 * sv
        val denT = n * s2 - s1 * s1
        (r.getString(0), n.toLong, num / denT * 86400000000.0,
          (sv - num / denT * s1) / n,
          num / math.sqrt(denT * (n * svv - sv * sv)))
      }
    def close(a: Double, b: Double) =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= math.abs(b) * 1e-6 + 1e-9
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"${g._1}")
      assert(close(g._3, w._3), s"slope ${g._1}: ${g._3} vs ${w._3}")
      assert(close(g._4, w._4), s"icept ${g._1}: ${g._4} vs ${w._4}")
      assert(close(g._5, w._5), s"corr ${g._1}: ${g._5} vs ${w._5}")
    }
    // No Generate: the regression runs on per-segment partials.
    val plan = engine.trendStats("tt", "value", groupByTags = Seq("tag"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan)
  }

  test("outlierCounts matches per-group band counting incl. ranges and NaN") {
    val engine = newEngine()
    buildTable(engine, "oc", "", irregular = true)
    val got = engine.outlierCounts("oc", "value", 2.0, Seq("tag"))
      .orderBy("tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // Replay: per-tag μ/σ_pop over non-NaN values via Spark, then band
    // counts with Spark comparison semantics (NaN outside every band).
    val pts = engine.readTable("oc").select(col("tag"),
      col("value").cast("double").as("v"))
    // NaN-poisoned groups: μ/σ go NaN, the band comparisons are false,
    // every value counts as an outlier — engine and replay agree. The
    // variance shape mirrors the engine's (ss - s*s/n)/n closed form.
    val stats = pts.groupBy("tag").agg(
      (sum("v") / count(lit(1))).as("mu"),
      ((sum(col("v") * col("v")) -
        sum("v") * sum("v") / count(lit(1))) / count(lit(1))).as("var0"),
      count(lit(1)).as("n"))
    val want = pts.join(stats, "tag")
      .withColumn("lo", col("mu") - lit(2.0) * sqrt(greatest(lit(0d), col("var0"))))
      .withColumn("hi", col("mu") + lit(2.0) * sqrt(greatest(lit(0d), col("var0"))))
      .groupBy("tag").agg(
        coalesce(sum(when(!(col("v") > col("lo") && col("v") <= col("hi")),
          1L)), lit(0L)).as("n_out"),
        count(lit(1)).as("n"))
      .orderBy("tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(g => (g._1, g._3)) == want.map(w => (w._1, w._3)))
    got.zip(want).foreach { case (g, w) =>
      assert(g._2 == w._2, s"tag=${g._1}: outliers ${g._2} vs ${w._2}")
    }
  }

  /** One lossless series of 200 random values in [0, 10) with `k` of them
    * replaced by `special`, and thresholdCountBy's count_in for the bounds
    * (lower, upper) beside Spark's count over the reconstructed points.
    */
  private def specialBoundCount(special: Float, k: Int,
      lower: java.lang.Double, upper: java.lang.Double,
      truth: String): (Long, Long) = {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE nb(ts TIMESTAMP, value FIELD, tag TAG)")
    val rng = new scala.util.Random(77L)
    val ts = DataGeneration.generateTimestamps(200, irregular = false, rng)
    val vs = Array.fill(200)(rng.nextFloat() * 10f)
    rng.shuffle((0 until 200).toList).take(k).foreach(i => vs(i) = special)
    import spark.implicits._
    engine.write("nb", ts.indices.map(i => (ts(i), vs(i), "a"))
      .toDF("ts", "value", "tag"))
    val bounds = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("a", lower, upper)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "tag STRING, lower DOUBLE, upper DOUBLE"))
    val got = engine.thresholdCountBy("nb", "value", bounds)
      .collect().head.getAs[Long]("count_in_value")
    val want = engine.readTable("nb").where(expr(truth)).count()
    (got, want)
  }

  test("thresholdCountBy: a NULL upper bound keeps NaN values on a segment " +
      "whose max is below the lower bound") {
    // Every finite value is below 100, so the stored max settles the
    // segment; the 12 NaN values still lie above 100 in the SQL order.
    val (got, want) = specialBoundCount(Float.NaN, 12, 100.0, null,
      "value > 100")
    assert(want == 12L)
    assert(got == want, s"count_in $got, count(v > 100) $want")
  }

  test("thresholdCountBy: a NULL lower bound is unbounded, -Inf included") {
    val (got, want) = specialBoundCount(Float.NegativeInfinity, 11, null,
      5.0, "value <= 5")
    assert(want > 11L)
    assert(got == want, s"count_in $got, count(v <= 5) $want")
  }

  test("histogram fast path: single-bin segments never reach the generator") {
    val engine = newEngine()
    // A linear ramp fits Swing losslessly (not NaN-capable), and stays
    // inside one 1000-wide bin → metadata-only histogram.
    val rng = new scala.util.Random(5L)
    val ts = DataGeneration.generateTimestamps(400, irregular = false, rng)
    import spark.implicits._
    engine.sql("CREATE TIME SERIES TABLE hf(ts TIMESTAMP, value FIELD, tag TAG)")
    engine.write("hf", ts.zipWithIndex.map { case (t, i) => (t, 42.0f + i, "x") }
      .toSeq.toDF("ts", "value", "tag"))
    val df = engine.valueHistogram("hf", "value", 0.0, 1000.0)
    val rows = df.collect()
    assert(rows.map(_.getLong(1)).sum == 400L)
    assert(rows.length == 1 && rows.head.getLong(0) == 0L)
    // The generator side still exists in the union plan, but its input is
    // empty: every segment satisfies the metadata single-bin predicate.
    val seg = engine.dataFolder.segments("hf")
    val eligible = seg.where(SegmentAggregates.singleBinCol(0.0, 1000.0))
    assert(eligible.count() == seg.count())
  }

  test("ranged percentile drops groups whose overlapping segments hold no in-range points") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE pg(ts TIMESTAMP, value FIELD, tag TAG)")
    import spark.implicits._
    // tag 'a': one constant run with a large hole — compresses to PMC
    // segment(s) spanning [0 s, 2000 s] with NO points in (10 s, 1990 s).
    // tag 'b': points throughout. A window inside the hole overlaps 'a'
    // segments (census n = 0) but only 'b' has in-range points.
    val aPts = ((0 to 10) ++ (1990 to 2000)).map(i => (i * 1000000L, 5.0f, "a"))
    val bPts = (0 to 2000 by 10).map(i => (i * 1000000L, i.toFloat, "b"))
    engine.write("pg", (aPts ++ bPts).toDF("ts", "value", "tag"))
    engine.readTable("pg").createOrReplaceTempView("pg_raw")

    // Sanity: 'a' really has a segment overlapping the window with no
    // in-range points — otherwise this test is not testing the n=0 path.
    val loUs = 500L * 1000000L
    val hiUs = 1500L * 1000000L
    val aOverlap = engine.dataFolder.segments("pg")
      .where(col("tag") === "a" &&
        col("start_time") <= hiUs && col("end_time") >= loUs)
      .count()
    assert(aOverlap > 0, "fixture must produce an 'a' segment spanning the hole")

    val window = "ts >= TIMESTAMP '1970-01-01 00:08:20' " +
      "AND ts <= TIMESTAMP '1970-01-01 00:25:00'"
    for (q <- Seq(
        s"SELECT tag, median(value) AS med FROM pg WHERE $window " +
          "GROUP BY tag ORDER BY tag",
        s"SELECT tag, percentile_disc(0.9) WITHIN GROUP (ORDER BY value) " +
          s"AS d90 FROM pg WHERE $window GROUP BY tag ORDER BY tag")) {
      val df = engine.sql(q)
      assert(!df.queryExecution.executedPlan.toString.contains("Generate"),
        s"percentile must splice, not grid: $q")
      val got = df.collect()
      val want = spark.sql(q.replace("FROM pg", "FROM pg_raw")).collect()
      assert(got.map(_.getString(0)).toSeq == Seq("b"), q)
      assert(got.length == want.length, q)
      got.zip(want).foreach { case (a, b) =>
        assert(a.toSeq.map(String.valueOf) == b.toSeq.map(String.valueOf),
          s"$q: $a vs $b")
      }
    }

    // UNGROUPED percentile over a range with zero points: one NULL row,
    // the global-aggregate SQL shape (a GROUP BY would return no rows).
    val g = engine.sql("SELECT median(value) AS med FROM pg " +
      s"WHERE tag = 'a' AND $window")
    val gRows = g.collect()
    assert(gRows.length == 1 && gRows.head.isNullAt(0))
    val gWant = spark.sql("SELECT median(value) AS med FROM pg_raw " +
      s"WHERE tag = 'a' AND $window").collect()
    assert(gWant.length == 1 && gWant.head.isNullAt(0))
  }
}
