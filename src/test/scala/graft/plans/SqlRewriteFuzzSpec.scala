package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration
import graft.tsdb.{Engine, SparkTestSession}

/** Metamorphic fuzz harness for [[SegmentAggregateSqlRewrite]]: the rule
  * is ~1.7k lines of accept/decline branches, and the only property every
  * branch must satisfy is SPLICE ≡ GRIDDED — the rewritten plan answers
  * exactly what Spark answers over the reconstructed points (the
  * reference repo tests its own rewrite with the same equivalence idea,
  * /root/reference/crates/modelardb_server/tests/integration_test.rs:1129-1243).
  *
  * A seeded generator composes random legal shapes — time ranges × tag
  * filters × bucket/window/phase/value-bin groupings × value predicates ×
  * FILTER clauses × variance × percentiles × linear field expressions —
  * and every seed asserts result equivalence against `spark.sql` over the
  * gridded raw view. Declined shapes grid and trivially agree, so the
  * harness stays sound without re-implementing the accept logic; a splice
  * counter asserts the generator keeps hitting the accept paths, and a
  * planted-mutation test proves a wrong accept is actually caught.
  */
class SqlRewriteFuzzSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val engine: Engine = {
    val e = new Engine(spark, Files.createTempDirectory("graft_fuzz").toString)
    e.sql("CREATE TIME SERIES TABLE fz(ts TIMESTAMP, v FIELD, tag TAG)")
    val rng = new scala.util.Random(20240814L)
    val rows = Seq("a", "b", "c").flatMap { tag =>
      val n = 700
      val ts = DataGeneration.generateTimestamps(n, irregular = true, rng)
      val vs = new Array[Float](n)
      var i = 0
      while (i < n) {
        val run = math.min(n - i, 40 + rng.nextInt(41))
        val vals = (rng.nextInt(8): @unchecked) match {
          case 0 | 1 => DataGeneration.generateValues(run,
            DataGeneration.Constant, None, rng)
          case 2 | 3 => DataGeneration.generateValues(run,
            DataGeneration.Linear, Some(0.3f), rng)
          case 4 | 5 | 6 => DataGeneration.generateValues(run,
            DataGeneration.RandomValues(-80f, 80f), None, rng)
          case 7 => Array.fill(run)(Float.NaN)
        }
        System.arraycopy(vals, 0, vs, i, run)
        i += run
      }
      ts.indices.map(i => (ts(i), vs(i), tag))
    }
    import spark.implicits._
    e.write("fz", rows.toDF("ts", "v", "tag"))
    e.readTable("fz").createOrReplaceTempView("fz_raw")
    e
  }

  // Fixture stats the generator draws constants from.
  private lazy val (tsMin, tsMax) = {
    val r = engine.readTable("fz")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect().head
    (r.getLong(0), r.getLong(1))
  }
  private lazy val valueSample: Array[Float] = engine.readTable("fz")
    .where(!isnan(col("v"))).select(col("v")).limit(4000).collect()
    .map(_.getFloat(0)).sorted

  private def fmtTs(us: Long): String = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    .format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** One random legal query: (sql, numberOfGroupKeyColumns, hasTimeRange). */
  private def genQuery(seed: Int): (String, Int, Boolean) = {
    val rng = new scala.util.Random(seed * 2654435761L + 1)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))
    def sampleValue(): Double = {
      val v = valueSample(rng.nextInt(valueSample.length))
      // Half the time the exact stored value (exercises >= / = boundary
      // canonicalization), half a perturbed non-value.
      if (rng.nextBoolean()) v.toDouble else v.toDouble + 0.37
    }

    // Groupings: (select expr with alias, group-by expr)
    val groupings: Seq[(String, String)] = rng.nextInt(10) match {
      case 0 | 1 => Seq.empty
      case 2 => Seq(("tag", "tag"))
      case 3 => Seq(("tag AS g", "tag"))
      case 4 =>
        val u = pick(Seq("HOUR", "DAY", "WEEK"))
        Seq((s"date_trunc('$u', ts) AS b", s"date_trunc('$u', ts)"))
      case 5 =>
        val p = pick(Seq("hour(ts)", "minute(ts)", "dayofweek(ts)"))
        Seq((s"$p AS ph", p))
      case 6 =>
        val o = pick(Seq("0.0", "10.5"))
        val w = pick(Seq("25.0", "50.0"))
        Seq((s"floor((v - $o) / $w) AS bin", s"floor((v - $o) / $w)"))
      case 7 =>
        val u = pick(Seq("HOUR", "DAY"))
        Seq(("tag", "tag"),
          (s"date_trunc('$u', ts) AS b", s"date_trunc('$u', ts)"))
      case 8 => Seq(("tag", "tag"), ("hour(ts) AS ph", "hour(ts)"))
      case 9 =>
        val w = pick(Seq("'6 hours'", "'1 day'"))
        Seq((s"window.start AS ws", s"window(ts, $w)"))
    }

    // WHERE clauses.
    var hasRange = false
    val where = scala.collection.mutable.ArrayBuffer.empty[String]
    if (rng.nextDouble() < 0.4) {
      hasRange = true
      val a = tsMin + (rng.nextDouble() * (tsMax - tsMin)).toLong
      val b = tsMin + (rng.nextDouble() * (tsMax - tsMin)).toLong
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      rng.nextInt(3) match {
        case 0 => where += s"ts >= TIMESTAMP '${fmtTs(lo)}'"
        case 1 => where += s"ts <= TIMESTAMP '${fmtTs(hi)}'"
        case _ => where += s"ts >= TIMESTAMP '${fmtTs(lo)}' AND " +
          s"ts <= TIMESTAMP '${fmtTs(hi)}'"
      }
    }
    if (rng.nextDouble() < 0.3) {
      where += pick(Seq("tag = 'a'", "tag = 'b'", "tag IN ('a', 'c')"))
    }
    if (rng.nextDouble() < 0.3) {
      val c = sampleValue()
      val d = c + 20.0
      where += pick(Seq(
        s"v > $c", s"v <= $c", s"v >= $c", s"v = $c",
        s"v > $c AND v <= $d", s"v < $c OR v > $d"))
    }

    // Aggregates. Percentile shapes stand alone (the splice requires it;
    // mixed shapes grid — also covered, by other seeds' var/sum mixes).
    val aggs: Seq[String] =
      if (rng.nextDouble() < 0.15)
        Seq.fill(1 + rng.nextInt(2)) {
          pick(Seq(
            "median(v)",
            s"percentile(v, ${pick(Seq("0.25", "0.5", "0.9", "0.99"))})",
            s"percentile_disc(${pick(Seq("0.1", "0.5", "0.9"))}) " +
              "WITHIN GROUP (ORDER BY v)"))
        }.zipWithIndex.map { case (a, i) => s"$a AS p$i" }
      else {
        val c = sampleValue()
        val pool = Seq(
          "count(*)", "count(v)", "sum(v)", "avg(v)", "min(v)", "max(v)",
          "var_samp(v)", "var_pop(v)", "stddev_samp(v)", "stddev_pop(v)",
          "min(ts)", "max(ts)", "sum(v * 0.5 + 8.0)", "avg(v * 2.0 - 1.0)",
          s"count(*) FILTER (WHERE v > $c)",
          s"sum(v) FILTER (WHERE v > $c AND v <= ${c + 30.0})",
          s"count_if(v > $c)", s"any(v > $c)", s"every(v > $c)")
        Seq.fill(1 + rng.nextInt(3))(pick(pool)).distinct
          .zipWithIndex.map { case (a, i) => s"$a AS a$i" }
      }

    val selectCols = (groupings.map(_._1) ++ aggs).mkString(", ")
    val whereSql = if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")
    val groupSql =
      if (groupings.isEmpty) ""
      else groupings.map(_._2).mkString(" GROUP BY ", ", ", "")
    (s"SELECT $selectCols FROM fz$whereSql$groupSql", groupings.length, hasRange)
  }

  /** NaN-aware, rounding-tolerant equivalence of two result sets, rows
    * matched by their (exact-typed) group-key prefix.
    */
  private def assertEquivalent(q: String, nKeys: Int): Unit = {
    val got = engine.sql(q).collect()
    val want = spark.sql(q.replace("FROM fz", "FROM fz_raw")).collect()
    def key(r: org.apache.spark.sql.Row) =
      (0 until nKeys).map(i => String.valueOf(r.get(i))).mkString("\u0000")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    assert(g.length == w.length,
      s"row count ${g.length} vs ${w.length}\n$q")
    g.zip(w).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        (a.get(i), b.get(i)) match {
          case (null, null) =>
          case (x: java.lang.Double, y: java.lang.Double) =>
            assert(x.isNaN && y.isNaN || math.abs(x - y) <=
              math.max(1e-12, 1e-9 * math.max(math.abs(x), math.abs(y))),
              s"col $i: $x vs $y\n$q\nsplice: $a\ngridded: $b")
          case (x: java.lang.Float, y: java.lang.Float) =>
            assert(x.isNaN && y.isNaN ||
              math.abs(x.toDouble - y.toDouble) <= 1e-6 +
                1e-6 * math.max(math.abs(x.toDouble), math.abs(y.toDouble)),
              s"col $i: $x vs $y\n$q\nsplice: $a\ngridded: $b")
          case (x, y) =>
            assert(x == y, s"col $i: $x vs $y\n$q\nsplice: $a\ngridded: $b")
        }
      }
    }
  }

  test("200 seeded random shapes: splice ≡ gridded") {
    val before = SegmentAggregateSqlRewrite.spliceCountForTests.get()
    (1 to 200).foreach { seed =>
      val (q, nKeys, _) = genQuery(seed)
      withClue(s"seed $seed: ") { assertEquivalent(q, nKeys) }
    }
    val spliced = SegmentAggregateSqlRewrite.spliceCountForTests.get() - before
    // The generator must keep exercising the ACCEPT paths — a refactor
    // that silently declines everything would pass equivalence vacuously.
    assert(spliced >= 60, s"only $spliced of 200 seeds spliced")
  }

  test("an aliased tag group key splices like the bare tag") {
    // INCLUDE MERGE ships its group keys aliased (`tag AS __g0`): the
    // alias must not push the aggregate onto the gridded plan.
    val aliased = engine.sql("SELECT tag AS g, count(v) AS n, " +
      "min(ts) AS t0 FROM fz GROUP BY tag ORDER BY g")
    val plan = aliased.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("gridpoints"), plan)
    assert(aliased.columns.toSeq == Seq("g", "n", "t0"))
    val bare = engine.sql("SELECT tag, count(v) AS n, min(ts) AS t0 " +
      "FROM fz GROUP BY tag ORDER BY tag")
    assert(aliased.collect().toSeq == bare.collect().toSeq)
  }

  test("tumbling-window proof is memoized after the first execution") {
    val sql = "SELECT window.start AS ws, count(*) AS n, max(v) AS mx " +
      "FROM fz WHERE v > 10.0 GROUP BY window(ts, '1 day') ORDER BY ws"
    val first = engine.sql(sql).collect()
    val slowAfterFirst =
      SegmentAggregateSqlRewrite.windowWidthSlowPathCount.get()
    val second = engine.sql(sql).collect()
    // Same (width, tz): the second execution must prove the window struct
    // off the memoized reference, never re-analyzing over the source.
    assert(SegmentAggregateSqlRewrite.windowWidthSlowPathCount.get() ==
      slowAfterFirst, "second execution re-ran the full window re-analysis")
    assert(second.toSeq == first.toSeq)
    // And the memo proves the same thing the slow path proves: the
    // spliced result still matches the gridded reference.
    val expect = spark.sql(
      "SELECT window.start AS ws, count(*) AS n, max(v) AS mx FROM fz_raw " +
        "WHERE v > CAST(10.0 AS FLOAT) GROUP BY window(ts, '1 day') " +
        "ORDER BY ws").collect()
    assert(second.toSeq == expect.toSeq)
    // A hand-written struct is NOT a tumbling window: it must keep
    // declining (correct answer through the gridded plan), memo or not.
    val spoof = engine.sql(
      "SELECT w.s AS h, COUNT(*) AS n FROM " +
        "(SELECT named_struct('s', date_trunc('HOUR', ts)) AS w, v FROM fz) " +
        "GROUP BY w ORDER BY h")
    val spoofExpect = spark.sql(
      "SELECT date_trunc('HOUR', ts) AS h, COUNT(*) AS n FROM fz_raw " +
        "GROUP BY 1 ORDER BY 1").collect()
    assert(spoof.collect().toSeq == spoofExpect.toSeq)
  }

  test("planted wrong-accept mutation is caught by the harness") {
    // Extend every accepted shape's end bound by one second inside
    // build(): with irregular ~150µs steps that pulls thousands of extra
    // points into any ranged aggregate — the equivalence check must flag
    // at least one ranged seed. Proves detection power without weakening
    // the shipped rule.
    val rangedSeeds = (1 to 200).map(genQuery).filter(_._3)
    assert(rangedSeeds.nonEmpty, "generator produced no ranged seeds")
    SegmentAggregateSqlRewrite.plantRangeBugForTests = true
    try {
      val caught = rangedSeeds.exists { case (q, nKeys, _) =>
        try { assertEquivalent(q, nKeys); false }
        catch { case _: org.scalatest.exceptions.TestFailedException => true }
      }
      assert(caught, "no ranged seed detected the planted +1s range bug")
    } finally {
      SegmentAggregateSqlRewrite.plantRangeBugForTests = false
    }
  }
}
