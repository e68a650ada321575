package graft.remote

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration
import graft.tsdb.{Engine, RankProbe, SparkTestSession}

/** The segment-native rank-search transport (`GRAFT SEGMENT PROBE`): the
  * federated exact-percentile rounds must ship the kernel-answerable
  * statement exactly when the shape allows it, fall back to generic SQL
  * when it does not, and produce IDENTICAL answers either way — the probe
  * path changes the round's cost (O(boundary segments) vs a full re-grid
  * per endpoint per round), never its value.
  */
class RankProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Pin the size gate open: these fixtures sit far below the production
    * crossover (NativeProbeMinPoints), and the specs assert SHAPE
    * eligibility/fallback, not the size heuristic.
    */
  private def withGateOpen[T](body: => T): T = {
    val saved = graft.tsdb.FederatedAggregate.NativeProbeMinPoints
    graft.tsdb.FederatedAggregate.NativeProbeMinPoints = 0L
    try body
    finally graft.tsdb.FederatedAggregate.NativeProbeMinPoints = saved
  }

  test("codec round-trips arbitrary targets and states exactly") {
    val t0 = RankProbe.Target("mts", "v", Some(-3L), scala.None,
      Map("tag" -> "naïve\n'quote'", "t2" -> ""),
      Map("t3" -> Seq("日本語", "", "x")),
      Seq("tag", "t2"))
    // Multi-target request: one target per percentile child, states name
    // theirs by index.
    val req = RankProbe.Request(
      IndexedSeq(t0, t0.copy(field = "w")),
      fetch = false, nT = 3, fetchLimit = 0L,
      Seq(
        RankProbe.State(1, 0, Array("日本", null),
          Array(0.0, -0.0, Double.MinPositiveValue)),
        RankProbe.State(-7, 1, Array(null, "b"),
          Array(Double.MaxValue, -1.5e-300, 42.0))))
    val text = RankProbe.render(req)
    assert(RankProbe.matches(text))
    val back = RankProbe.decode(text)
    assert(back.targets == req.targets)
    assert(back.fetch == req.fetch && back.nT == req.nT &&
      back.fetchLimit == req.fetchLimit)
    assert(back.states.length == req.states.length)
    back.states.zip(req.states).foreach { case (a, b) =>
      assert(a.sid == b.sid && a.cix == b.cix)
      assert(a.keys.toSeq == b.keys.toSeq)
      // Bit-exact doubles (signed zero included).
      assert(a.xs.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        b.xs.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
    // Fetch frames carry (lo, hi] intervals regardless of nT, plus the
    // per-state pagination limit.
    val f = RankProbe.Request(IndexedSeq(t0), fetch = true, nT = 15,
      fetchLimit = 1024L,
      Seq(RankProbe.State(3, 0, Array("a", "b"), Array(1.25, 2.5))))
    val fBack = RankProbe.decode(RankProbe.render(f))
    assert(fBack.states.head.xs.toSeq == Seq(1.25, 2.5))
    assert(fBack.fetchLimit == 1024L)
  }

  /** Engine with per-tag runs whose values straddle compressible (linear)
    * and noisy stretches — interior AND boundary segments for any
    * threshold — plus a NaN-only tag for the isnan-conjunct drop.
    */
  private def makeEngine(tags: Seq[String], n: Int): Engine = {
    val engine = new Engine(spark,
      Files.createTempDirectory("graft_rankprobe").toString)
    engine.sql("CREATE TIME SERIES TABLE mts(ts TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    tags.foreach { tag =>
      val rng = new scala.util.Random(tag.hashCode * 31L + n)
      val ts = DataGeneration.generateTimestamps(n, irregular = true, rng)
      val vs = new Array[Float](n)
      var i = 0
      while (i < n) {
        val run = math.min(n - i, 40 + rng.nextInt(40))
        val vals =
          if (tag == "nan" && rng.nextBoolean()) Array.fill(run)(Float.NaN)
          else (rng.nextInt(3): @unchecked) match {
            case 0 => DataGeneration.generateValues(run,
              DataGeneration.Constant, None, rng)
            case 1 => DataGeneration.generateValues(run,
              DataGeneration.Linear, Some(0.2f), rng)
            case 2 => DataGeneration.generateValues(run,
              DataGeneration.RandomValues(-80f, 80f), None, rng)
          }
        System.arraycopy(vals, 0, vs, i, run)
        i += run
      }
      engine.write("mts", ts.indices.map(i => (ts(i), vs(i), tag))
        .toDF("ts", "v", "tag"))
    }
    engine
  }

  test("eligible shapes ship GRAFT SEGMENT PROBE rounds and stay exact " +
      "under time ranges, tag IN-lists and the NaN-guard conjunct") {
      withGateOpen {
    // Group sizes must beat the bounded-fetch gap (1024) even inside the
    // time range, or the search never probes — fetch-only rounds would
    // vacuously pass the probe-shape assertions.
    val local = makeEngine(Seq("a", "b", "nan"), 4000)
    val remote = makeEngine(Seq("b", "c", "nan"), 3500)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      val (loUs, hiUs) = {
        val r = local.readTable("mts")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .collect().head
        val (a, b) = (r.getLong(0), r.getLong(1))
        (a + (b - a) / 4, a + 3 * (b - a) / 4)
      }
      def fmt(us: Long) = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
      val where = s"WHERE ts >= TIMESTAMP '${fmt(loUs)}' AND " +
        s"ts <= TIMESTAMP '${fmt(hiUs)}' AND tag IN ('a', 'b', 'c', 'nan') " +
        "AND NOT isnan(v)"
      val q = "SELECT tag, percentile(v, array(0.1, 0.5, 0.99)) AS p, " +
        s"percentile_disc(0.35) WITHIN GROUP (ORDER BY v) AS pd FROM mts $where GROUP BY tag"
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $q")
        .collect().map(r => r.getString(0) -> r).toMap
      local.readTable("mts").unionByName(remote.readTable("mts"))
        .createOrReplaceTempView("__rp_combined")
      val want = spark.sql(q.replace("FROM mts ", "FROM __rp_combined "))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (tag, w) =>
        val (gp, wp) = (got(tag).getSeq[Double](1), w.getSeq[Double](1))
        assert(gp.length == wp.length, s"percentile array($tag)")
        gp.zip(wp).foreach { case (g2, w2) =>
          // Interpolated order statistics: the merge computes the convex
          // combination in a different association than Spark's lerp.
          assert(math.abs(g2 - w2) <= math.abs(w2) * 1e-12 + 1e-12,
            s"percentile array($tag): $gp vs $wp")
        }
        // Discrete ranks are data values — exact on both paths.
        assert(got(tag).getDouble(2) == w.getDouble(2), s"disc($tag) exact")
      }
      // Every interactive round shipped the segment-native statement; no
      // generic re-gridding probe and no raw-point statement exists.
      val probeStmts = statements.filter(RankProbe.matches)
      assert(probeStmts.nonEmpty, s"expected probe rounds, got: $statements")
      assert(!statements.exists(_.contains("count_if")),
        s"no generic probe should ship for this shape: $statements")
      // Both round kinds took the kernel path: probes and the fetch.
      val decoded = probeStmts.map(RankProbe.decode)
      assert(decoded.exists(!_.fetch) && decoded.exists(_.fetch),
        "expected both probe and fetch rounds on the segment-native path")
      val t = decoded.head.targets.head
      assert(t.table == "mts" && t.field == "v" && t.keyTags == Seq("tag"))
      assert(t.startUs.contains(loUs) && t.endUs.contains(hiUs))
      assert(t.tagIn.get("tag").exists(_.toSet ==
        Set("a", "b", "c", "nan")))
    } finally server.close()
  } }

  test("multi-child statements probe each stored field segment-natively; " +
      "a NaN guard with several children forces the generic path") {
      withGateOpen {
    def twoField(tags: Seq[String], n: Int): Engine = {
      val e = new Engine(spark,
        Files.createTempDirectory("graft_rankprobe2").toString)
      e.sql("CREATE TIME SERIES TABLE mts2(ts TIMESTAMP, v FIELD, " +
        "w FIELD, tag TAG)")
      import spark.implicits._
      tags.foreach { tag =>
        val rng = new scala.util.Random(tag.hashCode * 17L + n)
        val ts = DataGeneration.generateTimestamps(n, irregular = false, rng)
        val vs = DataGeneration.generateValues(n,
          DataGeneration.RandomValues(-50f, 50f), None, rng)
        val ws = DataGeneration.generateValues(n,
          DataGeneration.RandomValues(100f, 900f), None, rng)
        e.write("mts2", ts.indices.map(i => (ts(i), vs(i), ws(i), tag))
          .toDF("ts", "v", "w", "tag"))
      }
      e
    }
    val local = twoField(Seq("a", "b"), 3000)
    val remote = twoField(Seq("b", "c"), 2500)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      local.readTable("mts2").unionByName(remote.readTable("mts2"))
        .createOrReplaceTempView("__rp_two")
      val q = "SELECT tag, percentile(v, 0.5) AS pv, " +
        "percentile(w, 0.8) AS pw FROM mts2 GROUP BY tag"
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $q")
        .collect().map(r => r.getString(0) -> r).toMap
      val want = spark.sql(q.replace("FROM mts2", "FROM __rp_two"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (tag, w) =>
        Seq(1, 2).foreach { i =>
          val (x, y) = (got(tag).getDouble(i), w.getDouble(i))
          assert(math.abs(x - y) <= math.abs(y) * 1e-12 + 1e-12,
            s"col $i($tag): $x vs $y")
        }
      }
      val decoded = statements.filter(RankProbe.matches).map(RankProbe.decode)
      assert(decoded.nonEmpty && !statements.exists(_.contains("count_if")),
        s"expected only segment-native rounds: $statements")
      assert(decoded.flatMap(_.targets.map(_.field)).toSet == Set("v", "w"),
        "both stored fields must be probed natively")
      // BATCHED multi-child rounds: one statement answers every child per
      // chunk — each request carries both targets, and the first probe
      // round's states span both children in ONE statement (no
      // per-field statement fan-out).
      assert(decoded.forall(_.targets.map(_.field) == Seq("v", "w")),
        "every native statement must carry one target per child")
      assert(decoded.exists(r => !r.fetch &&
        r.states.map(_.cix).toSet == Set(0, 1)),
        "a probe round must batch both children's states in one statement")
      // NaN-guard conjunct + several children: dropping `NOT isnan(v)`
      // would change which rows count toward w's probes — generic path.
      statements.clear()
      local.sql(s"INCLUDE MERGE '${server.address}' " +
        "SELECT tag, percentile(v, 0.5) AS pv, percentile(w, 0.8) AS pw " +
        "FROM mts2 WHERE NOT isnan(v) GROUP BY tag").collect()
      assert(!statements.exists(RankProbe.matches),
        s"multi-child NaN guard must not take the fast path: $statements")
    } finally server.close()
  } }

  test("ineligible shapes fall back to the generic SQL probe and stay " +
      "exact: value-predicate WHERE, expression children, non-tag keys") {
      withGateOpen {
    val local = makeEngine(Seq("a", "b"), 2500)
    val remote = makeEngine(Seq("b", "c"), 2000)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      local.readTable("mts").unionByName(remote.readTable("mts"))
        .createOrReplaceTempView("__rp_combined2")
      def check(q: String): Unit = {
        statements.clear()
        val got = local.sql(s"INCLUDE MERGE '${server.address}' $q").collect()
        val want = spark.sql(q.replace("FROM mts", "FROM __rp_combined2"))
          .collect()
        assert(!statements.exists(RankProbe.matches),
          s"shape must NOT take the segment-native path: $q\n$statements")
        assert(statements.exists(_.contains("GROUP BY __sid, __b")),
          s"expected generic bin rounds for: $q")
        val g = got.sortBy(r => String.valueOf(r.get(0)))
        val w = want.sortBy(r => String.valueOf(r.get(0)))
        assert(g.length == w.length, q)
        g.zip(w).foreach { case (a, b) =>
          assert(a.get(0) == b.get(0), s"$q\n$a vs $b")
          val (x, y) = (a.getDouble(1), b.getDouble(1))
          assert(math.abs(x - y) <= math.abs(y) * 1e-12 + 1e-12,
            s"$q\n$a vs $b")
        }
      }
      check("SELECT tag, percentile(v, 0.5) AS p FROM mts " +
        "WHERE v > -20.0 GROUP BY tag")
      check("SELECT tag, percentile(v * 2.0, 0.5) AS p FROM mts GROUP BY tag")
      check("SELECT floor(v / 50.0) AS b, percentile(v, 0.5) AS p " +
        "FROM mts GROUP BY floor(v / 50.0)")
    } finally server.close()
  } }

  test("below the size gate an eligible shape stays on the generic " +
      "rounds — the native constant only pays for itself at scale") {
    val local = makeEngine(Seq("a", "b"), 2500)
    val remote = makeEngine(Seq("b", "c"), 2000)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      // Production gate (2M combined points) far above this fixture.
      local.sql(s"INCLUDE MERGE '${server.address}' " +
        "SELECT tag, percentile(v, 0.5) AS p FROM mts GROUP BY tag")
        .collect()
      assert(!statements.exists(RankProbe.matches),
        s"sub-gate data must use generic rounds: $statements")
      assert(statements.exists(s =>
        s.contains("count_if") || s.contains("__v")),
        s"expected generic probe/fetch rounds: $statements")
    } finally server.close()
  }
}
