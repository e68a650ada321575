package graft.remote

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration
import graft.tsdb.{Engine, FederatedAggregate, SparkTestSession}

/** `INCLUDE MERGE` federated aggregate pushdown: the partial query — not
  * the points, not the verbatim statement — ships to each endpoint, and
  * the merged result equals the aggregate over the COMBINED data. The
  * combined-data expectation replays every aggregate with Spark's own
  * functions over the raw union of both endpoints' reconstructed tables.
  */
class IncludeMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** An engine over a fresh folder holding `series` tag runs of `n` points
    * each (distinct value streams per tag so per-group statistics differ).
    */
  private def makeEngine(tags: Seq[String], n: Int): Engine = {
    val engine = new Engine(spark,
      Files.createTempDirectory("graft_merge").toString)
    engine.sql("CREATE TIME SERIES TABLE mts(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    tags.foreach { tag =>
      val rng = new scala.util.Random(tag.hashCode.toLong)
      val ts = DataGeneration.generateTimestamps(n, irregular = false, rng)
      val vs = DataGeneration.generateValues(n,
        DataGeneration.RandomValues(-100f, 100f), Some(0.05f), rng)
      engine.write("mts", ts.indices.map(i => (ts(i), vs(i), tag))
        .toDF("ts_us", "v", "tag"))
    }
    engine
  }

  /** Raw combined rows of both endpoints (reconstructed points). */
  private def combined(a: Engine, b: Engine): DataFrame =
    a.readTable("mts").unionByName(b.readTable("mts"))

  private def assertClose(got: Double, want: Double, what: String): Unit = {
    if (want.isNaN) assert(got.isNaN, s"$what: expected NaN, got $got")
    else assert(math.abs(got - want) <= math.abs(want) * 1e-9 + 1e-12,
      s"$what: got $got, want $want")
  }

  test("grouped merge equals the aggregate over the combined data " +
      "and ships partials, not points or the verbatim statement") {
    val local = makeEngine(Seq("a", "b"), 400)
    val remote = makeEngine(Seq("b", "c"), 300)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      val merged = local.sql(
        s"INCLUDE MERGE '${server.address}' " +
          "SELECT tag, count(*) AS n, sum(v) AS s, min(v) AS mn, " +
          "max(v) AS mx, avg(v) AS av, var_samp(v) AS vs, " +
          "stddev_pop(v) AS sp FROM mts GROUP BY tag")
        .collect().map(r => r.getString(0) -> r).toMap

      // The remote saw exactly one statement: the PARTIAL query.
      assert(statements.size == 1, s"expected one remote statement: $statements")
      val shipped = statements.head
      assert(shipped.contains("__p0") && shipped.contains("__g0"),
        s"remote must receive the partial projection, got: $shipped")
      assert(shipped.toLowerCase.contains("var_pop("),
        "the variance partial (per-endpoint M2) must be pushed down")
      assert(!shipped.toLowerCase.contains("var_samp(") &&
        !shipped.toLowerCase.contains("stddev"),
        s"final statistics must NOT ship — they merge locally: $shipped")

      val want = combined(local, remote)
        .groupBy("tag").agg(
          count(lit(1)).as("n"), sum(col("v")).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"),
          avg(col("v")).as("av"),
          var_samp(col("v").cast("double")).as("vs"),
          stddev_pop(col("v").cast("double")).as("sp"))
        .collect().map(r => r.getString(0) -> r).toMap

      assert(merged.keySet == Set("a", "b", "c"),
        "groups from every endpoint must appear, including single-endpoint ones")
      want.foreach { case (tag, w) =>
        val g = merged(tag)
        assert(g.getLong(1) == w.getLong(1), s"count($tag)")
        assertClose(g.getDouble(2), w.getDouble(2), s"sum($tag)")
        assert(g.getFloat(3) == w.getFloat(3), s"min($tag)")
        assert(g.getFloat(4) == w.getFloat(4), s"max($tag)")
        assertClose(g.getDouble(5), w.getDouble(5), s"avg($tag)")
        assertClose(g.getDouble(6), w.getDouble(6), s"var_samp($tag)")
        assertClose(g.getDouble(7), w.getDouble(7), s"stddev_pop($tag)")
      }
    } finally server.close()
  }

  test("global merge (no GROUP BY) and scalar post-processing") {
    val local = makeEngine(Seq("x"), 250)
    val remote = makeEngine(Seq("y"), 350)
    val server = new RemoteServer(remote)
    try {
      val row = local.sql(
        s"INCLUDE MERGE '${server.address}' " +
          "SELECT count(*) AS n, round(avg(v), 3) AS av3, " +
          "max(v) - min(v) AS span FROM mts")
        .collect()
      assert(row.length == 1, "a global aggregate merges to ONE row")
      val all = combined(local, remote).agg(
        count(lit(1)), round(avg(col("v")), 3),
        max(col("v")) - min(col("v"))).collect().head
      assert(row.head.getLong(0) == all.getLong(0))
      assertClose(row.head.getDouble(1), all.getDouble(1), "round(avg)")
      assertClose(row.head.getFloat(2).toDouble, all.getFloat(2).toDouble, "span")
    } finally server.close()
  }

  test("endpoint rewrites answer the partial from segment metadata " +
      "(pushdown composes with the segment-native aggregate rewrite)") {
    // count/min/max/sum/avg partials over a stored field are exactly the
    // shapes the per-node SQL rewrite answers without reconstruction; the
    // merged result must still be exact.
    val local = makeEngine(Seq("p"), 500)
    val remote = makeEngine(Seq("q"), 500)
    val server = new RemoteServer(remote)
    try {
      val got = local.sql(
        s"INCLUDE MERGE '${server.address}' " +
          "SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM mts")
        .collect().head
      val want = combined(local, remote)
        .agg(count(lit(1)), min(col("v")), max(col("v"))).collect().head
      assert(got.getLong(0) == want.getLong(0))
      assert(got.getFloat(1) == want.getFloat(1))
      assert(got.getFloat(2) == want.getFloat(2))
    } finally server.close()
  }

  test("folder endpoints merge too, and duplicate aggregate calls dedupe") {
    val local = makeEngine(Seq("f"), 200)
    val remote = makeEngine(Seq("g"), 200)
    val dec = FederatedAggregate.decompose _
    val merged = local.sql(
      s"INCLUDE MERGE '${remote.root}' " +
        "SELECT avg(v) AS a1, avg(v) * 2 AS a2 FROM mts").collect().head
    assertClose(merged.getDouble(1), merged.getDouble(0) * 2, "a2 = 2*a1")
    val want = combined(local, remote).agg(avg(col("v"))).collect().head
    assertClose(merged.getDouble(0), want.getDouble(0), "avg")
    locally { val _ = dec } // silence unused-warning if signature drifts
  }

  test("grouped percentile merge is EXACT vs the combined data, and only " +
      "count-probe statements ship — never points") {
    val local = makeEngine(Seq("a", "b"), 450)
    val remote = makeEngine(Seq("b", "c"), 350)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    // Gate open: the fixture sits below the production size gate
    // (NativeProbeMinPoints), and this test asserts the segment-native
    // round shapes.
    val savedGate = FederatedAggregate.NativeProbeMinPoints
    FederatedAggregate.NativeProbeMinPoints = 0L
    try {
      val got = local.sql(
        s"INCLUDE MERGE '${server.address}' " +
          "SELECT tag, percentile(v, 0.9) AS p90, median(v) AS med, " +
          "count(*) AS n FROM mts GROUP BY tag")
        .collect().map(r => r.getString(0) -> r).toMap
      val want = combined(local, remote).groupBy("tag")
        .agg(expr("percentile(v, 0.9)").as("p90"), expr("median(v)").as("med"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (tag, w) =>
        assert(got(tag).getDouble(1) == w.getDouble(1), s"p90($tag) exact")
        assert(got(tag).getDouble(2) == w.getDouble(2), s"median($tag) exact")
        assert(got(tag).getLong(3) == w.getLong(3), s"n($tag)")
      }
      // Every statement the remote saw is an aggregate shape (the partial,
      // a count-probe — generic SQL or the segment-native GRAFT SEGMENT
      // PROBE form — or a bounded in-interval fetch) — never raw points.
      assert(statements.nonEmpty)
      statements.foreach { s =>
        val probeOrPartial = s.contains("__p0") ||
          s.startsWith("GRAFT SEGMENT PROBE") ||
          (s.contains("__sid") && (s.contains("count_if") || s.contains("count(*)")))
        assert(probeOrPartial, s"unexpected remote statement shape: $s")
      }
      // This statement's shape (bare field child, tag grouping, no WHERE)
      // must take the segment-native probe path on every round.
      assert(statements.exists(_.startsWith("GRAFT SEGMENT PROBE")),
        "expected segment-native probe rounds")
      assert(!statements.exists(s => s.contains("count_if") ||
        (s.contains("__sid") && s.contains("count(*)"))),
        "no generic re-gridding probe should ship for this shape")
    } finally {
      FederatedAggregate.NativeProbeMinPoints = savedGate
      server.close()
    }
  }

  test("percentile_disc and percentile_cont merge exactly; all-equal and " +
      "empty-range groups take the shortcut paths") {
    val local = makeEngine(Seq("d"), 300)
    val remote = makeEngine(Seq("e"), 200)
    val server = new RemoteServer(remote)
    try {
      val q = "SELECT tag, percentile_disc(0.25) WITHIN GROUP (ORDER BY v) " +
        "AS pd, percentile_cont(0.75) WITHIN GROUP (ORDER BY v) AS pc " +
        "FROM mts GROUP BY tag"
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $q")
        .collect().map(r => r.getString(0) -> r).toMap
      combined(local, remote).createOrReplaceTempView("__imc")
      val want = spark.sql(q.replace("FROM mts", "FROM __imc"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (tag, w) =>
        assert(got(tag).get(1) == w.get(1), s"pd($tag)")
        assert(got(tag).getDouble(2) == w.getDouble(2), s"pc($tag)")
      }
    } finally server.close()
  }

  test("approx_count_distinct merges HLL sketches within the rsd bound") {
    val local = makeEngine(Seq("h", "i"), 400)
    val remote = makeEngine(Seq("i", "j"), 400)
    val server = new RemoteServer(remote)
    try {
      val got = local.sql(
        s"INCLUDE MERGE '${server.address}' " +
          "SELECT approx_count_distinct(v, 0.02) AS ad, count(*) AS n FROM mts")
        .collect().head
      val exact = combined(local, remote)
        .agg(countDistinct(col("v")), count(lit(1))).collect().head
      assert(got.getLong(1) == exact.getLong(1), "count merges exactly")
      val rel = math.abs(got.getLong(0).toDouble / exact.getLong(0) - 1.0)
      assert(rel <= 0.06,
        s"sketch estimate ${got.getLong(0)} vs exact ${exact.getLong(0)} " +
          s"(rel err $rel) outside 3x rsd")
    } finally server.close()
  }

  test("time travel composes with MERGE: each endpoint aggregates its own " +
      "VERSION AS OF snapshot") {
    // Two commits per engine (one per tag): version 1 holds only the
    // first tag's points on each endpoint.
    val local = makeEngine(Seq("a", "b"), 120)
    val remote = makeEngine(Seq("c", "d"), 90)
    val server = new RemoteServer(remote)
    try {
      val got = local.sql(s"INCLUDE MERGE '${server.address}' " +
        "SELECT count(*) AS n, avg(v) AS av, percentile(v, 0.5) AS med " +
        "FROM mts VERSION AS OF 1").collect().head
      val combinedV1 = local.readTableVersion("mts", 1)
        .unionByName(remote.readTableVersion("mts", 1))
      val want = combinedV1.agg(count(lit(1)), avg(col("v")),
        expr("percentile(v, 0.5)")).collect().head
      assert(got.getLong(0) == 120L + 90L && got.getLong(0) == want.getLong(0))
      assertClose(got.getDouble(1), want.getDouble(1), "avg@v1")
      assert(got.getDouble(2) == want.getDouble(2), "median@v1 exact")
    } finally server.close()
  }

  test("normal tables with NULL group keys, NULL percentile children, and " +
      "integer children merge exactly") {
    def normalEngine(seed: Int, rows: Int): Engine = {
      val engine = new Engine(spark,
        Files.createTempDirectory("graft_merge_nt").toString)
      engine.sql("CREATE TABLE nt(k STRING, x INT, y DOUBLE)")
      val rng = new scala.util.Random(seed)
      import spark.implicits._
      val data = (0 until rows).map { i =>
        val k = rng.nextInt(4) match {
          case 0 => null; case 1 => "g1"; case 2 => "g2"; case _ => "g3"
        }
        val x: java.lang.Integer =
          if (rng.nextDouble() < 0.15) null
          else Int.box(rng.nextInt(2001) - 1000)
        (k, x, rng.nextDouble() * 50 - 25)
      } ++
        // A group whose percentile child is ALL NULL on every endpoint:
        // the merged percentile must be NULL (count 0), not a crash.
        (0 until 5).map(i => ("gnull", null: java.lang.Integer, i.toDouble))
      engine.write("nt", data.toDF("k", "x", "y"))
      engine
    }
    val local = normalEngine(1, 300)
    val remote = normalEngine(2, 260)
    val server = new RemoteServer(remote)
    try {
      val q = "SELECT k, percentile(x, 0.5) AS med, " +
        "percentile_disc(0.9) WITHIN GROUP (ORDER BY x) AS p90d, " +
        "count(x) AS nx, avg(y) AS ay FROM nt GROUP BY k"
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $q")
        .collect().map(r => Option(r.getString(0)) -> r).toMap
      local.readTable("nt").unionByName(remote.readTable("nt"))
        .createOrReplaceTempView("__imnt")
      val want = spark.sql(q.replace("FROM nt", "FROM __imnt"))
        .collect().map(r => Option(r.getString(0)) -> r).toMap
      assert(got.keySet == want.keySet)
      assert(got.keySet.contains(None), "the NULL group key must merge too")
      want.foreach { case (k, w) =>
        val g = got(k)
        // percentile over INT: both sides interpolate the same exact
        // doubles, so equality is exact; percentile_disc returns an
        // actual INT value. The all-NULL group yields NULL percentiles.
        if (w.isNullAt(1)) assert(g.isNullAt(1), s"med($k) must be NULL")
        else assert(g.getDouble(1) == w.getDouble(1), s"med($k)")
        assert(g.get(2) == w.get(2), s"p90d($k)")
        assert(g.getLong(3) == w.getLong(3), s"nx($k): nulls must not count")
        assertClose(g.getDouble(4), w.getDouble(4), s"ay($k)")
      }
      assert(got(Some("gnull")).isNullAt(1),
        "all-NULL group's percentile must merge to NULL")
    } finally server.close()
  }

  test("remote endpoints fan out concurrently: a round costs " +
      "max(endpoint latency), not the sum") {
    val engine = makeEngine(Seq("z"), 80)
    // Two endpoints over the same engine, each holding the statement for
    // 600 ms before serving it. Sequential fan-out would space the two
    // receive times >= 600 ms apart; the concurrent drain lands both
    // within the dispatch jitter.
    val t1 = new java.util.concurrent.atomic.AtomicLong(-1L)
    val t2 = new java.util.concurrent.atomic.AtomicLong(-1L)
    def delayed(stamp: java.util.concurrent.atomic.AtomicLong)
        : String => Unit = _ => {
      stamp.set(System.nanoTime()); Thread.sleep(600)
    }
    val s1 = new RemoteServer(engine, onStatement = delayed(t1))
    val s2 = new RemoteServer(engine, onStatement = delayed(t2))
    try {
      val rows = engine.sql(
        s"INCLUDE '${s1.address}', '${s2.address}' " +
          "SELECT count(*) AS n FROM mts").collect()
      assert(rows.length == 3) // local + 2 endpoints, row-union
      assert(t1.get() > 0 && t2.get() > 0)
      val gapMs = math.abs(t1.get() - t2.get()) / 1000000L
      assert(gapMs < 450,
        s"endpoints received the statement $gapMs ms apart — sequential?")
    } finally { s1.close(); s2.close() }
  }

  test("HAVING / ORDER BY / LIMIT replay on the merged frame: federated " +
      "top-k ships the bare partial query and post-processes locally") {
    val local = makeEngine(Seq("a", "b", "c", "d"), 320)
    val remote = makeEngine(Seq("c", "d", "e", "f"), 280)
    val statements = mutable.ArrayBuffer.empty[String]
    val server = new RemoteServer(remote, onStatement = statements += _)
    try {
      val q = "SELECT tag, count(*) AS n, avg(v) AS av FROM mts " +
        "GROUP BY tag HAVING count(*) > 290 ORDER BY n DESC, tag LIMIT 3"
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $q").collect()
      // The endpoint saw ONE statement — the bare partial aggregate, no
      // trailing clauses (a per-endpoint HAVING/LIMIT would filter or
      // truncate groups BEFORE the merge and return the wrong k).
      assert(statements.size == 1, s"expected one remote statement: $statements")
      val shipped = statements.head.toUpperCase
      assert(statements.head.contains("__p0") &&
        !shipped.contains("HAVING") && !shipped.contains("ORDER BY") &&
        !shipped.contains("LIMIT"),
        s"trailing clauses must not ship: ${statements.head}")
      combined(local, remote).createOrReplaceTempView("__im_topk")
      val want = spark.sql(q.replace("FROM mts", "FROM __im_topk")).collect()
      // ORDER BY is total (n DESC, tag) — compare IN ORDER.
      assert(got.length == want.length && got.length == 3,
        s"got ${got.toSeq} want ${want.toSeq}")
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1),
          s"row order: ${got.toSeq} vs ${want.toSeq}")
        assertClose(g.getDouble(2), w.getDouble(2), s"av(${g.getString(0)})")
      }
    } finally server.close()
  }

  test("HAVING over an aggregate NOT in the select list, OFFSET, and " +
      "post-processed percentiles all replay on the merged frame") {
    val local = makeEngine(Seq("a", "b", "c", "d"), 260)
    val remote = makeEngine(Seq("c", "d", "e"), 240)
    val server = new RemoteServer(remote)
    try {
      combined(local, remote).createOrReplaceTempView("__im_post")
      def check(q: String, ordered: Boolean): Unit = {
        val got = local.sql(s"INCLUDE MERGE '${server.address}' $q").collect()
        val want = spark.sql(q.replace("FROM mts", "FROM __im_post")).collect()
        val (g, w) =
          if (ordered) (got, want)
          else (got.sortBy(r => String.valueOf(r.get(0))),
            want.sortBy(r => String.valueOf(r.get(0))))
        assert(g.length == w.length, s"$q\n${g.toSeq}\nvs\n${w.toSeq}")
        g.zip(w).foreach { case (a, b) =>
          (0 until a.length).foreach { i =>
            (a.get(i), b.get(i)) match {
              case (x: java.lang.Double, y: java.lang.Double) =>
                assertClose(x, y, s"$q col $i")
              case (x, y) => assert(x == y, s"$q col $i: $x vs $y")
            }
          }
        }
      }
      // HAVING references avg(v), which the select list does not carry:
      // the analyzer adds it to the Aggregate and strips it with a
      // Project — the replay must follow the same chain.
      check("SELECT tag, count(*) AS n FROM mts GROUP BY tag " +
        "HAVING avg(v) > -50.0", ordered = false)
      // OFFSET pagination after a total ORDER BY.
      check("SELECT tag, max(v) AS mx FROM mts GROUP BY tag " +
        "ORDER BY tag LIMIT 3 OFFSET 2", ordered = true)
      // The rank search composes with the replay: percentiles resolve
      // first (interactive rounds), then the local sort/limit applies.
      check("SELECT tag, percentile(v, 0.5) AS med FROM mts " +
        "WHERE NOT isnan(v) GROUP BY tag ORDER BY med DESC, tag LIMIT 4",
        ordered = true)
      // Global aggregate with LIMIT (one row, trivially deterministic);
      // a foldable-but-unfolded limit expression must evaluate, not
      // reject (the analyzer leaves constant folding to the optimizer).
      check("SELECT count(*) AS n, avg(v) AS av FROM mts LIMIT 2 - 1",
        ordered = true)
    } finally server.close()
  }

  test("time travel composes with the post-processing replay: top-k over " +
      "each endpoint's own VERSION AS OF snapshot") {
    // The analysis text rewrites the travel clause to local snapshot
    // views while the PARTIAL keeps the original clause — the trailer
    // strip must not disturb either side.
    val local = makeEngine(Seq("a", "b", "c"), 150)
    val remote = makeEngine(Seq("d", "e"), 130)
    val server = new RemoteServer(remote)
    try {
      val got = local.sql(s"INCLUDE MERGE '${server.address}' " +
        "SELECT tag, count(*) AS n FROM mts VERSION AS OF 1 " +
        "GROUP BY tag HAVING count(*) > 10 ORDER BY n DESC, tag LIMIT 2")
        .collect()
      local.readTableVersion("mts", 1)
        .unionByName(remote.readTableVersion("mts", 1))
        .createOrReplaceTempView("__im_travel_topk")
      val want = spark.sql("SELECT tag, count(*) AS n FROM __im_travel_topk " +
        "GROUP BY tag HAVING count(*) > 10 ORDER BY n DESC, tag LIMIT 2")
        .collect()
      assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        want.map(r => (r.getString(0), r.getLong(1))).toSeq,
        s"${got.toSeq} vs ${want.toSeq}")
    } finally server.close()
  }

  test("non-mergeable statements are rejected with clear errors") {
    val local = makeEngine(Seq("r"), 60)
    val remote = makeEngine(Seq("s"), 60)
    val server = new RemoteServer(remote)
    try {
      def rejects(select: String, fragment: String): Unit = {
        val e = intercept[IllegalArgumentException] {
          local.sql(s"INCLUDE MERGE '${server.address}' $select")
        }
        assert(e.getMessage.contains(fragment),
          s"for [$select] got: ${e.getMessage}")
      }
      rejects("SELECT count(DISTINCT v) AS n FROM mts", "approx_count_distinct")
      rejects("SELECT tag, count(*) AS n FROM mts GROUP BY 1", "ordinal")
      rejects("SELECT collect_list(v) AS p FROM mts", "not algebraically mergeable")
      rejects("SELECT percentile(v, array()) AS p FROM mts", "non-empty")
      rejects("SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY v DESC) " +
        "AS p FROM mts", "not")
      rejects("SELECT tag, v FROM mts", "aggregate SELECT")
      // Window functions over the aggregate need the full merged ROW SET
      // per endpoint — not a local replay shape.
      rejects("SELECT tag, rank() OVER (ORDER BY count(*)) AS r FROM mts " +
        "GROUP BY tag", "window")
    } finally server.close()
  }

  test("trailer strip cuts only TOP-LEVEL clauses: subquery ORDER BY / " +
      "LIMIT and quoted keywords survive into the partial") {
    val strip = FederatedAggregate.stripTopLevelTrailers _
    assert(strip("FROM mts GROUP BY tag HAVING count(*) > 2 " +
      "ORDER BY 2 DESC LIMIT 10") == "FROM mts GROUP BY tag")
    assert(strip("FROM mts ORDER BY tag") == "FROM mts")
    assert(strip("FROM mts LIMIT 5 OFFSET 2") == "FROM mts")
    // Subquery trailers sit inside parens — keep them.
    val sub = "FROM (SELECT * FROM mts ORDER BY v LIMIT 3) t GROUP BY tag"
    assert(strip(sub) == sub)
    // Quoted/backticked keyword lookalikes are content, not clauses.
    val quoted = "FROM mts WHERE tag <> 'order by limit having' GROUP BY tag"
    assert(strip(quoted) == quoted)
    val ticked = "FROM mts WHERE `limit` > 1"
    assert(strip(ticked) == ticked)
    // Identifier PREFIXES of keywords are not word matches.
    val prefix = "FROM mts WHERE limits > 1 AND ordering <> 'x'"
    assert(strip(prefix) == prefix)
    // No trailer at all: unchanged.
    assert(strip("FROM mts GROUP BY tag") == "FROM mts GROUP BY tag")
    // Comments are skipped: an apostrophe in one opens no quote.
    assert(strip("FROM mts -- don't limit\nGROUP BY tag ORDER BY n") ==
      "FROM mts -- don't limit\nGROUP BY tag")
  }

  test("partial split survives FROM-like tokens inside expressions") {
    val (head, tail) = FederatedAggregate.splitAtTopLevelFrom(
      "SELECT extract(YEAR FROM ts_us) AS y, count(*) AS n " +
        "FROM mts WHERE tag <> 'from' GROUP BY extract(YEAR FROM ts_us)")
    assert(head == "SELECT extract(YEAR FROM ts_us) AS y, count(*) AS n")
    assert(tail.startsWith("FROM mts WHERE"))
    // Comments are skipped: neither a `from` inside one nor an apostrophe
    // (which would open a quote that never closes) moves the split.
    Seq("-- rows from every store", "-- don't", "/* from 'x */").foreach { c =>
      val (h, t) = FederatedAggregate.splitAtTopLevelFrom(
        s"SELECT tag, count(v) AS n $c\nFROM mts GROUP BY tag")
      assert(h == s"SELECT tag, count(v) AS n $c")
      assert(t == "FROM mts GROUP BY tag")
    }
  }

  test("comments in a grouped merge leave its answer unchanged") {
    val local = makeEngine(Seq("a", "b"), 200)
    val remote = makeEngine(Seq("b", "c"), 150)
    val server = new RemoteServer(remote)
    try {
      def run(select: String): Seq[Seq[Any]] =
        local.sql(s"INCLUDE MERGE '${server.address}' $select").collect()
          .map(_.toSeq).sortBy(_.head.toString).toSeq
      val items = "tag, count(v) AS n, percentile(v, 0.5) AS p"
      val plain = run(s"SELECT $items FROM mts GROUP BY tag")
      assert(plain.map(_.head) == Seq("a", "b", "c"))
      Seq(
        s"SELECT $items -- rows from every store\nFROM mts GROUP BY tag",
        s"SELECT $items FROM mts -- don't\nGROUP BY tag",
        s"SELECT tag, /* n's */ count(v) AS n, percentile(v, 0.5) AS p " +
          "FROM mts /* where */ GROUP BY tag -- by tag"
      ).foreach(commented => assert(run(commented) == plain, commented))
    } finally server.close()
  }
}
