package graft.remote

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration
import graft.tsdb.{Engine, SparkTestSession}

/** The federated exact percentile's binned rank search: after the partial,
  * each round is ONE statement per endpoint that returns (count, min, max)
  * per bin of every probing state's interval, and the values of every
  * fetchable one. Counts the statements each endpoint receives on the
  * benchmark's grouped-median shape, and checks the answers against
  * Spark's own percentile over the union of the raw rows on value shapes
  * that stress the bins: heavy duplicates, a span whose width overflows,
  * subnormals, signed zeros, several targets in different bins, and the
  * discrete form.
  */
class FederatedRankRoundSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The local folder plus two endpoint servers, each logging the
    * statements it receives. `build(store, session)` makes store `store`'s
    * engine; each endpoint gets its own session, so the concurrent
    * endpoints never swap each other's views.
    */
  private final class Federation(
      build: (Int, org.apache.spark.sql.SparkSession) => Engine) {
    val local: Engine = build(0, spark)
    val remotes: Seq[Engine] = Seq(1, 2).map(build(_, spark.newSession()))
    val logs: Seq[mutable.ArrayBuffer[String]] =
      remotes.map(_ => mutable.ArrayBuffer.empty[String])
    val servers: Seq[RemoteServer] = remotes.zip(logs).map { case (e, log) =>
      new RemoteServer(e, onStatement = s => log.synchronized(log += s))
    }
    def merge(select: String): Array[Row] = {
      logs.foreach(_.clear())
      local.sql(s"INCLUDE MERGE ${servers.map(s => s"'${s.address}'")
        .mkString(", ")} $select").collect()
    }
    /** `select` over the union of the three stores' raw rows of `table`. */
    def combined(table: String, select: String): Array[Row] = {
      (local +: remotes).map(_.readTable(table)).reduce(_ unionByName _)
        .createOrReplaceTempView(s"__frr_$table")
      spark.sql(select.replace(s"FROM $table", s"FROM __frr_$table")).collect()
    }
    def close(): Unit = servers.foreach(_.close())
  }

  /** A normal table nt(g STRING, x DOUBLE) spread round-robin over the
    * three stores.
    */
  private def normalFederation(rows: Seq[(String, Double)]): Federation =
    new Federation((store, session) => {
      val e = new Engine(session,
        Files.createTempDirectory("graft_frr").toString)
      e.sql("CREATE TABLE nt(g STRING, x DOUBLE)")
      import spark.implicits._
      e.write("nt", rows.zipWithIndex.collect {
        case (r, i) if i % 3 == store => r
      }.toDF("g", "x"))
      e
    })

  /** Every cell of `got` equals `want`'s, doubles and double arrays by
    * value (so -0.0 matches 0.0), per group key in column 0.
    */
  private def assertSame(got: Array[Row], want: Array[Row]): Unit = {
    def byKey(rs: Array[Row]) = rs.map(r => Option(r.get(0)) -> r).toMap
    val (g, w) = (byKey(got), byKey(want))
    assert(g.keySet == w.keySet)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => x == y
      case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
        x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
      case _ => a == b
    }
    w.foreach { case (k, wr) =>
      (1 until wr.length).foreach { i =>
        assert(same(g(k).get(i), wr.get(i)),
          s"group $k column $i: got ${g(k).get(i)}, want ${wr.get(i)}")
      }
    }
  }

  private def check(rows: Seq[(String, Double)], select: String,
      maxStatementsPerEndpoint: Int): Unit = {
    val fed = normalFederation(rows)
    try {
      val got = fed.merge(select)
      assertSame(got, fed.combined("nt", select))
      fed.logs.foreach { log =>
        assert(log.size <= maxStatementsPerEndpoint,
          s"${log.size} statements: ${log.map(_.take(120)).mkString("\n")}")
      }
    } finally fed.close()
  }

  test("a grouped median over 2,400 points per group costs at most three " +
      "statements per endpoint: the partial, one bin round, one fetch") {
    val tags = (0 until 6).map(i => f"s$i%02d")
    val fed = new Federation((store, session) => {
      val e = new Engine(session,
        Files.createTempDirectory("graft_frr_ts").toString)
      e.sql("CREATE TIME SERIES TABLE mts(ts TIMESTAMP, v FIELD, tag TAG)")
      import spark.implicits._
      tags.foreach { tag =>
        val rng = new scala.util.Random(31L * tag.hashCode + store)
        val ts = DataGeneration.generateTimestamps(800, irregular = false, rng)
        val vs = DataGeneration.generateValues(800,
          DataGeneration.RandomValues(-50f, 50f), None, rng)
        e.write("mts", ts.indices.map(i => (ts(i), vs(i), tag))
          .toDF("ts", "v", "tag"))
      }
      e
    })
    try {
      val q = "SELECT tag, percentile(v, 0.5) AS p FROM mts GROUP BY tag"
      val got = fed.merge(q)
      assertSame(got, fed.combined("mts", q))
      assert(got.length == tags.size)
      fed.logs.foreach { log =>
        assert(log.size <= 3, s"${log.size} statements per endpoint")
        assert(log.exists(_.contains("GROUP BY __sid, __b")),
          "expected a bin round")
      }
    } finally fed.close()
  }

  test("heavy duplicates: one value plus a single outlier") {
    val rows = (0 until 3000).map(i => ("d", 7.25)) :+ (("d", 1.0e6)) :+
      (("e", -3.0)) :+ (("e", -3.0)) :+ (("e", 9.0))
    check(rows, "SELECT g, percentile(x, 0.5) AS m, " +
      "percentile(x, array(0.0, 0.73, 0.999, 1.0)) AS ps, " +
      "percentile_disc(0.9) WITHIN GROUP (ORDER BY x) AS d FROM nt GROUP BY g",
      maxStatementsPerEndpoint = 2)
  }

  test("a span from -1e308 to 1e308 splits although its width overflows") {
    val rng = new scala.util.Random(5L)
    val rows = (0 until 3000).map(_ => ("w", rng.nextGaussian())) ++
      Seq(("w", -1.0e308), ("w", 1.0e308), ("w", -Double.MaxValue / 2))
    // The bins split the overflowing span in the first round; a search
    // that could not split it would run to the round cap.
    check(rows, "SELECT g, percentile(x, array(0.25, 0.5, 0.9)) AS ps, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS d " +
      "FROM nt GROUP BY g", maxStatementsPerEndpoint = 6)
  }

  test("subnormal values rank exactly") {
    val rng = new scala.util.Random(6L)
    val tiny = java.lang.Double.MIN_VALUE
    val rows = (0 until 3000).map(_ =>
      ("s", tiny * (rng.nextInt(4000) - 1000))) ++
      Seq(("s", java.lang.Double.MIN_NORMAL), ("t", tiny), ("t", 2 * tiny),
        ("t", 3 * tiny))
    check(rows, "SELECT g, percentile(x, array(0.1, 0.5, 0.77)) AS ps, " +
      "percentile_disc(0.3) WITHIN GROUP (ORDER BY x) AS d " +
      "FROM nt GROUP BY g", maxStatementsPerEndpoint = 8)
  }

  test("-0.0 and 0.0 rank as one value") {
    val rng = new scala.util.Random(7L)
    val rows = (0 until 3000).map { i =>
      ("z", i % 4 match {
        case 0 => -0.0
        case 1 => 0.0
        case _ => rng.nextDouble() - 0.5
      })
    } ++ Seq(("y", -0.0), ("y", 0.0), ("y", 0.0))
    check(rows, "SELECT g, percentile(x, array(0.4, 0.5, 0.6)) AS ps, " +
      "median(x) AS m, percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS d " +
      "FROM nt GROUP BY g", maxStatementsPerEndpoint = 4)
  }

  test("percentile arrays whose targets fall in different bins, and " +
      "percentile_disc") {
    val rng = new scala.util.Random(8L)
    val rows = (0 until 6000).map(i =>
      (s"g${i % 4}", rng.nextDouble() * 1000 - 500 + (i % 4) * 10))
    check(rows, "SELECT g, percentile(x, array(0.01, 0.3, 0.5, 0.73, 0.99)) " +
      "AS ps, percentile_disc(0.37) WITHIN GROUP (ORDER BY x) AS d, " +
      "percentile_cont(0.61) WITHIN GROUP (ORDER BY x) AS c " +
      "FROM nt GROUP BY g", maxStatementsPerEndpoint = 4)
  }
}
