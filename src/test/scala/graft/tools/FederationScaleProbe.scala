package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tsdb.{Engine, FederatedAggregate, RankProbe}

/** Federated MERGE at high group cardinality over a live RemoteServer:
  * drives ~N groups × 2 rank states per group through the rank search and
  * reports statement sizes, per-round wall time and heap — the O(states)
  * statement rendering confirmed parse-safe and time-bounded at the next
  * order of magnitude above the spec-level chunking test (4,100 groups).
  *
  * Two modes (third CLI arg, default `both`):
  *  - `generic`: normal table, bin parameters ride as VALUES text —
  *    measures the SQL transport's statement sizes and parse cost (kind
  *    `round`: one bin-or-fetch statement per chunk per round).
  *  - `native`: segment-backed time series table with one tag per group,
  *    the same states ride as `GRAFT SEGMENT PROBE` binary frames
  *    (base64-armored) — measures the frame transport at the same state
  *    count, plus the endpoint's broadcast probe-frame round cost.
  *
  * The per-group row count stays SMALL (the build must not dominate the
  * probe); [[FederatedAggregate.QuantileFetchGap]] is lowered instead so
  * the search runs real bin rounds rather than jumping straight to
  * the bounded fetch — the round machinery (bin rendering, VALUES
  * join or frame decode, chunked statements, per-round merge) is identical
  * to what 10^3 points per group would exercise, at tool-runtime cost
  * O(groups).
  *
  * Usage: `sbt 'Test/runMain graft.tools.FederationScaleProbe [groups]
  * [generic|native|both]'` (default 50,000 groups → 100k+ rank states,
  * 13+ chunked statements per round at the 8,192-state cap).
  */
object FederationScaleProbe {

  private final case class ModeReport(
      mode: String, wallSec: Double, heapBefore: Long, heapAfter: Long,
      summary: String, rounds: String, probeMaxBytes: Int,
      probeTotBytes: Long)

  def main(args: Array[String]): Unit = {
    val groups = args.headOption.map(_.toInt).getOrElse(50000)
    val mode = args.drop(1).headOption.getOrElse("both")
    val spark = SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reports = scala.collection.mutable.ArrayBuffer.empty[ModeReport]
    if (mode == "generic" || mode == "both")
      reports += run(spark, groups, native = false)
    if (mode == "native" || mode == "both")
      reports += run(spark, groups, native = true)
    if (reports.size == 2) {
      val Seq(g, n) = reports.toSeq
      println(f"[fed-scale] TRANSPORT COMPARISON at $groups%,d groups: " +
        f"probe statement maxBytes generic=${g.probeMaxBytes}%,d " +
        f"native=${n.probeMaxBytes}%,d " +
        f"(${g.probeMaxBytes.toDouble / n.probeMaxBytes}%.1fx), " +
        f"totBytes generic=${g.probeTotBytes}%,d native=${n.probeTotBytes}%,d " +
        f"(${g.probeTotBytes.toDouble / n.probeTotBytes}%.1fx), " +
        f"wall generic=${g.wallSec}%.1fs native=${n.wallSec}%.1fs")
    }
    spark.stop()
  }

  private def run(spark: SparkSession, groups: Int, native: Boolean)
      : ModeReport = {
    import spark.implicits._
    val label = if (native) "native" else "generic"

    def buildNormal(seed: Int): Engine = {
      val e = new Engine(spark,
        Files.createTempDirectory("graft_fedscale").toString)
      e.sql("CREATE TABLE wt(g INT, x DOUBLE)")
      val rng = new scala.util.Random(seed)
      e.write("wt", (0 until groups).flatMap(g =>
        (0 until 12).map(_ => (g, rng.nextDouble() * 1000 - 500)))
        .toDF("g", "x"))
      e
    }
    def buildTs(seed: Int): Engine = {
      val e = new Engine(spark,
        Files.createTempDirectory("graft_fedscale_ts").toString)
      e.sql("CREATE TIME SERIES TABLE wt(ts TIMESTAMP, x FIELD, g TAG)")
      e.write("wt", spark.range(groups * 12L).select(
        (lit(1700000000000000L) + pmod(col("id"), lit(12)) * 1000000L)
          .as("ts"),
        (rand(seed) * 1000 - 500).cast("float").as("x"),
        concat(lit("t"), (col("id") / 12).cast("long").cast("string"))
          .as("g")))
      e
    }
    val t0Build = System.nanoTime()
    val local = if (native) buildTs(1) else buildNormal(1)
    val remote = if (native) buildTs(2) else buildNormal(2)
    println(f"[fed-scale] $label build: $groups%,d groups, " +
      f"${(System.nanoTime() - t0Build) / 1e9}%.1fs")

    // Statement log: (arrivalNanos, bytes, kind).
    val log = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]()
    def kindOf(s: String): String =
      if (s.contains("__p0")) "partial"
      else if (RankProbe.matches(s))
        if (RankProbe.decode(s).fetch) "segment-fetch" else "segment-probe"
      else if (s.contains("__rn")) "fetch"
      else if (s.contains("__b")) "round"
      else "other"
    val server = new graft.remote.RemoteServer(remote,
      onStatement = s => log.add((System.nanoTime(), s.length, kindOf(s))))

    val rt = Runtime.getRuntime
    def usedMb(): Long = {
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }
    val heapBefore = usedMb()
    val savedGap = FederatedAggregate.QuantileFetchGap
    val savedGate = FederatedAggregate.NativeProbeMinPoints
    FederatedAggregate.QuantileFetchGap = 8L // force real bisection rounds
    FederatedAggregate.NativeProbeMinPoints =
      if (native) 0L else savedGate // pin the eligible shape onto the frames
    try {
      val sel = "SELECT g, percentile(x, 0.73) AS p FROM wt GROUP BY g"
      val t0 = System.nanoTime()
      val got = local.sql(s"INCLUDE MERGE '${server.address}' $sel")
        .collect().map(r => String.valueOf(r.get(0)) -> r.getDouble(1)).toMap
      val wallSec = (System.nanoTime() - t0) / 1e9
      val heapAfter = usedMb()

      // Exactness over every group vs the combined data.
      local.readTable("wt").unionByName(remote.readTable("wt"))
        .createOrReplaceTempView("__fed_scale")
      val want = spark.sql(
        s"SELECT CAST(g AS STRING) AS g, percentile(x, 0.73) AS p " +
          "FROM __fed_scale GROUP BY g")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      require(got.size == groups && got.keySet == want.keySet,
        s"group count ${got.size} != $groups")
      var worst = 0.0
      want.foreach { case (g, w) =>
        worst = math.max(worst, math.abs(got(g) - w))
      }
      require(worst == 0.0, s"exactness: worst abs diff $worst")
      if (native) {
        import scala.jdk.CollectionConverters._
        require(log.asScala.exists(_._3.startsWith("segment-")),
          "native mode must ship GRAFT SEGMENT PROBE rounds")
      }

      // Per-kind statement stats; rounds = bursts of equal-kind chunks.
      import scala.jdk.CollectionConverters._
      val entries = log.asScala.toSeq.sortBy(_._1)
      val byKind = entries.groupBy(_._3)
      val summary = byKind.toSeq.sortBy(_._1).map { case (kind, es) =>
        s"$kind: n=${es.size} maxBytes=${es.map(_._2).max} " +
          s"totBytes=${es.map(_._2.toLong).sum}"
      }.mkString("; ")
      val rounds = entries.foldLeft(Seq.empty[(String, Int)]) {
        case (acc, (_, _, k)) =>
          if (acc.nonEmpty && acc.last._1 == k)
            acc.init :+ (k, acc.last._2 + 1)
          else acc :+ (k, 1)
      }
      val probeEntries = entries.filter(e =>
        e._3 == "round" || e._3 == "segment-probe")
      println(s"[fed-scale] $label groups=$groups states=${2 * groups}(approx) " +
        f"wall=$wallSec%.1fs heapMB=$heapBefore->$heapAfter")
      println(s"[fed-scale] $label statements: $summary")
      println(s"[fed-scale] $label round bursts: ${rounds.map { case (k, n) =>
        s"$k x$n" }.mkString(", ")}")
      println(s"[fed-scale] $label exact on all $groups groups: true")
      ModeReport(label, wallSec, heapBefore, heapAfter, summary,
        rounds.map { case (k, n) => s"$k x$n" }.mkString(", "),
        if (probeEntries.isEmpty) 0 else probeEntries.map(_._2).max,
        probeEntries.map(_._2.toLong).sum)
    } finally {
      FederatedAggregate.QuantileFetchGap = savedGap
      FederatedAggregate.NativeProbeMinPoints = savedGate
      server.close()
    }
  }
}
