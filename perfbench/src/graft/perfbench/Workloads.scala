package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}

import graft.remote.RemoteServer
import graft.tsdb.{Engine, TableManifest}

/** One timed operation of class `cls`; it throws when its answer is wrong. */
final case class Op(cls: String, run: () => Unit)

final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
    val work: Path, val planted: String => Boolean)

/** Input sizes: `nSeries` series of `length` points each. */
final case class Size(nSeries: Int, length: Int)

/** A workload: a set-up that may be repeated (only the last one is kept),
  * untimed warm-up operations of every class, and a fixed round of
  * operations.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx.{spark, tracer}

  def classes: Seq[String]
  def setup(): Unit
  def warmup(): Seq[Op]
  def round(i: Int): Seq[Op]
  /** Rounds a run makes: fixed by `seconds` alone, never by how fast the
    * machine is, so every run of one length does the same operations.
    */
  def rounds(seconds: Int): Int
  def data: Dataset
  /** Engines and the series each one stores. */
  def stores: Seq[(Engine, Seq[Int])]
  /** Points per series in every store. */
  def storedLength: Int
  /** Points a set-up or timed append writes, and how long each write took. */
  def appends: Seq[(Long, Double)]
  /** One append's worth of input, for the compression probe. */
  def probeFrame: DataFrame
  /** Appends committed to the first store. */
  def primaryAppends: Int
  /** Statements the workload's endpoint servers have received. */
  def remoteStatements: Long = 0
  def close(): Unit = ()
  /** Workload-specific per-layer probes, run after the timed phase. */
  def probes(): Seq[Metric] = Nil

  /** Whether the executed plan of the last statement of each class avoided
    * reconstruction (no `gridpoints` generator).
    */
  val rewritten = mutable.Map.empty[String, Boolean]

  /** Planning time of a class when a probe measures it apart from the
    * traced planning span.
    */
  val planMs = mutable.Map.empty[String, Double]

  protected def freshDir(name: String): String = {
    val d = ctx.work.resolve(name)
    deleteTree(d)
    Files.createDirectories(d)
    d.toString
  }

  protected def newEngine(session: SparkSession, name: String): Engine = {
    val e = new Engine(session, freshDir(name))
    e.sql(Data.Ddl)
    e
  }

  /** Timed `Engine.write`; returns milliseconds. */
  protected def write(engine: Engine, frame: DataFrame): Double = {
    val t0 = System.nanoTime()
    tracer.span("write")(engine.write(Data.Table, frame))
    (System.nanoTime() - t0) / 1e6
  }

  protected def query(cls: String, engine: Engine, text: String)(
      check: Array[Row] => Unit): Op = Op(cls, () => {
    val df = tracer.span("plan") {
      val d = engine.sql(text)
      d.queryExecution.executedPlan
      d
    }
    val rows = tracer.span("execute")(df.collect())
    if (tracer.enabled) rewritten(cls) = !df.queryExecution.executedPlan
      .toString.toLowerCase.contains("gridpoints")
    tracer.span("check")(check(rows))
  })

  protected def aggregateOp(cls: String, engine: Engine, where: String,
      want: Array[FieldStats]): Op =
    query(cls, engine, s"SELECT ${Check.AggregateList} FROM ${Data.Table}$where") {
      rows =>
        if (rows.length != 1) Check.fail(s"$cls: ${rows.length} rows, expected 1")
        Check.aggregates(cls, rows(0), 0, want, ctx.planted(cls))
    }

  protected def rangeWhere(from: Int, until: Int): String =
    s" WHERE ts >= ${Data.tsLiteral(data.ts(from))} AND ts < " +
      Data.tsLiteral(data.ts(until))

  /** Sorted values of field `f` per series, for order statistics. */
  protected def sortedValues(series: Seq[Int], f: Int): Array[Double] = {
    val out = series.flatMap(s => data.values(s)(f).map(_.toDouble)).toArray
    java.util.Arrays.sort(out)
    out
  }

  protected def boundMax(series: Seq[Int], f: Int): Double =
    data.stats(series, 0, data.length)(f).boundMax

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
    finally s.close()
  }
}

object Store {
  private def fs(engine: Engine, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(engine.spark.sparkContext.hadoopConfiguration)

  def snapshot(engine: Engine): Option[TableManifest.Snapshot] = {
    val dir = engine.dataFolder.tableDir(Data.Table)
    TableManifest.latest(fs(engine, dir), dir)
  }

  def liveFiles(engine: Engine): Int = snapshot(engine).fold(0)(_.files.size)

  /** Bytes of the live data files of the table. */
  def dataBytes(engine: Engine): Long = {
    val dir = engine.dataFolder.tableDir(Data.Table)
    val f = fs(engine, dir)
    snapshot(engine).fold(0L)(_.files.map { rel =>
      f.getFileStatus(new org.apache.hadoop.fs.Path(dir, rel)).getLen
    }.sum)
  }

  /** Every stored point is present exactly once, and every point of the
    * lossy fields is within its bound. The point-wise comparison of the
    * lossless field is left out: the engine's Swing reconstruction drifts
    * from the fitted values by a few ulps on some points of every seed
    * (CHANGES.md), so it would fail every run.
    */
  def verify(engine: Engine, data: Dataset, series: Seq[Int],
      length: Int): Unit = {
    val rows = engine.readTable(Data.Table)
      .select(col("tag"), unix_micros(col("ts")), col("v1"), col("v2"))
      .collect()
    val want = series.size.toLong * length
    if (rows.length != want)
      Check.fail(s"store holds ${rows.length} points, expected $want")
    val index = series.map(s => data.tags(s) -> s).toMap
    val seen = new java.util.BitSet(data.nSeries * length)
    rows.foreach { r =>
      val s = index.getOrElse(r.getString(0),
        Check.fail(s"unexpected tag ${r.getString(0)}"))
      val offset = r.getLong(1) - Data.StartUs
      val i = (offset / Data.StepUs).toInt
      if (offset % Data.StepUs != 0 || i < 0 || i >= length)
        Check.fail(s"unexpected timestamp ${r.getLong(1)}")
      if (seen.get(s * length + i)) Check.fail(s"duplicate point ($s, $i)")
      seen.set(s * length + i)
      Seq(1, 2).foreach { f =>
        val raw = data.values(s)(f)(i)
        val got = r.getFloat(1 + f)
        val b = FieldStats.pointBound(Data.Bounds(f), raw)
        if (!(math.abs(got.toDouble - raw) <= b))
          Check.fail(s"point ($s, $i) ${Data.Fields(f)}: $got, raw $raw, bound $b")
      }
    }
  }
}

/** Timed appends into one growing table; each append is followed by a
  * ranged aggregate over exactly the appended rows, and every round ends
  * with a whole-table aggregate.
  */
final class IngestAppend(ctx: Ctx, size: Size = IngestAppend.DefaultSize,
    maxBatches: Int = 64) extends Workload(ctx) {
  import ctx.spark

  val classes = Seq("append", "fresh_read", "meta_agg")
  private val batch = size.length
  val data: Dataset = Data.generate(ctx.seed, size.nSeries, batch * maxBatches)
  private val all = 0 until size.nSeries
  private var engine: Engine = _
  private var appended = 0
  private val timedAppends = mutable.ArrayBuffer.empty[(Long, Double)]
  private val batchStats = mutable.Map.empty[Int, Array[FieldStats]]

  private def frame(b: Int) = data.frame(spark, all, b * batch, (b + 1) * batch)
  private def statsOf(b: Int) =
    batchStats.getOrElseUpdate(b, data.stats(all, b * batch, (b + 1) * batch))
  private def statsUpTo(n: Int): Array[FieldStats] = {
    val out = Data.Bounds.map(new FieldStats(_)).toArray
    (0 until n).foreach(b => out.indices.foreach(f => out(f).merge(statsOf(b)(f))))
    out
  }

  /** Set-up writes batch 0 into a fresh table. */
  def setup(): Unit = {
    engine = newEngine(spark, "ingest")
    appended = 0
    write(engine, frame(0))
    appended = 1
  }

  /** Appends batch `b`; the table must gain files. */
  private def append(b: Int, timed: Boolean): Op = {
    val f = frame(b)
    Op("append", () => {
      val before = Store.liveFiles(engine)
      val ms = write(engine, f)
      appended = b + 1
      if (timed) timedAppends += ((batch.toLong * size.nSeries, ms))
      if (Store.liveFiles(engine) <= before || ctx.planted("append"))
        Check.fail(s"append $b committed no new file")
    })
  }

  private def freshRead(b: Int): Op =
    aggregateOp("fresh_read", engine, rangeWhere(b * batch, (b + 1) * batch),
      statsOf(b))

  private def metaAgg(batches: Int): Op =
    aggregateOp("meta_agg", engine, "", statsUpTo(batches))

  /** Appends batches b and b + 1, each followed by its fresh read, then
    * reads the whole table.
    */
  private def roundAt(b: Int, timed: Boolean): Seq[Op] =
    Seq(append(b, timed), freshRead(b), append(b + 1, timed), freshRead(b + 1),
      metaAgg(b + 2))

  /** Two untimed rounds (batches 1 to 4): the first timed rounds after a
    * single one still ran 20-30% slower while the JIT caught up.
    */
  def warmup(): Seq[Op] = roundAt(1, timed = false) ++ roundAt(3, timed = false)

  /** Round i (from 1) appends batches 2i + 3 and 2i + 4. */
  def round(i: Int): Seq[Op] = roundAt(2 * i + 3, timed = true)

  def rounds(seconds: Int): Int =
    math.min((maxBatches - 5) / 2, math.max(1, math.round(seconds * 0.3).toInt))

  def stores: Seq[(Engine, Seq[Int])] = Seq(engine -> all)
  def storedLength: Int = appended * batch
  def primaryAppends: Int = appended
  def appends: Seq[(Long, Double)] = timedAppends.toList
  def probeFrame: DataFrame = frame(0)
}

object IngestAppend {
  val DefaultSize: Size = Size(nSeries = 48, length = 250)
}

/** Three stores, each holding a disjoint third of the series: the local
  * folder, bulk-loaded in several appends, and two in-process endpoint
  * servers, each over its own data folder and loaded in one append. A fixed
  * repeating sequence runs metadata, hybrid, reconstructing and rank
  * statements on the local folder, then `INCLUDE MERGE` statements over all
  * three.
  */
final class QueryMix(ctx: Ctx, size: Size = QueryMix.DefaultSize,
    loads: Int = 3) extends Workload(ctx) {
  import ctx.spark

  val classes = Seq("meta_agg", "range_agg", "scan", "rank", "merge_agg", "merge_rank")
  val data: Dataset = Data.generate(ctx.seed, size.nSeries, size.length)
  private val n = size.length
  private val slices = (0 until 3).map(k => (0 until size.nSeries).filter(_ % 3 == k))
  /** The series of the local folder. */
  private val mine = slices(0)
  private var local: Engine = _
  private var remotes: Seq[Engine] = Nil
  private var servers: Seq[RemoteServer] = Nil
  private val setupAppends = mutable.ArrayBuffer.empty[(Long, Double)]
  private lazy val whole = data.stats(mine, 0, n)
  /** Statements the endpoint servers received, and those the first server
    * received since the last reset (the probes read the shipped partials).
    */
  private val statements = new AtomicLong()
  @volatile private var shipped = Vector.empty[String]

  /** Loads a store in `parts` appends. Only the local folder's appends,
    * which are all of one size, count towards the ingest rate.
    */
  private def load(engine: Engine, series: Seq[Int], parts: Int): Unit =
    (0 until parts).foreach { k =>
      val f = data.frame(spark, series, k * n / parts, (k + 1) * n / parts)
      val ms = write(engine, f)
      if (engine eq local) setupAppends += (((n / parts).toLong * series.size, ms))
    }

  def setup(): Unit = {
    close()
    local = newEngine(spark, "query_local")
    load(local, mine, loads)
    remotes = Seq(1, 2).map { k =>
      val e = newEngine(spark.newSession(), s"query_remote$k")
      load(e, slices(k), 1)
      e
    }
    servers = remotes.zipWithIndex.map { case (e, k) =>
      new RemoteServer(e, onStatement = text => {
        statements.incrementAndGet()
        ctx.tracer.event("remote_statement")
        if (k == 0) shipped = shipped :+ text
      })
    }
  }

  override def close(): Unit = {
    servers.foreach(_.close())
    servers = Nil
  }

  private def metaAgg() = aggregateOp("meta_agg", local, "", whole)

  /** A range of a quarter to a half of the table, at a seeded offset that
    * cuts through segments at both ends.
    */
  private def rangeAgg(i: Int) = {
    val rng = new SplittableRandom(ctx.seed * 7919L + i)
    val width = n / 4 + rng.nextInt(n / 4)
    val from = rng.nextInt(n - width)
    aggregateOp("range_agg", local, rangeWhere(from, from + width),
      data.stats(mine, from, from + width))
  }

  /** Per-tag, per-minute aggregate under a value filter: the rewrite
    * declines it, so every point is reconstructed.
    */
  private val ScanSql = s"SELECT tag, unix_micros(date_trunc('MINUTE', ts)) AS m, " +
    "count(*) AS n, sum(v0) AS s0, max(v1) AS x1, avg(v2) AS a2 " +
    s"FROM ${Data.Table} WHERE v0 > 0 GROUP BY tag, date_trunc('MINUTE', ts)"

  private lazy val scanWant: Map[(String, Long), Array[FieldStats]] = {
    val out = mutable.Map.empty[(String, Long), Array[FieldStats]]
    mine.foreach { s =>
      (0 until n).foreach { i =>
        val v = data.values(s)
        if (v(0)(i) > 0) {
          val minute = data.ts(i) - Math.floorMod(data.ts(i), 60000000L)
          val st = out.getOrElseUpdate((data.tags(s), minute),
            Data.Bounds.map(new FieldStats(_)).toArray)
          st.indices.foreach(f => st(f).add(v(f)(i)))
        }
      }
    }
    out.toMap
  }

  private def scan() = query("scan", local, ScanSql) { rows =>
    if (rows.length != scanWant.size)
      Check.fail(s"scan: ${rows.length} groups, expected ${scanWant.size}")
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val st = scanWant.getOrElse(key, Check.fail(s"scan: unexpected group $key"))
      Check.count(s"scan $key count", r.getLong(2), st(0).n, ctx.planted("scan"))
      Check.sum(s"scan $key sum(v0)", r.getDouble(3), st(0))
      Check.extreme(s"scan $key max(v1)", r.getFloat(4), st(1).max, st(1))
      Check.avg(s"scan $key avg(v2)", r.getDouble(5), st(2))
    }
  }

  // Order statistics run on the lossy fields only: on the lossless field
  // the engine's reconstruction of some Swing segments drifts from the raw
  // values, so an exact median there is wrong on some seeds (CHANGES.md).
  private val GroupedRankSql = "SELECT tag, median(v2) AS m2, " +
    s"percentile(v1, 0.9) AS p1 FROM ${Data.Table} GROUP BY tag"
  private val GlobalRankSql =
    s"SELECT median(v1) AS m1, percentile(v2, 0.25) AS q2 FROM ${Data.Table}"

  private lazy val rankWant = mine.map { s =>
    data.tags(s) -> (sortedValues(Seq(s), 2), boundMax(Seq(s), 2),
      sortedValues(Seq(s), 1), boundMax(Seq(s), 1))
  }.toMap
  private lazy val globalWant =
    (sortedValues(mine, 1), boundMax(mine, 1), sortedValues(mine, 2), boundMax(mine, 2))

  /** A grouped and a global exact median/percentile, timed together. */
  private def rank(): Op = {
    val planted = ctx.planted("rank")
    val grouped = query("rank", local, GroupedRankSql) { rows =>
      if (rows.length != rankWant.size)
        Check.fail(s"rank: ${rows.length} groups, expected ${rankWant.size}")
      rows.foreach { r =>
        val (v2, b2, v1, b1) = rankWant.getOrElse(r.getString(0),
          Check.fail(s"rank: unexpected group ${r.getString(0)}"))
        Check.orderStat(s"rank ${r.getString(0)} median(v2)", r.getDouble(1),
          v2, 0.5, b2, planted)
        Check.orderStat(s"rank ${r.getString(0)} p90(v1)", r.getDouble(2),
          v1, 0.9, b1, false)
      }
    }
    val global = query("rank", local, GlobalRankSql) { rows =>
      val (v1, b1, v2, b2) = globalWant
      Check.orderStat("rank median(v1)", rows(0).getDouble(0), v1, 0.5, b1, false)
      Check.orderStat("rank p25(v2)", rows(0).getDouble(1), v2, 0.25, b2, false)
    }
    Op("rank", () => { grouped.run(); global.run() })
  }

  private def include(select: String) =
    s"INCLUDE MERGE ${servers.map(s => s"'${s.address}'").mkString(", ")} $select"

  private val MergeAggSql = "SELECT tag, count(v0) AS n, sum(v0) AS s0, " +
    s"avg(v1) AS a1, max(v2) AS x2 FROM ${Data.Table} GROUP BY tag"
  private val MergeRankSql =
    s"SELECT tag, percentile(v1, 0.5) AS p1 FROM ${Data.Table} GROUP BY tag"

  private lazy val perTag = (0 until size.nSeries).map { s =>
    data.tags(s) -> data.stats(Seq(s), 0, n)
  }.toMap
  private lazy val perTagSorted = (0 until size.nSeries).map { s =>
    data.tags(s) -> sortedValues(Seq(s), 1)
  }.toMap

  /** Grouped count/sum/avg/max over the union of the three stores. */
  private def mergeAgg() = query("merge_agg", local, include(MergeAggSql)) { rows =>
    if (rows.length != perTag.size)
      Check.fail(s"merge_agg: ${rows.length} groups, expected ${perTag.size}")
    rows.foreach { r =>
      val tag = r.getString(0)
      val st = perTag.getOrElse(tag, Check.fail(s"merge_agg: unexpected group $tag"))
      Check.count(s"merge_agg $tag count", r.getLong(1), st(0).n,
        ctx.planted("merge_agg"))
      Check.sum(s"merge_agg $tag sum(v0)", r.getDouble(2), st(0))
      Check.avg(s"merge_agg $tag avg(v1)", r.getDouble(3), st(1))
      Check.extreme(s"merge_agg $tag max(v2)", r.getFloat(4), st(2).max, st(2))
    }
  }

  /** Grouped exact median over the union of the three stores. */
  private def mergeRank() = query("merge_rank", local, include(MergeRankSql)) { rows =>
    if (rows.length != perTagSorted.size)
      Check.fail(s"merge_rank: ${rows.length} groups, expected ${perTagSorted.size}")
    rows.foreach { r =>
      val tag = r.getString(0)
      val v1 = perTagSorted.getOrElse(tag,
        Check.fail(s"merge_rank: unexpected group $tag"))
      Check.orderStat(s"merge_rank $tag median(v1)", r.getDouble(1), v1, 0.5,
        perTag(tag)(1).boundMax, ctx.planted("merge_rank"))
    }
  }

  /** One untimed round: a second would add about 7 s to every run. */
  def warmup(): Seq[Op] = round(0)

  def round(i: Int): Seq[Op] =
    Seq(metaAgg(), rangeAgg(i), scan(), rank(), mergeAgg(), mergeRank())

  /** A round takes about 8 s on the reference machine; `--seconds 20`
    * makes three.
    */
  def rounds(seconds: Int): Int = math.max(1, math.round(seconds * 0.15).toInt)

  def stores: Seq[(Engine, Seq[Int])] = (local +: remotes).zip(slices)
  def storedLength: Int = n
  def primaryAppends: Int = loads
  override def remoteStatements: Long = statements.get
  def appends: Seq[(Long, Double)] = setupAppends.toList
  def probeFrame: DataFrame = data.frame(spark, mine, 0, n / loads)

  /** Whether each merge class's shipped partial avoids reconstruction on
    * the endpoint, and the local decomposition (planning) time of each: the
    * traced planning span of an `INCLUDE MERGE` statement also holds the
    * endpoints' execution. Then round trips to the first endpoint, with
    * the merge_agg partial replayed alone.
    */
  override def probes(): Seq[Metric] = {
    def firstShipped(op: Op): String = {
      shipped = Vector.empty
      op.run()
      shipped.headOption.getOrElse(
        throw new IllegalStateException(s"${op.cls} shipped no statement"))
    }
    local.registerViews()
    val partials = Seq(mergeAgg() -> MergeAggSql, mergeRank() -> MergeRankSql).map {
      case (op, sql) =>
        val text = firstShipped(op)
        rewritten(op.cls) = !remotes(0).sql(text).queryExecution.executedPlan
          .toString.toLowerCase.contains("gridpoints")
        planMs(op.cls) = Stats.median((1 to 5).map { _ =>
          Stats.timeMs(graft.tsdb.FederatedAggregate.decompose(spark, sql,
            engine = Some(local)))
        })
        text
    }
    Probes.endpoint(spark, servers(0).address, partials.head)
  }
}

object QueryMix {
  val DefaultSize: Size = Size(nSeries = 36, length = 2400)
}
