package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession

import graft.core.{Compressor, FloatBuf, LongBuf, Models, Segment}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeMs[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

/** One operation as it ran. The Spark, plan and remote figures are filled
  * in traced runs only.
  */
final case class OpRecord(cls: String, ms: Double, ok: Boolean,
    planMs: Double = 0, work: SparkWork = null, driverGapMs: Double = 0,
    filesRead: Long = 0, gridded: Long = 0, statements: Long = 0)

final case class Metric(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric], records: Seq[OpRecord]) {
  def json: String = {
    val ms = metrics.filterNot(m => m.value.isNaN || m.value.isInfinite).map { m =>
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Runs one workload in this JVM: set-up (repeated), warm-up, the timed
  * rounds, the store check, and with tracing the per-layer probes.
  */
final class Runner(spark: SparkSession, w: Workload, trace: Boolean,
    traceOut: Option[Path] = None) {
  private val tracer = w.ctx.tracer
  private val counters = new SparkCounters
  private lazy val sqlMetrics = new SqlMetrics(spark)
  if (trace) spark.sparkContext.addSparkListener(counters)

  private def drain(): Unit = if (trace) {
    ListenerBus.drain(spark.sparkContext)
    counters.take()
    sqlMetrics.take()
  }

  def runOp(op: Op): OpRecord = {
    val statements0 = w.remoteStatements
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(op.cls)(op.run()); true }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.cls} failed: $e")
          false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    if (!trace) OpRecord(op.cls, ms, ok)
    else {
      ListenerBus.drain(spark.sparkContext)
      val work = counters.take()
      val (files, gridded) = sqlMetrics.take()
      val spans = tracer.all
      val opSpan = spans.filter(_.parent == -1).last
      val planMs = spans.filter(s => s.parent == opSpan.id && s.name == "plan")
        .map(_.ms).sum
      OpRecord(op.cls, ms, ok, planMs, work,
        SparkCounters.driverGapMs(startMs, endMs, work.jobIntervalsMs).toDouble,
        files, gridded, w.remoteStatements - statements0)
    }
  }

  def run(seconds: Int, setupRepeats: Int = 3): Result = {
    def setup() = Stats.timeMs(tracer.span("setup")(w.setup())) / 1e3
    // The first set-up runs while the JIT is still compiling the load
    // path; ingest rates come from the rest (from the timed appends where
    // the workload times its own).
    val warming = (1 to math.min(1, setupRepeats - 1)).map(_ => setup())
    val coldAppends = w.appends.size
    val setups = warming ++ (warming.size + 1 to setupRepeats).map(_ => setup())
    log(s"set-up ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    log(f"warm-up ${Stats.timeMs(w.warmup().foreach(runOp)) / 1e3}%.2f s")
    drain()
    val records = ArrayBuffer.empty[OpRecord]
    val rounds = w.rounds(seconds)
    val t0 = System.nanoTime()
    (1 to rounds).foreach(i => w.round(i).foreach(op => records += runOp(op)))
    val elapsed = (System.nanoTime() - t0) / 1e9
    val heap = heapLiveMb()
    log(f"$rounds rounds, ${records.size} ops in $elapsed%.2f s")
    val t1 = System.nanoTime()
    val correct =
      try { w.stores.foreach { case (e, s) => Store.verify(e, w.data, s, w.storedLength) }; true }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] store check failed: $e")
          false
      }
    log(f"store check ${(System.nanoTime() - t1) / 1e9}%.2f s")
    val ok = records.filter(_.ok)
    log(f"ops_per_s ${ok.size / elapsed}%.4f")
    val metrics =
      if (trace) layerMetrics(records.toSeq)
      else {
        val points = w.stores.map(_._2.size.toLong * w.storedLength).sum
        val bytes = w.stores.map(s => Store.dataBytes(s._1)).sum
        val warmAppends =
          if (w.appends.size > coldAppends) w.appends.drop(coldAppends) else w.appends
        Seq(
          Metric("setup_s", Stats.median(setups), "s"),
          Metric("ops_per_s", ok.size / elapsed, "1/s"),
          Metric("ingest_points_per_s",
            Stats.median(warmAppends.map { case (p, ms) => p / (ms / 1e3) }), "1/s"),
          Metric("bytes_per_value", bytes.toDouble / (points * Data.Fields.size), "B"),
          Metric("heap_live_mb", heap, "MiB")) ++
          classLatency(ok.toSeq)
      }
    Result(correct, records.size, records.count(!_.ok), metrics, records.toSeq)
  }

  /** The geometric mean over the workload's classes of each class's median
    * latency, so every class weighs alike whatever its speed; each class's
    * median goes to the log. Empty when a class has no correct operation.
    */
  private def classLatency(ok: Seq[OpRecord]): Seq[Metric] = {
    val p50 = w.classes.map(c => c -> ok.filter(_.cls == c).map(_.ms))
      .collect { case (c, xs) if xs.nonEmpty => c -> Stats.median(xs) }
    log(p50.map { case (c, v) => f"${c}_p50_ms $v%.1f" }.mkString(", "))
    if (p50.size < w.classes.size) Nil
    else Seq(Metric("class_p50_geomean_ms",
      math.exp(p50.map(x => math.log(x._2)).sum / p50.size), "ms"))
  }

  /** Used heap after full collections. Spark's context cleaner frees
    * shuffle and broadcast state only after a collection has found it
    * unreachable, so collect until the figure stops falling.
    */
  private def heapLiveMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    var best = Double.MaxValue
    var previous = 0.0
    var i = 0
    while (i < 6 && best != previous) {
      previous = best
      System.gc()
      Thread.sleep(200)
      best = math.min(best, bean.getHeapMemoryUsage.getUsed / 1048576.0)
      i += 1
    }
    best
  }

  /** Per-layer metrics of the whole workload: means over its timed
    * operations, so every workload reports the same names; then the probe
    * calls, which run after the timed phase on the same inputs. The
    * per-class medians behind the means go to the log.
    */
  private def layerMetrics(records: Seq[OpRecord]): Seq[Metric] = {
    traceOut.foreach(tracer.write)
    // Workload probes run first: they may replace a class's planning time
    // and rewrite flag.
    val workloadProbes = w.probes()
    val ok = records.filter(_.ok)
    val queries = ok.filter(_.cls != "append")
    def mean(rs: Seq[OpRecord])(f: OpRecord => Double): Double =
      if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
    val mb = 1048576.0
    val perOp: Seq[(String, String, OpRecord => Double)] = Seq(
      ("spark.jobs", "count", _.work.jobs.toDouble),
      ("spark.stages", "count", _.work.stages.toDouble),
      ("spark.tasks", "count", _.work.tasks.toDouble),
      ("spark.task_ms", "ms", _.work.taskMs.toDouble),
      ("spark.shuffle_mb", "MiB", _.work.shuffleBytes / mb),
      ("spark.input_mb", "MiB", _.work.inputBytes / mb),
      ("spark.driver_gap_ms", "ms", _.driverGapMs),
      ("remote.statements", "count", _.statements.toDouble))
    val perQuery: Seq[(String, String, OpRecord => Double)] = Seq(
      ("manifest.files_read", "count", _.filesRead.toDouble),
      ("plans.plan_ms", "ms", r => w.planMs.getOrElse(r.cls, r.planMs)),
      ("grid.points", "count", _.gridded.toDouble))
    w.classes.foreach { c =>
      val rs = ok.filter(_.cls == c)
      if (rs.nonEmpty) log(s"$c: " + (perOp ++ perQuery).map { case (name, _, f) =>
        f"$name ${Stats.median(rs.map(f))}%.2f"
      }.mkString(", "))
    }
    val sqlRewritten = w.rewritten.values.toSeq
    val traced =
      perOp.map { case (name, unit, f) => Metric(s"${name}_per_op", mean(ok)(f), unit) } ++
      perQuery.map { case (name, unit, f) =>
        val perName = if (name == "plans.plan_ms") name else s"${name}_per_query"
        Metric(perName, mean(queries)(f), unit)
      } :+
      Metric("plans.rewritten_share",
        sqlRewritten.count(identity).toDouble / math.max(1, sqlRewritten.size), "share")
    val probes = Probes.core(w.data, w.stores.head._2, math.min(w.storedLength, 3000)) ++
      Probes.store(w) ++ workloadProbes ++
      (if (workloadProbes.exists(_.name == "remote.roundtrip_ms")) Nil
       else Probes.remote(spark, w.stores.head._1))
    traced ++ probes
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Direct calls into single layers, made after the timed phase. */
object Probes {
  /** Round trips to an endpoint over `engine`, started for the probe: a
    * constant statement, and the whole-table aggregate.
    */
  def remote(spark: SparkSession, engine: graft.tsdb.Engine): Seq[Metric] = {
    val server = new graft.remote.RemoteServer(engine)
    try endpoint(spark, server.address, s"SELECT ${Check.AggregateList} FROM ${Data.Table}")
    finally server.close()
  }

  /** `remote.roundtrip_ms` (`SELECT 1`) and `remote.statement_ms`
    * (`statement`), both through `RemoteClient.sql` against `address`.
    */
  def endpoint(spark: SparkSession, address: String, statement: String): Seq[Metric] = {
    val a = graft.remote.RemoteClient.parseAddress(address).get
    def run(text: String) = graft.remote.RemoteClient.sql(spark, a, text).collect()
    Seq(
      Metric("remote.roundtrip_ms",
        Stats.median((1 to 20).map(_ => Stats.timeMs(run("SELECT 1 AS one")))), "ms"),
      Metric("remote.statement_ms",
        Stats.median((1 to 5).map(_ => Stats.timeMs(run(statement)))), "ms"))
  }

  private def segmentBytes(s: Segment): Int =
    1 + 8 + 8 + s.timestamps.length + 4 + 4 + s.values.length + s.residuals.length + 4

  /** Single-thread fitting and gridding over the first `length` points of
    * each series: speed, bytes per value and the model mix per bound.
    */
  def core(data: Dataset, series: Seq[Int], length: Int): Seq[Metric] = {
    val ts = Array.tabulate(length)(data.ts)
    val points = series.size.toDouble * length
    val segments = ArrayBuffer.empty[Segment]
    val fits = Data.Bounds.indices.flatMap { f =>
      val inputs = series.map(s => java.util.Arrays.copyOf(data.values(s)(f), length))
      var segs: Seq[Segment] = Nil
      val ms = Stats.median((1 to 3).map(_ => Stats.timeMs {
        segs = inputs.flatMap(v => Compressor.compressUnivariate(ts, v, Data.Bounds(f)))
      }))
      segments ++= segs
      val b = Data.BoundNames(f)
      Seq(Metric(s"core.fit_mpts_per_s.$b", points / ms / 1e3, "Mpts/s"),
        Metric(s"core.bytes_per_value.$b", segs.map(segmentBytes).sum / points, "B"))
    }
    val tsOut = new LongBuf(length)
    val vOut = new FloatBuf(length)
    val gridMs = Stats.median((1 to 3).map(_ => Stats.timeMs {
      segments.foreach { s =>
        tsOut.clear(); vOut.clear()
        Models.grid(s.modelTypeId, s.startTime, s.endTime, s.timestamps,
          s.minValue, s.maxValue, s.values, s.residuals, tsOut, vOut)
      }
    }))
    val byModel = segments.groupBy(_.modelTypeId).map { case (k, v) => k -> v.size }
    fits ++ Seq(
      Metric("core.grid_mpts_per_s", points * Data.Fields.size / gridMs / 1e3, "Mpts/s"),
      Metric("core.segments.pmc", byModel.getOrElse(Models.PmcMeanId, 0).toDouble, "count"),
      Metric("core.segments.swing", byModel.getOrElse(Models.SwingId, 0).toDouble, "count"),
      Metric("core.segments.macaque", byModel.getOrElse(Models.MacaqueVId, 0).toDouble, "count"))
  }

  /** Ingest, manifest and reconstruction probes on the first store. */
  def store(w: Workload): Seq[Metric] = {
    val (engine, series) = w.stores.head
    val compressMs = Stats.median((1 to 3).map(_ => Stats.timeMs {
      engine.dataFolder.compressForIngest(Data.Table, w.probeFrame)
        .write.format("noop").mode("overwrite").save()
    }))
    val files = Store.liveFiles(engine)
    val latestMs = Stats.median((1 to 20).map(_ => Stats.timeMs(Store.snapshot(engine))))
    val points = series.size.toDouble * w.storedLength
    val gridMs = Stats.median((1 to 3).map(_ => Stats.timeMs {
      engine.readTable(Data.Table).write.format("noop").mode("overwrite").save()
    }))
    Seq(
      Metric("ingest.compress_ms", compressMs, "ms"),
      Metric("ingest.write_commit_ms",
        Stats.median(w.appends.map(_._2)) - compressMs, "ms"),
      Metric("ingest.files_per_append", files.toDouble / w.primaryAppends, "count"),
      Metric("manifest.files_live", files.toDouble, "count"),
      Metric("manifest.latest_ms", latestMs, "ms"),
      Metric("grid.mpts_per_s", points * Data.Fields.size / gridMs / 1e3, "Mpts/s"))
  }
}

object Main {
  val Workloads = Seq("ingest_append", "query_mix")

  def cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.ui.retainedExecutions", "200")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, ctx: Ctx, small: Boolean = false): Workload =
    name match {
      case "ingest_append" =>
        if (small) new IngestAppend(ctx, Size(6, 100), maxBatches = 8)
        else new IngestAppend(ctx)
      case "query_mix" =>
        if (small) new QueryMix(ctx, Size(6, 400), loads = 2) else new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts.getOrElse("work", "perfbench/.work/run")).toAbsolutePath
    val spark = session(work)
    val code =
      try {
        if (opts.contains("self-test")) SelfTest.run(spark, work)
        else {
          val trace = opts.getOrElse("trace", "0") == "1"
          val ctx = new Ctx(spark, opts("seed").toLong, new Tracer(trace), work,
            _ => false)
          val w = workload(opts("workload"), ctx)
          val out = opts.get("trace-out").map(p => Paths.get(p))
          val result = try new Runner(spark, w, trace, out).run(opts("seconds").toInt)
            finally w.close()
          println(result.json)
          0
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      } finally spark.stop()
    sys.exit(code)
  }
}

/** Shows that the answer checks count a wrong answer as a failed
  * operation: every class of every workload runs once with its expectation
  * planted wrong, and only that class's operations may fail.
  */
object SelfTest {
  def run(spark: SparkSession, work: Path): Int = {
    var problems = 0
    Main.Workloads.foreach { name =>
      def once(plant: Option[String]): Result = {
        val ctx = new Ctx(spark, 7L, new Tracer(false), work, plant.toSet)
        val w = Main.workload(name, ctx, small = true)
        try new Runner(spark, w, trace = false).run(seconds = 1, setupRepeats = 1)
        finally w.close()
      }
      val clean = once(None)
      if (clean.failed != 0 || !clean.correct) {
        println(s"FAIL $name: ${clean.failed} failed without a planted error")
        problems += 1
      } else println(s"ok   $name: ${clean.attempted} operations, none failed")
      clean.records.map(_.cls).distinct.foreach { cls =>
        val r = once(Some(cls))
        val expected = r.records.count(_.cls == cls)
        val failedOther = r.records.exists(x => !x.ok && x.cls != cls)
        if (r.records.count(!_.ok) != expected || failedOther) {
          println(s"FAIL $name/$cls: planted error gave ${r.failed} failed of " +
            s"${r.attempted}, expected $expected")
          problems += 1
        } else println(s"ok   $name/$cls: planted error failed all $expected " +
          s"of its operations")
      }
    }
    if (problems == 0) 0 else 1
  }
}
