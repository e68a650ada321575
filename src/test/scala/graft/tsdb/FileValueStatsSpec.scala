package graft.tsdb

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration

/** Manifest value stats: the segment writer records each file's exact
  * (points, Σv, min, max) and ungrouped COUNT/MIN/MAX/SUM/AVG read the
  * files wholly inside their range from the manifest. Every stats-answered
  * result is compared with the segment path over the SAME files, forced by
  * re-committing the table's files without their value stats: count, min,
  * max and the timestamp extent bit for bit, sum and avg up to summation
  * order.
  */
class FileValueStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Fields = Seq("a", "b", "c")
  private val Ddl = "(ts TIMESTAMP, a FIELD, b FIELD(0.5), c FIELD(1.0%), tag TAG)"
  private val Tags = Seq("s0", "s1", "s2")
  private val BatchPoints = 240
  private val StepUs = 1000L

  private def newEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft_vstats").toString)

  private def fs(engine: Engine): FileSystem =
    new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def head(engine: Engine, table: String): TableManifest.Snapshot =
    TableManifest.latest(fs(engine), engine.dataFolder.tableDir(table)).get

  /** One series' values with the awkward floats mixed in — NaN, ±Inf,
    * -0.0 beside 0.0 — on mixed constant/linear/random runs, so every
    * model type appears.
    */
  private def seriesValues(n: Int, seed: Long): Array[Float] = {
    val (_, vs) = DataGeneration.generateMixedSeries(n, irregular = false,
      noise = Some(0.5f), seed = seed)
    val rng = new scala.util.Random(seed)
    vs.indices.foreach { i =>
      rng.nextInt(40) match {
        case 0 => vs(i) = Float.NaN
        case 1 => vs(i) = Float.PositiveInfinity
        case 2 => vs(i) = Float.NegativeInfinity
        case 3 => vs(i) = -0.0f
        case 4 => vs(i) = 0.0f
        case _ =>
      }
    }
    vs
  }

  /** Batch `b`'s rows: every series over `[b·gap, b·gap + span]`, with a
    * few duplicate timestamps.
    */
  private def batch(b: Int, seed: Long) = {
    val t0 = 1_000_000_000L + b * 10L * BatchPoints * StepUs
    Tags.zipWithIndex.flatMap { case (tag, s) =>
      val vs = Fields.indices.map(f =>
        seriesValues(BatchPoints, seed * 1000 + b * 100 + s * 10 + f))
      (0 until BatchPoints).map { i =>
        val dup = if (i % 53 == 7) 1 else 0
        (t0 + (i - dup) * StepUs, vs(0)(i), vs(1)(i), vs(2)(i), tag)
      }
    }.toDF("ts", "a", "b", "c", "tag")
  }

  private def batchRange(b: Int): (Long, Long) = {
    val t0 = 1_000_000_000L + b * 10L * BatchPoints * StepUs
    (t0, t0 + (BatchPoints - 1) * StepUs)
  }

  private def tsLit(us: Long): String = {
    val text = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(SegmentSlice.instant(us))
    s"TIMESTAMP '$text'"
  }

  private def range(lo: Long, hi: Long) =
    s" WHERE ts >= ${tsLit(lo)} AND ts <= ${tsLit(hi)}"

  private val AggList = (Seq("count(*) AS n") ++ Fields.flatMap(f =>
    Seq(s"min($f)", s"max($f)", s"sum($f)", s"avg($f)")) ++
    Seq("min(ts)", "max(ts)")).mkString(", ")

  private def statement(table: String, where: String) =
    s"SELECT $AggList FROM $table$where"

  /** Re-commit the table's live files with `f` applied to each file's
    * stats: an empty version, then one adding every file back (stats may
    * only accompany the files a commit adds).
    */
  private def restat(engine: Engine, table: String)(
      f: (String, TableManifest.FileStats) => TableManifest.FileStats): Unit = {
    val dir = engine.dataFolder.tableDir(table)
    val snap = head(engine, table)
    TableManifest.commit(fs(engine), dir)(_ => Seq.empty)
    TableManifest.commit(fs(engine), dir,
      stats = snap.fileStats.map { case (rel, s) => rel -> f(rel, s) })(
      _ => snap.files)
  }

  private def stripValues(engine: Engine, table: String): Unit =
    restat(engine, table)((_, s) => s.copy(values = scala.None))

  private def bitsEqual(x: Float, y: Float): Boolean =
    java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y) ||
      (x == 0.0f && y == 0.0f) // Spark's MIN/MAX keep whichever zero comes first

  private def closeEnough(x: Double, y: Double): Boolean =
    java.lang.Double.compare(x, y) == 0 || (x == y) ||
      (!x.isNaN && !x.isInfinite && !y.isInfinite &&
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y))))

  /** Count, min, max and the extent bit for bit; sum and avg up to order. */
  private def assertSame(what: String, stats: Row, scan: Row): Unit = {
    assert(stats.length == scan.length)
    (0 until stats.length).foreach { i =>
      (stats.get(i), scan.get(i)) match {
        case (x: java.lang.Float, y: java.lang.Float) =>
          assert(bitsEqual(x, y), s"$what column $i: $x vs $y")
        case (x: java.lang.Double, y: java.lang.Double) =>
          assert(closeEnough(x, y), s"$what column $i: $x vs $y")
        case (x, y) => assert(x == y, s"$what column $i: $x vs $y")
      }
    }
  }

  /** Answers of `statements` with value stats, then over the same files
    * without them; the table is left with its stats restored.
    */
  private def compareWithSegmentPath(engine: Engine, table: String,
      statements: Seq[String]): Seq[Row] = {
    val withStats = statements.map(q => engine.sql(q).collect().toSeq)
    val saved = head(engine, table).fileStats
    stripValues(engine, table)
    val scanned = statements.map(q => engine.sql(q).collect().toSeq)
    restat(engine, table)((rel, _) => saved(rel))
    statements.indices.foreach { i =>
      assert(withStats(i).size == 1 && scanned(i).size == 1)
      assertSame(statements(i), withStats(i).head, scanned(i).head)
    }
    withStats.map(_.head)
  }

  private def fileScans(engine: Engine, q: String): Int =
    """FileScan|Scan parquet""".r
      .findAllIn(engine.sql(q).queryExecution.executedPlan.toString).size

  private def build(engine: Engine, table: String, batches: Int, seed: Long): Unit = {
    engine.sql(s"CREATE TIME SERIES TABLE $table$Ddl")
    (0 until batches).foreach(b => engine.write(table, batch(b, seed)))
  }

  test("stats answers equal the segment path at every bound, NaN/±Inf/±0, " +
      "empty and straddling ranges, and duplicate timestamps") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val engine = newEngine()
      build(engine, "vs", batches = 3, seed)
      val snap = head(engine, "vs")
      assert(snap.files.forall(f => snap.fileStats.get(f).exists(_.values.nonEmpty)),
        "every written segment file must carry value stats")
      val rng = new scala.util.Random(seed)
      val (lo1, hi1) = batchRange(1)
      val (lo2, hi2) = batchRange(2)
      val straddle = (lo1 + rng.nextInt(BatchPoints) * StepUs,
        lo2 + rng.nextInt(BatchPoints) * StepUs)
      val statements = Seq(
        statement("vs", ""),
        statement("vs", range(lo1, hi1)),
        statement("vs", range(lo1, hi2)),
        statement("vs", range(straddle._1, straddle._2)),
        statement("vs", range(hi2 + 1, hi2 + 1000000L)), // empty
        s"SELECT min(ts) AS t0, max(ts) AS t1 FROM vs",
        s"SELECT count(*) AS n, max(b) AS m FROM vs${range(lo1, hi1)}")
      val answers = compareWithSegmentPath(engine, "vs", statements)
      assert(answers(4).getLong(0) == 0L && answers(4).isNullAt(1),
        "an empty range answers count 0 and NULL extremes")
      // Whole files answer the whole table and a batch-aligned range
      // without a scan.
      Seq(statements(0), statements(1), statements(2), statements(5))
        .foreach(q => assert(fileScans(engine, q) == 0, q))
      assert(fileScans(engine, statements(3)) > 0,
        "straddling files must still be scanned")
    }
  }

  test("MAX surfaces a NaN hidden in a MacaqueV segment on every path") {
    // Lossless random values fit MacaqueV only, whose stored bounds skip
    // NaN; Spark's float order puts NaN above every value.
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE n1(ts TIMESTAMP, v FIELD, tag TAG)")
    val rng = new scala.util.Random(17L)
    engine.write("n1", (0 until 200).map { i =>
      (1_000_000L + i * StepUs, if (i % 17 == 16) Float.NaN else rng.nextFloat() * 10f,
        "s")
    }.toDF("ts", "v", "tag"))
    val segs = engine.dataFolder.segments("n1")
    assert(segs.collect().forall(_.getAs[Byte]("model_type_id") ==
      graft.core.Models.MacaqueVId), "the series must be one MacaqueV run")
    assert(engine.readTable("n1").agg(org.apache.spark.sql.functions.max("v"))
      .collect().head.getFloat(0).isNaN)
    val statements = Seq(
      "SELECT max(v) FROM n1",
      s"SELECT max(v) FROM n1 WHERE ts >= ${tsLit(0L)}",
      "SELECT max(v) FROM n1 GROUP BY tag",
      "SELECT count(DISTINCT tag), max(v) FROM n1")
    def maxes() = statements.map(q => q -> engine.sql(q).collect().head
      .getFloat(if (q.contains("DISTINCT")) 1 else 0))
    (maxes() ++ { stripValues(engine, "n1"); maxes() }).foreach {
      case (q, m) => assert(m.isNaN, s"$q answered $m")
    }
  }

  test("mixed slices: stats files, legacy files without stats and " +
      "straddling files combine") {
    val engine = newEngine()
    build(engine, "mx", batches = 3, seed = 7L)
    // Every other file becomes a legacy file without value stats.
    val legacy = head(engine, "mx").files.zipWithIndex
      .collect { case (f, i) if i % 2 == 1 => f }.toSet
    restat(engine, "mx")((rel, s) =>
      if (legacy(rel)) s.copy(values = scala.None) else s)
    val (lo1, _) = batchRange(1)
    val (_, hi2) = batchRange(2)
    compareWithSegmentPath(engine, "mx", Seq(
      statement("mx", ""),
      statement("mx", range(lo1, hi2)),
      statement("mx", range(lo1 + 17 * StepUs, hi2 - 5 * StepUs))))
  }

  test("OPTIMIZE outputs, plain and ZORDER, and segment copies carry value " +
      "stats with unchanged answers") {
    val engine = newEngine()
    val whole = statement("op", "")
    var before: Row = null
    Seq(false, true).foreach { zorder =>
      // A fresh table each time: after a plain OPTIMIZE every partition
      // holds one file, which ZORDER leaves alone.
      if (zorder) engine.sql("DROP TABLE op")
      build(engine, "op", batches = 3, seed = 11L)
      before = engine.sql(whole).collect().head
      val (compacted, created) =
        engine.compact("op", targetBytes = 64L * 1024 * 1024, clusterByTags = zorder)
      assert(compacted > 0 && created > 0, s"zorder=$zorder")
      val snap = head(engine, "op")
      val outputs = snap.files.filter(_.contains(DataFolder.CompactedFilePrefix))
      assert(outputs.nonEmpty && outputs.forall(f =>
        snap.fileStats(f).values.nonEmpty), s"zorder=$zorder")
      assertSame(s"after OPTIMIZE zorder=$zorder", engine.sql(whole).collect().head,
        before)
      compareWithSegmentPath(engine, "op", Seq(whole))
    }
    engine.sql(s"CREATE TIME SERIES TABLE cp$Ddl")
    engine.copyTimeSeriesTable("op", "cp")
    val copied = head(engine, "cp")
    assert(copied.files.nonEmpty &&
      copied.files.forall(f => copied.fileStats(f).values.nonEmpty))
    assertSame("copy", engine.sql(statement("cp", "")).collect().head, before)
    compareWithSegmentPath(engine, "cp", Seq(statement("cp", "")))
  }

  test("value stats round-trip inline JSON, deltas and Parquet checkpoints " +
      "bit for bit") {
    val dir = Files.createTempDirectory("graft_vstats_manifest").toString
    val fsys = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val awkward = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, Float.MinPositiveValue, 1.1634827e-4f)
    def st(i: Int) = TableManifest.FileStats(100L + i, 1000L * i, 1000L * i + 9,
      Map("tag" -> ("a", "z")), Some(TableManifest.ValueStats(i.toLong,
        if (i % 3 == 0) Double.NaN else i * 0.1 - 0.3,
        awkward(i % awkward.size), awkward((i + 3) % awkward.size))))
    val files = (0 until 7).map(i => s"f$i.parquet")
    def bits(s: TableManifest.FileStats) = (s.sizeBytes, s.minStartUs,
      s.maxEndUs, s.tagBounds, s.values.map(v => (v.count,
        java.lang.Double.doubleToRawLongBits(v.sum),
        java.lang.Float.floatToRawIntBits(v.min),
        java.lang.Float.floatToRawIntBits(v.max))))
    // v1 inline, v2 delta, v3 checkpoint (interval 3), v4 and v5 deltas.
    val groups = Seq(files.take(1), files.slice(1, 4), files.slice(4, 5),
      files.slice(5, 6), files.slice(6, 7))
    groups.foreach { g =>
      TableManifest.commit(fsys, dir, inlineThreshold = 2, checkpointInterval = 3,
        stats = g.map(f => f -> st(files.indexOf(f))).toMap)(_ ++ g)
    }
    TableManifest.dropCachedSnapshots()
    assert(TableManifest.latest(fsys, dir).get.files == files)
    (1L to groups.size.toLong).foreach { v =>
      val snap = TableManifest.snapshotAt(fsys, dir, v).get
      assert(snap.files.size == groups.take(v.toInt).map(_.size).sum)
      snap.files.foreach(f =>
        assert(bits(snap.fileStats(f)) == bits(st(files.indexOf(f))), s"v$v $f"))
    }
  }

  test("a fully stats-answered statement starts no Spark job and reads no " +
      "file; a legacy file is still read") {
    val engine = newEngine()
    build(engine, "jb", batches = 2, seed = 5L)
    val (lo1, hi1) = batchRange(1)
    val statements = Seq(statement("jb", ""), statement("jb", range(lo1, hi1)))
    statements.foreach(q => engine.sql(q).collect()) // views and warm-up
    statements.foreach { q =>
      val (jobs, files) = traced(engine.sql(q).collect())
      assert(jobs == 0, s"$q started $jobs jobs")
      assert(files == 0L, s"$q read $files files")
    }
    val legacy = head(engine, "jb").files.head
    restat(engine, "jb")((rel, s) =>
      if (rel == legacy) s.copy(values = scala.None) else s)
    val (jobs, files) = traced(engine.sql(statements.head).collect())
    assert(jobs > 0 && files == 1L,
      s"the legacy file must be scanned alone: $jobs jobs, $files files")
  }

  /** Jobs started and files read by scans while `body` runs. */
  private def traced(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    val last = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try body finally {
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    val files = store.executionsList().filter(_.executionId > last)
      .map { exec =>
        val values = store.executionMetrics(exec.executionId)
        store.planGraph(exec.executionId).allNodes.flatMap(_.metrics)
          .filter(_.name == "number of files read")
          .flatMap(m => values.get(m.accumulatorId))
          .map(_.filter(_.isDigit)).filter(_.nonEmpty).map(_.toLong).sum
      }.sum
    (jobs.get, files)
  }
}
