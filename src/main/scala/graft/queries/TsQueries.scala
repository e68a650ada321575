package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{Engine, TableManifest}
import QueryUtil._

/** The ModelarDB-parity surface exercised end-to-end: events.parquet is
  * ingested into a time series table (per-user tag series), and the checked
  * queries read it back through the grid view / segment-native aggregates.
  * A lossless table makes reconstruction the identity, so plain SQL over the
  * raw events is an exact DuckDB oracle for the whole
  * compress-write-scan-grid pipeline.
  */
object TsQueries {

  private val builtRoots = scala.collection.mutable.Set[String]()

  /** Cross-process build lock: the shared /tmp cache is checked and built
    * by whichever JVM arrives first, and the isolated bench forks one JVM
    * per query — concurrent arrivals (or an interactive session running
    * alongside a bench) must not interleave the wipe/create/write
    * sequence, which manifests as "table already exists" races and
    * FILE_NOT_EXIST reads of half-replaced caches. An OS file lock beside
    * the cache root serializes every check-and-build across processes.
    */
  // FileChannel.lock() does not queue within one JVM — it throws
  // OverlappingFileLockException when any thread of this process already
  // holds the region. Same-JVM callers serialize on a per-path monitor
  // FIRST, so the OS lock only ever mediates cross-process contention.
  private val jvmLockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withBuildLock[T](root: String)(body: => T): T = {
    val rootFile = new File(root)
    val dir = rootFile.getParentFile
    dir.mkdirs()
    val lockPath = new File(dir, rootFile.getName + ".lock").toPath
    val monitor = jvmLockMonitors
      .computeIfAbsent(lockPath.toAbsolutePath.toString, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    }
  }

  /** Bump when the segment format or build recipe changes so stale caches
    * from earlier builds are discarded.
    */
  // v5: manifests carry per-file tag bounds too — rebuild so benched
  // tables exercise tag-equality file skipping on top of the v4
  // (size + time bounds) manifest-planned scans.
  private val CacheVersion = "v7" // v7: segment files carry manifest value stats

  /** Build (once per JVM x scale factor) a data folder holding the events
    * time series tables; reused across queries via an on-disk marker.
    */
  def engineFor(spark: SparkSession, sfDir: String): Engine = synchronized {
    val sfName = new File(sfDir).getName
    val root = s"/tmp/graft_ts_cache/$sfName-$CacheVersion"
    val engine = new Engine(spark, root)
    if (!builtRoots.contains(root)) {
      withBuildLock(root) {
        // Completeness = the explicit end-of-build marker rebuild() writes
        // after its last table commit (NOT Spark's _SUCCESS: the staged
        // manifest write path moves files out of _graft_staging and leaves
        // no _SUCCESS at the table root, so that check was always false
        // and every fresh JVM silently rebuilt — and could wipe a cache a
        // concurrent reader was mid-scan on).
        val haveAll = new File(s"$root/_BUILT").exists() &&
          tableNames.forall(engine.dataFolder.tableExists)
        if (!haveAll) rebuild(spark, sfDir, engine)
      }
      builtRoots += root
    }
    engine
  }

  private val tableNames = Seq("events_lossless", "events_lossy", "events_multi")

  private val boundsCache = scala.collection.mutable.Map[String, (Long, Long)]()

  /** The shared query window (the middle third of the events time range) in
    * epoch micros. The min/max bounds scan is computed ONCE per dataset per
    * JVM and cached: four queries parameterize on the same window, and at
    * scale each driver-side bounds job is a full column min/max scan.
    */
  def eventsWindow(s: SparkSession, d: String): (Long, Long) = synchronized {
    val (mn, mx) = boundsCache.getOrElseUpdate(d, {
      val r = table(s, d, "events")
        .agg(min(eventsTsMicros), max(eventsTsMicros)).collect().head
      (r.getLong(0), r.getLong(1))
    })
    (mn + (mx - mn) / 3, mn + 2 * (mx - mn) / 3)
  }

  /** Format epoch micros as a SQL timestamp literal body (UTC). */
  private def fmtTs(us: Long): String = java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L * 1000L).toInt, java.time.ZoneOffset.UTC)
    .format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** Engine for the ingest benchmark: always wipes and rebuilds, but exactly
    * once — going through [[engineFor]] first would trigger a second full
    * build on a cold cache.
    */
  def engineForIngest(spark: SparkSession, sfDir: String): Engine = synchronized {
    val sfName = new File(sfDir).getName
    val root = s"/tmp/graft_ts_cache/$sfName-$CacheVersion"
    val engine = new Engine(spark, root)
    withBuildLock(root) { rebuild(spark, sfDir, engine) }
    builtRoots += root
    engine
  }

  /** Engine for the compaction benchmark: a table built from FOUR chunked
    * appends (the streaming small-file shape), cached on disk once per
    * scale factor — the timed body must measure OPTIMIZE + read-back, not
    * the build's four compression jobs. Returns the engine plus the
    * pristine (pre-compaction) manifest version; the timed body restores
    * that version with a cheap rollback commit before compacting, so every
    * run swaps the same small-file layout.
    */
  def engineForCompact(spark: SparkSession, sfDir: String): (Engine, Long) = synchronized {
    val sfName = new File(sfDir).getName
    val root = s"/tmp/graft_ts_cache/$sfName-$CacheVersion-compact"
    val marker = new File(s"$root/_PRISTINE")
    val engine = new Engine(spark, root)
    withBuildLock(root) {
    if (marker.exists() && engine.dataFolder.tableExists("cr")) {
      (engine, new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim.toLong)
    } else {
      new scala.reflect.io.Directory(new File(root)).deleteRecursively()
      val fresh = new Engine(spark, root)
      fresh.sql(
        "CREATE TIME SERIES TABLE cr(ts TIMESTAMP, value FIELD, user TAG)")
      val events = table(spark, sfDir, "events")
        .select(eventsTsMicros.as("ts"), col("value").cast("float").as("value"),
          col("user_id").cast("string").as("user"))
      (0 until 4).foreach(chunk =>
        fresh.write("cr", events.where(pmod(col("user").cast("long"), lit(4))
          === chunk)))
      val dir = fresh.dataFolder.tableDir("cr")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pristine = TableManifest.latest(fs, dir).get.version
      java.nio.file.Files.write(marker.toPath, pristine.toString.getBytes)
      (fresh, pristine)
    }
    }
  }

  /** Wipe and rebuild the cached tables (also the ingest benchmark body). */
  def rebuild(spark: SparkSession, sfDir: String, engine: Engine): Unit = {
    new scala.reflect.io.Directory(new File(engine.root)).deleteRecursively()
    val events = table(spark, sfDir, "events")
      .select(eventsTsMicros.as("ts"), col("value").cast("float").as("value"),
        col("user_id").cast("string").as("user"))
    // DDL stays serial (it mutates the folder catalog); the three WRITES
    // are independent per-table pipelines (separate directories, separate
    // manifests) and overlap on a small pool — guide §2.6: one table's
    // compression kernel back-fills the executor tail of another's
    // parquet write + footer-stat + manifest-commit phase, which is
    // mostly driver/FS latency. Measured (ts_ingest, sf0.1, local[32]):
    // 2.78 s serial → see OPTIMIZATION_r17.md. Failures propagate via
    // Future.get, so a torn build still never writes the _BUILT marker.
    engine.sql(
      "CREATE TIME SERIES TABLE events_lossless(ts TIMESTAMP, value FIELD, user TAG)")
    engine.sql(
      "CREATE TIME SERIES TABLE events_lossy(ts TIMESTAMP, value FIELD(1.0%), user TAG)")
    // vf is GENERATED (never stored): a linear map of value with a
    // power-of-two scale and exactly-representable shift, so float and
    // double evaluation orders round identically — cross-engine exact.
    engine.sql("CREATE TIME SERIES TABLE events_multi(" +
      "ts TIMESTAMP, value FIELD, value2 FIELD, " +
      "vf FIELD AS (value * 0.5 - 8.0), user TAG)")
    val writes: Seq[() => Unit] = Seq(
      () => engine.write("events_lossless", events),
      () => engine.write("events_lossy", events),
      () => engine.write("events_multi",
        events.withColumn("value2", col("value") * 2.0f)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    try {
      val futures = writes.map(w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = w()
        }))
      // Drain EVERY future before propagating the first failure: a plain
      // fail-fast foreach(_.get()) would leave sibling writes still
      // appending to their table directories while the caller already
      // treats the build as torn — and a rebuild of the same folder could
      // race the orphaned writer. An interrupt while waiting is held until
      // every write has settled, then restored and rethrown.
      var interrupted = false
      val errors = futures.flatMap { f =>
        var outcome: Option[Option[Throwable]] = scala.None
        while (outcome.isEmpty)
          try { f.get(); outcome = Some(scala.None) }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              outcome = Some(Some(Option(e.getCause).getOrElse(e)))
            case e: java.util.concurrent.CancellationException =>
              outcome = Some(Some(e))
            case _: InterruptedException => interrupted = true
          }
        outcome.get
      }
      if (interrupted) {
        Thread.currentThread().interrupt()
        throw errors.headOption.getOrElse(new InterruptedException(
          "Interrupted while building the time series tables."))
      }
      errors.headOption.foreach(throw _)
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
    // End-of-build marker checked by engineFor: written only after every
    // table committed, so a torn build is rebuilt, never trusted.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${engine.root}/_BUILT"),
      CacheVersion.getBytes("UTF-8"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(

    // Ingest benchmark: full wipe + compress + write of all three tables;
    // later ts queries reuse the result. GATE: per table, the
    // metadata-only point count must equal the source row count (exact,
    // zero decode) and segments/bytes must exist — reported as booleans
    // the oracle pins to TRUE.
    ("ts_ingest", (s: SparkSession, d: String) => {
      val engine = engineForIngest(s, d)
      import s.implicits._
      val rawRows = table(s, d, "events").count()
      tableNames.map { t =>
        val dir = new File(s"${engine.root}/tables/$t")
        val tableBytes = Option(dir.listFiles()).map(_.flatMap { p =>
          if (p.isDirectory) p.listFiles().filter(_.getName.endsWith(".parquet"))
          else Array.empty[File]
        }.map(_.length()).sum).getOrElse(0L)
        val nSegments = engine.dataFolder.segments(t).count()
        val nRows = engine.readTimeSeriesTable(t, Seq("value"),
          engine.Aggregate.Count).collect().head.getLong(0)
        (t, nRows == rawRows, nSegments > 0L, tableBytes > 0L)
      }.toDF("table_name", "rows_ok", "has_segments", "has_bytes")
        .orderBy("table_name")
    }, Some("""
      SELECT 'events_lossless' AS table_name, TRUE AS rows_ok,
        TRUE AS has_segments, TRUE AS has_bytes
      UNION ALL SELECT 'events_lossy', TRUE, TRUE, TRUE
      UNION ALL SELECT 'events_multi', TRUE, TRUE, TRUE
      ORDER BY table_name""")),

    // Full pipeline: ingest (cached) + grid reconstruction must be the
    // identity under a lossless bound.
    ("ts_roundtrip", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTable("events_lossless")
        .select(unix_micros(col("ts")).as("ts_us"), col("value"), col("user"))
        .orderBy("user", "ts_us")
    }, Some("""
      SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        CAST(value AS FLOAT4) AS value,
        CAST(user_id AS VARCHAR) AS user
      FROM events ORDER BY user, ts_us""")),

    // COUNT/MIN/MAX computed from segment metadata only (no reconstruction),
    // all three from ONE segment scan via the multi-aggregate read.
    ("ts_seg_stats", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableMulti("events_lossless", Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Min, engine.Aggregate.Max))
        .select(col("count_value").as("n"), col("min_value").as("mn"),
          col("max_value").as("mx"))
    }, Some("""
      SELECT count(*) AS n, min(CAST(value AS FLOAT4)) AS mn,
        max(CAST(value AS FLOAT4)) AS mx
      FROM events""")),

    // SUM/AVG from per-segment closed forms, f64-accumulated, both from one
    // segment scan.
    ("ts_seg_sum_avg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableMulti("events_lossless", Seq("value"),
          Seq(engine.Aggregate.Sum, engine.Aggregate.Avg))
        .select(round(col("sum_value"), 2).as("sum_v"),
          round(col("avg_value"), 4).as("avg_v"))
    }, Some("""
      SELECT round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS avg_v
      FROM events""")),

    // Time-range scan: rewritten segment predicate + exact post-grid filter.
    ("ts_range_query", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      engine.readTimeSeriesTable("events_lossless",
          startTime = Some(java.time.Instant.ofEpochSecond(
            lo / 1000000L, lo % 1000000L * 1000L)),
          endTime = Some(java.time.Instant.ofEpochSecond(
            hi / 1000000L, hi % 1000000L * 1000L)))
        .select(unix_micros(col("ts")).as("ts_us"), col("value"), col("user"))
        .orderBy("user", "ts_us")
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        CAST(value AS FLOAT4) AS value,
        CAST(user_id AS VARCHAR) AS user
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi
      ORDER BY user, ts_us""")),

    // Time-ranged aggregate via the hybrid path: interior segments answered
    // from metadata, only boundary segments reconstructed.
    ("ts_range_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      def inst(us: Long) =
        java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)
      // All four aggregates from ONE hybrid interior/boundary pass.
      engine.readTimeSeriesTableMulti("events_lossless", Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Sum,
            engine.Aggregate.Min, engine.Aggregate.Max),
          startTime = Some(inst(lo)), endTime = Some(inst(hi)))
        .select(col("count_value").as("n"), round(col("sum_value"), 2).as("sum_v"),
          col("min_value").as("mn"), col("max_value").as("mx"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // Time-bucketed downsampling per tag: daily buckets answered by the
    // generalized hybrid plan — segments contained in one day contribute
    // closed-form partials from metadata, only day-straddling segments are
    // gridded. At a 100 TB retention window this reads the segment
    // relation, not the points (the reference reconstructs everything for
    // any time GROUP BY).
    ("ts_bucket_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableBucketed("events_lossless",
          java.time.Duration.ofDays(1), Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Sum,
            engine.Aggregate.Min, engine.Aggregate.Max),
          groupByTags = Seq("user"))
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          col("count_value").as("n"), round(col("sum_value"), 2).as("sum_v"),
          col("min_value").as("mn"), col("max_value").as("mx"))
        .orderBy("user", "bucket_us")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(epoch_us(ts) AS BIGINT)
          - CAST(epoch_us(ts) AS BIGINT) % 86400000000 AS bucket_us,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Variance family from segment partials: the Catalyst rewrite routes
    // var_samp/var_pop/stddev over a stored field through (count, Σv, Σv²)
    // closed forms — interior segments compute BOTH sums in one decode
    // pass (SegmentSumStats), no point stream. Beyond the reference, whose
    // rewrite handles only COUNT/MIN/MAX/SUM/AVG. The oracle replays
    // var_samp/var_pop over the raw micro data (lossless table: the
    // reconstructed values are the ingested values).
    ("ts_variance", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, var_samp(value) AS vs, stddev_samp(value) AS ss, " +
          "var_pop(value) AS vp FROM events_lossless GROUP BY user")
        .select(col("user"), round(col("vs"), 4).as("var_s"),
          round(col("ss"), 4).as("std_s"), round(col("vp"), 4).as("var_p"))
        .orderBy("user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(var_samp(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS var_s,
        round(stddev_samp(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS std_s,
        round(var_pop(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS var_p
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Per-series deltas: value - lag(value) over the reconstructed view —
    // the delegated-SQL window surface composing directly with the grid
    // (PARTITION BY the series tag keeps the window shuffle keyed, never
    // global). Delta arithmetic stays f32 like the stored values; the
    // aggregates promote to f64.
    ("ts_deltas", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, count(delta) AS n, " +
          "round(avg(CAST(delta AS DOUBLE)), 4) AS avg_d, " +
          "round(CAST(min(delta) AS DOUBLE), 4) AS min_d, " +
          "round(CAST(max(delta) AS DOUBLE), 4) AS max_d " +
          "FROM (SELECT user, value - lag(value) OVER " +
          "(PARTITION BY user ORDER BY ts) AS delta FROM events_lossless) " +
          "WHERE delta IS NOT NULL GROUP BY user")
        .orderBy("user")
    }, Some("""
      WITH d AS (
        SELECT CAST(user_id AS VARCHAR) AS user,
          CAST(value AS FLOAT4) - lag(CAST(value AS FLOAT4)) OVER
            (PARTITION BY user_id ORDER BY epoch_us(ts)) AS delta
        FROM events)
      SELECT user, count(delta) AS n,
        round(avg(CAST(delta AS DOUBLE)), 4) AS avg_d,
        round(CAST(min(delta) AS DOUBLE), 4) AS min_d,
        round(CAST(max(delta) AS DOUBLE), 4) AS max_d
      FROM d WHERE delta IS NOT NULL GROUP BY 1 ORDER BY 1""")),

    // Sampling-gap detection per series, answered WITHOUT decoding values:
    // intra-segment gaps come from the timestamp codec (O(1) for regular
    // segments), inter-segment gaps from a keyed window over segment
    // bounds. The oracle replays max/count-over-threshold of the raw
    // lag() deltas — so the segment-native decomposition (intra + boundary)
    // is hash-checked against the flat point-stream definition.
    ("ts_gaps", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.timeGapStats("events_lossless", java.time.Duration.ofDays(1),
          groupByTags = Seq("user"))
        .select(col("user"), col("max_gap_us"), col("n_gaps_over"))
        .orderBy("user")
    }, Some("""
      WITH d AS (
        SELECT CAST(user_id AS VARCHAR) AS user,
          epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_us(ts)) AS delta
        FROM events)
      SELECT user, CAST(max(delta) AS BIGINT) AS max_gap_us,
        CAST(coalesce(sum(CASE WHEN delta > 86400000000 THEN 1 END), 0)
          AS BIGINT) AS n_gaps_over
      FROM d GROUP BY 1 ORDER BY 1""")),

    // Value-predicate COUNT per series — count(value > x) answered from
    // segment metadata: stored bounds decide all-in (len, no decode) and
    // all-out (0) outright; only bound-straddling segments run a kernel
    // that is O(1) for PMC and an O(log len) monotone binary search for
    // Swing. The reference's rewrite disables itself on ANY value
    // predicate; this plan never materializes a point (no Generate).
    ("ts_threshold_count", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.thresholdCount("events_lossless", "value", 100.0,
          groupByTags = Seq("user"))
        .select(col("user"), col("count_in_value").as("n_above"),
          col("count_value").as("n_points"))
        .orderBy("user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) FILTER (WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE)
          > 100.0) AS BIGINT) AS n_above,
        CAST(count(*) AS BIGINT) AS n_points
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Value-predicate COUNT under a time range: interior segments keep the
    // metadata fast paths, only the at-most-two boundary segments per
    // series evaluate the index-clipped kernel (O(1) clip arithmetic for
    // regular segments) — a banded `WHERE v BETWEEN AND ts BETWEEN` count
    // with no reconstruction anywhere.
    ("ts_threshold_range", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      def inst(us: Long) =
        java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)
      engine.thresholdCount("events_lossless", "value", 50.0, 150.0,
          startTime = Some(inst(lo)), endTime = Some(inst(hi)))
        .select(col("count_in_value").as("n_in"),
          col("count_value").as("n_points"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT CAST(count(*) FILTER (
          WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 50.0
            AND CAST(CAST(value AS FLOAT4) AS DOUBLE) <= 150.0) AS BIGINT) AS n_in,
        CAST(count(*) AS BIGINT) AS n_points
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // Fixed-width value histogram from segments: bins are floor((v-o)/w)
    // in f64 (identical arithmetic in Spark, the kernel, and DuckDB).
    // Segments whose stored bounds land in one bin — at this width, the
    // vast majority — contribute (bin, len) with zero decode; only
    // bin-straddling segments run the generator, emitting one row per
    // non-empty bin via the same monotone binary search.
    ("ts_histogram", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.valueHistogram("events_lossless", "value", 0.0, 25.0)
        .select(col("bin"), col("count_value").as("n"))
        .orderBy("bin")
    }, Some("""
      SELECT CAST(floor((CAST(CAST(value AS FLOAT4) AS DOUBLE) - 0.0) / 25.0)
          AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // The same value-predicate count through the SQL surface: the Catalyst
    // rewrite recognizes `count(*) WHERE value > x` over the grid view and
    // splices in the thresholdCount plan (canonicalizing >=, <, <=, =, and
    // BETWEEN conjunctions into one (lower, upper] interval; upper-only
    // bounds count by complement). The executed plan has no Generate.
    ("ts_sql_threshold", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql("SELECT user, count(*) AS n_above FROM events_lossless " +
        "WHERE value > 100.0 GROUP BY user ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n_above
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 100.0
      GROUP BY 1 ORDER BY 1""")),

    // Value-FILTERED sum/min/max/avg through the SQL surface: the rewrite
    // routes `sum(value) WHERE value > x` (and min/max/avg/count of the
    // predicate's own field) through thresholdStats — stored bounds settle
    // entirely-out segments from metadata, straddling segments run one
    // kernel pass that binary-searches the monotone in-range run, and tag
    // groups where nothing qualifies are dropped like the gridded plan's
    // Filter would. No Generate in the executed plan.
    ("ts_sql_filtered_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, n, round(s, 4) AS s, mn, mx, round(a, 4) AS a " +
          "FROM (SELECT user, count(*) AS n, sum(value) AS s, " +
          "min(value) AS mn, max(value) AS mx, avg(value) AS a " +
          "FROM events_lossless WHERE value > 100.0 GROUP BY user) " +
          "ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS s,
        min(CAST(value AS FLOAT4)) AS mn,
        max(CAST(value AS FLOAT4)) AS mx,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS a
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 100.0
      GROUP BY 1 ORDER BY 1""")),

    // First/last exceedance through the SQL surface: min/max(ts) of the
    // rows passing a value predicate ride the same stats partials — each
    // segment contributes the timestamps of its earliest/latest
    // qualifying point (O(1) for regular segments once the in-range run
    // is located), so "when did this series first/last exceed X" costs
    // one metadata-dominated pass, no reconstruction.
    ("ts_sql_exceedance", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, min(ts) AS t0, max(ts) AS t1, count(*) AS n " +
          "FROM events_lossless WHERE value > 150.0 " +
          "GROUP BY user ORDER BY user")
        .select(col("user"), unix_micros(col("t0")).as("first_us"),
          unix_micros(col("t1")).as("last_us"), col("n"))
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
        CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
        CAST(count(*) AS BIGINT) AS n
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 150.0
      GROUP BY 1 ORDER BY 1""")),

    // Top-k series by an aggregate: the rewrite splices the per-tag
    // closed forms and Spark's TakeOrderedAndProject handles the ORDER
    // BY + LIMIT above them — a ranking over a million series costs the
    // metadata aggregation plus a k-row heap, never a full sort.
    ("ts_sql_topk_series", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, round(avg(value), 4) AS a, count(*) AS n " +
          "FROM events_lossless GROUP BY user " +
          "ORDER BY avg(value) DESC, user LIMIT 10")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS a,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
      ORDER BY avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)) DESC, 1
      LIMIT 10""")),

    // percentile_disc through the SQL surface: rank ceil(q*n) resolved by
    // the same exact-rank ladder, no interpolation — the oracle replays
    // the rank selection explicitly (window rank, not DuckDB's own
    // quantile_disc, whose convention differs).
    ("ts_sql_percentile_disc", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, CAST(percentile_disc(0.9) WITHIN GROUP " +
          "(ORDER BY value) AS FLOAT) AS d90 " +
          "FROM events_lossless GROUP BY user ORDER BY user")
    }, Some("""
      WITH s AS (SELECT user_id, CAST(value AS FLOAT4) AS v,
        row_number() OVER (PARTITION BY user_id
          ORDER BY CAST(value AS FLOAT4)) AS rn,
        count(*) OVER (PARTITION BY user_id) AS n FROM events)
      SELECT CAST(user_id AS VARCHAR) AS user, v AS d90
      FROM s WHERE rn = CAST(ceil(0.9 * n) AS BIGINT) ORDER BY 1""")),

    // count_if / any / every through the SQL surface: predicate-bearing
    // aggregates ride the FILTER machinery — count_if(p) is a filtered
    // count, any(p) is "count > 0", and every(p) complements the
    // interval ("nothing satisfies NOT p") — all from the same
    // metadata-dominated passes, no reconstruction.
    ("ts_sql_count_if", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, count_if(value > 100.0) AS n_hi, " +
          "any(value > 190.0) AS any_top, " +
          "every(value > 5.0) AS all_mid " +
          "FROM events_lossless GROUP BY user ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) FILTER (
          WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 100.0)
          AS BIGINT) AS n_hi,
        bool_or(CAST(CAST(value AS FLOAT4) AS DOUBLE) > 190.0) AS any_top,
        bool_and(CAST(CAST(value AS FLOAT4) AS DOUBLE) > 5.0) AS all_mid
      FROM events GROUP BY 1 ORDER BY 1""")),

    // The outlier band through the SQL surface: `v < a OR v > b` merges
    // into a disjoint interval union answered in ONE metadata-dominated
    // pass — segments inside the band (the vast majority) skip on stored
    // bounds alone, and each straddler binary-searches one run per
    // interval. The fixed-band outlier census at 100 TB.
    ("ts_sql_outlier_band", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, count(*) AS n_out, round(avg(value), 4) AS a_out " +
          "FROM events_lossless WHERE value < 20.0 OR value > 180.0 " +
          "GROUP BY user ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n_out,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS a_out
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) < 20.0
        OR CAST(CAST(value AS FLOAT4) AS DOUBLE) > 180.0
      GROUP BY 1 ORDER BY 1""")),

    // FILTER-clause aggregates: conditional and unconditional aggregates
    // in ONE query — `count(*) FILTER (WHERE v > x)` beside plain
    // count/avg — splice as one thresholdStats pass per distinct bound
    // joined with the unfiltered closed forms on the group keys. FILTER
    // semantics keep every group (0-count rows included), unlike a WHERE.
    ("ts_sql_filter_clause", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, count(*) AS n, " +
          "count(*) FILTER (WHERE value > 100.0) AS n_hi, " +
          "round(sum(value) FILTER (WHERE value <= 100.0), 4) AS s_lo, " +
          "round(avg(value), 4) AS a " +
          "FROM events_lossless GROUP BY user ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) FILTER (
          WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 100.0)
          AS BIGINT) AS n_hi,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)) FILTER (
          WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) <= 100.0), 4) AS s_lo,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS a
      FROM events GROUP BY 1 ORDER BY 1""")),

    // FILTER beside totals PER DAY — the dashboard query: total rows and
    // exceedances side by side per bucket. The unfiltered side rides the
    // bucketed closed forms, each FILTER bound its own per-bucket stats
    // pass, joined answer-sized on the day key.
    ("ts_sql_filter_daily", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT date_trunc('DAY', ts) AS day, count(*) AS n, " +
          "count(*) FILTER (WHERE value > 120.0) AS n_hi, " +
          "round(avg(value), 4) AS a FROM events_lossless " +
          "GROUP BY 1 ORDER BY 1")
        .select(unix_micros(col("day")).as("day_us"), col("n"),
          col("n_hi"), col("a"))
    }, Some("""
      SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) FILTER (
          WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 120.0)
          AS BIGINT) AS n_hi,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS a
      FROM events GROUP BY 1 ORDER BY 1""")),

    // The same per-bucket filtered stats through the window() spelling:
    // a tumbling window is a proven epoch-floor bucket, so the struct
    // rebuilds from the bucket start and the oracle is the day floor.
    ("ts_sql_window_exceedance", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT window.start AS ws, count(*) AS n, max(value) AS mx " +
          "FROM events_lossless WHERE value > 150.0 " +
          "GROUP BY window(ts, '1 day') ORDER BY ws")
        .select(unix_micros(col("ws")).as("ws_us"), col("n"), col("mx"))
    }, Some("""
      SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS ws_us,
        CAST(count(*) AS BIGINT) AS n,
        max(CAST(value AS FLOAT4)) AS mx
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 150.0
      GROUP BY 1 ORDER BY 1""")),

    // Exceedances per DAY through the SQL surface: date_trunc + value
    // predicate splice into per-bucket filtered stats — bucket-contained
    // segments contribute one unclipped partial, straddlers explode into
    // their (usually 2) overlapped buckets with O(1) window clips, and
    // days where nothing qualifies vanish exactly like the gridded
    // plan's. The daily-SLA dashboard query at 100 TB: one shuffle of
    // six-scalar partials on (day), no reconstruction.
    ("ts_sql_exceedance_daily", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT date_trunc('DAY', ts) AS day, count(*) AS n, " +
          "round(sum(value), 4) AS s FROM events_lossless " +
          "WHERE value > 120.0 GROUP BY 1 ORDER BY 1")
        .select(unix_micros(col("day")).as("day_us"), col("n"), col("s"))
    }, Some("""
      SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
        CAST(count(*) AS BIGINT) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS s
      FROM events WHERE CAST(CAST(value AS FLOAT4) AS DOUBLE) > 120.0
      GROUP BY 1 ORDER BY 1""")),

    // Per-series argmax: WHEN each series hit its maximum (earliest such
    // timestamp — deterministic, unlike SQL max_by). Two segment-native
    // passes: the extreme from stored min/max metadata, then the
    // per-group target broadcast back onto the segment relation where
    // only segments whose bounds can contain it run the equality kernel.
    ("ts_argmax", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.argExtremum("events_lossless", "value", "max", Seq("user"))
        .select(col("user"), col("max_value").as("vmax"),
          unix_micros(col("max_ts_value")).as("ts_us"))
        .orderBy("user")
    }, Some("""
      WITH m AS (SELECT user_id, max(CAST(value AS FLOAT4)) AS mx
        FROM events GROUP BY 1)
      SELECT CAST(e.user_id AS VARCHAR) AS user, min(m.mx) AS vmax,
        CAST(min(epoch_us(e.ts)) AS BIGINT) AS ts_us
      FROM events e JOIN m ON e.user_id = m.user_id
        AND CAST(e.value AS FLOAT4) = m.mx
      GROUP BY 1 ORDER BY 1""")),

    // The histogram through the SQL surface: the Catalyst rewrite
    // recognizes `GROUP BY floor((value - o) / w)` + row counts and
    // splices the segment-native histogram plan (single-bin segments
    // decided from stored bounds contribute metadata-only; stragglers run
    // the monotone bin-run kernel) in Spark-floor semantics, so the
    // splice is bit-identical to the gridded Aggregate on any data.
    ("ts_sql_histogram", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql("SELECT user, floor((value - 0.0) / 50.0) AS bin, " +
        "count(*) AS n FROM events_lossless " +
        "GROUP BY user, floor((value - 0.0) / 50.0) ORDER BY user, bin")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(floor((CAST(CAST(value AS FLOAT4) AS DOUBLE) - 0.0) / 50.0)
          AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Per-series outlier screen: each user's values counted against that
    // user's OWN μ ± 3σ band — the statistics come from the segment-native
    // variance closed forms, the bounds broadcast-join back onto the
    // segment relation (never collected to the driver), and the counts
    // ride the dynamic-bounds kernel with the same metadata fast paths.
    // Bounds round to 2 decimals so both engines compare against the
    // bit-identical band despite f64 summation-order drift in μ/σ.
    ("ts_outliers", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val stats = engine.readTimeSeriesTableMulti("events_lossless",
        Seq("value"), Seq(engine.Aggregate.Avg, engine.Aggregate.StdPop),
        Seq("user"))
      val bounds = stats.select(col("user"),
        round(col("avg_value") - lit(3.0) * col("stddev_pop_value"), 2)
          .as("lower"),
        round(col("avg_value") + lit(3.0) * col("stddev_pop_value"), 2)
          .as("upper"))
      engine.thresholdCountBy("events_lossless", "value", bounds)
        .select(col("user"),
          (col("count_value") - col("count_in_value")).as("n_out"),
          col("count_value").as("n"))
        .orderBy("user")
    }, Some("""
      WITH pts AS (SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(CAST(value AS FLOAT4) AS DOUBLE) AS v FROM events),
      st AS (SELECT user,
        round(avg(v) - 3.0 * stddev_pop(v), 2) AS lo,
        round(avg(v) + 3.0 * stddev_pop(v), 2) AS hi
        FROM pts GROUP BY 1)
      SELECT p.user,
        CAST(count(*) FILTER (WHERE NOT (p.v > st.lo AND p.v <= st.hi))
          AS BIGINT) AS n_out,
        CAST(count(*) AS BIGINT) AS n
      FROM pts p JOIN st ON p.user = st.user
      GROUP BY 1 ORDER BY 1""")),

    // Per-series least-squares trend + value↔time correlation from
    // one-decode-pass segment partials (n, Σt', Σt'², Σv, Σv², Σv·t'
    // with timestamps centered on the table's first point): the point
    // stream never materializes, the aggregation merges six doubles per
    // segment. The oracle replays the same centered sums and closed
    // forms; outputs round to 4 decimals to absorb f64 summation-order
    // drift between engines.
    ("ts_trend", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.trendStats("events_lossless", "value", groupByTags = Seq("user"))
        .select(col("user"), col("n_value").as("n"),
          round(col("slope_per_day_value"), 4).as("slope_day"),
          round(col("intercept_value"), 3).as("icept"),
          round(col("corr_value"), 4).as("cor"))
        .orderBy("user")
    }, Some("""
      WITH pts AS (
        SELECT CAST(user_id AS VARCHAR) AS user,
          CAST(epoch_us(ts) - (SELECT min(epoch_us(ts)) FROM events)
            AS DOUBLE) AS tc,
          CAST(CAST(value AS FLOAT4) AS DOUBLE) AS v
        FROM events),
      g AS (
        SELECT user, count(*) AS n, sum(tc) AS s1, sum(tc * tc) AS s2,
          sum(v) AS sv, sum(v * v) AS svv, sum(v * tc) AS svt
        FROM pts GROUP BY 1)
      SELECT user, CAST(n AS BIGINT) AS n,
        round((n * svt - s1 * sv) / (n * s2 - s1 * s1)
          * 86400000000.0, 4) AS slope_day,
        round((sv - (n * svt - s1 * sv) / (n * s2 - s1 * s1) * s1) / n,
          3) AS icept,
        round((n * svt - s1 * sv) /
          sqrt((n * s2 - s1 * s1) * (n * svv - sv * sv)), 4) AS cor
      FROM g ORDER BY user""")),

    // Per-series EWMA smoothing at the BUCKET grain: daily means come
    // from the segment-native bucketed plan (no point stream), the EWMA
    // is a bounded 6-bucket truncated exponential kernel over the tiny
    // mean frame — one window shuffle over series×buckets rows. α = 0.5
    // makes every weight an exact binary fraction, so both engines
    // evaluate the identical finite expression; round(4) absorbs the
    // bucket means' f64 summation-order drift.
    ("ts_ewma", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.ewmaSmooth("events_lossless", "value",
          java.time.Duration.ofDays(1), alpha = 0.5, lookback = 6,
          groupByTags = Seq("user"))
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          round(col("ewma_value"), 4).as("ewma"))
        .orderBy("user", "bucket_us")
    }, Some("""
      WITH m AS (
        SELECT CAST(user_id AS VARCHAR) AS user,
          CAST(epoch_us(ts) AS BIGINT)
            - CAST(epoch_us(ts) AS BIGINT) % 86400000000 AS bucket_us,
          sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)) / count(*) AS a
        FROM events GROUP BY 1, 2),
      l AS (
        SELECT user, bucket_us, a,
          lag(a, 1) OVER w AS a1, lag(a, 2) OVER w AS a2,
          lag(a, 3) OVER w AS a3, lag(a, 4) OVER w AS a4,
          lag(a, 5) OVER w AS a5
        FROM m WINDOW w AS (PARTITION BY user ORDER BY bucket_us))
      SELECT user, bucket_us, round(
        (a * 0.5
          + CASE WHEN a1 IS NOT NULL THEN a1 * 0.25 ELSE 0.0 END
          + CASE WHEN a2 IS NOT NULL THEN a2 * 0.125 ELSE 0.0 END
          + CASE WHEN a3 IS NOT NULL THEN a3 * 0.0625 ELSE 0.0 END
          + CASE WHEN a4 IS NOT NULL THEN a4 * 0.03125 ELSE 0.0 END
          + CASE WHEN a5 IS NOT NULL THEN a5 * 0.015625 ELSE 0.0 END)
        / (0.5
          + CASE WHEN a1 IS NOT NULL THEN 0.25 ELSE 0.0 END
          + CASE WHEN a2 IS NOT NULL THEN 0.125 ELSE 0.0 END
          + CASE WHEN a3 IS NOT NULL THEN 0.0625 ELSE 0.0 END
          + CASE WHEN a4 IS NOT NULL THEN 0.03125 ELSE 0.0 END
          + CASE WHEN a5 IS NOT NULL THEN 0.015625 ELSE 0.0 END), 4)
        AS ewma
      FROM l ORDER BY user, bucket_us""")),

    // Per-series hour-of-day seasonal profile: points bucket at the HOUR
    // grain through the segment-native plan, then the tiny bucket frame
    // regroups by (bucket/grain) mod 24 — counts/sums add exactly and
    // min/max nest exactly, so the two-level result is identical to
    // grouping raw points by hour-of-day while reading the segment
    // relation for almost all data.
    ("ts_seasonal", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.seasonalProfile("events_lossless", "value",
          java.time.Duration.ofHours(1), 24, Seq("user"))
        .select(col("user"), col("phase"), col("count_value").as("n"),
          round(col("sum_value"), 2).as("sum_v"), col("min_value").as("mn"),
          col("max_value").as("mx"), round(col("avg_value"), 4).as("avg_v"))
        .orderBy("user", "phase")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        (CAST(epoch_us(ts) AS BIGINT) // 3600000000) % 24 AS phase,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)) / count(*), 4)
          AS avg_v
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The seasonal profile through the SQL surface: the rewrite
    // recognizes hour(ts) (and minute/second/dayofweek/weekday) under the
    // UTC session as a phase grouping and splices the seasonalProfile
    // plan — grain buckets from segment closed forms, phase fold over the
    // tiny bucket frame. Rounding sits OUTSIDE the aggregate subquery so
    // the inner Aggregate stays match-eligible.
    ("ts_sql_seasonal", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, h, n, round(sum_v, 2) AS sum_v, " +
          "round(avg_v, 4) AS avg_v FROM (" +
          "SELECT user, hour(ts) AS h, count(*) AS n, sum(value) AS sum_v, " +
          "avg(value) AS avg_v FROM events_lossless " +
          "GROUP BY user, hour(ts)) ORDER BY user, h")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST((CAST(epoch_us(ts) AS BIGINT) // 3600000000) % 24 AS INTEGER)
          AS h,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS avg_v
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Cross-series correlation screen over a deterministic 10% panel
    // (numeric user tag ≡ 0 mod 10): bucket means are segment-native and
    // BROADCAST to pair against themselves — pairs are generated
    // partition-locally and reduced by partial aggregation, the points
    // never join. The dense matrix is O(S²) by definition; the panel is
    // how any correlation screen bounds S. Explicit closed-form corr so
    // DuckDB replays the identical arithmetic.
    ("ts_corr_pairs", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      // The mod-10 panel predicate runs INSIDE the frame, so only the
      // selected 10% of distinct tags ever reaches the driver — the
      // collect is bounded by the panel size (the correlation output is
      // O(panel^2) anyway), not the series count.
      val panel = engine.dataFolder.segments("events_lossless")
        .select(col("user")).distinct()
        .where(col("user").cast("long") % 10 === 0)
        .collect().map(_.getString(0)).toSeq.sorted
      engine.correlationMatrix("events_lossless", "value",
          java.time.Duration.ofDays(1), "user", minOverlap = 5,
          tagInFilters = Map("user" -> panel))
        .select(col("tag_1").as("u1"), col("tag_2").as("u2"),
          col("n_buckets").as("n"), round(col("corr_value"), 4).as("cor"))
        .orderBy("u1", "u2")
    }, Some("""
      WITH m AS (
        SELECT CAST(user_id AS VARCHAR) AS u,
          CAST(epoch_us(ts) AS BIGINT)
            - CAST(epoch_us(ts) AS BIGINT) % 86400000000 AS b,
          sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)) / count(*) AS a
        FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
      p AS (
        SELECT m1.u AS u1, m2.u AS u2, count(*) AS n,
          sum(m1.a) AS sx, sum(m2.a) AS sy, sum(m1.a * m1.a) AS sxx,
          sum(m2.a * m2.a) AS syy, sum(m1.a * m2.a) AS sxy
        FROM m m1 JOIN m m2 ON m1.b = m2.b AND m1.u < m2.u
        GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT u1, u2, n,
        round((n * sxy - sx * sy)
          / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS cor
      FROM p ORDER BY u1, u2""")),

    // EXACT quantiles from compressed segments — no decode, no sort:
    // result q over n values = the k-th smallest under the SQL total
    // order (k = ceil(q·n)), located by the exact-rank ladder with the
    // whole table as one group: a float-key bisection whose probes are
    // segment threshold counts, mostly answered from stored bounds, in a
    // job count independent of data volume (where SQL percentile() sorts
    // the whole column). The oracle replays the k-th-smallest definition
    // with row_number.
    ("ts_quantile", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.exactQuantiles("events_lossless", "value",
          Seq(0.25, 0.5, 0.9, 0.99))
        .select(col("q"), col("q_value").as("v")).orderBy("q")
    }, Some("""
      WITH pts AS (SELECT CAST(value AS FLOAT4) AS v FROM events),
      s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        count(*) OVER () AS n FROM pts)
      SELECT CAST(t.q AS DOUBLE) AS q, s.v
      FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q)
      JOIN s ON s.rn = CAST(ceil(t.q * s.n) AS BIGINT)
      ORDER BY q""")),

    // PER-SERIES exact quantiles — every user's true median and p90 with
    // no decode, no sort, no point shuffle (Spark's exact percentile
    // sorts every group). The same ladder as ts_quantile (census,
    // bisection rounds, verification), every job answering ALL series at
    // once: per-group probe arrays join onto the segment relation and one
    // dynamic multi-threshold kernel traversal per segment answers its
    // group's probes — the job count is independent of data volume AND
    // group count.
    ("ts_quantile_by", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.exactQuantiles("events_lossless", "value", Seq(0.5, 0.9),
          Seq("user"))
        .select(col("user"), col("q"), col("q_value").as("v"))
        .orderBy("user", "q")
    }, Some("""
      WITH s AS (
        SELECT CAST(user_id AS VARCHAR) AS user, CAST(value AS FLOAT4) AS v,
          row_number() OVER (PARTITION BY user_id
            ORDER BY CAST(value AS FLOAT4)) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n
        FROM events)
      SELECT s.user, CAST(t.q AS DOUBLE) AS q, s.v
      FROM (VALUES (0.5), (0.9)) t(q)
      JOIN s ON s.rn = CAST(ceil(t.q * s.n) AS BIGINT)
      ORDER BY user, q""")),

    // Spark's own median()/percentile() through the SQL surface: the
    // rewrite resolves the two bracketing order statistics per group
    // with the exact-rank ladder (no sort, no decode) and replays
    // Percentile's interpolation arithmetic bit-for-bit. The oracle is
    // DuckDB's continuous quantile — the same q·(n−1) interpolation.
    ("ts_sql_median", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, round(med, 4) AS med, round(p90, 4) AS p90 FROM (" +
          "SELECT user, median(value) AS med, " +
          "percentile(value, 0.9) AS p90 FROM events_lossless " +
          "GROUP BY user) ORDER BY user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.5), 4)
          AS med,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.9), 4)
          AS p90
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Time-RANGED grouped median over a NARROW (2 h) window: most series
    // have a segment overlapping the window but zero points inside it —
    // the census sees n = 0 for those groups and the splice must drop
    // them exactly as the gridded GROUP BY would (regression for the
    // n=0-group NoSuchElementException in the percentile splice). Only
    // the handful of series with an in-window point appear.
    ("ts_sql_median_ranged", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      val nLo = lo + (hi - lo) / 2
      val nHi = nLo + 7200000000L
      engine.sql(
        s"SELECT user, round(med, 4) AS med FROM (" +
          s"SELECT user, median(value) AS med FROM events_lossless " +
          s"WHERE ts >= TIMESTAMP '${fmtTs(nLo)}' " +
          s"AND ts <= TIMESTAMP '${fmtTs(nHi)}' " +
          s"GROUP BY user) ORDER BY user")
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0
        FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo,
        lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b),
      r2 AS (SELECT lo + (hi - lo) // 2 AS nlo FROM r)
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.5), 4)
          AS med
      FROM events, r2
      WHERE epoch_us(ts) >= nlo AND epoch_us(ts) <= nlo + 7200000000
      GROUP BY 1 ORDER BY 1""")),

    // LTTB visualization downsample (parallel variant): one point per
    // series per day, maximizing the triangle area against the neighbor
    // buckets' bounding-box centers — the anchors come from the
    // segment-native bucketed plan (no decode), points take one window
    // shuffle, and endpoint buckets pin the series' first/last point.
    // The oracle replays the whole selection (anchors, lag/lead, area
    // arithmetic, rank tie-breaks) over the raw events.
    ("ts_lttb", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.lttbDownsample("events_lossless", "value",
          java.time.Duration.ofDays(1))
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          unix_micros(col("ts")).as("sel_us"), col("value").as("sel_v"))
        .orderBy("user", "bucket_us")
    }, Some("""
      WITH pts AS (
        SELECT CAST(user_id AS VARCHAR) AS user,
          CAST(epoch_us(ts) AS BIGINT) AS t, CAST(value AS FLOAT4) AS v,
          CAST(epoch_us(ts) - epoch_us(ts) % 86400000000 AS BIGINT) AS b
        FROM events),
      anch AS (
        SELECT user, b,
          (CAST(min(t) AS DOUBLE) + CAST(max(t) AS DOUBLE)) / 2 AS cx,
          (CAST(min(v) AS DOUBLE) + CAST(max(v) AS DOUBLE)) / 2 AS cy
        FROM pts GROUP BY 1, 2),
      ctx AS (
        SELECT user, b,
          lag(cx) OVER w AS px, lag(cy) OVER w AS py,
          lead(cx) OVER w AS nx, lead(cy) OVER w AS ny
        FROM anch WINDOW w AS (PARTITION BY user ORDER BY b)),
      scored AS (
        SELECT p.user, p.b, p.t, p.v,
          CASE WHEN c.px IS NULL THEN -CAST(p.t - p.b AS DOUBLE)
               WHEN c.nx IS NULL THEN CAST(p.t - p.b AS DOUBLE)
               ELSE abs((c.px - c.nx) * (CAST(p.v AS DOUBLE) - c.py) -
                 (c.px - CAST(p.t AS DOUBLE)) * (c.ny - c.py)) END AS score
        FROM pts p JOIN ctx c ON p.user = c.user AND p.b = c.b),
      sel AS (
        SELECT user, b, t, v, row_number() OVER
          (PARTITION BY user, b ORDER BY score DESC, t ASC, v ASC) AS rn
        FROM scored)
      SELECT user, b AS bucket_us, t AS sel_us, v AS sel_v
      FROM sel WHERE rn = 1 ORDER BY user, bucket_us""")),

    // FIRST/LAST value by time per series — min_by/max_by(value, ts)
    // answered from segment metadata: the winner is the segment with the
    // extreme time bound, and only edge values decode (a struct kernel,
    // one pass). The reference has no first/last closed form at all.
    ("ts_first_last", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, min_by(value, ts) AS first_v, max_by(value, ts) AS last_v, " +
          "min(ts) AS first_ts, max(ts) AS last_ts " +
          "FROM events_lossless GROUP BY user")
        .select(col("user"), col("first_v"), col("last_v"),
          unix_micros(col("first_ts")).as("first_us"),
          unix_micros(col("last_ts")).as("last_us"))
        .orderBy("user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        arg_min(CAST(value AS FLOAT4), epoch_us(ts)) AS first_v,
        arg_max(CAST(value AS FLOAT4), epoch_us(ts)) AS last_v,
        CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
        CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
      FROM events GROUP BY 1 ORDER BY 1""")),

    // M4 visualization downsample (Jugel et al., VLDB 2014): per series
    // and pixel bucket, the (min, max, first, last) tuple that renders a
    // line chart without error. First/Last ride the new edge partials —
    // bucket-contained segments decode only their two edge points
    // (SegmentEdgeValues), straddlers carry in-bucket edges beside the
    // other partials; min_by/max_by on (tmin, tmax) merges. The oracle
    // replays arg_min/arg_max(value, ts) per bucket over the raw events.
    ("ts_m4", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableBucketed("events_lossless",
          java.time.Duration.ofDays(1), Seq("value"),
          Seq(engine.Aggregate.Min, engine.Aggregate.Max,
            engine.Aggregate.First, engine.Aggregate.Last),
          groupByTags = Seq("user"))
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          col("min_value").as("mn"), col("max_value").as("mx"),
          col("first_value").as("first_v"), col("last_value").as("last_v"))
        .orderBy("user", "bucket_us")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(epoch_us(ts) AS BIGINT)
          - CAST(epoch_us(ts) AS BIGINT) % 86400000000 AS bucket_us,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx,
        arg_min(CAST(value AS FLOAT4), epoch_us(ts)) AS first_v,
        arg_max(CAST(value AS FLOAT4), epoch_us(ts)) AS last_v
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The same family under a literal time range: the hybrid plan — Σv²
    // partials from interior closed forms plus boundary decode rows.
    ("ts_variance_range", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      engine.sql(
        s"SELECT var_samp(value) AS vs, stddev_pop(value) AS sp, " +
          s"count(value) AS n FROM events_lossless " +
          s"WHERE ts >= TIMESTAMP '${fmtTs(lo)}' AND ts <= TIMESTAMP '${fmtTs(hi)}'")
        .select(round(col("vs"), 4).as("var_s"), round(col("sp"), 4).as("std_p"),
          col("n"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT round(var_samp(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS var_s,
        round(stddev_pop(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS std_p,
        count(*) AS n
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // The same downsampling expressed as PLAIN SQL: the Catalyst rewrite
    // recognizes the UTC date_trunc grouping and routes it through the
    // bucketed hybrid plan.
    ("ts_sql_bucket_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, date_trunc('DAY', ts) AS day_ts, count(value) AS n, " +
          "sum(value) AS sv, min(value) AS mn, max(value) AS mx " +
          "FROM events_lossless GROUP BY user, date_trunc('DAY', ts)")
        .select(col("user"), unix_micros(col("day_ts")).as("bucket_us"),
          col("n"), round(col("sv"), 2).as("sum_v"), col("mn"), col("mx"))
        .orderBy("user", "bucket_us")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS bucket_us,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Tumbling-window downsampling through Spark's canonical GROUP BY
    // window(ts, ...): the analyzer's window-struct projection is proven
    // equivalent to epoch-floor bucketing and routed through the same
    // bucketed hybrid plan (bucket-contained segments answer from closed
    // forms); window.start is the bucket, window.end one width later.
    ("ts_sql_window_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT window.start AS h_ts, user, count(value) AS n, " +
          "sum(value) AS sv, max(value) AS mx " +
          "FROM events_lossless GROUP BY window(ts, '6 hours'), user")
        .select(unix_micros(col("h_ts")).as("bucket_us"), col("user"),
          col("n"), round(col("sv"), 2).as("sum_v"), col("mx"))
        .orderBy("bucket_us", "user")
    }, Some("""
      SELECT CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT)
          AS bucket_us,
        CAST(user_id AS VARCHAR) AS user,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        max(CAST(value AS FLOAT4)) AS mx
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Calendar-truncation downsampling: WEEK is not epoch-aligned, so the
    // fixed-width pmod plan cannot answer it — the rewrite routes through
    // the calendar hybrid plan (TruncTimestamp buckets segment bounds and
    // points identically; week-contained segments answer from closed
    // forms). Both Spark and DuckDB truncate weeks to Monday.
    ("ts_sql_week_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, date_trunc('WEEK', ts) AS wk_ts, count(value) AS n, " +
          "sum(value) AS sv, min(value) AS mn, max(value) AS mx " +
          "FROM events_lossless GROUP BY user, date_trunc('WEEK', ts)")
        .select(col("user"), unix_micros(col("wk_ts")).as("bucket_us"),
          col("n"), round(col("sv"), 2).as("sum_v"), col("mn"), col("mx"))
        .orderBy("user", "bucket_us")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(epoch_us(date_trunc('week', ts)) AS BIGINT) AS bucket_us,
        count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Resampling with gap fill: each user's daily-bucket axis densified
    // between its first and last observed day, empty buckets filled by
    // last-observation-carried-forward. The downsampling underneath still
    // answers from segment closed forms; densification generates rows
    // proportional to the OUTPUT, never to the points.
    ("ts_resample_locf", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableResampled("events_lossless",
          java.time.Duration.ofDays(1), Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Avg),
          groupByTags = Seq("user"), fill = engine.FillPolicy.Locf)
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          col("count_value").as("n"), round(col("avg_value"), 4).as("avg_v"))
        .orderBy("user", "bucket_us")
    }, Some("""
      WITH agg AS (
        SELECT CAST(user_id AS VARCHAR) AS u,
          CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS b,
          count(*) AS n,
          avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)) AS a
        FROM events GROUP BY 1, 2),
      spans AS (SELECT u, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1),
      grid AS (
        SELECT u, unnest(generate_series(lo, hi, 86400000000)) AS b
        FROM spans)
      SELECT g.u AS user, g.b AS bucket_us,
        CAST(last_value(a.n IGNORE NULLS) OVER w AS BIGINT) AS n,
        round(last_value(a.a IGNORE NULLS) OVER w, 4) AS avg_v
      FROM grid g LEFT JOIN agg a ON a.u = g.u AND a.b = g.b
      WINDOW w AS (PARTITION BY g.u ORDER BY g.b
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY 1, 2""")),

    // Resampling with LINEAR INTERPOLATION: empty 6h buckets get floating
    // aggregates interpolated between the surrounding observed buckets,
    // weighted by bucket distance; integral counts stay NULL (coalesced to
    // 0 here — an empty bucket truly has zero points). The oracle replays
    // the exact prev/next-observation windows and the interpolation
    // arithmetic in DuckDB.
    ("ts_resample_interp", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableResampled("events_lossless",
          java.time.Duration.ofHours(6), Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Avg, engine.Aggregate.Min),
          groupByTags = Seq("user"), fill = engine.FillPolicy.Interp)
        .select(col("user"), unix_micros(col("bucket")).as("bucket_us"),
          coalesce(col("count_value"), lit(0L)).as("n"),
          round(col("avg_value"), 4).as("avg_v"),
          round(col("min_value").cast("double"), 4).as("min_v"))
        .orderBy("user", "bucket_us")
    }, Some("""
      WITH agg AS (
        SELECT CAST(user_id AS VARCHAR) AS u,
          CAST(epoch_us(ts) - epoch_us(ts) % 21600000000 AS BIGINT) AS b,
          count(*) AS n,
          avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)) AS a,
          CAST(min(CAST(value AS FLOAT4)) AS DOUBLE) AS mn
        FROM events GROUP BY 1, 2),
      spans AS (SELECT u, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1),
      grid AS (
        SELECT u, unnest(generate_series(lo, hi, 21600000000)) AS b
        FROM spans),
      f AS (
        SELECT g.u, g.b, a.n, a.a, a.mn,
          last_value(a.a IGNORE NULLS) OVER wp AS pa,
          first_value(a.a IGNORE NULLS) OVER wn AS na,
          last_value(a.mn IGNORE NULLS) OVER wp AS pm,
          first_value(a.mn IGNORE NULLS) OVER wn AS nm,
          last_value(CASE WHEN a.a IS NOT NULL THEN g.b END IGNORE NULLS)
            OVER wp AS pb,
          first_value(CASE WHEN a.a IS NOT NULL THEN g.b END IGNORE NULLS)
            OVER wn AS nb
        FROM grid g LEFT JOIN agg a ON a.u = g.u AND a.b = g.b
        WINDOW wp AS (PARTITION BY g.u ORDER BY g.b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY g.u ORDER BY g.b
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT u AS user, b AS bucket_us, CAST(coalesce(n, 0) AS BIGINT) AS n,
        round(coalesce(a, pa + (na - pa) * (b - pb) / (nb - pb)), 4) AS avg_v,
        round(CAST(CAST(coalesce(mn, pm + (nm - pm) * (b - pb) / (nb - pb))
          AS FLOAT4) AS DOUBLE), 4) AS min_v
      FROM f ORDER BY 1, 2""")),

    // The same ranged aggregate expressed as PLAIN SQL with literal
    // timestamp bounds: the Catalyst rewrite routes it through the hybrid
    // plan (interior segments from metadata, boundary segments gridded) —
    // beyond the reference, which disables its rewrite under any filter.
    ("ts_sql_range_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      engine.sql(
        s"SELECT count(value) AS n, sum(value) AS s, min(value) AS mn, " +
          s"max(value) AS mx FROM events_lossless " +
          s"WHERE ts >= TIMESTAMP '${fmtTs(lo)}' AND ts <= TIMESTAMP '${fmtTs(hi)}'")
        .select(col("n"), round(col("s"), 2).as("sum_v"), col("mn"), col("mx"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // Tag IN-list AND time range in plain SQL: the Catalyst rewrite keeps
    // the IN-list as a segment-relation prune and routes the range through
    // the hybrid interior/boundary plan — no full reconstruction.
    ("ts_sql_in_range_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      engine.sql(
        s"SELECT count(value) AS n, sum(value) AS s, min(value) AS mn, " +
          s"max(value) AS mx FROM events_lossless " +
          s"WHERE user IN ('3', '57', '101') " +
          s"AND ts >= TIMESTAMP '${fmtTs(lo)}' AND ts <= TIMESTAMP '${fmtTs(hi)}'")
        .select(col("n"), round(col("s"), 2).as("sum_v"), col("mn"), col("mx"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT count(*) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_v,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events, r
      WHERE CAST(user_id AS VARCHAR) IN ('3', '57', '101')
        AND epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // Per-tag aggregates straight from segment metadata (tags denormalized):
    // one grouped segment scan answers all three kinds — no joins.
    ("ts_tag_stats", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTableMulti("events_lossless", Seq("value"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Min, engine.Aggregate.Max),
          groupByTags = Seq("user"))
        .select(col("user"), col("count_value").as("n"),
          col("min_value").as("mn"), col("max_value").as("mx"))
        .orderBy("user")
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user, count(*) AS n,
        min(CAST(value AS FLOAT4)) AS mn, max(CAST(value AS FLOAT4)) AS mx
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Tag-selective aggregate — the dominant TSDB access pattern (`WHERE
    // tag = value`): manifest tag bounds skip every file whose per-file
    // [min, max] tag range cannot hold the requested users, so over the
    // tag-sorted layout the scan opens O(files holding those series).
    // Count + sum(len-weighted) shapes verify both the equality and
    // IN-list skip paths against the raw events.
    ("ts_tag_filter_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val eq = engine.readTimeSeriesTable("events_lossless", Seq("value"),
        engine.Aggregate.Count, tagFilters = Map("user" -> "7"))
        .select(col("count_value").as("n_eq"))
      val in = engine.readTimeSeriesTable("events_lossless", Seq("value"),
        engine.Aggregate.Count,
        tagInFilters = Map("user" -> Seq("3", "55", "107")))
        .select(col("count_value").as("n_in"))
      eq.crossJoin(in)
    }, Some("""
      SELECT
        (SELECT count(*) FROM events WHERE CAST(user_id AS VARCHAR) = '7')
          AS n_eq,
        (SELECT count(*) FROM events
         WHERE CAST(user_id AS VARCHAR) IN ('3', '55', '107')) AS n_in""")),

    // Per-series time extent through plain SQL: min/max(ts) answered from
    // start_time/end_time metadata, count(ts) from segment lengths — the
    // whole query is metadata-only (no reconstruction), and the ORDER BY
    // above the aggregate rides the plan splice.
    ("ts_extent", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, MIN(ts) AS t0, MAX(ts) AS t1, COUNT(ts) AS n " +
          "FROM events_lossless GROUP BY user ORDER BY user")
        .select(col("user"), unix_micros(col("t0")).as("t0_us"),
          unix_micros(col("t1")).as("t1_us"), col("n"))
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(min(epoch_us(ts)) AS BIGINT) AS t0_us,
        CAST(max(epoch_us(ts)) AS BIGINT) AS t1_us,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Time extent RESTRICTED to a range — first/last event inside a
    // window, the "what data do we actually have here" dashboard probe.
    // Interior segments answer from their bounds, boundary segments from
    // the decode generator's timestamp partials; points never materialize
    // (plan-asserted in SqlSurfaceSpec).
    ("ts_extent_range", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      engine.sql(
        s"SELECT MIN(ts) AS t0, MAX(ts) AS t1, COUNT(value) AS n " +
          s"FROM events_lossless " +
          s"WHERE ts >= TIMESTAMP '${fmtTs(lo)}' AND ts <= TIMESTAMP '${fmtTs(hi)}'")
        .select(unix_micros(col("t0")).as("t0_us"),
          unix_micros(col("t1")).as("t1_us"), col("n"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS t0_us,
        CAST(max(epoch_us(ts)) AS BIGINT) AS t1_us,
        CAST(count(*) AS BIGINT) AS n
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // Per-bucket first/last observation: min/max(ts) under a date_trunc
    // grouping rides the bucketed hybrid plan's timestamp partials
    // instead of reconstructing — the reference's rewrite refuses any
    // GROUP BY at all (model_simple_aggregates.rs:209-250).
    ("ts_extent_bucket", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT date_trunc('DAY', ts) AS day_ts, MIN(ts) AS t0, " +
          "MAX(ts) AS t1, COUNT(value) AS n " +
          "FROM events_lossless GROUP BY date_trunc('DAY', ts)")
        .select(unix_micros(col("day_ts")).as("bucket_us"),
          unix_micros(col("t0")).as("t0_us"),
          unix_micros(col("t1")).as("t1_us"), col("n"))
        .orderBy("bucket_us")
    }, Some("""
      SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS bucket_us,
        CAST(min(epoch_us(ts)) AS BIGINT) AS t0_us,
        CAST(max(epoch_us(ts)) AS BIGINT) AS t1_us,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1 ORDER BY 1""")),

    // Aggregates of LINEAR expressions of a field fold onto the base
    // field's closed forms: sum(a*f+b) = a*sum + b*count, min/max re-apply
    // the original ops to the base extreme (negative scale flips the
    // direction) — all metadata-only; the reference's rewrite matches bare
    // columns exclusively. Scales are powers of two so float (DuckDB) and
    // double (Spark) evaluation round identically on the exact columns.
    ("ts_linear_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT COUNT(value / 2) AS n, SUM(value * 2 + 1) AS sv, " +
          "MIN(value * -4) AS mn, MAX(value / 2) AS mx, " +
          "AVG(value * 0.5) AS av FROM events_lossless")
        .select(col("n"), round(col("sv"), 2).as("sum_v"),
          col("mn"), col("mx"), round(col("av"), 4).as("av"))
    }, Some("""
      SELECT CAST(count(*) AS BIGINT) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE) * 2 + 1), 2) AS sum_v,
        CAST(min(CAST(value AS FLOAT4) * -4) AS DOUBLE) AS mn,
        CAST(max(CAST(value AS FLOAT4) / 2) AS DOUBLE) AS mx,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE) * 0.5), 4) AS av
      FROM events""")),

    // The same fold through a GENERATED column (vf = value * 0.5 - 8.0,
    // computed at query time, never stored): the rewrite re-analyzes the
    // generated expression, proves it linear over the stored field, and
    // answers from that field's segment metadata.
    ("ts_generated_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT user, MIN(vf) AS mn, MAX(vf) AS mx, COUNT(vf) AS n, " +
          "SUM(vf) AS sv FROM events_multi GROUP BY user ORDER BY user")
        .select(col("user"), col("mn"), col("mx"), col("n"),
          round(col("sv"), 2).as("sum_v"))
    }, Some("""
      SELECT CAST(user_id AS VARCHAR) AS user,
        min(CAST(value AS FLOAT4) * 0.5 - 8.0) AS mn,
        max(CAST(value AS FLOAT4) * 0.5 - 8.0) AS mx,
        CAST(count(*) AS BIGINT) AS n,
        round(sum(CAST(CAST(CAST(value AS FLOAT4) * 0.5 - 8.0 AS FLOAT4) AS DOUBLE)), 2)
          AS sum_v
      FROM events GROUP BY 1 ORDER BY 1""")),

    // COUNT(DISTINCT tag) straight off the denormalized segment relation
    // — exact (every tag combination with ≥1 point has ≥1 segment row),
    // metadata-only, mixed with plain closed-form aggregates in one scan.
    // The reference's rewrite refuses DISTINCT entirely.
    ("ts_count_distinct", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql(
        "SELECT COUNT(DISTINCT user) AS u, COUNT(value) AS n, " +
          "MAX(value) AS mx FROM events_lossless")
    }, Some("""
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u,
        CAST(count(*) AS BIGINT) AS n,
        max(CAST(value AS FLOAT4)) AS mx
      FROM events""")),

    // Multivariate reconstruction: two stored fields reassembled by
    // (tags, timestamp) in one conditional-aggregation shuffle.
    ("ts_multifield_roundtrip", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTable("events_multi")
        .select(unix_micros(col("ts")).as("ts_us"), col("value"), col("value2"),
          col("user"))
        .orderBy("user", "ts_us")
    }, Some("""
      SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        CAST(value AS FLOAT4) AS value,
        CAST(value AS FLOAT4) * CAST(2 AS FLOAT4) AS value2,
        CAST(user_id AS VARCHAR) AS user
      FROM events ORDER BY user, ts_us""")),

    // Segment-native AVG across both fields of a multivariate table.
    ("ts_multifield_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.readTimeSeriesTable("events_multi", Seq("value", "value2"),
          engine.Aggregate.Avg)
        .select(round(col("avg_value"), 4).as("avg_value"),
          round(col("avg_value2"), 4).as("avg_value2"))
    }, Some("""
      SELECT round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS avg_value,
        round(avg(CAST(CAST(value AS FLOAT4) * CAST(2 AS FLOAT4) AS DOUBLE)), 4)
          AS avg_value2
      FROM events""")),

    // Time-ranged aggregate over BOTH stored fields: regression for the
    // hybrid path's boundary partials, which must be computed per field
    // (per-field segments straddle the range edges at different points).
    ("ts_multifield_range_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val (lo, hi) = eventsWindow(s, d)
      def inst(us: Long) =
        java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)
      engine.readTimeSeriesTableMulti("events_multi", Seq("value", "value2"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Sum),
          startTime = Some(inst(lo)), endTime = Some(inst(hi)))
        .select(col("count_value").as("n_value"), col("count_value2").as("n_value2"),
          round(col("sum_value"), 2).as("sum_value"),
          round(col("sum_value2"), 2).as("sum_value2"))
    }, Some("""
      WITH b AS (SELECT min(epoch_us(ts)) AS lo0, max(epoch_us(ts)) AS hi0 FROM events),
      r AS (SELECT lo0 + (hi0 - lo0) // 3 AS lo, lo0 + 2 * (hi0 - lo0) // 3 AS hi FROM b)
      SELECT count(*) AS n_value, count(*) AS n_value2,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS sum_value,
        round(sum(CAST(CAST(value AS FLOAT4) * CAST(2 AS FLOAT4) AS DOUBLE)), 2)
          AS sum_value2
      FROM events, r
      WHERE epoch_us(ts) >= lo AND epoch_us(ts) <= hi""")),

    // count(*) on a multivariate table answered from segment metadata via
    // the SQL rewrite (fields are write-aligned, so any field's len is the
    // row count) — no reconstruction job.
    ("ts_multifield_count", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      engine.sql("SELECT count(*) AS n FROM events_multi")
    }, Some("SELECT count(*) AS n FROM events")),

    // Remote federation end to end: a LIVE RemoteServer is stood up over
    // the same folder and INCLUDE fans the statement out to it — local
    // result unioned with the server's Arrow-IPC-shipped result. The
    // oracle replays the union in SQL, so the whole remote surface
    // (TCP framing, Arrow encode/decode, INCLUDE routing) is hash-checked.
    ("ts_include_remote", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        // RemoteClient drains the stream eagerly, so the server can close
        // before the result is consumed downstream.
        engine.sql(s"INCLUDE '${server.address}' " +
          "SELECT count(*) AS n, min(value) AS mn FROM events_lossless")
      } finally server.close()
    }, Some("""
      SELECT count(*) AS n, min(CAST(value AS FLOAT4)) AS mn FROM events
      UNION ALL
      SELECT count(*) AS n, min(CAST(value AS FLOAT4)) AS mn FROM events""")),

    // Federated aggregate PUSHDOWN: INCLUDE MERGE decomposes the grouped
    // aggregate into algebraic partials, ships the PARTIAL query to the
    // live remote endpoint (which answers it through its own segment-
    // native rewrite — no point reconstruction), and merges locally; only
    // groups x partials scalars cross the wire. The variance partial
    // merges through the Chan M2 update, not raw-sum cancellation. The
    // oracle replays the merged semantics as a plain aggregate over the
    // doubled raw data.
    ("ts_include_agg", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val statements = new java.util.concurrent.atomic.AtomicReference[String]
      val server = new graft.remote.RemoteServer(engine,
        onStatement = statements.set)
      try {
        // The remote partial frame drains eagerly inside sql(), so the
        // statement hook has fired by the time this returns.
        val merged = engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT user, count(*) AS n, sum(value) AS s, avg(value) AS av, " +
          "min(value) AS mn, stddev_samp(value) AS sd " +
          "FROM events_lossless GROUP BY user")
        val shipped = statements.get
        require(shipped != null && shipped.contains("__p0"),
          s"remote must receive the partial projection, got: $shipped")
        merged.select(col("user"), col("n"),
          round(col("s"), 2).as("s"), round(col("av"), 4).as("av"),
          col("mn"), round(col("sd"), 4).as("sd"))
          .orderBy("user")
      } finally server.close()
    }, Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n,
        round(sum(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 2) AS s,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS av,
        min(CAST(value AS FLOAT4)) AS mn,
        round(stddev_samp(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS sd
      FROM u GROUP BY 1 ORDER BY 1""")),

    // Federated TOP-K (merge-then-post-process): HAVING / ORDER BY /
    // LIMIT on an INCLUDE MERGE statement replay LOCALLY on the
    // answer-sized merged frame — the endpoint sees only the bare
    // partial aggregate (a per-endpoint HAVING/LIMIT would filter or
    // truncate groups BEFORE the merge and return the wrong k). The
    // ORDER BY is total (count DESC, then user), so the selected rows
    // and their order are deterministic and DuckDB replays them exactly.
    // The reference's federation (remote.rs row-union) cannot express
    // a combined-data top-k at all.
    ("ts_include_topk", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT user, count(*) AS n, avg(value) AS av " +
          "FROM events_lossless GROUP BY user " +
          "HAVING count(*) > 100 ORDER BY n DESC, user LIMIT 10")
          .select(col("user"), col("n"), round(col("av"), 4).as("av"))
      } finally server.close()
    }, Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT CAST(user_id AS VARCHAR) AS user,
        CAST(count(*) AS BIGINT) AS n,
        round(avg(CAST(CAST(value AS FLOAT4) AS DOUBLE)), 4) AS av
      FROM u GROUP BY 1 HAVING count(*) > 100
      ORDER BY n DESC, user LIMIT 10""")),

    // Federated EXACT percentiles: INCLUDE MERGE locates the combined
    // data's order statistics without moving points — the single partial
    // round ships per-group (count, min, max), then each rank-search round
    // ships one statement returning per-bin (count, min, max) of every
    // state's interval, or its ≤ 1024 distinct values once the interval
    // is that small (bin parameters ride in an answer-sized VALUES join
    // the endpoint broadcasts), and the rank is read off locally.
    // Hash-exact vs DuckDB's quantile_cont over the doubled raw data: both
    // interpolate the same two order statistics in double.
    ("ts_include_percentile", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT user, percentile(value, 0.5) AS med, " +
          "percentile(value, 0.9) AS p90, count(*) AS n " +
          "FROM events_lossless GROUP BY user")
          .select(col("user"), round(col("med"), 4).as("med"),
            round(col("p90"), 4).as("p90"), col("n"))
          .orderBy("user")
      } finally server.close()
    }, Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.5), 4) AS med,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.9), 4) AS p90,
        CAST(count(*) AS BIGINT) AS n
      FROM u GROUP BY 1 ORDER BY 1""")),

    // Array-percentage form of the federated exact rank search: ONE call
    // registers a rank state per element and every element resolves in
    // the same shared probe rounds (the search batches arbitrary rank
    // sets per group). The result array is split into scalar columns so
    // the DuckDB compare stays list-representation-independent.
    ("ts_include_percentile_array", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT user, percentile(value, array(0.25, 0.5, 0.9)) AS p " +
          "FROM events_lossless GROUP BY user")
          .select(col("user"),
            round(element_at(col("p"), 1), 4).as("p25"),
            round(element_at(col("p"), 2), 4).as("p50"),
            round(element_at(col("p"), 3), 4).as("p90"))
          .orderBy("user")
      } finally server.close()
    }, Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT CAST(user_id AS VARCHAR) AS user,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.25), 4) AS p25,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.5), 4) AS p50,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.9), 4) AS p90
      FROM u GROUP BY 1 ORDER BY 1""")),

    // Multivariate federated exact percentiles: ONE statement carries
    // percentile calls over BOTH stored fields of events_multi; the rank
    // search batches both children's states through shared rounds, and
    // on the segment-native path each round ships one probe statement
    // per field (the segment slices differ by field_column). The
    // generated column vf stays out — only stored fields rank-search.
    ("ts_include_percentile_multi", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT user, percentile(value, 0.5) AS mv, " +
          "percentile(value2, 0.9) AS mv2, count(*) AS n " +
          "FROM events_multi GROUP BY user")
          .select(col("user"), round(col("mv"), 4).as("mv"),
            round(col("mv2"), 4).as("mv2"), col("n"))
          .orderBy("user")
      } finally server.close()
    }, Some("""
      WITH e AS (SELECT CAST(user_id AS VARCHAR) AS user,
                        CAST(value AS FLOAT4) AS v,
                        CAST(value AS FLOAT4) * CAST(2 AS FLOAT4) AS v2
                 FROM events),
      u AS (SELECT * FROM e UNION ALL SELECT * FROM e)
      SELECT user,
        round(quantile_cont(CAST(v AS DOUBLE), 0.5), 4) AS mv,
        round(quantile_cont(CAST(v2 AS DOUBLE), 0.9), 4) AS mv2,
        CAST(count(*) AS BIGINT) AS n
      FROM u GROUP BY user ORDER BY user""")),

    // Global (ungrouped) federated exact percentiles: the combined data
    // is one group of ~1.2M points at sf0.1 — far past the bounded-fetch
    // gap, so this is the shape where the interactive BISECTION actually
    // runs at bench scale (the grouped queries' per-user groups are
    // fetch-sized). The probe rounds take the segment-native path (bare
    // field child, no keys, no WHERE): each round is one kernel pass over
    // segment metadata per endpoint, interior segments settled with zero
    // decode.
    ("ts_include_percentile_global", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT percentile(value, array(0.01, 0.5, 0.999)) AS p, " +
          "percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS pd, " +
          "count(*) AS n FROM events_lossless")
          .select(
            round(element_at(col("p"), 1), 4).as("p01"),
            round(element_at(col("p"), 2), 4).as("p50"),
            round(element_at(col("p"), 3), 4).as("p999"),
            col("pd").cast("double").as("pd25"),
            col("n"))
      } finally server.close()
    }, Some("""
      WITH u AS (SELECT * FROM events UNION ALL SELECT * FROM events)
      SELECT
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.01), 4) AS p01,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.5), 4) AS p50,
        round(quantile_cont(CAST(CAST(value AS FLOAT4) AS DOUBLE), 0.999), 4) AS p999,
        CAST(quantile_disc(CAST(value AS FLOAT4), 0.25) AS DOUBLE) AS pd25,
        CAST(count(*) AS BIGINT) AS n
      FROM u""")),

    // Federated approximate DISTINCT: endpoints ship fixed-size
    // DataSketches HLL sketches (never values), merged locally with
    // hll_union_agg — the 100 TB shape for federated count-distinct. The
    // estimate is bounded against the exact local distinct counts at 3x
    // the requested 2% rsd (lgK=12, RSE ≈ 1.04/√4096 ≈ 1.6%); the oracle
    // pins the bound booleans TRUE and the exact merged row count.
    ("ts_include_distinct_approx", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val server = new graft.remote.RemoteServer(engine)
      try {
        val approx = engine.sql(s"INCLUDE MERGE '${server.address}' " +
          "SELECT approx_count_distinct(value, 0.02) AS adv, " +
          "approx_count_distinct(user, 0.02) AS adu, count(*) AS n " +
          "FROM events_lossless")
        val exact = engine.sql("SELECT count(DISTINCT value) AS ev, " +
          "count(DISTINCT user) AS eu FROM events_lossless")
        approx.crossJoin(exact).select(
          (abs(col("adv").cast("double") / col("ev") - 1d) <= 0.06)
            .as("values_ok"),
          (abs(col("adu").cast("double") / col("eu") - 1d) <= 0.06)
            .as("users_ok"),
          col("n"))
      } finally server.close()
    }, Some("""
      SELECT TRUE AS values_ok, TRUE AS users_ok,
        CAST(2 * count(*) AS BIGINT) AS n
      FROM events""")),

    // Federated MERGE over a DECIMAL normal table: the merged frame's
    // arithmetic runs in decimal (sum re-summed at the partial type and
    // cast back, avg divided exactly like Spark's local Average,
    // percentile_disc rank-searched in double and cast back to the
    // decimal child type) — the type-drift regression surface. Endpoints
    // split orders by parity, so the combined data is the full table and
    // the DuckDB oracle replays the statement directly.
    ("ts_include_decimal_merge", (s: SparkSession, d: String) => {
      def half(even: Boolean): Engine = {
        val e = new Engine(s, java.nio.file.Files
          .createTempDirectory("graft_dec_merge").toString)
        e.sql("CREATE TABLE ord(ok BIGINT, price DECIMAL(12,2), status STRING)")
        e.write("ord", table(s, d, "orders")
          .where(col("o_orderkey") % 2 === (if (even) 0 else 1))
          .select(col("o_orderkey").as("ok"),
            col("o_totalprice").cast("decimal(12,2)").as("price"),
            col("o_orderstatus").as("status")))
        e
      }
      // The two endpoint builds are independent (separate folders,
      // separate engines); overlap them — guide §2.6 — so the timed body
      // pays max(build, build), not the sum. The INCLUDE MERGE below
      // stays serial.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val (eLocal, eRemote) =
        try {
          val fL = pool.submit(new java.util.concurrent.Callable[Engine] {
            def call(): Engine = half(even = true)
          })
          val fR = pool.submit(new java.util.concurrent.Callable[Engine] {
            def call(): Engine = half(even = false)
          })
          (fL.get(), fR.get())
        } finally pool.shutdown()
      eLocal.sql(s"INCLUDE MERGE '${eRemote.root}' " +
        "SELECT status, count(*) AS n, sum(price) AS s, avg(price) AS a, " +
        "min(price) AS mn, max(price) AS mx, " +
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY price) AS med " +
        "FROM ord GROUP BY status")
        .select(col("status"), col("n"),
          col("s").cast("double").as("s"),
          round(col("a").cast("double"), 4).as("a"),
          col("mn").cast("double").as("mn"),
          col("mx").cast("double").as("mx"),
          col("med").cast("double").as("med"))
        .orderBy("status")
    }, Some("""
      WITH o AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price,
                        o_orderstatus AS status FROM orders)
      SELECT status, count(*) AS n,
        CAST(sum(price) AS DOUBLE) AS s,
        round(CAST(avg(price) AS DOUBLE), 4) AS a,
        CAST(min(price) AS DOUBLE) AS mn,
        CAST(max(price) AS DOUBLE) AS mx,
        CAST(quantile_disc(price, 0.5) AS DOUBLE) AS med
      FROM o GROUP BY status ORDER BY status""")),

    // Compaction end to end, hash-checked: OPTIMIZE swaps a cached
    // small-file table (four chunked appends, the streaming shape) for
    // coalesced files in one atomic manifest commit, and the reconstructed
    // table must still be the exact raw events — compaction moves bytes,
    // never values. The build is cached on disk (engineForCompact); the
    // timed body is restore-pristine-manifest + OPTIMIZE + read-back, so
    // this measures compaction, not ingest.
    ("ts_compact_roundtrip", (s: SparkSession, d: String) => {
      val (engine, pristine) = engineForCompact(s, d)
      val dir = engine.dataFolder.tableDir("cr")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // A previous run left the table compacted: one manifest commit
      // republished the pristine small-file list (the files themselves are
      // still on disk — compaction never deletes, VACUUM does).
      if (TableManifest.latest(fs, dir).get.version != pristine)
        engine.rollback("cr", pristine)
      val filesBefore = engine.dataFolder.segments("cr").inputFiles.length
      engine.sql("OPTIMIZE cr")
      val filesAfter = engine.dataFolder.segments("cr").inputFiles.length
      require(filesAfter < filesBefore,
        s"compaction must reduce files, got $filesBefore -> $filesAfter")
      engine.readTable("cr")
        .select(unix_micros(col("ts")).as("ts_us"), col("value"), col("user"))
        .orderBy("user", "ts_us")
    }, Some("""
      SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        CAST(value AS FLOAT4) AS value,
        CAST(user_id AS VARCHAR) AS user
      FROM events ORDER BY user, ts_us""")),

    // CDC read: the points each commit appended, attributed to their
    // commit. The compact-cache table was built as four chunked appends
    // (chunk k = rows with user_id % 4 == k, committed at version
    // pristine-3+k), so the changes in (pristine-2, pristine] are exactly
    // chunks 2 and 3 — and the relative version (the chunk index) is
    // SQL-derivable, so the oracle checks BOTH the payload and the
    // per-commit attribution.
    ("ts_changes_read", (s: SparkSession, d: String) => {
      val (engine, pristine) = engineForCompact(s, d)
      engine.readTableChanges("cr", pristine - 2, pristine)
        .select((col("_commit_version") - lit(pristine - 3)).as("chunk"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("user"))
        .orderBy("user", "ts_us")
    }, Some("""
      SELECT CAST(user_id % 4 AS BIGINT) AS chunk,
        CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        CAST(value AS FLOAT4) AS value,
        CAST(user_id AS VARCHAR) AS user
      FROM events WHERE user_id % 4 IN (2, 3) ORDER BY user, ts_us""")),

    // Lossy compression preserves exact point counts (len is lossless).
    ("ts_lossy_count", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val n = engine.readTimeSeriesTable("events_lossy", Seq("value"),
        engine.Aggregate.Count).collect().head.getLong(0)
      import s.implicits._
      Seq(n).toDF("n")
    }, Some("SELECT count(*) AS n FROM events")),

    // Lossy error-bound adherence: every reconstructed value must sit
    // within the declared 1% relative bound of its raw value. GATE: the
    // oracle pins the violation count to zero and the row count to the
    // source's (the join is 1:1 on (ts, series)), so a bound breach or a
    // dropped point fails the hash check.
    ("ts_lossy_bound_check", (s: SparkSession, d: String) => {
      val engine = engineFor(s, d)
      val lossy = engine.readTable("events_lossy")
        .select(unix_micros(col("ts")).as("ts_us"), col("user"),
          col("value").as("lossy_value"))
      val raw = table(s, d, "events")
        .select(eventsTsMicros.as("ts_us"),
          col("user_id").cast("string").as("user"),
          col("value").cast("float").as("raw_value"))
      val joined = lossy.join(raw, Seq("ts_us", "user"))
      val stats = joined.agg(
        count(lit(1)).as("n_compared"),
        coalesce(sum(when(
          abs(col("lossy_value") - col("raw_value")) >
            abs(col("raw_value")) * 0.01 + 1e-6, 1L)), lit(0L))
          .as("bound_violations")).collect().head
      val segs = engine.dataFolder.segments("events_lossy").count()
      import s.implicits._
      Seq((stats.getLong(1), stats.getLong(0), segs > 0L))
        .toDF("bound_violations", "n_compared", "has_segments")
    }, Some("""
      SELECT CAST(0 AS BIGINT) AS bound_violations,
        CAST(count(*) AS BIGINT) AS n_compared, TRUE AS has_segments
      FROM events""")))
}
