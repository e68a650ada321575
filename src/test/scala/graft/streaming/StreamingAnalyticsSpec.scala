package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.SparkTestSession

class StreamingAnalyticsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("watermarked windowed aggregates over a memory stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Long, String, Double)]
    val events = stream.toDF().toDF("ts_us", "key", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))

    val agg = StreamingAnalytics.windowedStats(
      events, "ts", "key", "value", windowDuration = "1 minute")

    val base = 1700000000000000L // on a minute boundary or not is irrelevant
    stream.addData(
      (base, "a", 1.0), (base + 10_000_000L, "a", 2.0), // same minute
      (base + 90_000_000L, "a", 5.0), // next minute
      (base + 5_000_000L, "b", 7.0))

    val query = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_win_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val out = spark.sql("SELECT key, n, total FROM win_out ORDER BY key, total")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("a", 2L, 3.0), ("a", 1L, 5.0), ("b", 1L, 7.0)))
  }

  test("streaming read reconstructs appended segments as micro-batches") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_read").toString)
    engine.sql("CREATE TIME SERIES TABLE sr(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, s"u${i % 2}"))
      .toDF("ts", "v", "tag")
    engine.write("sr", points(0, 500))
    engine.write("sr", points(500, 300))

    val stream = engine.readTableStream("sr", "v")
    assert(stream.isStreaming)
    val query = stream.writeStream
      .outputMode("append")
      .format("memory").queryName("grid_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sr_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val out = spark.sql(
      "SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS s FROM grid_stream_out")
      .collect().head
    assert(out.getLong(0) == 800L,
      s"all appended segments must reconstruct, got ${out.getLong(0)}")
    assert(out.getDouble(1) == (0 until 800).sum.toDouble)

    // The vectorized per-file read path must actually engage on
    // engine-written segment files (a silent 100% fallback to the
    // parquet-mr row reader would still pass the value checks, just slow).
    assert(graft.tsdb.SegmentStreamReadStats.vectorizedFileReads.get() > 0,
      "no segment file went through the vectorized reader")
    assert(graft.tsdb.SegmentStreamReadStats.fallbackFileReads.get() == 0,
      "engine-written segment files must not need the fallback reader")
  }

  test("a segment file with reordered columns falls back and still delivers") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_rc").toString)
    engine.sql("CREATE TIME SERIES TABLE rc(ts TIMESTAMP, v FIELD, tag TAG)")
    engine.write("rc", (0 until 100)
      .map(i => (1700000000000000L + i * 1000000L, i.toFloat, "u0"))
      .toDF("ts", "v", "tag"))

    // Handcraft a committed segment file whose column ORDER differs from
    // the read schema (e.g. produced by an external writer): copy a live
    // file with its columns reversed and commit it as a regular add. The
    // vectorized reader's footer-order gate must reject it and the
    // order-aware parquet-mr fallback must deliver its rows correctly.
    val dir = engine.dataFolder.tableDir("rc")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.tsdb.TableManifest.latest(fs, dir).get.files.head
    val original = spark.read.parquet(s"$dir/$live")
    val tmpOut = Files.createTempDirectory("graft_rc_reord").toString + "/out"
    original.select(original.columns.reverse.map(col): _*)
      .coalesce(1).write.parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val partitionDir = live.substring(0, live.lastIndexOf('/'))
    val rel = s"$partitionDir/reordered-${java.util.UUID.randomUUID()}.parquet"
    fs.rename(new org.apache.hadoop.fs.Path(part.getPath),
      new org.apache.hadoop.fs.Path(dir, rel))
    graft.tsdb.TableManifest.commit(fs, dir)(_ :+ rel)

    val fallbacksBefore =
      graft.tsdb.SegmentStreamReadStats.fallbackFileReads.get()
    val query = engine.readTableStream("rc", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("reord_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_rc_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val out = spark.sql(
      "SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS s FROM reord_stream_out")
      .collect().head
    // Original file + its reordered copy: every point delivered twice,
    // with the copy's values read correctly despite the column order.
    assert(out.getLong(0) == 200L,
      s"both files must deliver, got ${out.getLong(0)} rows")
    assert(out.getDouble(1) == 2.0d * (0 until 100).sum,
      "the reordered file's values must decode correctly by name")
    assert(graft.tsdb.SegmentStreamReadStats.fallbackFileReads.get() >
      fallbacksBefore,
      "the reordered file must take the fallback reader")
  }

  test("a segment file with widened numeric types falls back and still delivers") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_wt").toString)
    engine.sql("CREATE TIME SERIES TABLE wt(ts TIMESTAMP, v FIELD, tag TAG)")
    engine.write("wt", (0 until 100)
      .map(i => (1700000000000000L + i * 1000000L, i.toFloat, "u0"))
      .toDF("ts", "v", "tag"))

    // Handcraft a committed file with the RIGHT column names and order but
    // DOUBLE physical storage where the schema says FLOAT — an external
    // writer's widened shape. The vectorized gate checks physical types
    // (names alone would pass and then fail mid-batch); the parquet-mr
    // fallback must adapt the numeric decode and deliver correct values.
    val dir = engine.dataFolder.tableDir("wt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.tsdb.TableManifest.latest(fs, dir).get.files.head
    val original = spark.read.parquet(s"$dir/$live")
    val widened = original.select(original.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.FloatType)
        col(f.name).cast("double").as(f.name)
      else col(f.name)
    }.toSeq: _*)
    val tmpOut = Files.createTempDirectory("graft_wt_wide").toString + "/out"
    widened.coalesce(1).write.parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val partitionDir = live.substring(0, live.lastIndexOf('/'))
    val rel = s"$partitionDir/widened-${java.util.UUID.randomUUID()}.parquet"
    fs.rename(new org.apache.hadoop.fs.Path(part.getPath),
      new org.apache.hadoop.fs.Path(dir, rel))
    graft.tsdb.TableManifest.commit(fs, dir)(_ :+ rel)

    val fallbacksBefore =
      graft.tsdb.SegmentStreamReadStats.fallbackFileReads.get()
    val query = engine.readTableStream("wt", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("wide_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_wt_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val out = spark.sql(
      "SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS s FROM wide_stream_out")
      .collect().head
    assert(out.getLong(0) == 200L,
      s"both files must deliver, got ${out.getLong(0)} rows")
    assert(out.getDouble(1) == 2.0d * (0 until 100).sum,
      "the widened file's values must decode correctly despite DOUBLE storage")
    assert(graft.tsdb.SegmentStreamReadStats.fallbackFileReads.get() >
      fallbacksBefore,
      "the type-mismatched file must take the fallback reader")
  }

  test("batch CDC and the streaming source deliver the same points") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_cdc").toString)
    engine.sql("CREATE TIME SERIES TABLE cdc(ts TIMESTAMP, v FIELD, tag TAG)")
    def batch(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, "u0"))
      .toDF("ts", "v", "tag")
    engine.write("cdc", batch(0, 60))
    engine.write("cdc", batch(60, 40))
    engine.sql("OPTIMIZE cdc") // rewrites only — neither side re-delivers
    engine.write("cdc", batch(100, 25))
    val cdcDir = engine.dataFolder.tableDir("cdc")
    val head = graft.tsdb.TableManifest.latest(
      new org.apache.hadoop.fs.Path(cdcDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      cdcDir).get.version

    val query = engine.readTableStream("cdc", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("cdc_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cdc_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    // Both sides plan through SegmentStream.addsByVersion, so a fresh
    // stream and a since-creation change read must agree point-for-point
    // — including across the compaction commit.
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getFloat(1))
    val streamed = spark.sql("SELECT unix_micros(ts), v FROM cdc_stream_out")
      .collect().map(key).sorted.toSeq
    val cdc = engine.readTableChanges("cdc", 0L, head)
      .selectExpr("unix_micros(ts)", "v").collect().map(key).sorted.toSeq
    assert(cdc.length == 125)
    assert(streamed == cdc,
      "batch CDC and streaming delivery must be the same point multiset")
  }

  test("batch CDC and the streaming source agree through rollbacks") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_rb").toString)
    engine.sql("CREATE TIME SERIES TABLE rb(ts TIMESTAMP, v FIELD, tag TAG)")
    def batch(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, "u0"))
      .toDF("ts", "v", "tag")
    // History is forward-written, so the two rollback shapes differ:
    // rolling AWAY data is a pure removal (neither side delivers anything),
    // while rolling data BACK IN re-publishes old files as ordinary adds
    // (both sides must re-deliver those points, a second time).
    engine.write("rb", batch(0, 60))   // v1
    engine.write("rb", batch(60, 40))  // v2
    engine.rollback("rb", 1L)          // v3: removal-only — delivers nothing
    engine.rollback("rb", 2L)          // v4: re-adds v2's files — re-delivery
    engine.write("rb", batch(100, 25)) // v5

    val dir = engine.dataFolder.tableDir("rb")
    val head = graft.tsdb.TableManifest.latest(
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), dir).get.version
    assert(head == 5L)

    val query = engine.readTableStream("rb", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("rb_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_rb_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getFloat(1))
    val streamed = spark.sql("SELECT unix_micros(ts), v FROM rb_stream_out")
      .collect().map(key).sorted.toSeq
    val cdc = engine.readTableChanges("rb", 0L, head)
      .selectExpr("unix_micros(ts)", "v").collect().map(key).sorted.toSeq
    // 60 (v1) + 40 (v2) + 0 (v3 removal) + 40 (v4 re-publish) + 25 (v5).
    assert(cdc.length == 165,
      s"rollback re-publication must re-deliver v2's points, got ${cdc.length}")
    val rolledInKeys = (60 until 100)
      .map(i => (1700000000000000L + i * 1000000L, i.toFloat))
    assert(rolledInKeys.forall(k => cdc.count(_ == k) == 2),
      "each rolled-back-in point appears exactly twice in forward history")
    assert(streamed == cdc,
      "batch CDC and streaming delivery must agree through rollbacks")

    // And the table's PRESENT state is just the rolled-back-to data + tail.
    assert(engine.readTable("rb").count() == 125L)
  }

  test("maxVersionsPerTrigger drains a backlog as several bounded batches") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_cap").toString)
    engine.sql("CREATE TIME SERIES TABLE sc(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, "u0"))
      .toDF("ts", "v", "tag")
    // Six commits = a six-version backlog for a fresh consumer.
    (0 until 6).foreach(i => engine.write("sc", points(i * 100, 100)))

    val query = engine.readTableStream("sc", "v", maxVersionsPerTrigger = Some(2L))
      .writeStream
      .outputMode("append")
      .format("memory").queryName("cap_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sc_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(120000)

    val out = spark.sql(
      "SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS s FROM cap_stream_out")
      .collect().head
    assert(out.getLong(0) == 600L,
      s"the bounded drain must still deliver everything, got ${out.getLong(0)}")
    assert(out.getDouble(1) == (0 until 600).sum.toDouble,
      "each point exactly once across the bounded batches")
    // The anchor snapshot is one batch; the five remaining versions drain
    // under the 2-version cap, so the run needs at least 3 data batches.
    val dataBatches = query.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3,
      s"expected the backlog split into bounded batches, got $dataBatches")
  }

  test("OPTIMIZE mid-stream re-delivers nothing; uncommitted files invisible") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_opt").toString)
    engine.sql("CREATE TIME SERIES TABLE so(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, s"u${i % 2}"))
      .toDF("ts", "v", "tag")
    engine.write("so", points(0, 500))
    engine.write("so", points(500, 300))

    val query = engine.readTableStream("so", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("opt_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_so_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      def count() = spark.sql("SELECT COUNT(*) FROM opt_stream_out")
        .collect().head.getLong(0)
      assert(count() == 800L, "both appends delivered before OPTIMIZE")

      // OPTIMIZE rewrites committed points into new files inside the same
      // partition dirs — the exact workload that double-delivered through
      // the old directory stream.
      val (compacted, created) = engine.dataFolder.compact("so")
      assert(compacted >= 2 && created >= 1, "compaction must actually run")
      query.processAllAvailable()
      assert(count() == 800L,
        s"OPTIMIZE re-delivered compacted points: ${count()} rows after it")

      // A killed append's moved-but-never-committed file: visible to a
      // directory listing, absent from every manifest — the stream must
      // not deliver it either.
      val dir = engine.dataFolder.tableDir("so")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = graft.tsdb.TableManifest.latest(fs, dir).get.files.head
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(dir, live), fs,
        new org.apache.hadoop.fs.Path(dir,
          live.replaceAll("[^/]+$", "part-orphan-from-killed-append.parquet")),
        false, spark.sparkContext.hadoopConfiguration)
      query.processAllAvailable()
      assert(count() == 800L, "uncommitted droppings must stay invisible")

      // Post-OPTIMIZE appends still flow.
      engine.write("so", points(800, 200))
      query.processAllAvailable()
      assert(count() == 1000L, "appends after OPTIMIZE must still stream")
      val sum = spark.sql("SELECT CAST(SUM(v) AS DOUBLE) FROM opt_stream_out")
        .collect().head.getDouble(0)
      assert(sum == (0 until 1000).sum.toDouble,
        "delivered exactly the appended points, each once")
    } finally query.stop()
  }

  test("compaction racing live appends: both land, stream delivers exactly once") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_race").toString)
    engine.sql("CREATE TIME SERIES TABLE cw(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, s"u${i % 2}"))
      .toDF("ts", "v", "tag")
    // Seed many small files so the compactor has real work during the race.
    (0 until 6).foreach(i => engine.write("cw", points(i * 100, 100)))

    val query = engine.readTableStream("cw", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("race_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cw_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      def count() = spark.sql("SELECT COUNT(*) FROM race_stream_out")
        .collect().head.getLong(0)
      assert(count() == 600L, "seed appends delivered before the race")

      // The race: a writer keeps appending while compact() runs. The
      // compactor's commit closure must retry onto the new head (keeping
      // the concurrent adds) rather than lose them or abort — appends only
      // ADD files, so the inputs-vanished guard must not fire.
      val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        try (0 until 4).foreach(i => engine.write("cw", points(600 + i * 100, 100)))
        catch { case t: Throwable => writerError.set(t) }
      })
      writer.start()
      // Several passes widen the overlap window; each commit races a write.
      val swaps = (0 until 3).map(_ => engine.dataFolder.compact("cw"))
      writer.join(120000)
      assert(!writer.isAlive, "writer must finish")
      assert(writerError.get() == null,
        s"concurrent append failed: ${writerError.get()}")
      assert(swaps.exists(_._1 >= 2), "at least one compaction must swap")

      // Head reads: every appended point exactly once, none resurrected.
      val head = engine.readTable("cw")
      assert(head.count() == 1000L, "no append may be lost in the swap")
      assert(head.select("ts").distinct().count() == 1000L,
        "no point may be duplicated by the swap")

      // The stream across the race: new appends delivered once, rewrites
      // suppressed via the commits' own rewrite records.
      query.processAllAvailable()
      assert(count() == 1000L,
        s"stream must deliver exactly the appended points, got ${count()}")
      val sum = spark.sql("SELECT CAST(SUM(v) AS DOUBLE) FROM race_stream_out")
        .collect().head.getDouble(0)
      assert(sum == (0 until 1000).sum.toDouble,
        "delivered values must match the appended points, each once")
    } finally query.stop()
  }

  test("a torn manifest claim fences the stream until its writer resolves") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_torn").toString)
    engine.sql("CREATE TIME SERIES TABLE stt(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, s"u${i % 2}"))
      .toDF("ts", "v", "tag")
    engine.write("stt", points(0, 500))

    val dir = engine.dataFolder.tableDir("stt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val query = engine.readTableStream("stt", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("torn_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_stt_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      def count() = spark.sql("SELECT COUNT(*) FROM torn_stream_out")
        .collect().head.getLong(0)
      assert(count() == 500L)

      // A slow writer claims version 2 but has not finished writing it
      // (exists, unreadable). A second writer commits version 3 on top.
      val tornPath = new org.apache.hadoop.fs.Path(
        s"$dir/${graft.tsdb.TableManifest.DirName}/v${"%010d".format(2L)}.json")
      val out = fs.create(tornPath, false)
      out.write("{\"version\":".getBytes("UTF-8")); out.close()
      engine.write("stt", points(500, 300)) // claims version 3

      // The fence holds: nothing past version 1 is committed while the
      // in-flight claim might still complete (the old code advanced to 3
      // here, and version 2's late completion would then be swallowed).
      query.processAllAvailable()
      assert(count() == 500L,
        "stream must not advance past an in-flight manifest claim")

      // The slow writer completes version 2 as a no-op commit (same live
      // list as version 1 — its own data files never moved in). The next
      // trigger steps through it and delivers version 3's append.
      val v1Files = graft.tsdb.TableManifest.snapshotAt(fs, dir, 1L).get.files
      val json = s"""{"version":2,"committed_at_ms":1,"rewrites":[],""" +
        v1Files.map(f => "\"" + f + "\"").mkString("\"files\":[", ",", "]}")
      val done = fs.create(tornPath, true)
      done.write(json.getBytes("UTF-8")); done.close()
      query.processAllAvailable()
      assert(count() == 800L,
        "appends committed past a torn claim must arrive once it resolves")
    } finally query.stop()
  }

  test("TRUNCATE mid-stream: no crash, no re-delivery, later appends flow") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_trunc").toString)
    engine.sql("CREATE TIME SERIES TABLE st(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, s"u${i % 2}"))
      .toDF("ts", "v", "tag")
    engine.write("st", points(0, 500))

    val query = engine.readTableStream("st", "v").writeStream
      .outputMode("append")
      .format("memory").queryName("trunc_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_st_ckpt").toString)
      .start()
    try {
      query.processAllAvailable()
      def count() = spark.sql("SELECT COUNT(*) FROM trunc_stream_out")
        .collect().head.getLong(0)
      assert(count() == 500L)

      // TRUNCATE quarantines every live file and commits an empty
      // snapshot: the stream sees a version that ADDS nothing.
      engine.sql("TRUNCATE TABLE st")
      query.processAllAvailable()
      assert(count() == 500L,
        "TRUNCATE must neither crash the stream nor re-deliver anything")
      assert(engine.readTable("st").count() == 0L)

      // Appends into the emptied table flow normally (and are NOT diffed
      // against the pre-TRUNCATE file set).
      engine.write("st", points(500, 200))
      query.processAllAvailable()
      assert(count() == 700L, "post-TRUNCATE appends must stream")
      val sum = spark.sql("SELECT CAST(SUM(v) AS DOUBLE) FROM trunc_stream_out")
        .collect().head.getDouble(0)
      assert(sum == (0 until 700).sum.toDouble)
    } finally query.stop()
  }

  test("streaming exceedance monitor matches the batch segment attribution") {
    import spark.implicits._
    val engine = new graft.tsdb.Engine(spark,
      Files.createTempDirectory("graft_stream_thr").toString)
    engine.sql("CREATE TIME SERIES TABLE sm(ts TIMESTAMP, v FIELD, tag TAG)")

    def points(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        ((offset + i) % 120).toFloat, s"u${i % 2}"))
      .toDF("ts_us", "v", "tag")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("v"), col("tag"))
    engine.write("sm", points(0, 400))
    engine.write("sm", points(400, 300))

    val stream = engine.thresholdCountStream("sm", "v", Some(50.0),
      windowDuration = "1 minute", watermarkDelay = "10 minutes")
    assert(stream.isStreaming)
    val query = stream.writeStream
      .outputMode("complete")
      .format("memory").queryName("thr_stream_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_thr_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val got = spark.sql(
      "SELECT window.start, tag, count_in_v, count_v FROM thr_stream_out")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1.getTime, t._2)).toSeq

    // Batch control with the SAME segment-close attribution over the
    // same kernel partials — the stream must deliver exactly this.
    val segs = engine.dataFolder.segments("sm")
    val ctrl = segs
      .withColumn("__seg_end", timestamp_micros(col("end_time")))
      .withColumn("__ts_st",
        graft.tsdb.SegmentAggregates.statsInRangeCol(
          graft.tsdb.SegmentAggregates.boundLit(Some(50.0)),
          graft.tsdb.SegmentAggregates.boundLit(None)))
      .groupBy(window(col("__seg_end"), "1 minute"), col("tag"))
      .agg(
        coalesce(sum(col("__ts_st").getField("cnt")), lit(0L)).as("n_in"),
        coalesce(sum(graft.tsdb.SegmentAggregates.lenCol), lit(0L)).as("n"))
      .select(col("window.start"), col("tag"), col("n_in"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1.getTime, t._2)).toSeq
    assert(got == ctrl, s"stream $got != batch $ctrl")

    // Point-level sanity: every segment lands in exactly one window, so
    // the window totals add up to the table-wide exceedance count.
    assert(got.map(_._3).sum ==
      engine.readTable("sm").where(col("v") > 50.0f).count())
    assert(got.map(_._4).sum == 700L)
  }

  test("streaming dedup drops repeated payloads within the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))

    val deduped = StreamingAnalytics.dedupStream(docs, "ts", Seq("text"))

    val base = 1700000000000000L
    stream.addData(
      (base, "alpha"), (base + 1_000_000L, "alpha"), // dup in-batch
      (base + 2_000_000L, "beta"))
    stream.addData(
      (base + 3_000_000L, "alpha"),                  // dup across batches
      (base + 4_000_000L, "gamma"))

    val query = deduped.writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dedup_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val out = spark.sql("SELECT text FROM dedup_out ORDER BY text")
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("alpha", "beta", "gamma"))
  }

  test("stateful sessionization closes sessions on gaps") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val stream = MemoryStream[StreamingAnalytics.SessionEvent]
    val sessions = StreamingAnalytics.sessionize(
      stream.toDS(), gapMicros = 60_000_000L) // 1 minute gap

    val base = 1700000000000000L
    // Session 1: three events within the gap; then a 5-minute jump starts
    // session 2 — the first session closes immediately on the gap.
    stream.addData(
      StreamingAnalytics.SessionEvent("u1", base, 1.0),
      StreamingAnalytics.SessionEvent("u1", base + 30_000_000L, 2.0),
      StreamingAnalytics.SessionEvent("u1", base + 50_000_000L, 3.0),
      StreamingAnalytics.SessionEvent("u1", base + 350_000_000L, 4.0))

    val query = sessions.writeStream
      .outputMode("append")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sess_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val closed = spark.sql("SELECT key, nEvents, total, durationMicros FROM sess_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(closed.toSeq == Seq(("u1", 3L, 6.0, 50_000_000L)))
  }

  test("streaming near-dup screen flags stream docs against a static corpus") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Static "benchmark" corpus: two reference documents.
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (200L, "all along the watchtower princes kept the view while women came and went"))
      .toDF("ref_id", "ref_text").persist()
    corpus.count()

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().toDF("doc_id", "text")
    // Explicit index lifecycle (the convenience overload is deprecated:
    // it persists an index no caller can ever unpersist).
    val index = StreamingAnalytics.screenIndex(
      corpus, "ref_id", "ref_text", numHashes = 64, bands = 16,
      shingleK = 2).persist()
    val flagged = StreamingAnalytics.screenStream(
      docs, "doc_id", "text", index,
      threshold = 0.5, numHashes = 64, bands = 16, shingleK = 2)

    // Batch 1: an EXACT copy of ref 100 (collides in EVERY band — the
    // per-batch pair dedup must still emit ONE row), a near-copy of ref
    // 200 (one word changed), and an unrelated document.
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "all along the watchtower princes kept the view while women came and walked"),
      (3L, "completely unrelated text about spark segment compression kernels"))
    // Batch 2: another near-dup of ref 100 arriving later.
    stream.addData(
      (4L, "the quick brown fox jumps over the lazy dog near the river edge"))

    val query = flagged.writeStream
      .outputMode("append")
      .format("memory").queryName("screen_out")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_screen_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination(60000)

    val got = spark.sql("SELECT doc_id, ref_id, jaccard FROM screen_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // One row per matching pair — the exact copy must not repeat per band.
    assert(got.map(p => (p._1, p._2)).toSeq.sorted ==
      Seq((1L, 100L), (2L, 200L), (4L, 100L)),
      s"got ${got.toSeq}")
    assert(got.find(_._1 == 1L).get._3 == 1.0)

    // Equivalence with the batch path: the same inputs through the batch
    // MinHash pair finder (stream docs unioned with the corpus) must
    // yield exactly the same cross pairs at the same jaccard.
    val allDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "all along the watchtower princes kept the view while women came and walked"),
      (3L, "completely unrelated text about spark segment compression kernels"),
      (4L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (200L, "all along the watchtower princes kept the view while women came and went"))
      .toDF("doc_id", "text")
    val batchPairs = graft.ops.Dedup.minhashDuplicatePairs(
        allDocs, "doc_id", "text", threshold = 0.5, numHashes = 64,
        bands = 16, shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 < 100L && p._2 >= 100L) // stream-vs-corpus pairs only
      .map(p => (p._1, p._2, p._3)).toSeq.sorted
    assert(got.map(p => (p._1, p._2, p._3)).toSeq.sorted == batchPairs,
      s"stream ${got.toSeq} vs batch $batchPairs")
    index.unpersist()
    corpus.unpersist()
  }
}
