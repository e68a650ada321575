package graft.tsdb

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration

/** End-to-end engine tests mirroring the reference's integration harness
  * (/root/reference/crates/modelardb_server/tests/integration_test.rs):
  * DDL lifecycle, ingest+query round-trips, and segment-vs-gridded
  * aggregate equivalence (COUNT/MIN/MAX exact, SUM/AVG within 0.001%).
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def newEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft_test").toString)

  private def makePointsDf(n: Int, tags: Seq[String], seed: Long = 42L) = {
    val rng = new scala.util.Random(seed)
    val rows = tags.flatMap { tag =>
      val ts = DataGeneration.generateTimestamps(n, irregular = false, rng)
      val f1 = DataGeneration.generateValues(n, DataGeneration.Linear, Some(0.05f), rng)
      val f2 = DataGeneration.generateValues(
        n, DataGeneration.RandomValues(0f, 100f), None, rng)
      ts.indices.map(i => (ts(i), f1(i), f2(i), tag))
    }
    import spark.implicits._
    rows.toDF("ts_us", "field_1", "field_2", "tag")
  }

  test("ddl lifecycle: create, tables, schema, drop") {
    val engine = newEngine()
    engine.sql(
      "CREATE TIME SERIES TABLE tst(timestamp TIMESTAMP, field_1 FIELD, " +
        "field_2 FIELD(1.0), field_3 FIELD AS (field_1 + 37.0), tag TAG)")
    assert(engine.tables() == Seq("tst"))
    val schema = engine.schema("tst")
    assert(schema.fieldNames.toSeq ==
      Seq("timestamp", "field_1", "field_2", "field_3", "tag"))
    engine.sql("DROP TABLE tst")
    assert(engine.tables().isEmpty)
  }

  test("lossless ingest round-trips through segments") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE rt(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(500, Seq("a", "b"))
    engine.write("rt", df)

    val back = engine.readTable("rt")
      .select(unix_micros(col("ts_us")).as("ts_us"), col("field_1"),
        col("field_2"), col("tag"))
      .orderBy("tag", "ts_us")
      .collect()
    val original = df.orderBy("tag", "ts_us").collect()
    assert(back.length == original.length)
    back.zip(original).foreach { case (b, o) =>
      assert(b.getLong(0) == o.getLong(0))
      assert(b.getFloat(1) == o.getFloat(1))
      assert(b.getFloat(2) == o.getFloat(2))
      assert(b.getString(3) == o.getString(3))
    }
  }

  test("lossy ingest stays within per-column bounds") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE lossy(ts_us TIMESTAMP, " +
      "field_1 FIELD(0.5), field_2 FIELD(5.0%), tag TAG)")
    val df = makePointsDf(400, Seq("x"))
    engine.write("lossy", df)

    val joined = engine.readTable("lossy")
      .select(unix_micros(col("ts_us")).as("ts_us"), col("field_1"), col("field_2"))
      .as("r")
      .join(df.as("o"), Seq("ts_us"))
      .select(col("r.field_1"), col("o.field_1"), col("r.field_2"), col("o.field_2"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { row =>
      assert(math.abs(row.getFloat(0) - row.getFloat(1)) <= 0.5f + 1e-4f)
      val rel = math.abs((row.getFloat(2) - row.getFloat(3)) / row.getFloat(3))
      assert(rel * 100.0 <= 5.0 + 1e-3)
    }
  }

  test("generated columns are computed at query time") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE gen(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_3 FIELD AS (field_1 + 37.0), tag TAG)")
    engine.write("gen", makePointsDf(100, Seq("g")).drop("field_2"))
    val rows = engine.readTable("gen").select("field_1", "field_3").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getFloat(1) - (r.getFloat(0) + 37.0f)) < 1e-3f))
  }

  test("segment-native aggregates match gridded aggregates") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE agg(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD(1.0), tag TAG)")
    engine.write("agg", makePointsDf(1000, Seq("a", "b", "c")))

    // Segment-native path (no time filter).
    val native = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.Count).collect().head.getLong(0)
    val nativeMin = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.Min).collect().head.getFloat(0)
    val nativeMax = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.Max).collect().head.getFloat(0)
    val nativeSum = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.Sum).collect().head.getDouble(0)
    val nativeAvg = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.Avg).collect().head.getDouble(0)

    // Gridded path (forced by a time filter covering everything).
    val forced = engine.readTimeSeriesTable("agg", Seq("field_1"),
      engine.Aggregate.None, startTime = Some(java.time.Instant.EPOCH))
    val gridded = forced.agg(
      count(col("field_1")), min(col("field_1")), max(col("field_1")),
      sum(col("field_1")), avg(col("field_1"))).collect().head

    assert(native == gridded.getLong(0), "COUNT must be exact")
    assert(nativeMin == gridded.getFloat(1), "MIN must be exact")
    assert(nativeMax == gridded.getFloat(2), "MAX must be exact")
    val sumRel = math.abs((nativeSum - gridded.getDouble(3)) / gridded.getDouble(3))
    assert(sumRel <= 1e-5, s"SUM relative error $sumRel exceeds 0.001%")
    val avgRel = math.abs((nativeAvg - gridded.getDouble(4)) / gridded.getDouble(4))
    assert(avgRel <= 1e-5, s"AVG relative error $avgRel exceeds 0.001%")
  }

  test("aggregating a field subset prunes the other fields' partitions") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE fp(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("fp", makePointsDf(500, Seq("a", "b")))

    // Segment-native 1-of-2-fields aggregate: the scan must carry a
    // field_column partition filter — at a 32-field industrial table this
    // is the difference between reading 1/32 and 32/32 of the segments.
    // (Grouped: an ungrouped one reads the manifest's value stats and
    // scans nothing at all.)
    val grouped = engine.readTimeSeriesTable("fp", Seq("field_2"),
      engine.Aggregate.Sum, groupByTags = Seq("tag"))
    val plan = grouped.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("field_column"),
      s"expected a field_column partition filter, plan:\n$plan")

    // Same for the hybrid (time-ranged) shape.
    val ranged = engine.readTimeSeriesTable("fp", Seq("field_2"),
      engine.Aggregate.Sum, groupByTags = Seq("tag"),
      startTime = Some(java.time.Instant.EPOCH))
    val rplan = ranged.queryExecution.executedPlan.toString
    assert(rplan.contains("PartitionFilters") && rplan.contains("field_column"))

    val one = engine.readTimeSeriesTable("fp", Seq("field_2"),
      engine.Aggregate.Sum)
    assert(!one.queryExecution.executedPlan.toString.contains("FileScan"),
      "an ungrouped aggregate over whole files reads their manifest stats")

    // And the pruned aggregate still answers exactly: sum(field_2) from
    // the one partition equals the gridded sum over reconstructed points.
    val pruned = one.collect().head.getDouble(0)
    val full = engine.readTable("fp").agg(sum(col("field_2")))
      .collect().head.getDouble(0)
    assert(math.abs((pruned - full) / full) <= 1e-5,
      s"pruned=$pruned vs gridded=$full")
  }

  test("tag-grouped segment-native aggregates match gridded group-by") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE gagg(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("gagg", makePointsDf(600, Seq("a", "b")))

    val native = engine.readTimeSeriesTable("gagg", Seq("field_1"),
      engine.Aggregate.Count, groupByTags = Seq("tag"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gridded = engine.readTable("gagg").groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(native == gridded)
  }

  test("hybrid time-ranged aggregates match gridded aggregates") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE hra(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(1500, Seq("a", "b"))
    engine.write("hra", df)

    val bounds = df.agg(min("ts_us"), max("ts_us")).collect().head
    val lo = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 5
    val hi = bounds.getLong(0) + 4 * (bounds.getLong(1) - bounds.getLong(0)) / 5
    val loI = java.time.Instant.ofEpochSecond(lo / 1000000L, lo % 1000000L * 1000L)
    val hiI = java.time.Instant.ofEpochSecond(hi / 1000000L, hi % 1000000L * 1000L)

    val expected = df.where(col("ts_us") >= lo && col("ts_us") <= hi)
    val expectedStats = expected.agg(
      count("field_1"), sum(col("field_1").cast("double")),
      min("field_1"), max("field_1")).collect().head

    val n = engine.readTimeSeriesTable("hra", Seq("field_1"),
      engine.Aggregate.Count, startTime = Some(loI), endTime = Some(hiI))
      .collect().head.getLong(0)
    assert(n == expectedStats.getLong(0), "ranged COUNT must be exact")

    val s = engine.readTimeSeriesTable("hra", Seq("field_1"),
      engine.Aggregate.Sum, startTime = Some(loI), endTime = Some(hiI))
      .collect().head.getDouble(0)
    assert(math.abs(s - expectedStats.getDouble(1)) <=
      math.abs(expectedStats.getDouble(1)) * 1e-9, "ranged SUM must match")

    val mn = engine.readTimeSeriesTable("hra", Seq("field_1"),
      engine.Aggregate.Min, startTime = Some(loI), endTime = Some(hiI))
      .collect().head.getFloat(0)
    val mx = engine.readTimeSeriesTable("hra", Seq("field_1"),
      engine.Aggregate.Max, startTime = Some(loI), endTime = Some(hiI))
      .collect().head.getFloat(0)
    assert(mn == expectedStats.getFloat(2) && mx == expectedStats.getFloat(3))

    // Grouped variant.
    val grouped = engine.readTimeSeriesTable("hra", Seq("field_1"),
      engine.Aggregate.Count, groupByTags = Seq("tag"),
      startTime = Some(loI), endTime = Some(hiI))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedGrouped = expected.groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped == expectedGrouped)
  }

  test("bucketed aggregates match gridded bucket group-by on both paths") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE bkt(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    // field_1 steps every 37 points: PMC-Mean segments of ~3.7ms, shorter
    // than the bucket, so runs land interior or straddle depending on
    // phase. field_2 is incompressible: one long MacaqueV segment per tag,
    // always boundary.
    val rows = Seq("a", "b").flatMap { tag =>
      (1 to 2000).map { i =>
        (i * 100L, (i / 37).toFloat,
          ((i * 2654435761L) % 1000L).toFloat / 10f, tag)
      }
    }
    import spark.implicits._
    engine.write("bkt", rows.toDF("ts_us", "field_1", "field_2", "tag"))

    val bucketUs = 10000L // 100 points per bucket at the 100us cadence
    val bucket = java.time.Duration.ofMillis(10)
    def floorB(c: org.apache.spark.sql.Column) = c - pmod(c, lit(bucketUs))

    // The fixture must exercise BOTH plans: segments contained in one
    // bucket (closed forms) and segments straddling a bucket edge (grid).
    val segs = engine.dataFolder.segments("bkt")
      .where(col(SegmentSchema.FieldColumn) === 0)
    val sameB = floorB(col("start_time")) === floorB(col("end_time"))
    assert(segs.where(sameB).count() > 0, "no interior (closed-form) segments")
    assert(segs.where(!sameB).count() > 0, "no boundary (gridded) segments")

    val got = engine.readTimeSeriesTableBucketed("bkt", bucket, Seq("field_1"),
        Seq(engine.Aggregate.Count, engine.Aggregate.Sum,
          engine.Aggregate.Min, engine.Aggregate.Max, engine.Aggregate.Avg),
        groupByTags = Seq("tag"))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        col("count_field_1"), col("sum_field_1"), col("min_field_1"),
        col("max_field_1"), col("avg_field_1"))
      .orderBy("tag", "b").collect()

    val points = engine.readTable("bkt")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"), col("field_1"))
    val want = points
      .groupBy(col("tag"), floorB(col("us")).as("b"))
      .agg(count("field_1"), sum(col("field_1").cast("double")),
        min("field_1"), max("field_1"),
        sum(col("field_1").cast("double")) / count("field_1"))
      .orderBy("tag", "b").collect()

    assert(got.nonEmpty && got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2), s"COUNT at ${g.get(0)}/${g.get(1)}")
      assert(g.getFloat(4) == w.getFloat(4), s"MIN at ${g.get(0)}/${g.get(1)}")
      assert(g.getFloat(5) == w.getFloat(5), s"MAX at ${g.get(0)}/${g.get(1)}")
      assert(math.abs((g.getDouble(3) - w.getDouble(3)) / w.getDouble(3)) <= 1e-5)
      assert(math.abs((g.getDouble(6) - w.getDouble(6)) / w.getDouble(6)) <= 1e-5)
    }

    // Range edges that split buckets mid-way: the edge buckets must
    // aggregate only in-range points, across BOTH fields.
    val (lo, hi) = (55550L, 151230L)
    def inst(us: Long) = java.time.Instant.ofEpochSecond(0L, us * 1000L)
    val gotR = engine.readTimeSeriesTableBucketed("bkt", bucket,
        Seq("field_1", "field_2"), Seq(engine.Aggregate.Count, engine.Aggregate.Sum),
        groupByTags = Seq("tag"),
        startTime = Some(inst(lo)), endTime = Some(inst(hi)))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        col("count_field_1"), col("sum_field_1"),
        col("count_field_2"), col("sum_field_2"))
      .orderBy("tag", "b").collect()
    val pts2 = engine.readTable("bkt")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"),
        col("field_1"), col("field_2"))
      .where(col("us") >= lo && col("us") <= hi)
    val wantR = pts2.groupBy(col("tag"), floorB(col("us")).as("b"))
      .agg(count("field_1"), sum(col("field_1").cast("double")),
        count("field_2"), sum(col("field_2").cast("double")))
      .orderBy("tag", "b").collect()
    assert(gotR.nonEmpty && gotR.length == wantR.length)
    gotR.zip(wantR).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2) && g.getLong(4) == w.getLong(4))
      assert(math.abs((g.getDouble(3) - w.getDouble(3)) / w.getDouble(3)) <= 1e-5)
      assert(math.abs((g.getDouble(5) - w.getDouble(5)) / w.getDouble(5)) <= 1e-5)
    }
  }

  test("bucketed and ranged FIRST/LAST match gridded min_by/max_by") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE m4(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    // Same mixed fixture shape as the bucketed spec: field_1 compresses to
    // short PMC runs (interior AND straddling segments), field_2 is one
    // long incompressible segment per tag (always boundary).
    val rows = Seq("a", "b").flatMap { tag =>
      (1 to 2000).map { i =>
        (i * 100L, (i / 37).toFloat,
          ((i * 2654435761L) % 1000L).toFloat / 10f, tag)
      }
    }
    import spark.implicits._
    engine.write("m4", rows.toDF("ts_us", "field_1", "field_2", "tag"))

    val bucketUs = 10000L
    def floorB(c: org.apache.spark.sql.Column) = c - pmod(c, lit(bucketUs))
    val points = engine.readTable("m4")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"),
        col("field_1"), col("field_2"))

    // Both plans must be exercised (interior closed-form edges AND
    // boundary decode-generator edges).
    val segs = engine.dataFolder.segments("m4")
      .where(col(SegmentSchema.FieldColumn) === 0)
    val sameB = floorB(col("start_time")) === floorB(col("end_time"))
    assert(segs.where(sameB).count() > 0 && segs.where(!sameB).count() > 0)

    val got = engine.readTimeSeriesTableBucketed("m4",
        java.time.Duration.ofMillis(10), Seq("field_1", "field_2"),
        Seq(engine.Aggregate.First, engine.Aggregate.Last),
        groupByTags = Seq("tag"))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        col("first_field_1"), col("last_field_1"),
        col("first_field_2"), col("last_field_2"))
      .orderBy("tag", "b").collect()
    val want = points.groupBy(col("tag"), floorB(col("us")).as("b"))
      .agg(min_by(col("field_1"), col("us")), max_by(col("field_1"), col("us")),
        min_by(col("field_2"), col("us")), max_by(col("field_2"), col("us")))
      .orderBy("tag", "b").collect()
    assert(got.nonEmpty && got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      (2 to 5).foreach(i =>
        assert(g.getFloat(i) == w.getFloat(i),
          s"edge $i at ${g.get(0)}/${g.get(1)}"))
    }

    // Ranged (unbucketed) FIRST/LAST through the hybrid plan: the range
    // edge cuts segments mid-way, so the group's first in-range point is
    // NOT any segment's global edge — exactly the case the SQL rewrite
    // declines and the range-clipped edge partials answer.
    val (lo, hi) = (55550L, 151230L)
    def inst(us: Long) = java.time.Instant.ofEpochSecond(0L, us * 1000L)
    val gotR = engine.readTimeSeriesTableMulti("m4", Seq("field_1"),
        Seq(engine.Aggregate.First, engine.Aggregate.Last),
        groupByTags = Seq("tag"),
        startTime = Some(inst(lo)), endTime = Some(inst(hi)))
      .select(col("tag"), col("first_field_1"), col("last_field_1"))
      .orderBy("tag").collect()
    val wantR = points.where(col("us") >= lo && col("us") <= hi)
      .groupBy("tag")
      .agg(min_by(col("field_1"), col("us")), max_by(col("field_1"), col("us")))
      .orderBy("tag").collect()
    assert(gotR.length == wantR.length && gotR.nonEmpty)
    gotR.zip(wantR).foreach { case (g, w) =>
      assert(g.getFloat(1) == w.getFloat(1) && g.getFloat(2) == w.getFloat(2))
    }
  }

  test("NaN values keep Spark min/max semantics on closed-form paths") {
    val engine = newEngine()
    engine.sql(
      "CREATE TIME SERIES TABLE nanb(ts_us TIMESTAMP, field_1 FIELD, tag TAG)")
    // Lossless field with NaN sprinkled through incompressible (MacaqueV)
    // stretches plus an all-NaN run (PMC NaN segments). With 10 ms buckets
    // (100 points) NaN lands in interior segments (metadata closed forms,
    // NaN surfaced via the sum partial), boundary straddlers (decode
    // generator), and whole all-NaN buckets.
    import spark.implicits._
    val rows = (1 to 4000).map { i =>
      val v =
        if (i >= 1200 && i < 1450) Float.NaN
        else if (i % 97 == 0) Float.NaN
        else ((i * 2654435761L) % 1000L).toFloat / 10f
      (i * 100L, v, "n")
    }
    engine.write("nanb", rows.toDF("ts_us", "field_1", "tag"))

    val bucketUs = 10000L
    def floorB(c: org.apache.spark.sql.Column) = c - pmod(c, lit(bucketUs))
    val got = engine.readTimeSeriesTableBucketed("nanb",
        java.time.Duration.ofMillis(10), Seq("field_1"),
        Seq(engine.Aggregate.Count, engine.Aggregate.Sum,
          engine.Aggregate.Min, engine.Aggregate.Max))
      .select(unix_micros(col("bucket")).as("b"), col("count_field_1"),
        col("sum_field_1"), col("min_field_1"), col("max_field_1"))
      .orderBy("b").collect()
    val want = engine.readTable("nanb")
      .select(unix_micros(col("ts_us")).as("us"), col("field_1"))
      .groupBy(floorB(col("us")).as("b"))
      .agg(count("field_1"), sum(col("field_1").cast("double")),
        min("field_1"), max("field_1"))
      .orderBy("b").collect()
    assert(got.nonEmpty && got.length == want.length)
    // Buckets holding a NaN must answer MAX = NaN (Spark sorts NaN
    // greatest) and never the ±Inf init sentinels; MIN ignores NaN unless
    // the whole bucket is NaN.
    var nanMaxBuckets = 0
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getLong(1) == w.getLong(1))
      val (gs, ws) = (g.getDouble(2), w.getDouble(2))
      assert((gs.isNaN && ws.isNaN) ||
        math.abs(gs - ws) <= math.abs(ws) * 1e-5 + 1e-9,
        s"SUM at ${g.getLong(0)}: $gs vs $ws")
      assert(java.lang.Float.compare(g.getFloat(3), w.getFloat(3)) == 0,
        s"MIN at ${g.getLong(0)}: ${g.getFloat(3)} vs ${w.getFloat(3)}")
      assert(java.lang.Float.compare(g.getFloat(4), w.getFloat(4)) == 0,
        s"MAX at ${g.getLong(0)}: ${g.getFloat(4)} vs ${w.getFloat(4)}")
      if (g.getFloat(4).isNaN) nanMaxBuckets += 1
    }
    assert(nanMaxBuckets > 0, "fixture produced no NaN buckets")

    // Range-hybrid shape (interior metadata partials + boundary decode)
    // over a window containing NaN data.
    def inst(us: Long) = java.time.Instant.ofEpochSecond(0L, us * 1000L)
    val (lo, hi) = (100000L, 160000L) // covers part of the all-NaN run
    val gr = engine.readTimeSeriesTable("nanb", Seq("field_1"),
        engine.Aggregate.Max, startTime = Some(inst(lo)),
        endTime = Some(inst(hi)))
      .collect().head.getFloat(0)
    val wr = engine.readTable("nanb")
      .where(unix_micros(col("ts_us")).between(lo, hi))
      .agg(max("field_1")).collect().head.getFloat(0)
    assert(wr.isNaN, "fixture range must include a NaN")
    assert(java.lang.Float.compare(gr, wr) == 0, s"ranged MAX: $gr vs $wr")
  }

  test("timestamp extents answer from partials under ranges and buckets") {
    val engine = newEngine()
    engine.sql(
      "CREATE TIME SERIES TABLE tse(ts_us TIMESTAMP, field_1 FIELD, tag TAG)")
    import spark.implicits._
    // Irregular cadence so segment bounds don't coincide with bucket
    // edges; steps of 37 give PMC segments mixing interior and straddler.
    val rows = Seq("a", "b").flatMap { tag =>
      (1 to 2000).map(i => (i * 100L + (i % 7) * 3L, (i / 37).toFloat, tag))
    }
    engine.write("tse", rows.toDF("ts_us", "field_1", "tag"))

    def inst(us: Long) = java.time.Instant.ofEpochSecond(0L, us * 1000L)
    val (lo, hi) = (55557L, 151231L)
    val got = engine.readTimeSeriesTableMulti("tse", Seq("field_1"),
        Seq(engine.Aggregate.Count), groupByTags = Seq("tag"),
        startTime = Some(inst(lo)), endTime = Some(inst(hi)),
        tsAggregates = Seq(engine.Aggregate.Min, engine.Aggregate.Max))
      .select(col("tag"), col("count_field_1"),
        unix_micros(col("min_ts_us")), unix_micros(col("max_ts_us")))
      .orderBy("tag").collect()
    val want = engine.readTable("tse")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"))
      .where(col("us").between(lo, hi))
      .groupBy("tag")
      .agg(count(col("us")), min(col("us")), max(col("us")))
      .orderBy("tag").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2), s"min(ts) for ${g.getString(0)}")
      assert(g.getLong(3) == w.getLong(3), s"max(ts) for ${g.getString(0)}")
    }

    // Per-bucket first/last timestamps (ts-extent-only: no field agg).
    val bucketUs = 10000L
    def floorB(c: org.apache.spark.sql.Column) = c - pmod(c, lit(bucketUs))
    val gotB = engine.readTimeSeriesTableBucketed("tse",
        java.time.Duration.ofMillis(10), groupByTags = Seq("tag"),
        tsAggregates = Seq(engine.Aggregate.Min, engine.Aggregate.Max))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        unix_micros(col("min_ts_us")), unix_micros(col("max_ts_us")))
      .orderBy("tag", "b").collect()
    val wantB = engine.readTable("tse")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"))
      .groupBy(col("tag"), floorB(col("us")).as("b"))
      .agg(min(col("us")), max(col("us")))
      .orderBy("tag", "b").collect()
    assert(gotB.length == wantB.length && gotB.nonEmpty)
    gotB.zip(wantB).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2), s"bucket min(ts) at ${g.getLong(1)}")
      assert(g.getLong(3) == w.getLong(3), s"bucket max(ts) at ${g.getLong(1)}")
    }
  }

  test("zone transition gaps drive truncation containment safety") {
    // Fixed-offset zones are always monotonic — no guard needed.
    assert(Engine.minTransitionGapUs(java.time.ZoneId.of("UTC")).isEmpty)
    assert(Engine.minTransitionGapUs(java.time.ZoneId.of("+05:30")).isEmpty)
    // DST zones: the minimum gap between consecutive transitions is far
    // longer than any realistic segment (months), so interior segments
    // keep their closed forms.
    for (z <- Seq("America/New_York", "America/Sao_Paulo",
        "Australia/Lord_Howe", "Europe/Dublin")) {
      val gap = Engine.minTransitionGapUs(java.time.ZoneId.of(z))
      assert(gap.nonEmpty, s"$z should report transitions")
      assert(gap.get > 30L * 86400000000L,
        s"$z min gap ${gap.get}us implausibly small")
    }
  }

  test("calendar-truncated aggregates match gridded date_trunc group-by") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE cal(ts_us TIMESTAMP, field_1 FIELD, " +
      "tag TAG)")
    // 10-minute cadence from 2024-02-20 through late March: spans week and
    // month boundaries and the America/New_York spring-forward transition
    // (2024-03-10, a 23-hour day). Steps of 37 points: PMC segments of
    // ~6.2 h, so WEEK, MONTH, and zoned DAY buckets all mix interior
    // (closed-form) segments with boundary-straddlers.
    val t0us = java.time.Instant.parse("2024-02-20T00:00:00Z")
      .getEpochSecond * 1000000L
    import spark.implicits._
    val rows = Seq("a", "b").flatMap { tag =>
      (0 until 5200).map { i => (t0us + i * 600000000L, (i / 37).toFloat, tag) }
    }
    engine.write("cal", rows.toDF("ts_us", "field_1", "tag"))

    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, TruncTimestamp}
    for ((unit, zone, expectInterior) <- Seq(
        ("WEEK", "UTC", true), ("MONTH", "UTC", true),
        ("DAY", "America/New_York", true),
        // +05:30 hour buckets: every ~6.2 h segment straddles — the
        // boundary-only regime must also be exact.
        ("HOUR", "Asia/Kolkata", false))) {
      def truncUs(c: org.apache.spark.sql.Column) =
        unix_micros(ColumnBridge.column(TruncTimestamp(
          CLit(unit), ColumnBridge.expression(c), Some(zone))))

      val segs = engine.dataFolder.segments("cal")
      val sameB = truncUs(timestamp_micros(col("start_time"))) ===
        truncUs(timestamp_micros(col("end_time")))
      if (expectInterior)
        assert(segs.where(sameB).count() > 0, s"no interior segs $unit/$zone")
      assert(segs.where(!sameB).count() > 0, s"no boundary segs $unit/$zone")

      val got = engine.readTimeSeriesTableTruncated("cal", unit, zone,
          Seq("field_1"), Seq(engine.Aggregate.Count, engine.Aggregate.Sum,
            engine.Aggregate.Min, engine.Aggregate.Max),
          groupByTags = Seq("tag"))
        .select(col("tag"), unix_micros(col("bucket")).as("b"),
          col("count_field_1"), col("sum_field_1"), col("min_field_1"),
          col("max_field_1"))
        .orderBy("tag", "b").collect()

      val want = engine.readTable("cal")
        .groupBy(col("tag"), truncUs(col("ts_us")).as("b"))
        .agg(count("field_1"), sum(col("field_1").cast("double")),
          min("field_1"), max("field_1"))
        .orderBy("tag", "b").collect()

      assert(got.nonEmpty && got.length == want.length, s"$unit/$zone buckets")
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1),
          s"$unit/$zone key")
        assert(g.getLong(2) == w.getLong(2), s"$unit/$zone COUNT at ${g.get(1)}")
        assert(g.getFloat(4) == w.getFloat(4) && g.getFloat(5) == w.getFloat(5),
          s"$unit/$zone MIN/MAX at ${g.get(1)}")
        assert(math.abs(g.getDouble(3) - w.getDouble(3)) <=
          math.abs(w.getDouble(3)) * 1e-5 + 1e-9, s"$unit/$zone SUM at ${g.get(1)}")
      }
    }

    // Range edges that split months mid-way: the edge buckets must
    // aggregate only in-range points.
    val lo = java.time.Instant.parse("2024-02-25T07:13:00Z")
    val hi = java.time.Instant.parse("2024-03-20T15:47:00Z")
    val gotR = engine.readTimeSeriesTableTruncated("cal", "MONTH", "UTC",
        Seq("field_1"), Seq(engine.Aggregate.Count, engine.Aggregate.Sum),
        groupByTags = Seq("tag"), startTime = Some(lo), endTime = Some(hi))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        col("count_field_1"), col("sum_field_1"))
      .orderBy("tag", "b").collect()
    val (usLo, usHi) =
      (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)
    val wantR = engine.readTable("cal")
      .where(unix_micros(col("ts_us")) >= usLo &&
        unix_micros(col("ts_us")) <= usHi)
      .groupBy(col("tag"), unix_micros(date_trunc("MONTH", col("ts_us"))).as("b"))
      .agg(count("field_1"), sum(col("field_1").cast("double")))
      .orderBy("tag", "b").collect()
    assert(gotR.nonEmpty && gotR.length == wantR.length)
    gotR.zip(wantR).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) <=
        math.abs(w.getDouble(3)) * 1e-5)
    }
  }

  test("bucket partials match exploded points per bucket on every model shape") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE bp(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    // Linear+noise and random fields: Swing/PMC/MacaqueV segments with
    // residuals all occur.
    engine.write("bp", makePointsDf(1500, Seq("a", "b")))
    val meta = engine.dataFolder.metadata("bp")
    val segs = engine.dataFolder.segments("bp")
    val fields = Seq("field_1", "field_2")

    for ((b, lo, hi) <- Seq(
        (10000L, Option.empty[Long], Option.empty[Long]),
        (10000L, Some(33333L), Some(111111L)),
        (Long.MaxValue, Some(33333L), Option.empty[Long]))) {
      def key(r: Row) = (r.get(0).toString, r.getLong(1))
      val parts = GridView.bucketPartials(segs, meta, fields, b, lo, hi)
        .groupBy(col(SegmentSchema.FieldColumn),
          col("__graft_bucket").as("bk"))
        .agg(sum("__bp_cnt").as("n"), sum("__bp_sum").as("s"),
          min("__bp_min").as("mn"), max("__bp_max").as("mx"))
        .collect().map(r => key(r) ->
          (r.getLong(2), r.getDouble(3), r.getFloat(4), r.getFloat(5))).toMap
      val pts = GridView.explodedPoints(segs, meta, fields, lo, hi)
        .groupBy(col(SegmentSchema.FieldColumn),
          (col("__graft_ts") - pmod(col("__graft_ts"), lit(b))).as("bk"))
        .agg(count("__graft_value").as("n"),
          sum(col("__graft_value").cast("double")).as("s"),
          min("__graft_value").as("mn"), max("__graft_value").as("mx"))
        .collect().map(r => key(r) ->
          (r.getLong(2), r.getDouble(3), r.getFloat(4), r.getFloat(5))).toMap
      assert(parts.nonEmpty && parts.keySet == pts.keySet, s"bucket sets at $b")
      parts.foreach { case (k, (n, s, mn, mx)) =>
        val (n2, s2, mn2, mx2) = pts(k)
        assert(n == n2, s"count at $k width $b")
        assert(mn == mn2 && mx == mx2, s"min/max at $k width $b")
        assert(math.abs(s - s2) <= math.abs(s2).max(1.0) * 1e-9,
          s"sum at $k width $b")
      }
    }
  }

  test("seasonalProfile equals a gridded phase group-by") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE sp(ts_us TIMESTAMP, field_1 FIELD, " +
      "tag TAG)")
    // Step values (PMC runs straddling grain edges) at a 100us cadence.
    val rows = Seq("a", "b").flatMap { tag =>
      (1 to 3000).map(i => (i * 100L, (i / 37).toFloat, tag))
    }
    import spark.implicits._
    engine.write("sp", rows.toDF("ts_us", "field_1", "tag"))
    val got = engine.seasonalProfile("sp", "field_1",
        java.time.Duration.ofMillis(10), phases = 5, Seq("tag"))
      .orderBy("tag", "phase").collect()
    val want = engine.readTable("sp")
      .groupBy(col("tag"),
        pmod(floor(unix_micros(col("ts_us")) / lit(10000.0)).cast("long"),
          lit(5L)).as("phase"))
      .agg(count(lit(1)).as("n"),
        sum(col("field_1").cast("double")).as("s"),
        min(col("field_1")).as("mn"), max(col("field_1")).as("mx"))
      .orderBy("tag", "phase").collect()
    assert(got.length == want.length && got.length == 10)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(1) == w.getLong(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) <=
        1e-9 * math.max(1.0, math.abs(w.getDouble(3))))
      assert(g.getFloat(4) == w.getFloat(4) && g.getFloat(5) == w.getFloat(5))
    }
  }

  test("ewmaSmooth and correlationMatrix match windowed references") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ew(ts_us TIMESTAMP, field_1 FIELD, " +
      "tag TAG)")
    // Per-tag phase-shifted waves + a pseudo-random component: pair
    // correlations spread across (-1, 1) instead of collapsing to ±1.
    val rows = Seq("a", "b", "c", "d").flatMap { tag =>
      val salt = tag.hashCode % 7
      (1 to 1200).map { i =>
        (i * 100L, (math.sin(i * 0.01 + salt) * 50.0 +
          ((i * 2654435761L + salt) % 97L).toDouble).toFloat, tag)
      }
    }
    import spark.implicits._
    engine.write("ew", rows.toDF("ts_us", "field_1", "tag"))
    val bucketUs = 10000L
    val bucket = java.time.Duration.ofMillis(10)
    def floorB(c: org.apache.spark.sql.Column) = c - pmod(c, lit(bucketUs))

    // Reference bucket means from the reconstructed point stream.
    val means = engine.readTable("ew")
      .select(col("tag"), floorB(unix_micros(col("ts_us"))).as("b"),
        col("field_1").cast("double").as("v"))
      .groupBy("tag", "b").agg((sum(col("v")) / count(lit(1))).as("a"))

    // EWMA: replay the same truncated kernel over the reference means.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tag").orderBy("b")
    val terms = (0 until 4).map { j =>
      val x = if (j == 0) col("a") else lag(col("a"), j).over(w)
      val wj = 0.5 * math.pow(0.5, j)
      (when(x.isNotNull, x * lit(wj)).otherwise(lit(0.0)),
        when(x.isNotNull, lit(wj)).otherwise(lit(0.0)))
    }
    val ref = means.select(col("tag"), col("b"),
        (terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _)).as("e"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val got = engine.ewmaSmooth("ew", "field_1", bucket, alpha = 0.5,
        lookback = 4, groupByTags = Seq("tag"))
      .select(col("tag"), unix_micros(col("bucket")).as("b"),
        col("ewma_field_1"))
      .collect()
    assert(got.length == ref.size)
    got.foreach { r =>
      val e = ref((r.getString(0), r.getLong(1)))
      assert(math.abs(r.getDouble(2) - e) <= 1e-9 * math.max(1.0, math.abs(e)),
        s"ewma mismatch at ${r.getString(0)}/${r.getLong(1)}")
    }

    // correlationMatrix vs Spark's own corr over the reference means.
    val m1 = means.select(col("tag").as("t1"), col("b").as("b1"),
      col("a").as("x"))
    val m2 = means.select(col("tag").as("t2"), col("b").as("b2"),
      col("a").as("y"))
    val refCorr = m1.join(m2, col("b1") === col("b2") && col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(corr(col("x"), col("y")).as("c"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val gotCorr = engine
      .correlationMatrix("ew", "field_1", bucket, "tag").collect()
    assert(gotCorr.length == refCorr.size && gotCorr.length == 6)
    gotCorr.foreach { r =>
      val (c, n) = refCorr((r.getString(0), r.getString(1)))
      assert(r.getLong(2) == n)
      assert(math.abs(r.getDouble(3) - c) <= 1e-6,
        s"corr mismatch for ${r.getString(0)}/${r.getString(1)}")
    }
  }

  test("resampled reads densify gaps and fill per policy") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE rs(ts_us TIMESTAMP, f FIELD, tag TAG)")
    import spark.implicits._
    // 1ms buckets; tag a has points in buckets 0,1,4,5 (2,3 are gaps),
    // tag b only in 2,3 — spans are per group.
    val rows = Seq(
      (100L, 1.0f, "a"), (200L, 2.0f, "a"),
      (1100L, 3.0f, "a"),
      (4100L, 4.0f, "a"), (5900L, 5.0f, "a"),
      (2100L, 6.0f, "b"), (3100L, 7.0f, "b"))
    engine.write("rs", rows.toDF("ts_us", "f", "tag"))

    def run(fill: engine.FillPolicy) =
      engine.readTimeSeriesTableResampled("rs", java.time.Duration.ofMillis(1),
          Seq("f"), Seq(engine.Aggregate.Count, engine.Aggregate.Avg),
          groupByTags = Seq("tag"), fill = fill)
        .select(col("tag"), unix_micros(col("bucket")).as("b"),
          col("count_f"), col("avg_f"))
        .orderBy("tag", "b").collect()

    val nulls = run(engine.FillPolicy.Nulls)
    // a: buckets 0..5 densified (6 rows); b: 2..3 (2 rows).
    assert(nulls.length == 8)
    assert(nulls.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(
      ("a", 0L), ("a", 1000L), ("a", 2000L), ("a", 3000L), ("a", 4000L),
      ("a", 5000L), ("b", 2000L), ("b", 3000L)))
    val gapA = nulls.filter(r => r.getString(0) == "a" &&
      (r.getLong(1) == 2000L || r.getLong(1) == 3000L))
    assert(gapA.forall(r => r.isNullAt(2) && r.isNullAt(3)),
      "Nulls fill must leave gap aggregates NULL")
    val a0 = nulls.find(r => r.getString(0) == "a" && r.getLong(1) == 0L).get
    assert(a0.getLong(2) == 2L && math.abs(a0.getDouble(3) - 1.5) < 1e-9)

    val locf = run(engine.FillPolicy.Locf)
    assert(locf.length == 8)
    val l = locf.map(r => ((r.getString(0), r.getLong(1)),
      (r.getLong(2), r.getDouble(3)))).toMap
    assert(l(("a", 2000L)) == ((1L, 3.0)) && l(("a", 3000L)) == ((1L, 3.0)),
      "Locf must carry bucket 1's aggregates across the gap")
    assert(l(("a", 4000L)) == ((1L, 4.0)), "observed buckets keep their own values")
    assert(l(("b", 2000L)) == ((1L, 6.0)) && l(("b", 3000L)) == ((1L, 7.0)))

    val interp = run(engine.FillPolicy.Interp)
    assert(interp.length == 8)
    val gapI = interp.filter(r => r.getString(0) == "a" &&
      (r.getLong(1) == 2000L || r.getLong(1) == 3000L))
    assert(gapI.forall(_.isNullAt(2)),
      "Interp must leave integral counts NULL in gaps")
    val i = interp.map(r => ((r.getString(0), r.getLong(1)),
      if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    // prev observed (1000, avg 3.0), next observed (4000, avg 4.0):
    // 2000 -> 3 + 1*(1/3), 3000 -> 3 + 1*(2/3), weighted by bucket distance.
    assert(math.abs(i(("a", 2000L)) - (3.0 + 1.0 / 3)) < 1e-9)
    assert(math.abs(i(("a", 3000L)) - (3.0 + 2.0 / 3)) < 1e-9)
    assert(math.abs(i(("a", 1000L)) - 3.0) < 1e-9 &&
      math.abs(i(("a", 4000L)) - 4.0) < 1e-9,
      "observed buckets keep their exact values under Interp")
  }

  test("multi-aggregate read answers all kinds from one pass") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE magg(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(1200, Seq("a", "b"))
    engine.write("magg", df)

    // Segment-native: one call returns count/min/max/sum/avg together.
    val all = engine.readTimeSeriesTableMulti("magg", Seq("field_1"),
      Seq(engine.Aggregate.Count, engine.Aggregate.Min, engine.Aggregate.Max,
        engine.Aggregate.Sum, engine.Aggregate.Avg))
    assert(all.columns.toSeq == Seq("count_field_1", "min_field_1",
      "max_field_1", "sum_field_1", "avg_field_1"))
    val row = all.collect().head
    val exp = df.agg(count("field_1"), min("field_1"), max("field_1"),
      sum(col("field_1").cast("double")), avg(col("field_1").cast("double")))
      .collect().head
    assert(row.getLong(0) == exp.getLong(0))
    assert(row.getFloat(1) == exp.getFloat(1))
    assert(row.getFloat(2) == exp.getFloat(2))
    assert(math.abs(row.getDouble(3) - exp.getDouble(3)) <=
      math.abs(exp.getDouble(3)) * 1e-9)
    assert(math.abs(row.getDouble(4) - exp.getDouble(4)) <=
      math.abs(exp.getDouble(4)) * 1e-9)

    // Tag-grouped multi-aggregate, still one grouped segment aggregation.
    val grouped = engine.readTimeSeriesTableMulti("magg", Seq("field_1"),
      Seq(engine.Aggregate.Count, engine.Aggregate.Min, engine.Aggregate.Max),
      groupByTags = Seq("tag"))
    assert(grouped.columns.toSeq ==
      Seq("tag", "count_field_1", "min_field_1", "max_field_1"))
    val g = grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ge = df.groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g == ge)

    // Hybrid ranged multi-aggregate over both fields from one pass.
    val bounds = df.agg(min("ts_us"), max("ts_us")).collect().head
    val lo = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 5
    val hi = bounds.getLong(0) + 4 * (bounds.getLong(1) - bounds.getLong(0)) / 5
    val loI = java.time.Instant.ofEpochSecond(lo / 1000000L, lo % 1000000L * 1000L)
    val hiI = java.time.Instant.ofEpochSecond(hi / 1000000L, hi % 1000000L * 1000L)
    val ranged = engine.readTimeSeriesTableMulti("magg", Seq("field_1", "field_2"),
      Seq(engine.Aggregate.Count, engine.Aggregate.Sum),
      startTime = Some(loI), endTime = Some(hiI))
    assert(ranged.columns.toSeq == Seq("count_field_1", "count_field_2",
      "sum_field_1", "sum_field_2"))
    val r = ranged.collect().head
    val re = df.where(col("ts_us") >= lo && col("ts_us") <= hi).agg(
      count("field_1"), count("field_2"),
      sum(col("field_1").cast("double")), sum(col("field_2").cast("double")))
      .collect().head
    assert(r.getLong(0) == re.getLong(0) && r.getLong(1) == re.getLong(1))
    assert(math.abs(r.getDouble(2) - re.getDouble(2)) <=
      math.abs(re.getDouble(2)) * 1e-9)
    assert(math.abs(r.getDouble(3) - re.getDouble(3)) <=
      math.abs(re.getDouble(3)) * 1e-9)
  }

  test("hybrid multi-field ranged aggregates compute boundary partials per field") {
    // Regression: per-field segments straddle the range edges at different
    // timestamps; assembling boundary points into multivariate rows drops
    // any timestamp missing one field, losing the other field's partials.
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE hmf(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(1500, Seq("a", "b"))
    engine.write("hmf", df)

    val bounds = df.agg(min("ts_us"), max("ts_us")).collect().head
    val lo = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 5
    val hi = bounds.getLong(0) + 4 * (bounds.getLong(1) - bounds.getLong(0)) / 5
    val loI = java.time.Instant.ofEpochSecond(lo / 1000000L, lo % 1000000L * 1000L)
    val hiI = java.time.Instant.ofEpochSecond(hi / 1000000L, hi % 1000000L * 1000L)

    val expected = df.where(col("ts_us") >= lo && col("ts_us") <= hi).agg(
      count("field_1"), sum(col("field_1").cast("double")),
      count("field_2"), sum(col("field_2").cast("double"))).collect().head

    val counts = engine.readTimeSeriesTable("hmf", Seq("field_1", "field_2"),
      engine.Aggregate.Count, startTime = Some(loI), endTime = Some(hiI))
      .collect().head
    assert(counts.getLong(0) == expected.getLong(0),
      "multi-field ranged COUNT of field_1 must be exact")
    assert(counts.getLong(1) == expected.getLong(2),
      "multi-field ranged COUNT of field_2 must be exact")

    val sums = engine.readTimeSeriesTable("hmf", Seq("field_1", "field_2"),
      engine.Aggregate.Sum, startTime = Some(loI), endTime = Some(hiI))
      .collect().head
    assert(math.abs(sums.getDouble(0) - expected.getDouble(1)) <=
      math.abs(expected.getDouble(1)) * 1e-9)
    assert(math.abs(sums.getDouble(1) - expected.getDouble(3)) <=
      math.abs(expected.getDouble(3)) * 1e-9)
  }

  test("tag filters on a column that is not a tag fail with a clear message") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE tk(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("tk", makePointsDf(200, Seq("a", "b")))
    // A segment-relation column must not silently filter segments (it
    // would count only one model type), and a field name must not reach
    // the segment relation as an unresolvable column.
    val misuses: Seq[() => Any] = Seq(
      () => engine.thresholdCount("tk", "field_1", 0.0,
        tagFilters = Map("model_type_id" -> "1")),
      () => engine.thresholdCount("tk", "field_1", 0.0,
        tagFilters = Map("field_2" -> "1")),
      () => engine.readTimeSeriesTable("tk", Seq("field_1"),
        engine.Aggregate.Count,
        tagInFilters = Map("model_type_id" -> Seq("1", "2"))),
      () => engine.timeGapStats("tk", java.time.Duration.ofSeconds(1),
        tagFilters = Map("field_1" -> "1")))
    misuses.foreach { misuse =>
      val e = intercept[IllegalArgumentException](misuse())
      assert(e.getMessage.contains("is not a tag of tk"), e.getMessage)
    }
    val n = engine.thresholdCount("tk", "field_1", Double.NegativeInfinity,
      tagFilters = Map("tag" -> "a")).collect().head.getLong(1)
    assert(n == 200L)
  }

  test("a time bound beyond the microsecond range fails instead of pruning") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE tb(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("tb", makePointsDf(200, Seq("a")))
    def count(start: Option[java.time.Instant],
        end: Option[java.time.Instant]): Long =
      engine.readTimeSeriesTable("tb", Seq("field_1"), engine.Aggregate.Count,
        startTime = start, endTime = end).collect().head.getLong(0)
    // Instant.MAX / Instant.MIN as open bounds overflow epoch µs: wrapped,
    // they would prune every segment and answer 0 instead of failing.
    for ((start, end) <- Seq((scala.None, Some(java.time.Instant.MAX)),
        (Some(java.time.Instant.MIN), scala.None))) {
      val e = intercept[ArithmeticException](count(start, end))
      assert(e.getMessage.contains("overflow"), e.getMessage)
    }
    assert(count(Some(java.time.Instant.EPOCH),
      Some(java.time.Instant.parse("9999-12-31T23:59:59Z"))) == 200L)
  }

  test("time-range query prunes segments and filters exactly") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ranget(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(1000, Seq("a"))
    engine.write("ranget", df)

    val bounds = df.agg(min("ts_us"), max("ts_us")).collect().head
    val lo = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 4
    val hi = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2

    val got = engine.readTimeSeriesTable("ranget",
      startTime = Some(java.time.Instant.ofEpochSecond(lo / 1000000L, lo % 1000000L * 1000L)),
      endTime = Some(java.time.Instant.ofEpochSecond(hi / 1000000L, hi % 1000000L * 1000L)))
      .count()
    val expected = df.where(col("ts_us") >= lo && col("ts_us") <= hi).count()
    assert(got == expected)
  }

  test("sql surface over registered views with truncate") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE sqlt(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("sqlt", makePointsDf(200, Seq("a", "b")))
    val n = engine.sql("SELECT tag, COUNT(*) AS c FROM sqlt GROUP BY tag ORDER BY tag")
      .collect()
    assert(n.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(n.forall(_.getLong(1) == 200L))

    engine.sql("TRUNCATE sqlt")
    assert(engine.sql("SELECT * FROM sqlt").count() == 0)
    assert(engine.tables() == Seq("sqlt"))
  }

  test("normal tables write and read through the catalog") {
    val engine = newEngine()
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    engine.create(TableMetadata("plain", "normal", Seq.empty, schema.json))
    engine.write("plain", Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    assert(engine.readTable("plain").count() == 2)
    assert(engine.sql("SELECT MAX(k) FROM plain").collect().head.getLong(0) == 2L)
  }

  test("bulk import and export round-trip through parquet") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE bulk(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    val df = makePointsDf(200, Seq("a"))
    val src = java.nio.file.Files.createTempDirectory("graft_bulk_in").toString
    df.write.mode("overwrite").parquet(src)
    engine.importParquet("bulk", src)
    assert(engine.readTable("bulk").count() == 200)

    val out = java.nio.file.Files.createTempDirectory("graft_bulk_out") + "/export"
    engine.exportParquet("bulk", out)
    assert(spark.read.parquet(out).count() == 200)
  }

  test("segment copy between matching tables") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE src(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.sql("CREATE TIME SERIES TABLE dst(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("src", makePointsDf(300, Seq("a")))
    engine.copyTimeSeriesTable("src", "dst")
    assert(engine.readTable("dst").count() == engine.readTable("src").count())
    engine.move("src", "dst")
    assert(engine.readTable("src").count() == 0)
  }

  test("vacuum removes stale uncommitted artifacts, never committed data") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE vt(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engine.write("vt", makePointsDf(100, Seq("a")))
    val before = engine.readTable("vt").count()

    // Plant a stale uncommitted artifact and a fresh one.
    val tableDir = new java.io.File(engine.dataFolder.tableDir("vt"))
    val stale = new java.io.File(tableDir, "_temporary_job42")
    stale.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 10L * 86400 * 1000)
    val fresh = new java.io.File(tableDir, "_temporary_job43")
    fresh.mkdirs()

    engine.vacuum("vt") // default 7-day retention, as in the reference
    assert(!stale.exists(), "stale temporary artifact must be removed")
    assert(fresh.exists(), "artifacts within retention must survive")
    assert(engine.readTable("vt").count() == before,
      "vacuum must never delete committed data")

    engine.sql("VACUUM vt RETAIN 0")
    assert(!fresh.exists(), "RETAIN 0 removes all uncommitted artifacts")
    assert(engine.readTable("vt").count() == before)
  }

  test("copies move data across data folders without recompression") {
    val engineA = newEngine()
    val engineB = newEngine()
    engineA.sql("CREATE TIME SERIES TABLE xf(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engineB.sql("CREATE TIME SERIES TABLE xf(ts_us TIMESTAMP, field_1 FIELD, " +
      "field_2 FIELD, tag TAG)")
    engineA.write("xf", makePointsDf(300, Seq("a")))
    engineA.copyTimeSeriesTable("xf", "xf", targetEngine = engineB)
    assert(engineB.readTable("xf").count() == 300)
    // Segment-level: identical segment counts, no re-fit.
    assert(engineB.dataFolder.segments("xf").count() ==
      engineA.dataFolder.segments("xf").count())

    // SQL-result copy into a normal table of the other folder.
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    engineB.create(TableMetadata("xstats", "normal", Seq.empty, schema.json))
    engineA.copy("SELECT tag, COUNT(*) AS n FROM xf GROUP BY tag", "xstats",
      target = engineB)
    assert(engineB.readTable("xstats").count() == 1)
  }

  test("timeGapStats matches a lag() over reconstructed points") {
    val engine = newEngine()
    engine.sql(
      "CREATE TIME SERIES TABLE gaps(ts_us TIMESTAMP, field_1 FIELD, tag TAG)")
    // Series a: regular spacing with one large hole (forces a segment
    // break or an irregular codec — either way the gap must surface).
    // Series b: a single point — no deltas, max_gap_us must be NULL.
    import spark.implicits._
    val a = (0 until 300).map(i => (i * 1000L, i.toFloat, "a")) ++
      (0 until 300).map(i => (10_000_000L + i * 1000L, i.toFloat, "a"))
    val b = Seq((42L, 1.0f, "b"))
    engine.write("gaps", (a ++ b).toDF("ts_us", "field_1", "tag"))

    val got = engine.timeGapStats("gaps", java.time.Duration.ofMillis(5),
        groupByTags = Seq("tag"))
      .orderBy("tag").collect()

    // Oracle: lag() over the gridded view.
    val oracle = engine.readTable("gaps")
      .select(col("tag"), unix_micros(col("ts_us")).as("us"))
      .withColumn("delta", col("us") - lag(col("us"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("tag").orderBy("us")))
      .groupBy("tag")
      .agg(max("delta").as("max_gap_us"),
        coalesce(sum(when(col("delta") > 5000L, 1L)), lit(0L)).as("n_over"))
      .orderBy("tag").collect()

    assert(got.length == 2 && oracle.length == 2)
    assert(got(0).getLong(1) == oracle(0).getLong(1))
    assert(got(0).getLong(2) == oracle(0).getLong(2))
    assert(got(0).getLong(1) == 10_000_000L - 299_000L)
    assert(got(1).isNullAt(1) && oracle(1).isNullAt(1))
    assert(got(1).getLong(2) == 0L)

    // Global (ungrouped) row: the window stays per-series, so series b's
    // lone point contributes no cross-series gap.
    val global = engine.timeGapStats("gaps", java.time.Duration.ofMillis(5))
      .collect().head
    assert(global.getLong(0) == 10_000_000L - 299_000L)
    assert(global.getLong(1) == oracle(0).getLong(2))
  }

  test("readTableChanges attributes appended points to their commits") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ch(ts TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    def batch(offset: Int, n: Int) = (0 until n)
      .map(i => (1700000000000000L + (offset + i) * 1000000L,
        (offset + i).toFloat, "t0"))
      .toDF("ts", "v", "tag")
    def head = TableManifest.latest(engine.dataFolder.fileSystem,
      engine.dataFolder.tableDir("ch")).get.version
    engine.write("ch", batch(0, 50)); val v1 = head
    engine.write("ch", batch(50, 30)); val v2 = head
    engine.sql("OPTIMIZE ch"); val vOpt = head
    assert(vOpt == v2 + 1, "OPTIMIZE must commit a compaction version")
    engine.write("ch", batch(80, 20)); val v3 = head

    // Every appended point exactly once, attributed to its commit; the
    // compaction version contributes nothing (rewrites, dataChange=false).
    val all = engine.readTableChanges("ch", 0L, v3)
      .select(col("_commit_version"), unix_micros(col("ts")).as("us"), col("v"))
      .collect()
    assert(all.length == 100)
    val byVersion = all.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byVersion == Map(v1 -> 50, v2 -> 30, v3 -> 20))
    assert(all.filter(_.getLong(0) == v3).map(_.getFloat(2)).sorted.toSeq ==
      (80 until 100).map(_.toFloat),
      "the grid must reconstruct each commit's exact values")

    // Incremental windows compose and the compaction window is empty.
    assert(engine.readTableChanges("ch", v2, v3).count() == 20)
    assert(engine.readTableChanges("ch", v2, vOpt).count() == 0)

    // A version beyond head is a clear error, not an empty result.
    assertThrows[IllegalArgumentException] {
      engine.readTableChanges("ch", 0L, v3 + 99L)
    }

    // Rollback re-publishes files compaction had swapped out: a window
    // crossing it re-delivers those points (forward-written history).
    engine.rollback("ch", v2); val vRb = head
    assert(engine.readTableChanges("ch", v3, vRb).count() == 80)
  }
}
