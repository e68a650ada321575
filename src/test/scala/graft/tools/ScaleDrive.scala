package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tsdb.Engine

/** Scale smoke: ingest N synthetic points (default 10M) into a time series
  * table, then drive the query surface — segment-native aggregates, hybrid
  * range aggregate, tag group-by, gridded range scan — printing wall times
  * and checking counts. Exercises the shapes that must survive a 100 TB
  * cluster: one arrange shuffle for ingest, metadata-only aggregates,
  * boundary-only reconstruction.
  *
  * Run: sbt 'Test/runMain graft.tools.ScaleDrive [nPoints] [nSeries]'
  */
object ScaleDrive {
  def main(args: Array[String]): Unit = {
    val nPoints = if (args.nonEmpty) args(0).toLong else 10000000L
    val nSeries = if (args.length > 1) args(1).toInt else 1000
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val engine = new Engine(spark, root)
    engine.sql("CREATE TIME SERIES TABLE big(ts TIMESTAMP, v FIELD(1.0%), tag TAG)")

    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // Synthetic: nSeries tags, regular 1s spacing, smooth value (PMC/Swing
    // friendly with noise bursts to exercise MacaqueV).
    val points = spark.range(nPoints)
      .select(
        (lit(1700000000000000L) + (col("id") / nSeries).cast("long") * 1000000L)
          .as("ts"),
        (sin(col("id") / 5000.0) * 100.0 +
          when(pmod(col("id"), lit(997)) === 0, rand(7) * 50).otherwise(0.0))
          .cast("float").as("v"),
        concat(lit("s"), pmod(col("id"), lit(nSeries)).cast("string")).as("tag"))

    timed("ingest (compress+write)") {
      engine.write("big", points)
    }
    val nSegs = timed("segment count") {
      engine.dataFolder.segments("big").count()
    }
    println(f"  segments: $nSegs%,d for $nPoints%,d points " +
      f"(${nPoints.toDouble / nSegs}%.1f pts/segment)")

    val n = timed("segment-native COUNT") {
      engine.readTimeSeriesTable("big", Seq("v"), engine.Aggregate.Count)
        .collect().head.getLong(0)
    }
    assert(n == nPoints, s"COUNT $n != $nPoints")

    timed("segment-native AVG") {
      engine.readTimeSeriesTable("big", Seq("v"), engine.Aggregate.Avg)
        .collect().head.getDouble(0)
    }

    val varSamp = timed("segment-native VAR_SAMP") {
      engine.readTimeSeriesTable("big", Seq("v"), engine.Aggregate.VarSamp)
        .collect().head.getDouble(0)
    }
    timed("gridded var control") {
      val ctrl = engine.readTable("big").agg(var_samp(col("v")))
        .collect().head.getDouble(0)
      assert(math.abs(varSamp - ctrl) <= math.abs(ctrl) * 1e-9,
        s"var_samp $varSamp != gridded $ctrl")
    }

    val thr = timed("segment-native threshold cnt") {
      engine.thresholdCount("big", "v", 50.0).collect().head
    }
    println(f"  above 50: ${thr.getLong(0)}%,d of ${thr.getLong(1)}%,d")
    timed("gridded threshold control") {
      val ctrl = engine.readTable("big")
        .agg(coalesce(sum(when(col("v") > 50.0, 1L)), lit(0L)),
          count(lit(1))).collect().head
      assert(thr.getLong(0) == ctrl.getLong(0), "threshold in mismatch")
      assert(thr.getLong(1) == ctrl.getLong(1), "threshold n mismatch")
    }

    val hist = timed("segment-native histogram w=20") {
      engine.valueHistogram("big", "v", 0.0, 20.0).orderBy("bin").collect()
    }
    println(f"  bins: ${hist.length}%,d")
    timed("gridded histogram control") {
      val ctrl = engine.readTable("big").where(!isnan(col("v")))
        .groupBy(floor(col("v").cast("double") / lit(20.0)).as("bin"))
        .agg(count(lit(1))).orderBy("bin").collect()
      assert(hist.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        ctrl.map(r => (r.getLong(0), r.getLong(1))).toSeq,
        "histogram mismatch vs gridded control")
    }

    val seasRows = timed("seasonal profile (24 phases)") {
      engine.seasonalProfile("big", "v", java.time.Duration.ofHours(1), 24,
        Seq("tag")).count()
    }
    println(f"  profile rows: $seasRows%,d")
    timed("gridded seasonal control") {
      val got = engine.seasonalProfile("big", "v",
          java.time.Duration.ofHours(1), 24)
        .orderBy("phase").collect()
      val ctrl = engine.readTable("big")
        .groupBy(pmod(floor(unix_micros(col("ts")) / lit(3600000000.0))
          .cast("long"), lit(24L)).as("phase"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast("double")).as("s"))
        .orderBy("phase").collect()
      assert(got.length == ctrl.length, "seasonal phase count mismatch")
      got.zip(ctrl).foreach { case (g, c) =>
        assert(g.getLong(0) == c.getLong(0) && g.getLong(1) == c.getLong(1),
          "seasonal count mismatch")
        assert(math.abs(g.getDouble(2) - c.getDouble(2)) <=
          1e-9 * math.max(1.0, math.abs(c.getDouble(2))),
          "seasonal sum mismatch")
      }
    }

    timed("SQL hour(ts) phase splice") {
      val df = engine.sql(
        "SELECT hour(ts) AS h, count(*) AS n, avg(v) AS a FROM big " +
          "GROUP BY hour(ts)")
      assert(df.queryExecution.executedPlan.toString.contains("__graft_bucket"),
        "hour(ts) must splice the bucketed grain plan")
      df.collect()
    }

    val ewmaRows = timed("ewma smooth (10-min buckets)") {
      engine.ewmaSmooth("big", "v", java.time.Duration.ofMinutes(10),
        alpha = 0.5, lookback = 6, Seq("tag")).count()
    }
    println(f"  ewma rows: $ewmaRows%,d")

    val panel = (0 until 100).map(i => s"s$i")
    val nPairs = timed("correlation matrix (100-panel)") {
      engine.correlationMatrix("big", "v", java.time.Duration.ofMinutes(1),
        "tag", tagInFilters = Map("tag" -> panel)).count()
    }
    println(f"  pairs: $nPairs%,d")
    timed("corr spot control (s0, s1)") {
      val got = engine.correlationMatrix("big", "v",
          java.time.Duration.ofMinutes(1), "tag",
          tagInFilters = Map("tag" -> Seq("s0", "s1")))
        .collect().head
      val means = engine.readTimeSeriesTableBucketed("big",
          java.time.Duration.ofMinutes(1), Seq("v"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Sum), Seq("tag"),
          tagInFilters = Map("tag" -> Seq("s0", "s1")))
        .select(col("tag"), col("bucket"),
          (col("sum_v") / col("count_v")).as("a"))
      val ctrl = means.where(col("tag") === "s0").select(col("bucket"), col("a").as("x"))
        .join(means.where(col("tag") === "s1").select(col("bucket"), col("a").as("y")),
          "bucket")
        .agg(corr(col("x"), col("y"))).collect().head.getDouble(0)
      assert(math.abs(got.getDouble(3) - ctrl) <= 1e-6,
        s"corr ${got.getDouble(3)} != control $ctrl")
    }

    val medians = timed("exact median per series (1000)") {
      engine.exactQuantiles("big", "v", Seq(0.5), Seq("tag"))
        .collect().map(r => r.getString(0) -> r.getFloat(2)).toMap
    }
    println(f"  medians: ${medians.size}%,d series")
    timed("median spot control (s0)") {
      val vals = engine.readTable("big").where(col("tag") === "s0")
        .select(col("v")).collect().map(_.getFloat(0)).sorted
      val want = vals(math.ceil(0.5 * vals.length).toInt - 1)
      assert(medians("s0") == want, s"median ${medians("s0")} != $want")
    }

    // 100k-GROUP quantile ladder probe: the distributed ladder's driver
    // state must stay flat in the group count (only the final answer is
    // ever collected). A fresh 100k-series table (20 pts each) bisects
    // per-series medians; driver heap is sampled around the run.
    locally {
      val qGroups = 100000
      engine.sql(
        "CREATE TIME SERIES TABLE wide(ts TIMESTAMP, v FIELD, tag TAG)")
      val widePts = spark.range(qGroups * 20L)
        .select(
          (lit(1700000000000000L) + (col("id") / qGroups).cast("long")
            * 1000000L).as("ts"),
          (sin(col("id") / 37.0) * 100.0).cast("float").as("v"),
          concat(lit("w"), pmod(col("id"), lit(qGroups)).cast("string"))
            .as("tag"))
      timed(f"ingest wide ($qGroups%,d series)") {
        engine.write("wide", widePts)
      }
      val rt = Runtime.getRuntime
      System.gc()
      val heapBefore = rt.totalMemory() - rt.freeMemory()
      val wideRows = timed(f"exact median, $qGroups%,d groups") {
        engine.exactQuantiles("wide", "v", Seq(0.5), Seq("tag")).count()
      }
      System.gc()
      val heapAfter = rt.totalMemory() - rt.freeMemory()
      assert(wideRows == qGroups, s"expected $qGroups medians, got $wideRows")
      println(f"  driver heap: ${heapBefore / 1048576}%,d MB -> " +
        f"${heapAfter / 1048576}%,d MB " +
        f"(delta ${(heapAfter - heapBefore) / 1048576}%,d MB)")
    }

    timed("first/last via SQL rewrite") {
      val r = engine.sql(
        "SELECT min_by(v, ts) AS f, max_by(v, ts) AS l FROM big")
        .collect().head
      println(f"  first=${r.getFloat(0)}%.4f last=${r.getFloat(1)}%.4f")
    }

    timed("tag-grouped COUNT (1000 groups)") {
      val rows = engine.readTimeSeriesTable("big", Seq("v"),
        engine.Aggregate.Count, groupByTags = Seq("tag")).collect()
      assert(rows.length == nSeries)
    }

    // M4 downsample (min/max/first/last per day per tag) over the edge
    // partials vs the gridded min_by/max_by control.
    val m4 = timed("M4 bucketed downsample (1d/tag)") {
      engine.readTimeSeriesTableBucketed("big", java.time.Duration.ofDays(1),
          Seq("v"), Seq(engine.Aggregate.Min, engine.Aggregate.Max,
            engine.Aggregate.First, engine.Aggregate.Last),
          groupByTags = Seq("tag")).collect()
        .map(r => ((r.getString(0), r.getTimestamp(1)),
          (r.getFloat(2), r.getFloat(3), r.getFloat(4), r.getFloat(5)))).toMap
    }
    timed("gridded M4 control (1d)") {
      val ctrl = engine.readTable("big")
        .groupBy(col("tag"), date_trunc("DAY", col("ts")).as("b"))
        .agg(min("v"), max("v"), min_by(col("v"), col("ts")),
          max_by(col("v"), col("ts")))
        .collect()
        .map(r => ((r.getString(0), r.getTimestamp(1)),
          (r.getFloat(2), r.getFloat(3), r.getFloat(4), r.getFloat(5)))).toMap
      assert(m4 == ctrl, "M4 partials diverge from gridded control")
    }

    // Gap detection: values never decode; regular segments answer O(1).
    timed("timeGapStats (per-tag, threshold 2s)") {
      val rows = engine.timeGapStats("big", java.time.Duration.ofSeconds(2),
        groupByTags = Seq("tag")).collect()
      assert(rows.length == nSeries)
    }

    val loUs = 1700000000000000L + (nPoints / nSeries / 3) * 1000000L
    val hiUs = 1700000000000000L + (2 * nPoints / nSeries / 3) * 1000000L
    def inst(us: Long) =
      java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L)
    timed("hybrid ranged COUNT") {
      val c = engine.readTimeSeriesTable("big", Seq("v"), engine.Aggregate.Count,
        startTime = Some(inst(loUs)), endTime = Some(inst(hiUs)))
        .collect().head.getLong(0)
      println(f"  ranged count: $c%,d")
    }

    timed("gridded range scan (count)") {
      engine.readTimeSeriesTable("big",
        startTime = Some(inst(loUs)), endTime = Some(inst(loUs + 3600000000L)))
        .count()
    }

    // Downsampling at scale, both regimes. Buckets narrower than the
    // segment span (1h here vs ~2.7h segments): everything is boundary,
    // but the decode generator emits per-bucket partials — O(buckets)
    // rows, never a 10M-point stream. Buckets wider than the span (1d):
    // segments are bucket-contained and answer from closed forms with no
    // decode at all.
    for ((label, dur, trunc) <- Seq(
        ("1h", java.time.Duration.ofHours(1), "HOUR"),
        ("1d", java.time.Duration.ofDays(1), "DAY"))) {
      val bucketed = timed(s"bucketed downsample ($label/tag)") {
        val rows = engine.readTimeSeriesTableBucketed("big", dur, Seq("v"),
          Seq(engine.Aggregate.Count, engine.Aggregate.Avg),
          groupByTags = Seq("tag")).collect()
        println(f"  buckets: ${rows.length}%,d")
        rows.map(r => ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
      }
      timed(s"gridded downsample control ($label)") {
        val rows = engine.readTable("big")
          .groupBy(col("tag"), date_trunc(trunc, col("ts")).as("b"))
          .agg(count("v")).collect()
        val ctrl = rows.map(r =>
          ((r.getString(0), r.getTimestamp(1)), r.getLong(2))).toMap
        assert(bucketed == ctrl, "bucketed counts diverge from gridded control")
      }
    }

    val bytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(s"$root/tables/big"))
    }
    println(f"  on disk: ${bytes / 1024.0 / 1024.0}%.1f MiB " +
      f"(${bytes.toDouble * 8 / nPoints}%.2f bits/value incl. timestamps+tags)")

    // ------------------------------- filtered aggregates / argmax at scale
    // The value-filtered stats family: sum/min/max + first/last exceedance
    // timestamps under a predicate, the OR outlier band, per-bucket
    // exceedances, and argmax — all segment-native, controls gridded.
    val fstats = timed("thresholdStats (v > 50, global)") {
      engine.thresholdStats("big", "v", Some(50.0)).collect().head
    }
    timed("gridded filtered-stats control") {
      val ctrl = engine.readTable("big").where(col("v") > 50.0f)
        .agg(count(lit(1)), sum(col("v").cast("double")), min("v"), max("v"),
          min("ts"), max("ts")).collect().head
      assert(fstats.getLong(0) == ctrl.getLong(0), "filtered count mismatch")
      assert(math.abs(fstats.getDouble(1) - ctrl.getDouble(1)) <=
        1e-9 * math.max(1.0, math.abs(ctrl.getDouble(1))),
        "filtered sum mismatch")
      assert(fstats.getFloat(2) == ctrl.getFloat(2) &&
        fstats.getFloat(3) == ctrl.getFloat(3), "filtered min/max mismatch")
      assert(fstats.getTimestamp(4) == ctrl.getTimestamp(4) &&
        fstats.getTimestamp(5) == ctrl.getTimestamp(5),
        "exceedance timestamps mismatch")
    }

    val band = timed("outlier band (v < -80 OR v > 80)") {
      engine.thresholdStatsMulti("big", "v",
        Seq((scala.None, Some(Math.nextDown(-80.0))), (Some(80.0), scala.None)),
        groupByTags = Seq("tag")).collect()
    }
    println(f"  band rows: ${band.length}%,d series")
    timed("gridded band spot control (s0)") {
      val got = band.find(_.getString(0) == "s0").get
      val ctrl = engine.readTable("big")
        .where(col("tag") === "s0" && (col("v") < -80.0f || col("v") > 80.0f))
        .agg(count(lit(1))).collect().head
      assert(got.getLong(1) == ctrl.getLong(0), "band count mismatch")
    }

    val daily = timed("bucketed exceedances (1h, v > 50)") {
      engine.thresholdStatsBucketed("big", "v",
        java.time.Duration.ofHours(1), Some(50.0)).collect()
    }
    println(f"  hourly buckets: ${daily.length}%,d")
    timed("gridded bucketed control") {
      val ctrl = engine.readTable("big").where(col("v") > 50.0f)
        .groupBy(date_trunc("HOUR", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      val got = daily.map(r => r.getTimestamp(0) -> r.getLong(1))
        .filter(_._2 > 0L).toMap
      assert(got == ctrl, "bucketed exceedance counts mismatch")
    }

    val am = timed("argExtremum max (1000 series)") {
      engine.argExtremum("big", "v", "max", Seq("tag")).collect()
    }
    assert(am.length == nSeries, "argmax row count")
    timed("gridded argmax spot control (s0)") {
      val got = am.find(_.getString(0) == "s0").get
      val mx = engine.readTable("big").where(col("tag") === "s0")
        .agg(max("v")).collect().head.getFloat(0)
      val t = engine.readTable("big")
        .where(col("tag") === "s0" && col("v") === mx)
        .agg(min("ts")).collect().head.getTimestamp(0)
      assert(got.getFloat(1) == mx && got.getTimestamp(2) == t,
        s"argmax (${got.getFloat(1)}, ${got.getTimestamp(2)}) != ($mx, $t)")
    }

    timed("SQL FILTER-clause splice") {
      val df = engine.sql(
        "SELECT count(*) AS n, count(*) FILTER (WHERE v > 50.0) AS n_hi, " +
          "sum(v) FILTER (WHERE v <= 50.0) AS s_lo FROM big")
      assert(!df.queryExecution.executedPlan.toString.contains("Generate"),
        "FILTER splice must not decode points")
      df.collect()
    }

    // ---------------------------------------------- pipeline ops at scale
    // 200k synthetic documents (40x the sf0.1 corpus) with planted
    // near-dup groups: MinHash candidates, exact verify, transitive
    // clustering, split assignment — the shapes that must hold at 100 TB.
    val nDocs = if (args.length > 2) args(2).toInt else 100000
    val vocab = Array("join", "hash", "row", "batch", "scan", "filter",
      "merge", "order", "vector", "line", "data", "column", "small", "slow",
      "customer", "spill", "probe", "build", "sort", "codec")
    val vocabCol = array(vocab.map(lit): _*)
    // Every block of 10 ids shares a base text; a per-id suffix word makes
    // them NEAR duplicates (not exact) — nDocs/10 planted clusters.
    val block = col("id") - pmod(col("id"), lit(10))
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 24).map(j =>
          element_at(vocabCol,
            (pmod(xxhash64(block, lit(j)), lit(20)) + 1).cast("int"))): _*)
          .as("base"),
        element_at(vocabCol,
          (pmod(xxhash64(col("id")), lit(20)) + 1).cast("int")).as("suffix"))
      .select(col("doc_id"), concat_ws(" ", col("base"), col("suffix")).as("text"))
      .cache()
    docs.count()

    val pairs = timed(f"minhash pairs ($nDocs%,d docs)") {
      val p = graft.ops.Dedup.minhashDuplicatePairs(
        docs, "doc_id", "text", threshold = 0.7,
        numHashes = 64, bands = 16, shingleK = 2).cache()
      println(f"  near-dup pairs: ${p.count()}%,d")
      p
    }
    timed("transitive clustering") {
      val clusters = graft.ops.Dedup.clusterDuplicates(pairs)
      val nClusters = clusters.select("cluster_id").distinct().count()
      println(f"  clusters: $nClusters%,d")
    }
    timed("split assignment + count") {
      graft.ops.Sampling.assignSplits(docs, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy("split").count().collect()
    }

    // -------------------------------------------- manifest layer at scale
    // A 100k-file live list (the 100 TB shape: ~1 GB per file) driven
    // through the delta + Parquet-checkpoint protocol: commits past the
    // first write O(changed) deltas, resolution reads one checkpoint plus
    // at most an interval of deltas — wall time must stay flat, not grow
    // with table size or history length.
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_manifest_scale")
        .toString
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nFiles = 100000
      val initial = (0 until nFiles).map(i => f"field_column=0/part-$i%06d.parquet")
      // Every file carries per-file stats (size + disjoint hour-long time
      // bounds), the Delta-AddFile-shaped payload the planner skips by.
      val initialStats = initial.zipWithIndex.map { case (rel, i) =>
        rel -> graft.tsdb.TableManifest.FileStats(
          1024L * 1024 * 1024, i * 3600_000000L, (i + 1) * 3600_000000L - 1)
      }.toMap
      timed(f"manifest checkpoint commit ($nFiles%,d files + stats)") {
        graft.tsdb.TableManifest.commit(fs, dir, stats = initialStats)(
          _ => initial)
      }
      timed("25 delta commits (+4 files each)") {
        (0 until 25).foreach { c =>
          graft.tsdb.TableManifest.commit(fs, dir) { live =>
            live ++ (0 until 4).map(j => f"field_column=0/new-$c%03d-$j.parquet")
          }
        }
      }
      val resolved = timed("head resolution (checkpoint + deltas)") {
        graft.tsdb.TableManifest.latest(fs, dir).get
      }
      assert(resolved.files.size == nFiles + 100,
        s"resolved ${resolved.files.size} files, expected ${nFiles + 100}")
      assert(resolved.fileStats.size == nFiles,
        "stats must survive the checkpoint + delta chain at scale")
      val sizes = new java.io.File(s"$dir/${graft.tsdb.TableManifest.DirName}")
        .listFiles().map(f => (f.getName, f.length()))
      val cpBytes = sizes.filter(_._1.endsWith(".parquet")).map(_._2).sum
      val deltaBytes = sizes.filter(s => s._1.endsWith(".json") &&
        !s._1.startsWith("c")).map(_._2).max
      println(f"  checkpoints: ${cpBytes / 1024.0}%.0f KiB total, " +
        f"largest delta JSON: ${deltaBytes / 1024.0}%.1f KiB")

      // Manifest data skipping + scan planning at the same scale, over
      // PHANTOM paths (none exists on disk): a narrow time range keeps 1
      // stats-ful file of 100,000 (the 100 stats-less delta adds are
      // conservatively kept — absent stats never skip), and planning the
      // pruned scan is pure driver CPU over manifest metadata — the
      // 100 TB contrast to an O(files) getFileStatus storm.
      val lo = 42000L * 3600_000000L
      val hi = lo + 3600_000000L - 1
      val kept = timed("time-range file skipping (100,100 files)") {
        resolved.files.filter { rel =>
          resolved.fileStats.get(rel)
            .forall(s => s.maxEndUs >= lo && s.minStartUs <= hi)
        }
      }
      println(f"  kept ${kept.size}%,d of ${resolved.files.size}%,d files " +
        "(1 in-range + 100 stats-less)")
      assert(kept.size == 101, s"expected 101 kept, got ${kept.size}")
      val base = new org.apache.hadoop.fs.Path(s"file:$dir/tables/phantom")
      val schema = graft.tsdb.SegmentSchema.forTags(Seq("tag"))
      val withSizes = resolved.files.map { rel =>
        (new org.apache.hadoop.fs.Path(base, rel),
          resolved.fileStats.get(rel).map(_.sizeBytes).getOrElse(1L))
      }
      timed("plan filtered scan over 100,100 phantom files") {
        val df = org.apache.spark.sql.graft.ManifestScan
          .parquetScan(spark, base, withSizes, schema, Some("field_column")).get
        df.where(org.apache.spark.sql.functions.col("end_time") >= lo)
          .queryExecution.executedPlan
      }
    }

    // ------------------------------------ deep version history (head hint)
    // 10k RETAINED versions (a week of frequent streaming commits before
    // VACUUM): head discovery and commits must ride the `_head` hint —
    // O(1) probes — never the O(history) directory listing, which is the
    // deleted-hint fallback measured last for contrast.
    {
      val dir = java.nio.file.Files.createTempDirectory("graft_manifest_deep")
        .toString
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nVersions = 10000
      timed(f"$nVersions%,d tiny commits") {
        (0 until nVersions).foreach { i =>
          graft.tsdb.TableManifest.commit(fs, dir)(
            _ => Seq(f"part-$i%06d.parquet"))
        }
      }
      def timeLatest(label: String): Unit = {
        val reads = 200
        val t0 = System.nanoTime()
        (0 until reads).foreach(_ => graft.tsdb.TableManifest.latest(fs, dir))
        println(f"  $label: ${(System.nanoTime() - t0) / 1e3 / reads}%.0f us/read")
      }
      timeLatest(f"latest() at $nVersions%,d versions (hinted)")
      timed(f"1 commit at $nVersions%,d-version head") {
        graft.tsdb.TableManifest.commit(fs, dir)(_ => Seq("part-head.parquet"))
      }
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/${graft.tsdb.TableManifest.DirName}/_head"), false)
      timeLatest("latest() after hint loss (listing fallback, self-heals)")
    }
    spark.stop()
  }
}
