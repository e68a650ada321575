package graft.tsdb

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DataGeneration

/** The manifest commit protocol: scans see exactly the committed snapshot —
  * a killed writer's partial Parquet output is invisible, TRUNCATE is an
  * atomic empty-snapshot commit, and VACUUM reclaims exactly the
  * unreachable files (orphans, quarantined data, superseded manifests)
  * while never touching live ones. Mirrors the guarantees of the
  * reference's Delta-backed table layer
  * (/root/reference/crates/modelardb_storage/src/data_folder/delta_table_writer.rs:42-260).
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def newEngine(): Engine =
    new Engine(spark, Files.createTempDirectory("graft_manifest").toString)

  private def makePointsDf(n: Int, tag: String) = {
    val rng = new scala.util.Random(7L)
    val ts = DataGeneration.generateTimestamps(n, irregular = false, rng)
    val vs = DataGeneration.generateValues(n, DataGeneration.Linear, Some(0.05f), rng)
    import spark.implicits._
    ts.indices.map(i => (ts(i), vs(i), tag)).toDF("ts_us", "v", "tag")
  }

  private def dataFileCount(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) {
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      } else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) 1L
      else 0L
    walk(new java.io.File(dir))
  }

  test("each append commits a new manifest snapshot; scans read only it") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE mt(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("mt", makePointsDf(300, "a"))
    val afterFirst = engine.readTable("mt").count()
    assert(afterFirst == 300)
    engine.write("mt", makePointsDf(200, "b"))
    assert(engine.readTable("mt").count() == 500)

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TableManifest.latest(fs, engine.dataFolder.tableDir("mt"))
    assert(snap.nonEmpty, "writes must publish a manifest")
    assert(snap.get.version == 2L, "two writes, two snapshot versions")
    assert(snap.get.files.nonEmpty && snap.get.files.forall(_.endsWith(".parquet")))
  }

  test("a killed writer's partial files stay invisible to scans") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE torn(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("torn", makePointsDf(300, "a"))
    val committed = engine.readTable("torn").count()

    // Simulate a mid-job death: a bare data file lands in the partition
    // directory (duplicate of a committed one, so it would double-count if
    // scanned) but the job never reaches its manifest commit.
    val tableDir = new java.io.File(engine.dataFolder.tableDir("torn"))
    val partDir = new java.io.File(tableDir, "field_column=0")
    val livePart = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(partDir, "part-99999-torn-write.parquet")
    java.nio.file.Files.copy(livePart.toPath, orphan.toPath)

    assert(engine.readTable("torn").count() == committed,
      "uncommitted parquet must not be scanned")

    // A later successful write must NOT resurrect the orphan.
    engine.write("torn", makePointsDf(100, "b"))
    assert(engine.readTable("torn").count() == committed + 100,
      "a later commit must not adopt another job's orphan")

    // VACUUM RETAIN 0 reclaims it; live data survives.
    orphan.setLastModified(System.currentTimeMillis() - 1000L)
    engine.sql("VACUUM torn RETAIN 0")
    assert(!orphan.exists(), "vacuum must reclaim unreferenced parquet")
    assert(engine.readTable("torn").count() == committed + 100,
      "vacuum must never delete live files")
  }

  test("truncate commits an empty snapshot; vacuum reclaims the quarantine") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE tq(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("tq", makePointsDf(300, "a"))
    val dir = engine.dataFolder.tableDir("tq")
    val filesBefore = dataFileCount(dir)
    assert(filesBefore > 0)

    engine.sql("TRUNCATE tq")
    assert(engine.readTable("tq").count() == 0, "scans see the empty snapshot")
    val quarantine = new java.io.File(dir, DataFolder.StaleDirName)
    assert(quarantine.isDirectory && quarantine.listFiles().nonEmpty,
      "truncated data is quarantined, not deleted under readers")

    // Young quarantine survives a default-retention vacuum...
    engine.vacuum("tq")
    assert(quarantine.listFiles().nonEmpty)
    // ...and RETAIN 0 reclaims it.
    quarantine.listFiles().foreach(_.setLastModified(
      System.currentTimeMillis() - 1000L))
    engine.sql("VACUUM tq RETAIN 0")
    assert(Option(quarantine.listFiles()).forall(_.isEmpty),
      "vacuum reclaims quarantined truncated data")

    // The table keeps working after reclamation.
    engine.write("tq", makePointsDf(50, "c"))
    assert(engine.readTable("tq").count() == 50)
  }

  test("vacuum drops superseded manifest versions but never the newest") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE mv(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("mv", makePointsDf(100, "a"))
    engine.write("mv", makePointsDf(100, "b"))
    engine.write("mv", makePointsDf(100, "c"))
    val manifestDir = new java.io.File(
      engine.dataFolder.tableDir("mv"), TableManifest.DirName)
    assert(manifestDir.listFiles().count(_.getName.endsWith(".json")) == 3)

    manifestDir.listFiles().foreach(_.setLastModified(
      System.currentTimeMillis() - 1000L))
    engine.sql("VACUUM mv RETAIN 0")
    val left = manifestDir.listFiles().filter(_.getName.endsWith(".json"))
    assert(left.map(_.getName).toSeq == Seq("v0000000003.json"),
      "only the newest manifest survives")
    assert(engine.readTable("mv").count() == 300)
  }

  test("snapshot reads and rollback ride the manifest history") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE tt(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("tt", makePointsDf(200, "a"))   // v1
    engine.write("tt", makePointsDf(150, "b"))   // v2
    assert(engine.readTable("tt").count() == 350)

    // Time travel: v1 sees only the first write.
    assert(engine.readTableVersion("tt", 1L).count() == 200)
    assert(engine.readTableVersion("tt", 2L).count() == 350)
    assertThrows[IllegalArgumentException] {
      engine.readTableVersion("tt", 99L).count()
    }

    // Rollback publishes v3 = v1's file list; head reads shrink, the
    // abandoned second write becomes a VACUUM-able orphan.
    engine.rollback("tt", 1L)
    assert(engine.readTable("tt").count() == 200)
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TableManifest.latest(fs, engine.dataFolder.tableDir("tt")).get
    assert(head.version == 3L, "rollback moves history forward")

    val dir = engine.dataFolder.tableDir("tt")
    val before = dataFileCount(dir)
    new java.io.File(dir).listFiles().foreach { p =>
      if (p.isDirectory && p.getName.startsWith("field_column"))
        p.listFiles().foreach(f => f.setLastModified(
          System.currentTimeMillis() - 1000L))
    }
    engine.sql("VACUUM tt RETAIN 0")
    assert(dataFileCount(dir) < before, "abandoned files reclaimed")
    assert(engine.readTable("tt").count() == 200, "live snapshot intact")

    // Writing after a rollback appends to the rolled-back state.
    engine.write("tt", makePointsDf(50, "c"))
    assert(engine.readTable("tt").count() == 250)
  }

  test("normal tables get the same commit protocol") {
    val engine = newEngine()
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    engine.create(TableMetadata("nrm", "normal", Seq.empty, schema.json))
    engine.write("nrm", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))

    // Orphan a file without committing it.
    val dir = new java.io.File(engine.dataFolder.tableDir("nrm"))
    val live = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(dir, "part-99999-dead-writer.parquet")
    java.nio.file.Files.copy(live.toPath, orphan.toPath)
    assert(engine.readTable("nrm").count() == 2,
      "normal-table scans read the committed snapshot only")

    orphan.setLastModified(System.currentTimeMillis() - 1000L)
    engine.vacuum("nrm", 0L)
    assert(!orphan.exists())
    assert(engine.readTable("nrm").count() == 2)
  }

  test("a torn manifest at the head is skipped over, not collided with") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE th(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("th", makePointsDf(100, "a")) // v1

    // A writer died mid-manifest-write: v2 exists but is unreadable.
    val manifestDir = new java.io.File(
      engine.dataFolder.tableDir("th"), TableManifest.DirName)
    java.nio.file.Files.writeString(
      new java.io.File(manifestDir, "v0000000002.json").toPath, "{torn")

    // Reads fall back to v1; the next commit claims v3, not v2 forever.
    assert(engine.readTable("th").count() == 100)
    engine.write("th", makePointsDf(50, "b"))
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TableManifest.latest(fs, engine.dataFolder.tableDir("th")).get
    assert(head.version == 3L, "commit must skip the torn claim")
    assert(engine.readTable("th").count() == 150)
  }

  test("large live lists commit deltas and read through Parquet checkpoints") {
    // Small thresholds exercise the at-scale protocol: lists past the
    // inline threshold are stored as delta manifests (base + add/remove)
    // with a full ZSTD-Parquet checkpoint sidecar every interval — commit
    // cost O(changed files), resolution cost one checkpoint + a few
    // deltas, regardless of history length or table size.
    val dir = Files.createTempDirectory("graft_cp").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commit(update: Seq[String] => Seq[String]) =
      TableManifest.commit(fs, dir, inlineThreshold = 5, checkpointInterval = 4)(update)

    val initial = (0 until 20).map(i => f"f$i%03d.parquet")
    commit(_ => initial) // v1: > threshold, no base -> checkpoint
    (20 until 32).foreach { i => commit(_ :+ f"f$i%03d.parquet") } // v2..v13
    commit(files => files.filterNot(_ == "f000.parquet")) // v14: a removal

    val expected = (1 until 32).map(i => f"f$i%03d.parquet")
    val head = TableManifest.latest(fs, dir).get
    assert(head.version == 14L)
    assert(head.files == expected, "delta chain must resolve the full list")

    // On-disk shapes: v1 and every interval multiple are checkpoints, the
    // rest are deltas; nothing inlines a 20+-entry list.
    def json(v: Long) = java.nio.file.Files.readString(
      new java.io.File(s"$dir/${TableManifest.DirName}", f"v$v%010d.json").toPath)
    assert(json(1).contains("\"checkpoint\""))
    assert(json(2).contains("\"base\"") && json(2).contains("\"add\""))
    assert(json(4).contains("\"checkpoint\""))
    assert(json(14).contains("\"remove\""))
    assert(!json(13).contains("\"files\""), "large lists must never inline")
    val sidecars = new java.io.File(s"$dir/${TableManifest.DirName}")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.nonEmpty && sidecars.forall(_.startsWith("c")))

    // Time travel resolves through the chain too.
    assert(TableManifest.snapshotAt(fs, dir, 3L).get.files ==
      initial ++ Seq("f020.parquet", "f021.parquet"))
  }

  test("retention never deletes a surviving delta's base chain") {
    val dir = Files.createTempDirectory("graft_cpv").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commit(update: Seq[String] => Seq[String]) =
      TableManifest.commit(fs, dir, inlineThreshold = 2, checkpointInterval = 100)(update)
    // v1 checkpoint (no base), v2..v6 deltas — the head's chain reaches all
    // the way back to v1, so EVERY version is load-bearing despite aging.
    commit(_ => Seq("a.parquet", "b.parquet", "c.parquet"))
    (0 until 5).foreach(i => commit(_ :+ s"d$i.parquet"))

    val manifestDir = new java.io.File(s"$dir/${TableManifest.DirName}")
    manifestDir.listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() - 10000L))
    val stale = TableManifest.staleVersionPaths(
      fs, dir, System.currentTimeMillis())
    assert(stale.isEmpty,
      s"the whole chain is reachable from the head, got stale=$stale")

    // A checkpoint mid-history cuts the chain: older versions (and the
    // orphaned sidecar of nothing) become reclaimable, the suffix survives.
    TableManifest.commit(fs, dir, inlineThreshold = 2, checkpointInterval = 1)(
      _ :+ "e.parquet") // v7: forced checkpoint
    TableManifest.commit(fs, dir, inlineThreshold = 2, checkpointInterval = 100)(
      _ :+ "f.parquet") // v8: delta based on v7
    manifestDir.listFiles().foreach(
      _.setLastModified(System.currentTimeMillis() - 10000L))
    val stale2 = TableManifest.staleVersionPaths(
      fs, dir, System.currentTimeMillis())
    val staleNames = stale2.map(_.getName).toSet
    assert((1L to 6L).forall(v => staleNames.contains(f"v$v%010d.json")),
      s"pre-checkpoint history must be reclaimable, got $staleNames")
    assert(!staleNames.contains("v0000000007.json") &&
      !staleNames.contains("v0000000008.json"))
    // v7's sidecar is still referenced -> must survive.
    val keptSidecars = manifestDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("c") && n.endsWith(".parquet"))
      .filterNot(n => staleNames.contains(n))
    assert(keptSidecars.exists(_.startsWith("c0000000007")))

    stale2.foreach(fs.delete(_, false))
    assert(TableManifest.latest(fs, dir).get.files.contains("f.parquet"),
      "the head must stay resolvable after reclamation")
  }

  test("OPTIMIZE compacts small files in one atomic swap, preserving data") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ct(ts_us TIMESTAMP, v FIELD, tag TAG)")
    // Many small appends = the streaming small-file shape.
    (0 until 6).foreach(i => engine.write("ct", makePointsDf(80, s"t$i")))
    val dir = engine.dataFolder.tableDir("ct")
    val before = engine.readTable("ct")
      .collect().map(_.toString).sorted.toSeq
    val filesBefore = dataFileCount(dir)
    assert(filesBefore >= 6)

    val (compacted, created) = engine.compact("ct", targetBytes = 64L * 1024 * 1024)
    assert(compacted >= 6 && created < compacted,
      s"expected a real reduction, got $compacted -> $created")
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TableManifest.latest(fs, dir).get
    assert(head.files.size == filesBefore - compacted + created)

    // Bytes are moved, never changed: the reconstructed table is identical.
    val after = engine.readTable("ct").collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction must not change a single value")

    // Time travel to the pre-compaction version still reads the originals.
    assert(engine.readTableVersion("ct", head.version - 1).count() == before.size)

    // The superseded originals are now orphans: VACUUM reclaims them once
    // aged, and the compacted table keeps answering exactly.
    new java.io.File(dir).listFiles().foreach { p =>
      if (p.isDirectory && p.getName.startsWith("field_column"))
        p.listFiles().foreach(_.setLastModified(System.currentTimeMillis() - 1000L))
    }
    engine.sql("VACUUM ct RETAIN 0")
    assert(dataFileCount(dir) == created.toLong,
      "only the compacted files survive vacuum")
    assert(engine.readTable("ct").collect().map(_.toString).sorted.toSeq == before)

    // SQL surface + appends after compaction keep working.
    engine.sql("OPTIMIZE ct TARGET 67108864") // nothing left to compact
    engine.write("ct", makePointsDf(40, "t9"))
    assert(engine.readTable("ct").count() == before.size + 40L)
  }

  test("multilingual tag values record bounds, skip safely, and still prune") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ml(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    // Tags from every script class, including the supplementary plane
    // (where Java String order and UTF-8 byte order DISAGREE) and the BMP
    // private-use region that sits between them in exactly one of the two
    // orders — a String-order bound comparison wrongly skips these.
    val tags = Seq("alpha", "zulu", "éclair", "жук", "中文値", "한글",
      "", "퟿", "𐀀𐀁", "🚀rocket", "😀", "🧪lab")
    val perTag = 60
    def rowsOf(tag: String, t: Int) =
      (0 until perTag).map(i => (1_000_000L * t + i * 1000L, i.toFloat, tag))
    // One append per tag (tag-disjoint files — the pruneable layout) plus
    // one interleaved append over all tags (a file whose bounds span
    // scripts, including across the UTF-16/UTF-8 disagreement boundary).
    tags.zipWithIndex.foreach { case (tag, t) =>
      engine.write("ml", rowsOf(tag, t).toDF("ts_us", "v", "tag"))
    }
    engine.write("ml", tags.zipWithIndex
      .flatMap { case (tag, t) => rowsOf(tag, t).map(r => (r._1 + 1L, r._2, tag)) }
      .toDF("ts_us", "v", "tag"))

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TableManifest.latest(fs, engine.dataFolder.tableDir("ml")).get
    // Bounds are recorded for multilingual values (pre-round-15 they were
    // dropped as non-ASCII, silently losing all skipping)…
    assert(head.files.nonEmpty &&
      head.files.forall(head.fileStats(_).tagBounds.contains("tag")),
      "multilingual tag bounds must be recorded for every file")
    // …round-trip the manifest JSON/checkpoint layer intact…
    head.files.foreach { f =>
      val (lo, hi) = head.fileStats(f).tagBounds("tag")
      assert(TagBounds.compare(lo, hi) <= 0, s"$f bounds inverted: [$lo, $hi]")
    }
    // …NEVER skip a file that holds the queried value (2 appends × 60
    // points per tag must all come back through the pruned scan)…
    tags.foreach { tag =>
      val n = engine.readTimeSeriesTable("ml", Seq("v"),
        engine.Aggregate.Count, tagFilters = Map("tag" -> tag))
        .collect().head.getLong(0)
      assert(n == 2L * perTag, s"tag [$tag]: expected ${2 * perTag}, got $n")
    }
    // …and pruning still happens: ingest range-partitions by tag, so some
    // value's file set is a strict subset of the table.
    val all = engine.dataFolder.segments("ml").inputFiles.length
    val prunedCounts = tags.map(tag => engine.dataFolder
      .segmentsPruned("ml", scala.None, scala.None, Map("tag" -> tag))
      .inputFiles.length)
    assert(prunedCounts.exists(_ < all),
      s"no tag value pruned anything ($prunedCounts of $all files)")
  }

  test("OPTIMIZE ZORDER clusters files by tag and sharpens file skipping") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE zc(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    // Every append interleaves ALL tags, so every file spans the whole
    // tag range and tag-equality skipping can prune nothing.
    def interleaved(loUs: Long) = (0 until 400).map(i =>
      (loUs + i * 1000L, i.toFloat, f"t${i % 8}%02d")).toDF("ts_us", "v", "tag")
    (0 until 4).foreach(i => engine.write("zc", interleaved(i * 1_000_000L)))
    val before = engine.readTable("zc").collect().map(_.toString).sorted.toSeq

    val all = engine.dataFolder.segments("zc").inputFiles.length
    val prunedBefore = engine.dataFolder
      .segmentsPruned("zc", scala.None, scala.None, Map("tag" -> "t03"))
      .inputFiles.length
    assert(prunedBefore == all,
      s"interleaved appends must defeat skipping ($prunedBefore of $all)")

    // Cluster into several tag-disjoint files (tiny target forces a
    // multi-file layout so disjointness is observable).
    engine.sql("OPTIMIZE zc ZORDER TARGET 8192")
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = TableManifest.latest(fs, engine.dataFolder.tableDir("zc")).get
    assert(head.files.size >= 2, "ZORDER should produce multiple files")
    assert(head.files.forall(head.fileStats(_).tagBounds.contains("tag")),
      "clustered outputs must carry per-file footer tag bounds")

    // Values are untouched; the scan now opens a strict subset of files.
    val after = engine.readTable("zc").collect().map(_.toString).sorted.toSeq
    assert(after == before, "clustering must not change a single value")
    val allAfter = engine.dataFolder.segments("zc").inputFiles.length
    val prunedAfter = engine.dataFolder
      .segmentsPruned("zc", scala.None, scala.None, Map("tag" -> "t03"))
      .inputFiles.length
    assert(prunedAfter < allAfter,
      s"clustered layout must skip files ($prunedAfter of $allAfter)")
    val cnt = engine.readTimeSeriesTable("zc", Seq("v"),
      engine.Aggregate.Count, tagFilters = Map("tag" -> "t03"))
      .collect().head.getLong(0)
    assert(cnt == 200L, s"expected 200 t03 points, got $cnt")

    // Time travel to the pre-cluster version still reads the originals.
    assert(engine.readTableVersion("zc", head.version - 1)
      .count() == before.size)

    // ZORDER on a tag-less table is rejected.
    engine.sql("CREATE TIME SERIES TABLE zn(ts_us TIMESTAMP, v FIELD)")
    intercept[IllegalArgumentException] {
      engine.compact("zn", clusterByTags = true)
    }
  }

  test("compaction aborts if its inputs vanish before the swap commits") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE cc(ts_us TIMESTAMP, v FIELD, tag TAG)")
    (0 until 3).foreach(i => engine.write("cc", makePointsDf(50, s"t$i")))
    val dir = engine.dataFolder.tableDir("cc")
    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Steal the compaction's inputs between its snapshot read and its
    // commit: TRUNCATE empties the live set, so the swap MUST abort
    // rather than resurrect truncated data. Simulated by truncating and
    // then replaying a commit shaped like the compactor's.
    val snap = TableManifest.latest(fs, dir).get
    engine.truncate("cc")
    val ex = intercept[IllegalArgumentException] {
      TableManifest.commit(fs, dir) { live =>
        val liveSet = live.toSet
        require(snap.files.forall(liveSet), "Compaction inputs vanished")
        live.filterNot(snap.files.toSet) :+ "compacted-junk.parquet"
      }
    }
    assert(ex.getMessage.contains("vanished"))
    assert(engine.readTable("cc").count() == 0, "truncate outcome preserved")
  }

  test("versionAtOrBefore resolves commit times, stepping over torn claims") {
    val dir = Files.createTempDirectory("graft_asof").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableManifest.commit(fs, dir)(_ :+ "a.parquet") // v1
    Thread.sleep(10)
    TableManifest.commit(fs, dir)(_ :+ "b.parquet") // v2
    val t1 = TableManifest.snapshotAt(fs, dir, 1L).get.committedAtMs
    val t2 = TableManifest.snapshotAt(fs, dir, 2L).get.committedAtMs

    assert(TableManifest.versionAtOrBefore(fs, dir, t1 - 1).isEmpty,
      "before the first commit the table does not exist")
    assert(TableManifest.versionAtOrBefore(fs, dir, t1).contains(1L),
      "a commit's own time resolves to it (inclusive boundary)")
    if (t2 > t1)
      assert(TableManifest.versionAtOrBefore(fs, dir, t2 - 1).contains(1L),
        "a time between two commits resolves to the earlier one")
    assert(TableManifest.versionAtOrBefore(fs, dir,
      System.currentTimeMillis() + 1000L).contains(2L))

    // A torn claim (claimed version file, unreadable JSON) has no commit
    // time: resolution must step over it to the newest readable commit.
    val torn = TableManifest.versionJsonPath(dir, 3L)
    val out = fs.create(torn, false)
    out.write("{\"version\": 3, \"committed".getBytes)
    out.close()
    assert(TableManifest.versionAtOrBefore(fs, dir,
      System.currentTimeMillis() + 1000L).contains(2L),
      "a torn head claim must not block timestamp resolution")
  }

  test("racing delta commits all land, with distinct versions") {
    // Two writers appending concurrently under the delta protocol: every
    // version claim is create-if-absent, losers retry on the new head, so
    // no append may be lost and no version may be claimed twice — the
    // invariant concurrent Spark jobs on a shared folder rely on.
    val dir = Files.createTempDirectory("graft_race").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableManifest.commit(fs, dir, inlineThreshold = 2, checkpointInterval = 7)(
      _ => (0 until 50).map(i => f"seed-$i%02d.parquet"))

    val perWriter = 20
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        (0 until perWriter).foreach { i =>
          TableManifest.commit(fs, dir, inlineThreshold = 2,
            checkpointInterval = 7)(_ :+ f"w$w-$i%02d.parquet")
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())

    val head = TableManifest.latest(fs, dir).get
    assert(head.version == 1L + 2 * perWriter, "every claim must be distinct")
    val expected = ((0 until 50).map(i => f"seed-$i%02d.parquet") ++
      (0 until 2).flatMap(w => (0 until perWriter).map(i => f"w$w-$i%02d.parquet")))
      .sorted
    assert(head.files == expected, "no append may be lost in a race")
  }

  test("head discovery survives a stale, corrupt, or missing hint") {
    // The `_head` hint keeps latest()/commit() from listing the manifest
    // directory, but it is advisory: a committer that dies between the
    // version claim and the hint update leaves it stale (probe forward
    // recovers), and a torn or deleted hint falls back to the listing and
    // self-heals. Every failure mode must resolve to the same head.
    val dir = Files.createTempDirectory("graft_hint").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 5).foreach { i =>
      TableManifest.commit(fs, dir)(_ :+ f"f$i.parquet")
    }
    val hint = new org.apache.hadoop.fs.Path(
      s"$dir/${TableManifest.DirName}/_head")

    def headVersion(): Long = TableManifest.latest(fs, dir).get.version
    assert(headVersion() == 5L)

    // Stale hint (crash between claim and hint write): probes forward.
    val stale = fs.create(hint, true)
    try stale.write("2".getBytes("UTF-8")) finally stale.close()
    assert(headVersion() == 5L, "a stale hint must probe forward to head")

    // Corrupt hint: listing fallback.
    val torn = fs.create(hint, true)
    try torn.write("not-a-number".getBytes("UTF-8")) finally torn.close()
    assert(headVersion() == 5L, "a corrupt hint must fall back to listing")

    // Missing hint: listing fallback, then self-heal on the way out.
    fs.delete(hint, false)
    assert(headVersion() == 5L, "a missing hint must fall back to listing")
    assert(fs.exists(hint), "the listing fallback self-heals the hint")

    // Commits on top of a degraded hint keep numbering correct.
    val lying = fs.create(hint, true)
    try lying.write("1".getBytes("UTF-8")) finally lying.close()
    val next = TableManifest.commit(fs, dir)(_ :+ "f5.parquet")
    assert(next.version == 6L,
      "a stale hint must never let a commit collide with a claimed version")
    assert(next.files.size == 6)
  }

  test("per-file stats survive delta, checkpoint, and removal resolution") {
    // Commit-protocol grain: stats ride every representation — inline JSON,
    // delta JSON (adds only), and the Parquet checkpoint sidecar — and a
    // removed file's stats vanish with it.
    val dir = Files.createTempDirectory("graft_stats").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def st(i: Long) = TableManifest.FileStats(100L + i, 1000L * i, 1000L * i + 999L)
    def commit(stats: Map[String, TableManifest.FileStats])(
        update: Seq[String] => Seq[String]) =
      TableManifest.commit(fs, dir, inlineThreshold = 2, checkpointInterval = 4,
        stats = stats)(update)

    // v1: checkpoint (3 files > threshold, no base).
    commit(Map("a.parquet" -> st(1), "b.parquet" -> st(2), "c.parquet" -> st(3)))(
      _ => Seq("a.parquet", "b.parquet", "c.parquet"))
    // v2, v3: deltas adding one file each (one of them stats-less).
    commit(Map("d.parquet" -> st(4)))(_ :+ "d.parquet")
    commit(Map.empty)(_ :+ "e.parquet")
    // v4: checkpoint again (interval), removing b.
    commit(Map.empty)(_.filterNot(_ == "b.parquet"))

    // Commits cache their own snapshots; flood the LRU with another table's
    // history so the assertions below resolve from DISK (JSON + sidecar),
    // proving the serialization round-trip and not the in-JVM cache.
    val decoy = Files.createTempDirectory("graft_stats_decoy").toString
    (0 until 20).foreach(i =>
      TableManifest.commit(fs, decoy)(_ :+ s"x$i.parquet"))

    val head = TableManifest.latest(fs, dir).get
    assert(head.version == 4L)
    assert(head.fileStats == Map(
      "a.parquet" -> st(1), "c.parquet" -> st(3), "d.parquet" -> st(4)),
      "stats must flow checkpoint -> delta -> checkpoint; removed and " +
        "stats-less files must have no entry")

    // Resolution straight out of the v4 checkpoint sidecar (cache-bust by
    // reading the historical version 3 delta chain too).
    assert(TableManifest.snapshotAt(fs, dir, 3L).get.fileStats ==
      Map("a.parquet" -> st(1), "b.parquet" -> st(2), "c.parquet" -> st(3),
        "d.parquet" -> st(4)))
  }

  test("appends record time bounds; range scans skip files by them") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE sk(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    def points(loUs: Long, n: Int, tag: String) =
      (0 until n).map(i => (loUs + i * 1000L, i.toFloat, tag))
        .toDF("ts_us", "v", "tag")
    engine.write("sk", points(1_000_000L, 300, "a"))  // [1.0s, 1.299s]
    engine.write("sk", points(60_000_000L, 300, "a")) // [60.0s, 60.299s]

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TableManifest.latest(fs, engine.dataFolder.tableDir("sk")).get
    assert(snap.files.nonEmpty && snap.files.forall(snap.fileStats.contains),
      "every appended file must carry stats")
    snap.fileStats.values.foreach { s =>
      assert(s.sizeBytes > 0L)
      assert(s.minStartUs >= 1_000_000L && s.maxEndUs <= 60_299_000L)
    }

    // Scans plan straight off the manifest: the index is ours (no listing
    // at plan time) and the size estimate is the TRUE manifest byte sum —
    // what broadcast decisions over the segment relation will read.
    val seg = engine.dataFolder.segments("sk")
    assert(seg.queryExecution.executedPlan.toString.contains("ManifestFileIndex"),
      "segment scans must plan through the manifest-driven file index")
    assert(seg.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(snap.fileStats.values.map(_.sizeBytes).sum),
      "plan size estimate must be the manifest's exact byte sum")

    // A scan of the second range must not open the first append's files.
    val all = engine.dataFolder.segments("sk").inputFiles.length
    val ranged = engine.dataFolder
      .segmentsInRange("sk", Some(60_000_000L), Some(61_000_000L))
    assert(ranged.inputFiles.length < all,
      s"expected file skipping, scanned ${ranged.inputFiles.length} of $all")
    // And the skipped scan still answers exactly.
    assert(engine.readTimeSeriesTable("sk",
      startTime = Some(java.time.Instant.ofEpochSecond(60L)),
      endTime = Some(java.time.Instant.ofEpochSecond(61L))).count() == 300)
  }

  test("files without stats are never skipped; compaction keeps bounds") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE ns(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    def points(loUs: Long, n: Int, tag: String) =
      (0 until n).map(i => (loUs + i * 1000L, i.toFloat, tag))
        .toDF("ts_us", "v", "tag")
    engine.write("ns", points(1_000_000L, 200, "a"))

    // Rewind to a pre-manifest layout: the adoption commit gives the legacy
    // files NO stats, so no range may ever skip them.
    val dir = engine.dataFolder.tableDir("ns")
    val manifestDir = new java.io.File(dir, TableManifest.DirName)
    manifestDir.listFiles().foreach(_.delete())
    manifestDir.delete()
    engine.write("ns", points(60_000_000L, 200, "b"))

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TableManifest.latest(fs, dir).get
    assert(snap.fileStats.nonEmpty && snap.fileStats.size < snap.files.size,
      "adopted legacy files must be stats-less, fresh ones stats-ful")
    val ranged = engine.dataFolder
      .segmentsInRange("ns", Some(60_000_000L), Some(61_000_000L))
    val legacyKept = snap.files.filterNot(snap.fileStats.contains)
      .forall(rel => ranged.inputFiles.exists(_.endsWith(rel)))
    assert(legacyKept, "a stats-less file must always be scanned")
    assert(engine.readTimeSeriesTable("ns",
      startTime = Some(java.time.Instant.ofEpochSecond(60L)),
      endTime = Some(java.time.Instant.ofEpochSecond(61L))).count() == 200)

    // Compaction: the writer measures every output itself, so even an
    // output holding a stats-less input's points gets exact bounds and
    // value stats (size still real).
    val (compacted, created) = engine.compact("ns", targetBytes = 64L * 1024 * 1024)
    if (compacted > 0) {
      val after = TableManifest.latest(fs, dir).get
      val createdRels = after.files.filter(_.contains(DataFolder.CompactedFilePrefix))
      assert(createdRels.nonEmpty)
      createdRels.foreach { rel =>
        val s = after.fileStats(rel)
        assert(s.sizeBytes > 0L)
        assert(s.minStartUs == 1_000_000L && s.maxEndUs == 60_199_000L,
          s"an output must carry its measured bounds, got $s")
        assert(s.values.exists(_.count == 400L))
      }
    }
  }

  test("compaction outputs inherit union bounds; rollback resurrects stats") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE cb(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    def points(loUs: Long, n: Int, tag: String) =
      (0 until n).map(i => (loUs + i * 1000L, i.toFloat, tag))
        .toDF("ts_us", "v", "tag")
    engine.write("cb", points(1_000_000L, 200, "a"))   // v1
    engine.write("cb", points(60_000_000L, 200, "a"))  // v2

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = engine.dataFolder.tableDir("cb")
    val v2 = TableManifest.latest(fs, dir).get

    val (compacted, created) = engine.compact("cb", targetBytes = 64L * 1024 * 1024)
    assert(compacted > 0 && created > 0)
    val v3 = TableManifest.latest(fs, dir).get
    val createdRels = v3.files.filter(_.contains(DataFolder.CompactedFilePrefix))
    assert(createdRels.nonEmpty && createdRels.forall(v3.fileStats.contains),
      "compaction outputs must carry stats")
    createdRels.foreach { rel =>
      val s = v3.fileStats(rel)
      assert(s.minStartUs == 1_000_000L && s.maxEndUs == 60_199_000L,
        s"union of input bounds expected, got $s")
    }

    // Rollback to v2 must resurrect v2's stats map wholesale.
    engine.rollback("cb", v2.version)
    val head = TableManifest.latest(fs, dir).get
    assert(head.files == v2.files)
    assert(head.fileStats == v2.fileStats,
      "rollback must carry the target version's stats, not the head's")
  }

  test("tag-equality predicates skip files via manifest tag bounds") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE tg(ts_us TIMESTAMP, v FIELD, tag TAG)")
    import spark.implicits._
    def points(loUs: Long, n: Int, tagPrefix: String) =
      (0 until n).map(i =>
        (loUs + i * 1000L, i.toFloat, s"$tagPrefix${i % 4}"))
        .toDF("ts_us", "v", "tag")
    engine.write("tg", points(1_000_000L, 200, "aaa"))
    engine.write("tg", points(2_000_000L, 200, "zzz"))

    val fs = new org.apache.hadoop.fs.Path(engine.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = TableManifest.latest(fs, engine.dataFolder.tableDir("tg")).get
    assert(snap.fileStats.nonEmpty &&
      snap.fileStats.values.forall(_.tagBounds.contains("tag")),
      "appends must record per-file tag bounds")

    // A tag-equality scan must not open the other append's files.
    val all = engine.dataFolder.segments("tg").inputFiles.length
    val pruned = engine.dataFolder
      .segmentsPruned("tg", scala.None, scala.None, Map("tag" -> "zzz1"))
    assert(pruned.inputFiles.length < all,
      s"expected tag skipping, scanned ${pruned.inputFiles.length} of $all")

    // The skipped plans still answer exactly, in every aggregate shape.
    val cnt = engine.readTimeSeriesTable("tg", Seq("v"),
      engine.Aggregate.Count, tagFilters = Map("tag" -> "zzz1"))
      .collect().head.getLong(0)
    assert(cnt == 50, s"expected 50 zzz1 points, got $cnt")
    val ranged = engine.readTimeSeriesTable("tg", Seq("v"),
      engine.Aggregate.Count, tagFilters = Map("tag" -> "zzz1"),
      startTime = Some(java.time.Instant.EPOCH)).collect().head.getLong(0)
    assert(ranged == 50)

    // A value outside every file's bounds scans nothing and returns 0.
    val none = engine.readTimeSeriesTable("tg", Seq("v"),
      engine.Aggregate.Count, tagFilters = Map("tag" -> "mmm9"))
      .collect().head.getLong(0)
    assert(none == 0)

    // Non-ASCII tags record UTF-8-ordered bounds too (round 15; they were
    // previously dropped, silently losing skipping for non-Latin scripts).
    engine.write("tg", points(3_000_000L, 40, "séns"))
    val snap2 = TableManifest.latest(fs, engine.dataFolder.tableDir("tg")).get
    val newFiles = snap2.files.filterNot(snap.files.toSet)
    assert(newFiles.nonEmpty)
    assert(newFiles.forall(f =>
      snap2.fileStats(f).tagBounds.contains("tag")),
      "non-ASCII tag values must record UTF-8-ordered bounds")
    val cnt2 = engine.readTimeSeriesTable("tg", Seq("v"),
      engine.Aggregate.Count, tagFilters = Map("tag" -> "séns1"))
      .collect().head.getLong(0)
    assert(cnt2 == 10, s"non-ASCII series must still be found, got $cnt2")
  }

  test("manifest-planned scans touch no filesystem at plan time") {
    // 100,000 PHANTOM files — none exists anywhere on disk. Planning a
    // pruned, filtered scan over them can only succeed if the planner
    // performs zero filesystem operations (listing or stat of any phantom
    // path would fail or hang); spark.read.parquet over the same list
    // throws at planning. This is the 100 TB shape: plan cost must be
    // driver-CPU over manifest metadata, never O(files) metadata RPCs.
    val base = new org.apache.hadoop.fs.Path(
      "file:/graft-phantom-does-not-exist/tables/t")
    val files = (0 until 100000).map { i =>
      (new org.apache.hadoop.fs.Path(base,
        f"field_column=${i % 4}/part-$i%06d.parquet"), 8L * 1024 * 1024)
    }
    val schema = SegmentSchema.forTags(Seq("tag"))
    val t0 = System.nanoTime()
    val df = org.apache.spark.sql.graft.ManifestScan
      .parquetScan(spark, base, files, schema, Some("field_column")).get
    val pruned = df.where(col("field_column") === 0 && col("end_time") >= 5L)
    val plan = pruned.queryExecution.executedPlan.toString // forces planning
    val planSec = (System.nanoTime() - t0) / 1e9
    assert(plan.contains("ManifestFileIndex"))
    assert(plan.contains("PartitionFilters") && plan.contains("field_column"),
      "partition pruning must survive manifest planning")
    assert(planSec < 30.0, f"planning 100k files took $planSec%.1f s")
    assert(pruned.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(100000L * 8L * 1024 * 1024),
      "size estimate must come from the manifest sizes")
  }

  test("pre-manifest tables are adopted on their first committed write") {
    val engine = newEngine()
    engine.sql("CREATE TIME SERIES TABLE legacy(ts_us TIMESTAMP, v FIELD, tag TAG)")
    engine.write("legacy", makePointsDf(200, "a"))
    val dir = engine.dataFolder.tableDir("legacy")

    // Rewind history: delete the manifests, leaving bare committed parquet
    // as a pre-manifest layout would.
    val manifestDir = new java.io.File(dir, TableManifest.DirName)
    manifestDir.listFiles().foreach(_.delete())
    manifestDir.delete()
    assert(engine.readTable("legacy").count() == 200,
      "manifest-less tables fall back to full-directory scans")

    engine.write("legacy", makePointsDf(100, "b"))
    assert(engine.readTable("legacy").count() == 300,
      "first commit adopts the legacy files alongside the new write")
  }
}
