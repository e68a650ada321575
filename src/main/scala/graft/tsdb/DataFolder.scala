package graft.tsdb

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** A data folder: a directory tree holding table data plus a JSON catalog,
  * addressable through any Hadoop filesystem (file://, s3a://, abfss://).
  *
  * Layout:
  * {{{
  *   <root>/metadata/<table>.json                          catalog entry
  *   <root>/tables/<table>/field_column=<i>/part-....parquet  segments
  *   <root>/tables/<table>/part-....parquet                normal table rows
  * }}}
  *
  * Query-facing behavior mirrors the reference's DataFolder operations
  * (/root/reference/crates/modelardb_embedded/src/operations/data_folder.rs)
  * re-expressed on partitioned Parquet: segments are partitioned by
  * `field_column` so scans of a subset of fields prune partitions, and files
  * are written sorted by (tags..., start_time) for Parquet min/max locality.
  */
final class DataFolder(val spark: SparkSession, val root: String) {
  import DataFolder._

  private[tsdb] def fileSystem: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def fs: FileSystem = fileSystem

  private def metadataPath(table: String) = new Path(s"$root/metadata/$table.json")
  def tableDir(table: String): String = s"$root/tables/$table"

  // ---------------------------------------------------------------- catalog

  def create(meta: TableMetadata): Unit = {
    meta.validate()
    require(!tableExists(meta.name), s"Table ${meta.name} already exists.")
    val out = fs.create(metadataPath(meta.name), false)
    try out.write(TableMetadata.toJson(meta).getBytes("UTF-8"))
    finally out.close()
    fs.mkdirs(new Path(tableDir(meta.name)))
  }

  def tableExists(table: String): Boolean = fs.exists(metadataPath(table))

  def tables(): Seq[String] = {
    val dir = new Path(s"$root/metadata")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".json")).map(_.dropRight(5)).sorted
  }

  def metadata(table: String): TableMetadata = {
    require(tableExists(table), s"Table $table does not exist.")
    val in = fs.open(metadataPath(table))
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      TableMetadata.fromJson(bytes.toString("UTF-8"))
    } finally in.close()
  }

  def drop(table: String): Unit = {
    require(tableExists(table), s"Table $table does not exist.")
    fs.delete(new Path(tableDir(table)), true)
    fs.delete(metadataPath(table), false)
    walClear(table)
  }

  /** Truncate = commit an EMPTY manifest (new scans instantly see an empty
    * table) and quarantine the data files under `_graft_stale/` instead of
    * deleting them under concurrent readers; VACUUM reclaims them once they
    * age past retention. Mirrors the reference's Delta semantics where
    * truncation writes a remove-all commit and `vacuum` physically deletes
    * (/root/reference/crates/modelardb_storage/src/data_folder/mod.rs:659-683).
    */
  def truncate(table: String): Unit = {
    require(tableExists(table), s"Table $table does not exist.")
    val dir = new Path(tableDir(table))
    if (fs.exists(dir)) {
      val quarantine = new Path(dir, s"$StaleDirName/t${System.currentTimeMillis()}")
      fs.mkdirs(quarantine)
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith("."))
          fs.rename(st.getPath, new Path(quarantine, name))
      }
    } else fs.mkdirs(dir)
    // Stream watermarks describe the table's current contents; once those
    // contents are discarded, keeping them would make resumed streams skip
    // batches that are genuinely gone.
    TableManifest.commit(fs, tableDir(table), resetStreamVersions = true)(
      _ => Seq.empty)
    walClear(table) // pending batches describe data the caller discarded
  }

  /** Reclaim storage no live scan can reach, matching the reference's
    * Delta vacuum semantics (data_folder/mod.rs:659-683): files older than
    * the retention window that are (a) writer temp droppings, (b) data
    * quarantined by TRUNCATE, (c) Parquet orphans a killed job left behind
    * that no manifest ever referenced, or (d) superseded manifest versions.
    * Files in the CURRENT manifest are never deleted.
    */
  def vacuum(table: String, retentionSeconds: Long = 604800L): Unit = {
    require(tableExists(table), s"Table $table does not exist.")
    val cutoff = System.currentTimeMillis() - retentionSeconds * 1000L
    val dirStr = tableDir(table)
    val dir = new Path(dirStr)
    if (fs.exists(dir)) {
      // (a) temp/hidden droppings and (b) TRUNCATE quarantine entries.
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if ((name.startsWith("_temporary") || name.startsWith(".")) &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, true)
        }
        if (name == StaleDirName || name == StagingDirName) {
          fs.listStatus(st.getPath).foreach { q =>
            if (q.getModificationTime < cutoff) fs.delete(q.getPath, true)
          }
        }
      }
      // (c) + (d) need a manifest: without one, every data file is live.
      TableManifest.latest(fs, dirStr).foreach { snapshot =>
        val live = snapshot.files.toSet
        listDataFiles(dirStr).foreach { rel =>
          if (!live.contains(rel)) {
            val p = new Path(dir, rel)
            if (fs.getFileStatus(p).getModificationTime < cutoff)
              fs.delete(p, false)
          }
        }
        TableManifest.staleVersionPaths(fs, dirStr, cutoff)
          .foreach(fs.delete(_, false))
        // (e) WAL leftovers no recovery will ever replay: batches the
        // manifest already applied (crash before cleanup) and torn writes
        // (no _SUCCESS — the writer never got an ack). COMPLETE unapplied
        // batches are pending durable data and are never vacuumed.
        val applied = snapshot.appliedWalBatches.toSet
        walBatchDirs(table).foreach { batchId =>
          val aged = fs.getFileStatus(
            new Path(s"${walTableDir(table)}/$batchId")).getModificationTime < cutoff
          if (aged && (applied.contains(batchId) ||
              !walBatchComplete(table, batchId)))
            walDelete(table, batchId)
        }
      }
    }
  }

  // ------------------------------------------------------------ time series

  /** Compress and append a DataFrame of data points to a time series table.
    *
    * Scale shape: one shuffle arranges the points by (tags..., timestamp)
    * via range repartitioning — series stay contiguous, huge or skewed
    * series split across partitions (each partition compresses its chunk
    * independently; segments never span partitions) — then a narrow
    * mapPartitions runs the compression kernel and the result is appended as
    * Parquet partitioned by `field_column`.
    */
  def write(table: String, df: DataFrame,
      applyWalBatches: Seq[String] = Seq.empty,
      streamVersion: Option[(String, Long)] = scala.None): Unit =
    appendSegments(table, compressForIngest(table, df), applyWalBatches,
      streamVersion)

  /** The compression stage of [[write]] without the append: arrange the
    * points and lazily compress them into segment rows. Exposed so scale
    * probes can time the kernel separately from the parquet write.
    */
  private[graft] def compressForIngest(table: String, df: DataFrame): DataFrame = {
    val meta = metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table; use writeNormal.")

    val tsName = meta.timestampColumn
    val fieldNames = meta.fieldColumns
    val tagNames = meta.tagColumns

    val tsMicros = df.schema(tsName).dataType match {
      case TimestampType => unix_micros(col(tsName))
      case LongType | IntegerType | ShortType => col(tsName).cast(LongType)
      case other => throw new IllegalArgumentException(
        s"Timestamp column $tsName must be TimestampType or integral, got $other.")
    }
    val projected = df.select(
      (tsMicros.as(tsName) +:
        fieldNames.map(f => col(f).cast(FloatType).as(f))) ++
        tagNames.map(t => col(t).cast(StringType).as(t)): _*)

    val sortCols = (tagNames :+ tsName).map(col)
    val arranged = projected
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)

    val errorBounds = fieldNames.map(meta.errorBoundOf).toArray
    val nFields = fieldNames.size
    val nTags = tagNames.size
    val outSchema = SegmentSchema.forTags(tagNames)

    val tableName = table
    val columnNames = (tsName +: fieldNames) ++ tagNames
    // Per-row null checks on the primitive columns only when the plan can
    // actually produce one: a provably non-nullable input schema skips the
    // branch per column per point while keeping the clear ingest error for
    // nullable inputs. Spark does not ENFORCE declared nullability (a
    // createDataFrame(rdd, schema) with a wrong non-nullable flag can lie),
    // so this trusts the optimizer's nullability the same way Spark's own
    // codegen does — a lying schema reads its nulls as 0, which is Spark's
    // documented behavior for such plans. Tag columns are exempt from the
    // fast path: a null tag would surface as an opaque NPE or a corrupt
    // run key, so they are checked unconditionally (one bit test per tag
    // per point, trivial next to the kernel).
    val mayHaveNulls = arranged.schema.exists(_.nullable)
    // Compress over InternalRows: the kernel reads primitives straight out
    // of the sorted UnsafeRows (tag equality is a byte comparison, no
    // per-row String materialization) and emits InternalRows, skipping the
    // deserialize/re-encode round trip an external-Row mapPartitions pays
    // per data point.
    val segmentRows = arranged.queryExecution.toRdd.mapPartitions { rows =>
      new SegmentIterator(rows, nFields, nTags, errorBounds, tableName,
        columnNames, mayHaveNulls)
    }
    org.apache.spark.sql.graft.PlanBridge
      .ofInternalRows(spark, segmentRows, outSchema)
  }

  /** Append already-compressed segment rows and atomically commit them into
    * the table's manifest (also the segment-level copy path — segments move
    * between folders without re-compression, data_folder.rs:335-420).
    */
  def appendSegments(table: String, segments: DataFrame,
      applyWalBatches: Seq[String] = Seq.empty,
      streamVersion: Option[(String, Long)] = scala.None): Unit =
    committedAppend(table, applyWalBatches, streamVersion)(
      writeSegments(segments, _, metadata(table).tagColumns,
        Seq(SegmentSchema.FieldColumn)))

  /** Write segment rows as ZSTD Parquet (like the reference's segment
    * writer tuning in `modelardb_storage/src/lib.rs`)
    * into the fresh directory `dir` in ONE Spark write whose tasks measure
    * every file's statistics as they write it ([[FileStatsTracker]]): no
    * footer read, no extra job. Returns the statistics (size 0) by path
    * relative to `dir`.
    */
  private def writeSegments(segments: DataFrame, dir: String,
      tagColumns: Seq[String],
      partitionBy: Seq[String]): Map[String, TableManifest.FileStats] = {
    val tracker = FileStatsTracker(spark,
      StructType(segments.schema.filterNot(f => partitionBy.contains(f.name))),
      tagColumns, partitioned = partitionBy.nonEmpty)
    org.apache.spark.sql.graft.TrackedWrite.parquet(segments, dir, partitionBy,
      Map("compression" -> "zstd"), Seq(tracker))
    tracker.measured
  }

  /** Run a Spark write into a staging directory, then publish exactly the
    * files that write produced as the next manifest snapshot, with the
    * per-file statistics `doWrite` returns (by path relative to the
    * staging directory; sizes come from the staging listing, and a file
    * `doWrite` reports nothing for gets the scan-always sentinel). If the
    * job dies mid-write, no manifest is published and its partial output
    * stays invisible to every scan (vacuum reclaims it after retention).
    */
  private def committedAppend(table: String,
      applyWalBatches: Seq[String] = Seq.empty,
      streamVersion: Option[(String, Long)] = scala.None)
      (doWrite: String => Map[String, TableManifest.FileStats]): Unit = {
    val dir = tableDir(table)
    // The Spark job writes into a per-append staging directory (the `_`
    // prefix hides it from any scan), so discovering what the job produced
    // lists O(batch) files — never the table, whose listing is O(10⁶) at
    // 100 TB. Files then move to their final partition paths with renames
    // (metadata ops on HDFS-likes) before the manifest publishes them; a
    // death mid-rename leaves some files moved but NONE live (no manifest),
    // and both staging leftovers and moved-but-never-committed files are
    // exactly the invisible droppings VACUUM already reclaims.
    val stagingName = s"${StagingDirName}/a${java.util.UUID.randomUUID()}"
    val staging = new Path(dir, stagingName)
    val hadManifest = TableManifest.latest(fs, dir).nonEmpty
    // Pre-manifest tables adopt their existing files on first commit; after
    // that the manifest is the source of truth (so files an earlier failed
    // job orphaned are never resurrected by an unrelated later commit).
    val before = if (hadManifest) Seq.empty else listDataFiles(dir)
    val measured = doWrite(staging.toString)
    val addedWithSize = listDataFilesWithSize(staging.toString)
    val added = addedWithSize.map(_._1)
    // Relative paths are stable across the rename, so the stats key by
    // exactly the names the manifest publishes.
    val stats = addedWithSize.map { case (rel, size) =>
      rel -> measured.getOrElse(rel, unmeasured).copy(sizeBytes = size)
    }.toMap
    added.foreach { rel =>
      val target = new Path(dir, rel)
      val parent = target.getParent
      if (!fs.exists(parent)) fs.mkdirs(parent)
      if (!fs.rename(new Path(staging, rel), target))
        throw new java.io.IOException(
          s"Could not move staged append file $rel into $dir.")
    }
    fs.delete(staging, true)
    // Applied-batch bookkeeping prunes ids whose WAL directory is gone
    // (cleanup completed), keeping the manifest's list tiny.
    val walLive = walBatchDirs(table).toSet
    TableManifest.commit(fs, dir, applyWalBatches, id => !walLive(id),
      streamVersion = streamVersion, stats = stats) { live =>
      (if (hadManifest) live else before) ++ added
    }
  }

  /** The highest streaming micro-batch id committed for `namespace` into
    * `table` — recorded atomically with the data, so a replayed batch at or
    * below it is already fully ingested.
    */
  def streamVersion(table: String, namespace: String): Option[Long] =
    TableManifest.latest(fs, tableDir(table))
      .flatMap(_.streamVersions.get(namespace))

  /** Compact small live files into ~`targetBytes` ones (OPTIMIZE): the
    * antidote to the small-file accumulation that streaming micro-batches
    * and frequent appends produce at scale. Per partition directory, live
    * files under the target size are coalesced (no shuffle — compaction
    * moves bytes, never redistributes them) into staging, moved into
    * place, and swapped in with ONE atomic manifest commit (remove+add) —
    * readers see either the old files or the new, never both, and older
    * manifest versions keep time-travel reads working until VACUUM
    * reclaims the superseded originals. A concurrent TRUNCATE or rollback
    * that removes a compaction input aborts the commit (the data the
    * rewrite copied no longer represents the table).
    *
    * With `clusterByTags` (SQL `OPTIMIZE t ZORDER`), EVERY live file of
    * each partition is instead re-clustered through one range shuffle on
    * (tags…, start_time), so the per-file tag bounds the write measures
    * become narrow and disjoint, and tag-equality
    * manifest skipping opens O(files holding the series) even after
    * appends interleaved every series into every file. Same atomic swap,
    * same time-travel and streaming-suppression semantics.
    *
    * Returns (filesCompacted, filesCreated).
    */
  def compact(table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterByTags: Boolean = false): (Int, Int) = {
    require(tableExists(table), s"Table $table does not exist.")
    val dir = tableDir(table)
    val meta = metadata(table)
    require(!clusterByTags || (meta.isTimeSeries && meta.tagColumns.nonEmpty),
      s"ZORDER clustering requires a time series table with tag columns.")
    val snapOpt = TableManifest.latest(fs, dir)
    if (snapOpt.isEmpty) return (0, 0) // pre-manifest: adopted on next write
    val byPartition = snapOpt.get.files.groupBy { rel =>
      rel.lastIndexOf('/') match {
        case -1 => ""
        case i => rel.substring(0, i)
      }
    }
    val staging = new Path(dir, s"$StagingDirName/c${java.util.UUID.randomUUID()}")
    val removed = Seq.newBuilder[String]
    val created = Seq.newBuilder[String]
    val createdStats = Map.newBuilder[String, TableManifest.FileStats]
    byPartition.foreach { case (part, rels) =>
      val partPath = if (part.isEmpty) new Path(dir) else new Path(dir, part)
      // One listing per partition gives every candidate's size.
      val sizes: Map[String, Long] =
        if (!fs.exists(partPath)) Map.empty
        else fs.listStatus(partPath).collect {
          case st if st.isFile =>
            val rel = if (part.isEmpty) st.getPath.getName
              else s"$part/${st.getPath.getName}"
            rel -> st.getLen
        }.toMap
      // Plain OPTIMIZE coalesces only small files; ZORDER re-clusters
      // EVERY live file of the partition (appends interleave series, so
      // even full-size files span the whole tag range until re-sorted).
      val candidates =
        if (clusterByTags) rels.filter(sizes.contains).sorted
        else rels.filter(r => sizes.get(r).exists(_ < targetBytes)).sorted
      if (candidates.size >= 2) {
        val totalBytes = candidates.map(sizes).sum
        val nOut = math.max(1L,
          (totalBytes + targetBytes - 1) / targetBytes).toInt
        if (clusterByTags || nOut < candidates.size) {
          val stagedPart =
            if (part.isEmpty) staging else new Path(staging, part)
          val input = spark.read
            .parquet(candidates.map(r => new Path(dir, r).toString): _*)
          val sortCols = (meta.tagColumns :+ "start_time").map(col)
          // Plain compaction: coalesce (no shuffle — bytes move, values
          // don't) with a local re-sort keeping row-group stats tight.
          // ZORDER: ONE range shuffle on (tags, start_time) so each
          // output covers a narrow, disjoint tag range — per-file tag
          // bounds then prune `WHERE tag = v` scans to O(files holding
          // the series) instead of O(table), the Delta OPTIMIZE ZORDER
          // role (lexicographic on the dominant filter columns).
          val arranged =
            if (clusterByTags)
              input.repartitionByRange(math.max(nOut, 1), sortCols: _*)
                .sortWithinPartitions(sortCols: _*)
            else if (meta.isTimeSeries)
              input.coalesce(nOut).sortWithinPartitions(sortCols: _*)
            else input.coalesce(nOut)
          // Time series outputs are measured per file as they are written,
          // like appends: exact bounds and value stats for plain and ZORDER
          // outputs alike (a union of the inputs' bounds would erase the
          // disjointness the ZORDER shuffle builds).
          val measured =
            if (meta.isTimeSeries)
              writeSegments(arranged, stagedPart.toString, meta.tagColumns,
                Seq.empty)
            else {
              arranged.write.parquet(stagedPart.toString)
              Map.empty[String, TableManifest.FileStats]
            }
          val staged = listDataFilesWithSize(stagedPart.toString)
          staged.foreach { case (stagedRel, stagedSize) =>
            // The `opt-` name prefix marks provenance: this file re-packs
            // already-committed points. Streaming readers (manifest-diff
            // based) use it to exclude rewrites from delivery — snapshot
            // scans read explicit manifest lists and never care.
            val renamed = s"$CompactedFilePrefix$stagedRel"
            val rel = if (part.isEmpty) renamed else s"$part/$renamed"
            val target = new Path(dir, rel)
            val parent = target.getParent
            if (!fs.exists(parent)) fs.mkdirs(parent)
            if (!fs.rename(new Path(stagedPart, stagedRel), target))
              throw new java.io.IOException(
                s"Could not move compacted file $rel into $dir.")
            created += rel
            createdStats += rel -> measured.getOrElse(stagedRel, unmeasured)
              .copy(sizeBytes = stagedSize)
          }
          removed ++= candidates
        }
      }
    }
    fs.delete(staging, true)
    val removedSeq = removed.result()
    val createdSeq = created.result()
    if (removedSeq.isEmpty) return (0, 0)
    val removedSet = removedSeq.toSet
    // `rewrites` records in the COMMIT itself that these adds re-pack
    // already-committed points (Delta's dataChange=false): streaming
    // readers key delivery suppression off the manifest, not file names.
    TableManifest.commit(fs, dir, rewrites = createdSeq,
      stats = createdStats.result()) { live =>
      val liveSet = live.toSet
      require(removedSeq.forall(liveSet),
        s"Compaction inputs for $table were removed concurrently " +
          "(TRUNCATE/rollback?); aborting the swap.")
      live.filterNot(removedSet) ++ createdSeq
    }
    (removedSeq.size, createdSeq.size)
  }

  // ------------------------------------------------------- write-ahead log

  /** The WAL makes an ingest batch durable BEFORE the (comparatively slow)
    * compression pipeline runs, the role of the reference's write-ahead
    * log (/root/reference/crates/modelardb_storage/src/write_ahead_log.rs:42-220):
    * raw rows land as plain Parquet under `wal/<table>/<batch>/` in one
    * cheap write, and the later manifest commit records the batch id
    * atomically with the data (`appliedWalBatches`) so recovery replays a
    * batch exactly once — a crash before the commit replays it, a crash
    * after the commit (but before cleanup) skips and deletes it.
    */
  private def walTableDir(table: String) = s"$root/wal/$table"

  /** Durably persist a raw batch; returns its WAL batch id. Only batches
    * whose Spark write completed (the `_SUCCESS` marker exists) are ever
    * replayed — a torn WAL write means the caller never got an ack.
    */
  def walAppend(table: String, df: DataFrame): String = {
    val batchId = f"b${System.currentTimeMillis()}%013d-" +
      java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("errorifexists").parquet(s"${walTableDir(table)}/$batchId")
    batchId
  }

  /** All WAL batch directories present for the table, oldest first
    * (complete or not — recovery decides what to do with each).
    */
  def walBatchDirs(table: String): Seq[String] = {
    val dir = new Path(walTableDir(table))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  def walBatchComplete(table: String, batchId: String): Boolean =
    fs.exists(new Path(s"${walTableDir(table)}/$batchId/_SUCCESS"))

  def walRead(table: String, batchId: String): DataFrame =
    spark.read.parquet(s"${walTableDir(table)}/$batchId")

  def walDelete(table: String, batchId: String): Unit =
    fs.delete(new Path(s"${walTableDir(table)}/$batchId"), true)

  /** Drop every WAL batch (table truncated or dropped: pending batches
    * describe data the caller just discarded).
    */
  def walClear(table: String): Unit =
    fs.delete(new Path(walTableDir(table)), true)

  /** Committed data files of one write = everything under the table dir
    * ending in .parquet whose path has no hidden component (`_temporary`,
    * `_graft_manifest`, `_graft_stale`, checksums...), relative to the dir.
    */
  private def listDataFiles(dir: String): Seq[String] =
    listDataFilesWithSize(dir).map(_._1)

  /** Same listing, keeping each file's size from the directory listing
    * itself — the one RPC already paid — so commit-time stats never cost a
    * per-file getFileStatus.
    */
  private def listDataFilesWithSize(dir: String): Seq[(String, Long)] = {
    val base = new Path(dir)
    if (!fs.exists(base)) Seq.empty
    else {
      val baseUri = fs.makeQualified(base).toUri
      val it = fs.listFiles(base, true)
      val buf = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        val rel = baseUri.relativize(fs.makeQualified(st.getPath).toUri).getPath
        if (rel.endsWith(".parquet") &&
            !rel.split("/").exists(s => s.startsWith("_") || s.startsWith(".")))
          buf += (rel -> st.getLen)
      }
      buf.result()
    }
  }

  /** Streaming segment scan over the manifest history: offsets are
    * manifest versions, each micro-batch is a commit's data-carrying adds
    * (see [[SegmentStreamProvider]]). Every appended segment (batch write,
    * streaming ingest, cross-folder copy) is delivered exactly once at its
    * COMMIT — OPTIMIZE's rewrites and a killed writer's uncommitted
    * droppings, both visible to a naive directory stream, never are.
    * Tables that predate the manifest layer fall back to the directory
    * file stream until their first committed write adopts them.
    */
  def segmentsStream(table: String,
      maxVersionsPerTrigger: Option[Long] = scala.None): DataFrame = {
    val meta = metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table.")
    val schema = SegmentSchema.forTags(meta.tagColumns)
    val dir = tableDir(table)
    if (TableManifest.latest(fs, dir).isEmpty && !isEmptyTableDir(dir)) {
      // Legacy pre-manifest data: no commit history to stream.
      spark.readStream.schema(schema).parquet(dir)
    } else {
      val reader = spark.readStream
        .format(classOf[SegmentStreamProvider].getName)
        .schema(schema)
        .option(SegmentStream.DirOption,
          fs.makeQualified(new Path(dir)).toString)
        .option(SegmentStream.SchemaOption, schema.json)
      maxVersionsPerTrigger
        .foreach(k => reader.option(SegmentStream.MaxVersionsOption, k))
      reader.load()
    }
  }

  /** Raw segment scan with partition pruning on `field_column`, reading the
    * newest manifest's snapshot: exactly the committed files, never a
    * killed writer's partial output. `basePath` keeps the `field_column=i`
    * directory-derived partition column (and its pruning) intact when
    * scanning an explicit file list.
    */
  def segments(table: String): DataFrame = segments(table, scala.None)

  /** Segment scan of a historical snapshot (`asOfVersion`) or the newest
    * one: time travel falls out of the manifest design — every snapshot is
    * a full file list, so reading "as of version v" is the same one-file
    * metadata read as reading head.
    */
  def segments(table: String, asOfVersion: Option[Long]): DataFrame = {
    val meta = metadata(table)
    val dir = tableDir(table)
    val schema = SegmentSchema.forTags(meta.tagColumns)
    def empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    snapshotFor(table, asOfVersion) match {
      case Some(snapshot) =>
        segmentScan(table, snapshot.files, snapshot.fileStats)
      case scala.None => // pre-manifest table: every file on disk is live
        if (isEmptyTableDir(dir)) empty
        else spark.read.schema(schema).parquet(dir)
    }
  }

  /** Segment scan pruned to the files that can hold segments OVERLAPPING
    * the inclusive [startUs, endUs] range, using the manifest's per-file
    * time bounds — zero data reads and zero filesystem RPCs to decide, the
    * role of Delta's file-stats data skipping. The predicate is the file
    * grain of [[GridView.segmentTimePredicate]] (`max_end >= lo AND
    * min_start <= hi`), so it is inexact in exactly the same way and every
    * caller's existing segment-level + post-grid filters stay mandatory.
    * Files without stats (legacy commits, pre-manifest adoptions) are
    * always kept — stats can only ever shrink the scan, never the answer.
    *
    * At 100 TB this is the difference between touching O(files overlapping
    * the range) and O(all files ever written) for the short-range queries a
    * long-retention table mostly serves.
    */
  def segmentsInRange(table: String, startUs: Option[Long],
      endUs: Option[Long]): DataFrame =
    segmentsPruned(table, startUs, endUs, Map.empty)

  /** [[segmentsInRange]] plus tag skipping: a file whose recorded
    * [min, max] range for a filtered tag cannot contain the requested
    * value (any of them, for IN-lists) is never opened — `WHERE tag =
    * 'sensor-123'` over a tag-sorted layout (ingest range-partitions by
    * tags, compaction re-sorts) touches O(files holding that series), not
    * O(table). Absent tag bounds (legacy commits) keep the file; exact
    * predicates downstream are unchanged. Bounds are recorded and compared
    * in unsigned UTF-8 byte order ([[TagBounds]]), so multilingual tag
    * values skip correctly too.
    */
  def segmentsPruned(table: String, startUs: Option[Long],
      endUs: Option[Long], tagEq: Map[String, String],
      tagIn: Map[String, Seq[String]] = Map.empty): DataFrame =
    prunedFiles(table, startUs, endUs, tagEq, tagIn) match {
      case Some((kept, stats)) => segmentScan(table, kept, stats)
      case scala.None => segments(table) // pre-manifest: no stats to consult
    }

  /** The newest snapshot's live files that [[segmentsPruned]] keeps, with
    * the snapshot's per-file stats; None for a pre-manifest table.
    */
  private[tsdb] def prunedFiles(table: String, startUs: Option[Long],
      endUs: Option[Long], tagEq: Map[String, String],
      tagIn: Map[String, Seq[String]]):
      Option[(Seq[String], Map[String, TableManifest.FileStats])] =
    TableManifest.latest(fs, tableDir(table)).map { snapshot =>
      val lo = startUs.getOrElse(Long.MinValue)
      val hi = endUs.getOrElse(Long.MaxValue)
      def inBounds(s: TableManifest.FileStats, t: String,
          vs: Seq[String]): Boolean =
        s.tagBounds.get(t).forall { case (mn, mx) =>
          // UTF-8 byte order — the order the bounds were recorded in.
          vs.exists(v => TagBounds.contains(mn, mx, v))
        }
      val kept = snapshot.files.filter { rel =>
        snapshot.fileStats.get(rel).forall { s =>
          s.maxEndUs >= lo && s.minStartUs <= hi &&
            tagEq.forall { case (t, v) => inBounds(s, t, Seq(v)) } &&
            tagIn.forall { case (t, vs) =>
              vs.isEmpty || inBounds(s, t, vs)
            }
        }
      }
      (kept, snapshot.fileStats)
    }

  /** CDC at the segment-file grain: the data-carrying files each manifest
    * commit in (fromVersion, toVersion] added — the commit's file-list
    * diff against its predecessor, minus the rewrites the commit itself
    * declared (compaction re-packages already-committed points and must
    * not be re-delivered). Same semantics as the streaming source's
    * micro-batch planning, shared code path: fromVersion = 0 anchors at
    * the first surviving snapshot (full, unfiltered — it IS the initial
    * data), torn claims fold into the next readable diff, and a range
    * crossing VACUUMed history fails loudly.
    */
  def changedDataFiles(table: String, fromVersion: Long,
      toVersion: Long): Seq[(Long, Seq[String])] = {
    require(fromVersion >= 0L && toVersion >= fromVersion,
      s"changedDataFiles needs 0 <= fromVersion <= toVersion, " +
        s"got ($fromVersion, $toVersion].")
    SegmentStream.addsByVersion(fs, tableDir(table), fromVersion, toVersion)
  }

  /** Segment scan over an explicit committed file list (CDC reads read
    * HISTORICAL commits' files, so stats come from the version that
    * committed them when the caller knows it — every file a commit adds is
    * live, with stats, in that commit's snapshot — from the newest
    * snapshot otherwise, and from a bounded per-file probe as the last
    * resort).
    */
  private[tsdb] def segmentsFor(table: String, relFiles: Seq[String],
      atVersion: Option[Long] = scala.None): DataFrame = {
    val stats = atVersion
      .flatMap(v => TableManifest.snapshotAt(fs, tableDir(table), v))
      .orElse(TableManifest.latest(fs, tableDir(table)))
      .map(_.fileStats).getOrElse(Map.empty)
    segmentScan(table, relFiles, stats)
  }

  /** The one segment-scan builder: plans straight from manifest metadata
    * ([[org.apache.spark.sql.graft.ManifestScan]]) — the file list and
    * sizes are handed to Spark without listing anything, keeping plan time
    * flat in table size. Files the manifest has no size for are probed
    * individually (bounded: legacy adoptions and historical CDC lists);
    * external layouts that don't encode `field_column=` fall back to the
    * listing-based reader wholesale.
    */
  private[tsdb] def segmentScan(table: String, relFiles: Seq[String],
      stats: Map[String, TableManifest.FileStats]): DataFrame = {
    val meta = metadata(table)
    val dir = tableDir(table)
    val schema = SegmentSchema.forTags(meta.tagColumns)
    if (relFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val qualifiedDir = fs.makeQualified(new Path(dir))
    val withSizes = relFiles.map { rel =>
      val p = new Path(qualifiedDir, rel)
      val size = stats.get(rel).map(_.sizeBytes)
        .getOrElse(fs.getFileStatus(p).getLen)
      (p, size)
    }
    org.apache.spark.sql.graft.ManifestScan
      .parquetScan(spark, qualifiedDir, withSizes, schema,
        Some(SegmentSchema.FieldColumn))
      .getOrElse(spark.read.option("basePath", dir).schema(schema)
        .parquet(relFiles.map(rel => s"$dir/$rel"): _*))
  }

  private def snapshotFor(table: String,
      asOfVersion: Option[Long]): Option[TableManifest.Snapshot] =
    asOfVersion match {
      case Some(v) => Some(TableManifest.snapshotAt(fs, tableDir(table), v)
        .getOrElse(throw new IllegalArgumentException(
          s"Table $table has no manifest version $v (vacuumed or never written).")))
      case scala.None => TableManifest.latest(fs, tableDir(table))
    }

  /** Roll the table back to a historical snapshot: publishes a NEW version
    * whose live set is the old version's file list (Delta-style rollback —
    * history moves forward, data files are immutable, the abandoned
    * versions' files become orphans for VACUUM).
    */
  def rollback(table: String, toVersion: Long): Unit = {
    val target = TableManifest.snapshotAt(fs, tableDir(table), toVersion)
      .getOrElse(throw new IllegalArgumentException(
        s"Table $table has no manifest version $toVersion."))
    // Resurrect the old version's stats for the files this commit
    // re-introduces; files still live at the head carry their stats
    // automatically (and the manifest contract forbids re-attaching stats
    // to carried files — deltas would drop them on disk).
    val headLive = TableManifest.latest(fs, tableDir(table))
      .map(_.files.toSet).getOrElse(Set.empty)
    TableManifest.commit(fs, tableDir(table),
      stats = target.fileStats.filter { case (f, _) => !headLive(f) })(
      _ => target.files)
  }

  private def isEmptyTableDir(dir: String): Boolean = {
    val p = new Path(dir)
    !fs.exists(p) || !fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  // ---------------------------------------------------------- normal tables

  def writeNormal(table: String, df: DataFrame,
      applyWalBatches: Seq[String] = Seq.empty,
      streamVersion: Option[(String, Long)] = scala.None): Unit = {
    val meta = metadata(table)
    require(!meta.isTimeSeries, s"$table is a time series table; use write.")
    committedAppend(table, applyWalBatches, streamVersion) { dir =>
      df.write.mode("append").parquet(dir)
      Map.empty
    }
  }

  def readNormal(table: String): DataFrame = {
    val meta = metadata(table)
    require(!meta.isTimeSeries)
    val dir = tableDir(table)
    val declared =
      if (meta.normalSchemaJson.isEmpty) scala.None
      else Some(DataType.fromJson(meta.normalSchemaJson).asInstanceOf[StructType])
    def emptyOr(read: Seq[String] => DataFrame, files: Seq[String]): DataFrame =
      declared match {
        case Some(schema) if files.isEmpty =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        case _ => read(files)
      }
    TableManifest.latest(fs, dir) match {
      case Some(snapshot) =>
        emptyOr({ files =>
          // Same zero-RPC planning as segment scans when the schema is
          // declared (unpartitioned layout); schema-inferred tables read
          // footers anyway, so they keep the listing-based reader.
          val planned = declared.flatMap { schema =>
            val qualifiedDir = fs.makeQualified(new Path(dir))
            val withSizes = files.map { rel =>
              val p = new Path(qualifiedDir, rel)
              (p, snapshot.fileStats.get(rel).map(_.sizeBytes)
                .getOrElse(fs.getFileStatus(p).getLen))
            }
            org.apache.spark.sql.graft.ManifestScan
              .parquetScan(spark, qualifiedDir, withSizes, schema, scala.None)
          }
          planned.getOrElse {
            val reader = declared.fold(spark.read)(spark.read.schema)
            reader.option("basePath", dir).parquet(files.map(rel => s"$dir/$rel"): _*)
          }
        }, snapshot.files)
      case scala.None =>
        if (declared.nonEmpty && isEmptyTableDir(dir))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], declared.get)
        else declared.fold(spark.read)(spark.read.schema).parquet(dir)
    }
  }
}

object DataFolder {

  /** TRUNCATE quarantine directory: hidden from every scan (leading
    * underscore), reclaimed by VACUUM once past retention.
    */
  val StaleDirName = "_graft_stale"

  /** Per-append staging area: Spark jobs write here so the commit can
    * discover its files by listing O(batch), not O(table); leftovers from
    * killed jobs are reclaimed by VACUUM once past retention.
    */
  val StagingDirName = "_graft_staging"

  /** Name prefix of files OPTIMIZE writes: they re-pack already-committed
    * points, so manifest-diff streaming readers skip them (delivery would
    * be a duplicate) while snapshot scans — which read explicit manifest
    * file lists — treat them like any other segment file.
    */
  val CompactedFilePrefix = "opt-"

  /** The statistics of a file nothing measured: its size alone, with time
    * bounds that cover everything, so no scan ever skips it.
    */
  private val unmeasured = TableManifest.FileStats(0L, Long.MinValue, Long.MaxValue)

  /** Max points buffered per series chunk before segments are cut, matching
    * the reference's uncompressed buffer capacity
    * (/root/reference/crates/modelardb_server/src/storage/mod.rs:51-58).
    */
  val MaxRunLength: Int = 65536

  /** Streams sorted (ts, fields..., tags...) rows, splits them into per-tag
    * runs, compresses each run with the kernel, and lazily emits segment
    * rows. Input rows: [ts: Long, field_0..field_{n-1}: Float, tag_0..: String].
    *
    * Operates on `InternalRow`s straight off the sort: per-point work is
    * primitive reads plus an UnsafeRow byte-equality check on the tags —
    * tag strings are copied once per RUN (when the run key changes), never
    * per point, and segment rows are built as `GenericInternalRow`s so no
    * encoder runs on either side of the kernel.
    */
  private final class SegmentIterator(
      rows: Iterator[InternalRow], nFields: Int, nTags: Int,
      errorBounds: Array[ErrorBound], tableName: String,
      columnNames: Seq[String],
      mayHaveNulls: Boolean) extends Iterator[InternalRow] {

    /** Fail fast with a clear ingest error on NULLs: the segment schema is
      * non-nullable (as in the reference's Arrow arrays), and a null would
      * otherwise surface as an opaque NPE inside the compression kernel.
      * One branch per column per row — far cheaper than guarding with
      * conditional expressions in the projection.
      */
    private def checkNoNulls(row: InternalRow, from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        if (row.isNullAt(i)) throw new IllegalArgumentException(
          s"Cannot ingest into time series table '$tableName': column " +
            s"'${columnNames(i)}' contains NULL; time series tables require " +
            "non-null timestamps, fields, and tags.")
        i += 1
      }
    }

    private val tsBuf = new LongBuf(1024)
    private val valueBufs = Array.fill(nFields)(new FloatBuf(1024))
    // Per-run tag values, copied out of the (reused) UnsafeRow once per run.
    private var runTags: Array[UTF8String] = null
    private val pending =
      new scala.collection.mutable.Queue[InternalRow]()

    private def sameTags(row: InternalRow): Boolean = {
      var i = 0
      while (i < nTags) {
        if (runTags(i) != row.getUTF8String(1 + nFields + i)) return false
        i += 1
      }
      true
    }

    private def copyTags(row: InternalRow): Array[UTF8String] =
      Array.tabulate(nTags)(i => row.getUTF8String(1 + nFields + i).copy())

    /** Compress the buffered run into segment rows queued on `pending`. */
    private def flushRun(): Unit = {
      if (tsBuf.length == 0) return
      val ts = tsBuf.toArray
      var f = 0
      while (f < nFields) {
        val values = valueBufs(f).toArray
        val segs = Compressor.compressUnivariate(ts, values, errorBounds(f))
        segs.foreach { s =>
          val out = new Array[Any](9 + nTags + 1)
          out(0) = s.modelTypeId
          out(1) = s.startTime
          out(2) = s.endTime
          out(3) = s.timestamps
          out(4) = s.minValue
          out(5) = s.maxValue
          out(6) = s.values
          out(7) = s.residuals
          out(8) = s.error
          var t = 0
          while (t < nTags) { out(9 + t) = runTags(t); t += 1 }
          out(9 + nTags) = f
          pending.enqueue(new GenericInternalRow(out))
        }
        valueBufs(f).clear()
        f += 1
      }
      tsBuf.clear()
    }

    private def fill(): Unit = {
      while (pending.isEmpty && rows.hasNext) {
        val row = rows.next()
        // Primitives trust declared nullability; tags are always checked
        // (a null tag would NPE in the run-key comparison, not fail fast).
        if (mayHaveNulls) checkNoNulls(row, 0, 1 + nFields)
        if (nTags > 0) checkNoNulls(row, 1 + nFields, 1 + nFields + nTags)
        if (runTags == null) {
          runTags = copyTags(row)
        } else if ((nTags > 0 && !sameTags(row)) || tsBuf.length >= MaxRunLength) {
          flushRun()
          runTags = copyTags(row)
        }
        tsBuf.add(row.getLong(0))
        var f = 0
        while (f < nFields) {
          valueBufs(f).add(row.getFloat(1 + f))
          f += 1
        }
      }
      if (pending.isEmpty && !rows.hasNext) flushRun()
    }

    override def hasNext: Boolean = {
      if (pending.nonEmpty) true
      else { fill(); pending.nonEmpty }
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException()
      pending.dequeue()
    }
  }
}
