package graft.tsdb

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Manifest-based commit protocol for a table directory — the Spark-native
  * shape of the reference's Delta-backed table layer (atomic commit,
  * snapshot reads, real VACUUM of stale files;
  * /root/reference/crates/modelardb_storage/src/data_folder/delta_table_writer.rs:42-260,
  * data_folder/mod.rs:659-683).
  *
  * Data files are written by Spark exactly as before (ZSTD Parquet,
  * partitioned by `field_column` for segments); what makes a file LIVE is
  * its appearance in the newest manifest version under
  * `<tableDir>/_graft_manifest/v<NNNNNNNNNN>.json`. Publishing a version is
  * a single-file create — atomic on HDFS-like stores, atomic PUT on object
  * stores. A writer killed mid-job leaves Parquet droppings that no
  * manifest references: scans never see them, and VACUUM removes them once
  * they age past the retention window.
  *
  * The live file LIST scales like Delta's log (the public model for this
  * design): small tables inline it in the JSON manifest (one read,
  * human-inspectable); past [[InlineThreshold]] entries a commit records
  * only the DELTA (`base` version + `add`/`remove` lists), and every
  * [[CheckpointInterval]] versions the full list is compacted into a
  * ZSTD-Parquet checkpoint sidecar (`c<NNNNNNNNNN>-<uuid>.parquet`) that the
  * JSON references. Resolving a snapshot therefore reads one checkpoint
  * plus at most an interval's worth of small deltas, and a commit writes
  * O(changed files), not O(table) — flat listing and commit cost past 10⁶
  * files. Sidecars are written BEFORE the version claim under a unique name
  * (a raced loser's sidecar can never be referenced by the winner) and
  * unreferenced ones are vacuumed like any other dropping.
  *
  * Concurrency: version numbers are claimed with create-if-absent
  * (overwrite=false); losing a race throws FileAlreadyExists and the commit
  * retries on top of the new newest snapshot, so concurrent appends both
  * land. Readers that catch a manifest mid-write (non-atomic local FS only)
  * fall back to the previous readable version; a delta whose base chain is
  * unresolvable is treated the same way.
  */
private[graft] object TableManifest {

  val DirName = "_graft_manifest"
  private val mapper = new ObjectMapper()
  private val MaxCommitAttempts = 20

  /** Live lists at most this long are inlined in the manifest JSON;
    * longer ones take the delta/checkpoint protocol.
    */
  private[tsdb] val InlineThreshold = 1000

  /** A full Parquet checkpoint is cut whenever the claimed version is a
    * multiple of this, bounding every resolution chain.
    */
  private[tsdb] val CheckpointInterval = 10L

  /** Resolution-chain safety cap: no valid chain exceeds the checkpoint
    * interval, so anything deeper is a corrupted loop.
    */
  private val MaxChainDepth = 200

  /** Resolved snapshots are immutable once a version is claimed
    * (create-if-absent), so a small in-JVM cache makes repeated head reads
    * and the read-modify-write inside every commit O(1) instead of
    * re-reading the checkpoint chain; a cheap existence check keeps
    * VACUUMed versions from being served back.
    */
  private val SnapshotCacheSize = 16
  private val snapshotCache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](
      SnapshotCacheSize, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Snapshot]): Boolean =
        size() > SnapshotCacheSize
    }

  /** `appliedWalBatches` records, atomically with the file list, which
    * write-ahead-log batches this snapshot's data includes — the
    * exactly-once handshake of the durable ingest path: a WAL batch whose
    * id is in the current snapshot must not be replayed (crash after
    * commit, before WAL cleanup), one absent must be (crash before
    * commit). Entries are pruned once their WAL directory is gone.
    *
    * `streamVersions` records, also atomically, the HIGHEST streaming
    * micro-batch id applied per stream namespace (the checkpoint
    * identity) — the idempotent-writer handshake of the streaming ingest
    * path, the shape of Delta's per-appId transaction versions: a
    * replayed micro-batch sees itself <= the recorded watermark and
    * becomes a no-op, with no window between data commit and marker.
    * One entry per stream, so the map stays tiny forever.
    */
  final case class Snapshot(version: Long, committedAtMs: Long,
    files: Seq[String], appliedWalBatches: Seq[String] = Seq.empty,
    streamVersions: Map[String, Long] = Map.empty,
    fileStats: Map[String, FileStats] = Map.empty)

  /** Per-file statistics recorded atomically with the commit that added the
    * file — the role of Delta's per-AddFile `size`/`stats` payload. The
    * segment writer measures them while its write tasks produce the file
    * ([[FileStatsTracker]]); the commit adds the size from its listing.
    *
    *  - `size` lets the scan planner build splits without ever calling the
    *    filesystem (zero per-file RPCs at plan time).
    *  - The time bounds let it SKIP files whose segments cannot match a
    *    pushed `start_time` / `end_time` predicate.
    *  - `tagBounds` holds per-TAG-column [min, max] value ranges so
    *    tag-equality predicates (`WHERE tag = 'sensor-123'`) skip files too.
    *    They are recorded and compared in unsigned UTF-8 byte order (see
    *    [[graft.tsdb.TagBounds]]; multilingual values included) and
    *    truncated with the truncate-and-increment approach; a tag absent
    *    from the map never skips.
    *  - `values` holds the field's exact partial over the file's segments
    *    ([[ValueStats]]), from which ungrouped COUNT/MIN/MAX/SUM/AVG over a
    *    file wholly inside a query's range are answered without opening it.
    *
    * Bounds are advisory and may be loose (the sentinel covers everything);
    * value stats are exact or absent. A file absent from the map is planned
    * via a filesystem probe and never skipped; a file without value stats
    * (legacy commits, adopted files, external writers, old manifests) is
    * always scanned.
    */
  final case class FileStats(sizeBytes: Long, minStartUs: Long,
    maxEndUs: Long, tagBounds: Map[String, (String, String)] = Map.empty,
    values: Option[ValueStats] = scala.None)

  /** A file's value partial as the segment path computes it: its points,
    * their f64 sum, and Spark's MIN/MAX over them (NaN greatest, a NaN a
    * segment hides behind its stored bounds included).
    */
  final case class ValueStats(count: Long, sum: Double, min: Float, max: Float)

  /** One manifest JSON as stored: exactly one of `files` (inline),
    * `checkpoint` (sidecar name), or `deltaBase` (+ add/remove) is set.
    * `rewrites` lists, per COMMIT, the added files that carry no new data
    * (compaction outputs) — the role of Delta's `dataChange=false`; it is
    * `None` for manifests written before the field existed (readers fall
    * back to the file-name-prefix heuristic for those).
    */
  private final case class Raw(version: Long, committedAtMs: Long,
    wal: Seq[String], streamVersions: Map[String, Long],
    files: Option[Seq[String]], checkpoint: Option[String],
    deltaBase: Option[Long], add: Seq[String], remove: Seq[String],
    rewrites: Option[Seq[String]],
    stats: Map[String, FileStats])

  private def manifestDir(tableDir: String) = new Path(s"$tableDir/$DirName")
  private def versionPath(tableDir: String, v: Long) =
    new Path(manifestDir(tableDir), f"v$v%010d.json")

  /** All claimed versions, oldest first — the streaming source's initial
    * anchor scan (used once per consumer, never per micro-batch).
    */
  private[tsdb] def claimedVersions(fs: FileSystem, tableDir: String): Seq[Long] =
    versions(fs, tableDir).reverse

  /** One version's manifest JSON path — existence = the version is claimed
    * (readable or torn), absence = never claimed or pruned by VACUUM.
    */
  private[tsdb] def versionJsonPath(tableDir: String, v: Long): Path =
    versionPath(tableDir, v)

  /** The highest claimed version, hint-probed — the streaming source's
    * per-trigger latestOffset, O(1) on the hot path.
    */
  private[tsdb] def headVersion(fs: FileSystem, tableDir: String): Option[Long] =
    highestClaimed(fs, tableDir)

  /** All manifest versions present, newest first. */
  private def versions(fs: FileSystem, tableDir: String): Seq[Long] = {
    val dir = manifestDir(tableDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
      }.sorted.reverse
  }

  // ------------------------------------------------------- head discovery

  /** Advisory head pointer, the role of Delta's `_last_checkpoint`: every
    * successful commit overwrites it with the claimed version so head
    * discovery stops listing the whole manifest directory (O(retained
    * versions) — 10⁵–10⁶ entries under frequent streaming commits before
    * retention). It is a HINT, never trusted blindly: version claims stay
    * contiguous, so the true head is found by probing existence forward
    * from the hinted version (a committer that crashed between claim and
    * hint update leaves the hint at most a few versions behind), and any
    * absent, torn, or vacuumed-over hint falls back to the full listing.
    *
    * Like Delta's `_last_checkpoint`, the hint is refreshed every
    * [[HeadHintInterval]] commits, not every commit: a hint write costs a
    * full file create (milliseconds on slow stores — it would double the
    * cost of a small commit) while each probe step it saves is one
    * existence check (microseconds), so the probe absorbs the ≤interval
    * staleness for free.
    */
  private val HeadHintName = "_head"
  private[tsdb] val HeadHintInterval = 10L
  private def headHintPath(tableDir: String) =
    new Path(manifestDir(tableDir), HeadHintName)

  private def writeHeadHint(fs: FileSystem, tableDir: String, v: Long): Unit =
    try {
      val out = fs.create(headHintPath(tableDir), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () } // advisory only

  private def readHeadHint(fs: FileSystem, tableDir: String): Option[Long] =
    try {
      val p = headHintPath(tableDir)
      if (!fs.exists(p)) scala.None
      else {
        val in = fs.open(p)
        val s = try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](64)
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toString("UTF-8")
        } finally in.close()
        Option(s.trim).filter(_.nonEmpty).map(_.toLong).filter(_ >= 1L)
      }
    } catch { case scala.util.control.NonFatal(_) => scala.None }

  /** Highest CLAIMED version (readable or not). O(1) metadata ops with a
    * healthy hint; O(versions) listing fallback otherwise.
    */
  private def highestClaimed(fs: FileSystem, tableDir: String): Option[Long] =
    readHeadHint(fs, tableDir) match {
      case Some(h) if fs.exists(versionPath(tableDir, h)) =>
        var v = h
        while (fs.exists(versionPath(tableDir, v + 1))) v += 1
        Some(v)
      case _ =>
        val listed = versions(fs, tableDir).headOption
        listed.foreach(writeHeadHint(fs, tableDir, _)) // self-heal (advisory)
        listed
    }

  /** The newest readable-and-resolvable snapshot; None means the table
    * predates the manifest layer (scan falls back to directory listing).
    */
  def latest(fs: FileSystem, tableDir: String): Option[Snapshot] =
    highestClaimed(fs, tableDir).flatMap(latestAtOrBelow(fs, tableDir, _))

  /** Walk back from `from` through claimed-but-unreadable versions to the
    * newest readable one. Claims are contiguous, so a MISSING predecessor
    * means VACUUM has pruned below this point — the rare tail where the
    * full listing is the only correct source of older survivors.
    */
  private def latestAtOrBelow(fs: FileSystem, tableDir: String,
      from: Long): Option[Snapshot] = {
    var v = from
    while (v >= 1L) {
      val snap = read(fs, tableDir, v)
      if (snap.nonEmpty) return snap
      if (v == 1L || !fs.exists(versionPath(tableDir, v - 1)))
        return versions(fs, tableDir).view.filter(_ < v)
          .flatMap(read(fs, tableDir, _)).headOption
      v -= 1
    }
    scala.None
  }

  /** A specific historical snapshot, if that version (and, for deltas, its
    * base chain) still exists — VACUUM prunes superseded versions past
    * retention.
    */
  def snapshotAt(fs: FileSystem, tableDir: String, version: Long): Option[Snapshot] =
    read(fs, tableDir, version)

  /** The newest version whose commit time is at or before `tsMs` —
    * timestamp-based time travel (Delta's TIMESTAMP AS OF resolution).
    * Walks back from the head reading only each version's own manifest
    * JSON (no base-chain resolution); torn claims have no commit time and
    * are stepped over. None when every surviving commit is newer than
    * `tsMs` (the table did not exist yet, or VACUUM pruned that history).
    */
  def versionAtOrBefore(fs: FileSystem, tableDir: String,
      tsMs: Long): Option[Long] = {
    var v = highestClaimed(fs, tableDir).getOrElse(return scala.None)
    while (v >= 1L && fs.exists(versionPath(tableDir, v))) {
      readRaw(fs, tableDir, v) match {
        case Some(raw) if raw.committedAtMs <= tsMs => return Some(v)
        case _ => // newer than tsMs, or torn — keep walking back
      }
      v -= 1
    }
    scala.None
  }

  /** The data-change provenance one COMMIT recorded: `Some(set)` = the
    * files this version added that are pure rewrites of already-committed
    * data (compaction outputs — streaming diffs must not deliver them);
    * `None` = the manifest predates the `rewrites` field (legacy tables) or
    * is unreadable, and the caller falls back to the name-prefix heuristic.
    */
  private[tsdb] def rewritesAt(fs: FileSystem, tableDir: String,
      version: Long): Option[Set[String]] =
    readRaw(fs, tableDir, version).flatMap(_.rewrites).map(_.toSet)

  /** Drop this process's cached snapshots (test/probe hook: measuring a
    * cold head resolution from disk requires the cache out of the way).
    */
  private[graft] def dropCachedSnapshots(): Unit =
    snapshotCache.synchronized(snapshotCache.clear())

  private def read(fs: FileSystem, tableDir: String, v: Long): Option[Snapshot] = {
    val key = (tableDir, v)
    val cached = snapshotCache.synchronized(Option(snapshotCache.get(key)))
    cached.filter(_ => fs.exists(versionPath(tableDir, v))).orElse {
      val loaded = readRaw(fs, tableDir, v).flatMap { raw =>
        resolve(fs, tableDir, raw).map { case (files, stats) =>
          Snapshot(raw.version, raw.committedAtMs, files, raw.wal,
            raw.streamVersions, stats)
        }
      }
      loaded.foreach(s => snapshotCache.synchronized(snapshotCache.put(key, s)))
      loaded
    }
  }

  /** Resolve a raw manifest to its full live list (and the per-file stats
    * of every live file that has them): inline directly, checkpoint from
    * the sidecar, delta by resolving the base and applying remove/add
    * (base stats minus removed files plus the delta's own adds). Any
    * unreadable link makes the whole version unresolvable (the caller
    * falls back to an older version). Bases must be strictly older than
    * the delta, so the recursion (through the caching [[read]]) always
    * terminates.
    */
  private def resolve(fs: FileSystem, tableDir: String,
      raw: Raw): Option[(Seq[String], Map[String, FileStats])] =
    raw.files.map { fl =>
      val live = fl.toSet
      (fl, raw.stats.filter { case (k, _) => live(k) })
    }
      .orElse(raw.checkpoint.flatMap(readCheckpoint(fs, tableDir, _)).map {
        case (fl, sidecarStats) =>
          // Sidecar stats are written from the committed snapshot's stats,
          // which are ⊆ live by the commit invariant — no million-entry
          // filter pass; stray foreign keys are never consulted (lookups
          // are by live file name).
          (fl, sidecarStats ++ raw.stats)
      })
      .orElse(raw.deltaBase.filter(_ < raw.version).flatMap { base =>
        read(fs, tableDir, base).map { parent =>
          // O(live + changes) delta application preserving the sorted
          // invariant every writer maintains — a deep delta chain over 10^6
          // files must not rebuild a set and re-sort the full list per
          // level. A (foreign) unsorted parent is detected during the merge
          // and falls back to the set-semantics rebuild.
          val removeSet = raw.remove.toSet
          val adds = raw.add.distinct.filterNot(removeSet).sorted
          val pf = parent.files.toIndexedSeq
          val out = new scala.collection.mutable.ArrayBuffer[String](
            pf.length + adds.length)
          var sortedOk = true
          var prev: String = null
          def push(s: String): Unit = {
            if (prev != null && prev.compareTo(s) > 0) sortedOk = false
            prev = s
            out += s
          }
          var i = 0
          var j = 0
          while (i < pf.length && j < adds.length) {
            val c = pf(i).compareTo(adds(j))
            if (c < 0) { val f = pf(i); i += 1; if (!removeSet(f)) push(f) }
            else if (c > 0) { push(adds(j)); j += 1 }
            else { val f = pf(i); i += 1; j += 1; push(f) } // add already live
          }
          while (i < pf.length) {
            val f = pf(i); i += 1; if (!removeSet(f)) push(f)
          }
          while (j < adds.length) { push(adds(j)); j += 1 }
          val files: Seq[String] =
            if (sortedOk) out.toIndexedSeq
            else ((pf.toSet -- raw.remove) ++ raw.add).toSeq.sorted
          // Stats keys are ⊆ live by the commit invariant (delta stats ⊆
          // add, parent stats ⊆ parent files), so dropping removed keys
          // suffices; a foreign manifest's stray key is never consulted —
          // all lookups are by live file name.
          val stats = (parent.fileStats -- raw.remove) ++ raw.stats
          (files, stats)
        }
      })

  private def readRaw(fs: FileSystem, tableDir: String, v: Long): Option[Raw] =
    try {
      val in = fs.open(versionPath(tableDir, v))
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toString("UTF-8")
      } finally in.close()
      val root = mapper.readTree(bytes)
      def strSeq(field: String): Seq[String] = {
        val node = root.get(field)
        if (node == null) Seq.empty else (0 until node.size()).map(node.get(_).asText())
      }
      val files = Option(root.get("files")).map(_ => strSeq("files"))
      val checkpoint = Option(root.get("checkpoint")).map(_.asText())
      val base = Option(root.get("base")).map(_.asLong())
      val streams = Option(root.get("stream_versions")).map { node =>
        val it = node.fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
        b.result()
      }.getOrElse(Map.empty[String, Long])
      // Per-file stats: `{"stats": {"<file>": {"size_bytes": n,
      // "min_start_us": n, "max_end_us": n, "tags": {"t": ["lo","hi"]},
      // "values": {"count": n, "sum": "d", "min": "f", "max": "f"}}}}`.
      // Absent (legacy manifests) means no file carries stats — never an
      // error; `tags` and `values` are optional per file. Value floats are
      // Java's shortest round-trip strings, so NaN, ±Inf and -0.0 read
      // back bit for bit.
      val stats = Option(root.get("stats")).map { node =>
        val it = node.fields()
        val b = Map.newBuilder[String, FileStats]
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue
          val tags = Option(v.get("tags")).map { tn =>
            val tit = tn.fields()
            val tb = Map.newBuilder[String, (String, String)]
            while (tit.hasNext) {
              val te = tit.next()
              tb += te.getKey ->
                (te.getValue.get(0).asText(), te.getValue.get(1).asText())
            }
            tb.result()
          }.getOrElse(Map.empty[String, (String, String)])
          b += e.getKey -> FileStats(
            v.get("size_bytes").asLong(),
            v.get("min_start_us").asLong(),
            v.get("max_end_us").asLong(),
            tags,
            Option(v.get("values")).map(vn => ValueStats(
              vn.get("count").asLong(), vn.get("sum").asText().toDouble,
              vn.get("min").asText().toFloat, vn.get("max").asText().toFloat)))
        }
        b.result()
      }.getOrElse(Map.empty[String, FileStats])
      if (files.isEmpty && checkpoint.isEmpty && base.isEmpty) scala.None
      else Some(Raw(
        root.get("version").asLong(),
        root.get("committed_at_ms").asLong(),
        strSeq("applied_wal_batches"), streams,
        files, checkpoint, base, strSeq("add"), strSeq("remove"),
        Option(root.get("rewrites")).map(_ => strSeq("rewrites")),
        stats))
    } catch { case scala.util.control.NonFatal(_) => scala.None }

  /** Same-JVM committers to one table are serialized: cross-process claims
    * are settled by the filesystem's exclusive create (atomic on HDFS-like
    * stores; object stores need a conditional PUT, the same contract
    * Delta's log stores require), but the local filesystem's
    * `create(overwrite=false)` is a non-atomic exists-then-create — and a
    * Spark driver with concurrent writer threads must not depend on it.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Publish a new snapshot computed from the current one. `update` maps
    * the current live set to the next (append = add new files, truncate =
    * empty). Retries on version-claim races.
    *
    * `stats` carries per-file statistics for files THIS commit introduces
    * — and ONLY those (enforced): the delta representation persists stats
    * for its `add` list alone, so a re-measured stat attached to a
    * carried-forward file would merge into this process's in-memory
    * snapshot but silently revert to the parent's value for any process
    * resolving the chain from disk. Data files are immutable here, so
    * re-measuring has no use case; if one ever appears, persist it by
    * rewriting the file under a new name (or forcing a checkpoint), not
    * by relaxing this contract. Stats of carried-forward files follow the
    * live list automatically and stats of removed files are dropped.
    * Advisory — committing without stats is always legal.
    */
  def commit(fs: FileSystem, tableDir: String,
      applyWalBatches: Seq[String] = Seq.empty,
      pruneWalBatches: String => Boolean = _ => false,
      inlineThreshold: Int = InlineThreshold,
      checkpointInterval: Long = CheckpointInterval,
      streamVersion: Option[(String, Long)] = scala.None,
      resetStreamVersions: Boolean = false,
      rewrites: Seq[String] = Seq.empty,
      stats: Map[String, FileStats] = Map.empty)
      (update: Seq[String] => Seq[String]): Snapshot = {
    val lock = commitLocks.computeIfAbsent(
      fs.makeQualified(new Path(tableDir)).toString, _ => new Object)
    lock.synchronized {
    var attempt = 0
    while (true) {
      // Numbering comes from the highest CLAIMED version (readable or
      // not), while content comes from the newest READABLE one: a torn
      // manifest at the head must be skipped over, never collided with
      // forever. Both come off the head hint — one probe, no directory
      // listing on the commit hot path.
      val maxClaimed = highestClaimed(fs, tableDir).getOrElse(0L)
      val current =
        if (maxClaimed == 0L) scala.None
        else latestAtOrBelow(fs, tableDir, maxClaimed)
      val carriedStreams =
        if (resetStreamVersions) Map.empty[String, Long]
        else current.map(_.streamVersions).getOrElse(Map.empty[String, Long])
      val nextStreams = streamVersion.fold(carriedStreams) { case (ns, v) =>
        carriedStreams.updated(ns, math.max(v, carriedStreams.getOrElse(ns, v)))
      }
      val baseFiles = current.map(_.files.toIndexedSeq).getOrElse(IndexedSeq.empty)
      val updated = update(baseFiles)
      // Append-only fast path — the streaming-ingest shape, and the one
      // that runs millions of times over a table's life. The base list is
      // already sorted and distinct, so the new names (usually a handful)
      // merge in O(live + adds) with NO full re-sort, no full set builds,
      // and no million-entry stats-map rebuild. The prefix check costs one
      // reference-fast pass; any non-append update (compaction, truncate,
      // vacuum rewrite) falls back to the general path below.
      def baseContains(f: String): Boolean = {
        var lo = 0
        var hi = baseFiles.length - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          val c = baseFiles(mid).compareTo(f)
          if (c == 0) return true
          if (c < 0) lo = mid + 1 else hi = mid - 1
        }
        false
      }
      val appendAdds: Option[Seq[String]] =
        if (updated.length >= baseFiles.length && updated.startsWith(baseFiles))
          Some(updated.drop(baseFiles.length).distinct
            .filterNot(baseContains).sorted)
        else scala.None
      val nextFiles: Seq[String] = appendAdds match {
        case Some(adds) if adds.isEmpty => baseFiles
        case Some(adds) =>
          val out = new Array[String](baseFiles.length + adds.length)
          var i = 0; var j = 0; var k = 0
          while (i < baseFiles.length && j < adds.length) {
            if (baseFiles(i).compareTo(adds(j)) <= 0) {
              out(k) = baseFiles(i); i += 1
            } else { out(k) = adds(j); j += 1 }
            k += 1
          }
          while (i < baseFiles.length) { out(k) = baseFiles(i); i += 1; k += 1 }
          while (j < adds.length) { out(k) = adds(j); j += 1; k += 1 }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        case scala.None => updated.distinct.sorted
      }
      // Stats may only accompany files this commit adds (see Scaladoc):
      // anything else would persist on some representations (inline,
      // checkpoint) but not on deltas — fail fast instead of diverging.
      val strayStats = appendAdds match {
        case Some(adds) =>
          val addSet = adds.toSet
          stats.keySet.filterNot(addSet)
        case scala.None =>
          val nextLive = nextFiles.toSet
          val carried = current.map(_.files.toSet).getOrElse(Set.empty)
          stats.keySet.filter(f => !nextLive(f) || carried(f))
      }
      require(strayStats.isEmpty,
        s"Stats attached to files not added by this commit: " +
          s"${strayStats.take(3).mkString(", ")}")
      val baseStats =
        current.map(_.fileStats).getOrElse(Map.empty[String, FileStats])
      val nextStats = appendAdds match {
        case Some(_) => // nothing removed: carried stats all stay live
          if (stats.isEmpty) baseStats else baseStats ++ stats
        case scala.None =>
          val nextLive = nextFiles.toSet
          (baseStats ++ stats).filter { case (k, _) => nextLive(k) }
      }
      val next = Snapshot(
        maxClaimed + 1L,
        System.currentTimeMillis(),
        nextFiles,
        ((current.map(_.appliedWalBatches).getOrElse(Seq.empty)
          .filterNot(pruneWalBatches)) ++ applyWalBatches).distinct.sorted,
        nextStreams,
        nextStats)

      // Representation: inline when small; a Parquet checkpoint on the
      // interval (or when there is no base to delta against); otherwise a
      // delta against the current snapshot. The sidecar is written before
      // the claim, under a unique name, so a reader can never observe a
      // manifest whose checkpoint is missing or raced-over.
      val inline = next.files.size <= inlineThreshold
      val json =
        if (inline) inlineJson(next, rewrites)
        else if (next.version % checkpointInterval == 0 || current.isEmpty) {
          val name = writeCheckpoint(fs, tableDir, next.version, next.files,
            next.fileStats)
          checkpointJson(next, name, rewrites)
        } else {
          val base = current.get
          appendAdds match {
            case Some(adds) =>
              deltaJson(next, base.version, adds, Seq.empty, rewrites)
            case scala.None =>
              val baseSet = base.files.toSet
              val nextSet = next.files.toSet
              deltaJson(next, base.version,
                next.files.filterNot(baseSet), base.files.filterNot(nextSet),
                rewrites)
          }
        }

      val path = versionPath(fs, tableDir, next)
      try {
        val out = fs.create(path, false) // create-if-absent claims the version
        try out.write(json.getBytes("UTF-8")) finally out.close()
        snapshotCache.synchronized(
          snapshotCache.put((tableDir, next.version), next))
        if (next.version == 1L || next.version % HeadHintInterval == 0L)
          writeHeadHint(fs, tableDir, next.version)
        return next
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException
            | _: java.io.IOException if attempt < MaxCommitAttempts =>
          attempt += 1 // lost the race (or transient IO): re-read and retry
      }
    }
    throw new IllegalStateException("unreachable")
    }
  }

  private def versionPath(fs: FileSystem, tableDir: String, next: Snapshot): Path = {
    fs.mkdirs(manifestDir(tableDir))
    versionPath(tableDir, next.version)
  }

  private def baseNode(s: Snapshot, rewrites: Seq[String]) = {
    val root = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("committed_at_ms", s.committedAtMs)
    if (s.appliedWalBatches.nonEmpty) {
      val wal = root.putArray("applied_wal_batches")
      s.appliedWalBatches.foreach(wal.add)
    }
    if (s.streamVersions.nonEmpty) {
      val sv = root.putObject("stream_versions")
      s.streamVersions.toSeq.sortBy(_._1).foreach { case (k, v) => sv.put(k, v) }
    }
    // ALWAYS present (even empty) in new manifests: its absence is what
    // tells readers "legacy manifest, fall back to the name heuristic".
    val rw = root.putArray("rewrites")
    rewrites.sorted.foreach(rw.add)
    root
  }

  private def render(root: com.fasterxml.jackson.databind.node.ObjectNode) =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)

  private def putStats(root: com.fasterxml.jackson.databind.node.ObjectNode,
      stats: Map[String, FileStats]): Unit =
    if (stats.nonEmpty) {
      val node = root.putObject("stats")
      stats.toSeq.sortBy(_._1).foreach { case (f, s) =>
        val o = node.putObject(f)
        o.put("size_bytes", s.sizeBytes)
        o.put("min_start_us", s.minStartUs)
        o.put("max_end_us", s.maxEndUs)
        if (s.tagBounds.nonEmpty) {
          val tn = o.putObject("tags")
          s.tagBounds.toSeq.sortBy(_._1).foreach { case (t, (lo, hi)) =>
            val arr = tn.putArray(t)
            arr.add(lo)
            arr.add(hi)
          }
        }
        s.values.foreach { v =>
          val vn = o.putObject("values")
          vn.put("count", v.count)
          vn.put("sum", v.sum.toString)
          vn.put("min", v.min.toString)
          vn.put("max", v.max.toString)
        }
      }
    }

  /** Inline manifests carry the FULL stats map; each representation stores
    * stats next to wherever it stores its file names, so resolution cost
    * stays O(what that representation already reads).
    */
  private def inlineJson(s: Snapshot, rewrites: Seq[String]): String = {
    val root = baseNode(s, rewrites)
    val arr = root.putArray("files")
    s.files.foreach(arr.add)
    putStats(root, s.fileStats)
    render(root)
  }

  /** Checkpoint manifests keep stats in the Parquet sidecar (the JSON stays
    * O(1) no matter the table size).
    */
  private def checkpointJson(s: Snapshot, name: String, rewrites: Seq[String]): String = {
    val root = baseNode(s, rewrites)
    root.put("checkpoint", name)
    render(root)
  }

  /** Delta manifests carry stats for their ADDED files only — the base
    * chain carries everything older, so a delta commit writes O(changed
    * files) of stats, never O(table).
    */
  private def deltaJson(s: Snapshot, base: Long,
      add: Seq[String], remove: Seq[String], rewrites: Seq[String]): String = {
    val root = baseNode(s, rewrites)
    root.put("base", base)
    val a = root.putArray("add")
    add.foreach(a.add)
    val r = root.putArray("remove")
    remove.foreach(r.add)
    val added = add.toSet
    putStats(root, s.fileStats.filter { case (k, _) => added(k) })
    render(root)
  }

  // -------------------------------------------------- checkpoint sidecars

  /** Stats columns are OPTIONAL so sidecars written before the feature (and
    * rows for files that never had stats) read back as stats-less — the
    * planner then falls back to a filesystem probe and never skips them,
    * mirroring Delta checkpoints' optional per-AddFile size/stats. The
    * value columns hold the floats' own bits (NaN, ±Inf, -0.0 included).
    */
  private val CheckpointSchema = MessageTypeParser.parseMessageType(
    """message graft_checkpoint {
      |  required binary path (STRING);
      |  optional int64 size_bytes;
      |  optional int64 min_start_us;
      |  optional int64 max_end_us;
      |  optional binary tag_bounds (STRING);
      |  optional int64 value_count;
      |  optional double value_sum;
      |  optional float value_min;
      |  optional float value_max;
      |}""".stripMargin)

  /** Compact JSON for the sidecar's per-file tag bounds column:
    * `{"t":["lo","hi"],...}` — schema-free so the sidecar layout never
    * depends on a table's tag columns.
    */
  private def tagBoundsJson(tb: Map[String, (String, String)]): String = {
    val o = mapper.createObjectNode()
    tb.toSeq.sortBy(_._1).foreach { case (t, (lo, hi)) =>
      val arr = o.putArray(t)
      arr.add(lo)
      arr.add(hi)
    }
    mapper.writeValueAsString(o)
  }

  private def parseTagBounds(json: String): Map[String, (String, String)] =
    try {
      val node = mapper.readTree(json)
      val it = node.fields()
      val b = Map.newBuilder[String, (String, String)]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
      }
      b.result()
    } catch {
      case scala.util.control.NonFatal(_) => Map.empty[String, (String, String)]
    }

  private def isCheckpointName(n: String) =
    n.startsWith("c") && n.endsWith(".parquet")

  /** Write the full live list as a ZSTD-Parquet sidecar (driver-side
    * parquet-mr writer — metadata-scale, no Spark job) and return its
    * unique name.
    */
  private def writeCheckpoint(fs: FileSystem, tableDir: String, v: Long,
      files: Seq[String], stats: Map[String, FileStats]): String = {
    fs.mkdirs(manifestDir(tableDir))
    val name = f"c$v%010d-${java.util.UUID.randomUUID()}.parquet"
    val path = new Path(manifestDir(tableDir), name)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(path, fs.getConf))
      .withConf(fs.getConf)
      .withType(CheckpointSchema)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .build()
    try files.foreach { f =>
      val g = new SimpleGroup(CheckpointSchema)
      g.add("path", f)
      stats.get(f).foreach { s =>
        g.add("size_bytes", s.sizeBytes)
        g.add("min_start_us", s.minStartUs)
        g.add("max_end_us", s.maxEndUs)
        if (s.tagBounds.nonEmpty) g.add("tag_bounds", tagBoundsJson(s.tagBounds))
        s.values.foreach { v =>
          g.add("value_count", v.count)
          g.add("value_sum", v.sum)
          g.add("value_min", v.min)
          g.add("value_max", v.max)
        }
      }
      writer.write(g)
    } finally writer.close()
    name
  }

  private def readCheckpoint(fs: FileSystem, tableDir: String,
      name: String): Option[(Seq[String], Map[String, FileStats])] =
    try {
      val path = new Path(manifestDir(tableDir), name)
      if (!fs.exists(path)) scala.None
      else {
        val reader = ParquetReader
          .builder(new GroupReadSupport(), path)
          .withConf(fs.getConf)
          .build()
        val out = Seq.newBuilder[String]
        val st = Map.newBuilder[String, FileStats]
        try {
          var g = reader.read()
          while (g != null) {
            val f = g.getString("path", 0)
            out += f
            // Legacy sidecars have no stats columns at all; newer ones may
            // have them null for individual files. Both read as "no stats".
            val schema = g.getType
            if (schema.containsField("size_bytes") &&
                g.getFieldRepetitionCount("size_bytes") > 0 &&
                g.getFieldRepetitionCount("min_start_us") > 0 &&
                g.getFieldRepetitionCount("max_end_us") > 0) {
              val tags =
                if (schema.containsField("tag_bounds") &&
                    g.getFieldRepetitionCount("tag_bounds") > 0)
                  parseTagBounds(g.getString("tag_bounds", 0))
                else Map.empty[String, (String, String)]
              val values =
                if (schema.containsField("value_count") &&
                    g.getFieldRepetitionCount("value_count") > 0)
                  Some(ValueStats(g.getLong("value_count", 0),
                    g.getDouble("value_sum", 0), g.getFloat("value_min", 0),
                    g.getFloat("value_max", 0)))
                else scala.None
              st += f -> FileStats(
                g.getLong("size_bytes", 0),
                g.getLong("min_start_us", 0),
                g.getLong("max_end_us", 0),
                tags, values)
            }
            g = reader.read()
          }
        } finally reader.close()
        Some((out.result(), st.result()))
      }
    } catch { case scala.util.control.NonFatal(_) => scala.None }

  // ----------------------------------------------------------- retention

  /** Manifest files (JSONs and checkpoint sidecars) that retention may
    * delete: aged past `cutoffMs`, excluding the newest claimed version,
    * and excluding anything a SURVIVING manifest still needs — the base
    * chain of every kept version and every sidecar a kept version
    * references. Deleting a delta's base before the delta itself would
    * orphan it; the closure keeps that impossible.
    */
  def staleVersionPaths(fs: FileSystem, tableDir: String, cutoffMs: Long): Seq[Path] = {
    val vs = versions(fs, tableDir)
    if (vs.isEmpty) return Seq.empty
    def aged(p: Path) =
      fs.exists(p) && fs.getFileStatus(p).getModificationTime < cutoffMs

    val raws: Map[Long, Raw] =
      vs.flatMap(v => readRaw(fs, tableDir, v).map(v -> _)).toMap
    // Start from everything age-eligible (never the newest claimed), then
    // pull survivors' delta bases back out until a fixpoint.
    val candidates = scala.collection.mutable.Set[Long](
      vs.tail.filter(v => aged(versionPath(tableDir, v))): _*)
    var changed = true
    var guard = 0
    while (changed && guard < MaxChainDepth) {
      changed = false
      val survivors = vs.filterNot(candidates)
      survivors.flatMap(raws.get).flatMap(_.deltaBase).foreach { b =>
        if (candidates.remove(b)) changed = true
      }
      guard += 1
    }
    val staleJsons = vs.filter(candidates).map(versionPath(tableDir, _))

    // Sidecars: deletable when aged and referenced by NO surviving manifest.
    val referenced = vs.filterNot(candidates)
      .flatMap(raws.get).flatMap(_.checkpoint).toSet
    val dir = manifestDir(tableDir)
    val staleSidecars =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => isCheckpointName(p.getName))
        .filterNot(p => referenced.contains(p.getName))
        .filter(aged)
    staleJsons ++ staleSidecars
  }
}
