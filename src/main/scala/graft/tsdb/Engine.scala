package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedded engine facade: the Spark-native equivalent of the reference's
  * `Operations` trait (create/tables/schema/write/read/copy/truncate/drop/
  * vacuum, /root/reference/crates/modelardb_embedded/src/operations/mod.rs:72-148)
  * plus the four SQL statement extensions handled by its custom dialect
  * (CREATE TIME SERIES TABLE, INCLUDE, TRUNCATE, VACUUM;
  * /root/reference/crates/modelardb_storage/src/parser.rs:686-708). All other
  * SQL falls through to Spark SQL over the registered logical views.
  */
final class Engine(val spark: SparkSession, val root: String) {
  val dataFolder = new DataFolder(spark, root)

  /** Analyzed logical plans of the registered views, used by the Catalyst
    * rewrite to confirm an aggregate's child really is the unmodified table
    * view (a name match alone could be spoofed by a filtered subquery
    * aliased with the table's name).
    */
  @volatile private var registeredViewPlans:
    Map[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = Map.empty
  @volatile private var viewsStale = true

  private[graft] def viewPlan(table: String):
    Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    registeredViewPlans.get(table)

  /** Any catalog or data mutation invalidates the registered views. */
  private def invalidateViews(): Unit = viewsStale = true

  sealed trait Aggregate
  object Aggregate {
    case object None extends Aggregate
    case object Count extends Aggregate
    case object Min extends Aggregate
    case object Max extends Aggregate
    case object Sum extends Aggregate
    case object Avg extends Aggregate
    // Variance family, answered from (count, Σv, Σv²) partials: interior
    // segments compute both sums in ONE decode pass (SegmentSumStats),
    // boundary/bucket partials carry Σv² beside Σv — the same hybrid
    // plans as SUM/AVG, one extra double per partial row. Sample (n-1)
    // and population (n) divisors mirror SQL var_samp/var_pop.
    case object VarSamp extends Aggregate
    case object VarPop extends Aggregate
    case object StdSamp extends Aggregate
    case object StdPop extends Aggregate
    // Chronological FIRST/LAST value (min_by/max_by(value, ts)): answered
    // from segment edge values — interior segments decode only their two
    // edge points (SegmentEdgeValues, one pass), bucket/range-straddling
    // segments carry the in-bucket edge beside the other partials. The M4
    // visualization downsample (Jugel et al., VLDB 2014: min/max/first/
    // last per pixel bucket) is First+Last+Min+Max in one bucketed read.
    case object First extends Aggregate
    case object Last extends Aggregate
  }

  /** Do the requested kinds need Σv² partials? */
  private def needsSumSq(aggregates: Seq[Aggregate]): Boolean =
    aggregates.exists {
      case Aggregate.VarSamp | Aggregate.VarPop |
           Aggregate.StdSamp | Aggregate.StdPop => true
      case _ => false
    }

  /** Do the requested kinds need Σv partials? (COUNT/MIN/MAX/FIRST/LAST
    * don't — their interior side must stay DECODE-FREE: the sum closed
    * form is the one per-segment kernel that walks the value stream.)
    */
  private def needsSum(aggregates: Seq[Aggregate]): Boolean =
    aggregates.exists {
      case Aggregate.Sum | Aggregate.Avg | Aggregate.VarSamp |
           Aggregate.VarPop | Aggregate.StdSamp | Aggregate.StdPop => true
      case _ => false
    }

  /** Do the requested kinds need chronological edge-value partials? */
  private def needsEdges(aggregates: Seq[Aggregate]): Boolean =
    aggregates.exists {
      case Aggregate.First | Aggregate.Last => true
      case _ => false
    }

  /** How [[readTimeSeriesTableResampled]] fills materialized empty
    * buckets: `Nulls` leaves every aggregate column NULL (counts 0 would
    * be a lie for min/max, so uniformity wins); `Locf` carries the last
    * observed bucket's aggregate row forward within each tag group;
    * `Interp` linearly interpolates floating aggregate columns between the
    * surrounding observed buckets (weighted by bucket distance) and leaves
    * integral columns (counts) NULL — a fractional count would be a lie.
    */
  sealed trait FillPolicy
  object FillPolicy {
    case object Nulls extends FillPolicy
    case object Locf extends FillPolicy
    case object Interp extends FillPolicy
  }

  // -------------------------------------------------------------------- DDL

  def create(meta: TableMetadata): Unit = {
    dataFolder.create(meta); invalidateViews()
  }

  def tables(): Seq[String] = dataFolder.tables()

  def schema(table: String): StructType = {
    val meta = dataFolder.metadata(table)
    if (meta.isTimeSeries) meta.querySchema
    else if (meta.normalSchemaJson.nonEmpty)
      DataType.fromJson(meta.normalSchemaJson).asInstanceOf[StructType]
    else dataFolder.readNormal(table).schema
  }

  def drop(table: String): Unit = {
    spark.catalog.dropTempView(table)
    dataFolder.drop(table); invalidateViews()
  }
  def truncate(table: String): Unit = {
    dataFolder.truncate(table); invalidateViews()
  }
  def vacuum(table: String, retentionSeconds: Long = 604800L): Unit =
    dataFolder.vacuum(table, retentionSeconds)

  /** OPTIMIZE: compact small files into ~targetBytes ones in one atomic
    * manifest swap; see [[DataFolder.compact]]. Returns
    * (filesCompacted, filesCreated).
    */
  def compact(table: String,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterByTags: Boolean = false): (Int, Int) = {
    val r = dataFolder.compact(table, targetBytes, clusterByTags)
    invalidateViews()
    r
  }

  // -------------------------------------------------------------- write/read

  def write(table: String, df: DataFrame): Unit = {
    val meta = dataFolder.metadata(table)
    if (meta.isTimeSeries) dataFolder.write(table, df)
    else dataFolder.writeNormal(table, df)
    invalidateViews()
  }

  /** Streaming micro-batch append: the same compress/commit pipeline as
    * [[write]], plus the stream's (namespace, batchId) watermark recorded
    * ATOMICALLY with the manifest commit. Structured Streaming replays
    * uncheckpointed micro-batches from the source, so exactly-once needs an
    * idempotent sink, not a WAL copy of the batch: a replay compares itself
    * against the committed watermark and no-ops, with no window between
    * data commit and marker (Delta's per-appId transaction-version design).
    */
  private[graft] def writeStreamBatch(
      table: String, df: DataFrame, namespace: String, batchId: Long): Unit = {
    val meta = dataFolder.metadata(table)
    if (meta.isTimeSeries)
      dataFolder.write(table, df, streamVersion = Some(namespace -> batchId))
    else dataFolder.writeNormal(table, df,
      streamVersion = Some(namespace -> batchId))
    invalidateViews()
  }

  /** Durable ingest through the write-ahead log (the reference's WAL mode,
    * write_ahead_log.rs:42-220): the raw batch is persisted in one cheap
    * Parquet write BEFORE compression begins, and the segment commit
    * records the batch id atomically with the data. A crash at any point
    * is repaired by [[recover]] with exactly-once semantics — replayed if
    * the commit never landed, skipped (and cleaned) if it did.
    */
  def writeDurable(table: String, df: DataFrame): Unit = {
    val batchId = dataFolder.walAppend(table, df)
    applyWalBatch(table, batchId)
  }

  /** Compress/append the WAL copy (the durable source of truth, so replay
    * is byte-identical to first ingest), commit with the batch id, then
    * clean the WAL entry.
    */
  private def applyWalBatch(table: String, batchId: String): Unit = {
    val batch = dataFolder.walRead(table, batchId)
    val meta = dataFolder.metadata(table)
    if (meta.isTimeSeries) dataFolder.write(table, batch, Seq(batchId))
    else dataFolder.writeNormal(table, batch, Seq(batchId))
    dataFolder.walDelete(table, batchId)
    invalidateViews()
  }

  /** Crash recovery for the durable ingest path: replay WAL batches the
    * current manifest has not applied, drop ones it has (commit landed but
    * cleanup did not), and discard torn WAL writes (no `_SUCCESS` — the
    * writer never got an ack). Returns the replayed batch ids.
    */
  def recover(table: String): Seq[String] = {
    val applied = TableManifest.latest(
        dataFolder.fileSystem, dataFolder.tableDir(table))
      .map(_.appliedWalBatches.toSet).getOrElse(Set.empty)
    dataFolder.walBatchDirs(table).flatMap { batchId =>
      if (applied.contains(batchId) ||
          !dataFolder.walBatchComplete(table, batchId)) {
        dataFolder.walDelete(table, batchId)
        scala.None
      } else {
        applyWalBatch(table, batchId)
        Some(batchId)
      }
    }
  }

  /** The full logical view of a table as a DataFrame. */
  def readTable(table: String): DataFrame = {
    val meta = dataFolder.metadata(table)
    if (meta.isTimeSeries)
      GridView.dataPoints(dataFolder.segments(table), meta, meta.fieldColumns)
    else dataFolder.readNormal(table)
  }

  /** Snapshot (time-travel) read of a time series table as of a manifest
    * version — reconstruction over exactly that commit's file list.
    */
  def readTableVersion(table: String, version: Long): DataFrame = {
    val meta = dataFolder.metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table.")
    GridView.dataPoints(
      dataFolder.segments(table, Some(version)), meta, meta.fieldColumns)
  }

  /** Snapshot read as of a wall-clock commit time: the newest manifest
    * version committed at or before `epochMs` (TIMESTAMP AS OF semantics).
    */
  def readTableAsOfTimestamp(table: String, epochMs: Long): DataFrame = {
    val dir = dataFolder.tableDir(table)
    val version = TableManifest
      .versionAtOrBefore(dataFolder.fileSystem, dir, epochMs)
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no commit at or before timestamp $epochMs — the " +
          "table did not exist yet, or that history has been VACUUMed."))
    readTableVersion(table, version)
  }

  /** CDC read (Delta's `table_changes` insert rows): the data points each
    * manifest commit in (fromVersion, toVersion] APPENDED, reconstructed
    * through the grid, stamped with a `_commit_version` column.
    * fromVersion = 0 means "since table creation". Compaction rewrites
    * are excluded (dataChange = false); removals (TRUNCATE, rollback)
    * carry no row-level identity in a segment store and are not emitted —
    * and a rollback commit re-publishes previously-removed files, so a
    * range crossing one re-delivers those points (history is
    * forward-written). Ranges crossing VACUUMed history fail loudly, the
    * same retention contract as the streaming source.
    */
  def readTableChanges(table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val meta = dataFolder.metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table.")
    val head = TableManifest
      .latest(dataFolder.fileSystem, dataFolder.tableDir(table))
      .map(_.version).getOrElse(0L)
    require(toVersion <= head,
      s"$table has no manifest version $toVersion yet (head is $head).")
    val perVersion = dataFolder.changedDataFiles(table, fromVersion, toVersion)
    val frames = perVersion.map { case (v, files) =>
      GridView.dataPoints(dataFolder.segmentsFor(table, files, Some(v)), meta,
        meta.fieldColumns).withColumn("_commit_version", lit(v))
    }
    if (frames.isEmpty)
      GridView.dataPoints(dataFolder.segmentsFor(table, Seq.empty), meta,
        meta.fieldColumns).withColumn("_commit_version", lit(0L))
    else frames.reduce(_ union _)
  }

  /** Roll a table back to an earlier manifest version (forward-written
    * history; abandoned files become VACUUM-able orphans).
    */
  def rollback(table: String, toVersion: Long): Unit = {
    dataFolder.rollback(table, toVersion)
    invalidateViews()
  }

  /** STREAMING logical view of one stored field: segments appended to the
    * table (batch writes, streaming ingest, copies) arrive as micro-batches
    * and are reconstructed through the same expression-based grid pipeline
    * — continuous queries over the compressed store, an ability the
    * batch-only reference lacks. Single-field: multivariate reassembly
    * aggregates by timestamp, which a caller adds downstream with a
    * watermark if needed.
    */
  def readTableStream(table: String, field: String,
      maxVersionsPerTrigger: Option[Long] = scala.None): DataFrame = {
    val meta = dataFolder.metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table.")
    require(meta.fieldColumns.contains(field), s"$field is not a stored field.")
    GridView.dataPoints(
      dataFolder.segmentsStream(table, maxVersionsPerTrigger), meta,
      Seq(field))
  }

  /** Structured read of a time series table, the `read_time_series_table`
    * parity API: column projection, optional aggregate, tag group-by, time
    * range, and tag-equality filters. Simple aggregates and tag group-bys
    * are answered segment-natively (no reconstruction) when no time filter
    * blocks it; everything else goes through the grid.
    */
  def readTimeSeriesTable(
      table: String,
      fields: Seq[String] = Seq.empty,
      aggregate: Aggregate = Aggregate.None,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame =
    readTimeSeriesTableMulti(table, fields,
      if (aggregate == Aggregate.None) Seq.empty else Seq(aggregate),
      groupByTags, startTime, endTime, tagFilters, tagInFilters)

  /** Multi-aggregate structured read: every requested aggregate of every
    * selected field is answered from ONE pass over the data — one
    * segment-metadata aggregation when no time range is given, one hybrid
    * interior/boundary pass when there is — instead of one Spark job per
    * aggregate kind. (The reference reaches the same shape by packing all
    * accumulators into a single AggregateExec,
    * /root/reference/crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:255-334.)
    *
    * Output columns: group-by tags first, then `<kind>_<field>` for each
    * aggregate in order, each field in order, then `<kind>_<tsColumn>` for
    * each timestamp aggregate (Min/Max only — the range-restricted table
    * extent, answered from segment bounds and boundary-decode timestamp
    * partials, never from materialized points). An empty `aggregates` and
    * `tsAggregates` returns the reconstructed points unchanged.
    */
  def readTimeSeriesTableMulti(
      table: String,
      fields: Seq[String] = Seq.empty,
      aggregates: Seq[Aggregate] = Seq.empty,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      tsAggregates: Seq[Aggregate] = Seq.empty): DataFrame = {
    require(!aggregates.contains(Aggregate.None),
      "Pass an empty aggregates list for a plain read, not Aggregate.None.")
    require(aggregates.distinct == aggregates,
      "Duplicate aggregate kinds would produce duplicate output columns.")
    validateTsAggregates(tsAggregates)
    val hasAgg = aggregates.nonEmpty || tsAggregates.nonEmpty
    // A ts-extent-only query still needs one field partition scanned (any
    // one: fields are timestamp-aligned, so every partition spans the same
    // extent) — don't widen to all of them. Equality and IN-list tag
    // filters both prune the segment relation before ANY plan
    // (segment-native, hybrid, or grid) touches it.
    val slice = SegmentSlice(dataFolder, table, fields, startTime, endTime,
      tagFilters, tagInFilters,
      extentOnly = aggregates.isEmpty && tsAggregates.nonEmpty)
    val meta = slice.meta
    val selected = slice.fields

    if (hasAgg && groupByTags.forall(meta.tagColumns.contains))
      segmentAggregate(slice, aggregates, groupByTags, tsAggregates)
    else {
      val points = GridView.dataPoints(slice.tagFiltered, meta, selected,
        slice.startUs, slice.endUs)
      if (!hasAgg) points
      else {
        val tsName = meta.timestampColumn
        val aggs =
          (for (agg <- aggregates; f <- selected)
            yield gridAggColumn(agg, f, tsName)) ++
            tsAggregates.map {
              case Aggregate.Min => min(col(tsName)).as(s"min_$tsName")
              case _ => max(col(tsName)).as(s"max_$tsName")
            }
        if (groupByTags.isEmpty) points.agg(aggs.head, aggs.tail: _*)
        else points.groupBy(groupByTags.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    }
  }

  /** Time-bucketed (downsampling) aggregates: every requested aggregate of
    * every selected field per fixed-width epoch-aligned timestamp bucket,
    * optionally grouped by tags and restricted to a time range. The hybrid
    * split generalizes the two-sided range plan of
    * [[readTimeSeriesTableMulti]] to N buckets: segments wholly inside one
    * bucket (and the range) contribute closed-form partials straight from
    * segment metadata; only segments straddling a bucket or range edge are
    * gridded. Downsampling a long retention window therefore touches the
    * ~10^4×-smaller segment relation for almost all data — the reference
    * has no bucketed rewrite at all (its aggregate rewrite handles only
    * ungrouped whole-table aggregates,
    * /root/reference/crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:49-63,
    * so any GROUP BY on time reconstructs every point).
    *
    * Output columns: group-by tags, then `bucket` (TimestampType, the
    * inclusive bucket start, floor semantics for pre-epoch timestamps),
    * then `<kind>_<field>` per aggregate and field. Empty buckets are
    * absent, matching a points-level GROUP BY.
    */
  def readTimeSeriesTableBucketed(
      table: String,
      bucket: java.time.Duration,
      fields: Seq[String] = Seq.empty,
      aggregates: Seq[Aggregate] = Seq.empty,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      tsAggregates: Seq[Aggregate] = Seq.empty): DataFrame = {
    val bucketUs = SegmentSlice.micros(bucket)
    require(bucketUs > 0, "Bucket width must be at least one microsecond.")
    require((aggregates.nonEmpty || tsAggregates.nonEmpty) &&
      !aggregates.contains(Aggregate.None),
      "Bucketed reads require at least one real aggregate kind.")
    require(aggregates.distinct == aggregates,
      "Duplicate aggregate kinds would produce duplicate output columns.")
    validateTsAggregates(tsAggregates)
    require(!groupByTags.contains("bucket"),
      "A group-by tag named 'bucket' would collide with the output bucket column.")
    val slice = SegmentSlice(dataFolder, table, fields, startTime, endTime,
      tagFilters, tagInFilters, groupByTags, extentOnly = aggregates.isEmpty)
    val meta = slice.meta
    val selected = slice.fields

    // Epoch-floor bucketing in exact BIGINT arithmetic: x - pmod(x, w) ==
    // floor(x/w)*w for any sign of x, so pre-epoch points keep floor
    // semantics (a double-based floor(x/w) would lose exactness past 2^53).
    def bucketOf(c: Column): Column = c - pmod(c, lit(bucketUs))

    // Both sides emit raw partial rows in ONE shape — (tags...,
    // field_column, __graft_bucket, cnt/sum/m2/min/max/tmin/tmax) — merged
    // a single aggregation: contained segments contribute closed-form
    // per-segment expressions (no decode), straddlers per-bucket rows from
    // the decode generator. One shuffle on the output keys, no
    // union-of-aggregates combine layer.
    val keys = groupByTags.map(col)
    val withSq = needsSumSq(aggregates)
    val withEdges = needsEdges(aggregates)
    val mergeAggs = partialMergeAggs(meta, selected, tsAggregates.nonEmpty,
      withSq, withEdges)
    val combined = slice.split(slice.contained &&
        bucketOf(col("start_time")) === bucketOf(col("end_time")))(
      Engine.interiorPartials(_, keys, Some(bucketOf(col("start_time"))), withSq,
        withEdges, withSum = needsSum(aggregates)),
      GridView.bucketPartials(_, meta, selected, bucketUs, slice.startUs,
          slice.endUs, withEdges)
        .select(keys ++ Seq(
          col(SegmentSchema.FieldColumn), col("__graft_bucket"),
          col("__bp_cnt"), col("__bp_sum"), col("__bp_m2"),
          col("__bp_min"), col("__bp_max"),
          col("__bp_tmin"), col("__bp_tmax")) ++
          (if (withEdges) Seq(col("__bp_vfirst"), col("__bp_vlast"))
          else Seq.empty): _*))
      .groupBy((keys :+ col("__graft_bucket")): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)

    combined.select((keys :+
      timestamp_micros(col("__graft_bucket")).as("bucket")) ++
      finalAggColumns(aggregates, selected, tsAggregates, meta.timestampColumn): _*)
  }

  /** Resampling: [[readTimeSeriesTableBucketed]] plus materialized empty
    * buckets — each tag group's bucket axis is densified between its first
    * and last observed bucket (`sequence` + `explode`, rows proportional
    * to the output, never to the points) and gaps are filled per `fill`
    * (NULL or last-observation-carried-forward). The downsampling itself
    * still answers from segment closed forms wherever segments are
    * bucket-contained. With no tag grouping the LOCF window is a single
    * global series (one partition by construction — it IS one series).
    *
    * Output matches [[readTimeSeriesTableBucketed]]: tags, `bucket`,
    * `<kind>_<field>` — plus the filled rows.
    */
  def readTimeSeriesTableResampled(
      table: String,
      bucket: java.time.Duration,
      fields: Seq[String] = Seq.empty,
      aggregates: Seq[Aggregate] = Seq.empty,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      fill: FillPolicy = FillPolicy.Nulls): DataFrame = {
    val agg = readTimeSeriesTableBucketed(table, bucket, fields, aggregates,
      groupByTags, startTime, endTime, tagFilters, tagInFilters)
    val bucketUs = SegmentSlice.micros(bucket)
    val keys = groupByTags.map(col)
    val aggColNames = agg.columns.filterNot(groupByTags.contains)
      .filterNot(_ == "bucket").toSeq

    // Densify WITHOUT a spans/grid/left-join: the old shape fed the
    // bucketed frame into BOTH a span derivation and a dense join, and the
    // two branches each recomputed the whole segment aggregation (they
    // prune different columns, so exchange reuse cannot dedupe them; a
    // shared localCheckpoint erases stats and demoted the join — r17 A/B,
    // 3.1 s → 4.3–4.8 s). Instead, each observed bucket emits ITSELF plus
    // its trailing gap buckets up to (exclusive) the group's next observed
    // bucket, read off one lead() window. The union of those half-open
    // runs is exactly the old [min, max] grid — the last observed bucket
    // contributes only itself — with observed rows keeping their values
    // and generated gap rows NULL, exactly the left join's output. ONE
    // aggregation subtree, no join, and the lead() window shares its
    // hash(keys) exchange with the fill windows below.
    import org.apache.spark.sql.expressions.Window
    val withB = agg.withColumn("__b", unix_micros(col("bucket"))).drop("bucket")
    val wLead = Window.partitionBy(keys: _*).orderBy(col("__b"))
    val withNext = withB.withColumn("__next",
      coalesce(lead(col("__b"), 1).over(wLead), col("__b") + lit(bucketUs)))
    val exploded = withNext.select(
      (keys :+ posexplode(sequence(col("__b"),
        col("__next") - lit(bucketUs), lit(bucketUs)))
        .as(Seq("__pos", "__gb"))) ++ aggColNames.map(col): _*)
    val dense = exploded.select(
      (keys :+ col("__gb").as("__b")) ++
        aggColNames.map(c => when(col("__pos") === 0, col(c)).as(c)): _*)

    val filled = fill match {
      case FillPolicy.Nulls => dense
      case FillPolicy.Locf =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(keys: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        aggColNames.foldLeft(dense)((df, c) =>
          df.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
      case FillPolicy.Interp =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        val wPrev = Window.partitionBy(keys: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // "Next observation" as a CUMULATIVE frame over the REVERSED
        // order: first_value over [currentRow, unboundedFollowing] makes
        // Spark recompute the frame's aggregate from scratch per row
        // (UnboundedFollowingWindowFunctionFrame is O(rows²) per series),
        // while last_value over [unboundedPreceding, currentRow] under
        // ORDER BY __b DESC is the identical value maintained
        // incrementally — O(rows), one extra in-partition sort, no
        // extra exchange. At 100 TB series depth the quadratic frame is
        // the difference between a window pass and a stalled task.
        val wNext = Window.partitionBy(keys: _*).orderBy(col("__b").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        aggColNames.foldLeft(dense) { (df, c) =>
          df.schema(c).dataType match {
            case FloatType | DoubleType =>
              val obsB = when(col(c).isNotNull, col("__b"))
              val pv = last(col(c).cast(DoubleType), ignoreNulls = true).over(wPrev)
              val pb = last(obsB, ignoreNulls = true).over(wPrev)
              val nv = last(col(c).cast(DoubleType), ignoreNulls = true).over(wNext)
              val nb = last(obsB, ignoreNulls = true).over(wNext)
              val interp = pv + (nv - pv) * (col("__b") - pb) / (nb - pb)
              df.withColumn(c, coalesce(col(c), interp.cast(df.schema(c).dataType)))
            // Integral aggregates (counts) have no meaningful fractional
            // fill — gaps stay NULL, as under FillPolicy.Nulls.
            case _ => df
          }
        }
    }
    filled.select((keys :+ timestamp_micros(col("__b")).as("bucket")) ++
      aggColNames.map(col): _*)
  }

  /** Per-series exponentially weighted moving average over bucketed means
    * — the classic smoothing/short-horizon-forecast signal, computed at
    * the BUCKET grain so the point stream never materializes: bucket
    * means come from the segment-native bucketed plan (closed forms for
    * interior segments, decode only at bucket boundaries), and the EWMA
    * itself is a bounded-lookback window over the tiny (series × buckets)
    * mean frame — ONE window shuffle whose input is ~10^4× smaller than
    * the points at a 100 TB retention window.
    *
    * The weighting is the truncated exponential kernel: over the last
    * `lookback` OBSERVED buckets (row-based — empty buckets don't stretch
    * the window), `ewma_t = Σ_j w_j·x_{t-j} / Σ_j w_j` with
    * `w_j = α(1−α)^j`, the partial sums running over the lags that exist.
    * Truncation makes the result a finite, order-fixed arithmetic
    * expression — exactly replayable by any SQL engine with lag() —
    * where the infinite recursive EWMA is not expressible without
    * recursion and accumulates unboundedly at 100 TB history depths.
    *
    * Output: (tags…, bucket TimestampType, ewma_<field> DOUBLE), one row
    * per observed bucket.
    */
  def ewmaSmooth(table: String, field: String, bucket: java.time.Duration,
      alpha: Double, lookback: Int,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1].")
    require(lookback >= 1, "lookback must be at least one bucket.")
    val means = readTimeSeriesTableBucketed(table, bucket, Seq(field),
        Seq(Aggregate.Count, Aggregate.Sum), groupByTags, startTime, endTime,
        tagFilters, tagInFilters)
      .withColumn("__avg", col(s"sum_$field") / col(s"count_$field"))
    import org.apache.spark.sql.expressions.Window
    val keys = groupByTags.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("bucket"))
    val terms = (0 until lookback).map { j =>
      val x = if (j == 0) col("__avg") else lag(col("__avg"), j).over(w)
      val wj = alpha * math.pow(1.0 - alpha, j)
      (when(x.isNotNull, x * lit(wj)).otherwise(lit(0.0)),
        when(x.isNotNull, lit(wj)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    means.select(keys ++ Seq(col("bucket"), (num / den).as(s"ewma_$field")): _*)
  }

  /** Seasonal profile: count/sum/avg/min/max of a field per PHASE of a
    * repeating period (hour-of-day, day-of-week, …) — the diurnal/weekly
    * fingerprint of each series. Phases are not contiguous in time
    * (every day's 15:00 hour folds together), so no single closed form
    * covers them; instead the points are first bucketed at the phase
    * GRAIN through the segment-native bucketed plan (interior segments
    * answer from closed forms, only bucket-straddlers decode) and the
    * tiny bucket frame is then re-grouped by
    * `(bucket / grain) mod phases`: counts and sums add exactly, min/max
    * nest exactly, and avg = Σsum/Σcount — so the two-level result is
    * identical to grouping raw points by phase directly, while reading
    * ~10^4× less at a 100 TB retention window.
    *
    * `grainUs` is the phase width (e.g. 1 h), `phases` the period length
    * in grains (24 for hour-of-day over days, 7 with a 1-day grain for
    * day-of-week). Phase 0 is the epoch-aligned grain (epoch µs 0 —
    * a Thursday, for the 7-day case). Output: (tags…, phase,
    * count_<f>, sum_<f>, avg_<f>, min_<f>, max_<f>).
    */
  def seasonalProfile(table: String, field: String,
      grain: java.time.Duration, phases: Int,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(phases >= 1, "A seasonal profile needs at least one phase.")
    val grainUs = SegmentSlice.micros(grain)
    val buckets = readTimeSeriesTableBucketed(table, grain, Seq(field),
      Seq(Aggregate.Count, Aggregate.Sum, Aggregate.Min, Aggregate.Max),
      groupByTags, startTime, endTime, tagFilters, tagInFilters)
    // floorDiv semantics via pmod keep pre-epoch buckets in [0, phases).
    // The quotient is exact: buckets are multiples of the grain, so the
    // (double) division of two exact sub-2^53 values whose true ratio is
    // an integer rounds to that integer; the cast back to LONG is lossless.
    val periodUs = Math.multiplyExact(grainUs, phases.toLong)
    val phase = (pmod(unix_micros(col("bucket")), lit(periodUs)) /
      lit(grainUs)).cast("long")
    val keys = groupByTags.map(col) :+ phase.as("phase")
    buckets.groupBy(keys: _*).agg(
        sum(col(s"count_$field")).as(s"count_$field"),
        sum(col(s"sum_$field")).as(s"sum_$field"),
        min(col(s"min_$field")).as(s"min_$field"),
        max(col(s"max_$field")).as(s"max_$field"))
      .withColumn(s"avg_$field",
        col(s"sum_$field") / col(s"count_$field"))
  }

  /** Cross-series Pearson correlation screen: every pair of series
    * (distinct values of `seriesTag`), correlated on their time-aligned
    * bucket means — the "which sensors move together" catalog query.
    *
    * Scale shape: the pairing input is the BUCKET-MEAN frame (series ×
    * buckets — segment-native, ~10^4× smaller than the points), and it is
    * broadcast to pair against itself, so candidate pairs are generated
    * partition-locally and reduced by partial aggregation on
    * (tag_1, tag_2) — the points are never joined and the means never
    * shuffle before pairing. The output is inherently O(S²) in the series
    * count: callers bound S with `tagInFilters` (a panel) the same way
    * any dense correlation matrix is bounded; within the panel every
    * bucket overlap contributes.
    *
    * Output: (tag_1, tag_2, n_buckets, corr_<field>) for pairs with at
    * least `minOverlap` common buckets, tag_1 < tag_2. The correlation is
    * the textbook (nΣxy − ΣxΣy) / √((nΣxx − Σx²)(nΣyy − Σy²)) over f64
    * bucket means — an explicit closed form any SQL engine replays.
    */
  def correlationMatrix(table: String, field: String,
      bucket: java.time.Duration, seriesTag: String, minOverlap: Int = 2,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(minOverlap >= 2, "A correlation needs at least two buckets.")
    val means = readTimeSeriesTableBucketed(table, bucket, Seq(field),
        Seq(Aggregate.Count, Aggregate.Sum), Seq(seriesTag), startTime,
        endTime, tagFilters, tagInFilters)
      .select(col(seriesTag).as("__t"), col("bucket").as("__b"),
        (col(s"sum_$field") / col(s"count_$field")).as("__avg"))
    // Fresh column names on each side: a self-join on the shared attribute
    // would be ambiguous (both legs descend from the same plan).
    val left = means.select(col("__t").as("tag_1"), col("__b").as("__b1"),
      col("__avg").as("__x"))
    val right = means.select(col("__t").as("tag_2"), col("__b").as("__b2"),
      col("__avg").as("__y"))
    val pairs = left.join(broadcast(right),
      col("__b1") === col("__b2") && col("tag_1") < col("tag_2"))
    val agg = pairs.groupBy(col("tag_1"), col("tag_2")).agg(
      count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
      sum(col("__y")).as("__sy"), sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
      .where(col("__n") >= minOverlap)
    val n = col("__n").cast("double")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val den = sqrt((n * col("__sxx") - col("__sx") * col("__sx")) *
      (n * col("__syy") - col("__sy") * col("__sy")))
    agg.select(col("tag_1"), col("tag_2"), col("__n").as("n_buckets"),
      (num / den).as(s"corr_$field"))
  }

  /** Sampling-gap analytics straight from the segment relation — values
    * NEVER decode: intra-segment gaps come from the timestamp codec
    * ([[SegmentTimeGaps]]; O(1) for regular segments, timestamp-only
    * decode for irregular ones), inter-segment gaps from a per-series
    * window over segment bounds (the gap between one segment's last point
    * and the next one's first point is `next.start_time - end_time` —
    * segments of a series never overlap). One segment scan, one keyed
    * window shuffle, one aggregation; at a 100 TB retention window this
    * touches the segment relation where a lag() over points would shuffle
    * every reconstructed row.
    *
    * Returns per `groupByTags` group (or one global row):
    * `max_gap_us` (NULL when the group has < 2 points) and `n_gaps_over`
    * (number of consecutive-point deltas > `threshold`). The window is
    * always keyed by the FULL tag set — gaps are per series — so grouping
    * by a tag subset aggregates per-series gaps, never cross-series ones.
    */
  def timeGapStats(table: String, threshold: java.time.Duration,
      groupByTags: Seq[String] = Seq.empty,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    // Timestamps are write-aligned across fields: one field partition
    // carries the full time axis of every series.
    val slice = SegmentSlice(dataFolder, table, tagFilters = tagFilters,
      tagInFilters = tagInFilters, groupByTags = groupByTags,
      extentOnly = true)
    val meta = slice.meta
    val thresholdUs = SegmentSlice.micros(threshold)

    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.ColumnBridge
    val gaps = ColumnBridge.column(SegmentTimeGaps(thresholdUs,
      ColumnBridge.expression(col("start_time")),
      ColumnBridge.expression(col("end_time")),
      ColumnBridge.expression(col("timestamps"))))
    val w = Window.partitionBy(meta.tagColumns.map(col): _*)
      .orderBy(col("start_time"))
    // Chained select: CollapseProject must not inline (re-decode) the
    // struct kernel once per extracted field.
    val perSegment = slice.segments
      .select((meta.tagColumns.map(col) :+ col("start_time") :+
        col("end_time") :+ gaps.as("__g")): _*)
      .select((meta.tagColumns.map(col) :+ col("start_time") :+
        col("end_time") :+ col("__g").getField("max_delta").as("__intra_max") :+
        col("__g").getField("n_over").as("__intra_over")): _*)
      .withColumn("__boundary_gap",
        col("start_time") - lag(col("end_time"), 1).over(w))

    val keys = groupByTags.map(col)
    val aggs = Seq(
      max(greatest(col("__intra_max"), col("__boundary_gap")))
        .as("max_gap_us"),
      (coalesce(sum(col("__intra_over")), lit(0L)) +
        coalesce(sum(when(col("__boundary_gap") > thresholdUs, 1L)), lit(0L)))
        .as("n_gaps_over"))
    if (keys.isEmpty) perSegment.agg(aggs.head, aggs.tail: _*)
    else perSegment.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Segment-native value-predicate count: how many of a field's values lie
    * in (lower, upper] (and how many points there are at all), optionally
    * per tag group and time-ranged — `count(*) FILTER (WHERE v > x)`
    * answered WITHOUT reconstructing the point stream. Comparisons use
    * Spark/DuckDB SQL float semantics (NaN greater than everything, so the
    * default upper bound — the Double.NaN sentinel for "unbounded" — makes
    * this exactly `count(v > lower)`, NaN values included). The reference's
    * aggregate rewrite turns itself off when any value predicate is present
    * (optimizer/model_simple_aggregates.rs:175-334); here the segment
    * bounds decide most segments outright (all-in → stored length,
    * all-out → 0), and only bound-straddling segments evaluate a kernel
    * that is O(1) for PMC, O(log len) for Swing (monotone closed form),
    * and a values-only walk for MacaqueV. With a time range, interior
    * segments keep the metadata fast paths and only the at-most-two
    * boundary segments per series pay the (index-clipped) kernel.
    */
  def thresholdCount(table: String, field: String,
      lower: Double, upper: Double = Double.NaN,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    val keys = groupByTags.map(col)
    val partials = slice.partials(keys) { clip =>
      val (lo, hi) = SegmentSlice.window(clip)
      Seq(SegmentAggregates.countInRangeCol(lit(lower), lit(upper), lo, hi)
          .as("__tc_in"),
        SegmentSlice.lenOf(clip).as("__tc_n"))
    }
    val aggs = Seq(
      coalesce(sum(col("__tc_in")), lit(0L)).as(s"count_in_$field"),
      coalesce(sum(col("__tc_n")), lit(0L)).as(s"count_$field"))
    if (keys.isEmpty) partials.agg(aggs.head, aggs.tail: _*)
    else partials.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Segment-native value-FILTERED aggregates: count, sum, min, max, and
    * avg of a field's values inside the value interval — `lower` EXCLUSIVE
    * (None = unbounded below), `upper` INCLUSIVE (None = unbounded above,
    * NaN values included) — optionally per tag group and time-ranged. The
    * SQL `sum(v) FILTER (WHERE v > x)` family answered WITHOUT
    * reconstructing the point stream: stored bounds settle entirely-out
    * segments from metadata (the dominant case under selective
    * predicates), and straddling segments run one kernel pass that
    * binary-searches the monotone in-range run for Swing models. Output:
    * (tags…, count_in_f, sum_in_f, min_in_f, max_in_f, avg_in_f) with the
    * numeric aggregates NULL for groups where nothing qualifies —
    * matching Spark's own empty-aggregate semantics.
    */
  def thresholdStats(table: String, field: String,
      lower: Option[Double], upper: Option[Double] = scala.None,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame =
    thresholdStatsMulti(table, field, Seq((lower, upper)), groupByTags,
      startTime, endTime, tagFilters, tagInFilters)

  /** [[thresholdStats]] over a UNION of disjoint value intervals — the
    * outlier band `v < a OR v > b` and any disjunction of ranges, still
    * ONE metadata-dominated pass: each segment evaluates the interval
    * list against its stored bounds (skip when every interval excludes
    * it) and a single traversal accumulates the union's stats.
    */
  def thresholdStatsMulti(table: String, field: String,
      intervals: Seq[(Option[Double], Option[Double])],
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(intervals.nonEmpty, "thresholdStatsMulti needs intervals")
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    val keys = groupByTags.map(col)
    val partials = slice.partials(keys) { clip =>
      val (lo, hi) = SegmentSlice.window(clip)
      Seq(SegmentAggregates.statsInRangesCol(intervals, lo, hi).as("__ts_st"))
    }
    val grouped = aggregateStatsPartials(partials, keys, field)
    grouped.withColumn(s"avg_in_$field",
      col(s"sum_in_$field") / col(s"count_in_$field").cast("double"))
  }

  /** The shared reduction over `__ts_st` stats-struct partials: one
    * partial-aggregated shuffle of six scalars per group, segments never
    * leave their scan partition. Timestamp extremes surface as
    * session-zone timestamps (µs-exact).
    */
  private def aggregateStatsPartials(partials: DataFrame,
      keys: Seq[Column], field: String): DataFrame = {
    val st = col("__ts_st")
    val aggs = Seq(
      coalesce(sum(st.getField("cnt")), lit(0L)).as(s"count_in_$field"),
      // Empty partials contribute NULL (skipped), so an all-empty group
      // sums to NULL — SQL's empty-set SUM.
      sum(when(st.getField("cnt") > 0L, st.getField("sum")))
        .as(s"sum_in_$field"),
      min(st.getField("mn")).as(s"min_in_$field"),
      max(st.getField("mx")).as(s"max_in_$field"),
      timestamp_micros(min(st.getField("tmin"))).as(s"min_ts_in_$field"),
      timestamp_micros(max(st.getField("tmax"))).as(s"max_ts_in_$field"),
      SegmentAggregates.m2MergeCol(st.getField("cnt"),
        st.getField("sum"), st.getField("m2")).as("__m2_in"))
    val grouped =
      if (keys.isEmpty) partials.agg(aggs.head, aggs.tail: _*)
      else partials.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    // Variance family from the Chan-merged centered moment — SQL
    // var_samp/var_pop NULL thresholds included, stable at any mean.
    val cnt = col(s"count_in_$field")
    val m2 = col("__m2_in")
    grouped
      .withColumn(s"var_samp_in_$field",
        SegmentAggregates.varianceFromM2(cnt, m2, sample = true))
      .withColumn(s"var_pop_in_$field",
        SegmentAggregates.varianceFromM2(cnt, m2, sample = false))
      .withColumn(s"stddev_samp_in_$field",
        sqrt(col(s"var_samp_in_$field")))
      .withColumn(s"stddev_pop_in_$field",
        sqrt(col(s"var_pop_in_$field")))
      .drop("__m2_in")
  }

  /** [[thresholdStats]] per TIME BUCKET: value-filtered count/sum/min/max
    * and first/last qualifying timestamps per (tags…, epoch-floored
    * bucket) — "exceedances per day" answered segment-natively. Segments
    * contained in one bucket (the common case when buckets exceed the
    * segment span) contribute ONE partial with no timestamp work;
    * bucket-straddling segments explode into their overlapped buckets
    * (`sequence`, rows proportional to overlap, usually 2) and clip each
    * kernel to that bucket's window — O(1) index arithmetic for regular
    * segments. One shuffle of six-scalar partials on (tags…, bucket);
    * buckets where nothing qualifies carry count 0 (callers drop them for
    * SQL semantics). Output: (tags…, bucket TIMESTAMP, count_in_f,
    * sum_in_f, min_in_f, max_in_f, min_ts_in_f, max_ts_in_f).
    */
  def thresholdStatsBucketed(table: String, field: String,
      bucket: java.time.Duration,
      lower: Option[Double], upper: Option[Double] = scala.None,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(!groupByTags.contains("bucket"),
      "A group-by tag named 'bucket' would collide with the output column.")
    val bucketUs = SegmentSlice.micros(bucket)
    require(bucketUs > 0, "Bucket width must be at least one microsecond.")
    val lo = SegmentAggregates.boundLit(lower)
    val up = SegmentAggregates.boundLit(upper)
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    val (tsLo, tsHi) = slice.clip

    // Epoch-floor bucketing in exact BIGINT arithmetic (see
    // readTimeSeriesTableBucketed).
    def bucketOf(c: Column): Column = c - pmod(c, lit(bucketUs))
    val keys = groupByTags.map(col)
    // Straddlers: enumerate overlapped buckets clipped to the outer
    // range, then clip each kernel to its bucket ∩ range window.
    val clipLo = slice.startUs
      .map(l => greatest(col("start_time"), lit(l)))
      .getOrElse(col("start_time"))
    val clipHi = slice.endUs
      .map(h => least(col("end_time"), lit(h)))
      .getOrElse(col("end_time"))
    val partials = slice.split(slice.contained &&
        bucketOf(col("start_time")) === bucketOf(col("end_time")))(
      _.select(keys ++ Seq(
        bucketOf(col("start_time")).as("__graft_bucket"),
        SegmentAggregates.statsInRangeCol(lo, up).as("__ts_st")): _*),
      _.withColumn("__graft_bucket",
          explode(sequence(bucketOf(clipLo), bucketOf(clipHi),
            lit(bucketUs))))
        .select(keys ++ Seq(
          col("__graft_bucket"),
          SegmentAggregates.statsInRangeCol(lo, up,
            greatest(col("__graft_bucket"), lit(tsLo)),
            least(col("__graft_bucket") + lit(bucketUs - 1L), lit(tsHi)))
            .as("__ts_st")): _*))
    aggregateStatsPartials(partials, keys :+ col("__graft_bucket"), field)
      .withColumn("bucket", timestamp_micros(col("__graft_bucket")))
      .drop("__graft_bucket")
      .select((keys :+ col("bucket")) ++ Seq(
        col(s"count_in_$field"), col(s"sum_in_$field"),
        col(s"min_in_$field"), col(s"max_in_$field"),
        col(s"min_ts_in_$field"), col(s"max_ts_in_$field"),
        col(s"var_samp_in_$field"), col(s"var_pop_in_$field"),
        col(s"stddev_samp_in_$field"), col(s"stddev_pop_in_$field")): _*)
  }

  /** STREAMING exceedance monitor: a continuous per-series count of
    * values inside the interval, windowed on each segment's END time —
    * the alerting query over the compressed store. Appended segments
    * arrive as micro-batches and contribute their filtered-stats partial
    * WITHOUT reconstruction (same kernel as [[thresholdStats]]: stored
    * bounds settle most segments, NaN keeps SQL semantics); a watermarked
    * tumbling window then aggregates per (window, tags…). Attribution is
    * by segment CLOSE time — the moment the data became queryable — which
    * also makes the event time monotone per series, so the watermark
    * advances cleanly. State is one row per (window, series); segments
    * never reconstruct, the stream moves seven scalars per segment.
    * Output: (window, tags…, count_in_f, count_f, min_in_f, max_in_f).
    */
  def thresholdCountStream(table: String, field: String,
      lower: Option[Double], upper: Option[Double] = scala.None,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "2 hours",
      maxVersionsPerTrigger: Option[Long] = scala.None): DataFrame = {
    val meta = dataFolder.metadata(table)
    require(meta.isTimeSeries, s"$table is not a time series table.")
    require(meta.fieldColumns.contains(field),
      s"$field is not a stored field of $table.")
    val segs = dataFolder.segmentsStream(table, maxVersionsPerTrigger)
      .where(SegmentSlice.fieldColumnPredicate(meta, Seq(field)))
    val st = SegmentAggregates.statsInRangeCol(
      SegmentAggregates.boundLit(lower), SegmentAggregates.boundLit(upper))
    val keys = window(col("__seg_end"), windowDuration) +:
      meta.tagColumns.map(col)
    segs
      .withColumn("__seg_end", timestamp_micros(col("end_time")))
      .withColumn("__ts_st", st)
      .withWatermark("__seg_end", watermarkDelay)
      .groupBy(keys: _*)
      .agg(
        coalesce(sum(col("__ts_st").getField("cnt")), lit(0L))
          .as(s"count_in_$field"),
        coalesce(sum(SegmentAggregates.lenCol), lit(0L)).as(s"count_$field"),
        min(col("__ts_st").getField("mn")).as(s"min_in_$field"),
        max(col("__ts_st").getField("mx")).as(s"max_in_$field"))
  }

  /** The slice of `field` broadcast-joined with a per-group `bounds` frame
    * (tags…, lower, upper) on the bounds' tag columns, which are returned
    * as the partials' keys.
    */
  private def joinBounds(table: String, field: String, bounds: DataFrame,
      startTime: Option[java.time.Instant], endTime: Option[java.time.Instant],
      tagFilters: Map[String, String], tagInFilters: Map[String, Seq[String]])
      : (SegmentSlice, Seq[Column], DataFrame) = {
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters)
    val joinTags = bounds.columns.filter(slice.meta.tagColumns.contains).toSeq
    require(joinTags.nonEmpty, "bounds must carry at least one tag column.")
    require(bounds.columns.toSet == (joinTags ++ Seq("lower", "upper")).toSet,
      "bounds columns must be (tags..., lower, upper).")
    (slice, joinTags.map(col), slice.segments.join(broadcast(bounds
      .withColumn("lower", col("lower").cast("double"))
      .withColumn("upper", col("upper").cast("double"))), joinTags))
  }

  /** [[thresholdStats]] with PER-GROUP bounds: `bounds` carries some of
    * the table's tag columns plus `lower`/`upper` (doubles; NULL =
    * unbounded, upper semantics as in [[thresholdStats]]), broadcast-joins
    * onto the segment relation, and each group aggregates against its own
    * interval. With `lowerInclusive`, `lower = upper = target` selects
    * exactly the points EQUAL to the group's target (NaN targets
    * included) — the argmin/argmax building block. Groups absent from
    * `bounds` are absent from the result (inner join).
    */
  def thresholdStatsBy(table: String, field: String, bounds: DataFrame,
      lowerInclusive: Boolean = false,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val (slice, keys, joined) = joinBounds(table, field, bounds, startTime,
      endTime, tagFilters, tagInFilters)
    val partials = slice.partials(keys, joined) { clip =>
      val (lo, hi) = SegmentSlice.window(clip)
      Seq(SegmentAggregates.statsInRangeCol(col("lower"), col("upper"),
        lit(lo), lit(hi), lowerInclusive).as("__ts_st"))
    }
    aggregateStatsPartials(partials, keys, field)
  }

  /** Per-group argmin/argmax: the timestamp at which each series attains
    * its extreme value (ties resolve to the EARLIEST such timestamp —
    * deterministic, unlike SQL max_by). Two segment-native passes, both
    * distributed: the extreme itself from stored min/max metadata, then
    * the per-group target broadcast back onto the segment relation where
    * only segments whose bounds can contain the target run the kernel —
    * the point stream never materializes and nothing collects to the
    * driver. NaN extremes (all-NaN series) resolve like Spark sorts them:
    * greatest, with the first NaN point's timestamp.
    */
  def argExtremum(table: String, field: String, kind: String,
      groupByTags: Seq[String],
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(kind == "min" || kind == "max", s"kind must be min|max: $kind")
    require(groupByTags.nonEmpty, "argExtremum needs at least one tag.")
    val agg = if (kind == "max") Aggregate.Max else Aggregate.Min
    val extremes = readTimeSeriesTableMulti(table, Seq(field), Seq(agg),
      groupByTags, startTime, endTime, tagFilters, tagInFilters)
    val target = col(s"${kind}_$field").cast("double")
    val bounds = extremes.select(groupByTags.map(col) ++ Seq(
      target.as("lower"), target.as("upper")): _*)
    thresholdStatsBy(table, field, bounds, lowerInclusive = true,
      startTime, endTime, tagFilters, tagInFilters)
      .select(groupByTags.map(col) ++ Seq(
        col(s"min_in_$field").as(s"${kind}_$field"),
        col(s"min_ts_in_$field").as(s"${kind}_ts_$field")): _*)
  }

  /** Segment-native fixed-width value histogram of a stored field:
    * `floor((v - origin) / width)` bin counts of the FINITE values
    * (optionally per tag group and time-ranged), with the point stream
    * never materialized. Segments whose stored bounds land in ONE bin —
    * at any realistic bin width, almost all of them — contribute
    * (bin, len) from metadata alone; only bin-straddling or NaN-capable
    * segments run the [[HistogramBins]] generator, which emits one row per
    * NON-EMPTY bin (closed-form for PMC, monotone binary-searched bin runs
    * for Swing). Output: (tags…, bin, count), empty bins absent.
    */
  def valueHistogram(table: String, field: String,
      origin: Double, width: Double,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      sparkFloorBins: Boolean = false): DataFrame = {
    require(width > 0, "Histogram width must be positive.")
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    val keys = groupByTags.map(col)
    import org.apache.spark.sql.graft.ColumnBridge
    def attr(name: String) = ColumnBridge.expression(col(name))
    val merged = slice.split(
        slice.contained && SegmentAggregates.singleBinCol(origin, width))(
      _.select(keys ++ Seq(
        SegmentAggregates.binCol(col("min_value"), origin, width)
          .as("__vh_bin"),
        SegmentAggregates.lenCol.as("__vh_cnt")): _*),
      _.select((ColumnBridge.column(HistogramBins(origin, width,
        slice.startUs, slice.endUs,
        attr("model_type_id"), attr("start_time"), attr("end_time"),
        attr("timestamps"), attr("min_value"), attr("max_value"),
        attr("values"), attr("residuals"), sparkFloorBins)) +: keys): _*))
    merged.groupBy(keys :+ col("__vh_bin"): _*)
      .agg(sum(col("__vh_cnt")).as(s"count_$field"))
      .withColumnRenamed("__vh_bin", "bin")
  }

  /** EXACT quantiles of a stored field from compressed segments, per tag
    * group or over the whole slice — no decode, no sort, no point
    * shuffle, where Spark's exact `percentile` sorts every group's values
    * and `approx_percentile` is approximate. Result for quantile q over a
    * group's n values: the k-th smallest value under the SQL total order
    * (k = ceil(q·n); -Inf smallest, NaN greatest, zeros equal), located by
    * [[exactRanksBy]]'s bisection over segment threshold counts in
    * O(log(key space) / log(fan)) jobs, independent of both data volume
    * and group count.
    *
    * Returns (tags…, q DOUBLE, q_<field> FLOAT), groups in key order and
    * quantiles in argument order: NaN for quantiles beyond the non-NaN
    * tail and for a group with no points in range, -0.0 canonicalized to
    * 0.0. An ungrouped call always returns one row per q.
    */
  def exactQuantiles(table: String, field: String, qs: Seq[Double],
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(qs.nonEmpty, "At least one quantile is required.")
    require(qs.forall(q => q > 0.0 && q <= 1.0), "Quantiles must be in (0, 1].")
    val (counts, values) = exactRanksBy(table, field, qs.map(q => (q, true)),
      groupByTags, startTime, endTime, tagFilters, tagInFilters)
    // Ungrouped, the whole slice is the one group Nil — present even when
    // no segment reaches the range and the census has no group at all.
    val groups =
      if (groupByTags.isEmpty) Seq(Nil)
      else counts.keys.toSeq.sortBy(_.mkString("\u0000"))
    val out = groups.flatMap { g =>
      qs.map { q =>
        val v = rankValue(counts, values, g, q, disc = true).toFloat
        org.apache.spark.sql.Row.fromSeq(
          g ++ Seq(q, if (v == 0.0f) 0.0f else v))
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      groupByTags.map(tc => org.apache.spark.sql.types.StructField(
        tc, org.apache.spark.sql.types.StringType)) ++ Seq(
        org.apache.spark.sql.types.StructField("q",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(s"q_$field",
          org.apache.spark.sql.types.FloatType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), outSchema)
  }

  /** Eager localCheckpoint that counts the rows whose `nullCol` is NULL
    * DURING the materializing job itself — one Spark job per ladder round
    * instead of two (Dataset.localCheckpoint(true) runs an internal
    * count() to materialize, then the caller's active-row count was a
    * SECOND job over the checkpointed blocks). The count comes back
    * through runJob's per-partition results (exact under task retries,
    * unlike an accumulator); the partitions are cached by this same job
    * under the local-checkpoint storage level, so the returned frame's
    * lineage is truncated exactly as Dataset.localCheckpoint(true)'s is.
    */
  private def localCheckpointCountingNulls(
      df: DataFrame, nullCol: String): (DataFrame, Long) = {
    val schema = df.schema
    val ix = schema.fieldIndex(nullCol)
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val counts = spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var n = 0L
        while (it.hasNext) { if (it.next().isNullAt(ix)) n += 1 }
        n
      })
    (org.apache.spark.sql.graft.PlanBridge.ofInternalRows(spark, rdd, schema),
      counts.sum)
  }

  /** The one exact-order-statistic search, behind [[exactQuantiles]] and
    * the percentile SQL splice: resolves, per tag group (or, with no
    * `groupByTags`, over the whole slice as the single group Nil), the
    * ranks implied by `rankSpecs` — (q, disc=true) the discrete rank
    * min(max(1, ceil(q*n)), max(n, 1)); (q, disc=false) BOTH bracketing
    * continuous ranks floor((n-1)*q)+1 and ceil((n-1)*q)+1 (n > 0 only) —
    * of the field under the SQL float total order, returning each census
    * group's point count n and every resolved (group, rank) value;
    * [[rankValue]] turns them into quantile values. Ranks beyond the
    * non-NaN tail resolve to NaN, ranks inside the -Inf head to -Inf;
    * everything else bisects.
    *
    * DISTRIBUTED LADDER: census, per-(group, rank) brackets, probe
    * points, and per-round updates all live in DataFrames — the driver
    * holds only the round counter and an active-row count, so 10^6-10^7
    * series bisect with O(1) driver memory. Per round: the active state
    * derives each rank's ladder points inside the plan (IntegralDivide on
    * the total-order keyspace), points aggregate into one probe array per
    * group (k-sorted, padded to a spec-static width), the array joins onto
    * the segment relation for ONE kernel pass, and a fixed-width column
    * reduction (map-side combined, no point explode) yields per-group
    * counts that shrink each bracket. Job count stays O(log(key space) /
    * log(fan)), independent of data volume and group count; the ONLY
    * O(groups) driver materialization is the final answer collect the
    * callers consume.
    */
  private[graft] def exactRanksBy(table: String, field: String,
      rankSpecs: Seq[(Double, Boolean)], groupByTags: Seq[String],
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty)
      : (Map[Seq[String], Long], Map[(Seq[String], Long), Float]) = {
    require(rankSpecs.nonEmpty, "exactRanksBy needs at least one rank spec.")
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    import graft.core.ValueCounts.totalOrderKey
    val fullLo = totalOrderKey(Float.NegativeInfinity)
    val fullHi = totalOrderKey(Float.PositiveInfinity)
    val ksStatic = rankSpecs.distinct.map { case (_, d) => if (d) 1 else 2 }.sum

    import org.apache.spark.sql.graft.ColumnBridge
    def keyToFloat(c: Column): Column =
      ColumnBridge.column(FloatFromOrderKey(ColumnBridge.expression(c)))
    def floatToKey(c: Column): Column =
      ColumnBridge.column(FloatTotalOrderKey(ColumnBridge.expression(c)))

    // One synthetic constant key unifies the grouped and whole-table
    // shapes (the global case is ONE group — a single-row probe frame).
    val keyNames: Seq[String] =
      if (groupByTags.isEmpty) Seq("__gk") else groupByTags
    val keys = keyNames.map(col)
    def withKey(df: DataFrame): DataFrame =
      if (groupByTags.isEmpty) df.withColumn("__gk", lit("g")) else df

    // The ladder scans the SAME pruned segment slice ~6-8 times (census,
    // every bisection round, verification): cache it once, spill-safe —
    // on a cluster this pins each executor's slice hot across rounds
    // instead of re-reading parquet per round.
    val segCached = withKey(slice.segments)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    /** Per-segment kernel partials `keys ++ (__arr, __n) ++ extra` of
      * `segments` with the slice's contained/straddler time clipping.
      */
    def partialsOf(arrOf: (Long, Long) => Column,
        extra: Seq[Column], segments: DataFrame): DataFrame =
      slice.partials(keys, segments) { clip =>
        val (lo, hi) = SegmentSlice.window(clip)
        Seq(arrOf(lo, hi).as("__arr"), SegmentSlice.lenOf(clip).as("__n")) ++
          extra
      }

    // Grouped census as a DataFrame — never collected until the final
    // answer: per group n, the -Inf head, the NaN tail, and the stored
    // value bounds seeding each bracket (cutting the key range from 2^32
    // to the group's actual span).
    val censusArr = (tsLo: Long, tsHi: Long) =>
      SegmentAggregates.countAboveMultiCol(
        typedLit(Seq(Double.NegativeInfinity, Double.PositiveInfinity)),
        tsLo, tsHi)
    val censusParts = partialsOf(censusArr,
      Seq(col("min_value").as("__mn"), col("max_value").as("__mx")),
      segCached)
    val censusDf = censusParts
      .select(keys ++ Seq(
        element_at(col("__arr"), 1).as("__gt_neginf"),
        element_at(col("__arr"), 2).as("__gt_posinf"),
        col("__n"), col("__mn"), col("__mx")): _*)
      .groupBy(keys: _*)
      .agg(
        coalesce(sum(col("__gt_neginf")), lit(0L)).as("__gt_neginf"),
        coalesce(sum(col("__gt_posinf")), lit(0L)).as("__nan"),
        coalesce(sum(col("__n")), lit(0L)).as("n"),
        min(col("__mn")).as("__mn"), max(col("__mx")).as("__mx"))
      .select(keys ++ Seq(
        col("n"),
        (col("n") - col("__gt_neginf")).as("negInf"),
        col("__nan").as("nan"),
        when(col("__mn").isNull || isnan(col("__mn")), lit(fullLo))
          .otherwise(greatest(lit(fullLo), floatToKey(col("__mn")) - 1L))
          .as("bLo"),
        when(col("__mx").isNull || isnan(col("__mx")), lit(fullHi))
          .otherwise(least(lit(fullHi), floatToKey(col("__mx")) + 1L))
          .as("bHi")): _*)
      .cache()

    // Probe width adapts to the group count (one cheap count on the
    // cached census): each round's probe state is ~groups × width × 8 B,
    // so a few thousand groups afford a 2048-key fan (a 2^27 bracket in
    // 3 rounds) while 10^5+ groups scale the fan down to keep the
    // per-round probe volume near 64 MB — round count grows only
    // logarithmically as the fan shrinks. Every group's probe array pads
    // to the static width with +Inf (the kernel's cheapest threshold;
    // the sorted-threshold accumulator keeps each decoded value
    // O(log width) regardless), and the reduction is ONE LongVectorSum
    // column, so planning cost is width-independent.
    val nGroups = math.max(1L, censusDf.count())
    // Fan cap measured at the knee (round 15): 4096 cuts one narrowing
    // round but the wider kernel pass costs more than the round saves
    // (ts_sql_median 4.2 s → 5.7 s); 2048 stands.
    val fan = math.max(16L, math.min(2048L / ksStatic,
      24000000L / (nGroups * ksStatic)))
    val width = (ksStatic * fan).toInt

    // Ranks per group from the spec list — the same clamp arithmetic as
    // [[rankValue]] (IEEE double ops are deterministic, so the expression
    // and the Scala closure agree bit-for-bit). The group's
    // distinct ranks are assembled in ONE array so posexplode hands each
    // rank a group-stable position `__r` — its FIXED slot block in every
    // probe array this ladder builds (offset = __r·fan, a pure
    // expression; no per-round prefix sum over variable slice sizes).
    val specArr = array(rankSpecs.distinct.map { case (q, d) =>
      struct(lit(q).as("q"), lit(d).as("d")) }: _*)
    val ksOfSpec = (s: Column) => {
      val q = s.getField("q")
      val discK = least(
        greatest(lit(1L), ceil(q * col("n").cast("double")).cast("long")),
        greatest(col("n"), lit(1L)))
      val contPos = (col("n") - 1L).cast("double") * q
      when(s.getField("d"), array(discK))
        .otherwise(when(col("n") > 0L,
          array(floor(contPos).cast("long") + 1L,
            ceil(contPos).cast("long") + 1L))
          .otherwise(array().cast("array<long>")))
    }
    val ksFull = array_distinct(flatten(transform(specArr, ksOfSpec)))
    val state0 = censusDf
      .select(keys ++ Seq(col("n"), col("negInf"), col("nan"), col("bLo"),
        col("bHi"), posexplode(ksFull)): _*)
      .select(keys ++ Seq(col("col").as("k"), col("pos").cast("int").as("__r"),
        col("n"),
        when(col("n") === 0L || col("col") > col("n") - col("nan"),
          lit(Float.NaN))
          .when(col("col") <= col("negInf"), lit(Float.NegativeInfinity))
          .otherwise(lit(null).cast("float")).as("res"),
        col("bLo").as("lo"), col("bHi").as("hi"),
        lit(false).as("prov")): _*)

    // The per-rank ladder points, derived INSIDE the plan from (lo, hi)
    // by a compiled kernel ([[LadderKernels.ladderPoints]]) — integer
    // keyspace arithmetic.
    val ptsExpr: Column = ColumnBridge.column(LadderPointsExpr(
      ColumnBridge.expression(col("lo")), ColumnBridge.expression(col("hi")),
      fan))

    /** One probe job: per active (group, k) row with its `pts` array,
      * count reconstructed values above every point — returns the input
      * rows with `__off` (this k's slice offset in the group's probe
      * array) and `__cnts` (the group's summed count array) attached.
      * Everything stays row-level expressions: the probe array AND each
      * rank's slice offset assemble from one collect_list aggregation
      * (compiled kernels — no per-round window), the kernel reduction is
      * a single [[LongVectorSum]] column, and the per-point flags are
      * evaluated by the CALLER with array transforms — no point-level
      * explode, no per-slot codegen columns.
      */
    def probeCounts(pointsDf: DataFrame, probeWidth: Int = width,
        block: Int = fan.toInt): DataFrame = {
      // One probe array per group, each rank's points at its fixed slot
      // block __r·block, all unused slots +Inf (the kernel's cheapest
      // threshold) — compiled assembly from one collect_list. Join
      // strategy is left to AQE: an explicit broadcast() hint here costs
      // a blocking driver collect per round, while AQE's runtime stats
      // convert the tiny probe side to a broadcast inside the round's
      // one job when it fits.
      val probes = pointsDf.groupBy(keys: _*).agg(
        collect_list(struct(col("__r"), col("pts"))).as("__sl"))
        .select(keys :+ ColumnBridge.column(ProbeXsExpr(
          ColumnBridge.expression(col("__sl")), probeWidth, block))
          .as("__xs"): _*)
      val segments = segCached.join(probes, keyNames)
      val dynArr = (tsLo: Long, tsHi: Long) =>
        SegmentAggregates.countAboveMultiCol(col("__xs"), tsLo, tsHi)
      val parts = partialsOf(dynArr, Seq.empty, segments)
      val counts = parts.groupBy(keys: _*).agg(
        ColumnBridge.column(LongVectorSum(
          ColumnBridge.expression(col("__arr")), probeWidth)
          .toAggregateExpression()).as("__cnts"))
      pointsDf.withColumn("__off", col("__r").cast("long") * lit(block.toLong))
        .join(counts, keyNames)
    }

    /** P(pts(j)) for this row's slice: count(v > pt) <= n - k. */
    def flagAt(j: Column): Column =
      element_at(col("__cnts"), (col("__off") + j + lit(1L)).cast("int")) <=
        col("n") - col("k")

    // Bisection: each round shrinks every active bracket by ~fan; state
    // advances as a cached DataFrame, the driver sees only the active
    // count. P is monotone in the probe point, so the first satisfied
    // point is the new upper bound and the last unsatisfied + 1 the new
    // lower.
    // localCheckpoint (NOT cache) each round: the next round's plan
    // references this round's state twice, so without lineage truncation
    // the logical plan doubles per round and the driver OOMs building
    // plan strings around round ~25. Checkpoint blocks are reclaimed by
    // the ContextCleaner when the round's Dataset is GC'd. EAGER,
    // deliberately: a lazy mark only finalizes when an action runs on the
    // checkpointed Dataset itself — the count below acts on a FILTERED
    // derivation, so under the lazy form the lineage never truncates and
    // every round recomputes its whole history (measured: ts_quantile_by
    // 3.5 s → 5.1 s). The active-row count rides the materializing job
    // itself ([[localCheckpointCountingNulls]]) — one job per round, not
    // checkpoint-count + count.
    var (state, act) = localCheckpointCountingNulls(state0, "res")
    def bisect(maxRounds: Int): Unit = {
      var r = 0
      while (act > 0 && r < maxRounds) {
        r += 1
        val pointsDf = state.where(col("res").isNull)
          .withColumn("pts", ptsExpr)
          .select(keys ++ Seq(col("k"), col("__r"), col("n"), col("lo"),
            col("hi"), col("pts")): _*)
        // P is monotone in the probe point, so the first satisfied point
        // is the new upper bound and the last unsatisfied + 1 the new
        // lower — one compiled pass over the row's count slice.
        val updActive = probeCounts(pointsDf)
          .withColumn("__mm", ColumnBridge.column(BracketMinMaxExpr(
            ColumnBridge.expression(col("pts")),
            ColumnBridge.expression(col("__cnts")),
            ColumnBridge.expression(col("__off")),
            ColumnBridge.expression(col("n") - col("k")))))
          .withColumn("__minT", col("__mm.minT"))
          .withColumn("__maxF", col("__mm.maxF"))
          .withColumn("__lo2", coalesce(col("__maxF") + 1L, col("lo")))
          .withColumn("__hi2", coalesce(col("__minT"), col("hi")))
          .select(keys ++ Seq(col("k"), col("__r"), col("n"),
            when(col("__lo2") >= col("__hi2"), keyToFloat(col("__hi2")))
              .otherwise(lit(null).cast("float")).as("res"),
            col("__lo2").as("lo"), col("__hi2").as("hi"),
            // A bracket that collapsed onto ADJACENT probed points is
            // already verified by this round's counts: P(minT) held and
            // P(maxF = minT-1) failed in the same kernel pass over the
            // same immutable segment slice — exactly the invariant the
            // verification probe re-checks. Only resolutions that fell
            // back to an unprobed bound stay unproven.
            (col("__lo2") >= col("__hi2") && col("__minT").isNotNull &&
              col("__maxF").isNotNull &&
              col("__maxF") + 1L === col("__minT")).as("prov")): _*)
        val (next, nextAct) = localCheckpointCountingNulls(
          state.where(col("res").isNotNull).unionByName(updActive), "res")
        act = nextAct
        state = next
      }
      require(act == 0L, "Grouped quantile bisection failed to converge.")
    }
    bisect(64)

    // Shared verification job: P(ans) AND NOT P(prev) per finite answer;
    // any casualty redoes its full range.
    // Answers proven by their resolving round's own counts (adjacent
    // probed points, the common case) skip re-probing entirely — the
    // verification kernel pass only runs for bound-fallback resolutions.
    val finite = state.where(col("res").isNotNull && !isnan(col("res")) &&
      col("res") =!= lit(Float.NegativeInfinity) &&
      col("res") =!= lit(Float.PositiveInfinity) && !col("prov"))
    if (finite.limit(1).count() > 0) {
      val vPoints = finite
        .withColumn("pts", array(floatToKey(col("res")),
          greatest(lit(fullLo), floatToKey(col("res")) - 1L)))
        .select(keys ++ Seq(col("k"), col("__r"), col("n"), col("pts")): _*)
      // Two probe points per rank: a width-(2·ranks) pass, not the
      // full ladder width.
      val verdict = probeCounts(vPoints, 2 * ksStatic, 2)
        .withColumn("__pAns", flagAt(lit(0L)))
        .withColumn("__pPrev", flagAt(lit(1L)))
        .withColumn("__keyAns", element_at(col("pts"), 1))
      val bad = verdict.where(!col("__pAns") ||
        (col("__keyAns") > lit(fullLo) && col("__pPrev")))
        .select(keys ++ Seq(col("k"), lit(true).as("__bad")): _*)
      if (bad.limit(1).count() > 0) {
        val (redo, redoAct) = localCheckpointCountingNulls(
          state.join(bad, keyNames :+ "k", "left")
            .select(keys ++ Seq(col("k"), col("__r"), col("n"),
              when(col("__bad"), lit(null).cast("float")).otherwise(col("res"))
                .as("res"),
              when(col("__bad"), lit(fullLo)).otherwise(col("lo")).as("lo"),
              when(col("__bad"), lit(fullHi)).otherwise(col("hi")).as("hi"),
              when(col("__bad"), lit(false)).otherwise(col("prov"))
                .as("prov")): _*), "res")
        state = redo
        act = redoAct
        bisect(64)
      }
    }

    // The ONLY O(groups) driver materialization: the answer itself, the
    // size the callers return anyway.
    val t = groupByTags.length
    val counts: Map[Seq[String], Long] = censusDf
      .select(groupByTags.map(col) :+ col("n"): _*)
      .collect().map { r =>
        val g: Seq[String] = List.tabulate(t)(r.getString)
        (g, r.getLong(t))
      }.toMap
    val resolved: Map[(Seq[String], Long), Float] = state
      .select(groupByTags.map(col) ++ Seq(col("k"), col("res")): _*)
      .collect().map { r =>
        val g: Seq[String] = List.tabulate(t)(r.getString)
        ((g, r.getLong(t)), r.getFloat(t + 1))
      }.toMap
    censusDf.unpersist(false)
    segCached.unpersist(false)
    (counts, resolved)
  }

  /** Quantile `q` of group `g` from [[exactRanksBy]]'s per-group point
    * counts and resolved ranks: with `disc`, the value at the discrete
    * rank min(max(1, ceil(q·n)), n); otherwise Spark Percentile's
    * interpolation (higher−pos)·vLo + (pos−lower)·vHi at pos = (n−1)·q,
    * with its shortcut to vLo when the two values are equal as boxed
    * Floats (NaN equals NaN, -0.0 does not equal 0.0). NaN for a group
    * with no points (or none in the census).
    */
  private[graft] def rankValue(counts: Map[Seq[String], Long],
      resolved: Map[(Seq[String], Long), Float], g: Seq[String], q: Double,
      disc: Boolean): Double = {
    val n = counts.getOrElse(g, 0L)
    if (n == 0L) Double.NaN
    else if (disc)
      resolved((g, math.min(math.max(1L, math.ceil(q * n).toLong), n))).toDouble
    else {
      val pos = (n - 1).toDouble * q
      val lower = math.floor(pos).toLong
      val higher = math.ceil(pos).toLong
      val vLo = resolved((g, lower + 1L))
      if (higher == lower) vLo.toDouble
      else {
        val vHi = resolved((g, higher + 1L))
        if (java.lang.Float.valueOf(vLo).equals(java.lang.Float.valueOf(vHi)))
          vLo.toDouble
        else (higher.toDouble - pos) * vLo.toDouble +
          (pos - lower.toDouble) * vHi.toDouble
      }
    }
  }


  /** [[thresholdCount]] with PER-GROUP bounds: `bounds` carries some of the
    * table's tag columns plus `lower`/`upper` (doubles; NULL = unbounded,
    * upper semantics as in [[thresholdCount]]), is broadcast-joined to the
    * segment relation, and each group is counted against its own interval
    * — the building block for outlier screens (beyond each series' own
    * μ ± k·σ) with no driver-side collect of per-group statistics, so a
    * million-series bounds frame flows Spark-to-Spark. Groups absent from
    * `bounds` are absent from the result (inner join).
    */
  def thresholdCountBy(table: String, field: String, bounds: DataFrame,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val (slice, keys, joined) = joinBounds(table, field, bounds, startTime,
      endTime, tagFilters, tagInFilters)
    val partials = slice.partials(keys, joined) { clip =>
      val (lo, hi) = SegmentSlice.window(clip)
      Seq(SegmentAggregates.countInRangeCol(col("lower"), col("upper"), lo, hi)
          .as("__tc_in"),
        SegmentSlice.lenOf(clip).as("__tc_n"))
    }
    partials.groupBy(keys: _*).agg(
      coalesce(sum(col("__tc_in")), lit(0L)).as(s"count_in_$field"),
      coalesce(sum(col("__tc_n")), lit(0L)).as(s"count_$field"))
  }

  /** Per-series outlier counts: how many of each group's values fall
    * OUTSIDE that group's own μ ± k·σ (population σ) — both the
    * statistics and the counts segment-native, composed from
    * [[readTimeSeriesTableMulti]] and [[thresholdCountBy]] with the
    * bounds frame broadcast (never collected). NaN values count as
    * outliers (they lie in no interval).
    */
  def outlierCounts(table: String, field: String, k: Double,
      groupByTags: Seq[String],
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    require(groupByTags.nonEmpty, "Outlier groups need at least one tag.")
    require(k > 0, "k must be positive.")
    val stats = readTimeSeriesTableMulti(table, Seq(field),
      Seq(Aggregate.Avg, Aggregate.StdPop), groupByTags, startTime, endTime,
      tagFilters, tagInFilters)
    val bounds = stats.select(groupByTags.map(col) ++ Seq(
      (col(s"avg_$field") - lit(k) * col(s"stddev_pop_$field")).as("lower"),
      (col(s"avg_$field") + lit(k) * col(s"stddev_pop_$field")).as("upper")): _*)
    thresholdCountBy(table, field, bounds, startTime, endTime, tagFilters,
      tagInFilters)
      .select(groupByTags.map(col) ++ Seq(
        (col(s"count_$field") - col(s"count_in_$field"))
          .as(s"outliers_$field"),
        col(s"count_$field")): _*)
  }

  /** Per-series (or whole-table) least-squares trend of a field against
    * time: returns n, the ordinary-least-squares slope in value-per-DAY
    * (per-µs slopes are unreadably small), the intercept at `t0` (the
    * range start, or the table's first timestamp), and the Pearson
    * correlation of value vs time — all merged from one-decode-pass
    * per-segment partials ([[SegmentRegressionSums]]): the point stream
    * never materializes, the aggregation is over six doubles per segment.
    * Timestamps center on t0 before squaring so Σt'² stays well inside
    * f64 precision for realistic windows.
    */
  def trendStats(table: String, field: String,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val slice = SegmentSlice(dataFolder, table, Seq(field), startTime,
      endTime, tagFilters, tagInFilters, groupByTags)
    val segments = slice.segments

    // Centering epoch: the range start when given, else the first point's
    // timestamp (min segment start_time — exact, metadata-only).
    val t0 = slice.startUs.getOrElse {
      val r = segments.agg(min(col("start_time"))).collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    import org.apache.spark.sql.graft.ColumnBridge
    def attr(name: String) = ColumnBridge.expression(col(name))
    val (tsLo, tsHi) = slice.clip
    val arr = ColumnBridge.column(SegmentRegressionSums(t0, tsLo, tsHi,
      attr("model_type_id"), attr("start_time"), attr("end_time"),
      attr("timestamps"), attr("min_value"), attr("max_value"),
      attr("values"), attr("residuals")))

    val keys = groupByTags.map(col)
    val parts = segments.select(keys :+ arr.as("__rs"): _*)
      .select(keys ++ Seq(
        element_at(col("__rs"), 1).as("__n"),
        element_at(col("__rs"), 2).as("__s1"),
        element_at(col("__rs"), 3).as("__s2"),
        element_at(col("__rs"), 4).as("__sv"),
        element_at(col("__rs"), 5).as("__svv"),
        element_at(col("__rs"), 6).as("__svt")): _*)
    val sums = Seq(sum(col("__n")).as("__n"), sum(col("__s1")).as("__s1"),
      sum(col("__s2")).as("__s2"), sum(col("__sv")).as("__sv"),
      sum(col("__svv")).as("__svv"), sum(col("__svt")).as("__svt"))
    val merged =
      if (keys.isEmpty) parts.agg(sums.head, sums.tail: _*)
      else parts.groupBy(keys: _*).agg(sums.head, sums.tail: _*)

    val n = col("__n")
    val num = n * col("__svt") - col("__s1") * col("__sv")
    val denT = n * col("__s2") - col("__s1") * col("__s1")
    val denV = n * col("__svv") - col("__sv") * col("__sv")
    val slopeUs = num / denT
    merged.select(keys ++ Seq(
      n.cast("long").as(s"n_$field"),
      (slopeUs * lit(86400000000.0)).as(s"slope_per_day_$field"),
      ((col("__sv") - slopeUs * col("__s1")) / n).as(s"intercept_$field"),
      (num / sqrt(denT * denV)).as(s"corr_$field")): _*)
  }

  /** LTTB-style visualization downsample (Steinarsson 2013): one
    * representative point per series per fixed-width bucket, chosen to
    * maximize the triangle area against the neighboring buckets. This is
    * the PARALLEL variant: canonical LTTB anchors each triangle on the
    * previously SELECTED point — an inherently sequential chain — so the
    * left/right anchors here are the neighbor buckets' bounding-box
    * centers ((tmin+tmax)/2, (min+max)/2) instead. Those centers are
    * order-independent and metadata-exact, which buys two things at
    * scale: the whole anchor frame comes from the segment-native bucketed
    * plan (no decode, tiny, broadcast), and the result is deterministic
    * under any partitioning. A series' first (last) bucket pins its
    * chronologically first (last) point, like canonical LTTB's endpoint
    * rule. Points are reconstructed once and take ONE window shuffle on
    * (tags, bucket); the rank-1 filter executes as WindowGroupLimit, so
    * partitions pre-prune to their top candidate before the shuffle.
    *
    * Output: (tags…, bucket TimestampType, <ts>, <field>) — one row per
    * non-empty bucket.
    */
  def lttbDownsample(table: String, field: String,
      bucket: java.time.Duration,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val meta = dataFolder.metadata(table)
    val bucketUs = SegmentSlice.micros(bucket)
    require(bucketUs > 0, "Bucket width must be at least one microsecond.")
    val tags = meta.tagColumns

    // Segment-native anchors: per-bucket value bounds + timestamp extent.
    // The bucketed read's slice runs the table and field checks.
    val anchors = readTimeSeriesTableBucketed(table, bucket, Seq(field),
      Seq(Aggregate.Min, Aggregate.Max), tags, startTime, endTime,
      tagFilters, tagInFilters, tsAggregates = Seq(Aggregate.Min, Aggregate.Max))
    val tsName = meta.timestampColumn
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(tags.map(col): _*).orderBy(col("__b"))
    val ctx = anchors.select(tags.map(col) ++ Seq(
        unix_micros(col("bucket")).as("__b"),
        ((unix_micros(col(s"min_$tsName")).cast("double") +
          unix_micros(col(s"max_$tsName")).cast("double")) / 2d).as("__cx"),
        ((col(s"min_$field").cast("double") +
          col(s"max_$field").cast("double")) / 2d).as("__cy")): _*)
      .select(tags.map(col) ++ Seq(col("__b"),
        lag(col("__cx"), 1).over(w).as("__px"),
        lag(col("__cy"), 1).over(w).as("__py"),
        lead(col("__cx"), 1).over(w).as("__nx"),
        lead(col("__cy"), 1).over(w).as("__ny")): _*)

    val pts = readTimeSeriesTable(table, Seq(field),
        startTime = startTime, endTime = endTime, tagFilters = tagFilters,
        tagInFilters = tagInFilters)
      .withColumn("__t", unix_micros(col(tsName)))
      .withColumn("__b", col("__t") - pmod(col("__t"), lit(bucketUs)))

    val joined = pts.join(broadcast(ctx), tags :+ "__b")
    val td = col("__t").cast("double")
    val vd = col(field).cast("double")
    // Interior buckets score by triangle area against the neighbor
    // anchors; an endpoint bucket scores by time offset so the series'
    // first/last point wins. The branches are exclusive per bucket, so
    // mixing scales is fine.
    val score =
      when(col("__px").isNull, -(col("__t") - col("__b")).cast("double"))
        .when(col("__nx").isNull, (col("__t") - col("__b")).cast("double"))
        .otherwise(abs((col("__px") - col("__nx")) * (vd - col("__py")) -
          (col("__px") - td) * (col("__ny") - col("__py"))))
    val sel = Window.partitionBy((tags.map(col) :+ col("__b")): _*)
      .orderBy(score.desc, col("__t").asc, col(field).asc)
    joined
      .withColumn("__rn", row_number().over(sel))
      .where(col("__rn") === 1)
      .select(tags.map(col) ++ Seq(
        timestamp_micros(col("__b")).as("bucket"),
        col(tsName), col(field)): _*)
  }

  /** Calendar-truncation downsampling: [[readTimeSeriesTableBucketed]]
    * generalized from fixed-width epoch-aligned buckets to
    * `date_trunc(unit, ts)` in an arbitrary time zone — WEEK (fixed width
    * but not epoch-aligned), MONTH/QUARTER/YEAR (not fixed width at all),
    * and zones with non-zero offsets or DST transitions. Containment is
    * decided by truncating each segment's BOUNDS with the exact expression
    * that buckets the points, so segments whose truncated start equals
    * their truncated end still contribute closed-form metadata partials
    * with zero decode; only segments straddling a calendar boundary (or
    * the range edge) decode, and those explode points for themselves
    * alone. At a month grain a segment straddles at most once per month —
    * the decoded fraction stays negligible at any scale.
    *
    * Output matches [[readTimeSeriesTableBucketed]]: group-by tags, then
    * `bucket` (TimestampType, the truncated bucket start in `zone`), then
    * `<kind>_<field>`. Empty buckets are absent.
    */
  def readTimeSeriesTableTruncated(
      table: String,
      unit: String,
      zone: String = "UTC",
      fields: Seq[String] = Seq.empty,
      aggregates: Seq[Aggregate] = Seq.empty,
      groupByTags: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      tsAggregates: Seq[Aggregate] = Seq.empty): DataFrame = {
    val normalized = unit.toUpperCase(java.util.Locale.ROOT)
    require(Engine.TruncUnits.contains(normalized),
      s"Unsupported truncation unit '$unit' (one of ${Engine.TruncUnits.mkString(", ")}).")
    val zoneId = java.time.ZoneId.of(zone) // validates; throws otherwise
    require((aggregates.nonEmpty || tsAggregates.nonEmpty) &&
      !aggregates.contains(Aggregate.None),
      "Truncated reads require at least one real aggregate kind.")
    require(aggregates.distinct == aggregates,
      "Duplicate aggregate kinds would produce duplicate output columns.")
    validateTsAggregates(tsAggregates)
    require(!groupByTags.contains("bucket"),
      "A group-by tag named 'bucket' would collide with the output bucket column.")
    val slice = SegmentSlice(dataFolder, table, fields, startTime, endTime,
      tagFilters, tagInFilters, groupByTags, extentOnly = aggregates.isEmpty)
    val meta = slice.meta
    val selected = slice.fields

    // The truncation applied to a micros-epoch Long column, yielding the
    // bucket start as micros again. Built as a raw TruncTimestamp carrying
    // the EXPLICIT zone so the plan never depends on the session time zone.
    def truncOf(c: Column): Column = {
      import org.apache.spark.sql.graft.ColumnBridge
      import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, TruncTimestamp}
      unix_micros(ColumnBridge.column(TruncTimestamp(CLit(normalized),
        ColumnBridge.expression(timestamp_micros(c)), Some(zone))))
    }

    // Equal truncated bounds prove containment only where the truncation
    // is monotonic over the segment's span — true for any fixed-offset
    // zone, but a DST (or historical-offset) transition INSIDE the span
    // can truncate an interior point outside the shared bucket (e.g.
    // America/Sao_Paulo's midnight fall-backs regress the local date). In
    // transition-capable zones, containment additionally requires the
    // span to be (a) shorter than the zone's minimum gap between
    // consecutive transitions and (b) offset-equal at both ends — together
    // those prove zero transitions inside, hence a fixed offset over the
    // span, hence monotonicity. Segments failing the proof just decode.
    val safetyPreds: Seq[Column] = Engine.minTransitionGapUs(zoneId) match {
      case scala.None => Seq.empty // fixed-offset zone: always monotonic
      case Some(gap) =>
        def offsetOf(c: Column): Column =
          unix_micros(from_utc_timestamp(timestamp_micros(c), zone)) - c
        Seq(col("end_time") - col("start_time") < gap,
          offsetOf(col("start_time")) === offsetOf(col("end_time")))
    }
    val contained = (Seq(slice.contained,
      truncOf(col("start_time")) === truncOf(col("end_time"))) ++
      safetyPreds).reduce(_ && _)

    // Same single-aggregation merge as the fixed-width plan: interior
    // segments emit closed-form partial rows, boundary segments exploded
    // per-point partials bucketed by the identical truncation expression.
    val keys = groupByTags.map(col)
    val withSq = needsSumSq(aggregates)
    val withEdges = needsEdges(aggregates)
    val mergeAggs = partialMergeAggs(meta, selected, tsAggregates.nonEmpty,
      withSq, withEdges)
    val combined = slice.split(contained)(
      Engine.interiorPartials(_, keys, Some(truncOf(col("start_time"))), withSq,
        withEdges, withSum = needsSum(aggregates)),
      GridView.explodedPoints(_, meta, selected, slice.startUs, slice.endUs)
      .select(keys ++ Seq(
        col(SegmentSchema.FieldColumn),
        truncOf(col("__graft_ts")).as("__graft_bucket"),
        lit(1L).as("__bp_cnt"),
        col("__graft_value").cast(DoubleType).as("__bp_sum"),
        lit(0d).as("__bp_m2"),
        col("__graft_value").as("__bp_min"),
        col("__graft_value").as("__bp_max"),
        col("__graft_ts").as("__bp_tmin"),
        col("__graft_ts").as("__bp_tmax")) ++
        (if (withEdges) Seq(
          col("__graft_value").as("__bp_vfirst"),
          col("__graft_value").as("__bp_vlast"))
        else Seq.empty): _*))
      .groupBy((keys :+ col("__graft_bucket")): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)

    combined.select((keys :+
      timestamp_micros(col("__graft_bucket")).as("bucket")) ++
      finalAggColumns(aggregates, selected, tsAggregates, meta.timestampColumn): _*)
  }

  private def gridAggColumn(agg: Aggregate, f: String,
      tsName: String = "ts"): Column = {
    // Variance over gridded points rides Spark's own Welford aggregates —
    // the same merge arithmetic as the closed-form paths' PartialM2Merge,
    // so hybrid and gridded plans agree to rounding at any mean.
    agg match {
      case Aggregate.Count => count(col(f)).as(s"count_$f")
      case Aggregate.Min => min(col(f)).as(s"min_$f")
      case Aggregate.Max => max(col(f)).as(s"max_$f")
      case Aggregate.Sum => sum(col(f)).as(s"sum_$f")
      case Aggregate.Avg => avg(col(f)).as(s"avg_$f")
      case Aggregate.VarSamp =>
        var_samp(col(f).cast(DoubleType)).as(s"var_samp_$f")
      case Aggregate.VarPop =>
        var_pop(col(f).cast(DoubleType)).as(s"var_pop_$f")
      case Aggregate.StdSamp =>
        stddev_samp(col(f).cast(DoubleType)).as(s"stddev_samp_$f")
      case Aggregate.StdPop =>
        stddev_pop(col(f).cast(DoubleType)).as(s"stddev_pop_$f")
      case Aggregate.First => min_by(col(f), col(tsName)).as(s"first_$f")
      case Aggregate.Last => max_by(col(f), col(tsName)).as(s"last_$f")
      case Aggregate.None => throw new IllegalArgumentException("not an aggregate")
    }
  }

  private def kindOf(aggregate: Aggregate): String = aggregate match {
    case Aggregate.Count => "count"
    case Aggregate.Min => "min"
    case Aggregate.Max => "max"
    case Aggregate.Sum => "sum"
    case Aggregate.Avg => "avg"
    case Aggregate.VarSamp => "var_samp"
    case Aggregate.VarPop => "var_pop"
    case Aggregate.StdSamp => "stddev_samp"
    case Aggregate.StdPop => "stddev_pop"
    case Aggregate.First => "first"
    case Aggregate.Last => "last"
    case Aggregate.None => throw new IllegalArgumentException("not an aggregate")
  }

  /** Only Min/Max make sense for the timestamp column (its count equals
    * the row count, its sum is meaningless).
    */
  private def validateTsAggregates(tsAggregates: Seq[Aggregate]): Unit = {
    require(tsAggregates.forall(a =>
      a == Aggregate.Min || a == Aggregate.Max),
      "Timestamp aggregates support only Min and Max.")
    require(tsAggregates.distinct == tsAggregates,
      "Duplicate timestamp aggregate kinds would produce duplicate columns.")
  }

  /** Merge raw partial rows — closed-form per-segment (interior) and
    * decode-generator per-bucket (boundary), both shaped (field_column,
    * __bp_cnt/__bp_sum/__bp_min/__bp_max/__bp_tmin/__bp_tmax) — into
    * per-field __cnt/__sum/__min/__max (plus global __tmin/__tmax when a
    * timestamp extent was requested: fields are timestamp-aligned, so the
    * extent over any field's partials is the extent over all). Partials
    * stay per-field naturally (a segment row IS one field's), so the
    * multivariate edge case that forces pre-assembly exploded points —
    * per-field segments splitting at different timestamps — never arises
    * here.
    */
  private def partialMergeAggs(
      meta: TableMetadata, fields: Seq[String],
      withTs: Boolean = false, withSq: Boolean = false,
      withEdges: Boolean = false): Seq[Column] =
    fields.flatMap { f =>
      val isF = col(SegmentSchema.FieldColumn) === meta.fieldIndex(f)
      Seq(
        coalesce(sum(when(isF, col("__bp_cnt"))), lit(0L)).as(s"__cnt_$f"),
        sum(when(isF, col("__bp_sum"))).as(s"__sum_$f"),
        min(when(isF, col("__bp_min"))).as(s"__min_$f"),
        max(when(isF, col("__bp_max"))).as(s"__max_$f")) ++
        (if (withSq) Seq(SegmentAggregates.m2MergeCol(
          when(isF, col("__bp_cnt")), when(isF, col("__bp_sum")),
          when(isF, col("__bp_m2"))).as(s"__m2_$f"))
        else Seq.empty) ++
        // The merged FIRST is the edge of the partial with the smallest
        // tmin (min_by skips rows whose ordering is NULL — i.e. other
        // fields' rows); LAST mirrors on tmax. Within a group's field the
        // (tmin, tmax) come from non-overlapping segment slices, so the
        // winner is unique.
        (if (withEdges) Seq(
          min_by(when(isF, col("__bp_vfirst")), when(isF, col("__bp_tmin")))
            .as(s"__first_$f"),
          max_by(when(isF, col("__bp_vlast")), when(isF, col("__bp_tmax")))
            .as(s"__last_$f"))
        else Seq.empty)
    } ++ (if (withTs)
      Seq(min(col("__bp_tmin")).as("__tmin"), max(col("__bp_tmax")).as("__tmax"))
    else Seq.empty)

  /** Every requested aggregate kind projected from the combined partials —
    * the single pass is shared no matter how many kinds are asked for.
    */
  private def finalAggColumns(
      aggregates: Seq[Aggregate], fields: Seq[String],
      tsAggregates: Seq[Aggregate] = Seq.empty,
      tsName: String = "ts"): Seq[Column] =
    (for (agg <- aggregates; f <- fields) yield {
      def varOf(sample: Boolean) = SegmentAggregates.varianceFromM2(
        col(s"__cnt_$f"), col(s"__m2_$f"), sample)
      agg match {
        case Aggregate.Count => col(s"__cnt_$f").as(s"count_$f")
        case Aggregate.Min => col(s"__min_$f").as(s"min_$f")
        case Aggregate.Max => col(s"__max_$f").as(s"max_$f")
        case Aggregate.Sum => col(s"__sum_$f").as(s"sum_$f")
        case Aggregate.Avg =>
          (col(s"__sum_$f") / col(s"__cnt_$f")).as(s"avg_$f")
        case Aggregate.VarSamp => varOf(sample = true).as(s"var_samp_$f")
        case Aggregate.VarPop => varOf(sample = false).as(s"var_pop_$f")
        case Aggregate.StdSamp =>
          sqrt(varOf(sample = true)).as(s"stddev_samp_$f")
        case Aggregate.StdPop =>
          sqrt(varOf(sample = false)).as(s"stddev_pop_$f")
        case Aggregate.First => col(s"__first_$f").as(s"first_$f")
        case Aggregate.Last => col(s"__last_$f").as(s"last_$f")
        case Aggregate.None => throw new IllegalArgumentException("not an aggregate")
      }
    }) ++ tsAggregates.map {
      case Aggregate.Min => timestamp_micros(col("__tmin")).as(s"min_$tsName")
      case _ => timestamp_micros(col("__tmax")).as(s"max_$tsName")
    }

  /** Aggregates (optionally grouped by tags) without reconstruction, the
    * Spark shape of the reference's ModelSimpleAggregates rewrite extended
    * to tag group-bys and time ranges. Every part of the slice emits raw
    * partial rows in one shape, merged by a single aggregation however many
    * kinds are asked for:
    *
    *  - segments inside the range: closed-form per-segment expressions
    *    ([[Engine.interiorPartials]]), zero decode for fitted models;
    *  - the (at most two per series) boundary segments straddling a range
    *    edge: one decode-generator partial each (bucket width = MaxValue),
    *    or for COUNT-only ranges just the range-clipped point count from
    *    the timestamp metadata (SegmentClippedLen), so a ranged `count(*)`
    *    decodes nothing anywhere;
    *  - for ungrouped COUNT/MIN/MAX/SUM/AVG (and the timestamp extent),
    *    every file wholly inside the range whose manifest records value
    *    stats: one partial row per file, and the file is never opened
    *    ([[SegmentSlice.statsFiles]]). When no file is left to scan the
    *    merge runs on the driver ([[LocalAggregate]]) and the statement
    *    starts no Spark job.
    *
    * A long range over a long retention window thus reconstructs a sliver
    * of the data — an optimization beyond the reference, which disables
    * its aggregate rewrite whenever any predicate is present.
    */
  private def segmentAggregate(slice: SegmentSlice,
      aggregates: Seq[Aggregate], groupByTags: Seq[String],
      tsAggregates: Seq[Aggregate]): DataFrame = {
    val meta = slice.meta
    val fields = slice.fields
    val withSq = needsSumSq(aggregates)
    val withEdges = needsEdges(aggregates)
    val countOnly = aggregates.forall(_ == Aggregate.Count) &&
      tsAggregates.isEmpty
    val fromStats = groupByTags.isEmpty && aggregates.forall {
      case Aggregate.Count | Aggregate.Min | Aggregate.Max | Aggregate.Sum |
           Aggregate.Avg => true
      case _ => false
    }
    val (tsLo, tsHi) = slice.clip
    val interior = Engine.interiorPartials(_: DataFrame, groupByTags.map(col),
      withSq = withSq, withEdges = withEdges, withSum = needsSum(aggregates))
    val scanned = (if (fromStats) slice.unanswered else Some(slice.segments))
      .map { segments =>
        if (!slice.ranged) interior(segments)
        else slice.split(slice.contained, segments)(interior, straddling =>
          if (countOnly)
            // Dead sum/min/max/tmin/tmax placeholders: the merge computes
            // them but COUNT is the only final column that reads anything.
            straddling.select(groupByTags.map(col) ++ Seq(
              col(SegmentSchema.FieldColumn),
              SegmentAggregates.clippedLenCol(tsLo, tsHi).as("__bp_cnt"),
              lit(0d).as("__bp_sum"), lit(0d).as("__bp_m2"),
              lit(Float.NaN).as("__bp_min"), lit(Float.NaN).as("__bp_max"),
              lit(0L).as("__bp_tmin"), lit(0L).as("__bp_tmax")): _*)
          else GridView.bucketPartials(straddling, meta, fields, Long.MaxValue,
              slice.startUs, slice.endUs, withEdges)
            .select(groupByTags.map(col) ++ Seq(
              col(SegmentSchema.FieldColumn),
              col("__bp_cnt"), col("__bp_sum"), col("__bp_m2"),
              col("__bp_min"), col("__bp_max"),
              col("__bp_tmin"), col("__bp_tmax")) ++
              (if (withEdges) Seq(col("__bp_vfirst"), col("__bp_vlast"))
              else Seq.empty): _*))
      }
    val fileRows = if (fromStats) slice.statsFiles.toSeq.sortBy(_._1).map {
      case (_, (field, s)) =>
        val v = s.values.get
        Row(field, v.count, v.sum, 0d, v.min, v.max, s.minStartUs, s.maxEndUs)
    } else Seq.empty
    // With nothing left to scan the stats rows stand alone, even when
    // there are none: the merge of no rows is the empty-range answer.
    val statsPartials =
      if (fileRows.isEmpty && scanned.nonEmpty) scala.None
      else Some(spark.createDataFrame(java.util.Arrays.asList(fileRows: _*),
        Engine.FilePartialSchema))
    val partials = (scanned ++ statsPartials).reduce(_ unionByName _)
    val mergeAggs = partialMergeAggs(meta, fields, tsAggregates.nonEmpty,
      withSq, withEdges)
    val combined =
      if (groupByTags.isEmpty) partials.agg(mergeAggs.head, mergeAggs.tail: _*)
      else partials.groupBy(groupByTags.map(col): _*)
        .agg(mergeAggs.head, mergeAggs.tail: _*)
    val answer = combined.select(
      (groupByTags.map(col) ++ finalAggColumns(aggregates, fields,
        tsAggregates, meta.timestampColumn)): _*)
    if (scanned.isEmpty) LocalAggregate.collapse(answer) else answer
  }

  /** Copy the result of a SQL query into a normal table (the reference
    * restricts copy targets to normal tables to avoid double lossy
    * compression, operations/mod.rs:88-92). The target may live in another
    * data folder (`target`), matching the reference's copy-to-Operations
    * signature — local to S3/Azure folders and back are all just engines
    * over different roots.
    */
  def copy(sqlText: String, targetTable: String,
      target: Engine = this): Unit = {
    val meta = target.dataFolder.metadata(targetTable)
    require(!meta.isTimeSeries, "COPY targets must be normal tables.")
    target.dataFolder.writeNormal(targetTable, sql(sqlText))
    target.invalidateViews()
  }

  /** Segment-level copy between time series tables with the same schema —
    * possibly in different data folders — moving compressed segments
    * directly, never re-compressing (data_folder.rs:335-420). Optional
    * bounds filter on start/end time.
    */
  def copyTimeSeriesTable(
      source: String, target: String,
      startMicros: Option[Long] = scala.None,
      endMicros: Option[Long] = scala.None,
      targetEngine: Engine = this): Unit = {
    val sourceMeta = dataFolder.metadata(source)
    val targetMeta = targetEngine.dataFolder.metadata(target)
    require(sourceMeta.isTimeSeries && targetMeta.isTimeSeries)
    require(sourceMeta.columns.map(c => (c.name, c.role)) ==
      targetMeta.columns.map(c => (c.name, c.role)),
      "Source and target schemas must match for segment-level copy.")
    val segs = dataFolder.segmentsInRange(source, startMicros, endMicros)
      .where(GridView.segmentTimePredicate(startMicros, endMicros))
    targetEngine.dataFolder.appendSegments(target, segs)
    targetEngine.invalidateViews()
  }

  /** Copy-then-truncate (the reference's `move`, data_folder.rs:421+). */
  def move(source: String, target: String): Unit = {
    copyTimeSeriesTable(source, target)
    truncate(source)
  }

  /** Bulk import: a Parquet file/directory of data points into a time
    * series table (the reference's bulkloader import direction,
    * /root/reference/crates/modelardb_bulkloader/src/main.rs:33-557).
    */
  def importParquet(table: String, path: String): Unit =
    write(table, spark.read.parquet(path))

  /** Bulk export: reconstructed data points of a time series table to
    * Parquet (the bulkloader's export direction).
    */
  def exportParquet(table: String, path: String): Unit =
    readTable(table).write.mode("overwrite").parquet(path)

  // ------------------------------------------------------------ SQL surface

  /** Register every catalog table as a temp view for plain Spark SQL.
    * Cached: re-registration only happens after a catalog/data mutation
    * (each registration re-reads catalog JSON — O(tables) round-trips on an
    * object store).
    */
  def registerViews(): Unit = {
    // Temp views are session-global but staleness is per engine: another
    // engine on the same session may have overwritten our views, so also
    // re-register whenever this engine is not the session's last registrant.
    if (viewsStale || !Engine.isLastRegistrant(spark, this)) {
      registeredViewPlans = tables().map { t =>
        val df = readTable(t)
        df.createOrReplaceTempView(t)
        t -> df.queryExecution.analyzed
      }.toMap
      viewsStale = false
      registerMetadataViews()
      Engine.setLastRegistrant(spark, this)
      // Sessions built with GraftSparkExtensions rewrite simple aggregates
      // over these views in plain spark.sql too.
      graft.plans.GraftSparkExtensions.noteEngine(spark, this)
    }
  }

  /** The reference registers its catalog as queryable metadata tables
    * (normal_table_metadata / time_series_table_metadata /
    * time_series_table_field_columns under a `metadata` schema,
    * data_folder/mod.rs:279-310); temp views cannot be schema-qualified, so
    * the same relations register as `metadata_<name>`. query_schema and
    * generated expressions are human-readable (DDL / SQL text) rather than
    * the reference's serialized plan bytes.
    */
  private def registerMetadataViews(): Unit = {
    import spark.implicits._
    val metas = tables().map(dataFolder.metadata)
    metas.filterNot(_.isTimeSeries).map(_.name).toDF("table_name")
      .createOrReplaceTempView("metadata_normal_table_metadata")
    metas.filter(_.isTimeSeries)
      .map(m => (m.name, m.querySchema.toDDL))
      .toDF("table_name", "query_schema")
      .createOrReplaceTempView("metadata_time_series_table_metadata")
    metas.filter(_.isTimeSeries).flatMap { m =>
      m.columns.zipWithIndex.collect {
        case (c, i) if c.role == "field" || c.role == "generated" =>
          val (boundValue, isRelative) = graft.core.ErrorBound.parse(
              if (c.role == "field") c.errorBound else "") match {
            case graft.core.ErrorBound.Absolute(b) => (b, false)
            case graft.core.ErrorBound.Relative(p) => (p, true)
            case graft.core.ErrorBound.Lossless => (0.0f, false)
          }
          (m.name, c.name, i.toShort, boundValue, isRelative,
            if (c.role == "generated") c.generatedExpr else null)
      }
    }.toDF("table_name", "column_name", "column_index", "error_bound_value",
        "error_bound_is_relative", "generated_column_expr")
      .createOrReplaceTempView("metadata_time_series_table_field_columns")
  }

  /** Force re-registration (INCLUDE switches views between folders). */
  private def forceRegisterViews(): Unit = { viewsStale = true; registerViews() }

  /** Execute SQL: the four extension statements are handled here, all other
    * statements are delegated to Spark SQL over the registered views.
    */
  def sql(text: String): DataFrame = {
    val trimmed = text.trim.stripSuffix(";")
    SqlExtensions.parse(trimmed) match {
      case SqlExtensions.SegmentProbe(text) =>
        rankProbeAnswer(RankProbe.decode(text))
      case SqlExtensions.CreateTimeSeriesTable(meta) =>
        create(meta); emptyOk()
      case SqlExtensions.CreateNormalTable(name, schemaDdl) =>
        // Map the reference's SQL type aliases onto Spark DDL types
        // (parser.rs:840-868) and register a normal catalog table.
        val normalized = schemaDdl
          .replaceAll("(?i)\\bREAL\\b", "FLOAT")
          .replaceAll("(?i)\\bBYTEA\\b", "BINARY")
          .replaceAll("(?i)\\bTEXT\\b", "STRING")
        val schema = StructType.fromDDL(normalized)
        create(TableMetadata(name, "normal", Seq.empty, schema.json))
        emptyOk()
      case SqlExtensions.CreateTableAsSelect(name, select) =>
        // CTAS materializes into a NORMAL table — same restriction as the
        // reference's copy() (operations/mod.rs:88-92: never re-compress
        // into a time series table, avoiding double lossy compression).
        // The inner statement goes back through sql(), so time travel,
        // INCLUDE, and the aggregate rewrite all compose.
        val result = sql(select)
        create(TableMetadata(name, "normal", Seq.empty, result.schema.json))
        dataFolder.writeNormal(name, result)
        invalidateViews()
        emptyOk()
      case SqlExtensions.DropTables(names) =>
        names.foreach(drop); emptyOk()
      case SqlExtensions.TruncateTables(names) =>
        names.foreach(truncate); emptyOk()
      case SqlExtensions.Vacuum(names, retention) =>
        val targets = if (names.isEmpty) tables() else names
        targets.foreach(t => vacuum(t, retention)); emptyOk()
      case SqlExtensions.Optimize(names, targetBytes, zorder) =>
        val targets = if (names.isEmpty) tables() else names
        targets.foreach(t => compact(t, targetBytes, zorder)); emptyOk()
      case SqlExtensions.Include(addresses, select, merge) =>
        // INCLUDE 'graft://host:port' federates to a live RemoteServer
        // (reference: INCLUDE over Flight, remote.rs:88-165); any other
        // address is opened as another data folder and queried in-process.
        // Plain INCLUDE row-unions each endpoint's result (reference
        // parity); INCLUDE MERGE decomposes an aggregate statement into
        // algebraic partials, ships the PARTIAL query to every endpoint
        // (each answers it through its own segment-native rewrite) and
        // merges the partial frames locally — groups x partials scalars
        // cross the wire, never points.
        // Folder endpoints open once per statement; every merge round
        // (the partial and any percentile rank-search probes) reuses them.
        lazy val folderEngines =
          scala.collection.mutable.LinkedHashMap.empty[String, Engine]
        /** One statement on every endpoint. The LOCAL endpoint analyzes
          * FIRST, on the caller thread — Engine.sql registers this
          * session's views and resolves the statement against them before
          * any endpoint can touch the shared catalog (an endpoint server
          * embedded in THIS session — the test shape — re-registers its
          * own views when it executes; folder endpoints do the same on
          * the caller thread below). With `pin` set, the analyzed local
          * plan then EXECUTES on the fan-out pool, overlapping the remote
          * endpoints' work: a merge round costs max(local, remotes)
          * instead of remotes-then-local. Only the MERGE path pins — its
          * statements (partials, probes, bounded fetches) are answer-
          * sized by construction, so the materialized local relation is
          * bounded; plain INCLUDE's local half can be an unbounded row
          * union and stays lazy.
          */
        def runEndpoints(text: String, pin: Boolean): Seq[DataFrame] = {
          import scala.concurrent.{Await, Future}
          val local = sql(text)
          val localF =
            if (pin) Some(Future {
              // The pin materializes O(groups × states) on the driver —
              // answer-sized for every merge statement, and hard-bounded
              // by spark.driver.maxResultSize. If a pathological group
              // cardinality ever trips that bound, degrade to the LAZY
              // analyzed frame (identical results, loses only this
              // round's local/remote overlap) instead of failing the
              // statement.
              try spark.createDataFrame(local.collectAsList(), local.schema)
              catch {
                case e: org.apache.spark.SparkException
                    if e.getMessage != null &&
                      e.getMessage.contains("maxResultSize") => local
              }
            }(Engine.federationEc))
            else scala.None
          // TCP endpoints fan out CONCURRENTLY: RemoteClient.sql drains
          // the socket eagerly and builds a local relation, so the
          // futures never touch this session's catalog.
          val remoteFutures = addresses.map { addr =>
            graft.remote.RemoteClient.parseAddress(addr).map(a => Future(
              graft.remote.RemoteClient.sql(spark, a, text))(
              Engine.federationEc))
          }
          val drained = remoteFutures.map(_.map(f =>
            Await.result(f, scala.concurrent.duration.Duration.Inf)))
          val remotes = addresses.zip(drained).map {
            case (_, Some(df)) => df
            case (addr, scala.None) =>
              val remote = folderEngines
                .getOrElseUpdate(addr, new Engine(spark, addr))
              val df = remote.sql(text)
              forceRegisterViews() // restore local views
              df
          }
          val localOut = localF.fold(local)(f =>
            Await.result(f, scala.concurrent.duration.Duration.Inf))
          localOut +: remotes
        }
        def runAll(text: String): Seq[DataFrame] =
          runEndpoints(text, pin = true)
        if (merge) {
          forceRegisterViews()
          // Time travel composes with MERGE: bind LOCAL snapshot views so
          // the decomposer can analyze the statement, but ship the
          // original travel clause — each endpoint resolves `VERSION AS
          // OF` against its own history, the same per-endpoint semantics
          // plain INCLUDE gives it.
          val d = FederatedAggregate.decompose(spark, select,
            analyzeSql = bindTimeTravel(select), engine = Some(this))
          d.merge(runAll(d.partialSql), runAll)
        } else {
          val frames = runEndpoints(select, pin = false)
          frames.tail.foldLeft(frames.head)(_ unionAll _)
        }
      case SqlExtensions.InsertInto(tableName, columnList, source) =>
        // INSERT routes through the storage engine (compress + append for
        // time series tables), mirroring the reference's DataSink path.
        registerViews()
        val sourceDf = spark.sql(
          if (source.trim.toUpperCase.startsWith("VALUES")) s"SELECT * FROM $source"
          else source)
        val meta = dataFolder.metadata(tableName)
        val inputCols =
          if (meta.isTimeSeries) meta.columns.filter(_.role != "generated").map(_.name)
          else schema(tableName).fieldNames.toSeq
        // An explicit column list may reorder but not omit columns (stored
        // time series columns are non-nullable, so partial inserts are
        // rejected rather than padded with NULL).
        val targetOrder = if (columnList.isEmpty) inputCols else columnList
        require(targetOrder.sorted == inputCols.sorted,
          s"INSERT INTO $tableName column list (${targetOrder.mkString(", ")}) " +
            s"must name exactly the table's insertable columns " +
            s"(${inputCols.mkString(", ")}).")
        require(sourceDf.columns.length == targetOrder.length,
          s"INSERT INTO $tableName expects ${targetOrder.length} columns " +
            s"(${targetOrder.mkString(", ")}), got ${sourceDf.columns.length}.")
        write(tableName,
          sourceDf.toDF(targetOrder: _*).select(inputCols.map(col): _*))
        emptyOk()
      case SqlExtensions.Passthrough =>
        registerViews()
        val df = spark.sql(bindTimeTravel(trimmed).getOrElse(trimmed))
        graft.plans.SegmentAggregateSqlRewrite.tryRewrite(this, df).getOrElse(df)
    }
  }

  /** Delta-style time travel: bind each `t VERSION AS OF n`,
    * `t TIMESTAMP AS OF '...'` and `t CHANGES FROM a TO b` of `sql` to a
    * snapshot view, and return the statement over those views (None when
    * it travels nowhere).
    */
  private def bindTimeTravel(sql: String): Option[String] = {
    val (rewritten, travels) = SqlExtensions.rewriteTimeTravel(sql)
    travels.foreach { case (table, travel) =>
      val snapshot = travel match {
        case SqlExtensions.AtVersion(v) => readTableVersion(table, v)
        case SqlExtensions.AtTimestamp(ms) =>
          readTableAsOfTimestamp(table, ms)
        case SqlExtensions.AtChanges(a, b) => readTableChanges(table, a, b)
      }
      snapshot.createOrReplaceTempView(
        SqlExtensions.travelViewName(table, travel))
    }
    if (travels.isEmpty) scala.None else Some(rewritten)
  }

  /** Answer one `GRAFT SEGMENT PROBE` statement — a probe or fetch round
    * of a federated exact-percentile rank search — from the segment
    * relation directly: the states broadcast onto the pruned segment
    * slice, one kernel pass per segment, counts reduced per state.
    * Interior segments settle from min/max metadata with ZERO decode
    * ([[graft.core.ValueCounts.countAboveMulti]]'s bound classification),
    * so a round costs O(boundary segments) instead of the full grid the
    * generic SQL probe re-reconstructs — at 100 TB the difference between
    * metadata rounds and a full scan per round per endpoint. A request
    * carries one target per percentile child (a multi-field statement is
    * ONE statement per chunk per round); each target runs its own kernel
    * pass over its field's slice with that target's states, and the
    * per-state rows union. `fetchLimit` > 0 bounds a fetch response to
    * that many ascending (value, count) rows per state — the merge
    * paginates on truncation. Eligibility (bare stored-field child,
    * tag-only group keys, time/tag-only WHERE) is decided by the
    * DECOMPOSING engine ([[FederatedAggregate]]); this side only
    * validates its catalog agrees.
    */
  private[tsdb] def rankProbeAnswer(req: RankProbe.Request): DataFrame = {
    val parts = req.targets.indices.flatMap { ti =>
      val states = req.states.filter(_.cix == ti)
      if (states.isEmpty) scala.None
      else Some(rankProbeAnswerOne(req.targets(ti), req.fetch, req.nT, states))
    }
    require(parts.nonEmpty, "GRAFT SEGMENT PROBE carried no states")
    val all = parts.reduce(_ unionByName _)
    if (!req.fetch || req.fetchLimit <= 0) all
    else {
      // Bounded fetch: at most fetchLimit ascending values per state.
      // Runs AFTER the per-target aggregation, over the already-reduced
      // (state, value, count) frame — bounds the wire, not the scan.
      import org.apache.spark.sql.expressions.Window
      all.withColumn("__rn", row_number()
          .over(Window.partitionBy("__sid").orderBy("__v")))
        .where(col("__rn") <= req.fetchLimit)
        .drop("__rn")
    }
  }

  private def rankProbeAnswerOne(t: RankProbe.Target, fetch: Boolean,
      nT: Int, states: Seq[RankProbe.State]): DataFrame = {
    val meta = dataFolder.metadata(t.table)
    require(meta.isTimeSeries && meta.fieldColumns.contains(t.field) &&
      t.keyTags.forall(meta.tagColumns.contains),
      s"GRAFT SEGMENT PROBE targets stored field ${t.field} and tags " +
        s"${t.keyTags.mkString(", ")} of time series table ${t.table}; " +
        "this endpoint's catalog disagrees — federated endpoints must " +
        "share the statement's schema.")
    import org.apache.spark.sql.graft.ColumnBridge
    def attrOf(name: String) = ColumnBridge.expression(col(name))
    val slice = new SegmentSlice(dataFolder, meta, Seq(t.field), t.startUs,
      t.endUs, t.tagEq, t.tagIn)

    val probeSchema = StructType(
      StructField("__sid", IntegerType, nullable = false) +:
        t.keyTags.indices.map(i => StructField(s"__k$i", StringType)) :+
        StructField("__xs", ArrayType(DoubleType, containsNull = false),
          nullable = false))
    val probeRows: Seq[org.apache.spark.sql.Row] = states.map(s =>
      org.apache.spark.sql.Row.fromSeq(
        (s.sid: Any) +: s.keys.toSeq :+ s.xs.toSeq))
    val probeDf = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val joined = t.keyTags.zipWithIndex
      .map { case (tag, i) => col(tag) <=> col(s"__k$i") }
      .reduceOption(_ && _) match {
        case Some(c) => slice.segments.join(broadcast(probeDf), c)
        case scala.None => slice.segments.crossJoin(broadcast(probeDf))
      }

    // Contained segments answer with the no-clip kernel (no timestamp
    // decode), straddlers clip to the range — the same shape as the local
    // ladder's partials.
    if (!fetch) {
      // count(x <= t) = clippedLen - countAbove(t): both sides include
      // NaN consistently (NaN sits above every threshold in the SQL
      // total order, as in SQL's own `x <= t`).
      val perSeg = slice.partials(Seq(col("__sid")), joined) { clip =>
          val (lo, hi) = SegmentSlice.window(clip)
          Seq(SegmentAggregates.countAboveMultiCol(col("__xs"), lo, hi)
              .as("__arr"),
            SegmentSlice.lenOf(clip).as("__n"))
        }
        .select(col("__sid") +: (1 to nT).map(m =>
          (col("__n") - element_at(col("__arr"), m)).as(s"__c$m")): _*)
      val sums = (1 to nT).map(m => sum(col(s"__c$m")).as(s"__c$m"))
      perSeg.groupBy("__sid").agg(sums.head, sums.tail: _*)
    } else {
      slice.partials(Seq(col("__sid")), joined) { clip =>
          val (lo, hi) = SegmentSlice.window(clip)
          Seq(ColumnBridge.column(SegmentValuesInRange(
            ColumnBridge.expression(element_at(col("__xs"), 1)),
            ColumnBridge.expression(element_at(col("__xs"), 2)),
            lo, hi, attrOf("model_type_id"), attrOf("start_time"),
            attrOf("end_time"), attrOf("timestamps"), attrOf("min_value"),
            attrOf("max_value"), attrOf("values"), attrOf("residuals")))
            .as("__p"))
        }
        .select(col("__sid"), explode(col("__p")).as("__e"))
        .select(col("__sid"), col("__e.v").as("__v"), col("__e.c").as("__c"))
        .groupBy("__sid", "__v").agg(sum(col("__c")).as("__c"))
    }
  }

  private def emptyOk(): DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("result")
  }
}

object Engine {
  /** The shape of one file's partial row read from manifest value stats:
    * the interior partials' columns, with a zero m2 (the stats path takes
    * no variance).
    */
  private val FilePartialSchema = StructType(Seq(
    StructField(SegmentSchema.FieldColumn, IntegerType, nullable = false),
    StructField("__bp_cnt", LongType, nullable = false),
    StructField("__bp_sum", DoubleType, nullable = false),
    StructField("__bp_m2", DoubleType, nullable = false),
    StructField("__bp_min", FloatType, nullable = false),
    StructField("__bp_max", FloatType, nullable = false),
    StructField("__bp_tmin", LongType, nullable = false),
    StructField("__bp_tmax", LongType, nullable = false)))

  /** Closed-form partial rows for interior (range/bucket-contained)
    * segments: (keys..., field_column[, __graft_bucket], __bp_cnt/__bp_sum/
    * __bp_min/__bp_max/__bp_tmin/__bp_tmax), zero decode for fitted models.
    *
    * NaN note: segment min/max metadata is written NaN-IGNORING (the
    * reference's f32 fmin/fmax semantics, Compressor.scala), but Spark's
    * float ordering sorts NaN greatest, so MAX must surface NaN as soon as
    * a segment hides one among other values. The sum partial — computed
    * for every row here anyway — detects it for free: a float sum is NaN
    * iff the values hold a NaN or both infinities, and the stored bounds
    * disambiguate the both-infinities case. (MIN needs no adjustment:
    * Spark MIN skips NaN unless every value is NaN, and an all-NaN segment
    * already stores NaN bounds.) The one undetectable corner — a segment
    * holding +Inf AND -Inf AND NaN — keeps metadata semantics
    * ([[SegmentAggregates.maxCol]]). The chained select is deliberate:
    * CollapseProject won't inline the non-cheap sum expression twice.
    *
    * The segment writer evaluates the same columns per written segment to
    * record each file's value stats ([[FileStatsTracker]]).
    */
  private[tsdb] def interiorPartials(
      segments: DataFrame, keys: Seq[Column],
      bucketCol: Option[Column] = scala.None,
      withSq: Boolean = false,
      withEdges: Boolean = false,
      withSum: Boolean = true): DataFrame = {
    // With the moment requested, sum and m2 extract from ONE SegmentSumStats
    // struct — a single decode pass; the chained projection keeps
    // CollapseProject from inlining (re-decoding) the kernel per field.
    // Edge values (FIRST/LAST) likewise: one SegmentEdgeValues struct,
    // extracted in the same chained projection — an interior segment's
    // chronological edges ARE its first/last points. With NO sum-family
    // kind requested the Σv partial is a dead zero — COUNT/MIN/MAX/
    // FIRST/LAST interiors never decode the value stream, EXCEPT the
    // NaN-capable minority (see __bp_nan below).
    val sumCols =
      if (withSq) Seq(SegmentAggregates.sumStatsCol.as("__bp_stats"))
      else if (withSum) Seq(SegmentAggregates.sumCol.as("__bp_sum"),
        lit(0d).as("__bp_m2"))
      else Seq(lit(0d).as("__bp_sum"), lit(0d).as("__bp_m2"))
    // MAX must surface a hidden NaN (Spark float ordering), and segment
    // bounds are written NaN-ignoring. But NaN can only HIDE in a
    // MacaqueV value stream or a residual tail — a fitted PMC/Swing model
    // is within-bound of NaN only when its own values are NaN, which the
    // stored bounds already show. Without a sum partial (the usual
    // detector), only that NaN-capable minority pays a detection decode.
    val nanCols =
      if (withSq || withSum) Seq.empty
      else Seq((SegmentAggregates.nanCapable && isnan(SegmentAggregates.sumCol))
        .as("__bp_nan"))
    val edgeCols =
      if (withEdges) Seq(SegmentAggregates.edgeValuesCol.as("__bp_edges"))
      else Seq.empty
    val base0 = segments.select(
      keys ++ Seq(col(SegmentSchema.FieldColumn)) ++
        bucketCol.map(_.as("__graft_bucket")).toSeq ++
        Seq(SegmentAggregates.lenCol.as("__bp_cnt")) ++ sumCols ++ nanCols ++
        edgeCols ++ Seq(
        col("min_value"), col("max_value"),
        col("start_time").as("__bp_tmin"),
        col("end_time").as("__bp_tmax")): _*)
    val base1 =
      if (!withSq) base0
      else base0
        .withColumn("__bp_sum", col("__bp_stats").getField("sum"))
        .withColumn("__bp_m2", col("__bp_stats").getField("m2"))
        .drop("__bp_stats")
    val base =
      if (!withEdges) base1
      else base1
        .withColumn("__bp_vfirst", col("__bp_edges").getField("first"))
        .withColumn("__bp_vlast", col("__bp_edges").getField("last"))
        .drop("__bp_edges")
    val nanDetect =
      if (withSq || withSum) isnan(col("__bp_sum")) else col("__bp_nan")
    base
      .withColumn("__bp_max", SegmentAggregates.maxCol(nanDetect))
      .withColumnRenamed("min_value", "__bp_min")
      .drop("max_value", "__bp_nan")
  }

  /** Truncation units accepted by [[Engine.readTimeSeriesTableTruncated]] —
    * the levels Spark's `date_trunc` resolves for timestamps.
    */
  val TruncUnits: Set[String] = Set(
    "YEAR", "YYYY", "YY", "QUARTER", "MONTH", "MM", "MON", "WEEK",
    "DAY", "DD", "HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND")

  /** The minimum gap (micros) between consecutive offset transitions of a
    * zone, or None for fixed-offset zones (no transitions, truncation
    * always monotonic). A segment span shorter than this gap whose end
    * offsets are equal provably contains zero transitions — the
    * monotonicity proof [[Engine.readTimeSeriesTableTruncated]]'s
    * closed-form containment relies on. Historical transitions come from
    * the zone's rules; recurring (yearly-periodic) rules are sampled over
    * a two-decade window past the last historical one. Cached per zone —
    * the TZDB is immutable within a JVM run.
    */
  private[tsdb] def minTransitionGapUs(zone: java.time.ZoneId): Option[Long] =
    transitionGapCache.computeIfAbsent(zone.getId, _ => {
      val rules = zone.getRules
      if (rules.isFixedOffset) scala.None
      else {
        import scala.jdk.CollectionConverters._
        val hist = rules.getTransitions.asScala.toSeq.map(_.getInstant)
        val lastYear = hist.lastOption
          .map(_.atZone(java.time.ZoneOffset.UTC).getYear).getOrElse(2000)
        val recurring = for {
          rule <- rules.getTransitionRules.asScala.toSeq
          year <- (lastYear - 1) to (lastYear + 21)
        } yield rule.createTransition(year).getInstant
        val all = (hist ++ recurring).map(SegmentSlice.micros(_)).distinct.sorted
        if (all.size < 2) Some(Long.MaxValue)
        else Some(all.sliding(2).map(p => p(1) - p(0)).min)
      }
    })

  private val transitionGapCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()

  /** Federation fan-out pool: INCLUDE's remote TCP endpoints drain
    * eagerly (socket read + Arrow decode, no session-catalog access), so
    * a round costs max(endpoint latency), not the sum. Daemon threads,
    * sized for endpoint counts, idle threads reclaimed.
    */
  private[tsdb] lazy val federationEc: scala.concurrent.ExecutionContext = {
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      0, 32, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-federation-${counter.incrementAndGet()}")
        t.setDaemon(true)
        t
      },
      new java.util.concurrent.ThreadPoolExecutor.CallerRunsPolicy())
    scala.concurrent.ExecutionContext.fromExecutorService(pool)
  }

  private val lastRegistrant =
    new java.util.WeakHashMap[SparkSession, Engine]()

  private def isLastRegistrant(spark: SparkSession, engine: Engine): Boolean =
    lastRegistrant.synchronized { lastRegistrant.get(spark) eq engine }

  private def setLastRegistrant(spark: SparkSession, engine: Engine): Unit =
    lastRegistrant.synchronized { lastRegistrant.put(spark, engine) }
}

/** One pruned, validated slice of a time series table's segment relation:
  * the preamble every segment-native [[Engine]] method shares. Building it
  * checks the table is a time series table, that every named field is a
  * stored field, and that every group-by and tag-filter key is a tag; it
  * then prunes manifest files by time range and tag filters, and restricts
  * the segment rows to the fields' partitions, the time range and the tag
  * predicate, in that order.
  *
  * Split invariant: with a time range `[lo, hi]` (an absent bound is
  * unbounded), `contained` is `start_time >= lo && end_time <= hi`. A
  * contained segment answers with the unclipped kernel; every other
  * segment of the slice straddles a range edge and clips its kernel to
  * `[lo, hi]` (Long.MinValue / Long.MaxValue for an absent bound). Without
  * a range every segment is contained and nothing is clipped.
  *
  * `named` empty selects every stored field, or, with `extentOnly`, only
  * the first: fields are timestamp-aligned, so any one partition carries
  * every timestamp.
  */
private[graft] final class SegmentSlice(
    dataFolder: DataFolder, val meta: TableMetadata, named: Seq[String],
    val startUs: Option[Long], val endUs: Option[Long],
    tagFilters: Map[String, String] = Map.empty,
    tagInFilters: Map[String, Seq[String]] = Map.empty,
    groupByTags: Seq[String] = Seq.empty, extentOnly: Boolean = false) {
  require(meta.isTimeSeries, s"${meta.name} is not a time series table.")
  named.foreach(f => require(meta.fieldColumns.contains(f),
    s"$f is not a stored field of ${meta.name}."))
  require(groupByTags.forall(meta.tagColumns.contains),
    s"Group-by columns must be tags of ${meta.name}.")
  (tagFilters.keys ++ tagInFilters.keys).foreach(k =>
    require(meta.tagColumns.contains(k),
      s"Tag filter key $k is not a tag of ${meta.name} " +
        s"(tags: ${meta.tagColumns.mkString(", ")})."))

  /** The fields whose partitions the slice reads. */
  val fields: Seq[String] =
    if (named.nonEmpty) named
    else if (extentOnly) meta.fieldColumns.take(1)
    else meta.fieldColumns

  /** Is the slice restricted to a time range (so some segments straddle)? */
  val ranged: Boolean = startUs.nonEmpty || endUs.nonEmpty

  /** The straddlers' kernel window `[lo, hi]`. */
  val clip: (Long, Long) =
    (startUs.getOrElse(Long.MinValue), endUs.getOrElse(Long.MaxValue))

  /** Segments wholly inside the time range (`lit(true)` without one). */
  val contained: Column = (startUs.map(lo => col("start_time") >= lo).toSeq ++
    endUs.map(hi => col("end_time") <= hi).toSeq)
    .reduceOption(_ && _).getOrElse(lit(true))

  /** The pruned live files with the snapshot's stats; None for a
    * pre-manifest table.
    */
  private lazy val live = dataFolder.prunedFiles(meta.name, startUs, endUs,
    tagFilters, tagInFilters)

  private def scanOf(files: Seq[String]): DataFrame = live match {
    case Some((_, stats)) => dataFolder.segmentScan(meta.name, files, stats)
    case scala.None => dataFolder.segments(meta.name)
  }

  private lazy val pruned = scanOf(live.fold(Seq.empty[String])(_._1))

  private def withTagPredicate(df: DataFrame): DataFrame =
    (tagFilters.toSeq.sortBy(_._1).map { case (k, v) => col(k) === v } ++
      tagInFilters.toSeq.sortBy(_._1).map { case (k, vs) =>
        col(k).isin(vs.map(v => v: Any): _*)
      }).reduceOption(_ && _).map(df.where).getOrElse(df)

  private def segmentsOf(scan: DataFrame): DataFrame = withTagPredicate(scan
    .where(SegmentSlice.fieldColumnPredicate(meta, fields))
    .where(GridView.segmentTimePredicate(startUs, endUs)))

  /** The slice's segment rows. */
  lazy val segments: DataFrame = segmentsOf(pruned)

  /** The files whose manifest value stats answer the slice's ungrouped
    * COUNT/MIN/MAX/SUM/AVG without a scan, by path, as (field_column,
    * stats): files of the slice's fields with value stats, lying wholly
    * inside the time range (so every segment in them is contained). None
    * qualifies under a tag predicate: file stats do not split by tag.
    */
  lazy val statsFiles: Map[String, (Int, TableManifest.FileStats)] =
    live match {
      case Some((files, stats))
          if tagFilters.isEmpty && tagInFilters.isEmpty =>
        val (lo, hi) = clip
        files.flatMap { rel =>
          for {
            s <- stats.get(rel) if s.values.nonEmpty &&
              s.minStartUs >= lo && s.maxEndUs <= hi
            field <- SegmentSlice.fieldOf(rel) if wanted(field)
          } yield rel -> (field, s)
        }.toMap
      case _ => Map.empty
    }

  /** The slice's segments outside the [[statsFiles]], or None when no file
    * of the slice's fields is left to scan.
    */
  lazy val unanswered: Option[DataFrame] = live match {
    case Some((files, _)) =>
      val rest = files.filter(rel =>
        !statsFiles.contains(rel) && SegmentSlice.fieldOf(rel).forall(wanted))
      if (rest.isEmpty) scala.None else Some(segmentsOf(scanOf(rest)))
    case scala.None => Some(segments)
  }

  private lazy val wanted = fields.map(meta.fieldIndex).toSet

  /** The pruned files under the tag predicate alone, for [[GridView]]
    * reconstruction, which applies the field and time predicates itself.
    */
  lazy val tagFiltered: DataFrame = withTagPredicate(pruned)

  /** `inside(from where within)` unioned by name with
    * `straddling(from where !within)`.
    */
  def split(within: Column, from: DataFrame = segments)(
      inside: DataFrame => DataFrame,
      straddling: DataFrame => DataFrame): DataFrame =
    inside(from.where(within)).unionByName(straddling(from.where(!within)))

  /** Per-segment partial rows `keys ++ body(clip)` of `from` (the slice's
    * segments, or a frame joined onto them): `body` receives None for
    * contained segments and `Some((lo, hi))` for straddlers.
    */
  def partials(keys: Seq[Column], from: DataFrame = segments)(
      body: Option[(Long, Long)] => Seq[Column]): DataFrame =
    if (!ranged) from.select(keys ++ body(scala.None): _*)
    else split(contained, from)(
      _.select(keys ++ body(scala.None): _*),
      _.select(keys ++ body(Some(clip)): _*))
}

private[graft] object SegmentSlice {
  def apply(dataFolder: DataFolder, table: String,
      fields: Seq[String] = Seq.empty,
      startTime: Option[java.time.Instant] = scala.None,
      endTime: Option[java.time.Instant] = scala.None,
      tagFilters: Map[String, String] = Map.empty,
      tagInFilters: Map[String, Seq[String]] = Map.empty,
      groupByTags: Seq[String] = Seq.empty,
      extentOnly: Boolean = false): SegmentSlice =
    new SegmentSlice(dataFolder, dataFolder.metadata(table), fields,
      startTime.map(micros), endTime.map(micros), tagFilters, tagInFilters,
      groupByTags, extentOnly)

  /** Epoch microseconds of an instant (sub-microsecond nanos truncate),
    * failing on overflow.
    */
  def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      i.getNano / 1000L)

  /** The instant at epoch microseconds `us`. */
  def instant(us: Long): java.time.Instant = java.time.Instant.ofEpochSecond(
    Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  /** A duration in microseconds, failing on overflow. */
  def micros(d: java.time.Duration): Long =
    Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L), d.getNano / 1000L)

  /** A kernel's timestamp window: `[lo, hi]` for a straddler, unbounded
    * for a contained segment.
    */
  def window(clip: Option[(Long, Long)]): (Long, Long) =
    clip.getOrElse((Long.MinValue, Long.MaxValue))

  /** A segment's point count, clipped to `[lo, hi]` for a straddler. */
  def lenOf(clip: Option[(Long, Long)]): Column = clip match {
    case Some((lo, hi)) => SegmentAggregates.clippedLenCol(lo, hi)
    case scala.None => SegmentAggregates.lenCol
  }

  /** The field of a segment file at `<field_column>=<i>/…`, if it lies
    * under one.
    */
  def fieldOf(rel: String): Option[Int] = {
    val prefix = s"${SegmentSchema.FieldColumn}="
    val dir = rel.takeWhile(_ != '/')
    if (dir.length < rel.length && dir.startsWith(prefix))
      dir.drop(prefix.length).toIntOption
    else scala.None
  }

  /** Partition predicate selecting exactly the fields' `field_column`
    * directories (all fields = no restriction needed).
    */
  private[tsdb] def fieldColumnPredicate(meta: TableMetadata,
      fields: Seq[String]): Column =
    if (fields.toSet == meta.fieldColumns.toSet) lit(true)
    else col(SegmentSchema.FieldColumn)
      .isin(fields.map(f => meta.fieldIndex(f): Any): _*)
}
