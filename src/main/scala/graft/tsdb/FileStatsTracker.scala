package graft.tsdb

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Measures a segment write's per-file statistics inside the write tasks,
  * as Spark's [[WriteJobStatsTracker]] hook sees every row go into its file
  * (see [[org.apache.spark.sql.graft.TrackedWrite]]): the time bounds, the
  * tag bounds and the field's exact value partial `(points, Σv, min, max)`.
  *
  * Each segment row is evaluated with the per-segment partial columns of
  * [[Engine.interiorPartials]] — the same point count, sum kernel and
  * hidden-NaN-resolved MAX the query path folds — and the rows of one file
  * are folded by a [[LocalAggregate]] over Spark's own SUM/MIN/MAX, so the
  * manifest holds exactly what the segment path would compute over that
  * file, up to summation order. Tag MIN/MAX over strings is UTF-8 byte
  * order, the [[TagBounds]] order, and is truncated with it.
  *
  * `partitioned` says whether the written rows lie under `col=value`
  * directories; the results key by the path relative to the write's
  * directory either way.
  */
private[tsdb] final class FileStatsTracker private (
    fold: LocalAggregate, tagColumns: Seq[String], partitioned: Boolean)
    extends WriteJobStatsTracker {
  import FileStatsTracker._

  @transient private lazy val collected =
    scala.collection.mutable.Map.empty[String, TableManifest.FileStats]

  /** Each written file's statistics (size 0: the commit's listing has it),
    * by relative path.
    */
  def measured: Map[String, TableManifest.FileStats] =
    collected.synchronized(collected.toMap)

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val buffers =
      scala.collection.mutable.LinkedHashMap.empty[String, InternalRow]
    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      buffers(filePath) = fold.newBuffer()
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit =
      fold.update(buffers(filePath), row)
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(buffers.iterator.map { case (path, buffer) =>
        path.split('/').takeRight(if (partitioned) 2 else 1).mkString("/") ->
          stats(fold.result(buffer))
      }.toMap)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected.synchronized(stats.foreach { case TaskFiles(m) => collected ++= m })

  /** One file's folded row: (points, Σv, min, max, tmin, tmax, then the
    * low and high bound of each tag). A file with no row (Spark writes one
    * for an empty first task) gets the scan-always sentinel.
    */
  private def stats(r: InternalRow): TableManifest.FileStats =
    if (r.isNullAt(0)) TableManifest.FileStats(0L, Long.MinValue, Long.MaxValue)
    else TableManifest.FileStats(0L, r.getLong(4), r.getLong(5),
      tagColumns.indices.map { i =>
        tagColumns(i) -> (TagBounds.truncateLo(r.getUTF8String(6 + 2 * i).toString),
          TagBounds.truncateHi(r.getUTF8String(7 + 2 * i).toString))
      }.toMap,
      Some(TableManifest.ValueStats(r.getLong(0), r.getDouble(1),
        r.getFloat(2), r.getFloat(3))))
}

private[tsdb] object FileStatsTracker {

  private final case class TaskFiles(files: Map[String, TableManifest.FileStats])
    extends WriteTaskStats

  /** The fold of each written (schema, tags), analyzed once per JVM: the
    * analysis costs a commit 15–20 ms on a warm driver, more on a cold one.
    * A fold is immutable and travels to the tasks serialized.
    */
  private val folds =
    new java.util.concurrent.ConcurrentHashMap[(StructType, Seq[String]), LocalAggregate]()

  /** A tracker for segment rows of `dataSchema` (the written columns, the
    * partition column excluded) of a table with `tagColumns`.
    */
  def apply(spark: SparkSession, dataSchema: StructType, tagColumns: Seq[String],
      partitioned: Boolean): FileStatsTracker =
    new FileStatsTracker(folds.computeIfAbsent((dataSchema, tagColumns), _ => {
      val rows = spark.createDataFrame(java.util.Collections.emptyList[Row](), dataSchema)
      val segments =
        if (dataSchema.fieldNames.contains(SegmentSchema.FieldColumn)) rows
        else rows.withColumn(SegmentSchema.FieldColumn, lit(0))
      val folded = Engine.interiorPartials(segments, tagColumns.map(col)).agg(
        sum("__bp_cnt"), (Seq(sum("__bp_sum"), min("__bp_min"), max("__bp_max"),
          min("__bp_tmin"), max("__bp_tmax")) ++
          tagColumns.flatMap(t => Seq(min(t), max(t)))): _*)
      LocalAggregate(folded.queryExecution.analyzed)
    }), tagColumns, partitioned)
}
