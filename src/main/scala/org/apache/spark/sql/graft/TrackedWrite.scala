package org.apache.spark.sql.graft

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** A Parquet write that carries caller-supplied [[WriteJobStatsTracker]]s —
  * Spark's own per-file hook, the one Delta Lake uses to gather its
  * per-file statistics while the write tasks produce the files.
  * `DataFrameWriter` offers no way to attach one, so this calls
  * `FileFormatWriter.write` directly, the way `InsertIntoHadoopFsRelation`
  * does: same commit protocol, same required sort by the partition
  * columns, one write job (plus whatever jobs the input plan's own
  * exchanges run, as with `DataFrameWriter`).
  */
object TrackedWrite {

  /** Write `df` as Parquet into the fresh directory `dir`, partitioned by
    * `partitionBy` (Hive-style `col=value` directories).
    */
  def parquet(df: DataFrame, dir: String, partitionBy: Seq[String],
      options: Map[String, String], trackers: Seq[WriteJobStatsTracker]): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft tracked write")) {
      val plan = qe.executedPlan
      val output = plan.output
      val partitionColumns = partitionBy.map(n => output.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(
          s"Partition column $n is not an output column.")))
      val committer = FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, dir)
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dir, Map.empty, output),
        session.sessionState.newHadoopConfWithOptions(options),
        partitionColumns, scala.None, trackers, options)
    }
  }
}
