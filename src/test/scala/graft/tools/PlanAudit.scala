package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Prints formatted physical plans for representative queries so shuffle
  * counts, pushed filters, partition pruning, and broadcast choices can be
  * audited, with creation-order IDs stripped so dumps of two builds diff
  * cleanly. Run: sbt "Test/runMain graft.tools.PlanAudit [sfDir] [names...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q3_top_revenue_orders", "ts_roundtrip",
        "ts_seg_stats", "ts_range_query", "dedup_exact", "ann_brute_topk")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    names.foreach { name =>
      println(s"\n==================== $name ====================")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // SPARK_GRAFT_PLAN_EXEC=1: execute first so AQE finalizes and the
      // formatted plan carries [codegen id : n] annotations — an
      // un-executed AdaptiveSparkPlan shows no codegen info at all.
      if (sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("1")) df.collect()
      println(stripIds(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }

  /** Drops the IDs a JVM hands out in creation order, so two dumps of the
    * same plan compare byte for byte: expression IDs (`value#123` becomes
    * `value#`), exchange plan IDs, and RDD IDs with their call-site line
    * numbers (`MapPartitionsRDD[305] at createDataFrame at Engine.scala:1593`
    * becomes `MapPartitionsRDD[] at createDataFrame at Engine.scala`).
    */
  def stripIds(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("RDD\\[\\d+\\] at (\\S+) at ([^:\\s]+):\\d+", "RDD[] at $1 at $2")
}
