package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for an operation); instants (remote statements
  * arriving) have `startNs == endNs`.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded by the benchmark around its calls into each layer. Kept
  * in memory and written out when the run ends; with tracing off every
  * call is a plain pass-through.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  @volatile private var current = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current
      val id = synchronized { spans += null; spans.size - 1 }
      current = id
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        synchronized { spans(id) = Span(id, parent, name, start, end) }
        current = parent
      }
    }

  /** An instant under the innermost open span (callable from any thread). */
  def event(name: String): Unit = if (enabled) {
    val t = System.nanoTime()
    synchronized { spans += Span(spans.size, current, name, t, t) }
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toList)

  def write(path: java.nio.file.Path): Unit = {
    val text = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, text.getBytes("UTF-8"))
  }
}

/** What Spark did for one operation. */
final case class SparkWork(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, shuffleBytes: Long, inputBytes: Long,
    jobIntervalsMs: Seq[(Long, Long)])

/** Counts jobs, stages, tasks, task time, shuffle and input bytes since the
  * last [[take]]. Traced runs drain the listener bus after each operation
  * and take the counts, so they belong to that operation alone.
  */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks, taskMs, shuffleBytes, inputBytes = 0L
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        inputBytes += m.inputMetrics.bytesRead
      }
    }

  def take(): SparkWork = synchronized {
    val w = SparkWork(jobs, stages, tasks, taskMs, shuffleBytes, inputBytes,
      intervals.toList)
    jobs = 0; stages = 0; tasks = 0; taskMs = 0; shuffleBytes = 0
    inputBytes = 0
    intervals.clear()
    w
  }
}

object SparkCounters {
  /** Wall time of `[startMs, endMs]` not covered by any job: driver work
    * (planning, listing, commits, result handling) between Spark jobs.
    */
  def driverGapMs(startMs: Long, endMs: Long,
      jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = startMs
    jobs.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) {
          covered += e - math.max(s, reach)
          reach = e
        }
      }
    math.max(0L, endMs - startMs - covered)
  }
}

/** Plan-level SQL metrics of the executions that ran since the last call,
  * read from Spark's SQL status store.
  */
final class SqlMetrics(spark: SparkSession) {
  private val store = spark.sharedState.statusStore
  private var lastId = -1L

  /** (files read by scans, rows produced by the `gridpoints` generator). */
  def take(): (Long, Long) = {
    val fresh = store.executionsList().filter(_.executionId > lastId)
    var files, gridded = 0L
    fresh.foreach { exec =>
      lastId = math.max(lastId, exec.executionId)
      val values = store.executionMetrics(exec.executionId)
      def valueOf(accumulatorId: Long): Long = values.get(accumulatorId)
        .map(_.takeWhile(c => c != '(' && c != '\n').filter(_.isDigit))
        .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      store.planGraph(exec.executionId).allNodes.foreach { node =>
        node.metrics.foreach { m =>
          if (m.name == "number of files read") files += valueOf(m.accumulatorId)
          if (node.name == "Generate" && node.desc.toLowerCase.contains("gridpoints") &&
              m.name == "number of output rows")
            gridded += valueOf(m.accumulatorId)
        }
      }
    }
    (files, gridded)
  }
}
