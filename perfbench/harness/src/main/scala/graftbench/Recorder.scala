package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Micro-batch progress, read from the `StreamingQueryProgress` events
  * Spark posts for every trigger. Attached in every run. */
final class ProgressRecorder extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = mutable.LinkedHashMap.empty[String, Long]
    p.durationMs.forEach((k, v) => durations(k) = v.longValue)
    val sourceMetrics = mutable.LinkedHashMap.empty[String, String]
    p.sources.foreach(s => s.metrics.forEach((k, v) => sourceMetrics(k) = v))
    val rec = Map(
      "query" -> p.id.toString,
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> durations,
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "source_metrics" -> sourceMetrics)
    buf.synchronized(buf += rec)
  }

  /** Everything recorded since the previous call. */
  def take(): Seq[Map[String, Any]] = buf.synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}

/** Driver-side record of SQL executions, jobs, stages and task
  * metrics (traced runs only). */
final class LayerRecorder extends SparkListener {
  private val execStart = mutable.HashMap.empty[Long, Long]
  private val execs = mutable.ArrayBuffer.empty[Seq[Long]]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Seq[Long]]
  private var stages = 0L
  private val sums = mutable.LinkedHashMap.empty[String, Double]

  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        execStart.remove(s.executionId).foreach(t0 => execs += Seq(t0, s.time))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += Seq(t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("result_bytes", m.resultSize.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  /** Everything recorded since the previous call. */
  def take(): Map[String, Any] = synchronized {
    val out = Map(
      "executions" -> execs.toList,
      "jobs" -> jobs.toList,
      "stages" -> stages,
      "sums" -> sums.toMap)
    execs.clear(); jobs.clear(); stages = 0; sums.clear()
    out
  }
}

/** Parquet scans in the executed plans of Dataset actions (traced runs
  * only). Plans run through `executedPlan.execute()` never reach this
  * listener; the harness counts those itself with [[ScanCounter.count]]. */
final class ScanCounter extends QueryExecutionListener {
  private var scans = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = ScanCounter.count(qe.executedPlan)
    synchronized(scans += n)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def add(n: Long): Unit = synchronized(scans += n)

  def take(): Long = synchronized {
    val n = scans
    scans = 0
    n
  }
}

object ScanCounter {
  def count(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    case q: QueryStageExec => count(q.plan)
    case s: FileSourceScanExec =>
      if (s.relation.fileFormat.isInstanceOf[ParquetFileFormat]) 1L else 0L
    case other => (other.children ++ other.subqueries).map(count).sum
  }
}

/** In-memory spans: name, start, end, parent and run id. Written as
  * JSONL when the run ends; times are seconds since the tracer was
  * made. */
final class Tracer(runId: String) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val current = new ThreadLocal[Option[Long]] {
    override def initialValue(): Option[Long] = None
  }

  /** Runs `body` inside a span; `parent` defaults to the span open on
    * this thread. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty,
      parent: Option[Long] = None)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val par = parent.orElse(current.get)
    val prev = current.get
    current.set(Some(id))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(prev)
      val rec = Map("run" -> runId, "id" -> id, "parent" -> par, "name" -> name,
        "start_s" -> (t0 - origin) / 1e9, "end_s" -> (t1 - origin) / 1e9) ++
        (if (attrs.isEmpty) Map.empty else Map("attrs" -> attrs))
      spans.synchronized(spans += rec)
    }
  }

  def currentId: Option[Long] = current.get

  def write(path: String): Unit = {
    val lines = spans.synchronized(spans.toList).map(Json.write)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
