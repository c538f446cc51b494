package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-entry layer counters. Times are seconds, sizes bytes. */
final class Counters {
  var build_s, analysis_s, optimization_s, planning_s = 0.0
  var task_wait_s, run_s, cpu_s, gc_s, deser_s, fetch_wait_s = 0.0
  var queries, jobs, inner_jobs, stages, tasks, useful_tasks = 0L
  var shuffle_write_bytes, shuffle_read_bytes, shuffle_records = 0L
  var spill_bytes, scan_bytes, scan_records, result_bytes = 0L
  var checkpoints = 0L

  def add(o: Counters): Unit = {
    build_s += o.build_s; analysis_s += o.analysis_s
    optimization_s += o.optimization_s; planning_s += o.planning_s
    task_wait_s += o.task_wait_s; run_s += o.run_s; cpu_s += o.cpu_s
    gc_s += o.gc_s; deser_s += o.deser_s; fetch_wait_s += o.fetch_wait_s
    queries += o.queries; jobs += o.jobs; inner_jobs += o.inner_jobs
    stages += o.stages; tasks += o.tasks; useful_tasks += o.useful_tasks
    shuffle_write_bytes += o.shuffle_write_bytes
    shuffle_read_bytes += o.shuffle_read_bytes
    shuffle_records += o.shuffle_records; spill_bytes += o.spill_bytes
    scan_bytes += o.scan_bytes; scan_records += o.scan_records
    result_bytes += o.result_bytes; checkpoints += o.checkpoints
  }

  def json: String = Json.obj(
    "build_s" -> build_s, "analysis_s" -> analysis_s,
    "optimization_s" -> optimization_s, "planning_s" -> planning_s,
    "task_wait_s" -> task_wait_s, "run_s" -> run_s, "cpu_s" -> cpu_s,
    "gc_s" -> gc_s, "deser_s" -> deser_s, "fetch_wait_s" -> fetch_wait_s,
    "queries" -> queries, "jobs" -> jobs, "inner_jobs" -> inner_jobs,
    "stages" -> stages, "tasks" -> tasks, "useful_tasks" -> useful_tasks,
    "shuffle_write_bytes" -> shuffle_write_bytes,
    "shuffle_read_bytes" -> shuffle_read_bytes,
    "shuffle_records" -> shuffle_records, "spill_bytes" -> spill_bytes,
    "scan_bytes" -> scan_bytes, "scan_records" -> scan_records,
    "result_bytes" -> result_bytes, "checkpoints" -> checkpoints)
}

/** One traced interval. `entry` is the execution id of the entry run
  * the span belongs to; `parent` is 0 for the per-entry root span. */
final case class Span(id: Long, parent: Long, entry: Long, name: String,
    startMs: Double, endMs: Double) {
  def json: String = Json.obj("id" -> id, "parent" -> parent,
    "entry" -> entry, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs)
}

/** Scheduler and executor counters from public listener events,
  * attributed to entry runs through the job group each run sets
  * (`pb-<execution id>`) — never through timing, so concurrent clients
  * cannot steal each other's jobs. */
final class LayerListener extends SparkListener {
  private val byEntry = mutable.HashMap[Long, Counters]()
  private val stageEntry = mutable.HashMap[Int, Long]()
  private val stageSubmitMs = mutable.HashMap[(Int, Int), Long]()

  private def counters(id: Long) = byEntry.getOrElseUpdate(id, new Counters)

  /** Removes and returns the counters of one entry run. Call after
    * the listener bus has been drained. */
  def take(id: Long): Counters = synchronized {
    byEntry.remove(id).getOrElse(new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val group = if (p == null) null else p.getProperty("spark.jobGroup.id")
    if (group != null && group.startsWith(Harness.GroupPrefix)) {
      val id = group.stripPrefix(Harness.GroupPrefix).toLong
      e.stageIds.foreach(stageEntry(_) = id)
      val c = counters(id)
      c.jobs += 1
      if (p.getProperty(Harness.PhaseKey) == "build") c.inner_jobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = e.stageInfo
      s.submissionTime.foreach(t =>
        stageSubmitMs((s.stageId, s.attemptNumber())) = t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageEntry.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageEntry.get(e.stageId).foreach { id =>
      val c = counters(id)
      c.tasks += 1
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { t =>
        c.task_wait_s += math.max(0L, e.taskInfo.launchTime - t) / 1e3
      }
      val m = e.taskMetrics
      if (m != null) {
        c.run_s += m.executorRunTime / 1e3
        c.cpu_s += m.executorCpuTime / 1e9
        c.gc_s += m.jvmGCTime / 1e3
        c.deser_s += m.executorDeserializeTime / 1e3
        c.shuffle_write_bytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffle_records += m.shuffleWriteMetrics.recordsWritten
        c.shuffle_read_bytes += m.shuffleReadMetrics.totalBytesRead
        c.fetch_wait_s += m.shuffleReadMetrics.fetchWaitTime / 1e3
        c.spill_bytes += m.diskBytesSpilled
        c.scan_bytes += m.inputMetrics.bytesRead
        c.scan_records += m.inputMetrics.recordsRead
        c.result_bytes += m.resultSize
        if (m.inputMetrics.recordsRead > 0 ||
            m.shuffleReadMetrics.recordsRead > 0) c.useful_tasks += 1
      }
    }
  }
}

/** Catalyst phase times of every query execution one client session
  * runs, from the execution's `QueryPlanningTracker`. A client runs
  * one entry at a time and drains the bus before reading, so whatever
  * is buffered belongs to the entry it just finished. */
final class PlanPhases extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer[(String, Long, Long)]()
  private var queries = 0L

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    queries += 1
    qe.tracker.phases.foreach { case (name, p) =>
      buf += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  /** (query count, (phase, start ms, end ms)*) since the last take. */
  def take(): (Long, Seq[(String, Long, Long)]) = synchronized {
    val out = (queries, buf.toList)
    queries = 0
    buf.clear()
    out
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-encoded JSON. */
  final case class Raw(s: String)
}
