package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters one tag accumulates from the scheduler's events. A tag is
  * `pass|client|key|phase`; jobs carry it as their job group. */
final class LayerCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, deserMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "deser_ms" -> deserMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords)
}

/** SparkListener the benchmark registers on the session it builds, for the
  * traced passes only. It keeps everything in memory: per-tag counters, job
  * and stage spans, and each query's task intervals (for the time during
  * which none of the query's tasks run). Times are milliseconds since
  * `epochMs0`, the run's time origin.
  */
final class TraceListener(epochMs0: Long) extends SparkListener {
  val counters = mutable.Map.empty[String, LayerCounters]
  val jobSpans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val stageSpans = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val taskIntervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stageTag = mutable.Map.empty[Int, (String, Int)]

  private def counter(tag: String) = counters.getOrElseUpdate(tag, new LayerCounters)
  private def rel(ms: Long): Long = ms - epochMs0
  /** `pass|client|key`, the query a phase tag belongs to. */
  private def queryOf(tag: String): String = tag.split('|').take(3).mkString("|")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Harness.TagPrefix)).map(_.stripPrefix(Harness.TagPrefix))
      .getOrElse("untagged")
    counter(tag).jobs += 1
    val span = mutable.Map[String, Any]("job" -> e.jobId, "tag" -> tag, "start" -> rel(e.time))
    jobSpans += span
    jobById(e.jobId) = span
    e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = (tag, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_("end") = rel(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (tag, job) = stageTag.getOrElse(info.stageId, ("untagged", -1))
    counter(tag).stages += 1
    for (s <- info.submissionTime; c <- info.completionTime)
      stageSpans += mutable.Map[String, Any]("stage" -> info.stageId, "job" -> job,
        "tag" -> tag, "tasks" -> info.numTasks, "start" -> rel(s), "end" -> rel(c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.get(e.stageId).map(_._1).getOrElse("untagged")
    val c = counter(tag)
    val info = e.taskInfo
    c.tasks += 1
    if (info != null && info.finishTime > 0)
      taskIntervals.getOrElseUpdate(queryOf(tag), mutable.ArrayBuffer.empty) +=
        ((rel(info.launchTime), rel(info.finishTime)))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserMs += m.executorDeserializeTime
      if (info != null && info.finishTime > 0) {
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Milliseconds of [from, to] during which at least one task of `query` ran. */
  def busyMs(query: String, from: Double, to: Double): Double = synchronized {
    val iv = taskIntervals.getOrElse(query, mutable.ArrayBuffer.empty)
      .map { case (a, b) => (math.max(a.toDouble, from), math.min(b.toDouble, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy, end = 0.0
    var started = false
    for ((a, b) <- iv) {
      if (!started || a > end) { busy += b - a; end = b; started = true }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}
