package graphbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Scheduler-side counters of one traced statement execution. */
final class StmtCounters {
  var jobs, buildJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleReadBytes, shuffleWriteBytes, spillBytes, inputBytes = 0L
  var singleTaskStageMs = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] covered by at least one stage. */
  def stageCoveredMs(from: Long, to: Long): Long = {
    var covered, end = 0L
    var cur = from
    stageIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > cur) cur = s
        end = math.max(cur, e)
        covered += end - cur
        cur = end
      }
    covered
  }
}

/** One listener for jobs, stages and tasks. The harness runs one statement
  * at a time and drains the listener bus before moving on, so every event
  * processed while `current` is set belongs to that statement. Jobs carry
  * the `graphbench.phase` local property (build or collect) and become
  * spans whose parent is that phase's span; stages become children of the
  * job that submitted them. */
final class Tracer extends SparkListener {
  private var current: StmtCounters = _
  private var currentExec = -1
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  val spans = mutable.ArrayBuffer.empty[String]

  def begin(exec: Int): StmtCounters = synchronized {
    current = new StmtCounters; currentExec = exec; current
  }

  def end(): Unit = synchronized { current = null; currentExec = -1 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (current != null) {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.PhaseProp)))
        .getOrElse("collect")
      current.jobs += 1
      if (phase == "build") current.buildJobs += 1
      jobStart(e.jobId) = (e.time, phase)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, phase) =>
      if (currentExec >= 0)
        spans += Span.json(currentExec, s"j${e.jobId}", s"s$currentExec.$phase", "job", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (current != null) {
      current.stages += 1
      for (s <- si.submissionTime; c <- si.completionTime) {
        current.stageIntervals += ((s, c))
        if (si.numTasks == 1) current.singleTaskStageMs += c - s
        val parent = stageJob.get(si.stageId).map(j => s"j$j").getOrElse(s"s$currentExec")
        spans += Span.json(currentExec, s"st${si.stageId}.${si.attemptNumber()}", parent,
          "stage", s, c, s""","tasks":${si.numTasks}""")
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (current != null && m != null) {
      current.tasks += 1
      current.taskRunMs += m.executorRunTime
      current.taskCpuNs += m.executorCpuTime
      current.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      current.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      current.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      current.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

object Span {
  /** One span as a JSON object: the statement execution it belongs to, its
    * id, its parent's id, a name, and start/end in epoch milliseconds. */
  def json(exec: Int, id: String, parent: String, name: String, start: Long, end: Long,
           extra: String = ""): String =
    s"""{"exec":$exec,"id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},"name":"$name","start_ms":$start,"end_ms":$end$extra}"""
}
