package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans recorded from outside the engine, around the benchmark's own calls
  * into it. While a span is open, the Spark jobs its thread submits carry
  * the span's job group (`pb-<span id>`), so the listener's job and stage
  * records attribute to exactly one span. Spans stay in memory and are
  * written out once, at the end of the run. While `active` is false a span
  * is just its body: untraced passes execute the same code. */
final class Tracer(sc: SparkContext) {
  var active = false
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[(Int, Int)] = Nil // (span id, op id)
  private var nextId = 1
  private var pass = -1
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the listener's stage and job times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def setPass(p: Int): Unit = pass = p

  /** `op = true` starts a new op: its span id becomes the op id that all
    * spans below it share. */
  def span[T](kind: String, name: String, op: Boolean = false)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val opId = if (op) id else stack.headOption.map(_._2).getOrElse(0)
      stack = (id, opId) :: stack
      sc.setJobGroup(s"pb-$id", s"$kind $name", interruptOnCancel = false)
      val t0 = nowMs
      try body
      finally {
        spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
          "name" -> name, "op" -> opId, "pass" -> pass,
          "start_ms" -> t0, "end_ms" -> nowMs)
        stack = stack.tail
        stack.headOption match {
          case Some((pid, _)) => sc.setJobGroup(s"pb-$pid", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq
}

/** Raw job and stage records for the traced run. Everything is reduced in
  * run.py; this side only copies what Spark reports. */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val failedTasks = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
  // stage ids each running job owns, and those it actually submitted
  private val owned = mutable.Map.empty[Int, Set[Int]]
  private val ran = mutable.Map.empty[Int, mutable.Set[Int]]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.Map("id" -> e.jobId,
      "group" -> prop(e.properties, "spark.jobGroup.id"),
      // the result stage is named after the job's call site
      "call_site" -> e.stageInfos.maxBy(_.stageId).name,
      "start_ms" -> e.time, "end_ms" -> e.time, "ok" -> false,
      "stages" -> e.stageIds.size, "skipped" -> 0)
    owned(e.jobId) = e.stageIds.toSet
    ran(e.jobId) = mutable.Set.empty
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
      j("skipped") = (owned(e.jobId) -- ran(e.jobId)).size
    }
    owned -= e.jobId
    ran -= e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    owned.foreach { case (job, ids) =>
      if (ids.contains(e.stageInfo.stageId)) ran(job) += e.stageInfo.stageId }
    stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = mutable.Map(
      "id" -> e.stageInfo.stageId,
      "group" -> prop(e.properties, "spark.jobGroup.id"))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failedTasks((e.stageId, e.stageAttemptId)) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val st = stages.getOrElseUpdate((si.stageId, si.attemptNumber()),
      mutable.Map("id" -> si.stageId, "group" -> ""))
    val tm = si.taskMetrics
    st ++= Seq(
      "start_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L),
      "tasks" -> si.numTasks,
      "failed_tasks" -> failedTasks((si.stageId, si.attemptNumber())),
      "run_ms" -> tm.executorRunTime,
      "cpu_ms" -> tm.executorCpuTime / 1e6,
      "gc_ms" -> tm.jvmGCTime,
      "input_rows" -> tm.inputMetrics.recordsRead,
      "input_bytes" -> tm.inputMetrics.bytesRead,
      "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> tm.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled),
      "output_bytes" -> tm.outputMetrics.bytesWritten,
      "output_rows" -> tm.outputMetrics.recordsWritten)
  }

  /** Jobs with their stage count and how many of those stages never ran
    * (skipped because an earlier job already wrote their shuffle output). */
  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)

  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.values.map(_.toMap).toSeq)
}
