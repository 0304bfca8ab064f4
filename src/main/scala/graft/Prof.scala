package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Ad-hoc per-JOB wall-time profiler for single queries — not part of the
  * correctness or bench contract. `runMain graft.Prof q1,q2` runs each
  * query ([[Harness.select]]) once untimed (warm-up) and once timed,
  * printing every Spark job of the timed run with its wall time, task
  * count and call site, so a heavy query's seconds can be attributed to a
  * specific round/stage instead of guessed at. `graft.Explain` prints the
  * plans. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val names = Harness.select(args.toSeq)
    val spark = Harness.session(Harness.cores)

    final case class JobRec(id: Int, start: Long, var end: Long,
      var tasks: Int, desc: String)
    final case class StageRec(id: Int, wall: Double, tasks: Int,
      runMs: Long, name: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]
    val stages = new scala.collection.mutable.ArrayBuffer[StageRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs += JobRec(e.jobId, e.time, 0L, 0, desc)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield (c - s) / 1e3).getOrElse(-1.0)
          val tm = si.taskMetrics
          val io = s"in=${tm.inputMetrics.recordsRead} sr=${tm.shuffleReadMetrics.recordsRead} sw=${tm.shuffleWriteMetrics.recordsWritten} out=${tm.outputMetrics.recordsWritten}"
          stages += StageRec(si.stageId, wall, si.numTasks,
            si.taskMetrics.executorRunTime, io + "  " + si.name)
        }
    }

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()

    names.foreach { n =>
      try run(n) catch { case e: Throwable => println(s"WARMUP FAIL $n: $e") }
      jobs.synchronized { jobs.clear(); stages.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try run(n) catch { case e: Throwable => println(s"FAIL $n: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus before reading
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"PROF $n wall=${wall}%.3f s, ${jobs.size} jobs")
      val snap = jobs.synchronized(jobs.toVector)
      val total = snap.map(j => math.max(0L, j.end - j.start)).sum
      snap.sortBy(j => -(j.end - j.start)).take(25).foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s  ${j.desc}")
      }
      println(f"  [sum of job walls: ${total / 1e3}%.3f s over ${snap.size} jobs]")
      val ssnap = jobs.synchronized(stages.toVector)
      ssnap.sortBy(-_.wall).take(20).foreach { st =>
        println(f"  stage ${st.id}%4d wall=${st.wall}%8.3f s run=${st.runMs / 1e3}%8.3f s tasks=${st.tasks}%3d  ${st.name.take(90)}")
      }
    }
    spark.stop()
  }
}
