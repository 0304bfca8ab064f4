package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, PerfbenchRows, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

/** One benchmark run in one JVM: one client running the workload's ops one
  * after another (closed loop) on local[cores], as a batch job runs them.
  * Set-up is the session. Then whole passes run until `seconds` have
  * passed, at least one. A query op is built, planned, executed and its
  * rows written to `<work>/out/p<pass>/<op>`; a sink op writes through
  * graft.sources under `<work>/sinks`. Raw measurements go to `<work>/raw.json`; run.py reduces
  * them and checks the outputs and the sinks.
  *
  * Arguments: --workload ingest_dag|board_sweep --seed N --seconds N
  * --trace 0|1 --work DIR --data DIR --cores N */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def gcCount: Long = gcBeans.map(_.getCollectionCount).sum
  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the same harness sizing as graft.Bench: keep every compiled stage
      // cached, and split the single-file tables into 1 MB scan tasks so
      // that every core gets work
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext

    val dir = a("data")
    val ops = workload match {
      case "ingest_dag" => Workloads.ingest
      case "board_sweep" => Workloads.board
    }
    val sinkRoot = s"$work/sinks"
    val outRoot = s"$work/out"

    val tracer = new Tracer(sc)
    val recorder = new Recorder
    if (traced) sc.addSparkListener(recorder)

    def runOp(op: Op, out: String, built: mutable.Map[String, DataFrame],
              phases: mutable.Map[String, Double]): Unit = op.sink match {
      case None =>
        val df = tracer.span("build", op.name)(SparkEntry.queries(op.name)(spark, dir))
        tracer.span("plan", op.name)(df.queryExecution.executedPlan)
        tracer.span("execute", op.name)(
          PerfbenchRows.executed(df).write.mode("overwrite").parquet(s"$out/${op.name}"))
        built(op.name) = df
        if (traced) df.queryExecution.tracker.phases.foreach { case (k, v) =>
          phases(k) = phases.getOrElse(k, 0.0) + v.durationMs }
      case Some(s) =>
        val src = built.getOrElse(s.source,
          throw new IllegalStateException(s"source ${s.source} failed in this pass"))
        tracer.span("write", op.name)(s.write(src, s"$sinkRoot/${s.dir}"))
    }

    /** Data files under `path` written since `sinceMs`. */
    def filesSince(path: String, sinceMs: Double): Long =
      if (!Files.exists(Paths.get(path))) 0L
      else Files.walk(Paths.get(path)).iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          Files.getLastModifiedTime(p).toMillis >= math.floor(sinceMs)
      }

    def runPass(p: Int): Map[String, Any] = {
      tracer.setPass(p)
      val built = mutable.Map.empty[String, DataFrame]
      val (c0, g0, n0, t0) = (os.getProcessCpuTime, gcMs, gcCount, System.nanoTime())
      val recs = tracer.span("pass", s"pass $p") {
        ops.map { op =>
          val phases = mutable.Map.empty[String, Double]
          val s0 = tracer.nowMs
          val s = System.nanoTime()
          val res = Try(tracer.span("op", op.name, op = true)(
            runOp(op, s"$outRoot/p$p", built, phases)))
          val ms = (System.nanoTime() - s) / 1e6
          val files = op.sink.filter(_ => traced && res.isSuccess)
            .map(k => filesSince(s"$sinkRoot/${k.dir}", s0))
          Map("name" -> op.name, "module" -> op.module, "sink" -> op.sink.isDefined,
            "ms" -> ms, "files" -> files, "phases" -> phases,
            "error" -> res.failed.toOption.map(describe))
        }
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuMs = (os.getProcessCpuTime - c0) / 1e6
      Map("pass" -> p, "wall_ms" -> wallMs, "cpu_ms" -> cpuMs,
        "gc_ms" -> (gcMs - g0), "gc_count" -> (gcCount - n0), "ops" -> recs)
    }

    val timedStartMs = System.currentTimeMillis()
    val loadStart = Files.readString(Paths.get("/proc/loadavg")).trim
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    tracer.active = traced
    tracer.span("workload", workload) {
      val until = System.nanoTime() + (seconds * 1e9).toLong
      while (passes.isEmpty || System.nanoTime() < until) passes += runPass(passes.size + 1)
    }
    val timedEndMs = System.currentTimeMillis()
    // what the job still holds once garbage is gone: heap use sampled during
    // the run reads mostly how long ago the last collection ran. Spark's
    // context cleaner frees blocks of collected RDDs only after a collection
    // has run, so the least of three collections, a moment apart, is taken.
    val retainedMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(recorder)
    }

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "jvm_start_ms" -> jvmStartMs, "timed_start_ms" -> timedStartMs,
      "timed_end_ms" -> timedEndMs, "loadavg_timed_start" -> loadStart,
      "retained_heap_mb" -> retainedMb,
      "ops" -> ops.map(op => Map("name" -> op.name, "module" -> op.module,
        "sink" -> op.sink.isDefined,
        "source" -> op.sink.map(_.source), "dir" -> op.sink.map(k => s"$sinkRoot/${k.dir}"),
        "oracle_sql" -> (if (op.sink.isEmpty) SparkEntry.oracleSql.get(op.name) else None))),
      "out_root" -> outRoot,
      "passes" -> passes,
      "spans" -> tracer.records,
      "jobs" -> recorder.jobRecords,
      "stages" -> recorder.stageRecords)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(new java.io.File(s"$work/raw.json"), out)
    spark.stop()
  }
}
