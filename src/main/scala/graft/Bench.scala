package graft

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir("/root/testdata/sf0.1")
    val cpus = Harness.cores
    val spark = Harness.session(cpus)

    // Materialize every output column: .count() alone would let Catalyst
    // prune the computed projections out of the measured plan.
    def run(name: String): Long =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()

    // Query names in args or SPARK_GRAFT_QUERIES → an isolation run.
    val names = Harness.select(args.toSeq).sorted
    val subset = names.size < SparkEntry.queries.size
    // Machine-load settle gate, BEFORE the warm-up pass (after it our own
    // warm-up work dominates the 1-min loadavg and the gate would always
    // hit its cap). Three consecutive rounds of driver runs spiked the
    // alphabetically-FIRST timed queries (cleaning_summary 11.8x r11,
    // dedup_doc_prefix 26x r10) on unchanged bytes because the bench was
    // launched minutes after the sf0.1 verify marathon — external load
    // decays over the run, so the early board slots absorb the
    // contention. The warm-up pass can't fix load decay; waiting for the
    // 1-min load to drop can, and the warm-up pass itself then buys the
    // timed board a further few contention-free minutes. Bounded (3 min
    // cap) so a genuinely busy host still benches; the wait lands in the
    // JSON so the artifact says whether the gate cleared or timed out.
    // /proc/loadavg gives all three windows (the MXBean exposes only the
    // 1-min average). r12 proved the 1-min gate alone cannot catch the
    // post-verify-marathon state: the driver run waited 115 s, the 1-min
    // average cleared, and the alphabetically-contiguous q27-q38 slots
    // still spiked up to 17.8x because the 15-min average was 1.6+ and
    // contention decayed INTO the timed board. Bound the 15-min window
    // too (higher cap: it decays slowly by construction, so give it
    // 10 min), and record all three in the JSON so a run that starts hot
    // self-documents as suspect even when the gate caps out.
    def loads: (Double, Double, Double) =
      try {
        val parts = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
          .split("\\s+")
        (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
      } catch { case _: Throwable =>
        val l = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        (l, l, l)
      }
    val settleT0 = System.nanoTime()
    def settleWaited: Long = System.nanoTime() - settleT0
    while ({ val (l1, _, l15) = loads
             (l1 > 1.0 && settleWaited < 180e9.toLong) ||
             (l15 > 1.5 && settleWaited < 600e9.toLong) })
      Thread.sleep(5000)
    val settleS = settleWaited / 1e9
    val (startL1, startL5, startL15) = loads
    // Self-documenting hot-run marker (r15, verdict item): true iff the
    // settle gate exited because a CAP expired while the load was still
    // above its threshold — the exact signature of every phantom-spike
    // driver run (r10-r14). A capped run's numbers are suspect by
    // construction; the flag says so from the artifact alone.
    val settleCapped = startL1 > 1.0 || startL15 > 1.5

    // Untimed warm-up pass: JIT, codegen caches, parquet footers, file
    // listing — so the timed pass measures steady-state query time.
    names.foreach { n => try run(n) catch { case _: Throwable => } }
    System.gc()

    // Min of two timed runs: steady-state time, robust to JIT/GC noise.
    // A throwing query reports -1 (NOT its short failure wall time): a
    // fast-failing regression must read as an error, never as a speedup.
    // Per-query gc_ms (collector-time delta over the two timed runs) and
    // peak_mb (max heap-pool peak over them, pools reset per query) make
    // session-pressure spikes attributable from the artifact alone — a
    // genuine regression shows flat gc/peak, an environment spike shows
    // gc_ms dwarfing the delta (the r7 range_convex_hull diagnosis class).
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isValid)
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    final case class Timed(name: String, min2: Double, gcMs: Long, peakMb: Long,
      med3: Option[Double], spread: Double, thirdFailed: Boolean)
    val results = names.map { name =>
      heapPools.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
      val gc0 = gcMs
      spark.sparkContext.setJobDescription(s"bench: $name")
      def onePass(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { run(name); true } catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val two = (1 to 2).map(_ => onePass())
      val gcDelta = gcMs - gc0
      val peakMb = heapPools.map(p => try p.getPeakUsage.getUsed catch { case _: Throwable => 0L }).sum >> 20
      val min2 = if (two.forall(_._2)) two.map(_._1).min else -1.0
      // Robustness pass (r15, additions-only — the reported `queries` /
      // `value` stay EXACTLY min-of-first-two, and `gc_ms` / `peak_mb`
      // cover those two, so every prior round's numbers compare 1:1):
      // sub-second queries (the phantom-spike class: r14 driver run read
      // 36 s on a 2.7 s query) and queries whose two runs disagree >1.5x
      // get a THIRD timed run; `med3` carries the median of the three,
      // `spread_flags` names queries whose run spread exceeds 3x — a
      // genuine regression shows a tight spread, an environment spike
      // self-documents — and `third_failed` names a third run that threw.
      val needThird = min2 >= 0 &&
        (min2 < 1.0 || two.map(_._1).max > 1.5 * min2)
      val third = if (needThird) Some(onePass()) else None
      spark.sparkContext.setJobDescription(null)
      val all = (two ++ third).filter(_._2).map(_._1)
      val med3 = third.filter(_._2).map(_ => all.sorted.apply(all.size / 2))
      val spread = if (min2 > 0 && all.nonEmpty) all.max / all.min else 1.0
      Timed(name, min2, gcDelta, peakMb, med3, spread, third.exists(!_._2))
    }
    def fmt(v: Double): String = "%.3f".format(v)
    def q(k: String): String = "\"" + k + "\""
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    def arr(ks: Seq[String]): String = ks.map(q).mkString("[", ",", "]")
    val qs = obj(results.map(r => r.name -> fmt(r.min2)))
    val med3s = obj(results.flatMap(r => r.med3.map(m => r.name -> fmt(m))))
    val spreadFlags = arr(results.filter(_.spread > 3.0).map(_.name))
    val thirdFailed = arr(results.filter(_.thirdFailed).map(_.name))
    val gcs = obj(results.map(r => r.name -> r.gcMs.toString))
    val peaks = obj(results.map(r => r.name -> r.peakMb.toString))
    val errors = arr(results.filter(_.min2 < 0).map(_.name))
    val total = results.map(_.min2).filter(_ >= 0).sum
    // Key order matters for crash/truncation forensics: the harness that
    // records this line keeps only the LAST ~2 KB of output, so the
    // per-query map goes first and the suite total goes last — a
    // head-truncated tail still shows the total (BENCH_r03 lost it).
    // Machine-load marker: a uniform inflation across ALL queries (the
    // r5 driver run was ~27% hot on unchanged code) is an environment
    // artifact, not a regression — loadavg + timestamp in the artifact
    // makes that diagnosable from the JSON alone.
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val env = s""""load_avg":${fmt(load)},"load1":${fmt(startL1)},"load5":${fmt(startL5)},"load15":${fmt(startL15)},"settle_s":${fmt(settleS)},"settle_capped":$settleCapped,"epoch_ms":${System.currentTimeMillis()},"cpus":"$cpus""""
    val json = s"""{"metric":"total","unit":"sec","sf":"$sfDir",$env,"queries":$qs,"med3":$med3s,"spread_flags":$spreadFlags,"third_failed":$thirdFailed,"gc_ms":$gcs,"peak_mb":$peaks,"errors":$errors,"value":${fmt(total)}}"""
    // Durable copy: survives any stdout/stderr truncation. A subset run
    // (isolation protocol) writes BENCH_SUBSET.json —
    // it must NEVER clobber the sealed full-suite artifact (a judge
    // session lost the driver's 267-query re-run to exactly that).
    val outFile = if (subset) "BENCH_SUBSET.json" else "BENCH_LOCAL.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
