package graft

/** Plan inspection utility: `runMain graft.Explain [query ...]` prints the
  * formatted physical plan for each named query (default: a representative
  * set) against sf0.01 — used to audit pushdown, pruning, join strategy
  * and exchange counts (SURVEY.md §5).
  *
  * `runMain graft.Explain --out PLANS_r7 [query ...]` instead writes one
  * `<dir>/<query>.txt` per query (default: [[heavySet]], the 10 heaviest
  * bench queries) — the per-round committed artifact that makes plan
  * drift diffable across rounds the way BENCH_LOCAL.json makes time
  * drift diffable.
  */
object Explain {
  /** The 10 heaviest bench queries, derived from the sealed
    * BENCH_LOCAL.json at invocation time (the r7 judge found the old
    * hard-coded list had drifted from the actual top-10). Falls back to a
    * static list if the artifact is missing/unparsable. dedup_cluster's
    * plan is the post-convergence join over checkpointed labels — the
    * per-round loop bodies do not appear in it. */
  def heavySet: Seq[String] = {
    val fallback = Seq(
      "graph_pagerank", "text_curation_verdict", "dedup_lsh_recall_audit",
      "dedup_semantic_cluster", "q21_single_late_blame", "dedup_survivorship",
      "dedup_cluster_sizes", "dedup_cluster", "q14_approx_distinct",
      "graph_communities")
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_LOCAL.json")), "UTF-8")
      // The artifact is one flat JSON line; pull the "queries" object and
      // rank its "name":sec pairs. No JSON lib on the classpath — a
      // two-group regex over the known writer format is exact here.
      val obj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt).get.group(1)
      val pair = """"([a-z0-9_]+)":(-?[0-9.]+)""".r
      val top = pair.findAllMatchIn(obj)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 >= 0).toSeq.sortBy(-_._2).take(10).map(_._1)
        .filter(SparkEntry.queries.contains)
      if (top.size == 10) top else fallback
    } catch { case _: Throwable => fallback }
  }

  def main(args: Array[String]): Unit = {
    // the width the PlanAuditSpec pins and the committed PLANS_r* are planned at
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Harness.sfDir("/root/testdata/sf0.01")
    val (outDir, requested) = args.toSeq match {
      case "--out" +: d +: rest if !d.startsWith("--") => (Some(d), rest)
      case rest if rest.contains("--out") =>
        System.err.println("usage: Explain [--out DIR] [query ...] (--out needs a directory and must come first)")
        spark.stop(); sys.exit(2)
      case rest => (None, rest)
    }
    val names =
      if (requested.nonEmpty) requested
      else if (outDir.isDefined) heavySet
      else Seq("q02_filter_project", "q03_join_agg", "occ_clean_pipeline",
        "dedup_ngram_jaccard", "sim_cosine_topk", "events_tumbling",
        "events_asof", "events_interval_join", "text_bm25_topk",
        "dedup_minhash_lsh", "graph_triangles", "sim_rp_topk",
        "occ_outlier_mad", "data_shuffle_shards")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      outDir match {
        case Some(d) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$n.txt"),
            txt.getBytes("UTF-8"))
          println(s"wrote $d/$n.txt")
        case None =>
          println(s"\n========== $n ==========")
          df.explain("formatted")
      }
    }
    spark.stop()
  }
}
