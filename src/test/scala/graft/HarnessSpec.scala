package graft

class HarnessSpec extends SparkSpec {

  test("an unknown query name is a named error, from args or from the env list") {
    val fromArgs = intercept[IllegalArgumentException](
      Harness.select(Seq("q02_filter_project", "q02_filter_projetc"), env = None))
    assert(fromArgs.getMessage.contains("q02_filter_projetc"))
    val fromEnv = intercept[IllegalArgumentException](
      Harness.select(Nil, env = Some("q03_join_agg, no_such_query")))
    assert(fromEnv.getMessage.contains("no_such_query"))
    assert(!fromEnv.getMessage.contains("q03_join_agg"))
  }

  test("no selection runs every query; args win over the env list") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Harness.select(Nil, env = None) === all)
    assert(Harness.select(Nil, env = Some(" , ")) === all)
    assert(Harness.select(Seq("q03_join_agg,q02_filter_project", "q03_join_agg"),
      env = Some("q01_agg_summary")) === Seq("q03_join_agg", "q02_filter_project"))
    assert(Harness.select(Nil, env = Some("q01_agg_summary")) === Seq("q01_agg_summary"))
  }

  /** The reference ingest DAG (the `ingest_dag` benchmark workload's
    * queries, in dependency order). */
  private val ingestDag = Seq(
    "tax_validate_split", "tax_gate_new", "tax_lineage",
    "occ_fetch_summary", "occ_clean_pipeline", "occ_dedupe_best", "cleaning_summary",
    "uncertainty_buffer", "clim_annotate", "biogeo_annotate",
    "range_convex_hull", "provenance_urls",
    "meta_classify", "meta_portal_records", "meta_dedup_records",
    "bio_ingest_pipeline", "meta_ingest_pipeline", "text_curation_verdict")

  test("the ingest DAG returns the same rows under a different shuffle width without coalescing") {
    // An order-dependent tie-break or floating-point sum shows up as a
    // difference here: 7 shuffle partitions instead of 4, and AQE may not
    // merge them back.
    def rows(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    val base = ingestDag.map(n => n -> rows(n))
    val perturbed = withConfs("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      ingestDag.map(n => n -> rows(n))
    }
    assert(base.forall(_._2.nonEmpty), s"empty outputs: ${base.filter(_._2.isEmpty).map(_._1)}")
    val differ = base.zip(perturbed).collect { case ((n, a), (_, b)) if a != b => n }
    assert(differ.isEmpty, s"outputs differ under the perturbed profile: ${differ.mkString(", ")}")
  }
}
