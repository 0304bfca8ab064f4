package perfbench

import graft.SparkEntry
import graft.operators._
import graft.sources.{AliasPublish, Jsonl, Upsert}
import org.apache.spark.sql.DataFrame

/** One sink write of the reference DAG: it writes the DataFrame that the
  * query op `source` built earlier in the same pass, under `dir` of the
  * pass's sink root. */
final case class Sink(source: String, dir: String, write: (DataFrame, String) => Unit)

/** An op: one query built and fully materialised, or one sink write. */
final case class Op(name: String, module: String, sink: Option[Sink] = None)

object Workloads {
  /** Query op -> the operator module that defines it. */
  val moduleOf: Map[String, String] = Seq(
    "CoreQueries" -> CoreQueries.queries, "DomainQueries" -> DomainQueries.queries,
    "TextQueries" -> TextQueries.queries, "SketchQueries" -> SketchQueries.queries,
    "Multimodal" -> Multimodal.queries, "Records" -> Records.queries,
    "TextPrep" -> TextPrep.queries, "EventJoins" -> EventJoins.queries,
    "TextRank" -> TextRank.queries, "Graphs" -> Graphs.queries,
    "Analytics" -> Analytics.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  private def query(name: String): Op = {
    require(SparkEntry.queries.contains(name), s"unknown query $name")
    Op(name, moduleOf(name))
  }

  /** The reference DAG in dependency order: taxonomy gate, occurrence
    * fetch and cleaning, annotation, range, provenance, the metadata ETL
    * and the three compositions. */
  val dagQueries: Seq[String] = Seq(
    "tax_validate_split", "tax_gate_new", "tax_lineage",
    "occ_fetch_summary", "occ_clean_pipeline", "occ_dedupe_best", "cleaning_summary",
    "uncertainty_buffer", "clim_annotate", "biogeo_annotate",
    "range_convex_hull", "provenance_urls",
    "meta_classify", "meta_portal_records", "meta_dedup_records",
    "bio_ingest_pipeline", "meta_ingest_pipeline", "text_curation_verdict")

  /** The reference's writes through graft.sources, after the queries. */
  val dagSinks: Seq[Op] = Seq(
    Op("write_occ_per_species", "sources", Some(Sink("occ_clean_pipeline", "occ_by_species",
      (df, p) => Jsonl.writePerKey(df, p, "species")))),
    Op("write_occ_consolidated", "sources", Some(Sink("occ_clean_pipeline", "occ_all",
      (df, p) => Jsonl.writeConsolidated(df, p)))),
    Op("upsert_bio_report", "sources", Some(Sink("bio_ingest_pipeline", "bio_report",
      (df, p) => Upsert.overwritePartitions(df, p, "species")))),
    Op("publish_meta_records", "sources", Some(Sink("meta_ingest_pipeline", "meta_records",
      (df, p) => { AliasPublish.publish(df, p); () }))),
    Op("vacuum_meta_records", "sources", Some(Sink("meta_ingest_pipeline", "meta_records",
      (df, p) => { AliasPublish.vacuum(df.sparkSession, p, keep = 2); () }))),
  )

  def ingest: Seq[Op] = dagQueries.map(query) ++ dagSinks

  /** The board_sweep pass, in a fixed order: the iterative operators
    * (the Graphs fixpoint loops: min-label and big-star connected
    * components, Borůvka, truss, k-core, onion, ancestor closure, BFS,
    * landmark BFS, pagerank, label propagation; and the EM / greedy loops
    * `text_unigram_lm_learn`, `text_kneser_ney`, `text_bpe_learn`,
    * `sim_facility_location`) plus one query of each operator module that
    * neither they nor the reference DAG call: `q15_scalar_subquery`
    * (CoreQueries), `text_diversity` (TextQueries), `multimodal_phash_dedup`
    * (Multimodal) and `events_asof` (EventJoins). Ops and order are named
    * here, not drawn: each pass is the first in its JVM, so what an op
    * costs depends on what ran before it. */
  val boardQueries: Seq[String] = Seq(
    "graph_kcore", "graph_bipartite_components", "graph_pagerank", "text_unigram_lm_learn",
    "text_diversity", "q15_scalar_subquery", "graph_mst_backbone", "text_kneser_ney",
    "multimodal_phash_dedup", "sim_facility_location", "graph_bfs_layers",
    "graph_diameter_estimate", "graph_onion_layers", "graph_ancestor_closure",
    "graph_communities", "events_asof", "text_bpe_learn", "graph_ktruss", "dedup_cluster")

  def board: Seq[Op] = boardQueries.map(query)
}
