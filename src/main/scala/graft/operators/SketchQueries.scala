package graft.operators

import graft.Tables.t
import graft.functions.{ConvexHullAreaKm2, RollingHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch/ANN/geometry operators — the 100 TB-scale paths for the §2c
  * additions. Round 3 moved MinHash, SimHash and both ANN variants onto
  * cross-engine-computable primitives (md5-prefix hashes, deterministic
  * integer hyperplanes, left-to-right dot products), so they carry full
  * DuckDB hash oracles; round 4 extended the same discipline to the
  * rolling-hash fingerprint (HUGEINT fold replay), the convex hull
  * (hull-edge characterization) and greedy BPE (recursive-CTE merge
  * replay), leaving only the genuinely engine-specific HLL rows-only.
  *
  *  - MinHash+LSH near-dup: signatures via shingle explode + 32 codegen'd
  *    `min(h ^ seed)` aggregates (ONE partial-aggregated shuffle — the
  *    HOF formulation that avoids the explode runs interpreted, 4-5×
  *    slower), then an 8-rows-per-doc band explode and size-capped
  *    posting-list pair generation on band keys only. Candidate volume is
  *    O(docs × bands × cutoff), never quadratic in a bucket.
  *  - SimHash: 60-bit fingerprint from 60 codegen'd sum aggregates over
  *    exploded tokens; candidate pairs from 4×15-bit bands with the same
  *    size cap; Hamming verification via xor/bit_count.
  *  - Random-hyperplane LSH ANN: 16-bit sign bucket per vector in one
  *    projection; exact dot-product rerank within buckets.
  *  - Convex hull range area: typed Aggregator with hull-pruned buffers
  *    (map-side partial aggregation keeps state O(hull), not O(points)).
  *  - rolling_hash: native codegen Catalyst Expression (functions/
  *    RollingHash.scala) registered in the session function registry.
  */
object SketchQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Idempotent session setup: registers graft's custom expressions. */
  def register(s: SparkSession): Unit = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", (exprs: Seq[Expression]) => RollingHash(exprs.head), "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_count",
      (exprs: Seq[Expression]) => graft.functions.TokenCount(exprs.head), "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_encode",
      (exprs: Seq[Expression]) => graft.functions.BpeEncode(exprs.head), "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_chunks",
      (exprs: Seq[Expression]) => graft.functions.CdcChunks(exprs.head), "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lz78_count",
      (exprs: Seq[Expression]) => graft.functions.Lz78Count(exprs.head), "built-in")
  }

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(t(s, dir, "documents"))

  /** Sketch-quality audit for the dedup side (the sibling of
    * simAnnRecallAudit's ANN check): MinHash-LSH's thresholded pair set
    * scored against the exact DF-filtered n-gram Jaccard pairs — corpus
    * recall (near-dup pairs the sketch keeps) and precision (kept pairs
    * that are real) in exact milli. Both pair sets are SMALL (the
    * operators' outputs, not their inputs) but each is referenced twice
    * — localCheckpoint cuts the heavy upstream replay (the triangles
    * multi-reference discipline). Single-row output; guards keep the
    * integer divisions off zero on both engines. */
  def dedupLshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = TextQueries.dedupNgramJaccard(s, dir)
      .select("doc1", "doc2").transform(graft.Ckpt.capped)
    val approx = dedupMinhashLsh(s, dir)
      .select("doc1", "doc2").transform(graft.Ckpt.capped)
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    val na = approx.agg(count(lit(1)).as("n_lsh"))
    val nh = exact.join(approx, Seq("doc1", "doc2"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    ne.crossJoin(na).crossJoin(nh)
      .withColumn("recall_milli",
        when(col("n_exact") > 0, expr("n_hit * 1000 div n_exact")))
      .withColumn("precision_milli",
        when(col("n_lsh") > 0, expr("n_hit * 1000 div n_lsh")))
  }

  /** splitmix64-derived 60-bit xor seeds: the MinHash permutation family
    * is `h ↦ h XOR seed` over a 60-bit md5-prefix base hash — chosen so
    * BOTH engines compute it exactly (DuckDB: `('0x'||substr(md5(sh),1,
    * 15))::BIGINT` + `xor`; Spark: `conv(substring(md5(..)))` + `^`),
    * which upgrades this query from a rows-only check to a full DuckDB
    * hash oracle. Xor-by-constant is a weaker permutation family than
    * seeded xxhash64, but the estimate specs (exact-dup → 1.0,
    * half-overlap tracking) bound the accuracy loss. */
  private[graft] val K = 32

  /** Band-bucket skew cap (same idea as dedup_ngram_jaccard's DF_CUTOFF,
    * TextQueries.scala): a band value shared by k docs yields C(k,2)
    * candidates, and nothing upstream bounds k — at 100 TB a degenerate
    * value (empty/boilerplate docs collapsing to one signature) is a
    * quadratic-blowup task. Buckets larger than the cutoff are dropped
    * from candidate generation entirely. Recall note: pairs found ONLY
    * via an over-full bucket are missed — by construction those are
    * boilerplate-collision pairs (the cap is far above any honest
    * near-dup cluster size), and exact duplicates remain fully covered by
    * dedup_exact. */
  private[graft] val BAND_CUTOFF = 100

  /** Capped posting-list pair generation — the ONE copy of the r6 skew
    * discipline shared by the minhash and winnowing inverted indexes
    * (simhash keeps its own variant: its postings carry the fingerprint
    * struct for the local Hamming check): bucket sizes count first
    * (partial-aggregated map-side, one row per distinct key), buckets
    * over [[BAND_CUTOFF]] drop via broadcast anti-join BEFORE any
    * collect_list exists, then each surviving posting list emits its
    * C(df,2) ordered pairs locally (ds sorted ⇒ j > i ⟺ doc2 > doc1).
    * Emits one (doc1, doc2) row PER shared bucket — callers dedup or
    * count as their semantics require. */
  private def cappedPostingPairs(rows: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val oversized = rows.groupBy(keys: _*).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BAND_CUTOFF).select(keys: _*)
    rows.join(broadcast(oversized), keyCols, "left_anti")
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "doc1")))
      .select(col("i"), col("doc1"), posexplode(col("ds")).as(Seq("j", "doc2")))
      .filter(col("j") > col("i"))
      .select("doc1", "doc2")
  }
  private[graft] val seeds: IndexedSeq[Long] = (0 until K).map { k =>
    var z = k.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & ((1L << 60) - 1)
  }

  /** MinHash signatures (K=32) + LSH banding (8 bands × 4 rows) over a
    * (doc_id, text) DataFrame.
    *
    * Signatures via explode → one md5-prefix base hash per shingle → 32
    * codegen'd `min(h ^ seed)` agg columns → one partial-aggregated
    * shuffle. (A higher-order-function formulation avoids the explode but
    * runs in the interpreted eval path — measured 4-5× slower; plain
    * aggregates stay in whole-stage codegen and combine map-side.) */
  /** MinHash signatures + band keys for a (doc_id, text) frame — the
    * standing INDEX shape: (doc_id, sig[32], bds[8×(band, bh)]).
    * Factored out of [[minhashPairs]] so Streams.lshIncrement can probe
    * the same index with arriving docs (stream-static). */
  private[graft] def minhashIndex(docs: DataFrame): DataFrame = {
    val h = expr(
      "cast(conv(substring(md5(cast(sh as binary)), 1, 15), 16, 10) as bigint)")
    val minCols = (0 until K).map(k =>
      min(col("h").bitwiseXOR(lit(seeds(k)))).as(s"m$k"))
    val sigs0 = Shingles.trigramRows(docs, dedup = false)
      .withColumn("h", h)
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
    // Band keys concatenate the 4 minima as strings (NOT an engine hash —
    // the oracle must generate identical candidates): ~80-byte band rows
    // instead of 8, but still tiny next to the signature arrays, which
    // never enter the candidate shuffle.
    val bandArr = array((0 until 8).map(b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until 4).map(r => col(s"m${b * 4 + r}").cast("string")): _*)
          .as("bh"))): _*)
    sigs0.select(col("doc_id"),
      array((0 until K).map(k => col(s"m$k")): _*).as("sig"), bandArr.as("bds"))
  }

  def minhashPairs(docs: DataFrame): DataFrame = {
    val sigs = minhashIndex(docs)
    val bands = sigs.select(col("doc_id"), explode(col("bds")).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    val cand = cappedPostingPairs(bands, Seq("band", "bh"))
      .dropDuplicates("doc1", "doc2")
    cand
      .join(sigs.select(col("doc_id").as("doc1"), col("sig").as("sig1")), Seq("doc1"))
      .join(sigs.select(col("doc_id").as("doc2"), col("sig").as("sig2")), Seq("doc2"))
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) / cast($K as double)"))
      .filter(col("est_jaccard") >= 0.5)
      .select("doc1", "doc2", "est_jaccard")
  }

  /** Shared winnowing CTE prefix (tok → grams → hash → running min →
    * post-warmup fingerprints `f`) for the digest and pair oracles. */
  private val WINNOW_CTE =
    """tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |        ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS g
      |      FROM tok, LATERAL unnest(generate_series(0, len(ts) - 3)) t(i)),
      |h AS (SELECT doc_id, pos, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM g),
      |w AS (SELECT doc_id, pos,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
      |      FROM h),
      |f AS (SELECT doc_id, m FROM w WHERE pos >= 3)""".stripMargin

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashPairs(t(s, dir, "documents"))

  /** 60-bit SimHash over tokens; candidate pairs from FOUR 15-bit bands
    * (multi-probe), Hamming-verified ≤ 6.
    *
    * Per-bit ±1 counters as 60 codegen'd SUM aggregates over exploded
    * tokens (one partial-aggregated shuffle), then the fingerprint is
    * assembled from the counter signs in a final projection — same
    * interpreted-HOF-avoidance as [[minhashPairs]]. The token hash is the
    * same md5-prefix base as [[minhashPairs]] (60 bits), so the whole
    * pipeline is recomputable in DuckDB — a full hash oracle instead of a
    * rows-only check. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val bitCols = (0 until 60).map { i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), 1L).otherwise(-1L)).as(s"c$i")
    }
    val fpExpr = (0 until 60).map(i =>
      when(col(s"c$i") > 0, expr(s"shiftleft(1L, $i)")).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    // Explicit-width doc repartition (the Shingles r14 note): the token
    // md5s + 60 partial sums otherwise run at single-split scan width;
    // hash(doc_id) also feeds the groupBy exchange-free.
    val fps = docs
      .repartition(graft.Ckpt.textPar(docs), col("doc_id"))
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(w as binary)), 1, 15), 16, 10) as bigint)"))
      .groupBy("doc_id")
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), fpExpr.as("fp"))
    simhashBucketPairs(fps)
  }

  /** Banded candidate generation + Hamming verification over (doc_id, fp)
    * fingerprints: each fp emits 4 disjoint 15-bit bands over the 60-bit
    * fingerprint; any shared band value makes a candidate pair, verified
    * with xor/bit_count ≤ 6.
    *
    * Recall: a pair differing in ≤ 3 bits ALWAYS shares a clean band
    * (pigeonhole over 4 bands) — the round-1 single-prefix scheme missed
    * any pair whose differing bits sat in the prefix. Pairs with 4-6
    * differing bits are missed only when the bits hit all 4 bands
    * (spreading ≥1 into each); an exact ≤6 guarantee needs 7 ~9-bit
    * bands, whose 512-value keyspace collapses a web-scale corpus into
    * quadratic buckets — 15-bit keys keep bucket fan-in bounded at scale.
    *
    * Shuffle volume is O(docs × 4) rows of (doc_id, fp, band, bv) — the
    * same capped posting-list shape as [[minhashPairs]] (buckets larger
    * than [[BAND_CUTOFF]] are dropped; see the cap's recall note); pairs
    * found by several bands are deduplicated after the (cheap) Hamming
    * check. */
  def simhashBucketPairs(fps: DataFrame): DataFrame = {
    val bandArr = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(fp, ${15 * b}) & 32767").as("bv"))): _*)
    val bands = fps
      .select(col("doc_id"), col("fp"), explode(bandArr).as("bd"))
      .select(col("doc_id"), col("fp"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    // sort_array on (doc_id, fp) structs orders by doc_id; the fps ride
    // along so the Hamming check needs no join back to the corpus.
    // BAND_CUTOFF is enforced BEFORE the collect via the same two-pass
    // count + broadcast anti-join guard as minhashPairs, so an over-full
    // bucket never materializes as single-task state.
    val oversized = bands.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BAND_CUTOFF).select("band", "bv")
    bands.join(broadcast(oversized), Seq("band", "bv"), "left_anti")
      .groupBy("band", "bv")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("ds")).as(Seq("j", "b")))
      .filter(col("j") > col("i"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        expr("bit_count(a.fp ^ b.fp)").as("hamming"))
      .filter(col("hamming") <= 6)
      .dropDuplicates("doc1", "doc2")
  }

  /** Random-hyperplane bucket per vector: 6 planes → 64 buckets, sized so
    * buckets hold enough candidates for top-k recall at the test scales;
    * at production scale this rises with corpus size (buckets ≈ corpus /
    * desired candidate-set size). Plane projections as codegen'd SUM
    * aggregates over exploded dims (interpreted-HOF avoidance, cf.
    * minhashPairs); integer-weight pseudo-random hyperplanes
    * w(p,j) = (p*131 + j*31) % 19 - 9, exactly recomputable in DuckDB. */
  private def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    val planes = 6
    val dotCols = (0 until planes).map { p =>
      sum(col("x") * ((lit(p) * 131 + col("j") * 31) % 19 - 9)).as(s"d$p")
    }
    val bucketCol = (0 until planes).map(p =>
      when(col(s"d$p") > 0, lit(1L << (planes - 1 - p))).otherwise(0L))
      .reduce(_ + _)
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .groupBy("vec_id")
      .agg(dotCols.head, dotCols.tail: _*)
      .select(col("vec_id"), bucketCol.as("bucket"))
  }

  /** Random-hyperplane LSH bucketing + exact rerank: the scale path for
    * sim_cosine_topk (only same-bucket candidates are scored). */
  def simLshTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .join(lshBuckets(s, dir), Seq("vec_id"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
    val d = emb.filter(col("vec_id") >= 5)
    val dot = graft.functions.Vectors.dot(col("qv"), col("v"))
    Rerank.topK(
      d.join(broadcast(q), Seq("bucket"))
        .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
  }

  /** LSH bucket-occupancy audit — the index-health companion to
    * [[simAnnRecallAudit]]'s answer-quality gate: bucket sizes folded
    * into a floor-log2 histogram (≤ ~40 rows at any corpus size) with
    * per-bin bucket/vector counts and size extrema. A healthy index
    * shows mass concentrated in mid bins; a fat top bin means collapsed
    * sign patterns (zero vectors, duplicated embeddings) that will blow
    * past KNN_BUCKET_CAP and cost recall. Plan: two partial-aggregated
    * exchanges over the bucket assignment — bucket sizes then bins. */
  def simBucketAudit(s: SparkSession, dir: String): DataFrame =
    lshBuckets(s, dir)
      .groupBy("bucket").agg(count(lit(1)).as("sz"))
      .select(col("sz"),
        expr("cast(length(bin(sz)) - 1 as bigint)").as("sz_bits"))
      .groupBy("sz_bits")
      .agg(count(lit(1)).as("n_buckets"), sum("sz").as("n_vectors"),
        min("sz").as("min_sz"), max("sz").as("max_sz"))

  /** ANN index QA: recall@10 of the LSH-bucketed top-k against the exact
    * brute-force top-k per query — the acceptance gate every approximate
    * index build runs before serving (the ANN-family analogue of
    * sim_norm_audit's encoder gate). Both component top-k sets are
    * individually hash-green (dots fold left-to-right identically in
    * both engines, ties broken by vec_id), so set membership — and
    * therefore the recall counts — is deterministic. Plan: the two
    * component pipelines run once each (both linear scans), then a
    * 50-row left join + one |queries|-row aggregate — audit cost is the
    * component cost, nothing quadratic on top. */
  def simAnnRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = TextQueries.simCosineTopk(s, dir).select("qid", "vec_id")
    val approx = simLshTopk(s, dir)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .select(col("qid"), coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_exact"), sum("hit").as("hits"))
      .withColumn("recall_millis", expr("hits * 1000 div n_exact"))
  }

  /** k-NN graph over the whole corpus: every vector's top-5 same-bucket
    * neighbors — the primitive that clustering, near-dup mining and
    * diversity sampling consume downstream. Plan: one bucket-assignment
    * pass (codegen'd plane sums), a bucket-key self-join whose candidate
    * count is bounded by bucket occupancy (bucket count scales with the
    * corpus at production so occupancy stays flat — SURVEY §5), then the
    * k-bounded map-side TopKByScore rerank, so the final shuffle carries
    * O(k) per vector. */
  /** Candidate-volume guard for the bucket self-join: a degenerate bucket
    * of k vectors (e.g. a corpus full of zero vectors collapsing to one
    * sign pattern) yields k² candidates; buckets above the cap are
    * excluded on BOTH engines (documented recall trade, same discipline
    * as the minhash/simhash BAND_CUTOFF). The cap never triggers at the
    * test scales; at production it bounds the worst task. */
  private val KNN_BUCKET_CAP = 4096

  def simKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
      .join(lshBuckets(s, dir), Seq("vec_id"))
    // ≤ 2^planes rows — always broadcastable
    val oversized = emb.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > KNN_BUCKET_CAP).select("bucket")
    val capped = emb.join(broadcast(oversized), Seq("bucket"), "left_anti")
    val nbrs = capped.select(col("bucket"), col("vec_id").as("nid"), col("v").as("w"))
    val dot = graft.functions.Vectors.dot(col("qv"), col("w"))
    Rerank.topK(
      capped.select(col("bucket"), col("vec_id").as("qid"), col("v").as("qv"))
        .join(nbrs, Seq("bucket"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid").as("vec_id"), dot.as("dot")), 5)
  }

  /** Greedy beam search over a NAVIGABLE neighbor graph — the
    * GRAPH-based ANN member (the HNSW/NSW class) completing the family
    * next to LSH/RP/IVF/IVF-PQ/SQ8/sign/matryoshka. The graph is the
    * corpus knn edges UNION deterministic exponential ring skips
    * (nid ± {1, 8, 64, 512} — the navigable-small-world long links):
    * the raw LSH-bucketed knn graph alone is a disjoint union of bucket
    * cliques where greedy search can NEVER cross buckets (measured
    * 0–200 milli recall before the skips — the audit doing its job);
    * the skip hierarchy makes every node reachable in O(log n) hops and
    * the knn edges polish locally. Search: 8 fixed entries, 4 rounds of
    * expanding the best-8 frontier, every visited node kept; answers
    * are the top-10 visited by the EXACT fixed-point dot (scores
    * consult a precomputed query×corpus dotfp table — at production the
    * dot evaluates on demand; the values are identical and the SEARCH
    * structure is what's under audit). n_visited = how few dot
    * evaluations the walk needed vs the brute N. Deterministic end to
    * end; per-round checkpoints are load-bearing (visited feeds the
    * frontier rank AND the next union). */
  def simGraphSearchRecall(s: SparkSession, dir: String): DataFrame = {
    val BEAM = 8
    val comps = t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("xfp",
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)"))
    val qdots = comps.filter(col("vec_id") >= 5)
      .join(broadcast(comps.filter(col("vec_id") < 5)
        .select(col("j"), col("vec_id").as("qid"), col("xfp").as("qx"))),
        Seq("j"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(sum(expr("qx * xfp")).as("dotfp"))
      .transform(graft.Ckpt.capped) // entries, expansions, exact ranks all read it
    val knn = simKnnGraph(s, dir)
      .filter(col("qid") >= 5 && col("vec_id") >= 5)
    val skips = qdots.select(col("nid")).distinct()
      .select(col("nid").as("a"),
        explode(expr("array(1L, 8L, 64L, 512L, -1L, -8L, -64L, -512L)"))
          .as("off"))
      .select(col("a"), (col("a") + col("off")).as("b"))
      .filter(col("b") >= 5)
    val sym = knn.select(col("qid").as("a"), col("vec_id").as("b"))
      .union(knn.select(col("vec_id").as("a"), col("qid").as("b")))
      .union(skips)
      .distinct().transform(graft.Ckpt.capped)
    val entries = sym.select(col("a").as("nid")).distinct()
      .orderBy("nid").limit(BEAM)
    val wq = Window.partitionBy("qid").orderBy(col("dotfp").desc, col("nid"))
    // the frontier is a LAZY top-BEAM window over the visited checkpoint
    // leaf (r15): it needs no materialization of its own — each round's
    // plan re-derives it from the leaf (visited is referenced twice per
    // round: frontier rank + the union base, both off the leaf)
    def expand(v: org.apache.spark.sql.DataFrame) = {
      val expanded = v.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= BEAM)
        .select(col("qid"), col("nid").as("a"))
        .join(sym, Seq("a"))
        .select(col("qid"), col("b").as("nid")).distinct()
        .join(qdots, Seq("qid", "nid"))
      v.unionByName(expanded).dropDuplicates("qid", "nid")
    }
    // one round per checkpoint: deeper fusion of the beam is unmeasured
    val visited = graft.Fixpoint.fixed(qdots.select("qid").distinct()
      .crossJoin(broadcast(entries))
      .join(qdots, Seq("qid", "nid"))
      .transform(graft.Ckpt.capped), rounds = 4, fuse = 1)(expand)
    val found = visited.withColumn("r", row_number().over(wq))
      .filter(col("r") <= 10).select("qid", "nid")
    val exact = qdots.withColumn("r", row_number().over(wq))
      .filter(col("r") <= 10).select(col("qid"), col("nid"),
        lit(1L).as("hit"))
    val nv = visited.groupBy("qid").agg(count(lit(1)).as("n_visited"))
    found.join(exact, Seq("qid", "nid"), "left_outer")
      .groupBy("qid").agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .join(nv, Seq("qid"))
      .withColumn("recall_milli", expr("n_overlap * 1000 div 10"))
      .select("qid", "n_visited", "n_overlap", "recall_milli")
  }

  private lazy val GRAPH_SEARCH_SQL: String = {
    // KNN_GRAPH_SQL directly, NOT oracle("sim_knn_graph"): the oracle map
    // initializer forces this lazy val — going through the map is a
    // circular-init NPE (hit in r12)
    val knnSql = KNN_GRAPH_SQL
    // three beam rounds unrolled, every multi-referenced CTE MATERIALIZED
    // (the r12 inline-blowup landmine — see CLAUDE.md)
    val rounds = (1 to 4).map { t =>
      s"""v$t AS MATERIALIZED (
         |  SELECT DISTINCT qid, nid, dotfp FROM (
         |    SELECT qid, nid, dotfp FROM v${t - 1}
         |    UNION ALL
         |    SELECT f.qid, qd.nid, qd.dotfp
         |    FROM f${t - 1} f
         |    JOIN sy ON sy.a = f.nid
         |    JOIN qd ON qd.qid = f.qid AND qd.nid = sy.b)),
         |f$t AS MATERIALIZED (
         |  SELECT qid, nid, dotfp FROM v$t
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY dotfp DESC, nid) <= 8)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED ($knnSql),
       |c AS MATERIALIZED (
       |  SELECT vec_id, p.i - 1 AS j,
       |    CAST(FLOOR(CAST(p.x AS DOUBLE) * 1048576) AS BIGINT) AS xfp
       |  FROM (SELECT vec_id,
       |          unnest(list_apply(embedding,
       |            (x, i) -> struct_pack(x := x, i := i))) AS p
       |        FROM embeddings)),
       |qd AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, d.vec_id AS nid,
       |    CAST(SUM(q.xfp * d.xfp) AS BIGINT) AS dotfp
       |  FROM c q JOIN c d USING (j)
       |  WHERE q.vec_id < 5 AND d.vec_id >= 5
       |  GROUP BY 1, 2),
       |sy AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  SELECT qid AS a, vec_id AS b FROM knn
       |  WHERE qid >= 5 AND vec_id >= 5
       |  UNION ALL SELECT vec_id, qid FROM knn
       |  WHERE qid >= 5 AND vec_id >= 5
       |  UNION ALL
       |  SELECT nid AS a, nid + off AS b
       |  FROM (SELECT DISTINCT nid FROM qd),
       |       unnest([1, 8, 64, 512, -1, -8, -64, -512]) t(off)
       |  WHERE nid + off >= 5)),
       |en AS MATERIALIZED (
       |  SELECT nid FROM (SELECT DISTINCT a AS nid FROM sy)
       |  ORDER BY nid LIMIT 8),
       |v0 AS MATERIALIZED (
       |  SELECT qd.qid, qd.nid, qd.dotfp FROM qd JOIN en USING (nid)),
       |f0 AS MATERIALIZED (
       |  SELECT qid, nid, dotfp FROM v0
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dotfp DESC, nid) <= 8),
       |$rounds,
       |fd AS (SELECT qid, nid FROM v4
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
       |         ORDER BY dotfp DESC, nid) <= 10),
       |ex AS (SELECT qid, nid FROM qd
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
       |         ORDER BY dotfp DESC, nid) <= 10),
       |nv AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited
       |       FROM v4 GROUP BY qid)
       |SELECT fd.qid, nv.n_visited,
       |  CAST(SUM(CASE WHEN ex.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overlap,
       |  CAST(SUM(CASE WHEN ex.nid IS NOT NULL THEN 1 ELSE 0 END) * 1000 // 10
       |    AS BIGINT) AS recall_milli
       |FROM fd
       |LEFT JOIN ex ON ex.qid = fd.qid AND ex.nid = fd.nid
       |JOIN nv ON nv.qid = fd.qid
       |GROUP BY fd.qid, nv.n_visited""".stripMargin
  }

  /** Similarity-threshold sweep over the k-NN pair graph — the
    * dial-tuning readout every near-dup pass needs BEFORE committing to
    * a cosine cutoff: at each of ten thresholds, how many candidate
    * pairs survive and how many distinct documents they touch. Scores
    * ride the SAME hash-matched dot doubles as [[simKnnGraph]], then
    * quantize once onto the 2^20 fixed-point lattice (identical floor
    * on both engines); thresholds are t·2^20 div 10 integer literals —
    * the compare never happens in float space. Plan: the deduped pair
    * relation is checkpointed (pair counts and endpoint-distinct folds
    * both consume it); everything after the explode is ≤10-row or
    * (10 × docs)-bounded aggregates. */
  def simThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = simKnnGraph(s, dir)
      .select(least(col("qid"), col("vec_id")).as("a"),
        greatest(col("qid"), col("vec_id")).as("b"), col("dot"))
      .groupBy("a", "b").agg(max("dot").as("dot"))
      .select(col("a"), col("b"),
        expr("cast(floor(dot * 1048576) as bigint)").as("dot_fp"))
      .transform(graft.Ckpt.capped) // feeds the pair fold and the endpoint fold
    val swept = pairs
      .select(col("a"), col("b"), col("dot_fp"),
        explode(expr("sequence(0L, 9L)")).as("t"))
      .filter(col("dot_fp") >= expr("t * 1048576 div 10"))
      .transform(graft.Ckpt.capped) // feeds both rollups below
    val np = swept.groupBy("t").agg(count(lit(1)).as("n_pairs"))
    val nd = swept
      .select(col("t"), explode(array(col("a"), col("b"))).as("doc"))
      .distinct()
      .groupBy("t").agg(count(lit(1)).as("n_docs"))
    np.join(nd, Seq("t"))
      .select(expr("t * 100").as("thresh_milli"), col("n_pairs"),
        col("n_docs"))
  }

  /** Winnowing document fingerprint (the MOSS scheme): hash every
    * 3-token shingle, slide a window of 4 hashes, keep each window's min
    * — any shared token run of length ≥ 6 between two documents is then
    * guaranteed to share a fingerprint. Exact integer outputs (window
    * count, distinct-fingerprint count, XOR digest of the distinct set)
    * make the whole pipeline a DuckDB hash oracle. Plan: one exchange on
    * doc_id feeds both window passes (lead-composed shingles, then the
    * running min — same partitioning and order, so Spark plans a single
    * sort), and the final per-doc aggregate reuses the partitioning. */
  /** The shared winnowing pipeline: (doc_id, m) fingerprint rows, one per
    * post-warmup window — consumed by the per-doc digest query AND the
    * pair detector. */
  private def winnowRows(s: SparkSession, dir: String): DataFrame = {
    val W = 4
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    // Explicit-width doc repartition (the Shingles r14 note): replaces
    // the window's tiny AQE-coalesced exchange so shingle md5s + both
    // window passes run at textPar width.
    val docsRel = t(s, dir, "documents")
    val toks = docsRel
      .repartition(graft.Ckpt.textPar(docsRel), col("doc_id"))
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as(Seq("pos", "tok")))
    toks
      .withColumn("t1", lead("tok", 1).over(wOrd))
      .withColumn("t2", lead("tok", 2).over(wOrd))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), col("pos"),
        expr("cast(conv(substring(md5(cast(concat_ws(' ', tok, t1, t2) as binary)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .withColumn("m", min(col("h")).over(wOrd.rowsBetween(-(W - 1), 0)))
      .filter(col("pos") >= W - 1)
      .select("doc_id", "m")
  }

  def textWinnowing(s: SparkSession, dir: String): DataFrame =
    winnowRows(s, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count_distinct(col("m")).as("n_fp"),
        expr("bit_xor(DISTINCT m)").as("fp_xor"))

  /** Winnowing PAIR detection — MOSS's actual use: two documents sharing
    * ≥ 2 distinct selected fingerprints share (with the winnowing
    * guarantee) token runs of length ≥ 6 — local plagiarism/boilerplate
    * pairs that whole-document Jaccard dilutes away. Same capped
    * inverted-index shape as [[minhashPairs]]: fingerprint df counted
    * first (partial-aggregated), oversized postings dropped with a
    * broadcast anti-join BEFORE any collect_list exists, then local
    * C(df,2) pair-gen. */
  def dedupWinnowPairs(s: SparkSession, dir: String): DataFrame =
    cappedPostingPairs(winnowRows(s, dir).distinct(), Seq("m"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 2)

  /** IVF-style ANN: assign every vector to its nearest "centroid" (here
    * the first C vectors stand in for a trained codebook), then answer
    * each query by exact search within the query's probed clusters. The
    * scale property: the corpus shuffles once on cluster id, and each
    * query scans nprobe·|corpus|/C candidates instead of the whole
    * corpus. Data vectors live in exactly ONE cell (argmax); queries
    * probe their `nprobe` nearest cells — the standard IVF recall lever:
    * a query near a cell boundary finds neighbors argmax filed on the
    * other side. Recall is spec-checked against brute force, including
    * nprobe=2 ⊇ nprobe=1.
    *
    * Assignment is an argmax HASH aggregate (max_by over the broadcast
    * codebook cross join — partials combine map-side), not a row_number
    * window (which sort-shuffles all C×|corpus| scored rows). The
    * assigned set is NOT materialized: it feeds exactly one consumer (the
    * data-side probe join), so the r3 localCheckpoint had become pure
    * overhead — and THAT (+0.55 s measured) was the r3 0.45→1.34 s bench
    * movement, not the nprobe doubling (nprobe 1 vs 2 probe within noise;
    * measured r14 at sf0.1 / local[32], full query ≈1.03 s checkpoint-free).
    * Two literal-codebook zero-shuffle assignment variants were measured
    * and REJECTED: array_max over (dot, cid) structs is CodegenFallback,
    * dragging the 512-term dot subtree onto the interpreted per-row path
    * (2.6 s), and a scalar when-chain argmax gets each dot column inlined
    * ~7× by CollapseProject with no cross-expression subexpression reuse
    * (16-27 s). The one-shuffle hash aggregate is the fast shape. */
  def ivfTopk(s: SparkSession, dir: String): DataFrame = ivfTopk(s, dir, 2)

  private val IVF_C = 8

  private def ivfEmb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))

  private def ivfCents(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < IVF_C)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** Coarse cell assignment: argmax HASH aggregate over the broadcast
    * codebook (see [[ivfTopk]]'s rejected-variants note); tie-break =
    * highest cdot, then lowest cid (cid < C = 8, so C − cid is a safe
    * ascending→descending flip inside the max_by key). */
  private def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val dotc = graft.functions.Vectors.dot(col("v"), col("cv"))
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), dotc.as("cdot"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cid"), col("v")),
        struct(col("cdot"), (lit(IVF_C) - col("cid")).as("inv"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.v").as("v"))
  }

  /** Per-query probed cells: one (qid, qv, cid) row per probe. */
  private def ivfProbes(emb: DataFrame, cents: DataFrame,
                        nprobe: Int): DataFrame = {
    val dotc = graft.functions.Vectors.dot(col("v"), col("cv"))
    val probeK = udaf(new graft.functions.TopKByScore(nprobe))
    emb.filter(col("vec_id") < 5).crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), dotc.as("cdot"))
      .groupBy("vec_id")
      .agg(any_value(col("v")).as("qv"), probeK(col("cid"), col("cdot")).as("cells"))
      .select(col("vec_id").as("qid"), col("qv"),
        explode(col("cells._1")).as("cid"))
  }

  private[graft] def ivfTopk(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val emb = ivfEmb(s, dir)
    val cents = ivfCents(emb)
    val d = ivfAssign(emb, cents).filter(col("vec_id") >= 5)
    val q = ivfProbes(emb, cents, nprobe)
    val dot = graft.functions.Vectors.dot(col("qv"), col("v"))
    Rerank.topK(
      d.join(broadcast(q), Seq("cid"))
        .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
  }

  /** IVF nprobe recall sweep — the index-tuning table for the coarse
    * quantizer: recall@10 of [[ivfTopk]] against the exact brute-force
    * top-10 at nprobe ∈ {1, 2, 4, 8} (8 = all cells ⟹ recall 1000 by
    * construction — the self-check row). The corpus assignment is
    * computed ONCE and checkpointed (it is nprobe-independent); each
    * sweep leg only re-derives the ≤ 5·nprobe-row probe frame and the
    * O(k) rerank, so the sweep costs one assignment plus four cheap
    * legs, not four full IVF runs. Single-row folds per leg (the recall-
    * audit shape), unioned. */
  def simRecallVsNprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = ivfEmb(s, dir)
    val cents = ivfCents(emb)
    val d = ivfAssign(emb, cents).filter(col("vec_id") >= 5)
      .transform(graft.Ckpt.capped) // shared by all four sweep legs
    val exact = TextQueries.simCosineTopk(s, dir).select("qid", "vec_id")
      .transform(graft.Ckpt.capped)
    val dot = graft.functions.Vectors.dot(col("qv"), col("v"))
    Seq(1, 2, 4, 8).map { np =>
      val q = ivfProbes(emb, cents, np)
      val approx = Rerank.topK(
        d.join(broadcast(q), Seq("cid"))
          .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
        .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("qid", "vec_id"), "left_outer")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_exact"), col("hits"),
          expr("hits * 1000 div n_exact").as("recall_milli"))
    }.reduce(_ unionByName _)
  }

  private val NPROBE_SWEEP_SQL = {
    val legs = Seq(1, 2, 4, 8).map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits,
         |  CAST(SUM(CASE WHEN a.qid IS NOT NULL THEN 1 ELSE 0 END) * 1000
         |    // COUNT(*) AS BIGINT) AS recall_milli
         |FROM exact x LEFT JOIN (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, d.vec_id,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY list_dot_product(q.qv, d.v) DESC, d.vec_id)
         |        AS BIGINT) AS rank
         |    FROM (SELECT p.vec_id AS qid, e.v AS qv, p.cid
         |          FROM (SELECT vec_id, cid FROM rn
         |                WHERE rn <= $np AND vec_id < 5) p
         |          JOIN e ON p.vec_id = e.vec_id) q
         |    JOIN d USING (cid)) WHERE rank <= 10) a
         |  ON a.qid = x.qid AND a.vec_id = x.vec_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, cid, list_dot_product(v, cv) AS cdot
       |           FROM e CROSS JOIN c),
       |rn AS MATERIALIZED (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cid) AS rn
       |  FROM scored),
       |d AS MATERIALIZED (
       |  SELECT a.vec_id, e.v, a.cid
       |  FROM (SELECT vec_id, cid FROM rn WHERE rn = 1) a
       |  JOIN e USING (vec_id) WHERE a.vec_id >= 5),
       |exact AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.vec_id AS qid, t.vec_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, t.v) DESC, t.vec_id)
       |        AS BIGINT) AS rank
       |    FROM (SELECT * FROM e WHERE vec_id < 5) q
       |    CROSS JOIN (SELECT * FROM e WHERE vec_id >= 5) t)
       |  WHERE rank <= 10)
       |$legs""".stripMargin
  }

  /** IVF-PQ with asymmetric-distance (ADC) scoring — the PRODUCTION ANN
    * stack assembled from the board's parts: coarse quantizer
    * ([[ivfAssign]], nprobe = 2 probes) prunes the corpus to ~nprobe/C,
    * each surviving candidate scores against the query through its
    * 16-bit product-quantization code (the [[Analytics.simPqQuantize]]
    * codebook — digit = argmin subspace L2², ADC = Σ_sub ⟨q_sub,
    * codebook[digit]_sub⟩, all exact 2^-40 fixed-point BIGINTs ≤ 2^46 so
    * the Double ordering through TopKByScore is exact), the top-20 ADC
    * shortlist reranks with TRUE dots, top-10 out. The PQ digits are
    * recomputed inline as a pure codegen projection (the stored-codes
    * equivalent with zero extra shuffle — no corpus-sized code-table
    * join); the 10-row probe frame broadcasts, so the corpus moves only
    * through the assignment aggregate and the two O(k)-per-query rerank
    * aggregates. */
  def simIvfpqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = ivfEmb(s, dir)
    val cents = ivfCents(emb)
    val fixed = Analytics.pqFixed(s, dir)
    val seeds = Analytics.pqSeeds(fixed)
    val qq = ivfProbes(emb, cents, 2)
      .join(broadcast(fixed.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid") +:
          (0 until 64).map(i => col(s"x$i").as(s"qx$i")): _*)), Seq("qid"))
    val cand = ivfAssign(emb, cents).filter(col("vec_id") >= 5)
      .join(broadcast(qq.drop("qv")), Seq("cid"))
    // candidate-side fixed-point coords, then per-subspace digit + the
    // query⋅codebook partial — one unrolled codegen projection. The
    // argmin is LINEARIZED: d²_k = Σdx² − (2⟨dx,s_k⟩ − ‖s_k‖²) with the
    // Σdx² term shared across codes, so argmin d² ≡ argmax of the
    // bracket — 8 products per code instead of squared deltas, no dx
    // squares, exact integers (ties at equal d² are ties at equal
    // bracket, so the k-ascending tie-break is unchanged). The winning
    // code's query⋅codebook partial rides INSIDE the argmin struct
    // (third field — k is distinct so it never orders), so the whole
    // selection is ONE least() per subspace, not a when-chain that
    // re-evaluates the tree per code (the when-chain variant measured
    // 3.4 s at sf0.1; this shape 1.9 s ≈ pq_quantize + ivf + the two
    // rerank aggregates — the CollapseProject duplication class from
    // CLAUDE.md).
    val dx = (0 until 64).map(i =>
      expr(s"cast(floor(cast(v[$i] as double) * 1048576) as bigint)"))
    val adc = (0 until 8).map { c =>
      least((0 until 4).map { k =>
        val negScore = (0 until 8).map { i =>
          dx(c * 8 + i) * lit(-2L * seeds(k)(c * 8 + i))
        }.reduce(_ + _) +
          lit((0 until 8).map(i => seeds(k)(c * 8 + i))
            .map(x => x * x).sum)
        val qdotc = (0 until 8)
          .map(i => col(s"qx${c * 8 + i}") * lit(seeds(k)(c * 8 + i)))
          .reduce(_ + _)
        struct(negScore.as("ns"), lit(k.toLong).as("k"), qdotc.as("q"))
      }: _*).getField("q")
    }.reduce(_ + _)
    val short = Rerank.topK(
      cand.select(col("qid"), col("vec_id"), adc.cast("double").as("dot")), 20)
      .select("qid", "vec_id")
    val dot = graft.functions.Vectors.dot(col("qv"), col("v"))
    Rerank.topK(
      emb.join(broadcast(short), Seq("vec_id"))
        .join(broadcast(emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))), Seq("qid"))
        .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
  }

  /** Exact convex-hull range area (hull sibling of range_bbox);
    * <3 points → NULL area + the reference's explanatory note
    * (transforms.py:915-921). Full DuckDB oracle via the hull-edge
    * characterization (see oracle below). */
  def rangeConvexHull(s: SparkSession, dir: String): DataFrame = {
    val hullArea = udaf(new ConvexHullAreaKm2())
    DomainQueries.valid(s, dir)
      .groupBy("species")
      .agg(count(lit(1)).as("n_points"),
        hullArea(col("lon"), col("lat")).as("raw"))
      .select(col("species"), col("n_points"),
        when(col("raw") < 0, lit(null)).otherwise(round(col("raw"), 2)).as("area_km2"),
        when(col("raw") < 0, lit("Insufficient points for convex hull")).as("note"))
  }

  /** Document fingerprint via the native rolling_hash Expression. Full
    * DuckDB oracle: the mod-2^61-1 polynomial fold is exact integer
    * arithmetic both engines can replay (see oracle below). */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    register(s)
    t(s, dir, "documents")
      .select(col("doc_id"), expr("rolling_hash(text)").as("fp"))
  }

  /** True-BPE token counts via the native bpe_encode Expression (fixed
    * merge table, greedy lowest-rank fusion) next to the byte length —
    * the compression ratio is the curation signal (boilerplate compresses
    * hard, natural text less so). Codegen'd end to end; the greedy merge
    * loop is replayed per word in DuckDB as a recursive CTE (full hash
    * oracle), semantics also spec-tested in SketchSpec. */
  def textBpeTokens(s: SparkSession, dir: String): DataFrame = {
    register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr("size(bpe_encode(text))").cast("long").as("n_bpe"),
        octet_length(col("text")).cast("long").as("n_bytes"))
  }

  /** Tokenizer fertility per source — the budget planner's bridge
    * between corpus bytes and model tokens: BPE tokens per whitespace
    * word (a fertility near 1000 milli means the tokenizer treats the
    * source as in-distribution; boilerplate or unseen scripts fragment
    * into far more pieces) and bytes per BPE token, both exact floor
    * ratios over per-source sums. Token counts come from the SAME
    * native bpe_encode Expression as [[textBpeTokens]] (codegen'd,
    * scan-bound) and the oracle replays the identical greedy merges.
    * Plan: narrow projection + ONE |sources|-row partial aggregate. */
  def dataTokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    register(s)
    t(s, dir, "documents")
      .select(col("source"),
        expr("size(bpe_encode(text))").cast("long").as("nb"),
        size(split(col("text"), " ")).cast("long").as("nw"),
        octet_length(col("text")).cast("long").as("nbytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nb").as("n_bpe"),
        sum("nw").as("n_words"), sum("nbytes").as("n_bytes"))
      .select(col("source"), col("n_docs"), col("n_bpe"), col("n_words"),
        col("n_bytes"),
        expr("n_bpe * 1000 div n_words").as("fertility_milli"),
        expr("n_bytes * 1000 div n_bpe").as("bytes_per_token_milli"))
  }

  /** Content-defined chunking over documents via the native cdc_chunks
    * Expression: variable-size chunks whose boundaries follow content
    * (rolling-hash ≡ 0 mod 64 over a 16-byte window), the primitive under
    * chunk-level dedup that stays robust to insertions. Empty documents
    * are dropped on both sides (no chunkable content). Chunk lengths ride
    * as an exact-integer CSV so the driver's pandas compare can sort the
    * rows. */
  def textCdcChunks(s: SparkSession, dir: String): DataFrame = {
    register(s)
    t(s, dir, "documents")
      .where(octet_length(col("text")) > 0)
      .select(col("doc_id"), expr("cdc_chunks(text)").as("ls"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_chunks"),
        array_join(col("ls"), ",").as("chunks_csv"))
  }

  /** Bloom-filter join gate — the runtime-filter primitive a 100 TB join
    * leans on: build a 65536-bit / k=3 Bloom filter over the small side's
    * key set (urgent orders), probe the big side's keys (lineitem FKs)
    * against the BROADCAST filter, and report per key whether the bloom
    * passes it alongside ground truth — bloom_pass must cover every
    * actual member (no false negatives, the Bloom guarantee) while false
    * positives stay at the designed ~0.2% (n≈3k keys → 13% fill,
    * 0.13³). At scale the gate prunes the big side BEFORE the shuffle
    * the way Spark's own runtime bloom does, but as an explicit,
    * composable operator (e.g. in front of a multi-stage dedup probe).
    *
    * Deterministic cross-engine: positions are three 16-bit slices of
    * the 60-bit md5-prefix hash (the q17/shards discipline), the filter
    * is 2048 32-bit words built with bit_or aggregates — saturation-free
    * BIGINT arithmetic both engines replay exactly. Plan: member + probe
    * key sets partial-aggregate map-side; the 2048-word filter
    * broadcasts; one bool_and aggregate per probe key. */
  def dataBloomGate(s: SparkSession, dir: String): DataFrame = {
    def h60(k: String) =
      s"cast(conv(substring(md5(cast(cast($k as string) as binary)), 1, 15), 16, 10) as bigint)"
    val members = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("mkey")).distinct()
    def positions(df: DataFrame, key: String): DataFrame = df
      .select(col(key), expr(h60(key)).as("h"))
      .select(col(key), explode(array((0 until 3).map(i =>
        expr(s"shiftright(h, ${i * 16}) & 65535")): _*)).as("p"))
    val filt = positions(members, "mkey")
      .select(expr("p div 32").as("w"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits")) // ≤ 2048 rows
    val probe = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey")).distinct()
    positions(probe, "okey")
      .select(col("okey"), expr("p div 32").as("w"),
        expr("shiftleft(1L, cast(p % 32 as int))").as("b"))
      .join(broadcast(filt), Seq("w"), "left_outer")
      .select(col("okey"),
        (coalesce(col("bits"), lit(0L)).bitwiseAND(col("b")) =!= 0L).as("hit"))
      .groupBy("okey").agg(expr("bool_and(hit)").as("bloom_pass"))
      .join(members, col("okey") === col("mkey"), "left_outer")
      .select(col("okey"), col("bloom_pass"), col("mkey").isNotNull.as("actual"))
  }

  private val BLOOM_SQL =
    """WITH mem AS (
      |  SELECT DISTINCT o_orderkey AS mkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'),
      |mpos AS (
      |  SELECT ((('0x' || substr(md5(CAST(mkey AS VARCHAR)), 1, 15))::BIGINT
      |           >> (16 * i)) & 65535) AS p
      |  FROM mem CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) ti),
      |filt AS (
      |  SELECT p // 32 AS w, bit_or(CAST(1 AS BIGINT) << (p % 32)) AS bits
      |  FROM mpos GROUP BY 1),
      |prob AS (SELECT DISTINCT l_orderkey AS okey FROM lineitem),
      |ppos AS (
      |  SELECT okey,
      |    ((('0x' || substr(md5(CAST(okey AS VARCHAR)), 1, 15))::BIGINT
      |      >> (16 * i)) & 65535) AS p
      |  FROM prob CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) ti),
      |chk AS (
      |  SELECT okey,
      |    (COALESCE(f.bits, 0) & (CAST(1 AS BIGINT) << (p % 32))) <> 0 AS hit
      |  FROM ppos LEFT JOIN filt f ON f.w = ppos.p // 32),
      |pass AS (SELECT okey, bool_and(hit) AS bloom_pass FROM chk GROUP BY okey)
      |SELECT c.okey, c.bloom_pass, (m.mkey IS NOT NULL) AS actual
      |FROM pass c LEFT JOIN mem m ON m.mkey = c.okey""".stripMargin

  /** Chapman capture–recapture estimate of the TRUE near-dup pair
    * population from two independent-signal detectors — the coverage
    * audit no single detector can run on itself: detector A = simhash
    * pairs (bit-majority profile), detector B = winnowing fingerprint
    * pairs (selected k-gram hashes). With |A|, |B| and the overlap m,
    * N̂ = (|A|+1)(|B|+1) div (m+1) − 1 (the bias-corrected Chapman
    * form — exact integer), and each detector's estimated recall is
    * |·|·1000 div N̂. A subset relationship (m = min) collapses N̂ to
    * the larger set — the estimator tells you when your "two"
    * detectors are really one. Plan: both pair pipelines run once,
    * union with membership flags, ONE (pair) dedup exchange, 1-row
    * fold. */
  def dedupCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val a = dedupSimhash(s, dir)
      .select(col("doc1"), col("doc2"),
        lit(1L).as("ia"), lit(0L).as("ib"))
    val b = dedupWinnowPairs(s, dir)
      .select(col("doc1"), col("doc2"),
        lit(0L).as("ia"), lit(1L).as("ib"))
    a.unionByName(b)
      .groupBy("doc1", "doc2")
      .agg(max("ia").as("in_a"), max("ib").as("in_b"))
      .agg(sum("in_a").as("n_a"), sum("in_b").as("n_b"),
        sum(expr("in_a * in_b")).as("n_both"))
      .withColumn("chapman_total",
        expr("(n_a + 1) * (n_b + 1) div (n_both + 1) - 1"))
      .withColumn("recall_a_milli",
        expr("n_a * 1000 div greatest(chapman_total, 1L)"))
      .withColumn("recall_b_milli",
        expr("n_b * 1000 div greatest(chapman_total, 1L)"))
  }

  private lazy val CAPTURE_SQL: String =
    s"""WITH aa AS (SELECT * FROM (${oracleBase("dedup_simhash")})),
       |bb AS (SELECT * FROM (${oracleBase("dedup_winnow_pairs")})),
       |u AS (SELECT doc1, doc2, 1 AS ia, 0 AS ib FROM aa
       |      UNION ALL SELECT doc1, doc2, 0 AS ia, 1 AS ib FROM bb),
       |g AS (SELECT doc1, doc2, MAX(ia) AS in_a, MAX(ib) AS in_b
       |      FROM u GROUP BY 1, 2),
       |tt AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
       |         CAST(SUM(in_b) AS BIGINT) AS n_b,
       |         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
       |       FROM g),
       |ch AS (SELECT n_a, n_b, n_both,
       |         (n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS chapman_total
       |       FROM tt)
       |SELECT n_a, n_b, n_both, chapman_total,
       |  n_a * 1000 // GREATEST(chapman_total, 1) AS recall_a_milli,
       |  n_b * 1000 // GREATEST(chapman_total, 1) AS recall_b_milli
       |FROM ch""".stripMargin

  /** Reciprocity of the directed k-NN graph — the mutual-neighbor share
    * next to [[simKnnGraph]]'s edges and the hubness audit's degree
    * Gini: an edge q→v is MUTUAL when v→q also survived the top-5 cut.
    * Mutual-kNN is what density clusterers and kNN-graph community
    * methods actually keep, so low reciprocity means the graph is
    * mostly hub artifacts (the high-dimensional pathology) and a
    * mutual-kNN prune would empty it. One self-join of the checkpointed
    * edge relation against its own reversal, 1-row fold. */
  def graphKnnReciprocity(s: SparkSession, dir: String): DataFrame = {
    val e = simKnnGraph(s, dir)
      .select(col("qid").as("src"), col("vec_id").as("dst"))
      .transform(graft.Ckpt.capped)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("m", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("m"), lit(0L))).as("n_mutual"))
      .withColumn("reciprocity_milli",
        expr("n_mutual * 1000 div greatest(n_edges, 1L)"))
  }

  private lazy val KNN_RECIP_SQL: String =
    s"""WITH e AS (SELECT qid AS src, vec_id AS dst FROM ($KNN_GRAPH_SQL)),
       |mm AS (SELECT e.src, e.dst,
       |         CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS m
       |       FROM e LEFT JOIN (SELECT dst AS src, src AS dst FROM e) r
       |         ON e.src = r.src AND e.dst = r.dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       |  CAST(SUM(m) AS BIGINT) AS n_mutual,
       |  CAST(SUM(m) AS BIGINT) * 1000
       |    // GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS reciprocity_milli
       |FROM mm""".stripMargin

  val queries: Map[String, Q] = Map(
    "graph_knn_reciprocity" -> (graphKnnReciprocity _),
    "dedup_capture_recapture" -> (dedupCaptureRecapture _),
    "data_bloom_gate" -> (dataBloomGate _),
    "text_cdc_chunks" -> (textCdcChunks _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_lsh_recall_audit" -> (dedupLshRecallAudit _),
    "dedup_simhash" -> (dedupSimhash _),
    "sim_lsh_topk" -> (simLshTopk _),
    "sim_ann_recall_audit" -> (simAnnRecallAudit _),
    "sim_bucket_audit" -> (simBucketAudit _),
    "sim_ivf_topk" -> (ivfTopk _),
    "sim_ivfpq_topk" -> (simIvfpqTopk _),
    "sim_knn_graph" -> (simKnnGraph _),
    "sim_graph_search_recall" -> (simGraphSearchRecall _),
    "sim_threshold_sweep" -> (simThresholdSweep _),
    "text_winnowing" -> (textWinnowing _),
    "dedup_winnow_pairs" -> (dedupWinnowPairs _),
    "range_convex_hull" -> (rangeConvexHull _),
    "text_fingerprint" -> (textFingerprint _),
    "text_bpe_tokens" -> (textBpeTokens _),
    "data_tokenizer_fertility" -> (dataTokenizerFertility _),
    "sim_recall_vs_nprobe" -> (simRecallVsNprobe _))

  /** The md5+xor family makes the whole MinHash+LSH pipeline — signature,
    * band candidates, estimate, threshold — recomputable in DuckDB. The
    * oracle long-forms the signature as (doc_id, seed_i, min) rows and
    * rebuilds band keys with the same '_'-concatenation, so candidate
    * generation (not just the final estimate) is cross-checked. */
  /** Greedy-BPE fuse step as SQL: the candidate list maps each adjacent
    * token pair to its merged id via the packed literal merge table
    * (generated from BpeEncode.Merges — cannot drift); `list_position`
    * needs the `> 0` guard because DuckDB 1.0 returns 0, not NULL, for
    * absent elements. */
  private val bpeCand: String = {
    val keys = graft.functions.BpeEncode.packedKeys.mkString("[", ",", "]")
    s"""list_transform(generate_series(1, len(ids) - 1),
       |      i -> CASE WHEN list_position($keys, ids[i] * 1024 + ids[i+1]) > 0
       |                THEN 255 + list_position($keys, ids[i] * 1024 + ids[i+1]) END)""".stripMargin
  }

  /** `hex(encode(text)) AS hx` → list of byte values: the shared decode
    * idiom of every byte-level oracle (cdc/bpe/fingerprint) — ONE
    * definition so the sites cannot drift (same discipline as bpeCand /
    * BpeEncode.packedKeys). `cast` picks the element type (HUGEINT when
    * the fold multiplies past 64 bits, BIGINT otherwise). */
  private def hexByteList(cast: String): String =
    s"""list_transform(generate_series(0, CAST(len(hx) // 2 - 1 AS BIGINT)),
       |      i -> CAST((strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) * 16
       |              + (strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1) AS $cast))""".stripMargin

  /** Shared LSH bucket-assignment CTEs (e / d / bkt) and the bucketed
    * top-k oracle built on them — ONE definition so the topk,
    * occupancy-audit and recall-audit oracles cannot drift apart (the
    * GRAM5_CTE discipline). */
  private val LSH_BKT_CTES =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |d AS (SELECT e.vec_id, p,
      |        list_dot_product(v, list_transform(generate_series(0, 63),
      |          j -> CAST((p * 131 + j * 31) % 19 - 9 AS DOUBLE))) AS dp
      |      FROM e CROSS JOIN generate_series(0, 5) t(p)),
      |bkt AS (SELECT vec_id,
      |          CAST(SUM(CASE WHEN dp > 0 THEN (1::BIGINT << (5 - p)) ELSE 0 END)
      |            AS BIGINT) AS bucket
      |        FROM d GROUP BY vec_id)""".stripMargin

  private val LSH_TOPK_SQL =
    s"""WITH $LSH_BKT_CTES,
      |q AS (SELECT vec_id AS qid, v AS qv, bucket
      |      FROM e JOIN bkt USING (vec_id) WHERE vec_id < 5),
      |dd AS (SELECT vec_id, v, bucket
      |       FROM e JOIN bkt USING (vec_id) WHERE vec_id >= 5),
      |sims AS (SELECT qid, dd.vec_id, list_dot_product(qv, v) AS dot
      |         FROM q JOIN dd USING (bucket))
      |SELECT qid, vec_id, dot, rank FROM (
      |  SELECT qid, vec_id, dot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
      |      AS BIGINT) AS rank
      |  FROM sims) WHERE rank <= 10""".stripMargin

  /** The k-NN graph replay (bucketed dot top-5), shared by the
    * sim_knn_graph oracle, the threshold sweep, and the graph-family
    * oracles in [[Graphs]]. */
  private lazy val KNN_GRAPH_SQL: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |d AS (SELECT e.vec_id, p,
      |        list_dot_product(v, list_transform(generate_series(0, 63),
      |          j -> CAST((p * 131 + j * 31) % 19 - 9 AS DOUBLE))) AS dp
      |      FROM e CROSS JOIN generate_series(0, 5) t(p)),
      |bkt AS (SELECT vec_id,
      |          CAST(SUM(CASE WHEN dp > 0 THEN (1::BIGINT << (5 - p)) ELSE 0 END)
      |            AS BIGINT) AS bucket
      |        FROM d GROUP BY vec_id),
      |eb AS (SELECT e.vec_id, v, bucket FROM e JOIN bkt USING (vec_id)
      |       WHERE bucket IN (SELECT bucket FROM bkt
      |                        GROUP BY bucket HAVING COUNT(*) <= 4096)),
      |sims AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id,
      |           list_dot_product(a.v, b.v) AS dot
      |         FROM eb a JOIN eb b
      |           ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
      |SELECT qid, vec_id, dot, rank FROM (
      |  SELECT qid, vec_id, dot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
      |      AS BIGINT) AS rank
      |  FROM sims) WHERE rank <= 5""".stripMargin

  /** The greedy BPE merge replay (recursive CTE over per-word id lists),
    * shared by the text_bpe_tokens oracle and the fertility rollup. */
  private lazy val BPE_TOKENS_SQL: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT doc_id, generate_subscripts(str_split(text, ' '), 1) AS wi,
       |         unnest(str_split(text, ' ')) AS word
       |  FROM documents),
       |sp AS (SELECT doc_id, len(str_split(text, ' ')) - 1 AS n_sp,
       |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
       |init AS (
       |  SELECT doc_id, wi,
       |    ${hexByteList("BIGINT")} AS ids
       |  FROM (SELECT doc_id, wi, hex(encode(word)) AS hx FROM w WHERE word <> '')),
       |merged AS (
       |  SELECT doc_id, wi, ids FROM init
       |  UNION ALL
       |  SELECT doc_id, wi, ids[:p-1] || [b] || ids[p+2:] AS ids
       |  FROM (SELECT doc_id, wi, ids, list_min(cand) AS b,
       |               list_position(cand, list_min(cand)) AS p
       |        FROM (SELECT doc_id, wi, ids, $bpeCand AS cand FROM merged))
       |  WHERE b IS NOT NULL),
       |fin AS (
       |  SELECT doc_id, wi, len(ids) AS n
       |  FROM (SELECT doc_id, wi, ids, $bpeCand AS cand FROM merged)
       |  WHERE list_min(cand) IS NULL),
       |wsum AS (SELECT doc_id, CAST(COALESCE(SUM(n), 0) AS BIGINT) AS nw
       |         FROM fin GROUP BY doc_id)
       |SELECT s.doc_id, CAST(COALESCE(w2.nw, 0) + s.n_sp AS BIGINT) AS n_bpe, s.n_bytes
       |FROM sp s LEFT JOIN wsum w2 ON s.doc_id = w2.doc_id""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "sim_recall_vs_nprobe" -> NPROBE_SWEEP_SQL,
    "data_bloom_gate" -> BLOOM_SQL,
    // Every window hash is replayed INDEPENDENTLY (list_reduce over the
    // 16-byte slice) — by construction equal to the kernel's rolling
    // subtract-the-outgoing-byte recurrence, all in exact integer space.
    // The W and boundary constants come from CdcChunks so they cannot
    // drift from the Expression.
    "text_cdc_chunks" -> {
      val w = graft.functions.CdcChunks.W
      val div = graft.functions.CdcChunks.Mask + 1
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         |bs AS (SELECT doc_id,
         |    ${hexByteList("HUGEINT")} AS bs
         |  FROM b),
         |e AS (SELECT doc_id, bs, len(bs) AS n,
         |    list_filter(generate_series($w, len(bs)), e ->
         |      list_reduce(list_prepend(CAST(0 AS HUGEINT), bs[e-${w - 1}:e]),
         |        (h, x) -> (h * 31 + x) % 2305843009213693951) % $div = 0) AS ends0
         |  FROM bs),
         |ae AS (SELECT doc_id, n,
         |    CASE WHEN len(ends0) > 0 AND ends0[-1] = n THEN ends0 ELSE ends0 || [n] END AS ends
         |  FROM e WHERE n > 0),
         |lens AS (SELECT doc_id,
         |    list_transform(generate_series(1, len(ends)),
         |      i -> ends[i] - COALESCE(ends[i-1], 0)) AS ls
         |  FROM ae)
         |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_chunks,
         |  array_to_string(ls, ',') AS chunks_csv
         |FROM lens""".stripMargin
    },
    // The greedy lowest-rank-first merge loop is replayed per word as a
    // recursive CTE over token-id lists: each step fuses the leftmost
    // occurrence of the minimal mergeable pair (list_min + list_position
    // mirror `hit < bestId` keeping the first hit), terminal states are
    // the rows with no mergeable pair, and spaces (byte 32) re-enter as
    // len(split)-1 singleton tokens exactly like the kernel emits them.
    "text_bpe_tokens" -> BPE_TOKENS_SQL,
    "data_tokenizer_fertility" ->
      // the BPE replay nests as a derived table; words/bytes re-derive
      // from documents so the per-source sums share one scan
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(b.n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(SUM(len(str_split(d.text, ' '))) AS BIGINT) AS n_words,
         |  CAST(SUM(octet_length(encode(d.text))) AS BIGINT) AS n_bytes,
         |  CAST(SUM(b.n_bpe) * 1000
         |    // SUM(len(str_split(d.text, ' '))) AS BIGINT) AS fertility_milli,
         |  CAST(SUM(octet_length(encode(d.text))) * 1000
         |    // SUM(b.n_bpe) AS BIGINT) AS bytes_per_token_milli
         |FROM ($BPE_TOKENS_SQL) b JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // The polynomial rolling hash h = (h*31 + byte) mod 2^61-1 is exact
    // integer arithmetic: DuckDB replays it over the UTF-8 bytes (via the
    // hex encoding) in HUGEINT space with list_reduce — h*31+b < 2^66
    // never overflows int128, and the prepended 0 seeds the fold so empty
    // documents hash to 0 exactly like RollingHash.hashBytes.
    "text_fingerprint" ->
      s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         |bytes AS (
         |  SELECT doc_id,
         |    ${hexByteList("HUGEINT")} AS bs
         |  FROM b)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), bs),
         |       (h, x) -> (h * 31 + x) % 2305843009213693951) AS BIGINT) AS fp
         |FROM bytes""".stripMargin,
    // Hull-edge characterization instead of a hull walk: a directed pair
    // (p,q) is a ccw hull edge iff every other point is strictly left of
    // p→q, or collinear and strictly inside the segment (so three
    // collinear boundary points contribute ONE spanning edge, exactly
    // what the strict monotone chain keeps). The shoelace term sum over
    // the edge SET is order-independent as a set aggregate; the ~1e-9 km²
    // double noise is absorbed by ROUND(_, 2), legal here because the
    // EPSG:6933 projection (sin/radians) is irrational. Cross-checked
    // against a Python mirror of ConvexHullAreaKm2 on all 50 sf0.01
    // groups before landing. Degenerate groups (2 distinct points, or
    // ≥3 all-collinear) keep the spanning edge in BOTH directions so the
    // shoelace sum cancels to exactly 0 — mapped to NULL + note below,
    // matching the aggregator's -1 sentinel (a genuine hull's area is
    // always > 0 at coordinate-grid scale).
    // Scale ceiling: the edge test is O(n³) per group, so `pts` applies
    // the Akl–Toussaint prefilter first — a point STRICTLY inside either
    // quadrilateral of directional extreme POINTS (axis extremes W/S/E/N,
    // diagonal extremes SW/SE/NE/NW, each via a single list-valued
    // arg-extreme so ties can't mix coordinates across rows; any
    // data-point quad is ⊆ the hull) is strictly interior to the hull,
    // so it is never a hull vertex, and every non-edge pair keeps a
    // surviving witness (the support point of any strictly-right
    // direction is a hull vertex; a collinear-only witness line supports
    // the hull, so its points are boundary and both survive). "Strictly
    // inside" = strictly left of all four ccw edges; degenerate/
    // collinear quads only make cross terms 0, i.e. the filter keeps
    // MORE points — every failure mode is conservative. Edge set is
    // EXACTLY unchanged (checked value-identical at sf0.01 AND sf0.1);
    // the cubic test runs on the O(rim) surviving points per group:
    // 157 s → 2.7 s at sf0.1, so the oracle stays tractable at larger
    // gate scales.
    "range_convex_hull" ->
      ("WITH " + DomainQueries.OCC_SQL + ",\n" + DomainQueries.VALID_SQL + ",\n" +
        """pts0 AS (SELECT DISTINCT species, lon, lat FROM valid),
          |cnt AS (SELECT species, CAST(COUNT(*) AS BIGINT) AS n_points
          |        FROM valid GROUP BY species),
          |ext AS (SELECT species,
          |          ARG_MIN([lon, lat], lon) AS w, ARG_MAX([lon, lat], lon) AS e2,
          |          ARG_MIN([lon, lat], lat) AS s, ARG_MAX([lon, lat], lat) AS n,
          |          ARG_MIN([lon, lat], lon + lat) AS sw, ARG_MAX([lon, lat], lon - lat) AS se,
          |          ARG_MAX([lon, lat], lon + lat) AS ne, ARG_MIN([lon, lat], lon - lat) AS nw
          |        FROM pts0 GROUP BY species),
          |pts AS (
          |  SELECT p.species, p.lon, p.lat
          |  FROM pts0 p JOIN ext x USING (species)
          |  WHERE NOT (
          |        (x.s[1]-x.w[1])*(p.lat-x.w[2]) - (x.s[2]-x.w[2])*(p.lon-x.w[1]) > 0
          |    AND (x.e2[1]-x.s[1])*(p.lat-x.s[2]) - (x.e2[2]-x.s[2])*(p.lon-x.s[1]) > 0
          |    AND (x.n[1]-x.e2[1])*(p.lat-x.e2[2]) - (x.n[2]-x.e2[2])*(p.lon-x.e2[1]) > 0
          |    AND (x.w[1]-x.n[1])*(p.lat-x.n[2]) - (x.w[2]-x.n[2])*(p.lon-x.n[1]) > 0)
          |  AND NOT (
          |        (x.se[1]-x.sw[1])*(p.lat-x.sw[2]) - (x.se[2]-x.sw[2])*(p.lon-x.sw[1]) > 0
          |    AND (x.ne[1]-x.se[1])*(p.lat-x.se[2]) - (x.ne[2]-x.se[2])*(p.lon-x.se[1]) > 0
          |    AND (x.nw[1]-x.ne[1])*(p.lat-x.ne[2]) - (x.nw[2]-x.ne[2])*(p.lon-x.ne[1]) > 0
          |    AND (x.sw[1]-x.nw[1])*(p.lat-x.nw[2]) - (x.sw[2]-x.nw[2])*(p.lon-x.nw[1]) > 0)),
          |edges AS (
          |  SELECT p.species, p.lon AS px, p.lat AS py, q.lon AS qx, q.lat AS qy
          |  FROM pts p JOIN pts q ON p.species = q.species
          |    AND NOT (p.lon = q.lon AND p.lat = q.lat)
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM pts r
          |    WHERE r.species = p.species
          |      AND NOT (r.lon = p.lon AND r.lat = p.lat)
          |      AND NOT (r.lon = q.lon AND r.lat = q.lat)
          |      AND ((q.lon - p.lon) * (r.lat - p.lat) - (q.lat - p.lat) * (r.lon - p.lon) < 0
          |        OR ((q.lon - p.lon) * (r.lat - p.lat) - (q.lat - p.lat) * (r.lon - p.lon) = 0
          |            AND NOT ((r.lon - p.lon) * (q.lon - p.lon) + (r.lat - p.lat) * (q.lat - p.lat) > 0
          |                 AND (r.lon - p.lon) * (q.lon - p.lon) + (r.lat - p.lat) * (q.lat - p.lat)
          |                     < (q.lon - p.lon) * (q.lon - p.lon) + (q.lat - p.lat) * (q.lat - p.lat)))))),
          |area AS (
          |  SELECT species,
          |    ABS(SUM( (CAST(6378137 AS DOUBLE) * radians(px) * cos(radians(CAST(30 AS DOUBLE))))
          |           * (CAST(6378137 AS DOUBLE) * sin(radians(qy)) / cos(radians(CAST(30 AS DOUBLE))))
          |           - (CAST(6378137 AS DOUBLE) * radians(qx) * cos(radians(CAST(30 AS DOUBLE))))
          |           * (CAST(6378137 AS DOUBLE) * sin(radians(py)) / cos(radians(CAST(30 AS DOUBLE)))) ))
          |      / 2 / CAST(1000000 AS DOUBLE) AS raw
          |  FROM edges GROUP BY species)
          |SELECT c.species, c.n_points,
          |  CASE WHEN a.raw > 0 THEN ROUND(a.raw, 2) END AS area_km2,
          |  CASE WHEN a.raw IS NULL OR a.raw = 0
          |       THEN 'Insufficient points for convex hull' END AS note
          |FROM cnt c LEFT JOIN area a USING (species)""".stripMargin),
    "sim_knn_graph" -> KNN_GRAPH_SQL,
    "sim_graph_search_recall" -> GRAPH_SEARCH_SQL,
    "sim_threshold_sweep" -> {
      val knnSql = KNN_GRAPH_SQL
      s"""WITH knn AS ($knnSql),
         |pr AS (SELECT LEAST(qid, vec_id) AS a, GREATEST(qid, vec_id) AS b,
         |         CAST(FLOOR(MAX(dot) * 1048576) AS BIGINT) AS dot_fp
         |       FROM knn GROUP BY 1, 2),
         |sw AS (SELECT a, b, dot_fp, t
         |       FROM pr CROSS JOIN generate_series(0, 9) g(t)
         |       WHERE dot_fp >= t * 1048576 // 10),
         |np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |       FROM sw GROUP BY 1),
         |nd AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
         |         SELECT DISTINCT t, unnest([a, b]) AS doc FROM sw)
         |       GROUP BY 1)
         |SELECT CAST(np.t * 100 AS BIGINT) AS thresh_milli, n_pairs, n_docs
         |FROM np JOIN nd ON nd.t = np.t""".stripMargin
    },
    "text_winnowing" ->
      s"""WITH $WINNOW_CTE
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(COUNT(DISTINCT m) AS BIGINT) AS n_fp,
        |  bit_xor(DISTINCT m) AS fp_xor
        |FROM f GROUP BY doc_id""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $WINNOW_CTE,
        |fps AS (SELECT DISTINCT doc_id, m FROM f),
        |keep AS (SELECT m FROM fps GROUP BY m
        |         HAVING COUNT(*) BETWEEN 2 AND $BAND_CUTOFF)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(COUNT(*) AS BIGINT) AS shared_fp
        |FROM fps a JOIN fps b ON a.m = b.m AND a.doc_id < b.doc_id
        |WHERE a.m IN (SELECT m FROM keep)
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "sim_lsh_topk" -> LSH_TOPK_SQL,
    "sim_bucket_audit" ->
      s"""WITH $LSH_BKT_CTES,
        |bs AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS sz FROM bkt GROUP BY bucket)
        |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS sz_bits,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(sz) AS BIGINT) AS n_vectors,
        |  MIN(sz) AS min_sz, MAX(sz) AS max_sz
        |FROM bs GROUP BY 1""".stripMargin,
    "sim_ann_recall_audit" -> {
      val exactSql = TextQueries.oracle("sim_cosine_topk")
      s"""WITH exact AS (SELECT qid, vec_id FROM ($exactSql)),
        |approx AS (SELECT qid, vec_id FROM ($LSH_TOPK_SQL)),
        |hit AS (SELECT e.qid, CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
        |        FROM exact e LEFT JOIN approx a
        |          ON e.qid = a.qid AND e.vec_id = a.vec_id)
        |SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |  CAST(SUM(hit) AS BIGINT) AS hits,
        |  CAST(SUM(hit) * 1000 // COUNT(*) AS BIGINT) AS recall_millis
        |FROM hit GROUP BY qid""".stripMargin
    },
    "sim_ivfpq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |f AS (SELECT vec_id,
        |        list_transform(generate_series(1, 64),
        |          j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)) AS x
        |      FROM embeddings),
        |sd AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1 AS k,
        |         x AS c
        |       FROM (SELECT vec_id, x,
        |               ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT AS h
        |             FROM f)
        |       ORDER BY h, vec_id LIMIT 4),
        |ct AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |rn AS (SELECT e.vec_id, cid,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
        |       FROM e CROSS JOIN ct),
        |asg AS (SELECT vec_id, cid FROM rn WHERE rn = 1 AND vec_id >= 5),
        |pr AS (SELECT vec_id AS qid, cid FROM rn WHERE rn <= 2 AND vec_id < 5),
        |cand AS (SELECT pr.qid, asg.vec_id FROM pr JOIN asg USING (cid)),
        |dsub AS (SELECT c.qid, c.vec_id, g.sub, sd.k,
        |           list_sum(list_transform(generate_series(1, 8),
        |             i -> (fx.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i])
        |                * (fx.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i]))) AS d2,
        |           list_sum(list_transform(generate_series(1, 8),
        |             i -> fq.x[g.sub * 8 + i] * sd.c[g.sub * 8 + i])) AS qdotc
        |         FROM cand c
        |         JOIN f fx ON fx.vec_id = c.vec_id
        |         JOIN f fq ON fq.vec_id = c.qid
        |         CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) g
        |         CROSS JOIN sd),
        |best AS (SELECT qid, vec_id, sub, qdotc,
        |           ROW_NUMBER() OVER (PARTITION BY qid, vec_id, sub
        |             ORDER BY d2, k) AS brn
        |         FROM dsub),
        |adc AS (SELECT qid, vec_id,
        |          CAST(SUM(CASE WHEN brn = 1 THEN qdotc END) AS BIGINT) AS adc
        |        FROM best GROUP BY qid, vec_id),
        |short AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS srn
        |    FROM adc) WHERE srn <= 20),
        |x AS (SELECT s.qid, s.vec_id, list_dot_product(eq.v, ed.v) AS dot
        |      FROM short s
        |      JOIN e eq ON eq.vec_id = s.qid
        |      JOIN e ed ON ed.vec_id = s.vec_id)
        |SELECT qid, vec_id, dot, rank FROM (
        |  SELECT qid, vec_id, dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
        |      AS BIGINT) AS rank
        |  FROM x) WHERE rank <= 10""".stripMargin,
    "sim_ivf_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |scored AS (SELECT e.vec_id, cid, list_dot_product(v, cv) AS cdot
        |           FROM e CROSS JOIN c),
        |rn AS (SELECT vec_id, cid,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdot DESC, cid) AS rn
        |       FROM scored),
        |assign AS (SELECT vec_id, cid FROM rn WHERE rn = 1),
        |d AS (SELECT a.vec_id, e.v, a.cid
        |      FROM assign a JOIN e USING (vec_id) WHERE a.vec_id >= 5),
        |q AS (SELECT p.vec_id AS qid, e.v AS qv, p.cid
        |      FROM (SELECT vec_id, cid FROM rn WHERE rn <= 2 AND vec_id < 5) p
        |      JOIN e ON p.vec_id = e.vec_id),
        |sims AS (SELECT qid, d.vec_id, list_dot_product(qv, v) AS dot
        |         FROM q JOIN d USING (cid))
        |SELECT qid, vec_id, dot, rank FROM (
        |  SELECT qid, vec_id, dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
        |      AS BIGINT) AS rank
        |  FROM sims) WHERE rank <= 10""".stripMargin,
    "dedup_simhash" ->
      """WITH tokw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tokw),
        |bits AS (
        |  SELECT doc_id, i,
        |    SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |  FROM h CROSS JOIN generate_series(0, 59) t(i) GROUP BY doc_id, i),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS fp
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, fp, b, (fp >> (15 * b)) & 32767 AS bv
        |  FROM fp CROSS JOIN generate_series(0, 3) t(b)),
        |bk AS (
        |  SELECT *, COUNT(*) OVER (PARTITION BY b, bv) AS k FROM bands)
        |SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2,
        |  CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        |FROM bk x JOIN bk y
        |  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
        |WHERE x.k <= 100 AND bit_count(xor(x.fp, y.fp)) <= 6""".stripMargin,
    "dedup_minhash_lsh" -> MINHASH_PAIR_SQL,
    "dedup_lsh_recall_audit" -> {
      val exactSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH exact AS (SELECT doc1, doc2 FROM ($exactSql)),
         |approx AS (SELECT doc1, doc2 FROM ($MINHASH_PAIR_SQL)),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact),
         |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM approx),
         |nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
         |       FROM exact e JOIN approx a USING (doc1, doc2))
         |SELECT n_exact, n_lsh, n_hit,
         |  CASE WHEN n_exact > 0
         |    THEN n_hit * 1000 // n_exact END AS recall_milli,
         |  CASE WHEN n_lsh > 0
         |    THEN n_hit * 1000 // n_lsh END AS precision_milli
         |FROM ne, na, nh""".stripMargin
    })

  private[operators] lazy val MINHASH_PAIR_SQL: String = {
      val seedRows = seeds.zipWithIndex
        .map { case (sv, i) => s"($i, $sv)" }.mkString(", ")
      s"""WITH sh AS (
         |  SELECT doc_id, ts[i] || '_' || ts[i+1] || '_' || ts[i+2] AS sh
         |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
         |        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
         |              FROM documents))),
         |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM sh),
         |seeds(i, sd) AS (VALUES $seedRows),
         |mins AS (SELECT doc_id, i, MIN(xor(h, sd)) AS m
         |         FROM hs CROSS JOIN seeds GROUP BY doc_id, i),
         |bandkeys AS (
         |  SELECT doc_id, i // 4 AS band,
         |    string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS bh
         |  FROM mins GROUP BY doc_id, i // 4),
         |bk AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY band, bh) AS k FROM bandkeys),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |  WHERE a.k <= 100)
         |SELECT c.doc1, c.doc2,
         |  CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST($K AS DOUBLE) AS est_jaccard
         |FROM cand c
         |JOIN mins ma ON ma.doc_id = c.doc1
         |JOIN mins mb ON mb.doc_id = c.doc2 AND mb.i = ma.i
         |GROUP BY c.doc1, c.doc2
         |HAVING CAST(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS DOUBLE)
         |  / CAST($K AS DOUBLE) >= 0.5""".stripMargin
  }

  val oracle: Map[String, String] = oracleBase +
    ("dedup_capture_recapture" -> CAPTURE_SQL) +
    ("graph_knn_reciprocity" -> KNN_RECIP_SQL)
}
