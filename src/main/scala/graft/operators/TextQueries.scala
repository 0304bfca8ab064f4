package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over `documents` / `embeddings`
  * (SURVEY.md §2c): dedup, near-dup, similarity search, text analysis.
  *
  * Scale posture: tokenization and scoring are narrow projections (fused by
  * codegen, no shuffle); exact dedup is one shuffle on the text hash;
  * near-dup uses an inverted-index self-join with document-frequency
  * pruning (the classic prefix-filter plan) so the candidate set stays
  * near-linear instead of |docs|²; brute-force cosine broadcasts the small
  * query side so the corpus is scanned exactly once with no shuffle.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private val TOKEN_RE = "[a-z0-9]+"

  private def tokens(c: Column): Column =
    regexp_extract_all(lower(c), lit(TOKEN_RE), lit(0))

  private val TOK_SQL =
    s"""tok AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    regexp_extract_all(lower(text), '$TOKEN_RE') AS ts
       |  FROM documents)""".stripMargin

  private def withSql(ctes: String*)(body: String): String =
    ctes.mkString("WITH ", ",\n", "\n") + body

  /** Token counting: whitespace-word tokens + a BPE-ish segmentation
    * (letter runs / single digits / single punctuation). */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
        .cast("long").as("n_bpeish"))

  /** Quality scoring: length saturation × type-token ratio. Pure-rational
    * double math — deliberately unrounded (SURVEY.md §4). */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    val nTok = size(ts).cast("long")
    val nDis = size(array_distinct(ts)).cast("long")
    t(s, dir, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"), nDis.as("n_distinct"))
      .withColumn("quality",
        when(col("n_tokens") > 0,
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) *
            (col("n_distinct").cast("double") / col("n_tokens")))
          .otherwise(0.0))
  }

  /** Quality-threshold survival curve — the curation dial [[textQuality]]
    * only scores: at each quality decile, how many documents and (more
    * importantly) how many TOKENS survive a "keep everything at or above
    * this bin" cut? The integer quality lattice q_milli =
    * least(nt,100)·10·nd div nt replays textQuality's
    * min(nt/100,1)·(nd/nt) signal without its float detour, so the whole
    * curve is exact BIGINTs. Plan: one narrow codegen projection + a
    * ≤10-row bin aggregate; the survival cumulation and the total ride
    * tiny windows over those 10 rows. */
  def dataQualityMassCurve(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(size(ts).cast("long").as("nt"),
        size(array_distinct(ts)).cast("long").as("nd"))
      .filter(col("nt") > 0)
      .select(expr("least(least(nt, 100) * 10 * nd div nt div 100, 9)")
        .as("bin"), col("nt"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("token_mass"))
      .withColumn("cum_docs", sum("n_docs").over(wCum))
      .withColumn("cum_tokens", sum("token_mass").over(wCum))
      .withColumn("total_tokens", sum("token_mass").over(wAll))
      .select(col("bin"), col("n_docs"), col("token_mass"), col("cum_docs"),
        col("cum_tokens"),
        expr("cum_tokens * 1000 div total_tokens").as("cum_token_share_milli"))
  }

  private val QUALITY_CURVE_SQL =
    """WITH d AS (
      |  SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |      AS BIGINT) AS nd
      |  FROM documents),
      |b AS (SELECT LEAST(LEAST(nt, 100) * 10 * nd // nt // 100, 9) AS bin, nt
      |      FROM d WHERE nt > 0),
      |c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |        CAST(SUM(nt) AS BIGINT) AS token_mass
      |      FROM b GROUP BY 1)
      |SELECT bin, n_docs, token_mass,
      |  CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
      |  CAST(SUM(token_mass) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(SUM(token_mass) OVER w AS BIGINT) * 1000
      |    // CAST(SUM(token_mass) OVER () AS BIGINT) AS cum_token_share_milli
      |FROM c
      |WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** Per-source curation dashboard — the "which feed is garbage" rollup
    * that decides sampling weights and kill-lists upstream of any mixing:
    * per source, doc/token/distinct-token mass, the pooled type-token
    * ratio, and the short-doc share, all exact integers (no per-doc
    * double quality averaged — Σdistinct·1000 div Σtokens is the same
    * lexical-health signal without the float detour). One narrow codegen
    * projection + one partial-agg exchange of ≤|sources| groups. */
  def textQualityBySource(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    t(s, dir, "documents")
      .select(col("source"), size(ts).cast("long").as("nt"),
        size(array_distinct(ts)).cast("long").as("nd"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("token_mass"),
        sum("nd").as("distinct_mass"),
        sum(when(col("nt") < 20, 1L).otherwise(0L)).as("n_short"))
      .withColumn("ttr_milli", expr("distinct_mass * 1000 div token_mass"))
      .withColumn("short_milli", expr("n_short * 1000 div n_docs"))
  }

  private val QUALITY_SOURCE_SQL =
    """WITH tok AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |      AS BIGINT) AS nd
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS token_mass,
      |  CAST(SUM(nd) AS BIGINT) AS distinct_mass,
      |  CAST(SUM(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(SUM(nd) AS BIGINT) * 1000 // CAST(SUM(nt) AS BIGINT) AS ttr_milli,
      |  CAST(SUM(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS BIGINT) * 1000
      |    // CAST(COUNT(*) AS BIGINT) AS short_milli
      |FROM tok GROUP BY 1""".stripMargin

  /** Readability audit — the grade-level quality gate next to
    * text_quality's lexical ratios: words (token runs), sentences
    * (sentence-final punctuation runs, floored at 1 so headline-only
    * docs stay defined), and a syllable proxy (vowel runs — the classic
    * cheap estimator), folded into a Flesch-reading-ease-shaped score
    * kept ENTIRELY in exact milli integers: 206.835 − 1.015·(W/S) −
    * 84.6·(Syll/W) becomes 206835 − 1015·wps_milli/1000 −
    * 84600·spw_milli/1000 with every division a floor division in a
    * fixed order (SURVEY §4 float discipline — no engine-divergent
    * double ratios). Plan: one narrow codegen projection, no shuffle. */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    val nWords = size(tokens(col("text"))).cast("long")
    val nSents = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val nSyll = size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
      .cast("long")
    t(s, dir, "documents")
      .select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syll"))
      .filter(col("n_words") > 0)
      .withColumn("wps_milli", expr("n_words * 1000 div n_sents"))
      .withColumn("spw_milli", expr("n_syll * 1000 div n_words"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000"))
  }

  /** Stopword-lexicon language scoring. The lexicon is a compile-time
    * constant, so instead of explode→broadcast-join→groupBy→window (three
    * shuffles of |tokens| rows) the per-language hit counts fold into ONE
    * narrow codegen'd projection — zero shuffle, embarrassingly parallel.
    * Argmax ties break by language name, matching the relational oracle
    * (ORDER BY n_hits DESC, lng). */
  /** Shared langid scorer: per doc, the lexicon hit counts and the
    * argmax predicted label, with the ground-truth lang carried
    * through (textLangid drops it; the confusion matrix needs it). */
  private def langidScored(s: SparkSession, dir: String): DataFrame = {
    val lex = Map(
      "alpha" -> Seq("table", "row", "column", "key"),
      "beta" -> Seq("spark", "query", "join", "scan"),
      "gamma" -> Seq("fast", "slow", "big", "small"))
    def hits(lang: String): Column = {
      val words = lex(lang).map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(ts, w -> w IN ($words)))").cast("long")
    }
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("lang"),
        hits("alpha").as("ha"), hits("beta").as("hb"), hits("gamma").as("hg"))
      .select(col("doc_id"), col("lang"),
        when(greatest(col("ha"), col("hb"), col("hg")) === 0, "unknown")
          .when(col("ha") >= col("hb") && col("ha") >= col("hg"), "alpha")
          .when(col("hb") >= col("hg"), "beta").otherwise("gamma").as("pred_lang"),
        greatest(col("ha"), col("hb"), col("hg")).as("n_hits"))
  }

  def textLangid(s: SparkSession, dir: String): DataFrame =
    langidScored(s, dir).select("doc_id", "pred_lang", "n_hits")

  /** Classifier-vs-truth confusion matrix over the langid scorer — the
    * standard model-QA read for ANY per-doc classifier in the curation
    * stack: (actual, predicted) counts plus the row-normalized milli
    * share (all-positive integer div). ≤ |langs|×|labels| rows at any
    * scale; the row total rides a window over the tiny aggregate. */
  def textLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val wLang = Window.partitionBy("lang")
    langidScored(s, dir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(wLang))
      .withColumn("row_milli", expr("n * 1000 div tot"))
      .drop("tot")
  }

  /** Chunk-level language consistency — the mixed-document detector a
    * CCNet-style pipeline runs after doc-level langid: a document whose
    * 8-token windows classify to DIFFERENT languages is a concatenation
    * artifact (boilerplate + body, template + payload) that should be
    * split or dropped, and doc-level argmax alone cannot see it. Chunks
    * classify with the SAME lexicon scorer as [[textLangid]] (ties
    * alpha ≥ beta ≥ gamma, zero hits → unknown); per doc: chunk count,
    * per-label chunk counts, the majority label and its milli share,
    * distinct classified languages, and the is_mixed flag. Tokens
    * explode once; both aggregates are key-grain (doc, chunk) →
    * (doc). */
  def textLangConsistency(s: SparkSession, dir: String): DataFrame = {
    val lex = Map(
      "ha" -> Seq("table", "row", "column", "key"),
      "hb" -> Seq("spark", "query", "join", "scan"),
      "hg" -> Seq("fast", "slow", "big", "small"))
    val hitSums = lex.toSeq.sortBy(_._1).map { case (name, words) =>
      sum(when(col("w").isin(words: _*), 1L).otherwise(0L)).as(name)
    }
    val chunks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .groupBy(col("doc_id"), expr("pos div 8").as("chunk"))
      .agg(hitSums.head, hitSums.tail: _*)
      .select(col("doc_id"),
        when(greatest(col("ha"), col("hb"), col("hg")) === 0, "unknown")
          .when(col("ha") >= col("hb") && col("ha") >= col("hg"), "alpha")
          .when(col("hb") >= col("hg"), "beta").otherwise("gamma").as("lbl"))
    chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("lbl") === "alpha", 1L).otherwise(0L)).as("ca"),
        sum(when(col("lbl") === "beta", 1L).otherwise(0L)).as("cb"),
        sum(when(col("lbl") === "gamma", 1L).otherwise(0L)).as("cg"),
        sum(when(col("lbl") === "unknown", 1L).otherwise(0L)).as("cu"))
      .select(col("doc_id"), col("n_chunks"),
        when(greatest(col("ca"), col("cb"), col("cg")) === 0, "unknown")
          .when(col("ca") >= col("cb") && col("ca") >= col("cg"), "alpha")
          .when(col("cb") >= col("cg"), "beta").otherwise("gamma")
          .as("major_lang"),
        expr("(CASE WHEN greatest(ca, cb, cg) = 0 THEN cu" +
          " ELSE greatest(ca, cb, cg) END) * 1000 div n_chunks")
          .as("major_share_milli"),
        expr("cast(ca > 0 as long) + cast(cb > 0 as long)" +
          " + cast(cg > 0 as long)").as("n_langs"))
      .withColumn("is_mixed", col("n_langs") >= 2)
  }

  private val LANG_CONSISTENCY_SQL =
    """WITH tok AS (
      |  SELECT doc_id, p.i AS pos, p.w FROM (
      |    SELECT doc_id,
      |      unnest(list_apply(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |        (w, i) -> struct_pack(w := w, i := i))) AS p
      |    FROM documents)),
      |ch AS (
      |  SELECT doc_id, (pos - 1) // 8 AS chunk,
      |    CAST(SUM(CASE WHEN w IN ('table','row','column','key')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ha,
      |    CAST(SUM(CASE WHEN w IN ('spark','query','join','scan')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS hb,
      |    CAST(SUM(CASE WHEN w IN ('fast','slow','big','small')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS hg
      |  FROM tok GROUP BY 1, 2),
      |lb AS (
      |  SELECT doc_id,
      |    CASE WHEN greatest(ha, hb, hg) = 0 THEN 'unknown'
      |         WHEN ha >= hb AND ha >= hg THEN 'alpha'
      |         WHEN hb >= hg THEN 'beta' ELSE 'gamma' END AS lbl
      |  FROM ch),
      |d AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(SUM(CASE WHEN lbl = 'alpha' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN lbl = 'beta' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
      |    CAST(SUM(CASE WHEN lbl = 'gamma' THEN 1 ELSE 0 END) AS BIGINT) AS cg,
      |    CAST(SUM(CASE WHEN lbl = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS cu
      |  FROM lb GROUP BY 1)
      |SELECT doc_id, n_chunks,
      |  CASE WHEN greatest(ca, cb, cg) = 0 THEN 'unknown'
      |       WHEN ca >= cb AND ca >= cg THEN 'alpha'
      |       WHEN cb >= cg THEN 'beta' ELSE 'gamma' END AS major_lang,
      |  (CASE WHEN greatest(ca, cb, cg) = 0 THEN cu
      |        ELSE greatest(ca, cb, cg) END) * 1000 // n_chunks
      |    AS major_share_milli,
      |  CAST(CASE WHEN ca > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN cb > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN cg > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_langs,
      |  (CASE WHEN ca > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN cb > 0 THEN 1 ELSE 0 END
      |    + CASE WHEN cg > 0 THEN 1 ELSE 0 END) >= 2 AS is_mixed
      |FROM d""".stripMargin

  private val LEX_SQL =
    """lex AS (SELECT * FROM (VALUES
      |  ('table','alpha'),('row','alpha'),('column','alpha'),('key','alpha'),
      |  ('spark','beta'),('query','beta'),('join','beta'),('scan','beta'),
      |  ('fast','gamma'),('slow','gamma'),('big','gamma'),('small','gamma'))
      |  AS t(word, lng))""".stripMargin

  /** Exact dedup: hash-groupBy on content, keep min id (one shuffle of
    * (hash, id) pairs — the text itself never shuffles). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-source syndication matrix — WHO is republishing WHOM, the
    * question a per-doc dup rate can't answer: each source's distinct
    * chunk-fingerprint set (the text_chunk_windows lattice) scored
    * against every other source's, emitting directed (a, b) rows with
    * the shared-fingerprint count and the exact milli share of a's
    * fingerprints that b also carries. The (source, fp) relation is
    * checkpointed (three references) and candidate volume is bounded by
    * construction: a fingerprint's posting is ≤ |sources|, so the
    * fp self-join fans out ≤ |sources|² per fingerprint. */
  def textSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val srcFp = textChunkWindows(s, dir)
      .join(t(s, dir, "documents").select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), col("chunk_hash52")).distinct()
      .transform(graft.Ckpt.capped)
    val sizes = srcFp.groupBy(col("source").as("src_a"))
      .agg(count(lit(1)).as("n_fp_a"))
    srcFp.select(col("source").as("src_a"), col("chunk_hash52"))
      .join(srcFp.select(col("source").as("src_b"), col("chunk_hash52")),
        Seq("chunk_hash52"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_fp_a"),
        expr("n_shared * 1000 div n_fp_a").as("overlap_milli"))
  }

  /** Edit-distance near-dup pairs — the FUZZY member of the dedup family
    * (exact = hash equality, jaccard/minhash = set overlap; this catches
    * the single-character-edit re-crawls both miss): documents block on
    * their 24-char prefix, blocks over 64 docs are dropped before any
    * pair exists (the cappedPostingPairs discipline — a degenerate
    * boilerplate prefix can never materialize O(block²) candidates), and
    * surviving within-block pairs keep levenshtein ≤ 12 on the 128-char
    * skeleton. Both engines run plain Levenshtein on ASCII skeletons —
    * exact integer, no float. Plan: ONE shuffle on the block key (the
    * self-join's equi condition), candidate pairs bounded by
    * Σ C(block,2) ≤ blocks × C(64,2); at 100 TB the prefix key swaps for
    * a simhash band with the identical plan shape. */
  def dedupFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      substring(col("text"), 1, 24).as("pre"),
      substring(col("text"), 1, 128).as("sk"))
    // tiny (oversized blocks only) but referenced via both self-join sides —
    // localCheckpoint so the count aggregate plans/runs ONCE (triangles
    // precedent), leaving the block-key join as the only real exchange
    val oversized = d.groupBy("pre").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > FUZZY_BLOCK_CAP).select("pre").transform(graft.Ckpt.capped)
    val b = d.join(broadcast(oversized), Seq("pre"), "left_anti")
    b.select(col("pre"), col("doc_id").as("doc_a"), col("sk").as("sk_a"))
      .join(b.select(col("pre"), col("doc_id").as("doc_b"), col("sk").as("sk_b")),
        Seq("pre"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("lev", levenshtein(col("sk_a"), col("sk_b")))
      .filter(col("lev") <= FUZZY_MAX_LEV)
      .select(col("doc_a"), col("doc_b"), col("lev").cast("long").as("lev"))
  }

  private val FUZZY_BLOCK_CAP = 64
  private val FUZZY_MAX_LEV = 12

  private lazy val OVERLAP_SQL: String =
    s"""WITH $CHUNK_CTES,
       |sf AS (SELECT DISTINCT d.source, c.chunk_hash52
       |       FROM cw_chunks c JOIN documents d USING (doc_id)),
       |sz AS (SELECT source AS src_a, CAST(COUNT(*) AS BIGINT) AS n_fp_a
       |       FROM sf GROUP BY 1),
       |sh AS (SELECT a.source AS src_a, b.source AS src_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_shared
       |       FROM sf a JOIN sf b ON a.chunk_hash52 = b.chunk_hash52
       |         AND a.source <> b.source
       |       GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared, n_fp_a,
       |  CAST(n_shared * 1000 // n_fp_a AS BIGINT) AS overlap_milli
       |FROM sh JOIN sz USING (src_a)""".stripMargin

  private[operators] lazy val FUZZY_SQL: String =
    s"""WITH d AS (SELECT doc_id, substr(text, 1, 24) AS pre,
       |             substr(text, 1, 128) AS sk FROM documents),
       |ok AS (SELECT pre FROM d GROUP BY pre
       |       HAVING COUNT(*) <= $FUZZY_BLOCK_CAP),
       |b AS (SELECT d.* FROM d JOIN ok USING (pre)),
       |scored AS (
       |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |    CAST(levenshtein(a.sk, c.sk) AS BIGINT) AS lev
       |  FROM b a JOIN b c ON a.pre = c.pre AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, lev FROM scored
       |WHERE lev <= $FUZZY_MAX_LEV""".stripMargin

  /** Incremental exact dedup — the PRODUCTION dedup shape: a new batch
    * classifies against the STANDING corpus's hash index instead of
    * re-hashing 100 TB per increment (the batch sibling of the
    * streaming diffAgainstIndex). index = docs with doc_id % 3 ≠ 0;
    * batch = the % 3 = 0 increment, with planted re-crawls (negative
    * mirrors, collision-free at any size): copies of INDEX content
    * (% 21 = 1 → must classify dup_of_index) and in-batch copies
    * (% 21 = 3 → the non-minimal id must classify dup_in_batch).
    * Per batch doc: dup_of_index (content already indexed) >
    * dup_in_batch (not the batch-minimal id for its content) > unique.
    * Only (hash, id) pairs shuffle; the index side is exactly the
    * 16-byte-per-doc hash index production keeps warm. */
  def dedupIncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val index = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 21 === 1)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 21 === 3)
        .select((-col("doc_id") - 2).as("doc_id"), col("text")))
    val idxHashes = index.select(md5(col("text").cast("binary")).as("h"))
      .distinct().withColumn("in_idx", lit(1))
    val b = batch.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val minIds = b.groupBy("h").agg(min("doc_id").as("min_id"))
    b.join(minIds, Seq("h"))
      .join(idxHashes, Seq("h"), "left_outer")
      .select(col("doc_id"),
        when(col("in_idx").isNotNull, "dup_of_index")
          .when(col("doc_id") =!= col("min_id"), "dup_in_batch")
          .otherwise("unique").as("status"))
  }

  private val INCREMENTAL_SQL =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |idx AS (SELECT DISTINCT md5(text) AS h FROM docs WHERE doc_id % 3 <> 0),
      |batch AS (
      |  SELECT doc_id, text FROM docs WHERE doc_id % 3 = 0
      |  UNION ALL SELECT -doc_id - 1, text FROM docs WHERE doc_id % 21 = 1
      |  UNION ALL SELECT -doc_id - 2, text FROM docs WHERE doc_id % 21 = 3),
      |b AS (SELECT doc_id, md5(text) AS h FROM batch),
      |m AS (SELECT h, MIN(doc_id) AS min_id FROM b GROUP BY h)
      |SELECT b.doc_id,
      |  CASE WHEN b.h IN (SELECT h FROM idx) THEN 'dup_of_index'
      |       WHEN b.doc_id <> m.min_id THEN 'dup_in_batch'
      |       ELSE 'unique' END AS status
      |FROM b JOIN m USING (h)""".stripMargin

  /** Near-dup pairs by word-trigram Jaccard with document-frequency
    * pruning: shingles whose df exceeds the cutoff are dropped from the
    * inverted index (they only generate candidate pairs, never decide
    * them). Instead of a posting self-join (two shuffles + a join of
    * |postings|² rows), each posting list ≤ cutoff generates its C(df,2)
    * pairs locally — one groupBy(sh) shuffle, one groupBy(pair) shuffle,
    * then broadcast joins for the per-doc set sizes. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val DF_CUTOFF = 100
    val sh = Shingles.trigramRows(t(s, dir, "documents"), dedup = true)
    val szs = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val postings = sh.groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, DF_CUTOFF))
    // Pair generation as TWO codegen'd posexplodes + an index inequality
    // (ds is sorted, so j > i ⟺ doc2 > doc1). A nested-transform HOF
    // builds exactly C(df,2) structs but evaluates interpreted (SURVEY §5:
    // 4-11× slower); the double explode emits df² rows that the same
    // fused stage immediately halves — cheap, and df is capped at cutoff.
    val cand = postings
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "doc1")))
      .select(col("i"), col("doc1"), posexplode(col("ds")).as(Seq("j", "doc2")))
      .filter(col("j") > col("i"))
      .groupBy("doc1", "doc2")
      .agg(count(lit(1)).as("shared"))
    val jac = col("shared").cast("double") /
      (col("s1.sz") + col("s2.sz") - col("shared"))
    // szs is |docs|-sized — NOT broadcast; AQE picks broadcast only when
    // it is actually small at the running scale.
    cand
      .join(szs.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(szs.as("s2"), col("doc2") === col("s2.doc_id"))
      .filter(jac >= 0.5)
      .select(col("doc1"), col("doc2"), jac.as("jaccard"))
  }

  /** Context-window chunking — the split every training/RAG pipeline
    * runs between curation and tokenization: each document becomes
    * overlapping W-token windows on a stride-token stride (the overlap
    * keeps boundary context), each chunk carrying its exact token
    * extent and a 52-bit content fingerprint for downstream chunk-level
    * dedup. Production sizing is 256/192; the queries entry binds 32/24
    * so the synthetic 10-99-token docs actually exercise multi-chunk
    * documents. Plan: pure narrow pipeline — tokenize once, explode the
    * stride lattice (`sequence`), slice per start; zero shuffles,
    * embarrassingly parallel at any corpus size. */
  def textChunkWindows(s: SparkSession, dir: String,
                       W: Long = 32L, STRIDE: Long = 24L): DataFrame = {
    val ts = tokens(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), ts.as("ts"), size(ts).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("ts"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_tokens"), lit(STRIDE))).as("start_tok"))
      .select(col("doc_id"), col("start_tok"),
        least(lit(W), col("n_tokens") - col("start_tok") + 1L).as("n_toks"),
        expr(s"""cast(conv(substring(md5(cast(concat('ck:',
             array_join(slice(ts, start_tok, $W), ' ')) as binary)),
             1, 13), 16, 10) as bigint)""").as("chunk_hash52"))
  }

  /** Chunk-level duplication profile — the consumer the chunk
    * fingerprints exist for: a chunk is SHARED when its 52-bit
    * fingerprint occurs in ≥2 distinct documents; per document the
    * chunk count, shared-chunk count, and exact integer duplicated
    * milli-fraction (the score a curation gate thresholds to drop
    * boilerplate-heavy docs that exact/doc-level dedup misses). Plan:
    * the chunk relation is localCheckpoint'd — THREE downstream
    * references would otherwise each replay the tokenize+explode scan
    * (the triangles/containment plan-replay lesson) — then one
    * fingerprint aggregate, one hash join back, one doc rollup. */
  def dedupChunkLevel(s: SparkSession, dir: String): DataFrame = {
    val chunks = textChunkWindows(s, dir)
      .select("doc_id", "chunk_hash52").transform(graft.Ckpt.capped)
    val perHash = chunks.groupBy("chunk_hash52")
      .agg(countDistinct("doc_id").as("n_docs"))
    chunks.join(perHash, Seq("chunk_hash52"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_millis", expr("n_shared * 1000 div n_chunks"))
  }

  /** Multi-vector late-interaction (MaxSim, the ColBERT scoring shape):
    * each 64-dim embedding is read as FOUR 16-dim sub-vectors (token /
    * patch slots); score(q,d) = Σᵢ maxⱼ ⟨qᵢ, dⱼ⟩ — every query slot
    * matches its best document slot, so a strong local match scores
    * where whole-vector cosine dilutes it. All 16 slot dots are native
    * codegen'd [[graft.functions.DotF]] calls over array slices, folded
    * with greatest() + left-assoc addition inside ONE projection (each
    * dot referenced once — no CollapseProject re-evaluation), so both
    * engines combine doubles in the identical order. Plan: the
    * simCosineTopk shape — 5 broadcast query rows crossJoin the corpus,
    * and TopKByScore keeps the shuffle O(k) per query. */
  def simMaxsimTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val d = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").as("dv"))
    val score = (0 until 4).map { i =>
      greatest((0 until 4).map { j =>
        graft.functions.Vectors.dot(
          slice(col("qv"), 1 + 16 * i, 16), slice(col("dv"), 1 + 16 * j, 16))
      }: _*)
    }.reduce(_ + _)
    Rerank.topK(
      d.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), score.as("dot")), 10)
      .withColumnRenamed("dot", "maxsim")
  }

  /** Brute-force cosine top-k: the query side (vec_id < 5) is broadcast;
    * embeddings are L2-normalized so cosine = dot product, computed with a
    * codegen'd zip_with/aggregate fold (no UDF). The LSH-bucketed variant
    * (rows-only oracle) is the 100 TB path. */
  /** Retrieval-quality readout over the exact cosine ranking — MRR,
    * P@1 and relevant-in-top-10 per query, with SAME-LABEL as the
    * relevance oracle (the sim_knn_label_eval ground truth): first_rank
    * = the best-ranked same-label neighbor, rr_milli = 1000 div
    * first_rank (floor — exact on both engines). The metric family a
    * retrieval eval actually reports next to the recall audits' set
    * overlap. Brute-force leg is the documented 5-broadcast-row
    * baseline (sim_cosine_topk class); one qid rank window. */
  def simMrrEval(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val d = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").as("dv"),
        col("label").as("dlabel"))
    val dot = graft.functions.Vectors.dot(col("qv"), col("dv"))
    d.crossJoin(broadcast(q))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("dlabel"),
        dot.as("dot"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id")))
        .cast("long"))
      .groupBy("qid", "qlabel")
      .agg(min(when(col("dlabel") === col("qlabel"), col("rank")))
          .as("first_rank"),
        max(when(col("rank") === 1,
          (col("dlabel") === col("qlabel")).cast("long"))).as("p_at_1"),
        sum(when(col("rank") <= 10 && col("dlabel") === col("qlabel"), 1L)
          .otherwise(0L)).as("rel_in_top10"))
      .withColumn("rr_milli", expr("1000 div first_rank"))
  }

  private val MRR_SQL =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |             label AS qlabel
      |           FROM embeddings WHERE vec_id < 5),
      |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv,
      |        label AS dlabel
      |      FROM embeddings WHERE vec_id >= 5),
      |r AS (SELECT qid, qlabel, vec_id, dlabel,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY list_dot_product(qv, dv) DESC, vec_id) AS BIGINT)
      |          AS rank
      |      FROM q CROSS JOIN d)
      |SELECT qid, qlabel,
      |  CAST(MIN(CASE WHEN dlabel = qlabel THEN rank END) AS BIGINT)
      |    AS first_rank,
      |  CAST(MAX(CASE WHEN rank = 1 THEN
      |    CASE WHEN dlabel = qlabel THEN 1 ELSE 0 END END) AS BIGINT)
      |    AS p_at_1,
      |  CAST(SUM(CASE WHEN rank <= 10 AND dlabel = qlabel
      |    THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_top10,
      |  1000 // CAST(MIN(CASE WHEN dlabel = qlabel THEN rank END)
      |    AS BIGINT) AS rr_milli
      |FROM r GROUP BY qid, qlabel""".stripMargin

  def simCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val d = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").as("dv"))
    val dot = graft.functions.Vectors.dot(col("qv"), col("dv"))
    Rerank.topK(
      d.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
  }

  /** Matryoshka truncation-recall audit (Kusupati et al. 2022, public
    * literature) — the buy-down curve for MRL-style embeddings: how much
    * exact-search recall survives when the index stores only the first
    * m dimensions? Per query and m ∈ {8, 16, 32}: the truncated-dot
    * top-10 against the full-64-dim top-10, as overlap count + recall
    * milli. One corpus pass scores ALL four dot columns (prefix slices
    * share the scan; [[graft.functions.DotF]]'s left-to-right double
    * accumulation matches DuckDB list_dot_product bit-for-bit, and a
    * PREFIX dot is the same fold stopped early); the four rank windows
    * ride one qid exchange over the checkpointed scored relation. At
    * corpus scale the brute-force leg is the documented 5-broadcast-row
    * baseline (sim_cosine_topk class) — the m-dim index one would
    * actually deploy is sim_ivf/lsh's job, and this audit is what
    * licenses shrinking it. */
  def simMatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val d = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").as("dv"))
    val scored = d.crossJoin(broadcast(q))
      .select(Seq(col("qid"), col("vec_id"),
        graft.functions.Vectors.dot(col("qv"), col("dv")).as("d64")) ++
        Seq(8, 16, 32).map(m => graft.functions.Vectors
          .dot(expr(s"slice(qv, 1, $m)"), expr(s"slice(dv, 1, $m)"))
          .as(s"d$m")): _*)
      .transform(graft.Ckpt.capped) // the 4-window rank pass reads it
    // all four ranks ride ONE qid exchange (same partitioning, four
    // sorts); overlap legs are then joint rank filters — no join at all
    def rnk(dcol: String) = row_number().over(
      Window.partitionBy("qid").orderBy(col(dcol).desc, col("vec_id")))
    val ranked = scored.select(col("qid"), col("vec_id"),
        rnk("d64").as("r64"), rnk("d8").as("r8"),
        rnk("d16").as("r16"), rnk("d32").as("r32"))
      .filter(col("r64") <= 10 ||
        col("r8") <= 10 || col("r16") <= 10 || col("r32") <= 10)
      .transform(graft.Ckpt.capped) // the three overlap legs read it
    // conditional sums, not filters: a qid whose truncated top-10 is
    // DISJOINT from the full one must emit recall 0 — the worst case
    // is exactly what the audit exists to report (r10 review finding)
    Seq(8, 16, 32).map { m =>
      ranked.groupBy("qid").agg(
        sum(when(col("r64") <= 10 && col(s"r$m") <= 10, 1L).otherwise(0L))
          .as("n_overlap"))
        .select(lit(m.toLong).as("dims"), col("qid"), col("n_overlap"),
          expr("n_overlap * 1000 div 10").as("recall_milli"))
    }.reduce(_ unionByName _)
  }

  private val MATRYOSHKA_SQL = {
    def leg(m: Int) =
      s"""SELECT $m AS dims, qid,
         |  CAST(SUM(CASE WHEN r64 <= 10 AND r$m <= 10 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overlap,
         |  CAST(SUM(CASE WHEN r64 <= 10 AND r$m <= 10 THEN 1 ELSE 0 END)
         |    * 1000 // 10 AS BIGINT) AS recall_milli
         |FROM r GROUP BY qid""".stripMargin
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
       |      FROM embeddings WHERE vec_id >= 5),
       |s AS (SELECT qid, vec_id,
       |        list_dot_product(qv, dv) AS d64,
       |        list_dot_product(qv[1:8], dv[1:8]) AS d8,
       |        list_dot_product(qv[1:16], dv[1:16]) AS d16,
       |        list_dot_product(qv[1:32], dv[1:32]) AS d32
       |      FROM q CROSS JOIN d),
       |r AS (SELECT qid, vec_id,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d64 DESC, vec_id) AS r64,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d8 DESC, vec_id) AS r8,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d16 DESC, vec_id) AS r16,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d32 DESC, vec_id) AS r32
       |      FROM s)
       |${leg(8)}
       |UNION ALL
       |${leg(16)}
       |UNION ALL
       |${leg(32)}""".stripMargin
  }

  /** Embedding-cosine near-dup pairs: vectors are L2-normalized so the
    * threshold test is a dot product, computed in a tight JVM loop — the
    * one place the DataFrame expression layer genuinely loses: an
    * all-pairs join pushes the dot predicate into a
    * BroadcastNestedLoopJoin condition, which evaluates interpreted
    * (measured 87 s at sf0.1 vs ~1 s for this kernel; same left-to-right
    * accumulation order, so results are bit-identical).
    *
    * Two physical plans, picked by corpus size:
    *  - `count ≤ maxBroadcast`: broadcast the corpus, scan it once per
    *    input partition with the exact kernel (one pass, no shuffle) —
    *    the exact brute-force baseline.
    *  - larger: [[routedNearDupPairs]] — banded sign-LSH candidate
    *    generation + exact [[graft.functions.DotF]] rerank. Approximate
    *    (documented recall trade near the low 0.2 threshold; near-
    *    identical vectors are found with probability ≈ 1), but NEVER
    *    quadratic: candidate volume is bounded by band-bucket occupancy
    *    and the bucket cap. The r6 block-cartesian fallback is gone —
    *    at 100× scale it silently committed the cluster to O(n²/B²)
    *    block pairs; over-threshold corpora now pay one banded shuffle
    *    instead. Dot values on emitted pairs are bit-identical to the
    *    exact kernel (same left-to-right accumulation).
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    // Cutover 2^16, not 2^20: at 1M vectors the exact path is ~5.5e11
    // pair-dots × 64 dims (~3.5e13 FMA) plus a ~270 MB broadcast — hours
    // of compute the banded path does in one shuffle. 64k² / 2 ≈ 2.1e9
    // pair-dots is the most the "just broadcast it" plan should ever buy.
    dedupEmbeddingCosine(s, dir, maxBroadcast = 1 << 16)

  private[graft] def dedupEmbeddingCosine(
      s: SparkSession, dir: String, maxBroadcast: Long): DataFrame = {
    import s.implicits._
    val THRESH = 0.2
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]

    def dot(e1: Array[Float], e2: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < e1.length) { acc += e1(i).toDouble * e2(i).toDouble; i += 1 }
      acc
    }

    val n = emb.count()
    if (n <= maxBroadcast) {
      val corpus = s.sparkContext.broadcast(emb.collect().sortBy(_._1))
      emb.mapPartitions { it =>
        val right = corpus.value
        it.flatMap { case (v1, e1) =>
          right.iterator
            .filter(_._1 > v1)
            .map { case (v2, e2) => (v1, v2, dot(e1, e2)) }
            .filter(_._3 >= THRESH)
        }
      }.toDF("v1", "v2", "cos_sim")
    } else routedNearDupPairs(s, emb, n, THRESH)
  }

  /** Banded random-hyperplane LSH near-dup pair mining — the routed
    * scale path behind [[dedupEmbeddingCosine]] (same
    * project→candidates→exact-rerank composition as sim_rp_topk /
    * sim_knn_graph, specialized to threshold pairs instead of top-k).
    *
    *  - BANDS independent sign signatures of `planesPerBand` splitmix-
    *    Rademacher hyperplanes each (literal ±1 weights — hash-derived,
    *    NOT a lattice: bands must collide independently, the same lesson
    *    as rpWeights). planesPerBand grows log₂ with the corpus so
    *    bucket occupancy stays ~1k flat at any scale; a pair colliding
    *    in ANY band becomes a candidate.
    *  - Degenerate buckets above BUCKET_CAP are counted first and
    *    excluded with a broadcast anti-join BEFORE any pair exists
    *    (the simKnnGraph / cappedPostingPairs discipline), so no task
    *    can ever see O(bucket²) candidates.
    *  - Candidates rerank through the codegen'd [[functions.DotF]] —
    *    an EQUI self-join on (band, bucket), so the threshold predicate
    *    stays codegen'd (the BNLJ interpreted-eval trap only bites
    *    non-equi joins); duplicate hits across bands collapse in a
    *    final pair-keyed max (threshold survivors only — tiny).
    *
    * Work: O(n·B·(P·64 + occupancy·64)) — linear in the corpus at fixed
    * occupancy, vs the removed block-cartesian's O(n²). Recall on
    * near-identical vectors (the near-DUP regime, cos ≥ 0.999) is
    * ≥ 1−(1−0.96^P)^B ≈ 1; pairs barely above the 0.2 cos threshold are
    * found with lower probability — the documented approximation, spec-
    * covered by a planted-near-dup recall assertion. */
  private[graft] def routedNearDupPairs(
      s: SparkSession, emb: Dataset[(Long, Array[Float])], n: Long,
      thresh: Double): DataFrame = {
    import s.implicits._
    val BANDS = 4
    val BUCKET_CAP = 4096
    // ceil(log2(n / 1024)) clamped to [6, 30]: occupancy ≈ 1k at any n
    val planesPerBand = math.min(30, math.max(6,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / 1024))))
    val signs: Array[Array[Float]] =
      Array.tabulate(BANDS * planesPerBand, 64) { (p, j) =>
        var z = (p * 64 + j).toLong + 0x51ED270B9F112CC5L // routed-path seed
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        if (((z >>> 13) & 1L) == 1L) 1f else -1f
      }
    val banded = emb.mapPartitions { it =>
      it.flatMap { case (id, v) =>
        Iterator.tabulate(BANDS) { b =>
          var bucket = 0L
          var i = 0
          while (i < planesPerBand) {
            val w = signs(b * planesPerBand + i)
            var acc = 0.0
            var j = 0
            val d = math.min(v.length, 64)
            while (j < d) { acc += v(j).toDouble * w(j); j += 1 }
            bucket = (bucket << 1) | (if (acc > 0) 1L else 0L)
            i += 1
          }
          (b, bucket, id, v)
        }
      }
    }.toDF("band", "bucket", "vec_id", "v")
      // referenced three times below (cap count + both join sides):
      // materialize once or the banding kernel replays per reference
      .transform(graft.Ckpt.capped)
    val oversized = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BUCKET_CAP).select("band", "bucket")
    val capped = banded.join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
    val lhs = capped.select(col("band"), col("bucket"),
      col("vec_id").as("v1"), col("v").as("e1"))
    val rhs = capped.select(col("band"), col("bucket"),
      col("vec_id").as("v2"), col("v").as("e2"))
    lhs.join(rhs, Seq("band", "bucket"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        graft.functions.Vectors.dot(col("e1"), col("e2")).as("cos_sim"))
      .filter(col("cos_sim") >= thresh)
      .groupBy("v1", "v2").agg(max("cos_sim").as("cos_sim"))
  }

  /** Gini–Simpson lexical diversity: 1 − Σ(cᵢ/N)² per document — a
    * boilerplate/concentration quality signal (spammy pages concentrate
    * token mass; natural prose spreads it). Computed as (N² − Σcᵢ²)/N²
    * entirely in exact BIGINT space so the single final double division
    * is the only float op — cross-engine deterministic without any
    * rounding. Plan: explode → (doc, tok) count → per-doc aggregate, both
    * shuffles partial-aggregated map-side and keyed by doc_id so the
    * second reuses the first's partitioning. */
  def textDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        ((col("n_tokens") * col("n_tokens") - col("s2")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"))

  /** Curation funnel: the cumulative document-filter cascade every
    * training-data pipeline runs (the text analogue of
    * occ_clean_pipeline), reported as per-stage survivor counts — ascii
    * ratio → token-length band → type-token ratio → digit-token ratio.
    * All four signals are exact integer comparisons (ratios as
    * cross-multiplications, never a float divide) computed in ONE narrow
    * codegen'd projection over the scan — no joins, no explode — folding
    * into a single-row aggregate that partial-aggregates map-side, so the
    * whole funnel is one pass over the corpus at any scale. */
  def textCurationFunnel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        length(col("text")).cast("long").as("n_chars_t"),
        length(regexp_replace(col("text"), "[\\x20-\\x7e]", "")).cast("long").as("n_nonascii"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_dis"),
        size(regexp_extract_all(lower(col("text")), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_dig"))
      .select(
        (col("n_nonascii") * 10 <= col("n_chars_t")).as("ascii_ok"),
        col("n_tok").between(20L, 10000L).as("len_ok"),
        (col("n_dis") * 10 >= col("n_tok") * 3).as("ttr_ok"),
        (col("n_dig") * 5 <= col("n_tok")).as("dig_ok"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("ascii_ok"), 1L).otherwise(0L)).as("n_after_ascii"),
        sum(when(col("ascii_ok") && col("len_ok"), 1L).otherwise(0L))
          .as("n_after_len"),
        sum(when(col("ascii_ok") && col("len_ok") && col("ttr_ok"), 1L)
          .otherwise(0L)).as("n_after_ttr"),
        sum(when(col("ascii_ok") && col("len_ok") && col("ttr_ok") && col("dig_ok"), 1L)
          .otherwise(0L)).as("n_kept"))

  /** Leave-one-out filter attribution — the WHICH-filter-does-the-work
    * readout [[textCurationFunnel]]'s sequential counts conflate (a
    * funnel charges every kill to the FIRST filter in pipeline order;
    * reordering changes the story): per filter, how many documents it
    * flags at all, how many ONLY it flags (its marginal, order-free
    * kill count — drop the filter and exactly these documents come
    * back), and the marginal share. The four flag derivations are the
    * funnel's own; rows come from an explode over literal structs
    * (explode, NOT stack — Stack is CodegenFallback and would drag the
    * regexp counters into interpreted eval). Plan: narrow codegen scan
    * + ONE ≤4-row partial aggregate. */
  def dataFilterAblation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        length(col("text")).cast("long").as("n_chars_t"),
        length(regexp_replace(col("text"), "[\\x20-\\x7e]", "")).cast("long").as("n_nonascii"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_dis"),
        size(regexp_extract_all(lower(col("text")), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_dig"))
      .select(
        (col("n_nonascii") * 10 <= col("n_chars_t")).as("ascii_ok"),
        col("n_tok").between(20L, 10000L).as("len_ok"),
        (col("n_dis") * 10 >= col("n_tok") * 3).as("ttr_ok"),
        (col("n_dig") * 5 <= col("n_tok")).as("dig_ok"))
      .select(explode(expr(
        """array(
          |  named_struct('filter', 'ascii', 'flagged', not ascii_ok,
          |    'unique_kill', not ascii_ok and len_ok and ttr_ok and dig_ok),
          |  named_struct('filter', 'len', 'flagged', not len_ok,
          |    'unique_kill', not len_ok and ascii_ok and ttr_ok and dig_ok),
          |  named_struct('filter', 'ttr', 'flagged', not ttr_ok,
          |    'unique_kill', not ttr_ok and ascii_ok and len_ok and dig_ok),
          |  named_struct('filter', 'dig', 'flagged', not dig_ok,
          |    'unique_kill', not dig_ok and ascii_ok and len_ok and ttr_ok))
          |""".stripMargin)).as("r"))
      .groupBy(expr("r.filter").as("filter"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("r.flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(expr("r.unique_kill"), 1L).otherwise(0L)).as("n_unique_kills"))
      .withColumn("marginal_milli", expr("n_unique_kills * 1000 div n_docs"))

  /** Prefix-duplicate (template/boilerplate) detection — the crawl-
    * curation gate the full-document dedups sleep through: two docs that
    * share their first 12 normalized tokens almost always share a
    * TEMPLATE (scraped headers, license preambles, mirror banners) even
    * when their tails diverge, so neither exact nor near-dup hashing
    * groups them. Group key = md5 of the joined prefix tokens; groups of
    * ≥2 report their size and the min-doc_id canonical. Plan: one
    * codegen'd scan (regexp + slice + md5) and ONE hash-aggregate
    * exchange on the 16-byte key — no pair generation at any scale. */
  /** Per-source template rate — the crawler-health rollup on top of
    * [[dedupDocPrefix]]'s pair-level detector: how much of each feed
    * opens with a REPEATED 12-token prefix (a template farm reads
    * template_milli → 1000, an organic feed → 0). Same prefix lattice
    * and token-free fence as dedupDocPrefix (the concat_ws-vs-NULL
    * landmine); distinct-prefix count is a single-distinct aggregate
    * (no multi-distinct Expand). Plan: one narrow codegen projection +
    * ONE \|sources\|-row aggregate. */
  /** TextRank keywords — weighted PageRank over the word co-occurrence
    * graph (the classic graph-based keyword extractor, composed from
    * this library's own primitives): edges = unordered term pairs
    * co-occurring within a ±4-token window (four lead columns exploded
    * as ONE array — the stack() landmine), weights = co-occurrence
    * counts, then five damped rounds on the 2^-30 fixed-point lattice.
    * The contribution is divide-FIRST: ((r·w) div wdeg)·17 div 20 —
    * r·w ≤ 2^30·w and w ≤ wdeg keeps every product BIGINT-safe at ANY
    * corpus size (the naive r·17·w overflows once a pair co-occurs
    * ~10⁸ times). Frequency alone can't separate a hub term from a
    * merely-common one; the weighted walk can. Plan: one doc_id window
    * exchange builds the pair stream, one (a,b) aggregate; the ≤|vocab|²
    * weighted edge relation checkpoints once and each round is a tiny
    * join + aggregate ending in its own checkpoint
    * ([[graft.Fixpoint.fixed]]); the oracle unrolls the same five rounds
    * as chained CTEs. */
  def textTextrankKeywords(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val base = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val withLeads = (1 to 4).foldLeft(base) { (df, k) =>
      df.withColumn(s"l$k", lead("w", k).over(w))
    }
    val wt = withLeads
      .select(col("w"),
        explode(array((1 to 4).map(k => col(s"l$k")): _*)).as("w2"))
      .filter(col("w2").isNotNull && col("w") =!= col("w2"))
      .select(least(col("w"), col("w2")).as("a"),
        greatest(col("w"), col("w2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cw"))
    val sym = wt.select(col("a"), col("b"), col("cw"))
      .union(wt.select(col("b").as("a"), col("a").as("b"), col("cw")))
    val deg = sym.groupBy("a").agg(sum("cw").as("wdeg"))
    val outE = sym.join(deg, Seq("a")).transform(graft.Ckpt.capped)
    val n = outE.select("a").distinct().count()
    require(n > 0, "textrank on an empty co-occurrence graph")
    val SCALE = 1073741824L // 2^30
    val tele = SCALE * 3 / 20 / n
    // the uniform start as a nullable aggregate, the rounds' schema
    val ranks0 = outE.groupBy(col("a").as("node")).agg(min(lit(SCALE / n)).as("r"))
      .transform(graft.Ckpt.capped)
    graft.Fixpoint.fixed(ranks0, 5) { ranks =>
      outE.join(ranks, col("a") === col("node"))
        .select(col("b"), expr("((r * cw) div wdeg) * 17 div 20").as("c"))
        .groupBy("b").agg((sum("c") + lit(tele)).as("r"))
        .select(col("b").as("node"), col("r"))
    }.select(col("node").as("word"), col("r").as("rank_fp"),
      (col("r").cast("double") / SCALE.toDouble).as("rank_val"))
  }

  private val TEXTRANK_SQL: String = {
    val rounds = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT s.b AS node,
         |    CAST((SELECT t FROM c) +
         |      SUM(((p.r * s.cw) // d.wdeg) * 17 // 20) AS BIGINT) AS r
         |  FROM sym s JOIN r${k - 1} p ON p.node = s.a
         |             JOIN deg d ON d.a = s.a
         |  GROUP BY s.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT doc_id, p.i AS pos, p.w FROM (
       |    SELECT doc_id,
       |      unnest(list_apply(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |        (w, i) -> struct_pack(w := w, i := i))) AS p
       |    FROM documents)),
       |ld AS (
       |  SELECT w, LEAD(w, 1) OVER dw AS l1, LEAD(w, 2) OVER dw AS l2,
       |    LEAD(w, 3) OVER dw AS l3, LEAD(w, 4) OVER dw AS l4
       |  FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
       |pr AS (
       |  SELECT LEAST(w, w2) AS a, GREATEST(w, w2) AS b FROM (
       |    SELECT w, l1 AS w2 FROM ld UNION ALL
       |    SELECT w, l2 FROM ld UNION ALL
       |    SELECT w, l3 FROM ld UNION ALL
       |    SELECT w, l4 FROM ld)
       |  WHERE w2 IS NOT NULL AND w <> w2),
       |wt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cw
       |       FROM pr GROUP BY a, b),
       |sym AS (SELECT a, b, cw FROM wt
       |        UNION ALL SELECT b, a, cw FROM wt),
       |deg AS (SELECT a, CAST(SUM(cw) AS BIGINT) AS wdeg
       |        FROM sym GROUP BY a),
       |c AS (SELECT CAST(1073741824 AS BIGINT) // COUNT(*) AS r0,
       |             CAST(1073741824 AS BIGINT) * 3 // 20 // COUNT(*) AS t
       |      FROM deg),
       |r0 AS (SELECT a AS node, (SELECT r0 FROM c) AS r FROM deg),
       |$rounds
       |SELECT node AS word, r AS rank_fp,
       |  CAST(r AS DOUBLE) / 1073741824 AS rank_val FROM r5""".stripMargin
  }

  /** Church–Gale term burstiness over the corpus top-64 — the
    * corpus-linguistics statistic that separates TOPICAL terms from
    * function words at equal frequency: burstiness = P(≥2 occurrences |
    * ≥1 occurrence) per document, i.e. df₂·1000 div df₁ in exact milli.
    * A function word spreads thin (low burst at high df); a topical
    * term clumps (high burst) — the signal stopword inference and
    * keyword extraction actually rank on, where raw frequency can't
    * tell the two apart. Also ships the mean in-document rate
    * (total·1000 div df₁). Plan: ONE (term, doc) partial agg over the
    * exploded tokens, a vocab-grain rollup, and the rank window on the
    * ≤|vocab|-row aggregate (text_top_ngrams class). */
  def textTermBurstiness(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("w")
      .agg(sum("c").as("n_total"),
        count(lit(1)).as("df1"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("df2"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_total").desc, col("w"))))
      .filter(col("rank") <= 64)
      .select(col("w"), col("n_total"), col("df1"), col("df2"),
        expr("df2 * 1000 div df1").as("burst_milli"),
        expr("n_total * 1000 div df1").as("rate_milli"))

  private val BURSTINESS_SQL =
    """WITH td AS (
      |  SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT doc_id,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |    FROM documents)
      |  GROUP BY w, doc_id),
      |tm AS (
      |  SELECT w, CAST(SUM(c) AS BIGINT) AS n_total,
      |    CAST(COUNT(*) AS BIGINT) AS df1,
      |    CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      |  FROM td GROUP BY w)
      |SELECT w, n_total, df1, df2,
      |  df2 * 1000 // df1 AS burst_milli,
      |  n_total * 1000 // df1 AS rate_milli
      |FROM tm
      |QUALIFY ROW_NUMBER() OVER (ORDER BY n_total DESC, w) <= 64""".stripMargin

  /** Positional-index phrase search — the IR primitive the retrieval
    * family lacked: build the (doc, pos, trigram) positional index via
    * two lead windows over the exploded tokens, pick the corpus's most
    * frequent trigram (min-phrase tiebreak — the corpus is word salad,
    * so the winner surfaces the PLANTED prefix duplicates), and report
    * every doc that contains it with hit count and first position.
    * The exact-phrase shape generalizes: swap the argmax stage for a
    * literal and this is grep-at-scale with positions. Plan: the index
    * is built once and checkpointed (both the argmax and the hit filter
    * read it — the multi-reference replay landmine); both lead windows
    * ride ONE doc_id exchange; the argmax is agg + TakeOrdered (no
    * global sort exchange); the 1-row winner broadcasts back. */
  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tri = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead("w1", 1).over(w))
      .withColumn("w3", lead("w1", 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"))
      .transform(graft.Ckpt.capped)
    val top = tri.groupBy("phrase").agg(count(lit(1)).as("n_total"))
      .orderBy(col("n_total").desc, col("phrase")).limit(1)
    tri.join(broadcast(top), Seq("phrase"))
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"),
        first(col("n_total")).as("n_total"))
  }

  private val PHRASE_SQL =
    """WITH tok AS (
      |  SELECT doc_id, p.i - 1 AS pos, p.w FROM (
      |    SELECT doc_id,
      |      unnest(list_apply(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |        (w, i) -> struct_pack(w := w, i := i))) AS p
      |    FROM documents)),
      |tri AS (
      |  SELECT doc_id, pos,
      |    w || ' ' || LEAD(w, 1) OVER dw || ' ' || LEAD(w, 2) OVER dw
      |      AS phrase
      |  FROM tok
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY LEAD(w, 2) OVER dw IS NOT NULL),
      |top AS (
      |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_total FROM tri
      |  GROUP BY phrase ORDER BY n_total DESC, phrase LIMIT 1)
      |SELECT tri.phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  MIN(pos) AS first_pos, MIN(n_total) AS n_total
      |FROM tri JOIN top ON top.phrase = tri.phrase
      |GROUP BY tri.phrase, doc_id""".stripMargin

  def textTemplateRate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        slice(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
          1, 12).as("pre"))
      .filter(size(col("pre")) >= 1)
      .select(col("source"), md5(concat_ws(" ", col("pre"))).as("ph"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("ph")).as("n_prefixes"))
      .withColumn("template_milli",
        expr("1000 - n_prefixes * 1000 div n_docs"))

  private val TEMPLATE_SQL =
    """WITH p AS (
      |  SELECT source,
      |    md5(array_to_string(regexp_extract_all(lower(text),
      |      '[a-z0-9]+')[1:12], ' ')) AS ph
      |  FROM documents
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT ph) AS BIGINT) AS n_prefixes,
      |  1000 - CAST(COUNT(DISTINCT ph) AS BIGINT) * 1000 // COUNT(*)
      |    AS template_milli
      |FROM p GROUP BY source""".stripMargin

  def dedupDocPrefix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        slice(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
          1, 12).as("pre"))
      // token-free docs (NULL text, pure punctuation) are not templates,
      // and the engines disagree on their render: Spark concat_ws('')
      // hashes the empty string while DuckDB array_to_string yields NULL
      // (the concat_ws-vs-NULL-propagation landmine class) — fence them
      // out on BOTH sides instead of hashing them
      .filter(size(col("pre")) >= 1)
      .select(col("doc_id"), md5(concat_ws(" ", col("pre"))).as("prefix_hash"))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_doc_id"))
      .filter(col("n_docs") >= 2)

  private val PREFIX_SQL =
    """WITH p AS (
      |  SELECT doc_id,
      |    list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 12) AS pre
      |  FROM documents)
      |SELECT md5(array_to_string(pre, ' ')) AS prefix_hash,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(doc_id) AS canonical_doc_id
      |FROM p WHERE len(pre) >= 1
      |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin

  /** Sampled dedup-rate estimator — the QA readout that makes exact
    * dedup affordable to AUDIT at 100 TB: sampling BLOCKS (the
    * [[dedupDocPrefix]] 12-token prefix key), not documents, preserves
    * every within-block pair, so the 1-in-8 md5 block sample ('ndr:'
    * salt — its own hash stream) yields an unbiased pair-count estimate
    * (sampled_pairs × 8) that the single-row output sets NEXT TO the
    * exact count and the signed error. Pair counts are Σ n(n−1)/2 per
    * block — pure counting, no pair is ever materialized. Plan: one
    * block aggregate + a single-row conditional fold. */
  def dataNearDupRate(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        slice(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)),
          1, 12).as("pre"))
      .filter(size(col("pre")) >= 1) // the dedup_doc_prefix NULL fence
      .select(col("doc_id"), md5(concat_ws(" ", col("pre"))).as("prefix_hash"))
      .groupBy("prefix_hash").agg(count(lit(1)).as("n"))
      .withColumn("samp",
        expr("cast(conv(substring(md5(cast(concat('ndr:', prefix_hash) as binary)), 1, 15), 16, 10) as bigint) % 8 = 0"))
      .agg(count(lit(1)).as("n_blocks"), sum("n").as("n_docs"),
        sum(expr("n * (n - 1) div 2")).as("exact_pairs"),
        sum(when(col("samp"), col("n")).otherwise(0L)).as("sampled_docs"),
        sum(when(col("samp"), expr("n * (n - 1) div 2")).otherwise(0L))
          .as("sampled_pairs"))
      .select(col("n_blocks"), col("n_docs"), col("exact_pairs"),
        col("sampled_docs"), col("sampled_pairs"),
        (col("sampled_pairs") * 8).as("est_pairs"),
        (col("sampled_pairs") * 8 - col("exact_pairs")).as("est_error"))

  private val NEARDUP_RATE_SQL =
    """WITH p AS (
      |  SELECT doc_id,
      |    list_slice(regexp_extract_all(lower(text), '[a-z0-9]+'), 1, 12) AS pre
      |  FROM documents),
      |b AS (SELECT md5(array_to_string(pre, ' ')) AS prefix_hash,
      |        CAST(COUNT(*) AS BIGINT) AS n
      |      FROM p WHERE len(pre) >= 1 GROUP BY 1),
      |sb AS (SELECT n,
      |         ('0x' || substr(md5('ndr:' || prefix_hash), 1, 15))::BIGINT % 8 = 0
      |           AS samp
      |       FROM b)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS exact_pairs,
      |  CAST(SUM(CASE WHEN samp THEN n ELSE 0 END) AS BIGINT) AS sampled_docs,
      |  CAST(SUM(CASE WHEN samp THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
      |    AS sampled_pairs,
      |  CAST(SUM(CASE WHEN samp THEN n * (n - 1) // 2 ELSE 0 END) * 8 AS BIGINT)
      |    AS est_pairs,
      |  CAST(SUM(CASE WHEN samp THEN n * (n - 1) // 2 ELSE 0 END) * 8
      |    - SUM(n * (n - 1) // 2) AS BIGINT) AS est_error
      |FROM sb""".stripMargin

  /** LSH band-geometry planner — which (bands b × rows-per-band r),
    * b·r = 64, should the MinHash index run? For every observed jaccard
    * DECILE of the candidate-pair graph (the dedup_ngram_jaccard
    * candidates WITHOUT its ≥0.5 keep-filter — the planner must see the
    * sub-threshold mass the index should reject) and all seven 64-hash
    * geometries, reports the S-curve detection probability
    * p = 1 − (1 − s^r)^b and the expected caught-pair count. The powers
    * are FIXED-POINT chains at 2^20 (each step multiplies then
    * truncating-divides — generated per literal (b, r) as nested
    * expressions, identical text modulo the div spelling in both
    * engines), so the whole table hash-matches. Plan: the pair
    * histogram is aggregate-sized (≤11 rows) and checkpointed; seven
    * narrow projections union over it. */
  def dedupLshBandTuning(s: SparkSession, dir: String): DataFrame = {
    val DF_CUTOFF = 100
    val sh = Shingles.trigramRows(t(s, dir, "documents"), dedup = true)
    val szs = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val postings = sh.groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, DF_CUTOFF))
    val cand = postings
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "doc1")))
      .select(col("i"), col("doc1"), posexplode(col("ds")).as(Seq("j", "doc2")))
      .filter(col("j") > col("i"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("shared"))
    val hist = cand
      .join(szs.as("s1"), col("doc1") === col("s1.doc_id"))
      .join(szs.as("s2"), col("doc2") === col("s2.doc_id"))
      .select(expr("shared * 1000 div (s1.sz + s2.sz - shared)").as("jm"))
      .groupBy(expr("jm div 100").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .transform(graft.Ckpt.capped) // seven config projections read it
    val configs = Seq(64 -> 1, 32 -> 2, 16 -> 4, 8 -> 8, 4 -> 16, 2 -> 32, 1 -> 64)
    // square-and-multiply, NOT a sequential fold: a depth-64 nested chain
    // exceeds DuckDB's 128-deep binder; this is O(log k) deep, and both
    // engines share the exact same truncation structure (that shared
    // lattice — not mathematical pow — is the determinism contract)
    def powFp(base: String, k: Int): String = lshPowFp(base, k, "div")
    configs.map { case (b, r) =>
      val s_ = "(least(bucket * 100 + 50, 1000) * 1048576 div 1000)"
      val p = s"(1048576 - ${powFp(s"(1048576 - ${powFp(s_, r)})", b)})"
      hist.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        col("bucket"), expr("least(bucket * 100 + 50, 1000)").as("rep_milli"),
        col("n_pairs"),
        expr(s"$p * 1000 div 1048576").as("p_milli"),
        expr(s"n_pairs * ($p) div 1048576").as("exp_caught"))
    }.reduce(_ unionByName _)
  }

  /** Fixed-point 2^20 power by square-and-multiply; `div` is the
    * integer-division spelling (`div` Spark / `//` DuckDB). The SAME
    * recursion shape on both sides is what makes the values match. */
  private def lshPowFp(base: String, k: Int, div: String): String =
    if (k == 1) base
    else if (k % 2 == 0) {
      val h = lshPowFp(base, k / 2, div)
      s"(($h) * ($h) $div 1048576)"
    } else {
      val h = lshPowFp(base, k - 1, div)
      s"(($h) * ($base) $div 1048576)"
    }

  private val BAND_TUNING_SQL = {
    def powFp(base: String, k: Int): String = lshPowFp(base, k, "//")
    val configs = Seq(64 -> 1, 32 -> 2, 16 -> 4, 8 -> 8, 4 -> 16, 2 -> 32, 1 -> 64)
    val legs = configs.map { case (b, r) =>
      val s_ = "(LEAST(bucket * 100 + 50, 1000) * 1048576 // 1000)"
      val p = s"(1048576 - ${powFp(s"(1048576 - ${powFp(s_, r)})", b)})"
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  bucket, LEAST(bucket * 100 + 50, 1000) AS rep_milli, n_pairs,
         |  CAST($p * 1000 // 1048576 AS BIGINT) AS p_milli,
         |  CAST(n_pairs * ($p) // 1048576 AS BIGINT) AS exp_caught
         |FROM hist""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $TOK_SQL,
       |sh AS (
       |  SELECT DISTINCT doc_id, ts[i] || '_' || ts[i+1] || '_' || ts[i+2] AS sh
       |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
       |        FROM tok)),
       |szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |rare AS (
       |  SELECT s.* FROM sh s
       |  JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d USING (sh)
       |  WHERE d.df <= 100),
       |cand AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS shared
       |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |hist AS MATERIALIZED (
       |  SELECT (shared * 1000 // (s1.sz + s2.sz - shared)) // 100 AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM cand
       |  JOIN szs s1 ON cand.doc1 = s1.doc_id
       |  JOIN szs s2 ON cand.doc2 = s2.doc_id
       |  GROUP BY 1)
       |$legs""".stripMargin
  }

  /** Pareto frontier (SKYLINE) of the corpus on (length, quality) — the
    * multi-objective curation shape nothing else on the board computes:
    * the documents no other document beats on BOTH token count and the
    * exact quality lattice (least(nt,100)·10·nd div nt — the mass-curve
    * signal). Dominance: d is out iff some d' has nt' ≥ nt ∧ q' ≥ q with
    * one strict. Distributed plan — NOT the textbook global sort: a
    * per-nt max-q hash aggregate does the data-sized work, the suffix
    * max runs over DISTINCT token counts only (bounded by max document
    * length, not corpus size), and survivors come back via a broadcast
    * join of the tiny frontier. Same-nt ties all survive iff they hit
    * the nt's max q (equal points never dominate each other). */
  def dataSkyline(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), size(ts).cast("long").as("nt"),
        size(array_distinct(ts)).cast("long").as("nd"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("nt"),
        expr("least(nt, 100) * 10 * nd div nt").as("q_milli"))
    val perNt = docs.groupBy("nt").agg(max("q_milli").as("qmax"))
    val wSuffix = Window.orderBy("nt")
      .rangeBetween(1, Window.unboundedFollowing)
    val frontier = perNt
      .withColumn("ms", max("qmax").over(wSuffix))
      .filter(col("ms").isNull || col("qmax") > col("ms"))
      .select(col("nt"), col("qmax"))
    docs.join(broadcast(frontier), Seq("nt"))
      .filter(col("q_milli") === col("qmax"))
      .select(col("doc_id"), col("nt").as("n_tokens"), col("q_milli"))
  }

  private val SKYLINE_SQL =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT)
       |      AS nt,
       |    CAST(len(list_distinct(regexp_extract_all(lower(text),
       |      '$TOKEN_RE'))) AS BIGINT) AS nd
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, nt,
       |    CAST(LEAST(nt, 100) * 10 * nd // nt AS BIGINT) AS q_milli
       |  FROM d WHERE nt > 0),
       |g AS (SELECT nt, MAX(q_milli) AS qmax FROM q GROUP BY 1),
       |f AS (
       |  SELECT nt, qmax, MAX(qmax) OVER (ORDER BY nt
       |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ms
       |  FROM g)
       |SELECT q.doc_id, q.nt AS n_tokens, q.q_milli
       |FROM q JOIN f ON f.nt = q.nt AND q.q_milli = f.qmax
       |WHERE f.ms IS NULL OR f.qmax > f.ms""".stripMargin

  /** Cohen's κ between two deterministic quality raters — the
    * inter-annotator-agreement statistic every labeling pipeline
    * reports, here between the LENGTH gate (n_tokens ≥ 40) and the
    * DIVERSITY gate (distinct-ratio ≥ 460‰): observed agreement po,
    * chance agreement pe from the marginals, κ = (po − pe)/(1 − pe).
    * Exact milli throughout — pe multiplies MILLI RATES (rate·rate div
    * 1000), never raw-count cross-products, so nothing overflows at any
    * corpus size; κ_milli divides only at the end with a pe = 1 guard.
    * One narrow codegen projection + a single 4-cell aggregate. */
  def dataRaterKappa(s: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    t(s, dir, "documents")
      .select(size(ts).cast("long").as("nt"),
        size(array_distinct(ts)).cast("long").as("nd"))
      .filter(col("nt") > 0)
      .select((col("nt") >= 40).cast("long").as("a"),
        (expr("nd * 1000 div nt") >= 460).cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(expr("a * b")).as("n11"),
        sum(expr("a * (1 - b)")).as("n10"),
        sum(expr("(1 - a) * b")).as("n01"),
        sum(expr("(1 - a) * (1 - b)")).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        expr("(n11 + n00) * 1000 div n").as("po_milli"),
        expr("((n11 + n10) * 1000 div n) * ((n11 + n01) * 1000 div n)" +
          " div 1000 + ((n01 + n00) * 1000 div n) *" +
          " ((n10 + n00) * 1000 div n) div 1000").as("pe_milli"))
      .withColumn("kappa_milli",
        expr("case when pe_milli >= 1000 then 0 else " +
          "(po_milli - pe_milli) * 1000 div (1000 - pe_milli) end"))
  }

  private val KAPPA_SQL =
    s"""WITH d AS (
       |  SELECT CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE'))
       |      AS BIGINT) AS nt,
       |    CAST(len(list_distinct(regexp_extract_all(lower(text),
       |      '$TOKEN_RE'))) AS BIGINT) AS nd
       |  FROM documents),
       |r AS (
       |  SELECT CASE WHEN nt >= 40 THEN 1 ELSE 0 END AS a,
       |    CASE WHEN nd * 1000 // nt >= 460 THEN 1 ELSE 0 END AS b
       |  FROM d WHERE nt > 0),
       |c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a * b) AS BIGINT) AS n11,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
       |  FROM r),
       |p AS (
       |  SELECT n, n11, n10, n01, n00,
       |    (n11 + n00) * 1000 // n AS po_milli,
       |    ((n11 + n10) * 1000 // n) * ((n11 + n01) * 1000 // n) // 1000
       |      + ((n01 + n00) * 1000 // n) * ((n10 + n00) * 1000 // n)
       |        // 1000 AS pe_milli
       |  FROM c)
       |SELECT n, n11, n10, n01, n00, po_milli, pe_milli,
       |  CASE WHEN pe_milli >= 1000 THEN 0
       |    ELSE (po_milli - pe_milli) * 1000 // (1000 - pe_milli) END
       |    AS kappa_milli
       |FROM p""".stripMargin

  /** Sorted-neighborhood near-dup candidates — the ORDER-based member of
    * the dedup family (dedup_fuzzy_match BLOCKS on an exact 24-char key;
    * SNM instead SORTS on a 16-char key and compares each record with
    * its next w−1 successors, so pairs whose keys diverge past the
    * block boundary still meet). The global rank over (sort key,
    * doc_id) comes from the bucketOffsets two-level prefix sum — the
    * user_gini idiom, never a single-task sort — and the sliding window
    * is materialized as THREE rank-equi self-joins (rank + j, j = 1..3
    * via explode), exactly 3n−6 candidate pairs at any corpus size.
    * Verdict = levenshtein ≤ 12 on the 128-char skeleton (the
    * fuzzy_match gate). Output is the per-offset audit: how much of the
    * match mass each extra window slot buys — the w-tuning sheet. */
  def dedupSortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      substring(col("text"), 1, 16).as("sk16"),
      substring(col("text"), 1, 128).as("sk"))
      .withColumn("bkt", substring(col("sk16"), 1, 2))
      .withColumn("cnt", lit(1L))
    val offsets = Scale.bucketOffsets(d, "bkt", Seq("cnt"))
    // r14: WIDTH-pinned checkpoint (Ckpt.hashed) — the bare ckpt came out
    // at the AQE-coalesced width of the bkt-window exchange (ONE
    // partition), so the 3n-pair levenshtein stage streamed single-task
    // (1.8 s of the sealed 2.2 s). With 32 partitions the rank-equi BHJ
    // streams the explode side at full width.
    val par = graft.Ckpt.wide(d) // volume-aware, floor = defaultParallelism
    val ranked = graft.Ckpt.hashed(d.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("bkt").orderBy("sk16", "doc_id"))
          .cast("long") + col("cnt_off"))
      .select("doc_id", "sk", "rk"), par, "rk")
    ranked
      .select(col("rk"), col("sk").as("sk_a"))
      .withColumn("j", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("rk2", col("rk") + col("j"))
      .join(ranked.select(col("rk").as("rk2"), col("sk").as("sk_b")),
        Seq("rk2"))
      .withColumn("lev", levenshtein(col("sk_a"), col("sk_b")).cast("long"))
      .groupBy(col("j").as("window_offset"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("lev") <= FUZZY_MAX_LEV, 1L).otherwise(0L))
          .as("n_matches"),
        min("lev").as("min_lev"))
  }

  private val SNM_SQL =
    s"""WITH d AS (SELECT doc_id, substr(text, 1, 16) AS sk16,
       |             substr(text, 1, 128) AS sk FROM documents),
       |r AS (SELECT doc_id, sk,
       |        CAST(ROW_NUMBER() OVER (ORDER BY sk16, doc_id) AS BIGINT)
       |          AS rk
       |      FROM d),
       |p AS (
       |  SELECT js.j, CAST(levenshtein(a.sk, b.sk) AS BIGINT) AS lev
       |  FROM r a
       |  CROSS JOIN (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS j) js
       |  JOIN r b ON b.rk = a.rk + js.j)
       |SELECT j AS window_offset, CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |  CAST(SUM(CASE WHEN lev <= $FUZZY_MAX_LEV THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_matches,
       |  CAST(MIN(lev) AS BIGINT) AS min_lev
       |FROM p GROUP BY j""".stripMargin

  /** Exact repeated-substring dedup — the SUFFIX-ARRAY member of the
    * dedup family (the deduplicate-text-datasets class): catch ≥16-token
    * VERBATIM runs at ARBITRARY offsets, which dedup_fuzzy_match's
    * prefix-24 blocking and winnowing's sampled fingerprints both miss
    * when the copied span sits mid-document under a different head.
    * Every token offset emits a 16-token window fingerprint (posexplode
    * + a 15-lead codegen window — the [[Shingles]] idiom, never an
    * interpreted HOF; md5 'sw:' salt, equality-only use), fingerprints
    * shared by 2..8 docs survive (the >8 cap drops degenerate
    * common-phrase buckets BEFORE pair materialization — the landmine
    * rule), the capped relation localCheckpoints once and self-joins
    * into (pair, diagonal, offset) rows, and gaps-and-islands over each
    * diagonal (offset − row_number) merges overlapping window hits into
    * MAXIMAL runs: a verbatim run of R tokens is R−15 consecutive
    * window matches on one diagonal ⇒ max_run_tokens = island + 15.
    * Because the driver corpus's only natural near-dups share their
    * prefix (the planted fuzzy pairs), the query derives a snapshot-diff
    * style corpus: docs with doc_id % 41 = 0 (≥300 chars) contribute a
    * mid-document excerpt (chars 80..300) under a fresh 'zq<id>' head as
    * doc −id−1 — cross-offset duplicates the prefix-blocked detectors
    * provably miss. The recall comparison rides the per-pair
    * prefix_blocked flag: false rows are exactly the pairs fuzzy_match's
    * blocker can never meet. 100 TB posture: suffix rows are O(total
    * tokens) carrying 16-byte hashes (the true suffix-array cost), all
    * joins are hash-equi on the fingerprint, pairs are cap-bounded. */
  def dedupSuffixWindow(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 41 === 0 && length(col("text")) >= 300)
        .select((-col("doc_id") - 1).as("doc_id"),
          concat(lit("zq"), col("doc_id").cast("string"), lit(" "),
            substring(col("text"), 80, 220)).as("text")))
    val wt = Window.partitionBy("doc_id").orderBy("pos")
    // Explicit-width doc repartition before the explode (the Shingles r14
    // note): the 16-lead window + md5 otherwise run at the AQE-coalesced
    // width of the window's own tiny exchange.
    val parSw = graft.Ckpt.textPar(corpus)
    val toks = corpus.repartition(parSw, col("doc_id"))
      .select(col("doc_id"),
        posexplode(Shingles.tokens(col("text"))).as(Seq("pos", "w0")))
    val winCol = concat(lit("sw:") +: (0 to 15).flatMap(i =>
      if (i == 0) Seq(col("w0"))
      else Seq(lit("_"), lead("w0", i).over(wt))): _*)
    val wins = toks
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(winCol.cast("binary")).as("h"))
      .filter(col("h").isNotNull)
    val hs = wins.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2L, 8L)).select("h")
    val sh = graft.Ckpt.hashed(wins.join(hs, Seq("h")), parSw, "h")
    val pairs = sh
      .select(col("h"), col("doc_id").as("doc_a"), col("pos").as("apos"))
      .join(sh.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("bpos")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("apos") - col("bpos")).as("diag"), col("apos"))
    val wi = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("apos")
    val agg = pairs
      .withColumn("g", col("apos") - row_number().over(wi))
      .groupBy("doc_a", "doc_b", "diag", "g").agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg(sum("run").as("n_window_pairs"),
        countDistinct(col("diag")).as("n_diagonals"),
        (max("run") + lit(15L)).as("max_run_tokens"))
    val pref = corpus.select(col("doc_id"),
      substring(col("text"), 1, 24).as("p24"))
    val withA = pref.join(broadcast(agg), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("n_window_pairs"),
        col("n_diagonals"), col("max_run_tokens"), col("p24").as("pa24"))
    pref.join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_window_pairs"),
        col("n_diagonals"), col("max_run_tokens"),
        (col("pa24") === col("p24")).as("prefix_blocked"))
  }

  private val SUFFIXWIN_SQL =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1,
      |    'zq' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 80, 220)
      |  FROM documents WHERE doc_id % 41 = 0 AND length(text) >= 300),
      |toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |  FROM corpus),
      |wins AS (
      |  SELECT doc_id, i AS pos,
      |    md5('sw:' || array_to_string(ts[i:i+15], '_')) AS h
      |  FROM toks, unnest(range(1, len(ts) - 14)) AS t(i)),
      |hs AS (SELECT h FROM wins GROUP BY h
      |       HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 8),
      |sh AS (SELECT w.* FROM wins w JOIN hs USING (h)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.pos - b.pos AS diag, a.pos AS apos
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT doc_a, doc_b, diag,
      |    apos - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
      |      ORDER BY apos) AS g
      |  FROM pairs),
      |runs AS (SELECT doc_a, doc_b, diag, COUNT(*) AS run
      |         FROM isl GROUP BY doc_a, doc_b, diag, g),
      |agg AS (
      |  SELECT doc_a, doc_b, CAST(SUM(run) AS BIGINT) AS n_window_pairs,
      |    CAST(COUNT(DISTINCT diag) AS BIGINT) AS n_diagonals,
      |    CAST(MAX(run) + 15 AS BIGINT) AS max_run_tokens
      |  FROM runs GROUP BY doc_a, doc_b),
      |pref AS (SELECT doc_id, substr(text, 1, 24) AS p24 FROM corpus)
      |SELECT doc_a, doc_b, n_window_pairs, n_diagonals, max_run_tokens,
      |  pa.p24 = pb.p24 AS prefix_blocked
      |FROM agg JOIN pref pa ON doc_a = pa.doc_id
      |JOIN pref pb ON doc_b = pb.doc_id""".stripMargin

  /** Reciprocal-rank fusion of the VECTOR and TEXT retrieval legs — the
    * hybrid-search primitive every RAG stack runs: rank the corpus per
    * query by exact dot product (sim_cosine_topk's leg) and by distinct-
    * token overlap with the query document (the inverted-index leg whose
    * candidate set is bounded by the query's own terms), then combine both with
    * the classic k=60 RRF on an exact integer lattice —
    * 1000000 div (60 + rank) per present leg, absent leg contributes 0.
    * Rank ties cannot happen (row_number over a total order); fusion
    * ties break on doc_id. Plan: the text leg joins the corpus token
    * index against the BROADCAST 5-query term set, both rank windows
    * and the fusion window ride qid exchanges; top-10 filter per qid. */
  def simRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val d = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id"), col("embedding").as("dv"))
    val vecRank = d.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id").as("doc_id"),
        graft.functions.Vectors.dot(col("qv"), col("dv")).as("dot"))
      .select(col("qid"), col("doc_id"),
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("dot").desc, col("doc_id"))).cast("long").as("r_vec"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("w"))
      .distinct()
    val qt = toks.filter(col("doc_id") < 5).withColumnRenamed("doc_id", "qid")
    val textRank = toks.filter(col("doc_id") >= 5)
      .join(broadcast(qt), Seq("w"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("ov"))
      .select(col("qid"), col("doc_id"),
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("ov").desc, col("doc_id"))).cast("long").as("r_text"))
    vecRank
      .join(textRank, Seq("qid", "doc_id"), "left")
      .withColumn("rrf_micro",
        expr("coalesce(1000000 div (60 + r_vec), 0L) + " +
          "coalesce(1000000 div (60 + r_text), 0L)"))
      .withColumn("rank", row_number().over(Window.partitionBy("qid")
        .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("doc_id"), col("rank"), col("rrf_micro"),
        col("r_vec"), coalesce(col("r_text"), lit(-1L)).as("r_text"))
  }

  private val RRF_SQL =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
      |      FROM embeddings WHERE vec_id >= 5),
      |vs AS (SELECT qid, vec_id AS doc_id, list_dot_product(qv, dv) AS dot
      |       FROM q CROSS JOIN d),
      |vr AS (SELECT qid, doc_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY dot DESC, doc_id) AS BIGINT) AS r_vec
      |       FROM vs),
      |tok AS (SELECT DISTINCT doc_id, w FROM (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents)),
      |ov AS (SELECT qt.doc_id AS qid, ct.doc_id, CAST(COUNT(*) AS BIGINT)
      |         AS ov
      |       FROM tok qt JOIN tok ct USING (w)
      |       WHERE qt.doc_id < 5 AND ct.doc_id >= 5
      |       GROUP BY 1, 2),
      |tr AS (SELECT qid, doc_id,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY ov DESC, doc_id) AS BIGINT) AS r_text
      |       FROM ov),
      |f AS (SELECT vr.qid, vr.doc_id, r_vec, r_text,
      |        COALESCE(1000000 // (60 + r_vec), 0)
      |          + COALESCE(1000000 // (60 + r_text), 0) AS rrf_micro
      |      FROM vr LEFT JOIN tr ON vr.qid = tr.qid
      |        AND vr.doc_id = tr.doc_id)
      |SELECT qid, doc_id, rank, rrf_micro, r_vec,
      |  COALESCE(r_text, -1) AS r_text
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
      |      FROM f)
      |WHERE rank <= 10""".stripMargin

  /** 1-bit sign quantization recall — the 256×-compression scale path
    * next to [[simMatryoshkaRecall]]'s dimension truncation: each of the
    * 64 dims binarizes against its own corpus-learned threshold (the
    * EXACT integer mean of the 2^-20 fixed-point components — never a
    * float average), signatures pack into two 32-bit halves (the 64th
    * bit would wrap a signed BIGINT sum), and search ranks by Hamming
    * distance bit_count(xor(lo))+bit_count(xor(hi)) against the exact
    * dot top-10. At 100 TB the 8-byte signature index IS the deployable
    * artifact — this audit prices the recall it costs. */
  def simSignQuantizeRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val comps = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("xfp",
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)"))
    // Per-dim mean over SIGNED sums: shift to a nonnegative lattice before
    // dividing (xfp >= -2^20 since |x| <= 1) — Spark div truncates toward
    // zero while DuckDB // floors, and they only agree on nonnegative
    // operands (the Mann–Kendall abs-first rule, ADVICE r10).
    val thr = comps.groupBy("j").agg(
      expr("(sum(xfp) + count(1) * 1048576) div count(1) - 1048576").as("t"))
    val sigs = comps.join(broadcast(thr), Seq("j"))
      .groupBy("vec_id")
      .agg(sum(when(col("xfp") > col("t") && col("j") < 32,
          expr("shiftleft(cast(1 as bigint), cast(j as int))"))
          .otherwise(0L)).as("lo"),
        sum(when(col("xfp") > col("t") && col("j") >= 32,
          expr("shiftleft(cast(1 as bigint), cast(j as int) - 32)"))
          .otherwise(0L)).as("hi"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .transform(graft.Ckpt.capped)
    val q = sigs.filter(col("vec_id") < 5).select(col("vec_id").as("qid"),
      col("lo").as("qlo"), col("hi").as("qhi"), col("embedding").as("qv"))
    val d = sigs.filter(col("vec_id") >= 5).select(col("vec_id"),
      col("lo"), col("hi"), col("embedding").as("dv"))
    val wq = Window.partitionBy("qid")
    d.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        graft.functions.Vectors.dot(col("qv"), col("dv")).as("dot"),
        expr("cast(bit_count(lo ^ qlo) + bit_count(hi ^ qhi) as bigint)")
          .as("ham"))
      .withColumn("r_exact", row_number()
        .over(wq.orderBy(col("dot").desc, col("vec_id"))).cast("long"))
      .withColumn("r_ham", row_number()
        .over(wq.orderBy(col("ham").asc, col("vec_id"))).cast("long"))
      .groupBy("qid")
      .agg(sum(when(col("r_exact") <= 10 && col("r_ham") <= 10, 1L)
        .otherwise(0L)).as("n_overlap"))
      .withColumn("recall_milli", expr("n_overlap * 1000 div 10"))
  }

  /** Int8 scalar quantization (SQ8) recall — the 4×-compression member
    * between [[simSignQuantizeRecall]]'s 1-bit signatures and the PQ
    * family's codebooks (the quantizer FAISS/pgvector deploy first):
    * each dim linearly quantizes to 0..255 against its own
    * corpus-learned [min, max] on the 2^-20 fixed-point lattice (codes
    * are exact integers — (xfp−mn)·255 div (mx−mn) with nonnegative
    * operands by construction), search ranks by the exact symmetric
    * code-space L2², and the reference ranking is the FIXED-POINT dot
    * Σ xfp_q·xfp_d (pure BIGINT — no float ordering anywhere in this
    * audit, one better than signq's double dot). Plan: one per-dim
    * range fold broadcast back, one partial-aggregated pair shuffle
    * (5 broadcast query rows), windows per qid. */
  def simSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val comps = t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("xfp",
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)"))
    val rng = comps.groupBy("j").agg(min("xfp").as("mn"), max("xfp").as("mx"))
    val codes = comps.join(broadcast(rng), Seq("j"))
      .select(col("vec_id"), col("j"), col("xfp"),
        expr("(xfp - mn) * 255 div greatest(mx - mn, 1L)").as("code"))
      .transform(graft.Ckpt.capped) // query + corpus legs read it
    val q = codes.filter(col("vec_id") < 5).select(col("j"),
      col("vec_id").as("qid"), col("xfp").as("qx"), col("code").as("qc"))
    val d = codes.filter(col("vec_id") >= 5)
    val wq = Window.partitionBy("qid")
    d.join(broadcast(q), Seq("j"))
      .groupBy("qid", "vec_id")
      .agg(sum(expr("(qc - code) * (qc - code)")).as("dist"),
        sum(expr("qx * xfp")).as("dotfp"))
      .withColumn("r_exact", row_number()
        .over(wq.orderBy(col("dotfp").desc, col("vec_id"))).cast("long"))
      .withColumn("r_sq", row_number()
        .over(wq.orderBy(col("dist").asc, col("vec_id"))).cast("long"))
      .groupBy("qid")
      .agg(sum(when(col("r_exact") <= 10 && col("r_sq") <= 10, 1L)
        .otherwise(0L)).as("n_overlap"))
      .withColumn("recall_milli", expr("n_overlap * 1000 div 10"))
  }

  private val SQ8_SQL =
    """WITH c AS (
      |  SELECT vec_id, p.i - 1 AS j,
      |    CAST(FLOOR(CAST(p.x AS DOUBLE) * 1048576) AS BIGINT) AS xfp
      |  FROM (SELECT vec_id,
      |          unnest(list_apply(embedding,
      |            (x, i) -> struct_pack(x := x, i := i))) AS p
      |        FROM embeddings)),
      |rg AS (SELECT j, MIN(xfp) AS mn, MAX(xfp) AS mx FROM c GROUP BY j),
      |cd AS (SELECT vec_id, j, xfp,
      |         (xfp - mn) * 255 // GREATEST(mx - mn, 1) AS code
      |       FROM c JOIN rg USING (j)),
      |pr AS (SELECT q.vec_id AS qid, d.vec_id,
      |         CAST(SUM((q.code - d.code) * (q.code - d.code)) AS BIGINT) AS dist,
      |         CAST(SUM(q.xfp * d.xfp) AS BIGINT) AS dotfp
      |       FROM cd q JOIN cd d USING (j)
      |       WHERE q.vec_id < 5 AND d.vec_id >= 5
      |       GROUP BY 1, 2),
      |r AS (SELECT qid, vec_id,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY dotfp DESC, vec_id) AS BIGINT) AS r_exact,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY dist ASC, vec_id) AS BIGINT) AS r_sq
      |      FROM pr)
      |SELECT qid, CAST(SUM(CASE WHEN r_exact <= 10 AND r_sq <= 10
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
      |  CAST(SUM(CASE WHEN r_exact <= 10 AND r_sq <= 10
      |    THEN 1 ELSE 0 END) * 1000 // 10 AS BIGINT) AS recall_milli
      |FROM r GROUP BY qid""".stripMargin

  private val SIGNQ_SQL =
    """WITH c AS (
      |  SELECT vec_id, p.i - 1 AS j,
      |    CAST(FLOOR(CAST(p.x AS DOUBLE) * 1048576) AS BIGINT) AS xfp
      |  FROM (SELECT vec_id,
      |          unnest(list_apply(embedding,
      |            (x, i) -> struct_pack(x := x, i := i))) AS p
      |        FROM embeddings)),
      |th AS (SELECT j, (CAST(SUM(xfp) AS BIGINT)
      |           + CAST(COUNT(*) AS BIGINT) * 1048576)
      |         // CAST(COUNT(*) AS BIGINT) - 1048576 AS t
      |       FROM c GROUP BY j),
      |sg AS (SELECT vec_id,
      |        CAST(SUM(CASE WHEN xfp > t AND j < 32
      |          THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
      |          ELSE 0 END) AS BIGINT) AS lo,
      |        CAST(SUM(CASE WHEN xfp > t AND j >= 32
      |          THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INTEGER))
      |          ELSE 0 END) AS BIGINT) AS hi
      |       FROM c JOIN th USING (j) GROUP BY vec_id),
      |sv AS (SELECT s.vec_id, s.lo, s.hi,
      |         CAST(e.embedding AS DOUBLE[]) AS v
      |       FROM sg s JOIN embeddings e USING (vec_id)),
      |sc AS (SELECT q.vec_id AS qid, d.vec_id,
      |         list_dot_product(q.v, d.v) AS dot,
      |         CAST(bit_count(xor(d.lo, q.lo))
      |           + bit_count(xor(d.hi, q.hi)) AS BIGINT) AS ham
      |       FROM sv q CROSS JOIN sv d
      |       WHERE q.vec_id < 5 AND d.vec_id >= 5),
      |r AS (SELECT qid, vec_id,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY dot DESC, vec_id) AS BIGINT) AS r_exact,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |          ORDER BY ham ASC, vec_id) AS BIGINT) AS r_ham
      |      FROM sc)
      |SELECT qid, CAST(SUM(CASE WHEN r_exact <= 10 AND r_ham <= 10
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
      |  CAST(SUM(CASE WHEN r_exact <= 10 AND r_ham <= 10
      |    THEN 1 ELSE 0 END) * 1000 // 10 AS BIGINT) AS recall_milli
      |FROM r GROUP BY qid""".stripMargin

  val queries: Map[String, Q] = Map(
    "sim_rrf_fusion" -> (simRrfFusion _),
    "sim_sign_quantize_recall" -> (simSignQuantizeRecall _),
    "sim_sq8_recall" -> (simSq8Recall _),
    "dedup_sorted_neighborhood" -> (dedupSortedNeighborhood _),
    "dedup_suffix_window" -> (dedupSuffixWindow _),
    "text_template_rate" -> (textTemplateRate _),
    "text_phrase_search" -> (textPhraseSearch _),
    "text_term_burstiness" -> (textTermBurstiness _),
    "text_textrank_keywords" -> (textTextrankKeywords _),
    "data_rater_kappa" -> (dataRaterKappa _),
    "data_skyline" -> (dataSkyline _),
    "dedup_lsh_band_tuning" -> (dedupLshBandTuning _),
    "data_near_dup_rate" -> (dataNearDupRate _),
    "dedup_doc_prefix" -> (dedupDocPrefix _),
    "text_curation_funnel" -> (textCurationFunnel _),
    "data_filter_ablation" -> (dataFilterAblation _),
    "text_diversity" -> (textDiversity _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "data_quality_mass_curve" -> (dataQualityMassCurve _),
    "text_quality_by_source" -> (textQualityBySource _),
    "text_readability" -> (textReadability _),
    "text_langid" -> (textLangid _),
    "text_lang_consistency" -> (textLangConsistency _),
    "text_langid_confusion" -> (textLangidConfusion _),
    "dedup_exact" -> (dedupExact _),
    "dedup_fuzzy_match" -> (dedupFuzzyMatch _),
    "text_source_overlap" -> (textSourceOverlap _),
    "dedup_incremental_exact" -> (dedupIncrementalExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "sim_cosine_topk" -> (simCosineTopk _),
    "sim_mrr_eval" -> (simMrrEval _),
    "sim_matryoshka_recall" -> (simMatryoshkaRecall _),
    "sim_maxsim_topk" -> (simMaxsimTopk _),
    "text_chunk_windows" -> ((s: SparkSession, dir: String) => textChunkWindows(s, dir)),
    "dedup_chunk_level" -> (dedupChunkLevel _))

  val oracle: Map[String, String] = Map(
    "sim_mrr_eval" -> MRR_SQL,
    "sim_rrf_fusion" -> RRF_SQL,
    "sim_sign_quantize_recall" -> SIGNQ_SQL,
    "sim_sq8_recall" -> SQ8_SQL,
    "dedup_sorted_neighborhood" -> SNM_SQL,
    "dedup_suffix_window" -> SUFFIXWIN_SQL,
    "text_template_rate" -> TEMPLATE_SQL,
    "text_phrase_search" -> PHRASE_SQL,
    "text_term_burstiness" -> BURSTINESS_SQL,
    "text_textrank_keywords" -> TEXTRANK_SQL,
    "data_rater_kappa" -> KAPPA_SQL,
    "data_skyline" -> SKYLINE_SQL,
    "dedup_lsh_band_tuning" -> BAND_TUNING_SQL,
    "data_near_dup_rate" -> NEARDUP_RATE_SQL,
    "data_quality_mass_curve" -> QUALITY_CURVE_SQL,
    "text_quality_by_source" -> QUALITY_SOURCE_SQL,
    "dedup_doc_prefix" -> PREFIX_SQL,
    "dedup_incremental_exact" -> INCREMENTAL_SQL,
    // DuckDB regexp_replace needs the explicit 'g' flag (Spark's always
    // replaces all matches).
    "data_filter_ablation" ->
      s"""WITH f AS (
         |  SELECT length(text) AS n_chars_t,
         |    length(regexp_replace(text, '[\\x20-\\x7e]', '', 'g')) AS n_nonascii,
         |    CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(regexp_extract_all(lower(text), '$TOKEN_RE'))) AS BIGINT) AS n_dis,
         |    CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_dig
         |  FROM documents),
         |g AS (
         |  SELECT n_nonascii * 10 <= n_chars_t AS ascii_ok,
         |    n_tok BETWEEN 20 AND 10000 AS len_ok,
         |    n_dis * 10 >= n_tok * 3 AS ttr_ok,
         |    n_dig * 5 <= n_tok AS dig_ok
         |  FROM f),
         |r AS (
         |  SELECT 'ascii' AS filter, NOT ascii_ok AS flagged,
         |    NOT ascii_ok AND len_ok AND ttr_ok AND dig_ok AS unique_kill FROM g
         |  UNION ALL
         |  SELECT 'len', NOT len_ok,
         |    NOT len_ok AND ascii_ok AND ttr_ok AND dig_ok FROM g
         |  UNION ALL
         |  SELECT 'ttr', NOT ttr_ok,
         |    NOT ttr_ok AND ascii_ok AND len_ok AND dig_ok FROM g
         |  UNION ALL
         |  SELECT 'dig', NOT dig_ok,
         |    NOT dig_ok AND ascii_ok AND len_ok AND ttr_ok FROM g)
         |SELECT filter, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(SUM(CASE WHEN unique_kill THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unique_kills,
         |  CAST(SUM(CASE WHEN unique_kill THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000 // COUNT(*) AS marginal_milli
         |FROM r GROUP BY filter""".stripMargin,
    "text_curation_funnel" ->
      s"""WITH f AS (
         |  SELECT length(text) AS n_chars_t,
         |    length(regexp_replace(text, '[\\x20-\\x7e]', '', 'g')) AS n_nonascii,
         |    CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(regexp_extract_all(lower(text), '$TOKEN_RE'))) AS BIGINT) AS n_dis,
         |    CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_dig
         |  FROM documents),
         |g AS (
         |  SELECT n_nonascii * 10 <= n_chars_t AS ascii_ok,
         |    n_tok BETWEEN 20 AND 10000 AS len_ok,
         |    n_dis * 10 >= n_tok * 3 AS ttr_ok,
         |    n_dig * 5 <= n_tok AS dig_ok
         |  FROM f)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN ascii_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_ascii,
         |  CAST(SUM(CASE WHEN ascii_ok AND len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_len,
         |  CAST(SUM(CASE WHEN ascii_ok AND len_ok AND ttr_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_ttr,
         |  CAST(SUM(CASE WHEN ascii_ok AND len_ok AND ttr_ok AND dig_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM g""".stripMargin,
    "text_diversity" -> withSql(TOK_SQL)(
      """SELECT doc_id, n_tokens, n_types,
        |  CAST(n_tokens * n_tokens - s2 AS DOUBLE)
        |    / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson
        |FROM (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM (SELECT doc_id, tk, COUNT(*) AS c
        |        FROM (SELECT doc_id, unnest(ts) AS tk FROM tok)
        |        GROUP BY doc_id, tk)
        |  GROUP BY doc_id)""".stripMargin),
    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                   CAST(b.embedding AS DOUBLE[])) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                       CAST(b.embedding AS DOUBLE[])) >= 0.2""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpeish
         |FROM documents""".stripMargin,
    "text_quality" -> withSql(TOK_SQL)(
      """SELECT doc_id, n_tokens, n_distinct,
        |  CASE WHEN n_tokens > 0 THEN
        |    LEAST(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        |      * (CAST(n_distinct AS DOUBLE) / n_tokens)
        |  ELSE 0.0 END AS quality
        |FROM (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct FROM tok)""".stripMargin),
    "text_readability" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT) AS n_words,
         |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sents,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syll
         |  FROM documents)
         |SELECT doc_id, n_words, n_sents, n_syll,
         |  n_words * 1000 // n_sents AS wps_milli,
         |  n_syll * 1000 // n_words AS spw_milli,
         |  206835 - (1015 * (n_words * 1000 // n_sents)) // 1000
         |    - (84600 * (n_syll * 1000 // n_words)) // 1000 AS flesch_milli
         |FROM m WHERE n_words > 0""".stripMargin,
    "text_lang_consistency" -> LANG_CONSISTENCY_SQL,
    "text_langid_confusion" -> withSql(TOK_SQL, LEX_SQL)(
      """SELECT lang, pred_lang, n,
        |  n * 1000 // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS row_milli
        |FROM (
        |  SELECT d.lang, COALESCE(b.lng, 'unknown') AS pred_lang,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, lng FROM (
        |      SELECT doc_id, lng,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY n_hits DESC, lng) AS rn
        |      FROM (SELECT doc_id, lng, COUNT(*) AS n_hits
        |            FROM (SELECT doc_id, unnest(ts) AS w FROM tok) u
        |            JOIN lex ON u.w = lex.word
        |            GROUP BY doc_id, lng)) WHERE rn = 1) b
        |  ON d.doc_id = b.doc_id
        |  GROUP BY 1, 2)""".stripMargin),
    "text_langid" -> withSql(TOK_SQL, LEX_SQL)(
      """SELECT d.doc_id, COALESCE(b.lng, 'unknown') AS pred_lang,
        |  COALESCE(b.n_hits, 0) AS n_hits
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, lng, n_hits FROM (
        |    SELECT doc_id, lng, n_hits,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lng) AS rn
        |    FROM (SELECT doc_id, lng, COUNT(*) AS n_hits
        |          FROM (SELECT doc_id, unnest(ts) AS w FROM tok) u
        |          JOIN lex ON u.w = lex.word
        |          GROUP BY doc_id, lng)) WHERE rn = 1) b
        |ON d.doc_id = b.doc_id""".stripMargin),
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_fuzzy_match" -> FUZZY_SQL,
    "text_source_overlap" -> OVERLAP_SQL,
    "dedup_ngram_jaccard" -> withSql(TOK_SQL,
      """sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || '_' || ts[i+1] || '_' || ts[i+2] AS sh
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
        |        FROM tok))""".stripMargin,
      "szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)",
      """rare AS (
        |  SELECT s.* FROM sh s
        |  JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d USING (sh)
        |  WHERE d.df <= 100)""".stripMargin,
      """cand AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS shared
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)""".stripMargin)(
      """SELECT doc1, doc2,
        |  CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) AS jaccard
        |FROM cand
        |JOIN szs s1 ON cand.doc1 = s1.doc_id
        |JOIN szs s2 ON cand.doc2 = s2.doc_id
        |WHERE CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) >= 0.5""".stripMargin),
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
        |      FROM embeddings WHERE vec_id >= 5),
        |sims AS (SELECT qid, vec_id, list_dot_product(qv, dv) AS dot
        |         FROM q CROSS JOIN d)
        |SELECT qid, vec_id, dot, rank FROM (
        |  SELECT qid, vec_id, dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
        |  FROM sims) WHERE rank <= 10""".stripMargin,
    "sim_matryoshka_recall" -> MATRYOSHKA_SQL,
    "sim_maxsim_topk" -> MAXSIM_SQL,
    "text_chunk_windows" ->
      s"""WITH $CHUNK_CTES
         |SELECT doc_id, start_tok, n_toks, chunk_hash52 FROM cw_chunks""".stripMargin,
    "dedup_chunk_level" ->
      s"""WITH $CHUNK_CTES,
         |ph AS (SELECT chunk_hash52, COUNT(DISTINCT doc_id) AS n_docs
         |       FROM cw_chunks GROUP BY chunk_hash52)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
         |    AS BIGINT) AS dup_millis
         |FROM cw_chunks JOIN ph USING (chunk_hash52)
         |GROUP BY doc_id""".stripMargin)

  /** Shared chunk-window CTEs (the text_chunk_windows derivation, reused
    * by dedup_chunk_level) — 32-token windows on a 24-token stride. */
  private[operators] lazy val CHUNK_CTES: String =
    s"""cw_d AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$TOKEN_RE') AS ts,
       |    CAST(len(regexp_extract_all(lower(text), '$TOKEN_RE')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |cw_starts AS (
       |  SELECT doc_id, ts, n_tokens,
       |    unnest(generate_series(1, n_tokens, 24)) AS start_tok
       |  FROM cw_d WHERE n_tokens > 0),
       |cw_chunks AS (
       |  SELECT doc_id, start_tok,
       |    LEAST(32, n_tokens - start_tok + 1) AS n_toks,
       |    ('0x' || substr(md5('ck:' ||
       |      array_to_string(ts[start_tok:start_tok + 31], ' ')), 1, 13))::BIGINT
       |      AS chunk_hash52
       |  FROM cw_starts)""".stripMargin

  /** MaxSim oracle: the same 16 slot-dot expressions (DuckDB 1-based
    * inclusive list slices), GREATEST per query slot, left-assoc sum —
    * double arithmetic identical to the Spark projection. */
  private lazy val MAXSIM_SQL: String = {
    def sl(v: String, i: Int) = s"$v[${1 + 16 * i}:${16 * (i + 1)}]"
    val score = (0 until 4).map { i =>
      "GREATEST(" + (0 until 4).map(j =>
        s"list_dot_product(${sl("qv", i)}, ${sl("dv", j)})").mkString(", ") + ")"
    }.mkString("\n      + ")
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 5),
       |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
       |      FROM embeddings WHERE vec_id >= 5),
       |sims AS (SELECT qid, vec_id,
       |      $score AS maxsim
       |  FROM q CROSS JOIN d)
       |SELECT qid, vec_id, maxsim, rank FROM (
       |  SELECT qid, vec_id, maxsim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rank
       |  FROM sims) WHERE rank <= 10""".stripMargin
  }
}
