package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data text preparation operators (SURVEY §2c continued):
  * scrubbing, filtering, bucketing, repetition scoring, and hash-based
  * splitting. All are narrow projections or single-shuffle aggregations;
  * all have exact DuckDB oracles (patterns restricted to the RE2 ∩ Java
  * regex subset).
  */
object TextPrep {

  type Q = (SparkSession, String) => DataFrame

  private def withSql(ctes: String*)(body: String): String =
    ctes.mkString("WITH ", ",\n", "\n") + body

  /** PII scrubbing: redact emails and long digit runs. The testdata has
    * no PII, so a deterministic contact line is appended first — the
    * redaction then provably fires on every row. */
  def textScrub(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("raw",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 5550123"), col("doc_id")))
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
          "[0-9]{4,}", "<NUM>").as("clean"))

  private val SCRUB_SQL =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(text || ' contact user' || CAST(doc_id AS VARCHAR)
      |                     || '@example.com or call 5550123' || CAST(doc_id AS VARCHAR),
      |      '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |    '[0-9]{4,}', '<NUM>', 'g') AS clean
      |FROM documents""".stripMargin

  /** Stopword removal: tokens minus a broadcast lexicon, rejoined in
    * order. Pure projection (the lexicon is inlined into the filter). */
  def textStopwordFilter(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("a", "the", "l")
    val stopList = stop.map(w => s"'$w'").mkString(", ")
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"array_join(filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0), " +
          s"w -> NOT w IN ($stopList)), ' ')").as("filtered"))
  }

  private val STOPWORD_SQL =
    """SELECT doc_id,
      |  array_to_string(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |    w -> NOT w IN ('a', 'the', 'l')), ' ') AS filtered
      |FROM documents""".stripMargin

  /** Length-decile bucketing + per-decile stats: the curriculum/batching
    * shape (group documents by size class). Semantics are exactly
    * NTILE(10) OVER (ORDER BY n_chars, doc_id) — but computed WITHOUT a
    * global single-partition window (the 100 TB killer): per-decile
    * count/min/max of n_chars is invariant to the doc_id tie-break, so we
    * (1) compress to a histogram over distinct n_chars (one shuffle; rows
    * bounded by distinct lengths, not corpus size), (2) turn it into exact
    * global rank ranges via a distributed prefix-scan — range-partition,
    * window WITHIN each partition, add per-partition offsets (a
    * #partitions-row collect) — and (3) intersect each value's rank range
    * with the closed-form NTILE bucket boundaries. Exact at any scale;
    * nothing wider than the histogram ever crosses a single task. */
  def textLengthDeciles(s: SparkSession, dir: String): DataFrame =
    lengthDeciles(s, t(s, dir, "documents"))

  /** Library form over any frame with (n_chars, doc_id). */
  def lengthDeciles(s: SparkSession, docs: DataFrame): DataFrame = {
    // Eager localCheckpoint (not persist): freezes the pid assignment so
    // the offset math below and the final plan see the same partitioning,
    // computes the histogram once, and — unlike CacheManager-tracked
    // persists — its blocks are dropped by the ContextCleaner as soon as
    // the result frame goes out of scope, so session-long sweeps (Verify,
    // Bench) never accumulate cached histograms.
    val hist = docs
      .groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
      .repartitionByRange(col("n_chars"))
      .sortWithinPartitions("n_chars")
      .withColumn("pid", spark_partition_id())
      .transform(graft.Ckpt.capped)
    val partTotals = hist.groupBy("pid").agg(sum("cnt").as("t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = partTotals.map(_._2).sum
    var acc = 0L
    val offsets = partTotals.map { case (pid, tot) =>
      val o = (pid, acc); acc += tot; o
    }
    import s.implicits._
    val offDf = offsets.toSeq.toDF("pid", "off")
    // closed-form NTILE boundary math — shared with eventsRfm (graft.NtileSplit)
    val sp = graft.NtileSplit(n, 10)
    val w = Window.partitionBy("pid").orderBy("n_chars")
    hist.withColumn("lcum", sum("cnt").over(w))
      .join(broadcast(offDf), "pid")
      .withColumn("hi", col("off") + col("lcum"))
      .withColumn("lo", col("hi") - col("cnt") + 1)
      .withColumn("decile", explode(sequence(sp.tile(col("lo")), sp.tile(col("hi")))))
      .withColumn("rows_in",
        least(col("hi"), sp.bucketEnd(col("decile"))) -
          greatest(col("lo"), sp.bucketStart(col("decile"))) + 1)
      .groupBy("decile")
      .agg(sum("rows_in").as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
  }

  private val DECILES_SQL =
    """SELECT decile, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM (SELECT n_chars,
      |        CAST(NTILE(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile
      |      FROM documents)
      |GROUP BY decile""".stripMargin

  /** Lempel–Ziv (LZ78) complexity per document over the first 64 word
    * tokens — the compression-ratio quality proxy next to
    * [[textRepetition]]'s bigram mode (repetition catches ONE dominant
    * bigram; LZ complexity prices ALL phrase reuse at once: a templated
    * doc parses into few long phrases, an incompressible one into
    * ~T/log T short ones). The parse runs in the new
    * functions/Lz78Count.scala codegen Expression (one pass, zero
    * shuffles before the scan-projection); the oracle replays the exact
    * greedy parse as a DuckDB list_reduce whose LIST state is
    * [current-phrase, dict...] (struct-field state is the r11 landmine).
    * The 64-token window is part of the operator contract — it bounds
    * the fold quadratics on BOTH engines and is the standard fixed-probe
    * form of the metric. */
  def textLzComplexity(s: SparkSession, dir: String): DataFrame = {
    SketchQueries.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        least(expr(
          "cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)"),
          lit(64L)).as("n_win"),
        expr("lz78_count(text)").as("n_phrases"))
      .filter(col("n_win") > 0)
      .withColumn("complexity_milli", expr("n_phrases * 1000 div n_win"))
  }

  private val LZ_SQL =
    """WITH tok AS (
      |  SELECT doc_id, (regexp_extract_all(lower(text), '[a-z0-9]+'))[1:64] AS ts
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_win,
      |    list_reduce(
      |      list_prepend([''], [[t] FOR t IN ts]),
      |      (acc, e) -> CASE
      |        WHEN list_contains(acc[2:],
      |          CASE WHEN acc[1] = '' THEN e[1] ELSE acc[1] || '_' || e[1] END)
      |        THEN list_prepend(
      |          CASE WHEN acc[1] = '' THEN e[1] ELSE acc[1] || '_' || e[1] END,
      |          acc[2:])
      |        ELSE list_prepend('', list_append(acc[2:],
      |          CASE WHEN acc[1] = '' THEN e[1] ELSE acc[1] || '_' || e[1] END))
      |      END) AS st
      |  FROM tok WHERE len(ts) > 0)
      |SELECT doc_id, n_win,
      |  CAST(len(st) - 1 + CASE WHEN st[1] <> '' THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_phrases,
      |  CAST(len(st) - 1 + CASE WHEN st[1] <> '' THEN 1 ELSE 0 END AS BIGINT)
      |    * 1000 // n_win AS complexity_milli
      |FROM f""".stripMargin

  /** Repetition scoring: most frequent word bigram count / bigram total —
    * high values flag boilerplate/spam. Bigrams via the codegen-friendly
    * window-lead trick (cf. Shingles); one shuffle on (doc, bigram). */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat(col("w"), lit("_"), lead("w", 1).over(w)).as("bg"))
      .filter(col("bg").isNotNull)
    bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("repetition"),
        sum(col("c")).as("n_bigrams"))
  }

  private val REPETITION_SQL =
    """SELECT doc_id,
      |  CAST(MAX(c) AS DOUBLE) / SUM(c) AS repetition,
      |  CAST(SUM(c) AS BIGINT) AS n_bigrams
      |FROM (
      |  SELECT doc_id, bg, COUNT(*) AS c FROM (
      |    SELECT doc_id, ts[i] || '_' || ts[i+1] AS bg
      |    FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |          FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |                FROM documents)))
      |  GROUP BY doc_id, bg)
      |GROUP BY doc_id""".stripMargin

  /** Conditional bigram entropy rate per language — H(next|prev) =
    * Σ c(uv)·log₂(c(u·)/c(uv)) / N on the exact [[graft.functions.Log2Fp]]
    * lattice (1024·log₂, pure integers, one floor per term — ln/pow are
    * engine-divergent), next to the UNIGRAM entropy over the same left
    * marginal and their difference (the information gain a next-word
    * model buys over frequency alone — the corpus-level predictability
    * readout text_bigram_surprisal's per-bigram rows don't give). Plan:
    * the bigram aggregate is checkpointed and feeds both legs; marginals
    * ride partition windows over the AGGREGATE (≤ vocab² rows); per-lang
    * folds are final. Log2Fp's total < 2³² envelope = tokens-per-lang;
    * past ~4.3e9 it fails loudly on both engines (the r12 guard). */
  def textConditionalEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val big = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(Shingles.tokens(col("text"))).as(Seq("pos", "u")))
      .withColumn("v", lead("u", 1).over(w))
      .filter(col("v").isNotNull)
      .groupBy("lang", "u", "v").agg(count(lit(1)).as("c_uv"))
      .transform(graft.Ckpt.capped) // conditional + unigram legs read it
    val wu = Window.partitionBy("lang", "u")
    val cond = big
      .withColumn("c_u", sum("c_uv").over(wu))
      .withColumn("term",
        col("c_uv") * graft.functions.Log2Fp(col("c_u"), col("c_uv")))
      .groupBy("lang")
      .agg(sum("c_uv").as("n_bigrams"),
        count(lit(1)).as("vocab_bigrams"),
        sum("term").as("tc"))
    val wl = Window.partitionBy("lang")
    val uni = big.groupBy("lang", "u").agg(sum("c_uv").as("c_u"))
      .withColumn("n", sum("c_u").over(wl))
      .withColumn("term", col("c_u") * graft.functions.Log2Fp(col("n"), col("c_u")))
      .groupBy("lang")
      .agg(count(lit(1)).as("vocab_unigrams"), sum("term").as("tu"))
    cond.join(uni, Seq("lang"))
      .withColumn("h_cond_1024", expr("tc div n_bigrams"))
      .withColumn("h_unigram_1024", expr("tu div n_bigrams"))
      .withColumn("info_gain_1024", expr("h_unigram_1024 - h_cond_1024"))
      .select("lang", "n_bigrams", "vocab_unigrams", "vocab_bigrams",
        "h_cond_1024", "h_unigram_1024", "info_gain_1024")
  }

  /** Inline DuckDB replay of Log2Fp(t, c): 1024·log₂(t/c) via the same
    * two-step division + 10 squaring rounds (list state — struct-field
    * state is the r11 landmine). Shared by every Log2Fp oracle here. */
  private[operators] def lfpSql(tE: String, cE: String): String = {
    val e = s"(length(bin(($tE) // ($cE))) - 1)"
    val d = s"(($cE) * (CAST(1 AS BIGINT) << $e))"
    s"""($e * 1024 + list_reduce(list_prepend(
       |  [(($tE) // $d) * 1073741824 + ((($tE) % $d) * 1073741824) // $d,
       |   CAST(0 AS BIGINT)],
       |  list_transform(range(1, 11),
       |    i -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
       |  (acc, x) ->
       |    CASE WHEN (acc[1] * acc[1]) // 1073741824 >= 2147483648
       |    THEN [((acc[1] * acc[1]) // 1073741824) // 2, acc[2] * 2 + 1]
       |    ELSE [(acc[1] * acc[1]) // 1073741824, acc[2] * 2]
       |    END)[2])""".stripMargin
  }

  private lazy val CONDENT_SQL =
    s"""WITH bg AS (
       |  SELECT lang, u, v, CAST(COUNT(*) AS BIGINT) AS c_uv FROM (
       |    SELECT lang, ts[i] AS u, ts[i+1] AS v
       |    FROM (SELECT lang, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |          FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
       |                FROM documents)))
       |  GROUP BY lang, u, v),
       |cm AS (
       |  SELECT *, CAST(SUM(c_uv) OVER (PARTITION BY lang, u) AS BIGINT) AS c_u
       |  FROM bg),
       |cond AS (
       |  SELECT lang, CAST(SUM(c_uv) AS BIGINT) AS n_bigrams,
       |    CAST(COUNT(*) AS BIGINT) AS vocab_bigrams,
       |    CAST(SUM(c_uv * ${lfpSql("c_u", "c_uv")}) AS BIGINT) AS tc
       |  FROM cm GROUP BY lang),
       |um AS (
       |  SELECT lang, u, CAST(SUM(c_uv) AS BIGINT) AS c_u FROM bg
       |  GROUP BY lang, u),
       |un AS (
       |  SELECT *, CAST(SUM(c_u) OVER (PARTITION BY lang) AS BIGINT) AS n
       |  FROM um),
       |uni AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab_unigrams,
       |    CAST(SUM(c_u * ${lfpSql("n", "c_u")}) AS BIGINT) AS tu
       |  FROM un GROUP BY lang)
       |SELECT lang, n_bigrams, vocab_unigrams, vocab_bigrams,
       |  tc // n_bigrams AS h_cond_1024,
       |  tu // n_bigrams AS h_unigram_1024,
       |  tu // n_bigrams - tc // n_bigrams AS info_gain_1024
       |FROM cond JOIN uni USING (lang)""".stripMargin

  /** Hash-width collision audit — how many bits does a content id NEED
    * at this corpus size? For widths w ∈ {16, 20, 24}: documents hashed
    * to md5-derived buckets mod 2^w ('hw:' salt), observed collisions =
    * n − distinct buckets, against the exact birthday-bound expectation
    * E[collisions] ≈ n(n−1)/2^(w+1) as a milli integer (pure BIGINT
    * division — n(n−1)·1000 stays exact to n ≈ 3e7; beyond that divide
    * n first). The table that says which id width a dedup/shard key can
    * safely shrink to — bottomk/h52 orderings die when two hashes
    * collide at a boundary (the r7 52-bit landmine, now measured
    * instead of assumed). One doc-grain projection; each width leg is a
    * distinct-count aggregate on the hashed key. */
  def dataHashWidthAudit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(expr("cast(conv(substring(md5(cast(concat('hw:', text) " +
        "as binary)), 1, 13), 16, 10) as bigint)").as("h"))
      .select(col("h"), explode(expr(
        "array(16L, 20L, 24L)")).as("w"))
      .select(col("w"), expr("h % (cast(1 as bigint) << cast(w as int))")
        .as("bucket"))
      .groupBy("w")
      .agg(count(lit(1)).as("n_ids"),
        countDistinct("bucket").as("n_buckets"))
      .select(col("w"), col("n_ids"),
        (col("n_ids") - col("n_buckets")).as("n_collisions"),
        expr("n_ids * (n_ids - 1) * 1000 div (cast(1 as bigint) << " +
          "cast(w + 1 as int))").as("expected_milli"))

  private val HASHW_SQL =
    """WITH h AS (
      |  SELECT ('0x' || substr(md5('hw:' || text), 1, 13))::BIGINT AS h
      |  FROM documents),
      |e AS (
      |  SELECT h, unnest([CAST(16 AS BIGINT), CAST(20 AS BIGINT),
      |                    CAST(24 AS BIGINT)]) AS w
      |  FROM h),
      |a AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_ids,
      |    CAST(COUNT(DISTINCT h % (CAST(1 AS BIGINT) << CAST(w AS INTEGER)))
      |      AS BIGINT) AS n_buckets
      |  FROM e GROUP BY 1)
      |SELECT w, n_ids, n_ids - n_buckets AS n_collisions,
      |  n_ids * (n_ids - 1) * 1000
      |    // (CAST(1 AS BIGINT) << CAST(w + 1 AS INTEGER)) AS expected_milli
      |FROM a""".stripMargin

  /** Deterministic content-hash train/val split (never split on row order
    * or random()): first hex digit of md5(text) ≤ 'd' ⇒ ~87.5% train. */
  def dataSplitHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        when(substring(md5(col("text").cast("binary")), 1, 1) <= "d", "train")
          .otherwise("holdout").as("split"))

  private val SPLIT_SQL =
    """SELECT doc_id,
      |  CASE WHEN substr(md5(text), 1, 1) <= 'd' THEN 'train'
      |       ELSE 'holdout' END AS split
      |FROM documents""".stripMargin

  /** Cross-split contamination audit — the eval-integrity gate a
    * hash split alone cannot give: [[dataSplitHash]] assigns documents
    * independently, so two NEAR-duplicates (one crawl apart) can land
    * on opposite sides of the train/holdout fence and leak eval
    * answers into training. Every fuzzy near-dup pair
    * ([[TextQueries.dedupFuzzyMatch]] — blocked, capped, lev ≤ 12)
    * is labeled with both endpoints' splits and a `leaked` verdict;
    * downstream curation drops the holdout twin of every leaked pair.
    * Plan: the pair relation is bounded (Σ C(block,2) with block ≤ 64)
    * and orders of magnitude smaller than the corpus, so both label
    * joins broadcast it against the md5-split scan — the corpus never
    * shuffles at all. */
  def dataSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val sp = dataSplitHash(s, dir)
    val a = sp.toDF("doc_a", "split_a")
      .join(broadcast(TextQueries.dedupFuzzyMatch(s, dir)), Seq("doc_a"))
    sp.toDF("doc_b", "split_b").join(broadcast(a), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaked"))
  }

  private val LEAKAGE_SQL =
    s"""WITH pairs AS (${TextQueries.FUZZY_SQL}),
       |sp AS (SELECT doc_id,
       |         CASE WHEN substr(md5(text), 1, 1) <= 'd' THEN 'train'
       |              ELSE 'holdout' END AS split
       |       FROM documents)
       |SELECT doc_a, doc_b, lev, sa.split AS split_a, sb.split AS split_b,
       |  sa.split <> sb.split AS leaked
       |FROM pairs JOIN sp sa ON sa.doc_id = doc_a
       |JOIN sp sb ON sb.doc_id = doc_b""".stripMargin

  /** Corpus-frequency rarity scoring — the unigram-LM quality-signal
    * shape without the cross-engine hazard: a true logprob score sums
    * ln() outputs, and libm implementations differ in the last ulp, so
    * instead the score stays in EXACT integer/rational space — mean
    * corpus frequency of the doc's tokens (long sums / count) and the
    * hapax fraction (tokens seen nowhere else). Boilerplate scores a high
    * mean frequency and near-zero hapax share; rich natural text the
    * opposite. Plan: one token explode, one vocabulary aggregate, one
    * (big-big, AQE-planned) hash join on the token, one per-doc
    * aggregate — every stage hash-partitioned, no driver state. */
  def textRarity(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("c"))
    toks.join(freq, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("c")).cast("double") / count(lit(1))).as("mean_token_freq"),
        (sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("hapax_frac"))
  }

  private val RARITY_SQL =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_token_freq,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS hapax_frac
      |FROM toks JOIN freq USING (w) GROUP BY doc_id""".stripMargin

  private[graft] val PACK_BUDGET = 1024L
  private[graft] val PACK_BUCKETS = 16L

  /** Sequence packing — greedy concatenation of documents into
    * fixed-token-budget training examples (the step between curation and
    * the trainer): docs are bucketed (doc_id mod B), each bucket is
    * scanned in doc_id order, and an example closes when the next doc
    * would overflow the budget; an oversized doc gets its own example.
    * Packing is inherently a stateful sequential scan, so this is one of
    * the few justified mapPartitions: repartition on bucket +
    * sortWithinPartitions gives each bucket as a contiguous sorted run
    * inside one partition, and the scan streams it with O(1) state —
    * no per-bucket buffering, so bucket size is unbounded and B only
    * sets parallelism (at 100 TB, B ≈ cluster cores × a few). The
    * deterministic doc order (never row order) keeps assignment stable
    * under retries. Oracle: DuckDB recursive CTE replaying the same
    * greedy walk per bucket. */
  def dataPackSequences(s: SparkSession, dir: String): DataFrame =
    packTokenRows(
      t(s, dir, "documents")
        .select((col("doc_id") % PACK_BUCKETS).as("bucket"), col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
            .cast("long").as("n_tokens")),
      PACK_BUDGET)

  /** Length-bucketed padding waste — the cost [[dataPackSequences]]
    * exists to avoid: batching pads every doc to its bucket cap (the
    * next power of two, floored at 16 — the dynamic-batching shape),
    * so per source the wasted slots are Σ(cap − len). cap is computed
    * on the exact bit lattice (cap = 1 << bits(len−1), bits via the
    * unpadded binary-string length both engines share — no float log2
    * anywhere). waste_milli →0 means lengths hug the bucket grid;
    * →500 means half the batch is padding and packing pays for itself.
    * Plan: one narrow codegen projection + ONE |sources|-row agg. */
  def dataPaddingWaste(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("len"))
      .filter(col("len") >= 1)
      .withColumn("cap",
        greatest(lit(16L), expr("shiftleft(1L, length(bin(len - 1)))")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("total_tokens"),
        sum(col("cap")).as("total_slots"),
        count_distinct(col("cap")).as("n_buckets"))
      .withColumn("waste_milli",
        expr("(total_slots - total_tokens) * 1000 div total_slots"))

  private val PADDING_SQL =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS len
      |  FROM documents
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1),
      |c AS (
      |  SELECT source, len,
      |    GREATEST(16, 1 << LENGTH(bin(len - 1))) AS cap
      |  FROM d)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len) AS BIGINT) AS total_tokens,
      |  CAST(SUM(cap) AS BIGINT) AS total_slots,
      |  CAST(COUNT(DISTINCT cap) AS BIGINT) AS n_buckets,
      |  CAST(SUM(cap) - SUM(len) AS BIGINT) * 1000
      |    // CAST(SUM(cap) AS BIGINT) AS waste_milli
      |FROM c GROUP BY source""".stripMargin

  /** Leave-one-source-out corpus impact — the cheapest source-ablation
    * sheet (what retraining-with-source-removed would cost weeks to
    * answer, an additive statistic answers in one aggregate): per source
    * the corpus mean document token length WITHOUT that source vs the
    * global mean, both on the exact divide-first milli lattice, and the
    * signed delta. A big positive delta means the source drags the
    * corpus short (boilerplate fragments); negative means it carries
    * the long-form mass. The shape generalizes to any additive quality
    * metric. Plan: one narrow codegen projection + ONE |sources|-row
    * agg; both global windows ride the 20-row aggregate. */
  def dataLooSourceImpact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("len"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("sum_len"))
      .withColumn("n_all", sum("n_docs").over(Window.partitionBy()))
      .withColumn("s_all", sum("sum_len").over(Window.partitionBy()))
      .select(col("source"), col("n_docs"),
        expr("sum_len * 1000 div n_docs").as("own_mean_milli"),
        expr("s_all * 1000 div n_all").as("global_mean_milli"),
        expr("(s_all - sum_len) * 1000 div (n_all - n_docs)")
          .as("loo_mean_milli"))
      .withColumn("delta_milli",
        col("loo_mean_milli") - col("global_mean_milli"))

  private val LOO_SQL =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS len
      |  FROM documents),
      |g AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len) AS BIGINT) AS sum_len
      |  FROM d GROUP BY source),
      |w AS (
      |  SELECT source, n_docs, sum_len,
      |    CAST(SUM(n_docs) OVER () AS BIGINT) AS n_all,
      |    CAST(SUM(sum_len) OVER () AS BIGINT) AS s_all
      |  FROM g)
      |SELECT source, n_docs,
      |  sum_len * 1000 // n_docs AS own_mean_milli,
      |  s_all * 1000 // n_all AS global_mean_milli,
      |  (s_all - sum_len) * 1000 // (n_all - n_docs) AS loo_mean_milli,
      |  (s_all - sum_len) * 1000 // (n_all - n_docs)
      |    - s_all * 1000 // n_all AS delta_milli
      |FROM w""".stripMargin

  /** Reference-vocabulary coverage per source — the tokenizer-health
    * read BETWEEN [[textUnigramDrift]] (distribution distance) and
    * data_tokenizer_fertility (subword blowup): what share of each
    * source's token OCCURRENCES falls inside the corpus top-16
    * reference vocabulary (rank by count desc, term — the bounded
    * vocab a production tokenizer freezes). A source whose coverage
    * collapses is emitting content the frozen vocab can't represent —
    * the retrain trigger. Plan: ONE (source, term) partial agg; the
    * vocab rank window rides the ≤|vocab|-row term rollup and joins
    * back broadcast; final agg is |sources|-row. */
  def dataVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "documents")
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    val vocab = st.groupBy("w").agg(sum("c").as("n_total"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_total").desc, col("w"))))
      .filter(col("rank") <= 16).select("w")
    st.join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("w"), "left")
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, col("c")).otherwise(0L))
          .as("n_covered"),
        sum(when(col("in_vocab").isNotNull, 1L).otherwise(0L))
          .as("n_vocab_terms_seen"))
      .withColumn("coverage_milli", expr("n_covered * 1000 div n_tokens"))
  }

  private val VOCAB_COVERAGE_SQL =
    """WITH st AS (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |    FROM documents)
      |  GROUP BY source, w),
      |v AS (
      |  SELECT w FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS n_total
      |                 FROM st GROUP BY w)
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY n_total DESC, w) <= 16)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.w IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
      |    AS n_covered,
      |  CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_vocab_terms_seen,
      |  CAST(SUM(CASE WHEN v.w IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
      |    * 1000 // CAST(SUM(c) AS BIGINT) AS coverage_milli
      |FROM st LEFT JOIN v ON v.w = st.w
      |GROUP BY source""".stripMargin

  /** Core packing walk over (bucket, doc_id, n_tokens) rows — see
    * [[dataPackSequences]] for the contract. */
  private[graft] def packTokenRows(rows: DataFrame, budget: Long): DataFrame = {
    import rows.sparkSession.implicits._
    rows.as[(Long, Long, Long)]
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .mapPartitions { it =>
        var curBucket = Long.MinValue
        var acc = 0L
        var ex = 0L
        it.map { case (b, id, tok) =>
          if (b != curBucket) { curBucket = b; ex = 0L; acc = tok }
          else if (acc + tok > budget) { ex += 1; acc = tok }
          else acc += tok
          (b, id, tok, ex)
        }
      }
      .toDF("bucket", "doc_id", "n_tokens", "example_id")
  }

  private val PACK_SQL =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id % $PACK_BUCKETS AS bucket, doc_id,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id % $PACK_BUCKETS
       |      ORDER BY doc_id) AS rn
       |  FROM documents),
       |walk AS (
       |  SELECT bucket, doc_id, n_tokens, rn, n_tokens AS acc,
       |    CAST(0 AS BIGINT) AS example_id
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.bucket, d.doc_id, d.n_tokens, d.rn,
       |    CASE WHEN w.acc + d.n_tokens > $PACK_BUDGET
       |         THEN d.n_tokens ELSE w.acc + d.n_tokens END,
       |    CASE WHEN w.acc + d.n_tokens > $PACK_BUDGET
       |         THEN w.example_id + 1 ELSE w.example_id END
       |  FROM d JOIN walk w ON d.bucket = w.bucket AND d.rn = w.rn + 1)
       |SELECT bucket, doc_id, n_tokens, example_id FROM walk""".stripMargin

  /** Target documents per training shard: the shard count scales with the
    * corpus (ceil(n / target)), so parallelism grows at 100 TB instead of
    * funnelling the whole corpus through a fixed task count. The oracle
    * SQL embeds the SAME heuristic as a scalar subquery, so both engines
    * derive the shard count from the table itself. */
  private[graft] val SHARD_TARGET_DOCS = 64L

  /** The 60-bit md5-prefix order key shared by every salted sampling /
    * sharding operator: ONE definition of the hash width and conv
    * lattice, so a change lands everywhere at once (each caller still
    * supplies its OWN salt — the shared-salt correlation landmine).
    * `concatSql` is the salted SQL concat feeding the hash. */
  private def h60(concatSql: String): Column =
    expr(s"cast(conv(substring(md5(cast($concatSql as binary)), 1, 15)," +
      " 16, 10) as bigint)")

  /** Effective shard count: explicit conf override (production knob —
    * e.g. to pin shard count across incremental runs), else the
    * size-derived default. Verify's oracle mirrors only the default
    * heuristic; the override path is spec-covered instead. */
  private[graft] def shardCount(s: SparkSession, nDocs: Long): Long =
    s.conf.getOption("graft.shuffle.shards").map(_.toLong)
      .getOrElse(math.max(1L, (nDocs + SHARD_TARGET_DOCS - 1) / SHARD_TARGET_DOCS))

  /** Deterministic corpus shuffle into training shards: every document
    * gets a content-independent pseudo-random shard and a stable position
    * within it (the "global shuffle before sharded ingestion" step —
    * hash-ordered so retries and re-runs produce byte-identical shards).
    * Plan: one driver-side metadata count sizes the shard grid (same
    * class as range-partition sampling; column-pruned, so the scan reads
    * no data pages), then one narrow projection computes the 60-bit
    * md5-prefix order key, one exchange on shard id, and the intra-shard
    * row_number rides that partitioning — at production, shards map 1:1
    * to output files via partitionBy(shard). */
  def dataShuffleShards(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val shards = shardCount(s, docs.count())
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs
      .select(col("doc_id"), h60("concat('shard:', doc_id)").as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  private val SHARDS_SQL =
    s"""WITH n AS (
       |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / $SHARD_TARGET_DOCS.0) AS BIGINT)) AS nsh
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents)
       |SELECT doc_id, h % (SELECT nsh FROM n) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY h % (SELECT nsh FROM n)
       |    ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM h""".stripMargin

  /** Small-file compaction planner — the lakehouse maintenance primitive
    * behind every 100 TB table: pack doc_id-ordered "files" (documents,
    * size = octet_length) into contiguous target-size bins, preserving
    * sort/cluster order so the rewrite stays a sequential scan per bin.
    * bin = floor(exclusive-prefix-bytes / TARGET) over global doc_id
    * order.
    *
    * The global running sum is computed as a two-level distributed
    * prefix sum, NOT a single-partition window: doc_ids range-bucket
    * into [[COMPACT_BUCKETS]] contiguous spans, per-bucket byte totals
    * (one partial-aggregated shuffle over B rows) turn into exclusive
    * bucket offsets via a window over those B rows only, and the
    * broadcast offsets join back so each bucket computes its local
    * cumsum independently — the orderBy window is partitionBy-bucket,
    * so no task ever sees more than one bucket span. At 1000 executors
    * the same plan holds with B scaled to the file count. All integer
    * arithmetic (byte counts), so the oracle is the plain single-window
    * formulation — two independent plans, one lattice. */
  private[graft] val COMPACT_TARGET_BYTES = 65536L
  private[graft] val COMPACT_BUCKETS = 32

  def dataCompactFiles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("bytes"))
    // one O(1) scalar agg (column-pruned scan) sizes the bucket grid
    val mm = docs.agg(min("doc_id"), max("doc_id")).head()
    require(!mm.isNullAt(0), "dataCompactFiles on an empty documents table")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val bucketed = docs.withColumn("bkt",
      ((col("doc_id") - lit(lo)) * COMPACT_BUCKETS / span).cast("long"))
    val offsets = Scale.bucketOffsets(bucketed, "bkt", Seq("bytes"))
    val wl = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum0",
        coalesce(sum("bytes").over(wl), lit(0L)) + col("bytes_off"))
      .select(col("doc_id"), col("bytes"),
        expr(s"cum0 div $COMPACT_TARGET_BYTES").as("bin"))
  }

  // DuckDB: strlen = UTF-8 BYTE length (octet_length only binds to BLOB);
  // length() would count characters and drift from Spark's octet_length
  private val COMPACT_SQL =
    s"""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS bytes,
       |  CAST(COALESCE(SUM(CAST(strlen(text) AS BIGINT))
       |    OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) // $COMPACT_TARGET_BYTES AS BIGINT) AS bin
       |FROM documents""".stripMargin

  /** Heaps'-law vocabulary-growth curve — the is-more-data-still-worth-
    * it readout every corpus build wants (new types per marginal token;
    * a flattening curve means the source is mined out): per doc the
    * token count and the count of types whose FIRST corpus occurrence
    * (min doc_id over the token posting) lands on this doc, then
    * cumulative tokens/types in doc_id order. Exact integers; the
    * cumulative sums use the same two-level distributed prefix sum as
    * [[dataCompactFiles]] (per-bucket totals → ≤[[COMPACT_BUCKETS]]-row
    * offsets window → within-bucket window), so no single-task global
    * window exists at any corpus size — the oracle keeps the one-window
    * formulation: two plans, one integer lattice. */
  def textVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    // per-doc token counts come from the docs scan itself (NOT the
    // exploded stream) so zero-token documents keep their place on the
    // curve; only the first-occurrence fold needs the explode
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), Shingles.tokens(col("text")).as("ts"))
    val firstSeen = docs.select(col("doc_id"), explode(col("ts")).as("w"))
      .groupBy("w").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("new_types"))
    // 3 longs per doc, but referenced by the grid-sizing action, the
    // offsets aggregate AND the final join — checkpoint so the token
    // explode + aggregates run once (triangles discipline)
    val base = docs.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(firstSeen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .transform(graft.Ckpt.capped)
    val mm = base.agg(min("doc_id"), max("doc_id")).head()
    require(!mm.isNullAt(0), "textVocabGrowth on an empty documents table")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = math.max(1L, hi - lo + 1)
    val bucketed = base.withColumn("bkt",
      ((col("doc_id") - lit(lo)) * COMPACT_BUCKETS / span).cast("long"))
    val offsets = Scale.bucketOffsets(bucketed, "bkt",
      Seq("n_tokens", "new_types"))
    val wl = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .select(col("doc_id"), col("n_tokens"), col("new_types"),
        (sum("n_tokens").over(wl) + col("n_tokens_off")).as("cum_tokens"),
        (sum("new_types").over(wl) + col("new_types_off")).as("cum_types"))
  }

  private val VOCAB_SQL =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |pd AS (SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |           AS n_tokens
      |       FROM documents),
      |fs AS (SELECT MIN(doc_id) AS doc_id FROM tok GROUP BY w),
      |nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
      |       FROM fs GROUP BY 1)
      |SELECT pd.doc_id, pd.n_tokens,
      |  COALESCE(nt.new_types, 0) AS new_types,
      |  CAST(SUM(pd.n_tokens) OVER w AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER w AS BIGINT) AS cum_types
      |FROM pd LEFT JOIN nt USING (doc_id)
      |WINDOW w AS (ORDER BY pd.doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** Per-source cost of near-dup removal — the budget readout a corpus
    * owner reads before signing off a dedup pass (which feeds are
    * paying, and how many tokens go with them): victims are every doc
    * appearing on the GREATER side of a [[TextQueries.dedupFuzzyMatch]]
    * pair (greedy keep-smallest survivorship — transitive closure is
    * dedup_cluster's job; this is the per-pair account), rolled up per
    * source with exact token losses and a milli drop rate. Victim ids
    * are a tiny checkpointed set broadcast-joined back, so the corpus
    * scans once and only (id, source, token-count) rows aggregate. */
  def dataDedupImpact(s: SparkSession, dir: String): DataFrame = {
    val victims = TextQueries.dedupFuzzyMatch(s, dir)
      .select(col("doc_b").as("doc_id")).distinct().transform(graft.Ckpt.capped)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(Shingles.tokens(col("text"))).cast("long").as("n_toks"))
      .join(broadcast(victims.withColumn("dropped", lit(1L))),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
        sum("n_toks").as("n_tokens"),
        sum(when(col("dropped").isNotNull, col("n_toks")).otherwise(0L))
          .as("tokens_dropped"))
      .withColumn("drop_milli", expr("n_dropped * 1000 div n_docs"))
  }

  private lazy val IMPACT_SQL =
    s"""WITH victims AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${TextQueries.FUZZY_SQL})),
       |d AS (SELECT doc_id, source,
       |        CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |          AS n_toks,
       |        CASE WHEN doc_id IN (SELECT doc_id FROM victims)
       |          THEN 1 ELSE 0 END AS dropped
       |      FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN dropped = 1 THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS tokens_dropped,
       |  CAST(SUM(dropped) * 1000 // COUNT(*) AS BIGINT) AS drop_milli
       |FROM d GROUP BY source""".stripMargin

  /** Multi-epoch deterministic training order — the step AFTER
    * dataShuffleShards every multi-pass run needs: each epoch re-shards
    * and re-orders the SAME corpus under its own salt ('ep:'‖epoch‖':'
    * — epoch inside the hash, so epoch orders are mutually independent;
    * the shared-salt correlation landmine), with no data rewritten
    * between passes — the order is a pure function a retry replays
    * byte-identically. Plan: the epoch explode is a narrow 3× row
    * multiply, then ONE exchange on (epoch, shard) carries the
    * intra-shard rank — epochs are independent partitions, so at
    * production each epoch's shards stream out in parallel. */
  def dataEpochOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val shards = shardCount(s, docs.count())
    val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    docs.select(col("doc_id"), explode(expr("sequence(0L, 2L)")).as("epoch"))
      .withColumn("h", h60("concat('ep:', epoch, ':', doc_id)"))
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .select(col("epoch"), col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos"))
  }

  private val EPOCH_SQL =
    s"""WITH n AS (
       |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / $SHARD_TARGET_DOCS.0) AS BIGINT))
       |    AS nsh
       |  FROM documents),
       |e AS (SELECT doc_id, unnest(generate_series(0, 2)) AS epoch
       |      FROM documents),
       |h AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
       |        ('0x' || substr(md5('ep:' || CAST(epoch AS VARCHAR) || ':'
       |          || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |      FROM e)
       |SELECT epoch, doc_id, h % (SELECT nsh FROM n) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, h % (SELECT nsh FROM n)
       |    ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM h""".stripMargin

  /** Budget-constrained curation cut — the take-the-best-docs-until-
    * the-token-budget-runs-out step every fixed-compute training run
    * ends on: documents rank by exact type-token-ratio milli (integer
    * lattice — no engine-divergent double scores) with doc_id ties,
    * and the cut keeps the prefix whose RUNNING token total stays
    * inside the corpus-derived budget (half the total token mass).
    * Scale shape: the running total uses [[Scale.bucketOffsets]] with
    * the ≤1001-value ttr lattice itself as the bucket key — the only
    * globally-ordered window rides ≤1001 rows, rows never see a global
    * sort; the oracle keeps the one-window formulation. */
  def dataTokenBudgetCut(s: SparkSession, dir: String): DataFrame = {
    val ts = Shingles.tokens(col("text"))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), size(ts).cast("long").as("n_toks"),
        size(array_distinct(ts)).cast("long").as("n_dis"))
      .withColumn("ttr_milli",
        when(col("n_toks") > 0, expr("n_dis * 1000 div n_toks"))
          .otherwise(0L))
      .transform(graft.Ckpt.capped) // budget action + offsets + main pass: scan once
    val budget = base.agg(expr("sum(n_toks) div 2")).head().getLong(0)
    val bucketed = base.withColumn("bkt", -col("ttr_milli"))
    val offsets = Scale.bucketOffsets(bucketed, "bkt", Seq("n_toks"))
    val wIn = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cum_toks", sum("n_toks").over(wIn) + col("n_toks_off"))
      .filter(col("cum_toks") <= budget)
      .select(col("doc_id"), col("ttr_milli"), col("n_toks"), col("cum_toks"))
  }

  private val BUDGET_CUT_SQL =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_toks,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |      AS BIGINT) AS n_dis
      |  FROM documents),
      |q AS (SELECT doc_id, n_toks,
      |        CASE WHEN n_toks > 0 THEN n_dis * 1000 // n_toks ELSE 0 END
      |          AS ttr_milli
      |      FROM d),
      |b AS (SELECT CAST(SUM(n_toks) // 2 AS BIGINT) AS budget FROM q),
      |r AS (SELECT doc_id, ttr_milli, n_toks,
      |        CAST(SUM(n_toks) OVER (ORDER BY ttr_milli DESC, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
      |      FROM q)
      |SELECT doc_id, ttr_milli, n_toks, cum_toks FROM r
      |WHERE cum_toks <= (SELECT budget FROM b)""".stripMargin

  /** Target language mix, percent by document count. Languages outside
    * the table get weight 0 (excluded from the mixture). */
  private[graft] val MIX_WEIGHTS =
    Seq("en" -> 40L, "de" -> 20L, "fr" -> 20L, "es" -> 10L, "zh" -> 10L)

  /** Data-mixture sampling — the quota step behind every training-mix
    * spec ("40% English, 20% German, …"): a per-language document quota
    * is derived from the corpus size (budget = half the corpus, quota =
    * budget·w/100, integer floor both engines), and each language fills
    * its quota with a DETERMINISTIC unbiased sample — documents in
    * 60-bit md5-hash order, the data_shuffle_shards discipline, so
    * re-runs and engines agree byte-for-byte and the sample is
    * content-independent. A language with fewer documents than its
    * quota contributes all of them (documented under-fill — the mixture
    * degrades gracefully instead of failing). Plan: one metadata count
    * sizes the quotas (column-pruned), one narrow projection computes
    * the hash order key, ONE language-partitioned window ranks, and the
    * tiny quota table broadcasts into the filter. */
  /** T5-style span-corruption PLAN — the denoising-objective preparation
    * step between tokenization and packing that the board's curation
    * ops feed but nothing emitted: for every document, deterministic
    * masked spans over the whitespace-token index space. Semantics:
    * token positions partition into fixed 8-token windows; each window
    * draws its span from its OWN salted hash ('span:' || doc || ':' ||
    * w — per-window independence, shared-salt landmine respected):
    * span_len = h mod 4 (0 = window unmasked), start offset =
    * (h div 4) mod (9 − len), so spans NEVER overlap by construction
    * (no sequential merge logic — fully declarative, retry-stable, any
    * partitioning) and E[len]/8 ≈ 18.75%, the T5 corruption-rate
    * ballpark. Spans that would overrun the document's token count
    * (the ragged last window) are dropped on both engines. Output is
    * the long-form plan a trainer consumes: (doc, span_idx, start_tok,
    * span_len). Plan: narrow scan + sequence generator — ZERO
    * shuffles; like the importance sampler, the decision rides the
    * scan at any corpus size. */
  def dataSpanCorruption(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)")
          .as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("n_win", expr("(n_tokens + 7) div 8"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0L, n_win - 1)")).as("w"))
      .withColumn("h",
        h60("concat('span:', cast(doc_id as string), ':', cast(w as string))"))
      .withColumn("span_len", col("h") % 4)
      .withColumn("start_tok",
        col("w") * 8 + expr("(h div 4) % (9 - span_len)"))
      .filter(col("span_len") > 0 &&
        col("start_tok") + col("span_len") <= col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("w").as("span_idx"),
        col("start_tok"), col("span_len"))

  private val SPAN_SQL =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |wn AS (
      |  SELECT doc_id, n_tokens, (n_tokens + 7) // 8 AS n_win
      |  FROM d WHERE n_tokens > 0),
      |sp AS (
      |  SELECT doc_id, n_tokens, i AS w,
      |    ('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':'
      |      || CAST(i AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM wn, LATERAL unnest(generate_series(0,
      |    CAST(n_win - 1 AS BIGINT))) t(i))
      |SELECT doc_id, n_tokens, w AS span_idx,
      |  w * 8 + ((h // 4) % (9 - h % 4)) AS start_tok,
      |  h % 4 AS span_len
      |FROM sp
      |WHERE h % 4 > 0
      |  AND w * 8 + ((h // 4) % (9 - h % 4)) + h % 4 <= n_tokens""".stripMargin

  /** Importance-weighted Poisson sampling — the SHUFFLE-FREE member of
    * the sampling family: every rank-based sampler here (quota /
    * mixture / stratified / fixed-k) needs a per-group sort window, but
    * Bernoulli-per-row inclusion needs nothing — each row accepts
    * independently iff its salted 60-bit hash ('imps:', own salt per
    * the shared-salt correlation landmine) falls under w·2^56, giving
    * inclusion probability exactly w/16 with quality weight
    * w ∈ {1, 4, 8} from the mid-length quality bands. At 100 TB this is
    * THE sampler: the accept decision rides the scan (zero exchanges,
    * retry-stable, mergeable across any partitioning); only the
    * (source × weight)-bounded ACCEPTANCE AUDIT aggregates — expected
    * vs actual accept rate per mille plus the first sampled doc as a
    * determinism witness. Conditional sums are when/otherwise-0 and the
    * all-rejected min is coalesced (NULL-poisoning landmine). */
  def dataImportanceSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("case when n_chars between 200 and 450 then 8L " +
          "when n_chars between 100 and 520 then 4L else 1L end").as("w"),
        h60("concat('imps:', doc_id)").as("h"))
      .withColumn("accepted", col("h") < col("w") * lit(1L << 56))
      .groupBy("source", "w")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("accepted"), 1L).otherwise(0L)).as("n_sampled"),
        coalesce(min(when(col("accepted"), col("doc_id"))), lit(-1L))
          .as("first_sampled_doc"))
      .select(col("source"), col("w"), col("n_total"), col("n_sampled"),
        expr("w * 1000 div 16").as("expected_milli"),
        expr("n_sampled * 1000 div n_total").as("actual_milli"),
        col("first_sampled_doc"))

  private val IMPORTANCE_SQL =
    """WITH b AS (
      |  SELECT doc_id, source,
      |    CASE WHEN n_chars BETWEEN 200 AND 450 THEN 8
      |         WHEN n_chars BETWEEN 100 AND 520 THEN 4 ELSE 1 END AS w,
      |    ('0x' || substr(md5('imps:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents)
      |SELECT source, CAST(w AS BIGINT) AS w,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN h < w * 72057594037927936 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_sampled,
      |  CAST(w * 1000 // 16 AS BIGINT) AS expected_milli,
      |  CAST(SUM(CASE WHEN h < w * 72057594037927936 THEN 1 ELSE 0 END)
      |    * 1000 // COUNT(*) AS BIGINT) AS actual_milli,
      |  CAST(COALESCE(MIN(CASE WHEN h < w * 72057594037927936
      |    THEN doc_id END), -1) AS BIGINT) AS first_sampled_doc
      |FROM b GROUP BY source, w""".stripMargin

  def dataMixtureSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val budget = docs.count() / 2
    val quotas = MIX_WEIGHTS.map { case (l, w) => (l, budget * w / 100) }
    val quotaDf = s.createDataFrame(quotas).toDF("lang", "quota")
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    docs
      .select(col("doc_id"), col("lang"),
        // 'mixs:' salt — 'mix:' is data_interleave_sources' salt, and a
        // shared salt would correlate this "independent" sample with the
        // interleave order (the sim_rp_topk correlated-randomness class)
        h60("concat('mixs:', doc_id)").as("h"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .join(broadcast(quotaDf), Seq("lang"))
      .filter(col("pos") <= col("quota"))
      .select(col("doc_id"), col("lang"), col("pos"))
  }

  /** Largest-remainder proportional quota sample — the ALLOCATION
    * counterpart of data_mixture_sample's fixed lang weights: a global
    * budget of QUOTA_K docs is split across sources proportionally to
    * their row counts with the Hamilton/largest-remainder rule
    * (base = K·nᵢ div N, the K − Σbase leftover seats go to the largest
    * K·nᵢ mod N, source-name tiebreak) — exact integers end to end, and
    * the seat count always sums to K (floor allocation + remainder
    * top-up is total by construction). Per source the quota picks the
    * docs with the smallest md5('qs:'‖doc_id) — 'qs:' is this
    * operator's own salt (the shared-salt correlation landmine).
    * Plan: the allocation runs on the |sources|-row count aggregate
    * (two windows over one tiny relation), quotas broadcast back, and
    * doc selection is ONE shuffle on source; the per-source rank is a
    * window at gate scale — at 100 TB swap it for the TopKByScore
    * k-bounded aggregate (Rerank.scala) with per-source k = quota. */
  def dataQuotaSample(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val alloc = t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("nn", sum("n").over(wAll))
      .withColumn("base", expr(s"$QUOTA_K * n div nn"))
      .withColumn("rem", expr(s"$QUOTA_K * n % nn"))
      .withColumn("extra", lit(QUOTA_K) - sum("base").over(wAll))
      .withColumn("rn",
        row_number().over(wAll.orderBy(col("rem").desc, col("source"))))
      .select(col("source"),
        (col("base") + when(col("rn") <= col("extra"), 1L).otherwise(0L))
          .as("quota"))
    val wSrc = Window.partitionBy("source").orderBy("h", "doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("qs:"), col("doc_id")).cast("binary")).as("h"))
      .withColumn("pos", row_number().over(wSrc).cast("long"))
      .join(broadcast(alloc), Seq("source"))
      .filter(col("pos") <= col("quota"))
      .select(col("source"), col("quota"), col("doc_id"), col("pos"))
  }

  private val QUOTA_K = 97

  private val QUOTA_SQL =
    s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM documents GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c),
       |a AS (SELECT source, n, nn,
       |        $QUOTA_K * n // nn AS base, $QUOTA_K * n % nn AS rem
       |      FROM c, t),
       |q AS (SELECT source,
       |        CAST(base + CASE WHEN ROW_NUMBER() OVER
       |            (ORDER BY rem DESC, source)
       |          <= $QUOTA_K - (SELECT CAST(SUM(base) AS BIGINT) FROM a)
       |          THEN 1 ELSE 0 END AS BIGINT) AS quota
       |      FROM a),
       |h AS (SELECT doc_id, source,
       |        md5('qs:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |r AS (SELECT doc_id, source,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
       |          AS BIGINT) AS pos
       |      FROM h)
       |SELECT r.source, q.quota, r.doc_id, r.pos
       |FROM r JOIN q USING (source) WHERE r.pos <= q.quota""".stripMargin

  private val MIX_SQL = {
    val weights = MIX_WEIGHTS.map { case (l, w) => s"('$l', $w)" }.mkString(", ")
    s"""WITH n AS (SELECT COUNT(*) // 2 AS budget FROM documents),
       |wt AS (SELECT * FROM (VALUES $weights) AS t(lang, w)),
       |q AS (SELECT lang, (SELECT budget FROM n) * w // 100 AS quota FROM wt),
       |h AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('mixs:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |r AS (SELECT doc_id, lang,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS pos
       |      FROM h)
       |SELECT r.doc_id, r.lang, r.pos
       |FROM r JOIN q ON q.lang = r.lang
       |WHERE r.pos <= q.quota""".stripMargin
  }

  /** Join-key skew audit — the diagnostic a 100 TB join runs BEFORE
    * choosing salting/AQE-skew settings: per-key row counts over the
    * fact table's join key (lineitem.l_suppkey), summarized as the
    * top-10 heaviest keys with the key-space stats planners consume —
    * key count, max/p50/p99 frequency (exact disc rank targets, no
    * interpolation) and the max/p50 skew ratio in exact milli-units.
    * The per-key count is ONE partial-aggregated exchange over the key
    * space; every window after it runs over the AGGREGATE (≤ |keys|
    * rows, the events_top_paths discipline) — the top-10 rank compiles
    * to WindowGroupLimit so each partition pre-prunes to its local 10.
    * All integers: a skew_milli of 1000 means perfectly uniform. */
  def dataSkewAudit(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    val byN = Window.orderBy("n", "l_suppkey")
    val stats = counts
      .withColumn("vr", row_number().over(byN).cast("long"))
      .withColumn("nk", count(lit(1)).over(Window.partitionBy()).cast("long"))
      .agg(max("nk").as("n_keys"),
        sum("n").as("total_n"),
        max("n").as("max_n"),
        max(when(col("vr") === expr("(nk + 1) div 2"), col("n"))).as("p50_n"),
        max(when(col("vr") === expr("(99 * nk + 99) div 100"), col("n"))).as("p99_n"))
    val byHeavy = Window.orderBy(col("n").desc, col("l_suppkey"))
    counts
      .withColumn("rank", row_number().over(byHeavy).cast("long"))
      .filter(col("rank") <= 10)
      .crossJoin(broadcast(stats))
      .withColumn("skew_milli", expr("max_n * 1000 div p50_n"))
  }

  /** Skew-MITIGATION twin of [[dataSkewAudit]] — the board previously only
    * MEASURED skew; this runs the standard salted join that fixes it. The
    * top-10 heavy keys (the skew audit's own heavy-hitter rank) are salted
    * S=8 ways on the fact side ('sj:' md5 lattice over the line identity —
    * own salt, the shared-salt correlation landmine) and the dim side
    * explodes S replicas for exactly those keys (light keys keep one
    * replica at salt 0), so the join key becomes (suppkey, salt) and a
    * heavy key's rows spread over S reducers instead of one. The join is
    * hinted MERGE to force the shuffle plan salting exists for (broadcast
    * would hide the mechanism; at 100 TB the dim side may not broadcast).
    * Output per heavy key: the plain per-key count n NEXT TO the
    * salted-join row count n_rows (equal ⟺ the rewrite is lossless —
    * asserted in TextPrepSpec against the plain join), exact decimal
    * revenue through the salted path, per-salt occupancy (n_salts,
    * max/min per-salt rows) and balance_milli = max·S·1000 div n (1000 =
    * perfectly even). AQE's skew-join handles sort-merge skew natively;
    * this operator is the portable form that also covers grouped aggs and
    * engines/paths AQE does not reach. */
  def dataSaltedJoinAudit(s: SparkSession, dir: String): DataFrame = {
    val S = 8L
    val counts = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    val byHeavy = Window.orderBy(col("n").desc, col("l_suppkey"))
    val heavy = counts
      .withColumn("rank", row_number().over(byHeavy).cast("long"))
      .filter(col("rank") <= 10)
      .transform(graft.Ckpt.capped) // fact salt gate + dim explode gate + final rollup read it
    val fact = t(s, dir, "lineitem")
      .join(broadcast(heavy.select(col("l_suppkey"), lit(true).as("is_heavy"))),
        Seq("l_suppkey"), "left_outer")
      .select(col("l_suppkey"), col("l_extendedprice"),
        when(col("is_heavy"),
          pmod(expr("cast(conv(substring(md5(cast(concat('sj:', " +
            "cast(l_orderkey as string), ':', cast(l_linenumber as string)) " +
            "as binary)), 1, 13), 16, 10) as bigint)"), lit(S)))
          .otherwise(0L).as("salt"))
    val dim = t(s, dir, "supplier")
      .join(broadcast(heavy.select(col("l_suppkey").as("s_suppkey"),
        lit(true).as("is_heavy"))), Seq("s_suppkey"), "left_outer")
      .select(col("s_suppkey"),
        explode(when(col("is_heavy"), sequence(lit(0L), lit(S - 1)))
          .otherwise(array(lit(0L)))).as("d_salt"))
    val per = fact.join(dim.hint("merge"),
        col("l_suppkey") === col("s_suppkey") && col("salt") === col("d_salt"))
      .groupBy(col("l_suppkey"), col("salt"))
      .agg(count(lit(1)).as("n_s"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("rev_s"))
    per.join(broadcast(heavy), Seq("l_suppkey"))
      .groupBy("l_suppkey", "n", "rank")
      .agg(sum("n_s").as("n_rows"),
        sum("rev_s").cast("double").as("revenue"),
        count(lit(1)).as("n_salts"),
        max("n_s").as("max_salt_rows"),
        min("n_s").as("min_salt_rows"))
      .withColumn("balance_milli",
        expr("max_salt_rows * n_salts * 1000 div n_rows"))
  }

  private val SALTED_JOIN_SQL =
    """WITH c AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY l_suppkey),
      |top AS (SELECT l_suppkey, n,
      |          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, l_suppkey) AS BIGINT) AS rank
      |        FROM c QUALIFY rank <= 10),
      |f AS (
      |  SELECT l.l_suppkey, l.l_extendedprice,
      |    CASE WHEN t.l_suppkey IS NOT NULL THEN
      |      ('0x' || substr(md5('sj:' || CAST(l.l_orderkey AS VARCHAR) || ':'
      |        || CAST(l.l_linenumber AS VARCHAR)), 1, 13))::BIGINT % 8
      |    ELSE 0 END AS salt
      |  FROM lineitem l LEFT JOIN top t ON l.l_suppkey = t.l_suppkey),
      |d AS (
      |  SELECT s.s_suppkey,
      |    unnest(CASE WHEN t.l_suppkey IS NOT NULL
      |      THEN [0,1,2,3,4,5,6,7]::BIGINT[] ELSE [0]::BIGINT[] END) AS d_salt
      |  FROM supplier s LEFT JOIN top t ON s.s_suppkey = t.l_suppkey),
      |per AS (
      |  SELECT f.l_suppkey, f.salt, CAST(COUNT(*) AS BIGINT) AS n_s,
      |    SUM(CAST(f.l_extendedprice AS DECIMAL(18,2))) AS rev_s
      |  FROM f JOIN d ON f.l_suppkey = d.s_suppkey AND f.salt = d.d_salt
      |  GROUP BY f.l_suppkey, f.salt)
      |SELECT p.l_suppkey, t.n, t.rank,
      |  CAST(SUM(n_s) AS BIGINT) AS n_rows,
      |  CAST(SUM(rev_s) AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_salts,
      |  MAX(n_s) AS max_salt_rows,
      |  MIN(n_s) AS min_salt_rows,
      |  MAX(n_s) * COUNT(*) * 1000 // CAST(SUM(n_s) AS BIGINT) AS balance_milli
      |FROM per p JOIN top t ON p.l_suppkey = t.l_suppkey
      |GROUP BY p.l_suppkey, t.n, t.rank""".stripMargin

  private val SKEW_SQL =
    """WITH c AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM lineitem GROUP BY l_suppkey),
      |r AS (SELECT l_suppkey, n,
      |        CAST(ROW_NUMBER() OVER (ORDER BY n, l_suppkey) AS BIGINT) AS vr,
      |        CAST(COUNT(*) OVER () AS BIGINT) AS nk
      |      FROM c),
      |st AS (SELECT MAX(nk) AS n_keys, CAST(SUM(n) AS BIGINT) AS total_n,
      |         MAX(n) AS max_n,
      |         MAX(CASE WHEN vr = (nk + 1) // 2 THEN n END) AS p50_n,
      |         MAX(CASE WHEN vr = (99 * nk + 99) // 100 THEN n END) AS p99_n
      |       FROM r),
      |top AS (SELECT l_suppkey, n,
      |          CAST(ROW_NUMBER() OVER (ORDER BY n DESC, l_suppkey) AS BIGINT) AS rank
      |        FROM c QUALIFY rank <= 10)
      |SELECT top.l_suppkey, top.n, top.rank, st.n_keys, st.total_n,
      |  st.max_n, st.p50_n, st.p99_n, st.max_n * 1000 // st.p50_n AS skew_milli
      |FROM top CROSS JOIN st""".stripMargin

  /** Vocabulary frequency-spectrum audit — the fixed-size corpus-health
    * diagnostic behind every Zipf sanity check (a crawl whose spectrum
    * bends away from the power law has a boilerplate flood or a parser
    * bug): vocabulary terms bucket by floor(log₂ frequency) (the exact
    * bin()-length lattice), each bin reporting its word count and total
    * token mass. ≤ 64 rows at ANY corpus size and NO global rank — the
    * log-bucketing replaces the rank-frequency sort that would need a
    * single-task vocabulary window. The Zipf check itself (n_words
    * roughly halving per bin) is the consumer's one-liner over the ≤64
    * rows; hapax mass sits in bin 0 by construction. Plan: one (token)
    * partial-agg exchange + one ≤64-row bin aggregate. */
  def textFreqSpectrum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(expr("cast(length(bin(c)) - 1 as bigint)").as("freq_bits"), col("c"))
      .groupBy("freq_bits")
      .agg(count(lit(1)).as("n_words"), sum("c").as("token_mass"))

  private val SPECTRUM_SQL =
    """WITH tok AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w)
      |SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS freq_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(SUM(c) AS BIGINT) AS token_mass
      |FROM v GROUP BY 1""".stripMargin

  /** Zipf-law fit over the per-language frequency spectrum — the one-
    * number "does this corpus look like natural language" gate (a
    * scraped table dump or template farm fits far off the ~-1 slope):
    * OLS slope of floor-log2(n_words-in-bin) against floor-log2(freq)
    * bin, per language, entirely in exact integers. The slope ships as
    * (num, den) BIGINTs plus sign and abs milli — abs() before the
    * integer division because Spark `div` truncates toward zero while
    * DuckDB `//` floors, and they only agree on non-negative operands.
    * Plan: (lang, word) partial-agg exchange, then the ≤langs×64-bin
    * spectrum and the per-lang OLS fold ride tiny aggregates. */
  def textZipfSlope(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .select(col("lang"), expr("cast(length(bin(c)) - 1 as bigint)").as("x"))
      .groupBy("lang", "x").agg(count(lit(1)).as("nw"))
      .select(col("lang"), col("x"),
        expr("cast(length(bin(nw)) - 1 as bigint)").as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_points"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .filter(col("n_points") >= 2)
      .select(col("lang"), col("n_points"),
        expr("n_points * sxy - sx * sy").as("num"),
        expr("n_points * sxx - sx * sx").as("den"))
      .withColumn("slope_sign",
        expr("cast(case when num < 0 then -1 else 1 end as bigint)"))
      .withColumn("abs_slope_milli", expr("abs(num) * 1000 div den"))

  private val ZIPF_SQL =
    """WITH tok AS (
      |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |v AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      |spec AS (
      |  SELECT lang, CAST(length(bin(c)) - 1 AS BIGINT) AS x,
      |    CAST(length(bin(CAST(COUNT(*) AS BIGINT))) - 1 AS BIGINT) AS y
      |  FROM v GROUP BY 1, 2),
      |ols AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_points,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM spec GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT lang, n_points,
      |  n_points * sxy - sx * sy AS num,
      |  n_points * sxx - sx * sx AS den,
      |  CAST(CASE WHEN n_points * sxy - sx * sy < 0 THEN -1 ELSE 1 END
      |    AS BIGINT) AS slope_sign,
      |  abs(n_points * sxy - sx * sy) * 1000 // (n_points * sxx - sx * sx)
      |    AS abs_slope_milli
      |FROM ols""".stripMargin

  /** Feature-hashing vectorizer (the hashing trick) — the board
    * CONSUMES the embeddings table everywhere; this is the step that
    * PRODUCES a vector from raw text with no vocabulary, no model and
    * no driver state: every token hashes to one of 64 dimensions
    * (md5, 'fh:' salt — its own stream) and contributes a hash-derived
    * ±1 (the signed trick that makes collisions cancel in expectation,
    * Weinberger et al.'s vw scheme). Long-format output (doc_id, dim,
    * w, n_hits) — exact integers, no normalization float. Plan: tokens
    * explode in a narrow codegen stage; ONE (doc, dim) partial-agg
    * exchange, ≤64 rows per doc at any corpus size. */
  def textFeatureHashing(s: SparkSession, dir: String): DataFrame = {
    val h =
      "cast(conv(substring(md5(cast(concat('fh:', tok) as binary)), 1, 15), 16, 10) as bigint)"
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("tok"))
      .select(col("doc_id"), expr(s"$h & 63").as("dim"),
        expr(s"case when (shiftright($h, 6) & 1) = 1 then 1L else -1L end")
          .as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum("sign").as("w"), count(lit(1)).as("n_hits"))
  }

  private val FEATHASH_SQL =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |    AS tok
      |  FROM documents),
      |h AS (SELECT doc_id,
      |        ('0x' || substr(md5('fh:' || tok), 1, 15))::BIGINT AS h
      |      FROM tok)
      |SELECT doc_id, h & 63 AS dim,
      |  CAST(SUM(CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT)
      |    AS w,
      |  CAST(COUNT(*) AS BIGINT) AS n_hits
      |FROM h GROUP BY 1, 2""".stripMargin

  /** LPT-greedy shard balancing (bin packing): documents stripe
    * round-robin over 8 shards in DECREASING token-count order — the
    * longest-processing-time heuristic that keeps the heaviest items
    * spread while the small tail evens the loads (what a packing of
    * training shards wants; data_shuffle_shards randomizes, this
    * BALANCES). The global decreasing rank comes from the two-level
    * distributed prefix sum ([[Scale.bucketOffsets]] over −token-count
    * buckets): the only globally-ordered window runs on ≤|distinct
    * lengths| rows, never a single-task sort of the corpus. Output is
    * the per-shard load sheet with exact milli-of-ideal balance. */
  def dataBinPacking(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"))
      .withColumn("bkt", -col("nt"))
      .withColumn("cnt", lit(1L))
    val offsets = Scale.bucketOffsets(docs, "bkt", Seq("cnt"))
    val wl = Window.partitionBy("bkt").orderBy("doc_id")
    val wAll = Window.partitionBy()
    docs.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rank", row_number().over(wl).cast("long") + col("cnt_off"))
      .select(col("doc_id"), col("nt"), ((col("rank") - 1) % 8).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("token_load"))
      .withColumn("total", sum("token_load").over(wAll))
      .select(col("shard"), col("n_docs"), col("token_load"),
        expr("token_load * 1000 div (total div 8)")
          .as("load_milli_of_ideal"))
  }

  private val BINPACK_SQL =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS nt
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, nt,
      |    ROW_NUMBER() OVER (ORDER BY nt DESC, doc_id) AS rank
      |  FROM d),
      |sh AS (
      |  SELECT (rank - 1) % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(nt) AS BIGINT) AS token_load
      |  FROM r GROUP BY 1)
      |SELECT shard, n_docs, token_load,
      |  CAST(token_load * 1000 // (SUM(token_load) OVER () // 8) AS BIGINT)
      |    AS load_milli_of_ideal
      |FROM sh""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift between the train and holdout
    * splits' length distributions — the UNBINNED sup-norm drift test
    * (events_value_drift's PSI needs bins and misses tail shifts; KS is
    * the whole-CDF answer): D = max over token counts of
    * |ECDF_train − ECDF_holdout|, with each ECDF held in exact milli
    * (cum·1000 div n — no n₁·n₂ cross-product, so nothing overflows at
    * any corpus size). Split rule is byte-identical to
    * [[dataSplitHash]]. The only data-sized step is the per-length
    * count aggregate; the cumulative windows run over DISTINCT token
    * counts (bounded by max document length — the bucketOffsets
    * rationale), and the argmax is a min-struct fold, not a sort. A
    * healthy hash split reads near 0; a big ks_milli means the split
    * leaked a length covariate. */
  def dataKsDrift(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy("nt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    t(s, dir, "documents")
      .select(
        when(substring(md5(col("text").cast("binary")), 1, 1) <= "d", 1L)
          .otherwise(0L).as("tr"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"))
      .groupBy("nt").agg(sum("tr").as("c1"), sum(expr("1 - tr")).as("c2"))
      .withColumn("e1", sum("c1").over(wCum))
      .withColumn("e2", sum("c2").over(wCum))
      .withColumn("n1", sum("c1").over(wAll))
      .withColumn("n2", sum("c2").over(wAll))
      .select(col("n1"), col("n2"),
        abs(expr("e1 * 1000 div n1") - expr("e2 * 1000 div n2")).as("d"),
        col("nt"))
      .agg(max("n1").as("n_train"), max("n2").as("n_holdout"),
        min(struct((-col("d")).as("nd"), col("nt").as("at"))).as("pk"))
      .select(col("n_train"), col("n_holdout"),
        (-col("pk.nd")).as("ks_milli"), col("pk.at").as("at_tokens"))
  }

  private val KS_SQL =
    """WITH d AS (
      |  SELECT CASE WHEN substr(md5(text), 1, 1) <= 'd' THEN 1 ELSE 0 END
      |      AS tr,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS nt
      |  FROM documents),
      |g AS (
      |  SELECT nt, CAST(SUM(tr) AS BIGINT) AS c1,
      |    CAST(SUM(1 - tr) AS BIGINT) AS c2
      |  FROM d GROUP BY 1),
      |e AS (
      |  SELECT nt,
      |    CAST(SUM(c1) OVER (ORDER BY nt ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS e1,
      |    CAST(SUM(c2) OVER (ORDER BY nt ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS e2,
      |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
      |    CAST(SUM(c2) OVER () AS BIGINT) AS n2
      |  FROM g),
      |k AS (
      |  SELECT n1, n2, abs(e1 * 1000 // n1 - e2 * 1000 // n2) AS dd, nt
      |  FROM e)
      |SELECT MAX(n1) AS n_train, MAX(n2) AS n_holdout,
      |  CAST(-(MIN(struct_pack(nd := -dd, at := nt)).nd) AS BIGINT)
      |    AS ks_milli,
      |  CAST(MIN(struct_pack(nd := -dd, at := nt)).at AS BIGINT)
      |    AS at_tokens
      |FROM k""".stripMargin

  /** BPE merge LEARNING — the tokenizer-TRAINING step next to
    * text_bpe_tokens' fixed-merge encoder (functions/BpeEncode applies a
    * merge list; this operator is where such a list comes from): the
    * classic greedy loop — count adjacent symbol pairs over the corpus,
    * merge the most frequent, repeat — run for a FIXED 6 rounds (fixed
    * ⟹ an unrollable oracle).
    *
    * Scale shape: every round operates on the DISTINCT-WORD frequency
    * dict (vocab-sized, never corpus-sized — exactly how production BPE
    * trainers work), so the corpus is scanned ONCE for the word-count
    * aggregate (checkpointed) and each round is one pair-count hash agg
    * + an O(1) argmax collect ([[graft.Fixpoint.greedy]]). The word
    * symbols are a function of the merges so far: each round folds the
    * merges literal over every word, one replace per merge, so the
    * round's plan — and its generated code — is the same in every round.
    *
    * Symbol sequences are encoded as TWO-SPACE-separated strings
    * ("  a  b  c  ") so that each merge is a single literal
    * replace(" a  b " → " ab "): each occurrence keeps one space of the
    * surrounding separators on each side, so ADJACENT merge sites share
    * no characters and left-to-right non-overlapping replace() — the
    * same semantics in Spark and DuckDB — performs EXACTLY the classic
    * left-to-right symbol-array merge ([x a b a b] → [x ab ab],
    * [a a a] → [aa a]). A single-space separator would make adjacent
    * sites share the boundary space and silently skip every second
    * merge. Pair counting includes sequence-overlapping duplicates
    * ([a a a] counts (a,a) twice) on both engines; ties break
    * (count DESC, left ASC, right ASC), deterministic. The spec replays
    * a hand-rolled symbol-array reference incl. the overlap and tie
    * cases. */
  private[graft] def bpeLearn(words: DataFrame, rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    val base = words
      .select(concat(lit("  "),
        regexp_replace(col("word"), "(.)", "$1  ")).as("s"), col("freq"))
      .transform(graft.Ckpt.capped) // re-scanned every round
    val merges = graft.Fixpoint.greedy("bpe_round", rounds)(
        r => (r.getString(0), r.getString(1))) { done =>
      base
        .select(col("freq"), split(trim(aggregate(done, col("s"), (s, m) =>
          replace(s, concat(lit(" "), m("_1"), lit("  "), m("_2"), lit(" ")),
            concat(lit(" "), m("_1"), m("_2"), lit(" "))))), "  ").as("l"))
        .filter(size(col("l")) >= 2) // sequence(0,-1) would DESCEND
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(l) - 2)," +
            " i -> struct(l[i] as a, l[i + 1] as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(desc("c"), asc("a"), asc("b")).limit(1)
    }
    merges.zipWithIndex.map { case (m, i) =>
      ((i + 1).toLong, m.getString(0), m.getString(1), m.getLong(2))
    }
  }

  def textBpeLearn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    bpeLearn(words, 6).toDF("step", "left_sym", "right_sym", "pair_weight")
  }

  private val BPE_LEARN_SQL = {
    val rounds = (1 to 6).map { r =>
      s"""bp$r AS (
         |  SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT freq,
         |          UNNEST(list_transform(generate_series(1, len(l) - 1),
         |            i -> {'a': l[i], 'b': l[i + 1]})) AS p
         |        FROM (SELECT freq, string_split(trim(s), '  ') AS l
         |              FROM bw${r - 1})
         |        WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |bm$r AS (SELECT a, b, c FROM bp$r ORDER BY c DESC, a, b LIMIT 1),
         |bw$r AS (
         |  SELECT replace(s, ' ' || m.a || '  ' || m.b || ' ',
         |                 ' ' || m.a || m.b || ' ') AS s, freq
         |  FROM bw${r - 1}, bm$r m)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 6).map(r =>
      s"SELECT CAST($r AS BIGINT) AS step, a AS left_sym, b AS right_sym," +
        s" c AS pair_weight FROM bm$r").mkString("\nUNION ALL\n")
    s"""WITH bwf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |bw0 AS (
       |  SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS s,
       |    freq
       |  FROM bwf),
       |$rounds
       |$out""".stripMargin
  }

  /** Unigram-LM tokenizer TRAINING (the SentencePiece trainer's shape,
    * Kudo 2018) — the probabilistic sibling of [[bpeLearn]]'s greedy
    * merges, completing the tokenizer-training family (BPE learn →
    * encode → fertility → vocab coverage): fixed EM rounds of hard
    * (Viterbi) segmentation over the DISTINCT-WORD dict. Pieces are the
    * chars + char-bigrams of the dict; piece cost = the exact
    * fixed-point −log₂ p lattice ([[graft.functions.Log2Fp]]: 1024·
    * log2(T/c) in pure integer ops — never an engine-divergent ln);
    * E-step segments every word by a 2-cell Viterbi DP (pieces ≤ 2
    * chars ⇒ the DP carries only [d_{i-2}, d_{i-1}]), run as an
    * aggregate() fold whose state is a struct of two LISTS — the
    * interpreted-HOF cost is fine here because the fold runs on the
    * vocab-sized dict, never corpus rows (exactly how production
    * SentencePiece trains); M-step recounts pieces from the best
    * segmentations (freq-weighted), add-1-smooths the char universe
    * (chars never leave the vocab — the SentencePiece invariant), and
    * drops unused bigrams. Ties prefer the single-char edge (≤) on both
    * engines. DuckDB replays every step verbatim: the Log2Fp fold and
    * the Viterbi DP are list_reduce folds seeded via list_prepend, with
    * LIST-encoded state — DuckDB 1.0 struct-FIELD state reads its own
    * round's writes (evaluation-order hazard, probed r11), list
    * elements do not. 100 TB posture: ONE corpus scan builds the word
    * dict (checkpointed); every EM round is vocab-sized. Envelope:
    * total piece mass < 2³² (Log2Fp's two-step division; third step
    * past ~4.3e9). */
  private[graft] def unigramLearn(words0: DataFrame, rounds: Int): DataFrame =
    unigramCosts(words0, rounds)._1
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("c").desc, col("piece"))).cast("long"))
      .filter(col("rnk") <= 30)
      .select(col("rnk"), col("piece"),
        length(col("piece")).cast("long").as("piece_len"),
        col("c").as("n_uses"), col("cost").as("cost_fp"))

  /** The trainer core: returns (final cost table (piece, c, cost), the
    * checkpointed word dict) so the ENCODE path
    * ([[textUnigramFertility]]) can segment with the learned pieces.
    * Every round is one checkpoint of the vocab-sized cost table
    * ([[graft.Fixpoint.fixed]]) and plans five exchanges: the
    * cost map's gather and broadcast, the piece recount, and the total's
    * gather and broadcast (see [[emRound]]). */
  private[graft] def unigramCosts(words0: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val words = words0.transform(graft.Ckpt.capped) // re-scanned every round
    val chars = words.select(col("freq"),
      explode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("piece"))
    val bigrams0 = words.filter(length(col("word")) >= 2)
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("piece"))
      .groupBy("piece").agg(sum("freq").as("c"))
    val seed = chars.groupBy("piece").agg((sum("freq") + 1L).as("c"))
      .unionByName(bigrams0)
    val cost = graft.Fixpoint.fixed(withCosts(seed).transform(graft.Ckpt.capped),
      rounds)(emRound(words, _))
    (cost, words)
  }

  /** M half: (piece, c) → (piece, c, cost) on the exact cost lattice. The
    * piece counts are referenced twice (total and rows); the total rides
    * a single-row broadcast. */
  private def withCosts(pieceCounts: DataFrame): DataFrame = {
    val tot = pieceCounts.agg(sum("c").as("T"))
    pieceCounts.crossJoin(broadcast(tot))
      .withColumn("cost", graft.functions.Log2Fp(col("T"), col("c")))
      .select("piece", "c", "cost")
  }

  /** One EM round over the cost table (piece, c, cost): Viterbi-segment
    * every word with the current costs (E), recount the pieces of the
    * best segmentations freq-weighted, add-1-smooth the char universe —
    * the table's own 1-char pieces, since chars never leave the vocab —
    * and drop unused bigrams (M). The recount and the universe share one
    * aggregate: universe rows count 0 and only guarantee presence. */
  private[graft] def emRound(words: DataFrame, cost: DataFrame): DataFrame = {
    val segPieces = viterbiSegment(words, cost)
      .select(col("freq"),
        explode(split(expr("trim(LEADING '|' FROM seg)"), "\\|")).as("piece"))
    val universe = cost.filter(length(col("piece")) === 1)
      .select(lit(0L).as("freq"), col("piece"))
    withCosts(segPieces.unionByName(universe)
      .groupBy("piece").agg(sum("freq").as("c"))
      .select(col("piece"),
        (col("c") + when(length(col("piece")) === 1, 1L).otherwise(0L)).as("c")))
  }

  /** The shared Viterbi leg: (word, freq, seg) with seg = '|'-joined
    * best pieces under `cost` (may carry one leading '|' — trimmed by
    * consumers). The cost table travels as ONE map value, gathered once
    * and broadcast to the words; the DP looks up each position's single
    * and bigram cost in it. See [[unigramCosts]] for the DP shape. */
  private def viterbiSegment(words: DataFrame, cost: DataFrame): DataFrame = {
      val INF = 1099511627776L // 2^40 — unreachable by any real path sum
      val costMap = cost.agg(
        map_from_entries(collect_list(struct(col("piece"), col("cost")))).as("cm"))
      words.crossJoin(broadcast(costMap))
        .select(col("word"), col("freq"), expr(
          s"""if(length(word) < 2, substring(word, 1, 1),
             |  aggregate(
             |    transform(sequence(2, length(word)), i -> named_struct(
             |      'ds', cm[substring(word, i, 1)],
             |      'db', coalesce(cm[substring(word, i - 1, 2)], ${INF}L),
             |      'ps', substring(word, i, 1),
             |      'pb', substring(word, i - 1, 2))),
             |    named_struct('d', array(0L, cm[substring(word, 1, 1)]),
             |                 's', array('', substring(word, 1, 1))),
             |    (acc, x) -> if(element_at(acc.d, 2) + x.ds <= element_at(acc.d, 1) + x.db,
             |      named_struct(
             |        'd', array(element_at(acc.d, 2), element_at(acc.d, 2) + x.ds),
             |        's', array(element_at(acc.s, 2),
             |               concat(element_at(acc.s, 2), '|', x.ps))),
             |      named_struct(
             |        'd', array(element_at(acc.d, 2), element_at(acc.d, 1) + x.db),
             |        's', array(element_at(acc.s, 2),
             |               concat(element_at(acc.s, 1), '|', x.pb)))),
             |    acc -> element_at(acc.s, 2)))""".stripMargin).as("seg"))
  }

  private def corpusWordDict(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  def textUnigramLmLearn(s: SparkSession, dir: String): DataFrame =
    unigramLearn(corpusWordDict(s, dir), 2)

  /** Unigram-LM ENCODE audit — the DEPLOY path of [[unigramCosts]]'
    * trainer (the true corpus-sized step at 100 TB): segment every
    * distinct word ONCE with the learned final pieces (vocab-sized DP),
    * broadcast the per-word piece stats, and roll the corpus up per
    * source — fertility (pieces per word), single-char share (how much
    * of the stream failed to merge), and mean piece length. The corpus
    * contributes one scan + explode + broadcast hash join + one
    * aggregate; the EM never sees corpus rows (data_tokenizer_fertility
    * is the BPE sibling of this audit). */
  def textUnigramFertility(s: SparkSession, dir: String): DataFrame = {
    val (cost, words) = unigramCosts(corpusWordDict(s, dir), 2)
    val stats = viterbiSegment(words, cost)
      .select(col("word"),
        expr("split(trim(LEADING '|' FROM seg), '\\\\|')").as("pieces"))
      .select(col("word"),
        expr("cast(size(pieces) as bigint)").as("n_pieces"),
        expr("cast(size(filter(pieces, p -> length(p) = 1)) as bigint)")
          .as("n_single"),
        length(col("word")).cast("long").as("n_chars"))
    t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(stats), Seq("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        expr("sum(n_pieces) * 1000 div count(1)").as("fertility_milli"),
        expr("sum(n_single) * 1000 div sum(n_pieces)")
          .as("single_share_milli"),
        expr("sum(n_chars) * 1000 div sum(n_pieces)")
          .as("avg_piece_len_milli"))
  }

  /** DuckDB replay of [[unigramLearn]]: the Log2Fp squaring fold and the
    * 2-cell Viterbi DP are list_reduce folds with LIST-encoded state
    * (struct-field state would read its own round's writes in DuckDB
    * 1.0). One CTE block per EM round, generated like BPE_LEARN_SQL. */
  private object UlmSql {
    // cost$k(piece, c, cost) from counts relation $src — the Log2Fp fold
    def costCte(k: Int, src: String): String = {
      val d = s"(c * (CAST(1 AS BIGINT) << (length(bin(T // c)) - 1)))"
      s"""ulmtot$k AS (SELECT CAST(SUM(c) AS BIGINT) AS T FROM $src),
         |ulmcost$k AS (
         |  SELECT piece, c,
         |    (length(bin(T // c)) - 1) * 1024 + list_reduce(list_prepend(
         |      [(T // $d) * 1073741824 + ((T % $d) * 1073741824) // $d,
         |       CAST(0 AS BIGINT)],
         |      list_transform(range(1, 11),
         |        i -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
         |      (acc, x) ->
         |        CASE WHEN (acc[1] * acc[1]) // 1073741824 >= 2147483648
         |        THEN [((acc[1] * acc[1]) // 1073741824) // 2,
         |              acc[2] * 2 + 1]
         |        ELSE [(acc[1] * acc[1]) // 1073741824, acc[2] * 2]
         |        END)[2] AS cost
         |  FROM $src, ulmtot$k)""".stripMargin
    }
    // E-step round $k: segment with ulmcost$k, recount, smooth singles
    def emCte(k: Int): String =
      s"""ulmsing$k AS (
         |  SELECT b.word, b.i, cc.cost
         |  FROM (SELECT w.word, t.i, substr(w.word, t.i, 1) AS piece
         |        FROM ulmwords w,
         |          unnest(range(1, length(w.word) + 1)) t(i)) b
         |  JOIN ulmcost$k cc USING (piece)),
         |ulmcs$k AS (
         |  SELECT word, list(cost ORDER BY i) AS cs
         |  FROM ulmsing$k GROUP BY word),
         |ulmbigc$k AS (
         |  SELECT b.word, b.i,
         |    COALESCE(cc.cost, 1099511627776) AS cost
         |  FROM (SELECT w.word, t.i, substr(w.word, t.i, 2) AS piece
         |        FROM ulmwords w, unnest(range(1, length(w.word))) t(i)
         |        WHERE length(w.word) >= 2) b
         |  LEFT JOIN ulmcost$k cc USING (piece)),
         |ulmcb$k AS (
         |  SELECT word, list(cost ORDER BY i) AS cb
         |  FROM ulmbigc$k GROUP BY word),
         |ulmvit$k AS (
         |  SELECT w.word, w.freq,
         |    CASE WHEN length(w.word) < 2 THEN substr(w.word, 1, 1)
         |    ELSE list_reduce(list_prepend(
         |      {'d': [CAST(0 AS BIGINT), cs[1]],
         |       's': ['', substr(w.word, 1, 1)]},
         |      list_transform(range(2, length(w.word) + 1), i ->
         |        {'d': [cs[i], cb[i - 1]],
         |         's': [substr(w.word, i, 1), substr(w.word, i - 1, 2)]})),
         |      (acc, x) ->
         |        CASE WHEN acc.d[2] + x.d[1] <= acc.d[1] + x.d[2]
         |        THEN {'d': [acc.d[2], acc.d[2] + x.d[1]],
         |              's': [acc.s[2], acc.s[2] || '|' || x.s[1]]}
         |        ELSE {'d': [acc.d[2], acc.d[1] + x.d[2]],
         |              's': [acc.s[2], acc.s[1] || '|' || x.s[2]]}
         |        END).s[2]
         |    END AS seg
         |  FROM ulmwords w
         |  JOIN ulmcs$k USING (word) LEFT JOIN ulmcb$k USING (word)),
         |ulmcnt$k AS (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (SELECT freq,
         |          unnest(string_split(ltrim(seg, '|'), '|')) AS piece
         |        FROM ulmvit$k)
         |  GROUP BY piece),
         |ulmm$k AS (
         |  SELECT u.piece, CAST(COALESCE(cn.c, 0) + 1 AS BIGINT) AS c
         |  FROM ulmuni u LEFT JOIN ulmcnt$k cn ON u.piece = cn.piece
         |  UNION ALL
         |  SELECT piece, c FROM ulmcnt$k WHERE length(piece) = 2)""".stripMargin
    /** Shared prefix: word dict, char universe, seed counts, then the
      * two EM rounds ending at the final cost table ulmcost2. */
    val chain: String =
      s"""ulmwords AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1),
         |ulmchars AS (
         |  SELECT substr(word, t.i, 1) AS piece, freq
         |  FROM ulmwords, unnest(range(1, length(word) + 1)) t(i)),
         |ulmuni AS (SELECT DISTINCT piece FROM ulmchars),
         |ulmseed AS (
         |  SELECT piece, CAST(SUM(freq) + 1 AS BIGINT) AS c
         |  FROM ulmchars GROUP BY piece
         |  UNION ALL
         |  SELECT substr(word, t.i, 2) AS piece, CAST(SUM(freq) AS BIGINT)
         |  FROM ulmwords, unnest(range(1, length(word))) t(i)
         |  WHERE length(word) >= 2 GROUP BY 1),
         |${costCte(0, "ulmseed")},
         |${emCte(0)},
         |${costCte(1, "ulmm0")},
         |${emCte(1)},
         |${costCte(2, "ulmm1")}""".stripMargin
  }

  private val ULM_SQL =
    s"""WITH ${UlmSql.chain}
       |SELECT * FROM (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, piece) AS BIGINT)
       |      AS rnk,
       |    piece, CAST(length(piece) AS BIGINT) AS piece_len,
       |    c AS n_uses, cost AS cost_fp
       |  FROM ulmcost2)
       |WHERE rnk <= 30""".stripMargin

  /** ENCODE-path replay: one more Viterbi block with the FINAL costs
    * (emCte(2) — its recount CTEs go unreferenced, which DuckDB never
    * evaluates), per-word piece stats, corpus join, per-source rollup. */
  private val UFERT_SQL =
    s"""WITH ${UlmSql.chain},
       |${UlmSql.emCte(2)},
       |ustats AS (
       |  SELECT word,
       |    CAST(len(string_split(ltrim(seg, '|'), '|')) AS BIGINT)
       |      AS n_pieces,
       |    CAST(len(list_filter(string_split(ltrim(seg, '|'), '|'),
       |      p -> length(p) = 1)) AS BIGINT) AS n_single,
       |    CAST(length(word) AS BIGINT) AS n_chars
       |  FROM ulmvit2),
       |udw AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS word
       |  FROM documents)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(n_pieces) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT)
       |    AS fertility_milli,
       |  CAST(SUM(n_single) AS BIGINT) * 1000
       |    // CAST(SUM(n_pieces) AS BIGINT) AS single_share_milli,
       |  CAST(SUM(n_chars) AS BIGINT) * 1000
       |    // CAST(SUM(n_pieces) AS BIGINT) AS avg_piece_len_milli
       |FROM udw JOIN ustats USING (word)
       |GROUP BY source""".stripMargin

  /** LPT greedy shard rebalance — the partition-to-worker assignment a
    * training job computes before an epoch (longest-processing-time
    * scheduling: items descending by load, each onto the currently
    * least-loaded worker — the classic 4/3-approximation to makespan):
    * items are the (source, lang) partitions of the corpus, load = total
    * chars. The greedy fold is inherently sequential but runs over a
    * DIMENSION-sized item list (|sources| × |langs| — the k-means-K
    * collect class, never corpus rows): one distributed aggregate, an
    * O(K) driver fold, and a local-relation result. Ties (equal worker
    * loads) go to the lowest worker id on both engines (Scala indexOf
    * first-min = DuckDB list_position first occurrence). */
  def dataShardRebalance(s: SparkSession, dir: String): DataFrame = {
    val groups = t(s, dir, "documents")
      .groupBy("source", "lang").agg(sum("n_chars").as("load_chars"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy { case (src, lg, load) => (-load, src, lg) }
    val loads = Array.fill(4)(0L)
    val rows = groups.zipWithIndex.map { case ((src, lg, load), i) =>
      val w = loads.indexOf(loads.min)
      loads(w) += load
      (i + 1L, src, lg, load, w.toLong)
    }
    import s.implicits._
    rows.toSeq.toDF("assign_order", "source", "lang", "load_chars", "worker")
  }

  private val REBALANCE_SQL =
    """WITH RECURSIVE g AS (
      |  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS load_chars
      |  FROM documents GROUP BY 1, 2),
      |it AS (
      |  SELECT source, lang, load_chars,
      |    CAST(ROW_NUMBER() OVER (ORDER BY load_chars DESC, source, lang)
      |      AS BIGINT) AS rn
      |  FROM g),
      |st AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS source,
      |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS load_chars,
      |    CAST(NULL AS BIGINT) AS worker,
      |    [CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |     CAST(0 AS BIGINT)] AS loads
      |  UNION ALL
      |  SELECT it.rn, it.source, it.lang, it.load_chars,
      |    CAST(list_position(st.loads, list_min(st.loads)) - 1 AS BIGINT),
      |    list_transform([1, 2, 3, 4],
      |      i -> CASE WHEN i = list_position(st.loads, list_min(st.loads))
      |                THEN st.loads[i] + it.load_chars ELSE st.loads[i] END)
      |  FROM st JOIN it ON it.rn = st.rn + 1)
      |SELECT rn AS assign_order, source, lang, load_chars, worker
      |FROM st WHERE rn > 0""".stripMargin

  /** Per-source unigram drift vs the corpus — the mixture-health monitor
    * a data pipeline runs per ingest batch ("did src7 suddenly stop
    * looking like the rest of the corpus"): χ²-style divergence of each
    * source's unigram distribution against the corpus distribution,
    * restricted to the corpus top-64 terms (rank by count desc, term — a
    * bounded reference vocabulary, the production drift-monitor shape).
    * Divide-FIRST discipline: both distributions are floored to milli
    * shares before the squared difference, so every term's contribution
    * is ≤ 1e6 and the statistic is engine-exact (a true χ² over raw-count
    * products overflows and drags in float division). Plan: ONE
    * corpus-sized (source, term) aggregate, checkpointed (two
    * references); everything downstream is vocab- or |sources|-sized;
    * the rank window rides the vocab aggregate (text_top_ngrams class). */
  def textUnigramDrift(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "documents")
      .select(col("source"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    val byCt = Window.orderBy(col("ct").desc, col("w"))
    val top = st.groupBy("w").agg(sum("c").as("ct"))
      .withColumn("rn", row_number().over(byCt))
      .filter(col("rn") <= 64)
      .withColumn("bm", expr(
        "cast(ct * 1000 div sum(ct) over () as bigint)"))
      .select("w", "bm")
    val j = st.join(broadcast(top), Seq("w"))
    val ns = j.groupBy("source").agg(sum("c").as("n_s"))
    j.join(broadcast(ns), Seq("source"))
      .select(col("source"), col("n_s"),
        expr("((c * 1000 div n_s) - bm) * ((c * 1000 div n_s) - bm)" +
          " div greatest(bm, 1L)").as("tdiv"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_top_present"), min("n_s").as("n_tokens_top"),
        sum("tdiv").as("chi2_milli"))
  }

  private val DRIFT_SQL =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |st AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |gl AS (SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY w),
      |top AS (SELECT w, ct FROM (
      |    SELECT w, ct, ROW_NUMBER() OVER (ORDER BY ct DESC, w) AS rn
      |    FROM gl) WHERE rn <= 64),
      |tb AS (SELECT w, CAST(ct * 1000 // SUM(ct) OVER () AS BIGINT) AS bm
      |       FROM top),
      |j AS (SELECT st.source, st.w, st.c, tb.bm FROM st JOIN tb USING (w)),
      |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM j
      |       GROUP BY source)
      |SELECT j.source, CAST(COUNT(*) AS BIGINT) AS n_top_present,
      |  MIN(ns.n_s) AS n_tokens_top,
      |  CAST(SUM(((c * 1000 // n_s) - bm) * ((c * 1000 // n_s) - bm)
      |    // GREATEST(bm, 1)) AS BIGINT) AS chi2_milli
      |FROM j JOIN ns USING (source) GROUP BY j.source""".stripMargin

  /** Prefix-LM objective construction audit — the split-point accounting
    * for UL2/PrefixLM-style training (next to [[dataSpanCorruption]]'s
    * T5 spans): each document gets a hash-derived split ('plm:' salt,
    * retry-stable like the importance sampler), tokens before it are
    * conditioning context (no loss), tokens after it carry the loss.
    * Degenerate docs (< 2 tokens) cannot split — all context, zero loss,
    * counted separately. Per-source rollup: docs, tokens, loss tokens,
    * exact loss-share milli. Plan: the split decision rides the scan
    * (zero extra shuffles), ONE |sources|-row partial aggregate. */
  def dataPrefixLmSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"),
        expr("cast(conv(substring(md5(cast(concat('plm:', cast(doc_id as string))" +
          " as binary)), 1, 15), 16, 10) as bigint)").as("h"))
      .withColumn("split",
        when(col("nt") >= 2, expr("1L + h % (nt - 1)")).otherwise(col("nt")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        sum(expr("nt - split")).as("n_loss_tokens"),
        sum(when(col("nt") < 2, 1L).otherwise(0L)).as("n_degenerate"))
      .withColumn("loss_milli",
        expr("n_loss_tokens * 1000 div greatest(n_tokens, 1L)"))

  private val PREFIXLM_SQL =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS nt,
      |    ('0x' || substr(md5('plm:' || CAST(doc_id AS VARCHAR)), 1, 15))
      |      ::BIGINT AS h
      |  FROM documents),
      |sp AS (
      |  SELECT source, nt,
      |    CASE WHEN nt >= 2 THEN 1 + h % (nt - 1) ELSE nt END AS split
      |  FROM d)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(nt - split) AS BIGINT) AS n_loss_tokens,
      |  CAST(SUM(CASE WHEN nt < 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_degenerate,
      |  CAST(SUM(nt - split) * 1000 // GREATEST(SUM(nt), 1) AS BIGINT)
      |    AS loss_milli
      |FROM sp GROUP BY source""".stripMargin

  /** Source-concentration HHI per language — the antitrust statistic
    * applied to a training mixture: Herfindahl Σ share² of token mass
    * across sources within each language, plus the effective source
    * count 1/HHI (a lang whose "20 sources" are effectively 1.4 sources
    * is a single-crawler monoculture — dedup and contamination risk
    * concentrate exactly there). Divide-first: shares floored to milli
    * BEFORE squaring, so hhi_micro ≤ 1e6 and the effective count is one
    * nonnegative division. Plan: ONE corpus-sized (lang, source)
    * aggregate; the lang-total window and both rollups ride
    * ≤ |langs|×|sources| rows. */
  def dataSourceHhi(s: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy("lang")
    t(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"))
      .groupBy("lang", "source").agg(sum("nt").as("m"))
      .withColumn("mt", sum("m").over(byLang))
      .select(col("lang"), expr("m * 1000 div greatest(mt, 1L)").as("sh"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sources"), sum(expr("sh * sh")).as("hhi_micro"),
        max("sh").as("top_share_milli"))
      .withColumn("effective_milli",
        expr("1000000000 div greatest(hhi_micro, 1L)"))
  }

  private val HHI_SQL =
    """WITH d AS (
      |  SELECT lang, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS nt
      |  FROM documents),
      |g AS (SELECT lang, source, CAST(SUM(nt) AS BIGINT) AS m
      |      FROM d GROUP BY 1, 2),
      |w AS (SELECT lang,
      |        m * 1000 // GREATEST(CAST(SUM(m) OVER (PARTITION BY lang)
      |          AS BIGINT), 1) AS sh
      |      FROM g)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
      |  CAST(SUM(sh * sh) AS BIGINT) AS hhi_micro,
      |  CAST(MAX(sh) AS BIGINT) AS top_share_milli,
      |  1000000000 // GREATEST(CAST(SUM(sh * sh) AS BIGINT), 1)
      |    AS effective_milli
      |FROM w GROUP BY lang""".stripMargin

  /** The one-row DATASET CARD — the datasheet a training run publishes
    * next to its corpus (Datasheets for Datasets, Gebru et al., public):
    * corpus size (docs, tokens, mean length), language coverage with the
    * exact Log2Fp mixture entropy, source concentration (the HHI lattice
    * of [[dataSourceHhi]], corpus-global), and the near-dup surface
    * (dedup_minhash_lsh's pair count + the share of documents touched).
    * A composition in the bio_ingest_pipeline discipline: components
    * keep their own lattices, the oracle nests the minhash oracle as a
    * MATERIALIZED CTE, and the doc-stat relation is checkpointed once
    * for its four consumer folds. Every rollup past the scans is
    * single-row (the whitelisted crossJoin class). */
  def dataDatasheet(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"))
      .transform(graft.Ckpt.capped) // totals + lang + source folds read it
    val tot = docs.agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val langs = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(tot.select(col("n_docs").as("nd"))))
      .withColumn("term", col("c") * graft.functions.Log2Fp(col("nd"), col("c")))
      .agg(count(lit(1)).as("n_langs"),
        expr("sum(term) div max(nd)").as("lang_entropy_1024"))
    val srcs = docs.groupBy("source").agg(sum("nt").as("m"))
      .crossJoin(broadcast(tot.select(col("n_tokens").as("mt"))))
      .select(expr("m * 1000 div greatest(mt, 1L)").as("sh"))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr("sh * sh")).as("source_hhi_micro"))
    val pairs = SketchQueries.dedupMinhashLsh(s, dir)
      .select("doc1", "doc2").transform(graft.Ckpt.capped)
    val np = pairs.agg(count(lit(1)).as("n_near_dup_pairs"))
    val ndod = pairs.select(col("doc1").as("d"))
      .union(pairs.select(col("doc2").as("d"))).distinct()
      .agg(count(lit(1)).as("n_near_dup_docs"))
    tot.crossJoin(broadcast(langs)).crossJoin(broadcast(srcs))
      .crossJoin(broadcast(np)).crossJoin(broadcast(ndod))
      .select(col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000 div n_docs").as("mean_doc_tokens_milli"),
        col("n_langs"), col("lang_entropy_1024"),
        col("n_sources"), col("source_hhi_micro"),
        col("n_near_dup_pairs"),
        expr("n_near_dup_docs * 1000 div n_docs")
          .as("near_dup_doc_share_milli"))
  }

  // Sibling-val reference, NEVER SketchQueries.oracle("..."): reading the
  // oracle map from another object's initializer re-enters SketchQueries'
  // <clinit> when the load order starts there (Graphs → SketchQueries →
  // DomainQueries → TextPrep → back), and the still-null map NPEs the
  // whole chain — the r12 KNN_GRAPH_SQL landmine, latent here until a
  // standalone `testOnly graft.GraphsSpec` hit that order (r14).
  private lazy val DATASHEET_SQL: String =
    s"""WITH mh AS MATERIALIZED (
       |${SketchQueries.MINHASH_PAIR_SQL}),
       |dd AS MATERIALIZED (
       |  SELECT doc_id, lang, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
       |      AS nt
       |  FROM documents),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(nt) AS BIGINT) AS n_tokens FROM dd),
       |lg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
       |    CAST(SUM(c * ${lfpSql("nd", "c")}) AS BIGINT) // MAX(nd)
       |      AS lang_entropy_1024
       |  FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c,
       |          (SELECT n_docs FROM t) AS nd
       |        FROM dd GROUP BY lang)),
       |sr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    CAST(SUM(sh * sh) AS BIGINT) AS source_hhi_micro
       |  FROM (SELECT m * 1000 // GREATEST((SELECT n_tokens FROM t), 1) AS sh
       |        FROM (SELECT source, CAST(SUM(nt) AS BIGINT) AS m
       |              FROM dd GROUP BY source))),
       |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_near_dup_pairs FROM mh),
       |ndod AS (
       |  SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS n_near_dup_docs
       |  FROM (SELECT doc1 AS x FROM mh UNION ALL SELECT doc2 FROM mh))
       |SELECT n_docs, n_tokens,
       |  n_tokens * 1000 // n_docs AS mean_doc_tokens_milli,
       |  n_langs, lang_entropy_1024, n_sources, source_hhi_micro,
       |  n_near_dup_pairs,
       |  n_near_dup_docs * 1000 // n_docs AS near_dup_doc_share_milli
       |FROM t, lg, sr, np, ndod""".stripMargin

  /** Pairwise language divergence — the multilingual-mixture structure
    * map next to [[textUnigramDrift]]'s source-vs-corpus reading: for
    * every language pair (a < b) the symmetric χ²-distance
    * Σ_t (p_a−p_b)² / (p_a+p_b) over the corpus top-64 terms, shares
    * floored to milli FIRST. Terms present in only ONE of the pair
    * contribute their full share exactly — (p−0)²/(p+0) = p — folded in
    * closed form from the per-lang totals instead of a full-outer grid,
    * so the pair join stays inner and the identity costs nothing. Plan:
    * ONE corpus-sized (lang, term) agg, checkpointed; the share table is
    * ≤ |langs|×64 rows, checkpointed for its self-join; everything after
    * is pair-count-sized. */
  def textLangDivergence(s: SparkSession, dir: String): DataFrame = {
    val st = t(s, dir, "documents")
      .select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    val byCt = Window.orderBy(col("ct").desc, col("w"))
    val top = st.groupBy("w").agg(sum("c").as("ct"))
      .withColumn("rn", row_number().over(byCt))
      .filter(col("rn") <= 64).select("w")
    val j = st.join(broadcast(top), Seq("w"))
    val tot = j.groupBy("lang").agg(sum("c").as("nl"))
    val sh = j.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("w"), expr("c * 1000 div nl").as("p"))
      .transform(graft.Ckpt.capped)
    val sl = sh.groupBy("lang").agg(sum("p").as("sp"))
    sh.select(col("lang").as("lang_a"), col("w"), col("p").as("pa"))
      .join(sh.select(col("lang").as("lang_b"), col("w"), col("p").as("pb")),
        Seq("w"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("(pa - pb) * (pa - pb) div greatest(pa + pb, 1L)"))
          .as("pair_div"),
        sum("pa").as("ca"), sum("pb").as("cb"))
      .join(broadcast(sl.select(col("lang").as("lang_a"), col("sp").as("sa"))),
        Seq("lang_a"))
      .join(broadcast(sl.select(col("lang").as("lang_b"), col("sp").as("sb"))),
        Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("n_common"),
        expr("pair_div + (sa - ca) + (sb - cb)").as("div_milli"))
  }

  private val LANGDIV_SQL =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |st AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |gl AS (SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY w),
      |top AS (SELECT w FROM (
      |    SELECT w, ROW_NUMBER() OVER (ORDER BY ct DESC, w) AS rn
      |    FROM gl) WHERE rn <= 64),
      |j AS (SELECT st.lang, st.w, st.c FROM st JOIN top USING (w)),
      |tt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM j
      |       GROUP BY lang),
      |sh AS (SELECT j.lang, j.w, c * 1000 // nl AS p
      |       FROM j JOIN tt USING (lang)),
      |sl AS (SELECT lang, CAST(SUM(p) AS BIGINT) AS sp FROM sh
      |       GROUP BY lang),
      |pr AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common,
      |    CAST(SUM((a.p - b.p) * (a.p - b.p)
      |      // GREATEST(a.p + b.p, 1)) AS BIGINT) AS pair_div,
      |    CAST(SUM(a.p) AS BIGINT) AS ca, CAST(SUM(b.p) AS BIGINT) AS cb
      |  FROM sh a JOIN sh b ON a.w = b.w AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT lang_a, lang_b, n_common,
      |  pair_div + (sa.sp - ca) + (sb.sp - cb) AS div_milli
      |FROM pr JOIN sl sa ON sa.lang = pr.lang_a
      |JOIN sl sb ON sb.lang = pr.lang_b""".stripMargin

  /** Quality-vs-length bias audit — "is the quality gate secretly a
    * length gate?": per source, the exact-integer OLS slope of the
    * mass-curve quality lattice q_milli = least(nt,100)·10·nd div nt on
    * floor-log2(nt). A strongly positive slope means the gate mostly
    * rewards length — curation would silently skew the corpus long.
    * Sufficient statistics divide by n BEFORE any cross product (the
    * arrival_regularity overflow discipline; x ≤ 63 and y ≤ 1000 keep
    * every Σ BIGINT-safe to ~1e11 docs per source), covariance/variance
    * in milli, slope as sign + abs-milli (abs BEFORE the division —
    * Spark div truncates, DuckDB // floors; they agree on nonnegative
    * operands). var_milli can floor to −1 when the true variance is 0;
    * the division clamps with greatest(·, 1) and both engines carry the
    * same raw value. Plan: narrow codegen projection + ONE |sources|-row
    * aggregate. */
  def dataQualityLengthBias(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
          lit(0))).cast("long").as("nt"),
        size(array_distinct(regexp_extract_all(lower(col("text")),
          lit("[a-z0-9]+"), lit(0)))).cast("long").as("nd"))
      .filter(col("nt") > 0)
      .select(col("source"),
        expr("cast(length(bin(nt)) - 1 as bigint)").as("x"),
        expr("least(nt, 100) * 10 * nd div nt").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("source"), col("n_docs"),
        expr("sx * 1000 div n_docs").as("mx_milli"),
        expr("sy * 1000 div n_docs").as("my_milli"),
        expr("(sxy * 1000 div n_docs)" +
          " - (sx * 1000 div n_docs) * (sy * 1000 div n_docs) div 1000")
          .as("cov_milli"),
        expr("(sxx * 1000 div n_docs)" +
          " - (sx * 1000 div n_docs) * (sx * 1000 div n_docs) div 1000")
          .as("var_milli"))
      .withColumn("bias_sign",
        expr("cast(case when cov_milli < 0 then -1 when cov_milli > 0 then 1" +
          " else 0 end as bigint)"))
      .withColumn("abs_slope_milli",
        expr("abs(cov_milli) * 1000 div greatest(var_milli, 1L)"))

  private val QLBIAS_SQL =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
      |      AS nt,
      |    CAST(len(list_distinct(regexp_extract_all(lower(text),
      |      '[a-z0-9]+'))) AS BIGINT) AS nd
      |  FROM documents),
      |p AS (
      |  SELECT source, CAST(length(bin(nt)) - 1 AS BIGINT) AS x,
      |    LEAST(nt, 100) * 10 * nd // nt AS y
      |  FROM d WHERE nt > 0),
      |ag AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM p GROUP BY source),
      |mm AS (
      |  SELECT source, n_docs,
      |    sx * 1000 // n_docs AS mx_milli,
      |    sy * 1000 // n_docs AS my_milli,
      |    (sxy * 1000 // n_docs)
      |      - (sx * 1000 // n_docs) * (sy * 1000 // n_docs) // 1000
      |      AS cov_milli,
      |    (sxx * 1000 // n_docs)
      |      - (sx * 1000 // n_docs) * (sx * 1000 // n_docs) // 1000
      |      AS var_milli
      |  FROM ag)
      |SELECT source, n_docs, mx_milli, my_milli, cov_milli, var_milli,
      |  CAST(CASE WHEN cov_milli < 0 THEN -1 WHEN cov_milli > 0 THEN 1
      |       ELSE 0 END AS BIGINT) AS bias_sign,
      |  abs(cov_milli) * 1000 // GREATEST(var_milli, 1) AS abs_slope_milli
      |FROM mm""".stripMargin

  /** Yule's characteristic K per source — the sample-size-robust
    * vocabulary-richness number next to zipf_slope's fit and
    * vocab_growth's curve: K = 10⁴·(Σ_w f_w² − N) / N². The /N² lands
    * on the board's new TWO-STEP exact long division: with A = S2 − N,
    * q = A div N, r = A mod N (all nonnegative),
    * floor(A·c/N) = q·c + floor(r·c/N) EXACTLY, and a second div N
    * composes to floor(A·c/N²) — no 1e7-scaled product of corpus-sized
    * operands ever forms (the naive A·10⁷ wraps once Σf² crosses
    * ~9e11; this form is safe while q = Σf²/N < 9e11, i.e. any
    * realistic corpus). Also ships hapax count V₁ — K and V₁/V are the
    * two standard richness reads. Plan: (source, word) partial agg then
    * a |sources|-row rollup — 2 exchanges, everything after projects. */
  def textYuleK(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(sum("f").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(expr("f * f")).as("s2"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("v1_hapax"))
      .withColumn("a", expr("s2 - n_tokens"))
      .withColumn("q", expr("a div n_tokens"))
      .withColumn("r", expr("a % n_tokens"))
      .withColumn("yule_k_milli",
        expr("(q * 10000000L + (r * 10000000L) div n_tokens) div n_tokens"))
      .select("source", "n_tokens", "n_types", "v1_hapax", "yule_k_milli")
  }

  private val YULE_SQL =
    """WITH f AS (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f FROM (
      |    SELECT source,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |    FROM documents) GROUP BY source, w),
      |ag AS (
      |  SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(f * f) AS BIGINT) AS s2,
      |    CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1_hapax
      |  FROM f GROUP BY source),
      |qr AS (
      |  SELECT source, n_tokens, n_types, v1_hapax,
      |    (s2 - n_tokens) // n_tokens AS q,
      |    (s2 - n_tokens) % n_tokens AS r
      |  FROM ag)
      |SELECT source, n_tokens, n_types, v1_hapax,
      |  (q * 10000000 + (r * 10000000) // n_tokens) // n_tokens
      |    AS yule_k_milli
      |FROM qr""".stripMargin

  val queries: Map[String, Q] = Map(
    "data_hash_width_audit" -> (dataHashWidthAudit _),
    "text_yule_k" -> (textYuleK _),
    "text_lang_divergence" -> (textLangDivergence _),
    "data_source_hhi" -> (dataSourceHhi _),
    "data_datasheet" -> (dataDatasheet _),
    "data_quality_length_bias" -> (dataQualityLengthBias _),
    "data_shard_rebalance" -> (dataShardRebalance _),
    "text_unigram_drift" -> (textUnigramDrift _),
    "data_prefix_lm_split" -> (dataPrefixLmSplit _),
    "text_bpe_learn" -> (textBpeLearn _),
    "text_unigram_lm_learn" -> (textUnigramLmLearn _),
    "text_unigram_fertility" -> (textUnigramFertility _),
    "data_ks_drift" -> (dataKsDrift _),
    "data_bin_packing" -> (dataBinPacking _),
    "text_feature_hashing" -> (textFeatureHashing _),
    "text_freq_spectrum" -> (textFreqSpectrum _),
    "text_zipf_slope" -> (textZipfSlope _),
    "data_skew_audit" -> (dataSkewAudit _),
    "data_salted_join_audit" -> (dataSaltedJoinAudit _),
    "data_mixture_sample" -> (dataMixtureSample _),
    "data_importance_sample" -> (dataImportanceSample _),
    "data_span_corruption" -> (dataSpanCorruption _),
    "data_quota_sample" -> (dataQuotaSample _),
    "text_vocab_growth" -> (textVocabGrowth _),
    "data_dedup_impact" -> (dataDedupImpact _),
    "data_epoch_order" -> (dataEpochOrder _),
    "data_token_budget_cut" -> (dataTokenBudgetCut _),
    "data_compact_files" -> (dataCompactFiles _),
    "data_shuffle_shards" -> (dataShuffleShards _),
    "text_scrub" -> (textScrub _),
    "text_stopword_filter" -> (textStopwordFilter _),
    "text_length_deciles" -> (textLengthDeciles _),
    "text_repetition" -> (textRepetition _),
    "text_lz_complexity" -> (textLzComplexity _),
    "text_conditional_entropy" -> (textConditionalEntropy _),
    "data_split_hash" -> (dataSplitHash _),
    "data_split_leakage" -> (dataSplitLeakage _),
    "text_rarity" -> (textRarity _),
    "data_pack_sequences" -> (dataPackSequences _),
    "data_padding_waste" -> (dataPaddingWaste _),
    "data_vocab_coverage" -> (dataVocabCoverage _),
    "data_loo_source_impact" -> (dataLooSourceImpact _))

  val oracle: Map[String, String] = Map(
    "data_hash_width_audit" -> HASHW_SQL,
    "text_yule_k" -> YULE_SQL,
    "text_lang_divergence" -> LANGDIV_SQL,
    "data_source_hhi" -> HHI_SQL,
    "data_datasheet" -> DATASHEET_SQL,
    "data_quality_length_bias" -> QLBIAS_SQL,
    "data_shard_rebalance" -> REBALANCE_SQL,
    "text_unigram_drift" -> DRIFT_SQL,
    "data_prefix_lm_split" -> PREFIXLM_SQL,
    "text_bpe_learn" -> BPE_LEARN_SQL,
    "text_unigram_lm_learn" -> ULM_SQL,
    "text_unigram_fertility" -> UFERT_SQL,
    "data_ks_drift" -> KS_SQL,
    "data_bin_packing" -> BINPACK_SQL,
    "text_feature_hashing" -> FEATHASH_SQL,
    "text_freq_spectrum" -> SPECTRUM_SQL,
    "text_zipf_slope" -> ZIPF_SQL,
    "data_skew_audit" -> SKEW_SQL,
    "data_salted_join_audit" -> SALTED_JOIN_SQL,
    "data_mixture_sample" -> MIX_SQL,
    "data_importance_sample" -> IMPORTANCE_SQL,
    "data_span_corruption" -> SPAN_SQL,
    "data_quota_sample" -> QUOTA_SQL,
    "text_vocab_growth" -> VOCAB_SQL,
    "data_dedup_impact" -> IMPACT_SQL,
    "data_epoch_order" -> EPOCH_SQL,
    "data_token_budget_cut" -> BUDGET_CUT_SQL,
    "data_compact_files" -> COMPACT_SQL,
    "data_shuffle_shards" -> SHARDS_SQL,
    "text_scrub" -> SCRUB_SQL,
    "text_stopword_filter" -> STOPWORD_SQL,
    "text_length_deciles" -> DECILES_SQL,
    "text_repetition" -> REPETITION_SQL,
    "text_lz_complexity" -> LZ_SQL,
    "text_conditional_entropy" -> CONDENT_SQL,
    "data_split_hash" -> SPLIT_SQL,
    "data_split_leakage" -> LEAKAGE_SQL,
    "text_rarity" -> RARITY_SQL,
    "data_pack_sequences" -> PACK_SQL,
    "data_padding_waste" -> PADDING_SQL,
    "data_vocab_coverage" -> VOCAB_COVERAGE_SQL,
    "data_loo_source_impact" -> LOO_SQL)
}
