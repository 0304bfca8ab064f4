package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators over two-column edge lists: clustering (connected
  * components, label propagation), density (triangles, k-core, truss,
  * onion layers), reach (BFS, landmark BFS, ancestor closure), centrality
  * (pagerank, harmonic) and spanning forests (Borůvka). They are the
  * clustering step every near-dup pipeline needs after pair generation:
  * pair lists say WHICH documents collide, but dedup keeps one
  * representative per transitive CLUSTER (a~b, b~c ⇒ keep one of
  * {a,b,c}).
  *
  * Every round loop runs through [[graft.Fixpoint]], which owns the
  * per-round checkpoint, the carried size estimate, the observed
  * convergence read and the loud failure at the round cap. Every
  * operator first materializes its input edges at the same consumer-free
  * boundary ([[edgeCut]]), so operators over one upstream share its plan.
  * Fixed-round loops (pagerank, label propagation, k-core, truss, onion,
  * BFS, landmark BFS, ancestor closure) are deterministic on both
  * engines; all but ancestor closure have oracles that unroll the same
  * rounds as chained CTEs. Convergence
  * loops (both CC algorithms, Borůvka) read one aggregate observed on
  * each checkpoint action, so no row data reaches the driver.
  */
object Graphs {
  type Q = (SparkSession, String) => DataFrame

  /** Every checkpoint in this file is the stats-capped one: see
    * [[graft.Ckpt]] for why plain localCheckpoint is unsafe in loops. */
  private def ckpt(df: DataFrame): DataFrame = graft.Ckpt.capped(df)

  /** The first materialization of every operator's input edge list: the
    * edges checkpointed as (x, y), renamed only. Nothing that depends on
    * the consumer (a filter, a projection, a `distinct`) runs before the
    * checkpoint, so every operator over the same upstream pair plan (the
    * trigram-Jaccard pairs, the k-NN graph) runs the identical plan here,
    * and only the first of them compiles its stages. */
  private[graft] def edgeCut(edges: DataFrame): DataFrame = ckpt(edges.toDF("x", "y"))

  /** Canonical undirected edges (u < v): direction, duplicates and
    * self-loops dropped, checkpointed because every caller references
    * the list more than once. */
  private def canonical(edges: DataFrame): DataFrame =
    edgeCut(edges)
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(ckpt)

  /** Distinct arcs (a, b) in both directions, self-loops dropped, over
    * the [[edgeCut]]: the union's two legs read the checkpoint, not the
    * upstream pair plan. */
  private def symmetrize(edges: DataFrame): DataFrame = {
    val e = edgeCut(edges).filter(col("x") =!= col("y"))
    e.select(col("x").as("a"), col("y").as("b"))
      .union(e.select(col("y").as("a"), col("x").as("b")))
      .distinct()
  }

  /** (node, cluster_id) for every node in `edges`, cluster_id = min node
    * id reachable, by iterative min-label propagation. `edges` needs two
    * long columns (a, b); direction and duplicates don't matter. Two
    * shuffles per round, rounds = graph DIAMETER: the right plan for
    * near-dup pair graphs, whose components are near-cliques (diameter
    * 2-3). A high-diameter graph (paths/grids) wants [[alternatingCC]],
    * whose rounds grow LOGARITHMICALLY in component size. `maxIter`
    * bounds the rounds; running out of them throws. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // The symmetrizing union reads the edge cut twice, and every round
    // reads it again, never the upstream pair plan.
    val e = edgeCut(edges).toDF("a", "b")
    // no distinct(): duplicate edges cannot move a min aggregate, and the
    // dedup shuffle would cost more than the duplicates it removes
    val sym = e.union(e.select(col("b"), col("a")))
    // label = min(node) of the node's own group: the same value as the
    // node, but nullable like the rounds' min, so round 0 reads the schema
    // every later round reads and compiles the same classes
    var labels = sym.groupBy(col("a").as("node")).agg(min(col("a")).as("label"))
      .transform(ckpt)
    // CLOSED-neighborhood edge set: self-loops come from the node
    // checkpoint, so one round is ONE join + ONE min aggregate and
    // references the previous labels exactly ONCE. min over the closed
    // neighborhood ≡ the textbook least(own, min-over-neighbors).
    val symC = sym.union(labels.select(col("node").as("a"),
      col("node").as("b")))
    def round(cur: DataFrame): DataFrame =
      symC.join(cur, symC("b") === cur("node"))
        .groupBy(symC("a").as("node")).agg(min("label").as("label"))
    // Labels only ever DECREASE, so the label SUM strictly decreases
    // while anything moves and is constant exactly at the fixpoint: one
    // observed DECIMAL(38,0) sum per round replaces an old-vs-new
    // comparison (which would reference the previous labels twice). An
    // empty edge set sums to 0, not null.
    var prevSum: Option[String] = None
    graft.Fixpoint.converge("connectedComponents", maxIter,
        raise = "maxIter (the graph diameter exceeds it)") { iter =>
      val (next, m) = graft.Fixpoint.observe(round(labels), s"cc_round_$iter",
        Some(labels), coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("ls"))
      val s = m("ls").asInstanceOf[java.math.BigDecimal]
        .stripTrailingZeros.toPlainString
      val done = prevSum.contains(s)
      prevSum = Some(s)
      labels = next
      done
    }
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Alternating large-star / small-star contraction — the O(log n)-round
    * connected-components algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC 2014); public method, no
    * reference-repo counterpart (the reference has no graph engine).
    *
    * Invariant: the working edge set is oriented (u, v) with u > v.
    * Per round:
    *  - LARGE-STAR keys every edge by BOTH endpoints; each node links
    *    its strictly-larger neighbors to the minimum of its closed
    *    neighborhood — distances to the component minimum roughly halve
    *    (the distributed analogue of pointer doubling).
    *  - SMALL-STAR keys each edge by its LARGER endpoint; each node
    *    links its smaller neighbors (and itself) to their minimum —
    *    flattening the partial trees large-star built.
    * A round ([[starRound]]) plans three shuffles and no broadcast.
    * The joint fixpoint is a disjoint union of stars rooted at component
    * minima (large-star on any deeper chain emits a new shortcut edge,
    * so nothing else is stable). Convergence is detected by a
    * (count, Σ xxhash64) checksum of the post-small-star edge set,
    * observed on each round's checkpoint.
    *
    * Returns (labels, roundsUsed); throws beyond `maxRounds` like the
    * min-label path — a non-fixpoint edge set yields WRONG star labels.
    */
  private[graft] def alternatingCC(
      edges: DataFrame, maxRounds: Int = 30): (DataFrame, Int) = {
    val e0 = edges.toDF("x", "y").filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()
    val nodes = e0.select(col("u").as("node"))
      .union(e0.select(col("v").as("node"))).distinct()
      .transform(ckpt) // reused after the loop; don't replay the scan
    var cur = e0.transform(ckpt)
    // (count, Σ xxhash64) edge-set checksum. Hash sum in DECIMAL(38,0):
    // a BIGINT sum of ±2^63 hashes overflows under ANSI on a few
    // thousand rows.
    val checksumCols: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("cnt"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("hs"))
    def checksum(m: Map[String, Any]): (Long, String) = (m("cnt").asInstanceOf[Long],
      m("hs").asInstanceOf[java.math.BigDecimal].stripTrailingZeros.toPlainString)
    var prev = {
      val r = cur.agg(checksumCols.head, checksumCols.tail: _*).head()
      checksum(r.getValuesMap[Any](Seq("cnt", "hs")))
    }
    val rounds = graft.Fixpoint.converge("alternatingCC", maxRounds,
        raise = "maxRounds") { r =>
      val (small, m) = graft.Fixpoint.observe(starRound(cur), s"bigstar_$r",
        Some(cur), checksumCols: _*)
      val sum1 = checksum(m)
      val converged = sum1 == prev
      prev = sum1
      cur = small
      converged
    }
    val labels = nodes
      .join(cur.select(col("u").as("node"), col("v").as("root")),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
    (labels, rounds)
  }

  /** One large-star + small-star round over the (larger, smaller)
    * oriented edge set `cur` (u, v), as three shuffles and no broadcast:
    * both minima are `min(v) over (partition by u)` windows, so neither
    * star aggregates and joins back. Large-star's window keys the
    * symmetrized edges by u; small-star's keys large-star's output by its
    * new u; the closing distinct is the third. */
  private[graft] def starRound(cur: DataFrame): DataFrame = {
    val byU = Window.partitionBy("u")
    // m = min of the CLOSED neighborhood; every emitted edge (v, m) has
    // v > u >= m, so the (larger, smaller) orientation holds
    val large = cur.select(col("u"), col("v"))
      .union(cur.select(col("v").as("u"), col("u").as("v")))
      .withColumn("m", least(min("v").over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // small-star over the large output: every neighbor under key u is
    // < u, so its minimum sm < u strictly. Each edge (u, v) emits
    // (v, sm) and (u, sm); only (v, sm) can be a self-loop (v = sm).
    large.withColumn("sm", min("v").over(byU))
      .select(explode(array(
        struct(col("v").as("u"), col("sm").as("v")),
        struct(col("u"), col("sm").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Premium supply-chain co-membership clusters — connected components
    * of the part↔supplier BIPARTITE graph induced by premium line items
    * (l_extendedprice > 104000; supplier nodes offset by 10^8), the
    * "which parts/suppliers form one procurement bloc" readout. This is
    * the [[alternatingCC]] production caller: the
    * bipartite graph mixes a giant hub component with hundreds of small
    * ones (39 components at sf0.01, 286 at sf0.1), exactly the
    * unknown-diameter regime where min-label's O(diameter) rounds are a
    * gamble and the O(log n) contraction is the safe default. The oracle
    * replays TEN unrolled large-star/small-star rounds in SQL (fixpoint
    * reached by round 7 at both gate SFs — scale margin per the CC
    * maxIter landmine) — an independent derivation of the same labels,
    * the pagerank unrolled-CTE discipline. */
  def graphBipartiteComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.Tables.t(s, dir, "lineitem")
      .filter(col("l_extendedprice") > 104000)
      .select(col("l_partkey").as("a"),
        (col("l_suppkey") + lit(100000000L)).as("b"))
      .distinct()
    alternatingCC(edges, maxRounds = 30)._1
      .select(col("node"), col("cluster_id"),
        (col("node") < 100000000L).cast("long").as("is_part"))
  }

  private lazy val BIPARTITE_CC_SQL: String = {
    val rounds = 10
    // every CTE MATERIALIZED: DuckDB inlines plain CTEs per reference, so
    // a 10-round chain whose every stage reads its predecessor 2-3 times
    // would otherwise expand exponentially (observed as "Too many open
    // files" — thousands of inlined parquet scans)
    val head =
      """e0 AS MATERIALIZED (
        |  SELECT DISTINCT CAST(100000000 + l_suppkey AS BIGINT) AS u,
        |    CAST(l_partkey AS BIGINT) AS v
        |  FROM lineitem WHERE l_extendedprice > 104000)""".stripMargin
    val body = (0 until rounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT u, v FROM e$i UNION ALL SELECT v AS u, u AS v FROM e$i),
         |lm$i AS MATERIALIZED (
         |  SELECT u, LEAST(MIN(v), u) AS m FROM s$i GROUP BY u),
         |lg$i AS MATERIALIZED (
         |  SELECT DISTINCT s.v AS u, l.m AS v
         |  FROM s$i s JOIN lm$i l ON s.u = l.u WHERE s.v > s.u),
         |sm$i AS MATERIALIZED (
         |  SELECT u, MIN(v) AS m FROM lg$i GROUP BY u),
         |e${i + 1} AS MATERIALIZED (SELECT DISTINCT u, v FROM (
         |  SELECT g.v AS u, m.m AS v FROM lg$i g JOIN sm$i m ON g.u = m.u
         |  WHERE g.v <> m.m
         |  UNION ALL SELECT u, m AS v FROM sm$i WHERE u <> m))""".stripMargin
    }.mkString(",\n")
    s"""WITH $head,
       |$body,
       |nodes AS (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
       |lab AS (SELECT n.node, COALESCE(MIN(e.v), n.node) AS cluster_id
       |        FROM nodes n LEFT JOIN e$rounds e ON e.u = n.node
       |        GROUP BY n.node)
       |SELECT node, cluster_id,
       |  CAST(CASE WHEN node < 100000000 THEN 1 ELSE 0 END AS BIGINT) AS is_part
       |FROM lab""".stripMargin
  }

  /** Near-dup clusters over the trigram-Jaccard pair graph:
    * [[TextQueries.dedupNgramJaccard]] emits colliding pairs; this
    * resolves them into canonical clusters (doc_id → min doc_id in the
    * transitive component). */
  def dedupCluster(s: SparkSession, dir: String): DataFrame =
    connectedComponents(
      TextQueries.dedupNgramJaccard(s, dir).select(
        col("doc1").as("a"), col("doc2").as("b")))
      .select(col("node").as("doc_id"), col("cluster_id"))

  /** Perceptual-dup families: connected components over
    * [[Multimodal.multimodalPhashDedup]]'s Hamming-ball pair graph —
    * the survivorship input for binary payloads (which re-crawls and
    * near-copies collapse to one canonical blob). Same min-label CC as
    * [[dedupCluster]]: phash components are cliquey Hamming balls
    * (planted re-crawl pairs + fuzzy families), not high-diameter
    * chains; the fail-loudly guard covers the assumption. */
  def multimodalPhashClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(
      Multimodal.multimodalPhashDedup(s, dir).select(
        col("media_a").as("a"), col("media_b").as("b")))
      .select(col("node").as("media_id"), col("cluster_id"))

  /** Global clustering coefficient (transitivity) — ONE number for the
    * whole graph where [[clusteringCoeff]] gives one per node:
    * 3·triangles / wedges, wedges = Σ d(d−1)/2. A near-dup pair graph
    * should transit high (cliques); a hub-and-spoke LSH artifact
    * transits low. Exact milli with a single positive floor division;
    * triangle total and degree fold both read the ONE checkpointed
    * canonical edge list. Single-row output: the two single-row
    * aggregates meet in a 1×1 broadcast crossJoin (whitelisted — a
    * keyed join on a shared literal constant-folds to the same BNLJ). */
  def globalClustering(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val wedges = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"), sum("d").as("sum_deg"))
    val tri = triangleCounts(und)
      .agg(expr("sum(n_triangles) div 3").as("n_triangles"))
    wedges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), expr("sum_deg div 2").as("n_edges"),
        col("n_wedges"), col("n_triangles"),
        expr("case when n_wedges = 0 then 0" +
          " else n_triangles * 3000 div n_wedges end")
          .as("transitivity_milli"))
  }

  /** Global transitivity of the k-NN similarity graph. */
  def graphGlobalClustering(s: SparkSession, dir: String): DataFrame =
    globalClustering(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Synchronous 3-truss peeling, FIXED rounds — the EDGE-grain density
    * gate next to [[kcorePeel]]'s node-grain one: an edge survives a
    * round iff it closes ≥ k−2 triangles with CURRENTLY-alive edges, so
    * a high-degree hub whose edges share no triangles (the LSH-artifact
    * star kcore cannot reject) peels away while clique edges survive.
    * Same fixed-round discipline as kcore (3 synchronous rounds —
    * deterministic on both engines; the oracle unrolls as chained
    * CTEs). Per round the support join is the ordered-wedge shape of
    * [[triangleCounts]] (candidates bounded by Σd², never edge²); the
    * survivor set is referenced three times per round (join base + both
    * symmetric sides), and every round ends in a checkpoint.
    *
    * ORACLE COUPLING: the graph_ktruss DuckDB oracle hardcodes k = 3
    * (`HAVING COUNT(*) >= 1`) and exactly 3 unrolled peel rounds — any
    * oracle-compared caller MUST use the defaults ([[graphKtruss]] pins
    * them explicitly). Other (k, rounds) are fine for non-oracle use. */
  def trussPeel(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame = {
    val und = canonical(edges)
    def round(al: DataFrame): DataFrame = {
      val sym = al.select(col("u").as("a"), col("v").as("b"))
        .union(al.select(col("v").as("a"), col("u").as("b")))
      al.join(sym.select(col("a").as("u"), col("b").as("w")), Seq("u"))
        .join(sym.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"),
          "left_semi")
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= k - 2).select("u", "v")
    }
    val alive = graft.Fixpoint.fixed(und, rounds)(round)
    und.join(alive.withColumn("flag", lit(true)), Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"),
        coalesce(col("flag"), lit(false)).as("in_truss"))
  }

  /** Minimum spanning FOREST via distributed Borůvka — the O(log n)-round
    * contraction algorithm (each round every component grabs its minimum
    * outgoing edge; component count at least halves). No reference-repo
    * counterpart (the reference has no graph engine); the shape is the
    * one a 100 TB single-linkage clustering or network-backbone job
    * needs: per-round work is two hash joins + one min-struct aggregate,
    * contraction is 2-cycle-broken POINTER JUMPING on the component
    * relation (which shrinks geometrically), and every loop-carried
    * relation is checkpointed.
    *
    * `edges` needs three long columns (u, v, w) with STRICTLY DISTINCT
    * weights — uniqueness makes the forest unique (cut property), which
    * is what lets a DuckDB Kruskal replay hash-match; callers pack a
    * tiebreak into w. Throws loudly on duplicate weights and on
    * non-convergence. Returns the forest's (u, v, w) rows. */
  def boruvkaMsf(edges: DataFrame, maxRounds: Int = 32): DataFrame =
    boruvkaMsfRounds(edges, maxRounds)._1

  /** [[boruvkaMsf]] plus the contraction-round count (spec hook for the
    * O(log n) bound, mirroring [[alternatingCC]]). */
  private[graft] def boruvkaMsfRounds(
      edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val und = edges.toDF("x", "y", "w")
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"), col("w"))
      .distinct()
      .transform(ckpt) // joined against comp every round — plan once
    val wc = und.agg(count(lit(1)), countDistinct("w")).head()
    require(wc.getLong(0) == wc.getLong(1),
      s"boruvkaMsf needs strictly distinct edge weights " +
        s"(${wc.getLong(0)} edges, ${wc.getLong(1)} distinct w); " +
        "pack a tiebreak into w")
    var comp = und.select(explode(array(col("u"), col("v"))).as("node"))
      .distinct().withColumn("comp", col("node"))
      .transform(ckpt)
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Every join below is a sort-merge join by hint. AQE would convert a
    // small one to a broadcast at run time, building on whichever shuffle
    // stage finished first, so the same round plan would compile new
    // classes by timing alone.
    val rounds = graft.Fixpoint.converge("boruvkaMsf", maxRounds,
        raise = "maxRounds (component count halves per round)") { round =>
      // the active-edge count is observed on the checkpoint, which comes
      // BEFORE the count check so that the check does not replay the join
      val (e, m) = graft.Fixpoint.observe(und
        .join(comp.toDF("u", "cu").hint("merge"), Seq("u"))
        .join(comp.toDF("v", "cv").hint("merge"), Seq("v"))
        .filter(col("cu") =!= col("cv")), s"boruvka_e_$round", None,
        count(lit(1)).as("cnt"))
      if (m("cnt") == 0L) true
      else {
        // per-component minimum outgoing edge (min-struct: w is unique,
        // so the winner and its payload are deterministic)
        val half = e.select(col("cu").as("c"), col("w"), col("u"),
            col("v"), col("cu"), col("cv"))
          .union(e.select(col("cv").as("c"), col("w"), col("u"),
            col("v"), col("cu"), col("cv")))
        val sel = half.groupBy("c")
          .agg(min(struct(col("w"), col("u"), col("v"), col("cu"),
            col("cv"))).as("m"))
          .select(col("c"), col("m.w").as("w"), col("m.u").as("u"),
            col("m.v").as("v"), col("m.cu").as("cu"), col("m.cv").as("cv"))
          .transform(ckpt)
        // an edge picked by both endpoints appears twice — dedupe within
        // the round; across rounds its endpoints share a component, so it
        // can never be re-picked. No checkpoint of its own (r15): `sel`
        // is already materialized, so this stays a lazy distinct over the
        // leaf — the final forest union is its only consumer.
        picked += sel.select("u", "v", "w").distinct()
        // pointer graph: every active component points at the OTHER
        // endpoint of its min edge. Unique weights ⇒ the only cycles are
        // mutual-min 2-cycles; break them toward the smaller id, leaving
        // a forest of self-rooted trees.
        val p0 = sel.select(col("c"),
          when(col("cu") === col("c"), col("cv")).otherwise(col("cu"))
            .as("p"))
        // (c, p, mv): mv = whether the last jump moved p; the pointer
        // checkpoint keeps it so that every jump reads one leaf schema
        var ptr = p0.join(p0.toDF("p", "pp").hint("merge"), Seq("p"))
          .select(col("c"),
            when(col("pp") === col("c"), least(col("c"), col("p")))
              .otherwise(col("p")).as("p"),
            lit(null).cast("long").as("mv"))
          .transform(ckpt)
        // pointer jumping: p ← p(p) until fixpoint (≤ log depth rounds)
        graft.Fixpoint.converge("boruvkaMsf pointer jumping", maxRounds,
            raise = "maxRounds") { jump =>
          val (nxt, mv) = graft.Fixpoint.observe(ptr.toDF("c0", "p0", "m0")
            .join(ptr.toDF("p0", "p1", "m1").hint("merge"), Seq("p0"))
            .select(col("c0").as("c"), col("p1").as("p"),
              (col("p1") =!= col("p0")).cast("long").as("mv")),
            s"boruvka_jump_${round}_$jump", Some(ptr),
            coalesce(sum("mv"), lit(0L)).as("mv"))
          ptr = nxt
          mv("mv") == 0L
        }
        comp = graft.Ckpt.capped(
          comp.join(ptr.toDF("comp", "root", "mv").hint("merge"), Seq("comp"), "left_outer")
            .select(col("node"), coalesce(col("root"), col("comp")).as("comp")),
          Some(comp))
        false
      }
    }
    val forest = if (picked.isEmpty) und.limit(0)
      else picked.reduce(_ union _)
    (forest, rounds)
  }

  /** 3-truss of the k-NN similarity graph. k/rounds pinned to the values
    * the DuckDB oracle unrolls (see [[trussPeel]]'s coupling note). */
  def graphKtruss(s: SparkSession, dir: String): DataFrame =
    trussPeel(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"),
      k = 3, rounds = 3)

  /** Global 4-cycle (square) count — the BIPARTITE-flavored density
    * motif the triangle family is blind to (two documents sharing two
    * distinct neighbors without being neighbors themselves — the
    * "mutual-boilerplate" pattern): wedge counts w(a,c) fold per
    * unordered endpoint pair through the standard mid-point join
    * (candidates bounded by Σd², the [[triangleCounts]] discipline),
    * then squares = Σ C(w,2) / 2 — each 4-cycle is seen once per
    * diagonal, exactly twice, so the sum is always even and the halving
    * exact. One row out: wedge-pair count, multi-wedge pairs, squares.
    */
  def squareCount(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    sym.select(col("a").as("x"), col("b").as("m"))
      .join(sym.select(col("a").as("m"), col("b").as("z")), Seq("m"))
      .filter(col("x") < col("z"))
      .groupBy("x", "z").agg(count(lit(1)).as("w"))
      .agg(count(lit(1)).as("n_wedge_pairs"),
        sum(when(col("w") >= 2, 1L).otherwise(0L)).as("n_multi_pairs"),
        expr("sum(w * (w - 1) div 2) div 2").as("n_squares"))
  }

  /** Square census of the k-NN similarity graph. */
  def graphSquareCount(s: SparkSession, dir: String): DataFrame =
    squareCount(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Semantic near-dup clusters — [[connectedComponents]] over the k-NN
    * SIMILARITY graph instead of [[dedupCluster]]'s lexical trigram
    * pairs: embedding neighbors chain into clusters of documents that
    * say the same thing in different words, the dedup pass lexical
    * fingerprints structurally miss (and the reason both families exist:
    * lexical CC catches re-crawls, semantic CC catches paraphrase
    * mills). Same iterative min-label fixpoint (checkpoint-per-round,
    * Observation-carried convergence, loud non-convergence throw); the
    * oracle replays the closure recursively over the identical edge
    * list. */
  def dedupSemanticCluster(s: SparkSession, dir: String): DataFrame =
    connectedComponents(SketchQueries.simKnnGraph(s, dir)
      .select(col("qid").as("a"), col("vec_id").as("b"))
      .filter(col("a") =!= col("b")))
      .select(col("node").as("vec_id"), col("cluster_id"))

  /** Per-node triangle counts over an undirected edge list — the
    * local-density metric behind clustering-coefficient curation: a true
    * near-dup cluster is triangle-rich, while spurious LSH-bucket
    * neighbors are mostly triangle-free, so triangle counts separate the
    * two BEFORE committing to a transitive-closure merge (cf.
    * [[connectedComponents]], which gladly chains spurious edges).
    * Exact integers end-to-end. `edges` needs two long columns; duplicate
    * and self edges are dropped.
    *
    * Plan: DEGREE-ORDERED orientation (every edge points toward its
    * higher-(degree, id) endpoint), wedges built only at each edge's
    * lower-ranked endpoint, then a closing-edge semi-join — each triangle
    * enumerated exactly once at its lowest-ranked corner. Orienting by id
    * alone would let one celebrity hub of degree d own d² wedges; degree
    * orientation bounds per-node wedge fan-out by out-degree² =
    * O(√|E|)², the classic arboricity bound, so the plan survives skewed
    * degree distributions, not just the degree-capped knn input. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // degrees and the orientation both consume the canonical list; the
    // checkpoint stops each reference replaying the upstream edge
    // construction (28 planned shuffles for the knn-graph input vs 5)
    val und = canonical(edges)
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val firstLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge (a → b) with b's rank carried for the wedge ordering
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(firstLower, col("u")).otherwise(col("v")).as("a"),
        when(firstLower, col("v")).otherwise(col("u")).as("b"),
        when(firstLower, col("dv")).otherwise(col("du")).as("db"))
      .transform(ckpt)
    val o2BeforeO3 = col("o2.db") < col("o3.db") ||
      (col("o2.db") === col("o3.db") && col("o2.b") < col("o3.b"))
    oriented.as("o2").join(oriented.as("o3"),
        col("o2.a") === col("o3.a") && o2BeforeO3)
      .select(col("o2.a").as("a"), col("o2.b").as("b"), col("o3.b").as("c"))
      .join(oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Triangle counts over the k-NN similarity graph
    * ([[SketchQueries.simKnnGraph]] pairs, symmetrized). */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Per-node LOCAL clustering coefficient — the density readout that
    * separates a node sitting inside a tight near-dup clique (most of
    * its neighbors also neighbor each other → coefficient near 1) from
    * a hub that merely BRIDGES unrelated documents (star center,
    * coefficient near 0), the per-node refinement of
    * [[triangleCounts]]' raw counts: coeff = 2·T(v) / (d(v)·(d(v)−1)),
    * shipped in exact milli (one positive-operand floor division, both
    * engines identical). Nodes of degree < 2 have no defined
    * coefficient and are excluded; triangle-free nodes keep coeff 0 via
    * the left join. Plan: the canonical edge list is checkpointed once
    * and feeds both the degree fold and the degree-oriented triangle
    * pipeline, so the arboricity-bounded wedge join stays the only
    * super-linear step. */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val und = canonical(edges) // feeds degrees AND the triangle pipeline
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    deg.filter(col("d") >= 2)
      .join(triangleCounts(und), Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("node"), col("d"), col("n_triangles"),
        expr("n_triangles * 2000 div (d * (d - 1))").as("coeff_milli"))
  }

  /** Local clustering coefficients over the k-NN similarity graph. */
  def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    clusteringCoeff(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Per-edge NEIGHBORHOOD Jaccard over an undirected edge list — the
    * link-prediction / edge-strength primitive between
    * [[triangleCounts]]' per-node density and [[connectedComponents]]'
    * global reach: an edge whose endpoints share most of their
    * neighbors sits inside a dense near-dup clique (merge with
    * confidence); one with no shared neighbors is a bridge a single
    * noisy pair created (the edge dedup_cluster should doubt). Exact
    * milli integers: common = |N(u)∩N(v)|, union = du + dv − common
    * (≥ 2 always — each endpoint neighbors the other, never itself, so
    * no zero guard is needed). Plan: canonical edges checkpointed once
    * (degrees + wedge join + result all reuse it), common-neighbor
    * counts via the per-endpoint adjacency join — wedge fan-out is
    * bounded by degree exactly like the triangle plan, never |V|². */
  def neighborJaccard(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val adj = und.select(col("u").as("x"), col("v").as("n"))
      .union(und.select(col("v").as("x"), col("u").as("n")))
    val deg = adj.groupBy("x").agg(count(lit(1)).as("d"))
    val cmn = und
      .join(adj.select(col("x").as("u"), col("n")), Seq("u"))
      .join(adj.select(col("x").as("v"), col("n")), Seq("v", "n"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
    und.join(cmn, Seq("u", "v"), "left")
      .na.fill(0L, Seq("common"))
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("du"), col("dv"), col("common"),
        expr("common * 1000 div (du + dv - common)").as("jaccard_millis"))
  }

  /** Neighborhood Jaccard over the k-NN similarity graph edges. */
  def graphNeighborJaccard(s: SparkSession, dir: String): DataFrame =
    neighborJaccard(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Resource-allocation link prediction over an undirected edge list —
    * the MISSING-edge ranker next to [[neighborJaccard]]'s existing-edge
    * strength: every non-adjacent pair (a, b) reachable through ≥1
    * common neighbor v scores Σ_v 1000 div deg(v) (the RA index in
    * exact milli — Adamic–Adar's 1/log replaced by the division both
    * engines floor identically; low-degree witnesses count more).
    * Top-50 on the total order (score, common, a, b). Plan: canonical
    * edges checkpointed once (degrees + wedge join + anti-join all
    * reuse it); wedges enumerate per-CENTER neighbor pairs, so fan-out
    * is Σ deg(v)² — degree-bounded like the triangle plan, never |V|²;
    * the top-k is TakeOrdered, no global sort exchange. */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val adj = und.select(col("u").as("mid"), col("v").as("n"))
      .union(und.select(col("v").as("mid"), col("u").as("n")))
    val deg = adj.groupBy("mid").agg(count(lit(1)).as("d"))
    adj.select(col("mid"), col("n").as("a"))
      .join(adj.select(col("mid"), col("n").as("b")), Seq("mid"))
      .filter(col("a") < col("b"))
      .join(deg, Seq("mid"))
      .groupBy("a", "b")
      .agg(sum(expr("1000 div d")).as("ra_milli"),
        count(lit(1)).as("n_common"))
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .orderBy(col("ra_milli").desc, col("n_common").desc, col("a"), col("b"))
      .limit(50)
  }

  /** RA link prediction over the k-NN similarity graph edges. */
  def graphLinkPrediction(s: SparkSession, dir: String): DataFrame =
    linkPrediction(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Exact 2-hop reach per node — the neighborhood-growth readout
    * between [[graphDegreeStats]]' 1-hop spectrum and
    * [[bfsLayers]]' seeded global sweep: |N₂(v)| = distinct nodes
    * within ≤2 hops (self excluded), plus the amplification ratio
    * |N₂|·1000 div deg. Amplification ≈ deg·1000 means a tree-like
    * expander (each neighbor brings all-new friends); ≈ 1000 means the
    * neighborhood closes on itself (the near-dup clique shape). Plan:
    * canonical edges checkpointed once; the 2-hop set is ONE adjacency
    * self-join on the center (fan-out Σ deg², the triangle bound) +
    * a distinct — never |V|². */
  def twoHopReach(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val adj = und.select(col("u").as("x"), col("v").as("n"))
      .union(und.select(col("v").as("x"), col("u").as("n")))
    val deg = adj.groupBy("x").agg(count(lit(1)).as("deg"))
    val two = adj.select(col("n").as("mid"), col("x"))
      .join(adj.select(col("x").as("mid"), col("n").as("y")), Seq("mid"))
      .filter(col("x") =!= col("y"))
      .select("x", "y")
    adj.select(col("x"), col("n").as("y")).union(two).distinct()
      .groupBy("x").agg(count(lit(1)).as("n_within2"))
      .join(deg, Seq("x"))
      .select(col("x").as("node"), col("deg"), col("n_within2"),
        expr("n_within2 * 1000 div deg").as("amplification_milli"))
  }

  /** 2-hop reach over the k-NN similarity graph edges. */
  def graphTwoHopReach(s: SparkSession, dir: String): DataFrame =
    twoHopReach(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Hubness audit of the k-NN graph — the embedding-space pathology
    * read (in high dimensions a few vectors become everyone's nearest
    * neighbor; a hubby index answers every query with the same few
    * ids): exact Gini of the undirected degree distribution on the
    * events_user_gini rank lattice ((2Σi·dᵢ−(n+1)D)·1000 div (n·D),
    * ascending (deg, node) ranks — numerator ≥ 0 by Chebyshev), plus
    * max degree, its milli multiple of the mean (max·n·1000 div D) and
    * the top-decile degree share. Plan: degrees off the checkpointed
    * canonical edges; the rank window rides the ≤|distinct degrees|-
    * bucketed exchange; single-row folds crossJoin (whitelisted). */
  def hubnessAudit(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
      .withColumn("bkt", col("d")).withColumn("cnt", lit(1L))
    val offsets = Scale.bucketOffsets(deg, "bkt", Seq("cnt"))
    val ranked = deg.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("bkt").orderBy("node"))
          .cast("long") + col("cnt_off"))
      .select("node", "d", "rank")
      .transform(ckpt)
    val tot = ranked.agg(count(lit(1)).as("n_nodes"),
      sum("d").as("total_degree"), sum(expr("rank * d")).as("isum"),
      max("d").as("max_degree"))
    ranked.crossJoin(broadcast(tot))
      .groupBy("n_nodes", "total_degree", "isum", "max_degree")
      .agg(sum(when(col("rank") > col("n_nodes") - expr("n_nodes div 10"),
        col("d")).otherwise(0L)).as("top_decile_degree"))
      .select(col("n_nodes"), col("total_degree"), col("max_degree"),
        expr("(2 * isum - (n_nodes + 1) * total_degree) * 1000" +
          " div (n_nodes * total_degree)").as("gini_milli"),
        expr("max_degree * n_nodes * 1000 div total_degree")
          .as("max_over_mean_milli"),
        expr("top_decile_degree * 1000 div total_degree")
          .as("top_decile_milli"))
  }

  /** Hubness audit over the k-NN similarity graph edges. */
  def simHubnessAudit(s: SparkSession, dir: String): DataFrame =
    hubnessAudit(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Fixed-point PageRank over an undirected edge list — the centrality
    * score that picks CANONICAL representatives inside near-dup clusters
    * (the best-connected document of a cluster, vs [[connectedComponents]]'
    * arbitrary min-id) and down-weights barely-attached LSH stragglers.
    *
    * Cross-engine exact: ranks are 2^-30 fixed-point BIGINTs; the update
    * r' = SCALE·3/20/N + Σ (r·17)/(20·deg) uses only positive-integer
    * floor division and integer sums, so no float accumulation ever
    * happens and DuckDB replays the identical lattice (the q14/KMV
    * discipline applied to an ITERATIVE fixpoint — the oracle unrolls the
    * same five rounds as chained CTEs). The single final 2^-30 division
    * is exact. Mass leaks a few ULPs per round to flooring — identically
    * in both engines.
    *
    * Plan per round: one (edge ⋈ rank) hash join + one partial-aggregated
    * sum shuffle, ending in its own checkpoint ([[graft.Fixpoint.fixed]]).
    * The edge list with degrees is checkpointed ONCE — before any other
    * action, so the (possibly expensive) edge construction runs exactly
    * once — and everything downstream reads the checkpoint. A
    * deterministic round count is what keeps the oracle an unrolled CTE
    * chain. */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    // the union reads the edge cut twice and sym is referenced twice more
    // (degree fold + join), all off the cut, never the upstream pair plan.
    // Duplicates DO change sums here (unlike the min-label CC), so the
    // symmetrized edge set is distinct.
    val sym = symmetrize(edges)
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    val outE = sym.join(deg, Seq("a")).transform(ckpt) // (a, b, deg(a))
    val n = outE.select("a").distinct().count() // off the checkpoint
    require(n > 0, "pageRank on an empty graph")
    val SCALE = 1073741824L // 2^30
    val tele = SCALE * 3 / 20 / n // 0.15/N, floored — same lattice in SQL
    // r = min of one literal per node: the uniform start, nullable like
    // the rounds' sum, so round 0 reads the schema every later round reads
    val ranks0 = outE.groupBy(col("a").as("node")).agg(min(lit(SCALE / n)).as("r"))
      .transform(ckpt)
    graft.Fixpoint.fixed(ranks0, iters) { ranks =>
      outE.join(ranks, col("a") === col("node"))
        .select(col("b"), expr("(r * 17) div (20 * deg)").as("c"))
        .groupBy("b").agg((sum("c") + lit(tele)).as("r"))
        .select(col("b").as("node"), col("r"))
    }.select(col("node"), col("r").as("rank_fp"),
      (col("r").cast("double") / SCALE.toDouble).as("rank_val"))
  }

  /** PageRank over the trigram-Jaccard near-dup pair graph (same input
    * as [[dedupCluster]]): node = doc_id, rank = within-cluster
    * centrality. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pageRank(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Synchronous label propagation — community detection between
    * [[connectedComponents]] (which gladly chains spurious bridge edges
    * into one blob) and [[triangleCounts]] (which only scores local
    * density): labels flow to the neighbourhood MAJORITY, so a thin
    * bridge between two dense near-dup groups does not merge them.
    * FIXED 4 rounds with fully deterministic updates — label_{k+1}(v) =
    * the most frequent label among v's neighbours, ties to the SMALLEST
    * label — so the (possibly non-converged) output is well-defined on
    * both engines and the oracle unrolls the rounds as CTEs exactly
    * like graph_pagerank's. Argmax = MIN over (−count, label) structs:
    * a hash aggregate, integer-only, deterministic tie-break (the
    * ivfTopk lesson). Plan: edge list checkpointed once; per round one
    * (edge ⋈ label) join + two partial-aggregated shuffles, ending in its
    * own checkpoint ([[graft.Fixpoint.fixed]]). */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    val sym = symmetrize(edges).transform(ckpt)
    // label = min(node) of the node's own group: the node itself, but
    // nullable like the rounds' argmin, as min-label CC's round 0
    val labels0 = sym.groupBy(col("a").as("node")).agg(min(col("a")).as("label"))
      .transform(ckpt)
    graft.Fixpoint.fixed(labels0, iters) { labels =>
      sym.join(labels, col("a") === col("node"))
        .groupBy(col("b"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("b"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("b").as("node"), col("m.l").as("label"))
    }.select(col("node"), col("label").as("community"))
  }

  /** Label-propagation communities over the trigram-Jaccard pair graph
    * (the third member of the cluster/pagerank family on one input). */
  def graphCommunities(s: SparkSession, dir: String): DataFrame =
    labelPropagation(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Synchronous k-core peeling, FIXED rounds — the density gate between
    * [[triangleCounts]] (purely local) and [[connectedComponents]]
    * (purely global): a node survives a round iff it keeps ≥ k
    * neighbours among the CURRENT survivors, so tree-like fringe and
    * chains peel away layer by layer while genuinely dense near-dup
    * groups (where every member has ≥ k partners) survive — the
    * "cluster or coincidence" test run before a transitive merge.
    * Fixed-round discipline (the labelPropagation precedent): 4
    * deterministic synchronous rounds, so the output is well-defined on
    * both engines and the oracle unrolls as chained CTEs. Plan: see
    * [[peelStates]]. */
  def kcorePeel(edges: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    val (nodes, alive) = peelStates(edges, k, rounds)
    nodes.join(alive.last.withColumn("flag", lit(true)), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("flag"), lit(false)).as("in_core"))
  }

  /** 2-core peel over the trigram-Jaccard pair graph — the fourth member
    * of the one-graph family (components / communities / pagerank /
    * triangles / core). */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    kcorePeel(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Onion decomposition — [[kcorePeel]] with the PEEL ROUND kept per
    * node (Hébert-Dufresne et al. 2016's layer index at fixed k): layer t
    * = the synchronous round at which the node lost its ≥ k surviving
    * neighbours (1 = tree-like fringe, higher = deeper scaffolding,
    * 0 = survived into the core). The in_core bit alone can't tell a
    * barely-attached chain from the core's immediate shell — the layer
    * is the centrality-by-robustness readout dedup survivorship uses to
    * pick canonical docs from the STRUCTURALLY stable part of a family.
    * The dropped sets stay lazy plans over the peel's checkpoints: the
    * final nodes⋈layers action is their only consumer. */
  def onionLayers(edges: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    val (nodes, alive) = peelStates(edges, k, rounds)
    val layers = (1 to rounds).map { t =>
      alive(t - 1).join(alive(t), Seq("node"), "left_anti")
        .withColumn("layer", lit(t.toLong))
    }.reduce(_ unionByName _)
    nodes.join(layers, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("layer"), lit(0L)).as("layer"),
        (coalesce(col("layer"), lit(0L)) === 0L).as("in_core"))
  }

  /** The k-core peel shared by [[kcorePeel]] and [[onionLayers]]: the
    * checkpointed node set and the survivor sets after each of `rounds`
    * rounds (element 0 = every node). Edges are symmetrized and
    * checkpointed once; each round is two semi-joins + one partial-agg
    * degree shuffle, references the survivor set twice (both endpoint
    * filters), and ends in a checkpoint. */
  private def peelStates(edges: DataFrame, k: Int, rounds: Int)
      : (DataFrame, IndexedSeq[DataFrame]) = {
    val sym = symmetrize(edges).transform(ckpt)
    val nodes = sym.select(col("a").as("node")).distinct().transform(ckpt)
    def round(al: DataFrame): DataFrame = sym
      .join(al.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(al.select(col("node").as("b")), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select("node")
    (nodes, graft.Fixpoint.states(nodes, rounds)(round))
  }

  /** Onion layers over the trigram-Jaccard pair graph — kcore's readout
    * widened from the in/out bit to the peel-round index. */
  def graphOnionLayers(s: SparkSession, dir: String): DataFrame =
    onionLayers(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Pointer-doubling ancestor closure: (node → root, depth) over a
    * parent-pointer table in O(log depth) ROUNDS — the technique that
    * makes hierarchy walks feasible at cluster scale (a naive
    * walk-one-level loop needs depth ≈ 34 sequential joins on a
    * 100 TB-scale tree; doubling needs 6). Each round composes the
    * mapping with itself: f ← f∘f, so covered distance doubles. The
    * root must self-loop (dist 0).
    *
    * Each round references the previous mapping TWICE (both join
    * sides) and ends in its own checkpoint. Non-convergence (2^rounds <
    * tree depth) leaves some anc short of the root — checked with one
    * anti-join action and failed LOUDLY, the connectedComponents
    * discipline. */
  def ancestorClosure(parents: DataFrame, rounds: Int = 6): DataFrame = {
    val p = parents.toDF("node", "anc")
    // a parent pointer targeting a missing node would silently DROP its
    // subtree from the inner self-joins below — validate up front so a
    // sparse/filtered input fails loudly instead of shrinking
    if (!p.select(col("anc").as("tgt")).distinct()
        .join(p.select("node"), col("tgt") === col("node"), "left_anti").isEmpty)
      throw new IllegalArgumentException(
        "ancestorClosure: parent pointers reference nodes absent from the mapping")
    def compose(g: DataFrame): DataFrame =
      g.as("x").join(g.as("y"), col("x.anc") === col("y.node"))
        .select(col("x.node").as("node"), col("y.anc").as("anc"),
          (col("x.dist") + col("y.dist")).as("dist"))
    val f = graft.Fixpoint.fixed(p.withColumn("dist",
      when(col("node") === col("anc"), 0L).otherwise(1L)).transform(ckpt),
      rounds)(compose)
    // converged ⟺ every anc is a root (self-parented); else fail loudly
    val roots = p.filter(col("node") === col("anc")).select(col("node").as("anc"))
    if (!f.join(broadcast(roots), Seq("anc"), "left_anti").isEmpty)
      throw new IllegalStateException(
        s"ancestorClosure did not reach roots in $rounds rounds " +
          "(2^rounds < tree depth); raise rounds")
    f.select(col("node"), col("anc").as("root"), col("dist").as("depth"))
  }

  /** Ancestor closure over the implicit doc binary tree
    * (parent = doc_id div 2, root = 1) — depth log₂(corpus). */
  def graphAncestorClosure(s: SparkSession, dir: String): DataFrame =
    ancestorClosure(graft.Tables.t(s, dir, "documents")
      .select(col("doc_id").as("node"),
        greatest(expr("doc_id div 2"), lit(1L)).as("anc")))

  /** Multi-source BFS distance layers, FIXED synchronous rounds — the
    * "how far from a trusted seed" signal (contamination spread, label
    * propagation radius) between k-core's density and CC's reachability:
    * dist_{t+1}(v) = min(dist_t(v), 1 + min over in-neighbours
    * dist_t(u)), seeds at distance 0, so after R rounds the output is
    * the EXACT ≤R-hop distance (unreached = −1) — well-defined on both
    * engines with no convergence detection; the oracle unrolls the same
    * recurrence as CTEs. Each round references the previous dist table
    * TWICE (the relaxation source and the left-join base) and ends in
    * its own checkpoint. */
  def bfsLayers(edges: DataFrame, seed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                rounds: Int = 4): DataFrame = {
    val sym = symmetrize(edges).transform(ckpt)
    val dist0 = sym.select(col("a").as("node")).distinct()
      .withColumn("d", when(seed(col("node")), 0L)
        .otherwise(lit(null).cast("long")))
      .transform(ckpt)
    def round(dd: DataFrame): DataFrame = {
      val viaNbr = sym.join(dd, col("a") === col("node"))
        .filter(col("d").isNotNull)
        .groupBy(col("b").as("nb")).agg(min(col("d") + 1L).as("nd"))
      dd.join(viaNbr, col("node") === col("nb"), "left_outer")
        .select(col("node"),
          when(col("d").isNull, col("nd"))
            .when(col("nd").isNull, col("d"))
            .otherwise(least(col("d"), col("nd"))).as("d"))
    }
    graft.Fixpoint.fixed(dist0, rounds)(round)
      .select(col("node"), coalesce(col("d"), lit(-1L)).as("dist4"))
  }

  /** BFS layers over the trigram-Jaccard pair graph, seeded at
    * doc_id % 7 == 0 (the audited-clean sample): how many hops of
    * near-duplication separate each document from a trusted one. */
  def graphBfsLayers(s: SparkSession, dir: String): DataFrame =
    bfsLayers(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"),
      n => n % 7 === 0)

  /** Landmark HARMONIC centrality — the scalable stand-in for exact
    * closeness (all-pairs BFS is O(n·m), dead at any real graph size):
    * distances to L hash-picked landmarks, folded as Σ 1/d. Harmonic
    * handles disconnection for free (an unreached landmark contributes
    * 0 — no ∞ to dodge) and 1000 div d keeps the fold in exact
    * integers. The L distance relaxations share ONE dense dist table
    * with a COLUMN per landmark, so every round is a single neighbor
    * join + min-aggregate regardless of L — the same shuffle bill as
    * [[bfsLayers]], not L times it. least() skips nulls, which is
    * exactly the relax semantics (unreached = null until first seen).
    * Landmarks are the L smallest md5('lm:'||node) nodes — own salt
    * (the shared-salt correlation landmine), O(L) collected. Fixed
    * `rounds` horizon — DOCUMENTED truncation, not convergence: a node
    * farther than `rounds` hops from every landmark reads (0, 0),
    * byte-identical to a disconnected one (ScaleSpec pins this on a
    * 512-node path); callers wanting a wider view raise `rounds`. */
  def landmarkHarmonic(edges: DataFrame, nLandmarks: Int = 4,
                       rounds: Int = 6): DataFrame = {
    val (dist, lms) = landmarkDistances(edges, nLandmarks, rounds)
    val idx = lms.indices
    // an empty graph has no landmarks; its (empty) table still needs
    // both columns
    def total(terms: Seq[org.apache.spark.sql.Column]) =
      terms.reduceOption(_ + _).getOrElse(lit(0L))
    dist.select(col("node"),
      total(idx.map(i => when(col(s"d$i") > 0, 1L).otherwise(0L))).as("n_reached"),
      total(idx.map(i => when(col(s"d$i") > 0, expr(s"1000 div d$i"))
        .otherwise(0L))).as("harmonic_milli"))
  }

  /** The shared landmark-BFS core: md5-'lm:'-picked landmarks, `rounds`
    * synchronous relaxations over ONE dense (node, d0..dL-1) table —
    * consumed by [[landmarkHarmonic]] and [[graphDiameterEstimate]].
    * The dist relation is referenced twice per round, and every round
    * ends in a checkpoint. Returns the final checkpointed dist table plus
    * the landmark ids in pick order (the lm_idx the estimators report). */
  private[operators] def landmarkDistances(
      edges: DataFrame, nLandmarks: Int, rounds: Int)
      : (DataFrame, Array[Long]) = {
    val sym = symmetrize(edges).transform(ckpt)
    val nodes = sym.select(col("a").as("node")).distinct()
    val lms: Array[Long] = nodes
      .withColumn("h", expr("cast(conv(substring(md5(cast(concat('lm:'," +
        " node) as binary)), 1, 13), 16, 10) as bigint)"))
      .orderBy("h", "node").limit(nLandmarks)
      .select("node").collect().map(_.getLong(0))
    val idx = lms.indices
    val dist0 = nodes.select(col("node") +: idx.map(i =>
      when(col("node") === lms(i), 0L).otherwise(lit(null).cast("long"))
        .as(s"d$i")): _*)
      .transform(ckpt)
    def round(dd: DataFrame): DataFrame = {
      val mins = idx.map(i => min(col(s"d$i") + 1L).as(s"nd$i"))
      val viaNbr = sym.join(dd, col("a") === col("node"))
        .groupBy(col("b").as("nb")).agg(mins.head, mins.tail: _*)
      dd.join(viaNbr, col("node") === col("nb"), "left_outer")
        .select(col("node") +: idx.map(i =>
          least(col(s"d$i"), col(s"nd$i")).as(s"d$i")): _*)
    }
    // no nodes ⇒ no landmarks and no d-columns to relax: dist0 is the
    // (empty) answer
    val relax = if (lms.isEmpty) 0 else rounds
    (graft.Fixpoint.fixed(dist0, relax)(round), lms)
  }

  /** Harmonic centrality of the k-NN similarity graph from 4 hash
    * landmarks at horizon 6 — which embeddings sit centrally in the
    * neighborhood structure (retrieval hubs) vs on its fringe. */
  def graphHarmonicCentrality(s: SparkSession, dir: String): DataFrame =
    landmarkHarmonic(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))

  /** Landmark diameter LOWER bound of the k-NN graph — the one-number
    * "how stretched is this graph" estimate all-pairs BFS can't deliver
    * at scale: per landmark its observed eccentricity (max finite
    * distance at the shared horizon-6 relaxation) and reach, plus
    * diameter_lb = max over landmarks. Horizon-censoring keeps this an
    * honest LOWER bound (an ecc reading of 6 means ≥ 6); disconnected
    * nodes simply don't contribute (no ∞ poisoning — the harmonic
    * discipline). A landmark radius upper bound is deliberately NOT
    * reported: on a disconnected graph "radius" is ill-defined. Plan:
    * the relaxation rounds run at build behind per-round checkpoints;
    * the returned plan folds the converged dist checkpoint into 4 rows
    * + one 4-row max window. */
  def graphDiameterEstimate(s: SparkSession, dir: String): DataFrame = {
    val (dist, lms) = landmarkDistances(
      SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"),
      nLandmarks = 4, rounds = 6)
    val perLm = lms.indices.map { i =>
      struct(lit(i.toLong).as("lm_idx"),
        when(col(s"d$i") > 0, 1L).otherwise(0L).as("reach"),
        coalesce(when(col(s"d$i") > 0, col(s"d$i")), lit(0L)).as("dd"))
    }
    val wAll = Window.partitionBy()
    dist.select(explode(array(perLm: _*)).as("e"))
      .groupBy(col("e.lm_idx").as("lm_idx"))
      .agg(sum("e.reach").as("n_reached"), max("e.dd").as("ecc"))
      .withColumn("diameter_lb", max("ecc").over(wAll))
  }

  /** Language purity of the near-dup families — the false-merge detector
    * a dedup owner runs before survivorship collapses anything: a
    * cluster mixing languages almost certainly glued unrelated documents
    * through shared boilerplate (near-dup pairs should be same-language
    * rewrites). Per component: size, distinct languages, the majority
    * language and its exact milli share (argmax = min(−cnt, lang) struct
    * — the labelPropagation hash-aggregate idiom, ties to the smaller
    * lang), and the is_pure flag survivorship gates on. Plan: the CC
    * labels read their converged checkpoint ([[dedupCluster]]); one
    * (cluster, lang) agg + one cluster rollup, lang join AQE-sized. */
  def dedupClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val pl = dedupCluster(s, dir)
      .join(graft.Tables.t(s, dir, "documents").select("doc_id", "lang"),
        Seq("doc_id"))
      .groupBy("cluster_id", "lang").agg(count(lit(1)).as("n"))
    pl.groupBy("cluster_id")
      .agg(sum("n").as("n_docs"), count(lit(1)).as("n_langs"),
        min(struct((-col("n")).as("nc"), col("lang").as("l"))).as("m"))
      .select(col("cluster_id"), col("n_docs"), col("n_langs"),
        col("m.l").as("top_lang"),
        expr("(-m.nc) * 1000 div n_docs").as("top_share_milli"))
      .withColumn("is_pure", col("n_langs") === 1)
  }

  /** Cluster-size spectrum over the near-dup components — the
    * how-big-are-my-dup-families readout a dedup owner checks before
    * survivorship (a fat tail here means boilerplate is gluing
    * unrelated docs into one family): component sizes from
    * [[dedupCluster]] fold to floor-log2 bins (≤64 rows at any corpus
    * size — the freq_spectrum discipline, no global sort) with count,
    * doc mass, and exact min/max per bin. */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    dedupCluster(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .select(expr("cast(length(bin(sz)) - 1 as bigint)").as("sz_bits"),
        col("sz"))
      .groupBy("sz_bits")
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"),
        min("sz").as("min_sz"), max("sz").as("max_sz"))

  /** Degree spectrum of an undirected edge list — the first graph-health
    * readout a dedup owner checks BEFORE running anything iterative on
    * the pair graph: near-dup graphs should be low-degree near-cliques,
    * so mass in high floor-log2 degree bins means a boilerplate hub is
    * gluing unrelated documents together (and the wedge joins downstream
    * will pay degree² for it — this is the alarm that says "cap or cut
    * before you merge"). ≤64 rows at any graph size (the freq_spectrum
    * discipline, no global sort): node count, endpoint mass, exact
    * min/max degree per bin. Plan: canonical-edge distinct + one degree
    * aggregate + the tiny bin aggregate — two partial-agg exchanges. The
    * canonical edge list is checkpointed: the endpoint union references
    * it twice, and without the cut each leg replays the entire upstream
    * pair generation in the plan (the multi-reference landmine —
    * 14 planned shuffles vs 4 after). */
  def degreeStats(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    deg.select(expr("cast(length(bin(d)) - 1 as bigint)").as("deg_bits"), col("d"))
      .groupBy("deg_bits")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("sum_deg"),
        min("d").as("min_deg"), max("d").as("max_deg"))
  }

  /** Degree spectrum over the trigram-Jaccard pair graph (same input as
    * the cluster/pagerank/communities/kcore family). */
  def graphDegreeStats(s: SparkSession, dir: String): DataFrame =
    degreeStats(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Degree assortativity — do high-degree nodes attach to other
    * high-degree nodes (boilerplate hubs gluing to each other ⟹ one
    * giant merge blob) or to leaves (star templates)? The OLS slope of
    * floor-log2 destination degree on floor-log2 source degree over the
    * symmetrized edge ends, in the exact sufficient-statistic lattice
    * (x ≤ 63 forever, every sum BIGINT-safe; sign + abs-milli because
    * Spark `div` truncates and DuckDB `//` floors). One row out. Plan:
    * canonical edges and the degree table are both localCheckpoint'd
    * (each is referenced twice), then two equi-joins onto the edge ends
    * and a single-row fold. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    val sym = und.union(und.select(col("v"), col("u"))).toDF("a", "b")
    val deg = sym.groupBy("a").agg(count(lit(1)).as("d")).transform(ckpt)
    sym
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
      .select(expr("cast(length(bin(da)) - 1 as bigint)").as("xx"),
        expr("cast(length(bin(db)) - 1 as bigint)").as("yy"))
      .agg(count(lit(1)).as("n_ends"), sum("xx").as("sx"), sum("yy").as("sy"),
        sum(expr("xx * yy")).as("sxy"), sum(expr("xx * xx")).as("sxx"),
        sum(expr("yy * yy")).as("syy"))
      .withColumn("num", expr("n_ends * sxy - sx * sy"))
      .withColumn("den", expr("n_ends * sxx - sx * sx"))
      .withColumn("assort_sign",
        expr("cast(case when num < 0 then -1 else 1 end as bigint)"))
      .withColumn("abs_assort_milli",
        expr("case when den = 0 then 0 else abs(num) * 1000 div den end"))
  }

  /** Assortativity over the trigram-Jaccard pair graph. */
  def graphDegreeAssortativity(s: SparkSession, dir: String): DataFrame =
    degreeAssortativity(TextQueries.dedupNgramJaccard(s, dir).select("doc1", "doc2"))

  /** Survivorship resolution — the END of the dedup pipeline: after
    * clustering (CC over the near-dup pair graph) every document maps to
    * its cluster's canonical representative, chosen as the best-QUALITY
    * member (argmax = min over (−quality, doc_id) structs: deterministic
    * tie to the smallest id, hash aggregate — no per-cluster window
    * skew). Singletons (docs in no pair) are their own canonical. The
    * labeled relation is localCheckpoint'd: TWO downstream references
    * would otherwise each replay the iterative CC build (the
    * multi-reference plan-replay landmine). */
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupCluster(s, dir)
    val quality = TextQueries.textQuality(s, dir).select("doc_id", "quality")
    val labeled = quality.join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("quality"))
      .transform(ckpt)
    val canon = labeled.groupBy("cluster_id")
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id").as("d"))).as("c"))
      .select(col("cluster_id").as("ck"), col("c.d").as("canonical_doc"))
    labeled.join(canon, col("cluster_id") === col("ck"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_doc"),
        (col("doc_id") === col("canonical_doc")).as("is_canonical"))
  }

  /** Newman modularity of the label-propagation partition — the quality
    * audit [[graphCommunities]] ships without: per community c,
    * Q_c = i_c/m − (d_c/2m)² (i_c internal edges, d_c degree mass, m
    * total edges); Σ Q_c is the modularity of the whole partition.
    * Positive contribution = denser inside than a random graph with the
    * same degrees; a near-zero total says the "communities" are noise —
    * run this before trusting any cluster-level dedup decision.
    * Overflow discipline: the textbook (4m·i_c − d_c²)/4m² lattice dies
    * at m ≳ 1.5e6 edges once scaled to micro, so both engines instead
    * compute the divide-FIRST form t1 = i_c·10⁶ div m,
    * half = d_c·1000 div 2m, contribution = t1 − half² — every
    * intermediate ≤ max(m·10⁶, (10³·…)²) stays in BIGINT to ~10¹² edges
    * (arrival_regularity discipline; floors match, all operands
    * nonnegative before the final subtraction). Plan: the pair graph
    * checkpoints once and feeds label propagation, the degree fold and
    * both endpoint-label joins; the labels' three consumers read the last
    * round's checkpoint; the single-row m fold broadcasts through the
    * whitelisted crossJoin. */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    val e = TextQueries.dedupNgramJaccard(s, dir)
      .select(col("doc1").as("u"), col("doc2").as("v"))
      .transform(ckpt)
    val labels = labelPropagation(e)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val m = e.agg(count(lit(1)).as("m"))
    val internal = e
      .join(labels.toDF("u", "cu"), Seq("u"))
      .join(labels.toDF("v", "cv"), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("internal_edges"))
    labels.toDF("node", "community").join(deg, Seq("node"))
      .groupBy("community").agg(sum("deg").as("d_c"), count(lit(1)).as("n_nodes"))
      .join(internal, Seq("community"), "left_outer")
      .withColumn("internal_edges", coalesce(col("internal_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"), col("internal_edges"),
        col("d_c"), col("m"),
        (expr("internal_edges * 1000000 div m") -
          expr("d_c * 1000 div (2 * m)") * expr("d_c * 1000 div (2 * m)"))
          .as("contribution_micro"))
  }

  /** Rich-club coefficient curve φ(k) over the symmetrized k-NN graph
    * (same input as harmonic centrality — the jaccard pair graph is too
    * sparse to have a club: almost every degree is 1) — do the
    * high-degree nodes form their own densely-wired club? For each
    * threshold k = 1..8: n_k = nodes with degree > k, e_k = edges with
    * BOTH endpoints over the threshold, φ = 2·e_k / (n_k·(n_k−1)) in
    * exact milli. A hub clique (the pathological merge blob) reads
    * φ → 1000 at high k; a star template farm reads φ → 0. Plan:
    * canonical edges and the degree table are checkpointed (degrees are
    * referenced three times); the per-threshold fan-out is an ×8 EXPLODE
    * over the ≤64-row degree/min-degree HISTOGRAMS — never a non-equi
    * join against data-sized relations, so no BNLJ and nothing wider
    * than the histograms ever shuffles. */
  def graphRichClub(s: SparkSession, dir: String): DataFrame = {
    val und = canonical(SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id"))
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .transform(ckpt)
    val kSeq = explode(expr("sequence(cast(1 as bigint), cast(8 as bigint))"))
    val nk = deg.groupBy("d").agg(count(lit(1)).as("cnt"))
      .withColumn("k", kSeq)
      .filter(col("d") > col("k"))
      .groupBy("k").agg(sum("cnt").as("n_nodes"))
    val ek = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(least(col("du"), col("dv")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("cnt"))
      .withColumn("k", kSeq)
      .filter(col("m") > col("k"))
      .groupBy("k").agg(sum("cnt").as("n_edges"))
    s.range(1, 9).toDF("k")
      .join(nk, Seq("k"), "left_outer").join(ek, Seq("k"), "left_outer")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_milli",
        when(col("n_nodes") >= 2,
          expr("n_edges * 2000 div (n_nodes * (n_nodes - 1))"))
          .otherwise(0L))
  }

  val queries: Map[String, Q] = Map(
    "graph_rich_club" -> (graphRichClub _),
    "graph_diameter_estimate" -> (graphDiameterEstimate _),
    "dedup_cluster_purity" -> (dedupClusterPurity _),
    "graph_modularity" -> (graphModularity _),
    "graph_bfs_layers" -> (graphBfsLayers _),
    "dedup_survivorship" -> (dedupSurvivorship _),
    "dedup_cluster" -> (dedupCluster _),
    "multimodal_phash_clusters" -> (multimodalPhashClusters _),
    "dedup_cluster_sizes" -> (dedupClusterSizes _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_communities" -> (graphCommunities _),
    "graph_ancestor_closure" -> (graphAncestorClosure _),
    "graph_kcore" -> (graphKcore _),
    "graph_onion_layers" -> (graphOnionLayers _),
    "graph_triangles" -> (graphTriangles _),
    "graph_clustering_coeff" -> (graphClusteringCoeff _),
    "dedup_semantic_cluster" -> (dedupSemanticCluster _),
    "graph_global_clustering" -> (graphGlobalClustering _),
    "graph_ktruss" -> (graphKtruss _),
    "graph_square_count" -> (graphSquareCount _),
    "graph_degree_stats" -> (graphDegreeStats _),
    "graph_degree_assortativity" -> (graphDegreeAssortativity _),
    "graph_neighbor_jaccard" -> (graphNeighborJaccard _),
    "graph_link_prediction" -> (graphLinkPrediction _),
    "graph_two_hop_reach" -> (graphTwoHopReach _),
    "sim_hubness_audit" -> (simHubnessAudit _),
    "graph_bipartite_components" -> (graphBipartiteComponents _),
    "graph_harmonic_centrality" -> (graphHarmonicCentrality _))

  /** Shared oracle CTEs over the trigram-Jaccard pair graph. [[SYM_CTE]]
    * is the symmetrized distinct edge list (expects a `pairs` CTE in
    * scope); [[CLOSURE_CTES]] is the recursive transitive closure ending
    * in a `clus(doc_id, cluster_id)` CTE (outer WITH must be RECURSIVE).
    * One definition — the dedup_cluster and dedup_survivorship labels
    * (and every sym-based walk) cannot silently desync. */
  /** The four unrolled label-propagation rounds as CTEs (l0 init +
    * ROW_NUMBER majority/min-label tie-break — the exact mirror of the
    * Spark min(-cnt, label) struct argmax). ONE definition shared by
    * the graph_communities and graph_modularity oracles so the round
    * count / tie-break can never drift between them. */
  private lazy val LP_ROUNDS_CTES: String =
    "l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),\n" +
      (1 to 4).map { k =>
        s"""l$k AS (
           |  SELECT b AS node, label FROM (
           |    SELECT b, label,
           |      ROW_NUMBER() OVER (PARTITION BY b ORDER BY cnt DESC, label) AS rn
           |    FROM (SELECT s.b, p.label, COUNT(*) AS cnt
           |          FROM sym s JOIN l${k - 1} p ON p.node = s.a
           |          GROUP BY s.b, p.label))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")

  /** Six synchronous landmark-BFS relaxation rounds unrolled as CTEs
    * over a (node, landmark) keyed dist table — the long-form of the
    * Spark column-per-landmark layout ([[landmarkDistances]]); landmark
    * pick mirrors the md5 'lm:' salt bit-exactly ('0x'-prefix cast =
    * conv(,16,10)) and hlms carries the pick-order lm_idx. h-prefixed
    * CTE names dodge the knn SQL's internal e/d/bkt (the
    * dedup_semantic_cluster collision class). ONE definition shared by
    * the harmonic-centrality and diameter-estimate oracles. */
  private lazy val landmarkBfsCtes: String = {
    val knnSql = SketchQueries.oracle("sim_knn_graph")
    val rounds = (1 to 6).map { t =>
      s"""hd$t AS MATERIALIZED (
         |  SELECT x.node, x.lm,
         |    CASE WHEN x.d IS NULL THEN n.nd
         |         WHEN n.nd IS NULL THEN x.d
         |         ELSE LEAST(x.d, n.nd) END AS d
         |  FROM hd${t - 1} x LEFT JOIN (
         |    SELECT s.b AS node, p.lm, MIN(p.d + 1) AS nd
         |    FROM hsym s JOIN hd${t - 1} p ON p.node = s.a
         |    WHERE p.d IS NOT NULL GROUP BY s.b, p.lm) n
         |  ON n.node = x.node AND n.lm = x.lm)""".stripMargin
    }.mkString(",\n")
    s"""WITH knn AS MATERIALIZED ($knnSql),
       |he AS (SELECT qid AS x, vec_id AS y FROM knn WHERE qid <> vec_id),
       |hsym AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |  SELECT x AS a, y AS b FROM he UNION ALL SELECT y, x FROM he)),
       |hnodes AS (SELECT DISTINCT a AS node FROM hsym),
       |hlms AS (SELECT lm, lm_idx FROM (
       |  SELECT node AS lm,
       |    CAST(ROW_NUMBER() OVER (ORDER BY
       |      ('0x' || substr(md5('lm:' || CAST(node AS VARCHAR)), 1, 13))::BIGINT,
       |      node) AS BIGINT) - 1 AS lm_idx
       |  FROM hnodes) WHERE lm_idx < 4),
       |hd0 AS (SELECT n.node, l.lm,
       |          CASE WHEN n.node = l.lm THEN 0 END AS d
       |        FROM hnodes n CROSS JOIN hlms l),
       |$rounds""".stripMargin
  }

  private lazy val SYM_CTE: String =
    """sym AS (SELECT DISTINCT a, b FROM (
      |  SELECT doc1 AS a, doc2 AS b FROM pairs WHERE doc1 <> doc2
      |  UNION ALL SELECT doc2, doc1 FROM pairs WHERE doc1 <> doc2))""".stripMargin

  private lazy val CLOSURE_CTES: String =
    """e AS (SELECT doc1 AS a, doc2 AS b FROM pairs
      |      UNION SELECT doc2, doc1 FROM pairs),
      |r(a, b) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
      |clus AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      |         FROM r GROUP BY a)""".stripMargin

  /** The oracle computes the transitive closure of the same pair graph
    * with a recursive CTE and takes the min reachable node — an
    * independent formulation of the same semantics. */
  val oracle: Map[String, String] = Map(
    "graph_bipartite_components" -> BIPARTITE_CC_SQL,
    "graph_rich_club" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |pairs AS (SELECT qid AS doc1, vec_id AS doc2 FROM knn),
         |$SYM_CTE,
         |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
         |ks AS (SELECT CAST(k AS BIGINT) AS k FROM generate_series(1, 8) t(k)),
         |nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |       FROM ks JOIN deg ON deg.d > ks.k GROUP BY k),
         |ce AS (SELECT da.d AS du, db.d AS dv
         |       FROM sym JOIN deg da ON da.a = sym.a
         |       JOIN deg db ON db.a = sym.b
         |       WHERE sym.a < sym.b),
         |ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
         |       FROM ks JOIN ce ON LEAST(ce.du, ce.dv) > ks.k GROUP BY k)
         |SELECT ks.k, COALESCE(n_nodes, CAST(0 AS BIGINT)) AS n_nodes,
         |  COALESCE(n_edges, CAST(0 AS BIGINT)) AS n_edges,
         |  CAST(CASE WHEN COALESCE(n_nodes, 0) >= 2
         |       THEN COALESCE(n_edges, 0) * 2000 // (n_nodes * (n_nodes - 1))
         |       ELSE 0 END AS BIGINT) AS phi_milli
         |FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)""".stripMargin
    },
    "dedup_cluster" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |$CLOSURE_CTES
         |SELECT doc_id, cluster_id FROM clus""".stripMargin
    },
    "multimodal_phash_clusters" -> {
      // the semantic-cluster closure shape with p-prefixed CTE names
      // (PHASH_SQL owns plain `b`/`gr`/`sig` internally)
      val phashSql = Multimodal.oracle("multimodal_phash_dedup")
      s"""WITH RECURSIVE ph AS ($phashSql),
         |pe AS (SELECT media_a AS a, media_b AS b FROM ph
         |       UNION SELECT media_b, media_a FROM ph),
         |pr(a, b) AS (
         |  SELECT a, b FROM pe
         |  UNION
         |  SELECT pr.a, pe.b FROM pr JOIN pe ON pr.b = pe.a),
         |pclus AS (SELECT a AS media_id, LEAST(a, MIN(b)) AS cluster_id
         |          FROM pr GROUP BY a)
         |SELECT media_id, cluster_id FROM pclus""".stripMargin
    },
    "dedup_semantic_cluster" -> {
      // CLOSURE_CTES' `e` name collides with a CTE inside the knn SQL —
      // same closure, `s`-prefixed names
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH RECURSIVE knn AS ($knnSql),
         |se AS (SELECT qid AS a, vec_id AS b FROM knn WHERE qid <> vec_id
         |       UNION SELECT vec_id, qid FROM knn WHERE qid <> vec_id),
         |sr(a, b) AS (
         |  SELECT a, b FROM se
         |  UNION
         |  SELECT sr.a, se.b FROM sr JOIN se ON sr.b = se.a),
         |sclus AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
         |          FROM sr GROUP BY a)
         |SELECT vec_id, cluster_id FROM sclus""".stripMargin
    },
    "dedup_cluster_sizes" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |$CLOSURE_CTES,
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
         |       FROM clus GROUP BY 1)
         |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS sz_bits,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs,
         |  MIN(sz) AS min_sz, MAX(sz) AS max_sz
         |FROM cs GROUP BY 1""".stripMargin
    },
    "graph_pagerank" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // the five damped rounds unroll as chained CTEs — same positive-
      // integer floor-division lattice as the Spark loop, so the BIGINT
      // fixed-point ranks hash-match exactly; the final 2^-30 division
      // is the one (exact) float op. DuckDB SUM(BIGINT) → HUGEINT: cast.
      val rounds = (1 to 5).map { k =>
        s"""r$k AS (
           |  SELECT s.b AS node,
           |    CAST((SELECT t FROM c) +
           |      SUM((p.r * 17) // (20 * d.deg)) AS BIGINT) AS r
           |  FROM sym s JOIN r${k - 1} p ON p.node = s.a
           |             JOIN deg d ON d.a = s.a
           |  GROUP BY s.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |${SYM_CTE.replaceFirst("sym AS \\(", "sym AS MATERIALIZED (")},
         |deg AS MATERIALIZED (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
         |c AS (SELECT CAST(1073741824 AS BIGINT) // COUNT(*) AS r0,
         |             CAST(1073741824 AS BIGINT) * 3 // 20 // COUNT(*) AS t
         |      FROM deg),
         |r0 AS (SELECT a AS node, (SELECT r0 FROM c) AS r FROM deg),
         |$rounds
         |SELECT node, r AS rank_fp,
         |  CAST(r AS DOUBLE) / 1073741824 AS rank_val FROM r5""".stripMargin
    },
    "graph_ancestor_closure" ->
      // the oracle walks one level per recursion step (depth steps, fine
      // at oracle scale); the Spark side doubles pointers (log steps) —
      // two independent algorithms, one answer
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS node, GREATEST(doc_id // 2, 1) AS parent
        |  FROM documents),
        |walk(node, anc, dist) AS (
        |  SELECT node, parent, CASE WHEN node = parent THEN 0 ELSE 1 END
        |  FROM p
        |  UNION ALL
        |  SELECT w.node, p2.parent, w.dist + 1
        |  FROM walk w JOIN p p2 ON p2.node = w.anc
        |  WHERE w.anc <> 1)
        |SELECT node, anc AS root, CAST(dist AS BIGINT) AS depth
        |FROM walk WHERE anc = 1""".stripMargin,
    "graph_modularity" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // the communities oracle's four unrolled rounds, then the
      // divide-first modularity lattice over the labeled edge set
      s"""WITH pairs AS ($pairsSql),
         |$SYM_CTE,
         |$LP_ROUNDS_CTES,
         |lab AS (SELECT node, label AS community FROM l4),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
         |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |ie AS (
         |  SELECT lu.community,
         |    CAST(COUNT(*) AS BIGINT) AS internal_edges
         |  FROM pairs p JOIN lab lu ON lu.node = p.doc1
         |    JOIN lab lv ON lv.node = p.doc2
         |  WHERE lu.community = lv.community GROUP BY 1),
         |ds AS (
         |  SELECT l.community, CAST(SUM(d.deg) AS BIGINT) AS d_c,
         |    CAST(COUNT(*) AS BIGINT) AS n_nodes
         |  FROM lab l JOIN deg d ON d.node = l.node GROUP BY 1)
         |SELECT ds.community, ds.n_nodes,
         |  COALESCE(ie.internal_edges, 0) AS internal_edges, ds.d_c, mm.m,
         |  COALESCE(ie.internal_edges, 0) * 1000000 // mm.m
         |    - (ds.d_c * 1000 // (2 * mm.m)) * (ds.d_c * 1000 // (2 * mm.m))
         |    AS contribution_micro
         |FROM ds LEFT JOIN ie USING (community), mm""".stripMargin
    },
    "graph_communities" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // four synchronous rounds unrolled as CTEs; per round the majority
      // label with ROW_NUMBER ordered (cnt DESC, label) — the exact
      // mirror of the Spark min(-cnt, label) struct argmax
      s"""WITH pairs AS ($pairsSql),
         |$SYM_CTE,
         |$LP_ROUNDS_CTES
         |SELECT node, label AS community FROM l4""".stripMargin
    },
    "dedup_survivorship" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      val qualSql = TextQueries.oracle("text_quality")
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |$CLOSURE_CTES,
         |q AS ($qualSql),
         |lab AS (
         |  SELECT q.doc_id, COALESCE(c.cluster_id, q.doc_id) AS cluster_id,
         |    q.quality
         |  FROM q LEFT JOIN clus c ON c.doc_id = q.doc_id),
         |canon AS (
         |  SELECT cluster_id, doc_id AS canonical_doc FROM (
         |    SELECT cluster_id, doc_id,
         |      ROW_NUMBER() OVER (PARTITION BY cluster_id
         |        ORDER BY quality DESC, doc_id) AS rn
         |    FROM lab) WHERE rn = 1)
         |SELECT l.doc_id, l.cluster_id, c.canonical_doc,
         |  l.doc_id = c.canonical_doc AS is_canonical
         |FROM lab l JOIN canon c USING (cluster_id)""".stripMargin
    },
    "graph_bfs_layers" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // four synchronous relaxation rounds unrolled as CTEs — the exact
      // integer recurrence of the Spark loop (NULL = unreached)
      val rounds = (1 to 4).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT x.node,
           |    CASE WHEN x.d IS NULL THEN n.nd
           |         WHEN n.nd IS NULL THEN x.d
           |         ELSE LEAST(x.d, n.nd) END AS d
           |  FROM d${t - 1} x LEFT JOIN (
           |    SELECT s.b AS node, MIN(p.d + 1) AS nd
           |    FROM sym s JOIN d${t - 1} p ON p.node = s.a
           |    WHERE p.d IS NOT NULL GROUP BY s.b) n ON n.node = x.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |${SYM_CTE.replaceFirst("sym AS \\(", "sym AS MATERIALIZED (")},
         |d0 AS MATERIALIZED (SELECT DISTINCT a AS node,
         |         CASE WHEN a % 7 = 0 THEN 0 ELSE NULL END AS d FROM sym),
         |$rounds
         |SELECT node, CAST(COALESCE(d, -1) AS BIGINT) AS dist4 FROM d4""".stripMargin
    },
    "graph_harmonic_centrality" -> {
      s"""$landmarkBfsCtes
         |SELECT node,
         |  CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
         |  CAST(SUM(CASE WHEN d > 0 THEN 1000 // d ELSE 0 END) AS BIGINT)
         |    AS harmonic_milli
         |FROM hd6 GROUP BY node""".stripMargin
    },
    "graph_diameter_estimate" -> {
      s"""$landmarkBfsCtes,
         |hper AS (
         |  SELECT l.lm_idx,
         |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_reached,
         |    CAST(MAX(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS ecc
         |  FROM hd6 JOIN hlms l ON l.lm = hd6.lm GROUP BY l.lm_idx)
         |SELECT lm_idx, n_reached, ecc,
         |  CAST(MAX(ecc) OVER () AS BIGINT) AS diameter_lb
         |FROM hper""".stripMargin
    },
    "dedup_cluster_purity" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |$CLOSURE_CTES,
         |pl AS (
         |  SELECT c.cluster_id, d.lang, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM clus c JOIN documents d USING (doc_id)
         |  GROUP BY 1, 2),
         |pag AS (
         |  SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_langs
         |  FROM pl GROUP BY cluster_id),
         |ptp AS (
         |  SELECT cluster_id, lang AS top_lang, n AS top_n FROM (
         |    SELECT cluster_id, lang, n,
         |      ROW_NUMBER() OVER (PARTITION BY cluster_id
         |        ORDER BY n DESC, lang) AS rn
         |    FROM pl) WHERE rn = 1)
         |SELECT pag.cluster_id, n_docs, n_langs, top_lang,
         |  top_n * 1000 // n_docs AS top_share_milli,
         |  n_langs = 1 AS is_pure
         |FROM pag JOIN ptp USING (cluster_id)""".stripMargin
    },
    "graph_degree_stats" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH pairs AS ($pairsSql),
         |$SYM_CTE,
         |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a)
         |SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS deg_bits,
         |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(d) AS BIGINT) AS sum_deg,
         |  MIN(d) AS min_deg, MAX(d) AS max_deg
         |FROM deg GROUP BY 1""".stripMargin
    },
    "graph_degree_assortativity" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      s"""WITH pairs AS ($pairsSql),
         |$SYM_CTE,
         |deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
         |e AS (SELECT CAST(length(bin(da.d)) - 1 AS BIGINT) AS x,
         |        CAST(length(bin(db.d)) - 1 AS BIGINT) AS y
         |      FROM sym JOIN deg da ON da.a = sym.a
         |      JOIN deg db ON db.a = sym.b),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ends,
         |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(y * y) AS BIGINT) AS syy
         |      FROM e)
         |SELECT n_ends, sx, sy, sxy, sxx, syy,
         |  n_ends * sxy - sx * sy AS num,
         |  n_ends * sxx - sx * sx AS den,
         |  CAST(CASE WHEN n_ends * sxy - sx * sy < 0 THEN -1 ELSE 1 END
         |    AS BIGINT) AS assort_sign,
         |  CASE WHEN n_ends * sxx - sx * sx = 0 THEN 0
         |       ELSE abs(n_ends * sxy - sx * sy) * 1000
         |         // (n_ends * sxx - sx * sx) END AS abs_assort_milli
         |FROM s""".stripMargin
    },
    "graph_kcore" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // four synchronous peel rounds unrolled as CTEs: a node survives
      // round t iff >= 2 of its neighbours survived round t-1.
      // AS MATERIALIZED throughout — each s_t references s_{t-1} twice,
      // and the inliner otherwise evaluates the expensive pairs subquery
      // 17 times (the onion-layers variant of this chain hung check.py
      // at sf0.1 before materialization; this one merely paid 17×).
      val rounds = (1 to 4).map { t =>
        s"""s$t AS MATERIALIZED (
           |  SELECT s.a AS node FROM sym s
           |  JOIN s${t - 1} x ON x.node = s.a
           |  JOIN s${t - 1} y ON y.node = s.b
           |  GROUP BY s.a HAVING COUNT(*) >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |${SYM_CTE.replaceFirst("sym AS \\(", "sym AS MATERIALIZED (")},
         |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
         |$rounds
         |SELECT n.node, s4.node IS NOT NULL AS in_core
         |FROM s0 n LEFT JOIN s4 ON s4.node = n.node""".stripMargin
    },
    "graph_onion_layers" -> {
      val pairsSql = TextQueries.oracle("dedup_ngram_jaccard")
      // the kcore peel with the drop round kept: survivor sets are
      // monotone (s_t only draws from s_{t-1}), so the layer is the
      // FIRST round a node is absent from. Every CTE is AS MATERIALIZED:
      // the final SELECT references all four survivor sets and each s_t
      // references s_{t-1} twice — left to the inliner, the expensive
      // pairs subquery would be evaluated ~31 times (the first cut hung
      // check.py at sf0.1 at 21 GB / 90 CPU-minutes before it was
      // killed; kcore's 17-copy inline was the silent precedent).
      val rounds = (1 to 4).map { t =>
        s"""s$t AS MATERIALIZED (
           |  SELECT s.a AS node FROM sym s
           |  JOIN s${t - 1} x ON x.node = s.a
           |  JOIN s${t - 1} y ON y.node = s.b
           |  GROUP BY s.a HAVING COUNT(*) >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |${SYM_CTE.replaceFirst("sym AS \\(", "sym AS MATERIALIZED (")},
         |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
         |$rounds
         |SELECT n.node,
         |  CAST(CASE WHEN x1.node IS NULL THEN 1
         |       WHEN x2.node IS NULL THEN 2
         |       WHEN x3.node IS NULL THEN 3
         |       WHEN x4.node IS NULL THEN 4
         |       ELSE 0 END AS BIGINT) AS layer,
         |  x4.node IS NOT NULL AS in_core
         |FROM s0 n
         |LEFT JOIN s1 x1 ON x1.node = n.node
         |LEFT JOIN s2 x2 ON x2.node = n.node
         |LEFT JOIN s3 x3 ON x3.node = n.node
         |LEFT JOIN s4 x4 ON x4.node = n.node""".stripMargin
    },
    "graph_triangles" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |tg AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |       FROM eg e1 JOIN eg e2 ON e1.v = e2.u
         |       WHERE EXISTS (SELECT 1 FROM eg e3
         |                     WHERE e3.u = e1.u AND e3.v = e2.v)),
         |nodes AS (SELECT unnest([a, b, c]) AS node FROM tg)
         |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM nodes GROUP BY node""".stripMargin
    },
    "graph_square_count" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |sym AS (SELECT u AS a, v AS b FROM eg
         |        UNION ALL SELECT v, u FROM eg),
         |wp AS (SELECT s1.a AS x, s2.b AS z, CAST(COUNT(*) AS BIGINT) AS w
         |       FROM sym s1 JOIN sym s2 ON s1.b = s2.a
         |       WHERE s1.a < s2.b
         |       GROUP BY 1, 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_wedge_pairs,
         |  CAST(SUM(CASE WHEN w >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_multi_pairs,
         |  CAST(SUM(w * (w - 1) // 2) // 2 AS BIGINT) AS n_squares
         |FROM wp""".stripMargin
    },
    "graph_ktruss" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      // three synchronous peel rounds unrolled as CTEs: an edge survives
      // round t iff it closes >= 1 triangle with round-(t-1) survivors
      val rounds = (1 to 3).map { t =>
        s"""s$t AS MATERIALIZED (SELECT u AS a, v AS b FROM e${t - 1}
           |      UNION ALL SELECT v, u FROM e${t - 1}),
           |e$t AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${t - 1} e
           |  JOIN s$t x ON x.a = e.u
           |  JOIN s$t y ON y.a = e.v AND y.b = x.b
           |  GROUP BY e.u, e.v HAVING COUNT(*) >= 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH knn AS ($knnSql),
         |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |$rounds
         |SELECT e0.u, e0.v, e3.u IS NOT NULL AS in_truss
         |FROM e0 LEFT JOIN e3 ON e3.u = e0.u AND e3.v = e0.v""".stripMargin
    },
    "graph_global_clustering" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |tg AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |       FROM eg e1 JOIN eg e2 ON e1.v = e2.u
         |       WHERE EXISTS (SELECT 1 FROM eg e3
         |                     WHERE e3.u = e1.u AND e3.v = e2.v)),
         |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tg),
         |adj AS (SELECT u AS node FROM eg UNION ALL SELECT v FROM eg),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM adj GROUP BY node),
         |wg AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
         |         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |         CAST(SUM(d) AS BIGINT) AS sum_deg
         |       FROM deg)
         |SELECT n_nodes, sum_deg // 2 AS n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges = 0 THEN 0
         |       ELSE n_triangles * 3000 // n_wedges END AS transitivity_milli
         |FROM wg, tc""".stripMargin
    },
    "graph_clustering_coeff" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |tg AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |       FROM eg e1 JOIN eg e2 ON e1.v = e2.u
         |       WHERE EXISTS (SELECT 1 FROM eg e3
         |                     WHERE e3.u = e1.u AND e3.v = e2.v)),
         |tri AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |        FROM (SELECT unnest([a, b, c]) AS node FROM tg)
         |        GROUP BY node),
         |adj AS (SELECT u AS node FROM eg UNION ALL SELECT v FROM eg),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM adj GROUP BY node)
         |SELECT deg.node, d,
         |  CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) * 2000
         |    // (d * (d - 1)) AS coeff_milli
         |FROM deg LEFT JOIN tri ON tri.node = deg.node
         |WHERE d >= 2""".stripMargin
    },
    "sim_hubness_audit" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |    SELECT u AS node FROM eg UNION ALL SELECT v FROM eg)
         |  GROUP BY node),
         |r AS (
         |  SELECT node, d,
         |    CAST(ROW_NUMBER() OVER (ORDER BY d, node) AS BIGINT) AS rank
         |  FROM deg),
         |t AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(d) AS BIGINT) AS total_degree,
         |    CAST(SUM(rank * d) AS BIGINT) AS isum,
         |    MAX(d) AS max_degree
         |  FROM r)
         |SELECT n_nodes, total_degree, max_degree,
         |  (2 * isum - (n_nodes + 1) * total_degree) * 1000
         |    // (n_nodes * total_degree) AS gini_milli,
         |  max_degree * n_nodes * 1000 // total_degree
         |    AS max_over_mean_milli,
         |  CAST(SUM(CASE WHEN rank > n_nodes - n_nodes // 10 THEN d
         |    ELSE 0 END) AS BIGINT) * 1000 // total_degree
         |    AS top_decile_milli
         |FROM r CROSS JOIN t
         |GROUP BY n_nodes, total_degree, isum, max_degree""".stripMargin
    },
    "graph_two_hop_reach" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |adj AS (SELECT u AS x, v AS n FROM eg
         |        UNION ALL SELECT v, u FROM eg),
         |deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM adj GROUP BY x),
         |rch AS (
         |  SELECT x, CAST(COUNT(DISTINCT y) AS BIGINT) AS n_within2 FROM (
         |    SELECT x, n AS y FROM adj
         |    UNION ALL
         |    SELECT a1.x, a2.n AS y FROM adj a1
         |    JOIN adj a2 ON a2.x = a1.n AND a2.n <> a1.x)
         |  GROUP BY x)
         |SELECT rch.x AS node, deg, n_within2,
         |  n_within2 * 1000 // deg AS amplification_milli
         |FROM rch JOIN deg ON deg.x = rch.x""".stripMargin
    },
    "graph_link_prediction" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |adj AS (SELECT u AS mid, v AS n FROM eg
         |        UNION ALL SELECT v, u FROM eg),
         |deg AS (SELECT mid, CAST(COUNT(*) AS BIGINT) AS d
         |        FROM adj GROUP BY mid),
         |wd AS (SELECT a1.n AS a, a2.n AS b,
         |         CAST(SUM(1000 // d) AS BIGINT) AS ra_milli,
         |         CAST(COUNT(*) AS BIGINT) AS n_common
         |       FROM adj a1 JOIN adj a2 ON a2.mid = a1.mid AND a1.n < a2.n
         |       JOIN deg ON deg.mid = a1.mid
         |       GROUP BY 1, 2)
         |SELECT a, b, ra_milli, n_common FROM wd
         |WHERE NOT EXISTS (SELECT 1 FROM eg
         |                  WHERE eg.u = wd.a AND eg.v = wd.b)
         |ORDER BY ra_milli DESC, n_common DESC, a, b LIMIT 50""".stripMargin
    },
    "graph_neighbor_jaccard" -> {
      val knnSql = SketchQueries.oracle("sim_knn_graph")
      s"""WITH knn AS ($knnSql),
         |eg AS (SELECT DISTINCT LEAST(qid, vec_id) AS u,
         |         GREATEST(qid, vec_id) AS v
         |       FROM knn WHERE qid <> vec_id),
         |adj AS (SELECT u AS x, v AS n FROM eg
         |        UNION ALL SELECT v, u FROM eg),
         |deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY x),
         |cmn AS (SELECT eg.u, eg.v, CAST(COUNT(*) AS BIGINT) AS common
         |        FROM eg JOIN adj a1 ON a1.x = eg.u
         |                JOIN adj a2 ON a2.x = eg.v AND a2.n = a1.n
         |        GROUP BY eg.u, eg.v)
         |SELECT eg.u, eg.v, degu.d AS du, degv.d AS dv,
         |  COALESCE(c.common, 0) AS common,
         |  COALESCE(c.common, 0) * 1000
         |    // (degu.d + degv.d - COALESCE(c.common, 0)) AS jaccard_millis
         |FROM eg LEFT JOIN cmn c ON c.u = eg.u AND c.v = eg.v
         |JOIN deg degu ON degu.x = eg.u
         |JOIN deg degv ON degv.x = eg.v""".stripMargin
    })
}
