package graft

import graft.operators.{DomainQueries, GeoJoin, Scale}
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("grid-banded distance join matches the nested-loop join exactly") {
    val occ = DomainQueries.valid(spark, sf).select("occ_id", "lat", "lon")
    val cents = DomainQueries.centroids(spark)
    val r = 150000.0
    val banded = GeoJoin.withinRadius(occ, "lat", "lon", cents, "clat", "clon", r)
      .select("occ_id", "clat", "clon").as[(Long, Double, Double)].collect().toSet
    val bnlj = occ.join(cents,
        DomainQueries.haversineM(col("lat"), col("lon"), col("clat"), col("clon")) <= r)
      .select("occ_id", "clat", "clon").as[(Long, Double, Double)].collect().toSet
    assert(banded === bnlj)
    assert(banded.nonEmpty)
  }

  test("grid-banded anti distance join matches the centroid filter") {
    val occ = DomainQueries.valid(spark, sf).select("occ_id", "lat", "lon")
    val cents = DomainQueries.centroids(spark)
    val got = GeoJoin.antiWithinRadius(occ, "lat", "lon", cents, "clat", "clon", 150000.0)
      .select("occ_id").as[Long].collect().toSet
    val want = DomainQueries.occCentroidFilter(spark, sf)
      .select("occ_id").as[Long].collect().toSet
    assert(got === want)
  }

  test("banded distance join finds pairs straddling the antimeridian") {
    // Two points 0.2° of longitude apart but on opposite sides of ±180°,
    // at high latitude (≈ 2.3 km apart) — naive lon flooring puts them in
    // the first and last cells and never pairs them.
    val l = Seq((1L, 84.0, -179.9), (2L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((10L, 84.0, 179.9), (20L, 0.0, 10.0)).toDF("rid", "rlat", "rlon")
    val got = GeoJoin.withinRadius(l, "llat", "llon", r, "rlat", "rlon", 5000.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = l.join(r,
        DomainQueries.haversineM(col("llat"), col("llon"), col("rlat"), col("rlon")) <= 5000.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(want === Set((1L, 10L))) // sanity: they really are within 5 km
    assert(got === want)
  }

  test("banded distance join finds pairs inside the polar caps") {
    // (89.9, 0) and (89.9, 180) are ~22 km apart across the pole but ~139
    // longitude cells apart at radius 25 km — neighbor expansion ±1 can
    // never bridge them; only the polar-cap collapse co-locates them.
    // (79.5, 0) vs (80.3, 0) crosses the cap boundary (~89 km apart).
    val l = Seq((1L, 89.9, 0.0), (2L, 79.5, 0.0), (3L, 0.0, 0.0))
      .toDF("lid", "llat", "llon")
    val r = Seq((10L, 89.9, 180.0), (20L, 80.3, 0.0), (30L, 0.0, 0.5))
      .toDF("rid", "rlat", "rlon")
    val radius = 100000.0
    val got = GeoJoin.withinRadius(l, "llat", "llon", r, "rlat", "rlon", radius)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = l.join(r,
        DomainQueries.haversineM(col("llat"), col("llon"), col("rlat"), col("rlon")) <= radius)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(want === Set((1L, 10L), (2L, 20L), (3L, 30L))) // sanity
    assert(got === want)
  }

  test("bucketed tables join without an exchange") {
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (tbl <- Seq("orders_b", "lineitem_b")) spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Scale.writeBucketed(Tables.t(spark, sf, "orders"), "orders_b", "o_orderkey", 4)
      Scale.writeBucketed(
        Tables.t(spark, sf, "lineitem").select("l_orderkey", "l_quantity"),
        "lineitem_b", "l_orderkey", 4)
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(joined.count() ===
        Tables.t(spark, sf, "lineitem").count()) // FK: every lineitem matches
    }
  }

  test("degenerate 100k-identical corpus: winnow + containment + fuzzy pair gens stay bounded") {
    // All-identical docs collapse every fingerprint/gram to ONE posting of
    // df = 100k: uncapped, pair-gen is C(100k,2) ≈ 5e9 candidates. The df
    // cutoffs must drop the degenerate postings BEFORE any posting list
    // exists (0 pairs out — exact dups stay covered by dedup_exact), no
    // stage may process a quadratic record count, and nothing heavy may
    // run single-task — the sim_knn_graph cap discipline applied to the
    // round-6 pair generators, at 100× the oracle-gate doc count.
    val text = "the quick brown fox jumps over the lazy dog again and again today just fine"
    val dir = java.nio.file.Files.createTempDirectory("degen_docs").toString
    spark.range(1, 100001).select(col("id").as("doc_id"), lit(text).as("text"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stages = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.put(sc.stageInfo.stageId, (sc.stageInfo.numTasks,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      // winnow's cap guard is visible in its final plan (broadcast
      // anti-join); containment's df cutoff runs BEFORE its internal
      // localCheckpoint, so the final plan reads from the checkpoint and
      // cannot show it — there the 0-count, worst-stage-records and
      // runtime bounds below ARE the guard (an uncapped run would blow
      // all three). A bare contains("Join") would match any plan.
      val winnow = operators.SketchQueries.dedupWinnowPairs(spark, dir)
      assert(winnow.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "winnow posting cap lost its broadcast anti-join")
      val containment = operators.TextRank.dedupShingleContainment(spark, dir)
      // fuzzy: all 100k docs share ONE 24-char-prefix block (>> cap 64);
      // the pre-materialization cap must drop it before any pair exists
      val fuzzy = operators.TextQueries.dedupFuzzyMatch(spark, dir)
      assert(fuzzy.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "fuzzy block cap lost its broadcast anti-join")
      for (pairs <- Seq(winnow, containment, fuzzy)) assert(pairs.count() === 0)
    } finally {
      val secs = (System.nanoTime() - t0) / 1e9
      // runtime bound: linear-in-corpus work finishes in well under two
      // minutes; a quadratic pair-gen would run for hours
      assert(secs < 120, f"degenerate corpus took $secs%.1f s — candidate blowup?")
      // let the listener bus drain before reading the stage map
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && stages.size != last) {
        last = stages.size; Thread.sleep(300)
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    val worst = stages.values.map(_._2).max
    assert(worst < 20000000L,
      s"a stage processed $worst records — candidate count not bounded")
    val singleTaskHeavy = stages.values.filter { case (n, recs) => n == 1 && recs >= 1000000L }
    assert(singleTaskHeavy.isEmpty,
      s"heavy single-task stages: $singleTaskHeavy")
  }

  test("degenerate 20k-identical payloads: phash band cap drops the saturated buckets before any pair exists") {
    // all-identical ≥256-byte payloads produce ONE signature: every
    // (band, bv) bucket holds the whole corpus (>> cap 64), so the
    // pre-materialization cap must kill the buckets — 0 pairs out
    // (exact dups belong to the CAS layer), never C(20k,2) candidates
    val text = ("perceptual hash degenerate corpus payload sentence " * 6).trim
    assert(text.getBytes("UTF-8").length >= 256)
    val dir = java.nio.file.Files.createTempDirectory("degen_phash").toString
    spark.range(1, 20001).select(col("id").as("doc_id"), lit(text).as("text"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    assert(operators.Multimodal.multimodalPhashDedup(spark, dir).count() === 0L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, f"degenerate phash took $secs%.1f s — candidate blowup?")
  }

  test("degenerate 20k-identical corpus: suffix-window bucket cap kills saturated fingerprints before any pair exists") {
    // every 16-token window of an all-identical corpus collides across
    // ALL docs (>> the 2..8 cap) — the cap must drop the buckets before
    // the pair self-join, yielding 0 pairs in bounded time; and the
    // doc_id % 41 planted excerpts collide with every source the same
    // way, so the derived corpus adds nothing back
    val text = ("suffix window degenerate corpus token stream sentence " * 12).trim
    val dir = java.nio.file.Files.createTempDirectory("degen_sw").toString
    spark.range(1, 20001).select(col("id").as("doc_id"), lit(text).as("text"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    assert(operators.TextQueries.dedupSuffixWindow(spark, dir).count() === 0L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, f"degenerate suffix-window took $secs%.1f s — candidate blowup?")
  }

  test("salted count equals plain count per key") {
    val df = Tables.t(spark, sf, "orders")
    val salted = Scale.saltedCount(df, "o_custkey", 8)
      .as[(Long, Long)].collect().toMap
    val plain = df.groupBy("o_custkey").count().as[(Long, Long)].collect().toMap
    assert(salted === plain)
  }

  test("salted join equals plain join") {
    val big = Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val small = Tables.t(spark, sf, "customer").select(
      col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val got = Scale.saltedJoin(big, small, "o_custkey", 4)
      .select("o_orderkey", "c_mktsegment").as[(Long, String)].collect().toSet
    val want = big.join(small, Seq("o_custkey"))
      .select("o_orderkey", "c_mktsegment").as[(Long, String)].collect().toSet
    assert(got === want)
  }

  // ---- iterative-operator convergence probes beyond the oracle-gate SFs.
  // The 100 TB posture claims (big-star O(log n), Borůvka O(log n)) are
  // round-count claims; these pin the margins on graphs whose diameter /
  // component size dwarfs anything the sf gates produce, with driver-side
  // union-find / Kruskal references for exactness.

  private def unionFind(edges: Iterable[(Long, Long)]): scala.collection.mutable.Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.foreach(k => parent(k) = find(k))
    parent
  }

  test("big-star CC: 20k-node permuted path (diameter 20k) converges in <= 2 log2 n + 4 rounds; min-label guard fires") {
    // high-diameter adversary: min-label walks ONE hop per round and can
    // never finish inside any sane budget — the guard must throw, loudly,
    // instead of shipping partial labels; big-star must converge in
    // O(log n) with ids permuted so label order carries no free luck
    val n = 20001L
    val perm = (i: Long) => (i * 2654435761L) % 1000003L * 100000L + i
    val edges = (0L until n - 1).map(i => (perm(i), perm(i + 1)))
    val df = edges.toDF("a", "b")
    val e = intercept[IllegalStateException] {
      operators.Graphs.connectedComponents(df, maxIter = 8)
    }
    assert(e.getMessage.contains("did not converge"))
    val (labels, rounds) = operators.Graphs.alternatingCC(df, maxRounds = 40)
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4
    assert(rounds <= bound, s"big-star needed $rounds rounds (bound $bound)")
    val got = labels.as[(Long, Long)].collect()
    val minId = edges.iterator.flatMap(p => Iterator(p._1, p._2)).min
    assert(got.length === n)
    assert(got.forall(_._2 == minId), "path is ONE component labeled by its min id")
  }

  test("big-star CC: 32k-node hash-random giant component matches union-find exactly within the round bound") {
    // giant-component adversary: m = 2n hash-derived edges sit way past
    // the 0.5n percolation threshold, so ~all nodes fuse into one blob —
    // the shape a near-dup graph takes when boilerplate glues a corpus
    // together, and the regime where per-round frontier joins are widest
    val n = 32768L
    val edges = (0L until 2 * n).map { i =>
      val a = (i * 6364136223846793005L + 1442695040888963407L) >>> 33
      val b = (i * 2862933555777941757L + 3037000493L) >>> 33
      (a % n, b % n)
    }.filter(p => p._1 != p._2)
    val df = edges.toDF("a", "b")
    val (labels, rounds) = operators.Graphs.alternatingCC(df, maxRounds = 40)
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4
    assert(rounds <= bound, s"big-star needed $rounds rounds (bound $bound)")
    val want = unionFind(edges)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got === want.toMap)
    val giant = want.groupBy(_._2).map(_._2.size).max
    assert(giant > want.size * 9 / 10, "fixture lost its giant component")
  }

  test("landmark harmonic: path far past the horizon — beyond-horizon nodes read (0,0) like disconnected ones") {
    // the horizon contract (r9 verdict): rounds=6 relaxations reach AT
    // MOST 6 hops, so on a 512-node path (diameter 511) every node
    // farther than 6 from ALL landmarks must read n_reached=0,
    // harmonic=0 — byte-identical to a genuinely disconnected island.
    // Driver replays the whole documented lattice (hash landmarks,
    // horizon-capped BFS, 1000 div d fold) and compares full maps.
    val n = 512L
    val pathEdges = (0L until n - 1).map(i => (i, i + 1))
    val edges = pathEdges :+ ((1000000L, 1000001L)) // disconnected island
    val got = operators.Graphs.landmarkHarmonic(edges.toDF("a", "b"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // driver lattice: same salt, same 13-hex-digit md5 prefix, same tie order
    def h(node: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lm:$node".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map("%02x".format(_)).mkString.take(13), 16)
    }
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val lms = nodes.sortBy(x => (h(x), x)).take(4)
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def bfs(src: Long): Map[Long, Int] = {
      var dist = Map(src -> 0); var frontier = Seq(src)
      for (d <- 1 to 6) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
        dist ++= frontier.map(_ -> d);
      }
      dist
    }
    val dists = lms.map(bfs)
    val want = nodes.map { x =>
      val ds = dists.flatMap(_.get(x)).filter(_ > 0)
      x -> (ds.length.toLong, ds.map(1000L / _).sum)
    }.toMap
    assert(got === want)
    // the contract's sharp edge: path nodes beyond every landmark's
    // horizon and the island (when landmark-free) are indistinguishable
    if (lms.toSet.intersect(Set(1000000L, 1000001L)).isEmpty) {
      assert(got(1000000L) === ((0L, 0L)))
      assert(got(1000001L) === ((0L, 0L)))
    }
    val beyond = (0L until n).filter(x => dists.forall(!_.contains(x)))
    assert(beyond.nonEmpty, "fixture must leave path nodes past every horizon")
    assert(beyond.forall(x => got(x) === ((0L, 0L))))
  }

  test("boruvka MSF: 16k-node giant random graph matches driver Kruskal, rounds stay O(log n)") {
    val n = 16384L
    val raw = (0L until 2 * n).map { i =>
      val a = (i * 6364136223846793005L + 1442695040888963407L) >>> 33
      val b = (i * 2862933555777941757L + 3037000493L) >>> 33
      // weights distinct by construction: the unique-i low field is 16
      // bits wide and i < 2n = 2^15 edges, so base*65536 + i cannot
      // collide (a 4096 stride here was NOT structural — i overflows a
      // 12-bit field — and held only by luck; r9 review finding)
      (a % n, b % n, ((i * 2654435761L) % 1000000L) * 65536L + i)
    }.filter(p => p._1 != p._2)
    val (forest, rounds) = operators.Graphs.boruvkaMsfRounds(
      raw.toDF("u", "v", "w"), maxRounds = 20)
    val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"boruvka needed $rounds rounds (bound $bound)")
    // driver Kruskal (distinct weights -> the MSF is unique as an edge SET)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = scala.collection.mutable.Set[Long]()
    for ((a, b, w) <- raw.sortBy(_._3)) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); want += w }
    }
    val got = forest.select("w").as[Long].collect().toSet
    assert(got === want.toSet)
  }

  test("capped checkpoint: compounding stats stay bounded, sane stats pass through, broadcast survives") {
    val cap = BigInt(Long.MaxValue)
    val base = Ckpt.capped((1L to 64L).map(i => (i, i * 2)).toDF("a", "b"))
    // passthrough: a small relation keeps its REAL estimate (not the cap,
    // not defaultSizeInBytes) — the early-round broadcast decisions depend
    // on this
    val s0 = base.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(s0 > 0 && s0 < BigInt(10L << 20), s"small ckpt reads huge: $s0")
    // the compounding mechanism is real: PLAIN localCheckpoint squares the
    // carried estimate when a round joins the previous checkpoint twice
    var plain = base.localCheckpoint()
    var capped = base
    for (_ <- 1 to 6) {
      def round(df: org.apache.spark.sql.DataFrame) =
        df.toDF("a", "b").join(df.toDF("a", "c"), Seq("a"))
          .select(col("a"), (col("b") + col("c")).as("b"))
      plain = round(plain).localCheckpoint()
      capped = Ckpt.capped(round(capped))
    }
    val sPlain = plain.queryExecution.optimizedPlan.stats.sizeInBytes
    val sCapped = capped.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sPlain > cap, s"expected plain-checkpoint compounding past the cap, got $sPlain")
    assert(sCapped <= cap, s"capped checkpoint leaked a compounded stat: $sCapped")
    // a passthrough-capped checkpoint still broadcasts under a
    // small-side join — its REAL stats survived the wrapper
    val fact = (1L to 1000L).map(i => (i % 64 + 1, i)).toDF("a", "v")
    val joined = fact.join(base, Seq("a"))
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), s"expected BHJ, got:\n$phys")
  }

  test("stamped checkpoint: claimed layout serves joins/aggs exchange-free; width divergence fails loudly") {
    import org.apache.spark.sql.DataFrame
    def shuffles(df: DataFrame): Int = {
      val p = df.queryExecution.executedPlan.toString
      def n(re: String) = re.r.findAllIn(p).size
      n("Exchange ") - n("BroadcastExchange ") - n("ReusedExchange ")
    }
    val df = (1L to 256L).map(i => (i % 16, i)).toDF("k", "v")
    val n = 8
    // honest contract: repartition(n, k) + partitioning-preserving filter
    val ok = Ckpt.stamp(df.repartition(n, col("k")).filter(col("v") > 0), n, "k")
    assert(ok.rdd.getNumPartitions === n)
    // the stamped layout serves a groupBy(k) with NO new exchange — the
    // whole point of the stamp (AQE records Unknown otherwise)
    assert(shuffles(ok.groupBy("k").count()) === 0,
      "stamped checkpoint did not satisfy the aggregate's clustering")
    // and a self-join on k is exchange-free on both sides
    assert(shuffles(ok.as("a").join(ok.as("b"), "k")) === 0,
      "stamped checkpoint did not satisfy the join's clustering")
    // broken contract (r15 guard): a width-changing operator between the
    // repartition and the stamp must throw, never silently claim a wrong
    // layout (downstream joins would skip a required exchange)
    intercept[IllegalStateException] {
      Ckpt.stamp(df.repartition(n, col("k")).coalesce(2), n, "k")
    }
  }

  test("volume-aware widths: a leaf with no size estimate reads the floor, not the width cap") {
    // an RDD-backed leaf reports sizeInBytes = Long.MaxValue (Spark's
    // "unknown"); read as bytes it would ask for 2^20 partitions
    val rddBacked = spark.sparkContext.parallelize(Seq(1L, 2L, 3L)).toDF("x")
    assert(rddBacked.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.stats.sizeInBytes >= Long.MaxValue), "fixture lost its sentinel leaf")
    assert(Ckpt.wide(rddBacked) === Ckpt.wide(spark))
    assert(Ckpt.textPar(rddBacked) === Ckpt.textPar(spark))
    // mixed with a real parquet leaf, the unknown side still reads the floor
    val mixed = Tables.t(spark, sf, "orders").select(col("o_orderkey").as("x"))
      .union(rddBacked)
    assert(Ckpt.wide(mixed) === Ckpt.wide(spark))
    // a sized leaf keeps the byte-scaled path (tiny here, so the floor)
    assert(Ckpt.wide(Tables.t(spark, sf, "orders")) === Ckpt.wide(spark))
  }

  test("onion layers: a planted deep-peel graph labels the unreached remainder CORE, never mis-layers it") {
    // graph_onion_layers runs fixed rounds=4 — fine on the cliquey
    // near-dup graph, but the k-core convergence discipline demands the
    // probe: on a graph with ≥6 HONEST peel layers (a 24-node path peels
    // its two endpoints per round — 12 true layers under k=2), the
    // fixed-round readout must label everything it didn't reach as core
    // (layer 0), agree with a full-depth run on every layer it DID
    // assign, and the full-depth run must match a driver-side peel
    // simulation exactly.
    import graft.operators.Graphs
    val n = 24
    val path = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    val clique = (for (a <- 100 to 104; b <- (a + 1) to 104)
      yield (a.toLong, b.toLong))
    val bridge = Seq((n - 1).toLong -> 100L) // attach path end to the core
    val edges = (path ++ clique ++ bridge).toDF("x", "y")
    // driver-side synchronous peel (k=2): layer t = round the node died
    def simulate(rounds: Int): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      (path ++ clique ++ bridge).foreach { case (a, b) =>
        adj(a) = adj.getOrElse(a, Set()) + b
        adj(b) = adj.getOrElse(b, Set()) + a
      }
      val layer = scala.collection.mutable.Map[Long, Long]()
      var alive = adj.keySet.toSet
      for (t <- 1 to rounds) {
        val dead = alive.filter(v => (adj(v) & alive).size < 2)
        dead.foreach(v => layer(v) = t.toLong)
        alive = alive -- dead
      }
      adj.keySet.map(v => v -> layer.getOrElse(v, 0L)).toMap
    }
    val full = Graphs.onionLayers(edges, k = 2, rounds = 16)
      .select("node", "layer").as[(Long, Long)].collect().toMap
    assert(full === simulate(16), "full-depth run diverges from the driver peel")
    assert(full.count(_._2 >= 6) > 0, "probe graph must have >= 6 honest layers")
    val fixed = Graphs.onionLayers(edges, k = 2, rounds = 4)
      .select("node", "layer").as[(Long, Long)].collect().toMap
    // (a) every layer the fixed-round run assigned matches the full run
    fixed.filter(_._2 > 0).foreach { case (v, l) =>
      assert(full(v) === l, s"node $v mis-layered: fixed=$l full=${full(v)}")
    }
    // (b) everything beyond the horizon reads core (layer 0), including
    // the path middle that a full peel would eventually drop
    fixed.filter(_._2 == 0).foreach { case (v, _) =>
      assert(full(v) === 0L || full(v) > 4L,
        s"node $v with true layer ${full(v)} <= 4 leaked into the core readout")
    }
    // the clique + bridge-adjacent scaffolding is genuinely core at any depth
    assert((100L to 104L).forall(v => full(v) === 0L))
  }
}
