package graft

import graft.functions.{ConvexHullAreaKm2, RollingHash}
import graft.operators.SketchQueries
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("rolling_hash matches a BigInt reference and is codegen-consistent") {
    val p = BigInt((1L << 61) - 1)
    def ref(str: String): Long =
      str.getBytes("UTF-8").foldLeft(BigInt(0))((h, b) => (h * 31 + (b & 0xff)) mod p).toLong
    for (str <- Seq("", "a", "hello world", "Hello wörld ⚡", "x" * 10000)) {
      assert(RollingHash.hashBytes(str.getBytes("UTF-8")) === ref(str), s"for '$str'")
    }
    SketchQueries.register(spark)
    val df = Seq("alpha", "beta gamma", "").toDF("text")
    val viaSql = df.selectExpr("rolling_hash(text)").as[Long].collect()
    assert(viaSql.toSeq === Seq("alpha", "beta gamma", "").map(s => ref(s)))
    // interpreted path (codegen disabled) must agree
    withConfs("spark.sql.codegen.wholeStage" -> "false") {
      val interp = df.selectExpr("rolling_hash(text)").as[Long].collect()
      assert(interp.toSeq === viaSql.toSeq)
    }
  }

  test("token_count expression matches the regex tokenizer on real docs") {
    SketchQueries.register(spark)
    val docs = Tables.t(spark, sf, "documents")
    val mismatches = docs.selectExpr(
        "token_count(text) AS native",
        "cast(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)) as bigint) AS re")
      .where(col("native") =!= col("re")).count()
    assert(mismatches === 0)
    // unicode: each UTF-8 continuation byte counts as a token byte-wise
    val h = spark.sql("SELECT token_count('ab 12 ⚡x') AS n").as[Long].head()
    assert(h === 1 + 2 + 3 + 1) // 'ab', '1', '2', 3 bytes of ⚡, 'x'
  }

  test("dot_f native expression matches the unrolled element_at chain") {
    val emb = Tables.t(spark, sf, "embeddings")
    val pairs = emb.filter(col("vec_id") < 20).select(col("embedding").as("a"))
      .crossJoin(emb.filter(col("vec_id").between(20, 39)).select(col("embedding").as("b")))
    val unrolled = (1 to 64).map(i =>
      element_at(col("a"), i).cast("double") * element_at(col("b"), i).cast("double"))
      .reduce(_ + _)
    val native = graft.functions.Vectors.dot(col("a"), col("b"))
    assert(pairs.select((unrolled === native).as("eq")).where(!col("eq")).count() === 0)
    // interpreted path (codegen disabled) must agree bit-for-bit too
    withConfs("spark.sql.codegen.wholeStage" -> "false") {
      assert(pairs.select((unrolled === native).as("eq")).where(!col("eq")).count() === 0)
    }
  }

  test("minhash LSH finds exact duplicates with est_jaccard 1.0") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different words describing nothing similar at all here now ok"
    val docs = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val pairs = SketchQueries.minhashPairs(docs)
      .select("doc1", "doc2", "est_jaccard").as[(Long, Long, Double)].collect().toSet
    assert(pairs.contains((1L, 2L, 1.0)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("lsh recall audit recomputes exactly from the two pair sets") {
    val got = SketchQueries.dedupLshRecallAudit(spark, sf)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(got.length === 1)
    val (ne, na, nh, rec, prec) = got.head
    val exact = operators.TextQueries.dedupNgramJaccard(spark, sf)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val approx = SketchQueries.dedupMinhashLsh(spark, sf)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(ne === exact.size.toLong)
    assert(na === approx.size.toLong)
    assert(nh === (exact intersect approx).size.toLong)
    assert(rec === (if (ne > 0) Some(nh * 1000 / ne) else None))
    assert(prec === (if (na > 0) Some(nh * 1000 / na) else None))
    // the generator plants genuine near-dups: the audit must see signal
    assert(ne > 0 && nh > 0)
  }

  test("simhash gives hamming 0 for identical docs, filters dissimilar") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "zq xw vv kj uu pp mm nn oo ww ee rr tt yy"
    val docs = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val pairs = SketchQueries.simhashPairs(docs)
      .select("doc1", "doc2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.forall(p => p._3 <= 6))
  }

  test("minhash estimate tracks true jaccard on half-overlapping docs") {
    // Construct docs sharing roughly half their trigram shingles; the
    // MinHash estimate must land near the true Jaccard (K=32 → σ≈0.09).
    val rnd = new scala.util.Random(7)
    def words(n: Int): String = Seq.fill(n)(f"w${rnd.nextInt(100000)}%06d").mkString(" ")
    val common = words(40)
    val docs = Seq((1L, s"$common ${words(40)}"), (2L, s"$common ${words(40)}"))
      .toDF("doc_id", "text")
    val sh = (t: String) => t.split(" ").sliding(3).map(_.mkString("_")).toSet
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val (s1, s2) = (sh(rows(1L)), sh(rows(2L)))
    val trueJac = s1.intersect(s2).size.toDouble / s1.union(s2).size
    val est = SketchQueries.minhashPairs(docs)
      .select("est_jaccard").as[Double].collect()
    assert(trueJac > 0.3 && trueJac < 0.7, s"construction broken: $trueJac")
    if (est.nonEmpty) // banding may or may not surface a ~0.5 pair
      assert(math.abs(est.head - trueJac) < 0.25, s"est ${est.head} vs true $trueJac")
  }

  test("band-bucket skew cap bounds candidates on an adversarial corpus") {
    // 10k identical docs collapse every band to ONE value: uncapped,
    // that is C(10k,2) ≈ 50M candidate pairs per band — the quadratic
    // blowup the BAND_CUTOFF guards against at 100 TB. Capped, the
    // over-full buckets generate nothing (exact dups stay covered by
    // dedup_exact) — and the cap is enforced BEFORE any posting list
    // exists: the plan must carry the broadcast anti-join guard, so the
    // degenerate bucket never materializes as collect_list state.
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val big = (1L to 10000L).map(i => (i, text)).toDF("doc_id", "text")
    for (pairs <- Seq(SketchQueries.minhashPairs(big), SketchQueries.simhashPairs(big))) {
      assert(pairs.queryExecution.executedPlan.toString.contains("LeftAnti"),
        "bucket-cap anti-join missing from plan")
      assert(pairs.count() === 0)
    }
    // A cluster within the cap still yields its full C(k,2) pair set.
    val small = (1L to 50L).map(i => (i, text)).toDF("doc_id", "text")
    assert(SketchQueries.minhashPairs(small).count() === 50L * 49 / 2)
    assert(SketchQueries.simhashPairs(small).count() === 50L * 49 / 2)
  }

  test("simhash: one-word edit stays close, pair survives the hamming gate") {
    val base = "the quick brown fox jumps over the lazy dog again and again today just fine"
    val edited = base.replace("lazy", "sleepy")
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val pairs = SketchQueries.simhashPairs(docs)
      .select("doc1", "doc2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 6),
      s"near-dup pair not detected: ${pairs.toSeq}")
  }

  test("convex hull area: unit quadrilateral matches shoelace of projection") {
    val pts = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.5, 0.5))
    val h = ConvexHullAreaKm2.hull(pts)
    assert(h.length === 4) // interior point dropped
    val proj = Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)).map(ConvexHullAreaKm2.project)
    val expected = math.abs(proj.indices.map { i =>
      val (x1, y1) = proj(i); val (x2, y2) = proj((i + 1) % 4)
      x1 * y2 - x2 * y1
    }.sum) / 2 / 1e6
    val agg = new ConvexHullAreaKm2()
    var buf = agg.zero
    pts.foreach(p => buf = agg.reduce(buf, p))
    assert(math.abs(agg.finish(buf) - expected) < 1e-6)
    assert(expected > 11000 && expected < 13000) // ~111km × ~111km
  }

  test("convex hull aggregator: <3 points or collinear → -1 sentinel") {
    val agg = new ConvexHullAreaKm2()
    assert(agg.finish(Seq((1.0, 1.0), (2.0, 2.0))) === -1.0)
    assert(agg.finish(Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0))) === -1.0)
  }

  test("range_convex_hull on testdata: hull area <= bbox area") {
    val hull = SketchQueries.rangeConvexHull(spark, sf)
      .select("species", "area_km2").as[(String, Option[Double])].collect().toMap
    val bbox = operators.DomainQueries.rangeBbox(spark, sf)
      .select("species", "area_km2").as[(String, Option[Double])].collect().toMap
    assert(hull.nonEmpty)
    for ((sp, a) <- hull; b <- bbox.get(sp); av <- a; bv <- b)
      assert(av <= bv + 1e-6, s"hull > bbox for $sp")
  }

  test("matryoshka recall matches a driver replay of truncated-dot ranks") {
    val got = operators.TextQueries.simMatryoshkaRecall(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.nonEmpty)
    assert(got.forall { case (_, (n, rm)) => n >= 0 && n <= 10 && rm == n * 100 })
    // driver replay: same float→double left-to-right accumulation
    val emb = graft.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val qs = emb.filter(_._1 < 5)
    val ds = emb.filter(_._1 >= 5)
    def dot(a: Array[Float], b: Array[Float], m: Int): Double = {
      var s = 0.0; var i = 0
      while (i < m) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def top10(q: Array[Float], m: Int): Set[Long] =
      ds.map(d => (d._1, dot(q, d._2, m)))
        .sortBy { case (id, sc) => (-sc, id) }.take(10).map(_._1).toSet
    val want = (for {
      (qid, qv) <- qs
      m <- Seq(8, 16, 32)
      overlap = (top10(qv, 64) intersect top10(qv, m)).size.toLong
    } yield (m.toLong, qid) -> ((overlap, overlap * 100))).toMap
    assert(got === want) // zero-overlap rows included: recall 0 is a row
  }

  test("ivf topk scores agree with brute force where they overlap") {
    val ivf = SketchQueries.ivfTopk(spark, sf)
      .select("qid", "vec_id", "dot").as[(Long, Long, Double)].collect()
    val brute = operators.TextQueries.simCosineTopk(spark, sf)
      .select("qid", "vec_id", "dot").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(ivf.nonEmpty)
    for ((q, v, d) <- ivf; bd <- brute.get((q, v))) assert(math.abs(d - bd) < 1e-12)
  }

  test("ivf multi-probe recall dominates single-probe") {
    val brute = operators.TextQueries.simCosineTopk(spark, sf)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val hits = SketchQueries.ivfTopk(spark, sf, nprobe)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      hits.intersect(brute).size.toDouble / brute.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r2 >= r1, s"nprobe=2 recall $r2 below nprobe=1 recall $r1")
    assert(r2 > 0.5, s"nprobe=2 recall $r2 implausibly low")
  }

  test("lsh topk returns subset consistent with brute force ranking") {
    val lsh = SketchQueries.simLshTopk(spark, sf)
      .select("qid", "vec_id", "dot").as[(Long, Long, Double)].collect()
    val brute = operators.TextQueries.simCosineTopk(spark, sf)
      .select("qid", "vec_id", "dot").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(lsh.nonEmpty)
    // any LSH hit that brute force also ranked must agree on the score
    for ((q, v, d) <- lsh; bd <- brute.get((q, v))) assert(math.abs(d - bd) < 1e-12)
  }

  test("simhash multi-band bucketing finds prefix-divergent close pairs") {
    // All differing bits inside the old single 16-bit prefix (bits 48-63):
    // invisible to a prefix-only bucket, found via the 3 clean lower bands.
    val base = 0x0123456789abcdefL
    val prefixDiv = base ^ ((1L << 60) | (1L << 55) | (1L << 50)) // hamming 3
    // 6 differing bits confined to bands 2-3 → bands 0-1 clean → found
    val spread6 = base ^ ((1L << 60) | (1L << 50) | (1L << 44) |
      (1L << 40) | (1L << 36) | (1L << 33))
    val far = ~base // differs in every band → never a candidate
    val fps = Seq((1L, base), (2L, prefixDiv), (3L, spread6), (4L, far))
      .toDF("doc_id", "fp")
    val pairs = SketchQueries.simhashBucketPairs(fps)
      .select("doc1", "doc2", "hamming").as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.get((1L, 2L)) === Some(3))
    assert(pairs.get((1L, 3L)) === Some(6))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding-cosine routed path: exact subset, bit-identical dots, never quadratic") {
    // maxBroadcast = 0 forces the banded-LSH routed path (the r6 block
    // cartesian is gone). Routed output must be a SUBSET of the exact
    // pairs with bit-identical dot values (DotF shares the kernel's
    // left-to-right accumulation), and the plan must never contain a
    // cartesian or nested-loop join at any corpus size.
    val routedDf = operators.TextQueries.dedupEmbeddingCosine(spark, sf, maxBroadcast = 0L)
    val plan = routedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"routed path must stay equi-join only:\n$plan")
    val exact = operators.TextQueries.dedupEmbeddingCosine(spark, sf, maxBroadcast = Long.MaxValue)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val routed = routedDf.as[(Long, Long, Double)].collect()
    assert(exact.nonEmpty && routed.nonEmpty)
    for ((v1, v2, d) <- routed) {
      assert(exact.get((v1, v2)).contains(d),
        s"routed pair ($v1,$v2,$d) not bit-identical to exact ${exact.get((v1, v2))}")
    }
  }

  test("embedding-cosine routed path finds every planted near-dup") {
    // Near-dup REGIME recall: 40 seeded unit vectors, each with a planted
    // ~0.9999-cosine twin (ε=0.01 perturbation). Per-hyperplane sign-agree
    // probability ≈ 1 − acos(.9999)/π ≈ 0.9955 ⇒ per-band ≥ 0.97,
    // 4 bands ⇒ miss odds < 1e-6 per pair — and the splitmix weights are
    // literals, so the outcome is fully deterministic.
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 40).flatMap { i =>
      val base = unit()
      val eps = unit()
      val twin = base.zip(eps).map { case (b, e) => b + 0.01f * e }
      val tn = math.sqrt(twin.map(x => x.toDouble * x).sum)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin.map(x => (x / tn).toFloat)))
    }
    val dir = java.nio.file.Files.createTempDirectory("planted_emb").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val routed = operators.TextQueries.dedupEmbeddingCosine(spark, dir, maxBroadcast = 0L)
      .as[(Long, Long, Double)].collect()
    val found = routed.collect { case (v1, v2, _) if v2 == v1 + 1 && v1 % 2 == 0 => v1 }.toSet
    assert(found === (0 until 40).map(_.toLong * 2).toSet,
      s"missing planted twins: ${(0 until 40).map(_.toLong * 2).toSet -- found}")
  }

  test("incremental dedup classifies every planted re-crawl class exactly") {
    val got = operators.TextQueries.dedupIncrementalExact(spark, sf)
      .as[(Long, String)].collect().toMap
    val ids = Tables.t(spark, sf, "documents").select("doc_id").as[Long].collect()
    val batchOrig = ids.filter(_ % 3 == 0).toSet
    val idxCopies = ids.filter(_ % 21 == 1).map(i => -i - 1).toSet
    val batchCopies = ids.filter(_ % 21 == 3).map(i => -i - 2).toSet
    assert(got.keySet === batchOrig ++ idxCopies ++ batchCopies)
    // copies of indexed content → dup_of_index, always
    for (id <- idxCopies) assert(got(id) === "dup_of_index", s"$id")
    // in-batch copy pairs: the negative mirror holds the min id (unique),
    // the original positive id is the redundant one (dup_in_batch)
    for (id <- ids.filter(_ % 21 == 3)) assert(got(id) === "dup_in_batch", s"$id")
    for (id <- batchCopies) assert(got(id) === "unique", s"$id")
    for (id <- batchOrig -- ids.filter(_ % 21 == 3)) assert(got(id) === "unique", s"$id")
  }

  test("bloom gate: zero false negatives, designed FP rate, broadcast filter probe") {
    val df = operators.SketchQueries.dataBloomGate(spark, sf)
    val rows = df.as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    // the Bloom guarantee: every actual member passes
    assert(rows.filter(_._3).forall(_._2), "false negative: member failed the bloom")
    val nonMembers = rows.filter(!_._3)
    assert(nonMembers.nonEmpty, "probe side must exceed the member set")
    val fp = nonMembers.count(_._2).toDouble / nonMembers.length
    assert(fp < 0.05, s"false-positive rate $fp too high for ~13% fill, k=3")
    // the 2048-word filter must reach the probe as a broadcast, never a shuffle
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "bloom filter side lost its broadcast")
  }

  test("bpe_encode: greedy lowest-rank merges, word-bounded, codegen-consistent") {
    import graft.functions.BpeEncode
    // "the": t+h (rank 0) fuses first -> th, then th+e (rank 10) -> the(266)
    assert(BpeEncode.encode("the".getBytes("UTF-8")).toSeq === Seq(266))
    // "then": th+e (rank 10) beats e+n (rank 7)? No — e+n has LOWER rank
    // (7 < 10): t+h(0) first -> [th,e,n]; then en(263) not applicable to
    // [th,e,n]? e+n IS adjacent -> rank 7 fuses before th+e ->
    // [th, en] = [256, 263]
    assert(BpeEncode.encode("then".getBytes("UTF-8")).toSeq === Seq(256, 263))
    // merges never cross the space; space stays byte 32
    assert(BpeEncode.encode("t h".getBytes("UTF-8")).toSeq === Seq(116, 32, 104))
    // unknown bytes pass through as base ids
    assert(BpeEncode.encode("zq".getBytes("UTF-8")).toSeq === Seq(122, 113))
    // Expression path (whole-stage codegen) agrees with the static kernel
    SketchQueries.register(spark)
    val got = Seq((1L, "the then t h zq"), (2L, ""))
      .toDF("id", "s")
      .selectExpr("id", "bpe_encode(s) AS ids")
    val kernel = Seq((1L, "the then t h zq"), (2L, ""))
      .map { case (i, s) => (i, BpeEncode.encode(s.getBytes("UTF-8")).toSeq) }
    assert(got.as[(Long, Seq[Int])].collect().toSeq.sortBy(_._1) === kernel)
  }

  test("cdc_chunks: BigInt window-hash reference, edge cases, codegen-consistent") {
    import graft.functions.CdcChunks
    val P = BigInt((1L << 61) - 1)
    def ref(str: String): Seq[Int] = {
      val bs = str.getBytes("UTF-8").map(_ & 0xff)
      if (bs.isEmpty) return Seq.empty
      val ends = (CdcChunks.W to bs.length).filter { e =>
        val h = bs.slice(e - CdcChunks.W, e)
          .foldLeft(BigInt(0))((h, b) => (h * 31 + b) mod P)
        (h % (CdcChunks.Mask + 1)) == 0
      }
      val all = if (ends.nonEmpty && ends.last == bs.length) ends else ends :+ bs.length
      all.zip(0 +: all.init).map { case (e, p) => e - p }
    }
    val samples = Seq("", "short", "x" * 15, "y" * 16,
      (0 until 2000).map(i => ('a' + i % 26).toChar).mkString,
      "Hello wörld ⚡ " * 40)
    for (s <- samples)
      assert(CdcChunks.chunkLengths(s.getBytes("UTF-8")).toSeq === ref(s), s"for len ${s.length}")
    // chunk lengths always sum to the byte length, all positive
    for (s <- samples if s.nonEmpty) {
      val cl = CdcChunks.chunkLengths(s.getBytes("UTF-8"))
      assert(cl.sum === s.getBytes("UTF-8").length)
      assert(cl.forall(_ > 0))
    }
    // content-defined stability: two docs sharing a long suffix share
    // their trailing chunks (the property fixed-size blocking lacks)
    // periodic content (e.g. 'abcabc…') cycles through too few window
    // hashes to ever hit a boundary — use seeded-random content instead
    val rnd = new scala.util.Random(42)
    val shared = (0 until 600).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val c1 = CdcChunks.chunkLengths(("PREFIX ONE " + shared).getBytes("UTF-8")).toSeq
    val c2 = CdcChunks.chunkLengths(("totally different and longer prologue " + shared).getBytes("UTF-8")).toSeq
    val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.length
    assert(common >= 2, s"common trailing chunks: $common ($c1 vs $c2)")
    // Expression path agrees with the kernel, codegen and interpreted
    SketchQueries.register(spark)
    val df = Seq("alpha beta gamma " * 10, "").toDF("text")
    val viaSql = df.selectExpr("cdc_chunks(text) AS ls").as[Seq[Int]].collect()
    assert(viaSql.toSeq === Seq(ref("alpha beta gamma " * 10), Seq.empty))
    withConfs("spark.sql.codegen.wholeStage" -> "false") {
      assert(df.selectExpr("cdc_chunks(text) AS ls").as[Seq[Int]].collect().toSeq === viaSql.toSeq)
    }
  }

  test("knn graph: <=5 neighbors per vector, dot descending, symmetric candidates") {
    val g = SketchQueries.simKnnGraph(spark, sf)
      .select("qid", "vec_id", "dot", "rank").as[(Long, Long, Double, Long)].collect()
    assert(g.nonEmpty)
    val byQ = g.groupBy(_._1)
    assert(byQ.values.forall(_.length <= 5))
    for ((_, rows) <- byQ) {
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      assert(sorted.map(_._4).toSeq === (1L to sorted.length))
    }
    assert(g.forall(r => r._1 != r._2)) // no self edges
  }

  test("knn graph bucket cap excludes a degenerate all-identical corpus") {
    import org.apache.spark.sql.SaveMode
    // 4200 identical vectors collapse into ONE bucket above the 4096 cap
    // → every vector is excluded and the graph is empty (bounded work),
    // while a small corpus below the cap still yields neighbors.
    val vec = Array.fill(64)(1.0f)
    val big = spark.range(4200).select(col("id").as("vec_id"),
      typedLit(vec).as("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("knncap").toString
    big.write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")
    assert(SketchQueries.simKnnGraph(spark, tmp).count() === 0)
    val small = spark.range(40).select(col("id").as("vec_id"),
      typedLit(vec).as("embedding"))
    val tmp2 = java.nio.file.Files.createTempDirectory("knncap2").toString
    small.write.mode(SaveMode.Overwrite).parquet(s"$tmp2/embeddings.parquet")
    assert(SketchQueries.simKnnGraph(spark, tmp2).count() > 0)
  }

  test("winnowing: shared >=6-token run guarantees a shared fingerprint") {
    // the winnowing property: window w=4 over k=3 shingles ⇒ any common
    // substring of w+k-1 = 6 tokens shares at least one selected min.
    import org.apache.spark.sql.SaveMode
    // run length = EXACTLY w+k-1 = 6 tokens: the minimal boundary the
    // guarantee covers (a longer run would mask warm-up off-by-ones)
    val run = "quick brown foxes jump over lazy"
    val docs = Seq(
      (0L, s"alpha beta $run gamma delta epsilon"),
      (1L, s"one two three four $run five six"),
      (2L, "totally unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    // the PAIR detector needs ≥2 shared selected fingerprints, so its
    // corpus uses a longer run — kept separate so the 6-token boundary
    // case above stays covered
    val runLong = "quick brown foxes jump over lazy dogs daily here"
    val docsLong = Seq(
      (0L, s"alpha beta $runLong gamma delta epsilon"),
      (1L, s"one two three four $runLong five six"),
      (2L, "totally unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    val tmp2 = java.nio.file.Files.createTempDirectory("winnowpair").toString
    docsLong.write.mode(SaveMode.Overwrite).parquet(s"$tmp2/documents.parquet")
    val pairs = SketchQueries.dedupWinnowPairs(spark, tmp2)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
    val fps = SketchQueries.textWinnowing(spark, tmp)
      .select("doc_id", "n_windows", "n_fp", "fp_xor")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // recompute the full fingerprint SETS via the same pipeline pieces to
    // check overlap (the query returns digests, the property needs sets)
    def fpSet(text: String): Set[Long] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray
      val hs = toks.sliding(3).filter(_.length == 3).map { g =>
        BigInt(java.security.MessageDigest.getInstance("MD5")
          .digest(g.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(15), 16).toLong
      }.toArray
      hs.sliding(4).filter(_.length == 4).map(_.min).toSet
    }
    val s0 = fpSet(s"alpha beta $run gamma delta epsilon")
    val s1 = fpSet(s"one two three four $run five six")
    val s2 = fpSet("totally unrelated words only here nothing shared at all")
    assert((s0 & s1).nonEmpty)   // the guarantee
    assert((s0 & s2).isEmpty)
    // and the query's digests agree with the recomputed sets
    assert(fps(0L)._3 === s0.size)
    assert(fps(0L)._4 === s0.foldLeft(0L)(_ ^ _))
    assert(fps(1L)._3 === s1.size)
    assert(fps(1L)._4 === s1.foldLeft(0L)(_ ^ _))
  }

  test("TopK rerank matches the ROW_NUMBER window, including NaN scores") {
    // Spark's ORDER BY dot DESC ranks NaN first; TopKByScore must impose
    // the same total order (java.lang.Double.compare), not primitive >,
    // or a NaN in a full buffer's tail silently drops later candidates.
    val cands = Seq(
      (1L, 1L, 0.9), (1L, 2L, Double.NaN), (1L, 3L, 0.8), (1L, 4L, 0.95),
      (1L, 5L, 0.7), (1L, 6L, 0.85), (2L, 7L, 0.1), (2L, 8L, 0.3)
    ).toDF("qid", "vec_id", "dot")
    val got = operators.Rerank.topK(cands, 3)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val want = cands.selectExpr("qid", "vec_id",
        "row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rank")
      .filter(col("rank") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(want.contains((1L, 2L, 1L))) // sanity: NaN really ranks first
    assert(got === want)
  }

  test("maxsim: bit-exact Scala replay; local slot match outranks the cosine order") {
    val got = operators.TextQueries.simMaxsimTopk(spark, sf)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap
    val emb = Tables.t(spark, sf, "embeddings")
      .as[(Long, Array[Float], Int)].collect().map(r => r._1 -> r._2)
    def dotSeg(a: Array[Float], b: Array[Float], ai: Int, bj: Int): Double = {
      var s = 0.0; var i = 0
      while (i < 16) { s += a(ai * 16 + i).toDouble * b(bj * 16 + i).toDouble; i += 1 }
      s
    }
    def maxsim(q: Array[Float], d: Array[Float]): Double =
      (0 until 4).map(i => (0 until 4).map(j => dotSeg(q, d, i, j)).max).sum
    val qs = emb.filter(_._1 < 5)
    val ds = emb.filter(_._1 >= 5)
    val expect = qs.flatMap { case (qid, qv) =>
      ds.map { case (did, dv) => (qid, did, maxsim(qv, dv)) }
        .sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
        .map { case ((_, did, sc), i) => (qid, i + 1L) -> ((did, sc)) }
    }.toMap
    assert(got === expect)
    // MaxSim can only gain vs the whole-vector dot (max_j >= the aligned j)
    val ql = qs.toMap; val dl = ds.toMap
    for (((qid, _), (did, sc)) <- got) {
      val whole = (0 until 4).map(i => dotSeg(ql(qid), dl(did), i, i)).sum
      assert(sc >= whole - 1e-9)
    }
  }
}
