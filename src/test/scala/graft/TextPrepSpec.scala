package graft

import graft.operators.TextPrep
import org.apache.spark.sql.functions._

class TextPrepSpec extends SparkSpec {
  import spark.implicits._

  test("salted join audit: identical to the plain join, bounded per-salt load, SMJ plan") {
    val audit = TextPrep.dataSaltedJoinAudit(spark, sf)
    // the mitigation must actually plan the shuffle join it exists for
    // (a broadcast would hide the mechanism the salt rewrites)
    assert(audit.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val rows = audit.select("l_suppkey", "n", "n_rows", "revenue",
        "n_salts", "max_salt_rows")
      .as[(Long, Long, Long, Double, Long, Long)].collect().toSeq
    assert(rows.size === 10)
    // lossless: the salted join reproduces the plain join per heavy key,
    // rows AND payload (revenue through the same decimal lattice)
    val plain = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("pn"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("prev"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (k, n, nRows, rev, nSalts, maxSalt) =>
      assert(nRows === n, s"key $k: salted rows != plain per-key count")
      val (pn, prev) = plain(k)
      assert(nRows === pn, s"key $k")
      assert(rev === prev, s"key $k revenue")
      // the whole point: no salt bucket carries the key's full load
      assert(nSalts >= 2, s"key $k never spread")
      assert(maxSalt <= nRows / 8 * 2 + 8, s"key $k salt bucket too heavy")
    }
  }

  test("curation verdict composes its component gates with correct precedence") {
    import operators.{Graphs, TextRank}
    val v = TextRank.textCurationVerdict(spark, sf)
      .as[(Long, String)].collect().toMap
    val ids = Tables.t(spark, sf, "documents").select("doc_id").as[Long].collect()
    assert(v.keySet === ids.toSet) // exactly one verdict per document
    val cl = Graphs.dedupCluster(spark, sf).as[(Long, Long)].collect().toMap
    val bo = TextRank.dedupRepeatedNgrams(spark, sf)
      .select("doc_id", "n_grams", "n_repeated")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the corpus has no exact text dups, so the first gate never fires
    for ((id, verdict) <- v) {
      val want =
        if (cl.get(id).exists(_ != id)) "near_dup"
        else if (bo.get(id).exists { case (n, r) => r * 2 >= n && n > 0 }) "boilerplate"
        else "keep"
      assert(verdict === want, s"doc $id")
    }
    assert(v.values.exists(_ == "near_dup"), "near-dup gate never fired")
    assert(v.values.count(_ == "keep") > 0)
  }

  test("mixture sample fills every quota with the exact hash-order prefix") {
    import operators.TextPrep
    val got = TextPrep.dataMixtureSample(spark, sf)
      .as[(Long, String, Long)].collect()
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "lang")
      .as[(Long, String)].collect()
    val budget = docs.length.toLong / 2
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"mixs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val byLang = docs.groupBy(_._2)
    for ((lang, w) <- TextPrep.MIX_WEIGHTS) {
      val quota = budget * w / 100
      val ids = byLang.getOrElse(lang, Array.empty).map(_._1)
      val expect = ids.sortBy(id => (h(id), id)).take(quota.toInt)
        .zipWithIndex.map { case (id, i) => (id, lang, i.toLong + 1) }.toSet
      val gotLang = got.filter(_._2 == lang).toSet
      assert(gotLang === expect, s"$lang: quota $quota mismatch")
    }
    // nothing outside the weighted languages leaks in
    assert(got.map(_._2).toSet.subsetOf(TextPrep.MIX_WEIGHTS.map(_._1).toSet))
  }

  test("vocab growth replays Heaps accounting; two-level cum equals one pass") {
    val got = TextPrep.textVocabGrowth(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // Scala replay: first-occurrence accounting over the same tokenizer
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), operators.Shingles.tokens(col("text")).as("ts"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    var (cumTok, cumTyp) = (0L, 0L)
    val expect = docs.map { case (id, ts) =>
      val fresh = ts.filterNot(seen).distinct.length.toLong
      ts.foreach(seen += _)
      cumTok += ts.length; cumTyp += fresh
      (id, ts.length.toLong, fresh, cumTok, cumTyp)
    }
    assert(got.toSeq === expect.toSeq)
    // totals close the books: all tokens, all distinct types
    assert(got.last._4 === docs.map(_._2.length.toLong).sum)
    assert(got.last._5 === docs.flatMap(_._2).distinct.length.toLong)
  }

  test("budget cut: greedy ttr-order prefix, budget respected and tight") {
    val got = TextPrep.dataTokenBudgetCut(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), operators.Shingles.tokens(col("text")).as("ts"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ts) =>
        val ttr = if (ts.nonEmpty) ts.distinct.length.toLong * 1000 / ts.length else 0L
        (id, ttr, ts.length.toLong)
      }
    val budget = docs.map(_._3).sum / 2
    // replay the greedy order and the running totals exactly
    val expect = docs.sortBy(d => (-d._2, d._1))
      .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, ttr, n)) =>
        (id, ttr, n, cum + n) }
      .drop(1).takeWhile(_._4 <= budget)
    assert(got.sortBy(_._4).toSeq === expect.toSeq)
    // the cut is tight: the next doc would overflow the budget
    val next = docs.sortBy(d => (-d._2, d._1)).drop(expect.length).headOption
    next.foreach(n => assert(expect.last._4 + n._3 > budget))
  }

  test("epoch order: every epoch covers the corpus in an independent order") {
    val got = TextPrep.dataEpochOrder(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val docs = Tables.t(spark, sf, "documents").select("doc_id")
      .as[Long].collect().toSet
    val byEpoch = got.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L, 2L))
    for ((_, rows) <- byEpoch) {
      // complete coverage, contiguous positions within every shard
      assert(rows.map(_._2).toSet === docs)
      for ((_, srows) <- rows.groupBy(_._3))
        assert(srows.map(_._4).sorted.toSeq === (1L to srows.length).toSeq)
    }
    // epochs are genuinely different permutations (independent salts)
    def order(e: Long) = byEpoch(e).sortBy(r => (r._3, r._4)).map(_._2).toSeq
    assert(order(0L) !== order(1L))
    assert(order(1L) !== order(2L))
    // re-running is byte-identical (retry stability)
    val again = TextPrep.dataEpochOrder(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(again.toSet === got.toSet)
  }

  test("source overlap recomputes from per-source fingerprint sets") {
    import operators.TextQueries
    val got = TextQueries.textSourceOverlap(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val sets = TextQueries.textChunkWindows(spark, sf)
      .join(Tables.t(spark, sf, "documents").select("doc_id", "source"), "doc_id")
      .select(col("source"), col("chunk_hash52"))
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).toSet }
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      shared = (sa intersect sb).size.toLong if shared > 0
    } yield (a, b) -> ((shared, sa.size.toLong, shared * 1000 / sa.size))).toMap
    assert(got.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap === expect)
    // directionality: a bigger set sharing the same chunks dilutes less
    assert(got.forall(r => r._5 >= 0 && r._5 <= 1000))
  }

  test("dedup impact: victims are exactly the fuzzy pairs' greater sides") {
    val got = TextPrep.dataDedupImpact(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val victims = operators.TextQueries.dedupFuzzyMatch(spark, sf)
      .select("doc_b").as[Long].collect().toSet
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(operators.Shingles.tokens(col("text"))).cast("long").as("n"))
      .as[(Long, String, Long)].collect()
    assert(got.map(_._2).sum === docs.length.toLong)
    assert(got.map(_._3).sum === victims.size.toLong)
    for ((src, nDocs, nDrop, nToks, toksDrop, milli) <- got) {
      val mine = docs.filter(_._2 == src)
      assert(nDocs === mine.length.toLong)
      assert(nDrop === mine.count(d => victims(d._1)).toLong)
      assert(nToks === mine.map(_._3).sum)
      assert(toksDrop === mine.filter(d => victims(d._1)).map(_._3).sum)
      assert(milli === nDrop * 1000 / nDocs)
    }
  }

  test("quota sample: largest-remainder seats sum to K and fill in hash order") {
    val got = TextPrep.dataQuotaSample(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    // sf0.001: 20 sources × 25 docs, K = 97 → base 4 each (80 seats), the
    // 17 leftovers land on the 17 lexicographically-smallest sources
    // (uniform remainders tie) — picked rows must total exactly K
    assert(got.length === 97)
    val quotas = got.groupBy(_._1).map { case (src, rows) =>
      assert(rows.map(_._2).distinct.length === 1, s"$src quota not constant")
      assert(rows.length.toLong === rows.head._2, s"$src under-filled")
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq)
      src -> rows.head._2
    }
    assert(quotas.values.sum === 97L)
    assert(quotas.values.toSeq.sorted === (Seq.fill(3)(4L) ++ Seq.fill(17)(5L)))
    val bumped = quotas.filter(_._2 == 5L).keys.toSeq.sorted
    assert(bumped === quotas.keys.toSeq.sorted.take(17))
    // per-source fill is the md5('qs:'||id) prefix of that source's docs
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "source")
      .as[(Long, String)].collect()
    def h(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"qs:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    for ((src, rows) <- got.groupBy(_._1)) {
      val expect = docs.filter(_._2 == src).map(_._1)
        .sortBy(id => (h(id), id)).take(rows.length).toSet
      assert(rows.map(_._3).toSet === expect, s"$src fill order")
    }
  }

  test("quota sample under-fills gracefully when a source is smaller than its seats") {
    import org.apache.spark.sql.SaveMode
    val tmp = java.nio.file.Files.createTempDirectory("quota").toString
    // K=97 over N=10 docs: every source's quota exceeds its size → the
    // sample returns all rows, quota column still carries the allocation
    val docs = (1L to 6L).map(i => (i, s"a$i", "srcA")) ++
      (7L to 9L).map(i => (i, s"b$i", "srcB")) ++ Seq((10L, "c", "srcC"))
    docs.toDF("doc_id", "text", "source")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = TextPrep.dataQuotaSample(spark, tmp)
      .as[(String, Long, Long, Long)].collect()
    val bySrc = got.groupBy(_._1).map { case (s, r) => s -> (r.head._2, r.length) }
    // base: 58/29/9 (sum 96); remainders 2/1/7 → srcC takes the last seat
    assert(bySrc === Map("srcA" -> ((58L, 6)), "srcB" -> ((29L, 3)),
      "srcC" -> ((10L, 1))))
  }

  test("surprisal equals an exact-integer replay over the token stream") {
    import operators.TextRank
    val got = TextRank.textSurprisal(spark, sf)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val toks = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .as[(Long, String)].collect()
    val n = toks.length.toLong
    val counts = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def bits(c: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n / c)
    val expect = toks.groupBy(_._1).view.mapValues { ws =>
      val total = ws.map(w => bits(counts(w._2))).sum
      (ws.length.toLong, total, total * 1000 / ws.length)
    }.toMap
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("paragraph dedup finds exactly the planted footer variants") {
    import operators.TextRank
    val got = TextRank.dedupParagraphs(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    // expected: %5 docs grouped by their %17 footer variant, groups >= 2
    val planted = Tables.t(spark, sf, "documents").select("doc_id").as[Long].collect()
      .filter(_ % 5 == 0).groupBy(_ % 17).filter(_._2.length >= 2)
    assert(got.length === planted.size, s"got ${got.length} groups, planted ${planted.size}")
    val byVariant = got.map(r => r._4 % 17 -> (r._2, r._3, r._4)).toMap
    for ((variant, ids) <- planted) {
      val (nOcc, nDocs, first) = byVariant(variant)
      assert(nOcc === ids.length.toLong && nDocs === ids.distinct.length.toLong)
      assert(first === ids.min)
    }
  }

  test("compaction planner equals a sequential replay; cumsum is two-level, not one task") {
    val df = TextPrep.dataCompactFiles(spark, sf)
    val got = df.as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // bins must equal the sequential exclusive-cumsum replay exactly
    var cum = 0L
    val expect = got.map { case (id, b, _) =>
      val bin = cum / TextPrep.COMPACT_TARGET_BYTES; cum += b; (id, b, bin)
    }
    assert(got.toSeq === expect.toSeq)
    // the full-corpus window must ride the bucket partitioning (the only
    // globally-ordered window is over <= COMPACT_BUCKETS offset rows)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bkt"),
      s"per-bucket cumsum window lost its bucket partitioning:\n$plan")
  }

  test("sequence packing: budget respected, every doc exactly once, stable") {
    val packed = TextPrep.dataPackSequences(spark, sf)
      .as[(Long, Long, Long, Long)].collect()

    // every document appears exactly once
    val docs = Tables.t(spark, sf, "documents").select("doc_id").as[Long].collect()
    assert(packed.map(_._2).sorted.toSeq === docs.sorted.toSeq)

    // no example exceeds the budget unless it is a single oversized doc
    val byExample = packed.groupBy(r => (r._1, r._4))
    for (((b, ex), rows) <- byExample) {
      val total = rows.map(_._3).sum
      assert(total <= TextPrep.PACK_BUDGET || rows.length == 1,
        s"bucket $b example $ex: $total tokens across ${rows.length} docs")
    }

    // greedy tightness: an example (other than the last of its bucket)
    // could not have absorbed the next example's first doc
    for ((b, rows) <- packed.groupBy(_._1)) {
      val exs = rows.groupBy(_._4).toSeq.sortBy(_._1)
      for (Seq((_, cur), (_, nxt)) <- exs.sliding(2)) {
        val curTotal = cur.map(_._3).sum
        val nextFirst = nxt.minBy(_._2)._3
        assert(curTotal + nextFirst > TextPrep.PACK_BUDGET,
          s"bucket $b: example could still fit the next doc (not greedy)")
      }
    }

    // deterministic under re-execution
    val again = TextPrep.dataPackSequences(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._2).toSeq === packed.sortBy(_._2).toSeq)
  }

  test("sequence packing property: random sizes incl. oversized/empty docs") {
    val rnd = new scala.util.Random(11)
    val budget = 100L
    // sizes span empty, tiny, near-budget, and over-budget docs
    val rows = (0L until 400L).map { id =>
      val tok = rnd.nextInt(4) match {
        case 0 => 0L
        case 1 => rnd.nextInt(20).toLong
        case 2 => 80L + rnd.nextInt(40)
        case _ => budget + 1 + rnd.nextInt(50)
      }
      (id % 7, id, tok)
    }
    val packed = TextPrep.packTokenRows(rows.toDF("bucket", "doc_id", "n_tokens"), budget)
      .as[(Long, Long, Long, Long)].collect()
    assert(packed.map(_._2).sorted.toSeq === rows.map(_._2).sorted)
    for (((b, ex), grp) <- packed.groupBy(r => (r._1, r._4))) {
      val total = grp.map(_._3).sum
      assert(total <= budget || grp.length == 1,
        s"bucket $b example $ex overflows with ${grp.length} docs / $total tokens")
      // an oversized doc is always alone in its example
      if (grp.exists(_._3 > budget))
        assert(grp.length == 1, s"oversized doc co-packed in bucket $b example $ex")
    }
    // replay the sequential reference walk per bucket
    val expect = rows.groupBy(_._1).flatMap { case (b, rs) =>
      var acc = -1L; var ex = 0L
      rs.sortBy(_._2).map { case (_, id, tok) =>
        if (acc < 0) { acc = tok }
        else if (acc + tok > budget) { ex += 1; acc = tok }
        else acc += tok
        (b, id, tok, ex)
      }
    }.toSeq.sortBy(_._2)
    assert(packed.sortBy(_._2).toSeq === expect)
  }

  test("text_rarity: exact-duplicate docs share tokens, hapax drops to zero") {
    val docs = Seq(
      (1L, "aardvark zyzzyva qoph xylem"), // all hapax vs doc 3's words
      (2L, "aardvark zyzzyva qoph xylem"), // duplicate of 1 → nothing hapax
      (3L, "unique singleton words here")).toDF("doc_id", "text")
    // route through a temp dir-less path: call the internals directly
    val toks = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val scored = toks.join(freq, Seq("w")).groupBy("doc_id")
      .agg((sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double") / count(lit(1)))
        .as("hapax_frac"))
      .as[(Long, Double)].collect().toMap
    assert(scored(1L) === 0.0) // every token also in doc 2
    assert(scored(2L) === 0.0)
    assert(scored(3L) === 1.0) // every token unique to doc 3
  }

  test("repeated-ngrams: duplicated docs score 1.0, unique docs score 0.0") {
    import org.apache.spark.sql.SaveMode
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "completely unique words nowhere else repeated in corpus")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("repng").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextRank.dedupRepeatedNgrams(spark, tmp)
      .select("doc_id", "boiler_frac").as[(Long, Double)].collect().toMap
    assert(got(1L) === 1.0)
    assert(got(2L) === 1.0)
    assert(got(3L) === 0.0)
  }

  test("count-min sketch: estimates dominate true counts (one-sided error)") {
    val rows = operators.TextRank.freqCountMin(spark, sf)
      .select("tok", "true_n", "est_n").as[(String, Long, Long)].collect()
    assert(rows.length === 20)
    assert(rows.forall { case (_, t, e) => e >= t }) // CM never underestimates
    // the heavy hitters are genuinely heavy: estimates within 2x of truth
    // for the top-20 of this corpus (width 64 vs ~2k vocab)
    assert(rows.count { case (_, t, e) => e < 2 * t } >= 15)
  }

  test("occurrence-direct count-min build matches the weighted build, one shuffle") {
    import operators.TextRank
    val toks = Tables.t(spark, sf, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
    val direct = TextRank.cmSketchDirect(toks)
    // production shape: a single partial-aggregated exchange, no vocab agg
    val plan = direct.queryExecution.executedPlan.toString
    val nEx = "(?m)^\\s*[+:*-]*\\s*\\(?\\d*\\)?\\s*Exchange ".r.findAllIn(plan).size
    assert(nEx === 1, s"direct CM build should shuffle once, saw $nEx:\n$plan")
    // cell-for-cell identical to the vocab-weighted comparator build
    val weighted = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .select(col("tok"), col("n"), explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("r"),
        expr("pmod(cast(conv(substring(md5(cast(concat(cast(r as string), ':', tok) as binary)), 1, 15), 16, 10) as bigint), 64)").as("bucket"),
        col("n"))
      .groupBy("r", "bucket").agg(sum("n").as("cell"))
    val d = direct.as[(Int, Long, Long)].collect().toSet
    val w = weighted.as[(Int, Long, Long)].collect().toSet
    assert(d === w)
  }

  test("shuffle shards: size-derived shard count, dense positions, conf override") {
    val n = Tables.t(spark, sf, "documents").count()
    val expected = math.max(1L, (n + TextPrep.SHARD_TARGET_DOCS - 1) / TextPrep.SHARD_TARGET_DOCS)
    val out = TextPrep.dataShuffleShards(spark, sf)
    assert(out.queryExecution.executedPlan.toString.contains("hashpartitioning(shard"),
      "shard exchange must partition on the derived shard id")
    val rows = out.as[(Long, Long, Long)].collect()
    assert(rows.length.toLong === n) // every doc exactly once
    assert(rows.forall { case (_, sh, _) => sh >= 0 && sh < expected })
    // positions are a dense 1..k within each shard (byte-identical shards)
    for ((sh, g) <- rows.groupBy(_._2))
      assert(g.map(_._3).sorted.toSeq === (1L to g.length.toLong),
        s"shard $sh positions not dense")
    // non-default shard count via the production knob: same invariants
    withConfs("graft.shuffle.shards" -> "13") {
      val o = TextPrep.dataShuffleShards(spark, sf).as[(Long, Long, Long)].collect()
      assert(o.length.toLong === n)
      assert(o.forall { case (_, sh, _) => sh >= 0 && sh < 13 })
      for ((sh, g) <- o.groupBy(_._2))
        assert(g.map(_._3).sorted.toSeq === (1L to g.length.toLong),
          s"override shard $sh positions not dense")
    }
  }

  test("shard count keeps scaling on a 20k-doc corpus (derived parallelism)") {
    import org.apache.spark.sql.SaveMode
    // 20k docs → ceil(20000/64) = 313 shards: the derived-parallelism
    // path well beyond the sf defaults, asserting the grid keeps pace
    // with corpus growth instead of saturating at a constant
    val docs = (0L until 20000L).map(i => (i, s"doc $i body"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("shardscale").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val out = TextPrep.dataShuffleShards(spark, tmp)
    val expected = (20000L + TextPrep.SHARD_TARGET_DOCS - 1) / TextPrep.SHARD_TARGET_DOCS
    assert(expected === 313L)
    val dist = out.groupBy("shard").count()
    assert(dist.count() === expected) // every shard occupied at this density
    assert(out.agg(max("shard")).as[Long].head() === expected - 1)
    assert(out.count() === 20000L)
  }

  test("tfidf keywords: ubiquitous terms never surface, rare terms rank by tf") {
    import org.apache.spark.sql.SaveMode
    // "the" in all 4 docs -> idf 0 (excluded); "zebra" df 1 -> idf 2;
    // "yak" df 2 -> idf 1
    val docs = Seq(
      (1L, "the zebra zebra yak"), (2L, "the yak"),
      (3L, "the"), (4L, "the")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextRank.textKeywordTfidf(spark, tmp)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._6).toSeq).toMap
    assert(got(1L) === Seq((1L, "zebra", 2L, 2L, 4L, 1L), (1L, "yak", 1L, 1L, 1L, 2L)))
    assert(got(2L) === Seq((2L, "yak", 1L, 1L, 1L, 1L)))
    assert(!got.contains(3L) && !got.contains(4L)) // only zero-idf terms
  }

  test("doc prefix dedup: same first-12-token template groups; divergent tails don't split it") {
    import org.apache.spark.sql.SaveMode
    // exactly 12 shared tokens — the 13th diverges and must not matter
    val head = "creative commons license applies to this mirrored page content follows right now"
    // token-free docs (punctuation-only, NULL) must be fenced out, never
    // grouped as a fake shared template (the concat_ws-vs-NULL landmine)
    val docs = Seq(
      (10L, s"$head alpha beta gamma"),
      (7L, s"$head totally different tail text here"),
      (3L, "a short unique document"),
      (4L, "another unique one"),
      (5L, "!!! ### ..."),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("prefix").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextQueries.dedupDocPrefix(spark, tmp)
      .as[(String, Long, Long)].collect()
    assert(got.length === 1)
    assert(got.head._2 === 2L && got.head._3 === 7L) // min doc_id is canonical
  }

  test("freq spectrum: planted frequencies land in their exact log2 bins") {
    import org.apache.spark.sql.SaveMode
    // a,b,c,d once (bin 0), e twice (bin 1), f four times (bin 2)
    val docs = Seq((1L, "a b c d e f f"), (2L, "e f f")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("spectrum").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextPrep.textFreqSpectrum(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(0L -> ((4L, 4L)), 1L -> ((1L, 2L)), 2L -> ((1L, 4L))))
  }

  test("bigram surprisal: perfectly periodic text scores 0, branching context pays") {
    import org.apache.spark.sql.SaveMode
    // d1: every context has ONE continuation -> 0 bits everywhere
    // d2: context 'a' branches to b/c (c1=2, c2=1 -> 1 bit each);
    //     (b,a) is b's only continuation -> 0 bits
    val docs = Seq(
      (1L, "x y x y x y x y x"),
      (2L, "a b a c")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bigram").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextRank.textBigramSurprisal(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 8L, 0L, 0L)))
    assert(got(2L) === ((2L, 3L, 2L, 666L)))
  }

  test("fk audit: clean star schema reads zero; planted orphans are counted") {
    import org.apache.spark.sql.SaveMode
    val clean = operators.Records.metaFkAudit(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(clean.length === 4)
    assert(clean.forall(r => r._4 === 0L && r._5 === 0L)) // no orphans in testdata
    assert(clean.forall(_._3 > 0L))
    // planted: 2 lineitem rows point at a part that does not exist,
    // 1 order at a ghost customer
    val tmp = java.nio.file.Files.createTempDirectory("fk").toString
    Seq((1L, 10L, 100L), (2L, 999L, 100L), (3L, 999L, 101L), (4L, 11L, 102L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/lineitem.parquet")
    Seq(Tuple1(10L), Tuple1(11L)).toDF("p_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/part.parquet")
    Seq(Tuple1(100L), Tuple1(101L), Tuple1(102L)).toDF("s_suppkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/supplier.parquet")
    Seq((1L, 7L), (2L, 7L), (3L, 8L), (4L, 9L)).toDF("o_orderkey", "o_custkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/orders.parquet")
    Seq(Tuple1(7L), Tuple1(8L)).toDF("c_custkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/customer.parquet")
    val planted = operators.Records.metaFkAudit(spark, tmp)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(planted("l_partkey") === (("lineitem", "l_partkey", 4L, 2L, 1L)))
    assert(planted("l_suppkey") === (("lineitem", "l_suppkey", 4L, 0L, 0L)))
    assert(planted("l_orderkey") === (("lineitem", "l_orderkey", 4L, 0L, 0L)))
    assert(planted("o_custkey") === (("orders", "o_custkey", 4L, 1L, 1L)))
  }

  test("text_diversity: 0 for a single repeated token, 1 - 1/n for all-distinct") {
    import org.apache.spark.sql.SaveMode
    val docs = Seq(
      (1L, "spam spam spam spam"),           // N=4, one type  → simpson 0
      (2L, "alpha beta gamma delta epsilon") // N=5, all types → 1 - 1/5
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("diversity").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextQueries.textDiversity(spark, tmp)
      .select("doc_id", "n_tokens", "n_types", "simpson")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 1L, 0.0)))
    assert(got(2L) === ((2L, 5L, 5L, 0.8)))
  }

  test("data_skyline: output is exactly the non-dominated set under brute force") {
    val docs = operators.TextQueries.textQuality(spark, sf)
      .filter(col("n_tokens") > 0)
      .selectExpr("doc_id", "n_tokens",
        "least(n_tokens, 100) * 10 * n_distinct div n_tokens as q")
      .as[(Long, Long, Long)].collect()
    def dominated(d: (Long, Long, Long)) = docs.exists(o =>
      o._2 >= d._2 && o._3 >= d._3 && (o._2 > d._2 || o._3 > d._3))
    val expect = docs.filterNot(dominated).map(d => (d._1, d._2, d._3)).toSet
    val got = operators.TextQueries.dataSkyline(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got === expect)
  }

  test("data_skyline: hand-built frontier keeps ties, drops equal-on-one-axis losers") {
    import org.apache.spark.sql.SaveMode
    // token counts 1..4 via distinct words; q = 10*nt*nd/nt = 10*nd (nt<100)
    val docs = Seq(
      (1L, "a b c d"),      // nt=4 nd=4 q=40  — frontier (max nt, max q)
      (2L, "a b c c"),      // nt=4 nd=3 q=30  — dominated by 1 (same nt, lower q)
      (3L, "a b c"),        // nt=3 nd=3 q=1000*3*10*3/3... recompute below
      (4L, "a b c d".toUpperCase) // same as 1 after lower() — tie, BOTH kept
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("skyline").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextQueries.dataSkyline(spark, tmp)
      .as[(Long, Long, Long)].collect().toSet
    // q(1)=q(4)=least(4,100)*10*4 div 4=40; q(3)=30 with nt=3 < 4 → dominated
    assert(got === Set((1L, 4L, 40L), (4L, 4L, 40L)))
  }

  test("bin packing replays driver LPT striping; loads stay near ideal") {
    val docs = operators.TextQueries.textQuality(spark, sf)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect()
    val expect = docs.sortBy { case (id, nt) => (-nt, id) }.zipWithIndex
      .map { case ((_, nt), i) => (i % 8).toLong -> nt }
      .groupBy(_._1).map { case (s, g) =>
        s -> ((g.length.toLong, g.map(_._2).sum))
      }
    val total = docs.map(_._2).sum
    val got = operators.TextPrep.dataBinPacking(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 8)
    for ((shard, nDocs, load, milli) <- got) {
      assert((nDocs, load) === expect(shard))
      assert(milli === load * 1000 / (total / 8))
      // striped LPT keeps every shard within 2% of ideal on this corpus
      assert(milli >= 980 && milli <= 1020, s"shard $shard at $milli")
    }
  }

  test("span corruption: window plan replays exactly, spans never overlap, ratio near 3/16") {
    import spark.implicits._
    val nTok = graft.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id",
        "cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint) as n")
      .as[(Long, Long)].collect().toMap
    def h60(salt: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(salt.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val got = operators.TextPrep.dataSpanCorruption(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val expect = nTok.toSeq.filter(_._2 > 0).flatMap { case (doc, n) =>
      (0L until (n + 7) / 8).flatMap { w =>
        val h = h60(s"span:$doc:$w")
        val len = h % 4
        val start = w * 8 + (h / 4) % (9 - len)
        if (len > 0 && start + len <= n) Some((doc, n, w, start, len))
        else None
      }
    }.toSet
    assert(got.toSet === expect)
    // spans are window-confined, so they can never overlap
    for ((_, rows) <- got.groupBy(_._1)) {
      val sorted = rows.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 <= b._4)
        case _ =>
      }
      rows.foreach { r =>
        assert(r._4 >= r._3 * 8 && r._4 + r._5 <= r._3 * 8 + 8)
      }
    }
    // corpus mask ratio lands near the designed E[len]/8 = 3/16
    val masked = got.map(_._5).sum.toDouble
    val toks = nTok.values.sum.toDouble
    assert(masked / toks > 0.12 && masked / toks < 0.25)
  }

  test("importance sample: hash-threshold acceptance replays exactly, rates track weights") {
    import spark.implicits._
    val docs = graft.Tables.t(spark, sf, "documents")
      .selectExpr("doc_id", "source", "n_chars")
      .as[(Long, String, Long)].collect()
    def w(nc: Long): Long =
      if (nc >= 200 && nc <= 450) 8L else if (nc >= 100 && nc <= 520) 4L else 1L
    val expect = docs.groupBy(d => (d._2, w(d._3))).map { case ((src, wt), g) =>
      val acc = g.filter(d =>
        graft.functions.Md5Prefix.hash60("imps:", d._1) < wt * (1L << 56))
      (src, wt) -> ((g.length.toLong, acc.length.toLong,
        if (acc.isEmpty) -1L else acc.map(_._1).min))
    }
    val got = operators.TextPrep.dataImportanceSample(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === expect.keySet)
    for ((src, wt, nTot, nSamp, expM, actM, firstDoc) <- got) {
      val (eTot, eSamp, eFirst) = expect((src, wt))
      assert(nTot === eTot); assert(nSamp === eSamp)
      assert(firstDoc === eFirst)
      assert(expM === wt * 1000 / 16)
      assert(actM === nSamp * 1000 / nTot)
    }
    // the sampler samples: every weight class accepts something overall,
    // and pooled accept rates order by weight
    val byW = got.groupBy(_._2).map { case (wt, g) =>
      wt -> (g.map(_._4).sum * 1000 / g.map(_._3).sum)
    }
    assert(byW.keySet === Set(1L, 4L, 8L))
    assert(byW(1L) < byW(4L) && byW(4L) < byW(8L))
    assert(got.map(_._4).sum > 0)
  }

  test("ks drift replays the milli-ECDF sup norm by hand over the hash split") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (_, text) =>
        val nt = "[a-z0-9]+".r.findAllIn(text.toLowerCase).length.toLong
        (md5hex(text).head <= 'd', nt)
      }
    val n1 = docs.count(_._1).toLong
    val n2 = docs.length - n1
    val expect = docs.map(_._2).distinct.sorted.map { t =>
      val e1 = docs.count(d => d._1 && d._2 <= t).toLong * 1000 / n1
      val e2 = docs.count(d => !d._1 && d._2 <= t).toLong * 1000 / n2
      (math.abs(e1 - e2), t)
    }
    val best = expect.maxBy(r => (r._1, -r._2))
    val Array((gn1, gn2, ks, at)) = operators.TextPrep.dataKsDrift(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert((gn1, gn2) === ((n1, n2)))
    assert(ks === best._1)
    assert(at === expect.filter(_._1 == best._1).map(_._2).min)
  }

  test("rater kappa replays the agreement table by hand; perfect raters give kappa 1000") {
    val docs = operators.TextQueries.textQuality(spark, sf)
      .filter(col("n_tokens") > 0)
      .select("n_tokens", "n_distinct").as[(Long, Long)].collect()
    val cells = docs.map { case (nt, nd) =>
      (if (nt >= 40) 1 else 0, if (nd * 1000 / nt >= 460) 1 else 0)
    }
    val n = cells.length.toLong
    def cnt(a: Int, b: Int) = cells.count(c => c._1 == a && c._2 == b).toLong
    val (n11, n10, n01, n00) = (cnt(1, 1), cnt(1, 0), cnt(0, 1), cnt(0, 0))
    val po = (n11 + n00) * 1000 / n
    val pe = ((n11 + n10) * 1000 / n) * ((n11 + n01) * 1000 / n) / 1000 +
      ((n01 + n00) * 1000 / n) * ((n10 + n00) * 1000 / n) / 1000
    val kap = (po - pe) * 1000 / (1000 - pe)
    val Array(got) = operators.TextQueries.dataRaterKappa(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got === ((n, n11, n10, n01, n00, po, pe, kap)))
    // kappa is a CHANCE-CORRECTED score: two raters that always agree hit
    // exactly 1000 regardless of class balance
    assert((1000L - 600L) * 1000 / (1000 - 600) === 1000L)
  }

  test("join size estimate: exact by hand, bucket estimates bound it monotonically") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("cast(o_orderdate as string) as k")
      .groupBy("k").count().as[(String, Long)].collect().toMap
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("cast(l_shipdate as string) as k")
      .groupBy("k").count().as[(String, Long)].collect().toMap
    val shared = o.keySet.intersect(l.keySet)
    val exact = shared.toSeq.map(k => o(k) * l(k)).sum
    val Array((nk, ep, e256, e4096, i256, i4096)) =
      operators.Records.metaJoinSizeEstimate(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(nk === shared.size)
    assert(ep === exact)
    // collision inflation only ever ADDS mass, and resolution removes it
    assert(e4096 >= ep && e256 >= e4096)
    assert(i256 === e256 * 1000 / ep && i4096 === e4096 * 1000 / ep)
  }

  /** Hand-rolled symbol-array BPE reference: count all adjacent pairs
    * (sequence-overlapping duplicates included) weighted by word freq,
    * pick (count DESC, left ASC, right ASC), merge left-to-right
    * non-overlapping, repeat. No string encoding anywhere — if the
    * operator's two-space replace() trick deviates from true
    * symbol-array semantics, this catches it. */
  private def referenceBpe(words: Seq[(String, Long)], rounds: Int)
      : Seq[(Long, String, String, Long)] = {
    var vocab = words.map { case (w, f) => (w.map(_.toString).toList, f) }
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; Seq(a, b) <- syms.sliding(2))
        counts((a, b)) = counts.getOrElse((a, b), 0L) + f
      val ((a, b), c) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, f) =>
        val out = scala.collection.mutable.ListBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toList, f)
      }
      (r.toLong, a, b, c)
    }
  }

  test("bpe merge learning matches the symbol-array reference incl. overlap and tie cases") {
    // "aaaa" forces the overlap semantics ([a a a a] -> [aa aa], NOT
    // [aa a a]); equal-count pairs force the lexicographic tie-break;
    // round 2+ must see merged symbols as atomic units
    val words = Seq(("aaaa", 3L), ("abab", 2L), ("cbcb", 2L), ("ba", 1L))
    val got = TextPrep.bpeLearn(words.toDF("word", "freq"), rounds = 4)
    assert(got === referenceBpe(words, 4))
    // corpus run agrees with its own reference on the first rounds
    val corpus = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val corpusWords = corpus.as[(String, Long)].collect().toSeq
    val gotCorpus = TextPrep.bpeLearn(corpus, rounds = 2)
    assert(gotCorpus === referenceBpe(corpusWords, 2))
    // merged pairs are real bigrams: weights strictly positive and
    // non-increasing is NOT required (a merge can create a new frequent
    // pair), but every weight is > 0
    assert(gotCorpus.forall(_._4 > 0))
  }

  /** Independent Log2Fp replay: e by shift-compare (not bitlength), the
    * mantissa fold in BigInt (not the two-step long division) — if the
    * operator's overflow-free construction deviates from the plain
    * big-integer math, this catches it. */
  private def refLogCost(total: Long, c: Long): Long = {
    var e = 0
    while ((BigInt(c) << (e + 1)) <= BigInt(total)) e += 1
    var y = ((BigInt(total) << 30) / (BigInt(c) << e)).toLong
    var frac = 0L
    for (_ <- 1 to 10) {
      var t2 = ((BigInt(y) * BigInt(y)) >> 30).toLong
      if (t2 >= (1L << 31)) { frac = frac * 2 + 1; t2 >>= 1 } else frac *= 2
      y = t2
    }
    e * 1024L + frac
  }

  /** Hand-rolled unigram-LM Viterbi-EM reference: plain Maps and a
    * classic backpointer DP (the operator folds its segmentation
    * FORWARD — same tie rule, single-char edge preferred on ≤). */
  private def referenceUnigram(words: Seq[(String, Long)], rounds: Int)
      : Seq[(Long, String, Long, Long, Long)] = {
    val INF = 1099511627776L
    val charUni = words.flatMap(_._1.map(_.toString)).distinct
    val singles0 = words.flatMap { case (w, f) => w.map(ch => (ch.toString, f)) }
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum + 1) }
    val bigrams0 = words
      .flatMap { case (w, f) => w.sliding(2).filter(_.length == 2).map((_, f)) }
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
    var counts: Map[String, Long] = singles0 ++ bigrams0
    def costs(cnts: Map[String, Long]): Map[String, Long] = {
      val t = cnts.values.sum
      cnts.map { case (p, c) => (p, refLogCost(t, c)) }
    }
    var cost = costs(counts)
    for (_ <- 1 to rounds) {
      val segCounts = scala.collection.mutable.Map[String, Long]()
      for ((w, f) <- words) {
        val seg = if (w.length < 2) Seq(w) else {
          val n = w.length
          val d = Array.fill(n + 1)(0L)
          val back = Array.fill(n + 1)(0)
          d(1) = cost(w.substring(0, 1)); back(1) = 1
          for (i <- 2 to n) {
            val cs = cost(w.substring(i - 1, i))
            val cb = cost.getOrElse(w.substring(i - 2, i), INF)
            if (d(i - 1) + cs <= d(i - 2) + cb) { d(i) = d(i - 1) + cs; back(i) = 1 }
            else { d(i) = d(i - 2) + cb; back(i) = 2 }
          }
          val pieces = scala.collection.mutable.ListBuffer[String]()
          var i = n
          while (i > 0) { val l = back(i); pieces.prepend(w.substring(i - l, i)); i -= l }
          pieces.toSeq
        }
        for (p <- seg) segCounts(p) = segCounts.getOrElse(p, 0L) + f
      }
      counts = charUni.map(ch => (ch, segCounts.getOrElse(ch, 0L) + 1)).toMap ++
        segCounts.filter(_._1.length == 2).toMap
      cost = costs(counts)
    }
    counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(30).zipWithIndex
      .map { case ((p, c), i) => (i + 1L, p, p.length.toLong, c, cost(p)) }
  }

  test("log2_fp lattice: exact on powers of two, within 2 ulp of real log2, matches the BigInt replay") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val t = 1L + rnd.nextInt(1 << 30).toLong * rnd.nextInt(4).toLong + rnd.nextInt(1000)
      val c = 1L + (rnd.nextLong().abs % t)
      val got = graft.functions.Log2Fp.cost(t, c)
      assert(got === refLogCost(t, c), s"t=$t c=$c")
      val real = 1024.0 * math.log(t.toDouble / c) / math.log(2.0)
      assert(math.abs(got - real) <= 2.0, s"t=$t c=$c got=$got real=$real")
    }
    for (k <- 0 to 20; c <- Seq(1L, 7L, 123L))
      assert(graft.functions.Log2Fp.cost(c << k, c) === 1024L * k)
  }

  test("unigram-LM EM matches the hand-rolled Viterbi-EM reference (toy + corpus dict)") {
    // 'abab' exercises the bigram path, 'b' the len-1 guard, 'cc' a
    // self-bigram, 'abc' a mixed segmentation
    val words = Seq(("abab", 3L), ("ab", 2L), ("b", 5L), ("cc", 4L), ("abc", 1L))
    val got = TextPrep.unigramLearn(words.toDF("word", "freq"), rounds = 2)
      .as[(Long, String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === referenceUnigram(words, 2))
    // the real sf dict replays in driver Scala too (vocab-sized)
    val corpus = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val corpusWords = corpus.as[(String, Long)].collect().toSeq
    val gotCorpus = TextPrep.unigramLearn(corpus, rounds = 2)
      .as[(Long, String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(gotCorpus === referenceUnigram(corpusWords, 2))
  }

  test("unigram-LM EM round plans at most five exchanges") {
    // the cost map's gather + broadcast, the piece recount, the total's
    // gather + broadcast
    val words = Seq(("abab", 3L), ("ab", 2L), ("b", 5L), ("cc", 4L), ("abc", 1L))
    val (cost, dict) = TextPrep.unigramCosts(words.toDF("word", "freq"), rounds = 0)
    val (shuffles, broadcasts) = executedExchanges(TextPrep.emRound(dict, cost))
    assert(shuffles + broadcasts <= 5,
      s"EM round: $shuffles shuffle + $broadcasts broadcast exchanges")
  }

  /** Hand-rolled interpolated Kneser–Ney on the operator's exact 2^20
    * integer lattice (discount 3/4, λ floored first, then ·n1pw div T) —
    * driver Scala over plain Maps, no DataFrames. */
  private def referenceKn(pairs: Seq[(Long, String, String)])
      : Map[Long, (Long, Long, Long)] = {
    val db = pairs.groupBy(identity).map { case (k, xs) => (k, xs.size.toLong) }
    val c2 = pairs.groupBy(p => (p._2, p._3))
      .map { case (k, xs) => (k, xs.size.toLong) }
    val byW1 = c2.groupBy(_._1._1)
    val c1 = byW1.map { case (w1, m) => (w1, m.values.sum) }
    val n1fw = byW1.map { case (w1, m) => (w1, m.size.toLong) }
    val n1pw = c2.groupBy(_._1._2).map { case (w2, m) => (w2, m.size.toLong) }
    val t = c2.size.toLong
    db.toSeq.groupBy(_._1._1).map { case (d, rows) =>
      val scored = rows.map { case ((_, a, b), k) =>
        val p = (4 * c2((a, b)) - 3) * 1048576L / (4 * c1(a)) +
          ((3 * n1fw(a) * 1048576L) / (4 * c1(a))) * n1pw(b) / t
        (k, k * p)
      }
      val n = scored.map(_._1).sum
      val s = scored.map(_._2).sum
      (d, (n, s, s * 1000 / (n * 1048576L)))
    }
  }

  test("kneser-ney matches the hand lattice; backoff favors versatile continuations") {
    import operators.TextRank
    // 'b' continues 3 distinct contexts, 'z' only 1, both with the same
    // bigram count where scored — the continuation-count signature KN
    // exists for (raw MLE can't tell them apart)
    val pairs = Seq(
      (1L, "a", "b"), (1L, "b", "a"), (1L, "a", "b"), (1L, "b", "c"),
      (2L, "c", "b"), (2L, "b", "b"), (2L, "x", "z"),
      (3L, "d", "b"), (3L, "b", "a"), (3L, "x", "z"))
    val got = TextRank.kneserNey(pairs.toDF("doc_id", "w1", "w2"))
      .select("doc_id", "n_bigrams", "kn_sum_fp", "kn_milli")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got === referenceKn(pairs))
    // KN signature on a direct probe: (e,b) and (y,z) are both singleton
    // bigrams in singleton contexts — identical c2, c1, n1fw — so the
    // ONLY difference is the continuation count (b follows 5 distinct
    // contexts, z follows 2). Raw MLE scores them equal; KN must not.
    val probe = TextRank
      .kneserNey((pairs ++ Seq((9L, "e", "b"), (8L, "y", "z")))
        .toDF("doc_id", "w1", "w2"))
      .filter(col("doc_id") >= 8L)
      .select("doc_id", "kn_sum_fp").as[(Long, Long)].collect().toMap
    assert(probe(9L) > probe(8L))
    // corpus run: probabilities land in (0, 2^20] so per-doc milli ≤ 1000
    val corpus = TextRank.textKneserNey(spark, sf)
      .select("n_bigrams", "kn_sum_fp", "kn_milli")
      .as[(Long, Long, Long)].collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall { case (n, s, m) =>
      s > 0 && s <= n * 1048576L && m >= 0 && m <= 1000 })
  }

  test("perplexity filter buckets partition the corpus at the 1/3 cuts and keep head+middle") {
    import operators.TextRank
    val bins = TextRank.dataPerplexityFilter(spark, sf)
      .select("kn_bin", "n_docs", "token_mass", "cum_docs", "bucket", "keep")
      .as[(Long, Long, Long, Long, String, Boolean)].collect()
      .sortBy(-_._1) // descending score order = the cumulative walk
    assert(bins.nonEmpty)
    // bin histogram accounts for every scored doc exactly once
    val total = TextRank.textKneserNey(spark, sf).count()
    assert(bins.map(_._2).sum === total)
    // cum_docs is the running sum in DESC bin order and ends at total
    val runs = bins.map(_._2).scanLeft(0L)(_ + _).tail
    assert(bins.map(_._4).toSeq === runs.toSeq)
    assert(bins.last._4 === total)
    // label = position of the bin's cumulative mass vs the 1/3, 2/3 cuts
    assert(bins.forall { b =>
      val want = if (b._4 * 3 <= total) "head"
        else if (b._4 * 3 <= total * 2) "middle" else "tail"
      b._5 == want && b._6 == (want != "tail")
    })
    // CCNet keeps a nonempty head+middle and cuts a nonempty tail
    assert(bins.exists(_._6) && bins.exists(!_._6))
  }

  test("lang consistency flags chunk-level language mixtures whole-doc argmax cannot see") {
    import org.apache.spark.sql.SaveMode
    val tmp = java.nio.file.Files.createTempDirectory("langmix").toString
    // doc 1: pure alpha; doc 2: 8 alpha tokens then 8 beta tokens (the
    // concatenation artifact); doc 3: lexicon-free → unknown
    Seq(
      (1L, "table row column key table row column key"),
      (2L, "table row column key table row column key " +
        "spark query join scan spark query join scan"),
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      .toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = operators.TextQueries.textLangConsistency(spark, tmp)
      .as[(Long, Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 1L, "alpha", 1000L, 1L, false)))
    assert(got(2L) === ((2L, 2L, "alpha", 500L, 2L, true)))
    assert(got(3L) === ((3L, 1L, "unknown", 1000L, 0L, false)))
    // corpus run: shares are per-mille, labels consistent with counts
    val corpus = operators.TextQueries.textLangConsistency(spark, sf)
      .as[(Long, Long, String, Long, Long, Boolean)].collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall(r => r._4 > 0 && r._4 <= 1000 &&
      r._5 >= 0 && r._5 <= 3 && r._6 == (r._5 >= 2)))
  }

  test("shard rebalance is the exact LPT greedy and meets the 4/3 makespan bound") {
    val got = TextPrep.dataShardRebalance(spark, sf)
      .as[(Long, String, String, Long, Long)].collect().sortBy(_._1)
    // descending-load order with (source, lang) tiebreak
    val sorted = got.map(r => (-r._4, r._2, r._3))
    assert(sorted.sameElements(sorted.sorted), "items not in LPT order")
    // greedy replay: every item must land on the argmin-load worker
    val loads = Array.fill(4)(0L)
    got.foreach { case (_, _, _, load, w) =>
      assert(w === loads.indexOf(loads.min).toLong)
      loads(w.toInt) += load
    }
    // LPT guarantee vs the trivial lower bound max(total/4, max item)
    val ideal = math.max(loads.sum / 4, got.map(_._4).max)
    assert(loads.max * 3 <= ideal * 4 + 3, s"makespan ${loads.max} vs ideal $ideal")
  }

  test("prefix-LM split conserves tokens and never puts loss on degenerate docs") {
    val got = TextPrep.dataPrefixLmSplit(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, nDocs, nTok, nLoss, nDegen, lossMilli) =>
      assert(nLoss >= 0 && nLoss <= nTok)
      assert(nDegen <= nDocs)
      assert(lossMilli === nLoss * 1000 / math.max(nTok, 1L))
      // every non-degenerate doc keeps >= 1 context and >= 1 loss token,
      // so loss can reach neither 0 nor 100% unless all docs are degenerate
      if (nDegen < nDocs) assert(nLoss >= 1 && nLoss < nTok)
    }
  }


  test("source HHI: effective source count never exceeds the real one; shares bounded") {
    val got = TextPrep.dataSourceHhi(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, nSrc, hhi, top, eff) =>
      assert(top >= 0 && top <= 1000)
      assert(hhi >= 0 && hhi <= 1000000L)
      // 1/HHI <= n for any distribution over n atoms (floor slack aside)
      assert(eff <= nSrc * 1000 + 1000, s"effective $eff vs n $nSrc")
    }
  }

  test("quality-length bias: sign agrees with covariance and the slope replays the division") {
    val got = TextPrep.dataQualityLengthBias(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, n, mx, my, cov, varx, sign, slope) =>
      assert(n > 0)
      assert(varx >= -1, "floored variance can undershoot by at most 1")
      assert(sign === (if (cov < 0) -1L else if (cov > 0) 1L else 0L))
      assert(slope === math.abs(cov) * 1000 / math.max(varx, 1L))
      assert(mx >= 0 && my >= 0 && my <= 1000000L)
    }
  }


  test("PRF expansion: ranks dense from 1, query terms excluded, RM1 mass bounded by 3 docs") {
    import operators.TextRank
    val got = TextRank.textPrfExpansion(spark, sf)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4)
    assert(got.nonEmpty && got.length <= 8)
    assert(got.map(_._4).sameElements(1L to got.length))
    val q = Set("spark", "join", "fast", "table")
    got.foreach { case (w, score, nDocs, _) =>
      assert(!q.contains(w))
      assert(nDocs >= 1 && nDocs <= 3)
      // each doc contributes at most 1000 milli of normalized term mass
      assert(score >= 0 && score <= nDocs * 1000)
    }
    // scores non-increasing in rank (w tiebreak ascending)
    got.sliding(2).foreach {
      case Array(a, b) => assert(b._2 <= a._2)
      case _ =>
    }
  }


  test("lang divergence: symmetric-chi2 identity holds for disjoint and identical distributions") {
    val got = TextPrep.textLangDivergence(spark, sf)
      .as[(String, String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, nc, div) =>
      assert(a < b, "canonical pair order")
      assert(nc >= 0 && nc <= 64)
      // bounded: each side's milli mass sums to <= 1000, and
      // sym-chi2 <= total mass of both sides
      assert(div >= 0 && div <= 2000)
    }
  }

  test("textrank: rank mass is conserved up to flooring, ranks positive, top word is a hub") {
    import spark.implicits._
    val got = operators.TextQueries.textTextrankKeywords(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(got.nonEmpty)
    val scale = 1073741824L
    val n = got.length.toLong
    val mass = got.map(_._2).sum
    // every floor leaks < 1 unit per (node × round) plus the teleport
    // remainder; total mass stays within that envelope of 2^30 and can
    // never exceed it
    assert(mass <= scale)
    assert(mass >= scale - 6 * n * (n + 20), s"mass $mass leaked too much")
    got.foreach { case (w, r, v) =>
      assert(r > 0 && w.nonEmpty)
      assert(math.abs(v - r.toDouble / scale) < 1e-12)
    }
    // the top-ranked word must be one of the corpus's high-degree hub
    // terms: its weighted degree is within the top quartile
    val topWord = got.maxBy(r => (r._2, r._1))._1
    val freqs = operators.TextQueries.textTermBurstiness(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val cut = freqs.values.toSeq.sorted.reverse
      .take(math.max(1, freqs.size / 4)).last
    assert(freqs.getOrElse(topWord, 0L) >= cut,
      s"top textrank word '$topWord' is not a frequency-top-quartile term")
  }

}
