package graft

import graft.operators.{Analytics, DomainQueries, TextRank}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("kleinberg burst matches a hand-rolled backpointer Viterbi on the sf events") {
    // independent decode: classic 2-state Viterbi with EXPLICIT
    // backpointers and a final backtrace — if the operator's forward
    // stat-carry fold (no backtrace) deviates from true Viterbi path
    // stats, this catches it. Same tie rules: s0 pred d0<=d1, s1 stay
    // if d1 <= d0+gamma, final s0 if d0<=d1.
    val hours = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    val expected = hours.map { case (tpe, rows) =>
      val m = rows.map(r => r._2 -> r._3).toMap
      val h0 = m.keys.min; val h1 = m.keys.max
      val t = h1 - h0 + 1
      val n = m.values.sum
      val ds = (h0 to h1).map(h => 2 * n * 1477 - m.getOrElse(h, 0L) * t * 1625)
      val g = 4096 * t
      val len = ds.length
      val d0 = Array.fill(len + 1)(0L); val d1 = Array.fill(len + 1)(0L)
      val b0 = Array.fill(len + 1)(0); val b1 = Array.fill(len + 1)(0)
      d1(0) = 1125899906842624L
      for (i <- 1 to len) {
        if (d0(i - 1) <= d1(i - 1)) { d0(i) = d0(i - 1); b0(i) = 0 }
        else { d0(i) = d1(i - 1); b0(i) = 1 }
        if (d1(i - 1) <= d0(i - 1) + g) { d1(i) = d1(i - 1) + ds(i - 1); b1(i) = 1 }
        else { d1(i) = d0(i - 1) + g + ds(i - 1); b1(i) = 0 }
      }
      val states = Array.fill(len)(0)
      var cur = if (d0(len) <= d1(len)) 0 else 1
      for (i <- len to 1 by -1) {
        states(i - 1) = cur
        cur = if (cur == 0) b0(i) else b1(i)
      }
      var nb = 0L; var ne = 0L; var ml = 0L; var cl = 0L
      for (s1 <- states) {
        if (s1 == 1) { nb += 1; cl += 1; if (cl > ml) ml = cl }
        else cl = 0
      }
      var prev = 0
      for (s1 <- states) { if (s1 == 1 && prev == 0) ne += 1; prev = s1 }
      tpe -> ((len.toLong, n, nb, ne, ml))
    }
    val got = Analytics.eventsKleinbergBurst(spark, sf)
      .select("event_type", "n_hours", "n_events", "n_burst_hours",
        "n_bursts", "max_burst_len")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got === expected)
    assert(expected.nonEmpty)
  }

  test("fdr-bh rejects planted monotone trends, finds the largest k, and fails loudly off m=5") {
    def daily(tpe: String, f: Long => Long): Seq[(String, Long, Long)] =
      (0L until 40L).map(d => (tpe, d, f(d)))
    val rows = daily("up", d => d + 1) ++ daily("down", d => 100 - d) ++
      daily("f1", _ => 5L) ++ daily("f2", _ => 7L) ++ daily("f3", _ => 9L)
    val out = Analytics.fdrBhCore(spark, rows.toDF("event_type", "day", "c"))
      .select("event_type", "bh_rank", "z2_micro", "rejected")
      .as[(String, Long, Long, Long)].collect()
    // |S| = 780 both ways, z2 = 780^2*18e6/132600 ≈ 82.6e6 — far over
    // every threshold; the z2 tie breaks on type asc (down < up), and
    // max-k = 2 rejects BOTH (the largest-k step, not first-only)
    assert(out.filter(_._4 == 1L).map(r => (r._1, r._2)).toSet ===
      Set(("down", 1L), ("up", 2L)))
    assert(out.filter(_._4 == 0L).map(_._1).toSet === Set("f1", "f2", "f3"))
    assert(out.filter(_._1 == "up").head._3 === 82588235L)
    // the literal z-table is pinned at m=5: a 4-type corpus must raise
    intercept[Exception] {
      Analytics.fdrBhCore(spark,
        rows.filter(_._1 != "f3").toDF("event_type", "day", "c")).collect()
    }
  }

  test("mmr rerank: ranks dense from 1, first pick is the cosine argmax, picks distinct within the shortlist") {
    val mmr = Analytics.simMmrRerank(spark, sf)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val short = operators.TextQueries.simCosineTopk(spark, sf)
      .select("qid", "vec_id", "rank").as[(Long, Long, Long)].collect()
      .filter(_._3 <= 8).groupBy(_._1)
    assert(mmr.keySet === short.keySet)
    for ((qid, rows) <- mmr) {
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq === (1L to rows.length).toSeq)
      assert(rows.length === math.min(5, short(qid).length))
      assert(rows.map(_._2).distinct.length === rows.length)
      // slot 1 is pure relevance: the cosine rank-1 hit
      val top1 = short(qid).find(_._3 == 1L).get._2
      assert(byRank.head._2 === top1)
      // every pick came from the top-8 shortlist
      val pool = short(qid).map(_._2).toSet
      assert(rows.forall(r => pool(r._2)))
    }
  }

  test("dp counts: released table replays bit-identically, noise bounded, release clamped") {
    val a = Analytics.dataDpCounts(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    val b = Analytics.dataDpCounts(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq) // the mechanism is salt-reproducible
    assert(a.nonEmpty)
    assert(a.forall(r => r._3 >= -60 && r._3 <= 60)) // geometric diff range
    assert(a.forall(_._4 >= 0)) // clamp
    assert(a.forall(r => r._5 === math.abs(r._4 - r._2)))
    // not all zero noise (20 sources, P(all g1==g2) is negligible)
    assert(a.exists(_._3 != 0L))
  }

  test("restatement audit: known mass never exceeds final, shares within [0,1000]") {
    val rows = Analytics.eventsRestatementAudit(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._3 >= 0 && r._3 <= r._2)) // n_late <= n_events
    assert(rows.forall(r => r._5 <= r._4)) // known <= final (values nonneg)
    assert(rows.forall(r => r._6 >= 0 && r._6 <= 1000))
    // the hash lag actually produces SOME late mass somewhere
    assert(rows.exists(_._3 > 0))
  }

  test("production percentile_approx lands within tolerance of the exact rank picks") {
    val prod = Analytics.valueQuantilesProduction(spark, sf)
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val exact = Analytics.eventsValueQuantiles(spark, sf)
      .select("event_type", "p50", "p90", "p99")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(prod.keySet === exact.keySet && prod.nonEmpty)
    for ((k, (a50, a90, a99)) <- prod) {
      val (e50, e90, e99) = exact(k)
      for (((a, e), tag) <- Seq((a50, e50), (a90, e90), (a99, e99))
             .zip(Seq("p50", "p90", "p99")))
        assert(math.abs(a - e) / (math.abs(e) + 1.0) < 0.05,
          s"$k $tag: approx $a vs exact $e")
    }
  }

  test("retention: offset-0 diagonal equals cohort sizes, cells never exceed it") {
    val cells = Analytics.eventsRetention(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(cells.nonEmpty)
    assert(cells.forall(_._2 >= 0)) // offsets never precede the cohort day
    val day0 = cells.filter(_._2 == 0L).map(c => c._1 -> c._3).toMap
    // every user is active on their own first day, so offset 0 exists for
    // every cohort and upper-bounds all later cells of that cohort
    for ((cohort, _, n) <- cells) {
      assert(day0.contains(cohort), s"cohort $cohort missing its day-0 cell")
      assert(n <= day0(cohort), s"cohort $cohort cell exceeds cohort size")
    }
    // diagonal total = distinct users
    val users = operators.DomainQueries.events(spark, sf)
      .select("user_id").distinct().count()
    assert(day0.values.sum === users)
  }

  test("cohort ltv: cum mass is a running total, day-0 users match cohorts") {
    val cells = Analytics.eventsCohortLtv(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(cells.nonEmpty)
    // per cohort: cum_q replays the running sum of sum_q in offset order
    for ((cohort, rows) <- cells.groupBy(_._1)) {
      val inOrder = rows.sortBy(_._2)
      val expect = inOrder.map(_._4).scanLeft(0L)(_ + _).drop(1)
      assert(inOrder.map(_._5).toSeq === expect.toSeq, s"cohort $cohort cum")
    }
    // total mass conserved vs a direct quantized fold over the raw events
    val raw = operators.DomainQueries.events(spark, sf)
      .select(expr("cast(floor(value * 1024) as bigint)").as("q"))
      .agg(sum("q")).as[Long].head()
    assert(cells.map(_._4).sum === raw)
    // day-0 user counts are exactly retention's diagonal (same cohorts)
    val day0 = cells.filter(_._2 == 0L).map(c => c._1 -> c._3).toMap
    val retention = Analytics.eventsRetention(spark, sf)
      .as[(Long, Long, Long)].collect()
      .filter(_._2 == 0L).map(c => c._1 -> c._3).toMap
    assert(day0 === retention)
  }

  test("hazard: at-risk replays the suffix sum, mass equals per-type users") {
    val got = Analytics.eventsHazardRate(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val events = operators.DomainQueries.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 86400000000000").as("day"))
      .as[(Long, String, Long)].collect()
    val lifespans = events.groupBy(e => (e._1, e._2)).iterator
      .map { case ((_, t), es) => t -> (es.map(_._3).max - es.map(_._3).min) }
      .toSeq
    for ((tpe, rows) <- got.groupBy(_._1)) {
      val mine = lifespans.filter(_._1 == tpe).map(_._2)
      // histogram matches the Scala lifespan replay
      val hist = mine.groupBy(identity).map { case (o, xs) => o -> xs.size.toLong }
      assert(rows.map(r => r._2 -> r._3).toMap === hist, s"$tpe histogram")
      // at-risk is the descending suffix sum; hazard exact milli
      for ((_, off, churned, atRisk, milli) <- rows) {
        assert(atRisk === mine.count(_ >= off).toLong, s"$tpe@$off at-risk")
        assert(milli === churned * 1000 / atRisk, s"$tpe@$off hazard")
      }
      // the longest-lived offset always churns everyone still at risk
      val last = rows.maxBy(_._2)
      assert(last._5 === 1000L)
    }
  }

  test("peak concurrency: planted overlaps count, back-to-back does not") {
    val tmp = java.nio.file.Files.createTempDirectory("conc").toString
    val H = 3600000000000L
    // users 1+2 overlap inside hour 0 → peak 2; user 3's session starts at
    // the exact ns user 1's ends (hour 1) → end-exclusive tie keeps peak 1
    Seq((1L, 0L, 1L, "view", 0.0), (2L, H + 1000L, 1L, "view", 0.0),
        (3L, 500L, 2L, "view", 0.0), (4L, 2000L, 2L, "view", 0.0),
        (5L, H + 1000L, 3L, "view", 0.0), (6L, H + 5000L, 3L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsPeakConcurrency(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // hour 0: both sessions open (peaks at 2), user 3's closes here too
    assert(got(0L) === ((2L, 3L)))
    // hour 1: user 1 closes as user 3 opens — the -1 lands first, peak 1
    assert(got(1L) === ((1L, 3L)))
  }

  test("peak concurrency equals a single global sweep replay on testdata") {
    val got = Analytics.eventsPeakConcurrency(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.nonEmpty)
    val gap = 21600000000000L
    val events = operators.DomainQueries.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_id"))
      .as[(Long, Long, Long)].collect()
    val bounds = events.groupBy(_._1).values.flatMap { es =>
      val ts = es.sortBy(e => (e._2, e._3)).map(_._2)
      val sessions = ts.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc, t) if acc.nonEmpty && t - acc.last._2 <= gap =>
          acc.init :+ (acc.last._1, t)
        case (acc, t) => acc :+ (t, t)
      }
      sessions.flatMap { case (st, en) => Seq((st, 1L), (en, -1L)) }
    }.toSeq.sortBy(identity)
    var conc = 0L
    val byHour = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    for ((ts, d) <- bounds) {
      conc += d
      val h = ts / 3600000000000L
      val (p, n) = byHour.getOrElse(h, (Long.MinValue, 0L))
      byHour(h) = (math.max(p, conc), n + 1)
    }
    assert(got === byHour.toMap)
  }

  test("cluster cohesion recomputes from the assignment") {
    val got = Analytics.simClusterCohesion(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val assign = Analytics.simKmeansAssign(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    for ((k, rows) <- assign.groupBy(_._2)) {
      val d2s = rows.map(_._3)
      val expect = (k, d2s.length.toLong,
        d2s.map(_ / 1024).sum / d2s.length, d2s.min, d2s.max)
      assert(got(k) === expect, s"cluster $k")
    }
  }

  test("weekday profile: peak matches a UTC calendar replay, shares bounded") {
    val got = Analytics.eventsWeekdayProfile(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    val events = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), col("ts_ns")).as[(String, Long)].collect()
    for ((tpe, rows) <- events.groupBy(_._1)) {
      val wd = rows.map { case (_, ns) =>
        // UTC weekday, Sunday = 0 (the DuckDB convention)
        val days = ns / 86400000000000L
        ((days + 4) % 7).toInt // 1970-01-01 was a Thursday
      }
      val hist = wd.groupBy(identity).map { case (d, xs) => d -> xs.length }
      val (peakDay, peakN) = hist.toSeq.minBy { case (d, n) => (-n, d) }
      val (_, total, nDays, gotPeak, gotN, millis) = got(tpe)
      assert(total === rows.length.toLong)
      assert(nDays === hist.size.toLong)
      assert((gotPeak, gotN) === ((peakDay.toLong, peakN.toLong)))
      assert(millis === peakN.toLong * 1000 / total)
    }
  }

  test("class balance: shares and effective class count replay exactly") {
    val got = Analytics.dataClassBalance(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val labels = Tables.t(spark, sf, "embeddings")
      .select(col("label").cast("long")).as[Long].collect()
    val byLabel = labels.groupBy(identity).map { case (l, xs) => l -> xs.length.toLong }
    val total = labels.length.toLong
    val sumsq = byLabel.values.map(n => n * n).sum
    assert(got.map(_._1).toSet === byLabel.keySet)
    for ((l, n, share, ess) <- got) {
      assert(n === byLabel(l))
      assert(share === n * 1000 / total)
      assert(ess === total * 1000 / (sumsq / total))
    }
    // near-balanced synthetic labels: effective classes close to the max
    val k = byLabel.size.toLong
    assert(got.head._4 > (k - 1) * 1000 && got.head._4 <= k * 1000)
  }

  test("arrival regularity: planted constant stream scores exactly 1000") {
    val tmp = java.nio.file.Files.createTempDirectory("reg").toString
    val M = 60000000000L
    // user 1: metronome minutes (dispersion exactly 1000); user 2: one
    // long + many short gaps (clumped — dispersion must exceed 1000)
    val rows = (0 until 10).map(i => (i.toLong, i * M, 1L, "view", 0.0)) ++
      Seq(100L, 101L, 102L, 103L, 160L).zipWithIndex.map { case (m, i) =>
        (20L + i, m * M, 2L, "click", 0.0) }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsArrivalRegularity(spark, tmp)
      .as[(String, Long, Long, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(got("view") === (("view", 9L, 1L, Some(1000L))))
    // clicks: gaps 1,1,1,57 min → mean 15, sg2/4 = 813, disp 813000//225
    assert(got("click") === (("click", 4L, 15L, Some(813 * 1000L / 225))))
  }

  test("error budget: burn replays the hourly ledger, verdict tracks the SLO") {
    val got = Analytics.eventsErrorBudget(spark, sf)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    var (cumErr, cumTot) = (0L, 0L)
    for ((_, total, err, burn, cumBurn, over) <- got) {
      assert(err <= total)
      assert(burn === err * 1000 / total)
      cumErr += err; cumTot += total
      assert(cumBurn === cumErr * 1000 / cumTot)
      assert(over === (cumBurn > Analytics.SLO_MILLI))
    }
    // the SLO sits at the corpus error share: the verdict must flip
    assert(got.exists(_._6) && got.exists(!_._6))
  }

  test("cusum equals the max-recurrence replay; a planted drift alarms") {
    // the window closed form (P_k − min(0, running-min P)) must equal the
    // defining recurrence S_k = max(0, S_{k-1} + x_k) replayed in Scala
    val gotFlat = Analytics.eventsCusum(spark, sf)
      .select("event_type", "event_id", "cusum_fp")
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // the replay walks ARRIVAL order (ts_ns, event_id) from the source
    val src = operators.DomainQueries.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_ns"),
        expr("cast(floor(value * 1024) as bigint)").as("q"))
      .as[(String, Long, Long, Long)].collect()
    val expect = src.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._2))
      val t = ordered.map(_._4).sum / ordered.length
      var s = 0L
      ordered.toSeq.map { case (_, id, _, q) =>
        s = math.max(0L, s + (q - t)); (tpe, id) -> s
      }
    }
    assert(gotFlat === expect.toMap)
    assert(gotFlat.valuesIterator.forall(_ >= 0L))
    // planted drift: 50 in-band events then 50 consistently +100 above
    // them — the cumulative excess must cross the 2000-unit alarm budget
    // (ts written as raw Long ns, the shape DomainQueries.events reads)
    val dir = java.nio.file.Files.createTempDirectory("cusum_drift").toString
    (1 to 100).map(i =>
        (i.toLong, i.toLong * 1000000000L, 1L, "feed",
          if (i <= 50) 10.0 else 110.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val drift = Analytics.eventsCusum(spark, dir)
      .filter(col("alarm")).count()
    assert(drift > 0, "planted +100 drift never crossed the 2000-unit alarm budget")
  }

  test("log2 histogram: bins partition mass exactly, bounds bracket every value") {
    val rows = Analytics.eventsValueHistogram(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val src = operators.DomainQueries.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr("cast(floor(value * 1024) as bigint)").as("q"))
      .as[(String, Long)].collect()
    // mass is conserved and every bin count matches the integer-log replay
    assert(rows.map(_._3).sum === src.length.toLong)
    def bin(q: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(1 + q)
    val expect = src.groupBy(r => (r._1, bin(r._2))).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap === expect)
    // bounds really bracket the bin: lo = 2^b - 1, hi = 2^(b+1) - 2
    for ((_, b, _, lo, hi) <- rows) {
      assert(lo === (1L << b) - 1 && hi === (1L << (b + 1)) - 2)
      assert(bin(lo) === b && bin(hi) === b)
    }
  }

  test("bottom-k sample replays md5 order exactly; estimates near exact quantiles") {
    val got = Analytics.eventsBottomkSample(spark, sf)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val src = operators.DomainQueries.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("cast(floor(value * 1024) as bigint)").as("v_fp"))
      .as[(String, Long, Long)].collect()
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"bk:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    for ((tpe, rows) <- src.groupBy(_._1)) {
      // 52-bit hash order with the v_fp tie-break both engines use
      val sample = rows.sortBy(r => (h(r._2), r._3)).take(64).map(_._3).sorted
      val n = sample.length
      val (gn, p50, p95) = got(tpe)
      assert(gn === n.toLong)
      assert(p50 === sample(((n + 1) / 2) - 1), s"$tpe p50")
      assert(p95 === sample(((19 * n + 19) / 20) - 1), s"$tpe p95")
      // the hash-uniform sample estimate must land near the exact disc
      // quantile: rank error for K=64 is ~6% sd — gate at p50 ± p20
      val exact = rows.map(_._3).sorted
      val lo = exact((exact.length * 3 / 10).max(0))
      val hi = exact((exact.length * 7 / 10).min(exact.length - 1))
      assert(p50 >= lo && p50 <= hi, s"$tpe sample p50 $p50 outside [$lo, $hi]")
    }
  }

  test("ttl sweep: expiry matches the per-type watermark arithmetic, mass conserved") {
    val rows = Analytics.eventsTtlSweep(spark, sf)
      .as[(String, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val src = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .as[(String, Long)].collect()
    val wm = src.map(_._2).max
    val ttl = Analytics.TTL_DAYS.toMap
    for ((tpe, day, n, expired) <- rows) {
      assert(expired === (day < wm - ttl(tpe)), s"$tpe day $day")
      assert(n === src.count(r => r._1 == tpe && r._2 == day).toLong)
    }
    assert(rows.map(_._3).sum === src.length.toLong) // every event in one cell
  }

  test("schema drift: planted late-arriving key reports its exact day window") {
    // two stable keys from day 0; "new_field" appears only from day 10 on
    val dayNs = 86400000000000L
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    (0 until 20).map { i =>
      val props = if (i >= 10) s"""{"a":$i,"b":2,"new_field":true}"""
      else s"""{"a":$i,"b":2}"""
      (i.toLong, i.toLong * dayNs + 5L, 1L, "view", 1.0, props)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.metaSchemaDrift(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got("a") === ((0L, 19L, 20L, 20L)))
    assert(got("b") === ((0L, 19L, 20L, 20L)))
    assert(got("new_field") === ((10L, 19L, 10L, 10L)))
    // invariants on the real corpus (malformed/non-object rows excluded)
    val real = Analytics.metaSchemaDrift(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(real.nonEmpty)
    for ((k, first, last, nDays, nEv) <- real) {
      assert(first <= last && nDays >= 1 && nDays <= last - first + 1 && nEv >= nDays, k)
    }
  }

  test("top paths: dense rank, descending counts, recount of winner matches") {
    val rows = Analytics.eventsTopPaths(spark, sf)
      .orderBy("rn").as[(String, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 25)
    assert(rows.map(_._3).toSeq === (1L to rows.length.toLong))
    assert(rows.map(_._2).toSeq.sliding(2).forall { case Seq(a, b) => a >= b; case _ => true })
    // independent recount of the winning path over raw events
    val (path, n, _) = rows.head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    val recount = operators.DomainQueries.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("e3", lead("event_type", 2).over(w))
      .withColumn("p", concat_ws(">", col("event_type"),
        lead("event_type", 1).over(w), col("e3")))
      .filter(col("e3").isNotNull && col("p") === path)
    assert(recount.count() === n)
  }

  test("shingle containment: pasted doc scores 1.0 against its container") {
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, small),                    // 6 distinct 5-grams
      (2L, s"$filler $small $filler2"), // contains every gram of doc 1
      (3L, (100 to 160).map(i => s"z$i").mkString(" ")) // disjoint
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("containment").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    val got = TextRank.dedupShingleContainment(spark, tmp)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length === 1)
    val (ds, db, _, c) = got.head
    assert(ds === 1L && db === 2L && c === 1.0)
  }
  private val filler2 = (61 to 99).map(i => s"y$i").mkString(" ")

  test("containment: identical-doc flood generates zero pairs, bounded state") {
    // 1000 identical docs give every gram df = 1000 > cutoff, so the
    // rare-gram join drops them all BEFORE any posting list exists —
    // the adversarial corpus costs nothing (exact dups stay covered by
    // dedup_exact).
    import org.apache.spark.sql.SaveMode
    val text = (1 to 30).map(i => s"c$i").mkString(" ")
    val docs = (1L to 1000L).map(i => (i, text)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("contflood").toString
    docs.write.mode(SaveMode.Overwrite).parquet(s"$tmp/documents.parquet")
    assert(TextRank.dedupShingleContainment(spark, tmp).count() === 0)
  }

  test("scd2: intervals chain per user, consecutive states differ, one open row") {
    val rows = Analytics.metaScd2History(spark, sf)
      .as[(Long, String, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    for ((_, g) <- rows.groupBy(_._1)) {
      val ordered = g.sortBy(_._3)
      // exactly one open (current) interval, and it is the last one
      assert(g.count(_._4.isEmpty) === 1)
      assert(ordered.last._4.isEmpty)
      for (w <- ordered.sliding(2).map(_.toSeq) if w.length == 2 && w.head._4.isDefined) {
        val (a, b) = (w.head, w(1))
        assert(a._2 !== b._2, s"user ${a._1}: un-collapsed repeat state")
        assert(a._4.get === b._3, s"user ${a._1}: interval gap")
      }
    }
  }

  test("quantiles: monotone, and p90 matches a sorted recount") {
    val q = Analytics.eventsValueQuantiles(spark, sf)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(q.nonEmpty)
    for ((t, n, p50, p90, p99) <- q) {
      assert(n > 0 && p50 <= p90 && p90 <= p99, s"$t not monotone")
      val vals = operators.DomainQueries.events(spark, sf)
        .filter(col("event_type") === t).select("value").as[Double]
        .collect().sorted
      assert(p90 === vals((90 * vals.length + 99) / 100 - 1), s"$t p90")
    }
  }

  test("interleave: every doc once, dense shard positions, stride order holds") {
    val rows = Analytics.dataInterleaveSources(spark, sf)
      .as[(Long, String, Long, Long)].collect()
    val nDocs = Tables.t(spark, sf, "documents").count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._3).distinct.length === rows.length)
    for ((sh, g) <- rows.groupBy(_._1)) {
      assert(g.map(_._4).sorted.toSeq === (1L to g.length.toLong),
        s"shard $sh positions not dense")
      // stride guarantee: the k-th en doc (stride 2) precedes the k-th
      // stride-6 doc of the same shard whenever both exist
      val en = g.filter(_._2 == "en").map(_._4).sorted
      val rest = g.filter(r => r._2 != "en" && r._2 != "de" && r._2 != "fr")
        .map(_._4).sorted
      for (k <- 0 until math.min(en.length, rest.length))
        assert(en(k) < rest(k), s"shard $sh: ${k + 1}-th en after ${k + 1}-th 1x-domain doc")
    }
  }

  test("rp topk: valid ranks, shortlist rerank recalls most exact neighbors") {
    val rp = Analytics.simRpTopk(spark, sf)
      .as[(Long, Long, Double, Long)].collect()
    val byQ = rp.groupBy(_._1)
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    for ((q, g) <- byQ) {
      assert(g.map(_._4).sorted.toSeq === (1L to 10L), s"query $q ranks")
      // dots descend with rank
      val dots = g.sortBy(_._4).map(_._3).toSeq
      assert(dots.sliding(2).forall(w => w.length < 2 || w.head >= w(1)),
        s"query $q order")
    }
    // Recall property on STRUCTURED data: an 8-dim JL sketch preserves
    // LARGE gaps (planted near-duplicates), not the microscopic gaps
    // between arbitrary neighbors of a uniform-random corpus — so the
    // recall assertion plants a near-dup per query and requires the
    // shortlist+rerank to surface it at rank 1.
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val queries = (0L to 4L).map(q => q -> unit()).toMap
    def jitter(v: Array[Float]): Array[Float] = {
      val j = v.map(x => x + 0.05 * rnd.nextGaussian())
      val n = math.sqrt(j.map(x => x * x).sum)
      j.map(x => (x / n).toFloat)
    }
    val rows = queries.toSeq.map { case (q, v) => (q, v) } ++
      queries.toSeq.map { case (q, v) => (100L + q, jitter(v)) } ++
      (200L until 400L).map(i => (i, unit()))
    val tmp = java.nio.file.Files.createTempDirectory("rptopk").toString
    rows.toDF("vec_id", "embedding").write.parquet(s"$tmp/embeddings.parquet")
    val planted = Analytics.simRpTopk(spark, tmp)
      .filter(col("rank") === 1).as[(Long, Long, Double, Long)].collect()
    for ((q, hit, dot, _) <- planted) {
      assert(hit === 100L + q, s"query $q: planted near-dup not at rank 1")
      assert(dot > 0.9, s"query $q: rank-1 dot $dot suspiciously low")
    }
    assert(planted.length === 5)
  }

  test("throttle: at most 3 per user-hour, keeps the earliest, stable") {
    val kept = Analytics.eventsThrottle(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(kept.nonEmpty)
    val byKey = kept.groupBy(r => (r._2, r._3))
    assert(byKey.values.forall(_.length <= 3))
    // kept events are exactly the 3 earliest of each (user, hour)
    val all = operators.DomainQueries.events(spark, sf)
      .select("event_id", "user_id", "ts_ns").as[(Long, Long, Long)].collect()
    for (((u, h), g) <- byKey) {
      val expect = all.filter(e => e._2 == u && e._3 / 3600000000000L == h)
        .sortBy(e => (e._3, e._1)).take(3).map(_._1).toSet
      assert(g.map(_._1).toSet === expect, s"user $u hour $h")
    }
    // the sf events never exceed the cap, so force a burst that does:
    // 5 events inside one hour → exactly the 3 earliest survive
    import org.apache.spark.sql.SaveMode
    val h = 3600000000000L
    val burst = Seq((1L, 1000L, 7L), (2L, 2000L, 7L), (3L, 3000L, 7L),
      (4L, 4000L, 7L), (5L, 5000L, 7L), (6L, h + 10L, 7L))
      .toDF("event_id", "ts", "user_id")
    val tmp = java.nio.file.Files.createTempDirectory("throttle").toString
    burst.write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsThrottle(spark, tmp)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 6L))
  }

  test("json stats: typed extraction reconciles with a manual parse") {
    val got = Analytics.eventsJsonStats(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    val manual = operators.DomainQueries.events(spark, sf)
      .select("event_type", "props").as[(String, String)].collect()
      .map { case (t, p) => (t, """"k":\s*(\d+)""".r.findFirstMatchIn(p).get.group(1).toLong) }
    for ((t, g) <- manual.groupBy(_._1)) {
      val ks = g.map(_._2)
      assert(got(t) === ((t, ks.length.toLong, ks.sum, ks.distinct.length.toLong,
        ks.min, ks.max)), s"type $t")
    }
  }

  test("kmeans assignment matches a full independent Scala replay of Lloyd's") {
    val got = Analytics.simKmeansAssign(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // replay from the raw embeddings: fixed-point projection, md5 seeds,
    // 2 truncating-div centroid updates, final struct-min assignment
    val emb = Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val proj: Map[Long, Array[Long]] = emb.map { case (id, v) =>
      id -> Array.tabulate(8)(p => v.zipWithIndex.map { case (x, j) =>
        math.floor(x.toDouble * 1048576).toLong * Analytics.rpWeights(p)(j)
      }.sum)
    }.toMap
    def h52(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"km:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString.take(13), 16)
    }
    def d2(a: Array[Long], b: Array[Long]): Long =
      (0 until 8).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def assign(cent: IndexedSeq[Array[Long]]): Map[Long, (Long, Long)] =
      proj.map { case (id, r) =>
        val (dist, k) = cent.zipWithIndex
          .map { case (c, k) => (d2(r, c), k.toLong) }.min
        id -> (k, dist)
      }
    var cent: IndexedSeq[Array[Long]] =
      proj.toSeq.sortBy { case (id, _) => (h52(id), id) }.take(8).map(_._2).toIndexedSeq
    for (_ <- 1 to 2) {
      val byK = assign(cent).toSeq.groupBy(_._2._1)
      cent = cent.zipWithIndex.map { case (old, k) =>
        byK.get(k.toLong).fold(old) { members =>
          val rs = members.map(m => proj(m._1))
          Array.tabulate(8)(i => rs.map(_(i)).sum / rs.length)
        }
      }
    }
    assert(got === assign(cent))
    assert(got.values.map(_._1).toSet.subsetOf((0L until 8L).toSet))
  }

  test("skew audit: planted hot key dominates and the stats reconcile") {
    val tmp = java.nio.file.Files.createTempDirectory("skew").toString
    // 20 uniform keys x 5 rows + one hot key with 500 rows
    val rows = (1 to 20).flatMap(k => Seq.fill(5)(k.toLong)) ++
      Seq.fill(500)(99L)
    rows.toDF("l_suppkey").write.mode(SaveMode.Overwrite)
      .parquet(s"$tmp/lineitem.parquet")
    val out = operators.TextPrep.dataSkewAudit(spark, tmp)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._3)
    assert(out.length === 10)
    assert(out.head === ((99L, 500L, 1L, 21L, 600L, 500L, 5L, 500L, 100000L)))
    // ranks are dense 1..10 in non-increasing count order
    assert(out.map(_._3) === (1L to 10L))
    assert(out.sliding(2).forall(p => p(0)._2 >= p(1)._2))
  }

  test("anomaly mad: a planted single-day spike flags, stable days do not") {
    val tmp = java.nio.file.Files.createTempDirectory("mad").toString
    val day = 86400000000000L
    // 29 days x 10 events, day 15 gets 100 events (the spike)
    val rows = (0 until 29).flatMap { d =>
      val n = if (d == 15) 100 else 10
      (0 until n).map(i =>
        ((d * 1000 + i).toLong, d * day + i * 1000L, 1L, "feed", 1.0, "{}"))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsAnomalyMad(spark, tmp)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(got.length === 29)
    val flagged = got.filter(_._6)
    assert(flagged.map(_._2).toSeq === Seq(15L))
    assert(flagged.head._3 === 100L)
    // median sits on the stable level and MAD is zero-deviation-robust
    assert(got.forall(r => r._4 === 10L && r._5 === 0L))
  }

  test("transition matrix: rows normalize, counts match a manual lead replay") {
    val got = Analytics.eventsTransitionMatrix(spark, sf)
      .as[(String, String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // per-prev row totals are consistent and milli-probabilities
    // underflow at most |row| units (integer floor per cell)
    for ((prev, g) <- got.groupBy(_._1)) {
      assert(g.map(_._3).sum === g.head._4, s"row total for $prev")
      val milliSum = g.map(_._5).sum
      assert(milliSum <= 1000 && milliSum > 1000 - g.length, s"milli sum for $prev")
    }
    // full recount from the raw events
    val src = operators.DomainQueries.events(spark, sf)
      .select("user_id", "ts_ns", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect()
    val expected = src.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val types = rows.sortBy(r => (r._2, r._3)).map(_._4)
      types.zip(types.drop(1))
    }.groupBy(p => p).map { case (k, v) => k -> v.size.toLong }
    assert(got.map(r => (r._1, r._2) -> r._3).toMap === expected)
  }

  test("sliding uniques: planted overlap gives the hand-computed WAU/DAU") {
    val day = 86400000000000L
    val tmp = java.nio.file.Files.createTempDirectory("wau").toString
    // u1@d0, u2@d0, u2@d3, u3@d7 (duplicate event same user-day dedups)
    Seq((1L, 0L * day, 1L), (2L, 0L * day + 5L, 2L), (3L, 0L * day + 9L, 2L),
        (4L, 3L * day, 2L), (5L, 7L * day, 3L))
      .toDF("event_id", "ts", "user_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsUniquesSliding(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // windows exist only for days present in the stream: 0, 3, 7
    assert(got.keySet === Set(0L, 3L, 7L))
    assert(got(0L) === ((0L, 2L, 2L, 1000L))) // window -6..0: u1, u2
    assert(got(3L) === ((3L, 2L, 1L, 500L)))  // window -3..3: u1, u2
    assert(got(7L) === ((7L, 2L, 1L, 500L)))  // window 1..7: u2(d3), u3
  }

  test("gap histogram: planted gaps land in exact log2 second bins") {
    val sec = 1000000000L
    val tmp = java.nio.file.Files.createTempDirectory("gaps").toString
    // u1/a: gaps 1s,2s,7s -> bins 1,1,3; u1/b: single event, no gap;
    // u2/a: two events SAME ts -> gap 0 -> bin 0
    Seq((1L, 0L, 1L, "a"), (2L, 1L * sec, 1L, "a"), (3L, 3L * sec, 1L, "a"),
        (4L, 10L * sec, 1L, "a"), (5L, 0L, 1L, "b"),
        (6L, 5L * sec, 2L, "a"), (7L, 5L * sec, 2L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsGapHistogram(spark, tmp)
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(("a", 1L) -> 2L, ("a", 3L) -> 1L, ("a", 0L) -> 1L))
  }

  test("brand affinity: planted baskets give exact support and milli-lift") {
    val tmp = java.nio.file.Files.createTempDirectory("affinity").toString
    // o1 {B1,B2} (B1 twice -> dedups), o2 {B1,B2}, o3 {B1}
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L), (3L, 1L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/lineitem.parquet")
    Seq((1L, "B1"), (2L, "B2"), (3L, "B1")).toDF("p_partkey", "p_brand")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/part.parquet")
    val got = Analytics.affinityBrandPairs(spark, tmp)
      .as[(String, String, Long, Long)].collect()
    // support 2 of 3 orders; cnt(B1)=3, cnt(B2)=2 -> lift = 2*3*1000/6 = 1000
    assert(got.toSeq === Seq(("B1", "B2", 2L, 1000L)))
  }

  test("rfm: planted 7 users replay the standard NTILE split exactly") {
    val day = 86400000000000L
    val tmp = java.nio.file.Files.createTempDirectory("rfm").toString
    // user u: one event on day u with value 10·u — all three dimensions
    // order identically by user for f/m, reversed for recency rank
    Seq.tabulate(7)(i => (i + 1L, (i + 1L) * day, i + 1L, (i + 1) * 10.0))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsRfm(spark, tmp)
      .select("user_id", "r_days", "r_q", "f_q", "m_q").as[(Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // n=7, k=5 -> bucket sizes 2,2,1,1,1 (first n%k buckets get the extra)
    val expQ = Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L, 6L -> 4L, 7L -> 5L)
    for (u <- 1L to 7L) {
      assert(got(u)._2 === 7L - u) // recency in days
      assert(got(u)._3 === expQ(u)) // r order: oldest first -> same split
      assert(got(u)._4 === expQ(u) && got(u)._5 === expQ(u))
    }
  }

  test("pareto: planted 70/20/10 revenue splits exactly at the ABC fences") {
    val tmp = java.nio.file.Files.createTempDirectory("pareto").toString
    Seq((1L, 70.0, 0.0), (2L, 20.0, 0.0), (3L, 10.0, 0.0))
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/lineitem.parquet")
    Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("s_suppkey", "s_nationkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/supplier.parquet")
    Seq((0L, "X")).toDF("n_nationkey", "n_name")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/nation.parquet")
    val got = Analytics.supplierParetoClass(spark, tmp)
      .as[(String, Long, Long, Long, String)].collect().map(r => r._2 -> r).toMap
    assert(got(1L) === (("X", 1L, 700000L, 700L, "A"))) // 70% is still A
    assert(got(2L) === (("X", 2L, 200000L, 900L, "B"))) // 90% is still B
    assert(got(3L) === (("X", 3L, 100000L, 1000L, "C")))
  }

  test("norm audit: planted vectors give exact fixed-point norms and zero count") {
    val tmp = java.nio.file.Files.createTempDirectory("norms").toString
    Seq((1L, Array(0.5f, -0.5f), "a"), (2L, Array(0.0f, 0.0f), "a"),
        (3L, Array(0.25f), "b"))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")
    val got = Analytics.simNormAudit(spark, tmp)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val half = 524288L * 524288L // floor(±0.5·2^20)² — exact, no rounding
    assert(got("a") === (("a", 2L, 1L, 2L, 2L, 0L, 2 * half, 2 * half)))
    assert(got("b") === (("b", 1L, 0L, 1L, 1L, half / 4, half / 4, half / 4)))
  }

  test("pq quantize: every vector gets a 16-bit code; errors are nonnegative") {
    val out = Analytics.simPqQuantize(spark, sf)
      .as[(Long, Long, Long)].collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(out.length === nVecs)
    assert(out.forall(r => r._2 >= 0 && r._2 < (1 << 16) && r._3 >= 0))
    // codes must actually spread (a constant code means assignment broke)
    assert(out.map(_._2).distinct.length > 1)
  }

  test("pq quantize: planted codebook vector reconstructs itself exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("pq").toString
    // 5 vectors; whichever 4 become seeds, each seed's own error is 0
    Seq.tabulate(5)(v => (v.toLong, Array.tabulate(64)(i => (v * 0.01f + i * 0.001f)), "x"))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/embeddings.parquet")
    val got = Analytics.simPqQuantize(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got.size === 5)
    assert(got.values.count(_ == 0L) >= 4) // the 4 codebook members are exact
  }

  test("random projection: hand-computed dot for one vector matches") {
    val out = Analytics.simRandomProjection(spark, sf)
    val row = out.filter(col("vec_id") === 7).collect().head
    val emb = Tables.t(spark, sf, "embeddings").filter(col("vec_id") === 7)
      .select("embedding").as[Array[Float]].head()
    assert(emb.length === 64)
    for (p <- 0 until 8) {
      val expected = emb.zipWithIndex.map { case (x, j) =>
        math.floor(x.toDouble * 1048576).toLong * Analytics.rpWeights(p)(j)
      }.sum.toDouble / 1048576.0
      assert(row.getDouble(1 + p) === expected, s"p$p mismatch")
    }
    assert(out.count() === Tables.t(spark, sf, "embeddings").count())
  }

  test("attribution: linear splits floor-exact, last touch wins, direct catches touchless") {
    import org.apache.spark.sql.SaveMode
    val tmp = java.nio.file.Files.createTempDirectory("attr").toString
    val day = 86400000000000L
    // user 1: view, click -> purchase (k=2, last=click)
    // user 2: touchless purchase -> direct
    // user 3: 3 views -> purchase (k=3, floor credit 333)
    // user 4: view 8 days before purchase -> outside window -> direct
    Seq((1L, 1000L, 1L, "view", 0.0), (2L, 2000L, 1L, "click", 0.0),
        (3L, 3000L, 1L, "purchase", 9.0),
        (4L, 1000L, 2L, "purchase", 9.0),
        (5L, 1000L, 3L, "view", 0.0), (6L, 2000L, 3L, "view", 0.0),
        (7L, 3000L, 3L, "view", 0.0), (8L, 4000L, 3L, "purchase", 9.0),
        (9L, 1000L, 4L, "view", 0.0), (10L, 1000L + 8 * day, 4L, "purchase", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/events.parquet")
    val got = Analytics.eventsAttribution(spark, tmp)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got === Map(
      "view" -> (("view", 4L, 2L, 1L, 500L + 3 * 333L)),
      "click" -> (("click", 1L, 1L, 1L, 500L)),
      "direct" -> (("direct", 0L, 2L, 2L, 2000L))))
    // every conversion is last-touch-attributed exactly once
    assert(got.values.map(_._4).sum === 4L)
  }

  test("watermark lag: two-level prefix max equals the naive global window") {
    import org.apache.spark.sql.expressions.Window
    // naive single-window twin (fine at spec scale; the production path
    // must never plan it) over the SAME derived event times
    val e = operators.DomainQueries.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        (col("ts_ns") - expr(
          "cast(conv(substring(md5(cast(concat('lag:', event_id) as binary)), 1, 13), 16, 10) as bigint)" +
            " % 7200 * 1000000000").cast("long")).as("etime_ns"))
    val w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    val naive = e.withColumn("wm", max("etime_ns").over(w))
      .select(col("event_type"),
        when(col("wm") > col("etime_ns"), 1L).otherwise(0L).as("late"),
        when(col("wm") > col("etime_ns"),
          expr("(wm - etime_ns) div 1000000000")).as("lag_s"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("late").as("n_late"),
        coalesce(max("lag_s"), lit(0L)).as("max_lag_s"),
        coalesce(sum("lag_s"), lit(0L)).as("sum_lag_s"))
      .withColumn("late_millis", expr("n_late * 1000 div n_events"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val got = Analytics.eventsWatermarkLag(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === naive)
    // the modeled delays must actually produce late events (non-degenerate)
    assert(got.exists(_._3 > 0L), "no late events — delay model degenerate")
  }

  test("integral divide truncates toward zero (the power-iteration renormalize contract)") {
    // sim_power_iteration divides NEGATIVE eigvec components by the max
    // norm; its oracle relies on Spark `div` and DuckDB `//` agreeing on
    // negatives. DuckDB truncates toward zero ((-7)//2 = -3, verified);
    // pin Spark to the same semantics so an engine change fails here.
    val r = spark.sql("SELECT -7 div 2 AS a, 7 div 2 AS b, -7 div -2 AS c")
      .as[(Long, Long, Long)].head()
    assert(r === ((-3L, 3L, 3L)))
  }

  test("power iteration replays a plain-Scala fixed-point trajectory bit for bit") {
    // Same lattice as the operator (floor ·2^10 quantize, integer outer
    // products, truncating renormalize) over the real sf table: the Spark
    // loop must equal an independent in-memory replay EXACTLY — the
    // property the unrolled-CTE oracle also checks, derived a third way.
    val vecs = graft.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    val q = vecs.map { case (_, a) =>
      a.map(f => math.floor(f.toDouble * 1024).toLong)
    }
    val dims = q.head.length
    val c = Array.ofDim[Long](dims, dims)
    for (x <- q; i <- 0 until dims; j <- 0 until dims) c(i)(j) += x(i) * x(j)
    var v = Array.fill(dims)(1048576L)
    for (_ <- 1 to 5) {
      val y = Array.tabulate(dims)(i =>
        (0 until dims).map(j => c(i)(j) * v(j)).sum)
      val m = y.map(math.abs).max
      val d = math.max(m / 1048576L, 1L)
      v = y.map(_ / d) // JVM Long division truncates toward zero, like div
    }
    val got = Analytics.simPowerIteration(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got === v.indices.map(i => i.toLong -> v(i)).toMap)
    // non-degenerate: the dominant axis is not the all-equal vector
    assert(v.distinct.length > 1, s"degenerate eigvec: ${v.toSeq}")
  }

  test("burstiness lattice: error spikes read bursty, steady types read near-Poisson") {
    val got = Analytics.eventsBurstiness(spark, sf)
      .select("event_type", "fano_milli", "peak_to_mean_milli")
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    // peak >= mean always => ratio >= 1000 by construction
    assert(got.forall(_._3 >= 1000L), s"peak below mean: ${got.toSeq}")
  }

  test("ewma residual: forecast numerator equals the 8-hour dyadic window by hand") {
    val h = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (t, rows) =>
        t -> rows.map(r => r._2 -> r._3).toMap
      }
    val got = Analytics.eventsEwmaResidual(spark, sf)
      .select("event_type", "hour_id", "forecast_num")
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    for ((t, hr, f) <- got.take(200)) {
      val cs = h(t)
      val expect = (1 to 8).map(i =>
        cs.getOrElse(hr - i, 0L) * (1L << (8 - i))).sum
      assert(f === expect, s"$t hour $hr")
    }
  }

  test("rolling median: matches brute-force trailing-7-day lower median, robust to one spike") {
    val daily = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
    val got = Analytics.eventsRollingMedian(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    for ((t, d, c, nw, med) <- got) {
      val win = ((d - 6) to d).flatMap(daily(t).get).sorted
      assert(nw === win.length)
      assert(med === win((win.length + 1) / 2 - 1), s"$t day $d")
      assert(c === daily(t)(d))
    }
    // the defining property: a lone spike never becomes the median of a
    // full window (the mean smoother would move; the median must not)
    val full = got.filter(_._4 == 7)
    assert(full.nonEmpty)
    for ((t, d, _, _, med) <- full) {
      val win = ((d - 6) to d).flatMap(daily(t).get).sorted
      assert(med < win.max || win.forall(_ == win.head), s"$t day $d spike leaked")
    }
  }

  test("seasonal decompose: replays brute-force centered-window detrending, full-window interior only") {
    val daily = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
    // brute-force seasonal table
    val expect = daily.toSeq.flatMap { case (t, cs) =>
      cs.toSeq.flatMap { case (d, c) =>
        val win = ((d - 3) to (d + 3)).flatMap(cs.get)
        if (win.length == 7) Some(((t, d % 7), c * 1000 - win.sum * 1000 / 7))
        else None
      }
    }.groupBy(_._1).map { case (k, vs) =>
      val sum = vs.map(_._2).sum
      val n = vs.length
      val mean = if (sum >= 0) sum / n else -((-sum) / n)
      k -> (n.toLong, sum, mean)
    }
    val got = Analytics.eventsSeasonalDecompose(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap === expect)
  }

  test("survival km: replays the censoring-aware fold by hand; curve is monotone from 1e6") {
    val spans = operators.DomainQueries.events(spark, sf)
      .groupBy("user_id").agg(min("ts_ns").as("f"), max("ts_ns").as("l"))
      .as[(Long, Long, Long)].collect()
    val dayNs = 86400000000000L
    val maxNs = spans.map(_._3).max
    val marks = spans.map { case (_, f, l) =>
      ((l - f) / dayNs, if (l > maxNs - 3 * dayNs) 1L else 0L)
    }
    val byT = marks.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, ms) =>
      (t, ms.count(_._2 == 0L).toLong, ms.count(_._2 == 1L).toLong)
    }
    var s = 1000000L
    val expect = byT.map { case (t, d, c) =>
      val atRisk = byT.filter(_._1 >= t).map(r => r._2 + r._3).sum
      s = s * (atRisk - d) / atRisk
      (t, d, c, atRisk, s)
    }
    val got = Analytics.eventsSurvivalKm(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === expect)
    // monotone non-increasing, bounded by the unit start
    assert(got.map(_._5).toSeq === got.map(_._5).sorted.reverse.toSeq)
    assert(got.forall(_._5 <= 1000000L))
  }

  test("bootstrap ci: point estimate is the exact mean, CI replays the hash weights by hand") {
    val ns = operators.DomainQueries.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weight(u: Long, b: Int): Long =
      16L - md5hex(s"bs:$u:$b").take(16).count(_ != '0')
    val means = (0 until 32).map { b =>
      val (wn, sw) = ns.foldLeft((0L, 0L)) { case ((a, c), (u, n)) =>
        val w = weight(u, b); (a + w * n, c + w)
      }
      wn * 1000 / sw
    }.sorted
    val Array((nRes, point, lo, med, hi)) = Analytics.eventsBootstrapCi(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(nRes === 32L)
    assert(point === ns.map(_._2).sum * 1000 / ns.length)
    assert((lo, med, hi) === ((means(1), means(15), means(30))))
    assert(lo <= med && med <= hi)
  }

  test("sax motifs: symbols are balanced rank terciles and window mass matches the calendar") {
    val daily = operators.DomainQueries.events(spark, sf)
      .select(col("event_type"), expr("ts_ns div 86400000000000").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect().groupBy(_._1)
    val got = Analytics.eventsSaxMotifs(spark, sf)
      .as[(String, String, Long)].collect()
    assert(got.nonEmpty)
    // every motif is three tercile symbols
    assert(got.forall(r => r._2.length == 3 && r._2.forall("012".contains(_))))
    for ((t, rows) <- got.groupBy(_._1)) {
      // one window per run of three consecutive days
      val days = daily(t).map(_._2).toSet
      val expectWindows = days.count(d => days(d - 1) && days(d - 2))
      assert(rows.map(_._3).sum === expectWindows, s"$t window mass")
      // hand-replay the rank terciles and the motif counts
      val n = daily(t).length
      val sym = daily(t).sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case ((_, d, _), i) => d -> i.toLong * 3 / n }.toMap
      val expect = days.toSeq.filter(d => days(d - 1) && days(d - 2))
        .map(d => s"${sym(d - 2)}${sym(d - 1)}${sym(d)}")
        .groupBy(identity).map { case (m, g) => m -> g.length.toLong }
      assert(rows.map(r => r._2 -> r._3).toMap === expect, s"$t motifs")
    }
  }

  test("trimmed mean replays the rank trim by hand and shrugs off the extremes") {
    val ev = operators.DomainQueries.events(spark, sf)
      .select("event_type", "value", "event_id")
      .as[(String, Double, Long)].collect().groupBy(_._1)
    val got = Analytics.eventsTrimmedMean(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === ev.keySet)
    for ((t, nTotal, nKept, mean, trimmed) <- got) {
      val vs = ev(t).sortBy(r => (r._2, r._3)).map(r => math.floor(r._2 * 1000).toLong)
      val trim = vs.length / 20
      val kept = vs.slice(trim, vs.length - trim)
      assert(nTotal === vs.length)
      assert(nKept === kept.length)
      assert(mean === vs.sum / vs.length)
      assert(trimmed === kept.sum / kept.length)
      // replacing the trimmed tails with 100x outliers must not move it
      val spiked = (vs.take(trim).map(_ => 0L) ++ kept ++
        vs.takeRight(trim).map(_ => vs.max * 100)).sorted
      val keptSpiked = spiked.slice(trim, spiked.length - trim)
      assert(keptSpiked.sum / keptSpiked.length === trimmed)
    }
  }

  test("queue wait: the running-min reduction equals the sequential Lindley fold") {
    val svc = 30000000000L
    val ev = operators.DomainQueries.events(spark, sf)
      .select("event_type", "ts_ns", "event_id")
      .as[(String, Long, Long)].collect().groupBy(_._1)
    val got = Analytics.eventsQueueWait(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet === ev.keySet)
    for ((t, n, nWaited, maxW, meanW) <- got) {
      val arr = ev(t).sortBy(r => (r._2, r._3)).map(_._2)
      // the naive sequential recursion the operator must reproduce
      var prev = 0L
      var prevA = arr.head
      val ws = scala.collection.mutable.ArrayBuffer(0L)
      for (a <- arr.tail) {
        prev = math.max(0L, prev + svc - (a - prevA)); prevA = a
        ws += prev
      }
      val wms = ws.map(_ / 1000000L)
      assert(n === arr.length)
      assert(nWaited === wms.count(_ > 0))
      assert(maxW === wms.max)
      assert(meanW === wms.sum / wms.length)
    }
  }

  test("forecast backtest: three MAEs replay by hand, winner is the argmin with fixed ties") {
    val wf = Seq(3072L, 1792L, 704L, -16L, -372L, -457L, -914L, 287L)
    val hourly = DomainQueries.events(spark, sf)
      .selectExpr("event_type", "ts_ns div 3600000000000L as hour_id")
      .groupBy("event_type", "hour_id").count()
      .as[(String, Long, Long)].collect().groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(r => r._2 -> r._3).toMap }
    val got = Analytics.eventsForecastBacktest(spark, sf)
      .as[(String, Long, Long, Long, Long, String)].collect()
    assert(got.map(_._1).toSet === hourly.keySet)
    for ((t, nH, maeN, maeE, maeH, winner) <- got) {
      val m = hourly(t)
      val h0 = m.keys.min
      val hours = m.keys.filter(_ >= h0 + 24).toSeq.sorted
      assert(nH === hours.length.toLong)
      def c(h: Long) = m.getOrElse(h, 0L)
      var (sn, se, sh) = (0L, 0L, 0L)
      for (h <- hours) {
        sn += math.abs(c(h) - c(h - 24)) * 1000
        val fe = (1 to 8).map(i => c(h - i) * (1L << (8 - i))).sum
        se += math.abs(c(h) * 255 - fe) * 1000 / 255
        val fh = (1 to 8).map(i => c(h - i) * wf(i - 1)).sum
        sh += math.abs(c(h) * 4096 - fh) * 1000 / 4096
      }
      assert(maeN === sn / nH, s"naive $t")
      assert(maeE === se / nH, s"ewma $t")
      assert(maeH === sh / nH, s"holt $t")
      val expWinner =
        if (maeN <= maeE && maeN <= maeH) "naive24"
        else if (maeE <= maeH) "ewma" else "holt"
      assert(winner === expWinner)
    }
  }

  test("haar energy: per-scale detail fold replays by hand, zero blocks counted") {
    val hourly = DomainQueries.events(spark, sf)
      .selectExpr("event_type", "ts_ns div 3600000000000L as hour_id")
      .groupBy("event_type", "hour_id").count()
      .as[(String, Long, Long)].collect().groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(r => r._2 -> r._3).toMap }
    val got = Analytics.eventsHaarEnergy(spark, sf)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(got.nonEmpty)
    for ((t, scaleH, nBlocks, energy, meanB, _) <- got) {
      val m = hourly(t)
      val h0 = m.keys.min
      val span = m.keys.max - h0 + 1
      val tot = m.values.sum
      assert(nBlocks === span / scaleH)
      // replay: shares over the FULL calendar span (missing hour = 0)
      val half = scaleH / 2
      val exp = (0L until nBlocks).map { blk =>
        val d = (0L until scaleH).map { off =>
          val sh = m.getOrElse(h0 + blk * scaleH + off, 0L) * 1000 / tot
          if (off < half) sh else -sh
        }.sum
        d * d
      }.sum
      assert(energy === exp, s"energy $t/$scaleH")
      assert(meanB === energy / nBlocks)
    }
    // exactly one dominant scale per type unless tied; flags consistent
    for ((_, rows) <- got.groupBy(_._1)) {
      val mx = rows.map(_._5).max
      assert(rows.forall(r => r._6 === (r._5 == mx)))
    }
  }

  test("diurnal dft: fixed-point harmonics replay the hour-of-day fold by hand") {
    val C = Seq(1024L, 989L, 886L, 724L, 512L, 265L, 0L, -266L, -512L,
      -725L, -887L, -990L, -1024L, -990L, -887L, -725L, -513L, -266L,
      -1L, 265L, 512L, 724L, 886L, 989L)
    val S = Seq(0L, 265L, 511L, 724L, 886L, 989L, 1024L, 989L, 886L,
      724L, 511L, 265L, 0L, -266L, -512L, -725L, -887L, -990L, -1024L,
      -990L, -887L, -725L, -513L, -266L)
    val prof = DomainQueries.events(spark, sf)
      .selectExpr("event_type", "ts_ns div 3600000000000L % 24 as b")
      .groupBy("event_type", "b").count()
      .as[(String, Long, Long)].collect().groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(r => r._2 -> r._3).toMap }
    val got = Analytics.eventsDiurnalDft(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(got.map(r => (r._1, r._2)).toSet ===
      prof.keys.flatMap(t => Seq(1L, 2L, 3L).map(t -> _)).toSet)
    for ((t, k, reN, imN, pw, ppm, dom) <- got) {
      val m = prof(t)
      val tot = m.values.sum
      val reRaw = m.map { case (b, c) => c * C(((k * b) % 24).toInt) }.sum
      val imRaw = m.map { case (b, c) => c * S(((k * b) % 24).toInt) }.sum
      assert(reN === reRaw * 1000 / tot, s"re $t/$k")
      assert(imN === imRaw * 1000 / tot, s"im $t/$k")
      assert(pw === reN * reN + imN * imN)
      assert(ppm === pw * 1000000L / 1048576000000L)
      // normalization bound: |X_k| can never exceed the DC gain
      assert(math.abs(reN) <= 1024000L && math.abs(imN) <= 1024000L)
    }
    // exactly the argmax harmonics are flagged dominant, >= 1 per type
    val byType = got.groupBy(_._1)
    for ((_, rows) <- byType) {
      val mx = rows.map(_._5).max
      assert(rows.forall(r => r._7 === (r._5 == mx)))
    }
    // lattice sanity on a synthetic delta profile: all mass at hour 6
    // puts k=1 power on the pure sine axis at ~DC magnitude
    val re6 = 1000L * C(6); val im6 = 1000L * S(6)
    assert(re6 === 0L && im6 === 1024000L)
  }

  test("holt trend: the coefficient lattice equals the sequential Holt recurrence") {
    // hourly counts per type, calendar-contiguous with zero fill
    val hourly = DomainQueries.events(spark, sf)
      .selectExpr("event_type", "ts_ns div 3600000000000L as hour_id")
      .groupBy("event_type", "hour_id").count()
      .as[(String, Long, Long)].collect().groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(r => r._2 -> r._3).toMap }
    val got = Analytics.eventsHoltTrend(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, String)].collect()
    assert(got.nonEmpty)
    // emitted rows = observed hours past the warm-up fence
    val expKeys = hourly.toSeq.flatMap { case (t, m) =>
      val h0 = m.keys.min; m.keys.filter(_ >= h0 + 8).map(t -> _)
    }.toSet
    assert(got.map(r => (r._1, r._2)).toSet === expKeys)
    var sawRise = false; var sawFall = false
    for ((t, h, c, levelNum, trendNum, fNum, resid, flag) <- got) {
      val m = hourly(t)
      assert(c === m(h))
      // the naive sequential dyadic Holt the lattice must reproduce:
      // state in 1/4096 units; every halving is exact by construction
      // (D = 2^12 covers the 6 rounds x 2 bits the recurrence spends)
      val y = (1 to 8).map(i => m.getOrElse(h - 9 + i, 0L)) // y1 oldest
      var lSt = y(1) * 4096L
      var bSt = (y(1) - y(0)) * 4096L
      for (i <- 2 until 8) {
        val lp = lSt
        lSt = (y(i) * 4096L + lp + bSt) / 2
        bSt = (lSt - lp) / 2 + bSt / 2
      }
      assert(levelNum === lSt, s"level $t/$h")
      assert(trendNum === bSt, s"trend $t/$h")
      assert(fNum === lSt + bSt)
      assert(resid === c * 4096L - fNum)
      val expFlag = if (bSt * 16 > lSt) "rising"
        else if (bSt * 16 < -lSt) "falling" else "flat"
      assert(flag === expFlag)
      if (flag == "rising") sawRise = true
      if (flag == "falling") sawFall = true
    }
    assert(sawRise && sawFall) // both trend directions exercised
  }

  test("changepoint binseg: argmax split replays the prefix-sum gain scan by hand") {
    val hourly = DomainQueries.events(spark, sf)
      .selectExpr("event_type", "ts_ns div 3600000000000L as hour_id")
      .groupBy("event_type", "hour_id").count()
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => (r._2, r._3))
      }
    val got = Analytics.eventsChangepoint(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === hourly.filter(_._2.length > 1).keySet)
    for ((t, series) <- hourly if series.length > 1) {
      val xs = series.map(_._2)
      val n = xs.length.toLong
      val s = xs.sum
      // every split scored from the prefix sums, ties to the earliest
      val best = (1 until xs.length).map { i =>
        val s1 = xs.take(i).sum
        val gain = s1 * s1 / i + (s - s1) * (s - s1) / (n - i) - s * s / n
        (-gain, i.toLong, s1)
      }.min
      val (gain, i, s1) = (-best._1, best._2, best._3)
      val (_, nH, splitI, splitHour, gainFp, ml, mr) = got(t)
      assert(nH === n)
      assert(splitI === i)
      assert(splitHour === series(i.toInt - 1)._1)
      assert(gainFp === gain)
      assert(ml === s1 * 1000 / i)
      assert(mr === (s - s1) * 1000 / (n - i))
      // the split genuinely separates the means unless the series is flat
      if (gain > 0) assert(ml !== mr)
    }
  }

  test("kmeans shift telemetry reconciles with the assignment and a centroid replay") {
    val shift = Analytics.simKmeansShift(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // sizes + inertia must aggregate the production assignment exactly
    val byCluster = Analytics.simKmeansAssign(spark, sf)
      .as[(Long, Long, Long)].collect().groupBy(_._2)
    assert(shift.keySet === byCluster.keySet)
    for ((k, rows) <- byCluster) {
      val (_, n, inertia, shiftFp, meanD2) = shift(k)
      assert(n === rows.length)
      assert(inertia === rows.map(_._3).sum)
      assert(shiftFp >= 0L)
      assert(meanD2 === inertia / n)
    }
    // the centroid movement itself replays from the raw embeddings
    val emb = Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val proj: Map[Long, Array[Long]] = emb.map { case (id, v) =>
      id -> Array.tabulate(8)(p => v.zipWithIndex.map { case (x, j) =>
        math.floor(x.toDouble * 1048576).toLong * Analytics.rpWeights(p)(j)
      }.sum)
    }.toMap
    def h52(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"km:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString.take(13), 16)
    }
    def d2(a: Array[Long], b: Array[Long]): Long =
      (0 until 8).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def assign(cent: IndexedSeq[Array[Long]]): Map[Long, (Long, Long)] =
      proj.map { case (id, r) =>
        id -> cent.zipWithIndex.map { case (c, k) => (d2(r, c), k.toLong) }
          .min.swap
      }
    var cent: IndexedSeq[Array[Long]] =
      proj.toSeq.sortBy { case (id, _) => (h52(id), id) }.take(8).map(_._2).toIndexedSeq
    var hist = Vector(cent)
    for (_ <- 1 to 2) {
      val byK = assign(cent).toSeq.groupBy(_._2._1)
      cent = cent.zipWithIndex.map { case (old, k) =>
        byK.get(k.toLong).fold(old) { members =>
          val rs = members.map(m => proj(m._1))
          Array.tabulate(8)(i => rs.map(_(i)).sum / rs.length)
        }
      }
      hist = hist :+ cent
    }
    for ((k, (_, _, _, shiftFp, _)) <- shift)
      assert(shiftFp === d2(hist(2)(k.toInt), hist(1)(k.toInt)))
  }

  test("temporal leakage matches a driver replay of the time cut") {
    import spark.implicits._
    val cut = 1706140800000000000L
    val got = operators.Analytics.dataTemporalLeakage(spark, sf)
      .as[(String, Long, Long, Long, Option[Long], Long, Long, Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.nonEmpty)
    val ev = operators.DomainQueries.events(spark, sf)
      .select("event_type", "user_id", "ts_ns")
      .as[(String, Long, Long)].collect()
    val want = ev.groupBy(_._1).map { case (tpe, g) =>
      val byUser = g.groupBy(_._2).view.mapValues { e =>
        (e.count(_._3 < cut).toLong, e.count(_._3 >= cut).toLong)
      }.toMap
      val train = byUser.count(_._2._1 > 0).toLong
      val test = byUser.count(_._2._2 > 0).toLong
      val overlap = byUser.count(u => u._2._1 > 0 && u._2._2 > 0).toLong
      val testEv = byUser.values.map(_._2).sum
      val warm = byUser.values.collect { case (tr, te) if tr > 0 => te }.sum
      tpe -> ((tpe, train, test, overlap,
        if (test > 0) Some(overlap * 1000 / test) else None,
        testEv, warm,
        if (testEv > 0) Some(warm * 1000 / testEv) else None))
    }
    assert(got === want)
    // the cut is meaningful: both windows populated, overlap partial
    assert(got.values.forall(r => r._2 > 0 && r._3 > 0))
  }

  test("retention halflife matches a driver replay of the pooled OLS lattice") {
    import spark.implicits._
    val got = operators.Analytics.eventsRetentionHalflife(spark, sf)
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(got.length === 1)
    val (n, sign, absMilli, hl) = (got(0)._1, got(0)._2, got(0)._3, got(0)._4)
    // driver replay of the whole lattice from raw events
    val day = 86400000000000L
    val ud = operators.DomainQueries.events(spark, sf)
      .select(col("user_id"), expr(s"ts_ns div $day").as("d"))
      .distinct().as[(Long, Long)].collect()
    val cohort = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val lastDay = ud.map(_._2).max
    val act = ud.map { case (u, d) => d - cohort(u) }.filter(_ >= 1)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sizes = cohort.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    def bits(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(math.max(x, 1L))
    val ys = act.keys.toSeq.sorted.flatMap { k =>
      val den = sizes.collect { case (cd, sz) if cd + k <= lastDay => sz }.sum
      if (den > 0) {
        val rm = act(k) * 1000 / den
        Some((k, if (rm == 0) 0L else bits(rm).toLong))
      } else None
    }
    val (sk, sy) = (ys.map(_._1).sum, ys.map(_._2).sum)
    val (sky, skk) = (ys.map(p => p._1 * p._2).sum, ys.map(p => p._1 * p._1).sum)
    val num = ys.length * sky - sk * sy
    val den2 = ys.length * skk - sk * sk
    assert(n === ys.length.toLong)
    assert(sign === (if (num < 0) -1L else if (num > 0) 1L else 0L))
    val wantAbs = math.abs(num) * 1000 / den2
    assert(absMilli === wantAbs)
    // half-life ships exactly when the fit decays (at sf0.001 every
    // user is active near-daily, so a flat slope-0 fit is legitimate)
    assert(hl === (if (num < 0 && wantAbs > 0) Some(1000000L / wantAbs) else None))
  }

  test("silhouette: bounds hold and cluster populations equal the cohesion rollup") {
    val sil = Analytics.simSilhouette(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    sil.values.foreach { case (_, n, mean, mn, mx) =>
      assert(n > 0)
      assert(0L <= mn && mn <= mean && mean <= mx && mx <= 1000L)
    }
    // the rn=1 leg of the silhouette rank must be the SAME assignment the
    // cohesion operator aggregates — population per cluster must agree
    val coh = Analytics.simClusterCohesion(spark, sf)
      .select("cluster", "n_vectors").as[(Long, Long)].collect().toMap
    assert(sil.view.mapValues(_._2).toMap === coh)
  }


  test("topk drift: club size capped at 8, intersection bounded, first day has no predecessor overlap") {
    val got = Analytics.eventsTopkDrift(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (_, nTop, nCommon, ovl) =>
      assert(nTop >= 1 && nTop <= 8)
      assert(nCommon >= 0 && nCommon <= nTop)
      assert(ovl === nCommon * 1000 / nTop)
    }
    assert(got.head._3 === 0L, "first day cannot overlap a previous club")
  }

  test("pq distortion: eight subspaces, full vector coverage, codes within the 2-bit book") {
    val got = Analytics.simPqDistortion(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).sameElements(0L to 7L))
    val nVec = got.head._2
    got.foreach { case (_, n, codes, mean, mx, util) =>
      assert(n === nVec, "every subspace assigns every vector exactly once")
      assert(codes >= 1 && codes <= 4)
      assert(util === codes * 1000 / 4)
      assert(mean >= 0 && mean <= mx)
    }
  }


  test("embedding outliers: median is a real order statistic and the 4x gate bounds the count") {
    val got = Analytics.simEmbeddingOutliers(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val assign = Analytics.simKmeansAssign(spark, sf)
      .as[(Long, Long, Long)].collect().groupBy(_._2)
    got.foreach { case (c, n, med, nOut, mx, milli) =>
      val d2s = assign(c).map(_._3).sorted
      assert(n === d2s.length.toLong)
      assert(med === d2s(((n + 1) / 2 - 1).toInt), "lower median mismatch")
      assert(nOut === d2s.count(_ > med * 4).toLong)
      assert(mx === d2s.max)
      assert(milli === nOut * 1000 / n)
      // beyond 4x the median can never be half the cluster or more
      assert(nOut * 2 < n || n <= 1)
    }
  }

  test("k-center greedy: radii non-increasing, centers distinct, seed is min vec_id") {
    val rows = Analytics.simKcenterCoverage(spark, sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 6)
    assert(rows.map(_._1).toSeq === (0L to 5L))
    // greedy invariant: adding a center never grows the coverage radius
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"radius grew: round ${a._1} ${a._3} -> ${b._3}")
    }
    // all centers distinct; the seed is the smallest vec_id
    assert(rows.map(_._2).distinct.length === 6)
    val minVec = spark.read
      .parquet(s"$sf/embeddings.parquet").agg(min("vec_id"))
      .as[Long].collect().head
    assert(rows.head._2 === minVec)
    // every radius is a non-negative exact fixed-point d²
    rows.foreach { case (_, _, r) => assert(r >= 0L) }
  }

  /** An sf directory whose embeddings table has the schema and no rows. */
  private lazy val noEmbeddings: String = {
    val dir = java.nio.file.Files.createTempDirectory("emb_empty").toString
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("k-center greedy over no embeddings is the greedy's named error") {
    val e = intercept[IllegalStateException](Analytics.simKcenterCoverage(spark, noEmbeddings))
    assert(e.getMessage.contains("kcenter_round_0"), e.getMessage)
  }

  test("power iteration over no embeddings returns no rows") {
    assert(Analytics.simPowerIteration(spark, noEmbeddings).collect().isEmpty)
  }

  test("facility location greedy: costs non-increasing, gains diminish, centers distinct") {
    val rows = Analytics.simFacilityLocation(spark, sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 6)
    assert(rows.map(_._1).toSeq === (0L to 5L))
    // adding a center never grows the total assignment cost
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"cost grew: round ${a._1} ${a._3} -> ${b._3}")
    }
    // submodularity: greedy marginal gains are non-increasing
    val gains = rows.sliding(2).map { case Array(a, b) => a._3 - b._3 }.toSeq
    gains.sliding(2).foreach { case Seq(g1, g2) =>
      assert(g2 <= g1, s"marginal gain grew: $g1 -> $g2")
    case _ => ()
    }
    assert(rows.map(_._2).distinct.length === 6)
    rows.foreach { case (_, _, c) => assert(c >= 0L) }
    // a 3-vector corpus leaves round 3 without a candidate: a named
    // error, never a silent center 0 at cost 0
    val tiny = java.nio.file.Files.createTempDirectory("fl_tiny").toString
    spark.read.parquet(s"$sf/embeddings.parquet").orderBy("vec_id").limit(3)
      .write.parquet(s"$tiny/embeddings.parquet")
    val e = intercept[IllegalStateException](Analytics.simFacilityLocation(spark, tiny))
    assert(e.getMessage.contains("fl_round_3"), e.getMessage)
  }

  test("triplet margin audit: counts are consistent and violations bounded") {
    val got = Analytics.simTripletMarginAudit(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length === 10) // one row per label
    got.foreach { case (_, nTrip, nViol, minM, sumM, milli) =>
      assert(nTrip >= 1L && nViol >= 0L && nViol <= nTrip)
      assert(milli === nViol * 1000 / nTrip)
      // min margin can't exceed the mean margin
      assert(minM * nTrip <= sumM)
    }
  }

}
