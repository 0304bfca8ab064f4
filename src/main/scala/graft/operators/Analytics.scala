package graft.operators

import graft.Tables.t
import graft.Determinism.dec2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product/behavioral analytics over the event stream plus embedding-
  * pipeline preprocessing — the operators a training-data platform runs
  * NEXT to curation: cohort retention (did the pipeline's users/sources
  * persist), sequence mining (which event paths dominate), and
  * deterministic dimensionality reduction (the cheap projection before
  * ANN indexing). Mirrors the reference's per-entity rollup habit
  * (cf. `collect_metadata_experiments_assemblies.py` grouping per study)
  * re-expressed as Spark aggregates with exact DuckDB oracles.
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  private val DAY_NS = 86400000000000L
  private val HOUR_NS = 3600000000000L

  /** Cohort retention matrix: users bucketed by first-active day, counted
    * on every (cohort, day-offset) cell they were active in. ONE exchange
    * on user_id builds both the cohort and the active-day set (collect_set
    * state is bounded by the CALENDAR — distinct days per user — never by
    * event volume; map-side partial aggregation dedups days early), and
    * the cell count is a second tiny exchange on (cohort, offset). No
    * join, no second scan. */
  /** Cohort lifetime-value curve — the HOW-MUCH companion of
    * eventsRetention's who-came-back matrix: per (signup-day cohort,
    * day offset) the active-user count, the day's exact 2^-10
    * fixed-point value mass, and the RUNNING cumulative mass (the LTV
    * curve dashboards plot per cohort). Same no-join shape as
    * retention: one (user, day) pre-aggregate (map-side combine dedups
    * early), one user fold carrying calendar-bounded (day, value)
    * state, explode, one (cohort, offset) cell aggregate — the cum
    * window rides the aggregate-sized relation. Everything is
    * non-negative BIGINT sums; the one cast happened at quantization. */
  def eventsCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ud = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(floor(value * 1024) as bigint)").as("q"))
      .groupBy("user_id", "day").agg(sum("q").as("q"))
    val wc = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    ud.groupBy("user_id")
      .agg(min("day").as("cohort_day"),
        collect_list(struct(col("day"), col("q"))).as("dq"))
      .select(col("cohort_day"), explode(col("dq")).as("x"))
      .groupBy(col("cohort_day"),
        (col("x.day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"), sum(col("x.q")).as("sum_q"))
      .withColumn("cum_q", sum("sum_q").over(wc))
  }

  private val LTV_SQL =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(FLOOR(value * 1024) AS BIGINT) AS q FROM events),
       |ud AS (SELECT user_id, day, CAST(SUM(q) AS BIGINT) AS q
       |       FROM e GROUP BY 1, 2),
       |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY 1),
       |cell AS (
       |  SELECT c.cohort_day, ud.day - c.cohort_day AS day_offset,
       |    CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(SUM(ud.q) AS BIGINT) AS sum_q
       |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2)
       |SELECT cohort_day, day_offset, n_users, sum_q,
       |  CAST(SUM(sum_q) OVER (PARTITION BY cohort_day ORDER BY day_offset
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_q
       |FROM cell""".stripMargin

  /** Discrete-time survival hazard over user lifespans — the WHEN-do-we
    *-lose-them curve behind eventsInactivityChurn's binary verdict,
    * computed per event_type (each type a product surface): a user's
    * lifespan on a surface is last-active-day − first-active-day; for
    * each offset d the hazard is churned(d) · 1000 div at-risk(d),
    * where at-risk is the DESCENDING running sum of the lifespan
    * histogram (everyone surviving to d — the Kaplan–Meier
    * denominator). Exact integers throughout; the histogram window
    * partitions by type over ≤ calendar-days rows, after two
    * partial-aggregated exchanges (user-type fold, histogram). */
  def eventsHazardRate(s: SparkSession, dir: String): DataFrame = {
    val hist = DomainQueries.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("user_id", "event_type")
      .agg((max("day") - min("day")).as("day_offset"))
      .groupBy("event_type", "day_offset")
      .agg(count(lit(1)).as("n_churned"))
    val w = Window.partitionBy("event_type").orderBy(col("day_offset").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.withColumn("n_at_risk", sum("n_churned").over(w))
      .withColumn("hazard_milli", expr("n_churned * 1000 div n_at_risk"))
  }

  private val HAZARD_SQL =
    s"""WITH d AS (
       |  SELECT user_id, event_type, epoch_ns(ts) // $DAY_NS AS day
       |  FROM events),
       |ls AS (SELECT user_id, event_type, MAX(day) - MIN(day) AS day_offset
       |       FROM d GROUP BY 1, 2),
       |h AS (SELECT event_type, day_offset,
       |        CAST(COUNT(*) AS BIGINT) AS n_churned
       |      FROM ls GROUP BY 1, 2)
       |SELECT event_type, day_offset, n_churned,
       |  CAST(SUM(n_churned) OVER w AS BIGINT) AS n_at_risk,
       |  CAST(n_churned * 1000 //
       |    SUM(n_churned) OVER w AS BIGINT) AS hazard_milli
       |FROM h
       |WINDOW w AS (PARTITION BY event_type ORDER BY day_offset DESC
       |             ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** Peak concurrent sessions per hour — the capacity-planning readout
    * (how many users were on SIMULTANEOUSLY, not merely active) that
    * interval-overlap counting classically answers with one global sort:
    * sessions (the 6h-gap sessionize convention) emit ±1 boundaries,
    * end-exclusive ties resolve −1 before +1 (ORDER BY ts, delta — a
    * back-to-back session pair never counts as 2), and concurrency is
    * the running boundary sum. Scale shape: the running sum uses the
    * two-level distributed prefix sum (per-hour delta totals → tiny
    * offsets window → within-hour window), so NO single-task global
    * window exists — the oracle keeps the textbook one-window
    * formulation: two plans, one integer answer. Per-hour MAX is
    * order-stable under equal-key permutations (a +1 run's value set is
    * {off+1..off+k} however ties land). Sessions are checkpointed —
    * both boundary selects read one materialization. */
  def eventsPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val sessions = DomainQueries.withSessionIds(s, dir)
      .groupBy("user_id", "session_id")
      .agg(min("ts_ns").as("st"), max("ts_ns").as("en"))
      .transform(graft.Ckpt.capped)
    val bounds = sessions.select(col("st").as("ts"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("en").as("ts"), lit(-1L).as("delta")))
      .withColumn("hour_id", expr(s"ts div $HOUR_NS"))
    val offsets = Scale.bucketOffsets(bounds, "hour_id", Seq("delta"))
    val wIn = Window.partitionBy("hour_id").orderBy("ts", "delta")
      .rowsBetween(Window.unboundedPreceding, 0)
    bounds.join(broadcast(offsets), Seq("hour_id"))
      .withColumn("conc", sum("delta").over(wIn) + col("delta_off"))
      .groupBy("hour_id")
      .agg(max("conc").as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
  }

  private val CONCURRENCY_SQL =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ns(ts) // 1000 * 1000 AS ts_ns
       |  FROM events),
       |x AS (SELECT user_id, ts_ns, event_id,
       |        CASE WHEN ts_ns - LAG(ts_ns) OVER
       |            (PARTITION BY user_id ORDER BY ts_ns, event_id)
       |          > 21600000000000 THEN 1 ELSE 0 END AS is_new
       |      FROM e),
       |se AS (SELECT user_id, ts_ns,
       |         SUM(is_new) OVER (PARTITION BY user_id
       |           ORDER BY ts_ns, event_id ROWS UNBOUNDED PRECEDING)
       |           AS session_id
       |       FROM x),
       |g AS (SELECT user_id, session_id, MIN(ts_ns) AS st, MAX(ts_ns) AS en
       |      FROM se GROUP BY 1, 2),
       |b AS (SELECT st AS ts, 1 AS delta FROM g
       |      UNION ALL SELECT en, -1 FROM g),
       |r AS (SELECT ts // $HOUR_NS AS hour_id,
       |        SUM(delta) OVER (ORDER BY ts, delta ROWS UNBOUNDED PRECEDING)
       |          AS conc
       |      FROM b)
       |SELECT hour_id, CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
       |  CAST(COUNT(*) AS BIGINT) AS n_boundaries
       |FROM r GROUP BY 1""".stripMargin

  /** Cluster-cohesion audit over the k-means assignment — the quality
    * readout clustering dashboards plot (tight clusters = useful
    * codebook): per cluster the population, the MEAN squared distance
    * on the 2^-10-reduced lattice (d2 div 1024 BEFORE summing buys
    * 2^73-row overflow headroom while both engines replay the identical
    * floor arithmetic), and the exact min/max spread. One
    * aggregate over [[simKmeansAssign]]'s output. */
  def simClusterCohesion(s: SparkSession, dir: String): DataFrame =
    simKmeansAssign(s, dir)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(d2 div 1024) div count(1)").as("mean_d2q"),
        min("d2").as("min_d2"), max("d2").as("max_d2"))

  private lazy val COHESION_SQL =
    s"""WITH a AS (SELECT cluster, d2 FROM ($KMEANS_SQL))
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(d2 // 1024) // COUNT(*) AS BIGINT) AS mean_d2q,
       |  MIN(d2) AS min_d2, MAX(d2) AS max_d2
       |FROM a GROUP BY cluster""".stripMargin

  /** Per-cluster simplified silhouette — the separation readout cohesion
    * can't give (a tight cluster sitting INSIDE another one has great
    * cohesion and silhouette ≈ 0): per vector a = d² to its own centroid,
    * b = d² to the nearest OTHER centroid, sil = (b−a)/max(a,b) ∈ [0,1]
    * on the exact lattice (both distances floored by 2^10 FIRST — the
    * cohesion overflow discipline — then one milli division; b ≥ a by
    * construction so every operand is nonnegative and div/​// agree).
    * Best + runner-up come from ONE ×8 explode and a vec_id rank window
    * (WindowGroupLimit prunes to rn ≤ 2) — NOT a when-chain over the
    * argmin (the CollapseProject re-evaluation landmine) and NOT
    * sort_array (CodegenFallback would drag all 8 d² trees into
    * interpreted eval). Plan: the explode rides the checkpointed
    * projection scan; rank + per-vector fold share ONE vec_id exchange;
    * final ≤K-row cluster rollup. */
  def simSilhouette(s: SparkSession, dir: String): DataFrame = {
    val (assign, cents) = kmeansFit(s, dir)
    val pairs = cents.last.zipWithIndex.map { case (c, k) =>
      val d2 = (0 until 8)
        .map(i => (col(s"r$i") - lit(c(i))) * (col(s"r$i") - lit(c(i))))
        .reduce(_ + _)
      struct(d2.as("d2"), lit(k.toLong).as("k"))
    }
    val byVec = Window.partitionBy("vec_id").orderBy(col("e.d2"), col("e.k"))
    assign(cents.last)
      .select(col("vec_id"), explode(array(pairs.toSeq: _*)).as("e"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(min(when(col("rn") === 1, col("e.k"))).as("cluster"),
        min(when(col("rn") === 1, col("e.d2"))).as("a"),
        min(when(col("rn") === 2, col("e.d2"))).as("b"))
      .select(col("cluster"),
        expr("(b div 1024 - a div 1024) * 1000" +
          " div greatest(b div 1024, a div 1024, 1L)").as("sil"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(sil) div count(1)").as("mean_sil_milli"),
        min("sil").as("min_sil_milli"), max("sil").as("max_sil_milli"))
  }

  private lazy val SIL_SQL =
    s"""$KMEANS_CTES,
       |sl AS (
       |  SELECT vec_id, k, CAST(d2 AS BIGINT) AS d2, rn FROM (
       |    SELECT pr.vec_id, c2.k,
       |      list_sum(list_transform(generate_series(1, 8),
       |        i -> (pr.p[i] - c2.c[i]) * (pr.p[i] - c2.c[i]))) AS d2,
       |      ROW_NUMBER() OVER (PARTITION BY pr.vec_id
       |        ORDER BY list_sum(list_transform(generate_series(1, 8),
       |          i -> (pr.p[i] - c2.c[i]) * (pr.p[i] - c2.c[i]))), c2.k) AS rn
       |    FROM pr CROSS JOIN c2) WHERE rn <= 2),
       |ab AS (
       |  SELECT vec_id,
       |    MIN(CASE WHEN rn = 1 THEN k END) AS cluster,
       |    MIN(CASE WHEN rn = 1 THEN d2 END) AS a,
       |    MIN(CASE WHEN rn = 2 THEN d2 END) AS b
       |  FROM sl GROUP BY vec_id),
       |sv AS (
       |  SELECT cluster,
       |    (b // 1024 - a // 1024) * 1000
       |      // GREATEST(b // 1024, a // 1024, 1) AS sil
       |  FROM ab)
       |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(sil) // COUNT(*) AS BIGINT) AS mean_sil_milli,
       |  CAST(MIN(sil) AS BIGINT) AS min_sil_milli,
       |  CAST(MAX(sil) AS BIGINT) AS max_sil_milli
       |FROM sv GROUP BY cluster""".stripMargin

  /** Weekday activity profile per event surface — the calendar
    * seasonality readout (weekday-heavy errors vs weekend-heavy
    * purchases) next to occ_seasonality's month histogram: per
    * event_type the 7-day histogram collapsed to the peak weekday
    * (argmax = min over (−count, weekday) structs — hash aggregate,
    * deterministic earliest-day tie; the ivfTopk discipline), day
    * breadth, and the peak's exact milli share. Weekday is the DuckDB
    * convention (Sunday = 0 — Spark's dayofweek is 1-based, shifted
    * here). Two tiny partial-aggregated exchanges. */
  def eventsWeekdayProfile(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"),
        (dayofweek(expr("timestamp_micros(ts_ns div 1000)")) - 1)
          .cast("long").as("wd"))
      .groupBy("event_type", "wd").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum("n").as("n_total"), count(lit(1)).as("n_days"),
        min(struct((-col("n")).as("nn"), col("wd").as("dd"))).as("pk"))
      .select(col("event_type"), col("n_total"), col("n_days"),
        col("pk.dd").as("peak_weekday"), (-col("pk.nn")).as("peak_n"),
        expr("(-pk.nn) * 1000 div n_total").as("peak_millis"))

  /** Diurnal DFT — frequency-domain periodicity detection per event
    * type, the readout [[eventsWeekdayProfile]]'s argmax and
    * eventsSeasonalNaive's lag-24 baseline both presuppose but never
    * measure: the discrete Fourier transform of the hour-of-day profile
    * at harmonics k = 1..3 (24 h, 12 h, 8 h cycles) on an exact
    * fixed-point lattice. Trig values are 24 floor(±·2^10) LITERALS
    * embedded identically in both engines (splitmix-Rademacher
    * discipline); per-type counts fold re = Σ c_b·C[(k·b) mod 24] and
    * im likewise in exact BIGINTs, normalize by the type total
    * (truncating div — verified identical in Spark `div` and DuckDB
    * `//` for negatives), and square into |X_k|² ≤ 2·(1024·1000)² —
    * the square is overflow-free because normalization happens BEFORE
    * it (divide-by-n-first lattice); the normalization itself computes
    * re_raw·1000 ≤ 1024000·tot, so the finite envelope is ~9e12 events
    * per type (the arrival_regularity documentation discipline). power_ppm scales
    * against the constant DC² = 1024000²; a delta profile reads ~10^6,
    * a flat one ~0. is_dominant marks the strongest harmonic per type
    * (max-over-window on the 3-row group). Plan: ONE data-sized
    * (type, hour-of-day) agg, then a ×3 harmonic scatter over the
    * ≤|types|·24-row profile and tiny aggregates — nothing else touches
    * corpus scale. */
  /** floor(cos/sin(2πb/24)·2^10) for b = 0..23 — the ONE JVM-side
    * definition shared by this operator and Streams.diurnalDft (a
    * second hand-maintained copy could silently diverge the twin; the
    * DuckDB embedding stays separate per the both-engines literal
    * discipline, and AnalyticsSpec carries its own independent copy as
    * the typo canary). */
  private[graft] val DIURNAL_C: Seq[Long] = Seq(1024L, 989L, 886L, 724L,
    512L, 265L, 0L, -266L, -512L, -725L, -887L, -990L, -1024L, -990L,
    -887L, -725L, -513L, -266L, -1L, 265L, 512L, 724L, 886L, 989L)
  private[graft] val DIURNAL_S: Seq[Long] = Seq(0L, 265L, 511L, 724L,
    886L, 989L, 1024L, 989L, 886L, 724L, 511L, 265L, 0L, -266L, -512L,
    -725L, -887L, -990L, -1024L, -990L, -887L, -725L, -513L, -266L)

  def eventsDiurnalDft(s: SparkSession, dir: String): DataFrame = {
    val cTab = DIURNAL_C.map(v => s"${v}L").mkString(",")
    val sTab = DIURNAL_S.map(v => s"${v}L").mkString(",")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS % 24").as("b"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("b"), col("c"),
        explode(expr("array(1L,2L,3L)")).as("k"))
      .select(col("event_type"), col("k"), col("c"),
        (col("c") * expr(s"element_at(array($cTab), cast(k * b % 24 + 1 as int))")).as("re_t"),
        (col("c") * expr(s"element_at(array($sTab), cast(k * b % 24 + 1 as int))")).as("im_t"))
      .groupBy("event_type", "k")
      .agg(sum("re_t").as("re_raw"), sum("im_t").as("im_raw"),
        sum("c").as("tot"))
      .select(col("event_type"), col("k"),
        expr("re_raw * 1000 div tot").as("re_norm"),
        expr("im_raw * 1000 div tot").as("im_norm"))
      .withColumn("power_num",
        col("re_norm") * col("re_norm") + col("im_norm") * col("im_norm"))
      .withColumn("power_ppm",
        expr("power_num * 1000000 div 1048576000000"))
      .withColumn("is_dominant",
        col("power_num") === max("power_num")
          .over(Window.partitionBy("event_type")))
  }

  private val DIURNAL_DFT_SQL = {
    val c = "[1024,989,886,724,512,265,0,-266,-512,-725,-887,-990,-1024," +
      "-990,-887,-725,-513,-266,-1,265,512,724,886,989]"
    val sn = "[0,265,511,724,886,989,1024,989,886,724,511,265,0,-266," +
      "-512,-725,-887,-990,-1024,-990,-887,-725,-513,-266]"
    s"""WITH p AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS % 24 AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |t AS (
       |  SELECT event_type, kk.k AS k,
       |    CAST(SUM(c * ($c)[CAST(kk.k * b % 24 + 1 AS BIGINT)])
       |      AS BIGINT) AS re_raw,
       |    CAST(SUM(c * ($sn)[CAST(kk.k * b % 24 + 1 AS BIGINT)])
       |      AS BIGINT) AS im_raw,
       |    CAST(SUM(c) AS BIGINT) AS tot
       |  FROM p, (SELECT unnest(range(1, 4)) AS k) kk GROUP BY 1, 2),
       |n AS (
       |  SELECT event_type, k, re_raw * 1000 // tot AS re_norm,
       |    im_raw * 1000 // tot AS im_norm
       |  FROM t),
       |pw AS (
       |  SELECT event_type, k, re_norm, im_norm,
       |    re_norm * re_norm + im_norm * im_norm AS power_num
       |  FROM n)
       |SELECT event_type, k, re_norm, im_norm, power_num,
       |  power_num * 1000000 // 1048576000000 AS power_ppm,
       |  power_num = MAX(power_num) OVER (PARTITION BY event_type)
       |    AS is_dominant
       |FROM pw""".stripMargin
  }

  private val WEEKDAY_SQL =
    """WITH w AS (
      |  SELECT event_type,
      |    CAST(dayofweek(ts) AS BIGINT) AS wd
      |  FROM events),
      |h AS (SELECT event_type, wd, COUNT(*) AS n FROM w GROUP BY 1, 2)
      |SELECT event_type, CAST(n_total AS BIGINT) AS n_total,
      |  CAST(n_days AS BIGINT) AS n_days,
      |  wd AS peak_weekday, CAST(n AS BIGINT) AS peak_n,
      |  CAST(n * 1000 // n_total AS BIGINT) AS peak_millis
      |FROM (
      |  SELECT event_type, wd, n,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, wd) AS rn,
      |    SUM(n) OVER (PARTITION BY event_type) AS n_total,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_days
      |  FROM h)
      |WHERE rn = 1""".stripMargin

  /** Label-distribution balance over the embedding corpus — the class
    * audit a training-set owner reads before fitting anything: per-label
    * population and exact milli share, plus the GLOBAL effective class
    * count Σn·1000 div (Σn² div Σn) — the participation-ratio /
    * inverse-Simpson diversity on a divide-early floor lattice (k
    * balanced classes → k·1000, one dominant class → toward 1000;
    * the naive (Σn)²·1000 would overflow BIGINT past ~10⁸ rows) —
    * carried on every row. One |labels|-row aggregate; the global
    * windows ride it. */
  def dataClassBalance(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    t(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(wAll))
      .withColumn("sumsq", sum(col("n") * col("n")).over(wAll))
      .select(col("label"), col("n"),
        expr("n * 1000 div total").as("share_milli"),
        // divide-early lattice (CLAUDE.md overflow rule): sumsq ≥ total
        // so the inner floor is ≥ 1 and total·1000 is the only product
        expr("total * 1000 div (sumsq div total)").as("ess_class_milli"))
  }

  private val BALANCE_SQL =
    """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
      |             CAST(COUNT(*) AS BIGINT) AS n
      |           FROM embeddings GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |        CAST(SUM(n * n) AS BIGINT) AS sumsq FROM c)
      |SELECT label, n,
      |  CAST(n * 1000 // total AS BIGINT) AS share_milli,
      |  CAST(total * 1000 // (sumsq // total) AS BIGINT) AS ess_class_milli
      |FROM c, t""".stripMargin

  /** Daily HLL sketches merged into a period union — the MERGEABILITY
    * demo that is the entire point of sketches on a cluster: per-day
    * 64-register sketches (q14's deterministic md5 lattice) combine
    * into the 30-day-period estimate by a register-wise MAX — no rescan
    * of the raw stream — and the row ships that union next to the naive
    * sum of daily estimates (which double-counts returning users) and
    * the exact distinct count (the error yardstick). All register math
    * is exact BIGINT; each estimate spends exactly ONE double division
    * on an integer w (identical IEEE both engines, the q14 discipline);
    * daily estimates cross the day→period fold as exact FLOORED
    * integers so no float ever sums. Plan: one (day, reg) partial agg
    * (checkpointed — the daily fold and the month merge both read it);
    * every later stage is day- or period-grain. */
  def eventsHllDailyUnion(s: SparkSession, dir: String): DataFrame = {
    val h =
      "cast(conv(substring(md5(cast(cast(user_id as string) as binary)), 1, 15), 16, 10) as bigint)"
    val est = lit(0.709 * 64 * 64 * 36028797018963968.0) / col("w").cast("double")
    val wAgg = (sum(expr("shiftleft(1L, 55 - rho)")) +
      (lit(64L) - count(lit(1))) * lit(36028797018963968L)).as("w")
    val dayreg = DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS").as("day"), expr(h).as("h"))
      .select(col("day"), expr("h & 63").as("reg"),
        expr("case when shiftright(h, 6) = 0 then 55" +
          " else 55 - length(bin(shiftright(h, 6))) end").as("rho"))
      .groupBy("day", "reg").agg(max("rho").as("rho"))
      .transform(graft.Ckpt.capped) // feeds the daily fold AND the period merge
    val daily = dayreg.groupBy("day").agg(wAgg)
      .select(expr("day div 30").as("period"),
        floor(est).cast("long").as("est_floor"))
      .groupBy("period")
      .agg(count(lit(1)).as("n_days"),
        sum("est_floor").as("sum_daily_est_floor"))
    val union = dayreg.withColumn("period", expr("day div 30"))
      .groupBy("period", "reg").agg(max("rho").as("rho"))
      .groupBy("period").agg(wAgg)
      .select(col("period"), est.as("union_est"))
    val exact = DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS div 30").as("period"), col("user_id"))
      .distinct().groupBy("period").agg(count(lit(1)).as("exact_users"))
    daily.join(union, Seq("period")).join(exact, Seq("period"))
  }

  private val HLL_UNION_SQL =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |hh AS (SELECT day,
       |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |       FROM e),
       |r AS (SELECT day, h & 63 AS reg,
       |        CASE WHEN (h >> 6) = 0 THEN 55
       |             ELSE 55 - length(bin(h >> 6)) END AS rho
       |      FROM hh),
       |dr AS (SELECT day, reg, MAX(rho) AS rho FROM r GROUP BY 1, 2),
       |dw AS (SELECT day, SUM(1::BIGINT << (55 - rho))
       |         + (64 - COUNT(*)) * (1::BIGINT << 55) AS w
       |       FROM dr GROUP BY 1),
       |de AS (SELECT day // 30 AS period,
       |         CAST(FLOOR(CAST(0.709 AS DOUBLE) * 64 * 64
       |           * CAST(36028797018963968 AS DOUBLE) / CAST(w AS DOUBLE))
       |           AS BIGINT) AS est_floor
       |       FROM dw),
       |dd AS (SELECT period, CAST(COUNT(*) AS BIGINT) AS n_days,
       |         CAST(SUM(est_floor) AS BIGINT) AS sum_daily_est_floor
       |       FROM de GROUP BY 1),
       |mr AS (SELECT day // 30 AS period, reg, MAX(rho) AS rho
       |       FROM dr GROUP BY 1, 2),
       |mw AS (SELECT period, SUM(1::BIGINT << (55 - rho))
       |         + (64 - COUNT(*)) * (1::BIGINT << 55) AS w
       |       FROM mr GROUP BY 1),
       |mu AS (SELECT period, CAST(0.709 AS DOUBLE) * 64 * 64
       |         * CAST(36028797018963968 AS DOUBLE) / CAST(w AS DOUBLE)
       |         AS union_est
       |       FROM mw),
       |ex AS (SELECT day // 30 AS period,
       |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
       |       FROM e GROUP BY 1)
       |SELECT dd.period, n_days, sum_daily_est_floor, union_est, exact_users
       |FROM dd JOIN mu ON mu.period = dd.period
       |JOIN ex ON ex.period = dd.period""".stripMargin

  /** Cross-metric rate correlation — the which-signals-move-TOGETHER
    * readout next to events_rate_autocorr's self-lag: for every pair of
    * event types, the regression slope of one hourly rate on the other
    * over their co-active hours, on the exact integer OLS lattice
    * (n·Σxy − ΣxΣy over n·Σxx − Σx², sign + abs milli — the
    * degree_assortativity discipline; no float ever accumulates). A
    * strongly coupled pair (errors track retries) points at shared
    * cause; a flat one rules it out. Plan: ONE (type, hour) partial
    * aggregate (checkpointed — both self-join sides read it), the pair
    * join keyed on hour, and a ≤|types|²-row final fold. */
  def eventsRateXcorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = DomainQueries.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("hour"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped) // both pair sides read it
    hourly.toDF("type_a", "hour", "x")
      .join(hourly.toDF("type_b", "h2", "y"),
        col("h2") === col("hour") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_hours"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(col("type_a"), col("type_b"), col("n_hours"), col("sx"),
        col("sy"), col("sxy"),
        expr("n_hours * sxy - sx * sy").as("cov_n"),
        expr("cast(case when n_hours * sxy - sx * sy < 0 then -1 else 1 end as bigint)")
          .as("slope_sign"),
        expr("""case when n_hours * sxx - sx * sx = 0 then 0
                else abs(n_hours * sxy - sx * sy) * 1000
                  div (n_hours * sxx - sx * sx) end""").as("abs_slope_milli"))
  }

  private val XCORR_SQL =
    """WITH e AS (SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour
      |           FROM events),
      |h AS (SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM e GROUP BY 1, 2),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        a.n AS x, b.n AS y
      |      FROM h a JOIN h b ON a.hour = b.hour
      |        AND a.event_type < b.event_type),
      |s AS (SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(x * y) AS BIGINT) AS sxy,
      |        CAST(SUM(x * x) AS BIGINT) AS sxx
      |      FROM p GROUP BY 1, 2)
      |SELECT type_a, type_b, n_hours, sx, sy, sxy,
      |  n_hours * sxy - sx * sy AS cov_n,
      |  CAST(CASE WHEN n_hours * sxy - sx * sy < 0 THEN -1 ELSE 1 END
      |    AS BIGINT) AS slope_sign,
      |  CASE WHEN n_hours * sxx - sx * sx = 0 THEN 0
      |       ELSE abs(n_hours * sxy - sx * sy) * 1000
      |         // (n_hours * sxx - sx * sx) END AS abs_slope_milli
      |FROM s""".stripMargin

  /** Upsampling plan toward class balance — the mixture intervention
    * [[dataClassBalance]] only measures: per source class, the integer
    * replication factor that lifts it toward the LARGEST class
    * (rep = clamp(n_max div n, 1, 8) — capped so a sliver class can
    * never explode the corpus), the post-upsample size, and the
    * resulting share. All exact BIGINTs (floor divisions both engines
    * replay); the plan itself is the deliverable — the actual
    * replication is a generate_series explode against these factors.
    * Plan: one |sources|-row aggregate; both global folds ride
    * unpartitioned windows over that aggregate (rows = |classes|,
    * never corpus-sized). */
  def dataUpsamplePlan(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    t(s, dir, "documents").groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("n_max", max("n").over(wAll))
      .withColumn("rep", expr("least(8, greatest(1, n_max div n))"))
      .withColumn("n_after", expr("n * rep"))
      .withColumn("total_after", sum("n_after").over(wAll))
      .select(col("source"), col("n"), col("n_max"), col("rep"),
        col("n_after"),
        expr("n_after * 1000 div total_after").as("share_after_milli"))
  }

  /** Temperature-scaled source mixing (T = 2) — the standard
    * multilingual/multi-source corpus weighting between
    * [[dataUpsamplePlan]]'s full equalization (T = ∞ toward the cap)
    * and raw proportional sampling (T = 1): sampling weight
    * w_s = √n_s flattens the source distribution without erasing it.
    * Exact replay: w = floor(sqrt(n)) is deterministic cross-engine —
    * IEEE-754 sqrt is a correctly-rounded basic op, and for n < 2^52
    * the rounded value can never cross an integer boundary (the error
    * 1/(2√n) dwarfs a half-ulp), so both engines floor identically;
    * every share and the 100k-doc budget allocation are positive
    * integer divisions. Plan: ONE |sources|-row partial-aggregated
    * exchange; both totals ride tiny unpartitioned windows over that
    * aggregate. */
  def dataMixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    t(s, dir, "documents").groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("w", expr("cast(floor(sqrt(cast(n as double))) as bigint)"))
      .withColumn("total", sum("n").over(wAll))
      .withColumn("wsum", sum("w").over(wAll))
      .select(col("source"), col("n"), col("w"),
        expr("n * 1000 div total").as("raw_share_milli"),
        expr("w * 1000 div wsum").as("temp_share_milli"),
        expr("w * 100000 div wsum").as("quota"),
        expr("(w * 100000 div wsum) * 1000 div n").as("sample_rate_milli"))
  }

  /** Differentially-private count release (two-sided geometric
    * mechanism, ε = ln 2) — the privacy-preserving STATISTICS-RELEASE
    * step after [[Records.metaPseudonymizeAudit]]'s key rewrite: each
    * per-source document count ships with additive noise z = g₁ − g₂,
    * two independent Geometric(1/2) draws, whose difference is the
    * discrete Laplace the geometric mechanism calls for. The draws are
    * hash-derived and therefore bit-identical cross-engine: the
    * leading-zero count of a 60-bit md5 lattice IS Geometric(1/2)
    * (P(g=k) = 2^-(k+1)), the exact trick the HLL registers use — and
    * the two draws use their OWN salts ('dpa:'/'dpb:', the
    * one-salt-per-stream rule; a shared salt would make z ≡ 0).
    * Deterministic replay of a "random" mechanism is exactly what a
    * privacy audit wants: the released table is reproducible from the
    * salt. Plan: ONE |sources|-row partial-aggregated exchange; the
    * noise is a codegen projection on the aggregate. */
  def dataDpCounts(s: SparkSession, dir: String): DataFrame = {
    def g(salt: String) =
      s"""case when h$salt = 0 then 60 else 60 - length(bin(h$salt)) end"""
    def h(salt: String) =
      s"cast(conv(substring(md5(cast(concat('dp$salt:', source) as binary)), 1, 15), 16, 10) as bigint)"
    t(s, dir, "documents").groupBy("source").agg(count(lit(1)).as("n"))
      .withColumn("ha", expr(h("a"))).withColumn("hb", expr(h("b")))
      .select(col("source"), col("n"),
        (expr(g("a")) - expr(g("b"))).cast("long").as("noise"))
      .select(col("source"), col("n"), col("noise"),
        expr("greatest(n + noise, 0L)").as("released"),
        expr("abs(greatest(n + noise, 0L) - n)").as("abs_err"))
  }

  private val DP_SQL =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY 1),
      |hh AS (SELECT source, n,
      |         ('0x' || substr(md5('dpa:' || source), 1, 15))::BIGINT AS ha,
      |         ('0x' || substr(md5('dpb:' || source), 1, 15))::BIGINT AS hb
      |       FROM c),
      |z AS (SELECT source, n,
      |        CAST((CASE WHEN ha = 0 THEN 60 ELSE 60 - length(bin(ha)) END)
      |          - (CASE WHEN hb = 0 THEN 60 ELSE 60 - length(bin(hb)) END)
      |          AS BIGINT) AS noise
      |      FROM hh)
      |SELECT source, n, noise,
      |  GREATEST(n + noise, 0) AS released,
      |  ABS(GREATEST(n + noise, 0) - n) AS abs_err
      |FROM z""".stripMargin

  private val MIXTEMP_SQL =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY 1),
      |w AS (SELECT source, n,
      |        CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w
      |      FROM c),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |        CAST(SUM(w) AS BIGINT) AS wsum FROM w)
      |SELECT source, n, w,
      |  n * 1000 // total AS raw_share_milli,
      |  w * 1000 // wsum AS temp_share_milli,
      |  w * 100000 // wsum AS quota,
      |  (w * 100000 // wsum) * 1000 // n AS sample_rate_milli
      |FROM w, g""".stripMargin

  private val UPSAMPLE_SQL =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY 1),
      |m AS (SELECT CAST(MAX(n) AS BIGINT) AS n_max FROM c),
      |r AS (SELECT source, n, n_max,
      |        LEAST(8, GREATEST(1, n_max // n)) AS rep,
      |        n * LEAST(8, GREATEST(1, n_max // n)) AS n_after
      |      FROM c, m),
      |t2 AS (SELECT CAST(SUM(n_after) AS BIGINT) AS total_after FROM r)
      |SELECT source, n, n_max, rep, n_after,
      |  n_after * 1000 // total_after AS share_after_milli
      |FROM r, t2""".stripMargin

  /** Benford first-digit audit over order totals — the fabricated-data
    * screen finance runs on expense feeds, applied per order priority:
    * organically-priced totals follow Benford's law closely, a
    * synthesized or clamped feed does not. The observed per-digit
    * milli frequency sits next to the Benford expectation
    * (round(log10(1+1/d)·1000) — nine LITERALS embedded identically in
    * both engines, never a runtime log) and the absolute deviation.
    * Digit extraction is exact: first character of the BIGINT cents
    * string — no float log, no locale formatting. Plan: one
    * (priority, digit) partial-agg exchange (≤ priorities×9 rows),
    * per-priority totals broadcast back. */
  def dataBenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "orders")
      .select(col("o_orderpriority"), substring(
        expr("cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string)"),
        1, 1).as("digit"))
      .groupBy("o_orderpriority", "digit").agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped) // feeds the total fold and the output
    val tot = cells.groupBy("o_orderpriority").agg(sum("n").as("total"))
    cells.join(broadcast(tot), "o_orderpriority")
      .withColumn("obs_milli", expr("n * 1000 div total"))
      .select(col("o_orderpriority"), col("digit"), col("n"), col("total"),
        col("obs_milli"),
        expr("""cast(case digit when '1' then 301 when '2' then 176
                when '3' then 125 when '4' then 97 when '5' then 79
                when '6' then 67 when '7' then 58 when '8' then 51
                else 46 end as bigint)""").as("exp_milli"))
      .withColumn("dev_milli", expr("abs(obs_milli - exp_milli)"))
  }

  private val BENFORD_SQL =
    """WITH d AS (
      |  SELECT o_orderpriority,
      |    substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS VARCHAR), 1, 1) AS digit
      |  FROM orders),
      |c AS (SELECT o_orderpriority, digit, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM d GROUP BY 1, 2),
      |t AS (SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS total
      |      FROM c GROUP BY 1)
      |SELECT c.o_orderpriority, digit, n, total,
      |  n * 1000 // total AS obs_milli,
      |  CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176
      |       WHEN '3' THEN 125 WHEN '4' THEN 97 WHEN '5' THEN 79
      |       WHEN '6' THEN 67 WHEN '7' THEN 58 WHEN '8' THEN 51
      |       ELSE 46 END AS BIGINT) AS exp_milli,
      |  abs(n * 1000 // total
      |    - CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176
      |           WHEN '3' THEN 125 WHEN '4' THEN 97 WHEN '5' THEN 79
      |           WHEN '6' THEN 67 WHEN '7' THEN 58 WHEN '8' THEN 51
      |           ELSE 46 END AS BIGINT)) AS dev_milli
      |FROM c JOIN t ON t.o_orderpriority = c.o_orderpriority""".stripMargin

  /** Inter-arrival regularity per event surface — the burstiness
    * readout (is traffic steady, Poisson-ish, or clumped) behind
    * eventsGapHistogram's shape: per event_type the gap count, the
    * floor mean gap in minutes, and the dispersion index
    * 1000·E[g²]/E[g]² on the SAME floor lattice both engines replay
    * (divide-by-n BEFORE the big products — every intermediate stays
    * far inside BIGINT at any corpus size; a constant stream → 1000,
    * exponential arrivals → ~2000, bursts → larger). One user-type
    * window exchange + one |types|-row aggregate. */
  def eventsArrivalRegularity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("prev", lag("ts_ns", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(ts_ns - prev) div 60000000000").as("gap_min"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_min").as("sg"), sum(expr("gap_min * gap_min")).as("sg2"))
      .select(col("event_type"), col("n_gaps"),
        expr("sg div n_gaps").as("mean_gap_min"),
        // sub-minute pooled means floor to 0 — NULL the ratio instead of
        // dividing by zero (ANSI Spark throws, DuckDB // 0 is NULL)
        when(expr("sg div n_gaps") > 0,
          expr("(sg2 div n_gaps) * 1000 div ((sg div n_gaps) * (sg div n_gaps))"))
          .as("dispersion_milli"))
  }

  private val REGULARITY_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |g AS (SELECT event_type,
      |        (ts_ns - LAG(ts_ns) OVER (PARTITION BY user_id, event_type
      |           ORDER BY ts_ns, event_id)) // 60000000000 AS gap_min
      |      FROM e),
      |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |        CAST(SUM(gap_min) AS BIGINT) AS sg,
      |        CAST(SUM(gap_min * gap_min) AS BIGINT) AS sg2
      |      FROM g WHERE gap_min IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps,
      |  CAST(sg // n_gaps AS BIGINT) AS mean_gap_min,
      |  CASE WHEN sg // n_gaps > 0 THEN
      |    CAST((sg2 // n_gaps) * 1000 // ((sg // n_gaps) * (sg // n_gaps))
      |      AS BIGINT) END AS dispersion_milli
      |FROM a""".stripMargin

  /** SLO error-budget burn — the SRE readout over the event stream (is
    * the error rate eating the budget, and when did we go over): per
    * hour the total/error counts and the exact milli burn rate, plus
    * the RUNNING burn since epoch and an over-budget verdict against
    * [[SLO_MILLI]] (chosen at the corpus' ~200‰ error share so the
    * verdict genuinely flips). Divisions are positive-integer only;
    * the cumulative windows ride the ≤calendar-hours aggregate. */
  def eventsErrorBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("hour_id").rowsBetween(Window.unboundedPreceding, 0)
    DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $HOUR_NS").as("hour_id"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("hour_id")
      .agg(count(lit(1)).as("n_total"), sum("err").as("n_err"))
      .withColumn("burn_milli", expr("n_err * 1000 div n_total"))
      .withColumn("cum_err", sum("n_err").over(w))
      .withColumn("cum_total", sum("n_total").over(w))
      .withColumn("cum_burn_milli", expr("cum_err * 1000 div cum_total"))
      .withColumn("over_budget", col("cum_burn_milli") > SLO_MILLI)
      .drop("cum_err", "cum_total")
  }

  private[graft] val SLO_MILLI = 200L

  private val BUDGET_SQL =
    s"""WITH h AS (
       |  SELECT epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
       |  FROM events),
       |c AS (SELECT hour_id, CAST(COUNT(*) AS BIGINT) AS n_total,
       |        CAST(SUM(err) AS BIGINT) AS n_err
       |      FROM h GROUP BY 1)
       |SELECT hour_id, n_total, n_err,
       |  CAST(n_err * 1000 // n_total AS BIGINT) AS burn_milli,
       |  CAST(SUM(n_err) OVER w * 1000 // SUM(n_total) OVER w AS BIGINT)
       |    AS cum_burn_milli,
       |  CAST(SUM(n_err) OVER w * 1000 // SUM(n_total) OVER w AS BIGINT)
       |    > $SLO_MILLI AS over_budget
       |FROM c
       |WINDOW w AS (ORDER BY hour_id ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** Lag-1 rate autocorrelation per event type — the "is traffic
    * momentum real" read that decides whether a forecaster (or an
    * autoscaler) gets to assume hour-over-hour persistence. Rates enter
    * as floor-log2 of the hourly count (x ≤ 63 forever, so every
    * sufficient-statistic sum stays BIGINT-safe at any corpus size —
    * raw-count products would overflow at ~1e10 events/hour), pairs are
    * CONSECUTIVE hours only (lead + contiguity filter — a gap is not
    * evidence), and the AR(1) regression slope ships as sign + abs
    * milli (abs before div: Spark `div` truncates, DuckDB `//` floors;
    * they agree only on non-negative operands), with the raw sums
    * alongside. Plan: (type, hour) partial agg, the lead window rides
    * the same type partitioning, then a ≤|types|-row fold. */
  def eventsRateAutocorr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour_id")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("hour_id"),
        expr("cast(length(bin(c)) - 1 as bigint)").as("x"))
      .withColumn("next_hour", lead("hour_id", 1).over(w))
      .withColumn("y", lead("x", 1).over(w))
      .filter(col("next_hour") === col("hour_id") + 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
      .filter(col("n_pairs") >= 2)
      .withColumn("num", expr("n_pairs * sxy - sx * sy"))
      .withColumn("den", expr("n_pairs * sxx - sx * sx"))
      .withColumn("ar1_sign",
        expr("cast(case when num < 0 then -1 else 1 end as bigint)"))
      .withColumn("abs_ar1_milli",
        expr("case when den = 0 then 0 else abs(num) * 1000 div den end"))
  }

  private val AUTOCORR_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT event_type, hour_id,
       |        CAST(length(bin(c)) - 1 AS BIGINT) AS x FROM h),
       |p AS (SELECT a.event_type, a.x AS x, bb.x AS y
       |      FROM b a JOIN b bb ON bb.event_type = a.event_type
       |        AND bb.hour_id = a.hour_id + 1),
       |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |        CAST(SUM(x * y) AS BIGINT) AS sxy,
       |        CAST(SUM(x * x) AS BIGINT) AS sxx,
       |        CAST(SUM(y * y) AS BIGINT) AS syy
       |      FROM p GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT event_type, n_pairs, sx, sy, sxy, sxx, syy,
       |  n_pairs * sxy - sx * sy AS num,
       |  n_pairs * sxx - sx * sx AS den,
       |  CAST(CASE WHEN n_pairs * sxy - sx * sy < 0 THEN -1 ELSE 1 END
       |    AS BIGINT) AS ar1_sign,
       |  CASE WHEN n_pairs * sxx - sx * sx = 0 THEN 0
       |       ELSE abs(n_pairs * sxy - sx * sy) * 1000
       |         // (n_pairs * sxx - sx * sx) END AS abs_ar1_milli
       |FROM s""".stripMargin

  /** Behavioral-entropy distribution — how concentrated is each user's
    * event mix, rolled into a ≤~60-row histogram: per user the exact
    * integer Shannon lattice (bits = Σ n_t·floor-log2(n/n_t), the
    * occ_cell_diversity discipline applied to (user, type)), then users
    * bucket by quarter-bit (milli-bits div 250). A bot that only ever
    * fires one event type lands in bin 0; organic users spread. Plan:
    * (user, type) partial agg, the user total window and the per-user
    * fold ride ONE user_id exchange, then the tiny bin agg. */
  def eventsUserEntropy(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id")
    DomainQueries.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("nt"))
      .withColumn("n", sum("nt").over(wUser))
      .withColumn("b", expr("cast(length(bin(n div nt)) - 1 as bigint)"))
      .groupBy("user_id")
      .agg(max("n").as("n"), count(lit(1)).as("k"),
        sum(expr("nt * b")).as("bits_sum"))
      .select(col("n"), col("k"), expr("bits_sum * 1000 div n").as("milli_bits"))
      .groupBy(expr("milli_bits div 250").as("qbit_bin"))
      .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"),
        min("k").as("k_min"), max("k").as("k_max"))
  }

  private val USER_ENTROPY_SQL =
    """WITH ut AS (
      |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT user_id, nt,
      |        CAST(SUM(nt) OVER (PARTITION BY user_id) AS BIGINT) AS n
      |      FROM ut),
      |u AS (SELECT user_id, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k,
      |        CAST(SUM(nt * (length(bin(n // nt)) - 1)) AS BIGINT) AS bits_sum
      |      FROM w GROUP BY 1),
      |m AS (SELECT n, k, bits_sum * 1000 // n AS milli_bits FROM u)
      |SELECT milli_bits // 250 AS qbit_bin, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(n) AS BIGINT) AS n_events, MIN(k) AS k_min, MAX(k) AS k_max
      |FROM m GROUP BY 1""".stripMargin

  /** Seasonal-naive forecast audit — the MASE-style gate that decides
    * whether "same hour yesterday" beats "last hour" as a baseline
    * before anyone ships a fancier forecaster: per type, the exact
    * integer absolute-error mass of the 24h-seasonal predictor vs the
    * lag-1 naive predictor over hours where BOTH references exist, and
    * their milli ratio (< 1000 ⟹ daily seasonality is real signal).
    * The hourly aggregate is localCheckpoint'd — it feeds the anchor
    * scan and both predictor joins, the multi-reference replay trap —
    * and both reference joins are hour-shifted EQUI-joins (no window
    * row-lag: with a missing hour in between, lag(24) lands on the
    * wrong hour while the join stays honest). */
  def eventsSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val h = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    h.join(h.toDF("et_p", "ph", "pc"),
        col("et_p") === col("event_type") && col("ph") === col("hour_id") - 1)
      .join(h.toDF("et_s", "sh", "sc"),
        col("et_s") === col("event_type") && col("sh") === col("hour_id") - 24)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("c") - col("sc"))).as("sae_seasonal"),
        sum(abs(col("c") - col("pc"))).as("sae_naive"))
      .withColumn("mase_milli",
        expr("case when sae_naive = 0 then -1 " +
          "else sae_seasonal * 1000 div sae_naive end"))
  }

  private val SEASONAL_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2)
       |SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |  CAST(SUM(abs(a.c - s.c)) AS BIGINT) AS sae_seasonal,
       |  CAST(SUM(abs(a.c - p.c)) AS BIGINT) AS sae_naive,
       |  CASE WHEN SUM(abs(a.c - p.c)) = 0 THEN -1
       |       ELSE CAST(SUM(abs(a.c - s.c)) * 1000
       |         // SUM(abs(a.c - p.c)) AS BIGINT) END AS mase_milli
       |FROM h a
       |JOIN h p ON p.event_type = a.event_type AND p.hour_id = a.hour_id - 1
       |JOIN h s ON s.event_type = a.event_type AND s.hour_id = a.hour_id - 24
       |GROUP BY 1""".stripMargin

  /** Alert-flap rate per user — the monitoring primitive that separates
    * "one incident" from "a pager storm": each user's event stream
    * becomes a binary error/ok signal in arrival order (ts, event_id
    * tiebreak — a deterministic total order on both engines) and the
    * operator counts state FLIPS, shipping flips per opportunity as
    * exact milli. One user_id window exchange; the per-user fold rides
    * the same partitioning. */
  def eventsFlapRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("st"))
      .withColumn("pst", lag("st", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("st").as("n_err"),
        sum(when(col("pst").isNotNull && col("st") =!= col("pst"), 1L)
          .otherwise(0L)).as("n_flips"))
      .withColumn("flap_milli",
        expr("case when n_events <= 1 then 0 " +
          "else n_flips * 1000 div (n_events - 1) end"))
  }

  private val FLAP_SQL =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 * 1000 AS ts_ns, event_id,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS st
      |  FROM events),
      |l AS (SELECT user_id, st,
      |        lag(st) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS pst
      |      FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(st) AS BIGINT) AS n_err,
      |  CAST(SUM(CASE WHEN pst IS NOT NULL AND st <> pst THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_flips,
      |  CASE WHEN COUNT(*) <= 1 THEN 0
      |       ELSE CAST(SUM(CASE WHEN pst IS NOT NULL AND st <> pst
      |           THEN 1 ELSE 0 END) * 1000 // (COUNT(*) - 1) AS BIGINT)
      |  END AS flap_milli
      |FROM l GROUP BY 1""".stripMargin

  /** Incident run-length encoding — the gaps-and-islands pattern (group
    * key = value minus rank, a relational shape nothing else on the
    * board exercises): hours burning over the 200‰ SLO collapse into
    * consecutive RUNS with start, length and error mass — "how LONG do
    * incidents last", which events_error_budget's per-hour burn can't
    * answer. The global row_number window runs over the post-filter
    * HOURLY aggregate — bounded by the calendar (the error_budget
    * precedent), never by event volume. */
  def eventsIncidentRuns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("hour_id")
    DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $HOUR_NS").as("hour_id"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("hour_id").agg(count(lit(1)).as("n_total"), sum("err").as("n_err"))
      .filter(expr(s"n_err * 1000 div n_total > $SLO_MILLI"))
      .withColumn("grp", col("hour_id") - row_number().over(w))
      .groupBy("grp")
      .agg(min("hour_id").as("run_start_hour"), count(lit(1)).as("n_hours"),
        sum("n_err").as("total_errs"))
      .select("run_start_hour", "n_hours", "total_errs")
  }

  private val INCIDENT_SQL =
    s"""WITH h AS (
       |  SELECT epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_total,
       |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_err
       |  FROM events GROUP BY 1),
       |bad AS (SELECT hour_id, n_err FROM h
       |        WHERE n_err * 1000 // n_total > $SLO_MILLI),
       |isl AS (SELECT hour_id, n_err,
       |          hour_id - ROW_NUMBER() OVER (ORDER BY hour_id) AS grp
       |        FROM bad)
       |SELECT MIN(hour_id) AS run_start_hour,
       |  CAST(COUNT(*) AS BIGINT) AS n_hours,
       |  CAST(SUM(n_err) AS BIGINT) AS total_errs
       |FROM isl GROUP BY grp""".stripMargin

  /** Hash-split experiment calibration (the A/A read): users assign to
    * two arms by md5 ('ab:' salt — its OWN hash stream, the operator-
    * correlation landmine), and each arm reports exact user/event/
    * purchase counts, fixed-point purchase-value mass, and milli rates.
    * On an A/A corpus the two rows should agree within noise — the
    * assignment-quality gate you run BEFORE trusting any experiment
    * readout from the same splitter. Per-user partial agg then a 2-row
    * arm fold; nothing but counters ever shuffles. */
  def eventsAbLift(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("user_id"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"),
        when(col("event_type") === "purchase",
          expr("cast(floor(value * 1000) as bigint)")).otherwise(0L).as("val_milli"))
      .groupBy("arm", "user_id")
      .agg(count(lit(1)).as("ne"), sum("pur").as("np"), sum("val_milli").as("v"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("ne").as("n_events"),
        sum("np").as("n_pur"), sum("v").as("value_milli"))
      .withColumn("pur_rate_milli", expr("n_pur * 1000 div n_events"))
      .withColumn("pur_per_user_milli", expr("n_pur * 1000 div n_users"))
      .withColumn("value_per_pur_milli", expr("value_milli div n_pur"))

  private val AB_SQL =
    """WITH e AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END AS val_milli
      |  FROM events),
      |u AS (SELECT arm, user_id, CAST(COUNT(*) AS BIGINT) AS ne,
      |        CAST(SUM(pur) AS BIGINT) AS np, CAST(SUM(val_milli) AS BIGINT) AS v
      |      FROM e GROUP BY 1, 2)
      |SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(ne) AS BIGINT) AS n_events,
      |  CAST(SUM(np) AS BIGINT) AS n_pur,
      |  CAST(SUM(v) AS BIGINT) AS value_milli,
      |  CAST(SUM(np) AS BIGINT) * 1000 // CAST(SUM(ne) AS BIGINT) AS pur_rate_milli,
      |  CAST(SUM(np) AS BIGINT) * 1000 // CAST(COUNT(*) AS BIGINT) AS pur_per_user_milli,
      |  CAST(SUM(v) AS BIGINT) // CAST(SUM(np) AS BIGINT) AS value_per_pur_milli
      |FROM u GROUP BY 1""".stripMargin

  /** Distribution drift monitor — per-day L1 distance between the day's
    * event-type mix and the global mix, in exact milli shares (the
    * PSI/KL shape without the logs both engines would round apart):
    * the one-number-per-day alarm that catches a producer silently
    * changing its emit mix. ≤|days| rows; per-(day,type) cells join the
    * broadcast ≤|types|-row global profile, and the day total rides a
    * window on the same day partitioning. */
  def eventsMixDrift(s: SparkSession, dir: String): DataFrame = {
    val wDay = Window.partitionBy("day")
    val c = DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS").as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped) // feeds the global profile AND the per-day cells
    val g = c.groupBy("event_type").agg(sum("n").as("gn"))
      .withColumn("tot", sum("gn").over(Window.partitionBy()))
    c.withColumn("dn", sum("n").over(wDay))
      .join(broadcast(g), "event_type")
      .select(col("day"), col("dn"),
        abs(expr("n * 1000 div dn") - expr("gn * 1000 div tot")).as("dev"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_types"), max("dn").as("n_day"),
        sum("dev").as("l1_drift_milli"))
  }

  private val MIX_DRIFT_SQL =
    s"""WITH c AS (
       |  SELECT epoch_ns(ts) // $DAY_NS AS day, event_type,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |g AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS gn FROM c GROUP BY 1),
       |gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS tot FROM g),
       |d AS (SELECT day, CAST(SUM(n) AS BIGINT) AS dn FROM c GROUP BY 1)
       |SELECT c.day, CAST(COUNT(*) AS BIGINT) AS n_types, MAX(d.dn) AS n_day,
       |  CAST(SUM(abs(c.n * 1000 // d.dn - g.gn * 1000 // gt.tot)) AS BIGINT)
       |    AS l1_drift_milli
       |FROM c JOIN d ON d.day = c.day
       |JOIN g ON g.event_type = c.event_type, gt
       |GROUP BY 1""".stripMargin

  /** Reorder-interval spectrum — per market segment, the floor-log2
    * distribution of days between a customer's consecutive orders (ties
    * broken by o_orderkey: a deterministic total order on both
    * engines). The purchase-cadence read behind churn models and
    * inventory planning, and the orders-table cousin of
    * events_gap_histogram. One o_custkey window exchange + the ≤
    * segments×13-row bin agg; customer broadcast for the segment. */
  def customerReorderGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
      .join(broadcast(t(s, dir, "customer")), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"),
        expr("cast(length(bin(gap_days + 1)) - 1 as bigint)").as("gap_bits"))
      .agg(count(lit(1)).as("n_gaps"), sum("gap_days").as("day_mass"),
        min("gap_days").as("min_days"), max("gap_days").as("max_days"))
  }

  private val REORDER_SQL =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate,
      |    lag(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS prev_date
      |  FROM orders),
      |g AS (SELECT o_custkey,
      |        CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days
      |      FROM o WHERE prev_date IS NOT NULL)
      |SELECT c_mktsegment,
      |  CAST(length(bin(gap_days + 1)) - 1 AS BIGINT) AS gap_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(SUM(gap_days) AS BIGINT) AS day_mass,
      |  MIN(gap_days) AS min_days, MAX(gap_days) AS max_days
      |FROM g JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1, 2""".stripMargin

  /** Within-session event-type co-occurrence — market basket over
    * SESSIONS (any order), the association read events_transition_matrix's
    * adjacent-pair counts can't give: for each unordered type pair, how
    * much more likely is b in a session that contains a than in a random
    * session? Shipped as P(b|a) vs P(b) in exact milli — the two-number
    * form that never computes the n_both·n_sessions product a classic
    * lift ratio would overflow on at 1e10 sessions. Reuses the ONE
    * sessionization fold (DomainQueries.withSessionIds). Plan: the
    * distinct (user, session, type) relation is localCheckpoint'd (it
    * feeds the self-join twice, the per-type totals and the session
    * count), type totals broadcast, session count is a driver literal
    * (the watermark-lag maxId precedent). */
  def eventsSessionCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val st = DomainQueries.withSessionIds(s, dir)
      .select("user_id", "session_id", "event_type").distinct()
      .transform(graft.Ckpt.capped)
    val nSessions = st.select("user_id", "session_id").distinct().count()
    val tn = st.groupBy("event_type").agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped) // referenced twice below
    st.toDF("user_id", "session_id", "type_a")
      .join(st.toDF("u2", "s2", "type_b"),
        col("u2") === col("user_id") && col("s2") === col("session_id") &&
          col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      .join(broadcast(tn.toDF("type_a", "n_a")), "type_a")
      .join(broadcast(tn.toDF("type_b", "n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), lit(nSessions).as("n_sessions"),
        expr("n_both * 1000 div n_a").as("p_b_given_a_milli"),
        expr(s"n_b * 1000 div $nSessions").as("p_b_milli"))
  }

  private val COOCCUR_SQL =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_ns(ts) // 1000 * 1000 AS ts_ns,
       |    event_id
       |  FROM events),
       |seq AS (
       |  SELECT user_id, event_type, ts_ns, event_id,
       |    CASE WHEN ts_ns - LAG(ts_ns) OVER (PARTITION BY user_id
       |           ORDER BY ts_ns, event_id) > 21600000000000
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM e),
       |ses AS (
       |  SELECT user_id, event_type,
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
       |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       |  FROM seq),
       |st AS (SELECT DISTINCT user_id, sid, event_type FROM ses),
       |ns AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions
       |       FROM st),
       |tn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_both
       |       FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
       |         AND a.event_type < b.event_type
       |       GROUP BY 1, 2)
       |SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b, ns.n_sessions,
       |  n_both * 1000 // ta.n AS p_b_given_a_milli,
       |  tb.n * 1000 // ns.n_sessions AS p_b_milli
       |FROM pr JOIN tn ta ON ta.event_type = type_a
       |JOIN tn tb ON tb.event_type = type_b, ns""".stripMargin

  def eventsRetention(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("cohort_day"), collect_set("day").as("days"))
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))

  private val RETENTION_SQL =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
       |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
       |  CAST(COUNT(*) AS BIGINT) AS n_active
       |FROM d JOIN c USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  /** Retention half-life — the one-number decay fit on top of
    * [[eventsRetention]]'s cohort×offset table: pool cohorts per offset
    * (numerator = actives at offset k, denominator = ONLY the cohorts
    * whose observation window reaches k — the gap-correct pooling that
    * keeps late cohorts from dragging the tail down), floor-log2 the
    * per-mille retention, and fit the exact-integer OLS slope of bits
    * vs offset (the zipf_slope discipline: raw sufficient statistics +
    * sign + abs-milli, no float anywhere). A drop of one BIT is a
    * halving, so half-life in offsets = 1/|slope|, shipped as
    * halflife_milli = 10^6 div slope_abs_milli when decaying. Offsets
    * are calendar-bounded (≤ the observation span); every aggregate
    * past the one user fold is day-grain. */
  def eventsRetentionHalflife(s: SparkSession, dir: String): DataFrame = {
    val perUser = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("cohort_day"), collect_set("day").as("days"))
      .transform(graft.Ckpt.capped) // act + cohort-size folds both read it
    val act = perUser
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .select((col("day") - col("cohort_day")).as("k"))
      .filter(col("k") >= 1)
      .groupBy("k").agg(count(lit(1)).as("act"))
    // observation horizon = the last OBSERVED day (not the last cohort
    // day — r10 first cut used max(cohort_day) and collapsed the fit to
    // one offset with a >1000‰ numerator/denominator mismatch)
    val last = perUser.agg(max(expr("array_max(days)")).as("last_day"))
    val den = perUser.groupBy("cohort_day")
      .agg(count(lit(1)).as("size"))
      .crossJoin(broadcast(last))
      .filter(col("last_day") > col("cohort_day"))
      .select(explode(expr("sequence(1L, last_day - cohort_day)")).as("k"),
        col("size"))
      .groupBy("k").agg(sum("size").as("den"))
    act.join(den, Seq("k"))
      .select(col("k"),
        expr("cast(length(bin(act * 1000 div den)) - 1 as bigint)").as("y"))
      .agg(count(lit(1)).as("n_offsets"),
        sum("k").as("sk"), sum("y").as("sy"),
        sum(expr("k * y")).as("sky"), sum(expr("k * k")).as("skk"))
      .select(col("n_offsets"),
        expr("n_offsets * sky - sk * sy").as("slope_num"),
        expr("n_offsets * skk - sk * sk").as("slope_den"))
      .select(col("n_offsets"),
        when(col("slope_num") < 0, -1L).when(col("slope_num") > 0, 1L)
          .otherwise(0L).as("slope_sign"),
        // single-offset corpora have slope_den = 0 (no fit exists):
        // NULL like the occ_morans_i degenerate-input convention
        when(col("slope_den") > 0,
          expr("abs(slope_num) * 1000 div slope_den")).as("slope_abs_milli"))
      .withColumn("halflife_milli",
        when(col("slope_sign") === -1 && col("slope_abs_milli") > 0,
          expr("1000000 div slope_abs_milli")))
  }

  private val RETENTION_HALFLIFE_SQL =
    s"""WITH d AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
       |act AS (
       |  SELECT d.day - c.cohort_day AS k, CAST(COUNT(*) AS BIGINT) AS act
       |  FROM d JOIN c USING (user_id) WHERE d.day - c.cohort_day >= 1
       |  GROUP BY 1),
       |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS size
       |       FROM c GROUP BY 1),
       |mx AS (SELECT MAX(day) AS last_day FROM d),
       |den AS (
       |  SELECT CAST(t.k AS BIGINT) AS k, CAST(SUM(size) AS BIGINT) AS den
       |  FROM sz, mx, LATERAL unnest(generate_series(1, last_day - cohort_day)) t(k)
       |  WHERE last_day > cohort_day
       |  GROUP BY 1),
       |y AS (
       |  SELECT act.k,
       |    CAST(length(bin(act * 1000 // den)) - 1 AS BIGINT) AS y
       |  FROM act JOIN den USING (k)),
       |f AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_offsets,
       |    CAST(SUM(k) AS BIGINT) AS sk, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(k * y) AS BIGINT) AS sky,
       |    CAST(SUM(k * k) AS BIGINT) AS skk
       |  FROM y),
       |s AS (
       |  SELECT n_offsets,
       |    n_offsets * sky - sk * sy AS slope_num,
       |    n_offsets * skk - sk * sk AS slope_den
       |  FROM f)
       |SELECT n_offsets,
       |  CAST(CASE WHEN slope_num < 0 THEN -1 WHEN slope_num > 0 THEN 1
       |       ELSE 0 END AS BIGINT) AS slope_sign,
       |  CASE WHEN slope_den > 0
       |       THEN abs(slope_num) * 1000 // slope_den END AS slope_abs_milli,
       |  CASE WHEN slope_den > 0 AND slope_num < 0
       |        AND abs(slope_num) * 1000 // slope_den > 0
       |       THEN 1000000 // (abs(slope_num) * 1000 // slope_den)
       |       END AS halflife_milli
       |FROM s""".stripMargin

  /** DAU/MAU stickiness per 30-day period — the engagement-depth ratio
    * next to [[eventsRetention]]'s cohort decay: of the users active in
    * a period, what fraction shows up on an average day? Shipped as
    * (Σ daily-actives · 1000) div (n_days · period-actives) — exact
    * BIGINTs, one floor division, both engines identical; never the
    * avg(dau)/mau float pair, which would diverge in the sum-then-divide
    * order. Plan: ONE wide exchange (the distinct user-day relation,
    * partial-agg combined map-side), localCheckpoint'd because it feeds
    * BOTH the per-day fold and the per-period distinct; everything
    * downstream is day- or period-grain (thousands of rows at any
    * corpus size). */
  def eventsStickiness(s: SparkSession, dir: String): DataFrame = {
    val du = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"))
      .distinct()
      .withColumn("period", expr("day div 30"))
      .transform(graft.Ckpt.capped) // feeds the dau fold and the mau distinct
    val dau = du.groupBy("period", "day").agg(count(lit(1)).as("dau"))
      .groupBy("period")
      .agg(sum("dau").as("sum_dau"), count(lit(1)).as("n_days"))
    val mau = du.select("period", "user_id").distinct()
      .groupBy("period").agg(count(lit(1)).as("mau"))
    dau.join(mau, "period")
      .select(col("period"), col("n_days"), col("sum_dau"), col("mau"),
        expr("sum_dau * 1000 div (n_days * mau)").as("stickiness_milli"))
  }

  private val STICKINESS_SQL =
    s"""WITH du AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |p AS (SELECT user_id, day, day // 30 AS period FROM du),
       |dau AS (SELECT period, day, CAST(COUNT(*) AS BIGINT) AS dau
       |        FROM p GROUP BY 1, 2),
       |d2 AS (SELECT period, CAST(SUM(dau) AS BIGINT) AS sum_dau,
       |         CAST(COUNT(*) AS BIGINT) AS n_days
       |       FROM dau GROUP BY 1),
       |mau AS (SELECT period, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
       |        FROM p GROUP BY 1)
       |SELECT d2.period, n_days, sum_dau, mau,
       |  sum_dau * 1000 // (n_days * mau) AS stickiness_milli
       |FROM d2 JOIN mau ON mau.period = d2.period""".stripMargin

  /** CUSUM drift detection over the per-type event-value stream — the
    * monitoring primitive that catches a distribution SHIFT (a feed
    * suddenly emitting inflated values) long before a mean moves: the
    * one-sided cumulative sum S_k = max(0, S_{k-1} + (x_k − target))
    * grows only while values run consistently above target, and an
    * alarm fires when it crosses the budget.
    *
    * The max-recurrence is NOT a window aggregate — but its closed form
    * is: S_k = P_k − min(0, min_{j≤k} P_j) with P the plain prefix sum
    * of (x − target), so the whole operator is TWO running windows
    * riding ONE event_type exchange (same partitioning, same order —
    * Spark plans a single sort). Exact integers end-to-end: values
    * quantize to 2^-10 fixed point, the per-type target is the floored
    * integer mean, and prefix sums/mins never touch a float — the
    * oracle replays the identical lattice. */
  private[graft] val CUSUM_ALARM_FP = 2048000L // 2000.0 in 2^-10 fixed point

  def eventsCusum(s: SparkSession, dir: String): DataFrame = {
    val ev = DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts_ns"),
        expr("cast(floor(value * 1024) as bigint)").as("q"))
    val target = ev.groupBy("event_type")
      .agg(expr("sum(q) div count(1)").as("t")) // ≤ |event types| rows
    val wc = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.join(broadcast(target), Seq("event_type"))
      .withColumn("p", sum(col("q") - col("t")).over(wc))
      .select(col("event_type"), col("event_id"),
        (col("p") - least(min("p").over(wc), lit(0L))).as("cusum_fp"))
      .withColumn("alarm", col("cusum_fp") > lit(CUSUM_ALARM_FP))
  }

  private val CUSUM_SQL =
    s"""WITH e AS (
       |  SELECT event_type, event_id,
       |    epoch_ns(ts) // 1000 * 1000 AS ts_ns,
       |    CAST(FLOOR(value * 1024) AS BIGINT) AS q
       |  FROM events WHERE value IS NOT NULL),
       |t AS (SELECT event_type, CAST(SUM(q) // COUNT(*) AS BIGINT) AS t
       |      FROM e GROUP BY event_type),
       |p AS (SELECT e.event_type, e.event_id, e.ts_ns,
       |        CAST(SUM(e.q - t.t) OVER w AS BIGINT) AS p
       |      FROM e JOIN t USING (event_type)
       |      WINDOW w AS (PARTITION BY event_type ORDER BY ts_ns, event_id
       |                   ROWS UNBOUNDED PRECEDING))
       |SELECT event_type, event_id,
       |  p - LEAST(MIN(p) OVER w2, 0) AS cusum_fp,
       |  (p - LEAST(MIN(p) OVER w2, 0)) > $CUSUM_ALARM_FP AS alarm
       |FROM p
       |WINDOW w2 AS (PARTITION BY event_type ORDER BY ts_ns, event_id
       |              ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** Single-changepoint detection by binary segmentation (the first
    * split) over the per-type hourly count series — the OFFLINE twin of
    * [[eventsCusum]]'s online drift alarm: for every admissible split
    * index i the between-segment SSE reduction has the prefix-sum
    * closed form gain(i) = S1²/n1 + S2²/n2 − S²/n (S1 the left running
    * sum, S2 = S − S1), so ONE running window plus a struct-max
    * aggregate finds the argmax split — no per-split rescan, no
    * self-join, O(series) work regardless of where the split lands.
    * Exact integers throughout: hourly counts are already integral and
    * every quotient is a single truncating div; S² fits BIGINT to ~3e9
    * events PER TYPE, and the div-before-milli final means keep it
    * there at any corpus (the arrival_regularity discipline). Ties
    * break to the EARLIEST split via the negated index riding the
    * struct (bare max_by is nondeterministic on ties); the remaining
    * struct fields are pure payload — i is unique per type, so the
    * comparison never reaches them. Types with one occupied hour have
    * no admissible split and drop out on both engines. Plan: the hourly
    * aggregate shuffles on (type, hour); the rank/running/entire-frame
    * windows and the final argmax all ride one event_type exchange. */
  def eventsChangepoint(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val ord = byType.orderBy("hour_id")
    val run = ord.rowsBetween(Window.unboundedPreceding, 0)
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("x"))
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("s1", sum("x").over(run))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("s", sum("x").over(byType))
      .filter(col("i") < col("n"))
      .withColumn("gain", expr(
        "s1 * s1 div i + (s - s1) * (s - s1) div (n - i) - s * s div n"))
      .groupBy("event_type")
      .agg(max(struct(col("gain"), (-col("i")).as("ni"), col("hour_id"),
        col("s1"), col("s"), col("n"), col("i"))).as("m"))
      .select(col("event_type"), col("m.n").as("n_hours"),
        col("m.i").as("split_i"), col("m.hour_id").as("split_hour"),
        col("m.gain").as("gain_fp"),
        expr("m.s1 * 1000 div m.i").as("mean_left_milli"),
        expr("(m.s - m.s1) * 1000 div (m.n - m.i)").as("mean_right_milli"))
  }

  private val CHANGEPOINT_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT event_type, hour_id,
       |    CAST(ROW_NUMBER() OVER wi AS BIGINT) AS i,
       |    CAST(SUM(x) OVER w AS BIGINT) AS s1,
       |    CAST(SUM(x) OVER wp AS BIGINT) AS s,
       |    CAST(COUNT(*) OVER wp AS BIGINT) AS n
       |  FROM h
       |  WINDOW wi AS (PARTITION BY event_type ORDER BY hour_id),
       |    w AS (PARTITION BY event_type ORDER BY hour_id
       |          ROWS UNBOUNDED PRECEDING),
       |    wp AS (PARTITION BY event_type)),
       |g AS (
       |  SELECT event_type, hour_id, i, n, s, s1,
       |    s1 * s1 // i + (s - s1) * (s - s1) // (n - i) - s * s // n AS gain
       |  FROM p WHERE i < n),
       |r AS (
       |  SELECT g.*, ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY gain DESC, i) AS rn FROM g)
       |SELECT event_type, n AS n_hours, i AS split_i, hour_id AS split_hour,
       |  gain AS gain_fp,
       |  s1 * 1000 // i AS mean_left_milli,
       |  (s - s1) * 1000 // (n - i) AS mean_right_milli
       |FROM r WHERE rn = 1""".stripMargin

  /** Bottom-k uniform sample sketch + quantile estimates — the missing
    * member of the sketch family (q17 KMV = distinct cardinality,
    * freq_count_min = frequency, q14 = cardinality): per event type
    * keep the K = 64 rows with the SMALLEST md5 hash. Bottom-k is
    * MERGEABLE (the bottom-k of a union is the bottom-k of the merged
    * per-partition bottom-ks) and hash-uniform, so the kept rows are a
    * deterministic unbiased sample usable for any statistic — here
    * disc p50/p95 of the 2^-10 fixed-point value. Same k-bounded
    * ObjectHashAggregate as q17/Rerank: O(k) per group shuffles, never
    * the row population. The 64-element per-group sort runs through
    * interpreted HOFs — fine OFF the hot path (k² work per GROUP, not
    * per row).
    *
    * The hash is 52-BIT (13 hex chars), not the usual 60: the sketch
    * orders by the hash THROUGH a Double score, and 2^52 < 2^53 means
    * the cast is EXACT — a 60-bit hash would let two distinct hashes
    * round to one double at the K boundary and diverge from the
    * oracle's exact-integer ordering (the q17 exact-tie discipline).
    * Score ties are then true 52-bit collisions, broken by v_fp on
    * BOTH engines (TopKByScore _1 asc ⟺ ORDER BY h, v_fp), so the
    * sample multiset is identical at any corpus size. */
  def eventsBottomkSample(s: SparkSession, dir: String): DataFrame = {
    val K = 64
    val bk = udaf(new graft.functions.TopKByScore(K))
    DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(floor(value * 1024) as bigint)").as("v_fp"),
        expr("cast(conv(substring(md5(cast(concat('bk:', event_id) as binary)), 1, 13), 16, 10) as bigint)").as("h"))
      .groupBy("event_type")
      .agg(bk(col("v_fp"), negate(col("h").cast("double"))).as("sk"))
      .select(col("event_type"),
        expr("array_sort(transform(sk, x -> x._1))").as("vals"))
      .select(col("event_type"),
        size(col("vals")).cast("long").as("n_sample"),
        expr("element_at(vals, cast((size(vals) + 1) div 2 as int))").as("p50_fp"),
        expr("element_at(vals, cast((19 * size(vals) + 19) div 20 as int))").as("p95_fp"))
  }

  private val BOTTOMK_SQL =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |    CAST(FLOOR(value * 1024) AS BIGINT) AS v_fp,
      |    ('0x' || substr(md5('bk:' || CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |  FROM events WHERE value IS NOT NULL),
      |s AS (SELECT event_type, v_fp FROM (
      |    SELECT event_type, v_fp,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, v_fp) AS rn
      |    FROM e) WHERE rn <= 64),
      |o AS (SELECT event_type, v_fp,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_fp) AS vr,
      |        COUNT(*) OVER (PARTITION BY event_type) AS n
      |      FROM s)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sample,
      |  MAX(CASE WHEN vr = (n + 1) // 2 THEN v_fp END) AS p50_fp,
      |  MAX(CASE WHEN vr = (19 * n + 19) // 20 THEN v_fp END) AS p95_fp
      |FROM o GROUP BY event_type""".stripMargin

  /** Value-DISTRIBUTION drift per type — the histogram sibling of
    * [[eventsMixDrift]]'s type-share L1: each type's first-half and
    * second-half log₂-binned value distributions ([[eventsValueHistogram]]'s
    * exact bit-length bins) compare as an L1 distance over milli
    * shares, so a type whose VOLUME is steady but whose value SHAPE
    * moved (payments doubling, latencies regressing) still alarms. The
    * corpus midpoint day derives from the data (min+max+1 halves —
    * exact), and bins present in only one half full-outer-join in with
    * a zero share. All integer divisions on positive operands. Plan:
    * one (type, day, bin) partial agg (checkpointed — midpoint fold +
    * the half rollup read it), the single-row midpoint broadcast
    * (whitelisted N×1), half/total aggs and the ≤types×bins join are
    * all aggregate-sized. */
  def eventsValueDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(length(bin(1 + cast(floor(value * 1024) as bigint))) - 1 as bigint)")
          .as("bin"))
      .groupBy("event_type", "day", "bin").agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped) // midpoint fold + the half rollup both read it
    val mid = cells.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val halves = cells.crossJoin(broadcast(mid))
      .groupBy(col("event_type"),
        (col("day") >= col("mid")).cast("long").as("half"), col("bin"))
      .agg(sum("n").as("n"))
      .withColumn("tn",
        sum("n").over(Window.partitionBy("event_type", "half")))
      .select(col("event_type"), col("half"), col("bin"),
        expr("n * 1000 div tn").as("share"))
      .transform(graft.Ckpt.capped) // both half filters read it; the build ran once
    val h1 = halves.filter(col("half") === 0)
      .select(col("event_type"), col("bin"), col("share").as("s1"))
    val h2 = halves.filter(col("half") === 1)
      .select(col("event_type"), col("bin"), col("share").as("s2"))
    h1.join(h2, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"), col("bin"),
        coalesce(col("s1"), lit(0L)).as("s1"),
        coalesce(col("s2"), lit(0L)).as("s2"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_bins"),
        sum(expr("abs(s1 - s2)")).as("l1_drift_milli"))
  }

  private val VALUE_DRIFT_SQL =
    s"""WITH c AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(length(bin(1 + CAST(FLOOR(value * 1024) AS BIGINT))) - 1
       |      AS BIGINT) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
       |m AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM c),
       |h AS (SELECT event_type,
       |        CASE WHEN day >= mid THEN 1 ELSE 0 END AS half, bin,
       |        CAST(SUM(n) AS BIGINT) AS n
       |      FROM c, m GROUP BY 1, 2, 3),
       |sh AS (SELECT event_type, half, bin,
       |         n * 1000 // CAST(SUM(n) OVER (PARTITION BY event_type, half)
       |           AS BIGINT) AS share
       |       FROM h),
       |j AS (SELECT COALESCE(a.event_type, b.event_type) AS event_type,
       |        COALESCE(a.bin, b.bin) AS bin,
       |        COALESCE(a.share, 0) AS s1, COALESCE(b.share, 0) AS s2
       |      FROM (SELECT * FROM sh WHERE half = 0) a
       |      FULL OUTER JOIN (SELECT * FROM sh WHERE half = 1) b
       |        ON b.event_type = a.event_type AND b.bin = a.bin)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_bins,
       |  CAST(SUM(abs(s1 - s2)) AS BIGINT) AS l1_drift_milli
       |FROM j GROUP BY 1""".stripMargin

  /** Temporal train/test leakage audit — the time-series twin of
    * data_split_leakage's hash-split check: when a model trains on the
    * past and evaluates on the future, the honest split is a time CUT,
    * and the audit measures how much of the test window is reachable by
    * memorizing train-window entities. Fixed cut = 2024-01-25T00:00Z
    * (the corpus's last fifth — a literal, not a data-dependent
    * quantile, so the split is reproducible across runs and engines).
    * Per event type: train/test/overlap user counts, the user-overlap
    * per-mille, and the WARM share — test events from users already
    * seen in train (the mass a pure user-memorizer could fit). Two
    * aggregates: one (type, user) fold, one type rollup — nothing wider
    * than the key grain shuffles at any corpus size. */
  def dataTemporalLeakage(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"), col("user_id"),
        (col("ts_ns") >= 1706140800000000000L).as("is_test"))
      .groupBy("event_type", "user_id")
      .agg(sum(when(!col("is_test"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("is_test"), 1L).otherwise(0L)).as("n_test"))
      .groupBy("event_type")
      .agg(
        sum(when(col("n_train") > 0, 1L).otherwise(0L)).as("train_users"),
        sum(when(col("n_test") > 0, 1L).otherwise(0L)).as("test_users"),
        sum(when(col("n_train") > 0 && col("n_test") > 0, 1L).otherwise(0L))
          .as("overlap_users"),
        sum("n_test").as("test_events"),
        sum(when(col("n_train") > 0, col("n_test")).otherwise(0L))
          .as("warm_test_events"))
      .select(col("event_type"), col("train_users"), col("test_users"),
        col("overlap_users"),
        when(col("test_users") > 0,
          expr("overlap_users * 1000 div test_users")).as("user_overlap_milli"),
        col("test_events"), col("warm_test_events"),
        when(col("test_events") > 0,
          expr("warm_test_events * 1000 div test_events")).as("warm_share_milli"))

  private val TEMPORAL_LEAKAGE_SQL =
    """WITH u AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) >= 1706140800000000000
      |      THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
      |    CAST(SUM(CASE WHEN epoch_ns(ts) >= 1706140800000000000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN n_train > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS train_users,
      |    CAST(SUM(CASE WHEN n_test > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS test_users,
      |    CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS overlap_users,
      |    CAST(SUM(n_test) AS BIGINT) AS test_events,
      |    CAST(SUM(CASE WHEN n_train > 0 THEN n_test ELSE 0 END) AS BIGINT)
      |      AS warm_test_events
      |  FROM u GROUP BY 1)
      |SELECT event_type, train_users, test_users, overlap_users,
      |  CASE WHEN test_users > 0
      |    THEN overlap_users * 1000 // test_users END AS user_overlap_milli,
      |  test_events, warm_test_events,
      |  CASE WHEN test_events > 0
      |    THEN warm_test_events * 1000 // test_events END AS warm_share_milli
      |FROM r""".stripMargin

  /** Calendar gap-fill with last-observation-carried-forward — the
    * time-series REGULARIZATION step every downstream
    * forecaster/autocorrelator on the board silently presupposes
    * (events_rate_autocorr drops non-contiguous hours; this op CREATES
    * the contiguous series): each type's hour calendar is generated
    * from its own [min, max] span (sequence + explode — calendar-
    * bounded, never event-volume-bounded), observed hours left-join
    * onto it, and gaps fill by the LOCF ignore-nulls running window —
    * the one window feature (IGNORE NULLS) nothing else on the board
    * exercises. Value mass is exact per-event floor milli before any
    * sum. Plan: one (type, hour) partial agg (checkpointed — the span
    * fold and the join both read it), a ≤|types|-row span aggregate
    * whose exploded calendar joins back, one type-partitioned LOCF
    * window. */
  def eventsGapFillLocf(s: SparkSession, dir: String): DataFrame = {
    val obs = DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), expr("ts_ns div 3600000000000").as("hour"),
        expr("cast(floor(value * 1000) as bigint)").as("v_milli"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n_events"), sum("v_milli").as("value_milli"))
      .transform(graft.Ckpt.capped) // span fold + the calendar join both read it
    val cal = obs.groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1)")).as("hour"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(obs, Seq("event_type", "hour"), "left_outer")
      .select(col("event_type"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("value_milli"), ignoreNulls = true).over(w)
          .as("value_milli_locf"),
        expr("cast(case when n_events is null then 1 else 0 end as bigint)")
          .as("is_filled"))
  }

  private val GAPFILL_SQL =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour,
      |    CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli
      |  FROM events WHERE value IS NOT NULL),
      |o AS (SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
      |        CAST(SUM(v_milli) AS BIGINT) AS value_milli
      |      FROM e GROUP BY 1, 2),
      |sp AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      |       FROM o GROUP BY 1),
      |cal AS (SELECT event_type, CAST(h AS BIGINT) AS hour
      |        FROM sp, LATERAL unnest(generate_series(h0, h1)) t(h))
      |SELECT cal.event_type, cal.hour,
      |  COALESCE(o.n_events, 0) AS n_events,
      |  LAST_VALUE(o.value_milli IGNORE NULLS) OVER (
      |    PARTITION BY cal.event_type ORDER BY cal.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS value_milli_locf,
      |  CAST(CASE WHEN o.n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_filled
      |FROM cal LEFT JOIN o
      |  ON o.event_type = cal.event_type AND o.hour = cal.hour""".stripMargin

  /** Mergeable quantile sketch with a daily→period UNION — the
    * quantile sibling of [[eventsHllDailyUnion]]'s register-max merge,
    * proving the OTHER property sketches need on a cluster: per-day
    * bottom-64 uniform samples (KMV rank = 52-bit md5 'qs:' salt —
    * 52 bits so the Double score orders EXACTLY, the bottomk
    * discipline) merge into the period sample by re-taking the bottom
    * 64 of the union BY THE SAME HASH — no rescan of the raw days, and
    * the result is bit-identical to sampling the period directly. The
    * merged sample's element-picked p50/p90 sit next to the exact
    * per-period ranks as the error yardstick. Plan: one (day)
    * partial-agg sketch exchange, one period re-merge over ≤64·days
    * rows, and the exact comparator's period rank window; the sample
    * legs never carry more than K rows per group. */
  def eventsQuantileSketchUnion(s: SparkSession, dir: String): DataFrame = {
    val bk = udaf(new graft.functions.TopKByScore(64))
    val base = DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(floor(value * 1024) as bigint)").as("v_fp"),
        expr("cast(conv(substring(md5(cast(concat('qs:', event_id) as binary)), 1, 13), 16, 10) as bigint)").as("h"),
        col("event_id"))
    val daily = base
      .groupBy(expr("day div 30").as("period"), col("day"))
      .agg(bk(col("v_fp"), negate(col("h").cast("double"))).as("sk"))
    val merged = daily
      .select(col("period"), explode(col("sk")).as("x"))
      .select(col("period"), expr("x._1").as("v_fp"), expr("x._2").as("ns"))
      .groupBy("period").agg(bk(col("v_fp"), col("ns")).as("sk"))
      .select(col("period"),
        expr("array_sort(transform(sk, x -> x._1))").as("vals"))
      .select(col("period"), size(col("vals")).cast("long").as("n_sample"),
        expr("element_at(vals, cast((size(vals) + 1) div 2 as int))")
          .as("est_p50_fp"),
        expr("element_at(vals, cast((9 * size(vals) + 9) div 10 as int))")
          .as("est_p90_fp"))
    val byP = Window.partitionBy("period").orderBy("v_fp", "event_id")
    val exact = base.withColumn("period", expr("day div 30"))
      .withColumn("rn", row_number().over(byP).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("period")))
      .groupBy("period")
      .agg(max("n").as("n_events"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("v_fp")))
          .as("exact_p50_fp"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("v_fp")))
          .as("exact_p90_fp"))
    merged.join(exact, Seq("period"))
  }

  private val QSKETCH_SQL =
    s"""WITH e AS (
       |  SELECT epoch_ns(ts) // $DAY_NS AS day,
       |    epoch_ns(ts) // $DAY_NS // 30 AS period,
       |    CAST(FLOOR(value * 1024) AS BIGINT) AS v_fp,
       |    ('0x' || substr(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS h,
       |    event_id
       |  FROM events WHERE value IS NOT NULL),
       |d1 AS (SELECT period, v_fp, h FROM (
       |    SELECT period, v_fp, h,
       |      ROW_NUMBER() OVER (PARTITION BY day ORDER BY h, v_fp) AS rn
       |    FROM e) WHERE rn <= 64),
       |m AS (SELECT period, v_fp FROM (
       |    SELECT period, v_fp,
       |      ROW_NUMBER() OVER (PARTITION BY period ORDER BY h, v_fp) AS rn
       |    FROM d1) WHERE rn <= 64),
       |o AS (SELECT period, v_fp,
       |        ROW_NUMBER() OVER (PARTITION BY period ORDER BY v_fp) AS vr,
       |        COUNT(*) OVER (PARTITION BY period) AS n
       |      FROM m),
       |es AS (SELECT period, CAST(MAX(n) AS BIGINT) AS n_sample,
       |         MAX(CASE WHEN vr = (n + 1) // 2 THEN v_fp END) AS est_p50_fp,
       |         MAX(CASE WHEN vr = (9 * n + 9) // 10 THEN v_fp END)
       |           AS est_p90_fp
       |       FROM o GROUP BY 1),
       |xo AS (SELECT period, v_fp,
       |         ROW_NUMBER() OVER (PARTITION BY period ORDER BY v_fp, event_id)
       |           AS rn,
       |         COUNT(*) OVER (PARTITION BY period) AS n
       |       FROM e),
       |ex AS (SELECT period, CAST(MAX(n) AS BIGINT) AS n_events,
       |         MAX(CASE WHEN rn = (n + 1) // 2 THEN v_fp END)
       |           AS exact_p50_fp,
       |         MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN v_fp END)
       |           AS exact_p90_fp
       |       FROM xo GROUP BY 1)
       |SELECT es.period, n_sample, est_p50_fp, est_p90_fp,
       |  n_events, exact_p50_fp, exact_p90_fp
       |FROM es JOIN ex ON ex.period = es.period""".stripMargin

  /** HDR-style log₂ value histogram per event type — the fixed-size
    * distribution summary monitoring systems keep at any volume
    * (64 possible bins regardless of value range, relative-error
    * buckets): bin = floor(log₂(1 + v_fp)) computed EXACTLY as
    * length(bin(1 + v_fp)) − 1 (the text_surprisal/q14 integer-log
    * discipline), with each bin's exact fixed-point bounds carried so
    * consumers can render without re-deriving the bucketing. One
    * partial-aggregated shuffle of ≤ 64 rows per type. */
  def eventsValueHistogram(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(length(bin(1 + cast(floor(value * 1024) as bigint))) - 1 as bigint)")
          .as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bin"), col("n"),
        expr("shiftleft(1L, cast(bin as int)) - 1").as("lo_fp"),
        expr("shiftleft(1L, cast(bin as int) + 1) - 2").as("hi_fp"))

  private val HISTOGRAM_SQL =
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(length(bin(1 + CAST(FLOOR(value * 1024) AS BIGINT))) - 1 AS BIGINT) AS bin
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
      |  (CAST(1 AS BIGINT) << bin) - 1 AS lo_fp,
      |  (CAST(1 AS BIGINT) << (bin + 1)) - 2 AS hi_fp
      |FROM b GROUP BY event_type, bin""".stripMargin

  /** Volume-anomaly detection per event type via the median/MAD fence —
    * the robust monitoring primitive next to events_cusum (CUSUM catches
    * sustained SHIFTS; the MAD fence catches single-day SPIKES and
    * outages without letting the outlier itself drag the threshold, the
    * occ_outlier_mad discipline applied to the time dimension): a
    * (type, day) is anomalous when |count − median| > 5 × MAD. Exact
    * integers throughout — the median and the MAD are disc rank targets
    * ((c+1)//2 lower medians, deterministic (value, day) tie order), so
    * no interpolation ever touches a float. Plan: one (type, day)
    * partial-agg exchange builds the daily counts; both rank windows and
    * the final projection ride ONE further event_type exchange over the
    * CALENDAR-bounded aggregate (≤ types × days rows), with the two
    * ≤|types|-row median relations broadcast back. */
  def eventsAnomalyMad(s: SparkSession, dir: String): DataFrame = {
    // the daily aggregate is CALENDAR-bounded (≤ types × days rows) and
    // referenced by three downstream paths (median, deviation, output) —
    // checkpoint it so the corpus scan+agg is planned once, not replayed
    // per reference (the multi-reference plan-replay landmine)
    val daily = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .transform(graft.Ckpt.capped)
    def discMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(valueCol, "day")
      df.withColumn("vr", row_number().over(w).cast("long"))
        .withColumn("ct", count(lit(1)).over(Window.partitionBy("event_type")).cast("long"))
        .filter(col("vr") === expr("(ct + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(out))
    }
    val med = discMedian(daily, "n", "med")
    val withDev = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med")))
      .transform(graft.Ckpt.capped) // same calendar bound, referenced twice
    val mad = discMedian(withDev, "dev", "mad")
    withDev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        (col("dev") > lit(5L) * col("mad")).as("anomaly"))
  }

  private val ANOMALY_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, n AS med FROM (
       |    SELECT event_type, n, day,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n, day) AS vr,
       |      COUNT(*) OVER (PARTITION BY event_type) AS ct
       |    FROM d) WHERE vr = (ct + 1) // 2),
       |dv AS (SELECT d.event_type, d.day, d.n, m.med, ABS(d.n - m.med) AS dev
       |       FROM d JOIN m USING (event_type)),
       |md AS (SELECT event_type, dev AS mad FROM (
       |    SELECT event_type, dev, day,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, day) AS vr,
       |      COUNT(*) OVER (PARTITION BY event_type) AS ct
       |    FROM dv) WHERE vr = (ct + 1) // 2)
       |SELECT dv.event_type, dv.day, dv.n, dv.med, md.mad,
       |  dv.dev > 5 * md.mad AS anomaly
       |FROM dv JOIN md USING (event_type)""".stripMargin

  /** Per-type retention TTLs in days — the policy table a lakehouse
    * sweep reads (views are ephemeral, purchases are kept for audit). */
  private[graft] val TTL_DAYS = Seq(
    "view" -> 7L, "click" -> 30L, "error" -> 90L,
    "signup" -> 365L, "purchase" -> 365L)

  /** TTL retention sweep — the partition-drop PLANNER behind data
    * retention at 100 TB: per (event_type, day) partition report its
    * row count and whether it is past its type's TTL relative to the
    * corpus watermark (max event day). The sweep never touches row
    * data beyond one partial-aggregated count — exactly the metadata
    * a `DROP PARTITION` loop consumes; emitting the plan as a table
    * (instead of deleting) keeps the operator pure and auditable.
    * Watermark and TTL table both broadcast (single row / 5 rows). */
  def eventsTtlSweep(s: SparkSession, dir: String): DataFrame = {
    val days = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
    val counts = days.groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val wm = days.agg(max("day").as("wm")) // single row
    val ttl = s.createDataFrame(TTL_DAYS).toDF("event_type", "ttl_days")
    counts.join(broadcast(ttl), Seq("event_type"))
      .crossJoin(broadcast(wm))
      .select(col("event_type"), col("day"), col("n_events"),
        (col("day") < col("wm") - col("ttl_days")).as("expired"))
  }

  private val TTL_SQL = {
    val ttlValues = TTL_DAYS.map { case (t, d) => s"('$t', $d)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_events
       |      FROM d GROUP BY event_type, day),
       |wm AS (SELECT MAX(day) AS wm FROM d),
       |ttl AS (SELECT * FROM (VALUES $ttlValues) AS t(event_type, ttl_days))
       |SELECT c.event_type, c.day, c.n_events,
       |  c.day < (SELECT wm FROM wm) - ttl.ttl_days AS expired
       |FROM c JOIN ttl USING (event_type)""".stripMargin
  }

  /** JSON schema-drift monitor over the event `props` payloads — the
    * observability primitive that catches a producer adding, renaming
    * or dropping a field: per JSON key, the first/last day it was seen,
    * how many distinct days it appeared, and total occurrences. A key
    * whose last_day stops advancing (or whose first_day is new) IS the
    * drift signal. Only OBJECT payloads count on both engines (Spark's
    * json_object_keys is NULL for malformed AND non-object JSON; the
    * oracle mirrors with json_valid + json_type = 'OBJECT' — the
    * CLAUDE.md malformed-JSON parity class). */
  def metaSchemaDrift(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS").as("day"),
        explode(expr("json_object_keys(props)")).as("k"))
      .groupBy("k")
      .agg(min("day").as("first_day"), max("day").as("last_day"),
        count_distinct(col("day")).as("n_days"), count(lit(1)).as("n_events"))

  private val DRIFT_SQL =
    s"""WITH k AS (
       |  SELECT epoch_ns(ts) // $DAY_NS AS day,
       |    unnest(json_keys(props)) AS k
       |  FROM events
       |  WHERE json_valid(props) AND json_type(props::JSON) = 'OBJECT')
       |SELECT k, MIN(day) AS first_day, MAX(day) AS last_day,
       |  CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM k GROUP BY k""".stripMargin

  /** Top-25 consecutive event-type trigram paths — sequence mining for
    * the dominant user journeys. The per-user lead window rides ONE
    * user_id exchange; the path universe is ≤ |event_types|³ rows, so the
    * global rank window runs over the aggregate (WindowGroupLimit prunes
    * each partition to its local top-25 before the single-partition
    * rank), never over the corpus. */
  def eventsTopPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val ranked = Window.orderBy(col("n").desc, col("path"))
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("e1"))
      .select(col("e1"),
        lead("e1", 1).over(byUser).as("e2"),
        lead("e1", 2).over(byUser).as("e3"))
      // all three must be non-null: a NULL event_type would otherwise
      // diverge (concat_ws skips nulls, the oracle's || propagates them)
      .filter(col("e1").isNotNull && col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(ranked).cast("long"))
      .filter(col("rn") <= 25)
  }

  private val PATHS_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |o AS (SELECT event_type AS e1,
      |        LEAD(event_type, 1) OVER w AS e2,
      |        LEAD(event_type, 2) OVER w AS e3
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
      |p AS (SELECT e1 || '>' || e2 || '>' || e3 AS path FROM o
      |      WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL),
      |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY path)
      |SELECT path, n, rn FROM (
      |  SELECT path, n,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS BIGINT) AS rn
      |  FROM c)
      |WHERE rn <= 25""".stripMargin

  /** Rolling 7-day distinct users (WAU) with same-day distinct (DAU) and
    * the DAU/WAU stickiness ratio in exact milli-units — THE
    * product-health triple, and a genuinely hard distinct at scale
    * because distinct counts do not merge across overlapping windows.
    * The scale-correct shape: dedup to CALENDAR-bounded (user, day)
    * pairs first (one partial-agg exchange over at most users ×
    * active-days rows), then each pair contributes to the 7 windows
    * ending on days d..d+6 via a static explode, and ONE aggregation
    * finishes both counts — DAU is the off=0 filtered distinct of the
    * SAME exploded relation, so there is no second scan, no join, and
    * the dau ≥ 1 filter IS the clamp that drops phantom trailing
    * windows (a window day is real iff some pair lands on it at
    * offset 0). */
  def eventsUniquesSliding(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"))
      .distinct()
      .select(col("user_id"), col("day"),
        explode(expr("sequence(0L, 6L)")).as("off"))
      .groupBy((col("day") + col("off")).as("day"))
      .agg(countDistinct("user_id").as("wau"),
        countDistinct(when(col("off") === 0, col("user_id"))).as("dau"))
      .filter(col("dau") >= 1)
      .withColumn("milli_stickiness", expr("dau * 1000 div wau"))

  private val UNIQUES_SQL =
    s"""WITH du AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // $DAY_NS AS day FROM events),
       |w AS (SELECT du.user_id, du.day + t.o AS day, t.o
       |      FROM du, LATERAL unnest(generate_series(0, 6)) t(o))
       |SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
       |  CAST(COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) AS BIGINT) AS dau,
       |  CAST(COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) * 1000
       |    // COUNT(DISTINCT user_id) AS BIGINT) AS milli_stickiness
       |FROM w GROUP BY day
       |HAVING COUNT(DISTINCT CASE WHEN o = 0 THEN user_id END) >= 1""".stripMargin

  /** Distributed exact global row_number — the primitive that replaces
    * the single-task `Window.orderBy(...)` (Spark plans a partition-less
    * window as ONE task holding the whole relation): range-repartition on
    * the sort key (a distributed sort — boundaries come from sampling,
    * but the RANK is invariant to where the cuts land because the order
    * is total), then per-partition counts (an O(partitions) driver
    * collect, the lengthDeciles discipline) turn local positions into
    * global ranks in one more pass. Sort keys MUST include a unique
    * tiebreaker or the rank is nondeterministic. */
  private def globalRowNumber(df: DataFrame, order: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val s = df.sparkSession
    val np = s.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.repartitionByRange(np, order: _*).sortWithinPartitions(order: _*)
    val rdd = sorted.rdd
    rdd.localCheckpoint() // zipWithIndex's count job + emit pass both read it
    val out = rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1)) }
    s.createDataFrame(out, sorted.schema.add("rn", LongType, nullable = false))
  }

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * user, the behavioral-cohort primitive behind churn and LTV models.
    * Monetary sums in 2^-10 fixed point (order-free exact); each
    * dimension's quintile is an EXACT global NTILE(5) computed WITHOUT a
    * partition-less window: [[globalRowNumber]] range-repartitions and
    * offsets local positions (three range exchanges over the |users|-row
    * aggregate — never a single task holding all users), and
    * [[ntileFromRank]] replays the standard NTILE split integer-exact.
    * Quintile 5 = best (most recent / most frequent / highest spend),
    * ties broken by user_id on both engines. */
  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    val perUser = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(floor(value * 1024) as bigint)").as("v_fp"))
      .groupBy("user_id")
      .agg(max("day").as("last_day"), count(lit(1)).as("freq"),
        coalesce(sum("v_fp"), lit(0L)).as("monetary_fp"))
    val maxDay = perUser.agg(max("last_day").as("max_day"))
    // checkpoint: count() + the first rank sort would otherwise replay
    // the events aggregate twice (the pagerank edge-list lesson)
    val scored = perUser.crossJoin(broadcast(maxDay))
      .select(col("user_id"), (col("max_day") - col("last_day")).as("r_days"),
        col("freq"), col("monetary_fp"))
      .transform(graft.Ckpt.capped)
    val n = scored.count()
    val r1 = globalRowNumber(scored, Seq(col("r_days").desc, col("user_id")))
      .withColumnRenamed("rn", "r_rank")
    val r2 = globalRowNumber(r1, Seq(col("freq"), col("user_id")))
      .withColumnRenamed("rn", "f_rank")
    val r3 = globalRowNumber(r2, Seq(col("monetary_fp"), col("user_id")))
      .withColumnRenamed("rn", "m_rank")
    // shared closed-form NTILE math (graft.NtileSplit, the lengthDeciles twin)
    val sp = graft.NtileSplit(n, 5)
    r3.select(col("user_id"), col("r_days"), col("freq"), col("monetary_fp"),
        sp.tile(col("r_rank")).cast("long").as("r_q"),
        sp.tile(col("f_rank")).cast("long").as("f_q"),
        sp.tile(col("m_rank")).cast("long").as("m_q"))
      .withColumn("rfm_code", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
  }

  private val RFM_SQL =
    s"""WITH u AS (
       |  SELECT user_id, MAX(epoch_ns(ts) // $DAY_NS) AS last_day,
       |    CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(COALESCE(SUM(CAST(FLOOR(value * 1024) AS BIGINT)), 0) AS BIGINT)
       |      AS monetary_fp
       |  FROM events GROUP BY user_id),
       |sc AS (SELECT user_id, (SELECT MAX(last_day) FROM u) - last_day AS r_days,
       |         freq, monetary_fp FROM u),
       |q AS (SELECT *,
       |        CAST(NTILE(5) OVER (ORDER BY r_days DESC, user_id) AS BIGINT) AS r_q,
       |        CAST(NTILE(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_q,
       |        CAST(NTILE(5) OVER (ORDER BY monetary_fp, user_id) AS BIGINT) AS m_q
       |      FROM sc)
       |SELECT user_id, r_days, freq, monetary_fp, r_q, f_q, m_q,
       |  r_q * 100 + f_q * 10 + m_q AS rfm_code
       |FROM q""".stripMargin

  /** Per-nation Pareto/ABC classification of suppliers by revenue — the
    * concentration audit (which 20% of sources carry 80% of the mass)
    * every mixture curator runs: revenue sums DECIMAL-exact, scales to
    * integral 10⁻⁴ fixed point, and the cumulative share + A/<=70% /
    * B/<=90% / C class fences are pure BIGINT compares (cum*10 vs tot*7
    * — no rational division anywhere). The windows partition by NATION
    * (bounded groups over the supplier-level aggregate), never
    * globally. */
  def supplierParetoClass(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) * dec2(lit(1) - col("l_discount")))
        .as("rev"))
      .select(col("n_name"), col("s_suppkey"),
        // ×10⁴ clears ALL four decimal digits of the scale-4 product, so
        // the value is integral BEFORE the cast — Spark truncates and
        // DuckDB rounds decimal→bigint, which only agree on integers
        (col("rev") * 10000).cast("long").as("rev_e4"))
    val byNation = Window.partitionBy("n_name")
    val ordered = Window.partitionBy("n_name")
      .orderBy(col("rev_e4").desc, col("s_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum", sum("rev_e4").over(ordered))
      .withColumn("tot", sum("rev_e4").over(byNation))
      .select(col("n_name"), col("s_suppkey"), col("rev_e4"),
        expr("cum * 1000 div tot").as("cum_share_milli"),
        when(col("cum") * 10 <= col("tot") * 7, "A")
          .when(col("cum") * 10 <= col("tot") * 9, "B")
          .otherwise("C").as("abc_class"))
  }

  private val PARETO_SQL =
    """WITH r AS (
      |  SELECT n_name, s_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             CAST(1 - l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
      |      AS rev_e4
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name, s_suppkey),
      |w AS (SELECT n_name, s_suppkey, rev_e4,
      |        CAST(SUM(rev_e4) OVER (PARTITION BY n_name
      |          ORDER BY rev_e4 DESC, s_suppkey
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |        CAST(SUM(rev_e4) OVER (PARTITION BY n_name) AS BIGINT) AS tot
      |      FROM r)
      |SELECT n_name, s_suppkey, rev_e4, cum * 1000 // tot AS cum_share_milli,
      |  CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |       WHEN cum * 10 <= tot * 9 THEN 'B' ELSE 'C' END AS abc_class
      |FROM w""".stripMargin

  /** Embedding-health audit before any ANN index build — the QA gate
    * that catches the three classic upstream failures (zero vectors
    * from a crashed encoder, truncated dimensions from a bad batch,
    * norm drift between sources): per-label vector count, zero-vector
    * count, dimension min/max, and the norm² range/mass in EXACT 2^-40
    * fixed point (elements quantize at 2^-20, squares sum as BIGINTs —
    * no float accumulation order anywhere). Plan: posexplode → per-vec
    * aggregate → tiny per-label aggregate; two exchanges, codegen
    * end-to-end (no HOF lambdas). */
  def simNormAudit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .select(col("vec_id"), col("label"),
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)").as("x"))
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("n_dims"), sum(expr("x * x")).as("normsq_fp"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("normsq_fp") === 0, 1L).otherwise(0L)).as("n_zero_vecs"),
        min("n_dims").as("min_dims"), max("n_dims").as("max_dims"),
        min("normsq_fp").as("min_normsq"), max("normsq_fp").as("max_normsq"),
        sum("normsq_fp").as("total_normsq"))

  /** Per-dimension embedding distribution audit — the d-row QA table
    * (count, exact fixed-point sum / min / max / sum-of-squares per
    * coordinate) that catches dead dimensions, scale drift, and
    * anisotropy before any ANN index is built over the column.
    * sim_norm_audit reads per-VECTOR norms; this is the per-DIMENSION
    * transpose. Everything stays in exact integers: coordinates
    * quantize at 2^-20 for the linear stats and at 2^-10 for the
    * squared sum (x10² ≤ 2^20, so the Σx² fold stays BIGINT-safe past
    * 2^40 vectors — the 2^-20 square would overflow at ~8M rows; no
    * division anywhere, so no floor-vs-truncate divergence on the
    * negative sums). Plan: posexplode → one partial-aggregated exchange
    * of |dims| groups; output is ≤64 rows at any corpus size. */
  def simDimStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"),
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)").as("x20"),
        expr("cast(floor(cast(xf as double) * 1024) as bigint)").as("x10"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vals"), sum("x20").as("sum_fp"),
        min("x20").as("min_fp"), max("x20").as("max_fp"),
        sum(expr("x10 * x10")).as("sumsq_fp10"))

  private val DIM_STATS_SQL =
    """WITH x AS (
      |  SELECT j1 - 1 AS dim,
      |    CAST(FLOOR(CAST(embedding[j1] AS DOUBLE) * 1048576) AS BIGINT) AS x20,
      |    CAST(FLOOR(CAST(embedding[j1] AS DOUBLE) * 1024) AS BIGINT) AS x10
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j1) s
      |  WHERE j1 <= len(embedding))
      |SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_vals,
      |  CAST(SUM(x20) AS BIGINT) AS sum_fp,
      |  MIN(x20) AS min_fp, MAX(x20) AS max_fp,
      |  CAST(SUM(x10 * x10) AS BIGINT) AS sumsq_fp10
      |FROM x GROUP BY 1""".stripMargin

  private val NORM_SQL =
    """WITH x AS (
      |  SELECT vec_id, label,
      |    CAST(FLOOR(CAST(e AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings, LATERAL unnest(embedding) t(e)),
      |v AS (SELECT vec_id, label, CAST(COUNT(*) AS BIGINT) AS n_dims,
      |        CAST(SUM(x * x) AS BIGINT) AS normsq_fp
      |      FROM x GROUP BY vec_id, label)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN normsq_fp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
      |  MIN(n_dims) AS min_dims, MAX(n_dims) AS max_dims,
      |  MIN(normsq_fp) AS min_normsq, MAX(normsq_fp) AS max_normsq,
      |  CAST(SUM(normsq_fp) AS BIGINT) AS total_normsq
      |FROM v GROUP BY label""".stripMargin

  /** Product quantization — the compression step inside every IVF-PQ
    * ANN index: the 64-dim vector splits into 8 subspaces of 8 dims,
    * each subvector snaps to the nearest of 4 codebook entries, and the
    * vector becomes a 16-bit code (8 base-4 digits) plus an exact
    * reconstruction error. Codebook = the 4 md5-order seed vectors
    * ('pq:' salt — every operator derives its OWN hash stream), shared
    * across subspaces by slicing; everything is 2^-20 fixed point so
    * argmin ties and error sums are BIGINT-exact on both engines.
    * Plan: the fixed-point widening is checkpointed (seed collect +
    * assignment both scan it), assignment itself is a PURE codegen'd
    * projection — zero exchanges in the returned plan, the shape that
    * lets a 100 TB corpus quantize embarrassingly parallel. */
  private[operators] def pqFixed(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id") +: (0 until 64).map(i =>
        expr(s"cast(floor(cast(embedding[$i] as double) * 1048576) as bigint)").as(s"x$i")): _*)
      .transform(graft.Ckpt.capped)

  private[operators] def pqSeeds(fixed: DataFrame): Array[Array[Long]] = {
    val seedH = expr(
      "cast(conv(substring(md5(cast(concat('pq:', vec_id) as binary)), 1, 13), 16, 10) as bigint)")
    fixed.withColumn("h", seedH)
      .orderBy("h", "vec_id").limit(4)
      .select((0 until 64).map(i => col(s"x$i")): _*)
      .collect().map(r => Array.tabulate(64)(r.getLong))
  }

  def simPqQuantize(s: SparkSession, dir: String): DataFrame = {
    val fixed = pqFixed(s, dir)
    val seeds = pqSeeds(fixed)
    val subCols = (0 until 8).map { c =>
      val pairs = seeds.zipWithIndex.map { case (sv, k) =>
        val d2 = (0 until 8)
          .map { i => val d = col(s"x${c * 8 + i}") - lit(sv(c * 8 + i)); d * d }
          .reduce(_ + _)
        struct(d2.as("d2"), lit(k.toLong).as("k"))
      }
      least(pairs.toSeq: _*).as(s"a$c")
    }
    fixed.select(col("vec_id") +: subCols: _*)
      .select(col("vec_id"),
        (0 until 8).map(c => expr(s"shiftleft(a$c.k, ${2 * c})")).reduce(_ + _).as("pq_code"),
        (0 until 8).map(c => col(s"a$c.d2")).reduce(_ + _).as("recon_err"))
  }

  private val PQ_SQL =
    """WITH f AS (
      |  SELECT vec_id,
      |    list_transform(generate_series(1, 64),
      |      j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)) AS x
      |  FROM embeddings),
      |sd AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1 AS k, x AS c
      |  FROM (SELECT vec_id, x,
      |          ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |        FROM f)
      |  ORDER BY h, vec_id LIMIT 4),
      |d AS (
      |  SELECT f.vec_id, g.sub, sd.k,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (f.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i]) *
      |           (f.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i]))) AS d2
      |  FROM f
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) g
      |  CROSS JOIN sd),
      |a AS (
      |  SELECT vec_id, sub, k, d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, k) AS rn
      |  FROM d)
      |SELECT vec_id,
      |  CAST(SUM(CASE WHEN rn = 1 THEN k << (2 * sub) END) AS BIGINT) AS pq_code,
      |  CAST(SUM(CASE WHEN rn = 1 THEN d2 END) AS BIGINT) AS recon_err
      |FROM a GROUP BY vec_id""".stripMargin

  /** Mann–Kendall trend test per event type — THE distribution-free
    * monotone-trend detector next to the parametric family (holt fits a
    * slope, cusum finds a shift; MK asks "is there ANY monotone drift"
    * without assuming a form): S = Σ_{i<j} sign(c_j − c_i) over the
    * daily counts, entirely in exact integers. Kendall's τ ships as
    * sign + abs-milli (abs BEFORE the division — S is signed and
    * Spark div truncates where DuckDB // floors; they agree only on
    * nonnegative operands). Plan: one (type, day) partial agg,
    * checkpointed; the i<j pair join runs on the CALENDAR-bounded
    * daily table (≤ |types|·days²/2 rows — days grow with the
    * calendar, not the corpus). */
  def eventsTrendMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    val a = daily.select(col("event_type"), col("day").as("di"), col("c").as("ci"))
    val b = daily.select(col("event_type"), col("day").as("dj"), col("c").as("cj"))
    a.join(b, Seq("event_type"))
      .filter(col("di") < col("dj"))
      .groupBy("event_type")
      .agg(sum(expr("cast(sign(cj - ci) as bigint)")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("n_pairs"),
        expr("cast(sign(s_stat) as bigint)").as("trend_sign"),
        expr("abs(s_stat) * 1000 div n_pairs").as("abs_tau_milli"))
  }

  private val MK_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT a.event_type,
       |    CAST(SUM(CASE WHEN b.c > a.c THEN 1
       |             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
       |    CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM d a JOIN d b
       |    ON a.event_type = b.event_type AND a.day < b.day
       |  GROUP BY a.event_type),
       |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |       FROM d GROUP BY event_type)
       |SELECT p.event_type, n_days, s_stat, n_pairs,
       |  CAST(CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1
       |       ELSE 0 END AS BIGINT) AS trend_sign,
       |  abs(s_stat) * 1000 // n_pairs AS abs_tau_milli
       |FROM p JOIN nd USING (event_type)""".stripMargin

  /** Theil–Sen slope per event type — the ROBUST slope estimate next to
    * [[eventsTrendMannKendall]]'s sign test (MK answers "is there drift";
    * Theil–Sen answers "how steep", with a 29% breakdown point where an
    * OLS slope follows one bad day): the disc (lower) median of all
    * pairwise slopes (c_j − c_i)/(d_j − d_i), each slope an exact
    * milli-integer with abs-before-division (numerators are signed;
    * day gaps are positive by the i<j filter). Median selection is the
    * dataSkewAudit rank lattice — ROW_NUMBER over (slope, di, dj) so
    * ties break identically on both engines, pick rank (n+1) div 2.
    * Same calendar-bounded pair join as MK, on the same checkpointed
    * daily table shape. */
  def eventsTheilSen(s: SparkSession, dir: String): DataFrame =
    theilSenCore(DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped))

  /** Theil–Sen over any (event_type, day, c) daily frame — split out so
    * the spec can plant an outlier day and watch the 29% breakdown point
    * hold (the fdrBhCore seam discipline). */
  private[graft] def theilSenCore(daily: DataFrame): DataFrame = {
    val a = daily.select(col("event_type"), col("day").as("di"), col("c").as("ci"))
    val b = daily.select(col("event_type"), col("day").as("dj"), col("c").as("cj"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("di") < col("dj"))
      .select(col("event_type"), col("di"), col("dj"),
        expr("case when cj >= ci then (cj - ci) * 1000 div (dj - di) " +
          "else -((ci - cj) * 1000 div (dj - di)) end").as("slope_milli"))
    val byS = Window.partitionBy("event_type")
      .orderBy(col("slope_milli"), col("di"), col("dj"))
    val wAll = Window.partitionBy("event_type")
    slopes
      .withColumn("vr", row_number().over(byS).cast("long"))
      .withColumn("np", count(lit(1)).over(wAll).cast("long"))
      .groupBy("event_type")
      .agg(max("np").as("n_pairs"),
        max(when(col("vr") === expr("(np + 1) div 2"), col("slope_milli")))
          .as("ts_slope_milli"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        Seq("event_type"))
      .select("event_type", "n_days", "n_pairs", "ts_slope_milli")
  }

  private val THEIL_SEN_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |sl AS (
       |  SELECT a.event_type, a.day AS di, b.day AS dj,
       |    CASE WHEN b.c >= a.c THEN (b.c - a.c) * 1000 // (b.day - a.day)
       |         ELSE -((a.c - b.c) * 1000 // (b.day - a.day)) END AS slope_milli
       |  FROM d a JOIN d b
       |    ON a.event_type = b.event_type AND a.day < b.day),
       |r AS (
       |  SELECT event_type, slope_milli,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY slope_milli, di, dj) AS BIGINT) AS vr,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
       |  FROM sl),
       |m AS (
       |  SELECT event_type, MAX(np) AS n_pairs,
       |    MAX(CASE WHEN vr = (np + 1) // 2 THEN slope_milli END) AS ts_slope_milli
       |  FROM r GROUP BY event_type),
       |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |       FROM d GROUP BY event_type)
       |SELECT event_type, n_days, n_pairs, ts_slope_milli
       |FROM m JOIN nd USING (event_type)""".stripMargin

  /** Benjamini–Hochberg FDR control over the per-type Mann–Kendall
    * trends — the MULTIPLE-TESTING capstone of the monitoring family
    * (every per-type detector on the board fires m tests per sweep;
    * this is the correction that keeps the family-wise false-discovery
    * rate at α=0.05): per type z² = S²·18 / (n(n−1)(2n+5)) on the exact
    * micro lattice via the two-step long division (S²·18e6 would wrap
    * 64 bits at ~900 observed days; q·c + (r·c) div D never does), rank
    * types by z² DESC (= p ascending — no inverse normal CDF anywhere:
    * p_(k) ≤ kα/m ⟺ z²_(k)·10⁶ ≥ thr²_k with the FIXED two-sided
    * z-quantile literal table for m = 5, the r9 fixed-point-literal
    * trick), reject ranks ≤ max{k : passes}. The table is PINNED at
    * m = 5 (the driver generator's type universe at every SF): an
    * m ≠ 5 corpus fails LOUDLY through an m-dependent ANSI cast on both
    * engines rather than silently using wrong thresholds. Plan: the MK
    * pair join on the checkpointed calendar-bounded daily table + two
    * single-row broadcast folds (m, max-k). */
  def eventsFdrBh(s: SparkSession, dir: String): DataFrame =
    fdrBhCore(s, DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped))

  /** BH over a (event_type, day, c) daily frame — split out so the spec
    * can plant a monotone type and watch the rejection branch fire. */
  private[graft] def fdrBhCore(s: SparkSession, daily: DataFrame): DataFrame = {
    import s.implicits._
    val a = daily.select(col("event_type"), col("day").as("di"), col("c").as("ci"))
    val b = daily.select(col("event_type"), col("day").as("dj"), col("c").as("cj"))
    val z = a.join(b, Seq("event_type"))
      .filter(col("di") < col("dj"))
      .groupBy("event_type")
      .agg(sum(expr("cast(sign(cj - ci) as bigint)")).as("s_stat"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        Seq("event_type"))
      .withColumn("dv",
        expr("n_days * (n_days - 1) * (2 * n_days + 5)"))
      .withColumn("z2_micro", expr(
        "(s_stat * s_stat) div dv * 18000000L " +
          "+ ((s_stat * s_stat) % dv) * 18000000L div dv"))
    val m1 = z.agg(count(lit(1)).as("m"))
    // two-sided z quantiles for p = k·0.05/5, squared, in micro
    val thr = Seq((1L, 6635776L), (2L, 5410276L), (3L, 4708900L),
      (4L, 4218916L), (5L, 3841600L)).toDF("bh_rank", "thr2_micro")
    val ranked = z.crossJoin(broadcast(m1))
      .withColumn("rk0", row_number()
        .over(Window.orderBy(col("z2_micro").desc, col("event_type")))
        .cast("long"))
      .withColumn("bh_rank", expr(
        "case when m = 5 then rk0 else cast(concat(" +
          "'fdr_bh z-table pinned at m=5 types, got ', m) as bigint) end"))
      .join(broadcast(thr), Seq("bh_rank"))
      .withColumn("passes",
        expr("case when z2_micro >= thr2_micro then 1L else 0L end"))
      .transform(graft.Ckpt.capped) // ≤m rows; the max-k fold re-reads it
    val maxk = ranked
      .agg(coalesce(max(expr("bh_rank * passes")), lit(0L)).as("max_k"))
    ranked.crossJoin(broadcast(maxk))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        col("z2_micro"), col("bh_rank"), col("thr2_micro"),
        expr("case when bh_rank <= max_k then 1L else 0L end").as("rejected"))
  }

  private val FDRBH_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT a.event_type,
       |    CAST(SUM(CASE WHEN b.c > a.c THEN 1
       |             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM d a JOIN d b
       |    ON a.event_type = b.event_type AND a.day < b.day
       |  GROUP BY a.event_type),
       |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |       FROM d GROUP BY event_type),
       |z AS (
       |  SELECT p.event_type, n_days, s_stat,
       |    (s_stat * s_stat)
       |      // (n_days * (n_days - 1) * (2 * n_days + 5)) * 18000000
       |    + ((s_stat * s_stat)
       |      % (n_days * (n_days - 1) * (2 * n_days + 5))) * 18000000
       |      // (n_days * (n_days - 1) * (2 * n_days + 5)) AS z2_micro
       |  FROM p JOIN nd USING (event_type)),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM z),
       |rk AS (
       |  SELECT z.*, m,
       |    CAST(ROW_NUMBER() OVER (ORDER BY z2_micro DESC, event_type)
       |      AS BIGINT) AS rk0
       |  FROM z, m),
       |g AS (
       |  SELECT *, CASE WHEN m = 5 THEN rk0
       |    ELSE CAST('fdr_bh pinned at m=5, got ' || CAST(m AS VARCHAR)
       |      AS BIGINT) END AS bh_rank
       |  FROM rk),
       |t AS (SELECT CAST(v.k AS BIGINT) AS bh_rank,
       |        CAST(v.t AS BIGINT) AS thr2_micro
       |      FROM (VALUES (1, 6635776), (2, 5410276), (3, 4708900),
       |        (4, 4218916), (5, 3841600)) v(k, t)),
       |j AS (
       |  SELECT g.*, t.thr2_micro,
       |    CASE WHEN z2_micro >= thr2_micro THEN 1 ELSE 0 END AS passes
       |  FROM g JOIN t USING (bh_rank)),
       |mk AS (SELECT CAST(COALESCE(MAX(bh_rank * passes), 0) AS BIGINT)
       |         AS max_k FROM j)
       |SELECT event_type, n_days, s_stat, z2_micro, bh_rank, thr2_micro,
       |  CAST(CASE WHEN bh_rank <= max_k THEN 1 ELSE 0 END AS BIGINT)
       |    AS rejected
       |FROM j, mk""".stripMargin

  /** Greedy k-center coreset (Gonzalez) over the embeddings — the
    * coverage-first selection a training pipeline uses to pick a
    * maximally-spread exemplar set (dedup keeps one of each near-dup
    * family; THIS picks the k docs that together minimize the max
    * distance anyone is from a kept exemplar — the 2-approximation of
    * the k-center optimum): seed = min vec_id, then 5 rounds of
    * "farthest point from the chosen set" on the exact 2^-20 fixed-point
    * d² lattice (≤ 64·2^42 — BIGINT-safe), argmax tie-broken by vec_id.
    * Output: per round the chosen center and the coverage radius AFTER
    * including it (radius_r = max over points of min-d² to centers
    * 0..r). The state min-d² to the chosen set is a function of the
    * picks, so the loop is [[graft.Fixpoint.greedy]] over the fixed-point
    * widening checkpointed once: round r gets the coordinates of the r
    * centers so far as ONE array literal, derives each point's mind from
    * them (Long.MaxValue before any pick, so round 0 picks the min
    * vec_id) and picks the argmax — one scan + TakeOrdered(1), a driver
    * read of one row. k + 1 rounds: the last pick only reads the final
    * radius. An empty table is the greedy's named error. At cluster scale
    * the k scans are the honest greedy cost and each is embarrassingly
    * parallel. Returned plan is the collected 6-row local relation
    * (shard_rebalance class). */
  def simKcenterCoverage(s: SparkSession, dir: String): DataFrame = {
    val k = 6
    def fx(i: Int) =
      expr(s"cast(floor(cast(embedding[$i] as double) * 1048576) as bigint)")
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id") +: (0 until 64).map(i => fx(i).as(s"x$i")): _*)
      .transform(graft.Ckpt.capped)
    def d2To(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 64).map { i => val d = col(s"x$i") - c(i); d * d }.reduce(_ + _)
    val picks = graft.Fixpoint.greedy[Seq[Long]]("kcenter_round", k + 1)(
        r => (0 until 64).map(i => r.getLong(r.fieldIndex(s"x$i")))) { centers =>
      emb.withColumn("mind",
          aggregate(centers, lit(Long.MaxValue), (m, c) => least(m, d2To(c))))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
    }
    import emb.sparkSession.implicits._
    picks.zip(picks.tail).zipWithIndex.map { case ((c, next), i) =>
      (i.toLong, c.getLong(0), next.getLong(next.fieldIndex("mind")))
    }.toDF("round", "center_vec_id", "radius_fp")
  }

  private val KCENTER_SQL: String = {
    def fxp(c: String, i: Int) =
      s"CAST(FLOOR(CAST($c.embedding[${i + 1}] AS DOUBLE) * 1048576) AS BIGINT)"
    def d2(a: String, b: String) = (0 until 64).map { i =>
      s"(${fxp(a, i)} - ${fxp(b, i)}) * (${fxp(a, i)} - ${fxp(b, i)})"
    }.mkString(" + ")
    val ctes = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
         |m0 AS (SELECT e.vec_id, e.embedding, ${d2("e", "c0")} AS mind
         |       FROM e CROSS JOIN c0)""".stripMargin)
    for (r <- 1 until 6) {
      ctes.append(s""",
         |t$r AS (SELECT vec_id, embedding, mind FROM m${r - 1}
         |        ORDER BY mind DESC, vec_id LIMIT 1),
         |m$r AS (SELECT m.vec_id, m.embedding,
         |          LEAST(m.mind, ${d2("m", s"t$r")}) AS mind
         |        FROM m${r - 1} m CROSS JOIN t$r)""".stripMargin)
    }
    val rows = (s"""SELECT CAST(0 AS BIGINT) AS round,
         |  (SELECT vec_id FROM c0) AS center_vec_id,
         |  (SELECT MAX(mind) FROM m0) AS radius_fp""".stripMargin) +:
      (1 until 6).map(r => s"""SELECT CAST($r AS BIGINT),
         |  (SELECT vec_id FROM t$r), (SELECT MAX(mind) FROM m$r)""".stripMargin)
    ctes.toString + "\n" + rows.mkString("\nUNION ALL\n")
  }

  /** Triplet-margin audit over the labeled embeddings — the metric-
    * learning health check run before anyone trains a reranker on
    * these vectors: deterministic triplets (anchor + positive = the
    * md5-'tma:'-ordered consecutive pair within a label; negative = the
    * anchor-rank-aligned vector of the NEXT label, cyclic, rank wrapped
    * mod that label's size) and the exact fixed-point margin
    * d²(a,n) − d²(a,p) expanded so ‖a‖² cancels: Σ(n²−2an−p²+2ap) on
    * the 2^-20 lattice (≤ 64·2^42 per triplet — BIGINT-safe). A
    * violation (margin ≤ 0) means a wrong-label vector sits closer
    * than a same-label one. Plan: the ranked relation checkpoints once
    * (label window at build); triplets are two rank-equi self-joins +
    * the broadcast 10-row next-label map; the margin is ONE codegen'd
    * projection, final agg |labels|-row. */
  def simTripletMarginAudit(s: SparkSession, dir: String): DataFrame = {
    val ranked = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"),
        md5(concat(lit("tma:"), col("vec_id").cast("string"))).as("h"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("label").orderBy("h")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("label")))
      .select("vec_id", "label", "embedding", "rn", "cnt")
      .transform(graft.Ckpt.capped)
    val labs = ranked.select("label", "cnt").distinct()
    val nxt = labs
      .withColumn("next_label",
        coalesce(lead("label", 1).over(Window.orderBy("label")),
          min("label").over(Window.partitionBy())))
      .join(labs.select(col("label").as("next_label"),
        col("cnt").as("ncnt")), Seq("next_label"))
      .select("label", "next_label", "ncnt")
    def fxp(c: String, i: Int) =
      s"cast(floor(cast($c[$i] as double) * 1048576) as bigint)"
    val marginSql = (0 until 64).map { i =>
      val (a, p, n) = (fxp("ae", i), fxp("pe", i), fxp("ne", i))
      s"($n*$n - 2*$a*$n - $p*$p + 2*$a*$p)"
    }.mkString(" + ")
    ranked.filter(col("rn") % 2 === 1 && col("rn") < col("cnt"))
      .select(col("label"), col("rn"), col("embedding").as("ae"))
      .join(ranked.select(col("label"), (col("rn") - 1).as("rn"),
        col("embedding").as("pe")), Seq("label", "rn"))
      .join(broadcast(nxt), Seq("label"))
      .withColumn("nrn", expr("(rn - 1) % ncnt + 1"))
      .join(ranked.select(col("label").as("next_label"),
        col("rn").as("nrn"), col("embedding").as("ne")),
        Seq("next_label", "nrn"))
      .withColumn("margin_fp", expr(marginSql))
      .groupBy("label")
      .agg(count(lit(1)).as("n_triplets"),
        sum(when(col("margin_fp") <= 0, 1L).otherwise(0L)).as("n_violations"),
        min(col("margin_fp")).as("min_margin_fp"),
        sum(col("margin_fp")).as("sum_margin_fp"))
      .withColumn("violation_milli",
        expr("n_violations * 1000 div n_triplets"))
  }

  private val TRIPLET_SQL: String = {
    def fxp(c: String, i: Int) =
      s"CAST(FLOOR(CAST($c[${i + 1}] AS DOUBLE) * 1048576) AS BIGINT)"
    val marginSql = (0 until 64).map { i =>
      val (a, p, n) =
        (fxp("a.embedding", i), fxp("p.embedding", i), fxp("n.embedding", i))
      s"($n*$n - 2*$a*$n - $p*$p + 2*$a*$p)"
    }.mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
       |    md5('tma:' || CAST(vec_id AS VARCHAR)) AS h
       |  FROM embeddings),
       |r AS (
       |  SELECT vec_id, label, embedding,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY h) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS cnt
       |  FROM e),
       |labs AS (SELECT DISTINCT label, cnt FROM r),
       |nxt AS (
       |  SELECT l1.label, l1.next_label, l2.cnt AS ncnt FROM (
       |    SELECT label, COALESCE(LEAD(label) OVER (ORDER BY label),
       |      MIN(label) OVER ()) AS next_label FROM labs) l1
       |  JOIN labs l2 ON l2.label = l1.next_label),
       |tr AS (
       |  SELECT a.label, $marginSql AS margin_fp
       |  FROM r a
       |  JOIN nxt ON nxt.label = a.label
       |  JOIN r p ON p.label = a.label AND p.rn = a.rn + 1
       |  JOIN r n ON n.label = nxt.next_label
       |         AND n.rn = (a.rn - 1) % nxt.ncnt + 1
       |  WHERE a.rn % 2 = 1 AND a.rn < a.cnt)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_triplets,
       |  CAST(SUM(CASE WHEN margin_fp <= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violations,
       |  MIN(margin_fp) AS min_margin_fp,
       |  CAST(SUM(margin_fp) AS BIGINT) AS sum_margin_fp,
       |  CAST(SUM(CASE WHEN margin_fp <= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    * 1000 // COUNT(*) AS violation_milli
       |FROM tr GROUP BY label""".stripMargin
  }

  /** Plug-in Markov entropy rate per source state — the predictability
    * one-number on top of [[eventsTransitionMatrix]]'s milli
    * probabilities: per prev-state the conditional next-step entropy
    * Σⱼ n_ij·⌊log₂(n_i div n_ij)⌋·1000 div n_i (the occ_cell_diversity
    * floor-log2 lattice applied to transition counts — exact, no float
    * logs) plus the state's stationary-plug-in weight n_i·1000 div N.
    * A state with ≈0 bits has a deterministic successor (a funnel
    * step); ≈log₂k bits means the chain forgets — the difference is
    * what decides whether a sequence model is worth training. Plan:
    * one user-ordered lead window, one (prev, next) agg; the row-total
    * window and the fold ride the tiny transition table. */
  def eventsMarkovEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead("prev", 1).over(byUser))
      .filter(col("next").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("n"))
      .withColumn("row_n", sum("n").over(Window.partitionBy("prev")))
      .withColumn("total_n", sum("n").over(Window.partitionBy()))
      .groupBy("prev")
      .agg(max("row_n").as("n_i"), max("total_n").as("n_total"),
        count(lit(1)).as("k_next"),
        sum(expr("n * (length(bin(row_n div n)) - 1)")).as("bits_sum"))
      .select(col("prev"), col("n_i"), col("k_next"),
        expr("bits_sum * 1000 div n_i").as("cond_entropy_milli_bits"),
        expr("n_i * 1000 div n_total").as("weight_milli"))
  }

  private val MARKOV_ENTROPY_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |p AS (SELECT event_type AS prev,
      |        LEAD(event_type, 1) OVER (PARTITION BY user_id
      |          ORDER BY ts_ns, event_id) AS next
      |      FROM e),
      |t AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM p WHERE next IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT prev, next, n,
      |        CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS row_n,
      |        CAST(SUM(n) OVER () AS BIGINT) AS total_n
      |      FROM t)
      |SELECT prev, MAX(row_n) AS n_i, CAST(COUNT(*) AS BIGINT) AS k_next,
      |  CAST(SUM(n * (length(bin(row_n // n)) - 1)) AS BIGINT)
      |    * 1000 // MAX(row_n) AS cond_entropy_milli_bits,
      |  MAX(row_n) * 1000 // MAX(total_n) AS weight_milli
      |FROM w GROUP BY prev""".stripMargin

  /** A/B sample-ratio-mismatch gate — the validity check that must pass
    * BEFORE anyone reads [[eventsAbLift]]'s effect sizes: users split
    * 50/50 by the 'srm:' md5 bit (own salt — never correlated with
    * ab_lift's 'ab:' arms), and the χ²(1df) statistic for equal split is
    * cross-multiplied to the exact lattice (n_a−n_b)²·1000 div n. A
    * stat over 3841 (χ²₀.₀₅·1000) means the assignment itself is broken
    * — crashed sessions, bot filtering applied to one arm — and every
    * downstream metric is garbage. Plan: one user-distinct exchange,
    * then a single-row conditional fold. */
  def eventsAbSrm(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("user_id")).distinct()
      .select(expr("cast(conv(substring(md5(cast(concat('srm:', user_id)" +
        " as binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b)")
          .as("srm_stat_milli"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b) > 3841")
          .as("srm_flag"))

  private val SRM_SQL =
    """WITH u AS (
      |  SELECT ('0x' || substr(md5('srm:' || CAST(user_id AS VARCHAR)),
      |    1, 15))::BIGINT % 2 AS arm
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |f AS (
      |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM u)
      |SELECT n_a, n_b,
      |  (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS srm_stat_milli,
      |  (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841 AS srm_flag
      |FROM f""".stripMargin

  /** Calendar silence streaks per event type — the dead-man-switch
    * audit next to [[eventsGapHistogram]]'s event-grain gaps: at DAY
    * grain, how much of the type's own calendar span is silent, what
    * the longest missing-day run is and when it happened, and how many
    * distinct silent runs there were (count of lag-gaps > 1). A type
    * with coverage_milli ≈ 1000 reports every day; a long max_gap_days
    * on a monitored feed is the page. Plan: one (type, day) partial
    * agg, the lag window and the final agg ride ONE event_type
    * exchange. */
  def eventsSilenceStreaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("prev", lag("day", 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        (max("day") - min("day") + 1).as("span_days"),
        sum(when(col("prev").isNotNull && col("day") - col("prev") > 1, 1L)
          .otherwise(0L)).as("n_silent_runs"),
        max(when(col("prev").isNotNull, col("day") - col("prev") - 1)
          .otherwise(0L)).as("max_gap_days"),
        max(when(col("prev").isNotNull && col("day") - col("prev") > 1,
          col("day") - 1)).as("last_gap_end_day"))
      .withColumn("coverage_milli", expr("n_days * 1000 div span_days"))
  }

  private val SILENCE_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day,
       |    LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev
       |  FROM d)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  MAX(day) - MIN(day) + 1 AS span_days,
       |  CAST(SUM(CASE WHEN prev IS NOT NULL AND day - prev > 1
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_silent_runs,
       |  MAX(CASE WHEN prev IS NOT NULL THEN day - prev - 1
       |      ELSE 0 END) AS max_gap_days,
       |  MAX(CASE WHEN prev IS NOT NULL AND day - prev > 1
       |      THEN day - 1 END) AS last_gap_end_day,
       |  CAST(COUNT(*) AS BIGINT) * 1000 // (MAX(day) - MIN(day) + 1)
       |    AS coverage_milli
       |FROM g GROUP BY event_type""".stripMargin

  /** Gini concentration of per-user event volume — the inequality
    * one-number next to [[eventsUserEntropy]]'s per-user MIX read: how
    * concentrated is total activity across users. Exact cross-multiplied
    * lattice: with users ranked ascending by (count, user_id),
    * gini_milli = (2Σi·xᵢ − (n+1)S)·1000 div (n·S) — the numerator is
    * ≥ 0 by Chebyshev's sum inequality, so the truncating/floor
    * divisions agree; also ships the top-decile share. The global rank
    * comes from the two-level distributed prefix sum
    * ([[Scale.bucketOffsets]] over count buckets): the only
    * globally-ordered window runs on ≤|distinct counts| rows, never a
    * single-task sort of the user population (Σrank·x is BIGINT-safe to
    * ~10⁸ users at 10⁴ events each). Plan: user agg, bucket-rank join
    * (offsets broadcast), checkpoint; the totals fold and the decile
    * fold read it, joined by a whitelisted 1-row crossJoin. */
  def eventsUserGini(s: SparkSession, dir: String): DataFrame = {
    val u = DomainQueries.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
      .withColumn("bkt", col("x")).withColumn("cnt", lit(1L))
    val offsets = Scale.bucketOffsets(u, "bkt", Seq("cnt"))
    val ranked = u.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("bkt").orderBy("user_id"))
          .cast("long") + col("cnt_off"))
      .select("user_id", "x", "rank")
      .transform(graft.Ckpt.capped)
    val tot = ranked.agg(count(lit(1)).as("n_users"),
      sum("x").as("total_events"), sum(expr("rank * x")).as("isum"))
    ranked.crossJoin(broadcast(tot))
      .groupBy("n_users", "total_events", "isum")
      .agg(sum(when(col("rank") > col("n_users") - expr("n_users div 10"),
        col("x")).otherwise(0L)).as("top_decile_events"))
      .select(col("n_users"), col("total_events"),
        expr("(2 * isum - (n_users + 1) * total_events) * 1000" +
          " div (n_users * total_events)").as("gini_milli"),
        col("top_decile_events"),
        expr("top_decile_events * 1000 div total_events")
          .as("top_decile_milli"))
  }

  private val USER_GINI_SQL =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT user_id, x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS rank
      |  FROM u),
      |t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(x) AS BIGINT) AS total_events,
      |    CAST(SUM(rank * x) AS BIGINT) AS isum
      |  FROM r)
      |SELECT n_users, total_events,
      |  (2 * isum - (n_users + 1) * total_events) * 1000
      |    // (n_users * total_events) AS gini_milli,
      |  CAST(SUM(CASE WHEN rank > n_users - n_users // 10 THEN x ELSE 0 END)
      |    AS BIGINT) AS top_decile_events,
      |  CAST(SUM(CASE WHEN rank > n_users - n_users // 10 THEN x ELSE 0 END)
      |    AS BIGINT) * 1000 // total_events AS top_decile_milli
      |FROM r CROSS JOIN t
      |GROUP BY n_users, total_events, isum""".stripMargin

  /** Shewhart SPC sheet with the western-electric run rule per event
    * type — the control-chart read next to the sequential detectors
    * (cusum finds the shift point, ewma smooths; THIS is the chart an
    * SRE actually pins on a dashboard): daily counts against the
    * per-type global mean ± kσ, entirely cross-multiplied so no
    * division or sqrt ever happens — beyond-kσ ⇔ (n·x − S)² > k²·(n·S2
    * − S²) with S = Σc, S2 = Σc² (BIGINT-safe to ~1e5 daily events per
    * type at a 400-day calendar; the arrival_regularity divide-first
    * form is the fallback beyond that). Reports the 3σ breach count,
    * the 2σ count, and the western-electric rule-2 count (consecutive
    * same-side 2σ pairs — the run signal a single-point rule misses).
    * Plan: (type, day) agg; the stat windows, the lag window and the
    * final agg all ride ONE event_type exchange. */
  def eventsSpcRules(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val wo = wp.orderBy("day")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("s", sum("c").over(wp))
      .withColumn("s2", sum(expr("c * c")).over(wp))
      .withColumn("dev", expr("n * c - s"))
      .withColumn("varn", expr("n * s2 - s * s"))
      .withColumn("out3", when(expr("dev * dev > 9 * varn"), 1L).otherwise(0L))
      .withColumn("out2", when(expr("dev * dev > 4 * varn"), 1L).otherwise(0L))
      .withColumn("side", expr("cast(sign(dev) as bigint)"))
      .withColumn("prev_out2", lag("out2", 1).over(wo))
      .withColumn("prev_side", lag("side", 1).over(wo))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("out3").as("n_beyond_3s"),
        sum("out2").as("n_beyond_2s"),
        sum(when(col("out2") === 1 && col("prev_out2") === 1 &&
          col("prev_side") === col("side"), 1L).otherwise(0L))
          .as("n_rule2_pairs"))
  }

  private val SPC_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day, c,
       |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
       |    CAST(SUM(c) OVER w AS BIGINT) AS s,
       |    CAST(SUM(c * c) OVER w AS BIGINT) AS s2
       |  FROM d WINDOW w AS (PARTITION BY event_type)),
       |f AS (
       |  SELECT event_type, day,
       |    CASE WHEN (n*c - s)*(n*c - s) > 9 * (n*s2 - s*s)
       |         THEN 1 ELSE 0 END AS out3,
       |    CASE WHEN (n*c - s)*(n*c - s) > 4 * (n*s2 - s*s)
       |         THEN 1 ELSE 0 END AS out2,
       |    CASE WHEN n*c - s > 0 THEN 1 WHEN n*c - s < 0 THEN -1
       |         ELSE 0 END AS side
       |  FROM g),
       |l AS (
       |  SELECT event_type, out3, out2, side,
       |    LAG(out2) OVER (PARTITION BY event_type ORDER BY day) AS prev_out2,
       |    LAG(side) OVER (PARTITION BY event_type ORDER BY day) AS prev_side
       |  FROM f)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(out3) AS BIGINT) AS n_beyond_3s,
       |  CAST(SUM(out2) AS BIGINT) AS n_beyond_2s,
       |  CAST(SUM(CASE WHEN out2 = 1 AND prev_out2 = 1 AND prev_side = side
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_rule2_pairs
       |FROM l GROUP BY event_type""".stripMargin

  /** Record-breaking days per event type — the third member of the
    * drift family ([[eventsTrendMannKendall]] asks "is there monotone
    * drift", [[eventsRunsTest]] "is the walk random"; this asks "how
    * often does load set a NEW all-time daily high"): a day is a record
    * when its count strictly exceeds every earlier day's. Under
    * exchangeability records arrive like the harmonic series, so the
    * expected count ships as the exact lattice Σ_{k=1..n} 1000 div k
    * (each term floored identically by both engines — no float H_n).
    * Records ≫ expectation = sustained growth; ≈ expectation = drift-
    * free load. Plan: ONE event_type exchange carries the daily agg,
    * the running-max window AND the row_number for the harmonic sum;
    * the final agg is |types|-row. */
  def eventsRecordDays(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("prev_max",
        max("c").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("rn", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("prev_max").isNull || col("c") > col("prev_max"), 1L)
          .otherwise(0L)).as("n_records"),
        max(when(col("prev_max").isNull || col("c") > col("prev_max"),
          col("day"))).as("last_record_day"),
        sum(expr("1000 div rn")).as("exp_records_milli"))
  }

  private val RECORD_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day, c,
       |    MAX(c) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM d)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(CASE WHEN prev_max IS NULL OR c > prev_max
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       |  MAX(CASE WHEN prev_max IS NULL OR c > prev_max THEN day END)
       |    AS last_record_day,
       |  CAST(SUM(1000 // rn) AS BIGINT) AS exp_records_milli
       |FROM g GROUP BY event_type""".stripMargin

  /** Wald–Wolfowitz runs test per event type — the randomness check
    * next to [[eventsTrendMannKendall]]'s monotone-trend read: over the
    * observed daily counts, take the sign of each day-over-day change
    * (ties dropped, the textbook treatment), count up-moves, down-moves
    * and RUNS of equal sign. Too few runs ⇒ moves cluster (regimes /
    * drift); too many ⇒ oscillation (overdispersed load balancing).
    * E[R] = 1 + 2·n⁺·n⁻/n ships as exact milli; the verdict sign
    * compares R·n − (n + 2·n⁺·n⁻) so no division happens before the
    * sign. Plan: one (type, day) partial agg, then BOTH lag windows
    * ride the single event_type exchange. */
  def eventsRunsTest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val sgns = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("prev", lag("c", 1).over(w))
      .filter(col("prev").isNotNull && col("c") =!= col("prev"))
      .withColumn("sgn", expr("cast(sign(c - prev) as bigint)"))
    sgns.withColumn("psgn", lag("sgn", 1).over(w))
      .groupBy("event_type")
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("psgn").isNull || col("psgn") =!= col("sgn"), 1L)
          .otherwise(0L)).as("n_runs"))
      .withColumn("n_moves", col("n_up") + col("n_down"))
      .withColumn("exp_runs_milli",
        expr("1000 + 2000 * n_up * n_down div n_moves"))
      .withColumn("verdict_sign",
        expr("cast(sign(n_runs * n_moves - (n_moves + 2 * n_up * n_down)) as bigint)"))
  }

  private val RUNS_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day, c,
       |    LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev
       |  FROM d),
       |sg AS (
       |  SELECT event_type, day,
       |    CAST(CASE WHEN c > prev THEN 1 ELSE -1 END AS BIGINT) AS sgn
       |  FROM g WHERE prev IS NOT NULL AND c <> prev),
       |r AS (
       |  SELECT event_type, sgn,
       |    LAG(sgn) OVER (PARTITION BY event_type ORDER BY day) AS psgn
       |  FROM sg),
       |a AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       |    CAST(SUM(CASE WHEN psgn IS NULL OR psgn <> sgn THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_runs
       |  FROM r GROUP BY event_type)
       |SELECT event_type, n_up, n_down, n_runs,
       |  n_up + n_down AS n_moves,
       |  1000 + 2000 * n_up * n_down // (n_up + n_down) AS exp_runs_milli,
       |  CAST(CASE WHEN n_runs * (n_up + n_down)
       |         > (n_up + n_down) + 2 * n_up * n_down THEN 1
       |       WHEN n_runs * (n_up + n_down)
       |         < (n_up + n_down) + 2 * n_up * n_down THEN -1
       |       ELSE 0 END AS BIGINT) AS verdict_sign
       |FROM a""".stripMargin

  /** Per-cluster embedding outlier gate — the embedding-QA sweep that
    * catches corrupt vectors and mis-embedded documents BEFORE they
    * poison an ANN index: within each k-means cluster, the exact lower
    * median of d² (order statistic, (n+1) div 2 rank with vec_id
    * tiebreak) and the count of vectors sitting beyond 4× that median —
    * the robust threshold a mean+stddev gate can't give when the
    * contamination itself inflates the moments. Plan: the rank/count
    * windows ride ONE cluster exchange over [[simKmeansAssign]]'s
    * checkpointed scan (K = 8 partitions — the trimmedMean robust-stats
    * class: partition count is the CODEBOOK dimension, not the corpus);
    * the ≤K-row median table joins back broadcast; final ≤K-row rollup. */
  def simEmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val byC = Window.partitionBy("cluster")
    val byCd = byC.orderBy(col("d2"), col("vec_id"))
    val ranked = simKmeansAssign(s, dir)
      .withColumn("rn", row_number().over(byCd))
      .withColumn("cnt", count(lit(1)).over(byC))
    val med = ranked
      .groupBy("cluster")
      .agg(min(when(col("rn") === expr("(cnt + 1) div 2"), col("d2")))
        .as("median_d2"))
    ranked.join(broadcast(med), Seq("cluster"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vectors"), min("median_d2").as("med_d2"),
        sum(when(col("d2") > col("median_d2") * 4, 1L).otherwise(0L))
          .as("n_outliers"),
        max("d2").as("max_d2"))
      .withColumn("outlier_milli",
        expr("n_outliers * 1000 div n_vectors"))
      .withColumnRenamed("med_d2", "median_d2")
  }

  private lazy val EMB_OUTLIER_SQL =
    s"""WITH a AS (SELECT vec_id, cluster, d2 FROM ($KMEANS_SQL)),
       |r AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY d2, vec_id)
       |      AS rn,
       |    COUNT(*) OVER (PARTITION BY cluster) AS cnt
       |  FROM a),
       |m AS (SELECT cluster,
       |        MIN(CASE WHEN rn = (cnt + 1) // 2 THEN d2 END) AS median_d2
       |      FROM r GROUP BY cluster)
       |SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  MIN(m.median_d2) AS median_d2,
       |  CAST(SUM(CASE WHEN a.d2 > m.median_d2 * 4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers,
       |  MAX(a.d2) AS max_d2,
       |  CAST(SUM(CASE WHEN a.d2 > m.median_d2 * 4 THEN 1 ELSE 0 END)
       |    AS BIGINT) * 1000 // COUNT(*) AS outlier_milli
       |FROM a JOIN m USING (cluster) GROUP BY a.cluster""".stripMargin

  /** Day-over-day top-k churn — the "who dominates traffic" stability
    * monitor next to freq_count_min's heavy hitters: per day the top-8
    * users by event count (count desc, user_id tiebreak), then the
    * overlap with the PREVIOUS day's club in exact milli. A stable
    * service reads high overlap; a crawler rotation or hot-account
    * incident reads a cliff. Plan: one (day, user) partial-aggregated
    * exchange + the per-day rank window (WindowGroupLimit prunes to 8);
    * the club table is calendar-bounded (≤ 8·|days| rows), checkpointed
    * (self-join for the day-over-day intersection), so the join and both
    * rollups are metadata-sized at any corpus. */
  def eventsTopkDrift(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("day").orderBy(col("c").desc, col("user_id"))
    val tp = DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS").as("day"), col("user_id"))
      .groupBy("day", "user_id").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") <= 8)
      .select("day", "user_id")
      .transform(graft.Ckpt.capped)
    val sz = tp.groupBy("day").agg(count(lit(1)).as("n_top"))
    val cm = tp
      .join(tp.select((col("day") + 1).as("day"), col("user_id")),
        Seq("day", "user_id"))
      .groupBy("day").agg(count(lit(1)).as("n_common"))
    sz.join(cm, Seq("day"), "left_outer")
      .select(col("day"), col("n_top"),
        coalesce(col("n_common"), lit(0L)).as("n_common_prev"))
      .withColumn("overlap_milli",
        expr("n_common_prev * 1000 div n_top"))
  }

  private val TOPK_DRIFT_SQL =
    s"""WITH dc AS (
       |  SELECT epoch_ns(ts) // $DAY_NS AS day, user_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |tp AS (SELECT day, user_id FROM (
       |    SELECT day, user_id,
       |      ROW_NUMBER() OVER (PARTITION BY day ORDER BY c DESC, user_id)
       |        AS rn
       |    FROM dc) WHERE rn <= 8),
       |sz AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_top FROM tp
       |       GROUP BY day),
       |cm AS (SELECT t.day, CAST(COUNT(*) AS BIGINT) AS n_common
       |       FROM tp t JOIN tp p
       |         ON p.day = t.day - 1 AND p.user_id = t.user_id
       |       GROUP BY t.day)
       |SELECT sz.day, n_top,
       |  COALESCE(n_common, CAST(0 AS BIGINT)) AS n_common_prev,
       |  COALESCE(n_common, 0) * 1000 // n_top AS overlap_milli
       |FROM sz LEFT JOIN cm USING (day)""".stripMargin

  /** Per-subspace PQ codebook health — the distortion diagnosis that
    * decides which subquantizer to retrain (the readout sitting under
    * [[simPqQuantize]]'s per-vector codes): for each of the 8 subspaces,
    * the chosen-code residual mass (mean/max ‖x_c − centroid‖² on the
    * shared 2^-20 fixed-point lattice) and codebook utilization (a
    * subspace using 2 of its 4 codes wastes half its bits). The per-
    * subspace argmin is [[simPqQuantize]]'s least(struct) idiom — never
    * a when-chain; the ×8 explode feeds ONE (sub, code) hash aggregate
    * (32 rows out), then an 8-row rollup. */
  def simPqDistortion(s: SparkSession, dir: String): DataFrame = {
    val fixed = pqFixed(s, dir)
    val seeds = pqSeeds(fixed)
    val subStructs = (0 until 8).map { c =>
      val pairs = seeds.zipWithIndex.map { case (sv, k) =>
        val d2 = (0 until 8)
          .map { i => val d = col(s"x${c * 8 + i}") - lit(sv(c * 8 + i)); d * d }
          .reduce(_ + _)
        struct(d2.as("d2"), lit(k.toLong).as("k"))
      }
      struct(lit(c.toLong).as("sub"), least(pairs.toSeq: _*).as("a"))
    }
    fixed.select(explode(array(subStructs: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("e.a.k").as("k"),
        col("e.a.d2").as("d2"))
      .groupBy("sub", "k")
      .agg(count(lit(1)).as("n"), sum("d2").as("sd2"), max("d2").as("mx"))
      .groupBy("sub")
      .agg(sum("n").as("n_vectors"), count(lit(1)).as("n_codes_used"),
        expr("sum(sd2) div sum(n)").as("mean_d2_fp"), max("mx").as("max_d2_fp"))
      .withColumn("util_milli", expr("n_codes_used * 1000 div 4"))
  }

  private val PQ_DIST_SQL =
    """WITH f AS (
      |  SELECT vec_id,
      |    list_transform(generate_series(1, 64),
      |      j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)) AS x
      |  FROM embeddings),
      |sd AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1 AS k, x AS c
      |  FROM (SELECT vec_id, x,
      |          ('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |        FROM f)
      |  ORDER BY h, vec_id LIMIT 4),
      |d AS (
      |  SELECT f.vec_id, g.sub, sd.k,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (f.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i]) *
      |           (f.x[g.sub * 8 + i] - sd.c[g.sub * 8 + i]))) AS d2
      |  FROM f
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) g
      |  CROSS JOIN sd),
      |a AS (
      |  SELECT vec_id, sub, k, d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, k) AS rn
      |  FROM d),
      |w1 AS (
      |  SELECT sub, k, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(d2) AS BIGINT) AS sd2, CAST(MAX(d2) AS BIGINT) AS mx
      |  FROM a WHERE rn = 1 GROUP BY sub, k)
      |SELECT CAST(sub AS BIGINT) AS sub,
      |  CAST(SUM(n) AS BIGINT) AS n_vectors,
      |  CAST(COUNT(*) AS BIGINT) AS n_codes_used,
      |  CAST(SUM(sd2) // SUM(n) AS BIGINT) AS mean_d2_fp,
      |  MAX(mx) AS max_d2_fp,
      |  CAST(COUNT(*) * 1000 // 4 AS BIGINT) AS util_milli
      |FROM w1 GROUP BY sub""".stripMargin

  /** Inter-arrival gap histogram per event type — the temporal sibling of
    * events_value_histogram and THE diagnostic read before choosing a
    * sessionize gap, a throttle window, or a streaming watermark (the
    * p99.9 gap bin IS the watermark you need): consecutive same-(user,
    * type) events' gaps in seconds, bucketed by the exact floor-log2
    * lattice (length(bin(gap+1))-1 — gap 0 lands in bin 0, no float log
    * anywhere). Output is ≤ |types| × ~40 bins at ANY event volume.
    * Plan: ONE (user_id, event_type) exchange carries the lag window,
    * then a tiny bin aggregate — no join, no second scan. */
  def eventsGapHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("prev", lag("ts_ns", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("cast(length(bin((ts_ns - prev) div 1000000000 + 1)) - 1 as bigint)")
          .as("gap_bits"))
      .groupBy("event_type", "gap_bits")
      .agg(count(lit(1)).as("n_gaps"))
  }

  private val GAP_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns FROM events),
      |g AS (SELECT event_type,
      |        ts_ns - LAG(ts_ns) OVER (
      |          PARTITION BY user_id, event_type ORDER BY ts_ns, event_id) AS gap
      |      FROM e)
      |SELECT event_type,
      |  CAST(length(bin(gap // 1000000000 + 1)) - 1 AS BIGINT) AS gap_bits,
      |  CAST(COUNT(*) AS BIGINT) AS n_gaps
      |FROM g WHERE gap IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Per-conversion time-to-convert — the HOW-LONG readout between
    * events_attribution's WHO-gets-credit and events_funnel's
    * DID-it-happen: every purchase paired with the user's most recent
    * preceding view inside a 7-day lookback, with the exact integer
    * lag in seconds and its floor-log2 bin (the gap_histogram lattice,
    * so downstream dashboards bucket identically). Plan: ONE user_id
    * window exchange — the running MAX-of-view-ts rides the same sort
    * the funnel uses; no self-join, no per-conversion rescan. */
  def eventsConversionLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("ts_ns"))).over(w))
      .filter(col("event_type") === "purchase" && col("last_view").isNotNull &&
        col("ts_ns") - col("last_view") <= lit(604800000000000L))
      .select(col("event_id"), col("user_id"),
        expr("(ts_ns - last_view) div 1000000000").as("lag_s"),
        expr("cast(length(bin((ts_ns - last_view) div 1000000000 + 1)) - 1 as bigint)")
          .as("lag_bits"))
  }

  private val CONV_LAG_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts_ns FROM events),
      |lv AS (SELECT user_id, event_type, event_id, ts_ns,
      |         MAX(CASE WHEN event_type = 'view' THEN ts_ns END) OVER (
      |           PARTITION BY user_id ORDER BY ts_ns, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
      |       FROM e)
      |SELECT event_id, user_id,
      |  (ts_ns - last_view) // 1000000000 AS lag_s,
      |  CAST(length(bin((ts_ns - last_view) // 1000000000 + 1)) - 1 AS BIGINT)
      |    AS lag_bits
      |FROM lv
      |WHERE event_type = 'purchase' AND last_view IS NOT NULL
      |  AND ts_ns - last_view <= 604800000000000""".stripMargin

  /** Inactivity churn by signup cohort — the WHERE-did-they-go readout
    * next to events_retention's day-offset matrix: a user is churned
    * when their last activity predates the corpus watermark (max last
    * activity hour — the same derived-watermark anchor events_ttl_sweep
    * uses) by more than 24 HOURS; cohort = signup day. The hour lattice
    * (not days) is what discriminates on a corpus whose users all span
    * the same few weeks — the production threshold is a constant swap.
    * Exact milli churn rates. Plan: one user_id aggregate, the
    * single-row watermark broadcast back (never a driver collect), then
    * a |cohorts|-row rollup. */
  def eventsInactivityChurn(s: SparkSession, dir: String): DataFrame = {
    val perUser = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $HOUR_NS").as("hr"))
      .groupBy("user_id")
      .agg(min("hr").as("first_hr"), max("hr").as("last_hr"))
      // referenced by the watermark fold AND the cohort rollup — without
      // the checkpoint both references replay the events scan + aggregate
      .transform(graft.Ckpt.capped)
    val wm = perUser.agg(max("last_hr").as("wm"))
    perUser.crossJoin(broadcast(wm))
      .select(expr("first_hr div 24").as("cohort_day"),
        when(col("last_hr") < col("wm") - 24, 1L).otherwise(0L).as("churned"))
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_users"), sum("churned").as("n_churned"))
      .withColumn("churn_millis", expr("n_churned * 1000 div n_users"))
  }

  private val CHURN_SQL =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // $HOUR_NS AS hr FROM events),
       |u AS (SELECT user_id, MIN(hr) AS first_hr, MAX(hr) AS last_hr
       |      FROM e GROUP BY user_id),
       |w AS (SELECT MAX(last_hr) AS wm FROM u)
       |SELECT first_hr // 24 AS cohort_day,
       |  CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(CASE WHEN last_hr < wm - 24 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_churned,
       |  CAST(SUM(CASE WHEN last_hr < wm - 24 THEN 1 ELSE 0 END) * 1000
       |    // COUNT(*) AS BIGINT) AS churn_millis
       |FROM u CROSS JOIN w GROUP BY 1""".stripMargin

  /** Curriculum staging — the easy→hard ordering curriculum training
    * schedules read from: per-doc difficulty as an exact integer
    * (mean token length in milli-chars + token count — longer words
    * and longer documents rank harder; no floats, no engine-divergent
    * scoring), then an EXACT global NTILE(4) into training stages via
    * the distributed rank machinery ([[globalRowNumber]] +
    * [[graft.NtileSplit]] — the events_rfm discipline: range
    * repartition + per-partition offsets, never a single-task global
    * window). Ties break on doc_id in both engines. */
  def dataCurriculumStages(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
      .cast("long")
    val nChr = length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long")
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"), nChr.as("n_alnum"))
      .filter(col("n_tokens") > 0)
      .withColumn("difficulty_milli", expr("n_alnum * 1000 div n_tokens + n_tokens"))
      .transform(graft.Ckpt.capped) // count() + rank sort would replay the scan twice
    val n = scored.count()
    val ranked = globalRowNumber(scored, Seq(col("difficulty_milli"), col("doc_id")))
    val sp = graft.NtileSplit(n, 4)
    ranked.select(col("doc_id"), col("n_tokens"), col("difficulty_milli"),
      sp.tile(col("rn")).cast("long").as("stage"))
  }

  private val CURRICULUM_SQL =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
      |      AS n_alnum
      |  FROM documents),
      |d AS (SELECT doc_id, n_tokens,
      |        n_alnum * 1000 // n_tokens + n_tokens AS difficulty_milli
      |      FROM m WHERE n_tokens > 0)
      |SELECT doc_id, n_tokens, difficulty_milli,
      |  CAST(NTILE(4) OVER (ORDER BY difficulty_milli, doc_id) AS BIGINT) AS stage
      |FROM d""".stripMargin

  /** Market-basket brand affinity — the co-occurrence/lift mining that
    * drives "bought together" recommendation candidates and (in a
    * training-data pipeline) source-correlation audits: for every brand
    * pair sharing an order, the support count and the exact milli-lift
    * support·N·1000 div (cnt_a·cnt_b) (> 1000 means the pair co-occurs
    * MORE than independent brands would — all-integer, no rational
    * rounding on either engine). The (order, brand) dedup bounds the
    * self-join: pairs per order ≤ (distinct brands per order)², and the
    * pair space itself is ≤ |brands|² regardless of fact size. Plan: one
    * partkey join, one dedup exchange, then the pair self-join rides a
    * single orderkey exchange of the CHECKPOINTED dedup relation (four
    * references — checkpoint stops the plan replaying the join per
    * reference, the triangles/containment discipline); brand counts and
    * the order total broadcast back. */
  def affinityBrandPairs(s: SparkSession, dir: String): DataFrame = {
    // r14: ok-aligned stamped checkpoint (hash(ok) satisfies the dedup's
    // (ok, brand) clustering, so the repartition IS the dedup exchange)
    // + shuffle_hash so the pair fan-out runs exchange-free at the
    // checkpoint width instead of single-task over a tiny AQE-coalesced
    // re-exchange (the occ_nestedness class).
    val obBase = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      .join(t(s, dir, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
    // volume-aware width (leaf-scan bytes, floor = defaultParallelism) —
    // computed ONCE so the repartition and the stamp can never disagree
    val obW = graft.Ckpt.wide(obBase)
    val ob = graft.Ckpt.stamp(
      obBase.repartition(obW, col("ok")).dropDuplicates("ok", "brand"),
      obW, "ok")
    val nOrders = ob.agg(countDistinct("ok").as("n_orders"))
    val brandCnt = ob.groupBy("brand").agg(count(lit(1)).as("cnt"))
    ob.as("a").join(ob.as("b").hint("shuffle_hash"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("support"))
      .join(broadcast(brandCnt.select(col("brand").as("brand_a"), col("cnt").as("cnt_a"))), "brand_a")
      .join(broadcast(brandCnt.select(col("brand").as("brand_b"), col("cnt").as("cnt_b"))), "brand_b")
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("support"),
        expr("support * n_orders * 1000 div (cnt_a * cnt_b)").as("lift_milli"))
  }

  private val AFFINITY_SQL =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob),
      |bc AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM ob GROUP BY brand),
      |p AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
      |        CAST(COUNT(*) AS BIGINT) AS support
      |      FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
      |      GROUP BY 1, 2)
      |SELECT brand_a, brand_b, support,
      |  CAST(support * n.n_orders * 1000 // (ca.cnt * cb.cnt) AS BIGINT) AS lift_milli
      |FROM p CROSS JOIN n
      |JOIN bc ca ON brand_a = ca.brand
      |JOIN bc cb ON brand_b = cb.brand""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences
    * — the journey model events_top_paths' trigram mining reads OUT of:
    * for every consecutive (prev → next) pair, its count and the exact
    * row-normalized transition probability in milli-units (integer
    * cross-multiplication — n·1000 div row total — no float division).
    * The pair extraction is ONE lead window on the user_id exchange
    * (the top_paths shape); the matrix is ≤ |types|² rows, so the
    * row-total window runs over the aggregate, never the corpus. */
  def eventsTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val byPrev = Window.partitionBy("prev")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead("prev", 1).over(byUser))
      .filter(col("next").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("n"))
      .withColumn("row_n", sum("n").over(byPrev))
      .withColumn("milli_p", expr("n * 1000 div row_n"))
  }

  private val TRANSITION_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |p AS (SELECT event_type AS prev,
      |        LEAD(event_type, 1) OVER (PARTITION BY user_id
      |          ORDER BY ts_ns, event_id) AS next
      |      FROM e),
      |c AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM p WHERE next IS NOT NULL GROUP BY prev, next)
      |SELECT prev, next, n,
      |  CAST(SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS row_n,
      |  CAST(n * 1000 // SUM(n) OVER (PARTITION BY prev) AS BIGINT) AS milli_p
      |FROM c""".stripMargin

  /** Rademacher ±1 JL weights for the 64 → 8 dim random-projection
    * reduction — the cheap Johnson–Lindenstrauss step before ANN
    * indexing (sim_lsh_topk keeps only the SIGN of such projections;
    * this keeps the values). Splitmix64-derived, computed ONCE and
    * embedded as plain integer literals in both engines' plans (8×64).
    * A closed-form lattice like (p·73+j·37) mod 17 — fine for sign
    * BUCKETS (lshBuckets) — is useless here: its rows are phase-shifted
    * copies of one periodic sequence, so the projections correlate and
    * preserve no distances. Independent-looking signs do (measured
    * recall@10 jumped from 4% to >60% on the bench embeddings).
    * Exactly cross-engine: inputs are floored to 2^-20 fixed-point
    * BIGINTs and the dot products fold in EXACT integer arithmetic
    * (≤ 2^29, no float sum-order sensitivity), so the final
    * power-of-two division is the only — exact — float op. Plan:
    * codegen'd SUM aggregates over exploded dims, one
    * partial-aggregated exchange. */
  private[graft] val rpWeights: IndexedSeq[IndexedSeq[Int]] =
    IndexedSeq.tabulate(8, 64) { (p, j) =>
      var z = (p * 64 + j).toLong + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      if (((z >>> 13) & 1L) == 1L) 1 else -1
    }

  /** The shared fixed-point projection kernel: (vec_id, r0..r7) with
    * r = Σ floor(x·2^20)·w as EXACT BIGINTs (scale 2^20). */
  private def rpFixedPoint(emb: DataFrame): DataFrame = {
    val projCols = (0 until 8).map { p =>
      val w = array(rpWeights(p).map(v => lit(v)): _*)
      sum(col("q") * element_at(w, col("j") + 1)).as(s"r$p")
    }
    emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("q", expr("cast(floor(cast(xf as double) * 1048576) as bigint)"))
      .groupBy("vec_id")
      .agg(projCols.head, projCols.tail: _*)
  }

  /** DuckDB list-literal for row p of [[rpWeights]]. */
  private def wSql(p: Int): String = rpWeights(p).mkString("[", ", ", "]")

  def simRandomProjection(s: SparkSession, dir: String): DataFrame =
    rpFixedPoint(t(s, dir, "embeddings"))
      .select(col("vec_id") +: (0 until 8).map(p =>
        (col(s"r$p").cast("double") / 1048576.0).as(s"p$p")): _*)

  /** Coarse-then-fine ANN over the RP space: reduced-dim L2² (EXACT
    * integer arithmetic — 8 multiplies per pair instead of 64) shortlists
    * 20 candidates per query, then the exact 64-dim dot reranks the
    * shortlist to top-10 — the project→shortlist→rerank architecture
    * every production ANN uses, complementing sim_lsh_topk (bucketing)
    * and sim_ivf_topk (cell pruning) as the third family member. The
    * shortlist pass scans the corpus per query (5 broadcast rows here);
    * at production the RP space is what gets bucketed/indexed. */
  def simRpTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val proj = rpFixedPoint(emb)
    val q = proj.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +:
        (0 until 8).map(i => col(s"r$i").as(s"s$i")): _*)
    val dist = (0 until 8)
      .map(i => (col(s"r$i") - col(s"s$i")) * (col(s"r$i") - col(s"s$i")))
      .reduce(_ + _)
    val byQ = Window.partitionBy("qid").orderBy("dist", "vec_id")
    val short = proj.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), dist.as("dist"))
      .withColumn("srn", row_number().over(byQ)).filter(col("srn") <= 20)
      .select("qid", "vec_id")
    val qv = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val dv = emb.select(col("vec_id"), col("embedding").as("dv"))
    val dot = graft.functions.Vectors.dot(col("qv"), col("dv"))
    Rerank.topK(
      short.join(dv, Seq("vec_id")).join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("vec_id"), dot.as("dot")), 10)
  }

  private val RP_TOPK_SQL = {
    val projList = (0 until 8).map { p =>
      s"""list_sum(list_transform(generate_series(1, 64),
         |      j -> q[j] * (${wSql(p)})[j]))""".stripMargin
    }.mkString("[\n    ", ",\n    ", "]")
    s"""WITH ql AS (
      |  SELECT vec_id,
      |    list_transform(generate_series(1, 64),
      |      j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)) AS q
      |  FROM embeddings),
      |pr AS (
      |  SELECT vec_id, $projList AS p
      |  FROM ql),
      |qp AS (SELECT vec_id AS qid, p AS qpv FROM pr WHERE vec_id < 5),
      |dist AS (
      |  SELECT qid, pr.vec_id,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (pr.p[i] - qpv[i]) * (pr.p[i] - qpv[i]))) AS dist
      |  FROM pr CROSS JOIN qp WHERE pr.vec_id >= 5),
      |short AS (SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS srn
      |    FROM dist) WHERE srn <= 20),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sims AS (
      |  SELECT s.qid, s.vec_id, list_dot_product(eq.v, ed.v) AS dot
      |  FROM short s JOIN e eq ON eq.vec_id = s.qid
      |               JOIN e ed ON ed.vec_id = s.vec_id)
      |SELECT qid, vec_id, dot, rank FROM (
      |  SELECT qid, vec_id, dot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
      |      AS BIGINT) AS rank
      |  FROM sims) WHERE rank <= 10""".stripMargin
  }

  private val RP_SQL = {
    val cols = (0 until 8).map { p =>
      s"""  CAST(list_sum(list_transform(generate_series(1, 64),
         |    j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)
         |         * (${wSql(p)})[j])) AS DOUBLE)
         |    / 1048576 AS p$p""".stripMargin
    }.mkString(",\n")
    s"SELECT vec_id,\n$cols\nFROM embeddings"
  }

  /** Lloyd's k-means (K = 8, 2 update rounds) over the shared 8-dim
    * fixed-point RP projections — the clustering primitive next to the
    * three ANN families (bucket/cell/shortlist): IVF cell builds,
    * mixture balancing and canonical-representative picks all start
    * from exactly this assignment. Exact integers end-to-end: the
    * projections are 2^-20 fixed-point BIGITs (|r| ≤ 2^26), distances
    * are integer L2² (≤ 2^57 — no overflow), centroid updates are
    * SUM div COUNT (Spark `div` and DuckDB `//` both truncate toward
    * zero, so negative coordinate sums agree), and argmin is
    * least(struct(d2, k)) — codegen'd, each distance evaluated once,
    * ties to the smaller cluster id (the max_by/struct-min discipline;
    * an array_min would drag all eight 8-term subtrees interpreted).
    *
    * Scale shape: centroids COLLECT to the driver each round (K×8
    * BIGINTs — O(K), the lengthDeciles justification) and re-enter the
    * plan as literals, so every assignment pass is a shuffle-FREE scan
    * and each update shuffles ≤ K partial-agg rows per partition. At
    * 100 TB that is 3 scans + 2 metadata shuffles — no per-round corpus
    * exchange, no join. The projection is localCheckpoint'd once: three
    * downstream references would otherwise replay the posexplode build
    * per reference (the multi-reference plan-replay landmine). Seeds
    * are the K smallest 52-bit md5('km:'||vec_id) rows — own salt,
    * integer-ordered. Empty clusters keep their previous centroid
    * (mirrored in the oracle via LEFT JOIN + COALESCE per dim). */
  def simKmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val (assign, cents) = kmeansFit(s, dir)
    assign(cents.last)
      .select(col("vec_id"), col("amin.k").as("cluster"), col("amin.d2").as("d2"))
  }

  /** Runs the shared Lloyd fit (K = 8, 2 rounds, seeds = smallest
    * md5('km:'||vec_id)) and returns the assignment builder plus the
    * full centroid HISTORY (c0 seeds, c1, c2) so callers can read
    * either the final assignment ([[simKmeansAssign]]) or the
    * round-over-round movement ([[simKmeansShift]]) without re-deriving
    * the loop. */
  private def kmeansFit(s: SparkSession, dir: String)
      : (Array[Array[Long]] => DataFrame, Vector[Array[Array[Long]]]) = {
    val proj = rpFixedPoint(t(s, dir, "embeddings")).transform(graft.Ckpt.capped)
    val seedH = expr(
      "cast(conv(substring(md5(cast(concat('km:', vec_id) as binary)), 1, 13), 16, 10) as bigint)")
    val seeds: Array[Array[Long]] = proj
      .withColumn("h", seedH)
      .orderBy("h", "vec_id").limit(8)
      .select((0 until 8).map(i => col(s"r$i")): _*)
      .collect().map(r => Array.tabulate(8)(r.getLong))
    // assignment keeps the coordinates alongside amin so the centroid
    // update is a groupBy on the SAME scan — a join back to proj would
    // re-shuffle the corpus per round
    def assign(cent: Array[Array[Long]]): DataFrame = {
      val pairs = cent.zipWithIndex.map { case (c, k) =>
        val d2 = (0 until 8)
          .map(i => (col(s"r$i") - lit(c(i))) * (col(s"r$i") - lit(c(i))))
          .reduce(_ + _)
        struct(d2.as("d2"), lit(k.toLong).as("k"))
      }
      proj.withColumn("amin", least(pairs.toSeq: _*))
    }
    var cents = Vector(seeds)
    for (_ <- 1 to 2) {
      val cent = cents.last
      val updCols = (0 until 8).map(i => expr(s"sum(r$i) div count(1)").as(s"c$i"))
      val upd = assign(cent)
        .groupBy(col("amin.k").as("cluster"))
        .agg(updCols.head, updCols.tail: _*)
        .collect().map(r => r.getLong(0).toInt -> Array.tabulate(8)(i => r.getLong(i + 1))).toMap
      cents = cents :+ Array.tabulate(cent.length)(k => upd.getOrElse(k, cent(k)))
    }
    (assign, cents)
  }

  /** Per-cluster k-means CONVERGENCE telemetry — the readout every
    * distributed Lloyd job logs each round to decide whether to stop:
    * cluster size, exact integer inertia (Σ d² in the 2^-20 fixed-point
    * lattice of the shared fit), and shift_fp = ‖c2 − c1‖² — the last
    * update's centroid movement. Sizes and inertia aggregate the FINAL
    * assignment in one hash agg (≤ K rows out); the K×8 shift is pure
    * driver arithmetic over [[kmeansFit]]'s centroid history re-entering
    * the plan as a broadcast 8-row frame — at 100 TB this op costs one
    * assignment scan plus a metadata join, the same shape as the fit
    * rounds themselves. All integers, same truncating-div discipline as
    * the fit; clusters that end empty are absent (no assignment rows),
    * deterministic on both engines. */
  def simKmeansShift(s: SparkSession, dir: String): DataFrame = {
    val (assign, cents) = kmeansFit(s, dir)
    val Vector(_, c1, c2) = cents
    val shifts = (0 until 8).map { k =>
      (k.toLong, (0 until 8).map(i => (c2(k)(i) - c1(k)(i)) * (c2(k)(i) - c1(k)(i))).sum)
    }
    import s.implicits._
    val shiftDf = shifts.toDF("cluster", "shift_fp")
    assign(cents.last)
      .groupBy(col("amin.k").as("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("amin.d2")).as("inertia_fp"))
      .join(broadcast(shiftDf), Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("inertia_fp"),
        col("shift_fp"),
        expr("inertia_fp div n_members").as("mean_d2_fp"))
  }

  /** The shared Lloyd-fit CTE chain (ql → pr → c0 → a1 → c1 → a2 → c2 →
    * a3), factored so KMEANS_SQL and KMEANS_SHIFT_SQL replay the exact
    * same fit. */
  private val KMEANS_CTES = {
    // the integer projection as an 8-element list, shared with RP_TOPK_SQL
    val projList = (0 until 8).map { p =>
      s"""list_sum(list_transform(generate_series(1, 64),
         |      j -> q[j] * (${wSql(p)})[j]))""".stripMargin
    }.mkString("[\n    ", ",\n    ", "]")
    def assignCte(a: String, c: String) =
      s"""$a AS (
         |  SELECT vec_id, cluster, d2 FROM (
         |    SELECT pr.vec_id, $c.k AS cluster,
         |      list_sum(list_transform(generate_series(1, 8),
         |        i -> (pr.p[i] - $c.c[i]) * (pr.p[i] - $c.c[i]))) AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY pr.vec_id
         |        ORDER BY list_sum(list_transform(generate_series(1, 8),
         |          i -> (pr.p[i] - $c.c[i]) * (pr.p[i] - $c.c[i]))), $c.k) AS rn
         |    FROM pr CROSS JOIN $c) WHERE rn = 1)""".stripMargin
    def updateCte(c: String, a: String, prev: String) = {
      // CAST back to BIGINT: DuckDB SUM(BIGINT) is HUGEINT, and a
      // HUGEINT centroid would propagate into every downstream d2
      val dims = (0 until 8)
        .map(i => s"CAST(SUM(pr.p[${i + 1}]) // COUNT(*) AS BIGINT)")
        .mkString("[", ",\n        ", "]")
      s"""${c}u AS (
         |  SELECT cluster AS k, $dims AS c
         |  FROM $a JOIN pr USING (vec_id) GROUP BY cluster),
         |$c AS (
         |  SELECT $prev.k, COALESCE(${c}u.c, $prev.c) AS c
         |  FROM $prev LEFT JOIN ${c}u USING (k))""".stripMargin
    }
    s"""WITH ql AS (
       |  SELECT vec_id,
       |    list_transform(generate_series(1, 64),
       |      j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1048576) AS BIGINT)) AS q
       |  FROM embeddings),
       |pr AS (
       |  SELECT vec_id, $projList AS p
       |  FROM ql),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) - 1 AS k, p AS c
       |  FROM (SELECT vec_id, p,
       |          ('0x' || substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT AS h
       |        FROM pr)
       |  ORDER BY h, vec_id LIMIT 8),
       |${assignCte("a1", "c0")},
       |${updateCte("c1", "a1", "c0")},
       |${assignCte("a2", "c1")},
       |${updateCte("c2", "a2", "c1")},
       |${assignCte("a3", "c2")}""".stripMargin
  }

  private val KMEANS_SQL =
    s"""$KMEANS_CTES
       |SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS d2 FROM a3""".stripMargin

  private val KMEANS_SHIFT_SQL =
    s"""$KMEANS_CTES,
       |agg AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    CAST(SUM(d2) AS BIGINT) AS inertia_fp
       |  FROM a3 GROUP BY cluster),
       |sh AS (
       |  SELECT c2.k AS cluster,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |      i -> (c2.c[i] - c1.c[i]) * (c2.c[i] - c1.c[i]))) AS BIGINT)
       |      AS shift_fp
       |  FROM c2 JOIN c1 ON c1.k = c2.k)
       |SELECT agg.cluster, n_members, inertia_fp, shift_fp,
       |  inertia_fp // n_members AS mean_d2_fp
       |FROM agg JOIN sh ON sh.cluster = agg.cluster""".stripMargin

  /** SCD2 (slowly-changing-dimension type-2) history build from the raw
    * event stream: per user, consecutive runs of the same event_type
    * collapse to ONE validity interval [valid_from_ns, valid_to_ns), the
    * open current state carries a NULL end — the warehouse-history shape
    * behind the reference's status-tracking upserts. Plan: both windows
    * (change detection, then interval close-out) partition on user_id, so
    * ONE exchange feeds the whole operator. */
  /** Hard-negative mining for embedding training — the composition the
    * contrastive-learning data pipeline runs nightly: for each document,
    * the top-3 embedding neighbors that land in a DIFFERENT k-means
    * cluster: similar enough to confuse the model (they sit in its k-NN
    * list), labeled different by the coarse partition — exactly the
    * negatives that teach a bi-encoder its decision boundary. Negatives
    * come from [[SketchQueries.simKnnGraph]]'s bucketed candidate
    * generation (never brute force) and cluster labels from
    * [[simKmeansAssign]]; scores are the SAME hash-matched dot doubles
    * the knn oracle replays, ties on vec_id. Plan: two equi shuffle
    * joins of the O(k)-per-doc edge list against the checkpointed label
    * table, one qid window with WindowGroupLimit pre-pruning to
    * rank ≤ 3. */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val labels = simKmeansAssign(s, dir).select("vec_id", "cluster")
      .transform(graft.Ckpt.capped) // both join legs read it; kmeans must not replay
    val byQ = Window.partitionBy("qid").orderBy(col("dot").desc, col("vec_id"))
    SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id", "dot")
      .join(labels.select(col("vec_id").as("qid"),
        col("cluster").as("q_cluster")), Seq("qid"))
      .join(labels.select(col("vec_id"), col("cluster").as("n_cluster")),
        Seq("vec_id"))
      .filter(col("q_cluster") =!= col("n_cluster"))
      .withColumn("rank", row_number().over(byQ).cast("long"))
      .filter(col("rank") <= 3)
      .select("qid", "vec_id", "dot", "rank")
  }

  /** k-NN label-agreement eval — the embedding-QUALITY probe run before
    * any model trains on the vectors: each document's label is
    * predicted by majority vote of its ≤5 bucketed k-NN neighbors
    * ([[SketchQueries.simKnnGraph]] — never brute force), and the
    * (label, predicted) confusion rollup says whether the embedding
    * space actually separates the classes the `label` column claims.
    * Vote argmax = min(struct(−cnt, pred)) — the labelPropagation
    * hash-aggregate idiom, ties to the smaller label id, no window over
    * corpus-sized rows; the per-label share is a positive integer
    * division riding a ≤|labels|²-row window. Plan: knn edges join the
    * label projection twice (equi shuffles at scale, AQE-broadcast at
    * gate scale), one (qid, pred) partial agg, one qid argmax agg, one
    * confusion-cell agg. */
  def simKnnLabelEval(s: SparkSession, dir: String): DataFrame = {
    val lb = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val voted = SketchQueries.simKnnGraph(s, dir).select("qid", "vec_id")
      .join(lb.withColumnRenamed("label", "pred"), Seq("vec_id"))
      .groupBy("qid", "pred").agg(count(lit(1)).as("cnt"))
      .groupBy("qid")
      .agg(min(struct((-col("cnt")).as("nc"), col("pred").as("p"))).as("m"))
      .select(col("qid"), col("m.p").as("pred"))
    val wLabel = Window.partitionBy("label")
    voted.join(lb.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))
      .withColumn("n_label", sum("n").over(wLabel))
      .select(col("label"), col("pred"), col("n"),
        expr("cast(case when label = pred then 1 else 0 end as bigint)")
          .as("correct"),
        expr("n * 1000 div n_label").as("share_milli"))
  }

  private def KNN_LABEL_SQL: String = {
    val knnSql = graft.operators.SketchQueries.oracle("sim_knn_graph")
    s"""WITH knn AS ($knnSql),
       |lb AS (SELECT vec_id, label FROM embeddings),
       |votes AS (SELECT k.qid, lb.label AS pred, COUNT(*) AS cnt
       |          FROM knn k JOIN lb ON lb.vec_id = k.vec_id GROUP BY 1, 2),
       |maj AS (SELECT qid, pred FROM (
       |    SELECT qid, pred,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, pred) AS rn
       |    FROM votes) WHERE rn = 1),
       |cf AS (SELECT l2.label, m.pred, CAST(COUNT(*) AS BIGINT) AS n
       |       FROM maj m JOIN lb l2 ON l2.vec_id = m.qid GROUP BY 1, 2)
       |SELECT label, pred, n,
       |  CAST(CASE WHEN label = pred THEN 1 ELSE 0 END AS BIGINT) AS correct,
       |  n * 1000 // CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT)
       |    AS share_milli
       |FROM cf""".stripMargin
  }

  private def HARDNEG_SQL: String = {
    val knnSql = graft.operators.SketchQueries.oracle("sim_knn_graph")
    s"""WITH knn AS ($knnSql),
       |km AS ($KMEANS_SQL),
       |hn AS (SELECT k.qid, k.vec_id, k.dot
       |       FROM knn k
       |       JOIN km q ON q.vec_id = k.qid
       |       JOIN km d ON d.vec_id = k.vec_id
       |       WHERE q.cluster <> d.cluster)
       |SELECT qid, vec_id, dot, rank FROM (
       |  SELECT qid, vec_id, dot,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id)
       |      AS BIGINT) AS rank
       |  FROM hn) WHERE rank <= 3""".stripMargin
  }

  /** Maximal-marginal-relevance diversity rerank (λ = ½, k = 5 from the
    * top-8 cosine shortlist) — the retrieval-layer step after
    * [[simHardNegatives]]'s mining: greedy selection of results that are
    * relevant to the query AND dissimilar to what is already picked, so
    * five near-copies collapse to one slot. The greedy argmax loop runs
    * per query over a BOUNDED shortlist via typed flatMapGroups (state =
    * 8 ids + an 8×8 sim matrix, O(k²) per query at any corpus size — the
    * distributed-safe shape; the DuckDB oracle replays the same loop as
    * a recursive CTE over list state, the BPE-merge discipline).
    * Determinism: every score is a 2^-20 fixed-point BIGINT (one floor
    * off the hash-matched dot doubles), λ = ½ makes the MMR compare
    * rel_fp − maxsim_fp in pure integers, and ties break to the
    * smallest vec_id (strict-> scan in vec_id order ≡ the oracle's
    * leftmost list_position over vec_id-sorted candidates). Plan: the
    * 40-row shortlist checkpoints once and BROADCASTS into the
    * embeddings scan (the corpus never shuffles for the matrix build);
    * the greedy group fold shuffles ≤ 64 rows per query. */
  def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val short = TextQueries.simCosineTopk(s, dir)
      .filter(col("rank") <= 8)
      .select(col("qid"), col("vec_id"),
        expr("cast(floor(dot * 1048576) as bigint)").as("qd_fp"))
      .transform(graft.Ckpt.capped) // pair join sides + the vector-fetch leg
    val vecs = t(s, dir, "embeddings")
      .join(broadcast(short.select("vec_id").distinct()), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val sim = graft.functions.Vectors.dot(col("va"), col("vb"))
    val pairs = short
      .join(short.select(col("qid"), col("vec_id").as("b")), Seq("qid"))
      .join(broadcast(vecs.select(col("vec_id"), col("embedding").as("va"))),
        Seq("vec_id"))
      .join(broadcast(vecs.select(col("vec_id").as("b"),
        col("embedding").as("vb"))), Seq("b"))
      .select(col("qid"), col("vec_id").as("a"), col("b"), col("qd_fp"),
        floor(sim * lit(1048576)).cast("long").as("s_fp"))
    pairs.as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Long, Long)]) =>
        val rows = it.toArray
        val cand = rows.map(_._2).distinct.sorted
        val qd = rows.map(r => r._2 -> r._4).toMap
        val sm = rows.map(r => (r._2, r._3) -> r._5).toMap
        val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (sel.size < math.min(5, cand.length)) {
          var bestV = -1L; var bestS = Long.MinValue
          for (j <- cand if !sel.contains(j)) {
            val sc = if (sel.isEmpty) qd(j)
                     else qd(j) - sel.iterator.map(s0 => sm((j, s0))).max
            if (sc > bestS) { bestS = sc; bestV = j }
          }
          sel += bestV
        }
        sel.iterator.zipWithIndex.map { case (v, i) => (qid, v, (i + 1).toLong) }
      }
      .toDF("qid", "vec_id", "mmr_rank")
  }

  private def MMR_SQL: String = {
    val cosSql = graft.operators.TextQueries.oracle("sim_cosine_topk")
    s"""WITH RECURSIVE short AS (
       |  SELECT qid, vec_id, CAST(FLOOR(dot * 1048576) AS BIGINT) AS qd_fp
       |  FROM ($cosSql) WHERE rank <= 8),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings
       |       WHERE vec_id IN (SELECT vec_id FROM short)),
       |cnd AS (SELECT qid, list(vec_id ORDER BY vec_id) AS cand,
       |          list(qd_fp ORDER BY vec_id) AS qd
       |        FROM short GROUP BY qid),
       |ps AS (SELECT a.qid, a.vec_id AS av, b.vec_id AS bv,
       |         CAST(FLOOR(list_dot_product(ea.v, eb.v) * 1048576) AS BIGINT)
       |           AS s_fp
       |       FROM short a JOIN short b ON a.qid = b.qid
       |       JOIN ev ea ON ea.vec_id = a.vec_id
       |       JOIN ev eb ON eb.vec_id = b.vec_id),
       |mt AS (SELECT qid, list(s_fp ORDER BY av, bv) AS sm
       |       FROM ps GROUP BY qid),
       |st AS (
       |  SELECT c.qid, cand, qd, sm, len(cand) AS n,
       |    [list_position(qd, list_max(qd))] AS sel, 1 AS step
       |  FROM cnd c JOIN mt USING (qid)
       |  UNION ALL
       |  SELECT qid, cand, qd, sm, n,
       |    sel || [list_position(sc, list_max(sc))] AS sel, step + 1
       |  FROM (SELECT qid, cand, qd, sm, n, sel, step,
       |          list_transform(generate_series(1, n), j ->
       |            CASE WHEN list_contains(sel, j) THEN NULL
       |                 ELSE qd[j] - list_max(list_transform(sel,
       |                        s2 -> sm[(j - 1) * n + s2]))
       |            END) AS sc
       |        FROM st)
       |  WHERE step < 5 AND step < n),
       |fin AS (SELECT qid, cand, sel FROM st
       |        WHERE step = LEAST(5, len(cand)))
       |SELECT qid, cand[s] AS vec_id, CAST(r AS BIGINT) AS mmr_rank
       |FROM (SELECT qid, cand, unnest(sel) AS s,
       |        generate_subscripts(sel, 1) AS r
       |      FROM fin)""".stripMargin
  }

  /** Growth accounting — the product-analytics state machine
    * [[eventsRetention]]'s cohort grid and [[eventsStickiness]]'s
    * DAU/MAU ratio both summarize away: every (user, week) activity
    * cell classifies as NEW (first week ever), RETAINED (active the
    * previous week too), or RESURRECTED (returning after ≥1 silent
    * week), churn charges to the week AFTER a user's streak ends, and
    * the per-week report ships the four counts plus quick ratio
    * ((new+resurrected)·1000 div churned — growth per unit churn). All
    * state resolves from lag/lead over each user's sorted week list —
    * no calendar×user expansion, no self-join. Plan: ONE user_id window
    * exchange (min/lag/lead share it), one period-grain aggregate; the
    * trailing-churn cutoff rides an unpartitioned window over the
    * ≤|weeks|-row result. */
  def eventsGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val wk = 7 * DAY_NS
    val byUser = Window.partitionBy("user_id").orderBy("period")
    val uAll = Window.partitionBy("user_id")
    val st = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $wk").as("period"))
      .distinct()
      .withColumn("first_p", min("period").over(uAll))
      .withColumn("prev", lag("period", 1).over(byUser))
      .withColumn("nxt", lead("period", 1).over(byUser))
      .transform(graft.Ckpt.capped) // the active and churn union legs both read it
    val active = st.select(col("period"),
      (col("period") === col("first_p")).cast("long").as("is_new"),
      // when/otherwise, not a bare cast: prev is NULL for every new
      // user, and a NULL comparison would null the whole period-0 sum
      when(col("prev") === col("period") - 1, 1L).otherwise(0L).as("is_ret"),
      when(col("prev").isNotNull && col("prev") < col("period") - 1, 1L)
        .otherwise(0L).as("is_res"),
      lit(0L).as("is_churn"))
    val churn = st
      .filter(col("nxt").isNull || col("nxt") > col("period") + 1)
      .select((col("period") + 1).as("period"), lit(0L).as("is_new"),
        lit(0L).as("is_ret"), lit(0L).as("is_res"), lit(1L).as("is_churn"))
    val wAll = Window.partitionBy()
    active.union(churn)
      .groupBy("period")
      .agg(sum("is_new").as("n_new"), sum("is_ret").as("n_retained"),
        sum("is_res").as("n_resurrected"), sum("is_churn").as("n_churned"))
      .withColumn("maxact", max(when(
        col("n_new") + col("n_retained") + col("n_resurrected") > 0,
        col("period"))).over(wAll))
      .filter(col("period") <= col("maxact"))
      .select(col("period"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        expr("case when n_churned > 0 then" +
          " (n_new + n_resurrected) * 1000 div n_churned" +
          " else 0 end").as("quick_ratio_milli"))
  }

  private val GROWTH_SQL =
    s"""WITH pres AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // ${7 * DAY_NS} AS period
       |  FROM events),
       |st AS (SELECT user_id, period,
       |         MIN(period) OVER (PARTITION BY user_id) AS first_p,
       |         LAG(period, 1) OVER w AS prev,
       |         LEAD(period, 1) OVER w AS nxt
       |       FROM pres
       |       WINDOW w AS (PARTITION BY user_id ORDER BY period)),
       |rows1 AS (
       |  SELECT period,
       |    CASE WHEN period = first_p THEN 1 ELSE 0 END AS is_new,
       |    CASE WHEN prev = period - 1 THEN 1 ELSE 0 END AS is_ret,
       |    CASE WHEN prev IS NOT NULL AND prev < period - 1 THEN 1 ELSE 0 END
       |      AS is_res,
       |    0 AS is_churn
       |  FROM st
       |  UNION ALL
       |  SELECT period + 1, 0, 0, 0, 1 FROM st
       |  WHERE nxt IS NULL OR nxt > period + 1),
       |agg AS (SELECT period, CAST(SUM(is_new) AS BIGINT) AS n_new,
       |          CAST(SUM(is_ret) AS BIGINT) AS n_retained,
       |          CAST(SUM(is_res) AS BIGINT) AS n_resurrected,
       |          CAST(SUM(is_churn) AS BIGINT) AS n_churned
       |        FROM rows1 GROUP BY 1),
       |cut AS (SELECT *, MAX(CASE WHEN n_new + n_retained + n_resurrected > 0
       |          THEN period END) OVER () AS maxact
       |        FROM agg)
       |SELECT period, n_new, n_retained, n_resurrected, n_churned,
       |  CASE WHEN n_churned > 0
       |       THEN (n_new + n_resurrected) * 1000 // n_churned
       |       ELSE 0 END AS quick_ratio_milli
       |FROM cut WHERE period <= maxact""".stripMargin

  /** Semantic split leakage — the EMBEDDING-space sibling of
    * [[TextPrep.dataSplitLeakage]]'s lexical fuzzy pairs: a hash split
    * assigns documents independently, so two semantic near-duplicates
    * can land on opposite sides of the train/holdout fence even when
    * their TEXTS share no edit-distance signal. Every deduped k-NN
    * edge ([[SketchQueries.simKnnGraph]] — bucketed, never brute) is
    * labeled with both endpoints' content-hash splits and rolled up by
    * the ORDERED split pair; `n_strong` (2^-20 fixed-point dot ≥ 0.3)
    * counts the pairs close enough to leak eval answers. Plan: pair
    * dedup agg over the knn edges, two equi joins against the split
    * projection, one ≤3-row rollup. */
  def dataSemanticLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = TextPrep.dataSplitHash(s, dir)
    val pairs = SketchQueries.simKnnGraph(s, dir)
      .select(least(col("qid"), col("vec_id")).as("a"),
        greatest(col("qid"), col("vec_id")).as("b"), col("dot"))
      .groupBy("a", "b").agg(max("dot").as("dot"))
      .select(col("a"), col("b"),
        expr("cast(floor(dot * 1048576) as bigint)").as("dot_fp"))
    pairs
      .join(split.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
      .join(split.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
      .groupBy(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dot_fp") >= 1048576 * 3 / 10, 1L).otherwise(0L))
          .as("n_strong"))
      .withColumn("cross_split",
        expr("cast(case when split_lo <> split_hi then 1 else 0 end as bigint)"))
  }

  private def SEMLEAK_SQL: String = {
    val knnSql = graft.operators.SketchQueries.oracle("sim_knn_graph")
    s"""WITH knn AS ($knnSql),
       |sp AS (SELECT doc_id,
       |         CASE WHEN substr(md5(text), 1, 1) <= 'd' THEN 'train'
       |              ELSE 'holdout' END AS split
       |       FROM documents),
       |pr AS (SELECT LEAST(qid, vec_id) AS a, GREATEST(qid, vec_id) AS b,
       |         CAST(FLOOR(MAX(dot) * 1048576) AS BIGINT) AS dot_fp
       |       FROM knn GROUP BY 1, 2),
       |lb AS (SELECT pr.a, pr.b, pr.dot_fp, s1.split AS sa, s2.split AS sb
       |       FROM pr JOIN sp s1 ON s1.doc_id = pr.a
       |       JOIN sp s2 ON s2.doc_id = pr.b)
       |SELECT LEAST(sa, sb) AS split_lo, GREATEST(sa, sb) AS split_hi,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN dot_fp >= ${1048576 * 3 / 10} THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_strong,
       |  CAST(CASE WHEN LEAST(sa, sb) <> GREATEST(sa, sb) THEN 1 ELSE 0 END
       |    AS BIGINT) AS cross_split
       |FROM lb GROUP BY 1, 2""".stripMargin
  }

  /** Multi-window SLO burn-rate paging — the Google-SRE alerting
    * pattern [[eventsErrorBudget]]'s cumulative burn doesn't implement:
    * an hour PAGES only when BOTH the fast window (1 h) and the slow
    * window (6 h trailing) burn ≥ 2× the 5% error budget — the fast
    * window catches the spike, the slow one suppresses one-hour blips.
    * Division-free: burn ≥ 2× ⟺ errors·10 ≥ events (2 × 50 milli), so
    * no rational ever rounds. The 6 h fold is a RANGE window over the
    * hour INDEX (gap-correct on both engines where a rows-window would
    * slide over missing hours). Plan: one (hour) partial aggregate;
    * the unpartitioned range window rides the calendar-bounded
    * aggregate (≤ hours-in-corpus rows at ANY event volume — the
    * events_anomaly_mad discipline). */
  def eventsBurnMultiwindow(s: SparkSession, dir: String): DataFrame = {
    val w6 = Window.orderBy("hour").rangeBetween(-5, 0)
    DomainQueries.events(s, dir)
      .select(expr("ts_ns div 3600000000000").as("hour"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy("hour")
      .agg(count(lit(1)).as("tot1"), sum("is_err").as("err1"))
      .withColumn("tot6", sum("tot1").over(w6))
      .withColumn("err6", sum("err1").over(w6))
      .select(col("hour"), col("err1"), col("tot1"), col("err6"), col("tot6"),
        expr("cast(case when err1 * 10 >= tot1 and err6 * 10 >= tot6" +
          " then 1 else 0 end as bigint)").as("page"))
  }

  private val BURN_SQL =
    """WITH e AS (
      |  SELECT epoch_ns(ts) // 3600000000000 AS hour,
      |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      |  FROM events),
      |h AS (SELECT hour, CAST(COUNT(*) AS BIGINT) AS tot1,
      |        CAST(SUM(is_err) AS BIGINT) AS err1
      |      FROM e GROUP BY 1),
      |w AS (SELECT hour, err1, tot1,
      |        CAST(SUM(err1) OVER win AS BIGINT) AS err6,
      |        CAST(SUM(tot1) OVER win AS BIGINT) AS tot6
      |      FROM h
      |      WINDOW win AS (ORDER BY hour RANGE BETWEEN 5 PRECEDING
      |                     AND CURRENT ROW))
      |SELECT hour, err1, tot1, err6, tot6,
      |  CAST(CASE WHEN err1 * 10 >= tot1 AND err6 * 10 >= tot6
      |       THEN 1 ELSE 0 END AS BIGINT) AS page
      |FROM w""".stripMargin

  /** Bitemporal restatement audit — the as-KNOWN vs as-FINAL reporting
    * gap [[metaScd2History]]'s valid-time intervals and
    * [[Records.cdcApply]]'s latest-state apply both presuppose but
    * never measure: each event carries a transaction (arrival) time =
    * event time + a hash-derived ingestion lag (md5 'lag:' salt,
    * 0–72 h — deterministic replay of the late-data distribution), and
    * the per-effective-day report compares the total a midnight+24h
    * cutoff job would have published against the eventual total.
    * Value mass folds as exact milli BIGINTs (floor(value·1000) per
    * event BEFORE any sum — the §4 discipline); the restatement share
    * is a positive integer division. Plan: ONE (day) partial-agg
    * exchange — the known/final/late splits are conditional sums on the
    * same scan, no self-join, no window. */
  def eventsRestatementAudit(s: SparkSession, dir: String): DataFrame = {
    val lag =
      "cast(conv(substring(md5(cast(concat('lag:', cast(event_id as string)) as binary)), 1, 12), 16, 10) as bigint)" +
        s" % ${3 * DAY_NS}"
    DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .select(expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(floor(value * 1000) as bigint)").as("v_milli"),
        (expr(s"ts_ns + ($lag)") <=
          (expr(s"(ts_ns div $DAY_NS + 2) * $DAY_NS")))
          .cast("long").as("on_time"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("1 - on_time")).as("n_late"),
        sum("v_milli").as("final_milli"),
        sum(expr("v_milli * on_time")).as("known_milli"))
      .select(col("day"), col("n_events"), col("n_late"),
        col("final_milli"), col("known_milli"),
        expr("case when final_milli > 0 then" +
          " (final_milli - known_milli) * 1000 div final_milli" +
          " else 0 end").as("restated_milli"))
  }

  private val RESTATEMENT_SQL =
    s"""WITH e0 AS (
       |  SELECT event_id, value, epoch_ns(ts) // 1000 * 1000 AS ts_ns
       |  FROM events WHERE value IS NOT NULL),
       |e AS (
       |  SELECT ts_ns // $DAY_NS AS day,
       |    CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli,
       |    CASE WHEN ts_ns +
       |        ('0x' || substr(md5('lag:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
       |          % ${3 * DAY_NS}
       |      <= (ts_ns // $DAY_NS + 2) * $DAY_NS
       |    THEN 1 ELSE 0 END AS on_time
       |  FROM e0)
       |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(1 - on_time) AS BIGINT) AS n_late,
       |  CAST(SUM(v_milli) AS BIGINT) AS final_milli,
       |  CAST(SUM(v_milli * on_time) AS BIGINT) AS known_milli,
       |  CASE WHEN SUM(v_milli) > 0
       |       THEN CAST((SUM(v_milli) - SUM(v_milli * on_time)) * 1000
       |              // SUM(v_milli) AS BIGINT)
       |       ELSE 0 END AS restated_milli
       |FROM e GROUP BY day""".stripMargin

  def metaScd2History(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .select(col("user_id"), col("event_type").as("state"),
        col("ts_ns"), col("event_id"))
      .withColumn("prev", lag("state", 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .select(col("user_id"), col("state"),
        col("ts_ns").as("valid_from_ns"),
        lead("ts_ns", 1).over(byUser).as("valid_to_ns"))
  }

  private val SCD2_SQL =
    """WITH e AS (
      |  SELECT user_id, event_type AS state, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |chg AS (
      |  SELECT user_id, state, ts_ns, event_id
      |  FROM (SELECT *, LAG(state, 1) OVER w AS prev FROM e
      |        WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
      |  WHERE prev IS NULL OR prev <> state)
      |SELECT user_id, state, ts_ns AS valid_from_ns,
      |  LEAD(ts_ns, 1) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
      |    AS valid_to_ns
      |FROM chg""".stripMargin

  /** Exact discrete quantiles (p50/p90/p99 of event value per type) via
    * rank targets ceil(q·n) computed in INTEGER arithmetic — element
    * picking, so the doubles are exact corpus values and cross-engine
    * (interpolating quantile_cont formulas differ between engines in the
    * last ulp). One exchange: the rank window and the final aggregate
    * share the event_type partitioning. */
  def eventsValueQuantiles(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type").orderBy("value", "event_id")
    // rank target ceil(p·n/100) in pure integer arithmetic
    def pick(p: Int) = max(when(
      col("rn") === expr(s"(n * $p + 99) div 100"), col("value")))
    DomainQueries.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .filter(col("value").isNotNull) // NULL sort order differs per engine
      .withColumn("rn", row_number().over(byType).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
  }

  /** Production twin of [[eventsValueQuantiles]]: the engine's
    * `percentile_approx` (Greenwald-Khanna sketch, codegen'd, fixed
    * memory per group, partial-agg mergeable) — not oracle-replayable
    * (sketch internals differ per engine), so the exact element-picked
    * ranks stay the comparator, the same production/comparator split as
    * [[CoreQueries.q14Production]]. Spec-asserted within tolerance of
    * the exact picks. */
  private[graft] def valueQuantilesProduction(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
      .select(col("event_type"), expr("qs[0]").as("p50"),
        expr("qs[1]").as("p90"), expr("qs[2]").as("p99"))

  private val QUANTILES_SQL =
    """WITH e AS (
      |  SELECT event_type, value, event_id FROM events
      |  WHERE value IS NOT NULL),
      |r AS (SELECT event_type, value,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY value, event_id) AS BIGINT) AS rn,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |      FROM e)
      |SELECT event_type, MAX(n) AS n,
      |  MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
      |  MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
      |  MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
      |FROM r GROUP BY event_type""".stripMargin

  /** Stride-scheduled source interleaving within training shards — the
    * data-mixture step: inside each hash shard, documents from weighted
    * domains (language here; en 3×, de/fr 2×, rest 1×) interleave by the
    * exact-integer stride key rank·(LCM/weight), so a shard's prefix of
    * any length holds the domains in target ratio. Shard-parallel (both
    * windows partition on the shard; no global order), shard count from
    * the same size heuristic as data_shuffle_shards. */
  def dataInterleaveSources(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val shards = TextPrep.shardCount(s, docs.count())
    // stride = LCM(3,2,1)/weight, precomputed so the key math stays integer
    val stride = when(col("lang") === "en", 2L)
      .when(col("lang").isin("de", "fr"), 3L).otherwise(6L)
    val byDomain = Window.partitionBy("shard", "lang").orderBy("h", "doc_id")
    // key ties break by stride (heavier domain first — the natural
    // mixture semantics, and it makes the k-th-heavy-before-k-th-light
    // guarantee unconditional), then by NULL-safe lang so a null lang
    // cannot hit the engines' divergent NULL orderings.
    val byShard = Window.partitionBy("shard")
      .orderBy(col("key"), col("stride"), coalesce(col("lang"), lit("")), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(cast(concat('mix:', doc_id) as binary)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .withColumn("stride", stride)
      .withColumn("key", row_number().over(byDomain).cast("long") * col("stride"))
      .select(col("shard"), col("lang"), col("doc_id"),
        row_number().over(byShard).cast("long").as("pos"))
  }

  private val INTERLEAVE_SQL =
    s"""WITH n AS (
       |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / ${TextPrep.SHARD_TARGET_DOCS}.0) AS BIGINT)) AS nsh
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CASE WHEN lang = 'en' THEN 2 WHEN lang IN ('de', 'fr') THEN 3
       |         ELSE 6 END AS stride
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, lang, stride, h % (SELECT nsh FROM n) AS shard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY h % (SELECT nsh FROM n), lang
       |      ORDER BY h, doc_id) AS BIGINT) * stride AS key
       |  FROM d)
       |SELECT shard, lang, doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
       |    ORDER BY key, stride, COALESCE(lang, ''), doc_id) AS BIGINT) AS pos
       |FROM k""".stripMargin

  /** Deterministic ingestion throttle: at most 3 events per user per
    * hour survive (first-arrived by (ts, event_id) win) — the rate-limit
    * gate in front of an event store, stable under retries/backfill
    * replays because the keep-set is a pure function of the data. The
    * rank-≤-3 window compiles to WindowGroupLimit, so each map partition
    * pre-prunes to its local top-3 before the (user, hour) exchange ever
    * sees a row. */
  def eventsThrottle(s: SparkSession, dir: String): DataFrame = {
    val byUserHour = Window.partitionBy("user_id", "hour").orderBy("ts_ns", "event_id")
    DomainQueries.events(s, dir)
      .withColumn("hour", expr("ts_ns div 3600000000000"))
      .withColumn("rn", row_number().over(byUserHour).cast("long"))
      .filter(col("rn") <= 3)
      .select("event_id", "user_id", "hour", "ts_ns", "rn")
  }

  private val THROTTLE_SQL =
    """SELECT event_id, user_id, hour, ts_ns, rn FROM (
      |  SELECT event_id, user_id, ts_ns, ts_ns // 3600000000000 AS hour,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, ts_ns // 3600000000000
      |      ORDER BY ts_ns, event_id) AS BIGINT) AS rn
      |  FROM (SELECT event_id, user_id,
      |          epoch_ns(ts) // 1000 * 1000 AS ts_ns FROM events))
      |WHERE rn <= 3""".stripMargin

  /** Semi-structured extraction: typed values pulled out of the JSON
    * `props` column with a schema'd from_json, then per-type stats — the
    * payload-parsing step of every event-ingestion pipeline. Caveat
    * worth stating: JsonToStructs is CodegenFallback, so the parse runs
    * interpreted — fine HERE because parsing is the query's entire
    * point and it is scan-bound; never hide a from_json inside a hot
    * join/aggregate chain (SURVEY §5 interpreted-eval discipline). */
  def eventsJsonStats(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"),
        expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
        countDistinct("k").as("k_distinct"),
        min("k").as("k_min"), max("k").as("k_max"))

  private val JSON_STATS_SQL =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(k) AS BIGINT) AS k_sum,
      |  CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct,
      |  MIN(k) AS k_min, MAX(k) AS k_max
      |FROM (SELECT event_type,
      |        CASE WHEN json_valid(props)
      |              AND json_type(props->'k') IN ('BIGINT', 'UBIGINT')
      |             THEN TRY_CAST(CAST(props->'k' AS VARCHAR) AS BIGINT)
      |        END AS k FROM events)
      |GROUP BY event_type""".stripMargin

  /** Multi-touch conversion attribution: every purchase credits the
    * view/click touches of the same user in the preceding 7 days —
    * last-touch (the latest touch by (ts, event_id) wins outright) and
    * linear (each of the k touches earns ⌊1000/k⌋ credit-millis, integer
    * division so both engines truncate identically) side by side;
    * touchless purchases roll up under the 'direct' channel with the
    * full 1000. Plan: ONE equi hash join on user_id (the 7-day window
    * rides the join as a residual range predicate — never a BNLJ), one
    * window exchange on the conversion id shared by the touch count and
    * the last-touch rank, and a |channels|-row final rollup. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = DomainQueries.events(s, dir)
    val windowNs = 7L * 86400L * 1000000000L
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        col("ts_ns").as("cts"))
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("tu"), col("ts_ns").as("tts"),
        col("event_id").as("tid"), col("event_type").as("raw_ch"))
    val wc = Window.partitionBy("cid")
    val lastFirst = wc.orderBy(col("tts").desc, col("tid").desc)
    conv
      .join(touch, col("cu") === col("tu") &&
        col("tts") < col("cts") && col("tts") >= col("cts") - windowNs,
        "left_outer")
      .withColumn("k", count(col("tid")).over(wc))
      .withColumn("rn", row_number().over(lastFirst))
      .withColumn("channel", coalesce(col("raw_ch"), lit("direct")))
      .withColumn("credit_millis",
        when(col("k") > 0, expr("1000 div k")).otherwise(lit(1000L)))
      .groupBy("channel")
      .agg(count(col("tid")).as("n_touches"),
        countDistinct(col("cid")).as("n_conversions"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("last_touch_wins"),
        sum(col("credit_millis")).as("linear_millis"))
  }

  private val ATTRIBUTION_SQL =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |conv AS (SELECT event_id AS cid, user_id AS cu, ts_ns AS cts
      |         FROM ev WHERE event_type = 'purchase'),
      |touch AS (SELECT user_id AS tu, ts_ns AS tts, event_id AS tid,
      |            event_type AS raw_ch
      |          FROM ev WHERE event_type IN ('view', 'click')),
      |joined AS (
      |  SELECT * FROM conv LEFT JOIN touch
      |  ON cu = tu AND tts < cts AND tts >= cts - 604800000000000),
      |scored AS (
      |  SELECT cid, tid,
      |    COUNT(tid) OVER (PARTITION BY cid) AS k,
      |    ROW_NUMBER() OVER (PARTITION BY cid
      |      ORDER BY tts DESC, tid DESC) AS rn,
      |    COALESCE(raw_ch, 'direct') AS channel
      |  FROM joined)
      |SELECT channel,
      |  CAST(COUNT(tid) AS BIGINT) AS n_touches,
      |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_conversions,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch_wins,
      |  CAST(SUM(CASE WHEN k > 0 THEN 1000 // k ELSE 1000 END) AS BIGINT) AS linear_millis
      |FROM scored GROUP BY channel""".stripMargin

  /** Watermark-lag audit — the measurement that SIZES a streaming
    * watermark before anyone turns one on: given the ARRIVAL order
    * (event_id = ingestion sequence) and each event's EVENT time, how far
    * behind the high-water mark do events actually arrive? The raw feed
    * is perfectly ordered (generator artifact), so event time is modeled
    * as arrival minus a deterministic md5-derived network delay
    * (0..7199 s, own 'lag:' salt — the mixture-sample independence
    * lesson), which both engines replay bit-identically. An event is
    * LATE iff some earlier arrival carried a later event time; the
    * per-type late fraction and max lag (in whole seconds) are exactly
    * what `withWatermark` needs as its delay threshold.
    *
    * Plan — the running max over arrival order NEVER runs as a global
    * single-task window (the WindowExec landmine): two-level distributed
    * prefix max, the bucketOffsets discipline with max for sum. Arrival
    * ids bucket into ≤4096 width-derived ranges; per-bucket maxima fold
    * in one partial-agg exchange, the exclusive prefix max runs on that
    * ≤4096-row aggregate (the only ordered window — always tiny),
    * broadcasts back, and the within-bucket running max rides one
    * hash-partitioned window on bucket id. One more tiny exchange for
    * the per-type rollup. */
  /** (event_id, event_type, etime_ns) with the md5-derived ('lag:' salt)
    * out-of-order event time — shared by [[eventsWatermarkLag]] and the
    * Streams.watermarkLag twin's spec so the two can't desync. */
  private[graft] def watermarkEventTimes(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_id"), col("event_type"),
        (col("ts_ns") - expr(
          "cast(conv(substring(md5(cast(concat('lag:', event_id) as binary)), 1, 13), 16, 10) as bigint)" +
            " % 7200 * 1000000000").cast("long")).as("etime_ns"))

  def eventsWatermarkLag(s: SparkSession, dir: String): DataFrame = {
    val e = watermarkEventTimes(s, dir)
    // width-derived bucket lattice: ≤4096 buckets at any id range (the
    // max(event_id) action is a column-pruned metadata-cheap scan)
    val maxId = e.agg(max("event_id")).head.getLong(0)
    val width = math.max(4096L, (maxId + 1 + 4095) / 4096)
    val b = e.withColumn("bucket", expr(s"event_id div $width"))
    val wOff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy("bucket").agg(max("etime_ns").as("bmax"))
      .withColumn("pmax", max("bmax").over(wOff))
      .select("bucket", "pmax")
    val wb = Window.partitionBy("bucket").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(offs), Seq("bucket"))
      .withColumn("pwmax", max("etime_ns").over(wb))
      // Spark greatest skips NULLs: wm is NULL only for the very first
      // arrival, which can never be late
      .withColumn("wm", greatest(col("pmax"), col("pwmax")))
      .select(col("event_type"),
        when(col("wm") > col("etime_ns"), 1L).otherwise(0L).as("late"),
        when(col("wm") > col("etime_ns"),
          expr("(wm - etime_ns) div 1000000000")).as("lag_s"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("late").as("n_late"),
        coalesce(max("lag_s"), lit(0L)).as("max_lag_s"),
        coalesce(sum("lag_s"), lit(0L)).as("sum_lag_s"))
      .withColumn("late_millis", expr("n_late * 1000 div n_events"))
  }

  private val WM_LAG_SQL =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    epoch_ns(ts) // 1000 * 1000
      |      - ('0x' || substr(md5('lag:' || CAST(event_id AS VARCHAR)), 1, 13))::BIGINT
      |        % 7200 * 1000000000 AS etime_ns
      |  FROM events),
      |w AS (SELECT event_type, etime_ns,
      |        MAX(etime_ns) OVER (ORDER BY event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
      |      FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN wm > etime_ns THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(COALESCE(MAX(CASE WHEN wm > etime_ns
      |    THEN (wm - etime_ns) // 1000000000 END), 0) AS BIGINT) AS max_lag_s,
      |  CAST(COALESCE(SUM(CASE WHEN wm > etime_ns
      |    THEN (wm - etime_ns) // 1000000000 END), 0) AS BIGINT) AS sum_lag_s,
      |  CAST(SUM(CASE WHEN wm > etime_ns THEN 1 ELSE 0 END) * 1000
      |    // COUNT(*) AS BIGINT) AS late_millis
      |FROM w GROUP BY 1""".stripMargin

  /** Dyadic EWMA forecast + residual anomaly flag per event type — the
    * one-step-ahead smoother next to [[eventsSeasonalNaive]]'s lag-24
    * baseline: each hour's forecast is the exponentially-weighted sum of
    * the PREVIOUS 8 hourly counts with power-of-two weights (w_i =
    * 2^(8-i), denominator 255 = Σw kept as an exact numerator — no
    * division anywhere on the hot path, so both engines replay the
    * lattice bit-for-bit; a calendar hour with no events contributes 0,
    * the true count). An hour flags `high` when the count exceeds 2× the
    * forecast, `low` under half. Forecast assembly is contribution-
    * EXPLODE (each observed hour scatters into its 8 future targets) —
    * one extra (type, hour) aggregate instead of 8 self-joins. Warm-up
    * hours (fewer than 8 predecessors since the type's first hour) are
    * fenced via the per-type min. Plan: hourly agg + contribution agg +
    * an AQE-sized join back; min-hour dim broadcast. */
  def eventsEwmaResidual(s: SparkSession, dir: String): DataFrame = {
    val h = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped) // contributions + actuals + min fence all read it
    val contrib = h
      .select(col("event_type"), col("hour_id"), col("c"),
        explode(expr("array(1L,2L,3L,4L,5L,6L,7L,8L)")).as("i"))
      .select(col("event_type"), (col("hour_id") + col("i")).as("hour_id"),
        (col("c") * expr("shiftleft(1L, cast(8 - i as int))")).as("wc"))
      .groupBy("event_type", "hour_id").agg(sum("wc").as("forecast_num"))
    val mins = h.groupBy("event_type").agg(min("hour_id").as("h0"))
    // LEFT join + coalesce-0: an active hour whose whole 8-hour history
    // is empty has forecast 0 — the strongest anomaly, not a dropped row
    // (and the streaming twin emits it; inner-join parity bug class)
    h.join(contrib, Seq("event_type", "hour_id"), "left_outer")
      .join(broadcast(mins), Seq("event_type"))
      .filter(col("hour_id") >= col("h0") + 8)
      .withColumn("forecast_num", coalesce(col("forecast_num"), lit(0L)))
      .select(col("event_type"), col("hour_id"), col("c"),
        col("forecast_num"),
        (col("c") * 255 - col("forecast_num")).as("resid_num"),
        when(col("c") * 255 > col("forecast_num") * 2, "high")
          .when(col("c") * 510 < col("forecast_num"), "low")
          .otherwise("ok").as("flag"))
  }

  private val EWMA_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |contrib AS (
       |  SELECT event_type, hour_id + i AS hour_id,
       |    CAST(SUM(c * (1 << (8 - i))) AS BIGINT) AS forecast_num
       |  FROM h, (SELECT unnest(range(1, 9)) AS i) s
       |  GROUP BY 1, 2),
       |m AS (SELECT event_type, MIN(hour_id) AS h0 FROM h GROUP BY 1)
       |SELECT h.event_type, h.hour_id, h.c,
       |  COALESCE(contrib.forecast_num, 0) AS forecast_num,
       |  h.c * 255 - COALESCE(contrib.forecast_num, 0) AS resid_num,
       |  CASE WHEN h.c * 255 > COALESCE(contrib.forecast_num, 0) * 2 THEN 'high'
       |       WHEN h.c * 510 < COALESCE(contrib.forecast_num, 0) THEN 'low'
       |       ELSE 'ok' END AS flag
       |FROM h
       |LEFT JOIN contrib ON contrib.event_type = h.event_type
       |  AND contrib.hour_id = h.hour_id
       |JOIN m ON m.event_type = h.event_type
       |WHERE h.hour_id >= m.h0 + 8""".stripMargin

  /** Holt linear-trend smoothing per event type — the trend-aware
    * forecaster next to [[eventsEwmaResidual]]'s level-only smoother
    * (EWMA lags any ramp; Holt's coupled level+trend recurrence tracks
    * it). Semantics: dyadic Holt (alpha = beta = 1/2) over the previous
    * 8 calendar hours y1..y8 (missing hour = 0, the true count), init
    * l2 = y2, b2 = y2 - y1, then 6 exact halving rounds — the coupled
    * recurrence UNROLLS to fixed per-lag integer coefficients over
    * denominator D = 4096 (verified: a constant series reproduces
    * itself exactly, y = 1..8 forecasts exactly 9·D). The lag-indexed
    * coefficient LITERALS are embedded identically in both engines
    * (splitmix-Rademacher discipline), so level/trend/forecast replay
    * bit-for-bit with no division anywhere on the hot path. Assembly is
    * contribution-EXPLODE like the EWMA operator (each observed hour
    * scatters into its 8 future targets carrying both weights) — one
    * extra (type, hour) aggregate instead of 8 self-joins; warm-up
    * hours fenced via the broadcast per-type min. The Holt-specific
    * readout is the slope flag: `rising` when the trend exceeds ~6%/h
    * of the level (16·b > l on the integer lattice), `falling` when
    * below the negative band. Plan: hourly agg + contribution agg + an
    * AQE-sized join back; min-hour dim broadcast — identical shuffle
    * shape to events_ewma_residual, scale-safe at any corpus size. */
  def eventsHoltTrend(s: SparkSession, dir: String): DataFrame = {
    // lag-1..8 coefficients of the unrolled recurrence, D = 4096
    val wLevel = "2048L,1536L,896L,352L,-8L,-186L,-372L,-170L"
    val wTrend = "1024L,256L,-192L,-368L,-364L,-271L,-542L,457L"
    val h = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped) // contributions + actuals + min fence all read it
    val contrib = h
      .select(col("event_type"), col("hour_id"), col("c"),
        explode(expr("array(1,2,3,4,5,6,7,8)")).as("i"))
      .select(col("event_type"), (col("hour_id") + col("i")).as("hour_id"),
        (col("c") * expr(s"element_at(array($wLevel), i)")).as("lc"),
        (col("c") * expr(s"element_at(array($wTrend), i)")).as("tc"))
      .groupBy("event_type", "hour_id")
      .agg(sum("lc").as("level_num"), sum("tc").as("trend_num"))
    val mins = h.groupBy("event_type").agg(min("hour_id").as("h0"))
    // LEFT join + coalesce-0: an active hour with an all-empty history
    // window has level 0 / trend 0 — an emitted row, not a dropped one
    // (events_ewma_residual's inner-join parity bug class)
    h.join(contrib, Seq("event_type", "hour_id"), "left_outer")
      .join(broadcast(mins), Seq("event_type"))
      .filter(col("hour_id") >= col("h0") + 8)
      .withColumn("level_num", coalesce(col("level_num"), lit(0L)))
      .withColumn("trend_num", coalesce(col("trend_num"), lit(0L)))
      .select(col("event_type"), col("hour_id"), col("c"),
        col("level_num"), col("trend_num"),
        (col("level_num") + col("trend_num")).as("forecast_num"),
        (col("c") * 4096 - col("level_num") - col("trend_num"))
          .as("resid_num"),
        when(col("trend_num") * 16 > col("level_num"), "rising")
          .when(col("trend_num") * 16 < -col("level_num"), "falling")
          .otherwise("flat").as("flag"))
  }

  private val HOLT_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |contrib AS (
       |  SELECT event_type, hour_id + i AS hour_id,
       |    CAST(SUM(c * ([2048,1536,896,352,-8,-186,-372,-170])[i])
       |      AS BIGINT) AS level_num,
       |    CAST(SUM(c * ([1024,256,-192,-368,-364,-271,-542,457])[i])
       |      AS BIGINT) AS trend_num
       |  FROM h, (SELECT unnest(range(1, 9)) AS i) s
       |  GROUP BY 1, 2),
       |m AS (SELECT event_type, MIN(hour_id) AS h0 FROM h GROUP BY 1)
       |SELECT h.event_type, h.hour_id, h.c,
       |  COALESCE(contrib.level_num, 0) AS level_num,
       |  COALESCE(contrib.trend_num, 0) AS trend_num,
       |  COALESCE(contrib.level_num, 0) + COALESCE(contrib.trend_num, 0)
       |    AS forecast_num,
       |  h.c * 4096 - COALESCE(contrib.level_num, 0)
       |    - COALESCE(contrib.trend_num, 0) AS resid_num,
       |  CASE WHEN COALESCE(contrib.trend_num, 0) * 16
       |         > COALESCE(contrib.level_num, 0) THEN 'rising'
       |       WHEN COALESCE(contrib.trend_num, 0) * 16
       |         < -COALESCE(contrib.level_num, 0) THEN 'falling'
       |       ELSE 'flat' END AS flag
       |FROM h
       |LEFT JOIN contrib ON contrib.event_type = h.event_type
       |  AND contrib.hour_id = h.hour_id
       |JOIN m ON m.event_type = h.event_type
       |WHERE h.hour_id >= m.h0 + 8""".stripMargin

  /** Rolling-origin forecast backtest — the MODEL-SELECTION audit the
    * forecaster family ([[eventsSeasonalNaive]] lag-24,
    * [[eventsEwmaResidual]] dyadic EWMA, [[eventsHoltTrend]]
    * level+trend) exists to feed: one pass over the shared hourly
    * relation scores all three one-step-ahead forecasts on every hour
    * past the common 24-hour fence and reports each type's exact
    * integer MAE (milli-counts) plus the winner. Per-hour residuals
    * floor to milli on each forecaster's OWN denominator (1 / 255 /
    * 4096) before summing — the divide-first discipline; |holt resid|
    * ≤ c·2·4096 so the per-type sums hold to ~10⁹ events/hour ×10⁵
    * hours in BIGINT. Missing-history hours coalesce to forecast 0
    * (the inner-join parity class). Winner = struct-min over
    * (mae, fixed model order) — deterministic ties. Plan: ONE
    * data-sized hourly agg (checkpointed — five consumers), three
    * scatter/lag aggregates on the hourly relation, AQE-sized joins
    * back, min-hour dim broadcast, one per-type fold. */
  def eventsForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val wf = "3072L,1792L,704L,-16L,-372L,-457L,-914L,287L" // holt fcast by lag
    val h = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped) // 3 forecast legs + actuals + fence
    val ew = h.select(col("event_type"), col("hour_id"), col("c"),
        explode(expr("array(1L,2L,3L,4L,5L,6L,7L,8L)")).as("i"))
      .select(col("event_type"), (col("hour_id") + col("i")).as("hour_id"),
        (col("c") * expr("shiftleft(1L, cast(8 - i as int))")).as("wc"))
      .groupBy("event_type", "hour_id").agg(sum("wc").as("f_ewma"))
    val hl = h.select(col("event_type"), col("hour_id"), col("c"),
        explode(expr("array(1,2,3,4,5,6,7,8)")).as("i"))
      .select(col("event_type"), (col("hour_id") + col("i")).as("hour_id"),
        (col("c") * expr(s"element_at(array($wf), i)")).as("wc"))
      .groupBy("event_type", "hour_id").agg(sum("wc").as("f_holt"))
    val nv = h.select(col("event_type"),
      (col("hour_id") + 24).as("hour_id"), col("c").as("f_naive"))
    val mins = h.groupBy("event_type").agg(min("hour_id").as("h0"))
    h.join(ew, Seq("event_type", "hour_id"), "left_outer")
      .join(hl, Seq("event_type", "hour_id"), "left_outer")
      .join(nv, Seq("event_type", "hour_id"), "left_outer")
      .join(broadcast(mins), Seq("event_type"))
      .filter(col("hour_id") >= col("h0") + 24)
      .select(col("event_type"),
        expr("abs(c - coalesce(f_naive, 0L)) * 1000").as("r_naive"),
        expr("abs(c * 255 - coalesce(f_ewma, 0L)) * 1000 div 255").as("r_ewma"),
        expr("abs(c * 4096 - coalesce(f_holt, 0L)) * 1000 div 4096").as("r_holt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        expr("sum(r_naive) div count(1)").as("mae_naive_milli"),
        expr("sum(r_ewma) div count(1)").as("mae_ewma_milli"),
        expr("sum(r_holt) div count(1)").as("mae_holt_milli"))
      .withColumn("winner",
        expr("least(struct(mae_naive_milli as m, 1 as o, 'naive24' as w)," +
          " struct(mae_ewma_milli as m, 2 as o, 'ewma' as w)," +
          " struct(mae_holt_milli as m, 3 as o, 'holt' as w)).w"))
  }

  private val BACKTEST_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |ew AS (
       |  SELECT event_type, hour_id + i AS hour_id,
       |    CAST(SUM(c * (1 << (8 - i))) AS BIGINT) AS f_ewma
       |  FROM h, (SELECT unnest(range(1, 9)) AS i) s GROUP BY 1, 2),
       |hl AS (
       |  SELECT event_type, hour_id + i AS hour_id,
       |    CAST(SUM(c * ([3072,1792,704,-16,-372,-457,-914,287])[i])
       |      AS BIGINT) AS f_holt
       |  FROM h, (SELECT unnest(range(1, 9)) AS i) s GROUP BY 1, 2),
       |nv AS (
       |  SELECT event_type, hour_id + 24 AS hour_id, c AS f_naive FROM h),
       |m AS (SELECT event_type, MIN(hour_id) AS h0 FROM h GROUP BY 1),
       |r AS (
       |  SELECT h.event_type,
       |    abs(h.c - COALESCE(nv.f_naive, 0)) * 1000 AS r_naive,
       |    abs(h.c * 255 - COALESCE(ew.f_ewma, 0)) * 1000 // 255 AS r_ewma,
       |    abs(h.c * 4096 - COALESCE(hl.f_holt, 0)) * 1000 // 4096 AS r_holt
       |  FROM h
       |  LEFT JOIN ew ON ew.event_type = h.event_type
       |    AND ew.hour_id = h.hour_id
       |  LEFT JOIN hl ON hl.event_type = h.event_type
       |    AND hl.hour_id = h.hour_id
       |  LEFT JOIN nv ON nv.event_type = h.event_type
       |    AND nv.hour_id = h.hour_id
       |  JOIN m ON m.event_type = h.event_type
       |  WHERE h.hour_id >= m.h0 + 24)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |  CAST(SUM(r_naive) // COUNT(*) AS BIGINT) AS mae_naive_milli,
       |  CAST(SUM(r_ewma) // COUNT(*) AS BIGINT) AS mae_ewma_milli,
       |  CAST(SUM(r_holt) // COUNT(*) AS BIGINT) AS mae_holt_milli,
       |  CASE WHEN SUM(r_naive) // COUNT(*) <= SUM(r_ewma) // COUNT(*)
       |         AND SUM(r_naive) // COUNT(*) <= SUM(r_holt) // COUNT(*)
       |       THEN 'naive24'
       |       WHEN SUM(r_ewma) // COUNT(*) <= SUM(r_holt) // COUNT(*)
       |       THEN 'ewma' ELSE 'holt' END AS winner
       |FROM r GROUP BY 1""".stripMargin

  /** Per-type traffic burstiness — the capacity-planning readout next to
    * [[eventsEwmaResidual]]'s per-hour flags: over the type's OBSERVED
    * hours (conditional on activity, documented), peak-to-mean ratio and
    * a Fano factor (variance/mean index of dispersion: 1000 ≈ Poisson,
    * ≫1000 bursty, ≪1000 metronomic). Both ship as exact milli on the
    * divide-by-n-FIRST lattice (arrival_regularity discipline:
    * (Σc² div n) − (Σc div n)² never overflows at any SF where the raw
    * n·Σc² product would) — a deterministic floor-approximated index,
    * identical on both engines, not a float statistic. ONE (type, hour)
    * agg + a ≤|types|-row fold. */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("n_events"),
        max("c").as("peak"), sum(expr("c * c")).as("sumsq"))
      .select(col("event_type"), col("n_hours"), col("n_events"), col("peak"),
        expr("n_events * 1000 div n_hours").as("mean_milli"),
        expr("peak * n_hours * 1000 div n_events").as("peak_to_mean_milli"),
        expr("((sumsq div n_hours) - (n_events div n_hours) * (n_events div n_hours)) * 1000" +
          " div greatest(n_events div n_hours, 1)").as("fano_milli"))

  private val BURSTINESS_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |f AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
       |        CAST(SUM(c) AS BIGINT) AS n_events, MAX(c) AS peak,
       |        CAST(SUM(c * c) AS BIGINT) AS sumsq
       |      FROM h GROUP BY 1)
       |SELECT event_type, n_hours, n_events, peak,
       |  n_events * 1000 // n_hours AS mean_milli,
       |  peak * n_hours * 1000 // n_events AS peak_to_mean_milli,
       |  ((sumsq // n_hours) - (n_events // n_hours) * (n_events // n_hours))
       |    * 1000 // GREATEST(n_events // n_hours, 1) AS fano_milli
       |FROM f""".stripMargin

  /** Kleinberg 2-state burst detection per event type — the INTERVAL
    * member of the anomaly family ([[eventsBurstiness]] scores how
    * bursty, ewma/MAD flag single hours; this finds the burst
    * INTERVALS): hidden states base rate r₀ = N/T vs burst rate 3r₀
    * over the full hourly calendar (missing hours are true zeros — the
    * haar span-formula convention), Viterbi decode with an entry
    * penalty. EXACT lattice: the whole objective is multiplied by
    * T·1024 so every per-hour Poisson cost difference is the integer
    * Δ = 2N·1477 − c·T·1625 (1477 = ⌊1024·log₂e⌋, 1625 = ⌊1024·log₂3⌋
    * — fixed-point literals, the diurnal-DFT trick; the log₂(c!) term
    * is state-independent and cancels) and the entry penalty is
    * γ = 4 bits = 4096·T. The decode is a 2-cell DP carrying each
    * state's optimal-path stats (cost, burst hours, entries, max/cur
    * run) in a FLAT 10-long list — the unigram-trainer fold shape, an
    * aggregate() fold here and the identical list_prepend-seeded
    * list_reduce in DuckDB. Ties prefer base, and staying, determinism
    * on both engines; the s₁ seed is 2⁵⁰ (≫ any real path) so a burst
    * in hour 1 counts as an ENTRY, not a stay. Plan: one (type, hour)
    * agg (checkpointed — span fold + calendar join both read it), a
    * ≤|types|-row fold. */
  def eventsKleinbergBurst(s: SparkSession, dir: String): DataFrame = {
    val obs = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour"))
      .groupBy("event_type", "hour").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped)
    val span = obs.groupBy("event_type")
      .agg(min("hour").as("h0"), max("hour").as("h1"),
        sum("c").as("n"), (max("hour") - min("hour") + 1).as("t"))
    val ser = span
      .select(col("event_type"), col("n"), col("t"),
        explode(expr("sequence(h0, h1)")).as("hour"))
      .join(obs, Seq("event_type", "hour"), "left_outer")
      .select(col("event_type"), col("n"), col("t"), col("hour"),
        coalesce(col("c"), lit(0L)).as("c"))
    ser.groupBy("event_type", "n", "t")
      .agg(expr(
        "transform(array_sort(collect_list(struct(hour, c))), " +
          "x -> 2 * n * 1477 - x.c * t * 1625)").as("dl"))
      .select(col("event_type"), col("n"), col("t"),
        expr("cast(size(dl) as bigint)").as("n_hours"),
        expr(
          """aggregate(dl,
            |  array(0L, 0L, 0L, 0L, 0L,
            |        1125899906842624L, 0L, 0L, 0L, 0L),
            |  (acc, d) -> concat(
            |    if(element_at(acc, 1) <= element_at(acc, 6),
            |      array(element_at(acc, 1), element_at(acc, 2),
            |            element_at(acc, 3), element_at(acc, 4), 0L),
            |      array(element_at(acc, 6), element_at(acc, 7),
            |            element_at(acc, 8), element_at(acc, 9), 0L)),
            |    if(element_at(acc, 6) <= element_at(acc, 1) + 4096 * t,
            |      array(element_at(acc, 6) + d, element_at(acc, 7) + 1,
            |            element_at(acc, 8),
            |            greatest(element_at(acc, 10) + 1, element_at(acc, 9)),
            |            element_at(acc, 10) + 1),
            |      array(element_at(acc, 1) + 4096 * t + d,
            |            element_at(acc, 2) + 1, element_at(acc, 3) + 1,
            |            greatest(element_at(acc, 5) + 1, element_at(acc, 4)),
            |            1L))))""".stripMargin).as("st"))
      .select(col("event_type"), col("n_hours"), col("n").as("n_events"),
        expr("if(st[0] <= st[5], st[1], st[6])").as("n_burst_hours"),
        expr("if(st[0] <= st[5], st[2], st[7])").as("n_bursts"),
        expr("if(st[0] <= st[5], st[3], st[8])").as("max_burst_len"))
      .withColumn("burst_share_milli",
        expr("n_burst_hours * 1000 div n_hours"))
  }

  private val KLEINBERG_SQL =
    s"""WITH e AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour
       |  FROM events),
       |o AS (SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS c
       |      FROM e GROUP BY 1, 2),
       |sp AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1,
       |         CAST(SUM(c) AS BIGINT) AS n,
       |         CAST(MAX(hour) - MIN(hour) + 1 AS BIGINT) AS t
       |       FROM o GROUP BY 1),
       |cal AS (SELECT sp.event_type, CAST(g.h AS BIGINT) AS hour, sp.n,
       |          sp.t
       |        FROM sp, LATERAL unnest(generate_series(h0, h1)) g(h)),
       |ser AS (SELECT cal.event_type, cal.hour, cal.n, cal.t,
       |          COALESCE(o.c, 0) AS c
       |        FROM cal LEFT JOIN o
       |          ON o.event_type = cal.event_type AND o.hour = cal.hour),
       |agg AS (
       |  SELECT event_type, n, t,
       |    list(2 * n * 1477 - c * t * 1625 ORDER BY hour) AS dl
       |  FROM ser GROUP BY event_type, n, t),
       |f AS (
       |  SELECT event_type, n, t, CAST(len(dl) AS BIGINT) AS n_hours,
       |    list_reduce(list_prepend(
       |      [0::BIGINT, 0, 0, 0, 0, 1125899906842624, 0, 0, 0, 0, 0],
       |      list_transform(dl, d ->
       |        [0::BIGINT, 0, 0, 0, 0, 0, 0, 0, 0, 0, d])),
       |      (acc, x) -> list_concat(list_concat(
       |        CASE WHEN acc[1] <= acc[6]
       |          THEN [acc[1], acc[2], acc[3], acc[4], 0::BIGINT]
       |          ELSE [acc[6], acc[7], acc[8], acc[9], 0::BIGINT] END,
       |        CASE WHEN acc[6] <= acc[1] + 4096 * t
       |          THEN [acc[6] + x[11], acc[7] + 1, acc[8],
       |                GREATEST(acc[10] + 1, acc[9]), acc[10] + 1]
       |          ELSE [acc[1] + 4096 * t + x[11], acc[2] + 1, acc[3] + 1,
       |                GREATEST(acc[5] + 1, acc[4]), 1::BIGINT] END),
       |        [0::BIGINT])) AS st
       |  FROM agg)
       |SELECT event_type, n_hours, n AS n_events,
       |  CASE WHEN st[1] <= st[6] THEN st[2] ELSE st[7] END
       |    AS n_burst_hours,
       |  CASE WHEN st[1] <= st[6] THEN st[3] ELSE st[8] END AS n_bursts,
       |  CASE WHEN st[1] <= st[6] THEN st[4] ELSE st[9] END
       |    AS max_burst_len,
       |  (CASE WHEN st[1] <= st[6] THEN st[2] ELSE st[7] END) * 1000
       |    // n_hours AS burst_share_milli
       |FROM f""".stripMargin

  /** Haar wavelet energy by timescale — the MULTI-RESOLUTION member of
    * the series family: [[eventsBurstiness]] says HOW bursty a type is,
    * [[eventsDiurnalDft]] finds global periodicity; this one says WHICH
    * timescale the variance lives at (2/4/8/16-hour burst structure),
    * time-localized where the DFT is global. Semantics: hourly shares
    * (c·1000 div per-type total — missing hours are true zeros), hours
    * indexed relative to the type's first hour, and per scale
    * j ∈ {1..4} each COMPLETE 2^j-hour block contributes the Haar
    * detail d = Σ(first half) − Σ(second half); energy = Σ d² in micro
    * (shares are milli so d² is micro; |d| ≤ 1000 ⇒ overflow-free at
    * any corpus — the normalize-before-square discipline again).
    * mean_block_micro = energy div n_blocks is the cross-scale-fair
    * variance density; is_dominant marks each type's strongest scale.
    * n_blocks comes from the span FORMULA, not a row count — all-zero
    * blocks exist and contribute zero energy, they are not absent.
    * Plan: ONE data-sized (type, hour) agg; the ×4 scatter, block agg
    * and scale fold all run on the ≤|types|·hours profile with the
    * span/total dim broadcast. */
  def eventsHaarEnergy(s: SparkSession, dir: String): DataFrame = {
    val h = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .transform(graft.Ckpt.capped) // span/total fold + scatter both read it
    val dims = h.groupBy("event_type")
      .agg(min("hour_id").as("h0"), (max("hour_id") - min("hour_id") + 1).as("span"),
        sum("c").as("tot"))
    h.join(broadcast(dims), Seq("event_type"))
      .select(col("event_type"), (col("hour_id") - col("h0")).as("rel"),
        expr("c * 1000 div tot").as("sh"), col("span"),
        explode(array((1 to 4).map(j =>
          struct(lit(j.toLong).as("j"), lit(1L << j).as("bs"))): _*)).as("s"))
      .filter(expr("rel div s.bs < span div s.bs")) // complete blocks only
      .select(col("event_type"), col("s.j").as("j"),
        expr("span div s.bs").as("n_blocks"),
        expr("rel div s.bs").as("block"),
        (expr("1 - 2 * ((rel div (s.bs div 2)) % 2)") * col("sh")).as("term"))
      .groupBy("event_type", "j", "n_blocks", "block")
      .agg(sum("term").as("d"))
      .groupBy("event_type", "j", "n_blocks")
      .agg(sum(expr("d * d")).as("energy_micro"))
      .select(col("event_type"), expr("shiftleft(1L, cast(j as int))").as("scale_hours"),
        col("n_blocks"), col("energy_micro"),
        expr("energy_micro div n_blocks").as("mean_block_micro"))
      .withColumn("is_dominant",
        col("mean_block_micro") === max("mean_block_micro")
          .over(Window.partitionBy("event_type")))
  }

  private val HAAR_SQL =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // $HOUR_NS AS hour_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |dims AS (
       |  SELECT event_type, MIN(hour_id) AS h0,
       |    MAX(hour_id) - MIN(hour_id) + 1 AS span,
       |    CAST(SUM(c) AS BIGINT) AS tot
       |  FROM h GROUP BY 1),
       |term AS (
       |  SELECT h.event_type, s.j, d.span // s.bs AS n_blocks,
       |    (h.hour_id - d.h0) // s.bs AS block,
       |    (1 - 2 * (((h.hour_id - d.h0) // (s.bs // 2)) % 2))
       |      * (h.c * 1000 // d.tot) AS term
       |  FROM h JOIN dims d ON d.event_type = h.event_type,
       |    (VALUES (1, 2), (2, 4), (3, 8), (4, 16)) s(j, bs)
       |  WHERE (h.hour_id - d.h0) // s.bs < d.span // s.bs),
       |det AS (
       |  SELECT event_type, j, n_blocks, block,
       |    CAST(SUM(term) AS BIGINT) AS d
       |  FROM term GROUP BY 1, 2, 3, 4),
       |en AS (
       |  SELECT event_type, j, n_blocks,
       |    CAST(SUM(d * d) AS BIGINT) AS energy_micro
       |  FROM det GROUP BY 1, 2, 3)
       |SELECT event_type, CAST(1 << j AS BIGINT) AS scale_hours,
       |  CAST(n_blocks AS BIGINT) AS n_blocks, energy_micro,
       |  energy_micro // n_blocks AS mean_block_micro,
       |  energy_micro // n_blocks = MAX(energy_micro // n_blocks)
       |    OVER (PARTITION BY event_type) AS is_dominant
       |FROM en""".stripMargin

  /** Deterministic fixed-point power iteration for the dominant
    * eigenvector of the embedding second-moment matrix — the
    * distributed PCA primitive (top principal axis without
    * mean-centering, documented) that sizes how anisotropic the
    * embedding cloud is before an ANN index commits to it. Everything
    * is exact integer: coordinates quantize at 2^-10 (the simDimStats
    * square-safe scale), C = Σ x·xᵀ accumulates BIGINT outer products
    * through ONE self-join on vec_id (8.4M intermediate rows at 2k
    * vectors — linear in corpus size at fixed dim), and five matvec
    * rounds renormalize by max-|component| with truncating division
    * (both engines truncate toward zero — spec-asserted; no floats, no
    * sqrt, so the whole trajectory hash-matches). Per-round state is a
    * 64-row frame: each round ([[graft.Fixpoint.fixed]]) broadcasts v
    * into the matvec and renormalizes in its own plan through a max
    * window over the 64 rows, so no round reads anything back to the
    * driver. The oracle replays the identical five rounds as
    * MATERIALIZED CTEs. */
  def simPowerIteration(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .select(col("vec_id"), col("j").cast("long").as("j"),
        expr("cast(floor(cast(xf as double) * 1024) as bigint)").as("x"))
      .transform(graft.Ckpt.capped) // both sides of the outer-product self-join
    val cov = x.toDF("vec_id", "i", "xi")
      .join(x.toDF("vid2", "j", "xj"), col("vec_id") === col("vid2"))
      .groupBy("i", "j").agg(sum(expr("xi * xj")).as("c"))
      .transform(graft.Ckpt.capped) // read by all five matvec rounds
    // the unit start as a nullable aggregate, the rounds' schema
    val v0 = s.range(64).groupBy(col("id").as("j")).agg(min(lit(1048576L)).as("v"))
      .transform(graft.Ckpt.capped)
    graft.Fixpoint.fixed(v0, 5) { v =>
      cov.join(broadcast(v), Seq("j"))
        .groupBy(col("i").as("j")).agg(sum(expr("c * v")).as("y"))
        .select(col("j"),
          expr("y div greatest(max(abs(y)) over () div 1048576, 1)").as("v"))
    }.select(col("j").as("dim"), col("v").as("v_fp"))
  }

  private val POWER_ITER_SQL = {
    val rounds = (1 to 5).map { r =>
      s"""y$r AS MATERIALIZED (
         |  SELECT c.i AS j, CAST(SUM(c.c * v.v) AS BIGINT) AS y
         |  FROM c JOIN v${r - 1} v ON c.j = v.j GROUP BY 1),
         |m$r AS (SELECT GREATEST(MAX(ABS(y)) // 1048576, 1) AS d FROM y$r),
         |v$r AS MATERIALIZED (
         |  SELECT j, CAST(y // d AS BIGINT) AS v FROM y$r, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, j1 - 1 AS j,
       |    CAST(FLOOR(CAST(embedding[j1] AS DOUBLE) * 1024) AS BIGINT) AS x
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j1) s
       |  WHERE j1 <= len(embedding)),
       |c AS MATERIALIZED (
       |  SELECT a.j AS i, b.j AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS c
       |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT CAST(j AS BIGINT) AS j, CAST(1048576 AS BIGINT) AS v
       |       FROM (SELECT range AS j FROM range(64))),
       |$rounds
       |SELECT j AS dim, v AS v_fp FROM v5""".stripMargin
  }

  /** Approximate stationary distribution of the user-journey Markov
    * chain — [[eventsTransitionMatrix]]'s long-run readout: where does a
    * user's session settle if the observed transition dynamics keep
    * running? Five synchronous v·P steps from uniform, entirely on the
    * positive fixed-point lattice (p = c·2^20 div row_total, each step
    * Σ(v·p) div 2^20 — floor AFTER the sum, engine-identical;
    * deliberately NO per-round renormalization: P's truncated rows sum
    * to ≤ 2^20, so mass only shrinks and nothing can overflow — the
    * share is normalized ONCE at the end). The |types|² matrix is
    * checkpointed once, and each tiny step joins the broadcast state and
    * ends in its own checkpoint ([[graft.Fixpoint.fixed]]).
    * Oracle: five unrolled CTE rounds off a MATERIALIZED matrix. */
  def eventsMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val byPrev = Window.partitionBy("prev")
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val m = DomainQueries.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("prev"))
      .withColumn("next", lead("prev", 1).over(byUser))
      .filter(col("next").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("n"))
      .withColumn("p_fp", expr("n * 1048576 div sum(n) over (partition by prev)"))
      .select("prev", "next", "p_fp")
      .transform(graft.Ckpt.capped) // read by all five steps
    // the uniform start as a nullable aggregate, the steps' schema
    val v0 = m.groupBy(col("prev").as("et")).agg(min(lit(1048576L)).as("v"))
      .transform(graft.Ckpt.capped)
    graft.Fixpoint.fixed(v0, 5) { v =>
      m.join(broadcast(v), col("prev") === col("et"))
        .groupBy(col("next").as("et2")).agg(expr("sum(v * p_fp) div 1048576").as("v"))
        .withColumnRenamed("et2", "et")
    }.withColumn("stationary_milli",
        expr("v * 1000 div sum(v) over ()"))
      .select(col("et").as("event_type"), col("v").as("v_fp"),
        col("stationary_milli"))
  }

  private val MARKOV_SQL = {
    val rounds = (1 to 5).map { r =>
      s"""v$r AS (SELECT m.next AS et,
         |  CAST(SUM(v.v * m.p_fp) // 1048576 AS BIGINT) AS v
         |FROM m JOIN v${r - 1} v ON m.prev = v.et GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    """WITH p AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_ns(ts) // 1000 * 1000 AS ts_ns
      |  FROM events),
      |l AS (SELECT event_type AS prev,
      |        LEAD(event_type, 1) OVER (PARTITION BY user_id
      |          ORDER BY ts_ns, event_id) AS next
      |      FROM p),
      |c AS (SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM l WHERE next IS NOT NULL GROUP BY prev, next),
      |m AS MATERIALIZED (
      |  SELECT prev, next,
      |    CAST(n * 1048576 // SUM(n) OVER (PARTITION BY prev) AS BIGINT)
      |      AS p_fp
      |  FROM c),
      |v0 AS (SELECT DISTINCT prev AS et, CAST(1048576 AS BIGINT) AS v FROM m),
      |""".stripMargin + rounds + """
      |SELECT et AS event_type, v AS v_fp,
      |  CAST(v * 1000 // SUM(v) OVER () AS BIGINT) AS stationary_milli
      |FROM v5""".stripMargin
  }

  /** Training-order mixing audit — did the shuffle actually interleave
    * sources, or will the loader see same-source runs? Documents take
    * the 'oa:' md5 order key (its own salt), adjacency is evaluated
    * WITHIN each of the 256 leading-byte shards of that order (a global
    * rank would be one task at any scale — the distributed-prefix
    * landmine; shard-boundary pairs are dropped identically on both
    * engines), and the single-row output sets the observed same-source
    * adjacent share against the expected share under a perfect random
    * order (Σ n_s(n_s−1) / N(N−1), exact milli) — observed ≫ expected
    * means clumping. Plan: one shard-window exchange + two tiny folds. */
  def dataOrderAutocorr(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      expr("md5(cast(concat('oa:', cast(doc_id as string)) as binary))").as("ok"))
      .withColumn("shard", expr("cast(conv(substring(ok, 1, 2), 16, 10) as bigint)"))
    val byShard = Window.partitionBy("shard").orderBy("ok")
    val adj = d.withColumn("nxt", lead("source", 1).over(byShard))
      .filter(col("nxt").isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("source") === col("nxt"), 1L).otherwise(0L)).as("n_same"))
    val exp = d.groupBy("source").agg(count(lit(1)).as("ns"))
      .agg(sum("ns").as("n_docs"), sum(expr("ns * (ns - 1)")).as("same_mass"))
    adj.crossJoin(broadcast(exp)) // 1×1 fold join (whitelisted class)
      .select(col("n_docs"), col("n_pairs"), col("n_same"),
        expr("n_same * 1000 div n_pairs").as("observed_milli"),
        expr("same_mass * 1000 div (n_docs * (n_docs - 1))")
          .as("expected_milli"))
  }

  private val ORDER_AUTOCORR_SQL =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    md5('oa:' || CAST(doc_id AS VARCHAR)) AS ok
      |  FROM documents),
      |sh AS (SELECT source, ok,
      |         ('0x' || substr(ok, 1, 2))::BIGINT AS shard
      |       FROM d),
      |a AS (SELECT source,
      |        LEAD(source, 1) OVER (PARTITION BY shard ORDER BY ok) AS nxt
      |      FROM sh),
      |obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |          CAST(SUM(CASE WHEN source = nxt THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_same
      |        FROM a WHERE nxt IS NOT NULL),
      |e AS (SELECT CAST(SUM(ns) AS BIGINT) AS n_docs,
      |        CAST(SUM(ns * (ns - 1)) AS BIGINT) AS same_mass
      |      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM d GROUP BY source))
      |SELECT n_docs, n_pairs, n_same,
      |  n_same * 1000 // n_pairs AS observed_milli,
      |  same_mass * 1000 // (n_docs * (n_docs - 1)) AS expected_milli
      |FROM obs, e""".stripMargin

  /** Gini concentration of (source, lang) partition sizes — the
    * storage-balance inequality index next to data_skew_audit's
    * per-key report: G = Σ(2i−n−1)·x_(i) / (n·Σx) over size-sorted
    * buckets, exact milli (ties broken by bucket name — a total order
    * both engines share). The bucket list is aggregate-sized (≤
    * |sources|×|langs|), so the rank window is a tiny unpartitioned
    * frame, NOT a fact-table global window. 0 ⟹ balanced, →1000 ⟹ one
    * bucket holds everything. */
  def dataShardSkewGini(s: SparkSession, dir: String): DataFrame = {
    val buckets = t(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("x"), col("source"), col("lang"))
    buckets.withColumn("i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_buckets"), sum("x").as("n_docs"),
        max("x").as("max_bucket"),
        sum(expr("(2 * i - 1) * x")).as("wsum"))
      // Σ(2i−n−1)x = Σ(2i−1)x − n·Σx = wsum − n_buckets·n_docs
      .select(col("n_buckets"), col("n_docs"), col("max_bucket"),
        expr("(wsum - n_buckets * n_docs) * 1000" +
          " div (n_buckets * n_docs)").as("gini_milli"))
  }

  private val GINI_SQL =
    """WITH b AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS x
      |           FROM documents GROUP BY 1, 2),
      |r AS (SELECT x,
      |        CAST(ROW_NUMBER() OVER (ORDER BY x, source, lang) AS BIGINT) AS i
      |      FROM b)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(x) AS BIGINT) AS n_docs, MAX(x) AS max_bucket,
      |  (CAST(SUM((2 * i - 1) * x) AS BIGINT)
      |    - COUNT(*) * CAST(SUM(x) AS BIGINT)) * 1000
      |    // (COUNT(*) * CAST(SUM(x) AS BIGINT)) AS gini_milli
      |FROM r""".stripMargin

  /** KMV set-INTERSECTION estimation across consecutive days — the
    * sketch set-algebra the HLL register-max union cannot do: per day a
    * bottom-64 sample of distinct user hashes ('ki:' salt, 52-bit so
    * ordering survives any Double detour), per (day, day+1) pair the
    * union sketch re-takes the bottom 64 OF THE MERGED HASHES (valid:
    * bottom-k of a union ⊆ union of bottom-ks), θ = its k-th value,
    * est_union = 63·2^52 div θ, and the intersection estimate scales
    * the union by the share of sampled hashes present in BOTH days —
    * computed as common · (est_union div 64) (div-first lattice; the
    * raw product can graze BIGINT at tiny θ). The exact intersection /
    * union ride the same (day, h) distinct relation for side-by-side
    * error reading. State per day is O(k): the mergeability property
    * that lets 100 TB of daily logs answer overlap questions without a
    * re-scan. */
  def eventsKmvIntersection(s: SparkSession, dir: String): DataFrame = {
    val K = 64
    val dh = DomainQueries.events(s, dir)
      .select(expr(s"ts_ns div $DAY_NS").as("day"),
        expr("cast(conv(substring(md5(cast(concat('ki:', user_id) as binary)), 1, 13), 16, 10) as bigint)").as("h"))
      .distinct()
      .transform(graft.Ckpt.capped) // sketches + exact folds all read it
    val wDay = Window.partitionBy("day").orderBy("h")
    val sk = dh.withColumn("r", row_number().over(wDay))
      .filter(col("r") <= K).select("day", "h")
      .transform(graft.Ckpt.capped) // both pair sides
    val merged = sk
      .select(col("day").as("day_a"), col("h"), lit(1L).as("in_a"))
      .join(sk.select((col("day") - 1).as("day_a"), col("h"),
        lit(1L).as("in_b")), Seq("day_a", "h"), "full_outer")
      .filter(col("day_a").isNotNull)
    val wPair = Window.partitionBy("day_a").orderBy("h")
    val est = merged.withColumn("r", row_number().over(wPair))
      .filter(col("r") <= K)
      .groupBy("day_a")
      .agg(count(lit(1)).as("k_used"), max("h").as("theta"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("common"))
      .select(col("day_a"), col("k_used"), col("theta"), col("common"),
        expr("(k_used - 1) * 4503599627370496 div theta").as("union_est"),
        expr("common * ((k_used - 1) * 4503599627370496 div theta div k_used)")
          .as("inter_est"))
    val daily = dh.groupBy("day").agg(count(lit(1)).as("n_users"))
    val inter = dh.select(col("day").as("day_a"), col("h"))
      .join(dh.select((col("day") - 1).as("day_a"), col("h")),
        Seq("day_a", "h"), "inner")
      .groupBy("day_a").agg(count(lit(1)).as("exact_inter"))
    est
      .join(daily.select(col("day").as("day_a"), col("n_users").as("exact_a")),
        Seq("day_a"))
      .join(daily.select((col("day") - 1).as("day_a"),
        col("n_users").as("exact_b")), Seq("day_a"))
      .join(inter, Seq("day_a"), "left_outer")
      .select(col("day_a"), (col("day_a") + 1).as("day_b"),
        col("exact_a"), col("exact_b"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
        (col("exact_a") + col("exact_b") -
          coalesce(col("exact_inter"), lit(0L))).as("exact_union"),
        col("k_used"), col("theta"), col("common"),
        col("union_est"), col("inter_est"))
  }

  private val KMV_INTERSECT_SQL =
    s"""WITH dh AS MATERIALIZED (
       |  SELECT DISTINCT epoch_ns(ts) // $DAY_NS AS day,
       |    ('0x' || substr(md5('ki:' || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
       |      AS h
       |  FROM events),
       |sk AS MATERIALIZED (
       |  SELECT day, h FROM (
       |    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS r
       |    FROM dh) WHERE r <= 64),
       |m AS (SELECT COALESCE(a.day_a, b.day_a) AS day_a,
       |        COALESCE(a.h, b.h) AS h, a.in_a, b.in_b
       |      FROM (SELECT day AS day_a, h, 1 AS in_a FROM sk) a
       |      FULL OUTER JOIN (SELECT day - 1 AS day_a, h, 1 AS in_b FROM sk) b
       |        ON a.day_a = b.day_a AND a.h = b.h),
       |kept AS (SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY day_a ORDER BY h) AS r
       |    FROM m WHERE day_a IS NOT NULL) WHERE r <= 64),
       |est AS (SELECT day_a, CAST(COUNT(*) AS BIGINT) AS k_used,
       |          MAX(h) AS theta,
       |          CAST(SUM(CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL
       |            THEN 1 ELSE 0 END) AS BIGINT) AS common
       |        FROM kept GROUP BY 1),
       |daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_users
       |          FROM dh GROUP BY 1),
       |ix AS (SELECT a.day AS day_a, CAST(COUNT(*) AS BIGINT) AS exact_inter
       |       FROM dh a JOIN dh b ON b.day = a.day + 1 AND b.h = a.h
       |       GROUP BY 1)
       |SELECT est.day_a, est.day_a + 1 AS day_b,
       |  da.n_users AS exact_a, db.n_users AS exact_b,
       |  COALESCE(ix.exact_inter, 0) AS exact_inter,
       |  da.n_users + db.n_users - COALESCE(ix.exact_inter, 0) AS exact_union,
       |  est.k_used, est.theta, est.common,
       |  (est.k_used - 1) * 4503599627370496 // est.theta AS union_est,
       |  est.common * ((est.k_used - 1) * 4503599627370496 // est.theta
       |    // est.k_used) AS inter_est
       |FROM est
       |JOIN daily da ON da.day = est.day_a
       |JOIN daily db ON db.day = est.day_a + 1
       |LEFT JOIN ix ON ix.day_a = est.day_a""".stripMargin

  /** 7-day trailing rolling MEDIAN of daily event counts per type — the
    * robust smoother ops dashboards lay under every rate chart (a mean
    * smoother drags on one spiky day; the median shrugs it off). New
    * relational shape for the board: an ORDER STATISTIC over a sliding
    * RANGE window. The lower median (element ceil(n/2) of the sorted
    * window) keeps everything in exact BIGINTs — no interpolation, no
    * floats — and the range frame (not rows) stays honest across missing
    * days. The collect/sort runs over ≤7-element arrays on the DAILY
    * aggregate — bounded by the calendar (the incident-runs precedent),
    * never by event volume; the daily agg is the only data-sized
    * exchange, the window rides a second tiny one. */
  def eventsRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day_id")
      .rangeBetween(-6, 0)
    daily
      .withColumn("win", collect_list("c").over(w))
      .select(col("event_type"), col("day_id"), col("c"),
        size(col("win")).cast("long").as("n_days_window"),
        expr("element_at(sort_array(win), cast((size(win) + 1) div 2 as int))")
          .as("med7"))
  }

  private val ROLLMED_SQL =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, day_id, c,
       |    list(c) OVER (PARTITION BY event_type ORDER BY day_id
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
       |  FROM daily)
       |SELECT event_type, day_id, c,
       |  CAST(len(win) AS BIGINT) AS n_days_window,
       |  CAST(list_sort(win)[CAST((len(win) + 1) // 2 AS BIGINT)] AS BIGINT)
       |    AS med7
       |FROM w""".stripMargin

  /** STL-lite weekly seasonal decomposition — the classic
    * trend/seasonal split done entirely on the integer lattice: trend is
    * the CENTERED 7-day moving sum div 7 (milli), taken only where the
    * full window exists (the STL interior convention — a gap day
    * truncates the window and is dropped, not fudged); the seasonal
    * component is the per-weekday mean of the detrended residual.
    * Residuals go negative, so the mean divides SIGN-SAFELY
    * (truncation toward zero spelled out as a CASE on both engines —
    * the floor-vs-trunc divergence never arises). Weekday = day_id % 7,
    * pure integers, no calendar functions to diverge on. Plan: one
    * data-sized daily exchange; trend window and weekday agg ride
    * calendar-bounded relations. */
  def eventsSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day_id")
      .rangeBetween(-3, 3)
    daily
      .withColumn("s7", sum("c").over(w))
      .withColumn("n7", count(lit(1)).over(w))
      .filter(col("n7") === 7)
      .select(col("event_type"), (col("day_id") % 7).as("wd"),
        (col("c") * 1000 - expr("s7 * 1000 div 7")).as("detr_milli"))
      .groupBy("event_type", "wd")
      .agg(count(lit(1)).as("n_days"), sum("detr_milli").as("detr_sum_milli"))
      .withColumn("seasonal_milli",
        expr("case when detr_sum_milli >= 0 then detr_sum_milli div n_days " +
          "else -((-detr_sum_milli) div n_days) end"))
  }

  private val SEASONAL_DECOMP_SQL =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |tr AS (
       |  SELECT event_type, day_id, c,
       |    SUM(c) OVER (PARTITION BY event_type ORDER BY day_id
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
       |    COUNT(*) OVER (PARTITION BY event_type ORDER BY day_id
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7
       |  FROM daily),
       |d AS (
       |  SELECT event_type, day_id % 7 AS wd,
       |    CAST(c * 1000 - s7 * 1000 // 7 AS BIGINT) AS detr_milli
       |  FROM tr WHERE n7 = 7)
       |SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(SUM(detr_milli) AS BIGINT) AS detr_sum_milli,
       |  CAST(CASE WHEN SUM(detr_milli) >= 0
       |    THEN SUM(detr_milli) // COUNT(*)
       |    ELSE -((-SUM(detr_milli)) // COUNT(*)) END AS BIGINT)
       |    AS seasonal_milli
       |FROM d GROUP BY 1, 2""".stripMargin

  /** Kaplan–Meier survival curve over user lifetimes — THE censoring-
    * aware retention estimator (events_hazard_rate's per-step cousin,
    * but multiplicative and censor-correct): lifetime = days between a
    * user's first and last event; users still active in the final 3
    * days of the window are CENSORED, not dead. S(t) folds
    * S_k = S_{k-1}·(n_k − d_k) div n_k in exact micro units
    * (floor at every step — the deterministic fixed-point product both
    * engines replay identically; DuckDB via list_reduce over an
    * encoded (survivors, at-risk) pair). The at-risk suffix sum and the
    * fold run over ≤|window-days| distinct lifetimes — calendar-bounded
    * (the incident-runs precedent) — while the per-user span agg is the
    * one data-sized exchange. The censoring cutoff is a single-row
    * broadcast watermark frame (whitelisted crossJoin). */
  def eventsSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    val ev = DomainQueries.events(s, dir)
    val spans = ev.groupBy("user_id")
      .agg(min("ts_ns").as("first_ns"), max("ts_ns").as("last_ns"))
    val cut = ev.agg(max("ts_ns").as("max_ns"))
    val byT = spans.crossJoin(broadcast(cut))
      .select(expr(s"(last_ns - first_ns) div $DAY_NS").as("t_day"),
        when(col("last_ns") > col("max_ns") - lit(3L * DAY_NS), 1L)
          .otherwise(0L).as("censored"))
      .groupBy("t_day")
      .agg(sum(expr("1 - censored")).as("n_deaths"),
        sum("censored").as("n_censored"))
    val wRisk = Window.orderBy("t_day")
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    byT
      .withColumn("n_at_risk",
        sum(col("n_deaths") + col("n_censored")).over(wRisk))
      .agg(sort_array(collect_list(struct(col("t_day"), col("n_deaths"),
        col("n_censored"), col("n_at_risk")))).as("ts"))
      .select(col("ts"), posexplode(col("ts")))
      .select(col("col.t_day").as("t_day"),
        col("col.n_deaths").as("n_deaths"),
        col("col.n_censored").as("n_censored"),
        col("col.n_at_risk").as("n_at_risk"),
        expr("aggregate(slice(ts, 1, pos + 1), 1000000L, (acc, x) -> " +
          "acc * (x.n_at_risk - x.n_deaths) div x.n_at_risk)")
          .as("surv_micro"))
  }

  /** Odds ratio between the A/B arms on user conversion (≥1 purchase)
    * with the Woolf confidence interval — the epidemiology-style effect
    * read next to welch_t's mean difference and wilson's single-arm CI:
    * OR = ad/bc in exact milli, and the LOG-SPACE CI entirely on
    * integer lattices — log₂OR·1024 via Log2Fp(ad, bc) (sign from the
    * ad ≷ bc comparison, never a negative-operand division), Woolf
    * se_ln·1000 via the isqrt correction lattice over
    * s² = Σ 10⁶ div cell, and the half-width converted ln→log₂ with
    * the 1477 = ⌊1024·log₂e⌋ literal: hw·1024 = 1960·se·1477 div 10⁶.
    * CI excludes 0 ⟺ |log₂OR| > hw. A/A corpus: OR ≈ 1, not
    * significant. Plan: one per-user agg, one 4-cell fold, single-row
    * output. */
  def eventsOddsRatio(s: SparkSession, dir: String): DataFrame = {
    DomainQueries.events(s, dir)
      .select(col("user_id"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
      .groupBy("arm", "user_id")
      .agg(max("pur").as("conv"))
      .agg(
        sum(when(col("arm") === 1 && col("conv") === 1, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("arm") === 1 && col("conv") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === 0 && col("conv") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("arm") === 0 && col("conv") === 0, 1L).otherwise(0L))
          .as("d"))
      // Haldane–Anscombe: +1 every cell iff ANY cell is zero (keeps the
      // ratio and the Woolf terms finite, deterministic both engines).
      // least(), not a*b*c*d=0: the 4-cell product wraps signed 64-bit
      // at ~55k users/cell even though no single cell is near overflow.
      .select((col("a") + when(expr("least(a, b, c, d) = 0"), 1L).otherwise(0L)).as("a"),
        (col("b") + when(expr("least(a, b, c, d) = 0"), 1L).otherwise(0L)).as("b"),
        (col("c") + when(expr("least(a, b, c, d) = 0"), 1L).otherwise(0L)).as("c"),
        (col("d") + when(expr("least(a, b, c, d) = 0"), 1L).otherwise(0L)).as("d"))
      .withColumn("or_milli", expr("a * d * 1000 div (b * c)"))
      .withColumn("lor_1024", when(expr("a * d >= b * c"),
          graft.functions.Log2Fp(expr("a * d"), expr("b * c")))
        .otherwise(-graft.functions.Log2Fp(expr("b * c"), expr("a * d"))))
      .withColumn("s2_micro", expr(
        "1000000L div a + 1000000L div b + 1000000L div c + 1000000L div d"))
      .withColumn("s0", expr("cast(floor(sqrt(cast(s2_micro as double))) as bigint)"))
      .withColumn("se_milli", expr(
        "case when (s0 + 1) * (s0 + 1) <= s2_micro then s0 + 1 " +
        "when s0 * s0 > s2_micro then s0 - 1 else s0 end"))
      .withColumn("hw_1024", expr("1960 * se_milli * 1477 div 1000000L"))
      .select(col("a"), col("b"), col("c"), col("d"), col("or_milli"),
        col("lor_1024"), col("hw_1024"),
        expr("case when abs(lor_1024) > hw_1024 then 1L else 0L end")
          .as("significant_flag"))
  }

  private val ODDS_SQL =
    """WITH e AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 2 AS arm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
      |  FROM events),
      |u AS (SELECT arm, user_id, CAST(MAX(pur) AS BIGINT) AS conv
      |      FROM e GROUP BY 1, 2),
      |cells0 AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM u),
      |cells AS (
      |  SELECT a + CASE WHEN LEAST(a, b, c, d) = 0 THEN 1 ELSE 0 END AS a,
      |    b + CASE WHEN LEAST(a, b, c, d) = 0 THEN 1 ELSE 0 END AS b,
      |    c + CASE WHEN LEAST(a, b, c, d) = 0 THEN 1 ELSE 0 END AS c,
      |    d + CASE WHEN LEAST(a, b, c, d) = 0 THEN 1 ELSE 0 END AS d
      |  FROM cells0),
      |lg AS (
      |  SELECT *,
      |    CASE WHEN a * d >= b * c THEN a * d ELSE b * c END AS lt,
      |    CASE WHEN a * d >= b * c THEN b * c ELSE a * d END AS lc,
      |    CASE WHEN a * d >= b * c THEN 1 ELSE -1 END AS lsgn,
      |    1000000 // a + 1000000 // b + 1000000 // c + 1000000 // d
      |      AS s2_micro
      |  FROM cells),
      |lf AS (
      |  SELECT *,
      |    lsgn * ((length(bin(lt // lc)) - 1) * 1024
      |      + list_reduce(list_prepend(
      |        [(lt // (lc * (CAST(1 AS BIGINT)
      |             << (length(bin(lt // lc)) - 1)))) * 1073741824
      |         + ((lt % (lc * (CAST(1 AS BIGINT)
      |             << (length(bin(lt // lc)) - 1)))) * 1073741824)
      |           // (lc * (CAST(1 AS BIGINT)
      |             << (length(bin(lt // lc)) - 1))),
      |         CAST(0 AS BIGINT)],
      |        list_transform(range(1, 11),
      |          i -> [CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
      |        (acc, x) ->
      |          CASE WHEN (acc[1] * acc[1]) // 1073741824 >= 2147483648
      |          THEN [((acc[1] * acc[1]) // 1073741824) // 2,
      |                acc[2] * 2 + 1]
      |          ELSE [(acc[1] * acc[1]) // 1073741824, acc[2] * 2]
      |          END)[2]) AS lor_1024,
      |    CAST(FLOOR(SQRT(CAST(s2_micro AS DOUBLE))) AS BIGINT) AS s0
      |  FROM lg),
      |fin AS (
      |  SELECT *,
      |    CASE WHEN (s0 + 1) * (s0 + 1) <= s2_micro THEN s0 + 1
      |         WHEN s0 * s0 > s2_micro THEN s0 - 1 ELSE s0 END AS se_milli
      |  FROM lf)
      |SELECT a, b, c, d, a * d * 1000 // (b * c) AS or_milli, lor_1024,
      |  1960 * se_milli * 1477 // 1000000 AS hw_1024,
      |  CAST(CASE WHEN abs(lor_1024) > 1960 * se_milli * 1477 // 1000000
      |    THEN 1 ELSE 0 END AS BIGINT) AS significant_flag
      |FROM fin""".stripMargin

  /** Log-rank test between the A/B arms on TIME TO FIRST PURCHASE —
    * the SURVIVAL × EXPERIMENT cross member ([[eventsSurvivalKm]] draws
    * one curve; this asks whether the arms' conversion-time curves
    * DIFFER, the standard time-to-convert experiment readout). The KM
    * operator's lifetime grain is degenerate here — every synthetic
    * user stays active to the corpus end (probed: 0 churns at any
    * administrative cutoff) — so the event is CONVERSION: death =
    * first purchase at t = (first_purchase − first_event) days,
    * censored = never purchased (t = last − first). Same 'ab:'
    * assignment as ab_lift. Per distinct conversion day: O₁ += d₁,
    * E₁(milli) += d·n₁·1000 div n, and the
    * hypergeometric variance on a DEFINED three-step division lattice
    * v = ((d·n₁·(n−n₁)·1000) div n · (n−d)) div n div (n−1) — each
    * step ≤ 10¹⁶ where the single-product form wraps 64 bits at ~10⁴
    * users; floors identical on both engines, nonnegative throughout.
    * z²(milli) = (O₁·1000 − E₁)² div V, flagged at 1.96² = 3841.
    * At-risk counts ride ONE ascending-day window (suffix sums);
    * per-day rows are calendar-bounded. No streaming twin: per-user
    * lifetime state is population-sized (the survival_km class). */
  def eventsLogrank(s: SparkSession, dir: String): DataFrame = {
    val ev = DomainQueries.events(s, dir)
    val marks = ev.groupBy("user_id")
      .agg(min("ts_ns").as("first_ns"), max("ts_ns").as("last_ns"),
        min(when(col("event_type") === "purchase", col("ts_ns")))
          .as("fp_ns"))
      .select(
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        expr(s"(coalesce(fp_ns, last_ns) - first_ns) div $DAY_NS")
          .as("t_day"),
        when(col("fp_ns").isNull, 1L).otherwise(0L).as("censored"))
      .transform(graft.Ckpt.capped) // arm totals + the day table both read it
    val byT = marks.groupBy("t_day").agg(
      sum(when(col("arm") === 1 && col("censored") === 0, 1L).otherwise(0L))
        .as("d1"),
      sum(when(col("censored") === 0, 1L).otherwise(0L)).as("d"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("m1"),
      count(lit(1)).as("m"))
    val wRisk = Window.orderBy("t_day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val terms = byT
      .withColumn("n1", sum("m1").over(wRisk))
      .withColumn("n", sum("m").over(wRisk))
      .filter(col("d") > 0 && col("n") >= 2)
      .select(col("d1"),
        expr("d * n1 * 1000 div n").as("e1t"),
        expr("(d * n1 * (n - n1) * 1000) div n * (n - d) div n " +
          "div greatest(n - 1, 1L)").as("vt"))
      .agg(sum("d1").as("o1"), sum("e1t").as("e1_milli"),
        sum("vt").as("v_milli"))
    val arms = marks.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1 && col("censored") === 0, 1L).otherwise(0L))
        .as("deaths_b"),
      sum(when(col("arm") === 0 && col("censored") === 0, 1L).otherwise(0L))
        .as("deaths_a"))
    arms.crossJoin(terms)
      .withColumn("diff_milli", expr("o1 * 1000 - e1_milli"))
      .select(col("n_a"), col("n_b"), col("deaths_a"), col("deaths_b"),
        col("o1"), col("e1_milli"), col("v_milli"),
        expr("cast(sign(diff_milli) as bigint)").as("direction"),
        expr("diff_milli * diff_milli div greatest(v_milli, 1L)")
          .as("zsq_milli"),
        expr("case when diff_milli * diff_milli " +
          "div greatest(v_milli, 1L) >= 3841 then 1L else 0L end")
          .as("significant_flag"))
  }

  private val LOGRANK_SQL =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_ns(ts) // 1000 * 1000 AS ts_ns
       |  FROM events),
       |marks AS (
       |  SELECT
       |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
       |      ::BIGINT % 2 AS arm,
       |    (COALESCE(MIN(CASE WHEN event_type = 'purchase' THEN ts_ns END),
       |       MAX(ts_ns)) - MIN(ts_ns)) // $DAY_NS AS t_day,
       |    CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts_ns END)
       |      IS NULL THEN 1 ELSE 0 END AS censored
       |  FROM e GROUP BY user_id),
       |byt AS (
       |  SELECT t_day,
       |    CAST(SUM(CASE WHEN arm = 1 AND censored = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d1,
       |    CAST(SUM(CASE WHEN censored = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
       |    CAST(COUNT(*) AS BIGINT) AS m
       |  FROM marks GROUP BY 1),
       |risk AS (
       |  SELECT *,
       |    CAST(SUM(m1) OVER (ORDER BY t_day ROWS BETWEEN CURRENT ROW
       |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
       |    CAST(SUM(m) OVER (ORDER BY t_day ROWS BETWEEN CURRENT ROW
       |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
       |  FROM byt),
       |terms AS (
       |  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
       |    CAST(SUM(d * n1 * 1000 // n) AS BIGINT) AS e1_milli,
       |    CAST(SUM((d * n1 * (n - n1) * 1000) // n * (n - d) // n
       |      // GREATEST(n - 1, 1)) AS BIGINT) AS v_milli
       |  FROM risk WHERE d > 0 AND n >= 2),
       |arms AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 0 AND censored = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS deaths_a,
       |    CAST(SUM(CASE WHEN arm = 1 AND censored = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS deaths_b
       |  FROM marks)
       |SELECT n_a, n_b, deaths_a, deaths_b, o1, e1_milli, v_milli,
       |  CAST(CASE WHEN o1 * 1000 - e1_milli > 0 THEN 1
       |       WHEN o1 * 1000 - e1_milli < 0 THEN -1 ELSE 0 END AS BIGINT)
       |    AS direction,
       |  (o1 * 1000 - e1_milli) * (o1 * 1000 - e1_milli)
       |    // GREATEST(v_milli, 1) AS zsq_milli,
       |  CAST(CASE WHEN (o1 * 1000 - e1_milli) * (o1 * 1000 - e1_milli)
       |    // GREATEST(v_milli, 1) >= 3841 THEN 1 ELSE 0 END AS BIGINT)
       |    AS significant_flag
       |FROM arms, terms""".stripMargin

  private val SURVIVAL_SQL =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // 1000 * 1000 AS ts_ns FROM events),
       |cut AS (SELECT MAX(ts_ns) AS max_ns FROM e),
       |spans AS (
       |  SELECT user_id, MIN(ts_ns) AS first_ns, MAX(ts_ns) AS last_ns
       |  FROM e GROUP BY 1),
       |marks AS (
       |  SELECT (last_ns - first_ns) // $DAY_NS AS t_day,
       |    CASE WHEN last_ns > max_ns - ${3L * DAY_NS} THEN 1 ELSE 0 END
       |      AS censored
       |  FROM spans, cut),
       |byt AS (
       |  SELECT t_day, CAST(SUM(1 - censored) AS BIGINT) AS n_deaths,
       |    CAST(SUM(censored) AS BIGINT) AS n_censored
       |  FROM marks GROUP BY 1),
       |risk AS (
       |  SELECT t_day, n_deaths, n_censored,
       |    CAST(SUM(n_deaths + n_censored) OVER (ORDER BY t_day
       |      RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_at_risk
       |  FROM byt),
       |lst AS (
       |  SELECT list(struct_pack(t_day := t_day, n_deaths := n_deaths,
       |    n_censored := n_censored, n_at_risk := n_at_risk)
       |    ORDER BY t_day) AS ts
       |  FROM risk),
       |idx AS (
       |  SELECT ts, UNNEST(generate_series(1, len(ts))) AS i FROM lst)
       |SELECT ts[i].t_day AS t_day,
       |  CAST(ts[i].n_deaths AS BIGINT) AS n_deaths,
       |  CAST(ts[i].n_censored AS BIGINT) AS n_censored,
       |  CAST(ts[i].n_at_risk AS BIGINT) AS n_at_risk,
       |  CAST(list_reduce(
       |    list_prepend(CAST(1000000 AS HUGEINT),
       |      [CAST(x.n_at_risk - x.n_deaths AS HUGEINT) * 4294967296
       |         + x.n_at_risk FOR x IN ts[1:i]]),
       |    (acc, e) -> acc * (e // 4294967296) // (e % 4294967296))
       |    AS BIGINT) AS surv_micro
       |FROM idx""".stripMargin

  /** Poisson-bootstrap confidence interval for mean events/user — THE
    * distributed resampling-inference pattern (the driver never holds
    * the data, so classical resampling is out; Poisson bootstrap
    * approximates the multinomial with an INDEPENDENT per-(row, replica)
    * weight, here 16 Bernoulli(1/16) trials ≈ Poisson(1), hash-derived
    * under this operator's own 'bs:' salt — the shared-salt correlation
    * landmine). 32 replicas explode at USER grain (never event grain),
    * each replica's weighted mean folds in exact milli, and the CI is
    * pure order statistics over the 32-element sorted list (no float
    * quantiles — the p5/p50/p95 are elements 2/16/31). The point
    * estimate rides the same pipeline as replica b = −1 with weight 1 —
    * no extra scan, no single-row crossJoin. */
  def eventsBootstrapCi(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"),
        explode(sequence(lit(-1), lit(31))).as("b"))
      .withColumn("w", expr(
        "case when b = -1 then 1L else 16L - length(replace(" +
          "substring(md5(cast(concat('bs:', user_id, ':', b) as binary))," +
          " 1, 16), '0', '')) end"))
      .groupBy("b").agg(sum(expr("w * n")).as("wn"), sum("w").as("sw"))
      .filter(col("sw") > 0)
      .select(col("b"), expr("wn * 1000 div sw").as("m"))
      .agg(max(when(col("b") === -1, col("m"))).as("point_milli"),
        sort_array(collect_list(when(col("b") >= 0, col("m")))).as("a"))
      .select(expr("cast(size(a) as bigint)").as("n_resamples"),
        col("point_milli"),
        expr("try_element_at(a, 2)").as("lo_milli"),
        expr("try_element_at(a, 16)").as("med_milli"),
        expr("try_element_at(a, 31)").as("hi_milli"))

  private val BOOTSTRAP_SQL =
    """WITH n AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |rep AS (
      |  SELECT user_id, n, UNNEST(generate_series(-1, 31)) AS b FROM n),
      |wts AS (
      |  SELECT b, n,
      |    CASE WHEN b = -1 THEN 1
      |      ELSE 16 - length(replace(substring(
      |        md5('bs:' || CAST(user_id AS VARCHAR) || ':'
      |          || CAST(b AS VARCHAR)), 1, 16), '0', ''))
      |    END AS w
      |  FROM rep),
      |means AS (
      |  SELECT b, CAST(SUM(w * n) * 1000 // SUM(w) AS BIGINT) AS m
      |  FROM wts GROUP BY b HAVING SUM(w) > 0)
      |SELECT CAST(len(a) AS BIGINT) AS n_resamples, p AS point_milli,
      |  a[2] AS lo_milli, a[16] AS med_milli, a[31] AS hi_milli
      |FROM (SELECT list(m ORDER BY m) FILTER (WHERE b >= 0) AS a,
      |        MAX(m) FILTER (WHERE b = -1) AS p
      |      FROM means)""".stripMargin

  /** SAX-style motif mining over the daily rate series — the symbolic
    * time-series shape (discretize, then count recurring patterns):
    * each type's daily counts become tercile symbols 0/1/2 by RANK
    * (rank-based breakpoints, not z-scores — exact integers, no
    * mean/σ floats to diverge on; ties break by day so both engines
    * rank identically), and every run of three CONSECUTIVE calendar
    * days contributes one 3-symbol motif ("201" = high, low, mid).
    * Recurring motifs = routine; a motif that appears once = an event.
    * Plan: daily agg (the data-sized exchange), then rank/lag windows
    * and the motif count all ride calendar-bounded relations. */
  def eventsSaxMotifs(s: SparkSession, dir: String): DataFrame = {
    val wRank = Window.partitionBy("event_type").orderBy("c", "day_id")
    val wDay = Window.partitionBy("event_type").orderBy("day_id")
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day_id"))
      .groupBy("event_type", "day_id").agg(count(lit(1)).as("c"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("sym",
        expr("(row_number() over (partition by event_type " +
          "order by c, day_id) - 1) * 3 div n"))
      .withColumn("s1", lag("sym", 1).over(wDay))
      .withColumn("s2", lag("sym", 2).over(wDay))
      .withColumn("d1", lag("day_id", 1).over(wDay))
      .withColumn("d2", lag("day_id", 2).over(wDay))
      .filter(col("d1") === col("day_id") - 1 && col("d2") === col("day_id") - 2)
      .select(col("event_type"),
        expr("concat(s2, s1, sym)").as("motif"))
      .groupBy("event_type", "motif")
      .agg(count(lit(1)).as("n_windows"))
  }

  private val SAX_SQL =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day_id,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |sym AS (
       |  SELECT event_type, day_id,
       |    (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day_id)
       |      - 1) * 3 // (COUNT(*) OVER (PARTITION BY event_type)) AS sym
       |  FROM daily),
       |lagged AS (
       |  SELECT event_type, day_id, sym,
       |    LAG(sym, 1) OVER w AS s1, LAG(sym, 2) OVER w AS s2,
       |    LAG(day_id, 1) OVER w AS d1, LAG(day_id, 2) OVER w AS d2
       |  FROM sym
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day_id))
       |SELECT event_type,
       |  CAST(s2 AS VARCHAR) || CAST(s1 AS VARCHAR) || CAST(sym AS VARCHAR)
       |    AS motif,
       |  CAST(COUNT(*) AS BIGINT) AS n_windows
       |FROM lagged
       |WHERE d1 = day_id - 1 AND d2 = day_id - 2
       |GROUP BY 1, 2""".stripMargin

  /** 5%-trimmed mean of event value per type — the robust location
    * estimator (one fat-fingered 490.02 drags a mean; the trimmed mean
    * ignores the tails entirely): ranks are a per-type window with the
    * (value, event_id) deterministic tiebreak, the trim drops the
    * bottom and top n div 20 ranks, and every sum runs on the exact
    * floor(value·1000) milli lattice (the established value-column
    * fixed point — a dec2 round here would diverge on half-way
    * doubles). Both the rank and the per-type count ride ONE
    * event_type exchange; the untrimmed mean comes from the same
    * window pass, no second scan. */
  def eventsTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val w = byType.orderBy("value", "event_id")
    DomainQueries.events(s, dir)
      .select(col("event_type"), col("value"), col("event_id"),
        expr("cast(floor(value * 1000) as bigint)").as("vm"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("all_vm", sum("vm").over(byType))
      .filter(col("rk") > expr("n div 20") &&
        col("rk") <= col("n") - expr("n div 20"))
      .groupBy("event_type")
      .agg(max("n").as("n_total"), count(lit(1)).as("n_kept"),
        max("all_vm").as("all_vm"), sum("vm").as("kept_vm"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        expr("all_vm div n_total").as("mean_milli"),
        expr("kept_vm div n_kept").as("trimmed_mean_milli"))
  }

  private val TRIMMED_SQL =
    """WITH e AS (
      |  SELECT event_type, value, event_id,
      |    CAST(FLOOR(value * 1000) AS BIGINT) AS vm
      |  FROM events),
      |r AS (
      |  SELECT event_type, vm,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    CAST(SUM(vm) OVER (PARTITION BY event_type) AS BIGINT)
      |      AS all_vm
      |  FROM e)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_total,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(MAX(all_vm) // MAX(n) AS BIGINT) AS mean_milli,
      |  CAST(SUM(vm) // COUNT(*) AS BIGINT) AS trimmed_mean_milli
      |FROM r
      |WHERE rk > n // 20 AND rk <= n - n // 20
      |GROUP BY 1""".stripMargin

  /** Single-server queue wait per type — the Lindley recursion
    * W_i = max(0, W_{i−1} + S − gap_i) for a fixed 30 s service time,
    * answering "if one worker drained this stream, how long would jobs
    * queue". The naive fold is sequential; the operator uses the
    * classical REDUCTION to a running minimum — with x_i = S·i − A_i,
    * W_i = x_i − min_{k≤i} x_k (k = i gives the max(0,·) for free) —
    * so the whole recursion is one row_number + one running-min window
    * riding a single event_type exchange: O(1) per row, fully
    * distributed, no list fold anywhere. Waits quantize to exact ms
    * BEFORE aggregation (a ns sum would overflow BIGINT near 10^10
    * rows; the ms lattice never does). */
  def eventsQueueWait(s: SparkSession, dir: String): DataFrame = {
    val svcNs = 30000000000L // 30 s per job
    val w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    val wMin = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    DomainQueries.events(s, dir)
      .select(col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("x",
        row_number().over(w).cast("long") * svcNs - col("ts_ns"))
      .withColumn("rmin", min("x").over(wMin))
      .select(col("event_type"), expr("(x - rmin) div 1000000").as("wms"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_arrivals"),
        sum((col("wms") > 0).cast("long")).as("n_waited"),
        max("wms").as("max_wait_ms"),
        expr("sum(wms) div count(1)").as("mean_wait_ms"))
  }

  private val QUEUE_SQL =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 1000 * 1000 AS ts_ns, event_id
      |  FROM events),
      |x AS (
      |  SELECT event_type, ts_ns, event_id,
      |    ROW_NUMBER() OVER w * 30000000000 - ts_ns AS x
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_ns, event_id)),
      |wt AS (
      |  SELECT event_type,
      |    (x - MIN(x) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // 1000000
      |      AS wms
      |  FROM x)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      |  CAST(SUM(CASE WHEN wms > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_waited,
      |  CAST(MAX(wms) AS BIGINT) AS max_wait_ms,
      |  CAST(SUM(wms) // COUNT(*) AS BIGINT) AS mean_wait_ms
      |FROM wt GROUP BY 1""".stripMargin

  /** Max drawdown of the daily-load series per event type — the
    * "worst decline from peak" read the record-days operator
    * ([[eventsRecordDays]]) is the mirror of: with c the daily count
    * and run_max its running maximum, drawdown = run_max − c, and the
    * relative form (run_max − c)·1000 div run_max is an exact
    * nonnegative lattice (run_max ≥ c ≥ 1, so Spark div and DuckDB //
    * agree and there is no division by zero). Reports the absolute and
    * relative maxima plus the count of days ≥10% below peak — the SLO
    * dashboards' "time under water". Plan: one (type, day) partial
    * aggregate, then the running-max window and the per-type rollup
    * both ride the SAME event_type exchange. */
  def eventsMaxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("run_max", max("c").over(w))
      .withColumn("ddm", expr("(run_max - c) * 1000 div run_max"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        max("c").as("peak_daily"),
        max(expr("run_max - c")).as("max_drawdown"),
        max("ddm").as("max_dd_milli"),
        sum(when(col("ddm") >= 100, 1L).otherwise(0L))
          .as("n_days_below_peak10"))
  }

  private val DRAWDOWN_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, c,
       |    MAX(c) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
       |  FROM d)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(MAX(c) AS BIGINT) AS peak_daily,
       |  CAST(MAX(run_max - c) AS BIGINT) AS max_drawdown,
       |  CAST(MAX((run_max - c) * 1000 // run_max) AS BIGINT)
       |    AS max_dd_milli,
       |  CAST(SUM(CASE WHEN (run_max - c) * 1000 // run_max >= 100
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_days_below_peak10
       |FROM g GROUP BY event_type""".stripMargin

  /** Page–Hinkley drift alarm per event type — the sequential-detection
    * sibling of [[eventsCusum]]: calibrate on the FIRST HALF of the
    * observed days (n0 = n div 2 days, s0 = their count mass), then
    * over the test half accumulate the ×n0-scaled deviation
    * dev = c·n0 − s0 (zero exactly at the calibration mean — no
    * division, no floats) and track ph = g − min(0, running-min g),
    * the classic PH statistic. Alarm when ph exceeds 5·s0 — five full
    * calibration-mean days of cumulative excess. Everything is a
    * BIGINT lattice (dev products stay < 2^63 to ~1e14 daily count ×
    * calendar). Plan: the rank window, both conditional-sum windows,
    * the running-sum/min windows and the final per-type rollup ALL
    * ride one event_type exchange after the (type, day) partial agg. */
  def eventsPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val wo = wp.orderBy("day")
    val wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("rn", row_number().over(wo))
      .withColumn("n0", expr("n div 2"))
      .withColumn("s0",
        sum(when(col("rn") <= col("n0"), col("c")).otherwise(0L)).over(wp))
      .withColumn("dev",
        when(col("rn") > col("n0"), expr("c * n0 - s0")).otherwise(0L))
      .withColumn("g", sum("dev").over(wrun))
      .withColumn("ph", expr("g - least(0L, min(g) over " +
        "(partition by event_type order by day rows between " +
        "unbounded preceding and current row))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        max("n0").as("n_calib"),
        max("ph").as("max_ph"),
        sum(when(col("ph") > col("s0") * 5 && col("rn") > col("n0"), 1L)
          .otherwise(0L)).as("n_alarm_days"),
        min(when(col("ph") > col("s0") * 5 && col("rn") > col("n0"),
          col("day"))).as("first_alarm_day"))
  }

  private val PAGE_HINKLEY_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT event_type, day, c,
       |    CAST(COUNT(*) OVER w AS BIGINT) // 2 AS n0,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS rn
       |  FROM d WINDOW w AS (PARTITION BY event_type)),
       |cal AS (
       |  SELECT event_type, day, c, n0, rn,
       |    CAST(SUM(CASE WHEN rn <= n0 THEN c ELSE 0 END)
       |      OVER (PARTITION BY event_type) AS BIGINT) AS s0
       |  FROM r),
       |gg AS (
       |  SELECT event_type, day, rn, n0, s0,
       |    CAST(SUM(CASE WHEN rn > n0 THEN c * n0 - s0 ELSE 0 END)
       |      OVER w AS BIGINT) AS g
       |  FROM cal WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ph AS (
       |  SELECT event_type, day, rn, n0, s0,
       |    g - LEAST(0, MIN(g) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ph
       |  FROM gg)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  CAST(MAX(n0) AS BIGINT) AS n_calib,
       |  CAST(MAX(ph) AS BIGINT) AS max_ph,
       |  CAST(SUM(CASE WHEN ph > s0 * 5 AND rn > n0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_alarm_days,
       |  MIN(CASE WHEN ph > s0 * 5 AND rn > n0 THEN day END)
       |    AS first_alarm_day
       |FROM ph GROUP BY event_type""".stripMargin

  /** Wilson 95% score interval for the per-type high-value rate
    * (value ≥ 50, the corpus median split) — the closed-form CI the
    * bootstrap operator ([[eventsBootstrapCi]]) approximates by
    * resampling. New exact-lattice trick: the square root is taken as
    * an EXACT integer sqrt — floor(sqrt(double)) then a ±1 correction
    * against the integer squares — so both engines land on the same
    * BIGINT for any radicand below 2^53 (envelope ≈ 3.6e8 events/type
    * at the ×1e8 scaling; re-scale to 1e6 beyond). With z = 1.96 as
    * the fixed-point literals z²·1e4 = 38416, z²/2·1e6 = 19208e3:
    * bounds·1e6 = (k·1e10 + 19208·1e6 ± 1960000·r) div (n·1e4 + 38416)
    * where r = isqrt(k(n−k)·1e8 div n + 96040000). The lower bound is
    * 0 exactly at k = 0 — no negative operand ever meets a division.
    * The radicand uses the round-10 TWO-STEP LONG DIVISION (q·c +
    * (r·c) div n with A = k(n−k), q = A div n, r = A mod n — exact,
    * never forms the corpus-sized A·1e8 product), so it is safe for
    * any n where k(n−k) fits 63 bits, n ≲ 6.07e9 events/type; the
    * binding envelope is then the k·1e10 bound numerator, k ≲ 9.2e8
    * successes/type. Plan: one per-type aggregate off the scan; every
    * later step is a projection. */
  def eventsWilsonBounds(s: SparkSession, dir: String): DataFrame = {
    DomainQueries.events(s, dir)
      .select(col("event_type"),
        when(expr("cast(floor(value * 1000) as bigint)") >= 50000L, 1L)
          .otherwise(0L).as("succ"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("succ").as("k"))
      .withColumn("phat_milli", expr("k * 1000 div n"))
      .withColumn("a", expr(
        "(k * (n - k)) div n * 100000000L " +
        "+ ((k * (n - k)) % n) * 100000000L div n + 96040000L"))
      .withColumn("s0", expr("cast(floor(sqrt(cast(a as double))) as bigint)"))
      .withColumn("r", expr(
        "case when (s0 + 1) * (s0 + 1) <= a then s0 + 1 " +
        "when s0 * s0 > a then s0 - 1 else s0 end"))
      .withColumn("den", expr("n * 10000L + 38416L"))
      .withColumn("wilson_lo_micro",
        expr("(k * 10000000000L + 19208000000L - 1960000L * r) div den"))
      .withColumn("wilson_hi_micro",
        expr("(k * 10000000000L + 19208000000L + 1960000L * r) div den"))
      .select("event_type", "n", "k", "phat_milli",
        "wilson_lo_micro", "wilson_hi_micro")
  }

  private val WILSON_SQL =
    """WITH a0 AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN CAST(FLOOR(value * 1000) AS BIGINT) >= 50000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |rad AS (
      |  SELECT event_type, n, k,
      |    (k * (n - k)) // n * 100000000
      |      + ((k * (n - k)) % n) * 100000000 // n + 96040000 AS a
      |  FROM a0),
      |rs AS (
      |  SELECT event_type, n, k, a,
      |    CAST(FLOOR(SQRT(CAST(a AS DOUBLE))) AS BIGINT) AS s0
      |  FROM rad),
      |rr AS (
      |  SELECT event_type, n, k,
      |    CASE WHEN (s0 + 1) * (s0 + 1) <= a THEN s0 + 1
      |         WHEN s0 * s0 > a THEN s0 - 1 ELSE s0 END AS r
      |  FROM rs)
      |SELECT event_type, n, k, k * 1000 // n AS phat_milli,
      |  CAST((k * 10000000000 + 19208000000 - 1960000 * r)
      |    // (n * 10000 + 38416) AS BIGINT) AS wilson_lo_micro,
      |  CAST((k * 10000000000 + 19208000000 + 1960000 * r)
      |    // (n * 10000 + 38416) AS BIGINT) AS wilson_hi_micro
      |FROM rr""".stripMargin

  /** Wald SPRT gate on the per-type high-value rate — the SEQUENTIAL
    * experiment stopper next to [[eventsWilsonBounds]]' fixed-n CI:
    * H0 p=0.3 vs H1 p=0.4 (success = value ≥ 50), α = β = 0.05. Each
    * event adds a fixed-point LLR literal (×2^20: success
    * ln(4/3) → 301656, failure ln(6/7) → −161639) to a running sum in
    * (ts, event_id) arrival order; the test DECIDES at the first
    * boundary crossing ±ln 19 → ±3087468. Reports the first-crossing
    * step and verdict (the SPRT contract: later excursions are audit
    * only) plus the final LLR. Increments are literals embedded in both
    * engines — no runtime log anywhere; the cumulative sum is
    * BIGINT-safe to ~3e13 events/type. Plan: the running window, the
    * rank and the min_by/max_by rollup all ride ONE event_type
    * exchange off the scan — no (type, day) pre-aggregate, SPRT is
    * event-grain by definition. */
  def eventsSprtGate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts_ns", "event_id")
    val wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    DomainQueries.events(s, dir)
      .select(col("event_type"), col("ts_ns"), col("event_id"),
        when(expr("cast(floor(value * 1000) as bigint)") >= 50000L,
          lit(301656L)).otherwise(lit(-161639L)).as("inc"))
      .withColumn("llr", sum("inc").over(wrun))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("verdict",
        when(col("llr") >= 3087468L, "accept_h1")
          .when(col("llr") <= -3087468L, "accept_h0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_obs"),
        expr("max_by(llr, rn)").as("final_llr_fp"),
        expr("coalesce(min_by(verdict, rn) " +
          "filter (where verdict is not null), 'continue')").as("decision"),
        expr("coalesce(min(rn) filter (where verdict is not null), -1L)")
          .as("decision_step"))
  }

  private val SPRT_SQL =
    """WITH e AS (
      |  SELECT event_type, epoch_ns(ts) // 1000 * 1000 AS ts_ns, event_id,
      |    CASE WHEN CAST(FLOOR(value * 1000) AS BIGINT) >= 50000
      |      THEN 301656 ELSE -161639 END AS inc
      |  FROM events),
      |r AS (
      |  SELECT event_type,
      |    CAST(SUM(inc) OVER (PARTITION BY event_type
      |      ORDER BY ts_ns, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS llr,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ts_ns, event_id) AS BIGINT) AS rn
      |  FROM e),
      |v AS (
      |  SELECT event_type, rn, llr,
      |    CASE WHEN llr >= 3087468 THEN 'accept_h1'
      |         WHEN llr <= -3087468 THEN 'accept_h0' END AS verdict
      |  FROM r)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
      |  arg_max(llr, rn) AS final_llr_fp,
      |  COALESCE(arg_min(verdict, rn) FILTER (WHERE verdict IS NOT NULL),
      |    'continue') AS decision,
      |  CAST(COALESCE(MIN(rn) FILTER (WHERE verdict IS NOT NULL), -1)
      |    AS BIGINT) AS decision_step
      |FROM v GROUP BY event_type""".stripMargin

  /** Ljung–Box portmanteau whiteness test per event type — the
    * JOINT-lag sibling of [[eventsRateAutocorr]]'s lag-1 slope: sample
    * autocorrelations of the daily counts at lags 1..4 on the ×n
    * demeaned lattice (dev = n·c − S; cov_k pairs only day-contiguous
    * rows, the rate_autocorr honesty rule), each reported as the signed
    * milli sign(cov)·(|cov|·1000 div var) — abs BEFORE the division,
    * the Mann–Kendall discipline — and folded into
    * Q = n(n+2)·Σ r²_k/(n−k), milli, against the χ²(4df) 95% literal
    * 9488. Q under 9488 ⇒ the series is white and every forecaster on
    * the board is modeling noise. Plan: (type, day) agg, then the stat
    * windows, all four lag windows and the rollup ride ONE event_type
    * exchange. */
  def eventsLjungBox(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val wo = wp.orderBy("day")
    var df = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("ss", sum("c").over(wp))
      .withColumn("dev", expr("n * c - ss"))
    for (k <- 1 to 4)
      df = df.withColumn(s"dev$k",
        when(lag("day", k).over(wo) === col("day") - k,
          lag("dev", k).over(wo)))
    val aggs = sum(expr("dev * dev")).as("varn") +: (1 to 4).map(k =>
      coalesce(sum(expr(s"dev * dev$k")), lit(0L)).as(s"cov$k"))
    var out = df.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), aggs: _*)
    for (k <- 1 to 4)
      out = out.withColumn(s"r${k}_milli",
        expr(s"cast(sign(cov$k) as bigint) * " +
          s"(abs(cov$k) * 1000 div greatest(varn, 1L))"))
    out
      .withColumn("q_milli", expr(
        "(n_days * (n_days + 2) * (" +
          "r1_milli * r1_milli div greatest(n_days - 1, 1L) + " +
          "r2_milli * r2_milli div greatest(n_days - 2, 1L) + " +
          "r3_milli * r3_milli div greatest(n_days - 3, 1L) + " +
          "r4_milli * r4_milli div greatest(n_days - 4, 1L))) div 1000"))
      .withColumn("white_flag",
        when(col("q_milli") < 9488L, 1L).otherwise(0L))
      .select("event_type", "n_days", "r1_milli", "r2_milli", "r3_milli",
        "r4_milli", "q_milli", "white_flag")
  }

  private val LJUNG_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day, c,
       |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
       |    CAST(SUM(c) OVER w AS BIGINT) AS ss
       |  FROM d WINDOW w AS (PARTITION BY event_type)),
       |dv AS (
       |  SELECT event_type, day, n, n * c - ss AS dev
       |  FROM g),
       |lg AS (
       |  SELECT event_type, n, dev,
       |    CASE WHEN LAG(day, 1) OVER w = day - 1
       |      THEN LAG(dev, 1) OVER w END AS dev1,
       |    CASE WHEN LAG(day, 2) OVER w = day - 2
       |      THEN LAG(dev, 2) OVER w END AS dev2,
       |    CASE WHEN LAG(day, 3) OVER w = day - 3
       |      THEN LAG(dev, 3) OVER w END AS dev3,
       |    CASE WHEN LAG(day, 4) OVER w = day - 4
       |      THEN LAG(dev, 4) OVER w END AS dev4
       |  FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |ag AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(dev * dev) AS BIGINT) AS varn,
       |    CAST(COALESCE(SUM(dev * dev1), 0) AS BIGINT) AS cov1,
       |    CAST(COALESCE(SUM(dev * dev2), 0) AS BIGINT) AS cov2,
       |    CAST(COALESCE(SUM(dev * dev3), 0) AS BIGINT) AS cov3,
       |    CAST(COALESCE(SUM(dev * dev4), 0) AS BIGINT) AS cov4
       |  FROM lg GROUP BY event_type),
       |rr AS (
       |  SELECT event_type, n_days,
       |    CAST(CASE WHEN cov1 > 0 THEN 1 WHEN cov1 < 0 THEN -1 ELSE 0 END
       |      AS BIGINT) * (abs(cov1) * 1000 // GREATEST(varn, 1)) AS r1_milli,
       |    CAST(CASE WHEN cov2 > 0 THEN 1 WHEN cov2 < 0 THEN -1 ELSE 0 END
       |      AS BIGINT) * (abs(cov2) * 1000 // GREATEST(varn, 1)) AS r2_milli,
       |    CAST(CASE WHEN cov3 > 0 THEN 1 WHEN cov3 < 0 THEN -1 ELSE 0 END
       |      AS BIGINT) * (abs(cov3) * 1000 // GREATEST(varn, 1)) AS r3_milli,
       |    CAST(CASE WHEN cov4 > 0 THEN 1 WHEN cov4 < 0 THEN -1 ELSE 0 END
       |      AS BIGINT) * (abs(cov4) * 1000 // GREATEST(varn, 1)) AS r4_milli
       |  FROM ag)
       |SELECT event_type, n_days, r1_milli, r2_milli, r3_milli, r4_milli,
       |  (n_days * (n_days + 2) * (
       |    r1_milli * r1_milli // GREATEST(n_days - 1, 1)
       |    + r2_milli * r2_milli // GREATEST(n_days - 2, 1)
       |    + r3_milli * r3_milli // GREATEST(n_days - 3, 1)
       |    + r4_milli * r4_milli // GREATEST(n_days - 4, 1))) // 1000
       |    AS q_milli,
       |  CAST(CASE WHEN (n_days * (n_days + 2) * (
       |    r1_milli * r1_milli // GREATEST(n_days - 1, 1)
       |    + r2_milli * r2_milli // GREATEST(n_days - 2, 1)
       |    + r3_milli * r3_milli // GREATEST(n_days - 3, 1)
       |    + r4_milli * r4_milli // GREATEST(n_days - 4, 1))) // 1000 < 9488
       |    THEN 1 ELSE 0 END AS BIGINT) AS white_flag
       |FROM rr""".stripMargin

  /** Greedy facility-location (k-medoids) coverage — the SUM-objective
    * exemplar selector next to [[simKcenterCoverage]]'s minimax: each of
    * 6 rounds adds the candidate minimizing the total assignment cost
    * Σ_x min(mind_x, d²(x, c)) and reports the cost after adding it —
    * the diminishing-returns curve submodularity guarantees, and the
    * coreset-selection read a training-data curator actually plots.
    * Candidates come from a 32-vector md5-'fl:' pool (greedy over the
    * full corpus is O(n²·k) — the pool keeps every round one LINEAR
    * pass, the standard lazy-greedy concession, documented). Distances
    * ride the kcenter 2^-20 integer lattice; Σ d² is BIGINT-safe to ~32k
    * vectors at 64 dims (n·64·2^42), divide-first per-x milli beyond.
    *
    * The state mind_x = min over picked c of d²(x, c) is a function of
    * the picks, so the loop is [[graft.Fixpoint.greedy]]: ONE checkpoint
    * holds, per vector, its d² to every pool candidate as an array (the
    * size of an n×32 d² relation), and each round derives mind from the
    * picks literal and sums least(mind, d²) per unpicked candidate — one
    * aggregate, one shuffle, a driver read of the (tot, cand) minimum. A
    * vector keeps counting only while it has a d² to every pick, as in
    * the oracle's inner joins. Driver state is the 6-row chosen list. */
  def simFacilityLocation(s: SparkSession, dir: String): DataFrame = {
    val k = 6
    val INF = 1L << 62
    val comps = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .withColumn("xfp",
        expr("cast(floor(cast(xf as double) * 1048576) as bigint)"))
      .transform(graft.Ckpt.capped)
    val pool = t(s, dir, "embeddings")
      .select(col("vec_id"),
        md5(concat(lit("fl:"), col("vec_id").cast("string"))).as("h"))
      .orderBy("h", "vec_id").limit(32).select(col("vec_id").as("cand"))
    val candComps = comps.join(broadcast(pool),
        comps("vec_id") === pool("cand"))
      .select(col("cand"), col("j"), col("xfp").as("cfp"))
    val d2s = comps.join(broadcast(candComps), Seq("j"))
      .filter(col("cand").isNotNull)
      .groupBy("vec_id", "cand")
      .agg(sum(expr("(xfp - cfp) * (xfp - cfp)")).as("d2"))
      .groupBy("vec_id")
      .agg(collect_list(struct(col("cand"), col("d2"))).as("ds"))
      .transform(graft.Ckpt.capped)
    val chosen = graft.Fixpoint.greedy("fl_round", k)(_.getLong(0)) { picks =>
      d2s.filter(forall(picks, p => exists(col("ds"), x => x("cand") === p)))
        .select(
          aggregate(filter(col("ds"), x => array_contains(picks, x("cand"))),
            lit(INF), (m, x) => least(m, x("d2"))).as("mind"),
          explode(col("ds")).as("x"))
        .filter(!array_contains(picks, col("x.cand")))
        .groupBy(col("x.cand").as("cand"))
        .agg(sum(least(col("mind"), col("x.d2"))).as("tot"))
        .orderBy("tot", "cand").limit(1)
    }
    import comps.sparkSession.implicits._
    chosen.zipWithIndex.map { case (r, i) => (i.toLong, r.getLong(0), r.getLong(1)) }
      .toDF("round", "center_vec_id", "total_cost_fp")
  }

  // Every CTE is MATERIALIZED: each cur{r} is read by both t{r+1} and
  // cur{r+1}, and DuckDB inlining the six-round chain re-evaluates the d2
  // joins until it runs out of memory.
  private val FACILITY_SQL: String = {
    val ctes = new StringBuilder(
      """WITH c AS MATERIALIZED (
        |  SELECT vec_id, p.i - 1 AS j,
        |    CAST(FLOOR(CAST(p.x AS DOUBLE) * 1048576) AS BIGINT) AS xfp
        |  FROM (SELECT vec_id,
        |          unnest(list_apply(embedding,
        |            (x, i) -> struct_pack(x := x, i := i))) AS p
        |        FROM embeddings)),
        |pool AS MATERIALIZED (SELECT vec_id AS cand FROM (
        |  SELECT vec_id, ROW_NUMBER() OVER (
        |    ORDER BY md5('fl:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM embeddings) WHERE rn <= 32),
        |d2 AS MATERIALIZED (
        |  SELECT x.vec_id, cc.cand,
        |    CAST(SUM((x.xfp - cc.xfp) * (x.xfp - cc.xfp)) AS BIGINT) AS d2
        |  FROM c x JOIN (SELECT p.cand, c2.j, c2.xfp
        |                 FROM pool p JOIN c c2 ON c2.vec_id = p.cand) cc
        |    ON cc.j = x.j
        |  GROUP BY 1, 2),
        |cur0 AS MATERIALIZED (SELECT DISTINCT vec_id,
        |           CAST(4611686018427387904 AS BIGINT) AS mind FROM c)"""
        .stripMargin)
    for (r <- 1 to 6) {
      val excl =
        if (r == 1) ""
        else "WHERE cand NOT IN (" +
          (1 until r).map(i => s"SELECT cand FROM t$i")
            .mkString(" UNION ALL ") + ")"
      ctes.append(s""",
        |t$r AS MATERIALIZED (SELECT cand, CAST(SUM(LEAST(mind, d2)) AS BIGINT) AS tot
        |        FROM d2 JOIN cur${r - 1} USING (vec_id) $excl
        |        GROUP BY cand ORDER BY tot, cand LIMIT 1),
        |cur$r AS MATERIALIZED (SELECT cu.vec_id, LEAST(cu.mind, d.d2) AS mind
        |          FROM cur${r - 1} cu JOIN d2 d ON d.vec_id = cu.vec_id
        |            AND d.cand = (SELECT cand FROM t$r))""".stripMargin)
    }
    ctes.toString + "\n" + (1 to 6).map(r =>
      s"""SELECT CAST(${r - 1} AS BIGINT) AS round,
         |  (SELECT cand FROM t$r) AS center_vec_id,
         |  (SELECT tot FROM t$r) AS total_cost_fp""".stripMargin)
      .mkString("\nUNION ALL\n")
  }

  /** Interrupted time-series fit per event type — the QUANTIFY-the-break
    * companion of [[eventsChangepoint]]'s find-the-break: split each
    * type's daily series at the midpoint of its OWN span (the known
    * intervention day), fit exact-integer OLS level and slope to each
    * segment (the retention_halflife sufficient-statistics lattice:
    * cov = nΣxy − ΣxΣy, var = nΣx² − (Σx)², slope as sign +
    * abs·1000 div var — abs BEFORE the division), and report the level
    * jump mean_post − mean_pre in milli. Segment membership and x both
    * derive from per-type min/max windows, so the stat windows and the
    * single conditional-sum rollup all ride ONE event_type exchange
    * after the (type, day) partial agg. */
  def eventsInterventionIts(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy("event_type")
    val seg = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("d0", min("day").over(wp))
      .withColumn("span",
        expr("max(day) over (partition by event_type) - d0 + 1"))
      .withColumn("x", expr("day - d0"))
      .withColumn("post",
        expr("case when x >= span div 2 then 1L else 0L end"))
    def seg_(p: Int, e: String) =
      sum(when(col("post") === p.toLong, expr(e)).otherwise(0L))
    var out = seg.groupBy("event_type").agg(
      seg_(0, "1L").as("n_pre"), seg_(1, "1L").as("n_post"),
      seg_(0, "x").as("sx0"), seg_(1, "x").as("sx1"),
      seg_(0, "c").as("sy0"), seg_(1, "c").as("sy1"),
      seg_(0, "x * c").as("sxy0"), seg_(1, "x * c").as("sxy1"),
      seg_(0, "x * x").as("sxx0"), seg_(1, "x * x").as("sxx1"))
    for (p <- 0 to 1) {
      val tag = if (p == 0) "pre" else "post"
      out = out
        .withColumn(s"cov$p", expr(s"n_$tag * sxy$p - sx$p * sy$p"))
        .withColumn(s"var$p", expr(s"n_$tag * sxx$p - sx$p * sx$p"))
        // greatest(n,1): a type whose span is 1 day puts EVERY row in
        // post (x=0 >= span div 2 = 0) so n_pre=0 — the empty segment
        // must read mean 0, not a div-by-zero (ADVICE r10).
        .withColumn(s"mean_${tag}_milli",
          expr(s"sy$p * 1000 div greatest(n_$tag, 1L)"))
        .withColumn(s"slope_${tag}_sign",
          expr(s"cast(sign(cov$p) as bigint)"))
        .withColumn(s"slope_${tag}_abs_milli",
          expr(s"abs(cov$p) * 1000 div greatest(var$p, 1L)"))
    }
    out
      .withColumn("jump_milli",
        expr("mean_post_milli - mean_pre_milli"))
      .select("event_type", "n_pre", "n_post", "mean_pre_milli",
        "mean_post_milli", "jump_milli", "slope_pre_sign",
        "slope_pre_abs_milli", "slope_post_sign", "slope_post_abs_milli")
  }

  private val ITS_SQL =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // $DAY_NS AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |g AS (
       |  SELECT event_type, day, c,
       |    day - MIN(day) OVER w AS x,
       |    CASE WHEN day - MIN(day) OVER w >=
       |      (MAX(day) OVER w - MIN(day) OVER w + 1) // 2
       |      THEN 1 ELSE 0 END AS post
       |  FROM d WINDOW w AS (PARTITION BY event_type)),
       |ag AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
       |    CAST(SUM(CASE WHEN post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
       |    CAST(SUM(CASE WHEN post = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
       |    CAST(SUM(CASE WHEN post = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
       |    CAST(SUM(CASE WHEN post = 0 THEN c ELSE 0 END) AS BIGINT) AS sy0,
       |    CAST(SUM(CASE WHEN post = 1 THEN c ELSE 0 END) AS BIGINT) AS sy1,
       |    CAST(SUM(CASE WHEN post = 0 THEN x * c ELSE 0 END) AS BIGINT) AS sxy0,
       |    CAST(SUM(CASE WHEN post = 1 THEN x * c ELSE 0 END) AS BIGINT) AS sxy1,
       |    CAST(SUM(CASE WHEN post = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx0,
       |    CAST(SUM(CASE WHEN post = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxx1
       |  FROM g GROUP BY event_type),
       |ff AS (
       |  SELECT event_type, n_pre, n_post,
       |    sy0 * 1000 // GREATEST(n_pre, 1) AS mean_pre_milli,
       |    sy1 * 1000 // GREATEST(n_post, 1) AS mean_post_milli,
       |    n_pre * sxy0 - sx0 * sy0 AS cov0,
       |    n_pre * sxx0 - sx0 * sx0 AS var0,
       |    n_post * sxy1 - sx1 * sy1 AS cov1,
       |    n_post * sxx1 - sx1 * sx1 AS var1
       |  FROM ag)
       |SELECT event_type, n_pre, n_post, mean_pre_milli, mean_post_milli,
       |  mean_post_milli - mean_pre_milli AS jump_milli,
       |  CAST(CASE WHEN cov0 > 0 THEN 1 WHEN cov0 < 0 THEN -1 ELSE 0 END
       |    AS BIGINT) AS slope_pre_sign,
       |  abs(cov0) * 1000 // GREATEST(var0, 1) AS slope_pre_abs_milli,
       |  CAST(CASE WHEN cov1 > 0 THEN 1 WHEN cov1 < 0 THEN -1 ELSE 0 END
       |    AS BIGINT) AS slope_post_sign,
       |  abs(cov1) * 1000 // GREATEST(var1, 1) AS slope_post_abs_milli
       |FROM ff""".stripMargin

  /** Pareto tail index per event type — the HOW-HEAVY read the
    * value-quantile and histogram operators stop short of: counts in
    * dyadic value buckets (b = floor log2 of the ≥1024-milli tail, the
    * exact bin-length lattice) follow n_b ∝ 2^(−αb) under a power law,
    * so the exact-OLS slope of floor-log2(n_b) on b estimates −α.
    * α ≈ 1000 milli = Zipf-like (infinite variance below 2000);
    * steeper = tamer tail, the autoscaling-risk one-number. Plan: one
    * (type, bucket) partial agg off the scan, the OLS folds ride the
    * ≤|types|×~20-row aggregate. */
  def eventsTailIndex(s: SparkSession, dir: String): DataFrame = {
    DomainQueries.events(s, dir)
      .select(col("event_type"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
      .filter(col("v") >= 1024L)
      .withColumn("b", expr("cast(length(bin(v)) - 1 as bigint)"))
      .groupBy("event_type", "b").agg(count(lit(1)).as("nb"))
      .withColumn("y", expr("cast(length(bin(nb)) - 1 as bigint)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"), sum("b").as("sx"),
        sum("y").as("sy"), sum(expr("b * y")).as("sxy"),
        sum(expr("b * b")).as("sxx"))
      .withColumn("cov", expr("n_buckets * sxy - sx * sy"))
      .withColumn("varx", expr("n_buckets * sxx - sx * sx"))
      .withColumn("slope_sign", expr("cast(sign(cov) as bigint)"))
      .withColumn("slope_abs_milli",
        expr("abs(cov) * 1000 div greatest(varx, 1L)"))
      .withColumn("alpha_milli", expr(
        "case when cov < 0 then abs(cov) * 1000 div greatest(varx, 1L) " +
        "else 0L end"))
      .select("event_type", "n_buckets", "slope_sign", "slope_abs_milli",
        "alpha_milli")
  }

  private val TAIL_SQL =
    """WITH v AS (
      |  SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS v
      |  FROM events WHERE CAST(FLOOR(value * 1000) AS BIGINT) >= 1024),
      |bkt AS (
      |  SELECT event_type, CAST(length(bin(v)) - 1 AS BIGINT) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS nb
      |  FROM v GROUP BY 1, 2),
      |lg AS (
      |  SELECT event_type, b,
      |    CAST(length(bin(nb)) - 1 AS BIGINT) AS y
      |  FROM bkt),
      |ag AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(b) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(b * y) AS BIGINT) AS sxy,
      |    CAST(SUM(b * b) AS BIGINT) AS sxx
      |  FROM lg GROUP BY event_type),
      |ff AS (
      |  SELECT event_type, n_buckets,
      |    n_buckets * sxy - sx * sy AS cov,
      |    n_buckets * sxx - sx * sx AS varx
      |  FROM ag)
      |SELECT event_type, n_buckets,
      |  CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
      |    AS BIGINT) AS slope_sign,
      |  abs(cov) * 1000 // GREATEST(varx, 1) AS slope_abs_milli,
      |  CASE WHEN cov < 0 THEN abs(cov) * 1000 // GREATEST(varx, 1)
      |    ELSE 0 END AS alpha_milli
      |FROM ff""".stripMargin

  /** Difference-in-differences between the A/B arms around the corpus
    * midpoint — the QUASI-experimental member of the family (ab_lift
    * reads levels, welch_t significance; DiD removes the shared time
    * trend): treated = arm 1, control = arm 0 (the SAME 'ab:'
    * assignment — this analyzes that experiment, like welch_t), break =
    * the GLOBAL observed-span midpoint (one single-row broadcast frame,
    * the ITS cut formula corpus-wide). Per type: segment×arm event
    * counts, per-day rates in milli (events div segment days — exact,
    * both engines floor identically on the nonnegative lattice), and
    * did_milli = (rate_post_t − rate_pre_t) − (rate_post_c −
    * rate_pre_c). The pre-period gap rate_pre_t − rate_pre_c is emitted
    * as the parallel-trends read. Plan: one 1-row span fold + ONE
    * event_type hash aggregate off the scan. */
  /** Mann–Whitney U between the 'ab:' arms — the NONPARAMETRIC A/B
    * readout next to [[eventsWelchT]]'s t (heavy-tailed per-user masses
    * break the t's normality; U only needs ranks): P(treated user's
    * purchase mass > control's) as an exact AUC. Ties are handled with
    * true MIDRANKS on a doubled-integer lattice — a tie group of size g
    * starting at min rank m has 2·midrank = 2m + g − 1 (integer), so
    * U·2 = Σ_t(2m + g − 1) − n_t(n_t + 1) is exact and
    * auc_milli = U2·1000 div (2·n_t·n_c). Everything past the per-user
    * agg runs on the |distinct masses|-row aggregate (cumulative window
    * + one fold); no user-grain window anywhere. */
  def eventsMannwhitneyAb(s: SparkSession, dir: String): DataFrame = {
    val users = DomainQueries.events(s, dir)
      .select(col("user_id"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
      .groupBy("user_id", "arm").agg(sum("pur").as("mass"))
    val byMass = users.groupBy("mass")
      .agg(count(lit(1)).as("g"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("gt"))
    val wc = Window.orderBy("mass")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byMass
      .withColumn("m", sum("g").over(wc) - col("g") + 1L)
      .agg(sum("gt").as("n_t"),
        sum(expr("g - gt")).as("n_c"),
        sum(expr("gt * (2 * m + g - 1)")).as("rt2"))
      .select(col("n_t"), col("n_c"),
        expr("rt2 - n_t * (n_t + 1)").as("u2"),
        expr("(rt2 - n_t * (n_t + 1)) * 1000 div (2 * n_t * n_c)")
          .as("auc_milli"))
  }

  private val MWU_SQL =
    """WITH u AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS mass
      |  FROM events GROUP BY user_id),
      |bm AS (
      |  SELECT mass, CAST(COUNT(*) AS BIGINT) AS g,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS gt
      |  FROM u GROUP BY mass),
      |r AS (
      |  SELECT *, CAST(SUM(g) OVER (ORDER BY mass
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      - g + 1 AS m
      |  FROM bm),
      |f AS (
      |  SELECT CAST(SUM(gt) AS BIGINT) AS n_t,
      |    CAST(SUM(g - gt) AS BIGINT) AS n_c,
      |    CAST(SUM(gt * (2 * m + g - 1)) AS BIGINT) AS rt2
      |  FROM r)
      |SELECT n_t, n_c, rt2 - n_t * (n_t + 1) AS u2,
      |  (rt2 - n_t * (n_t + 1)) * 1000 // (2 * n_t * n_c) AS auc_milli
      |FROM f""".stripMargin

  /** CUPED variance reduction for the A/B readout — THE standard
    * experimentation-platform adjustment (Deng et al. 2013, public): each
    * user's PRE-period metric X (purchases before the calendar midpoint —
    * the events_did cut) de-noises their experiment metric Y via
    * Y' = Y − θ(X − X̄), θ = Cov(X,Y)/Var(X) pooled across arms. All folds
    * are exact integers; θ and the adjustment ship as signed milli with
    * abs-before-division on BOTH engines (the Spark-div-truncates vs
    * DuckDB-//-floors landmine), and ρ²·1000 (= the variance-reduction
    * fraction CUPED buys) uses the divide-first two-factor lattice so no
    * cov² ever forms (cov_n² would wrap at ~3e9-event corpora). Per-user
    * partial agg → checkpointed user table read by the global fold and
    * the 2-row arm fold; only counters shuffle. Arm salt is ab_lift's
    * 'ab:' ON PURPOSE — CUPED adjusts THAT experiment's readout. */
  def eventsAbCuped(s: SparkSession, dir: String): DataFrame = {
    val base = DomainQueries.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $DAY_NS").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
    val brk = base.agg(min("day").as("d0"), max("day").as("d1"))
      .select(expr("d0 + (d1 - d0 + 1) div 2").as("cut"))
    val users = base.crossJoin(broadcast(brk))
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("cut"), col("pur")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("cut"), col("pur")).otherwise(0L)).as("y"))
      .withColumn("arm", expr(
        "cast(conv(substring(md5(cast(concat('ab:', user_id) as binary)), " +
          "1, 15), 16, 10) as bigint) % 2"))
      .transform(graft.Ckpt.capped) // global fold + arm fold read it
    val g = users.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
      .select(col("n"), col("sx"),
        expr("n * sxx - sx * sx").as("var_n"),
        expr("n * sxy - sx * sy").as("cov_n"),
        expr("n * syy - sy * sy").as("vary_n"))
    users.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sxa"), sum("y").as("sya"))
      .crossJoin(broadcast(g))
      .withColumn("x_mean_milli", expr("sxa * 1000 div n_users"))
      .withColumn("y_mean_milli", expr("sya * 1000 div n_users"))
      .withColumn("theta_milli", expr(
        "case when var_n = 0 then 0 when cov_n >= 0 then cov_n * 1000 div var_n " +
          "else -((-cov_n) * 1000 div var_n) end"))
      .withColumn("dx_milli", expr("x_mean_milli - (sx * 1000 div n)"))
      .withColumn("corr_micro", expr("theta_milli * dx_milli"))
      .withColumn("y_adj_milli", expr(
        "y_mean_milli - (case when corr_micro >= 0 then corr_micro div 1000 " +
          "else -((-corr_micro) div 1000) end)"))
      .withColumn("rho2_milli", expr(
        "case when var_n = 0 or vary_n = 0 then 0 else " +
          "((abs(cov_n) * 1000 div var_n) * (abs(cov_n) * 1000 div vary_n)) " +
          "div 1000 end"))
      .select("arm", "n_users", "x_mean_milli", "y_mean_milli",
        "theta_milli", "y_adj_milli", "rho2_milli")
  }

  private val CUPED_SQL =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // $DAY_NS AS day,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pur
       |  FROM events),
       |b AS (SELECT MIN(day) + (MAX(day) - MIN(day) + 1) // 2 AS cut FROM e),
       |u AS (
       |  SELECT user_id,
       |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
       |    CAST(SUM(CASE WHEN day < cut THEN pur ELSE 0 END) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN day >= cut THEN pur ELSE 0 END) AS BIGINT) AS y
       |  FROM e, b GROUP BY user_id),
       |g AS (
       |  SELECT n, sx,
       |    n * sxx - sx * sx AS var_n,
       |    n * sxy - sx * sy AS cov_n,
       |    n * syy - sy * sy AS vary_n
       |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |          CAST(SUM(x * x) AS BIGINT) AS sxx,
       |          CAST(SUM(x * y) AS BIGINT) AS sxy,
       |          CAST(SUM(y * y) AS BIGINT) AS syy
       |        FROM u)),
       |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
       |        CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
       |      FROM u GROUP BY arm)
       |SELECT arm, n_users,
       |  sxa * 1000 // n_users AS x_mean_milli,
       |  sya * 1000 // n_users AS y_mean_milli,
       |  CASE WHEN var_n = 0 THEN 0
       |       WHEN cov_n >= 0 THEN cov_n * 1000 // var_n
       |       ELSE -((-cov_n) * 1000 // var_n) END AS theta_milli,
       |  sya * 1000 // n_users
       |    - (CASE WHEN corr_micro >= 0 THEN corr_micro // 1000
       |       ELSE -((-corr_micro) // 1000) END) AS y_adj_milli,
       |  CASE WHEN var_n = 0 OR vary_n = 0 THEN 0 ELSE
       |    ((abs(cov_n) * 1000 // var_n) * (abs(cov_n) * 1000 // vary_n)) // 1000
       |  END AS rho2_milli
       |FROM (
       |  SELECT a.*, g.*,
       |    (CASE WHEN var_n = 0 THEN 0
       |          WHEN cov_n >= 0 THEN cov_n * 1000 // var_n
       |          ELSE -((-cov_n) * 1000 // var_n) END)
       |      * (sxa * 1000 // n_users - sx * 1000 // n) AS corr_micro
       |  FROM a, g)""".stripMargin

  def eventsDid(s: SparkSession, dir: String): DataFrame = {
    val base = DomainQueries.events(s, dir)
      .select(col("event_type"), col("user_id"),
        expr(s"ts_ns div $DAY_NS").as("day"))
    val brk = base.agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("d0"), expr("d0 + (d1 - d0 + 1) div 2").as("cut"),
        col("d1"))
    base.crossJoin(broadcast(brk))
      .select(col("event_type"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        when(col("day") >= col("cut"), 1L).otherwise(0L).as("post"),
        expr("cut - d0").as("pre_days"),
        expr("d1 - cut + 1").as("post_days"))
      .groupBy("event_type")
      .agg(max("pre_days").as("pre_days"),
        max("post_days").as("post_days"),
        sum(when(col("arm") === 0 && col("post") === 0, 1L).otherwise(0L))
          .as("n_pre_c"),
        sum(when(col("arm") === 0 && col("post") === 1, 1L).otherwise(0L))
          .as("n_post_c"),
        sum(when(col("arm") === 1 && col("post") === 0, 1L).otherwise(0L))
          .as("n_pre_t"),
        sum(when(col("arm") === 1 && col("post") === 1, 1L).otherwise(0L))
          .as("n_post_t"))
      .withColumn("r_pre_c", expr("n_pre_c * 1000 div greatest(pre_days, 1L)"))
      .withColumn("r_post_c", expr("n_post_c * 1000 div greatest(post_days, 1L)"))
      .withColumn("r_pre_t", expr("n_pre_t * 1000 div greatest(pre_days, 1L)"))
      .withColumn("r_post_t", expr("n_post_t * 1000 div greatest(post_days, 1L)"))
      .withColumn("pretrend_gap_milli", expr("r_pre_t - r_pre_c"))
      .withColumn("did_milli",
        expr("(r_post_t - r_pre_t) - (r_post_c - r_pre_c)"))
      .select("event_type", "n_pre_c", "n_post_c", "n_pre_t", "n_post_t",
        "r_pre_c", "r_post_c", "r_pre_t", "r_post_t",
        "pretrend_gap_milli", "did_milli")
  }

  private val DID_SQL =
    s"""WITH d AS (
       |  SELECT event_type, user_id, epoch_ns(ts) // $DAY_NS AS day
       |  FROM events),
       |b AS (SELECT MIN(day) AS d0,
       |        MIN(day) + (MAX(day) - MIN(day) + 1) // 2 AS cut,
       |        MAX(day) AS d1
       |      FROM d),
       |e AS (
       |  SELECT event_type,
       |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
       |      ::BIGINT % 2 AS arm,
       |    CASE WHEN day >= cut THEN 1 ELSE 0 END AS post,
       |    cut - d0 AS pre_days, d1 - cut + 1 AS post_days
       |  FROM d, b),
       |g AS (
       |  SELECT event_type,
       |    CAST(MAX(pre_days) AS BIGINT) AS pre_days,
       |    CAST(MAX(post_days) AS BIGINT) AS post_days,
       |    CAST(SUM(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_pre_c,
       |    CAST(SUM(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_post_c,
       |    CAST(SUM(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_pre_t,
       |    CAST(SUM(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_post_t
       |  FROM e GROUP BY 1),
       |r AS (
       |  SELECT *,
       |    n_pre_c * 1000 // GREATEST(pre_days, 1) AS r_pre_c,
       |    n_post_c * 1000 // GREATEST(post_days, 1) AS r_post_c,
       |    n_pre_t * 1000 // GREATEST(pre_days, 1) AS r_pre_t,
       |    n_post_t * 1000 // GREATEST(post_days, 1) AS r_post_t
       |  FROM g)
       |SELECT event_type, n_pre_c, n_post_c, n_pre_t, n_post_t,
       |  r_pre_c, r_post_c, r_pre_t, r_post_t,
       |  r_pre_t - r_pre_c AS pretrend_gap_milli,
       |  (r_post_t - r_pre_t) - (r_post_c - r_pre_c) AS did_milli
       |FROM r""".stripMargin

  /** Welch's t between the A/B arms on per-user value mass — the
    * CONTINUOUS-metric significance read that completes the experiment
    * family (ab_lift = effect sizes, ab_srm = validity, wilson/sprt =
    * the conversion rate; this scores the value metric itself, where
    * unequal variances make pooled t wrong). Same 'ab:' arm assignment
    * as ab_lift — this analyzes THAT experiment. Lattice: per-user y =
    * Σ floor(value) units (keeps nQ − S² far from 2^63 where the milli
    * form would not be), per-arm sufficient stats (n, S, Q), variance
    * ·10⁶ exact, se² = sA²/nA + sB²/nB in micro, se via the isqrt
    * correction lattice, t_milli = |Δmean_milli|·1000 div se_milli,
    * flag at the z≈1.96 literal 1960 (df is in the thousands). Plan:
    * (arm, user) partial agg, 2-row arm agg, single-row conditional
    * fold — ONE user-keyed exchange. */
  def eventsWelchT(s: SparkSession, dir: String): DataFrame = {
    DomainQueries.events(s, dir)
      .select(col("user_id"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        expr("cast(floor(value) as bigint)").as("yu"))
      .groupBy("arm", "user_id").agg(sum("yu").as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(expr("y * y")).as("qy"))
      .agg(sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("sy")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 1, col("sy")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 0, col("qy")).otherwise(0L)).as("qa"),
        sum(when(col("arm") === 1, col("qy")).otherwise(0L)).as("qb"))
      .withColumn("mean_a_milli", expr("sa * 1000 div n_a"))
      .withColumn("mean_b_milli", expr("sb * 1000 div n_b"))
      .withColumn("va", expr(
        "(n_a * qa - sa * sa) * 1000000L div (n_a * (n_a - 1))"))
      .withColumn("vb", expr(
        "(n_b * qb - sb * sb) * 1000000L div (n_b * (n_b - 1))"))
      .withColumn("seq", expr("va div n_a + vb div n_b"))
      .withColumn("s0", expr("cast(floor(sqrt(cast(seq as double))) as bigint)"))
      .withColumn("se", expr(
        "greatest(case when (s0 + 1) * (s0 + 1) <= seq then s0 + 1 " +
        "when s0 * s0 > seq then s0 - 1 else s0 end, 1L)"))
      .withColumn("diff_milli", expr("mean_a_milli - mean_b_milli"))
      .withColumn("t_sign", expr("cast(sign(diff_milli) as bigint)"))
      .withColumn("t_abs_milli", expr("abs(diff_milli) * 1000 div se"))
      .withColumn("significant_flag",
        expr("case when abs(diff_milli) * 1000 div se >= 1960 " +
          "then 1L else 0L end"))
      .select("n_a", "n_b", "mean_a_milli", "mean_b_milli", "diff_milli",
        "t_sign", "t_abs_milli", "significant_flag")
  }

  private val WELCH_SQL =
    """WITH e AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 2 AS arm,
      |    CAST(FLOOR(value) AS BIGINT) AS yu
      |  FROM events),
      |u AS (SELECT arm, user_id, CAST(SUM(yu) AS BIGINT) AS y
      |      FROM e GROUP BY 1, 2),
      |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(y * y) AS BIGINT) AS qy
      |      FROM u GROUP BY 1),
      |p AS (SELECT
      |  CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(SUM(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS BIGINT) AS sa,
      |  CAST(SUM(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS BIGINT) AS sb,
      |  CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT) AS qa,
      |  CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT) AS qb
      |  FROM a),
      |w AS (SELECT n_a, n_b,
      |        sa * 1000 // n_a AS mean_a_milli,
      |        sb * 1000 // n_b AS mean_b_milli,
      |        (n_a * qa - sa * sa) * 1000000 // (n_a * (n_a - 1)) // n_a
      |          + (n_b * qb - sb * sb) * 1000000 // (n_b * (n_b - 1)) // n_b
      |          AS seq
      |      FROM p),
      |r AS (SELECT n_a, n_b, mean_a_milli, mean_b_milli, seq,
      |        CAST(FLOOR(SQRT(CAST(seq AS DOUBLE))) AS BIGINT) AS s0
      |      FROM w),
      |f AS (SELECT n_a, n_b, mean_a_milli, mean_b_milli,
      |        mean_a_milli - mean_b_milli AS diff_milli,
      |        GREATEST(CASE WHEN (s0 + 1) * (s0 + 1) <= seq THEN s0 + 1
      |          WHEN s0 * s0 > seq THEN s0 - 1 ELSE s0 END, 1) AS se
      |      FROM r)
      |SELECT n_a, n_b, mean_a_milli, mean_b_milli, diff_milli,
      |  CAST(CASE WHEN diff_milli > 0 THEN 1 WHEN diff_milli < 0 THEN -1
      |    ELSE 0 END AS BIGINT) AS t_sign,
      |  abs(diff_milli) * 1000 // se AS t_abs_milli,
      |  CAST(CASE WHEN abs(diff_milli) * 1000 // se >= 1960
      |    THEN 1 ELSE 0 END AS BIGINT) AS significant_flag
      |FROM f""".stripMargin

  /** Fano-factor over-dispersion index per event type — the Poisson
    * null check every rate alarm upstream (spc/cusum/page-hinkley)
    * silently assumes: D = Var/mean of the per-day counts, 1000 for a
    * Poisson stream, >1000 over-dispersed (bursty days), <1000
    * under-dispersed (throttled/quota-shaped). Divide-by-n-FIRST exact
    * lattice: m = S div n, v = (S2 div n) − m² — v ≥ 0 is guaranteed
    * (floor of S2/n can never drop below the integer (S div n)²), so
    * the flooring divisions only ever see non-negative operands at ANY
    * corpus size where the SPC cross-multiplied form would overflow.
    * One (type, day) aggregate, then a |types|-row fold. */
  def eventsPoissonDispersion(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("c").as("sc"), sum(expr("c * c")).as("sc2"),
        max("c").as("max_day"))
      .select(col("event_type"), col("n_days"),
        expr("sc div n_days").as("mean_daily"),
        expr("(sc2 div n_days) - (sc div n_days) * (sc div n_days)")
          .as("var_daily"),
        when(expr("sc div n_days") > 0,
          expr("((sc2 div n_days) - (sc div n_days) * (sc div n_days))" +
            " * 1000 div (sc div n_days)")).as("fano_milli"),
        col("max_day"))

  private val POISSON_DISP_SQL =
    """WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS sc2,
      |    CAST(MAX(c) AS BIGINT) AS max_day
      |  FROM d GROUP BY 1)
      |SELECT event_type, n_days, sc // n_days AS mean_daily,
      |  (sc2 // n_days) - (sc // n_days) * (sc // n_days) AS var_daily,
      |  CASE WHEN sc // n_days > 0 THEN
      |    ((sc2 // n_days) - (sc // n_days) * (sc // n_days)) * 1000
      |      // (sc // n_days) END AS fano_milli,
      |  max_day
      |FROM a""".stripMargin

  /** The Lorenz curve behind [[eventsUserGini]]'s single number — the
    * full decile table an auditor actually reads (which tenth of users
    * produces which share of events): users ranked ascending by
    * activity on the exact (value, key) lattice, decile = (rank−1)·10
    * div n, then per decile the user/event counts and the cumulative
    * event share. The rank uses [[Scale.bucketOffsets]]' two-level
    * distributed prefix sum — no global row_number window at corpus
    * scale; the 10-row cumulative fold is a trivially tiny window. */
  def eventsLorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val u = DomainQueries.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
      .withColumn("bkt", col("x")).withColumn("cnt", lit(1L))
    val offsets = Scale.bucketOffsets(u, "bkt", Seq("cnt"))
    val ranked = u.join(broadcast(offsets), Seq("bkt"))
      .withColumn("rank",
        row_number().over(Window.partitionBy("bkt").orderBy("user_id"))
          .cast("long") + col("cnt_off"))
      .select("user_id", "x", "rank")
      .transform(graft.Ckpt.capped) // totals fold + decile agg both read it
    val tot = ranked.agg(count(lit(1)).as("n_users"),
      sum("x").as("total_events"))
    val dec = ranked.crossJoin(broadcast(tot))
      .groupBy(expr("(rank - 1) * 10 div n_users").as("decile"),
        col("total_events"))
      .agg(count(lit(1)).as("n_users_bin"), sum("x").as("n_events"))
    dec
      .withColumn("cum_events",
        sum("n_events").over(Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_users_bin"), col("n_events"),
        col("cum_events"),
        expr("cum_events * 1000 div total_events").as("cum_share_milli"))
  }

  private val LORENZ_SQL =
    """WITH u AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n_users,
      |    CAST(SUM(x) OVER () AS BIGINT) AS total_events
      |  FROM u),
      |d AS (
      |  SELECT (rank - 1) * 10 // n_users AS decile,
      |    CAST(COUNT(*) AS BIGINT) AS n_users_bin,
      |    CAST(SUM(x) AS BIGINT) AS n_events,
      |    MAX(total_events) AS total_events
      |  FROM r GROUP BY 1)
      |SELECT decile, n_users_bin, n_events,
      |  CAST(SUM(n_events) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_events,
      |  CAST(SUM(n_events) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    * 1000 // total_events AS cum_share_milli
      |FROM d""".stripMargin

  /** Peak-to-mean load factor per event type — the capacity-planning
    * number next to [[eventsPeakConcurrency]]'s session view: hourly
    * counts, their max against their mean (peak_milli = max·n·1000 div
    * S, exact — the ×n form multiplies BEFORE any floor so no
    * mean-rounding bias), plus the busiest hour id (min id on ties,
    * deterministic) via one max_by struct. One (type, hour) aggregate
    * + a |types|-row fold — two shuffles total. */
  def eventsPeakToMean(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $HOUR_NS").as("hour_id"))
      .groupBy("event_type", "hour_id").agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"), sum("c").as("sc"), max("c").as("peak"),
        // one scalar tie-break key (DuckDB 1.0 arg_max takes no LIST/
        // struct key): hour_id < 2^20 for any epoch this side of 2089,
        // so c*2^20 - hour_id orders by count then MIN hour id, exact
        // while c < 2^43 per (type, hour)
        max_by(col("hour_id"),
          expr("c * 1048576 - hour_id")).as("peak_hour"))
      .select(col("event_type"), col("n_hours"), col("peak"), col("peak_hour"),
        expr("sc div n_hours").as("mean_hourly"),
        expr("peak * n_hours * 1000 div sc").as("peak_to_mean_milli"))

  private val PEAK_SQL =
    """WITH h AS (
      |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_id,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |a AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    CAST(SUM(c) AS BIGINT) AS sc, CAST(MAX(c) AS BIGINT) AS peak,
      |    arg_max(hour_id, c * 1048576 - hour_id) AS peak_hour
      |  FROM h GROUP BY 1)
      |SELECT event_type, n_hours, peak, peak_hour,
      |  sc // n_hours AS mean_hourly,
      |  peak * n_hours * 1000 // sc AS peak_to_mean_milli
      |FROM a""".stripMargin

  /** Hurst exponent by rescaled-range analysis over the daily count
    * series per event type — the long-memory readout the dispersion/
    * autocorr family can't give (is today's load correlated with last
    * week's, or is the stream memoryless?): H ≈ 0.5 memoryless,
    * H → 1 trending/persistent, H < 0.5 mean-reverting. Exact integer
    * lattice end-to-end: the per-type day calendar is densified
    * (missing days are honest zeros), split into complete
    * non-overlapping windows of w ∈ {8, 16}; inside a window the
    * deviations are pre-scaled by w (e = w·x − S, so the cumulative
    * walk is integer and ends at exactly 0 — max ≥ 0 ≥ min for free),
    * (R/S)²·1000 = (cmax−cmin)²·1000 div (w·Σx² − S²) with no sqrt
    * ever taken (squares cancel the ratio), window means are floor
    * divisions, and the one-octave slope H = ½·log₂(rs²₁₆/rs²₈) runs
    * through the exact [[graft.functions.Log2Fp]] lattice (sign split
    * keeps 1 ≤ c ≤ T). Plan: one (type, day) aggregate; everything
    * after is calendar-sized (≤ |types|·days rows) — tiny windows, no
    * corpus-sized shuffle beyond the first. */
  def eventsHurstRs(s: SparkSession, dir: String): DataFrame = {
    val days = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val cal = days.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"), col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(days, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), (col("day") - col("d0")).as("idx"),
        coalesce(col("c"), lit(0L)).as("x"))
    val win = cal
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .select(col("*"), explode(expr("array(8L, 16L)")).as("w"))
      .filter(expr("(idx div w + 1) * w <= n"))
      .withColumn("j", expr("idx div w"))
      .transform(graft.Ckpt.capped) // window stats + cumsum legs both read it
    val stats = win.groupBy("event_type", "w", "j")
      .agg(sum("x").as("sw"), sum(expr("x * x")).as("sx2"))
    val rs = win.join(stats, Seq("event_type", "w", "j"))
      .withColumn("e", expr("w * x - sw"))
      .withColumn("ck", sum("e").over(
        Window.partitionBy("event_type", "w", "j").orderBy("idx")))
      .groupBy("event_type", "w", "j")
      .agg(max("ck").as("cmax"), min("ck").as("cmin"),
        max(expr("w * sx2 - sw * sw")).as("den"))
      .filter(col("den") > 0)
      .select(col("event_type"), col("w"),
        expr("(cmax - cmin) * (cmax - cmin) * 1000 div den").as("rs2_milli"))
      .groupBy("event_type", "w")
      .agg(expr("sum(rs2_milli) div count(1)").as("rs2"))
    import graft.functions.Log2Fp
    rs.groupBy("event_type")
      .agg(greatest(max(when(col("w") === 8, col("rs2"))), lit(1L)).as("rs2_w8"),
        greatest(max(when(col("w") === 16, col("rs2"))), lit(1L)).as("rs2_w16"))
      .select(col("event_type"), col("rs2_w8"), col("rs2_w16"),
        when(col("rs2_w16") >= col("rs2_w8"),
          Log2Fp(col("rs2_w16"), col("rs2_w8")))
          .otherwise(-Log2Fp(col("rs2_w8"), col("rs2_w16")))
          .as("slope_1024"))
      .withColumn("hurst_1024",
        expr("case when slope_1024 >= 0 then slope_1024 div 2 " +
          "else -((-slope_1024) div 2) end"))
  }

  private lazy val HURST_SQL = {
    val lfp = TextPrep.lfpSql _
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
       |  FROM d GROUP BY 1),
       |calg AS (
       |  SELECT event_type, d0, unnest(generate_series(d0, d1)) AS day
       |  FROM bounds),
       |cal AS (
       |  SELECT g.event_type, g.day - g.d0 AS idx,
       |    COALESCE(d.c, 0) AS x,
       |    CAST(COUNT(*) OVER (PARTITION BY g.event_type) AS BIGINT) AS n
       |  FROM calg g LEFT JOIN d USING (event_type, day)),
       |win AS (
       |  SELECT c.event_type, c.idx, c.x, w.w, c.idx // w.w AS j
       |  FROM cal c, (SELECT unnest([CAST(8 AS BIGINT),
       |                              CAST(16 AS BIGINT)]) AS w) w
       |  WHERE (c.idx // w.w + 1) * w.w <= c.n),
       |st AS (
       |  SELECT event_type, w, j, CAST(SUM(x) AS BIGINT) AS sw,
       |    CAST(SUM(x * x) AS BIGINT) AS sx2
       |  FROM win GROUP BY 1, 2, 3),
       |cu AS (
       |  SELECT win.event_type, win.w, win.j,
       |    CAST(SUM(win.w * win.x - st.sw) OVER (
       |      PARTITION BY win.event_type, win.w, win.j
       |      ORDER BY win.idx) AS BIGINT) AS ck,
       |    st.sx2, st.sw
       |  FROM win JOIN st USING (event_type, w, j)),
       |rsw AS (
       |  SELECT event_type, w,
       |    (MAX(ck) - MIN(ck)) * (MAX(ck) - MIN(ck)) * 1000
       |      // (w * MAX(sx2) - MAX(sw) * MAX(sw)) AS rs2_milli
       |  FROM cu GROUP BY event_type, w, j
       |  HAVING w * MAX(sx2) - MAX(sw) * MAX(sw) > 0),
       |rs AS (
       |  SELECT event_type, w,
       |    CAST(SUM(rs2_milli) AS BIGINT) // COUNT(*) AS rs2
       |  FROM rsw GROUP BY 1, 2),
       |p AS (
       |  SELECT event_type,
       |    GREATEST(MAX(CASE WHEN w = 8 THEN rs2 END), 1) AS rs2_w8,
       |    GREATEST(MAX(CASE WHEN w = 16 THEN rs2 END), 1) AS rs2_w16
       |  FROM rs GROUP BY 1),
       |sl AS (
       |  SELECT event_type, rs2_w8, rs2_w16,
       |    CASE WHEN rs2_w16 >= rs2_w8
       |      THEN ${lfp("rs2_w16", "rs2_w8")}
       |      ELSE -${lfp("rs2_w8", "rs2_w16")} END AS slope_1024
       |  FROM p)
       |SELECT event_type, rs2_w8, rs2_w16, slope_1024,
       |  CASE WHEN slope_1024 >= 0 THEN slope_1024 // 2
       |       ELSE -((-slope_1024) // 2) END AS hurst_1024
       |FROM sl""".stripMargin
  }

  /** Weekday-seasonality STRENGTH per event type — the one-number
    * variance decomposition behind [[eventsSeasonalDecompose]]'s
    * component table (how much of daily-count variance does the
    * day-of-week explain?): classic one-way ANOVA η² on the floor
    * lattice — SSB = Σ_w(S_w² div n_w) − (S² div n), SST = Σx² −
    * (S² div n), strength = SSB·1000 div SST, everything a floor
    * division of non-negative BIGINTs (Cauchy–Schwarz makes the true
    * SSB ≥ 0; the ≤7-ulp floor dip is clamped by greatest(0, ·)).
    * 1000 ⇒ the calendar is pure weekday effect, 0 ⇒ memoryless. Two
    * tiny aggregates over the (type, day) counts. */
  def eventsSeasonalityStrength(s: SparkSession, dir: String): DataFrame = {
    val days = DomainQueries.events(s, dir)
      .select(col("event_type"), expr(s"ts_ns div $DAY_NS").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      .withColumn("wd", expr("day % 7"))
      .transform(graft.Ckpt.capped) // the SSB and SST folds both read it
    val byWd = days.groupBy("event_type", "wd")
      .agg(sum("x").as("sw"), count(lit(1)).as("nw"))
      .groupBy("event_type")
      .agg(sum(expr("(sw * sw) div nw")).as("ssb_raw"))
    val tot = days.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
        sum(expr("x * x")).as("sx2"))
    tot.join(byWd, Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        expr("greatest(0L, ssb_raw - (sx * sx) div n_days)").as("ssb"),
        expr("sx2 - (sx * sx) div n_days").as("sst"))
      .withColumn("strength_milli",
        when(col("sst") > 0, expr("ssb * 1000 div sst")))
  }

  private val SEASTR_SQL =
    """WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |wd AS (
      |  SELECT event_type, day % 7 AS wd, CAST(SUM(x) AS BIGINT) AS sw,
      |    CAST(COUNT(*) AS BIGINT) AS nw
      |  FROM d GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, CAST(SUM((sw * sw) // nw) AS BIGINT) AS ssb_raw
      |  FROM wd GROUP BY 1),
      |t AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sx2
      |  FROM d GROUP BY 1)
      |SELECT t.event_type, n_days,
      |  GREATEST(0, ssb_raw - (sx * sx) // n_days) AS ssb,
      |  sx2 - (sx * sx) // n_days AS sst,
      |  CASE WHEN sx2 - (sx * sx) // n_days > 0 THEN
      |    GREATEST(0, ssb_raw - (sx * sx) // n_days) * 1000
      |      // (sx2 - (sx * sx) // n_days) END AS strength_milli
      |FROM t JOIN b USING (event_type)""".stripMargin

  /** A/B power analysis — the "is this experiment even big enough"
    * readout next to [[eventsWelchT]] (which tests the observed diff)
    * and events_ab_lift (which reports it): on the SAME 'ab:' arms and
    * the same per-user integer value masses, the minimum detectable
    * effect at α=.05/power=.8 is MDE = 2.8·se (z_α/2 + z_β = 1.96 +
    * 0.84 — fixed literals, no inverse CDF), se via the Welch micro
    * variance lattice + the isqrt correction, and the required
    * per-arm n to power the OBSERVED diff: n_req = 784·(vā+v̄b) div
    * (100·Δ²) — unit-free because variance is micro and Δ milli.
    * powered_flag says whether the observed lift clears its own MDE.
    * ONE user-keyed exchange, then single-row folds. */
  def eventsAbPower(s: SparkSession, dir: String): DataFrame =
    DomainQueries.events(s, dir)
      .select(col("user_id"),
        expr("cast(conv(substring(md5(cast(concat('ab:', user_id) as " +
          "binary)), 1, 15), 16, 10) as bigint) % 2").as("arm"),
        expr("cast(floor(value) as bigint)").as("yu"))
      .groupBy("arm", "user_id").agg(sum("yu").as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(expr("y * y")).as("qy"))
      .agg(sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, col("sy")).otherwise(0L)).as("sa"),
        sum(when(col("arm") === 1, col("sy")).otherwise(0L)).as("sb"),
        sum(when(col("arm") === 0, col("qy")).otherwise(0L)).as("qa"),
        sum(when(col("arm") === 1, col("qy")).otherwise(0L)).as("qb"))
      .withColumn("va", expr(
        "(n_a * qa - sa * sa) * 1000000L div (n_a * (n_a - 1))"))
      .withColumn("vb", expr(
        "(n_b * qb - sb * sb) * 1000000L div (n_b * (n_b - 1))"))
      .withColumn("seq", expr("va div n_a + vb div n_b"))
      .withColumn("s0", expr("cast(floor(sqrt(cast(seq as double))) as bigint)"))
      .withColumn("se_milli", expr(
        "greatest(case when (s0 + 1) * (s0 + 1) <= seq then s0 + 1 " +
        "when s0 * s0 > seq then s0 - 1 else s0 end, 1L)"))
      .withColumn("diff_milli", expr("sa * 1000 div n_a - sb * 1000 div n_b"))
      .withColumn("mde_milli", expr("28 * se_milli div 10"))
      .withColumn("powered_flag",
        expr("case when abs(diff_milli) >= 28 * se_milli div 10 " +
          "then 1L else 0L end"))
      .withColumn("n_req_per_arm",
        when(expr("diff_milli != 0"),
          expr("784 * (va + vb) div (100 * diff_milli * diff_milli)")))
      .select("n_a", "n_b", "diff_milli", "se_milli", "mde_milli",
        "powered_flag", "n_req_per_arm")

  private val ABPOWER_SQL =
    """WITH e AS (
      |  SELECT user_id,
      |    ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
      |      ::BIGINT % 2 AS arm,
      |    CAST(FLOOR(value) AS BIGINT) AS yu
      |  FROM events),
      |u AS (SELECT arm, user_id, CAST(SUM(yu) AS BIGINT) AS y
      |      FROM e GROUP BY 1, 2),
      |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(y) AS BIGINT) AS sy,
      |        CAST(SUM(y * y) AS BIGINT) AS qy
      |      FROM u GROUP BY 1),
      |p AS (SELECT
      |  CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(SUM(CASE WHEN arm = 0 THEN sy ELSE 0 END) AS BIGINT) AS sa,
      |  CAST(SUM(CASE WHEN arm = 1 THEN sy ELSE 0 END) AS BIGINT) AS sb,
      |  CAST(SUM(CASE WHEN arm = 0 THEN qy ELSE 0 END) AS BIGINT) AS qa,
      |  CAST(SUM(CASE WHEN arm = 1 THEN qy ELSE 0 END) AS BIGINT) AS qb
      |  FROM a),
      |v AS (SELECT n_a, n_b, sa, sb,
      |        (n_a * qa - sa * sa) * 1000000 // (n_a * (n_a - 1)) AS va,
      |        (n_b * qb - sb * sb) * 1000000 // (n_b * (n_b - 1)) AS vb
      |      FROM p),
      |q AS (SELECT *, va // n_a + vb // n_b AS seq,
      |        CAST(FLOOR(SQRT(CAST(va // n_a + vb // n_b AS DOUBLE)))
      |          AS BIGINT) AS s0
      |      FROM v),
      |r AS (SELECT *,
      |        GREATEST(CASE WHEN (s0 + 1) * (s0 + 1) <= seq THEN s0 + 1
      |          WHEN s0 * s0 > seq THEN s0 - 1 ELSE s0 END, 1) AS se_milli,
      |        sa * 1000 // n_a - sb * 1000 // n_b AS diff_milli
      |      FROM q)
      |SELECT n_a, n_b, diff_milli, CAST(se_milli AS BIGINT) AS se_milli,
      |  CAST(28 * se_milli // 10 AS BIGINT) AS mde_milli,
      |  CAST(CASE WHEN abs(diff_milli) >= 28 * se_milli // 10
      |    THEN 1 ELSE 0 END AS BIGINT) AS powered_flag,
      |  CASE WHEN diff_milli != 0 THEN
      |    784 * (va + vb) // (100 * diff_milli * diff_milli)
      |  END AS n_req_per_arm
      |FROM r""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_ab_power" -> (eventsAbPower _),
    "events_seasonality_strength" -> (eventsSeasonalityStrength _),
    "events_hurst_rs" -> (eventsHurstRs _),
    "events_poisson_dispersion" -> (eventsPoissonDispersion _),
    "events_lorenz_deciles" -> (eventsLorenzDeciles _),
    "events_peak_to_mean" -> (eventsPeakToMean _),
    "events_welch_t" -> (eventsWelchT _),
    "events_did" -> (eventsDid _),
    "events_ab_cuped" -> (eventsAbCuped _),
    "events_mannwhitney_ab" -> (eventsMannwhitneyAb _),
    "events_theil_sen" -> (eventsTheilSen _),
    "events_fdr_bh" -> (eventsFdrBh _),
    "events_kleinberg_burst" -> (eventsKleinbergBurst _),
    "events_logrank" -> (eventsLogrank _),
    "events_odds_ratio" -> (eventsOddsRatio _),
    "events_tail_index" -> (eventsTailIndex _),
    "events_intervention_its" -> (eventsInterventionIts _),
    "sim_facility_location" -> (simFacilityLocation _),
    "events_ljung_box" -> (eventsLjungBox _),
    "events_sprt_gate" -> (eventsSprtGate _),
    "events_max_drawdown" -> (eventsMaxDrawdown _),
    "events_page_hinkley" -> (eventsPageHinkley _),
    "events_wilson_bounds" -> (eventsWilsonBounds _),
    "events_trend_mann_kendall" -> (eventsTrendMannKendall _),
    "events_runs_test" -> (eventsRunsTest _),
    "events_record_days" -> (eventsRecordDays _),
    "sim_triplet_margin_audit" -> (simTripletMarginAudit _),
    "sim_kcenter_coverage" -> (simKcenterCoverage _),
    "events_spc_rules" -> (eventsSpcRules _),
    "events_user_gini" -> (eventsUserGini _),
    "events_silence_streaks" -> (eventsSilenceStreaks _),
    "events_markov_entropy_rate" -> (eventsMarkovEntropyRate _),
    "events_ab_srm" -> (eventsAbSrm _),
    "sim_embedding_outliers" -> (simEmbeddingOutliers _),
    "events_topk_drift" -> (eventsTopkDrift _),
    "sim_pq_distortion" -> (simPqDistortion _),
    "sim_silhouette" -> (simSilhouette _),
    "events_changepoint_binseg" -> (eventsChangepoint _),
    "sim_kmeans_shift" -> (simKmeansShift _),
    "events_queue_wait" -> (eventsQueueWait _),
    "events_trimmed_mean" -> (eventsTrimmedMean _),
    "events_sax_motifs" -> (eventsSaxMotifs _),
    "events_bootstrap_ci" -> (eventsBootstrapCi _),
    "events_rolling_median" -> (eventsRollingMedian _),
    "events_seasonal_decompose" -> (eventsSeasonalDecompose _),
    "events_survival_km" -> (eventsSurvivalKm _),
    "events_kmv_intersection" -> (eventsKmvIntersection _),
    "events_markov_stationary" -> (eventsMarkovStationary _),
    "data_order_autocorr" -> (dataOrderAutocorr _),
    "data_shard_skew_gini" -> (dataShardSkewGini _),
    "events_ewma_residual" -> (eventsEwmaResidual _),
    "events_holt_trend" -> (eventsHoltTrend _),
    "events_diurnal_dft" -> (eventsDiurnalDft _),
    "events_haar_energy" -> (eventsHaarEnergy _),
    "events_forecast_backtest" -> (eventsForecastBacktest _),
    "events_burstiness" -> (eventsBurstiness _),
    "sim_power_iteration" -> (simPowerIteration _),
    "events_watermark_lag" -> (eventsWatermarkLag _),
    "events_attribution" -> (eventsAttribution _),
    "events_json_stats" -> (eventsJsonStats _),
    "events_throttle" -> (eventsThrottle _),
    "events_retention" -> (eventsRetention _),
    "events_stickiness" -> (eventsStickiness _),
    "events_cohort_ltv" -> (eventsCohortLtv _),
    "events_hazard_rate" -> (eventsHazardRate _),
    "events_error_budget" -> (eventsErrorBudget _),
    "events_rate_autocorr" -> (eventsRateAutocorr _),
    "events_rate_xcorr" -> (eventsRateXcorr _),
    "events_hll_daily_union" -> (eventsHllDailyUnion _),
    "events_seasonal_naive" -> (eventsSeasonalNaive _),
    "events_flap_rate" -> (eventsFlapRate _),
    "events_ab_lift" -> (eventsAbLift _),
    "events_mix_drift" -> (eventsMixDrift _),
    "events_session_cooccurrence" -> (eventsSessionCooccurrence _),
    "customer_reorder_gaps" -> (customerReorderGaps _),
    "events_incident_runs" -> (eventsIncidentRuns _),
    "events_user_entropy" -> (eventsUserEntropy _),
    "events_peak_concurrency" -> (eventsPeakConcurrency _),
    "sim_cluster_cohesion" -> (simClusterCohesion _),
    "data_class_balance" -> (dataClassBalance _),
    "data_upsample_plan" -> (dataUpsamplePlan _),
    "data_mixture_temperature" -> (dataMixtureTemperature _),
    "data_dp_counts" -> (dataDpCounts _),
    "sim_hard_negatives" -> (simHardNegatives _),
    "sim_mmr_rerank" -> (simMmrRerank _),
    "events_restatement_audit" -> (eventsRestatementAudit _),
    "sim_knn_label_eval" -> (simKnnLabelEval _),
    "events_burn_multiwindow" -> (eventsBurnMultiwindow _),
    "events_growth_accounting" -> (eventsGrowthAccounting _),
    "data_semantic_leakage" -> (dataSemanticLeakage _),
    "events_quantile_sketch_union" -> (eventsQuantileSketchUnion _),
    "events_gap_fill_locf" -> (eventsGapFillLocf _),
    "events_value_drift" -> (eventsValueDrift _),
    "data_temporal_leakage" -> (dataTemporalLeakage _),
    "events_retention_halflife" -> (eventsRetentionHalflife _),
    "data_benford_audit" -> (dataBenfordAudit _),
    "events_arrival_regularity" -> (eventsArrivalRegularity _),
    "events_weekday_profile" -> (eventsWeekdayProfile _),
    "events_top_paths" -> (eventsTopPaths _),
    "sim_random_projection" -> (simRandomProjection _),
    "sim_rp_topk" -> (simRpTopk _),
    "sim_kmeans_assign" -> (simKmeansAssign _),
    "events_anomaly_mad" -> (eventsAnomalyMad _),
    "events_transition_matrix" -> (eventsTransitionMatrix _),
    "events_uniques_sliding" -> (eventsUniquesSliding _),
    "events_gap_histogram" -> (eventsGapHistogram _),
    "events_conversion_lag" -> (eventsConversionLag _),
    "events_inactivity_churn" -> (eventsInactivityChurn _),
    "data_curriculum_stages" -> (dataCurriculumStages _),
    "affinity_brand_pairs" -> (affinityBrandPairs _),
    "events_rfm" -> (eventsRfm _),
    "supplier_pareto_class" -> (supplierParetoClass _),
    "sim_norm_audit" -> (simNormAudit _),
    "sim_dim_stats" -> (simDimStats _),
    "sim_pq_quantize" -> (simPqQuantize _),
    "meta_scd2_history" -> (metaScd2History _),
    "events_value_quantiles" -> (eventsValueQuantiles _),
    "events_cusum" -> (eventsCusum _),
    "events_ttl_sweep" -> (eventsTtlSweep _),
    "events_bottomk_sample" -> (eventsBottomkSample _),
    "events_value_histogram" -> (eventsValueHistogram _),
    "meta_schema_drift" -> (metaSchemaDrift _),
    "data_interleave_sources" -> (dataInterleaveSources _))

  val oracle: Map[String, String] = Map(
    "events_ab_power" -> ABPOWER_SQL,
    "events_seasonality_strength" -> SEASTR_SQL,
    "events_hurst_rs" -> HURST_SQL,
    "events_poisson_dispersion" -> POISSON_DISP_SQL,
    "events_lorenz_deciles" -> LORENZ_SQL,
    "events_peak_to_mean" -> PEAK_SQL,
    "events_welch_t" -> WELCH_SQL,
    "events_did" -> DID_SQL,
    "events_ab_cuped" -> CUPED_SQL,
    "events_mannwhitney_ab" -> MWU_SQL,
    "events_theil_sen" -> THEIL_SEN_SQL,
    "events_fdr_bh" -> FDRBH_SQL,
    "events_kleinberg_burst" -> KLEINBERG_SQL,
    "events_logrank" -> LOGRANK_SQL,
    "events_odds_ratio" -> ODDS_SQL,
    "events_tail_index" -> TAIL_SQL,
    "events_intervention_its" -> ITS_SQL,
    "sim_facility_location" -> FACILITY_SQL,
    "events_ljung_box" -> LJUNG_SQL,
    "events_sprt_gate" -> SPRT_SQL,
    "events_max_drawdown" -> DRAWDOWN_SQL,
    "events_page_hinkley" -> PAGE_HINKLEY_SQL,
    "events_wilson_bounds" -> WILSON_SQL,
    "events_changepoint_binseg" -> CHANGEPOINT_SQL,
    "sim_kmeans_shift" -> KMEANS_SHIFT_SQL,
    "events_queue_wait" -> QUEUE_SQL,
    "events_trimmed_mean" -> TRIMMED_SQL,
    "events_sax_motifs" -> SAX_SQL,
    "events_bootstrap_ci" -> BOOTSTRAP_SQL,
    "events_rolling_median" -> ROLLMED_SQL,
    "events_seasonal_decompose" -> SEASONAL_DECOMP_SQL,
    "events_survival_km" -> SURVIVAL_SQL,
    "events_kmv_intersection" -> KMV_INTERSECT_SQL,
    "events_markov_stationary" -> MARKOV_SQL,
    "data_order_autocorr" -> ORDER_AUTOCORR_SQL,
    "data_shard_skew_gini" -> GINI_SQL,
    "events_ewma_residual" -> EWMA_SQL,
    "events_holt_trend" -> HOLT_SQL,
    "events_diurnal_dft" -> DIURNAL_DFT_SQL,
    "events_haar_energy" -> HAAR_SQL,
    "events_forecast_backtest" -> BACKTEST_SQL,
    "events_burstiness" -> BURSTINESS_SQL,
    "sim_power_iteration" -> POWER_ITER_SQL,
    "events_watermark_lag" -> WM_LAG_SQL,
    "events_attribution" -> ATTRIBUTION_SQL,
    "events_json_stats" -> JSON_STATS_SQL,
    "events_throttle" -> THROTTLE_SQL,
    "events_retention" -> RETENTION_SQL,
    "events_stickiness" -> STICKINESS_SQL,
    "events_cohort_ltv" -> LTV_SQL,
    "events_hazard_rate" -> HAZARD_SQL,
    "events_error_budget" -> BUDGET_SQL,
    "events_rate_autocorr" -> AUTOCORR_SQL,
    "events_rate_xcorr" -> XCORR_SQL,
    "events_hll_daily_union" -> HLL_UNION_SQL,
    "events_seasonal_naive" -> SEASONAL_SQL,
    "events_flap_rate" -> FLAP_SQL,
    "events_ab_lift" -> AB_SQL,
    "events_mix_drift" -> MIX_DRIFT_SQL,
    "events_session_cooccurrence" -> COOCCUR_SQL,
    "customer_reorder_gaps" -> REORDER_SQL,
    "events_incident_runs" -> INCIDENT_SQL,
    "events_user_entropy" -> USER_ENTROPY_SQL,
    "events_peak_concurrency" -> CONCURRENCY_SQL,
    "sim_cluster_cohesion" -> COHESION_SQL,
    "sim_silhouette" -> SIL_SQL,
    "events_topk_drift" -> TOPK_DRIFT_SQL,
    "sim_pq_distortion" -> PQ_DIST_SQL,
    "sim_embedding_outliers" -> EMB_OUTLIER_SQL,
    "events_trend_mann_kendall" -> MK_SQL,
    "events_runs_test" -> RUNS_SQL,
    "events_record_days" -> RECORD_SQL,
    "sim_triplet_margin_audit" -> TRIPLET_SQL,
    "sim_kcenter_coverage" -> KCENTER_SQL,
    "events_spc_rules" -> SPC_SQL,
    "events_user_gini" -> USER_GINI_SQL,
    "events_silence_streaks" -> SILENCE_SQL,
    "events_markov_entropy_rate" -> MARKOV_ENTROPY_SQL,
    "events_ab_srm" -> SRM_SQL,
    "data_class_balance" -> BALANCE_SQL,
    "data_upsample_plan" -> UPSAMPLE_SQL,
    "data_mixture_temperature" -> MIXTEMP_SQL,
    "data_dp_counts" -> DP_SQL,
    "sim_hard_negatives" -> HARDNEG_SQL,
    "sim_mmr_rerank" -> MMR_SQL,
    "events_restatement_audit" -> RESTATEMENT_SQL,
    "sim_knn_label_eval" -> KNN_LABEL_SQL,
    "events_burn_multiwindow" -> BURN_SQL,
    "events_growth_accounting" -> GROWTH_SQL,
    "data_semantic_leakage" -> SEMLEAK_SQL,
    "events_quantile_sketch_union" -> QSKETCH_SQL,
    "events_gap_fill_locf" -> GAPFILL_SQL,
    "events_value_drift" -> VALUE_DRIFT_SQL,
    "data_temporal_leakage" -> TEMPORAL_LEAKAGE_SQL,
    "events_retention_halflife" -> RETENTION_HALFLIFE_SQL,
    "data_benford_audit" -> BENFORD_SQL,
    "events_arrival_regularity" -> REGULARITY_SQL,
    "events_weekday_profile" -> WEEKDAY_SQL,
    "events_top_paths" -> PATHS_SQL,
    "sim_random_projection" -> RP_SQL,
    "sim_rp_topk" -> RP_TOPK_SQL,
    "sim_kmeans_assign" -> KMEANS_SQL,
    "events_anomaly_mad" -> ANOMALY_SQL,
    "events_transition_matrix" -> TRANSITION_SQL,
    "events_uniques_sliding" -> UNIQUES_SQL,
    "events_gap_histogram" -> GAP_SQL,
    "events_conversion_lag" -> CONV_LAG_SQL,
    "events_inactivity_churn" -> CHURN_SQL,
    "data_curriculum_stages" -> CURRICULUM_SQL,
    "affinity_brand_pairs" -> AFFINITY_SQL,
    "events_rfm" -> RFM_SQL,
    "supplier_pareto_class" -> PARETO_SQL,
    "sim_norm_audit" -> NORM_SQL,
    "sim_dim_stats" -> DIM_STATS_SQL,
    "sim_pq_quantize" -> PQ_SQL,
    "meta_scd2_history" -> SCD2_SQL,
    "events_value_quantiles" -> QUANTILES_SQL,
    "events_cusum" -> CUSUM_SQL,
    "events_ttl_sweep" -> TTL_SQL,
    "events_bottomk_sample" -> BOTTOMK_SQL,
    "events_value_histogram" -> HISTOGRAM_SQL,
    "meta_schema_drift" -> DRIFT_SQL,
    "data_interleave_sources" -> INTERLEAVE_SQL)
}
