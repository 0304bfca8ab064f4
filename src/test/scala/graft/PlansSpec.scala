package graft

import graft.operators.{DomainQueries, EventJoins}
import graft.plans.RangeJoinRule
import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000000000L

  private def intervals = Tables.t(spark, sf, "nation").select(
    col("n_nationkey").cast("long").as("promo_id"),
    (lit(1704067200000000000L) + col("n_nationkey") * (30 * H)).as("lo_ns"),
    (lit(1704067200000000000L) + col("n_nationkey") * (30 * H) +
      (col("n_nationkey") % 5 + 1) * (6 * H)).as("hi_ns"))

  private def naiveRangeJoin = {
    val pts = DomainQueries.events(spark, sf)
      .select("event_id", "user_id", "ts_ns")
    pts.join(intervals,
      col("ts_ns") >= col("lo_ns") && col("ts_ns") <= col("hi_ns"))
  }

  private def withRule[T](binWidth: Long)(body: => T): T = {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ RangeJoinRule(() => binWidth)
    try body finally spark.experimental.extraOptimizations = before
  }

  test("AQE skew join splits the skewed partition at runtime (the salted join's engine-native sibling)") {
    // data_salted_join_audit is the PORTABLE mitigation; this pins the
    // engine-native one: a 0.83-mass hot key under a forced sort-merge
    // join, AQE skew handling on — the final adaptive plan must mark the
    // join skew=true and read the hot side through a skewed
    // AQEShuffleRead (the runtime split of the oversized partition).
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // test-scale thresholds: the defaults (factor 5, 256 MB) are sized
      // for production partitions; the MECHANISM is what's under test
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def skewedJoin() = {
        val big = spark.range(0, 300000).select(
          when(col("id") < 250000, 0L).otherwise(col("id") % 32).as("k"),
          concat(lit("payload_padding_padding_"), col("id")).as("payload"))
        val dim = spark.range(0, 32)
          .select(col("id").as("k"), (col("id") * 7).as("dv"))
        big.join(dim.hint("merge"), Seq("k"))
      }
      val j = skewedJoin()
      val withSkew = j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the join skewed:\n${plan.take(1500)}")
      assert(plan.contains("AQEShuffleRead skewed"),
        "the hot side was not read through a skewed AQEShuffleRead")
      // identical results with the skew handling off
      val without = withConfs("spark.sql.adaptive.skewJoin.enabled" -> "false") {
        skewedJoin().collect()
      }
      assert(withSkew.map(_.toString).sorted.toSeq ===
        without.map(_.toString).sorted.toSeq)
    }
  }

  test("RangeJoinRule turns a nested-loop range join into a banded equi-join") {
    val naivePlan = naiveRangeJoin.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"),
      s"precondition: the naive plan should be a BNLJ, got:\n$naivePlan")
    val want = naiveRangeJoin
      .select("event_id", "promo_id").as[(Long, Long)].collect().toSet
    withRule(30 * H) {
      val df = naiveRangeJoin
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rule did not fire — still a nested-loop join:\n$plan")
      val got = df.select("event_id", "promo_id").as[(Long, Long)].collect().toSet
      assert(got.nonEmpty)
      assert(got === want)
    }
  }

  test("RangeJoinRule leaves joins with equi keys alone") {
    withRule(30 * H) {
      val l = Seq((1L, 5L), (2L, 50L)).toDF("k", "v")
      val r = Seq((1L, 0L, 10L), (2L, 0L, 10L)).toDF("k2", "lo", "hi")
      val df = l.join(r,
        col("k") === col("k2") && col("v") >= col("lo") && col("v") <= col("hi"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("_rj_bin"), s"rule should not fire:\n$plan")
      assert(df.select("k").as[Long].collect().toSet === Set(1L))
    }
  }

  test("malformed intervals (lo > hi) drop instead of crashing the rewrite") {
    // The BNLJ plan the rule/operator replace would simply emit no match
    // for a dirty lo>hi row; an unguarded descending Sequence throws. Both
    // the optimizer rewrite and the hand-built operator must match the
    // BNLJ behavior: same results, no runtime failure.
    val dirty = intervals.withColumn("lo_ns",
      when(col("promo_id") % 3 === 0, col("hi_ns") + H).otherwise(col("lo_ns")))
    val pts = DomainQueries.events(spark, sf).select("event_id", "ts_ns")
    val naive = pts.join(dirty,
        col("ts_ns") >= col("lo_ns") && col("ts_ns") <= col("hi_ns"))
      .select("event_id", "promo_id").as[(Long, Long)].collect().toSet
    val manual = EventJoins.intervalJoin(pts, "ts_ns", dirty,
        "lo_ns", "hi_ns", binWidth = 30 * H)
      .select("event_id", "promo_id").as[(Long, Long)].collect().toSet
    assert(manual === naive)
    withRule(30 * H) {
      val df = pts.join(dirty,
        col("ts_ns") >= col("lo_ns") && col("ts_ns") <= col("hi_ns"))
      assert(df.queryExecution.executedPlan.toString.contains("_rj_bin"),
        "rule should fire on the dirty-interval join")
      assert(df.select("event_id", "promo_id").as[(Long, Long)]
        .collect().toSet === naive)
    }
  }

  test("rule output matches the hand-built intervalJoin operator") {
    val manual = EventJoins.intervalJoin(
        DomainQueries.events(spark, sf).select("event_id", "ts_ns"),
        "ts_ns", intervals, "lo_ns", "hi_ns", binWidth = 30 * H)
      .select("event_id", "promo_id").as[(Long, Long)].collect().toSet
    val naive = naiveRangeJoin
      .select("event_id", "promo_id").as[(Long, Long)].collect().toSet
    assert(manual === naive)
    assert(manual.nonEmpty)
  }

  test("dynamic partition pruning: a star join on a partitioned fact scans only the dim-selected partitions") {
    // The 100 TB star-join lever the single-file testdata never
    // exercises: a date/nation-partitioned fact joined to a filtered dim
    // must plan a DPP subquery filter on the fact SCAN (the dim's
    // broadcast result reused as a partition filter), so a 1000-executor
    // job reads 3 partitions instead of 10. q19/q30-shaped.
    spark.sql("DROP TABLE IF EXISTS dpp_fact")
    Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("o_custkey") % 10).as("part_k"))
      .write.partitionBy("part_k").mode("overwrite").saveAsTable("dpp_fact")
    def star = spark.table("dpp_fact")
      .join(spark.range(0, 10).select(col("id").as("part_k"),
        (col("id") * 2).as("v")).filter(col("v") < 6), Seq("part_k"))
      .groupBy("part_k").agg(count(lit(1)).as("n"))
    withConfs(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val q = star
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamicpruning subquery on the fact scan:\n$plan")
    }
    withConfs(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      val q = star
      q.collect()
      assert(!q.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "DPP filter should vanish when the optimizer flag is off")
    }
  }

  test("AQE coalesces a small-output shuffle's partitions at runtime") {
    // The scale posture's third AQE lever (skew split is pinned above,
    // broadcast promotion below): an aggregate planned at 64 shuffle
    // partitions whose output is tiny must execute through a COALESCED
    // AQEShuffleRead — on a real cluster this is what keeps reducer
    // counts proportional to data, not to the static conf.
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.sql.shuffle.partitions" -> "64") {
      val q = Tables.t(spark, sf, "orders")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead coalesced"),
        s"expected a coalesced AQEShuffleRead:\n$plan")
    }
  }

  test("AQE promotes a statically-planned sort-merge join to broadcast when runtime stats are small") {
    // Static stats for a filtered parquet scan are the UNFILTERED file
    // size, so the planner picks SMJ; the shuffle's runtime map stats
    // reveal the side is tiny and AQE replans it as a broadcast join.
    // This is the lever that saves the 100 TB plan whose dim filter is
    // selective in ways the optimizer cannot see statically.
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1MB") {
      val dim = Tables.t(spark, sf, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val q = Tables.t(spark, sf, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(q.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
        "precondition: the STATIC plan must pick a sort-merge join")
      q.collect()
      val finalPlan = q.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"expected AQE to promote the join to broadcast:\n$finalPlan")
    }
  }
}
