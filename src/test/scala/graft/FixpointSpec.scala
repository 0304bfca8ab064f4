package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, GraftStatsCheckpoint, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("observed read: a metric over no rows is a named error, never an NPE or a zero") {
    val e = intercept[IllegalStateException] {
      Fixpoint.observe(Seq.empty[Long].toDF("x"), "probe_empty", None, min(col("x")).as("mx"))
    }
    assert(e.getMessage.contains("probe_empty") && e.getMessage.contains("'mx'"),
      e.getMessage)
    val (ck, m) = Fixpoint.observe(Seq(3L, 1L, 2L).toDF("x"), "probe_rows", None,
      min(col("x")).as("mx"), count(lit(1)).as("n"))
    assert(m === Map("mx" -> 1L, "n" -> 3L))
    assert(ck.queryExecution.logical.isInstanceOf[LogicalRDD], "read must checkpoint")
    assert(ck.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // a round that joins its state twice: the checkpoint carries the
    // state's estimate, not the join's product
    val state = Ckpt.capped((1L to 8L).map(i => (i, i)).toDF("k", "v"))
    val (next, _) = Fixpoint.observe(selfJoin(state), "probe_state", Some(state),
      count(lit(1)).as("n"))
    assert(estimate(next) === estimate(state))
    assert(estimate(selfJoin(state).localCheckpoint()) !== estimate(state),
      "the probe round must change the estimate it does not carry")
  }

  private def selfJoin(s: DataFrame): DataFrame =
    s.join(s.toDF("k", "w"), "k").select(col("k"), (col("v") + col("w")).as("v"))

  private def estimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("round drivers: every state after init is a checkpoint; the cap fails loudly") {
    val states = Fixpoint.states(Seq(0L).toDF("x"), rounds = 5)(
      _.select((col("x") + 1).as("x")))
    assert(states.map(_.as[Long].head()) === (0L to 5L))
    assert(states.indices.filter(i =>
      states(i).queryExecution.logical.isInstanceOf[LogicalRDD]) === (1 to 5))
    // every state keeps the initial state's estimate
    val joined = Fixpoint.states(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), rounds = 3)(selfJoin)
    assert(joined.map(estimate).distinct === Seq(estimate(joined.head)))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    assert(Fixpoint.converge("probe", 7, raise = "maxProbe") { r =>
      rounds += r; r == 5
    } === 6)
    assert(rounds.toSeq === (0 to 5))
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("probe", 7, raise = "maxProbe")(_ => false)
    }
    assert(e.getMessage === "probe did not converge in 7 rounds; raise maxProbe")
  }

  test("observed metrics fire on the checkpoint action of Ckpt.capped and Ckpt.stamp") {
    import scala.concurrent.duration._
    val df = Seq(3L, 1L, 2L).toDF("x")
    val ckpts: Seq[(String, (DataFrame, Observation) => DataFrame)] = Seq(
      "capped" -> ((d, o) => Ckpt.capped(d.observe(o, sum(col("x")).as("s")))),
      "stamp" -> ((d, o) => Ckpt.stamp(
        d.repartition(4, col("x")).observe(o, sum(col("x")).as("s")), 4, "x")))
    for ((via, ck) <- ckpts) {
      val obs = Observation(s"fires_$via")
      ck(df, obs)
      // no action after the checkpoint: the metric is already there
      val row = GraftStatsCheckpoint.observedRow(obs, 10.seconds)
      assert(row.map(_.getLong(0)) === Some(6L), s"Ckpt.$via")
    }
    // a metric whose action never runs times out instead of blocking
    assert(GraftStatsCheckpoint.observedRow(Observation("never"), 50.millis).isEmpty)
  }

  /** Facility-location greedy over (item, ds: array<(cand, d)>): each
    * round adds the unpicked candidate with the least Σ min(mind, d),
    * ties to the smaller candidate. */
  private def facilityRound(items: DataFrame)(picks: Column): DataFrame =
    items
      .select(
        aggregate(filter(col("ds"), x => array_contains(picks, x("cand"))),
          lit(Long.MaxValue), (m, x) => least(m, x("d"))).as("mind"),
        explode(col("ds")).as("x"))
      .filter(!array_contains(picks, col("x.cand")))
      .groupBy(col("x.cand").as("cand"))
      .agg(sum(least(col("mind"), col("x.d"))).as("tot"))
      .orderBy("tot", "cand").limit(1)

  test("greedy: driver-greedy picks with (tot, cand) ties; later rounds compile nothing") {
    // 6 items, 5 candidates; rounds 0, 1 and 3 have tied totals, so the
    // cand tie-break decides them
    val d = Seq(
      Seq(4L, 4L, 9L, 1L, 1L), Seq(4L, 4L, 1L, 9L, 9L), Seq(1L, 1L, 4L, 4L, 4L),
      Seq(9L, 9L, 4L, 1L, 1L), Seq(1L, 1L, 9L, 4L, 4L), Seq(9L, 9L, 1L, 4L, 4L))
    val items = Ckpt.capped(d.zipWithIndex.map { case (ds, i) =>
      (i.toLong, ds.zipWithIndex.map { case (x, c) => (c + 1L, x) }) }
      .toDF("item", "ds0")
      .select(col("item"), transform(col("ds0"),
        x => struct(x("_1").as("cand"), x("_2").as("d"))).as("ds")))
    val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
    def compileCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = Fixpoint.greedy("probe_round", 4)(_.getLong(0)) { picks =>
      compiles += compileCount
      facilityRound(items)(picks)
    }.map(r => (r.getLong(0), r.getLong(1)))
    compiles += compileCount
    assert(got === referenceGreedy(d, 4))
    val perRound = compiles.sliding(2).map(w => w(1) - w(0)).toSeq
    assert(perRound.tail.forall(_ == 0L), s"compiles per round: $perRound")
    // a pool smaller than k is a named error
    val e = intercept[IllegalStateException] {
      Fixpoint.greedy("probe_round", 6)(_.getLong(0))(facilityRound(items))
    }
    assert(e.getMessage.contains("probe_round_5"), e.getMessage)
  }

  /** The same greedy on the driver: (cand, tot) per round. */
  private def referenceGreedy(d: Seq[Seq[Long]], k: Int): Seq[(Long, Long)] = {
    val mind = Array.fill(d.size)(Long.MaxValue)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to k).map { _ =>
      val (tot, c) = (1L to d.head.size.toLong).filterNot(picked.contains)
        .map(c => (d.indices.map(i => math.min(mind(i), d(i)(c.toInt - 1))).sum, c))
        .min
      picked += c
      d.indices.foreach(i => mind(i) = math.min(mind(i), d(i)(c.toInt - 1)))
      (c, tot)
    }
  }
}
