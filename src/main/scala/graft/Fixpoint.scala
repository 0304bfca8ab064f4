package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.typedLit

/** The round loop every iterative operator runs: fixed-round peels and
  * relaxations, convergence loops, and greedy per-round picks.
  *
  * A round loop must cut lineage: without a checkpoint the logical plan
  * grows with every round and the job dies on plan size long before data
  * size matters. Every checkpoint here is [[Ckpt.capped]], because loops
  * that join the previous checkpoint several times per round compound
  * its size estimate geometrically.
  *
  * FUSION. At bench scale each checkpoint costs ~0.1-0.2 s of driver
  * latency (plan, codegen, AQE stage jobs) while a round's executor work
  * on the small graphs is milliseconds, so several synchronous rounds
  * are composed into ONE plan per checkpoint. The composed algebra is
  * unchanged; only the materialization boundary moves. The depth `fuse`
  * follows how often a round references the previous state:
  *  - a body that references it ONCE fuses 3: fused plans stay linear,
  *    and the only cost of depth is identity rounds at the fixpoint;
  *  - a body that references it two or more times fuses 2: f fused
  *    rounds hold 2^f (or 3^f) copies of the checkpoint leaf, so f ≥ 3
  *    pays more planning than it saves (probed);
  *  - a loop that reads a convergence value every round fuses 1.
  *
  * GREEDY. A loop whose state is a function of the picks so far needs no
  * state checkpoint at all ([[greedy]]): the caller materializes one
  * input once, and each round is one aggregate over it that ends in a
  * driver read of the round's pick.
  *
  * ROUND INVARIANCE. Every round that plans the same operators over the
  * same leaf should generate the same code, so that Spark's codegen cache
  * serves rounds 2..k and they compile nothing. Round-varying values must
  * therefore enter the plan as non-primitive literals (arrays, maps,
  * strings), which generated code reads by reference; a primitive literal
  * (an `isin` list, a replace per pick, a `size(picks)` the optimizer
  * folds) is inlined into the source and makes every round's class new.
  */
object Fixpoint {

  /** The states S_0 = `init` .. S_rounds of `rounds` applications of
    * `step`, checkpointed every `fuse` rounds and at the last one. The
    * states inside a fused body are lazy plans over the checkpoint that
    * starts it. */
  def states(init: DataFrame, rounds: Int, fuse: Int)(
      step: DataFrame => DataFrame): IndexedSeq[DataFrame] = {
    val out = scala.collection.mutable.ArrayBuffer(init)
    while (out.size <= rounds) {
      val f = math.min(fuse, rounds + 1 - out.size)
      for (_ <- 1 until f) out += step(out.last)
      out += Ckpt.capped(step(out.last))
    }
    out.toIndexedSeq
  }

  /** The last of [[states]]. */
  def fixed(init: DataFrame, rounds: Int, fuse: Int)(
      step: DataFrame => DataFrame): DataFrame =
    states(init, rounds, fuse)(step).last

  /** Runs `body(firstRound, f)` over bodies of `f` ≤ `fuse` rounds until it
    * reports done; returns the rounds used. Running out of `maxRounds`
    * means the result is not a fixpoint, so it throws rather than hand
    * back partial state. `raise` names what the caller should raise. */
  def converge(op: String, maxRounds: Int, fuse: Int, raise: String)(
      body: (Int, Int) => Boolean): Int = {
    var used = 0
    var done = false
    while (!done && used < maxRounds) {
      val f = math.min(fuse, maxRounds - used)
      done = body(used, f)
      used += f
    }
    if (!done) throw new IllegalStateException(
      s"$op did not converge in $maxRounds rounds; raise $raise")
    used
  }

  /** Greedy selection of `k` picks. Round r (0-based) gets the keys of
    * the r picks so far as ONE array literal (`typedLit`, so the round's
    * generated code does not depend on them) and returns a plan whose
    * first row, if any, is the round's pick; `key` reads the pick's key
    * from that row. `round` must plan one aggregate over an input the
    * caller materialized once, and must not fold the literal into a
    * primitive (no `size(picks)`). Returns the k pick rows. A round with
    * no row left means the pool is smaller than `k`: a named error
    * `<name>_<r>`, never a short or padded result. */
  def greedy[K: TypeTag](name: String, k: Int)(key: Row => K)(
      round: Column => DataFrame): Seq[Row] = {
    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    while (picks.size < k) {
      val r = picks.size
      val got = round(typedLit(picks.map(key).toSeq)).head(1)
      if (got.isEmpty) throw new IllegalStateException(
        s"greedy round '${name}_$r' found no pick: the pool holds $r of the $k picks")
      picks += got.head
    }
    picks.toSeq
  }

  /** Checkpoints `df` with `metrics` observed on the checkpoint action
    * (one job for both) and returns the checkpoint and the metric values
    * by name. The metric fires because `localCheckpoint` runs through
    * `withAction`, so it has arrived when the checkpoint returns; a
    * bounded wait on the observation's own future guards the read, and a
    * metric that has not arrived within 10 s is a named error (a bare
    * `obs.get` would block forever). A metric over no rows reads null;
    * that is a named error too, never a silent zero. */
  def observe(df: DataFrame, name: String, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation(name)
    val ck = Ckpt.capped(df.observe(obs, metrics.head, metrics.tail: _*))
    val row = org.apache.spark.sql.GraftStatsCheckpoint
      .observedRow(obs, ObserveTimeout)
      .getOrElse(throw new IllegalStateException(
        s"observation '$name': no metrics within $ObserveTimeout of its checkpoint action"))
    val got = row.getValuesMap[Any](row.schema.fieldNames.toSeq)
    got.collectFirst { case (field, null) => field }.foreach { field =>
      throw new IllegalStateException(
        s"observation '$name': metric '$field' is null (observed over no rows)")
    }
    (ck, got)
  }

  private val ObserveTimeout = scala.concurrent.duration.Duration(10, "s")
}
