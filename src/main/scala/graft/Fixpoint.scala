package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.typedLit

/** The round loop every iterative operator runs: fixed-round peels,
  * relaxations and linear updates (pagerank, label propagation, TextRank,
  * Markov stationary, power iteration), convergence loops, and greedy
  * per-round picks. The one round loop it does not drive is
  * `Analytics.kmeansFit`'s two Lloyd rounds, whose state is K centroids
  * on the driver, read back as K rows per round.
  *
  * A round loop must cut lineage: without a checkpoint the logical plan
  * grows with every round and the job dies on plan size long before data
  * size matters. A fixed round count bounds that growth but does not
  * remove it: an unrolled chain is one plan whose every round compiles
  * anew at its own stage position. Every checkpoint here is
  * [[Ckpt.capped]], because loops that join the previous checkpoint
  * several times per round compound its size estimate geometrically.
  *
  * ONE ROUND PER CHECKPOINT. Every round ends in its own checkpoint.
  * Composing several rounds into one plan per checkpoint saves checkpoint
  * jobs but costs compiles: Spark names each whole-stage class
  * `GeneratedIteratorForCodegenStage<N>`, N numbered per query in the
  * order it creates stages, and its codegen cache is keyed on the full
  * source, so the same round at another position of a composed body is
  * a new class. On the 19-op board at sf0.001 (4 cores) 32 of the 685
  * classes a pass compiled were such repeats, and every compiled class
  * stays cached at ~30 KB of retained heap. A round over the previous
  * round's checkpoint plans the same stages every time and compiles once
  * per JVM. A composed body of f rounds that each reference the state
  * twice also held 2^f copies of the leaf.
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
  * The leaf is part of the code too. A round's output must have its
  * input's schema, nullability included, or round 0 (which reads `init`)
  * and the rounds after it (which read a round's output) compile
  * different classes, e.g. when an aggregate's nullable `min` replaces a
  * non-null column of `init`. And every state carries `init`'s size
  * estimate, because join strategies follow the estimate: a round that
  * joins its state multiplies that estimate into its output's, so it
  * would compound round over round, and rounds that compute the same
  * thing would plan different join strategies and build sides. A loop
  * declares the carried estimate where it takes the checkpoint: its next
  * state is `Ckpt.capped(round, Some(state))`, or [[observe]] with the
  * round's input state.
  */
object Fixpoint {

  /** The states S_0 = `init` .. S_rounds of `rounds` applications of
    * `step`; each after `init` is a checkpoint carrying the previous
    * state's estimate, hence `init`'s. */
  def states(init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): IndexedSeq[DataFrame] =
    Iterator.iterate(init)(s => Ckpt.capped(step(s), Some(s)))
      .take(rounds + 1).toIndexedSeq

  /** The last of [[states]]. */
  def fixed(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    states(init, rounds)(step).last

  /** Runs `round(r)` for r = 0, 1, .. until it reports done; returns the
    * rounds used. Running out of `maxRounds` means the result is not a
    * fixpoint, so it throws rather than hand back partial state. `raise`
    * names what the caller should raise. */
  def converge(op: String, maxRounds: Int, raise: String)(round: Int => Boolean): Int =
    (0 until maxRounds).find(round).map(_ + 1).getOrElse(throw new IllegalStateException(
      s"$op did not converge in $maxRounds rounds; raise $raise"))

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
    * by name. A round of a loop passes its input `state`, whose estimate
    * the checkpoint then carries; any other read passes None. The metric
    * fires because `localCheckpoint` runs through `withAction`, so it has
    * arrived when the checkpoint returns; a bounded wait on the
    * observation's own future guards the read, and a metric that has not
    * arrived within 10 s is a named error (a bare `obs.get` would block
    * forever). A metric over no rows reads null; that is a named error
    * too, never a silent zero. */
  def observe(df: DataFrame, name: String, state: Option[DataFrame], metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation(name)
    val ck = Ckpt.capped(df.observe(obs, metrics.head, metrics.tail: _*), state)
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
