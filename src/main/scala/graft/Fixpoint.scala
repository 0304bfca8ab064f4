package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}

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

  /** Checkpoints `df` with `metrics` observed on the checkpoint action
    * (one job for both) and returns the checkpoint and the metric values
    * by name. A metric over no rows reads null; that is a named error,
    * never a silent zero. */
  def observe(df: DataFrame, name: String, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation(name)
    val ck = Ckpt.capped(df.observe(obs, metrics.head, metrics.tail: _*))
    // The metric fires only because localCheckpoint runs through
    // withAction on Spark 4.1.2, and a bare obs.get blocks forever if it
    // never fires; so wait boundedly and fall back to scanning the
    // just-materialized checkpoint.
    val got = awaitMetric(obs).getOrElse {
      val r = ck.agg(metrics.head, metrics.tail: _*).head()
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    got.collectFirst { case (field, null) => field }.foreach { field =>
      throw new IllegalStateException(
        s"observation '$name': metric '$field' is null (observed over no rows)")
    }
    (ck, got)
  }

  /** obs.get with a 10 s ceiling; None on timeout. Each call gets its
    * own single-thread DAEMON executor, shut down on exit — parking the
    * waiter on the fixed-size global EC would leak one pool thread per
    * timeout, and after #cores timeouts every later call (even ones
    * whose metric DID fire) would starve behind the dead waiters. */
  private def awaitMetric(obs: Observation): Option[Map[String, Any]] = {
    import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
    import scala.concurrent.duration._
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-await-metric"); t.setDaemon(true); t
    })
    try Some(Await.result(
      Future(obs.get)(ExecutionContext.fromExecutorService(exec)), 10.seconds))
    catch { case _: TimeoutException => None }
    finally exec.shutdownNow() // abandoned waiter dies with its own thread
  }
}
