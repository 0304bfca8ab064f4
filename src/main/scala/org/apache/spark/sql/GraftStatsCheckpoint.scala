package org.apache.spark.sql

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.catalyst.expressions.{Attribute, ExpressionSet, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Stats-hygienic localCheckpoint for iterative DataFrame loops.
  *
  * `Dataset.localCheckpoint` truncates LINEAGE but deliberately carries
  * the origin plan's `Statistics` onto the resulting [[LogicalRDD]] leaf
  * (so one checkpoint doesn't blind the optimizer). In an open-ended
  * loop (connected components, Borůvka) whose per-round plan JOINS the
  * previous round's checkpoint — possibly several times — the carried
  * sizeInBytes estimates compound MULTIPLICATIVELY round over round
  * (Catalyst's join estimate is the product of the child sizes), and
  * when a round multiplies the carried stat into itself more than once
  * the digit count grows GEOMETRICALLY: after Borůvka's ~14 contraction
  * rounds the estimate is a BigInt with ~10^6 digits and
  * SizeInBytesOnlyStatsPlanVisitor spends MINUTES per plan inside
  * BigInteger.multiplyToomCook3 — a planning-time hang on a 16k-node
  * graph, caught by ScaleSpec's Borůvka probe (r9). Fixed round counts
  * (pagerank) and single-join rounds (min-label CC) only grow digits
  * LINEARLY, which is why the sf-gate suite never tripped this.
  *
  * The fix: re-wrap the checkpoint leaf with the same RDD /
  * partitioning / ordering / constraints but sizeInBytes (and rowCount)
  * CAPPED at Long.MaxValue. Real stats small enough to matter (the
  * early-round broadcast decisions) pass through untouched; the cap
  * re-applies at every checkpoint, so a product can never escape one
  * round's plan. Lives in package org.apache.spark.sql because
  * `Dataset.ofRows` is private[sql]; everything touched is public Spark
  * surface otherwise. */
object GraftStatsCheckpoint {
  private val Cap = BigInt(Long.MaxValue)

  /** localCheckpoint that RE-STAMPS a hash partitioning the materialized
    * RDD is known to have. Under AQE, `Dataset.localCheckpoint` records
    * `UnknownPartitioning` on the LogicalRDD leaf (the adaptive plan's
    * outputPartitioning is opaque at capture time), so a checkpoint built
    * as `repartition(n, k)` + key-preserving operators loses its layout:
    * every downstream join/aggregate on k re-exchanges, and because the
    * re-exchange of a small checkpoint is tiny, AQE coalesces it to ONE
    * task — serializing any fan-out consumer (the occ_nestedness r²
    * self-join ran its 7M-row pair enumeration single-task). Caller
    * CONTRACT: `df`'s rows must actually be laid out as
    * HashPartitioning(cols, n) — i.e. the plan is `repartition(n, cols)`
    * followed only by partitioning-preserving operators. Stats are capped
    * exactly as [[localCheckpointCapped]]. */
  def localCheckpointHashPartitioned(df: DataFrame, cols: Seq[String],
      numParts: Int): DataFrame = {
    val ck = df.localCheckpoint()
    // Runtime guard on the caller contract (r15, verdict item): the
    // materialized RDD must actually have numParts partitions — a future
    // edit inserting a width-changing operator between the repartition
    // and the stamp would otherwise silently yield a WRONG
    // hash-partitioning claim, letting downstream joins skip a required
    // exchange (incorrect rows at any scale). The partition COUNT is the
    // cheap observable that catches that rot class; asserting it here
    // costs nothing (the RDD is already materialized).
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val actual = lr.rdd.getNumPartitions
        if (actual != numParts)
          throw new IllegalStateException(
            s"localCheckpointHashPartitioned: caller claimed " +
              s"HashPartitioning(${cols.mkString(",")}, $numParts) but " +
              s"the materialized checkpoint has $actual partitions — a " +
              "width-changing operator sits between the repartition and " +
              "the stamp; fix the caller")
        val attrs = cols.map(c => lr.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"localCheckpointHashPartitioned: no column '$c' in ${lr.output}")))
        withStats(ck, lr.computeStats(), Some(HashPartitioning(attrs, numParts)))
      case _ => ck
    }
  }

  def localCheckpointCapped(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint() // eager: materialize exactly once
    val st = ck.queryExecution.analyzed.stats
    if (st.sizeInBytes <= Cap && st.rowCount.forall(_ <= Cap)) ck else withStats(ck, st)
  }

  /** The checkpoint `ck` re-wrapped with the statistics of `like`'s plan
    * (capped as [[localCheckpointCapped]]), everything else of its leaf
    * kept. */
  def withStatsOf(ck: DataFrame, like: DataFrame): DataFrame =
    withStats(ck, like.queryExecution.optimizedPlan.stats)

  private def withStats(ck: DataFrame, st: Statistics,
      partitioning: Option[Partitioning] = None): DataFrame =
    releaf(ck, partitioning) { lr =>
      (lr.output, Statistics(sizeInBytes = st.sizeInBytes.min(Cap),
        rowCount = st.rowCount.map(_.min(Cap))), lr.constraints)
    }

  /** The checkpoint `ck` re-wrapped with every column nullable in its
    * schema, and each column that was not nullable constrained
    * `isnotnull` instead: the shape of a leaf whose nullable columns a
    * filter has proved non-null. Both are sound: the schema claims less,
    * and the constraints hold. */
  def withNullableOutput(ck: DataFrame): DataFrame = releaf(ck) { lr =>
    // constraints name the new attributes: a self-join or self-union
    // re-instances the leaf by rewriting exactly its output attributes
    val out = lr.output.map(a => a.exprId -> a.withNullability(true)).toMap
    (lr.output.map(a => out(a.exprId)), lr.computeStats(),
      ExpressionSet(lr.constraints.toSeq.map(_.transform {
        case a: Attribute => out.getOrElse(a.exprId, a)
      })) ++ lr.output.filterNot(_.nullable).map(a => IsNotNull(out(a.exprId))))
  }

  /** `ck`'s checkpoint leaf rebuilt with the output, statistics and
    * constraints `f` gives, and with `partitioning` when one is given;
    * no job runs. A frame that is not a checkpoint is returned as it is. */
  private def releaf(ck: DataFrame, partitioning: Option[Partitioning] = None)(
      f: LogicalRDD => (Seq[Attribute], Statistics, ExpressionSet)): DataFrame =
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val (output, stats, constraints) = f(lr)
        val spark = ck.sparkSession.asInstanceOf[CSparkSession]
        CDataset.ofRows(spark,
          new LogicalRDD(output, lr.rdd, partitioning.getOrElse(lr.outputPartitioning),
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            spark, Some(stats), Some(constraints)))
      case _ => ck
    }

  /** The metrics row of `obs`, or None when its action has not fired it
    * within `timeout`. A bounded wait on the observation's own future
    * (`private[sql]`, hence here): the caller's thread blocks, no thread
    * is started, and nothing stays parked when the metric never fires. */
  def observedRow(obs: Observation, timeout: FiniteDuration): Option[Row] =
    try Some(Await.result(obs.future, timeout))
    catch { case _: TimeoutException => None }
}
