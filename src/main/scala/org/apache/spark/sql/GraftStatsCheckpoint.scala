package org.apache.spark.sql

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one checkpoint builder graft's operators and loops use, through
  * [[graft.Ckpt]]. It lives in package org.apache.spark.sql because
  * `Dataset.ofRows` is `private[sql]`; everything else it touches is
  * public Spark surface. */
object GraftStatsCheckpoint {
  private val Cap = BigInt(Long.MaxValue)

  /** `df` checkpointed by one eager `localCheckpoint`, its [[LogicalRDD]]
    * leaf rebuilt at most once (no job) with two declared properties.
    *
    * ESTIMATE: the leaf's own size estimate, or `estimateOf`'s when given,
    * capped at Long.MaxValue either way. `localCheckpoint` carries the
    * origin plan's statistics onto the leaf, and a join's estimate is the
    * product of its children's. So a loop that joins the previous round's
    * checkpoint several times per round compounds the estimate
    * geometrically: after ~14 Borůvka rounds it is a BigInt of ~10^6
    * digits, and Catalyst spends minutes per plan multiplying it
    * (ScaleSpec's 16k-node Borůvka probe). The cap keeps a product from
    * escaping one round's plan; sane estimates pass through, so the cap
    * never flips a broadcast decision. A loop state declares the previous
    * state as `estimateOf`: then every state keeps the round-0 estimate,
    * and rounds that compute the same thing plan the same join strategies
    * and build sides, hence the same code.
    *
    * LAYOUT: as materialized, or `layout` = (n, cols) when the rows are
    * known to be laid out as HashPartitioning(cols, n), i.e. `df` is
    * `repartition(n, cols)` followed only by partitioning-preserving
    * operators. Under AQE `localCheckpoint` records UnknownPartitioning,
    * so every consumer that joins or aggregates on `cols` re-exchanges,
    * and AQE coalesces a small re-exchange to one task ahead of a fan-out.
    * The claim is guarded: a checkpoint with another partition count than
    * `n` (a width-changing operator between the repartition and the
    * checkpoint) would let joins skip a required exchange and give wrong
    * rows, so it throws, as does a column the leaf does not have.
    *
    * With neither property declared and the estimate under the cap, the
    * checkpoint is returned as it is. */
  def localCheckpoint(df: DataFrame, estimateOf: Option[DataFrame] = None,
      layout: Option[(Int, Seq[String])] = None): DataFrame = {
    val ck = df.localCheckpoint() // eager: materialize exactly once
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val st = estimateOf.fold(lr.stats)(_.queryExecution.optimizedPlan.stats)
        val partitioning = layout.map { case (n, cols) =>
          val actual = lr.rdd.getNumPartitions
          if (actual != n) throw new IllegalStateException(
            s"Ckpt.stamp: caller claimed HashPartitioning(${cols.mkString(",")}, $n) " +
              s"but the materialized checkpoint has $actual partitions — a " +
              "width-changing operator sits between the repartition and the " +
              "stamp; fix the caller")
          HashPartitioning(cols.map(c => lr.output.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(s"Ckpt.stamp: no column '$c' in ${lr.output}"))),
            n)
        }
        if (estimateOf.isEmpty && partitioning.isEmpty &&
            st.sizeInBytes <= Cap && st.rowCount.forall(_ <= Cap)) ck
        else {
          val spark = ck.sparkSession.asInstanceOf[CSparkSession]
          CDataset.ofRows(spark, new LogicalRDD(lr.output, lr.rdd,
            partitioning.getOrElse(lr.outputPartitioning), lr.outputOrdering,
            lr.isStreaming, lr.stream)(spark,
            Some(Statistics(sizeInBytes = st.sizeInBytes.min(Cap),
              rowCount = st.rowCount.map(_.min(Cap)))),
            Some(lr.constraints)))
        }
      case _ => ck
    }
  }

  /** The metrics row of `obs`, or None when its action has not fired it
    * within `timeout`. A bounded wait on the observation's own future
    * (`private[sql]`, hence here): the caller's thread blocks, no thread
    * is started, and nothing stays parked when the metric never fires. */
  def observedRow(obs: Observation, timeout: FiniteDuration): Option[Row] =
    try Some(Await.result(obs.future, timeout))
    catch { case _: TimeoutException => None }
}
