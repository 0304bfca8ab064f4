package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt runs tests in one forked JVM). */
trait SparkSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores each to
    * its previous value (or unsets it if it had none). */
  def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Executes `df` and counts the (shuffle, broadcast) exchanges of its
    * final adaptive plan, query stages included; a reused exchange is not
    * counted again. */
  def executedExchanges(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case e: ShuffleExchangeLike => e }.size,
      collect(plan) { case e: BroadcastExchangeLike => e }.size)
  }
}

object SparkSpec {
  /** The harness profile at 4 cores: the PlanAuditSpec pins are planned
    * at that width. */
  lazy val session: SparkSession = Harness.session(4)
}
