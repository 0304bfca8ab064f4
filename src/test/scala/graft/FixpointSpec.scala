package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("observed read: a metric over no rows is a named error, never an NPE or a zero") {
    val e = intercept[IllegalStateException] {
      Fixpoint.observe(Seq.empty[Long].toDF("x"), "probe_empty", min(col("x")).as("mx"))
    }
    assert(e.getMessage.contains("probe_empty") && e.getMessage.contains("'mx'"),
      e.getMessage)
    val (ck, m) = Fixpoint.observe(Seq(3L, 1L, 2L).toDF("x"), "probe_rows",
      min(col("x")).as("mx"), count(lit(1)).as("n"))
    assert(m === Map("mx" -> 1L, "n" -> 3L))
    assert(ck.queryExecution.logical.isInstanceOf[LogicalRDD], "read must checkpoint")
    assert(ck.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("round drivers: fused bodies checkpoint at their ends; the cap fails loudly") {
    val states = Fixpoint.states(Seq(0L).toDF("x"), rounds = 5, fuse = 2)(
      _.select((col("x") + 1).as("x")))
    assert(states.map(_.as[Long].head()) === (0L to 5L))
    assert(states.indices.filter(i =>
      states(i).queryExecution.logical.isInstanceOf[LogicalRDD]) === Seq(2, 4, 5))
    val bodies = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    assert(Fixpoint.converge("probe", 7, fuse = 3, raise = "maxProbe") { (r, f) =>
      bodies += ((r, f)); r + f >= 6
    } === 6)
    assert(bodies.toSeq === Seq((0, 3), (3, 3)))
    val e = intercept[IllegalStateException] {
      Fixpoint.converge("probe", 7, fuse = 3, raise = "maxProbe")((_, _) => false)
    }
    assert(e.getMessage === "probe did not converge in 7 rounds; raise maxProbe")
  }
}
