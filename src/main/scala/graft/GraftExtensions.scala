package graft

import graft.functions.{BpeEncode, CdcChunks, DotF, Lz78Count, RollingHash, TokenCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Production registration point for graft's custom Catalyst expressions:
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * or programmatically on a session builder, `.withExtensions(new
  * GraftExtensions)` (as `ExtensionsCheck` does). (`SketchQueries.register`
  * is the per-session equivalent used by the test harness; both install
  * [[GraftExtensions.functions]].)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectOptimizerRule(session => plans.RangeJoinRule(() =>
      session.conf.get("spark.graft.rangeJoin.binWidth", "0").toLong))
  }
}

object GraftExtensions {
  /** Every SQL function graft adds: its name, expression class and
    * builder. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", classOf[RollingHash], c => RollingHash(c.head)),
    ("token_count", classOf[TokenCount], c => TokenCount(c.head)),
    ("bpe_encode", classOf[BpeEncode], c => BpeEncode(c.head)),
    ("cdc_chunks", classOf[CdcChunks], c => CdcChunks(c.head)),
    ("lz78_count", classOf[Lz78Count], c => Lz78Count(c.head)),
    ("dot_f", classOf[DotF], c => DotF(c.head, c(1))))
}
