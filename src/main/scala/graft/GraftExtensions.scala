package graft

import graft.functions.{BpeEncode, CdcChunks, DotF, RollingHash, TokenCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Production registration point for graft's custom Catalyst expressions:
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * or programmatically on a session builder, `.withExtensions(new
  * GraftExtensions)` (as `ExtensionsCheck` does). (`SketchQueries.register`
  * is the per-session equivalent used by the test harness.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "token_count"),
      (children: Seq[Expression]) => TokenCount(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => BpeEncode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (children: Seq[Expression]) => CdcChunks(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("dot_f"),
      new ExpressionInfo(classOf[DotF].getName, "dot_f"),
      (children: Seq[Expression]) => DotF(children.head, children(1))))
    ext.injectOptimizerRule(session => plans.RangeJoinRule(() =>
      session.conf.get("spark.graft.rangeJoin.binWidth", "0").toLong))
  }
}
