package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair encoding with a fixed merge table — true greedy BPE
  * (GPT-2-style lowest-rank-merge-first over per-word byte sequences),
  * not the regex approximation in `text_tokens`. Base vocabulary is the
  * 256 byte values; [[BpeEncode.Merges]] extends it with ranked merges,
  * id = 256 + rank. A native Catalyst Expression whose generated code
  * calls the same static kernel as interpreted eval, so it stays inside
  * whole-stage codegen (a Scala UDF would break the pipeline into
  * ser/de boundaries).
  *
  * Merge resolution per word: repeatedly find the LOWEST-rank adjacent
  * token pair present in the table and merge it; stop when no adjacent
  * pair is mergeable. Words are maximal runs of non-space bytes — merges
  * never cross a space, matching the pre-tokenization real BPE vocabs
  * assume.
  */
case class BpeEncode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      BpeEncode.encode(input.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new ${classOf[GenericArrayData].getName}(" +
        s"graft.functions.BpeEncode.encode($c.getBytes()))")

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

object BpeEncode {

  /** Ranked merge list (rank = index, token id = 256 + rank). A frozen
    * miniature of a learned English vocab: common bigrams first, then
    * compounds over earlier merge ids — enough structure to exercise
    * multi-level fusion (t+h → th, th+e → the). */
  val Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("i", "n"), ("e", "r"), ("a", "n"), ("o", "n"),
    ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"), ("e", "s"),
    ("th", "e"), ("in", "g"), ("an", "d"), ("o", "u"), ("a", "r"),
    ("s", "t"), ("l", "e"), ("c", "o"), ("d", "e"), ("r", "o"),
    ("de", "r"), ("or", "d"), ("st", "a"), ("ou", "t"), ("re", "s"))

  private def idOf(tok: String): Int =
    if (tok.length == 1) tok.charAt(0).toInt
    else 256 + Merges.indexWhere { case (a, b) => a + b == tok }

  /** Merge table packed as `leftId * 1024 + rightId` in rank order — the
    * cross-engine form the DuckDB oracle inlines (token ids < 1024), so
    * the oracle SQL is generated from THIS table and cannot drift. */
  def packedKeys: Seq[Int] =
    Merges.map { case (a, b) => idOf(a) * 1024 + idOf(b) }

  // (leftId, rightId) -> merged id, built over byte ids then merge ids
  private val table: java.util.HashMap[Long, Integer] = {
    val m = new java.util.HashMap[Long, Integer]()
    Merges.zipWithIndex.foreach { case ((a, b), rank) =>
      m.put((idOf(a).toLong << 32) | idOf(b).toLong, 256 + rank)
    }
    m
  }

  /** Static kernel shared by interpreted eval and generated code. */
  def encode(bytes: Array[Byte]): Array[Int] = {
    val out = new java.util.ArrayList[Integer](bytes.length)
    var wordStart = 0
    while (wordStart < bytes.length) {
      if (bytes(wordStart) == ' ') {
        out.add(32); wordStart += 1
      } else {
        var wordEnd = wordStart
        while (wordEnd < bytes.length && bytes(wordEnd) != ' ') wordEnd += 1
        val ids = new Array[Int](wordEnd - wordStart)
        var n = ids.length
        var i = 0
        while (i < n) { ids(i) = bytes(wordStart + i) & 0xff; i += 1 }
        // greedy: always merge the lowest-rank (smallest-id) mergeable pair
        var done = false
        while (!done && n > 1) {
          var best = -1
          var bestId = Int.MaxValue
          i = 0
          while (i < n - 1) {
            val hit = table.get((ids(i).toLong << 32) | ids(i + 1).toLong)
            if (hit != null && hit < bestId) { bestId = hit; best = i }
            i += 1
          }
          if (best < 0) done = true
          else {
            ids(best) = bestId
            i = best + 1
            while (i < n - 1) { ids(i) = ids(i + 1); i += 1 }
            n -= 1
          }
        }
        i = 0
        while (i < n) { out.add(ids(i)); i += 1 }
        wordStart = wordEnd
      }
    }
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    arr
  }
}
