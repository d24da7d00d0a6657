package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** One-pass per-document repetition statistics — the flat-loop scale
  * path of `graft.llm.Spans.repetitionStats`.
  *
  * The expression-chain route (positional-gram string ladders +
  * `array_distinct` + an `aggregate` HOF run fold) evaluates
  * interpreted lambda trees per element with boxing — measured at
  * ~33 s for 5M documents at sf10 once the bench forced real
  * execution. This kernel hashes each token once and computes every
  * statistic in primitive-Long arithmetic: distinct window counts via
  * sorted copies (`java.util.Arrays.sort` on long[]), the top-token
  * run from the sorted token hashes. O(d log d) per document, no
  * boxing, inside WholeStageCodegen.
  *
  * Output (ARRAY<BIGINT>, fixed layout):
  *   [n_tokens, total2, distinct2, total3, distinct3, topRun]
  * where totalK/distinctK are positional K-gram window counts. Two
  * tokens/windows are equal iff their 64-bit chained hashes are
  * (modulo collisions — the same contract as the span-dedup hash
  * path; the doc-level ratios are hash-function-invariant and
  * SpansSpec pins them against the string expressions). */
object RepetitionStats64 {

  def repetition_stats(words: Column): Column =
    GraftSqlBridge.column(RepetitionStatsExpr(
      GraftSqlBridge.expression(words)))

  private def distinctCount(a: Array[Long]): Long = {
    if (a.isEmpty) return 0L
    java.util.Arrays.sort(a)
    var d = 1L
    var i = 1
    while (i < a.length) { if (a(i) != a(i - 1)) d += 1; i += 1 }
    d
  }

  def eval(words: ArrayData): ArrayData = {
    val m = words.numElements()
    val tok = new Array[Long](m)
    var i = 0
    while (i < m) {
      tok(i) = MinHashBands.hashString(words.getUTF8String(i), 42L)
      i += 1
    }
    def windowHashes(n: Int): Array[Long] = {
      if (m < n) return Array.empty[Long]
      val out = new Array[Long](m - n + 1)
      var i = 0
      while (i <= m - n) {
        var h = 42L
        var j = i
        while (j < i + n) { h = MinHashBands.hashLong(tok(j), h); j += 1 }
        out(i) = h
        i += 1
      }
      out
    }
    val w2 = windowHashes(2)
    val w3 = windowHashes(3)
    val total2 = w2.length.toLong
    val total3 = w3.length.toLong
    val d2 = distinctCount(w2) // sorts in place; counts already taken
    val d3 = distinctCount(w3)
    // top-token run over the sorted token hashes
    val sortedTok = tok.clone()
    java.util.Arrays.sort(sortedTok)
    var top = 0L
    var run = 0L
    i = 0
    while (i < m) {
      if (i == 0 || sortedTok(i) != sortedTok(i - 1)) run = 1L else run += 1L
      if (run > top) top = run
      i += 1
    }
    ArrayData.toArrayData(Array(m.toLong, total2, d2, total3, d3, top))
  }
}

/** See [[RepetitionStats64]]; codegen'd, deterministic (fixed seed). */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(words: Any): Any =
    RepetitionStats64.eval(words.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats64.eval($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
