package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Positional word n-gram HASHES in one flat pass — the scale path of
  * the span-dedup family (`graft.llm.Spans`).
  *
  * The string route builds every window's gram text through a
  * zip-with concat ladder (O(n²) characters allocated per window
  * across n-1 intermediate arrays) and then hashes it — measured as
  * the dominant cost of q72/q78 once the bench forced real execution
  * (~13 s for 23M windows at sf10). This kernel hashes each token
  * once (Spark's `xxhash64`, via [[MinHashBands.hashString]]) and
  * chains the n token hashes per window in pure Long arithmetic — no
  * intermediate strings, O(len·n) Long ops per document, inside
  * WholeStageCodegen.
  *
  * Window h equals window h' iff their token sequences match (modulo
  * 64-bit collisions, as with hashing the gram text) — the doc-level
  * span statistics are hash-function-invariant, which is what
  * SpansSpec's hashed==string pins actually assert. */
object NgramHashes {

  def ngram_hashes(words: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1: $n")
    GraftSqlBridge.column(NgramHashes64(
      GraftSqlBridge.expression(words), n))
  }

  def eval(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return ArrayData.toArrayData(Array.empty[Long])
    val tok = new Array[Long](m)
    var i = 0
    while (i < m) {
      tok(i) = MinHashBands.hashString(words.getUTF8String(i), 42L)
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var h = 42L
      var j = i
      while (j < i + n) { h = MinHashBands.hashLong(tok(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** See [[NgramHashes]]; codegen'd, deterministic (fixed seed). */
case class NgramHashes64(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(words: Any): Any =
    NgramHashes.eval(words.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramHashes.eval($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
