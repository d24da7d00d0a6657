package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Batch-bounded Hamming membership kernel: given one 64-bit
  * fingerprint and an id-aligned pair of Long arrays (the BROADCAST
  * arriving batch's ids and fingerprints), return the ids whose
  * fingerprint sits within `maxHamming` — a flat xor/popcount loop
  * inside WholeStageCodegen.
  *
  * Why this beats the banding probe for SMALL query sets: the banding
  * form pays a 36-combo (C(9,2)) map-side key EXPANSION of the whole
  * store — measured 30.4 s to materialize at a 5M-row store vs 0.42 s
  * for the bare columnar scan (SCALE.md r13, q103) — while this kernel keeps
  * the store scan bare and does |store|·|batch| popcounts map-side
  * (2.4G popcounts ≈ the scan floor at a 487-doc batch). The banding
  * probe stays the shape for LARGE query sets, where |batch| popcounts
  * per store row would exceed the fixed 36-key expansion
  * ([[graft.llm.Dedup.hammingProbeTouch]] dispatches on batch size). */
object HammingKernels {

  def touchedIds(sh: Long, ids: ArrayData, shs: ArrayData,
                 maxHamming: Int): ArrayData = {
    val n = math.min(ids.numElements(), shs.numElements())
    var count = 0
    var i = 0
    while (i < n) {
      if (java.lang.Long.bitCount(sh ^ shs.getLong(i)) <= maxHamming)
        count += 1
      i += 1
    }
    val out = new Array[Long](count)
    var j = 0
    i = 0
    while (i < n) {
      if (java.lang.Long.bitCount(sh ^ shs.getLong(i)) <= maxHamming) {
        out(j) = ids.getLong(i); j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column form of [[touchedIds]]; `ids`/`shs` must be index-aligned
    * (built from one `collect_list(struct(id, sh))` so row order cannot
    * diverge between them). */
  def hamming_touched_ids(sh: Column, ids: Column, shs: Column,
                          maxHamming: Int): Column =
    GraftSqlBridge.column(HammingTouchedIds(
      GraftSqlBridge.expression(sh), GraftSqlBridge.expression(ids),
      GraftSqlBridge.expression(shs), maxHamming))
}

/** See [[HammingKernels.touchedIds]] — codegen'd flat loop. */
case class HammingTouchedIds(first: Expression, second: Expression,
                             third: Expression, maxHamming: Int)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (first.dataType == LongType && arr(second.dataType) &&
        arr(third.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected (BIGINT, ARRAY<BIGINT>, ARRAY<BIGINT>), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }
  override def nullSafeEval(sh: Any, ids: Any, shs: Any): Any =
    HammingKernels.touchedIds(sh.asInstanceOf[Long],
      ids.asInstanceOf[ArrayData], shs.asInstanceOf[ArrayData], maxHamming)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (sh, ids, shs) =>
      s"graft.functions.HammingKernels.touchedIds($sh, $ids, $shs, $maxHamming)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
}
