package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash-LSH band hashes of one shingle set: the engine's only
  * implementation of its MinHash family, one codegen'd fold per row.
  *
  * The family (Broder's min-wise permutations, 64 hashes derived
  * Kirsch-Mitzenmacher style from two base hashes):
  *  - per shingle s: h1 = xxhash64(0, s), h2 = xxhash64(1, s);
  *  - per index j < bands·rows: mh_j = min over s of xxhash64(j, h1, h2);
  *  - per band b: xxhash64(b, mh_{b·rows}, …, mh_{b·rows+rows-1}).
  * Each is Spark's `xxhash64` (seed 42; indexes hash as ints, the rest
  * as longs, folding left to right through the running seed), called
  * through `XXH64` without boxing, so the values equal those columns
  * bit for bit. A null shingle is skipped, as Spark skips a null
  * argument. Each shingle is read twice and each mh_j is a fixed
  * 16-byte mix; the outer hash's avalanche makes the mh_j behave as
  * independent draws (h1 + j·h2 would overflow under ANSI, and an
  * XOR-rotate family is pairwise correlated), so the b·r S-curve
  * recall analysis applies.
  *
  * Output: the `bands` band hashes in band order, or null for a null or
  * empty shingle set — a document with no shingles has no signature.
  */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  require(bands >= 1 && rows >= 1 && bands * rows <= MinHashBands.MaxHashes,
    s"signature width is capped at ${MinHashBands.MaxHashes} hashes, " +
      s"got $bands bands x $rows rows")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashBands.compute($c, $bands, $rows);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashBands {

  private val MaxHashes = 64

  /** xxhash64 of the int literal j, seed 42: the first step of every
    * `xxhash64(lit(j), …)` fold, constant per index. */
  private val indexSeeds: Array[Long] =
    Array.tabulate(MaxHashes)(j => XXH64.hashInt(j, 42L))

  /** Spark's `xxhash64` of one string argument from a running seed
    * (a null argument is skipped, as Spark skips it). The engine's
    * other token-hash kernels share it. */
  def hashString(s: UTF8String, seed: Long): Long =
    if (s == null) seed
    else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Spark's `xxhash64` of one long argument from a running seed. */
  def hashLong(l: Long, seed: Long): Long = XXH64.hashLong(l, seed)

  def compute(sh: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val numHashes = bands * rows
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      val h1 = hashString(s, indexSeeds(0))
      val h2 = hashString(s, indexSeeds(1))
      var j = 0
      while (j < numHashes) {
        val hj = hashLong(h2, hashLong(h1, indexSeeds(j)))
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = indexSeeds(b)
      var r = 0
      while (r < rows) { h = hashLong(mins(b * rows + r), h); r += 1 }
      out(b) = h
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** The band hashes of an `array<string>` shingle column. */
  def minhashBands(sh: Column, bands: Int, rows: Int): Column =
    GraftSqlBridge.column(MinHashBands(GraftSqlBridge.expression(sh), bands, rows))
}
