package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Bounded-state top-k accumulator for the capped Hamming banding:
  * the k SMALLEST (id, fingerprint words) members of a group plus the
  * group's TRUE size, in one hash aggregation whose per-group state is O(k) — a
  * size-k max-heap — regardless of group width.
  *
  * Why not `sort_array(collect_list(...))` + `slice`: collect_list
  * materializes the ENTIRE group in one unspillable aggregation
  * buffer before the slice truncates, so the width-10^7 degenerate
  * family the bucket cap exists for builds a ~10^7-struct array per
  * (combo, key) buffer — executor OOM at real executor sizes even
  * though the capped OUTPUT is tiny. Why not a rank window
  * (row_number <= k+1 → WindowGroupLimit): bounded too, but it pays a
  * per-partition SORT of every keyed row — measured 1.6-1.9× slower
  * than the hash-agg collect at 10^4-10^6 widths (SCALE.md r13) — and
  * silently loses the map-side truncation when k crosses
  * spark.sql.window.group.limit.threshold. This aggregate keeps the
  * hash-agg shape (ObjectHashAggregate; map-side partial merge bounds
  * shuffle volume at k+heap per group per map task) with heap state.
  *
  * Mergeable: partial buffers merge by re-inserting members and
  * summing true counts, so AQE/speculative retries compose exactly.
  * Output: struct(ms: array<struct<id, words…>> — the k smallest, id
  * ASC — n: the true group size). One aggregate serves one- and
  * two-word fingerprints (`sh`, or `lo`/`hi`). ids must be unique within a group (the
  * banding explodes each id once per combo), making the result
  * deterministic. */
object BoundedMinK {
  /** The k smallest-id members of each group with their fingerprint
    * `words` (the names of one or more BIGINT columns: `sh`, or
    * `lo`/`hi`), plus the group's true size. Output struct(ms:
    * array<struct<id, <one field per word, named as its column>>>,
    * n). */
  def collect_min_k(id: Column, words: Seq[String], k: Int): Column =
    GraftSqlBridge.column(CollectMinK(GraftSqlBridge.expression(id),
      words.map(w => GraftSqlBridge.expression(col(w))), words, k)
      .toAggregateExpression())
}

/** O(k) max-heap on id: keeps the k smallest ids seen with their
  * `nWords`-Long payloads (member i's words at `words(i·nWords …)`),
  * counts all. */
final class MinKState(val k: Int, val nWords: Int) {
  val ids = new Array[Long](k)
  val words = new Array[Long](k * nWords)
  var size = 0
  var total = 0L

  private def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    var w = 0
    while (w < nWords) {
      val a = i * nWords + w; val b = j * nWords + w
      val tw = words(a); words(a) = words(b); words(b) = tw
      w += 1
    }
  }
  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && ids((i - 1) / 2) < ids(i)) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }
  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && ids(l) > ids(m)) m = l
      if (r < size && ids(r) > ids(m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }
  /** Offer a member without counting (merge path); its words are
    * `ws(from …)`. */
  def offer(id: Long, ws: Array[Long], from: Int): Unit = {
    if (size < k) {
      ids(size) = id; System.arraycopy(ws, from, words, size * nWords, nWords)
      size += 1; siftUp(size - 1)
    } else if (k > 0 && id < ids(0)) {
      ids(0) = id; System.arraycopy(ws, from, words, 0, nWords); siftDown()
    }
  }
}

case class CollectMinK(idExpr: Expression, wordExprs: Seq[Expression],
                       wordNames: Seq[String], k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MinKState] {
  require(k >= 1, s"k out of range: $k")
  require(wordExprs.nonEmpty && wordExprs.size == wordNames.size,
    s"one name per word: ${wordExprs.size} words, names $wordNames")

  private def nWords = wordExprs.size
  override def children: Seq[Expression] = idExpr +: wordExprs
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("ms", ArrayType(StructType(
      (StructField("id", LongType, nullable = false) +:
        wordNames.map(StructField(_, LongType, nullable = false)))),
      containsNull = false), nullable = false),
    StructField("n", LongType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected BIGINT id and words, got ${children.map(_.dataType).mkString(" / ")}")

  override def createAggregationBuffer(): MinKState = new MinKState(k, nWords)

  // reused per-row word buffer of update (offer copies out of it)
  @transient private lazy val rowWords = new Array[Long](nWords)

  override def update(b: MinKState, input: InternalRow): MinKState = {
    // `n` is the TRUE group size including null members — the
    // count(lit(1)) this aggregate replaced counted every keyed row,
    // and the over-cap sentinel keys off `n`, so a bucket straddling
    // the cap only via null-fingerprint rows must still trip it.
    // Null members (a null id or any null word) stay out of the heap,
    // as collect_list dropped them.
    b.total += 1
    val id = idExpr.eval(input)
    var complete = id != null
    var w = 0
    while (complete && w < nWords) {
      val v = wordExprs(w).eval(input)
      complete = v != null
      if (complete) { rowWords(w) = v.asInstanceOf[Long]; w += 1 }
    }
    if (complete) b.offer(id.asInstanceOf[Long], rowWords, 0)
    b
  }

  override def merge(b: MinKState, o: MinKState): MinKState = {
    b.total += o.total
    var i = 0
    while (i < o.size) { b.offer(o.ids(i), o.words, i * nWords); i += 1 }
    b
  }

  override def eval(b: MinKState): Any = {
    val order = (0 until b.size).sortBy(b.ids(_))
    new GenericInternalRow(Array[Any](
      new GenericArrayData(order.map { i =>
        new GenericInternalRow((b.ids(i) +: (0 until nWords).map(w =>
          b.words(i * nWords + w))).toArray[Any]): Any
      }.toArray),
      b.total))
  }

  override def serialize(b: MinKState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 8 * (1 + nWords) * b.size)
    bb.putLong(b.total).putInt(b.size)
    var i = 0
    while (i < b.size) {
      bb.putLong(b.ids(i))
      var w = 0
      while (w < nWords) { bb.putLong(b.words(i * nWords + w)); w += 1 }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MinKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new MinKState(k, nWords)
    b.total = bb.getLong()
    val n = bb.getInt()
    val ws = new Array[Long](nWords)
    var i = 0
    while (i < n) {
      val id = bb.getLong()
      var w = 0
      while (w < nWords) { ws(w) = bb.getLong(); w += 1 }
      b.offer(id, ws, 0)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectMinK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectMinK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CollectMinK =
    copy(idExpr = c.head, wordExprs = c.tail)
}
