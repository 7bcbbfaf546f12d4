package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Aggregation state for [[TopKByScore]]: the current top ≤ k
  * (score, id) pairs kept SORTED in the keep order (score desc, id asc).
  * k is small by contract (an ANN top-k), so sorted-array insertion —
  * O(k) worst case, one branch for the common "worse than the current
  * k-th" reject — beats a heap with its allocation and constant factor. */
final class TopKBuffer(k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n: Int = 0

  /** true iff (s1, i1) orders before (s2, i2) in (score desc, id asc). */
  @inline def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long): Unit = {
    if (n == scores.length && !before(s, id, scores(n - 1), ids(n - 1))) return
    var pos = if (n == scores.length) n - 1 else n
    while (pos > 0 && before(s, id, scores(pos - 1), ids(pos - 1))) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = id
    if (n < scores.length) n += 1
  }
}

/** Bounded per-group top-k by (score DESC, id ASC) as a native
  * `TypedImperativeAggregate`: every map-side partial and every merge
  * holds AT MOST k entries whatever the group size, and partials merge
  * exactly (a total order selects a unique top-k set in a unique order,
  * so the merged buffer equals the buffer over the union — the result
  * is BIT-IDENTICAL to the batch `row_number() OVER (ORDER BY score
  * DESC, id ASC) <= k` window, selected set and order both).
  *
  * This is the streaming answer to a per-group top-k: window functions
  * are unsupported on streams and `collect_list` buffers the whole
  * group (a probed ANN candidate list is corpus/numCentroids·nprobe
  * rows — unbounded as the corpus grows), while this buffer is k cells
  * at any scale. Null score or id contributes nothing. */
case class TopKByScore(score: Expression, id: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ExpectsInputTypes {

  require(k > 0, s"k must be positive, got $k")

  // update reads a Double score and a Long id: any other input fails analysis
  override def inputTypes = Seq(DoubleType, LongType)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    var j = 0
    while (j < o.n) { b.insert(o.scores(j), o.ids(j)); j += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val rows = new Array[Any](b.n)
    var j = 0
    while (j < b.n) { rows(j) = InternalRow(b.ids(j), b.scores(j)); j += 1 }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.n * 16)
    bb.putInt(b.n)
    var j = 0
    while (j < b.n) { bb.putDouble(b.scores(j)); bb.putLong(b.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = new TopKBuffer(k)
    var j = 0
    // entries arrive already in keep order: append directly
    while (j < n) { b.scores(j) = bb.getDouble(); b.ids(j) = bb.getLong(); j += 1 }
    b.n = n
    b
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = score :: id :: Nil
  override def prettyName: String = "top_k_by_score"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  /** Aggregate Column: array<struct<id, score>> — the group's top k by
    * (score desc, id asc), in that order. */
  def topK(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(
      TopKByScore(GraftBridge.expression(score.cast("double")),
        GraftBridge.expression(id.cast("long")), k).toAggregateExpression())
}
