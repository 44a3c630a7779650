package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types._

/** Top-k (score, id) aggregate as a native `TypedImperativeAggregate`: each
  * partition keeps a bounded k-heap, partial buffers (≤ k entries, ~16k
  * bytes) merge associatively — so a billion-row group shuffles k rows, not
  * the group. This is the aggregate the ANN top-k path needs and Spark
  * doesn't ship (`max_by` is k=1).
  *
  * Ordering: score descending, id ascending on ties — fully deterministic.
  * Output: `array<struct<score double, id bigint>>` sorted best-first.
  * Null scores are ignored (contribute nothing).
  *
  * `distinctIds = true` keeps the top k of the input's DISTINCT entries:
  * an entry equal (in the heap order) to one already held is not added
  * again, so the result equals `distinct()` followed by the default mode
  * without the distinct's shuffle. An entry is compared against the
  * heap's contents (O(k)) only once it has qualified — the heap has room
  * or the entry beats the current worst — and `merge` applies the same
  * rule. Where the score is a function of the id (the KMV bottom-k in
  * [[graft.operators.Sketches]]) this is distinct ids. The buffer and its
  * serialized form are the same in both modes.
  */
case class TopKByScore(scoreExpr: Expression, idExpr: Expression, k: Int,
                       distinctIds: Boolean = false,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))
  override def prettyName: String = "top_k_by_score"

  // eviction order: head = WORST entry = lowest score, then highest id
  private val evictOrd: Ordering[(Double, Long)] =
    Ordering.by { case (s, id) => (-s, id) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(evictOrd)

  private def offer(buf: mutable.PriorityQueue[(Double, Long)],
                    e: (Double, Long)): Unit =
    if (!distinctIds) {
      buf.enqueue(e)
      if (buf.size > k) buf.dequeue()
    } else if (buf.size < k || evictOrd.gt(buf.head, e)) {
      // an entry already held (or one no better than the worst) is a
      // duplicate of the distinct set's top k, or outside it
      if (!buf.exists(x => evictOrd.equiv(x, e))) {
        buf.enqueue(e)
        if (buf.size > k) buf.dequeue()
      }
    }

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      offer(buf, (s.asInstanceOf[Double], id.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sortBy { case (s, id) => (-s, id) }
    new GenericArrayData(sorted.map { case (s, id) =>
      InternalRow(s, id)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKByScore {
  /** Column-API entry point: `top_k_by_score(score, id, k)`. */
  def apply(score: Column, id: Column, k: Int): Column =
    apply(score, id, k, distinctIds = false)

  /** Column-API entry point with the mode chosen (see the class scaladoc). */
  def apply(score: Column, id: Column, k: Int, distinctIds: Boolean): Column =
    Bridge.column(TopKByScore(
      Bridge.expression(score), Bridge.expression(id), k, distinctIds)
      .toAggregateExpression())
}
