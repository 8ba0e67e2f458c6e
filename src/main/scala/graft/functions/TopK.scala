package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Bounded per-group top-k by score as a mergeable aggregate — the
  * double-score twin of [[BottomK]].
  *
  * `top_k_by_score(struct(score: double, id: long), k)` keeps the k
  * rows with the largest (score, −id) — i.e. score DESC, id ASC on
  * ties — and emits them sorted. Why this exists when a `row_number`
  * window computes the same rows: the window SORTS THE WHOLE GROUP.
  * For the kNN graph build, the group is a query's scored candidate
  * set (~nprobe·avg_list rows), and with every corpus vector a query
  * the window's shuffle is the full n·nprobe·avg_list pair table —
  * measured as a ~2.5-billion-row sort at the 100× probe, the build's
  * actual bottleneck. The aggregate's partial buffers cap the shuffle
  * at one k-element state per (group, map partition): the pair table
  * still gets SCORED (irreducible), but never sorted or moved.
  *
  * Deterministic regardless of arrival order: (score, id) is a total
  * order, so the k-set and its sorted output are unique — retried
  * tasks and partition re-splits cannot change the result, and the
  * oracle's window replay ranks identically.
  *
  * Deployment note: TypedImperativeAggregates execute under
  * `ObjectHashAggregateExec`, whose default
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128
  * distinct groups per partition) silently reverts to sort-based
  * aggregation — re-introducing the very sort this aggregate avoids.
  * Jobs with many groups (the kNN graph has one per query vector) must
  * raise it; the k-element buffers keep even millions of groups within
  * ordinary executor memory ([[graft.Session]] raises it for every
  * main; the measured before/after is in NOTES.md "Round 8: kNN graph
  * + semantic clusters + cluster quota").
  */
case class TopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "top_k_by_score requires k > 0")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  // keep-largest under (score, −id): min-heap on that order — the head
  // is the WEAKEST retained candidate, evicted when a stronger arrives
  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse)

  private def stronger(a: (Double, Long), b: (Double, Long)): Boolean =
    ord.gt(a, b)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord.reverse)

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      // both fields must be present: a null id read via getLong would
      // fabricate vector id 0 instead of being skipped
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        // canonicalize -0.0 → 0.0 so the heap's total order agrees with
        // Spark SQL double comparison (which treats them equal) at a
        // k-boundary tie — the window-replay law depends on this
        val s0 = row.getDouble(0)
        val e = (if (s0 == 0.0) 0.0 else s0, row.getLong(1))
        if (buf.size < k) buf.enqueue(e)
        else if (stronger(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
      }
    }
    buf
  }

  override def merge(a: mutable.PriorityQueue[(Double, Long)],
      b: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b.foreach { e =>
      if (a.size < k) a.enqueue(e)
      else if (stronger(e, a.head)) { a.dequeue(); a.enqueue(e) }
    }
    a
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any =
    new GenericArrayData(buf.toSeq.sorted(ord.reverse).map { case (s, id) =>
      new GenericInternalRow(Array[Any](s, id))
    }.toArray[Any])

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((in.readDouble(), in.readLong())))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopK = copy(child = newChildren.head)
}

object TopK {
  /** Column API: `top_k_by_score(struct(score, id), k)` → array of
    * struct<score,id>, score DESC with id ASC tie-break, length ≤ k. */
  def top_k_by_score(child: Column, k: Int): Column =
    Shim.column(TopK(Shim.expression(child), k).toAggregateExpression())
}
