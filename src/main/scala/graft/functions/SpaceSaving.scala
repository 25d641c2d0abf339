package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `space_saving(item, k)`: the Metwally space-saving heavy-hitters
  * sketch as a TypedImperativeAggregate — constant O(k) state per
  * partial regardless of stream length, mergeable, with the classic
  * NO-FALSE-NEGATIVE guarantee: any item with true frequency > N/k is
  * present in the summary. That guarantee is what makes the sketch
  * USABLE as a candidate generator: sketch pass (one shuffle of k-entry
  * partials) → exact recount restricted to the ≤k candidates → filter
  * by the exact threshold, and the output equals the exact heavy-hitter
  * set — approximation in the pipeline, exactness in the answer
  * (the approx_count_distinct / bloom-decontaminate design pattern).
  *
  * Merge rule (Cafaro/Agarwal mergeable-summaries form): an item absent
  * from a SATURATED side contributes that side's minimum counter (its
  * maximum possible undercount there), absent from an unsaturated side
  * contributes 0; keep the k largest. This preserves the overestimate
  * invariant est(x) ≥ freq(x), which is what the guarantee rests on.
  *
  * Eviction scans for the min counter — O(k) per eviction, fine at
  * k ≤ a few thousand (a production k≫10⁴ variant would keep a
  * min-heap beside the map; same state, same merge). The buffer holds
  * counts only: the per-entry error bound of the classic form is never
  * read, since the consumer recounts the candidates exactly.
  */
case class SpaceSavingAgg(
    child: Expression,
    capacity: Int = 512,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]]
  with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "space_saving"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      SpaceSaving.offer(buf, v.asInstanceOf[UTF8String].toString, capacity)
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    def minOf(m: mutable.HashMap[String, Long]): Long =
      if (m.size < capacity) 0L
      else m.valuesIterator.min
    val minA = minOf(a)
    val minB = minOf(b)
    val out = mutable.HashMap.empty[String, Long]
    (a.keySet ++ b.keySet).foreach { k =>
      out.update(k, a.getOrElse(k, minA) + b.getOrElse(k, minB))
    }
    if (out.size <= capacity) out
    else {
      val keep = out.toSeq.sortBy { case (k, c) => (-c, k) }.take(capacity)
      mutable.HashMap(keep: _*)
    }
  }

  /** Candidate items only — counts are overestimates by design; the
    * consumer recounts exactly. Sorted for deterministic output.
    */
  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.keysIterator.toArray.sorted.map(UTF8String.fromString(_): AnyRef))

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      m.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpaceSavingAgg =
    copy(child = newChild)
}

object SpaceSaving {
  /** Counts one occurrence of `item` in a summary of at most `capacity`
    * entries: a present item counts up, a new one enters while there is
    * room, and otherwise replaces the minimum-count entry and takes its
    * count + 1 (an overestimate, never an undercount).
    */
  def offer(m: mutable.HashMap[String, Long], item: String, capacity: Int): Unit =
    m.get(item) match {
      case Some(c) => m.update(item, c + 1)
      case None if m.size < capacity => m.update(item, 1L)
      case None =>
        val (mk, mc) = m.minBy(_._2)
        m.remove(mk)
        m.update(item, mc + 1)
    }

  def space_saving(c: Column, capacity: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      SpaceSavingAgg(
        org.apache.spark.sql.GraftExpressionBridge.expression(c),
        capacity).toAggregateExpression())
}
