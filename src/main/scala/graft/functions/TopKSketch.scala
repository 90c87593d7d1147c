package graft.functions

import java.nio.charset.StandardCharsets
import java.io.{ByteArrayOutputStream, DataOutputStream, DataInputStream, ByteArrayInputStream}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Space-Saving heavy-hitters sketch (Metwally et al., "Efficient
  * Computation of Frequent and Top-k Elements in Data Streams") as a
  * [[TypedImperativeAggregate]]: `topk_sketch(item, capacity)` keeps
  * at most `capacity` counters per group and guarantees every item
  * with true frequency > N/capacity is present, with
  * `count - err <= true <= count`.
  *
  * This is the distributed-top-k shape that scales: the exact
  * alternative (`groupBy(item).count` then rank) shuffles one row
  * per DISTINCT item — at 100 TB of text that's the full vocabulary.
  * The sketch keeps a bounded buffer per group per map task, partial
  * aggregation combines map-side, and the merge (counter sum +
  * cross-summary error accounting, then re-trim) is associative.
  *
  * The buffer pairs the item→counter map with an eviction index (a
  * tree ordered by (count, key desc)) — the stream-summary structure
  * of the paper — so the hot path is O(log capacity) per item, not an
  * O(capacity) min scan per eviction.
  */
case class TopKSketchAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKSketchAgg.Summary] {
  import TopKSketchAgg.{Counter, Summary}

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_sketch"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("err", LongType, nullable = false)
  )), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if capacity > 0 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure("capacity must be positive")
    case t => TypeCheckResult.TypeCheckFailure(s"topk_sketch expects string, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Summary = new Summary

  override def update(buf: Summary, input: InternalRow): Summary = {
    val v = child.eval(input)
    if (v == null) return buf
    TopKSketchAgg.observe(buf, v.asInstanceOf[UTF8String].toString, capacity)
    buf
  }

  override def merge(a: Summary, b: Summary): Summary = {
    if (b.map.isEmpty) return a
    if (a.map.isEmpty) return b
    // an item absent from a full summary may still have occurred up to
    // that summary's min count — fold that in as error
    val minA = if (a.map.size >= capacity) a.order.head._1 else 0L
    val minB = if (b.map.size >= capacity) b.order.head._1 else 0L
    val merged = mutable.HashMap.empty[String, Counter]
    a.map.foreach { case (k, c) =>
      b.map.get(k) match {
        case Some(cb) => merged(k) = Counter(c.count + cb.count, c.err + cb.err)
        case None => merged(k) = Counter(c.count + minB, c.err + minB)
      }
    }
    b.map.foreach { case (k, c) =>
      if (!a.map.contains(k)) merged(k) = Counter(c.count + minA, c.err + minA)
    }
    val kept =
      if (merged.size <= capacity) merged.toSeq
      else merged.toSeq.sortBy { case (k, c) => (-c.count, k) }.take(capacity)
    val out = new Summary
    kept.foreach { case (k, c) => out.add(k, c) }
    out
  }

  override def eval(buf: Summary): Any = {
    val rows = buf.map.toSeq
      .sortBy { case (k, c) => (-c.count, k) }
      .map { case (k, c) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(k), c.count, c.err))
      }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: Summary): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.map.size)
    buf.map.foreach { case (k, c) =>
      val bytes = k.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bytes.length); out.write(bytes)
      out.writeLong(c.count); out.writeLong(c.err)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Summary
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.add(new String(b, StandardCharsets.UTF_8), Counter(in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object TopKSketchAgg {
  /** Mutable counter: observed count and max over-count. */
  final case class Counter(var count: Long, var err: Long)

  /** One Space-Saving observation — the SINGLE update rule, shared by
    * the batch aggregate and the streaming state handler so both
    * paths carry identical bounds. Eviction takes the min-count
    * counter (ties: lexicographically largest item first, for
    * deterministic merges), O(log cap) off the eviction index. */
  def observe(buf: Summary, item: String, capacity: Int): Unit =
    buf.map.get(item) match {
      case Some(c) => buf.bump(item, c)
      case None if buf.map.size < capacity => buf.add(item, Counter(1L, 0L))
      case None =>
        val (mc, mk) = buf.order.head
        buf.remove(mk)
        buf.add(item, Counter(mc + 1, mc))
    }

  /** Item→counter map plus the eviction index: a tree of (count, key)
    * ordered by count asc then key DESC, so `order.head` is always
    * the Space-Saving eviction victim. Both structures are kept in
    * lockstep by [[add]]/[[remove]]/[[bump]]. */
  final class Summary {
    val map: mutable.HashMap[String, Counter] = mutable.HashMap.empty
    val order: mutable.TreeSet[(Long, String)] =
      mutable.TreeSet.empty(Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))

    def add(k: String, c: Counter): Unit = { map(k) = c; order += ((c.count, k)) }
    def remove(k: String): Unit = map.remove(k).foreach(c => order -= ((c.count, k)))
    def bump(k: String, c: Counter): Unit = {
      order -= ((c.count, k)); c.count += 1; order += ((c.count, k))
    }
  }
}
