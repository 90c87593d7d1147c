package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Element-wise aggregation over `array<long>` columns: one buffer of
  * fixed width per group instead of exploding N array elements into
  * N shuffle rows.
  *
  * SimHash needs Σ per bit (64 values/doc) and MinHash needs min per
  * seed (k values/doc); expressing either with `explode` multiplies
  * the shuffle input 64× / k×. These [[TypedImperativeAggregate]]s
  * keep the array whole: partial aggregation combines map-side, the
  * shuffle carries one `long[n]` buffer per group per map task, and
  * the merge is an element-wise fold — the same pattern sketches
  * (HLL, CPC) use.
  */
abstract class ElementwiseLongAgg extends TypedImperativeAggregate[Array[Long]] {
  def child: Expression
  protected def combine(a: Long, b: Long): Long

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<bigint>, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // null elements read as 0 — the convention all graft vector
    // expressions share; reading an UnsafeArrayData null slot blindly
    // yields format-dependent garbage.
    def elem(i: Int): Long = if (arr.isNullAt(i)) 0L else arr.getLong(i)
    if (buffer.isEmpty) {
      val fresh = new Array[Long](n)
      var i = 0
      while (i < n) { fresh(i) = elem(i); i += 1 }
      fresh
    } else {
      var i = 0
      val m = math.min(n, buffer.length)
      while (i < m) { buffer(i) = combine(buffer(i), elem(i)); i += 1 }
      buffer
    }
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] =
    if (buffer.isEmpty) other
    else if (other.isEmpty) buffer
    else {
      var i = 0
      val m = math.min(buffer.length, other.length)
      while (i < m) { buffer(i) = combine(buffer(i), other(i)); i += 1 }
      buffer
    }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.length)
    bb.putInt(buffer.length)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    out
  }
}

/** Element-wise sum: vec_sum(array<long>) -> array<long>. */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ElementwiseLongAgg {
  override protected def combine(a: Long, b: Long): Long = a + b
  override def prettyName: String = "vec_sum"
  override def withNewMutableAggBufferOffset(o: Int): VectorSumAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSumAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** Element-wise min: vec_min(array<long>) -> array<long>. */
case class VectorMinAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends ElementwiseLongAgg {
  override protected def combine(a: Long, b: Long): Long = math.min(a, b)
  override def prettyName: String = "vec_min"
  override def withNewMutableAggBufferOffset(o: Int): VectorMinAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMinAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** Element-wise double sum over `array<float>`/`array<double>`
  * columns: vec_sum_d(array<T>) -> array<double>. Powers centroid
  * computation (IVF) — the mean is sum/count downstream. */
case class VectorSumDoubleAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Double]] {
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sum_d"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<float|double>, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    def elem(i: Int): Double =
      if (arr.isNullAt(i)) 0.0
      else if (isFloat) arr.getFloat(i).toDouble
      else arr.getDouble(i)
    if (buffer.isEmpty) Array.tabulate(n)(elem)
    else {
      var i = 0
      val m = math.min(n, buffer.length)
      while (i < m) { buffer(i) += elem(i); i += 1 }
      buffer
    }
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] =
    if (buffer.isEmpty) other
    else if (other.isEmpty) buffer
    else {
      var i = 0
      val m = math.min(buffer.length, other.length)
      while (i < m) { buffer(i) += other(i); i += 1 }
      buffer
    }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.length)
    bb.putInt(buffer.length)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bb.getInt)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorSumDoubleAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorSumDoubleAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}
