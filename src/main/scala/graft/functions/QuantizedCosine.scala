package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType}

/** Cosine similarity over int8-quantized embeddings:
  * `cosine_sim_i8(a, b)` with `a`, `b` as `array<tinyint>`.
  *
  * Scalar int8 quantization (`round(127·x / max|x|)`) is the standard
  * first lever for ANN at scale: 4× less memory bandwidth than
  * float32 — at 100 TB of embeddings the scan is bandwidth-bound, so
  * that is ≈4× scan throughput — while cosine needs NO dequantization
  * at all: per-vector scale factors cancel in the ratio, so the
  * integer dot/norms give the quantized cosine directly. Accumulation
  * is exact 64-bit integer arithmetic (deterministic at any
  * parallelism); only the final division is floating point.
  *
  * Null ELEMENTS read as 0 (contribute nothing), matching
  * [[CosineSimilarity]].
  */
case class QuantizedCosine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_i8"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(ByteType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim_i8 expects (array<tinyint>, array<tinyint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    QuantizedCosine.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.QuantizedCosine.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object QuantizedCosine {
  /** Static entry point shared by eval and codegen. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0L else a.getByte(i).toLong
      val y = if (b.isNullAt(i)) 0L else b.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }
}
