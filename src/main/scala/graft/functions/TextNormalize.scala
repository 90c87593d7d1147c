package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization as native Catalyst expressions.
  *
  * Spark SQL has no Unicode-normalization builtin; a Scala UDF would
  * break whole-stage codegen and box every row. These expressions
  * call the JDK's `java.text.Normalizer` (the Unicode-standard
  * algorithm — the same NFC/NFD the reference engines implement)
  * through a static helper, staying inside codegen.
  *
  * Canonicalization is the first step of every dedup/text pipeline:
  * NFC folds combining sequences ("e" + U+0301 → "é") so exact dedup
  * and gram hashing see one representation; accent stripping (NFD +
  * drop combining marks) is the classic search-key fold.
  */
object TextNormalize {
  /** NFC-normalize (codegen entry point). */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(Normalizer.normalize(s.toString, Normalizer.Form.NFC))

  /** Strip accents: NFD-decompose, drop combining marks (Mn), recompose.
    * (codegen entry point) */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }
}

abstract class UnaryStringNormalize extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got ${t.simpleString}")
  }
  /** Fully-qualified static method backing this expression. */
  protected def staticCall: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$staticCall($c)")
}

/** `nfc_norm(s)`: Unicode NFC canonical composition. */
case class NfcNormalize(child: Expression) extends UnaryStringNormalize {
  override def prettyName: String = "nfc_norm"
  override protected def staticCall: String = "graft.functions.TextNormalize.nfc"
  override def nullSafeEval(s: Any): Any = TextNormalize.nfc(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** `strip_accents(s)`: drop combining marks after NFD decomposition. */
case class StripAccents(child: Expression) extends UnaryStringNormalize {
  override def prettyName: String = "strip_accents"
  override protected def staticCall: String = "graft.functions.TextNormalize.stripAccents"
  override def nullSafeEval(s: Any): Any = TextNormalize.stripAccents(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
