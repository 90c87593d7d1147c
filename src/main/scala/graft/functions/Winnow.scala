package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Winnowing fingerprints as a map-only native expression:
  * `winnow_fps(tokens, n, window)` → sorted distinct minima of every
  * `window`-gram sliding window over the doc's word n-gram hashes
  * (Schleimer/Wilkerson/Aiken winnowing, trailing windows truncated).
  *
  * Same argument as [[SimHash64]]/[[MinHashSig]]: the relational
  * formulation (posexplode grams → per-doc window-min → distinct)
  * shuffles and SORTS the whole gram stream to compute a pure
  * per-document set. Hashing replicates the `xxhash64` chains of the
  * relational pipeline, so the fingerprint VALUES are bit-identical
  * (equivalence-spec'd); the sliding min runs in O(grams) with a
  * monotonic deque.
  */
case class WinnowFps(child: Expression, n: Int, window: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 && window > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure("n and window must be positive")
    case t => TypeCheckResult.TypeCheckFailure(s"winnow_fps expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    WinnowFps.compute(v.asInstanceOf[ArrayData], n, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFps.compute($c, $n, $window)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFps {
  /** Static entry point shared by eval and codegen. */
  def compute(tokens: ArrayData, n: Int, window: Int): GenericArrayData = {
    val nTok = tokens.numElements()
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val nGrams = nTok - n + 1
    // token hashes then gram hashes, same chains as wordGramHashes
    val th = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      // null elements hash to the bare seed, like xxhash64(NULL):
      // SQL-exposed, must not NPE (see MinHashSig)
      if (tokens.isNullAt(i)) th(i) = 42L
      else {
        val t = tokens.getUTF8String(i)
        th(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      }
      i += 1
    }
    val g = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) {
      var h = 42L
      var j = 0
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      g(i) = h
      i += 1
    }
    // sliding min over [i, min(i+window-1, end)] for every i, via a
    // REVERSE pass with a monotonic deque (the mirror of the classic
    // left-to-right algorithm: insert at the front, so values decrease
    // front→back and the window minimum sits at the BACK; trailing
    // windows truncate exactly like rowsBetween(0, w-1))
    val out = mutable.SortedSet.empty[Long]
    val deque = new java.util.ArrayDeque[Int]()
    i = nGrams - 1
    while (i >= 0) {
      while (!deque.isEmpty && deque.peekLast() > i + window - 1) deque.pollLast()
      while (!deque.isEmpty && g(deque.peekFirst()) >= g(i)) deque.pollFirst()
      deque.addFirst(i)
      out += g(deque.peekLast())
      i -= 1
    }
    new GenericArrayData(out.toArray)
  }
}
