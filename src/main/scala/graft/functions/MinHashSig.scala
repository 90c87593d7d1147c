package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native MinHash signature over a token array:
  * `minhash_sig(tokens, n, k)` → `array<long>` of the k seeded
  * minima over the doc's word n-gram hashes, or NULL when the doc has
  * fewer than n tokens (mirroring "no grams → no signature row").
  *
  * Like [[SimHash64]], this turns the relational pipeline (gram
  * explode → per-(doc,seed) min aggregation) into a single narrow
  * map: at scale the explode shuffles one row per gram — the whole
  * corpus again — while the signature is a pure per-document value.
  * Hashing replicates Spark's `xxhash64` chains exactly (token hash =
  * seed-42 bytes hash; gram hash = fold of n token hashes; seeded
  * probe = int seed then gram), so signatures are bit-identical to
  * the relational formulation and the LSH band stage downstream is
  * unchanged. Min over the gram MULTISET equals min over the distinct
  * gram set, so no dedup pass is needed.
  */
case class MinHashSig(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 && k > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure("n and k must be positive")
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_sig expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val compute = s"graft.functions.MinHashSig.compute"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $compute($c, $n, $k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  /** Static entry point shared by eval and codegen. Returns null when
    * the doc has fewer than n tokens. */
  def compute(tokens: ArrayData, n: Int, k: Int): GenericArrayData = {
    val nTok = tokens.numElements()
    if (nTok < n) return null
    // token hashes, identical to Spark's xxhash64(token); a null
    // element hashes to the bare seed (exactly what xxhash64(NULL)
    // returns — null args leave the chain untouched) — the function
    // is SQL-exposed, so a null array element must not NPE the task
    val th = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      if (tokens.isNullAt(i)) th(i) = 42L
      else {
        val t = tokens.getUTF8String(i)
        th(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      }
      i += 1
    }
    // per-seed base hashes (xxhash64's running chain starts at the
    // int seed hashed with 42) — hoisted out of the gram loop
    val seedBase = new Array[Long](k)
    var s = 0
    while (s < k) { seedBase(s) = XXH64.hashInt(s, 42L); s += 1 }

    val sig = Array.fill(k)(Long.MaxValue)
    i = 0
    while (i <= nTok - n) {
      // gram hash: xxhash64(th[i], ..., th[i+n-1]) chain
      var g = 42L
      var j = 0
      while (j < n) { g = XXH64.hashLong(th(i + j), g); j += 1 }
      s = 0
      while (s < k) {
        val h = XXH64.hashLong(g, seedBase(s))
        if (h < sig(s)) sig(s) = h
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}
