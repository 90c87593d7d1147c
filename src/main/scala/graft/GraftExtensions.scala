package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, IntegerLiteral, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** The library's SQL function surface: one table of
  * (name, info, builder), which [[GraftExtensions]] injects at session
  * build time —
  *    {{{ --conf spark.sql.extensions=graft.GraftExtensions }}}
  * the idiomatic way a Spark library ships custom expressions to
  * pure-SQL users (extensions are a static conf, honored when the
  * FIRST session of the application is created). It is the only
  * route: every graft session is built with the extension, without
  * which no graft frame can be planned (the share and shared-gram
  * planners live there too), and the operators resolve these functions by name.
  */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("cosine_sim", info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("cosine_sim_i8", info("cosine_sim_i8", "cosine_sim_i8(a, b) - cosine over int8-quantized vectors"),
      (es: Seq[Expression]) => QuantizedCosine(es(0), es(1))),
    ("simhash64", info("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    ("minhash_sig", info("minhash_sig", "minhash_sig(tokens, n, k) - k MinHash minima over word n-grams"),
      (es: Seq[Expression]) => (es(1), es(2)) match {
        case (IntegerLiteral(n), IntegerLiteral(k)) => MinHashSig(es.head, n, k)
        case other => throw new IllegalArgumentException(s"minhash_sig n/k must be int literals, got $other")
      }),
    ("winnow_fps", info("winnow_fps", "winnow_fps(tokens, n, window) - winnowing fingerprint set"),
      (es: Seq[Expression]) => (es(1), es(2)) match {
        case (IntegerLiteral(n), IntegerLiteral(w)) => WinnowFps(es.head, n, w)
        case other => throw new IllegalArgumentException(s"winnow_fps n/window must be int literals, got $other")
      }),
    ("nfc_norm", info("nfc_norm", "nfc_norm(s) - Unicode NFC normalization"),
      (es: Seq[Expression]) => NfcNormalize(es.head)),
    ("strip_accents", info("strip_accents", "strip_accents(s) - remove combining marks"),
      (es: Seq[Expression]) => StripAccents(es.head)),
    ("vec_sum", info("vec_sum", "vec_sum(array<long>) - element-wise sum aggregate"),
      (es: Seq[Expression]) => VectorSumAgg(es.head).toAggregateExpression()),
    ("vec_min", info("vec_min", "vec_min(array<long>) - element-wise min aggregate"),
      (es: Seq[Expression]) => VectorMinAgg(es.head).toAggregateExpression()),
    ("vec_sum_d", info("vec_sum_d", "vec_sum_d(array<float|double>) - element-wise double-sum aggregate"),
      (es: Seq[Expression]) => VectorSumDoubleAgg(es.head).toAggregateExpression()),
    ("topk_sketch", info("topk_sketch", "topk_sketch(item, capacity) - Space-Saving heavy hitters"),
      (es: Seq[Expression]) => es(1) match {
        case Literal(v: Int, IntegerType) => TopKSketchAgg(es.head, v).toAggregateExpression()
        case other => throw new IllegalArgumentException(s"topk_sketch capacity must be an int literal, got $other")
      })
    // hyperplane_bucket is absent: its plane matrix is a closure-bound
    // reference object (see VectorOps.lshBucket), not SQL-expressible.
  )
}

/** Session extension: `spark.sql.extensions=graft.GraftExtensions`.
  * Injects the function table, two planner strategies — one for
  * [[Caching.share]]'s plan node, one for
  * [[graft.text.SharedGramCount]]'s, the exact n-gram pair count —
  * and two optimizer rules, neither with a switch of its own:
  *  - [[graft.plans.FactSpread]] decides, from the plan, whether an
  *    unsplittable file scan gets a round-robin spread;
  *  - [[graft.plans.ExpandFreeDistinct]] rewrites multi-distinct
  *    aggregates its cost gate admits.
  * To plan without one (a reference plan in a spec), name it in
  * Spark's own `spark.sql.optimizer.excludedRules`. FactSpread runs
  * first in the batch, so a spread child fails ExpandFreeDistinct's
  * cheap-child gate: a child that heavy is not run once per distinct. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, i, b) =>
      ext.injectFunction((FunctionIdentifier(name), i, b))
    }
    ext.injectOptimizerRule(graft.plans.FactSpread(_))
    ext.injectOptimizerRule(_ => graft.plans.ExpandFreeDistinct)
    ext.injectPlannerStrategy(_ => Caching.ShareStrategy)
    ext.injectPlannerStrategy(_ => graft.text.SharedGramCount.Strategy)
  }
}
