package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite a GLOBAL aggregate containing two or more
  * `count(DISTINCT col)`s into a cross join of single-distinct
  * pre-aggregates — the Expand-free shape `QueriesAnalytics.kpiSummary`
  * builds by hand, generalized to any pure-SQL query through
  * [[graft.GraftExtensions]].
  *
  * Why: Spark plans multi-distinct (`RewriteDistinctAggregates`) via
  * an Expand that replicates EVERY input row once per distinct column
  * before the exchange — N distincts shuffle (N+1)× the fact. This
  * shape instead runs each distinct as its own column-pruned
  * pre-aggregate (shuffle volume = that column's key set) and
  * recombines the 1-row results with cross joins. The bet is
  * shuffle-bound clusters, and a cost gate (below) keeps it to
  * children cheap enough to run once per distinct. The rule-off plan
  * the rewrite's specs compare against comes from Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.ExpandFreeDistinct`.
  *
  * Grouped aggregates rewrite too: each distinct becomes a
  * (groups :+ col) pre-aggregate re-counted per group, and the parts
  * recombine with a NULL-SAFE inner equi-join on the group keys —
  * lossless because every part derives from the same child with the
  * same grouping, so all parts expose exactly the same group-key set.
  *
  * Scope (deliberately tight — eligibility is correctness):
  *  - grouping keys are plain attributes (no grouping expressions);
  *  - each distinct is `f(DISTINCT attr)` for f in {count, sum, min,
  *    max, avg} — single attribute, no FILTER clause, and not itself
  *    a grouping key (f over the inner-deduped column is f-DISTINCT
  *    by definition; the whitelist keeps order-sensitive or exotic
  *    aggregates out);
  *  - remaining aggregates contain no distinct anywhere;
  *  - the child plan is fully deterministic (it is duplicated per
  *    distinct — a nondeterministic child would diverge between
  *    copies).
  *
  * Injected via `injectOptimizerRule` (the extended operator-
  * optimization batch), which runs BEFORE `RewriteDistinctAggregates`
  * — eligible plans never reach the Expand path. The rewrite is
  * fixed-point-safe: its outputs contain no multi-distinct aggregate.
  */
object ExpandFreeDistinct extends Rule[LogicalPlan] {
  // Cost gate: the rewrite re-executes the child once per distinct
  // column (plus the base part). That trade is measured-good when the
  // child is a pruned scan chain — each re-execution scans only its own
  // distinct column, so the N+1 "copies" read disjoint bytes — but can
  // regress arbitrarily when the child is itself expensive (multi-way
  // join, UDF-heavy projection): the copies then repeat work the Expand
  // would have done once. Auto-fire only on relation/filter/project
  // chains whose expressions are codegen-cheap (no user-defined
  // functions); anything else keeps Spark's Expand.
  private def cheapExpr(e: Expression): Boolean =
    !e.exists { case _: UserDefinedExpression => true; case _ => false }

  private def childCheap(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode       => true
    case p: Project        => p.projectList.forall(cheapExpr) && childCheap(p.child)
    case f: Filter         => cheapExpr(f.condition) && childCheap(f.child)
    case s: SubqueryAlias  => childCheap(s.child)
    case v: View           => childCheap(v.child)
    case _                 => false
  }

  private def rewritable(f: AggregateFunction): Boolean = f match {
    case _: Count | _: Sum | _: Min | _: Max | _: Average => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(groupings, aggExprs, child, _)
          if groupings.forall(_.isInstanceOf[Attribute]) =>
        rewriteOrKeep(agg, groupings.map(_.asInstanceOf[Attribute]), aggExprs, child)
    }

  private def rewriteOrKeep(
      agg: Aggregate, groupKeys: Seq[Attribute],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): LogicalPlan = {
    // f(DISTINCT col) ≡ f over the deduped column for any aggregate
    // function — the inner aggregate produces exactly the distinct
    // multiset f would see. Whitelisted to the order-insensitive
    // standard five; each also shares count's NULL handling (the NULL
    // group survives the inner aggregate, the function skips it).
    val distincts = aggExprs.collect {
      case a @ Alias(AggregateExpression(f, _, true, None, _), _)
          if f.references.size == 1 && f.children.forall(_.isInstanceOf[Attribute]) &&
            rewritable(f) =>
        (a, f.references.head, f)
    }
    val distinctIds = distincts.map(_._1.exprId).toSet
    val others = aggExprs.filterNot(e => distinctIds.contains(e.exprId))
    val othersClean = others.forall(e => !e.exists {
      case ae: AggregateExpression => ae.isDistinct
      case _ => false
    })
    // two determinism hazards, both fatal to child duplication:
    // nondeterministic EXPRESSIONS (rand()), and nondeterministic ROW
    // SETS — Limit/Offset/Tail without a total order and Sample pick
    // arbitrary rows per execution, so each duplicated child could
    // aggregate a DIFFERENT subset (an inconsistency no single run of
    // the original plan can produce; Spark's Expand never duplicates)
    val childDeterministic = child.collectFirst {
      case p if p.expressions.exists(!_.deterministic) => p
      case p @ (_: GlobalLimit | _: LocalLimit | _: Offset | _: Tail | _: Sample) => p
    }.isEmpty
    // f(DISTINCT g) for a grouping key g is degenerate (one value per
    // group) and would put a duplicate attribute in the inner
    // aggregate — leave it to Spark
    val distinctKeysDisjoint =
      distincts.forall { case (_, att, _) => !groupKeys.exists(_.exprId == att.exprId) }
    // several distincts over the SAME column share one distinct group
    // in Spark's own planning (no Expand) — rewriting them would trade
    // one scan for several. Fire only when ≥2 DIFFERENT columns are
    // distinct-aggregated, which is the Expand trigger.
    val spansColumns = distincts.map(_._2.exprId).distinct.size >= 2
    if (!spansColumns || !othersClean || !childDeterministic || !distinctKeysDisjoint ||
        !childCheap(child)) agg
    else {
      // the BASE part carries the ORIGINAL grouping attr ids (plus the
      // non-distinct aggregates); grouping outputs already in `others`
      // are not duplicated
      val otherIds = others.map(_.exprId).toSet
      val baseOut = others ++ groupKeys.filterNot(g => otherIds.contains(g.exprId))
      // ONE part per distinct COLUMN (not per aggregate): every f over
      // the same column shares a single inner dedup — mixing
      // count(DISTINCT a) + sum(DISTINCT a) must not duplicate the
      // child twice for column a. Group keys re-alias to FRESH exprIds
      // so the join's two sides never share attribute ids.
      val perDistinct = distincts.map(_._2).distinctBy(_.exprId).map { att =>
        val fns = distincts.filter(_._2.exprId == att.exprId)
        val inner = Aggregate(groupKeys :+ att, groupKeys :+ att, child)
        val freshKeys = groupKeys.map(g => Alias(g, g.name)())
        val outs = fns.map { case (alias, _, f) =>
          Alias(f.toAggregateExpression(), alias.name)(alias.exprId)
        }
        val outer = Aggregate(groupKeys, freshKeys ++ outs, inner)
        (outer, freshKeys.map(_.toAttribute))
      }
      // every part derives from the SAME child with the SAME grouping,
      // so all parts contain exactly the same group key set — the
      // null-safe inner equi-join is lossless (groups can be NULL).
      // When there are no plain aggregates the first distinct part
      // seeds the fold (baseOut is only empty in the global case:
      // grouped baseOut always carries the keys) — no filler relation.
      val (seed: LogicalPlan, rest) =
        if (baseOut.nonEmpty) (Aggregate(groupKeys, baseOut, child), perDistinct)
        else (perDistinct.head._1, perDistinct.tail)
      val joined = rest.foldLeft(seed) { case (acc, (part, partKeys)) =>
        val cond = groupKeys.zip(partKeys)
          .map { case (g, p) => EqualNullSafe(g, p) }
          .reduceOption[Expression](And)
        Join(acc, part, if (cond.isEmpty) Cross else Inner, cond, JoinHint.NONE)
      }
      // every aggregate output carries its ORIGINAL exprId, so parents
      // resolve unchanged; the Project restores the original column
      // order and drops the per-part fresh join keys
      Project(aggExprs.map(_.toAttribute), joined)
    }
  }
}
