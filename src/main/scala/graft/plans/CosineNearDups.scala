package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Logical marker for "all embedding pairs with cosine >= threshold" —
  * the DECLARATIVE form of the near-dup operator: the caller states the
  * semantics, [[RewriteCosineNearDups]] picks the physical strategy
  * (SURVEY.md §4's declared optimizer-stretch, the (c)-level Catalyst
  * extension: custom LogicalPlan + Rule, registered via
  * SparkSessionExtensions).
  *
  * Child contract: `vec_id` + `embedding`, optionally an
  * `lsh_bands: array<bigint>` index column (per-band packed signature
  * keys from [[graft.ext.Similarity.withLshBands]]). The output schema
  * is fixed — (id_a, id_b, cos_sim) — and its attributes are
  * CONSTRUCTOR PARAMETERS so `copy`/`withNewChildren` preserve exprIds
  * (a recomputed-val output would mint fresh ids on every transform and
  * orphan every parent reference).
  */
case class CosineNearDups(
    child: LogicalPlan,
    threshold: Double,
    override val output: Seq[Attribute] = CosineNearDups.freshOutput())
    extends UnaryNode {
  // the output is MINTED here, not derived from the child — declare it
  // produced or CheckAnalysis reports the attributes missing-from-input
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // and the node CONSUMES the child's entire row (vec_id + embedding +
  // optional index column), even though no expression says so — without
  // this, ColumnPruning sees zero references and strips the child to an
  // empty projection under plans that don't need the marker's columns
  // (e.g. a bare count()), leaving the rewrite rule nothing to build on
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): CosineNearDups =
    copy(child = newChild)
}

object CosineNearDups {
  /** Name of the optional precomputed signature-index column. */
  val LshBandsCol = "lsh_bands"

  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("id_a", LongType, nullable = false)(),
    AttributeReference("id_b", LongType, nullable = false)(),
    AttributeReference("cos_sim", DoubleType, nullable = true)())
}

/** The strategy-selection rewrite: lowers [[CosineNearDups]] to
  *  - the banded-LSH candidate join + exact verify, when the child
  *    carries a precomputed `lsh_bands` index column (an index table
  *    exists -> use it), or
  *  - the exact broadcast all-pairs kernel otherwise.
  *
  * The replacement is built with the same DataFrame combinators the
  * hand-written operators use (one analysis pass over the child
  * subtree), then spliced in under a Project that aliases the new
  * plan's columns back to the marker's exprIds — parent operators keep
  * resolving against the attributes they already bound to.
  *
  * Runs as an optimizer rule (idempotent: one pass eliminates every
  * marker), registered two ways with one implementation:
  * `GraftExtensions.injectOptimizerRule` for `spark.sql.extensions`
  * users, and `spark.experimental.extraOptimizations` (the public
  * per-session hook) by [[graft.ext.Similarity.nearDupsAuto]] itself,
  * so the API works on sessions built without the extension.
  */
case class RewriteCosineNearDups(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case CosineNearDups(child, threshold, out) if child.resolved =>
      val childDf = GraftPlanBridge.ofRows(spark, child)
      val hasIndex = child.output.exists(_.name == CosineNearDups.LshBandsCol)
      val rewritten: DataFrame =
        if (hasIndex) graft.ext.Similarity.bandedNearDupPairs(childDf, threshold)
        else graft.ext.Similarity.exactNearDupPairs(childDf, threshold)
      // the spliced subtree is only ANALYZED, but this rule runs in the
      // post-optimization extraOptimizations batch — EliminateResolvedHint
      // has already fired on the outer plan and will not run again, so any
      // broadcast() hint inside the kernel would reach the planner as a
      // bare ResolvedHint and fail planning with INTERNAL_ERROR. Fold the
      // hints into Join.hint here, exactly as the optimizer would have.
      val rep = EliminateResolvedHint(GraftPlanBridge.analyzed(rewritten))
      Project(out.zip(rep.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId) }, rep)
  }
}
