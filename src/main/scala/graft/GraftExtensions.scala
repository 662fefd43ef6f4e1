package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{PolyHash, RollingHashes, SignLshSig, VecDist2, VecDot, VecDotInt}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions at session build time so ANY session (including pure-SQL
  * users: `--conf spark.sql.extensions=graft.GraftExtensions`) gets them
  * without calling the Scala registration helpers.
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT poly_hash(text, 31, 1000000007) FROM docs")
  *   spark.sql("SELECT vec_dot(a, b), sign_lsh_sig(a, 8) FROM embs")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // strategy-selection rewrite for the declarative near-dup marker
    // (exact kernel vs banded-LSH, by index-column presence)
    ext.injectOptimizerRule(session => graft.plans.RewriteCosineNearDups(session))
    // custom physical operator: as-of join (logical node -> merge exec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[Expression]) =>
        PolyHash(exprs.head,
          exprs(1).eval().asInstanceOf[Number].longValue(),
          exprs(2).eval().asInstanceOf[Number].longValue())))
    ext.injectFunction((
      FunctionIdentifier("rolling_hashes"),
      new ExpressionInfo(classOf[RollingHashes].getName, "rolling_hashes"),
      (exprs: Seq[Expression]) => RollingHashes.fromExprs(exprs)))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_dist2"),
      new ExpressionInfo(classOf[VecDist2].getName, "vec_dist2"),
      (exprs: Seq[Expression]) => VecDist2(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_dot_int"),
      new ExpressionInfo(classOf[VecDotInt].getName, "vec_dot_int"),
      (exprs: Seq[Expression]) => VecDotInt(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("sign_lsh_sig"),
      new ExpressionInfo(classOf[SignLshSig].getName, "sign_lsh_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"sign_lsh_sig(embedding, bits) requires exactly 2 arguments, got ${exprs.length}")
        SignLshSig(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue())
      }))
  }
}
