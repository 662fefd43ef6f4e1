package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for embedding arithmetic over
  * Array[Float] columns: `vec_dot(a, b)` and `vec_dist2(a, b)`.
  *
  * Why expressions and not HOFs/UDFs: `aggregate(zip_with(...))` is
  * interpreted per element (a lambda call per float), and a Scala UDF
  * boxes each array into Seq[Float] per row — both are order-of-magnitude
  * slower on multi-million-pair joins. These run a primitive while-loop
  * directly over the columnar ArrayData inside whole-stage codegen, so a
  * similarity join stays one fused codegen stage end to end.
  *
  * Float determinism (hash parity with the DuckDB oracle): each element
  * is widened to DOUBLE and the products/squares are folded strictly
  * LEFT-TO-RIGHT — the same IEEE754 op sequence as the oracle's
  * list_reduce, so results are bit-identical, never merely close.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // call through the companion MODULE$ (no static forwarder is emitted
    // for methods, and a bare class ref fails Janino → silent interpreted
    // fallback — the PolyHash lesson)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps$$.MODULE$$.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

case class VecDist2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dist2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps$$.MODULE$$.dist2($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDist2 =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product over two Array[Int] columns (quantized
  * embeddings): exact BIGINT fold — integer addition is associative, so
  * unlike the float kernels there is no op-order caveat at all; any
  * evaluation order is bit-identical, which is what makes the quantized
  * ANN ranking (q69) hash-exact by construction. Same codegen rationale
  * as [[VecDot]]: the pair loop must live inside whole-stage codegen.
  * Overflow headroom: |dot| <= dim * 127^2 — a 2^46-dim vector before a
  * BIGINT could wrap. */
case class VecDotInt(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot_int"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotInt(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOps$$.MODULE$$.dotInt($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotInt =
    copy(left = newLeft, right = newRight)
}

/** Fused sign-LSH signature: bit j of the result is the sign of the
  * projection of an Array[Float] embedding onto pseudo-random hyperplane
  * j (LCG-derived components, see [[VectorOps.plane]]). One codegen
  * while-loop replaces `bits` interpreted aggregate() HOF projections —
  * at corpus scale the signature is computed once per row per write, so
  * it must live inside whole-stage codegen like any other hot
  * projection. Folds are strictly left-to-right per plane, so results
  * are bit-identical with the oracle's list_reduce. */
case class SignLshSig(child: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_lsh_sig"

  override protected def nullSafeEval(a: Any): Any =
    VectorOps.signLshSig(a.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorOps$$.MODULE$$.signLshSig($a, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SignLshSig =
    copy(child = newChild)
}

object VectorOps {
  /** Left-to-right double fold of elementwise products (== the oracle's
    * list_reduce over CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE)). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Exact BIGINT dot of two int arrays (quantized embeddings). */
  def dotInt(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getInt(i).toLong * b.getInt(i).toLong; i += 1 }
    s
  }

  /** Left-to-right double fold of squared differences. */
  def dist2(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Deterministic pseudo-random hyperplane component (j, i): one LCG
    * step over the flattened index, scaled to [-0.5, 0.5). Pure integer
    * arithmetic + one divide — expressible identically in DuckDB SQL,
    * which is what makes the sign-LSH bucketing oracle-checkable. */
  def plane(j: Int, i: Int): Double =
    ((1103515245L * (j * 4096 + i) + 12345L) % 2147483648L).toDouble /
      2147483648.0 - 0.5

  /** `bits`-bit sign-LSH signature: bit j = [projection onto plane j >= 0].
    * Left-to-right fold per plane — IEEE754-identical to the oracle. */
  def signLshSig(a: ArrayData, bits: Int): Long = {
    val n = a.numElements()
    var out = 0L
    var j = 0
    while (j < bits) {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getFloat(i).toDouble * plane(j, i); i += 1 }
      if (acc >= 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** Register `vec_dot(a, b)` / `vec_dist2(a, b)` /
    * `sign_lsh_sig(a, bits)` for expr()/SQL use. `sign_lsh_sig` takes
    * its bit width as an explicit literal second argument — the SAME
    * arity as the [[graft.GraftExtensions]] injection, so a query string
    * behaves identically whether the function came from this helper or
    * from `spark.sql.extensions` (a 1-arg form with a register-time
    * default drifted against the extension and is gone).
    * Idempotent per session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dist2", exprs => VecDist2(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot_int", exprs => VecDotInt(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_lsh_sig", exprs => {
        require(exprs.length == 2,
          s"sign_lsh_sig(embedding, bits) requires exactly 2 arguments, got ${exprs.length}")
        SignLshSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
      }, "built-in")
  }
}
