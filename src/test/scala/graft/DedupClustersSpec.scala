package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.ext.Dedup

/** `Dedup.dedupClusters`: the label-propagation loop's Spark-job cost,
  * and the graph shapes the fixtures never reach, each checked against
  * a plain driver-side union-find. */
class DedupClustersSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf)

  /** cluster_id per doc: the min id of its component in the graph of
    * `pairs` (whose endpoints need not be docs), else the doc's own id. */
  def unionFind(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(id => id -> find(id)).toMap
  }

  def clusters(ids: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    Dedup.dedupClusters(ids.toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
  }

  /** Output rows sorted by doc_id, equal to the union-find. */
  def check(ids: Seq[Long], pairs: Seq[(Long, Long)]): Unit = {
    val got = clusters(ids, pairs)
    assert(got.map(_._1) == ids.sorted, "one row per doc, in doc_id order")
    assert(got.toMap == unionFind(ids, pairs))
  }

  def rounds(pairs: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    Dedup.labelRounds(pairs.toDF("doc_a", "doc_b"))._2
  }

  /** Spark jobs started by `body`. */
  def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftListenerBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  object Nodes extends AdaptiveSparkPlanHelper
  def rangeSorts(df: DataFrame): Seq[Seq[SortOrder]] =
    Nodes.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case r: RangePartitioning => r.ordering }

  // q33's hand-built graph: {1,2,3} via chain 1-2, 2-3; {10,11}; 20 alone
  val q33Ids = Seq(1L, 2L, 3L, 10L, 11L, 20L)
  val q33Pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))

  test("job budget: one job per propagation round, no count() jobs") {
    import spark.implicits._
    val d = q33Ids.toDF("doc_id")
    val p = q33Pairs.toDF("doc_a", "doc_b")
    Dedup.dedupClusters(d, p).collect() // warm: codegen, first-use setup
    assert(rounds(q33Pairs) == 2, "3 learns 1 in round 2; round 3 moves nothing")
    // init 1 + 2 rounds + 3 for the doc_id sort (sampling, shuffle,
    // result); a loop with a frontier count() per round ran 21 here
    val n = jobs(Dedup.dedupClusters(d, p).collect())
    info(s"dedupClusters on q33's graph: $n jobs")
    assert(n <= 6, s"$n jobs")
    // one more round costs exactly one more job
    val longer = q33Pairs :+ (3L -> 4L)
    assert(rounds(longer) == 3)
    val lp = longer.toDF("doc_a", "doc_b")
    val d4 = (q33Ids :+ 4L).toDF("doc_id")
    Dedup.dedupClusters(d4, lp).collect()
    assert(jobs(Dedup.dedupClusters(d4, lp).collect()) == n + 1)
  }

  test("job budget: minhashClusters runs no sampling job or distinct for its pairs") {
    Dedup.minhashClusters(docs).collect()
    // the pairs' bucket shuffle 1 + init 1 + 3 rounds + the doc_id sort
    // 3; clustering the sorted, distinct minhashPairs with a frontier
    // count() per round ran 36 here
    val n = jobs(Dedup.minhashClusters(docs).collect())
    info(s"minhashClusters on the spec corpus: $n jobs")
    assert(n <= 8, s"$n jobs")
  }

  test("plan: the only range shuffle minhashClusters plans is the final doc_id sort") {
    val out = Dedup.minhashClusters(docs)
    out.collect()
    val sorts = rangeSorts(out)
    assert(sorts.length == 1, out.queryExecution.executedPlan.toString)
    assert(sorts.head.map(_.child.references.map(_.name).mkString) == Seq("doc_id"))
    val fed = Dedup.candidatePairs(docs)
    fed.collect()
    assert(rangeSorts(fed).isEmpty, fed.queryExecution.executedPlan.toString)
    val pub = Dedup.minhashPairs(docs)
    pub.collect()
    assert(rangeSorts(pub).length == 1, "the guard must see minhashPairs' own sort")
  }

  test("edge shape: no pairs at all — zero rounds, every doc its own cluster") {
    assert(rounds(Nil) == 0)
    check(q33Ids, Nil)
  }

  test("edge shape: empty docs") {
    check(Nil, Nil)
    check(Nil, q33Pairs)
  }

  test("edge shape: duplicate pairs, reversed pairs and a self-pair") {
    val noisy = q33Pairs ++ q33Pairs ++ Seq((2L, 1L), (3L, 2L), (20L, 20L), (11L, 11L))
    check(q33Ids, noisy)
    assert(clusters(q33Ids, noisy) == clusters(q33Ids, q33Pairs))
  }

  test("edge shape: a pair naming a doc absent from docs") {
    // 99 and 0 are not docs: 99 still bridges 1 and 20, and 0 becomes
    // the label of 10 and 11
    val pairs = q33Pairs ++ Seq((1L, 99L), (99L, 20L), (0L, 11L))
    check(q33Ids, pairs)
    assert(clusters(q33Ids, pairs).toMap.apply(10L) == 0L)
  }

  test("edge shape: a star whose hub has the largest id") {
    val ids = (1L to 9L) :+ 100L
    val star = (1L to 9L).map(_ -> 100L)
    check(ids, star)
    assert(clusters(ids, star).map(_._2).toSet == Set(1L))
  }

  test("edge shape: a chain longer than HalveFromRound, with shuffled ids") {
    val n = 8 * Dedup.HalveFromRound
    val ids = new scala.util.Random(20261018L).shuffle((1L to n.toLong).map(_ * 7)).toVector
    val chain = ids.sliding(2).map(w => w(0) -> w(1)).toSeq
    check(ids.reverse, chain)
    // pointer-halving from HalveFromRound on: fewer rounds than the
    // pure neighbour-min would need (the min id's distance to a chain end)
    val at = ids.indexOf(ids.min)
    val linear = math.max(at, n - 1 - at)
    val r = rounds(chain)
    info(s"$r rounds; neighbour-min alone needs about $linear")
    assert(r < linear)
  }
}
