package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runtime Bloom-filter join pruning (semi-join reduction) — the THIRD
  * runtime mechanism the 100 TB fact-join toolkit leans on, next to
  * join-driven dynamic partition pruning (q107) and AQE skew splitting
  * (q110). DPP prunes whole partition DIRECTORIES; the Bloom filter
  * prunes ROWS: Catalyst's `InjectRuntimeFilter` builds a Bloom filter
  * over the selective dimension's join keys as a scalar subquery, then
  * stamps a `might_contain` predicate onto the fact side BEFORE its
  * shuffle — so the 100 TB side shuffles only rows that can possibly
  * match, instead of shuffling everything and discarding 96% inside
  * the join. No user-side plumbing: the mechanism is triggered purely
  * by a selective creation-side predicate plus a shuffle join, which
  * is exactly how it deploys on a real cluster.
  *
  * The q119 gate proves (a) semantics: the filtered plan's result is
  * bit-identical to the plain-join oracle (a Bloom filter has false
  * positives, never false negatives — survivors still pass the exact
  * join); (b) plan: PlanSpec asserts `might_contain` +
  * `bloom_filter_agg` appear in the optimized plan under the demo
  * confs and do NOT appear under the session defaults (fixture scans
  * are below the 10 GB application-side threshold — the conf window
  * only scales thresholds down to fixture bytes, it does not change
  * planning logic).
  */
object RuntimeFilter {

  /** Creation-side predicate: top ~4% of orders by price. Any
    * BinaryComparison qualifies as "likely selective" for
    * `InjectRuntimeFilter`; the cutoff keeps the demo honest (the
    * Bloom filter really does exclude ~96% of fact rows). */
  val PriceCutoff = 480000.0

  /** Fixture-scale thresholds, one definition shared by the gate and
    * its PlanSpec twin (same discipline as [[Skew.SkewDemoConfs]]).
    * At 100 TB the two size thresholds are the DEFAULTS (creation side
    * <= 10 MB, application side >= 10 GB) — only the application-side
    * floor moves here, because a fixture parquet is nowhere near
    * 10 GB. Broadcast stays enabled-by-default OFF here to force the
    * shuffle join the filter exists to protect (a broadcast join
    * already ships the dim to every task, so Catalyst rightly skips
    * injection for it). */
  val BloomDemoConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")

  /** Run `body` with [[BloomDemoConfs]] applied, restoring prior values. */
  private[graft] def withBloomConfs[T](spark: SparkSession)(body: => T): T =
    graft.Harness.withConfs(spark, BloomDemoConfs: _*)(body)

  /** The join itself, LAZY (caller owns the confs): high-value orders'
    * lineitems rolled up per priority class. Semantically a plain
    * selective-dim fact join — the Bloom row pruning is the physical
    * story. Money in cents-bigint for oracle hash parity. */
  private[graft] def bloomJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    val ord = graft.Tables.orders(spark, dir)
      .filter(col("o_totalprice") > lit(PriceCutoff))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("cents")).as("rev_cents"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
  }

  /** q119: the gate. Materialized INSIDE the conf window (a lazily
    * returned frame would execute after the finally-restore, under the
    * session's normal confs — the q110 lesson), read back ordered. */
  def bloomJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.TempDirs.create("graft-bloomjoin").toString
    withBloomConfs(spark) {
      bloomJoinFrame(spark, dir).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(out).orderBy("o_orderpriority")
  }

  val bloomJoinStatsSql: String =
    s"""WITH ord AS (
       |  SELECT o_orderkey, o_orderpriority FROM orders
       |  WHERE o_totalprice > $PriceCutoff),
       |li AS (
       |  SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
       |         l_quantity
       |  FROM lineitem)
       |SELECT o_orderpriority, COUNT(*) AS n_items,
       |  CAST(SUM(cents) AS BIGINT) AS rev_cents,
       |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |FROM li JOIN ord ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
}
