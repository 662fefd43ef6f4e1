package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational query surface (SURVEY.md §2.8 Q5–Q11 + sessionization).
  *
  * Hash-parity rules (driver compares against DuckDB by value hash):
  *  - monetary/fractional aggregates are summed as exact cent BIGINTs
  *    (`round(x*100) :: long`) — order-independent, engine-independent;
  *  - timestamps are emitted as epoch seconds/micros (LongType), never as
  *    raw timestamp columns;
  *  - every query ends in a deterministic full-key ORDER BY, mirrored in
  *    the oracle SQL.
  *
  * Scale notes (100 TB): filters are plain column predicates on the scan
  * (parquet pushdown applies); dimension tables (region/nation) are
  * explicitly broadcast; fact-fact joins shuffle on their equi-keys and
  * AQE is left on to re-plan skew at runtime.
  */
object Relational {

  /** Exact cents: `round` on the double product is identical in Spark
    * (HALF_UP on positives) and DuckDB (half-away-from-zero) — both engines
    * see the same IEEE754 product, so the rounded integer matches bit-wise. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ---------------------------------------------------------------- q05
  /** TPC-H Q1 shape: scan-heavy filter + hash aggregate (map-side partial
    * aggregation; one shuffle on the 6-ish distinct grouping keys). */
  def q05Pricing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum(cents($"l_extendedprice")).as("sum_base_cents"),
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_cents"),
        sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")))
          .as("sum_charge_cents"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q05Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q06
  /** TPC-H Q5 shape: 5-way join. nation/region are broadcast (dims stay
    * small at any SF); lineitem⋈orders is the only real shuffle pair and
    * joins on the natural key so AQE can coalesce post-shuffle partitions. */
  def q06RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
              $"o_orderdate" <  lit("1998-01-01").cast("timestamp"))
    val cust = Tables.customer(s, dir)
    val nat  = Tables.nation(s, dir)
    val reg  = Tables.region(s, dir).filter($"r_name" === "ASIA")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue_cents"),
           count(lit(1)).as("n_items"))
      .orderBy($"revenue_cents".desc, $"n_name")
  }

  val q06Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue_cents DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Top-k: join + agg + global top-10. Spark plans the final limit as
    * TakeOrderedAndProject — no full global sort is materialized. */
  def q07TopCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(sum(cents($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("revenue_cents"))
      .orderBy($"revenue_cents".desc, $"c_custkey")
      .limit(10)
  }

  val q07Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY revenue_cents DESC, c_custkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Window functions: rank per customer + running sum, rows frame.
    * Single shuffle on o_custkey serves both window specs. */
  def q08OrderRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", cents($"o_totalprice").as("price_cents"))
    val w = Window.partitionBy($"o_custkey").orderBy($"price_cents".desc, $"o_orderkey")
    o.select(
        $"o_custkey", $"o_orderkey", $"price_cents",
        row_number().over(w).as("rnk"),
        sum($"price_cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents"))
      .orderBy($"o_custkey", $"rnk")
  }

  val q08Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, price_cents,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY price_cents DESC, o_orderkey) AS rnk,
      |  CAST(SUM(price_cents) OVER (PARTITION BY o_custkey ORDER BY price_cents DESC, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      |FROM o
      |ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Set ops. Spark compiles INTERSECT/EXCEPT to left-semi/anti joins with
    * distinct — identical semantics to the SQL set operators. */
  def q09Intersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withOrders = Tables.orders(s, dir).select($"o_custkey".as("custkey"))
    val rich = Tables.customer(s, dir).filter($"c_acctbal" > 5000)
      .select($"c_custkey".as("custkey"))
    withOrders.intersect(rich).orderBy($"custkey")
  }

  val q09IntersectSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey AS custkey FROM orders
      |  INTERSECT
      |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |) ORDER BY custkey""".stripMargin

  def q09Except(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withOrders = Tables.orders(s, dir).select($"o_custkey".as("custkey"))
    val rich = Tables.customer(s, dir).filter($"c_acctbal" > 5000)
      .select($"c_custkey".as("custkey"))
    withOrders.except(rich).orderBy($"custkey")
  }

  val q09ExceptSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey AS custkey FROM orders
      |  EXCEPT
      |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |) ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Grouping sets: ROLLUP(priority, status). Rolled-up NULLs are folded to
    * 'ALL' so the hash compare never sees engine-specific null renderings. */
  def q10Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .rollup($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), sum(cents($"o_totalprice")).as("total_cents"))
      .select(
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"n_orders", $"total_cents")
      .orderBy($"priority", $"status")
  }

  val q10Sql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COALESCE(o_orderstatus, 'ALL') AS status,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Tumbling 5-minute event windows per type (batch form of the streaming
    * op). Emits the window start as epoch seconds; Spark's window() start
    * is epoch-aligned so it equals floor-division bucketing. */
  def q11EventWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"), sum(cents($"value")).as("value_cents"))
      .select($"window.start".cast("long").as("window_start"), $"event_type",
              $"n_events", $"value_cents")
      .orderBy($"window_start", $"event_type")
  }

  val q11Sql: String =
    """SELECT (epoch_us(ts) // 300000000) * 300 AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Sessionization: 30-min-gap session windows per user via Spark's
    * session_window (one shuffle on user_id; state merges adjacent spans).
    * Oracle reproduces it with gaps-and-islands SQL. A new session starts
    * when the gap is >= 30 min — session_window treats spans as [t, t+gap),
    * so an event landing exactly at t+gap does NOT merge. */
  def q12Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"), max(unix_micros($"ts")).as("last_us"))
      .select($"user_id", unix_micros($"session_window.start").as("session_start_us"),
              $"last_us", $"n_events")
      .orderBy($"user_id", $"session_start_us")
  }

  val q12Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, us,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id, MIN(us) AS session_start_us, MAX(us) AS last_us, COUNT(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  // ---------------------------------------------------------------- q25
  /** As-of join: every event annotated with the user's latest
    * prior-or-simultaneous purchase (graft.operators.AsOfJoin — the
    * union-sort composition; oracle is DuckDB's native ASOF LEFT JOIN).
    * Times compared in microseconds on both sides (Spark's timestamp
    * resolution). */
  def q25AsofPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros($"ts"))
    val left = ev.select("event_id", "user_id", "event_type", "ts_us")
    val right = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", $"event_id".as("purchase_id"),
              $"ts_us".as("purchase_ts_us"))
    graft.operators.AsOfJoin
      .asofPrior(left, right, "user_id", "ts_us", "ts_us",
        Seq("purchase_id", "purchase_ts_us"))
      .select($"event_id", $"user_id", $"event_type",
        $"asof_purchase_id".as("purchase_id"),
        $"asof_purchase_ts_us".as("purchase_ts_us"))
      .orderBy("event_id")
  }

  val q25Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |p AS (
      |  SELECT user_id, ts_us, event_id AS purchase_id, ts_us AS purchase_ts_us
      |  FROM e WHERE event_type = 'purchase')
      |SELECT e.event_id, e.user_id, e.event_type, p.purchase_id, p.purchase_ts_us
      |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
      |ORDER BY e.event_id""".stripMargin

  // --------------------------------------------------------------- q139
  /** q25's as-of join through the CUSTOM PHYSICAL OPERATOR
    * (`plans/AsOfJoinPlan`: logical node → planner strategy → streaming
    * merge exec) instead of the union-window composition — both gated
    * against DuckDB's native ASOF LEFT JOIN, so the two implementations
    * are mutually hash-pinned. */
  def q139AsofExec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros($"ts"))
    val left = ev.select("event_id", "user_id", "event_type", "ts_us")
    val right = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", $"event_id".as("purchase_id"),
              $"ts_us".as("purchase_ts_us"))
    graft.plans.AsOfJoinNode.asof(left, right, "user_id", "ts_us", "ts_us")
      .select($"event_id", $"user_id", $"event_type",
        $"r_purchase_id".as("purchase_id"),
        $"r_purchase_ts_us".as("purchase_ts_us"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q26
  /** Interval (range) join, batch form of the streaming
    * purchaseClickCorrelation: clicks joined to purchases of the same
    * user within the following 10 minutes. Equi-key on user plus a band
    * predicate — Spark executes equi-hash on user_id with the range as a
    * post-join filter, which is the right plan when keys are selective
    * (the range never becomes a cross product). */
  def q26IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.EventsStreaming
      .purchaseClickCorrelation(Tables.events(s, dir))
      .orderBy($"click_id", $"purchase_id")
  }

  val q26Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       c.us AS click_us, p.us AS purchase_us
      |FROM e c JOIN e p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.us >= c.us AND p.us <= c.us + 600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** CUBE grouping sets + exact interpolated median (both engines define
    * median as quantile_cont(0.5) over the sorted values; on integer
    * cents the interpolated halves are exact doubles, so hashes match).
    *
    * Median is NOT computed with the `median` aggregate: Spark's
    * sort-based Percentile buffers every group value in the aggregation
    * buffer (no spill), and under CUBE each input row feeds 4 grouping
    * sets — memory-unbounded at scale and 8+ s at sf0.1. Instead the CUBE
    * is expanded EXPLICITLY (each row exploded into its 4 grouping-set
    * keys — the same 4x row multiplication Expand performs inside a
    * native CUBE) and everything — count/min/max AND the exact median —
    * is computed over that single relation in ONE window pass: one scan
    * of orders, one shuffle-sort by (priority, status, value). The
    * row_number frame and the unbounded count/min/max frames share the
    * partition keys, so Catalyst plans them in the same WindowExec sort
    * (WindowExec's partition buffer spills to disk, so big groups sort
    * externally instead of OOMing). For n sorted values the interpolated
    * median is the mean of the values at 1-based positions ⌊(n+1)/2⌋ and
    * ⌊(n+2)/2⌋ (equal when n is odd) — identical to quantile_cont(0.5)
    * on integers. The round-2 version ran the window once per grouping
    * set — 4 scans + 4 shuffles for the same answer. */
  def q27CubeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir)
      .select($"o_orderpriority".as("p0"), $"o_orderstatus".as("s0"),
              cents($"o_totalprice").as("cents_v"))

    val all = lit("ALL")
    val expanded = base.select(explode(array(
        struct($"p0".as("p"), $"s0".as("s")),
        struct($"p0".as("p"), all.as("s")),
        struct(all.as("p"), $"s0".as("s")),
        struct(all.as("p"), all.as("s")))).as("g"), $"cents_v")
      .select($"g.p".as("priority"), $"g.s".as("status"), $"cents_v")

    val w  = Window.partitionBy($"priority", $"status").orderBy($"cents_v")
    val wp = Window.partitionBy($"priority", $"status")
    expanded
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wp))
      .withColumn("min_c", min($"cents_v").over(wp))
      .withColumn("max_c", max($"cents_v").over(wp))
      .filter($"rn" === floor(($"cnt" + 1) / 2) || $"rn" === floor(($"cnt" + 2) / 2))
      .groupBy($"priority", $"status")
      .agg(max($"cnt").as("n_orders"), avg($"cents_v").as("median_cents"),
           max($"min_c").as("min_cents"), max($"max_c").as("max_cents"))
      .select($"priority", $"status", $"n_orders",
              $"median_cents", $"min_cents", $"max_cents")
      .orderBy($"priority", $"status")
  }

  val q27Sql: String =
    """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COALESCE(o_orderstatus, 'ALL') AS status,
      |       COUNT(*) AS n_orders,
      |       CAST(median(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) AS median_cents,
      |       CAST(MIN(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS min_cents,
      |       CAST(MAX(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Semi-structured extraction: pull the numeric `k` out of the JSON-ish
    * props column and aggregate per event type. Spark side uses the real
    * JSON path function; the oracle reproduces the value with a regexp
    * (identical results on well-formed fixtures, no DuckDB JSON extension
    * dependency). */
  def q28JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), count(lit(1)).as("n_events"),
           countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  val q28Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q39
  /** PIVOT: order counts as a priority x status matrix. The status value
    * list is EXPLICIT — with it, Spark plans one hash aggregate with
    * conditional partials (map-side combined, single shuffle); without
    * it, Spark must first run a distinct-values job to discover the
    * columns, a hidden extra pass that surprises at 100 TB. Missing
    * combinations surface as 0, not null, so the wide row is total. */
  def q39Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_orderpriority".as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select($"priority",
        coalesce($"F", lit(0L)).as("n_f"),
        coalesce($"O", lit(0L)).as("n_o"),
        coalesce($"P", lit(0L)).as("n_p"))
      .orderBy($"priority")
  }

  val q39Sql: String =
    """SELECT o_orderpriority AS priority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------- q86
  /** TPC-H Q17 shape: a CORRELATED SCALAR SUBQUERY ("below 20% of this
    * part's average order quantity"), written in SQL on purpose and run
    * through `spark.sql` so Catalyst's subquery decorrelation does the
    * rewrite — the optimizer turns the per-row subquery into one
    * aggregate over lineitem plus an equi-join (visible in the plan as a
    * single extra hash aggregate, never a per-row re-scan). That rewrite
    * IS the 100 TB story: the naive semantics re-read lineitem once per
    * row; the decorrelated plan reads it exactly twice.
    *
    * Exactness: `l_quantity` is integral in this schema (TPC-H spec,
    * asserted by the fixture), so SUM over doubles is exact below 2^53
    * regardless of partitioning; AVG = one division of exact terms and
    * `0.2 * avg` one multiply — bit-identical in both engines. Money is
    * summed as exact cent BIGINTs per the file's hash-parity rules. */
  def q86ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("q86_lineitem")
    Tables.part(s, dir).createOrReplaceTempView("q86_part")
    s.sql("""
      SELECT p.p_brand AS brand,
        SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) DIV 7 AS avg_weekly_cents,
        COUNT(*) AS n_items
      FROM q86_lineitem l JOIN q86_part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM q86_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      GROUP BY p.p_brand
      ORDER BY brand""")
  }

  val q86Sql: String =
    """SELECT p.p_brand AS brand,
      |  CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) // 7 AS BIGINT) AS avg_weekly_cents,
      |  COUNT(*) AS n_items
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < (
      |  SELECT 0.2 * avg(l2.l_quantity)
      |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p.p_brand
      |ORDER BY brand""".stripMargin

  // ---------------------------------------------------------------- q87
  /** TPC-H Q4 shape: EXISTS correlated subquery ("orders with at least
    * one lineitem shipped >90 days after the order date"), again through
    * `spark.sql` so the optimizer plans it — EXISTS lowers to a LEFT SEMI
    * join on the order key, which at scale is one shuffle on l_orderkey
    * and no duplicate-row blowup however many late items an order has. */
  def q87ExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("q87_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("q87_lineitem")
    s.sql("""
      SELECT o.o_orderpriority AS priority, COUNT(*) AS n_late_orders
      FROM q87_orders o
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND EXISTS (SELECT 1 FROM q87_lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      GROUP BY o.o_orderpriority
      ORDER BY priority""")
  }

  val q87Sql: String =
    """SELECT o.o_orderpriority AS priority, COUNT(*) AS n_late_orders
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Salted two-phase aggregation, oracle-gated: count + exact-cents sum
    * per event_type through [[graft.operators.Skew.saltedStats]]. The
    * fixture has FIVE event types over 10k+ rows — exactly the hot-key
    * shape where a plain groupBy funnels each key into one reduce task;
    * the salt spreads each key over `SaltBuckets` partial groups and a
    * second (tiny) merge re-combines. The oracle is the PLAIN group-by:
    * green means salting is semantically invisible, which is the whole
    * contract of the utility. */
  val SaltBuckets = 8
  def q88SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Skew.saltedStats(
        Tables.events(s, dir), $"event_type", cents($"value"), SaltBuckets)
      .select($"key".as("event_type"), $"n", $"s".as("sum_cents"))
      .orderBy($"event_type")
  }

  val q88Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Conversion funnel over the events stream: per user, the first
    * 'view' and the first 'purchase' that follows it within one hour.
    * Two small per-user aggregates and one equi-join on user_id — the
    * purchase side never fans out (min-when folds it back map-side), so
    * the shape is two shuffles on user_id however many events a hot user
    * has. Timestamps flow as exact epoch-micro longs (ns div 1000 —
    * never through a double). */
  val FunnelWindowUs: Long = 3600L * 1000000L
  def q89Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", expr("ts_ns div 1000").as("us"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("first_view_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us")
    firstView.join(purchases, Seq("user_id"), "left")
      .groupBy($"user_id", $"first_view_us")
      .agg(min(when($"us" > $"first_view_us" &&
                    $"us" <= $"first_view_us" + lit(FunnelWindowUs), $"us"))
        .as("first_purchase_us"))
      .select($"user_id", $"first_view_us", $"first_purchase_us",
        when($"first_purchase_us".isNotNull, 1).otherwise(0).as("converted"))
      .orderBy($"user_id")
  }

  val q89Sql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |v AS (SELECT user_id, MIN(us) AS first_view_us FROM e
       |      WHERE event_type = 'view' GROUP BY user_id),
       |p AS (SELECT user_id, us FROM e WHERE event_type = 'purchase')
       |SELECT v.user_id, v.first_view_us,
       |  MIN(CASE WHEN p.us > v.first_view_us
       |            AND p.us <= v.first_view_us + $FunnelWindowUs
       |           THEN p.us END) AS first_purchase_us,
       |  CASE WHEN MIN(CASE WHEN p.us > v.first_view_us
       |                      AND p.us <= v.first_view_us + $FunnelWindowUs
       |                     THEN p.us END) IS NOT NULL THEN 1 ELSE 0 END AS converted
       |FROM v LEFT JOIN p ON p.user_id = v.user_id
       |GROUP BY v.user_id, v.first_view_us
       |ORDER BY v.user_id""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Incremental aggregate maintenance: the q05-shape pricing summary
    * kept up to date under batch append WITHOUT rescanning history. The
    * persisted state is the PARTIAL aggregate (per-group exact sums +
    * counts — every measure here is algebraic, so partials merge by
    * re-summing); a new batch aggregates alone and the merge is a
    * group-by over state ∪ delta-partials: O(groups + delta), never
    * O(corpus). The oracle recomputes from scratch over everything —
    * green means the merge is exact, which is the entire contract of
    * incremental view maintenance. At 100 TB this is the difference
    * between a nightly full scan and a per-batch touch-up (the q50
    * story, for aggregates). */
  val IncrCutoff = "1997-01-01"
  def q90IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").cast("long").as("sum_qty"),
             sum(cents($"l_extendedprice")).as("sum_base_cents"),
             count(lit(1)).as("count_order"))
    val cut = lit(IncrCutoff).cast("timestamp")
    val li = Tables.lineitem(s, dir)
    val state = partial(li.filter($"l_shipdate" < cut))  // "persisted" partials
    val delta = partial(li.filter($"l_shipdate" >= cut)) // the appended batch
    state.unionByName(delta)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"sum_qty").as("sum_qty"),
           sum($"sum_base_cents").as("sum_base_cents"),
           sum($"count_order").as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q90Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q91
  /** RANGE-frame window: per order, the customer's trailing-90-day order
    * count and spend. RANGE (value-defined, peers included) is a
    * different runtime path from q08's ROWS frame — the frame boundary
    * binary-searches the sorted partition by VALUE, and same-day peers
    * must all join the frame for the result to be deterministic under
    * ties. Partitioned per customer: the sort is per-key inside one
    * shuffle, never a global order. */
  val TrailingDays = 89 // 90-day window: today + 89 preceding
  def q91RangeWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
      datediff($"o_orderdate", lit("1970-01-01").cast("timestamp")).as("day"),
      cents($"o_totalprice").as("cents_v"))
    val w = Window.partitionBy($"o_custkey").orderBy($"day")
      .rangeBetween(-TrailingDays, 0)
    o.select($"o_orderkey", $"o_custkey", $"day",
        count(lit(1)).over(w).as("n_trailing"),
        sum($"cents_v").over(w).as("cents_trailing"))
      .orderBy($"o_orderkey")
  }

  val q91Sql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey,
       |    date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS day,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents_v
       |  FROM orders)
       |SELECT o_orderkey, o_custkey, day,
       |  COUNT(*) OVER w AS n_trailing,
       |  CAST(SUM(cents_v) OVER w AS BIGINT) AS cents_trailing
       |FROM o
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
       |             RANGE BETWEEN $TrailingDays PRECEDING AND CURRENT ROW)
       |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Bucketed-table co-located join, oracle-gated. Both fact tables are
    * written bucketed (and sorted) on the join key; the join then plans
    * WITHOUT an Exchange on either side — at 100 TB, pre-bucketing the
    * tables that join daily converts every run's two corpus-sized
    * shuffles into zero (the write pays the shuffle once). PlanSpec
    * asserts the no-exchange property; this gate proves the bucketed
    * round trip + join computes exactly the plain join's answer. Tables
    * are registered with EXPLICIT temp paths (external tables,
    * in-memory catalog) so no warehouse directory is created. */
  def q94BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tag = java.lang.Integer.toHexString(dir.hashCode)
    val (ot, lt) = (s"orders_b_$tag", s"lineitem_b_$tag")
    if (!s.catalog.tableExists(ot)) {
      val base = graft.TempDirs.create("graft-bucketed")
      Tables.orders(s, dir).write.mode("overwrite")
        .option("path", s"$base/$ot")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      Tables.lineitem(s, dir).write.mode("overwrite")
        .option("path", s"$base/$lt")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    }
    s.table(lt).join(s.table(ot), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus", $"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
           sum(cents($"l_extendedprice")).as("sum_base_cents"))
      .orderBy($"o_orderstatus", $"l_returnflag")
  }

  val q94Sql: String =
    """SELECT o.o_orderstatus, l.l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderstatus, l.l_returnflag
      |ORDER BY o.o_orderstatus, l.l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q95
  /** MERGE / upsert batch application — the table-maintenance verb
    * (Delta's MERGE INTO, SQL's MERGE) as a plain Spark plan: a change
    * batch of upserts and deletes applied to a snapshot in ONE full
    * outer join on the key — matched+delete drops the row,
    * matched+upsert takes the new image, unmatched-right inserts,
    * unmatched-left keeps the old row. O(snapshot + changes) with a
    * single co-partitioned shuffle; at 100 TB the same plan runs
    * per-partition when the snapshot is bucketed/partitioned by key
    * (q94's layout makes it exchange-free).
    *
    * The change batch is derived deterministically from the fixture so
    * both engines see identical input: every orderkey % 100 == 0 gets
    * its totalprice re-priced (+10%) and priority rewritten; every
    * orderkey % 97 == 0 is deleted; and a synthetic new order is
    * inserted per nation-sized stride past the max key. */
  def q95MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir).select(
      $"o_orderkey", $"o_custkey", $"o_orderstatus",
      cents($"o_totalprice").as("price_cents"), $"o_orderpriority")
    // change batch: re-price %100 keys, delete %97 keys (delete wins on
    // overlap — MERGE clause order), insert fresh keys past the max
    val upserts = base.filter($"o_orderkey" % 100 === 0)
      .select($"o_orderkey".as("k"),
        $"o_custkey".as("new_custkey"),
        lit("P").as("new_status"),
        ($"price_cents" + expr("price_cents div 10")).as("new_price_cents"),
        lit("1-URGENT").as("new_priority"),
        lit("upsert").as("op"))
    val deletes = base.filter($"o_orderkey" % 97 === 0)
      .select($"o_orderkey".as("k"), lit(null).cast("long").as("new_custkey"),
        lit(null).cast("string").as("new_status"),
        lit(null).cast("long").as("new_price_cents"),
        lit(null).cast("string").as("new_priority"), lit("delete").as("op"))
    val mx = base.agg(max($"o_orderkey").as("mxk"))
    val inserts = Tables.nation(s, dir).crossJoin(broadcast(mx))
      .select(($"mxk" + $"n_nationkey" + 1).as("k"),
        ($"n_nationkey" + 1).as("new_custkey"), lit("O").as("new_status"),
        lit(123456L).as("new_price_cents"), lit("5-LOW").as("new_priority"),
        lit("upsert").as("op"))
    // delete beats upsert on the same key: apply deletes last in the map
    val changes = upserts.unionByName(deletes).unionByName(inserts)
      .groupBy($"k")
      .agg(max(struct((($"op" === "delete").cast("int")).as("d"),
        $"new_custkey", $"new_status", $"new_price_cents", $"new_priority"))
        .as("c"))
      .select($"k", ($"c.d" === 1).as("is_delete"), $"c.new_custkey",
        $"c.new_status", $"c.new_price_cents", $"c.new_priority")
    base.join(changes, $"o_orderkey" === $"k", "full_outer")
      .filter(!coalesce($"is_delete", lit(false)))
      .select(
        coalesce($"o_orderkey", $"k").as("o_orderkey"),
        coalesce($"new_custkey", $"o_custkey").as("o_custkey"),
        coalesce($"new_status", $"o_orderstatus").as("o_orderstatus"),
        coalesce($"new_price_cents", $"price_cents").as("price_cents"),
        coalesce($"new_priority", $"o_orderpriority").as("o_orderpriority"))
      .orderBy($"o_orderkey")
  }

  val q95Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
      |    o_orderpriority
      |  FROM orders),
      |mx AS (SELECT MAX(o_orderkey) AS mxk FROM base),
      |changes AS (
      |  SELECT o_orderkey AS k, FALSE AS is_delete, o_custkey AS new_custkey,
      |    'P' AS new_status, price_cents + price_cents // 10 AS new_price_cents,
      |    '1-URGENT' AS new_priority
      |  FROM base WHERE o_orderkey % 100 = 0 AND o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey AS k, TRUE AS is_delete, NULL, NULL, NULL, NULL
      |  FROM base WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT mxk + n_nationkey + 1 AS k, FALSE, n_nationkey + 1, 'O',
      |    123456, '5-LOW'
      |  FROM nation CROSS JOIN mx)
      |SELECT coalesce(b.o_orderkey, c.k) AS o_orderkey,
      |  coalesce(c.new_custkey, b.o_custkey) AS o_custkey,
      |  coalesce(c.new_status, b.o_orderstatus) AS o_orderstatus,
      |  coalesce(c.new_price_cents, b.price_cents) AS price_cents,
      |  coalesce(c.new_priority, b.o_orderpriority) AS o_orderpriority
      |FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.k
      |WHERE NOT coalesce(c.is_delete, FALSE)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Churn analysis: EXISTS + NOT EXISTS over the same table in one
    * query ("active before the cutoff, silent after") — Catalyst plans
    * the pair as one LEFT SEMI and one LEFT ANTI join against the same
    * orders relation. The anti join is the subquery shape q04's update
    * verb uses imperatively; here it's gated through the SQL layer. */
  val ChurnCutoff = "2000-01-01"
  def q96ChurnedCustomers(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("q96_customer")
    Tables.orders(s, dir).createOrReplaceTempView("q96_orders")
    s.sql(s"""
      SELECT c.c_mktsegment AS segment, COUNT(*) AS n_churned
      FROM q96_customer c
      WHERE EXISTS (SELECT 1 FROM q96_orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate < TIMESTAMP '$ChurnCutoff 00:00:00')
        AND NOT EXISTS (SELECT 1 FROM q96_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '$ChurnCutoff 00:00:00')
      GROUP BY c.c_mktsegment
      ORDER BY segment""")
  }

  val q96Sql: String =
    s"""SELECT c.c_mktsegment AS segment, COUNT(*) AS n_churned
       |FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o
       |              WHERE o.o_custkey = c.c_custkey
       |                AND o.o_orderdate < TIMESTAMP '$ChurnCutoff 00:00:00')
       |  AND NOT EXISTS (SELECT 1 FROM orders o
       |                  WHERE o.o_custkey = c.c_custkey
       |                    AND o.o_orderdate >= TIMESTAMP '$ChurnCutoff 00:00:00')
       |GROUP BY c.c_mktsegment
       |ORDER BY segment""".stripMargin

  // ---------------------------------------------------------------- q97
  /** TPC-H Q18 shape: IN-subquery whose inner query is an AGGREGATE with
    * HAVING ("orders whose total quantity tops 250") — the decorrelated
    * plan is one lineitem aggregate + a semi join, and the outer join to
    * customer broadcasts. Quantities are integral so the HAVING sum is
    * exact under any partitioning. */
  val LargeOrderQty = 250
  def q97LargeOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("q97_customer")
    Tables.orders(s, dir).createOrReplaceTempView("q97_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("q97_lineitem")
    s.sql(s"""
      SELECT c.c_custkey, o.o_orderkey,
        CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
        (SELECT CAST(SUM(l2.l_quantity) AS BIGINT) FROM q97_lineitem l2
         WHERE l2.l_orderkey = o.o_orderkey) AS sum_qty
      FROM q97_orders o JOIN q97_customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM q97_lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > $LargeOrderQty)
      ORDER BY o.o_orderkey""")
  }

  val q97Sql: String =
    s"""SELECT c.c_custkey, o.o_orderkey,
       |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
       |  (SELECT CAST(SUM(l2.l_quantity) AS BIGINT) FROM lineitem l2
       |   WHERE l2.l_orderkey = o.o_orderkey) AS sum_qty
       |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |WHERE o.o_orderkey IN (
       |  SELECT l_orderkey FROM lineitem
       |  GROUP BY l_orderkey HAVING SUM(l_quantity) > $LargeOrderQty)
       |ORDER BY o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q99
  /** ASYMMETRIC grouping sets — ((priority,status),(priority),(status)),
    * a set list neither ROLLUP (q10) nor CUBE (q27) can express (no
    * grand total, but both one-dimension margins). One scan, one
    * expand+aggregate; null group keys are labeled 'ALL' so the output
    * is unambiguous without GROUPING_ID. */
  def q99GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("q99_orders")
    s.sql("""
      SELECT coalesce(o_orderpriority, 'ALL') AS priority,
             coalesce(o_orderstatus, 'ALL') AS status,
             COUNT(*) AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
      FROM q99_orders
      GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                              (o_orderpriority), (o_orderstatus))
      ORDER BY priority, status""")
  }

  val q99Sql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderpriority), (o_orderstatus))
      |ORDER BY priority, status""".stripMargin

  // --------------------------------------------------------------- q100
  /** BAG-semantics set ops: the multiset of ordering customers in 1996
    * EXCEPT ALL the 1997 multiset (each order = one occurrence, so a
    * customer with 5 orders in '96 and 2 in '97 survives with
    * multiplicity 3 — DISTINCT set ops, q09, can't see that), plus the
    * INTERSECT ALL multiset. Output re-aggregated per key so the
    * compare is order-stable. */
  def q100BagSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def custs(year: Int) = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit(s"$year-01-01").cast("timestamp") &&
              $"o_orderdate" < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select($"o_custkey")
    val ex = custs(1996).exceptAll(custs(1997))
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .select($"o_custkey", $"n", lit("except_all").as("op"))
    val in = custs(1996).intersectAll(custs(1997))
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      .select($"o_custkey", $"n", lit("intersect_all").as("op"))
    ex.unionByName(in).orderBy($"op", $"o_custkey")
  }

  val q100Sql: String =
    """WITH c96 AS (SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'),
      |c97 AS (SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
      |ex AS (SELECT o_custkey FROM c96 EXCEPT ALL SELECT o_custkey FROM c97),
      |ia AS (SELECT o_custkey FROM c96 INTERSECT ALL SELECT o_custkey FROM c97)
      |SELECT o_custkey, COUNT(*) AS n, 'except_all' AS op FROM ex GROUP BY o_custkey
      |UNION ALL
      |SELECT o_custkey, COUNT(*) AS n, 'intersect_all' AS op FROM ia GROUP BY o_custkey
      |ORDER BY op, o_custkey""".stripMargin

  // --------------------------------------------------------------- q101
  /** Exact COUNT(DISTINCT) at scale — the TWO-STAGE rewrite: dedup on
    * (event_type, user_id) first (mergeable hash aggregate, map-side
    * combined), then count per type. The direct one-shot
    * COUNT(DISTINCT x) alongside other aggregates makes Catalyst plan
    * an Expand (row multiplication) — this shape never does, and at
    * 100 TB "distinct users per key" is THE query that melts naive
    * plans. PlanSpec pins the no-Expand property; the oracle is the
    * direct COUNT(DISTINCT). */
  def q101TwoStageDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val perUser = ev.groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("n_events_user"))
    perUser.groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
           sum($"n_events_user").as("n_events"))
      .orderBy($"event_type")
  }

  val q101Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q132
  /** SCD TYPE-2 DIMENSION BUILD from a change log — the warehouse verb
    * that turns an event stream into effective-dated history rows:
    * consecutive same-state events per user collapse into one validity
    * interval [valid_from, valid_to), open-ended (NULL) for the current
    * state. The classic gaps-and-islands shape: a LAG detects state
    * changes, a running sum of change flags numbers the runs (all
    * windows PARTITIONED per user — per-key sorts inside one shuffle,
    * never a global order), runs aggregate to intervals, and a LEAD
    * closes each interval with its successor's start. At 100 TB this is
    * one shuffle on user_id reused by every window and the aggregate
    * (same clustering key), then a |runs|-row pass. Timestamps flow as
    * exact epoch-micro longs; ties break on event_id. */
  /** Gaps-and-islands core shared by q132 (full build) and q136
    * (incremental merge): rows (user_id, event_id, event_type, ts_us, w)
    * → per-user runs with LOCAL run ids 1..k. `w` is an occurrence
    * weight — 1 for a real event, n_events for q136's open-interval
    * seed rows, so a resumed run re-counts exactly. */
  private def scdRuns(ev: DataFrame): DataFrame = {
    val ordW = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    ev.withColumn("prev_type", lag(col("event_type"), 1).over(ordW))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"))
      .agg(max(col("event_type")).as("event_type"), // constant within a run
           min(col("ts_us")).as("valid_from_us"),
           sum(col("w")).as("n_events"))
  }

  /** Close each run with its successor's start (LEAD per user); the last
    * run per user stays open (NULL valid_to, is_current). */
  private def closeRuns(runs: DataFrame): DataFrame = {
    val runW = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    runs.withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(runW))
      .select(col("user_id"), col("run_id"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.cast("long").as("is_current"))
  }

  private def scdEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      expr("ts_ns div 1000").as("ts_us"), lit(1L).as("w"))

  def q132Scd2Intervals(s: SparkSession, dir: String): DataFrame =
    closeRuns(scdRuns(scdEvents(s, dir)))
      .orderBy(col("user_id"), col("valid_from_us"))

  val q132Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events),
      |m AS (
      |  SELECT *, LAG(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      |  FROM ev),
      |r AS (
      |  SELECT *, SUM(CASE WHEN prev_type IS NULL
      |                       OR prev_type <> event_type THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |          ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM m),
      |runs AS (
      |  SELECT user_id, run_id, MAX(event_type) AS event_type,
      |    MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
      |  FROM r GROUP BY user_id, run_id)
      |SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
      |  valid_from_us,
      |  LEAD(valid_from_us) OVER
      |    (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
      |  n_events,
      |  CAST(CASE WHEN LEAD(valid_from_us) OVER
      |    (PARTITION BY user_id ORDER BY run_id) IS NULL
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM runs
      |ORDER BY user_id, valid_from_us""".stripMargin

  // --------------------------------------------------------------- q136
  /** History/delta split for the q136 incremental SCD2 merge. */
  val ScdCutoff = "2024-01-20"

  /** INCREMENTAL SCD2 MAINTENANCE — q90's IVM discipline applied to the
    * q132 dimension build: a persisted SCD2 snapshot (history < cutoff)
    * is brought up to date with a new event batch WITHOUT rescanning
    * history. Closed intervals are immutable facts — they pass through
    * untouched. Only each delta user's OPEN interval can change: it is
    * re-expressed as a weighted pseudo-event (its type, its start, w =
    * its event count) seeding the gaps-and-islands recompute over seed ∪
    * delta; the weight makes a resumed run re-count exactly, and run_id
    * continuity comes from offsetting the local tail numbering by the
    * open run's position. Cost: O(snapshot + delta + affected tail) —
    * at 100 TB the difference between touching last night's partition
    * and re-sorting a year of events. The oracle recomputes EVERYTHING
    * from scratch (q132's SQL) — green means the merge is
    * indistinguishable from the full rebuild, the entire IVM contract. */
  def q136IncrementalScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutUs = unix_micros(lit(ScdCutoff).cast("timestamp"))
    val ev = scdEvents(s, dir)
    val hist = ev.filter($"ts_us" < cutUs)
    val delta = ev.filter($"ts_us" >= cutUs)
    val snapshot = closeRuns(scdRuns(hist)) // the "persisted" dimension
    val deltaUsers = delta.select($"user_id").distinct()
    val seeds = snapshot.filter($"is_current" === 1)
      .join(deltaUsers, Seq("user_id"), "left_semi")
      .select($"user_id", lit(-1L).as("event_id"), $"event_type",
        $"valid_from_us".as("ts_us"), $"n_events".as("w"),
        ($"run_id" - 1).as("base_run"))
    val tailIn = seeds.select($"user_id", $"event_id", $"event_type", $"ts_us", $"w")
      .unionByName(delta)
    val tail = closeRuns(scdRuns(tailIn))
      .join(seeds.select($"user_id", $"base_run"), Seq("user_id"), "left")
      .withColumn("run_id", $"run_id" + coalesce($"base_run", lit(0L)))
      .drop("base_run")
      .select($"user_id", $"run_id", $"event_type", $"valid_from_us",
        $"valid_to_us", $"n_events", $"is_current")
    val untouched = snapshot.join(deltaUsers, Seq("user_id"), "left_anti")
    val keptClosed = snapshot.filter($"is_current" === 0)
      .join(deltaUsers, Seq("user_id"), "left_semi")
    untouched.unionByName(keptClosed).unionByName(tail)
      .orderBy($"user_id", $"valid_from_us")
  }

  // --------------------------------------------------------------- q134
  /** TABLE-VERSION DIFF (data reconciliation): given two versions of a
    * keyed table, report exactly which keys were added, removed, or
    * changed — the audit every table-maintenance op (q95 MERGE, q115
    * compaction, q123 backfill) wants after the fact. Each side reduces
    * to (key, fingerprint) — md5 over a canonical rendering of the
    * non-key columns — so the full-outer join on the key shuffles two
    * narrow relations however wide the table is; unchanged keys (the
    * overwhelming mass in practice) drop before the ORDER BY. The "new"
    * version here is q95's merged snapshot, which makes the diff
    * self-validating: green means diff(base, merge(base, changes))
    * reproduces the change batch exactly — inserts as 'added', deletes
    * as 'removed', re-priced keys as 'changed'. */
  def q134TableDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def fp(custkey: Column, status: Column, cents: Column, prio: Column) =
      md5(concat_ws("|", custkey, status, cents, prio))
    val base = Tables.orders(s, dir).select(
      $"o_orderkey".as("b_key"),
      fp($"o_custkey", $"o_orderstatus", cents($"o_totalprice"),
         $"o_orderpriority").as("b_fp"))
    val next = q95MergeUpsert(s, dir).select(
      $"o_orderkey".as("a_key"),
      fp($"o_custkey", $"o_orderstatus", $"price_cents",
         $"o_orderpriority").as("a_fp"))
    base.join(next, $"b_key" === $"a_key", "full_outer")
      .withColumn("status",
        when($"b_key".isNull, "added")
          .when($"a_key".isNull, "removed")
          .when($"b_fp" =!= $"a_fp", "changed"))
      .filter($"status".isNotNull)
      .select(coalesce($"b_key", $"a_key").as("o_orderkey"), $"status")
      .orderBy($"status", $"o_orderkey")
  }

  val q134Sql: String =
    s"""WITH applied AS (SELECT * FROM (${q95Sql.replace("ORDER BY o_orderkey", "")}) q),
       |b AS (
       |  SELECT o_orderkey AS b_key,
       |    md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
       |      CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR),
       |      o_orderpriority)) AS b_fp
       |  FROM orders),
       |a AS (
       |  SELECT o_orderkey AS a_key,
       |    md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
       |      CAST(price_cents AS VARCHAR), o_orderpriority)) AS a_fp
       |  FROM applied)
       |SELECT coalesce(b_key, a_key) AS o_orderkey,
       |  CASE WHEN b_key IS NULL THEN 'added'
       |       WHEN a_key IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status
       |FROM b FULL OUTER JOIN a ON b_key = a_key
       |WHERE b_key IS NULL OR a_key IS NULL OR b_fp <> a_fp
       |ORDER BY status, o_orderkey""".stripMargin

  // ------------------------------------------------ binned range join (q146)
  /** Interval count for the q146 fixture (deterministic promo periods
    * derived from the orders date span). */
  val RjPeriods = 12
  /** Bin count the date span is carved into for the equi-join rewrite —
    * each interval covers ~2-3 bins at these proportions. */
  val RjBins = 48

  /** q146: BINNED RANGE JOIN — the point-in-interval join with NO equi
    * key (IP-range geolocation, price-validity windows, promo periods),
    * which Spark plans as a NESTED-LOOP join: every fact row evaluates
    * every interval's predicate, O(n·m) — broadcastable at 12 intervals,
    * catastrophic at the million-interval tables the 100 TB shape
    * carries. The rewrite manufactures the missing equi key: carve the
    * domain into fixed-width bins, explode each interval to the bins it
    * covers (bounded fan-out: ~span/binW rows), map each fact to its ONE
    * bin, hash-join on bin, then re-apply the exact range predicate to
    * the survivors. A fact meets an interval in at most one (its own)
    * bin, so no dedup is needed; false bin-mates are removed by the
    * residual filter — soundness is the predicate's, the bins only
    * prune. At fixture scale the bin relation broadcasts; at a million
    * intervals the same plan shuffles both sides on bin — either way a
    * HASH join, never nested loops. PlanSpec pins the contrast: this
    * plan has a BroadcastHashJoin and no nested loop; the naive
    * formulation ([[naiveRangeJoin]]) plans BroadcastNestedLoopJoin.
    *
    * The periods are derived relationally from the orders span (min/max
    * broadcast back — no driver collect): period p covers
    * [mind + p·span div 12, +span div 24), half-open, gaps between —
    * so unmatched facts and the non-degenerate residual filter are both
    * exercised. p_start/p_end ride into the output to pin the interval
    * derivation itself in the hash. */
  def q146RangeJoin(s: SparkSession, dir: String): DataFrame =
    rangeJoinAgg(s, dir, binned = true)

  /** The naive inequality-join formulation — same result, nested-loop
    * plan; exists for PlanSpec's contrast, never wired as a query. */
  private[graft] def naiveRangeJoin(s: SparkSession, dir: String): DataFrame =
    rangeJoinAgg(s, dir, binned = false)

  private def rangeJoinAgg(s: SparkSession, dir: String,
                           binned: Boolean): DataFrame = {
    val o = Tables.orders(s, dir).select(
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("d"),
      cents(col("o_totalprice")).as("price_cents"))
    val mm = o.agg(min(col("d")).as("mind"), max(col("d")).as("maxd"))
      .selectExpr("mind", "maxd - mind + 1 as span")
      .selectExpr("mind", "span", s"greatest(1L, span div $RjBins) as binw")
    val periods = broadcast(mm)
      .select(col("mind"), col("span"), col("binw"),
        explode(expr(s"sequence(0, ${RjPeriods - 1})")).as("p"))
      .selectExpr("p", "binw",
        s"mind + (p * span) div $RjPeriods as p_start",
        s"mind + (p * span) div $RjPeriods + greatest(1L, span div ${2 * RjPeriods}) as p_end")
    val joined =
      if (binned) {
        val binnedPeriods = periods
          .withColumn("bin", explode(expr(
            "sequence(p_start div binw, (p_end - 1) div binw)")))
          .drop("binw")
        val facts = o.crossJoin(broadcast(mm.select(col("binw"))))
          .selectExpr("d div binw as bin", "d", "price_cents")
        facts.join(broadcast(binnedPeriods), "bin")
          .filter(col("d") >= col("p_start") && col("d") < col("p_end"))
      } else {
        o.join(broadcast(periods.drop("binw")),
          col("d") >= col("p_start") && col("d") < col("p_end"))
      }
    joined
      .groupBy(col("p"), col("p_start"), col("p_end"))
      .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("sum_cents"))
      .select(col("p").cast("int").as("period"), col("p_start"), col("p_end"),
        col("n_orders"), col("sum_cents"))
      .orderBy("period")
  }

  val q146Sql: String =
    s"""WITH o AS (
       |  SELECT date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS d,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
       |  FROM orders),
       |mm AS (SELECT MIN(d) AS mind, MAX(d) - MIN(d) + 1 AS span FROM o),
       |p AS (
       |  SELECT p,
       |    mind + (p * span) // $RjPeriods AS p_start,
       |    mind + (p * span) // $RjPeriods
       |      + greatest(1, span // ${2 * RjPeriods}) AS p_end
       |  FROM mm CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${RjPeriods - 1})) AS p))
       |SELECT CAST(p AS INT) AS period, CAST(p_start AS BIGINT) AS p_start,
       |  CAST(p_end AS BIGINT) AS p_end, COUNT(*) AS n_orders,
       |  CAST(SUM(price_cents) AS BIGINT) AS sum_cents
       |FROM o JOIN p ON o.d >= p.p_start AND o.d < p.p_end
       |GROUP BY 1, 2, 3
       |ORDER BY period""".stripMargin

  // ------------------------------------------------ cohort retention (q148)
  /** q148: COHORT RETENTION MATRIX — the classic product-analytics
    * rollup (and the engagement complement of q89's conversion funnel):
    * users cohorted by first-activity day, each later active day
    * counted at its day offset, retention as basis points of the
    * cohort's size. Integer day arithmetic end to end (epoch-µs div
    * day), so the matrix is hash-exact.
    *
    * Shape: ONE row-level shuffle. The per-user day SET is a single
    * user-keyed aggregate (collect_set with map-side partials — its
    * size is bounded by the retention horizon in DAYS, not by event
    * volume, so a million-event user still carries ≤ horizon entries),
    * and cohort day + offsets derive from that set statelessly
    * (array_min, explode) — no join back, no second pass over events.
    * Everything after is aggregation over the tiny (cohort, offset)
    * matrix, with the cohort-size base row re-attached broadcast. */
  def q148CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val m = e.groupBy("user_id").agg(collect_set(col("day")).as("days"))
      .select(explode(expr(
        "transform(days, d -> named_struct(" +
          "'cohort_day', array_min(days), 'day_offset', d - array_min(days)))"))
        .as("x"))
      .select(col("x.cohort_day").as("cohort_day"),
        col("x.day_offset").as("day_offset"))
      .groupBy("cohort_day", "day_offset").agg(count(lit(1)).as("n_active"))
    // cohort size = the offset-0 cell, attached as a window over the
    // matrix itself (a self-join would recompute the whole events
    // aggregate on the second branch — exchange reuse is not free)
    m.withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_active")))
          .over(Window.partitionBy("cohort_day")))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        expr("(10000 * n_active) div cohort_size").as("retention_bp"))
      .orderBy("cohort_day", "day_offset")
  }

  val q148Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
      |m AS (
      |  SELECT cohort_day, day - cohort_day AS day_offset,
      |    COUNT(*) AS n_active
      |  FROM (SELECT DISTINCT e.user_id, c.cohort_day, e.day
      |        FROM e JOIN c USING (user_id))
      |  GROUP BY 1, 2),
      |b AS (SELECT cohort_day, n_active AS cohort_size FROM m
      |      WHERE day_offset = 0)
      |SELECT m.cohort_day, m.day_offset, m.n_active, b.cohort_size,
      |  (10000 * m.n_active) // b.cohort_size AS retention_bp
      |FROM m JOIN b USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  // --------------------------------------------- markov transitions (q150)
  /** q150: EVENT-FLOW TRANSITION MATRIX — first-order Markov statistics
    * over each user's event sequence (the "session flow" analytics
    * behind funnel design, and the event-stream twin of q66's bigram
    * LM). Consecutive-pair extraction is a LAG over the user partition
    * ordered by (ts, event_id) — per-key sorts inside ONE user-keyed
    * exchange, never a global order (q132's window discipline); what
    * leaves that exchange is only the |types|² count matrix, and the
    * row-normalized ppm probabilities ride a second window over THAT
    * tiny relation. Integer ppm with floor division, hash-exact. */
  def q150MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("us"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val m = e.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    m.withColumn("row_total",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div row_total").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val q150Sql: String =
    """WITH t AS (
      |  SELECT event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |m AS (
      |  SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
      |  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST((1000000 * n) // rt AS BIGINT) AS p_ppm
      |FROM (SELECT *, SUM(n) OVER (PARTITION BY from_type) AS rt FROM m)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------- retraction IVM (q159)
  /** q159: RETRACTION — the negative half of incremental view
    * maintenance (q90 proves additions fold in; this proves DELETIONS
    * fold OUT), and the mechanics behind a "right to be forgotten"
    * request against derived tables: the per-type rollup is a STORED
    * snapshot (materialized parquet, built once — never recomputed per
    * request), and erasing one user touches only that user's rows —
    * their contribution re-aggregates from an id-filtered scan (an
    * index lookup at 100 TB, not a table pass) and SUBTRACTS from the
    * snapshot, algebraic aggregates being invertible. Groups whose
    * count reaches zero drop (the view must not retain a tombstoned
    * group). The erased user is the deterministic MIN(user_id)
    * (production gets it from the request); n_removed rides in the
    * output so the oracle hash pins the delta itself, not just the
    * post-state — the oracle recomputes everything from scratch with
    * the user excluded, so subtraction semantics must match full
    * recompute exactly (including cents arithmetic). */
  def q159RetractionIvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val snapPath = graft.TempDirs.staged("retract-snap", dir) { p =>
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .write.mode("overwrite").parquet(p.toString)
    }.toString
    val minU = ev.agg(min(col("user_id")).as("mu"))
    val delta = ev.crossJoin(broadcast(minU))
      .filter(col("user_id") === col("mu"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_removed"), sum(col("cents")).as("cents_removed"))
    s.read.parquet(snapPath)
      .join(broadcast(delta), Seq("event_type"), "left")
      .select(col("event_type"),
        (col("n") - coalesce(col("n_removed"), lit(0L))).as("n"),
        (col("sum_cents") - coalesce(col("cents_removed"), lit(0L))).as("sum_cents"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
      .filter(col("n") > 0)
      .orderBy("event_type")
  }

  val q159Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mu AS (SELECT MIN(user_id) AS mu FROM ev)
      |SELECT event_type, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST((SELECT COUNT(*) FROM ev e2, mu
      |        WHERE e2.user_id = mu.mu
      |          AND e2.event_type = ev.event_type) AS BIGINT) AS n_removed
      |FROM ev CROSS JOIN mu
      |WHERE ev.user_id <> mu.mu
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------ trend slopes (q161)
  /** q161: EXACT LEAST-SQUARES TREND per event type — "is this metric
    * rising?" as a pair of EXACT INTEGER columns instead of a float:
    * for daily counts y over day numbers x, the OLS slope is the
    * rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); emitting numerator
    * and denominator as BIGINTs keeps the gate hash-exact (Spark's
    * built-in `regr_slope` is a double — fold-order dependent) and
    * still totally orders trends (compare num·den' vs num'·den). A
    * scaled slope_mbp (millionths per day) is floored from the same
    * rationals for human eyes. Shape: one (type, day) count aggregate,
    * then the five regression sums over the tiny daily relation —
    * regression over 100 TB of raw events costs exactly one
    * aggregation pass because Σx/Σy/Σxy/Σx² are all algebraic. */
  def q161TrendSlopes(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("x"))
      .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .select(col("event_type"), col("n_days"), col("slope_num"),
        col("slope_den"),
        expr("case when slope_den = 0 then 0L " +
          "else (1000000 * slope_num) div slope_den end").as("slope_mbp"))
      .orderBy("event_type")
  }

  val q161Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
      |    COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, COUNT(*) AS n_days,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, n_days,
      |  CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CAST(CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
      |       ELSE (1000000 * (n_days * sxy - sx * sy))
      |            // (n_days * sxx - sx * sx) END AS BIGINT) AS slope_mbp
      |FROM sums
      |ORDER BY event_type""".stripMargin

  // -------------------------------------------- inter-arrival hist (q162)
  /** q162: INTER-ARRIVAL-TIME DISTRIBUTION — per-user event gaps bucketed
    * into powers of two (the latency-histogram shape monitoring systems
    * export): gap extraction is a LAG over the user partition (one
    * user-keyed exchange, q150's discipline), and the bucket is the
    * EXACT integer floor(log2(gap_µs)) via binary-string length —
    * `length(bin(n)) - 1` in both engines — because float log2 rounds
    * up at large power-of-two boundaries (n near 2^50 rounds to 50.0
    * in a double and lands in the wrong bucket; the string form cannot).
    * Output: bucket, count, exact min/max gap per bucket. */
  def q162InterarrivalHist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap") > 0)
      .select((length(expr("bin(gap)")) - 1).cast("int").as("bucket"),
        col("gap"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"))
      .orderBy("bucket")
  }

  val q162Sql: String =
    """WITH g AS (
      |  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events)
      |SELECT CAST(length(bin(gap)) - 1 AS INT) AS bucket,
      |  COUNT(*) AS n, CAST(MIN(gap) AS BIGINT) AS min_gap_us,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap_us
      |FROM g WHERE gap > 0
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ------------------------------------------ point-in-time enrich (q168)
  /** Feature-collection lag: each probe asks for the state one hour AFTER
    * its event — deliberately off every interval boundary, so the lookup
    * exercises genuine between-boundary resolution, not start-equality. */
  val PitLagUs = 3600000000L

  /** q168: POINT-IN-TIME ENRICHMENT against the SCD2 dimension — the
    * feature-store correctness join ("what was this user's state when
    * the sample was collected?") that, done wrong (join on is_current),
    * silently leaks FUTURE state into training features. Composes two
    * existing pieces: q132's gaps-and-islands intervals and q139's
    * custom as-of physical operator — PIT lookup IS an as-of join on
    * (user, valid_from ≤ probe), because tiled validity intervals make
    * "latest start at-or-before the probe" and "interval containing the
    * probe" the same interval. The one non-equivalence is zero-width
    * runs (two state changes at the same microsecond): [t, t) contains
    * nothing but ties "latest start" — dropped from the dimension side
    * (a state that never held can never be the answer), after which
    * starts are strictly increasing per user and the as-of answer is
    * unique. The oracle resolves by the DIRECT interval-containment
    * predicate — a different algorithm entirely — and the hash pins
    * them row-equal via a 40-bit md5 fingerprint sum; n_in_window
    * (probe < valid_to or open) must equal n_probes, gating the tiling
    * argument itself. Scale: the as-of exec co-partitions both sides on
    * user and streams each partition in one two-pointer pass — no
    * interval explosion, no range-bin manufacture (q146's fallback for
    * when there is NO equi key; here user_id is one). */
  def q168PitEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val intervals = closeRuns(scdRuns(scdEvents(s, dir)))
      .filter($"valid_to_us".isNull || $"valid_to_us" > $"valid_from_us")
      .select($"user_id", $"valid_from_us", $"event_type".as("state_type"),
        $"run_id", $"valid_to_us")
    val probes = scdEvents(s, dir)
      .select($"user_id", $"event_id", ($"ts_us" + PitLagUs).as("probe_us"))
    graft.plans.AsOfJoinNode
      .asof(probes, intervals, "user_id", "probe_us", "valid_from_us")
      .select($"user_id", $"probe_us",
        $"r_state_type".as("state_type"), $"r_run_id".as("run_id"),
        $"r_valid_to_us".as("valid_to_us"))
      .groupBy("state_type")
      .agg(count(lit(1)).as("n_probes"),
        countDistinct($"user_id").as("n_users"),
        sum(when($"valid_to_us".isNull || $"probe_us" < $"valid_to_us", 1L)
          .otherwise(0L)).as("n_in_window"),
        sum(expr("cast(conv(substr(md5(concat_ws('|', user_id, probe_us, run_id)), 1, 10), 16, 10) as bigint)"))
          .as("fp_sum"))
      .orderBy("state_type")
  }

  /** Oracle: the same intervals resolved by DIRECT interval containment
    * (valid_from ≤ probe < valid_to, open = NULL) — a different
    * resolution algorithm than the engine's as-of merge, hash-pinned
    * equal per row via the 40-bit md5 fingerprint sum. */
  val q168Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
       |  FROM events),
       |m AS (
       |  SELECT *, LAG(event_type) OVER
       |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
       |  FROM ev),
       |r AS (
       |  SELECT *, SUM(CASE WHEN prev_type IS NULL
       |                       OR prev_type <> event_type THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |          ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM m),
       |runs AS (
       |  SELECT user_id, run_id, MAX(event_type) AS state_type,
       |    MIN(ts_us) AS valid_from_us
       |  FROM r GROUP BY user_id, run_id),
       |iv AS (
       |  SELECT user_id, run_id, state_type, valid_from_us,
       |    LEAD(valid_from_us) OVER
       |      (PARTITION BY user_id ORDER BY run_id) AS valid_to_us
       |  FROM runs),
       |ivn AS (
       |  SELECT * FROM iv
       |  WHERE valid_to_us IS NULL OR valid_to_us > valid_from_us),
       |p AS (
       |  SELECT user_id, event_id, ts_us + $PitLagUs AS probe_us FROM ev),
       |j AS (
       |  SELECT p.user_id, p.probe_us, i.state_type, i.run_id, i.valid_to_us
       |  FROM p JOIN ivn i ON i.user_id = p.user_id
       |    AND i.valid_from_us <= p.probe_us
       |    AND (i.valid_to_us IS NULL OR p.probe_us < i.valid_to_us))
       |SELECT state_type, COUNT(*) AS n_probes,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(CASE WHEN valid_to_us IS NULL OR probe_us < valid_to_us
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_in_window,
       |  CAST(SUM(('0x' || substr(md5(user_id || '|' || probe_us || '|' || run_id),
       |            1, 10))::BIGINT) AS BIGINT) AS fp_sum
       |FROM j
       |GROUP BY state_type
       |ORDER BY state_type""".stripMargin

  // ------------------------------------------- merkle replica diff (q171)
  /** Range width (docs per leaf bucket) and the deterministic divergence
    * the gate plants: replica drops doc_id % 211 == 5 and appends '!' to
    * doc_id % 193 == 7 (a dropped doc stays dropped — filter precedes
    * edit in both engines). */
  val MerkleBucketWidth = 16L
  val MerkleDropMod = 211L
  val MerkleEditMod = 193L

  private def merkleFp(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      expr(s"doc_id div $MerkleBucketWidth").as("bucket"),
      expr("cast(conv(substr(md5(concat_ws('|', doc_id, text)), 1, 10), 16, 10) as bigint)")
        .as("fp"))

  private def merkleReplica(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % MerkleDropMod =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % MerkleEditMod === 7, concat(col("text"), lit("!")))
          .otherwise(col("text")).as("text"))

  /** The range-summary compare (phase 1): buckets whose (fp sum, count)
    * disagree between primary and replica — public so the spec can pin
    * the phase-2 cost contract to it. Sums of 40-bit fingerprints stay
    * Long-exact to 2^23 rows per bucket (the production bucket is sized
    * far below that); the count column catches the degenerate case of
    * colliding sums with different membership. */
  def merkleDiffBuckets(primary: DataFrame, replica: DataFrame): DataFrame = {
    def summarize(df: DataFrame, fpName: String, nName: String) =
      merkleFp(df).groupBy("bucket")
        .agg(sum(col("fp")).as(fpName), count(lit(1)).as(nName))
    summarize(primary, "fp_sum_p", "n_p")
      .join(summarize(replica, "fp_sum_r", "n_r"), Seq("bucket"), "full_outer")
      .filter(coalesce(col("fp_sum_p"), lit(-1L)) =!= coalesce(col("fp_sum_r"), lit(-1L)) ||
        coalesce(col("n_p"), lit(-1L)) =!= coalesce(col("n_r"), lit(-1L)))
      .select("bucket")
  }

  /** q171: MERKLE-RANGE REPLICA RECONCILIATION — anti-entropy repair
    * (Cassandra/Dynamo's sync discipline) as a relational two-phase:
    * where q134's table diff full-outer-joins the ENTIRE key space of
    * both versions, two 100 TB replicas that agree on 99.99% of ranges
    * should exchange range SUMMARIES first and touch rows only where
    * the summaries disagree. Phase 1 reduces each replica to one
    * (fp_sum, count) row per [[MerkleBucketWidth]]-wide doc_id range —
    * fingerprint sums are commutative, so each side aggregates locally
    * with no cross-replica shuffle, and the compare joins two
    * range-count-sized relations. Phase 2 full-outer-joins row-level
    * fingerprints ONLY inside the differing ranges (a broadcast
    * semi-join that, over the q92/q107 layouts, becomes partition
    * pruning — the scan never reads an agreeing range). The oracle
    * diffs the replicas DIRECTLY (no bucketing), so the gate proves the
    * hierarchical path loses nothing: summary compare + local repair ==
    * global row diff, exactly. A false bucket match would need two
    * ranges differing yet agreeing on both count and 40-bit fp sum —
    * and any such drift also fails the oracle hash here. */
  def q171MerkleDiff(s: SparkSession, dir: String): DataFrame = {
    val primary = Tables.documents(s, dir).select("doc_id", "text")
    val replica = merkleReplica(Tables.documents(s, dir))
    val diffB = merkleDiffBuckets(primary, replica)
    val p2 = merkleFp(primary).join(broadcast(diffB), Seq("bucket"))
      .select(col("doc_id"), col("fp").as("fp_p"))
    val r2 = merkleFp(replica).join(broadcast(diffB), Seq("bucket"))
      .select(col("doc_id"), col("fp").as("fp_r"))
    p2.join(r2, Seq("doc_id"), "full_outer")
      .filter(col("fp_p").isNull || col("fp_r").isNull || col("fp_p") =!= col("fp_r"))
      .select(col("doc_id"),
        expr(s"doc_id div $MerkleBucketWidth").as("bucket"),
        when(col("fp_r").isNull, "missing_in_replica")
          .when(col("fp_p").isNull, "extra_in_replica")
          .otherwise("changed").as("status"))
      .orderBy("doc_id")
  }

  /** Oracle: the direct (unbucketed) replica diff. */
  val q171Sql: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $MerkleEditMod = 7 THEN text || '!' ELSE text END AS text
       |  FROM documents WHERE doc_id % $MerkleDropMod <> 5),
       |pf AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id || '|' || text), 1, 10))::BIGINT AS fp
       |  FROM documents),
       |rf AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id || '|' || text), 1, 10))::BIGINT AS fp
       |  FROM r),
       |j AS (
       |  SELECT COALESCE(pf.doc_id, rf.doc_id) AS doc_id,
       |    pf.fp AS fp_p, rf.fp AS fp_r
       |  FROM pf FULL OUTER JOIN rf ON rf.doc_id = pf.doc_id)
       |SELECT doc_id, CAST(doc_id // $MerkleBucketWidth AS BIGINT) AS bucket,
       |  CASE WHEN fp_r IS NULL THEN 'missing_in_replica'
       |       WHEN fp_p IS NULL THEN 'extra_in_replica'
       |       ELSE 'changed' END AS status
       |FROM j
       |WHERE fp_r IS NULL OR fp_p IS NULL OR fp_p <> fp_r
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------ peak concurrency (q172)
  /** Session active window extends one gap past the last event — exactly
    * Spark's session_window end (q12's gate pins the gap semantics). */
  val SessionGapUs = 1800000000L

  /** q172: PEAK CONCURRENT SESSIONS per day — the capacity-planning
    * sweep-line (max simultaneous intervals): each session contributes
    * +1 at start and −1 at end (half-open, so ends sort BEFORE starts
    * at the same instant via delta order), and peak = max running sum.
    * The textbook form is one GLOBAL ordered cumulative sum — an
    * Exchange(SinglePartition) that funnels every delta of a 100 TB
    * event history through one task. The engine runs the q131 two-phase
    * prefix-sum rewrite on the WEIGHTED version: per-day running sums
    * (value-deterministic day buckets, parallel per-day sorts inside
    * one day-keyed exchange) plus carry-in offsets from an exclusive
    * prefix over the tiny per-day delta-total relation — the global
    * running value is carry + local, and only the |days|-row relation
    * ever sees a single-partition window. Tie groups (equal (ts,
    * delta)) collapse identically in both engines: SUM OVER ORDER BY
    * defaults to RANGE, so a tie group's rows all read the group-final
    * running value — the "process simultaneous events atomically"
    * semantics a sweep-line wants. Oracle = the single global window. */
  def q172PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sess = q12Sessionize(s, dir)
      .select($"session_start_us".as("start_us"),
        ($"last_us" + SessionGapUs).as("end_us"))
    val deltas = sess.select($"start_us".as("ts"), lit(1L).as("delta"))
      .unionByName(sess.select($"end_us".as("ts"), lit(-1L).as("delta")))
      .withColumn("day", expr("ts div 86400000000"))
    val dayW = Window.partitionBy("day").orderBy("ts", "delta")
    val local = deltas.withColumn("run_local", sum($"delta").over(dayW))
    val carryW = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy("day").agg(sum($"delta").as("d_sum"))
      .withColumn("carry", coalesce(sum($"d_sum").over(carryW), lit(0L)))
      .select("day", "carry")
    local.join(broadcast(offsets), "day")
      .groupBy("day")
      .agg(max($"carry" + $"run_local").as("peak_concurrency"),
        sum(when($"delta" === 1, 1L).otherwise(0L)).as("n_starts"))
      .orderBy("day")
  }

  val q172Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us FROM events),
       |flagged AS (
       |  SELECT user_id, us,
       |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
       |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $SessionGapUs
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM e),
       |sess AS (
       |  SELECT user_id, us,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
       |                     ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged),
       |iv AS (
       |  SELECT MIN(us) AS start_us, MAX(us) + $SessionGapUs AS end_us
       |  FROM sess GROUP BY user_id, sid),
       |d AS (
       |  SELECT start_us AS ts, 1 AS delta FROM iv
       |  UNION ALL SELECT end_us, -1 FROM iv),
       |r AS (
       |  SELECT ts // 86400000000 AS day, delta,
       |    SUM(delta) OVER (ORDER BY ts, delta) AS run
       |  FROM d)
       |SELECT day, CAST(MAX(run) AS BIGINT) AS peak_concurrency,
       |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
       |FROM r GROUP BY day
       |ORDER BY day""".stripMargin

  // ------------------------------------------ event trigrams (q183)
  /** q183: FREQUENT EVENT-SEQUENCE PATTERNS (order-3) — which three-step
    * user journeys actually happen, the sequence-mining step behind
    * funnel design that q150's first-order transition matrix can't
    * answer (Markov chains forget where the user came from two steps
    * ago; "view→click→purchase vs click→view→purchase" is invisible at
    * order 1). Two LAGs ride the SAME user-keyed window (one exchange,
    * per-user sorts parallel — the q150/q162 discipline), and only the
    * ≤|types|³ pattern matrix leaves it; support in ppm of all
    * trigram instances, exact integers. */
  def q183EventTrigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val tri = Tables.events(s, dir)
      .select($"user_id", $"event_id", expr("ts_ns div 1000").as("us"),
        $"event_type")
      .withColumn("t2", lag($"event_type", 1).over(w))
      .withColumn("t1", lag($"event_type", 2).over(w))
      .filter($"t1".isNotNull)
      .select($"t1", $"t2", $"event_type".as("t3"))
    val total = tri.agg(count(lit(1)).as("n_total"))
    tri.groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select($"t1", $"t2", $"t3", $"n",
        expr("(1000000 * n) div n_total").as("support_ppm"))
      .orderBy($"n".desc, $"t1", $"t2", $"t3")
  }

  val q183Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events),
      |tri AS (
      |  SELECT
      |    LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t1,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t2,
      |    event_type AS t3
      |  FROM e),
      |f AS (SELECT * FROM tri WHERE t1 IS NOT NULL),
      |tot AS (SELECT COUNT(*) AS n_total FROM f)
      |SELECT t1, t2, t3, COUNT(*) AS n,
      |  CAST((1000000 * COUNT(*)) // MAX(n_total) AS BIGINT) AS support_ppm
      |FROM f, tot
      |GROUP BY t1, t2, t3, n_total
      |ORDER BY n DESC, t1, t2, t3""".stripMargin

  // ------------------------------------------ change feed (q185)
  /** q185: CHANGE-DATA-FEED READ between two published versions of the
    * q144 versioned store — the "what changed since version N" query
    * downstream incremental consumers (index maintainers, q90-style
    * IVM, replication) poll instead of re-reading the table: both
    * versions load through the version-pinned [[readAt]] path, reduce
    * to (key, 40-bit fp) — q134's narrow-relation discipline applied
    * to PHYSICAL version reads — and the full-outer join classifies
    * row-level deltas. On the fixture's v0→v1 retraction the feed is
    * pure deletes, and a CDF that invents inserts/updates (leaking
    * current rows into the historical read, q144's failure mode) fails
    * both the oracle and the change-type histogram. */
  def q185ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.Compaction.travelRoot(s, dir)
    def side(v: Long, fp: String) =
      graft.sources.Compaction.readAt(s, root, v)
        .select(col("doc_id"), expr(
          "cast(conv(substr(md5(concat_ws(':', cast(doc_id as string), text)), 1, 10), 16, 10) as bigint)")
          .as(fp))
    side(0, "fp_a").join(side(1, "fp_b"), Seq("doc_id"), "full_outer")
      .filter(col("fp_a").isNull || col("fp_b").isNull || col("fp_a") =!= col("fp_b"))
      .select(col("doc_id"),
        when(col("fp_b").isNull, "delete")
          .when(col("fp_a").isNull, "insert")
          .otherwise("update").as("change_type"))
      .orderBy("doc_id")
  }

  val q185Sql: String =
    """SELECT doc_id, 'delete' AS change_type
      |FROM documents
      |WHERE source = (SELECT MIN(source) FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------- decayed freshness (q193)
  /** Exponential-decay half-life: 2 days of event age halves a row's
    * weight. */
  val DecayHalfLifeUs = 172800000000L
  /** Q30 fixed-point unit weight (2^30) — a fresh event contributes
    * exactly this; age decays it by arithmetic shiftright, which floors
    * identically in both engines (the div-vs-// trap never arises on
    * these non-negative shifts). */
  val DecayScale = 1073741824L
  /** Loud bound on the ppm numerator: decayed sums beyond this would
    * overflow `sum * 1e6` — at 2^30 max weight per event that is ~8.6M
    * fully-fresh events per type; a 100 TB deployment shards the decay
    * sum by time bucket first (each bucket shares one shift) and raises
    * here rather than wrap (packGuard discipline). */
  val DecayPpmBound = 9223372036854L

  /** q193: TIME-DECAYED FRESHNESS WEIGHTS — exponentially-decayed event
    * counts (half-life [[DecayHalfLifeUs]]), the freshness-weighted
    * popularity stat behind trending/ranking features and
    * recency-weighted mixture sampling (a source's decayed mass, not
    * its raw count, is what "how much NEW data is arriving" means).
    * Decay is usually done with float exp() — unreproducible across
    * engines; here the decay is EXACT integer arithmetic: weight =
    * [[DecayScale]] >> floor(age/half-life), a per-row shift off a
    * broadcast max-timestamp scalar. One scan, one tiny per-type
    * aggregate, one broadcast total for the ppm share — order-
    * independent sums of non-negative longs, hash-exact by
    * construction. */
  def q193DecayedCounts(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
    val ref = e.agg(max("us").as("ref"))
    val per = e.crossJoin(broadcast(ref))
      .withColumn("wt", expr(
        s"shiftright(${DecayScale}L, cast(least((ref - us) div $DecayHalfLifeUs, 62) as int))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("wt").as("decayed_q30"),
           max("us").as("last_seen_us"))
    val tot = per.agg(sum("decayed_q30").as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_events"),
        when(col("decayed_q30") > DecayPpmBound,
          raise_error(lit(s"q193 decayed sum exceeds ppm bound $DecayPpmBound")))
          .otherwise(col("decayed_q30")).as("decayed_q30"),
        expr("(decayed_q30 * 1000000) div tot").as("decayed_ppm"),
        col("last_seen_us"))
      .orderBy("event_type")
  }

  val q193Sql: String =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
       |m AS (SELECT max(us) AS ref FROM e),
       |w AS (SELECT event_type, us,
       |        $DecayScale >> CAST(least((ref - us) // $DecayHalfLifeUs, 62) AS INT) AS wt
       |      FROM e, m),
       |per AS (SELECT event_type, count(*) AS n_events,
       |          CAST(sum(wt) AS BIGINT) AS decayed_q30,
       |          max(us) AS last_seen_us
       |        FROM w GROUP BY event_type)
       |SELECT event_type, n_events, decayed_q30,
       |  CAST((decayed_q30 * 1000000) // (SELECT sum(decayed_q30) FROM per) AS BIGINT) AS decayed_ppm,
       |  last_seen_us
       |FROM per ORDER BY event_type""".stripMargin

  // --------------------------------------- touch attribution (q210)
  /** Attribution lookback window: a purchase credits touches within
    * the preceding two hours (inclusive of simultaneous events). */
  val AttrWindowUs = 7200000000L
  /** Event-id headroom in the packed (rel_us, event_id) argmax key. */
  val AttrIdBits = 20

  /** q210: FIRST/LAST-TOUCH ATTRIBUTION — the conversion-credit query
    * behind every funnel dashboard: for each purchase, which
    * click/view by the same user inside the lookback window gets the
    * credit, under both the last-touch and first-touch models (the
    * two ends of the attribution-model spectrum; reporting both per
    * purchase is what lets an analyst compare models without
    * re-running the pipeline). Purchases with no windowed touch
    * report -1/'none'.
    *
    * Scale: the classic per-purchase correlated subquery becomes TWO
    * RANGE-window aggregates over ONE user-keyed exchange — min/max of
    * a packed (rel_us, event_id) argmax key over touches in the
    * trailing window (relative micros keep the pack in Long range,
    * guarded loudly; ties break on event_id via the pack itself,
    * identical in both engines since everything is value arithmetic).
    * Touch types resolve through two id-equi-joins at the end —
    * purchase-count rows, not corpus rows. */
  def q210Attribution(s: SparkSession, dir: String): DataFrame = {
    val posCap = 1L << AttrIdBits
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val t0 = e.agg(min("us").as("t0"))
    val keyed = e.crossJoin(broadcast(t0))
      .withColumn("rel", col("us") - col("t0"))
      .withColumn("pk",
        // explicit bound, not wrap detection: rel approaching 2^43 us
        // (~101 days; the cut is conservatively one tick early) would
        // wrap the pack PAST the sign bit back to positive and silently
        // mis-attribute; the remedy at that span is an epoch-bucketed
        // pack, and this raises until someone builds it — the oracle
        // carries the IDENTICAL bound through error(), so neither
        // engine can cross into the wrap region alone
        when(col("rel") >= (Long.MaxValue / posCap) ||
             col("event_id") < 0 || col("event_id") >= posCap,
          raise_error(lit(s"q210 packed attribution key overflows ($AttrIdBits id bits / ~101-day span)")))
        .otherwise(when(col("event_type").isin("click", "view"),
          col("rel") * posCap + col("event_id"))))
    val w = Window.partitionBy("user_id").orderBy("rel")
      .rangeBetween(-AttrWindowUs, 0)
    val attributed = keyed
      .withColumn("last_pk", max("pk").over(w))
      .withColumn("first_pk", min("pk").over(w))
      .withColumn("n_touches", count("pk").over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us"),
        coalesce(expr(s"last_pk % ${posCap}L"), lit(-1L)).as("last_touch_id"),
        coalesce(expr(s"first_pk % ${posCap}L"), lit(-1L)).as("first_touch_id"),
        col("n_touches"))
    val types = e.select(col("event_id"), col("event_type"))
    attributed
      .join(types.select(col("event_id").as("last_touch_id"),
        col("event_type").as("last_touch_type")), Seq("last_touch_id"), "left_outer")
      .join(types.select(col("event_id").as("first_touch_id"),
        col("event_type").as("first_touch_type")), Seq("first_touch_id"), "left_outer")
      .select(col("purchase_id"), col("user_id"), col("us"),
        col("last_touch_id"), coalesce(col("last_touch_type"), lit("none")).as("last_touch_type"),
        col("first_touch_id"), coalesce(col("first_touch_type"), lit("none")).as("first_touch_type"),
        col("n_touches"))
      .orderBy("purchase_id")
  }

  val q210Sql: String = {
    val posCap = 1L << AttrIdBits
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |t0 AS (SELECT min(us) AS t0 FROM e),
       |k AS (
       |  SELECT e.event_id, e.user_id, e.event_type, e.us, e.us - t0.t0 AS rel,
       |    CASE WHEN e.us - t0.t0 >= ${Long.MaxValue / posCap}
       |           OR e.event_id < 0 OR e.event_id >= $posCap
       |         THEN error('q210 packed attribution key overflows ($AttrIdBits id bits / ~101-day span)')
       |         WHEN e.event_type IN ('click', 'view')
       |         THEN (e.us - t0.t0) * $posCap + e.event_id END AS pk
       |  FROM e, t0),
       |w AS (
       |  SELECT event_id, user_id, event_type, us,
       |    max(pk) OVER win AS last_pk,
       |    min(pk) OVER win AS first_pk,
       |    count(pk) OVER win AS n_touches
       |  FROM k
       |  WINDOW win AS (PARTITION BY user_id ORDER BY rel
       |                 RANGE BETWEEN $AttrWindowUs PRECEDING AND CURRENT ROW))
       |SELECT w.event_id AS purchase_id, w.user_id, w.us,
       |  coalesce(w.last_pk % $posCap, -1) AS last_touch_id,
       |  coalesce(lt.event_type, 'none') AS last_touch_type,
       |  coalesce(w.first_pk % $posCap, -1) AS first_touch_id,
       |  coalesce(ft.event_type, 'none') AS first_touch_type,
       |  w.n_touches
       |FROM w
       |LEFT JOIN e lt ON lt.event_id = w.last_pk % $posCap
       |LEFT JOIN e ft ON ft.event_id = w.first_pk % $posCap
       |WHERE w.event_type = 'purchase'
       |ORDER BY purchase_id""".stripMargin
  }

  // ---------------------------------------------------------------- wiring
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q05_pricing"     -> (q05Pricing _),
    "q06_join5"       -> (q06RegionRevenue _),
    "q07_topk"        -> (q07TopCustomers _),
    "q08_window"      -> (q08OrderRanks _),
    "q09_intersect"   -> (q09Intersect _),
    "q09_except"      -> (q09Except _),
    "q10_rollup"      -> (q10Rollup _),
    "q11_event_windows" -> (q11EventWindows _),
    "q12_sessionize"  -> (q12Sessionize _),
    "q25_asof_purchase" -> (q25AsofPurchase _),
    "q139_asof_exec"    -> (q139AsofExec _),
    "q26_interval_join" -> (q26IntervalJoin _),
    "q27_cube_stats"    -> (q27CubeStats _),
    "q28_json_extract"  -> (q28JsonExtract _),
    "q39_pivot"         -> (q39Pivot _),
    "q86_scalar_subquery" -> (q86ScalarSubquery _),
    "q87_exists_subquery" -> (q87ExistsSubquery _),
    "q88_salted_agg"      -> (q88SaltedAgg _),
    "q110_skew_join"      -> ((s, d) => graft.operators.Skew.skewJoinStats(s, d)),
    "q119_bloom_join"     -> ((s, d) => graft.operators.RuntimeFilter.bloomJoinStats(s, d)),
    "q89_funnel"          -> (q89Funnel _),
    "q90_incremental_agg" -> (q90IncrementalAgg _),
    "q91_range_window"    -> (q91RangeWindow _),
    "q94_bucketed_join"   -> (q94BucketedJoin _),
    "q95_merge_upsert"    -> (q95MergeUpsert _),
    "q96_churned_customers" -> (q96ChurnedCustomers _),
    "q97_large_orders"      -> (q97LargeOrders _),
    "q99_grouping_sets"     -> (q99GroupingSets _),
    "q100_bag_set_ops"      -> (q100BagSetOps _),
    "q101_two_stage_distinct" -> (q101TwoStageDistinct _),
    "q132_scd2_intervals"   -> (q132Scd2Intervals _),
    "q136_incremental_scd2" -> (q136IncrementalScd2 _),
    "q134_table_diff"       -> (q134TableDiff _),
    "q146_range_join"       -> (q146RangeJoin _),
    "q148_cohort_retention" -> (q148CohortRetention _),
    "q150_markov_transitions" -> (q150MarkovTransitions _),
    "q154_null_skew_join" -> ((s, d) => graft.operators.Skew.nullSkewJoin(s, d)),
    "q159_retraction_ivm" -> (q159RetractionIvm _),
    "q161_trend_slopes" -> (q161TrendSlopes _),
    "q162_interarrival_hist" -> (q162InterarrivalHist _),
    "q168_pit_enrich" -> (q168PitEnrich _),
    "q171_merkle_diff" -> (q171MerkleDiff _),
    "q172_peak_concurrency" -> (q172PeakConcurrency _),
    "q183_event_trigrams" -> (q183EventTrigrams _),
    "q185_change_feed" -> (q185ChangeFeed _),
    "q193_decayed_counts" -> (q193DecayedCounts _),
    "q210_attribution" -> (q210Attribution _))

  val oracles: Map[String, String] = Map(
    "q25_asof_purchase" -> q25Sql,
    "q139_asof_exec"    -> q25Sql, // same oracle: DuckDB native ASOF

    "q26_interval_join" -> q26Sql,
    "q27_cube_stats"    -> q27Sql,
    "q28_json_extract"  -> q28Sql,
    "q39_pivot"         -> q39Sql,
    "q05_pricing"     -> q05Sql,
    "q06_join5"       -> q06Sql,
    "q07_topk"        -> q07Sql,
    "q08_window"      -> q08Sql,
    "q09_intersect"   -> q09IntersectSql,
    "q09_except"      -> q09ExceptSql,
    "q10_rollup"      -> q10Sql,
    "q11_event_windows" -> q11Sql,
    "q12_sessionize"  -> q12Sql,
    "q86_scalar_subquery" -> q86Sql,
    "q87_exists_subquery" -> q87Sql,
    "q88_salted_agg"      -> q88Sql,
    "q110_skew_join"      -> graft.operators.Skew.skewJoinStatsSql,
    "q119_bloom_join"     -> graft.operators.RuntimeFilter.bloomJoinStatsSql,
    "q89_funnel"          -> q89Sql,
    "q90_incremental_agg" -> q90Sql,
    "q91_range_window"    -> q91Sql,
    "q94_bucketed_join"   -> q94Sql,
    "q95_merge_upsert"    -> q95Sql,
    "q96_churned_customers" -> q96Sql,
    "q97_large_orders"      -> q97Sql,
    "q99_grouping_sets"     -> q99Sql,
    "q100_bag_set_ops"      -> q100Sql,
    "q101_two_stage_distinct" -> q101Sql,
    "q132_scd2_intervals"   -> q132Sql,
    "q136_incremental_scd2" -> q132Sql, // oracle = the from-scratch rebuild
    "q134_table_diff"       -> q134Sql,
    "q146_range_join"       -> q146Sql,
    "q148_cohort_retention" -> q148Sql,
    "q150_markov_transitions" -> q150Sql,
    "q154_null_skew_join" -> graft.operators.Skew.nullSkewJoinSql,
    "q159_retraction_ivm" -> q159Sql,
    "q161_trend_slopes" -> q161Sql,
    "q162_interarrival_hist" -> q162Sql,
    "q168_pit_enrich" -> q168Sql,
    "q171_merkle_diff" -> q171Sql,
    "q172_peak_concurrency" -> q172Sql,
    "q183_event_trigrams" -> q183Sql,
    "q185_change_feed" -> q185Sql,
    "q193_decayed_counts" -> q193Sql,
    "q210_attribution" -> q210Sql)
}
