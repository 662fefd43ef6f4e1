package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Mergeable distinct-count sketching (HyperLogLog) — the cardinality
  * primitive a 100 TB corpus survey leans on when exact COUNT(DISTINCT)
  * (a full shuffle of every distinct value) stops being affordable:
  * per-partition register vectors merge by element-wise max, so the
  * whole estimate is one map-side-combinable aggregate of m integers
  * per group regardless of data volume.
  *
  * Everything is integer-exact so the DuckDB oracle hash-matches (the
  * repo's standing exactness contract — Spark's own
  * `approx_count_distinct` is HLL++ too but its hash is engine-private,
  * so it could only ever get a rows-only gate):
  *   - hash: md5 (bit-identical builtin in both engines), register index
  *     and rho bits taken from two DISJOINT 24-bit digest chunks. A
  *     polynomial hash is NOT usable here: it is linear in the last
  *     character, so sequential token suffixes produce arithmetic
  *     progressions whose trailing-zero ranks are perfectly correlated
  *     across registers and the estimate collapses (measured: est 590
  *     for 4,000 true distinct). HLL requires avalanche mixing;
  *   - rho:  trailing-zero rank of the rho chunk via `(v & -v)` +
  *     `round(log2)` — exact for powers of two in both engines;
  *   - estimate: the alpha_m * m^2 / Z harmonic mean evaluated in fixed
  *     point — Z scaled by 2^25 stays integral (rho <= 25), alpha_64 =
  *     0.709 carried as 709/1000, one integer division at the end.
  *
  * The `exact_tokens` column is the fixture-scale quality witness (the
  * whole point of a sketch is to NOT compute it at 100 TB); a
  * production run drops that column and keeps the register aggregate.
  */
object Sketches {

  /** Register count m = 64 (p = 6 index bits). */
  val Registers = 64
  /** rho chunk is 6 hex digits ⇒ v < 2^24 ⇒ rho <= 25; keeps the
    * fixed-point arithmetic (2^25 scale) comfortably inside i64. */
  val RhoCap = 25
  /** alpha_64 = 0.709 (Flajolet et al.), carried in permille. */
  val AlphaPermille = 709L

  /** Small-range (linear counting) correction, applied when the raw
    * estimate <= 5m/2 and empty registers remain: est = m * ln(m / V)
    * with V = empty-register count. ln is the one non-integer in HLL;
    * pinning round(ln(m/V) * 2^20) for the 64 possible V values in a
    * lookup table generated HERE — and inlined into both engines' SQL —
    * keeps the estimate bit-identical without trusting two libm's to
    * agree on ulps. */
  val LnScale = 20
  val LnTable: IndexedSeq[Long] =
    (1 to Registers).map(v =>
      math.round(math.log(Registers.toDouble / v) * (1L << LnScale)))

  /** (key, value) -> (key, reg, rho): distinct values hashed into a
    * register index + trailing-zero rank. Distinct-first keeps the
    * caller's duplicate mass out of the shuffle; the register table
    * after this is at most m rows per key. */
  private def registerTable(tok: DataFrame, key: String = "source",
                            value: String = "w"): DataFrame =
    withRho(tok, col(value))
      .groupBy(col(key), col("reg"))
      .agg(max(col("rho")).as("m"))

  /** `df` plus hx = md5(value), its register index `reg` and its
    * trailing-zero rank `rho` (with the `v` chunk it is read from). */
  private[graft] def withRho(df: DataFrame, value: org.apache.spark.sql.Column): DataFrame =
    df
      .withColumn("hx", md5(value))
      .withColumn("reg",
        expr(s"cast(conv(substr(hx, 1, 6), 16, 10) as bigint) % $Registers"))
      .withColumn("v", expr("cast(conv(substr(hx, 7, 6), 16, 10) as bigint)"))
      .withColumn("rho", expr(
        s"CASE WHEN v = 0 THEN $RhoCap " +
        s"ELSE CAST(round(log2(v & -v)) AS INT) + 1 END"))

  /** Oracle twin of [[registerTable]]: the `rho` CTE and the register CTE
    * `regs` (keys, reg, m), no leading WITH, over `from` — a relation
    * of the `keys` columns (comma-separated) and hx = md5(value). */
  private[graft] def duckRegs(keys: String, from: String, regs: String = "regs"): String =
    s"""rho AS (
       |  SELECT $keys,
       |    ('0x' || substr(hx, 1, 6))::BIGINT % $Registers AS reg,
       |    ('0x' || substr(hx, 7, 6))::BIGINT AS v
       |  FROM $from),
       |$regs AS (
       |  SELECT $keys, reg,
       |    MAX(CASE WHEN v = 0 THEN $RhoCap
       |        ELSE CAST(round(log2(v & -v)) AS INT) + 1 END) AS m
       |  FROM rho GROUP BY $keys, reg)""".stripMargin

  /** Registers -> (keys..., regs_hit, estName): the fixed-point
    * harmonic-mean estimate, grouped by any key set (q118 groups by
    * source; q122 groups streaming sink registers by day). Empty
    * registers contribute 2^RhoCap each (rho = 0 term). */
  private[graft] def estimateBy(regs: DataFrame, keys: Seq[String],
                                estName: String = "est_tokens"): DataFrame = {
    val lut = LnTable.mkString("array(", "L, ", "L)")
    regs
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("regs_hit"),
           sum(expr(s"shiftleft(1L, $RhoCap - m)")).as("z_present"))
      .withColumn("raw_est",
        expr(s"(($AlphaPermille * $Registers * $Registers) * shiftleft(1L, $RhoCap))" +
             s" div (1000 * (z_present + ($Registers - regs_hit) * shiftleft(1L, $RhoCap)))"))
      .select(keys.map(col) ++ Seq(col("regs_hit"),
        expr(s"CASE WHEN raw_est <= 5 * $Registers div 2 AND regs_hit < $Registers" +
             s" THEN ($Registers * element_at($lut, cast($Registers - regs_hit as int)))" +
             s"      div shiftleft(1L, $LnScale)" +
             s" ELSE raw_est END").as(estName)): _*)
  }

  /** Oracle twin of [[estimateBy]]: the `raw` and `ests` CTEs (no
    * leading WITH) over the register relation `regs`; `ests` is (keys,
    * regs_hit, estName). */
  private[graft] def duckEstimate(keys: String, regs: String, estName: String): String =
    s"""raw AS (
       |  SELECT $keys, COUNT(*) AS regs_hit,
       |    (($AlphaPermille * $Registers * $Registers) * (CAST(1 AS BIGINT) << $RhoCap))
       |      // (1000 * (SUM(CAST(1 AS BIGINT) << ($RhoCap - m))
       |                  + ($Registers - COUNT(*)) * (CAST(1 AS BIGINT) << $RhoCap)))
       |      AS raw_est
       |  FROM $regs GROUP BY $keys),
       |ests AS (
       |  SELECT $keys, regs_hit,
       |    CASE WHEN raw_est <= 5 * $Registers // 2 AND regs_hit < $Registers
       |      THEN ($Registers * list_extract(${LnTable.mkString("[", ", ", "]")},
       |                                      $Registers - regs_hit))
       |           // (CAST(1 AS BIGINT) << $LnScale)
       |      ELSE raw_est END AS $estName
       |  FROM raw)""".stripMargin

  /** q118: per-source distinct-token cardinality by HLL sketch, plus
    * the '__all__' row computed by MERGING the per-source register
    * tables (element-wise max) — the merge path IS the query, proving
    * the sketch composes the way a 100 TB per-shard rollup needs.
    * Columns: (source, regs_hit, est_tokens, exact_tokens, err_pct). */
  def hllTokenSketch(docs: DataFrame): DataFrame = {
    val tok = Text.words(docs, "w", "source").distinct()
    val perSrcRegs = registerTable(tok)
    val mergedRegs = perSrcRegs
      .groupBy(col("reg")).agg(max(col("m")).as("m"))
      .withColumn("source", lit("__all__"))
    val ests = estimateBy(perSrcRegs.unionByName(mergedRegs), Seq("source"))
    if (!graft.Witness.enabled)
      // production plan: the sketch alone — no exact countDistinct twin
      return ests.select(col("source"), col("regs_hit"), col("est_tokens"))
        .orderBy("source")
    val exact = tok.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("exact_tokens"))
      .unionByName(tok.select(lit("__all__").as("source"),
        col("w")).distinct().groupBy("source")
        .agg(count(lit(1)).as("exact_tokens")))
    ests.join(exact, Seq("source"))
      .select(col("source"), col("regs_hit"), col("est_tokens"),
        col("exact_tokens"),
        expr("abs(est_tokens - exact_tokens) * 100 div exact_tokens")
          .as("err_pct"))
      .orderBy("source")
  }

  val hllTokenSketchSql: String =
    s"""WITH tok AS (
       |  SELECT DISTINCT source, w
       |  FROM (SELECT source, unnest(${Text.duckTokens}) AS w
       |        FROM documents)
       |  WHERE length(w) > 0),
       |hashed AS (
       |  SELECT source, md5(w) AS hx FROM tok),
       |${duckRegs("source", "hashed")},
       |allregs AS (
       |  SELECT * FROM regs
       |  UNION ALL
       |  SELECT '__all__' AS source, reg, MAX(m) AS m FROM regs GROUP BY reg),
       |${duckEstimate("source", "allregs", "est_tokens")},
       |exact AS (
       |  SELECT source, COUNT(DISTINCT w) AS exact_tokens FROM tok GROUP BY source
       |  UNION ALL
       |  SELECT '__all__', COUNT(DISTINCT w) FROM tok)
       |SELECT e.source, CAST(regs_hit AS BIGINT) AS regs_hit,
       |  CAST(est_tokens AS BIGINT) AS est_tokens,
       |  CAST(exact_tokens AS BIGINT) AS exact_tokens,
       |  CAST(abs(est_tokens - exact_tokens) * 100 // exact_tokens AS BIGINT) AS err_pct
       |FROM ests e JOIN exact x ON e.source = x.source
       |ORDER BY e.source""".stripMargin

  // ------------------------------------------------- q129 table stats
  /** The stats columns: every one rendered as BIGINT with the repo's
    * standard exact encodings (cents for money, epoch micros for
    * timestamps, floor for integral doubles) so min/max/NDV hashing is
    * engine-independent. (name, spark expr, duckdb expr). */
  val StatsCols: Seq[(String, String, String)] = Seq(
    ("l_extendedprice_cents",
      "cast(round(l_extendedprice * 100) as bigint)",
      "CAST(round(l_extendedprice * 100) AS BIGINT)"),
    ("l_linenumber", "cast(l_linenumber as bigint)",
      "CAST(l_linenumber AS BIGINT)"),
    ("l_orderkey", "l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey", "l_partkey"),
    ("l_quantity", "cast(floor(l_quantity) as bigint)",
      "CAST(floor(l_quantity) AS BIGINT)"),
    // NTZ fixture timestamp: the cast is a no-op re-tag under the
    // session's pinned UTC, making unix_micros == DuckDB's epoch_us
    ("l_shipdate_us", "unix_micros(cast(l_shipdate as timestamp))",
      "epoch_us(l_shipdate)"),
    ("l_suppkey", "l_suppkey", "l_suppkey"))

  /** q129: ANALYZE-style per-column table statistics — the maintenance
    * job every table format runs so its optimizer can plan (CBO join
    * ordering, broadcast decisions) and its scans can skip (min/max
    * zone maps): row count, null count, min/max, and distinct-value
    * estimate per column, in ONE scan of the fact table.
    *
    * Shape: the scan unpivots each row into (col_name, value) pairs —
    * a generator projection, no shuffle — and everything downstream
    * aggregates: count/nulls/min/max partial-aggregate map-side per
    * column; NDV rides the q118 HLL register table (distinct-first,
    * then at most [[Registers]] rows per column through the shuffle).
    * Every statistic is associative, which is the production property:
    * per-FILE stats rows (this same query over one file's rows) merge
    * into table stats by sum/sum/min/max/register-max — how a 100 TB
    * table keeps stats current without rescanning history (q90's
    * incremental-maintenance argument applied to metadata).
    * `ndv_exact` is the fixture-scale quality witness, same contract
    * as q118's exact_tokens: a production run drops it. */
  def tableStats(li: DataFrame): DataFrame = {
    // Base stats WITHOUT the unpivot (r16, guide §2.4): the old shape
    // exploded every row into 7 (col_name, v) structs and aggregated
    // that 7x mass — and because the base aggregate and the NDV
    // subtree were separate consumers of the generator, the scan +
    // explode ran TWICE per query. count/nulls/min/max need no unpivot
    // at all: one single-row 22-aggregate pass over the original row
    // shape (map-side partials, 1-row exchange), stacked to 7 rows
    // AFTER the aggregate (the stack generator runs over one row).
    val base = {
      val aggs = StatsCols.flatMap { case (n, e, _) => Seq(
        sum(when(expr(e).isNull, 1L).otherwise(0L)).as(s"${n}__nulls"),
        min(expr(e)).as(s"${n}__min"),
        max(expr(e)).as(s"${n}__max")) }
      val stackArgs = StatsCols.map { case (n, _, _) =>
        s"'$n', ${n}__nulls, ${n}__min, ${n}__max" }.mkString(", ")
      li.agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(col("n_rows"), expr(s"stack(${StatsCols.size}, $stackArgs)")
          .as(Seq("col_name", "n_nulls", "min_val", "max_val")))
    }
    // distinct-first is MEASURED, not assumed: registers are
    // duplicate-insensitive and the (col, reg) aggregate map-side
    // combines, so dropping the distinct() looks like it should save a
    // shuffle — but md5+conv+rho over the raw 4.2M-row duplicate mass
    // costs more than the distinct pairs' narrow shuffle saves
    // (A/B at sf0.1: 3.7 s with distinct-first, 5.2 s without).
    // r16 (guide §2.3, narrower types): the distinct pairs shuffle a
    // 4-byte column INDEX instead of the up-to-21-char col_name; names
    // re-attach from a 7-element literal array after the aggregates.
    val nameOf = array(StatsCols.map { case (n, _, _) => lit(n) }: _*)
    val stacked = li
      .select(explode(array(StatsCols.zipWithIndex.map { case ((_, e, _), i) =>
        struct(lit(i).as("ci"), expr(e).cast("string").as("w")) }: _*)).as("s"))
      .select(col("s.ci").as("ci"), col("s.w").as("w"))
      .filter(col("w").isNotNull)
    val tok = stacked.distinct()
    val ests = estimateBy(registerTable(tok, key = "ci"),
      Seq("ci"), estName = "ndv_est")
      .withColumn("col_name", element_at(nameOf, col("ci") + 1))
    if (!graft.Witness.enabled)
      // production plan: stats + sketch NDV, no exact-NDV witness twin
      return base.join(ests, Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_val"), col("max_val"), col("ndv_est"))
        .orderBy("col_name")
    val exact = stacked
      .groupBy("ci").agg(countDistinct(col("w")).as("ndv_exact"))
      .withColumn("col_name", element_at(nameOf, col("ci") + 1))
    base.join(ests, Seq("col_name")).join(exact, Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("min_val"), col("max_val"), col("ndv_est"), col("ndv_exact"))
      .orderBy("col_name")
  }

  val tableStatsSql: String = {
    val stacked = StatsCols.map { case (n, _, e) =>
      s"SELECT '$n' AS col_name, $e AS v FROM lineitem"
    }.mkString(" UNION ALL ")
    s"""WITH stacked AS ($stacked),
       |base AS (
       |  SELECT col_name, COUNT(*) AS n_rows,
       |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |    MIN(v) AS min_val, MAX(v) AS max_val
       |  FROM stacked GROUP BY 1),
       |tok AS (SELECT DISTINCT col_name, CAST(v AS VARCHAR) AS w
       |        FROM stacked WHERE v IS NOT NULL),
       |hashed AS (SELECT col_name, md5(w) AS hx FROM tok),
       |${duckRegs("col_name", "hashed")},
       |${duckEstimate("col_name", "regs", "ndv_est")},
       |exact AS (
       |  SELECT col_name, COUNT(DISTINCT v) AS ndv_exact
       |  FROM stacked WHERE v IS NOT NULL GROUP BY 1)
       |SELECT b.col_name, b.n_rows, b.n_nulls, b.min_val, b.max_val,
       |  CAST(e.ndv_est AS BIGINT) AS ndv_est, x.ndv_exact
       |FROM base b JOIN ests e ON e.col_name = b.col_name
       |JOIN exact x ON x.col_name = b.col_name
       |ORDER BY b.col_name""".stripMargin
  }

  // ---------------------------------------------- q138 join estimates
  /** The audited equi-joins: (name, left keys SQL, right keys SQL) —
    * shared by the Spark plan and the oracle so both see one spec. */
  private val JoinPairsSql: Seq[(String, String, String)] = Seq(
    ("customer_orders", "SELECT c_custkey AS k FROM customer",
                        "SELECT o_custkey AS k FROM orders"),
    ("orders_lineitem", "SELECT o_orderkey AS k FROM orders",
                        "SELECT l_orderkey AS k FROM lineitem"),
    ("supplier_lineitem", "SELECT s_suppkey AS k FROM supplier",
                          "SELECT l_suppkey AS k FROM lineitem"))

  private def joinPairs(s: SparkSession, dir: String): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("customer_orders", Tables.customer(s, dir).select(col("c_custkey").as("k")),
                        Tables.orders(s, dir).select(col("o_custkey").as("k"))),
    ("orders_lineitem", Tables.orders(s, dir).select(col("o_orderkey").as("k")),
                        Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))),
    ("supplier_lineitem", Tables.supplier(s, dir).select(col("s_suppkey").as("k")),
                          Tables.lineitem(s, dir).select(col("l_suppkey").as("k"))))

  /** q138: JOIN-CARDINALITY ESTIMATION AUDIT — the q129 statistics put
    * to their actual use: what a cost-based planner predicts for
    * |A ⋈ B| from per-side row counts and HLL NDVs (the textbook
    * containment estimate n_l · n_r / max(ndv_l, ndv_r) — exact under
    * FK containment + uniformity, which TPC-H keys satisfy), laid next
    * to the TRUE output cardinality. The truth is computed WITHOUT
    * materializing the join: per-side key-count relations join and sum
    * cnt_l · cnt_r — |distinct keys| rows through the shuffle, never
    * n_l · n_r (the q101 discipline applied to join sizing). Everything
    * is the pinned q118 register arithmetic, so estimate AND error are
    * bit-identical in both engines and the err_bp column hash-gates how
    * good the statistics actually are — an estimator that drifts fails
    * the gate, which is precisely what you want from planner stats.
    * At 100 TB the estimate side reads only stats tables (q129's
    * mergeable per-file rollup); the audit side is run on samples or
    * after the fact. n_l · n_r stays in i64 at fixture scale; a
    * production estimator carries this in floating point. */
  def joinEstimates(s: SparkSession, dir: String): DataFrame = {
    // ONE key-count aggregate per join side feeds all three statistics
    // (r15, guide §2.3/§2.4): the old shape scanned every side TWICE —
    // once into a corpus-wide union for n + an exact string distinct()
    // ahead of the register build, once into per-key counts for the
    // truth — so lineitem crossed the wire four times, once as a full
    // duplicate-mass string relation. The per-key count relation is
    // already distinct on k, so it IS the register input (same md5 over
    // the same distinct key strings ⇒ bit-identical registers), n is
    // its count-weighted sum, and the truth join reuses it as before.
    // Row counts, NDV estimate, estimate arithmetic and the oracle SQL
    // are unchanged.
    val counted = joinPairs(s, dir).map { case (n, l, r) =>
      (n, l.groupBy("k").agg(count(lit(1)).as("c")).localCheckpoint(false),
          r.groupBy("k").agg(count(lit(1)).as("c")).localCheckpoint(false))
    }
    val keyed = counted.map { case (n, gl, gr) =>
      gl.select(lit(n).as("join_name"), lit("L").as("side"),
          col("k"), col("c"))
        .unionByName(gr.select(lit(n).as("join_name"), lit("R").as("side"),
          col("k"), col("c")))
    }.reduce(_ unionByName _)
      .select(col("join_name"), col("side"),
        concat_ws("|", col("join_name"), col("side")).as("jk"),
        col("k").cast("string").as("w"), col("c"))
    val ns = keyed.groupBy("join_name", "side").agg(sum(col("c")).as("n"))
    val ndv = estimateBy(
        registerTable(keyed.select("jk", "w"), key = "jk", value = "w"),
        Seq("jk"), "ndv")
      .select(expr("split(jk, '\\\\|')[0]").as("join_name"),
              expr("split(jk, '\\\\|')[1]").as("side"), col("ndv"))
    val wide = ns.join(ndv, Seq("join_name", "side"))
      .groupBy("join_name").agg(
        max(when(col("side") === "L", col("n"))).as("n_left"),
        max(when(col("side") === "R", col("n"))).as("n_right"),
        max(when(col("side") === "L", col("ndv"))).as("ndv_left"),
        max(when(col("side") === "R", col("ndv"))).as("ndv_right"))
      .withColumn("est_rows",
        expr("(n_left * n_right) div greatest(ndv_left, ndv_right)"))
    val actual = counted.map { case (n, gl, gr) =>
      gl.withColumnRenamed("c", "ca")
        .join(gr.withColumnRenamed("c", "cb"), "k")
        .agg(sum(col("ca") * col("cb")).as("actual_rows"))
        .select(lit(n).as("join_name"), col("actual_rows"))
    }.reduce(_ unionByName _)
    wide.join(actual, "join_name")
      .withColumn("err_bp",
        expr("abs(est_rows - actual_rows) * 10000 div actual_rows"))
      .orderBy("join_name")
  }

  val joinEstimatesSql: String = {
    val sideUnion = JoinPairsSql.flatMap { case (n, l, r) => Seq(
      s"SELECT '$n' AS join_name, 'L' AS side, k FROM ($l)",
      s"SELECT '$n' AS join_name, 'R' AS side, k FROM ($r)") }
      .mkString("\n  UNION ALL ")
    val actualUnion = JoinPairsSql.map { case (n, l, r) =>
      s"""SELECT '$n' AS join_name, CAST(SUM(ca * cb) AS BIGINT) AS actual_rows
         |  FROM (SELECT k, COUNT(*) AS ca FROM ($l) GROUP BY k) a
         |  JOIN (SELECT k, COUNT(*) AS cb FROM ($r) GROUP BY k) b USING (k)""" }
      .mkString("\n  UNION ALL ").stripMargin
    s"""WITH sides AS ($sideUnion),
       |keyed AS (SELECT join_name, side, CAST(k AS VARCHAR) AS w FROM sides),
       |ns AS (SELECT join_name, side, COUNT(*) AS n FROM keyed GROUP BY 1, 2),
       |hashed AS (SELECT DISTINCT join_name, side, md5(w) AS hx FROM keyed),
       |${duckRegs("join_name, side", "hashed")},
       |${duckEstimate("join_name, side", "regs", "ndv")},
       |per AS (SELECT n.join_name, n.side, n.n, e.ndv
       |  FROM ns n JOIN ests e ON n.join_name = e.join_name AND n.side = e.side),
       |wide AS (SELECT join_name,
       |    MAX(CASE WHEN side = 'L' THEN n END) AS n_left,
       |    MAX(CASE WHEN side = 'R' THEN n END) AS n_right,
       |    MAX(CASE WHEN side = 'L' THEN ndv END) AS ndv_left,
       |    MAX(CASE WHEN side = 'R' THEN ndv END) AS ndv_right
       |  FROM per GROUP BY join_name),
       |act AS ($actualUnion)
       |SELECT w.join_name, w.n_left, w.n_right,
       |  CAST(w.ndv_left AS BIGINT) AS ndv_left,
       |  CAST(w.ndv_right AS BIGINT) AS ndv_right,
       |  CAST((w.n_left * w.n_right) // greatest(w.ndv_left, w.ndv_right) AS BIGINT) AS est_rows,
       |  a.actual_rows,
       |  CAST(abs((w.n_left * w.n_right) // greatest(w.ndv_left, w.ndv_right)
       |           - a.actual_rows) * 10000 // a.actual_rows AS BIGINT) AS err_bp
       |FROM wide w JOIN act a ON a.join_name = w.join_name
       |ORDER BY w.join_name""".stripMargin
  }

  // --------------------------------------- sliding distinct (q157)
  /** Trailing-window span in days. */
  val SlidingDays = 7

  /** q157: SLIDING-WINDOW DISTINCT USERS — the query shape that makes
    * mergeable sketches NON-OPTIONAL: distinct-count is not algebraic,
    * so exact trailing-7-day uniques either rescans 7 days of raw data
    * per day (7x read amplification) or keeps per-day distinct SETS
    * (unbounded). With HLL registers the per-day state is 64 rows, and
    * a trailing window is a register-wise max-MERGE over ≤7·64 rows per
    * anchor day — the one corpus pass builds the daily registers
    * (q118/q122's exact arithmetic), and ALL window algebra happens on
    * the tiny register relation: each day's registers explode to the
    * [[SlidingDays]] windows they serve, merge by max, and fold through
    * the shared fixed-point estimator. Windows anchor only on days that
    * exist in the data (broadcast semi-join) — no phantom trailing
    * anchors past the last day. */
  def slidingDistinctUsers(events: DataFrame): DataFrame = {
    val e = events.select(
      expr("unix_micros(ts) div 86400000000").as("day"),
      col("user_id").cast("string").as("w"))
    val daily = registerTable(e, key = "day")
    val days = daily.select("day").distinct()
    val merged = daily
      .select(col("day"), col("reg"), col("m"),
        explode(expr(s"sequence(0, ${SlidingDays - 1})")).as("off"))
      .select((col("day") + col("off")).as("win_day"), col("reg"), col("m"))
      .join(broadcast(days.select(col("day").as("win_day"))), "win_day")
      .groupBy("win_day", "reg").agg(max(col("m")).as("m"))
    estimateBy(merged, Seq("win_day"), estName = "est_users")
      .orderBy("win_day")
  }

  val slidingDistinctUsersSql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         md5(CAST(user_id AS VARCHAR)) AS hx
       |  FROM events),
       |${duckRegs("day", "e", "daily")},
       |days AS (SELECT DISTINCT day FROM daily),
       |merged AS (
       |  SELECT w.win_day, w.reg, MAX(w.m) AS m
       |  FROM (SELECT d.day + o.off AS win_day, d.reg, d.m
       |        FROM daily d CROSS JOIN
       |          (SELECT unnest(generate_series(0, ${SlidingDays - 1})) AS off) o) w
       |  JOIN days dd ON dd.day = w.win_day
       |  GROUP BY w.win_day, w.reg),
       |${duckEstimate("win_day", "merged", "est_users")}
       |SELECT win_day, CAST(regs_hit AS BIGINT) AS regs_hit,
       |  CAST(est_users AS BIGINT) AS est_users
       |FROM ests
       |ORDER BY win_day""".stripMargin

  // --------------------------------------------- q166 Misra-Gries
  /** Summary capacity k = 31 ⇒ guaranteed coverage of every token with
    * frequency above 1/(k+1) = 1/32 of the stream; at most k candidate
    * entries per partial summary regardless of data volume. */
  val MgK = 31

  /** q166: DETERMINISTIC HEAVY HITTERS via a mergeable Misra-Gries
    * summary ([[graft.functions.MisraGries]]) — the frequent-items
    * counterpart of q57's count-min path with a HARD guarantee instead
    * of a probabilistic one: the ≤k-entry summary provably contains
    * every token whose true count exceeds n/(k+1) (no hash collisions,
    * no failure probability, no width tuning), so the exact recount of
    * just those ≤k candidates — a broadcast IN-filter over the stream,
    * never a full token shuffle — returns EXACTLY the true heavy
    * hitters. The intermediate summary depends on fold order; the gated
    * output does not, because the final filter is exact (the spec
    * separately pins the coverage + size invariants of the summary
    * itself). Scale shape: pass 1 map-side-combines ≤k entries per
    * partition through one ObjectHashAggregate; pass 2 shuffles only
    * candidate tokens. The streamed total count rides the same pass
    * structure (one count aggregate, broadcast back as a scalar). */
  def misraGriesTokens(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = Text.words(docs, "w")
    // the stream total rides the SUMMARY pass as an observe() metric —
    // a separate count aggregate would be a third corpus scan
    // (code-review fix: two passes is the MG contract, not three)
    val obs = org.apache.spark.sql.Observation()
    val summary: Map[String, Long] = tok.select("w")
      .observe(obs, count(lit(1)).as("n_total")).as[String]
      .select(new graft.functions.MisraGries.Agg(MgK).toColumn).head()
    val nTotal = obs.get("n_total").asInstanceOf[Long]
    val cand = summary.keys.toArray.sorted
    val candFilter = if (cand.isEmpty) lit(false) else col("w").isInCollection(cand)
    tok.filter(candFilter)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .filter(col("n") * (MgK + 1) > nTotal)
      .select(col("w").as("token"), col("n"), lit(nTotal).as("n_total"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Oracle: the exact tokens above the 1/(k+1) support threshold — the
    * guarantee says the sketch path must reproduce them precisely. */
  val misraGriesTokensSql: String =
    s"""WITH t AS (SELECT unnest(${Text.duckTokens}) AS w FROM documents),
       |c AS (SELECT w AS token, COUNT(*) AS n FROM t
       |      WHERE length(w) > 0 GROUP BY w),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
       |SELECT token, n, n_total FROM c, tot
       |WHERE n * ${MgK + 1} > n_total
       |ORDER BY n DESC, token""".stripMargin

  // ------------------------------------------------ token-cost estimator
  /** Calibration sample: LCG-keyed 1/[[EstSampleMod]] —
    * `((MulA * doc_id) % Mod) % EstSampleMod == 0`. A RAW doc_id
    * residue is structurally unsafe here: id assignment schemes that
    * interleave sources (id = k·|sources| + source_idx — this fixture's
    * shape, and a common sharded-writer artifact) make `doc_id % mod`
    * hit only the sources whose residues align, silently starving the
    * per-source calibration. The multiplicative key decorrelates the
    * sample from any id structure while staying deterministic in both
    * engines; the loud guard below still backstops a starved source. */
  val EstSampleMod = 10L
  private val EstKey = Curation.lcgKeySql("doc_id", 0L)
  /** Largest corpus char mass whose ppm numerator (1e6·chars) fits a
    * BIGINT with headroom — enforced loudly, never wrapped. */
  val EstMaxChars = 9000000000000L // 9e12

  /** Sampled token-cost calibration — the estimator every corpus-sizing
    * decision ("how many tokens is this 100 TB crawl?") actually uses:
    * tokenizing everything just to COUNT it costs a full corpus pass
    * over `text`, so instead (1) tokenize only a deterministic 1/mod
    * doc sample, (2) fit chars-per-token per source (cpt_ppm, integer
    * ppm), (3) extrapolate from the `n_chars` METADATA column alone.
    * The scale win is column pruning, visible in the plan: the full-
    * corpus side reads (source, n_chars) — two scalar columns — and the
    * `text` payload is scanned for the sample only, so the estimate
    * costs ~1/mod of a counting pass regardless of corpus size.
    *
    * Per-source (not global) ratios because token cost varies by
    * source — code vs prose vs CJK tokenize at very different
    * chars/token; the per-source fit is exactly what mixture planning
    * (q116/q209) consumes. Witness columns (`exact_tokens`, `err_bp`)
    * compute the full exact count to gate the estimator at fixture
    * scale; [[graft.Witness]] drops them from bench runs — production
    * never pays the exact side (that's the point of the estimator). */
  def tokenCostEstimate(docs: DataFrame): DataFrame = {
    val guardedChars =
      when(sum(col("n_chars")) > EstMaxChars,
        raise_error(concat(
          lit(s"tokenCostEstimate: corpus char mass exceeds the ppm BIGINT bound $EstMaxChars "),
          lit("(raise the fixed-point scale): "),
          sum(col("n_chars")).cast("string"))))
        .otherwise(sum(col("n_chars")))
    val sample = charsPerToken(docs.filter(expr(s"($EstKey) % $EstSampleMod") === 0))
    val full = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), guardedChars.as("t_chars"))
    // LEFT join + loud guard: a source with no doc in the 1/mod sample
    // must fail the report, not vanish from it (an inner join would
    // silently drop the source from the sizing a mixture plan consumes)
    val est = full.join(sample, Seq("source"), "left")
      .withColumn("cpt_ppm",
        when(col("cpt_ppm").isNull,
          raise_error(concat(
            lit(s"tokenCostEstimate: source has no doc in the 1/$EstSampleMod sample "),
            lit("(lower EstSampleMod or stratify the sample): "), col("source"))))
          .otherwise(col("cpt_ppm")))
      .withColumn("est_tokens", expr("(1000000 * t_chars) div cpt_ppm"))
    if (!graft.Witness.enabled)
      // production plan: metadata-only extrapolation, no exact twin
      return est.select(col("source"), col("n_docs"), col("sample_docs"),
        col("cpt_ppm"), col("est_tokens")).orderBy("source")
    val exact = docs.groupBy("source")
      .agg(sum(size(Text.tokens).cast("long")).as("exact_tokens"))
    est.join(exact, "source")
      .select(col("source"), col("n_docs"), col("sample_docs"),
        col("cpt_ppm"), col("est_tokens"), col("exact_tokens"),
        expr("abs(est_tokens - exact_tokens) * 10000 div exact_tokens")
          .as("err_bp"))
      .orderBy("source")
  }

  /** Per source of the sampled `docs`: sample_docs, the char and token
    * sums, and cpt_ppm, chars per whitespace token in ppm. */
  private def charsPerToken(sampled: DataFrame): DataFrame =
    sampled.groupBy("source")
      .agg(count(lit(1)).as("sample_docs"),
        sum(col("n_chars")).as("s_chars"),
        sum(size(Text.tokens).cast("long")).as("s_toks"))
      .withColumn("cpt_ppm", expr("(1000000 * s_chars) div s_toks"))

  val tokenCostEstimateSql: String =
    s"""WITH sample AS (
       |  SELECT source, COUNT(*) AS sample_docs,
       |    SUM(n_chars) AS s_chars,
       |    SUM(len(${Text.duckTokens})) AS s_toks
       |  FROM documents WHERE (($EstKey)) % $EstSampleMod = 0
       |  GROUP BY source),
       |full_side AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS t_chars
       |  FROM documents GROUP BY source),
       |exact AS (
       |  SELECT source, SUM(len(${Text.duckTokens})) AS exact_tokens
       |  FROM documents GROUP BY source),
       |joined AS (
       |  SELECT f.source, f.n_docs, f.t_chars, s.sample_docs,
       |    CASE WHEN s.source IS NULL
       |      THEN error('tokenCostEstimate: source has no doc in the 1/$EstSampleMod sample: ' || f.source)
       |      ELSE (1000000 * s.s_chars) // s.s_toks END AS cpt_ppm
       |  FROM full_side f LEFT JOIN sample s ON s.source = f.source),
       |est AS (
       |  SELECT source, n_docs, sample_docs, cpt_ppm,
       |    (1000000 * t_chars) // cpt_ppm AS est_tokens
       |  FROM joined)
       |SELECT e.source, CAST(e.n_docs AS BIGINT) AS n_docs,
       |  CAST(e.sample_docs AS BIGINT) AS sample_docs,
       |  CAST(e.cpt_ppm AS BIGINT) AS cpt_ppm,
       |  CAST(e.est_tokens AS BIGINT) AS est_tokens,
       |  CAST(x.exact_tokens AS BIGINT) AS exact_tokens,
       |  CAST(abs(e.est_tokens - x.exact_tokens) * 10000 // x.exact_tokens AS BIGINT) AS err_bp
       |FROM est e JOIN exact x ON x.source = e.source
       |ORDER BY e.source""".stripMargin

  // --------------------------------------- log-histogram quantiles (q228)
  /** q228: MERGEABLE LOG₂-HISTOGRAM QUANTILES — the approximate-quantile
    * sketch that completes q129's incremental-stats story: exact
    * quantiles (q128/q37) need a full sort or a value shuffle, but a
    * power-of-two histogram of doc token lengths is ONE map-side-
    * combinable aggregate of ≤ 64 counters per group, mergeable per-file
    * → per-source → table by addition — re-statistics after an append
    * touch only the new files. Estimates carry a guaranteed relative
    * error ≤ 2× (the bucket width), which is what a shard planner or a
    * batch-shape chooser actually needs from a length distribution.
    *
    *   bucket(v)  = floor(log₂ v) = length(bin(v)) − 1   (v ≥ 1)
    *   est_p      = 2^(b+1) − 1, b = min bucket whose cumulative count
    *                reaches ceil(p·n/100)   (the bucket's upper bound)
    *
    * All integer: the bucket index comes from the binary-string length
    * (bit-identical in both engines), the rank from ceiling division.
    * Plan: one corpus scan → (source, bucket) counts (≤ 64·|sources|
    * rows) → per-source cumsum window over that bounded relation →
    * per-source argmin. The corpus never sorts and never re-shuffles:
    * the only exchange is the histogram aggregate's. */
  def histQuantiles(docs: DataFrame): DataFrame = {
    val hist = docs
      .select(col("source"),
        expr(s"greatest(${Text.sparkTokenCount}, 1)").as("v"))
      .select(col("source"), expr("length(bin(v)) - 1").as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nW = Window.partitionBy("source")
    def estAt(p: Int): org.apache.spark.sql.Column =
      expr(s"shiftleft(cast(1 as bigint), cast(min(case when cum >= ($p * n + 99) div 100 " +
        s"then b end) as int) + 1) - 1")
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(nW))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        estAt(50).as("p50_est"), estAt(90).as("p90_est"),
        estAt(99).as("p99_est"))
      .orderBy("source")
  }

  val histQuantilesSql: String = {
    def est(p: Int): String =
      s"CAST((CAST(1 AS BIGINT) << (MIN(CASE WHEN cum >= ($p * n + 99) // 100" +
        s" THEN b END) + 1)) - 1 AS BIGINT) AS p${p}_est"
    s"""WITH hist AS (
       |  SELECT source,
       |    length(bin(greatest(len(${Text.duckTokens}), 1))) - 1 AS b,
       |    COUNT(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, b, c,
       |    SUM(c) OVER (PARTITION BY source ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM hist)
       |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       |  ${est(50)}, ${est(90)}, ${est(99)}
       |FROM cum GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------- stratified estimator (q234)
  /** Stratified sample density: every ceil(n/mod)-th doc per source. */
  val StratMod = 10L

  /** q234: STRATIFIED TOKEN-COST ESTIMATOR — the "stratify the sample"
    * path q220's starved-source guard points at: instead of a global
    * 1/mod coin (which guarantees nothing per source), rank docs WITHIN
    * each source by the LCG key and keep ranks ≡ 1 (mod [[StratMod]]).
    * Every non-empty source contributes ceil(n/mod) sample docs BY
    * CONSTRUCTION — rank 1 always qualifies — so the per-source
    * calibration can never starve and the q220 guard is structurally
    * unreachable here. The price is explicit: one (source)-partitioned
    * rank window over the corpus where q220 pays only a scan filter —
    * the standard coverage-vs-cost trade between systematic residue
    * sampling and stratified sampling, shipped as two operators so the
    * pipeline can pick per table. Estimator arithmetic is q220's
    * exactly (chars-per-token ppm from the sample, extrapolated over
    * the full side's metadata chars). */
  def stratifiedTokenEstimate(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("key", "doc_id")
    val sample = charsPerToken(docs
      .select(col("source"), col("doc_id"), col("n_chars"), col("text"),
        expr(s"($EstKey)").as("key"))
      .withColumn("rk", row_number().over(w))
      .filter(pmod(col("rk") - 1, lit(StratMod)) === 0))
    val full = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("t_chars"))
    full.join(sample, "source")
      .select(col("source"), col("n_docs"), col("sample_docs"),
        col("cpt_ppm"),
        expr("(1000000 * t_chars) div cpt_ppm").as("est_tokens"))
      .orderBy("source")
  }

  val stratifiedTokenEstimateSql: String =
    s"""WITH ranked AS (
       |  SELECT source, doc_id, n_chars, text,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ($EstKey), doc_id) AS rk
       |  FROM documents),
       |sample AS (
       |  SELECT source, COUNT(*) AS sample_docs,
       |    SUM(n_chars) AS s_chars,
       |    SUM(len(${Text.duckTokens})) AS s_toks
       |  FROM ranked WHERE (rk - 1) % $StratMod = 0
       |  GROUP BY source),
       |full_side AS (
       |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS t_chars
       |  FROM documents GROUP BY source)
       |SELECT f.source, CAST(f.n_docs AS BIGINT) AS n_docs,
       |  CAST(s.sample_docs AS BIGINT) AS sample_docs,
       |  CAST((1000000 * s.s_chars) // s.s_toks AS BIGINT) AS cpt_ppm,
       |  CAST((1000000 * f.t_chars) // ((1000000 * s.s_chars) // s.s_toks) AS BIGINT) AS est_tokens
       |FROM full_side f JOIN sample s ON s.source = f.source
       |ORDER BY f.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q234_stratified_estimate" -> ((s, d) => stratifiedTokenEstimate(Tables.documents(s, d))),
    "q228_hist_quantiles" -> ((s, d) => histQuantiles(Tables.documents(s, d))),
    "q220_token_estimator" -> ((s, d) => tokenCostEstimate(Tables.documents(s, d))),
    "q118_hll_tokens" -> ((s, d) => hllTokenSketch(Tables.documents(s, d))),
    "q129_table_stats" -> ((s, d) => tableStats(Tables.lineitem(s, d))),
    "q138_join_estimate" -> ((s, d) => joinEstimates(s, d)),
    "q157_sliding_distinct" -> ((s, d) => slidingDistinctUsers(Tables.events(s, d))),
    "q166_misra_gries" -> ((s, d) => misraGriesTokens(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q234_stratified_estimate" -> stratifiedTokenEstimateSql,
    "q228_hist_quantiles" -> histQuantilesSql,
    "q220_token_estimator" -> tokenCostEstimateSql,
    "q118_hll_tokens" -> hllTokenSketchSql,
    "q129_table_stats" -> tableStatsSql,
    "q138_join_estimate" -> joinEstimatesSql,
    "q157_sliding_distinct" -> slidingDistinctUsersSql,
    "q166_misra_gries" -> misraGriesTokensSql)
}
