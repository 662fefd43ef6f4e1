package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Source-mixture planning — the step between corpus curation and the
  * training loader that decides HOW MUCH of each source a run samples.
  * Multi-source pretraining recipes flatten the raw size distribution
  * with a temperature: sampling weight ∝ mass^(1/T), T > 1 upweighting
  * small sources so a dominant crawl cannot drown out books/code/wiki.
  *
  * Everything here is integer-exact so the DuckDB oracle hash-matches
  * bit for bit (the repo's standing exactness contract): T = 2 is
  * expressed as an EXPLICIT integer square root — float sqrt, floored,
  * then corrected by one comparison either side, which is exact for
  * any mass below 2^52 in both engines regardless of their float→int
  * cast rounding. A production α = 1/1.3-style temperature runs the
  * same plan with float weights; the arithmetic is the only thing that
  * changes, and it changes in one projection.
  *
  * Scale shape: one corpus scan → per-source aggregate (|sources|
  * rows) → broadcast 1-row total → projection. The epoch manifest adds
  * one window sort partitioned by source on the q111 LCG key — the
  * same cost class as q111's in-shard sort, one sort per source,
  * never a global single-node sort.
  */
object Mixture {

  /** Document budget the quotas divide (stand-in for a token budget at
    * the fixture's near-uniform doc lengths; a token budget is the
    * same arithmetic against packed-span counts). */
  val DocBudget = 1000L

  /** Exact integer sqrt as a SQL fragment: floor(sqrt(m)) landed within
    * ±1 by float error, then pinned by one comparison on each side.
    * Exact for 0 <= m < 2^52 in any engine. */
  private def isqrt(m: String): String =
    s"(CAST(floor(sqrt(CAST($m AS DOUBLE))) AS BIGINT)" +
      s" - (CASE WHEN CAST(floor(sqrt(CAST($m AS DOUBLE))) AS BIGINT)" +
      s"          * CAST(floor(sqrt(CAST($m AS DOUBLE))) AS BIGINT) > $m THEN 1 ELSE 0 END)" +
      s" + (CASE WHEN (CAST(floor(sqrt(CAST($m AS DOUBLE))) AS BIGINT) + 1)" +
      s"          * (CAST(floor(sqrt(CAST($m AS DOUBLE))) AS BIGINT) + 1) <= $m THEN 1 ELSE 0 END))"

  /** The temperature-2 allocation over ANY (source, n_docs,
    * token_mass) relation — ONE definition shared by q116 (raw masses)
    * and q212 (q209's deduplicated masses). */
  private def planFromMasses(bySrcBase: DataFrame): DataFrame = {
    val bySrc = bySrcBase.withColumn("sqrt_mass", expr(isqrt("token_mass")))
    val total = bySrc.agg(sum(col("sqrt_mass")).as("sqrt_total"))
    bySrc.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("token_mass"), col("sqrt_mass"),
        expr("(1000000 * sqrt_mass) div sqrt_total").as("weight_ppm"),
        expr(s"($DocBudget * sqrt_mass) div sqrt_total").as("quota_docs"))
      .orderBy("source")
  }

  /** Oracle twin of [[planFromMasses]] over the relation `masses`: the
    * `s` and `t` CTEs and the final SELECT. */
  private def duckPlanFromMasses(masses: String): String =
    s"""s AS (SELECT source, n_docs, token_mass,
       |        ${isqrt("token_mass")} AS sqrt_mass FROM $masses),
       |t AS (SELECT SUM(sqrt_mass) AS sqrt_total FROM s)
       |SELECT source, n_docs, CAST(token_mass AS BIGINT) AS token_mass,
       |  CAST(sqrt_mass AS BIGINT) AS sqrt_mass,
       |  CAST((1000000 * sqrt_mass) // sqrt_total AS BIGINT) AS weight_ppm,
       |  CAST(($DocBudget * sqrt_mass) // sqrt_total AS BIGINT) AS quota_docs
       |FROM s CROSS JOIN t ORDER BY source""".stripMargin

  /** The `m` CTE: per-source doc count and whitespace-token mass. */
  private def duckMasses: String =
    s"""m AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    SUM(len(${Text.duckTokens})) AS token_mass
       |  FROM documents GROUP BY source)""".stripMargin

  /** q116: the per-source mixture plan at temperature T = 2 —
    * (source, n_docs, token_mass, sqrt_mass, weight_ppm, quota_docs)
    * with weight ∝ isqrt(token_mass), normalized in ppm, and the doc
    * budget divided by the same ratio (floor division; the ≤ |sources|
    * remainder docs are the caller's largest-remainder choice). */
  def mixturePlan(docs: DataFrame): DataFrame =
    planFromMasses(docs
      .select(col("source"), size(Text.tokens).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("token_mass")))

  /** q212: DEDUP-AWARE MIXTURE PLAN — q116's temperature-2 allocation
    * recomputed over q209's EFFECTIVE (deduplicated) token masses: a
    * source whose bulk is duplication no longer buys mixture weight
    * with tokens the model would see as repeats — the correction every
    * mixture paper applies after dedup, and the reason q209 exists.
    * Shares the allocation arithmetic with q116 ([[planFromMasses]])
    * and the duplicate definition with q13/q209 — none of the three
    * can drift. Comparing q116's and q212's weight_ppm columns IS the
    * duplication-bias report.
    *
    * Scale: q209's linear pass + the |sources|-row allocation. */
  def dedupAwareMixturePlan(docs: DataFrame): DataFrame =
    planFromMasses(graft.ext.Dedup.effectiveTokens(docs)
      .select(col("source"), col("dedup_docs").as("n_docs"),
        col("dedup_tokens").as("token_mass")))

  val dedupAwareMixturePlanSql: String =
    s"""WITH eff AS (
       |  SELECT source, dedup_docs AS n_docs, dedup_tokens AS token_mass
       |  FROM (${graft.ext.Dedup.effectiveTokensSql})),
       |${duckPlanFromMasses("eff")}""".stripMargin

  val mixturePlanSql: String =
    s"""WITH $duckMasses,
       |${duckPlanFromMasses("m")}""".stripMargin

  /** q117: the epoch manifest the mixture plan implies — per document,
    * how many times this epoch samples it. quota_s spread over the
    * source's docs as base = quota div n (every doc) plus one extra
    * for the first (quota mod n) docs in LCG-key order (rank within
    * SOURCE by (key, doc_id) — seeded, cluster-size independent, a
    * different epoch seed is a different extra-set). The seed sits
    * INSIDE the multiply — q111's additive form shifts every key by a
    * constant, which preserves order under the modulus except at the
    * wrap and so would leave the extra-set fixed across epochs; the
    * multiplicative form genuinely re-permutes. Sources with quota <
    * n_docs get base 0 and the manifest DOWNSAMPLES them to exactly
    * quota docs — up- and down-sampling fall out of the same
    * arithmetic. Rows with zero repeats are omitted; Σ n_repeats per
    * source = quota exactly (spec-pinned). */
  def epochManifest(docs: DataFrame, seed: Long = 12345L): DataFrame = {
    val plan = mixturePlan(docs).select("source", "n_docs", "quota_docs")
    val w = Window.partitionBy("source").orderBy("key", "doc_id")
    docs.select(col("source"), col("doc_id"),
        expr(Curation.lcgKeySql(s"(doc_id % ${Curation.ShuffleMod}) + $seed", 0L))
          .as("key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(plan), "source")
      .select(col("source"), col("doc_id"),
        (expr("quota_docs div n_docs") +
          when(col("rk") <= expr("quota_docs % n_docs"), 1L).otherwise(0L))
          .as("n_repeats"))
      .filter(col("n_repeats") > 0)
      .orderBy("source", "doc_id")
  }

  def epochManifestSql(seed: Long = 12345L): String =
    s"""WITH $duckMasses,
       |s AS (SELECT source, n_docs, token_mass,
       |        ${isqrt("token_mass")} AS sqrt_mass FROM m),
       |t AS (SELECT SUM(sqrt_mass) AS sqrt_total FROM s),
       |plan AS (
       |  SELECT source, n_docs,
       |    ($DocBudget * sqrt_mass) // sqrt_total AS quota_docs
       |  FROM s CROSS JOIN t),
       |ranked AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
       |      ${Curation.lcgKeySql(s"(doc_id % ${Curation.ShuffleMod}) + $seed", 0L)},
       |      doc_id) AS rk
       |  FROM documents)
       |SELECT r.source, r.doc_id,
       |  CAST(p.quota_docs // p.n_docs
       |    + (CASE WHEN r.rk <= p.quota_docs % p.n_docs THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_repeats
       |FROM ranked r JOIN plan p ON r.source = p.source
       |WHERE p.quota_docs // p.n_docs
       |    + (CASE WHEN r.rk <= p.quota_docs % p.n_docs THEN 1 ELSE 0 END) > 0
       |ORDER BY r.source, r.doc_id""".stripMargin

  // --------------------------------------------- water-filling (q180)
  /** Token budget as a fraction of corpus mass: B = total div 3. */
  val WaterBudgetDiv = 3L

  /** q180: WATER-FILLING TOKEN-BUDGET ALLOCATION — the max-min-fair
    * split of a training budget across sources, the allocation q116's
    * temperature weighting does NOT give you: temperature assigns
    * shares ∝ mass^(1/T) even when a small source can't supply its
    * share; water-filling raises one common level L so every source
    * contributes min(supply, L) — small sources give everything, big
    * sources are capped EQUALLY, and no source is starved to feed one
    * that's already full. The level needs no iteration: sort the
    * k-source relation by supply, and on each row j the candidate
    * L_j = (B − below_j) div rem_j (below = supply already exhausted by
    * smaller sources, rem = sources still filling) is valid iff it
    * falls in [s_{j−1}, s_j) — exactly one row validates when B < ΣS
    * (piecewise-linear total is strictly increasing), so the level
    * pops out of one window pass over k rows. The integer remainder
    * r = B − Σ min(s, L) < #capped goes +1 each to the r first capped
    * sources by name (a pinned deterministic rule, as q116's
    * largest-remainder note requires). Σ alloc = min(B, ΣS) EXACTLY —
    * spec-asserted; budgets that don't add up are how training runs
    * silently under-sample. Corpus-side cost: ONE token-mass aggregate;
    * all allocation algebra runs on the k-row relation. */
  def waterFillAllocation(docs: DataFrame): DataFrame = {
    val bySrc = docs
      .select(col("source"), size(Text.tokens).cast("long").as("toks"))
      .groupBy("source").agg(sum(col("toks")).as("s"))
    val tot = bySrc.agg(sum(col("s")).as("total"),
      count(lit(1)).as("k"), max(col("s")).as("max_s"))
      .withColumn("b", expr(s"total div $WaterBudgetDiv"))
    val ordW = Window.orderBy("s", "source")
    val ranked = bySrc.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(ordW))
      .withColumn("below", coalesce(sum(col("s"))
        .over(ordW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_s", coalesce(lag(col("s"), 1).over(ordW), lit(0L)))
      .withColumn("rem", col("k") - col("rn") + 1)
    val cand = ranked
      .withColumn("lvl", expr("(b - below) div rem"))
      .filter(col("lvl") >= col("prev_s") && col("lvl") < col("s"))
      .select(col("lvl"),
        (col("b") - (col("below") + col("rem") * col("lvl"))).as("r"))
    val fallback = tot.filter(col("total") <= col("b"))
      .select(col("max_s").as("lvl"), lit(0L).as("r"))
    val level = broadcast(cand.unionByName(fallback).limit(1))
    val capW = Window.orderBy("source")
    bySrc.crossJoin(level)
      .withColumn("at_cap", (col("s") > col("lvl")).cast("long"))
      .withColumn("cap_rank",
        sum(col("at_cap")).over(capW.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("source"), col("s").as("supply"),
        when(col("at_cap") === 0, col("s"))
          .otherwise(col("lvl") +
            when(col("cap_rank") <= col("r"), 1L).otherwise(0L)).as("alloc"),
        col("at_cap"))
      .orderBy("source")
  }

  val waterFillAllocationSql: String =
    s"""WITH m AS (
       |  SELECT source, SUM(len(${Text.duckTokens})) AS s
       |  FROM documents GROUP BY source),
       |t AS (SELECT SUM(s) AS total, COUNT(*) AS k, MAX(s) AS max_s,
       |        SUM(s) // $WaterBudgetDiv AS b FROM m),
       |ranked AS (
       |  SELECT m.source, m.s, t.b, t.k, t.total, t.max_s,
       |    ROW_NUMBER() OVER (ORDER BY m.s, m.source) AS rn,
       |    COALESCE(SUM(m.s) OVER (ORDER BY m.s, m.source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
       |    COALESCE(LAG(m.s) OVER (ORDER BY m.s, m.source), 0) AS prev_s
       |  FROM m CROSS JOIN t),
       |cand AS (
       |  SELECT (b - below) // (k - rn + 1) AS lvl,
       |    b - (below + (k - rn + 1) * ((b - below) // (k - rn + 1))) AS r
       |  FROM ranked
       |  WHERE (b - below) // (k - rn + 1) >= prev_s
       |    AND (b - below) // (k - rn + 1) < s),
       |lvl AS (
       |  SELECT * FROM cand
       |  UNION ALL
       |  SELECT max_s AS lvl, 0 AS r FROM t WHERE total <= b
       |  LIMIT 1),
       |alloc AS (
       |  SELECT m.source, m.s AS supply,
       |    CASE WHEN m.s > l.lvl THEN 1 ELSE 0 END AS at_cap,
       |    SUM(CASE WHEN m.s > l.lvl THEN 1 ELSE 0 END) OVER (
       |      ORDER BY m.source ROWS UNBOUNDED PRECEDING) AS cap_rank,
       |    l.lvl, l.r
       |  FROM m CROSS JOIN lvl l)
       |SELECT source, CAST(supply AS BIGINT) AS supply,
       |  CAST(CASE WHEN at_cap = 0 THEN supply
       |       ELSE lvl + (CASE WHEN cap_rank <= r THEN 1 ELSE 0 END) END
       |    AS BIGINT) AS alloc,
       |  CAST(at_cap AS BIGINT) AS at_cap
       |FROM alloc
       |ORDER BY source""".stripMargin

  // --------------------------------------- systematic resampling (q229)
  /** Per-source sample fraction denominator: K_s = n_docs div 5. */
  val SysSampleDiv = 5L

  /** q229: WEIGHTED SYSTEMATIC RESAMPLING — the low-variance way to draw
    * a token-weighted sample that q130's per-doc weighting cannot give:
    * lay every doc's token mass end to end (in seeded-shuffle order, so
    * adjacency in the stream is random) and take one doc at every
    * `stride = token_mass div K` tokens — the doc under each stride
    * multiple. Selection counts are DETERMINISTIC (exactly
    * token_mass div stride docs per source, never the binomial spread
    * of independent coin flips), inclusion probability stays ∝ token
    * weight, and a long doc spanning several multiples is picked once
    * per multiple it covers — the classic PPS-systematic estimator a
    * training loader uses to subsample an epoch without variance in the
    * epoch size.
    *
    * All integer: a doc at running mass `cum` with weight `w` is
    * selected iff `cum div stride > (cum − w) div stride` (a stride
    * multiple falls inside its span), and its MULTIPLICITY
    * `n_picks = cum div stride − (cum − w) div stride` counts every
    * multiple the span covers — a doc heavier than the stride is drawn
    * more than once, exactly as PPS sampling with replacement weights
    * it (q117's n_repeats discipline). Σ n_picks per source =
    * token_mass div stride EXACTLY, so the epoch size is deterministic.
    * Seeded order reuses q117's multiplicative LCG key (a different
    * seed is a different systematic pass). Plan: one corpus scan →
    * per-source mass aggregate (broadcast back, |sources| rows) → ONE
    * per-source window cumsum (partitioned sort, never global) →
    * filter. */
  def systematicSample(docs: DataFrame, seed: Long = 12345L): DataFrame = {
    val weighted = docs.select(col("source"), col("doc_id"),
      size(Text.tokens).cast("long").as("toks"),
      expr(Curation.lcgKeySql(s"(doc_id % ${Curation.ShuffleMod}) + $seed", 0L))
        .as("key"))
    val bySrc = weighted.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("mass"))
      .select(col("source"),
        expr(s"mass div greatest(n_docs div $SysSampleDiv, 1)").as("stride"))
    val w = Window.partitionBy("source").orderBy("key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weighted
      .withColumn("cum", sum(col("toks")).over(w))
      .join(broadcast(bySrc), "source")
      .filter(expr("cum div stride > (cum - toks) div stride"))
      .select(col("source"), col("doc_id"), col("toks"),
        expr("cum div stride").as("pick_idx"),
        expr("cum div stride - (cum - toks) div stride").as("n_picks"))
      .orderBy("source", "doc_id")
  }

  def systematicSampleSql(seed: Long = 12345L): String =
    s"""WITH weighted AS (
       |  SELECT source, doc_id,
       |    len(${Text.duckTokens}) AS toks,
       |    ${Curation.lcgKeySql(s"(doc_id % ${Curation.ShuffleMod}) + $seed", 0L)} AS key
       |  FROM documents),
       |s AS (SELECT source,
       |        SUM(toks) // greatest(COUNT(*) // $SysSampleDiv, 1) AS stride
       |      FROM weighted GROUP BY source),
       |cum AS (
       |  SELECT source, doc_id, toks,
       |    SUM(toks) OVER (PARTITION BY source ORDER BY key, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM weighted)
       |SELECT c.source, c.doc_id, CAST(c.toks AS BIGINT) AS toks,
       |  CAST(c.cum // s.stride AS BIGINT) AS pick_idx,
       |  CAST(c.cum // s.stride - (c.cum - c.toks) // s.stride AS BIGINT) AS n_picks
       |FROM cum c JOIN s ON s.source = c.source
       |WHERE c.cum // s.stride > (c.cum - c.toks) // s.stride
       |ORDER BY c.source, c.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q229_systematic_sample" -> ((s, d) => systematicSample(Tables.documents(s, d))),
    "q116_mixture_plan" -> ((s, d) => mixturePlan(Tables.documents(s, d))),
    "q212_dedup_mixture" -> ((s, d) => dedupAwareMixturePlan(Tables.documents(s, d))),
    "q117_epoch_manifest" -> ((s, d) => epochManifest(Tables.documents(s, d))),
    "q180_water_filling" -> ((s, d) => waterFillAllocation(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q229_systematic_sample" -> systematicSampleSql(),
    "q116_mixture_plan" -> mixturePlanSql,
    "q212_dedup_mixture" -> dedupAwareMixturePlanSql,
    "q117_epoch_manifest" -> epochManifestSql(),
    "q180_water_filling" -> waterFillAllocationSql)
}
