package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Statistical language-model operators over `documents`: the n-gram-LM
  * half of a quality-filtering pipeline (the KenLM-perplexity stage of
  * CCNet-style curation, re-expressed with integer fixed-point
  * probabilities) plus association-measure collocation mining (the
  * PMI-style step behind phrase vocabularies and tokenizer merge rules).
  *
  * Same portability contract as [[TextAnalysis]]/[[Curation]]: every
  * score is integer arithmetic (probabilities in ppm, lifts in e6
  * fixed-point), so the DuckDB oracle agrees bit for bit — each
  * per-occurrence term is floored to an integer BEFORE the per-doc sum,
  * making the sum order-free where a float log-prob sum would depend on
  * reduction order.
  *
  * Scale shape: both operators are built from the corpus bigram relation
  * (one generator projection over the token arrays — linear fan-out) and
  * its two marginal aggregates. The model side of every join is an
  * AGGREGATED relation (|vocab| or |vocab|² rows, power-law-small next
  * to the corpus), joined back on the key the aggregate just shuffled
  * on; at 100 TB the bigram-model join is the canonical co-partitioned
  * inverted-index shape (same family as q16/q61), and a trimmed model
  * (count floor) becomes broadcastable.
  */
object Lm {

  /** Additive-smoothing numerator offset (add-1 / Laplace). */
  val SmoothAdd = 1L

  /** (doc_id, w1, gram) — one row per adjacent-bigram OCCURRENCE.
    * `gram` keeps the two tokens joined so the model join has one key;
    * `w1` carries the left-context key for the unigram-marginal join. */
  private def bigramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, concat_ws(' ', toks[i], toks[i + 1]) AS gram))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.gram").as("gram"))

  /** Oracle twin of [[bigramStream]] over the relation `rel`. */
  private def duckBigrams(rel: String): String =
    s"""SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS gram
      |  FROM (SELECT doc_id, ${Text.duckTokens} AS toks,
      |               unnest(generate_series(1, len(${Text.duckTokens}) - 1)) AS i
      |        FROM $rel
      |        WHERE len(${Text.duckTokens}) >= 2)""".stripMargin

  /** The `g` bigram CTE over `rel` and `bc`, its (w1, w2, c12) counts. */
  private def duckBigramCounts(rel: String = "documents"): String =
    s"""g AS (${duckBigrams(rel)}),
       |bc AS (SELECT w1, gram[len(w1) + 2:] AS w2, COUNT(*) AS c12
       |       FROM g GROUP BY 1, 2)""".stripMargin

  // --------------------------------------------------------- bigram LM
  /** Per-document add-1-smoothed bigram-LM likelihood score — the
    * quality-filter signal ("how much does this doc look like the
    * corpus?") that a KenLM perplexity bucket provides in production
    * pipelines, in integer form:
    *
    *   p_ppm(w1 w2)  = (1e6 * (c(w1 w2) + 1)) div (c(w1) + V)
    *   lm_ppm(doc)   = sum over the doc's bigram occurrences of p_ppm,
    *                   div n_bigrams
    *
    * where c(w1 w2)/c(w1) are corpus occurrence counts, V = |vocab|
    * (distinct tokens). Flooring each occurrence's probability to ppm
    * BEFORE summing keeps the whole computation in BIGINT — no float
    * ever reaches the compare, and the per-doc sum is order-independent
    * (a log-prob double sum would not be).
    *
    * Plan (the round-8 one-corpus-shuffle shape): the occurrence stream
    * is pre-aggregated to `(doc_id, gram, n_occ)` — occurrences repeat
    * within documents, and the per-occurrence sum is recovered exactly
    * as `n_occ * p_ppm` (one integer per gram, so the weighted form is
    * bit-identical to summing it n_occ times). The stream is
    * explicitly hash-partitioned on `doc_id` FIRST: that single
    * exchange satisfies the (doc_id, gram) pre-aggregation (clustering
    * on a key subset co-locates every group) AND the final per-doc
    * aggregate, so the corpus-sized relation shuffles exactly once in
    * the whole query. Everything model-sized happens on the other side:
    * per-gram counts fold with the w1-marginal counts (w1 is recovered
    * from the gram key — tokens cannot contain the separator) and the
    * broadcast 1-row vocab count into a `(gram, p_ppm)` MODEL relation,
    * |distinct grams| rows, which joins back as a broadcast at fixture
    * scale (AQE) — and at production scale as the trimmed broadcast
    * model — leaving the doc side's partitioning untouched. V comes
    * from the unigram aggregate itself (count of its rows), so the
    * corpus is scanned twice total (bigram explode + unigram explode),
    * not three times, and the old two-stage countDistinct is gone. */
  def bigramLmScores(docs: DataFrame): DataFrame = {
    val docGrams = bigramStream(docs)
      .select(col("doc_id"), col("gram"))
      .repartition(col("doc_id"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("n_occ"))
    val gramCounts = docGrams.groupBy("gram")
      .agg(sum(col("n_occ")).as("c12"))
    val unigramCounts = docs
      .select(explode(Text.tokens).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocabSize = unigramCounts.agg(count(lit(1)).as("v"))
    val model = gramCounts
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .join(unigramCounts, "w1")
      .crossJoin(broadcast(vocabSize))
      .select(col("gram"),
        expr(s"(1000000 * (c12 + $SmoothAdd)) div (c1 + v)").as("p_ppm"))
    docGrams
      .join(broadcast(model), "gram")
      .select(col("doc_id"), col("n_occ"),
        (col("n_occ") * col("p_ppm")).as("p_sum"))
      .groupBy("doc_id")
      .agg(sum(col("n_occ")).as("n_bigrams"),
           expr("sum(p_sum) div sum(n_occ)").as("lm_ppm"))
      .orderBy("doc_id")
  }

  val bigramLmScoresSql: String =
    s"""WITH g AS (${duckBigrams("documents")}),
       |bc AS (SELECT gram, COUNT(*) AS c12 FROM g GROUP BY gram),
       |uc AS (SELECT w1, COUNT(*) AS c1 FROM
       |         (SELECT unnest(${Text.duckTokens}) AS w1 FROM documents)
       |       GROUP BY w1),
       |v AS (SELECT COUNT(DISTINCT t) AS v FROM
       |        (SELECT unnest(${Text.duckTokens}) AS t FROM documents))
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM((1000000 * (c12 + $SmoothAdd)) // (c1 + v)) // COUNT(*) AS BIGINT) AS lm_ppm
       |FROM g JOIN bc USING (gram) JOIN uc USING (w1) CROSS JOIN v
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ collocations
  val CollocMinCount = 10 // bigram occurrence floor (rare pairs are noise)
  val CollocTopK = 50
  /** Largest bigram-occurrence total whose worst-case lift numerator
    * (1e6·N·c12, c12 ≤ N) still fits a BIGINT. */
  val CollocMaxN = 3000000L

  /** Collocation mining: the corpus's top bigrams by LIFT — the
    * integer-exact stand-in for PMI (PMI = log2(lift), monotone, so the
    * ranking is identical and the log adds nothing but float risk):
    *
    *   lift_e6(w1 w2) = (1e6 * N * c(w1 w2)) div (cL(w1) * cR(w2))
    *
    * with N = total bigram occurrences and cL/cR the left/right
    * marginals OF THE BIGRAM RELATION (so the unigram masses sum to N
    * exactly and the independence baseline is well-formed). A count
    * floor keeps one-off pairs (lift explodes as counts shrink) out of
    * the report — the standard PMI min-count guard.
    *
    * Plan: bigram aggregate + two marginal aggregates of it (tiny —
    * |vocab| rows), joined back model-side only; the corpus is scanned
    * once. Top-K plans as TakeOrderedAndProject under the count floor.
    * Overflow headroom: the e6 numerator is 1e6·N·c12 ≤ 1e6·N², so
    * BIGINT holds to N ≈ 3e6 bigrams per exact run; past that the floor
    * and the e6 scale shift to sampled counts (the CMS q57 path). The
    * bound is ENFORCED (raise_error past [[CollocMaxN]]), never silently
    * wrapped — the q16/q32 packGuard discipline. */
  def collocations(docs: DataFrame, maxN: Long = CollocMaxN): DataFrame =
    liftCounts(bigramStream(docs), CollocMinCount, maxN,
        s"collocations: corpus bigram total exceeds the exact-lift BIGINT bound $maxN ",
        "(switch to sampled counts, the q57 CMS path): ")
      .select(col("w1"), col("w2"), col("c12"),
        expr("(1000000 * n * c12) div (cl * cr)").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .limit(CollocTopK)

  /** The lift inputs over a [[bigramStream]]: each (w1, w2) seen at
    * least `minC` times with its count c12, the marginals cl and cr,
    * and the bigram total n, which raise_errors past `maxN` with the
    * message `tooBig` (its parts, then the total). */
  private def liftCounts(grams: DataFrame, minC: Long, maxN: Long,
                         tooBig: String*): DataFrame = {
    val bc = grams
      .select(col("w1"), col("gram"),
        expr("substring(gram, length(w1) + 2)").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val left = bc.groupBy("w1").agg(sum(col("c12")).as("cl"))
    val right = bc.groupBy("w2").agg(sum(col("c12")).as("cr"))
    val total = bc.agg(
      when(sum(col("c12")) > maxN,
        raise_error(concat(tooBig.map(lit) :+ sum(col("c12")).cast("string"): _*)))
        .otherwise(sum(col("c12"))).as("n"))
    bc.filter(col("c12") >= minC)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
  }

  /** Fixture-gate sampling modulus for [[collocationsSampled]]. */
  val CollocSampleMod = 4L

  /** SAMPLED collocation lift — the scale path past [[CollocMaxN]]:
    * compute the identical lift statistic on a deterministic 1/mod
    * document sample (`doc_id % mod = 0` — reproducible in any engine,
    * no RNG, so the oracle hash-matches by construction). Every count
    * shrinks by ~mod, so the exact-lift BIGINT bound stretches by mod:
    * at 1e12 corpus bigrams, mod = 10^6 puts the sampled total back
    * under the 3e6 exact bound and the whole computation stays in
    * overflow-guarded integer arithmetic — `sampleMod` is the scale
    * knob, sized mod ≈ N/[[CollocMaxN]] (the signLshNearDups bits-knob
    * pattern).
    *
    * Statistics: lift is a HEAD statistic — a ratio of head-bigram
    * frequencies — and uniform doc sampling preserves those
    * frequencies in expectation; the count floor (scaled to
    * ceil(minCount/mod), at least 2) keeps pairs whose sampled counts
    * are too small to estimate from flooding the report, exactly the
    * role the unsampled floor plays. `c12_est = c12·mod` reports the
    * scaled-up occurrence estimate next to the sampled lift.
    *
    * The guard flips meaning: raise_error now fires when the SAMPLED
    * total still exceeds maxN — i.e. "your sampleMod is too small for
    * this corpus", an actionable sizing message instead of a dead end.
    * Plan shape is [[collocations]]' exactly (one sampled-corpus scan,
    * vocab-sized marginal joins, TakeOrderedAndProject). */
  def collocationsSampled(docs: DataFrame,
                          sampleMod: Long = CollocSampleMod,
                          maxN: Long = CollocMaxN): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val minC = math.max(2L, (CollocMinCount + sampleMod - 1) / sampleMod)
    liftCounts(bigramStream(docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)),
        minC, maxN,
        s"collocationsSampled: SAMPLED bigram total exceeds the exact-lift bound $maxN ",
        s"(raise sampleMod above $sampleMod): ")
      .select(col("w1"), col("w2"),
        (col("c12") * sampleMod).as("c12_est"),
        expr("(1000000 * n * c12) div (cl * cr)").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  def collocationsSampledSql(sampleMod: Long = CollocSampleMod): String = {
    val minC = math.max(2L, (CollocMinCount + sampleMod - 1) / sampleMod)
    s"""WITH sdocs AS (SELECT * FROM documents WHERE doc_id % $sampleMod = 0),
       |${duckBigramCounts("sdocs")},
       |l AS (SELECT w1, SUM(c12) AS cl FROM bc GROUP BY w1),
       |r AS (SELECT w2, SUM(c12) AS cr FROM bc GROUP BY w2),
       |t AS (SELECT SUM(c12) AS n FROM bc)
       |SELECT w1, w2, CAST(c12 * $sampleMod AS BIGINT) AS c12_est,
       |  CAST((1000000 * n * c12) // (cl * cr) AS BIGINT) AS lift_e6
       |FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
       |WHERE c12 >= $minC
       |ORDER BY lift_e6 DESC, w1, w2
       |LIMIT $CollocTopK""".stripMargin
  }

  val collocationsSql: String =
    s"""WITH ${duckBigramCounts()},
       |l AS (SELECT w1, SUM(c12) AS cl FROM bc GROUP BY w1),
       |r AS (SELECT w2, SUM(c12) AS cr FROM bc GROUP BY w2),
       |t AS (SELECT SUM(c12) AS n FROM bc)
       |SELECT w1, w2, c12, CAST((1000000 * n * c12) // (cl * cr) AS BIGINT) AS lift_e6
       |FROM bc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
       |WHERE c12 >= $CollocMinCount
       |ORDER BY lift_e6 DESC, w1, w2
       |LIMIT $CollocTopK""".stripMargin

  // ---------------------------------------------------- source drift
  /** Largest corpus token mass whose basis-point numerator (1e4·c,
    * c ≤ T) still fits a BIGINT — enforced loudly, never wrapped. */
  val DriftMaxTokenMass = 900000000000000L // 9e14

  /** Per-source unigram-distribution drift vs the whole corpus — the
    * mixture-monitoring op that tells a 100 TB pipeline "source X
    * changed under you" (crawl snapshot shifted, a scraper broke, a
    * new template flooded in):
    *
    *   diff_bp(s, t)  = (1e4 * o(s,t)) div S(s)  -  (1e4 * c(t)) div T
    *   drift_l2e8(s)  = sum over the CORPUS vocabulary of diff_bp²
    *
    * (o = token count within the source, S = source token mass, c/T =
    * corpus-wide.) The frequency ratios are floored to basis points
    * BEFORE squaring, so everything stays BIGINT and both engines agree
    * exactly; tokens a source never emits still contribute their
    * corpus-frequency term — dropping absent tokens would drop exactly
    * the drift signal.
    *
    * The sum splits EXACTLY into two bounded pieces (no trim, no
    * approximation — the oracle is unchanged):
    *  - OBSERVED (source, token) pairs: both terms; computed by joining
    *    the aggregated per-source counts to the aggregated corpus
    *    counts on `token` — aggregate-to-aggregate equi-joins, never a
    *    vocabulary broadcast, co-partitioned with the exchanges the
    *    aggregates already made.
    *  - ABSENT pairs: d = -(1e4·c div T), which is ZERO unless
    *    c ≥ T/1e4 — and at most 10^4 tokens can clear that bar (their
    *    masses would otherwise exceed T). Only this HOT vocabulary is
    *    broadcast onto the |sources| spine (≤ 10^4 rows at ANY corpus
    *    size — bounded by arithmetic, not by hope), anti-joined against
    *    the observed pairs.
    * The earlier formulation broadcast the FULL corpus vocabulary to
    * build a |sources|×|vocab| grid — a multi-GB broadcast and an OOM
    * at web scale; this shape's broadcast is ≤ 160 KB forever. The
    * hot-vocabulary size is observable via `hotObs` (the q16 dropObs
    * pattern), and the e4 numerator bound is enforced with raise_error
    * past [[DriftMaxTokenMass]] (the packGuard discipline). */
  def sourceDrift(docs: DataFrame,
                  hotObs: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    val toks = Text.words(docs, "token", "source")
    val bySrc = toks.groupBy("source", "token").agg(count(lit(1)).as("o"))
    val srcMass = bySrc.groupBy("source").agg(sum(col("o")).as("s_mass"))
    val corpus = bySrc.groupBy("token").agg(sum(col("o")).as("c"))
    val tMass = corpus.agg(
      when(sum(col("c")) > DriftMaxTokenMass,
        raise_error(concat(
          lit(s"sourceDrift: corpus token mass exceeds the bp BIGINT bound $DriftMaxTokenMass: "),
          sum(col("c")).cast("string"))))
        .otherwise(sum(col("c"))).as("t_mass"))
    // corpus counts with the bp term precomputed (vocab-sized, stays
    // partitioned on token — only the HOT slice below ever broadcasts)
    val corpusBp = corpus.crossJoin(broadcast(tMass))
      .select(col("token"), expr("(10000 * c) div t_mass").as("c_bp"))
    val observed = bySrc
      .join(corpusBp, "token")
      .join(broadcast(srcMass), "source")
      .select(col("source"), col("s_mass"),
        (expr("(10000 * o) div s_mass") - col("c_bp")).as("d"))
    val hot0 = corpusBp.filter(col("c_bp") > 0)
    val hot = hotObs.fold(hot0)(o =>
      hot0.observe(o, count(lit(1)).as("hot_vocab")))
    val absent = srcMass.crossJoin(broadcast(hot))
      .join(bySrc, Seq("source", "token"), "left_anti")
      .select(col("source"), col("s_mass"), (-col("c_bp")).as("d"))
    observed.unionByName(absent)
      .groupBy("source")
      .agg(min(col("s_mass")).as("n_tokens"),
           sum(col("d") * col("d")).as("drift_l2e8"))
      .orderBy("source")
  }

  val sourceDriftSql: String =
    s"""WITH toks AS (
      |  SELECT source, unnest(${Text.duckTokens}) AS token FROM documents),
      |o AS (SELECT source, token, COUNT(*) AS o FROM toks
      |      WHERE length(token) > 0 GROUP BY source, token),
      |sm AS (SELECT source, SUM(o) AS s_mass FROM o GROUP BY source),
      |c AS (SELECT token, SUM(o) AS c FROM o GROUP BY token),
      |t AS (SELECT SUM(c) AS t_mass FROM c),
      |grid AS (SELECT sm.source, sm.s_mass, c.token, c.c, t.t_mass
      |         FROM sm CROSS JOIN c CROSS JOIN t),
      |d AS (SELECT grid.source, grid.s_mass,
      |        (10000 * COALESCE(o.o, 0)) // grid.s_mass
      |          - (10000 * grid.c) // grid.t_mass AS d
      |      FROM grid LEFT JOIN o
      |        ON grid.source = o.source AND grid.token = o.token)
      |SELECT source, CAST(MIN(s_mass) AS BIGINT) AS n_tokens,
      |  CAST(SUM(d * d) AS BIGINT) AS drift_l2e8
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------- perplexity filter (q225)
  /** Reference-split modulus: docs with doc_id % mod = 0 train the LM. */
  val PplRefMod = 5L

  /** q225: CCNET-STYLE PERPLEXITY FILTER — the train/apply split q66
    * does not have. Production pipelines (CCNet and its descendants)
    * train a KenLM on a REFERENCE corpus (Wikipedia), score every crawl
    * document, and keep the head perplexity bucket; the LM is a
    * transferred quality prior, not a self-fit. Here the deterministic
    * doc_id % [[PplRefMod]] = 0 slice stands in for the reference corpus
    * and everything else is the apply set:
    *
    *   - TRAIN: add-1 bigram model on the reference slice only
    *     (p_ppm as q66, with V = reference vocab). Convention note:
    *     the context denominator c1 counts EVERY occurrence of w1 in
    *     the reference — including doc-final tokens that never serve
    *     as a bigram context — matching q66's convention; conditional
    *     likelihoods are thus uniformly (slightly) deflated relative
    *     to a context-positions-only count. Both engines share the
    *     convention, so scores are comparable wherever they are used.
    *   - SCORE: every apply doc's mean bigram likelihood, with unseen
    *     grams/contexts falling back to the smoothing floor via
    *     COALESCE(c, 0) — the OOV path q66 never exercises because it
    *     trains on what it scores.
    *   - BUCKET: global likelihood TERTILES (bucket 1 = head = HIGHEST
    *     likelihood = most reference-like, the slice CCNet keeps;
    *     bucket 3 = the discard tail), with thresholds taken as exact
    *     order statistics ceil(n/3), ceil(2n/3) — docs ABOVE t2 are
    *     bucket 1, docs at or below t1 are bucket 3.
    *
    * The tertile thresholds come from a VALUE-COUNTS cumsum, not a
    * global row sort: lm_ppm is an integer in [0, 1e6], so the distinct-
    * value relation is bounded at ~1e6 rows AT ANY CORPUS SIZE and the
    * single-partition window over it is a constant-size step (the q128
    * exact-quantile shape), never a corpus sort. Corpus-side: the apply
    * bigram stream shuffles ONCE on doc_id (the q66 single-exchange
    * shape) with source carried through the aggregation (functionally
    * dependent on doc_id — no join-back); the reference model is
    * aggregate-sized and broadcasts. The DOC-LEVEL scored relation
    * feeds two consumers (the threshold cumsum and the bucket report),
    * so it is lazily checkpointed (the q188 pattern) — the corpus-sized
    * explode runs once, and what both consumers re-read is corpus/
    * 1000-sized. */
  /** The doc-level scored relation (pre-checkpoint) — exposed so the
    * plan guards can assert the model-broadcast / one-exchange shape
    * that the checkpoint boundary hides from the final plan. */
  private[graft] def pplScored(docs: DataFrame): DataFrame = {
    val ref = docs.filter(pmod(col("doc_id"), lit(PplRefMod)) === 0)
    val app = docs.filter(pmod(col("doc_id"), lit(PplRefMod)) =!= 0)
    val refGrams = bigramStream(ref)
      .groupBy("gram").agg(count(lit(1)).as("c12"))
    val refUni = ref
      .select(explode(Text.tokens).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val refV = refUni.agg(count(lit(1)).as("v"))
    val appGrams = app
      .select(col("doc_id"), col("source"), Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, concat_ws(' ', toks[i], toks[i + 1]) AS gram))"))
        .as("b"))
      .select(col("doc_id"), col("source"),
        col("b.w1").as("w1"), col("b.gram").as("gram"))
      .repartition(col("doc_id"))
      .groupBy("doc_id", "source", "w1", "gram")
      .agg(count(lit(1)).as("n_occ"))
    appGrams
      .join(broadcast(refGrams), Seq("gram"), "left")
      .join(broadcast(refUni), Seq("w1"), "left")
      .crossJoin(broadcast(refV))
      .select(col("doc_id"), col("source"), col("n_occ"),
        (col("n_occ") *
          expr(s"(1000000 * (coalesce(c12, 0) + $SmoothAdd)) div (coalesce(c1, 0) + v)"))
          .as("p_sum"))
      .groupBy("doc_id", "source")
      .agg(sum(col("n_occ")).as("n_bigrams"),
           expr("sum(p_sum) div sum(n_occ)").as("lm_ppm"))
  }

  def perplexityFilter(docs: DataFrame): DataFrame = {
    val scored = pplScored(docs).localCheckpoint(false)
    // exact tertile thresholds from the bounded value-counts relation
    val thresholds = OrderStats.boundedOrderStats(scored, "lm_ppm",
      Seq("t1" -> "(n + 2) div 3", "t2" -> "(2 * n + 2) div 3"))
    // bucket 1 = ABOVE the upper tertile threshold (most reference-like,
    // the CCNet keep slice); bucket 3 = at/below the lower threshold
    scored
      .crossJoin(broadcast(thresholds))
      .select(col("source"),
        (lit(1L) + (col("lm_ppm") <= col("t2")).cast("long")
          + (col("lm_ppm") <= col("t1")).cast("long")).as("ppl_bucket"),
        col("n_bigrams"))
      .groupBy("source", "ppl_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("bigram_mass"))
      .orderBy("source", "ppl_bucket")
  }

  val perplexityFilterSql: String =
    s"""WITH ref AS (SELECT * FROM documents WHERE doc_id % $PplRefMod = 0),
       |app AS (SELECT * FROM documents WHERE doc_id % $PplRefMod <> 0),
       |rg AS (SELECT toks[i] || ' ' || toks[i + 1] AS gram
       |       FROM (SELECT ${Text.duckTokens} AS toks,
       |                    unnest(generate_series(1, len(${Text.duckTokens}) - 1)) AS i
       |             FROM ref WHERE len(${Text.duckTokens}) >= 2)),
       |rbc AS (SELECT gram, COUNT(*) AS c12 FROM rg GROUP BY gram),
       |ruc AS (SELECT w1, COUNT(*) AS c1 FROM
       |          (SELECT unnest(${Text.duckTokens}) AS w1 FROM ref)
       |        GROUP BY w1),
       |rv AS (SELECT COUNT(*) AS v FROM ruc),
       |ag AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS gram
       |       FROM (SELECT doc_id, ${Text.duckTokens} AS toks,
       |                    unnest(generate_series(1, len(${Text.duckTokens}) - 1)) AS i
       |             FROM app WHERE len(${Text.duckTokens}) >= 2)),
       |agg AS (SELECT doc_id, w1, gram, COUNT(*) AS n_occ
       |        FROM ag GROUP BY doc_id, w1, gram),
       |sc AS (SELECT doc_id, SUM(n_occ) AS n_bigrams,
       |         SUM(n_occ * ((1000000 * (COALESCE(rbc.c12, 0) + $SmoothAdd))
       |             // (COALESCE(ruc.c1, 0) + rv.v))) // SUM(n_occ) AS lm_ppm
       |       FROM agg LEFT JOIN rbc USING (gram) LEFT JOIN ruc USING (w1)
       |         CROSS JOIN rv
       |       GROUP BY doc_id),
       |vc AS (SELECT lm_ppm, COUNT(*) AS c FROM sc GROUP BY lm_ppm),
       |n AS (SELECT SUM(c) AS n FROM vc),
       |cum AS (SELECT lm_ppm,
       |          SUM(c) OVER (ORDER BY lm_ppm ROWS UNBOUNDED PRECEDING) AS cum, n.n
       |        FROM vc CROSS JOIN n),
       |th AS (SELECT MIN(CASE WHEN cum >= (n + 2) // 3 THEN lm_ppm END) AS t1,
       |              MIN(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_ppm END) AS t2
       |       FROM cum)
       |SELECT d.source,
       |  CAST(1 + (CASE WHEN sc.lm_ppm <= th.t2 THEN 1 ELSE 0 END)
       |         + (CASE WHEN sc.lm_ppm <= th.t1 THEN 1 ELSE 0 END) AS BIGINT) AS ppl_bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(sc.n_bigrams) AS BIGINT) AS bigram_mass
       |FROM sc JOIN documents d USING (doc_id) CROSS JOIN th
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------- Kneser-Ney bigram (q226)
  /** Largest corpus bigram-occurrence total whose discounted numerator
    * (4e6·c12) still fits a BIGINT with headroom — enforced loudly. */
  val KnMaxN = 2000000000000L // 2e12

  val KnTopK = 50

  /** q226: INTERPOLATED KNESER-NEY bigram probabilities — the smoothing
    * every production n-gram LM (KenLM) actually uses, where q66's add-1
    * is the textbook baseline. Absolute discount D = 3/4, carried as the
    * exact rational 3/4 by multiplying the whole estimate through by 4
    * (no float D, no drift):
    *
    *   p_cont_ppm(w2) = (1e6 * N1+(·w2)) div B
    *   kn_ppm(w1 w2)  = (1e6 * max(4·c12 − 3, 0)) div (4·c1)
    *                  + (3 * N1+(w1·) * p_cont_ppm(w2)) div (4·c1)
    *
    * with c1 the LEFT MARGINAL of the bigram relation (so the discount
    * mass and the backoff weight λ(w1) = D·N1+(w1·)/c1 balance exactly),
    * N1+ the continuation type counts, and B the total bigram types.
    * The continuation distribution is KN's point: a token that appears
    * in many CONTEXTS (high N1+(·w2)) backs off high even if its raw
    * frequency is one giant collocation.
    *
    * Scale shape: [[collocations]]' exactly — one corpus scan to the
    * bigram-type relation, three vocab-sized marginal aggregates OF that
    * relation joined back model-side, a broadcast 1-row total, and
    * TakeOrderedAndProject for the top-K report. Overflow: numerators
    * are ≤ 4e6·N and 3·V·1e6 — both guarded by [[KnMaxN]] with
    * raise_error (packGuard discipline), never silent wraps. */
  def knBigram(docs: DataFrame, maxN: Long = KnMaxN): DataFrame = {
    val grams = bigramStream(docs)
      .select(col("w1"), expr("substring(gram, length(w1) + 2)").as("w2"))
    val bc = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val left = bc.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1_fan"))
    val cont = bc.groupBy("w2").agg(count(lit(1)).as("n1_cont"))
    val totals = bc.agg(
      when(sum(col("c12")) > maxN,
        raise_error(concat(
          lit(s"knBigram: corpus bigram total exceeds the discounted-numerator bound $maxN "),
          lit("(switch to sampled counts, the q77 path): "),
          sum(col("c12")).cast("string"))))
        .otherwise(count(lit(1))).as("b_types"))
    bc.filter(col("c12") >= CollocMinCount)
      .join(left, "w1").join(cont, "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        expr("(1000000 * n1_cont) div b_types").as("pcont_ppm"),
        (expr("(1000000 * greatest(4 * c12 - 3, 0)) div (4 * c1)") +
          expr("(3 * n1_fan * ((1000000 * n1_cont) div b_types)) div (4 * c1)"))
          .as("kn_ppm"))
      .orderBy(col("kn_ppm").desc, col("w1"), col("w2"))
      .limit(KnTopK)
  }

  val knBigramSql: String =
    s"""WITH ${duckBigramCounts()},
       |l AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1_fan FROM bc GROUP BY w1),
       |ct AS (SELECT w2, COUNT(*) AS n1_cont FROM bc GROUP BY w2),
       |t AS (SELECT COUNT(*) AS b_types FROM bc)
       |SELECT w1, w2, c12,
       |  CAST((1000000 * n1_cont) // b_types AS BIGINT) AS pcont_ppm,
       |  CAST((1000000 * greatest(4 * c12 - 3, 0)) // (4 * c1)
       |     + (3 * n1_fan * ((1000000 * n1_cont) // b_types)) // (4 * c1)
       |    AS BIGINT) AS kn_ppm
       |FROM bc JOIN l USING (w1) JOIN ct USING (w2) CROSS JOIN t
       |WHERE c12 >= $CollocMinCount
       |ORDER BY kn_ppm DESC, w1, w2
       |LIMIT $KnTopK""".stripMargin

  // ------------------------------------------------------------ wiring
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q66_bigram_lm" -> ((s, d) => bigramLmScores(Tables.documents(s, d))),
    "q67_collocations" -> ((s, d) => collocations(Tables.documents(s, d))),
    "q71_source_drift" -> ((s, d) => sourceDrift(Tables.documents(s, d))),
    "q77_colloc_sampled" -> ((s, d) => collocationsSampled(Tables.documents(s, d))),
    "q225_perplexity_filter" -> ((s, d) => perplexityFilter(Tables.documents(s, d))),
    "q226_kn_bigram" -> ((s, d) => knBigram(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q66_bigram_lm" -> bigramLmScoresSql,
    "q67_collocations" -> collocationsSql,
    "q71_source_drift" -> sourceDriftSql,
    "q77_colloc_sampled" -> collocationsSampledSql(),
    "q225_perplexity_filter" -> perplexityFilterSql,
    "q226_kn_bigram" -> knBigramSql)
}
