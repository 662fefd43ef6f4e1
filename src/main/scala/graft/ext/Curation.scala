package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators: the pipeline steps that sit BETWEEN the
  * per-doc scoring family (q19-q22, q47) and the dedup family (q13-q16,
  * q33) in a real training-data build — composite filter verdicts,
  * statistical rarity scoring, incremental-batch dedup, shard planning,
  * and canonical-document selection.
  *
  * Same portability contract as [[Dedup]]/[[TextAnalysis]]: every score
  * is integer arithmetic (counts, basis points, e4 fixed-point) derived
  * from md5/poly_hash so the DuckDB oracle agrees bit-for-bit; no float
  * ever reaches the driver compare.
  */
object Curation {

  // ------------------------------------------------- composite filter
  val MinTokens = 25
  val MaxTokens = 50000
  val MinWordLenC = 300  // mean word length floor, centichars
  val MaxWordLenC = 520  // ceiling
  val MaxSymbolBp = 1500 // non-alphanumeric char ratio ceiling, bp
  val MinStopCount = 2   // minimum stopword occurrences
  val MaxDupE4 = 300     // duplicate-3-gram ratio ceiling, e4

  /** Gopher/C4-style composite quality gate: every rule evaluated from
    * the integer signals of q20/q47, verdict = the FIRST failing rule
    * (rule order is part of the contract — a doc failing several rules
    * reports the earliest, the way production filter pipelines log one
    * rejection reason per doc). Rules, in order: token-count floor and
    * ceiling, mean-word-length band, symbol-ratio ceiling, stopword
    * floor, duplicate-3-gram ceiling.
    *
    * Shape: one projection over the corpus — every signal including the
    * repetition score rides the fused ShingleHashes codegen expression,
    * so the whole verdict is scan-speed with no shuffle but the
    * presentation sort. At 100 TB this is the canonical "score + filter
    * in one pass" map stage; the verdict column (rather than a bare
    * filter) keeps the reject stream inspectable, which is how filter
    * rules get audited and tuned. */
  def filterVerdicts(docs: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession, 3,
      Dedup.HashBase, Dedup.HashMod)
    val sig = docs.select(
      col("doc_id"),
      size(Text.tokens).as("n_tokens"),
      expr(s"(100 * (length(text) - ${Text.sparkTokenCount} + 1)) div greatest(${Text.sparkTokenCount}, 1)")
        .as("mwl_c"),
      expr("(10000 * length(regexp_replace(text, '[A-Za-z0-9 ]', ''))) div greatest(length(text), 1)")
        .as("symbol_bp"),
      expr(Text.sparkStopCount).as("stop_cnt"),
      expr("shingle_hashes(text)").as("hs"))
      .withColumn("dup_e4",
        expr("(10000 * (size(hs) - size(array_distinct(hs)))) div greatest(size(hs), 1)"))
    sig.select(
      col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
      when(col("n_tokens") < MinTokens, "too_short")
        .when(col("n_tokens") > MaxTokens, "too_long")
        .when(col("mwl_c") < MinWordLenC || col("mwl_c") > MaxWordLenC, "word_length")
        .when(col("symbol_bp") > MaxSymbolBp, "symbol_ratio")
        .when(col("stop_cnt") < MinStopCount, "stopword")
        .when(col("dup_e4") > MaxDupE4, "repetition")
        .otherwise("pass").as("verdict"))
      .withColumn("passed",
        when(col("verdict") === "pass", 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  val filterVerdictsSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    len(${Text.duckTokens}) AS n_tokens,
       |    (100 * (length(text) - len(${Text.duckTokens}) + 1)) // greatest(len(${Text.duckTokens}), 1) AS mwl_c,
       |    (10000 * length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))) // greatest(length(text), 1) AS symbol_bp,
       |    (${Text.duckStopCount}) AS stop_cnt,
       |    ${Dedup.duckShingleHashes} AS hs
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CASE
       |      WHEN n_tokens < $MinTokens THEN 'too_short'
       |      WHEN n_tokens > $MaxTokens THEN 'too_long'
       |      WHEN mwl_c < $MinWordLenC OR mwl_c > $MaxWordLenC THEN 'word_length'
       |      WHEN symbol_bp > $MaxSymbolBp THEN 'symbol_ratio'
       |      WHEN stop_cnt < $MinStopCount THEN 'stopword'
       |      WHEN (10000 * (len(hs) - len(list_distinct(hs)))) // greatest(len(hs), 1) > $MaxDupE4 THEN 'repetition'
       |      ELSE 'pass' END AS verdict
       |  FROM sig)
       |SELECT doc_id, n_tokens, verdict,
       |  CASE WHEN verdict = 'pass' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS passed
       |FROM v ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- token rarity
  /** Fixed-point scale for the rarity score. e4 (not e6) keeps the
    * worst case — a singleton token in a 10^13-token corpus — inside
    * int64 for BOTH engines (DuckDB errors on overflow, Spark wraps;
    * staying small keeps them identical). */
  val RarityScale = 10000L

  /** Unigram-LM surprisal proxy: rarity(token) = scale * N / tf (the
    * integer inverse of the token's corpus probability), mean over each
    * doc's token instances. The statistical twin of the rule-based q48:
    * boilerplate and template docs score LOW (their tokens saturate the
    * corpus), genuinely informative docs score high — the cheap stand-in
    * for model-based perplexity filtering when no LM is at hand.
    *
    * Two-phase shape, the canonical frequency-join: (1) one shuffle
    * builds the corpus vocabulary (token → tf, plus the corpus total as
    * a 1-row aggregate); (2) the token stream joins the vocabulary back
    * BROADCAST — a natural-language vocabulary is Zipf-bounded (millions
    * of types against trillions of instances), so the corpus side is
    * never shuffled by token: scan → broadcast probe → one groupBy
    * doc_id. If the type count ever outgrows the broadcast ceiling the
    * same plan degrades to a shuffle join on token — the declarative
    * form survives the scale-up either way. */
  def tokenRarity(docs: DataFrame): DataFrame = {
    val toks = Text.words(docs, "token", "doc_id")
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("corpus_n"))
    toks
      .join(broadcast(vocab), "token")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        expr(s"($RarityScale * corpus_n) div tf").as("rarity"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           expr("sum(rarity) div count(1)").as("mean_rarity_e4"))
      .orderBy("doc_id")
  }

  val tokenRaritySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Text.duckTokens}) AS token FROM documents),
       |t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
       |vocab AS (SELECT token, COUNT(*) AS tf FROM t GROUP BY token),
       |total AS (SELECT SUM(tf) AS corpus_n FROM vocab)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(($RarityScale * total.corpus_n) // vocab.tf) AS BIGINT) // COUNT(*) AS mean_rarity_e4
       |FROM t JOIN vocab USING (token) CROSS JOIN total
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- incremental dedup
  /** The source treated as the newly-arriving batch. */
  val IncomingSource = "src0"

  /** Incremental-ingest dedup: which docs of an INCOMING batch are
    * already represented in the EXISTING corpus? The every-day shape of
    * production dedup — the corpus is deduped once, then each new crawl
    * is checked against it; re-clustering the union from scratch per
    * batch would be quadratic over time.
    *
    * Semantics: an incoming doc is flagged when any of its MinHash LSH
    * band keys (exactly q14's banding) collides with any existing doc's
    * band; n_hit_bands counts how many of its [[Dedup.NumBands]] bands
    * hit (a crude similarity confidence: all bands ≈ exact dup, one
    * band ≈ borderline near-dup).
    *
    * Shape: signatures are computed per side (each doc hashed exactly
    * once — the sides are disjoint), then one semi-join on
    * (band, band_key). Locally Catalyst broadcasts the smaller side; at
    * corpus scale the existing side's bands are a PERSISTED index table
    * (bucketed by band_key — the band relation is exactly what a
    * production pipeline materializes as its dedup index), so the check
    * is one co-located semi-join whose shuffled volume is the tiny
    * incoming batch, never a re-sketch of the corpus. */
  def incrementalDedup(docs: DataFrame,
                       incomingSource: String = IncomingSource): DataFrame = {
    val incoming = Dedup.minhashBands(docs.filter(col("source") === incomingSource))
    val existing = Dedup.minhashBands(docs.filter(col("source") =!= incomingSource))
      .select("band", "band_key").distinct()
    incoming
      .join(existing, Seq("band", "band_key"), "left_semi")
      .groupBy("doc_id")
      .agg(countDistinct(col("band")).as("n_hit_bands"))
      .orderBy("doc_id")
  }

  def incrementalDedupSql: String =
    s"""WITH ${Dedup.duckSigCtes("documents", "doc_id, source")},
       |${Dedup.duckBandsCte("doc_id, source")}
       |SELECT a.doc_id, COUNT(DISTINCT a.band) AS n_hit_bands
       |FROM bands a
       |WHERE a.source = '$IncomingSource'
       |  AND EXISTS (SELECT 1 FROM bands e
       |              WHERE e.source <> '$IncomingSource'
       |                AND e.band = a.band AND e.band_key = a.band_key)
       |GROUP BY a.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ shard plan
  val ShardTokens = 1000L

  /** Token-budget shard planner: assign each doc (within its source, in
    * doc_id order) to an output shard of ~[[ShardTokens]] tokens — the
    * materialization step that cuts a curated corpus into near-equal
    * training files. shard = exclusive-prefix-sum(n_tokens) div budget:
    * a doc starts a new shard exactly when the tokens before it fill the
    * previous budget, so shard sizes overshoot by at most one doc —
    * deterministic, engine-independent, no packing heuristics.
    *
    * Shape: one hash partition by source + one in-partition sort —
    * Spark's WindowExec computes the running sum without any global
    * sort, and sources are independent so the stage scales with the
    * source count. (A GLOBAL shard plan ordered across the whole corpus
    * would serialize on one partition — per-source framing is what makes
    * the operator parallel, and matches how corpora ship: shards nested
    * under source prefixes.) */
  def shardPlan(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("source"), col("doc_id"),
        size(Text.tokens).cast("long").as("n_tokens"))
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"tokens_before div $ShardTokens").as("shard"))
      .orderBy("source", "doc_id")
  }

  val shardPlanSql: String =
    s"""SELECT source, doc_id,
       |  CAST(len(${Text.duckTokens}) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(SUM(CAST(len(${Text.duckTokens}) AS BIGINT))
       |    OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    // $ShardTokens AS shard
       |FROM documents ORDER BY source, doc_id""".stripMargin

  // ------------------------------------------- sequence packing (q108)
  /** Fixed training-sequence length for [[packedSpans]]. Small enough
    * that fixture docs straddle sequence boundaries routinely — the
    * path this operator exists to get right. */
  val SeqTokens = 256L

  /** q108: SEQUENCE PACKING — the concat-and-chunk step that turns a
    * curated corpus into fixed-length training sequences, emitted as
    * TOKEN SPANS: within each source, documents concatenate in doc_id
    * order and the stream is cut every [[SeqTokens]] tokens; a document
    * crossing a cut contributes one span per overlapped sequence
    * (doc-relative `tok_start`/`tok_len`, sequence-relative `seq_off`).
    * This is q51's planner taken to the token level: q51 decides which
    * FILE a doc lands in (budget overshoot allowed), this decides which
    * tokens land in which fixed-size SEQUENCE (no overshoot — training
    * rows must be exactly L long, so straddling docs split).
    *
    * All integer arithmetic over one exclusive prefix sum:
    *   spans(doc) = { bin k in [before div L, (before+n-1) div L]:
    *     span = [max(before, kL), min(before+n, (k+1)L)) }
    * so Σ tok_len = n per doc (nothing lost at cuts) and every sequence
    * except each source's last holds exactly L tokens — both properties
    * spec-pinned.
    *
    * Shape: the q51 window (hash partition by source, in-partition
    * sort) + a generator explode whose fan-out is n/L + 1 spans per doc
    * — linear in the corpus, no shuffle after the window. Same
    * per-source parallelism contract as q51: production runs this per
    * curated shard, which bounds window partitions and scales the stage
    * with shard count rather than source count. */
  def packedSpans(docs: DataFrame, seqTokens: Long = SeqTokens): DataFrame =
    packedSpansFromCounts(
      docs.select(col("source"), col("doc_id"),
        size(Text.tokens).cast("long").as("n_tokens")),
      seqTokens)

  /** The packing core over any (source, doc_id, n_tokens) relation —
    * q108 feeds whitespace counts, q114 feeds q113's real tokenizer
    * counts. */
  private[graft] def packedSpansFromCounts(counts: DataFrame,
                                           seqTokens: Long): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("before"),
        explode(expr(
          s"sequence(before div $seqTokens, (before + n_tokens - 1) div $seqTokens)"))
          .as("seq"))
      .select(col("source"), col("seq"), col("doc_id"),
        (greatest(col("before"), col("seq") * seqTokens) - col("before"))
          .as("tok_start"),
        (least(col("before") + col("n_tokens"), (col("seq") + 1) * seqTokens) -
          greatest(col("before"), col("seq") * seqTokens)).as("tok_len"),
        (greatest(col("before"), col("seq") * seqTokens) - col("seq") * seqTokens)
          .as("seq_off"))
      .orderBy("source", "seq", "seq_off")
  }

  /** Oracle tail of the span packing: the `s` CTE and the final SELECT
    * over a `t` CTE of (source, doc_id, n_tokens, before), `before`
    * being the source's token total ahead of the doc. */
  private def duckSpans: String =
    s"""s AS (
       |  SELECT source, doc_id, n_tokens, before,
       |    unnest(generate_series(before // $SeqTokens,
       |                           (before + n_tokens - 1) // $SeqTokens)) AS seq
       |  FROM t)
       |SELECT source, seq, doc_id,
       |  greatest(before, seq * $SeqTokens) - before AS tok_start,
       |  least(before + n_tokens, (seq + 1) * $SeqTokens)
       |    - greatest(before, seq * $SeqTokens) AS tok_len,
       |  greatest(before, seq * $SeqTokens) - seq * $SeqTokens AS seq_off
       |FROM s ORDER BY source, seq, seq_off""".stripMargin

  val packedSpansSql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(${Text.duckTokens}) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(CAST(len(${Text.duckTokens}) AS BIGINT))
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS before FROM documents),
       |$duckSpans""".stripMargin

  // ------------------------------------------ deterministic shuffle (q111)
  /** Shard count for [[corpusShuffle]] — production sizes this to the
    * training job's reader parallelism. */
  val ShuffleShards = 16L
  /** LCG mixing constants (same family as the sign-LSH planes): small
    * enough that `a * doc_id + seed` stays in BIGINT for any fixture
    * doc_id under ANSI overflow checking. */
  val ShuffleMulA = 1103515245L
  val ShuffleMod = 1000000007L

  /** Overflow-safe LCG key as SQL text — ONE definition shared by the
    * Spark expressions and the DuckDB oracles. Reduces the id mod
    * [[ShuffleMod]] BEFORE the multiply: (A·(d mod M)+s) mod M ==
    * (A·d+s) mod M, and the reduced product tops out near 1.1e18 <
    * Long.MaxValue, so the key is exact for ANY BIGINT id. The
    * unreduced form silently wraps in Spark (non-ANSI) above
    * id ≈ 8.4e9 while DuckDB raises on BIGINT overflow — at web-scale
    * ids the two engines would diverge invisibly at fixture scale. */
  def lcgKeySql(idExpr: String, seed: Long): String =
    s"($ShuffleMulA * (($idExpr) % $ShuffleMod) + $seed) % $ShuffleMod"

  /** q111: DETERMINISTIC CORPUS SHUFFLE — the seeded, reproducible
    * reordering that fixes a training run's data order: every doc gets
    * an LCG-mixed key, lands in shard `key mod S`, and takes its
    * position from the key order within the shard (doc_id breaks ties).
    * Rerunning with the same seed reproduces the order bit for bit on
    * any cluster size (pure integer arithmetic, no RNG state, no
    * partition-order dependence); changing the seed is a new epoch's
    * permutation. This is the op behind "global shuffle then shard"
    * that training loaders assume — done relationally so it scales as
    * one hash partition per shard + an in-shard sort, never a global
    * single-node sort. */
  def corpusShuffle(docs: DataFrame, seed: Long = 12345L): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
    docs.select(col("doc_id"),
        expr(lcgKeySql("doc_id", seed)).as("key"))
      .withColumn("shard", col("key") % ShuffleShards)
      .select(col("shard"), row_number().over(w).cast("long").as("pos"),
        col("doc_id"), col("key"))
      .orderBy("shard", "pos")
  }

  val corpusShuffleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, ${lcgKeySql("doc_id", 12345)} AS key
       |  FROM documents)
       |SELECT key % $ShuffleShards AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY key % $ShuffleShards
       |    ORDER BY key, doc_id) AS BIGINT) AS pos,
       |  doc_id, key
       |FROM k ORDER BY shard, pos""".stripMargin

  // --------------------------------------------- train/val/test (q112)
  /** Per-mille split boundaries: hash bucket < 980 → train, < 990 →
    * val, else test. */
  val SplitTrainPm = 980L
  val SplitValPm = 990L

  /** The per-doc labeling [[trainValTestSplit]] aggregates — exposed so
    * specs can pin the growth-stability property at the row level. */
  def splitLabels(docs: DataFrame, seed: Long = 777L): DataFrame =
    docs.select(col("source"), col("doc_id"),
        expr(s"(${lcgKeySql("doc_id", seed)}) % 1000").as("pm"))
      .withColumn("split",
        when(col("pm") < SplitTrainPm, "train")
          .when(col("pm") < SplitValPm, "val")
          .otherwise("test"))

  /** The split-rule CASE over an arbitrary key expression — ONE SQL
    * definition for q112 (doc_id), q124 (cluster_id), and q207's audit
    * (a drifted copy would let the audit measure a split that is no
    * longer the split q112 ships). */
  private[ext] def splitCaseSql(key: String, seed: Long = 777L): String =
    s"""CASE WHEN ((${lcgKeySql(key, seed)})) % 1000 < $SplitTrainPm THEN 'train'
       |         WHEN ((${lcgKeySql(key, seed)})) % 1000 < $SplitValPm THEN 'val'
       |         ELSE 'test' END""".stripMargin

  /** q112: SEEDED TRAIN/VAL/TEST SPLIT — every doc deterministically
    * labeled by its hash bucket (0–999 ‰), so the split is (a) complete
    * and disjoint by construction, (b) reproducible on any cluster from
    * just the seed, (c) stable under corpus growth: a doc's label never
    * changes when OTHER docs arrive, because the label depends only on
    * its own id — the property a random-number split lacks and the
    * reason eval contamination stays fixed across corpus versions.
    * Mixing reuses [[ShuffleMulA]]'s LCG over a distinct seed so the
    * split is independent of q111's shuffle order (same doc_id, two
    * uncorrelated streams). Output: per (source, split) accounting the
    * downstream loader consumes as a manifest. */
  def trainValTestSplit(docs: DataFrame, seed: Long = 777L): DataFrame =
    splitLabels(docs, seed)
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("source", "split")

  val trainValTestSplitSql: String =
    s"""WITH lab AS (
       |  SELECT source, doc_id,
       |    ${splitCaseSql("doc_id")} AS split
       |  FROM documents)
       |SELECT source, split, COUNT(*) AS n_docs,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM lab GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  // --------------------------- deterministic source interleave (q191)
  /** Seed for the interleave's within-source permutation — distinct
    * from q111's shuffle (12345) and q112's split (777) so the three
    * orderings are uncorrelated streams off the same LCG family. */
  val InterleaveSeed = 2025L
  /** Bucket count per phase of the two-phase numbering (q131's
    * discipline applied twice). */
  val InterleaveBuckets = 32L

  /** q191: DETERMINISTIC MULTI-SOURCE INTERLEAVE — the "mix datasets
    * evenly" op training loaders run after per-source curation: each
    * source is internally shuffled by a seeded LCG (q111's family,
    * its own seed), then the global training order takes one doc from
    * every source in rotation — round r emits rank-r docs in source
    * order; exhausted sources simply drop out of later rounds, so
    * every doc is emitted EXACTLY once (per-source drop-out
    * semantics — deliberately not HF `interleave_datasets`'
    * `all_exhausted` strategy, which oversamples exhausted sources by
    * cycling them until the largest runs dry). The
    * whole order is pure integer arithmetic from (doc_id, source):
    * reproducible on any cluster, stable per epoch via the seed.
    *
    * Scale: the naive form is TWO unpartitioned windows (within-source
    * rank, then global row number) — each an Exchange(SinglePartition)
    * funneling the corpus through one task. Both phases instead run
    * q131's two-phase prefix-sum rewrite: (1) within-source ranks
    * bucket on LCG-key ranges (uniform by construction — the key IS
    * the mixer), rank inside (source, key-bucket) partitions, add
    * per-bucket offsets from a broadcast |sources|x[[InterleaveBuckets]]
    * relation; (2) the global position buckets on within_rank ranges
    * (monotone in the (within_rank, source) interleave order), ranks
    * inside buckets, adds broadcast offsets. Two corpus shuffles total,
    * nothing global but two tiny relations; the oracle IS the
    * two-window single-sort form. */
  def sourceInterleave(docs: DataFrame): DataFrame = {
    val span = ShuffleMod / InterleaveBuckets + 1L
    val keyed = docs.select(col("doc_id"), col("source"),
        expr(lcgKeySql("doc_id", InterleaveSeed)).as("key"))
      .withColumn("kb", expr(s"key div $span"))
    // phase 1: within-source rank, key-range bucketed
    val kOffW = Window.partitionBy("s2").orderBy("kb2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val kCounts = keyed.groupBy(col("source").as("s2"), col("kb").as("kb2"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum("c").over(kOffW), lit(0L)))
      .select(col("s2"), col("kb2"), col("below"))
    val rankW = Window.partitionBy("source", "kb").orderBy("key", "doc_id")
    val ranked = keyed
      .join(broadcast(kCounts),
        col("source") === col("s2") && col("kb") === col("kb2"))
      .withColumn("within_rank",
        (col("below") + row_number().over(rankW)).cast("long"))
      .select("doc_id", "source", "within_rank")
    // phase 2: global interleave position, within_rank-range bucketed
    val maxR = ranked.agg(max("within_rank").as("max_r"))
    val b2 = ranked.crossJoin(broadcast(maxR))
      .withColumn("gb",
        expr(s"((within_rank - 1) * $InterleaveBuckets) div max_r"))
    val gOffW = Window.orderBy("gb2")
      .rowsBetween(Window.unboundedPreceding, -1)
    val gCounts = b2.groupBy(col("gb").as("gb2")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum("c").over(gOffW), lit(0L)))
      .select(col("gb2"), col("below"))
    val posW = Window.partitionBy("gb").orderBy("within_rank", "source")
    b2.join(broadcast(gCounts), col("gb") === col("gb2"))
      .withColumn("global_pos",
        (col("below") + row_number().over(posW)).cast("long"))
      .select(col("global_pos"), col("doc_id"), col("source"), col("within_rank"))
      .orderBy("global_pos")
  }

  val sourceInterleaveSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, source,
       |    ${lcgKeySql("doc_id", InterleaveSeed)} AS key
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, key,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY key, doc_id) AS within_rank
       |  FROM k)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY within_rank, source) AS BIGINT) AS global_pos,
       |  doc_id, source, CAST(within_rank AS BIGINT) AS within_rank
       |FROM r ORDER BY global_pos""".stripMargin

  // --------------------------- greedy max-coverage selection (q192)
  /** The distinct (key, bigram) relation — ONE definition shared by
    * q192's coverage universe and q199's uniqueness universe (the
    * no-drifted-copies discipline: the two queries are comparable only
    * while they tokenize identically). */
  private[ext] def docBigrams(docs: DataFrame, keyCol: String): DataFrame =
    docs.select(col(keyCol), Text.tokens.as("t"))
      .where(size(col("t")) >= 2)
      .select(col(keyCol), explode(expr(
        "array_distinct(transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1])))")).as("bg"))

  /** The matching oracle CTE pair (`t`, `b`) keyed by `key` — shared by
    * greedyCoverageSql and sourceAblationSql for the same reason. */
  private def bigramCtesSql(key: String): String =
    s"""t AS (SELECT $key, ${Text.duckTokens} AS toks FROM documents
       |      WHERE len(${Text.duckTokens}) >= 2),
       |b AS (SELECT DISTINCT $key, bg FROM (
       |  SELECT $key, unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS bg FROM t))""".stripMargin

  /** Fixed greedy round budget — the contract that makes the iteration
    * bit-deterministic and lets the oracle unroll it (q149's
    * discipline). */
  val CoverageRounds = 5

  /** q192: GREEDY MAX-COVERAGE DATA SELECTION — the submodular
    * (facility-location family) selection step behind "pick the K most
    * informative documents": each round selects the doc covering the
    * most still-uncovered token bigrams (ties to the smallest id),
    * adds its bigrams to the covered set, repeats. The 1-1/e
    * approximation guarantee of greedy submodular maximization is what
    * coreset/data-pruning pipelines lean on; q175's k-center covers
    * embedding space, this covers the DISCRETE feature universe.
    *
    * Scale: the (doc, bigram) relation is computed ONCE (per-row array
    * arithmetic, localCheckpoint lineage cut); each of the fixed
    * [[CoverageRounds]] rounds is one linear scan of it — a BROADCAST
    * anti-join against the covered set (at most K·max-doc-bigrams rows
    * by construction, always tiny) + a count aggregate + TakeOrdered(1)
    * (per-partition heaps, one row to the driver — never a sort). The
    * driver holds only the K selected ids and the covered set: K fixed
    * ⇒ K linear passes, the documented fixed-budget iteration contract.
    * Emits (round, doc_id, gain, covered_total); covered_total(r) =
    * covered_total(r-1) + gain(r) by construction — the spec pins that
    * identity plus a full driver replay of the greedy. */
  def greedyCoverage(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val b = docBigrams(docs, "doc_id").localCheckpoint()
    var coveredDf = Seq.empty[String].toDF("cbg")
    var coveredTotal = 0L
    var selected = Vector.empty[(Long, Long, Long, Long)]
    var done = false
    for (r <- 1 to CoverageRounds if !done) {
      // no already-selected filter needed: a selected doc's bigrams are
      // all covered, so the anti-join leaves it zero gain rows
      val gains = b
        .join(broadcast(coveredDf), col("bg") === col("cbg"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("gain"))
      val top = gains.orderBy(col("gain").desc, col("doc_id")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val id = top(0).getLong(0)
        val gain = top(0).getLong(1)
        coveredDf = coveredDf
          .union(b.filter(col("doc_id") === id).select(col("bg").as("cbg")))
          .distinct().localCheckpoint()
        // covered_total(r) = covered_total(r-1) + gain(r) EXACTLY:
        // b is distinct per (doc, bg) (array_distinct in docBigrams)
        // and gain counted precisely the selected doc's not-yet-covered
        // bigrams — the identity the spec pins. Running sum instead of
        // a per-round count() job over the covered set (r15, guide
        // §1.2: don't recompute what the algorithm already knows).
        coveredTotal += gain
        selected :+= ((r.toLong, id, gain, coveredTotal))
      }
    }
    selected.toDF("round", "doc_id", "gain", "covered_total").orderBy("round")
  }

  /** Oracle: the same greedy unrolled as [[CoverageRounds]] CTE rounds
    * (the q149 fixed-iteration discipline) — each round recomputes
    * gains over the not-yet-selected docs against the previous round's
    * covered set. */
  val greedyCoverageSql: String = {
    val pre = "WITH " + bigramCtesSql("doc_id")
    val ctes = new scala.collection.mutable.ArrayBuffer[String]
    var selUnion = "SELECT doc_id FROM s1"
    ctes += "s1 AS (SELECT doc_id, count(*) AS gain FROM b GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)"
    ctes += "c1 AS (SELECT DISTINCT bg FROM b WHERE doc_id IN (SELECT doc_id FROM s1))"
    for (r <- 2 to CoverageRounds) {
      ctes += s"g$r AS (SELECT doc_id, count(*) AS gain FROM b WHERE doc_id NOT IN ($selUnion) AND bg NOT IN (SELECT bg FROM c${r - 1}) GROUP BY 1)"
      ctes += s"s$r AS (SELECT doc_id, gain FROM g$r ORDER BY gain DESC, doc_id LIMIT 1)"
      selUnion += s" UNION SELECT doc_id FROM s$r"
      ctes += s"c$r AS (SELECT DISTINCT bg FROM b WHERE doc_id IN ($selUnion))"
    }
    val finals = (1 to CoverageRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, doc_id, gain, (SELECT count(*) FROM c$r) AS covered_total FROM s$r")
    pre + ",\n" + ctes.mkString(",\n") + "\n" +
      finals.mkString(" UNION ALL ") + " ORDER BY round"
  }

  // ------------------------------------------ k-anonymity audit (q198)
  /** Minimum group size below which a quasi-identifier combination is
    * a re-identification risk. */
  val AnonK = 5L

  /** q198: K-ANONYMITY AUDIT over the generalization ladder — the
    * privacy release gate run before publishing corpus metadata: a
    * (lang, source, length-octave) combination shared by fewer than
    * [[AnonK]] docs is a quasi-identifier that can single documents
    * out; generalizing (dropping attributes right-to-left) trades
    * utility for anonymity. ONE rollup pass scores every rung of the
    * ladder at once — level 0 = (lang, source, bin) ... level 3 =
    * fully generalized — reporting group counts, violating groups,
    * docs at risk, and the min group size per level. Violations are
    * monotonically non-increasing up the ladder by construction
    * (groups only merge), which the spec pins; the release decision is
    * "publish at the first level whose violations hit zero".
    *
    * Shape: rollup is ONE shuffle producing all four grouping sets
    * with map-side partials (the q99 machinery applied to governance);
    * the per-level summary aggregates the tiny group relation. */
  def kAnonymity(docs: DataFrame): DataFrame = {
    val d = docs.filter(col("n_chars") > 0)
      .select(col("lang"), col("source"),
        (length(expr("bin(n_chars)")) - 1).cast("long").as("bin"))
    d.rollup("lang", "source", "bin")
      .agg(count(lit(1)).as("sz"),
        (grouping(col("lang")) + grouping(col("source"))
          + grouping(col("bin"))).as("level"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < AnonK, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("sz") < AnonK, col("sz")).otherwise(0L)).as("docs_at_risk"),
        min("sz").as("min_group_size"))
      .select(col("level").cast("int").as("level"), col("n_groups"),
        col("n_violating"), col("docs_at_risk"), col("min_group_size"))
      .orderBy("level")
  }

  val kAnonymitySql: String =
    s"""WITH d AS (
       |  SELECT lang, source, length(bin(n_chars)) - 1 AS bin
       |  FROM documents WHERE n_chars > 0),
       |g AS (
       |  SELECT lang, source, bin,
       |    GROUPING(lang) + GROUPING(source) + GROUPING(bin) AS level,
       |    count(*) AS sz
       |  FROM d GROUP BY ROLLUP (lang, source, bin))
       |SELECT CAST(level AS INT) AS level, count(*) AS n_groups,
       |  CAST(sum(CASE WHEN sz < $AnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       |  CAST(sum(CASE WHEN sz < $AnonK THEN sz ELSE 0 END) AS BIGINT) AS docs_at_risk,
       |  CAST(min(sz) AS BIGINT) AS min_group_size
       |FROM g GROUP BY level ORDER BY level""".stripMargin

  // ----------------------------------------- source ablation (q199)
  /** q199: SOURCE-ABLATION REPORT — per-source UNIQUE contribution,
    * the data-valuation complement of q62's pairwise overlap: what
    * does the corpus LOSE if this source is dropped? Reports each
    * source's doc count, token mass and ppm share, plus the bigrams
    * no other source provides (n_sources(bigram) = 1) — the
    * feature-coverage loss a leave-one-out ablation would measure,
    * computed relationally in one pass instead of |sources| reruns.
    * Mass share and unique-coverage share rank sources for the q116
    * mixture decision from opposite directions (bulk vs irreplaceable
    * content).
    *
    * Shape: distinct (source, bigram) from per-row array arithmetic,
    * one bigram-keyed aggregate for the source-count, a semi-join
    * back restricted to n_src = 1, tiny per-source relations
    * broadcast-joined at the end — all linear, nothing pairwise. */
  /** Loud bound on any `x * 1e6` ppm numerator (packGuard discipline):
    * a source past ~9.2e12 tokens or unique bigrams would silently
    * wrap the share arithmetic; at that scale shard the sums first. */
  val AblationPpmBound = 9223372036854L

  private def ppmGuard(c: org.apache.spark.sql.Column, what: String) =
    when(c > AblationPpmBound,
      raise_error(concat(lit(s"q199 $what exceeds the exact ppm bound $AblationPpmBound: "),
        c.cast("string")))).otherwise(c)

  def sourceAblation(docs: DataFrame): DataFrame = {
    val sb = docBigrams(docs, "source").distinct()
    val nSrc = sb.groupBy("bg").agg(count(lit(1)).as("n_src"))
    val uniq = sb.join(nSrc.filter(col("n_src") === 1).select("bg"), "bg")
      .groupBy("source").agg(count(lit(1)).as("uniq_bigrams"))
    val mass = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens)).as("toks"))
    val nVocab = nSrc.agg(count(lit(1)).as("n_vocab"))
    val totToks = mass.agg(sum("toks").as("total_toks"))
    mass.join(uniq, Seq("source"), "left_outer")
      .crossJoin(broadcast(nVocab)).crossJoin(broadcast(totToks))
      .select(col("source"), col("n_docs"),
        ppmGuard(col("toks"), "token_mass").as("token_mass"),
        expr("(toks * 1000000) div total_toks").as("mass_ppm"),
        ppmGuard(coalesce(col("uniq_bigrams"), lit(0L)), "uniq_bigrams")
          .as("uniq_bigrams"),
        expr("(coalesce(uniq_bigrams, 0) * 1000000) div n_vocab").as("uniq_vocab_ppm"))
      .orderBy("source")
  }

  val sourceAblationSql: String =
    s"""WITH ${bigramCtesSql("source")},
       |nb AS (SELECT bg, count(*) AS n_src FROM b GROUP BY 1),
       |uniq AS (SELECT s.source, count(*) AS uniq_bigrams
       |         FROM b s JOIN nb ON nb.bg = s.bg AND nb.n_src = 1 GROUP BY 1),
       |mass AS (SELECT source, count(*) AS n_docs,
       |           sum(len(${Text.duckTokens})) AS toks
       |         FROM documents GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM nb) AS n_vocab,
       |               (SELECT sum(toks) FROM mass) AS total_toks)
       |SELECT m.source, m.n_docs, CAST(m.toks AS BIGINT) AS token_mass,
       |  CAST((m.toks * 1000000) // total_toks AS BIGINT) AS mass_ppm,
       |  CAST(coalesce(u.uniq_bigrams, 0) AS BIGINT) AS uniq_bigrams,
       |  CAST((coalesce(u.uniq_bigrams, 0) * 1000000) // n_vocab AS BIGINT) AS uniq_vocab_ppm
       |FROM mass m LEFT JOIN uniq u ON u.source = m.source CROSS JOIN tot
       |ORDER BY m.source""".stripMargin

  // ------------------------------------- cluster-aware split (q124)
  /** q124: CLUSTER-AWARE TRAIN/VAL/TEST SPLIT — q112's hash split with
    * the leakage hole closed. Splitting by a doc's OWN id puts
    * near-duplicates of an eval doc into train (the benchmark then
    * scores memorization, not generalization — the failure n-gram
    * decontamination papers document). Here the split key is the doc's
    * q33 near-dup CLUSTER id, so an entire connected component lands on
    * one side by construction: the LCG can only separate docs whose
    * cluster ids differ. Keeps q112's properties (deterministic from
    * the seed, disjoint+complete, growth-stable for docs whose cluster
    * doesn't change) at the cost every real pipeline pays: the split
    * now depends on the dedup pass that precedes it.
    *
    * Scale: rides the q33 label-propagation pass (induced subgraph
    * only) + one aggregate; the LCG is per-row arithmetic. Output: per
    * (split) doc and cluster accounting; the ExtSpec twin proves the
    * CONTRAST — own-id labeling straddles >0 candidate pairs on this
    * fixture, cluster-id labeling straddles none. */
  def clusterAwareSplit(docs: DataFrame, seed: Long = 777L): DataFrame =
    clusterSplitLabels(docs, seed)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("cluster_id")).as("n_clusters"),
           min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("split")

  /** The per-doc labeling [[clusterAwareSplit]] aggregates (spec hook). */
  private[graft] def clusterSplitLabels(docs: DataFrame, seed: Long = 777L): DataFrame =
    Dedup.minhashClusters(docs)
      .select(col("doc_id"), col("cluster_id"),
        expr(s"(${lcgKeySql("cluster_id", seed)}) % 1000").as("pm"))
      .withColumn("split",
        when(col("pm") < SplitTrainPm, "train")
          .when(col("pm") < SplitValPm, "val")
          .otherwise("test"))

  val clusterAwareSplitSql: String =
    s"""${Dedup.duckClusterCtes(Dedup.minhashPairsSql)},
       |lab AS (
       |  SELECT doc_id, cluster_id,
       |    ${splitCaseSql("cluster_id")} AS split
       |  FROM clusters)
       |SELECT split, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT cluster_id) AS n_clusters,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM lab GROUP BY split
       |ORDER BY split""".stripMargin

  // ----------------------------------------------- canonical selection
  /** Canonical-doc selection: the dedup pipeline's LAST step — per
    * near-dup cluster (q33's MinHash-LSH connected components), keep the
    * single best member. "Best" = longest text (n_chars), ties to the
    * smallest doc_id; emitted only for clusters that actually merged
    * (singletons pass through dedup unchanged and don't need a
    * decision row).
    *
    * The argmax is ONE aggregation — max over (n_chars, -doc_id) structs,
    * whose field-order comparison implements "longest, then smallest id"
    * with map-side partials (no per-cluster sort, no window): the
    * grouped-argmax shape that replaces a rank window at corpus scale.
    * Rides the q33 clustering pass; the join back to doc metadata is by
    * doc_id, broadcast-able when the cluster relation is small. */
  def canonicalDocs(docs: DataFrame): DataFrame = {
    val clusters = Dedup.minhashClusters(docs)
    clusters
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
           max(struct(col("n_chars").as("c"), (-col("doc_id")).as("nid"))).as("m"))
      .filter(col("n_docs") > 1)
      .select(col("cluster_id"), col("n_docs"),
        (-col("m.nid")).as("keep_doc_id"), col("m.c").as("keep_chars"))
      .orderBy("cluster_id")
  }

  def canonicalDocsSql: String =
    s"""${Dedup.duckClusterCtes(Dedup.minhashPairsSql)},
       |ranked AS (
       |  SELECT c.cluster_id, d.doc_id, d.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, d.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_docs
       |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT cluster_id, n_docs, doc_id AS keep_doc_id, n_chars AS keep_chars
       |FROM ranked WHERE rn = 1 AND n_docs > 1
       |ORDER BY cluster_id""".stripMargin

  // ------------------------------------------------------- bigram stats
  val BpeTopK = 50

  /** Top-K adjacent-token-pair frequencies — the first merge-candidate
    * table of BPE/WordPiece tokenizer training, and the bigram half of
    * the q34 vocabulary family. Same scale shape as q34: one generator
    * projection (each doc emits its n-1 adjacent pairs), one count
    * shuffle with map-side partials, and the top-K cut plans as
    * TakeOrderedAndProject — per-partition heaps, never a global sort
    * of the pair vocabulary. Ties break on the pair text. */
  def bpePairs(docs: DataFrame): DataFrame =
    adjacentPairs(docs)
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpeTopK)

  /** Every adjacent token pair of every doc, "left right", as `pair`. */
  private def adjacentPairs(docs: DataFrame): DataFrame =
    docs.select(Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
          .stripMargin)).as("pair"))

  val bpePairsSql: String =
    s"""WITH t AS (SELECT ${Text.duckTokens} AS toks FROM documents),
       |p AS (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
       |  FROM t WHERE len(toks) >= 2)
       |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
       |ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin

  // ------------------------------------- tokenizer application (q113)
  /** q113: BPE-STYLE TOKENIZER APPLICATION — the missing link between
    * q53 (mines merge-candidate statistics) and q108 (packs token
    * spans): apply a PINNED merge table to encode every document into
    * token ids. The merge table is exactly q53's statistics — the top
    * [[BpeTopK]] adjacent-token pairs (both sides non-empty), ranked by
    * frequency with ties on pair text — and application is Sennrich
    * apply-BPE semantics at the word level: merges applied in rank
    * order, each replacing its occurrences leftmost-first,
    * non-overlapping. Because mined pairs are over BASE symbols only, a
    * merged symbol (spelled "x y", and base symbols never contain a
    * space) can never be a merge operand, so one pass per rank is the
    * complete fixpoint — the same non-chaining argument the DuckDB
    * oracle's 50-round recursive CTE relies on.
    *
    * Output: (doc_id, n_tokens, ids_hash) — the post-merge token count
    * and the md5 of the comma-joined token-id sequence, with ids dense
    * in vocabulary (symbol-sorted) order.
    *
    * Scale shape, stage by stage: (1) the merge table is LIMIT-topK
    * rows BY CONSTRUCTION, so the driver collect + broadcast is the
    * justified small-side pattern (the corpus side is never collected —
    * Dedup's eval-Bloom argument); (2) the encode kernel is a typed
    * mapPartitions over (doc_id, tokens) — O(ranks · n) per doc with
    * mutable buffers, embarrassingly parallel, no shuffle (the
    * iterative per-doc dependency is exactly the shape the builder
    * brief routes to mapPartitions as last resort: 50 chained
    * array-fold expressions would defeat codegen and turn quadratic on
    * long docs); (3) the vocabulary is Zipf-bounded (q49's argument),
    * so its dense-id window is a |vocab|-row relation — never the
    * corpus — and the id lookup joins back BROADCAST; (4) one shuffle
    * by doc_id re-assembles ordered id sequences. */
  def bpeEncode(docs: DataFrame, topK: Int = BpeTopK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges: Array[(String, String)] =
      adjacentPairs(docs)
        .filter(!col("pair").startsWith(" ") && !col("pair").endsWith(" "))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(topK)
        .collect()
        .map { r =>
          val p = r.getString(0); val i = p.indexOf(' ')
          (p.substring(0, i), p.substring(i + 1))
        }
    val bc = spark.sparkContext.broadcast(merges)
    // ONE encode pass (r16, guide §1.2/§2.4): the old plan consumed the
    // un-materialized encode output twice — once under the vocabulary's
    // broadcast subtree, once in the main id-attachment path — so the
    // O(ranks·n) merge kernel ran TWICE per query; and the id
    // attachment itself was a posexplode + broadcast join + a full
    // (doc_id, pos, tok_id) shuffle into collect_list + sort_array.
    // localCheckpoint materializes the kernel's output once (the
    // standard lineage-cut; MEMORY_AND_DISK, executor-side), and the
    // id attachment becomes a per-row map lookup: the vocabulary is
    // Zipf-bounded (q49's argument) and was ALREADY driver-collected in
    // spirit (it was broadcast), so collecting the ordered distinct
    // symbols and broadcasting symbol→dense-id turns the join + shuffle
    // + per-group sort into one stateless projection. md5 stays a
    // COLUMN expression over the joined id string — same builtin, same
    // bytes, engine parity untouched.
    // a doc with no tokens (null text) has no row, as in the unnest oracle
    val encoded = docs.select(col("doc_id"), Text.tokens.as("toks"))
      .filter(col("toks").isNotNull && size(col("toks")) > 0)
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { case (id, toks) => (id, applyMerges(toks, ms)) }
      }
      .toDF("doc_id", "syms")
      .localCheckpoint(true)
    // dense ids in symbol order — ordered by SPARK (UTF8String binary
    // order, matching the old window's ORDER BY and the oracle), then
    // collected: the distinct-symbol relation is Zipf-bounded, never
    // the corpus
    val symbols = encoded.select(explode(col("syms")).as("symbol"))
      .distinct().orderBy("symbol").collect().map(_.getString(0))
    val idOf: Map[String, Long] =
      symbols.iterator.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val bcIds = spark.sparkContext.broadcast(idOf)
    encoded.as[(Long, Seq[String])]
      .mapPartitions { it =>
        val m = bcIds.value
        it.map { case (id, syms) =>
          (id, syms.length.toLong, syms.iterator.map(m).mkString(","))
        }
      }
      .toDF("doc_id", "n_tokens", "ids_csv")
      .select(col("doc_id"), col("n_tokens"),
        md5(col("ids_csv").cast("binary")).as("ids_hash"))
      .orderBy("doc_id")
  }

  /** Leftmost-first, non-overlapping application of the merge table in
    * rank order (Sennrich apply-BPE over word-level symbols). Each rank
    * is one scan; ranks whose left symbol never appears skip the
    * rebuild. O(ranks · n) per doc, mutable buffers only. */
  private[graft] def applyMerges(toks: Seq[String],
                                 merges: Array[(String, String)]): Seq[String] = {
    var cur: Array[String] = toks.toArray
    var r = 0
    while (r < merges.length) {
      val (x, y) = merges(r)
      var j = 0; var found = false
      while (j < cur.length - 1 && !found) {
        if (cur(j) == x && cur(j + 1) == y) found = true
        j += 1
      }
      if (found) {
        val out = new scala.collection.mutable.ArrayBuffer[String](cur.length)
        var i = 0
        while (i < cur.length) {
          if (i + 1 < cur.length && cur(i) == x && cur(i + 1) == y) {
            out += x + " " + y; i += 2
          } else { out += cur(i); i += 1 }
        }
        cur = out.toArray
      }
      r += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cur)
  }

  /** The q113 merge-apply chain as DuckDB CTE definitions (embedded in
    * a `WITH RECURSIVE` by both the q113 and q114 oracles): mine the
    * merge table, then fold it over every doc's symbol stream one rank
    * per recursion round. The accumulator packs the symbol list as a
    * chr(31)-joined string (fixture text is control-char-free, pinned
    * by the merge-table mining itself); merging appends with ' '
    * instead of chr(31), which reproduces leftmost-non-overlapping
    * exactly: a just-merged symbol ends "… y", never "… x", so it can
    * not re-merge in the same pass. */
  private def bpeChainSql: String =
    s"""tk AS (SELECT ${Text.duckTokens} AS toks FROM documents),
       |pr AS (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS pair
       |  FROM tk WHERE len(toks) >= 2),
       |merges AS (
       |  SELECT substr(pair, 1, strpos(pair, ' ') - 1) AS x,
       |         substr(pair, strpos(pair, ' ') + 1) AS y,
       |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
       |  FROM (SELECT pair, COUNT(*) AS n FROM pr
       |        WHERE pair NOT LIKE ' %' AND pair NOT LIKE '% '
       |        GROUP BY pair ORDER BY n DESC, pair LIMIT $BpeTopK)),
       |enc AS (
       |  SELECT 0 AS r, doc_id,
       |    array_to_string(${Text.duckTokens}, chr(31)) AS s
       |  FROM documents
       |  UNION ALL
       |  SELECT e.r + 1, e.doc_id,
       |    list_reduce(string_split(e.s, chr(31)),
       |      (acc, t) -> CASE
       |        WHEN (acc = m.x OR suffix(acc, chr(31) || m.x)) AND t = m.y
       |        THEN acc || ' ' || t
       |        ELSE acc || chr(31) || t END)
       |  FROM enc e JOIN merges m ON m.rank = e.r + 1
       |  WHERE e.r < $BpeTopK),
       |fin AS (
       |  SELECT doc_id, string_split(s, chr(31)) AS syms FROM enc
       |  WHERE r = (SELECT MAX(rank) FROM merges))""".stripMargin

  val bpeEncodeSql: String =
    s"""WITH RECURSIVE
       |$bpeChainSql,
       |vocab AS (
       |  SELECT symbol, CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS BIGINT) AS tok_id
       |  FROM (SELECT DISTINCT unnest(syms) AS symbol FROM fin)),
       |posx AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(syms)),
       |    i -> struct_pack(pos := i, symbol := syms[i]))) AS u
       |  FROM fin),
       |p2 AS (SELECT doc_id, u.pos AS pos, u.symbol AS symbol FROM posx)
       |SELECT p2.doc_id, COUNT(*) AS n_tokens,
       |  md5(string_agg(CAST(v.tok_id AS VARCHAR), ',' ORDER BY p2.pos)) AS ids_hash
       |FROM p2 JOIN vocab v USING (symbol)
       |GROUP BY p2.doc_id ORDER BY doc_id""".stripMargin

  /** q114: q108's sequence packing recomputed over the REAL token
    * counts q113 produces — the packing-span arithmetic calibrated to
    * tokenizer output instead of whitespace splits (the gap the round-7
    * verdict named: without this, span lengths are wrong by exactly the
    * merge compression). Same window + generator shape as q108; only
    * the count column changes provenance. */
  def packedSpansBpe(docs: DataFrame, seqTokens: Long = SeqTokens): DataFrame =
    packedSpansFromCounts(
      docs.select(col("source"), col("doc_id"))
        .join(bpeEncode(docs).select(col("doc_id"), col("n_tokens")), "doc_id"),
      seqTokens)

  val packedSpansBpeSql: String =
    s"""WITH RECURSIVE
       |$bpeChainSql,
       |counts AS (
       |  SELECT d.source, f.doc_id, CAST(len(f.syms) AS BIGINT) AS n_tokens
       |  FROM fin f JOIN documents d USING (doc_id)),
       |t AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens)
       |      OVER (PARTITION BY source ORDER BY doc_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS before FROM counts),
       |$duckSpans""".stripMargin

  // --------------------------------- tokenizer fertility audit (q200)
  /** q200: TOKENIZER FERTILITY AUDIT — chars-per-token and
    * whitespace-compression per language under the REAL q113 tokenizer,
    * the multilingual-tokenizer eval every cross-lingual training run
    * reads before fixing a vocab: a language whose fertility is much
    * higher than the others pays more sequence positions per character
    * (effectively less context, more compute per byte), the documented
    * failure of English-centric BPE vocabularies on non-Latin scripts.
    * fertility_mc = milli-chars per BPE token; compression_bp =
    * whitespace tokens per BPE token in basis points (>= 10000 by
    * construction — merges only reduce the count).
    *
    * Scale: rides the q113 encode (mapPartitions kernel, broadcast
    * merge table) plus one tiny per-language aggregate; integer floor
    * division on non-negative sums keeps it hash-exact. */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    val enc = bpeEncode(docs).select(col("doc_id"), col("n_tokens").as("bpe_tokens"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        size(Text.tokens).cast("long").as("ws_tokens"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
           sum("ws_tokens").as("ws_tokens"), sum("bpe_tokens").as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("chars"),
        col("ws_tokens"), col("bpe_tokens"),
        expr("(chars * 1000) div bpe_tokens").as("fertility_mc"),
        expr("(ws_tokens * 10000) div bpe_tokens").as("compression_bp"))
      .orderBy("lang")
  }

  val tokenizerFertilitySql: String =
    s"""WITH RECURSIVE
       |$bpeChainSql,
       |bt AS (SELECT doc_id, CAST(len(syms) AS BIGINT) AS bpe_tokens FROM fin),
       |base AS (
       |  SELECT d.lang, d.n_chars,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ws_tokens,
       |    bt.bpe_tokens
       |  FROM documents d JOIN bt USING (doc_id))
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars,
       |  CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST((SUM(n_chars) * 1000) // SUM(bpe_tokens) AS BIGINT) AS fertility_mc,
       |  CAST((SUM(ws_tokens) * 10000) // SUM(bpe_tokens) AS BIGINT) AS compression_bp
       |FROM base GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------- loss-mask span prep (q201)
  /** q201: LOSS-MASK SPAN PREP — the per-sequence mask table a trainer
    * consumes to zero the loss over compromised content: q114's packed
    * spans (REAL tokenizer counts) joined with q70's compliance
    * verdict, so every span whose source doc carries PII or blocklist
    * hits is flagged masked=1 while packing geometry stays untouched
    * (masking at pack time, not by dropping docs, preserves sequence
    * boundaries and epoch determinism — the reason loaders mask
    * instead of refiltering). Composes three gated ops (q113 encode →
    * q114 pack → q70 verdict) into the artifact none of them emits
    * alone.
    *
    * Scale: the span relation joins the per-doc flag relation on
    * doc_id — both corpus-sized, one co-partitioned hash join; no new
    * scans beyond the audited q114 and q70 plans. */
  def maskSpans(docs: DataFrame): DataFrame = {
    val flags = graft.ext.TextAnalysis.piiScrub(docs)
      .select(col("doc_id"),
        (col("n_email") + col("n_ipv4") + col("n_phone") + col("n_blocked") > 0)
          .cast("long").as("masked"))
    packedSpansBpe(docs)
      .join(flags, "doc_id")
      .select(col("source"), col("seq"), col("seq_off"), col("tok_len"),
        col("doc_id"), col("masked"))
      .orderBy("source", "seq", "seq_off")
  }

  val maskSpansSql: String =
    s"""WITH spans AS (SELECT * FROM (${packedSpansBpeSql})),
       |flags AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN n_email + n_ipv4 + n_phone + n_blocked > 0
       |         THEN 1 ELSE 0 END AS BIGINT) AS masked
       |  FROM (${graft.ext.TextAnalysis.piiScrubSql}))
       |SELECT s.source, s.seq, s.seq_off, s.tok_len, s.doc_id, f.masked
       |FROM spans s JOIN flags f USING (doc_id)
       |ORDER BY s.source, s.seq, s.seq_off""".stripMargin

  // ---------------------------------- vocabulary growth curve (q203)
  /** Ingest-order buckets for the growth curve. */
  val GrowthBuckets = 16L

  /** q203: VOCABULARY GROWTH CURVE (Heaps-law audit) — how many NEW
    * bigrams each slice of the ingest order contributes, the curve
    * vocab-sizing and "is more crawl still adding content?" decisions
    * read: a healthy crawl's new-feature rate decays (sublinear Heaps
    * growth); a flat curve means near-duplicate ingest, a cliff means
    * the source is exhausted. Each bigram is attributed to its FIRST
    * document (min doc_id — deterministic, growth-stable: adding later
    * docs never re-attributes an old bigram), docs bucket into
    * [[GrowthBuckets]] equal id ranges, and the report is new + running
    * cumulative bigrams per bucket beside the bucket's doc count.
    * Shares [[docBigrams]] with q192/q199 so all three growth/coverage
    * views describe the same feature universe.
    *
    * Scale: one (bg → min doc) aggregate over the bigram relation, a
    * broadcast scalar for the bucket width, windows only over the
    * [[GrowthBuckets]]-row relation. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val w = docs.agg((expr(s"max(doc_id) div $GrowthBuckets") + 1).as("w"))
    val firstDoc = docBigrams(docs, "doc_id")
      .groupBy("bg").agg(min("doc_id").as("first_doc"))
    val newPer = firstDoc.crossJoin(broadcast(w))
      .groupBy(expr("first_doc div w").as("bucket"))
      .agg(count(lit(1)).as("new_bigrams"))
    val docsPer = docs.crossJoin(broadcast(w))
      .groupBy(expr("doc_id div w").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val cumW = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    docsPer.join(newPer, Seq("bucket"), "left_outer")
      .withColumn("new_bigrams", coalesce(col("new_bigrams"), lit(0L)))
      .withColumn("cum_bigrams", sum("new_bigrams").over(cumW))
      .select("bucket", "n_docs", "new_bigrams", "cum_bigrams")
      .orderBy("bucket")
  }

  val vocabGrowthSql: String =
    s"""WITH ${bigramCtesSql("doc_id")},
       |w AS (SELECT (max(doc_id) // $GrowthBuckets) + 1 AS w FROM documents),
       |fd AS (SELECT bg, min(doc_id) AS first_doc FROM b GROUP BY bg),
       |np AS (SELECT first_doc // w AS bucket, count(*) AS new_bigrams
       |       FROM fd, w GROUP BY 1),
       |dp AS (SELECT doc_id // w AS bucket, count(*) AS n_docs
       |       FROM documents, w GROUP BY 1)
       |SELECT dp.bucket, dp.n_docs,
       |  CAST(coalesce(np.new_bigrams, 0) AS BIGINT) AS new_bigrams,
       |  CAST(SUM(coalesce(np.new_bigrams, 0))
       |    OVER (ORDER BY dp.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bigrams
       |FROM dp LEFT JOIN np ON np.bucket = dp.bucket
       |ORDER BY dp.bucket""".stripMargin

  // ------------------------------- balanced eval construction (q204)
  /** Docs selected per language stratum. */
  val EvalQuota = 10L

  /** q204: BALANCED EVAL-SET CONSTRUCTION — exactly [[EvalQuota]] docs
    * per language, selected by salted-hash order: the standard fix for
    * proportional sampling (q56) leaving minority languages with too
    * few eval docs to measure anything (a 1%-share language gets 1% of
    * the eval budget — useless error bars; a balanced eval gives every
    * language the same statistical power). Selection order is
    * md5('ev' ‖ doc_id) — deterministic, growth-stable per doc,
    * independent of q112's split stream (disjoint salt), so the eval
    * set is reproducible and stable under corpus growth up to quota
    * displacement.
    *
    * Scale: one window rank per language partition (parallel across
    * languages, the q151 shape) + a quota filter; nothing global. */
  def balancedEval(docs: DataFrame): DataFrame = {
    val byLang = Window.partitionBy("lang")
      .orderBy(expr("md5(concat('ev', cast(doc_id as string)))"), col("doc_id"))
    docs.select(col("lang"), col("doc_id"))
      .withColumn("rank", row_number().over(byLang).cast("long"))
      .filter(col("rank") <= EvalQuota)
      .select("lang", "rank", "doc_id")
      .orderBy("lang", "rank")
  }

  val balancedEvalSql: String =
    s"""WITH r AS (
       |  SELECT lang, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY md5('ev' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id
       |FROM r WHERE rk <= $EvalQuota ORDER BY lang, rank""".stripMargin

  // ------------------------------- length-bucketed batching (q205)
  /** Token capacity per batch. */
  val BatchTokens = 256L
  /** Seed for the in-bucket shuffle order (distinct from q111/q112/
    * q191 streams). */
  val BatchSeed = 99L

  /** q205: LENGTH-BUCKETED BATCHING PLAN with padding-waste
    * accounting — the dynamic-batching prep every padded-training
    * loader runs: batching similar-length docs together bounds the
    * padding a batch pays (pad to the batch max, not the corpus max).
    * Docs bucket by length octave (q182's exact-bin trick), shuffle
    * within the bucket by a seeded LCG (q111's family, own seed), and
    * fill batches greedily — a doc joins the batch its running token
    * START falls into (batch = before div [[BatchTokens]]), so a batch
    * can overrun capacity by less than its last doc's length, the
    * standard streaming batcher's boundary behavior, stated rather
    * than hidden. The report is per batch: docs, real tokens, and
    * pad_waste = n_docs·max_len − tokens — the quantity bucketing
    * exists to minimize and the number that justifies it against
    * random batching.
    *
    * Scale: running sums ride one bin-keyed exchange (parallel across
    * bins), the per-(bin,batch) aggregate reuses it; integer-exact. */
  def bucketedBatching(docs: DataFrame): DataFrame = {
    val byBin = Window.partitionBy("bin").orderBy("key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.filter(col("n_chars") > 0)
      .select(col("doc_id"),
        (length(expr("bin(n_chars)")) - 1).cast("long").as("bin"),
        size(Text.tokens).cast("long").as("nt"),
        expr(lcgKeySql("doc_id", BatchSeed)).as("key"))
      .withColumn("before", coalesce(sum("nt").over(byBin), lit(0L)))
      .withColumn("batch", expr(s"before div $BatchTokens"))
      .groupBy("bin", "batch")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("tokens"),
        (count(lit(1)) * max("nt") - sum("nt")).as("pad_waste"))
      .orderBy("bin", "batch")
  }

  val bucketedBatchingSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, length(bin(n_chars)) - 1 AS bin,
       |    CAST(len(${Text.duckTokens}) AS BIGINT) AS nt,
       |    ${lcgKeySql("doc_id", BatchSeed)} AS key
       |  FROM documents WHERE n_chars > 0),
       |c AS (
       |  SELECT doc_id, bin, nt,
       |    COALESCE(SUM(nt) OVER (PARTITION BY bin ORDER BY key, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM d),
       |b AS (SELECT bin, before // $BatchTokens AS batch, doc_id, nt FROM c)
       |SELECT bin, CAST(batch AS BIGINT) AS batch, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens,
       |  CAST(count(*) * max(nt) - sum(nt) AS BIGINT) AS pad_waste
       |FROM b GROUP BY bin, batch ORDER BY bin, batch""".stripMargin

  // ----------------------------------- split balance audit (q207)
  /** Hashed token-feature buckets for the balance comparison. */
  val BalanceBuckets = 64L

  /** q207: SPLIT BALANCE AUDIT — does q112's hash split actually
    * produce distributionally equivalent train/val/test? A uniform
    * hash guarantees balanced COUNTS; it does not guarantee the val
    * split isn't accidentally topic-skewed (small splits can be, and
    * an imbalanced val set silently mismeasures every ablation run
    * against it). The audit compares each split's hashed token-bucket
    * distribution against the corpus distribution and reports, per
    * split, the max single-bucket deviation and the total-variation
    * distance — both in exact ppm (|a−b| of floor-ppm shares: integer,
    * order-independent, hash-stable; the χ²/KL forms need float logs
    * the contract bans, and TV distance is the standard
    * distribution-free substitute).
    *
    * Scale: one token scan → (split, bucket) counts (≤ 3·64 rows),
    * everything downstream is algebra on that tiny relation. */
  def splitBalance(docs: DataFrame): DataFrame = {
    val toks = splitLabels(docs).select("doc_id", "split")
      .join(Text.words(docs, "w", "doc_id"), "doc_id")
      .withColumn("bkt",
        expr(s"cast(conv(substr(md5(w), 1, 6), 16, 10) as bigint) % $BalanceBuckets"))
    val perSplit = toks.groupBy("split", "bkt").agg(count(lit(1)).as("c"))
    val splitTot = perSplit.groupBy("split").agg(sum("c").as("tot"))
    val global = perSplit.groupBy("bkt").agg(sum("c").as("g"))
    val gTot = global.agg(sum("g").as("gtot"))
    // densified: a bucket the split never hits still deviates by the
    // bucket's whole global share — dropping those rows would
    // understate exactly the skew this audit exists to catch
    global.crossJoin(broadcast(splitTot))
      .join(perSplit, Seq("split", "bkt"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(gTot))
      .select(col("split"), col("tot"),
        expr("abs((c * 1000000) div tot - (g * 1000000) div gtot)").as("dev"))
      .groupBy("split")
      .agg(max("tot").as("n_tokens"), max("dev").as("max_dev_ppm"),
        sum("dev").as("tv_ppm"))
      .orderBy("split")
  }

  val splitBalanceSql: String =
    s"""WITH lab AS (
       |  SELECT doc_id,
       |    ${splitCaseSql("doc_id")} AS split
       |  FROM documents),
       |toks AS (
       |  SELECT l.split,
       |    ('0x' || substr(md5(w), 1, 6))::BIGINT % $BalanceBuckets AS bkt
       |  FROM (SELECT doc_id, unnest(${Text.duckTokens}) AS w FROM documents) t
       |  JOIN lab l USING (doc_id) WHERE length(w) > 0),
       |ps AS (SELECT split, bkt, count(*) AS c FROM toks GROUP BY 1, 2),
       |st AS (SELECT split, sum(c) AS tot FROM ps GROUP BY 1),
       |g AS (SELECT bkt, sum(c) AS g FROM ps GROUP BY 1),
       |gt AS (SELECT sum(g) AS gtot FROM g),
       |dev AS (
       |  SELECT st.split, st.tot,
       |    abs((coalesce(ps.c, 0) * 1000000) // st.tot
       |        - (g.g * 1000000) // gt.gtot) AS dev
       |  FROM g CROSS JOIN st
       |  LEFT JOIN ps ON ps.split = st.split AND ps.bkt = g.bkt
       |  CROSS JOIN gt)
       |SELECT split, CAST(max(tot) AS BIGINT) AS n_tokens,
       |  CAST(max(dev) AS BIGINT) AS max_dev_ppm,
       |  CAST(sum(dev) AS BIGINT) AS tv_ppm
       |FROM dev GROUP BY split ORDER BY split""".stripMargin

  // ------------------------------------------------ prefix containment
  /** Minimum leading tokens for containment to count (and the blocking
    * fingerprint width — see the losslessness argument below). */
  val ContainPrefixWords = 8

  /** Prefix-containment dedup: docs whose full (normalized) text is a
    * strict prefix of another doc — the truncated-duplicate family that
    * near-dup sketches often miss (a 10% crawl truncation keeps Jaccard
    * high, but an aggressive cut drops most shingles while the page is
    * still the same content). Only docs with at least
    * [[ContainPrefixWords]] leading tokens participate: shorter docs are
    * too small for containment to be meaningful.
    *
    * Blocking is LOSSLESS by construction: a qualifying pair shares its
    * first [[ContainPrefixWords]] words verbatim (the short side has at
    * least that many, and the long side starts with the short side), so
    * both land in the same md5-prefix bucket — the oracle's unblocked
    * self-join provably emits the same set. Shape: one scan, one
    * shuffle on the 16-byte fingerprint, in-bucket pair expansion (the
    * minhashPairs shape) with the strict-shorter + substring check
    * evaluated where the pair is born; only docs sharing a prefix
    * fingerprint ever carry their text into a bucket list. */
  def prefixContained(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), Text.norm.as("t"))
      .withColumn("ntok", size(split(col("t"), " ")))
      .filter(col("ntok") >= ContainPrefixWords)
      .select(col("doc_id"), col("t"), length(col("t")).as("n"),
        expr(s"md5(cast(array_join(slice(split(t, ' '), 1, $ContainPrefixWords), ' ') as binary))")
          .as("fp"))
      .groupBy("fp")
      .agg(sort_array(collect_list(struct(col("n"), col("doc_id"), col("t"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ds) - 1),
          |  i -> filter(
          |    transform(sequence(i + 1, size(ds)),
          |      j -> named_struct('s', element_at(ds, i), 'l', element_at(ds, j))),
          |    p -> p.s.n < p.l.n AND substring(p.l.t, 1, p.s.n) = p.s.t)))"""
          .stripMargin)).as("p"))
      .select(col("p.s.doc_id").as("short_doc"), col("p.l.doc_id").as("long_doc"),
        col("p.s.n").cast("long").as("short_chars"),
        col("p.l.n").cast("long").as("long_chars"))
      .orderBy("short_doc", "long_doc")
  }

  val prefixContainedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Text.duckNorm} AS t FROM documents
       |  WHERE len(string_split(${Text.duckNorm}, ' ')) >= $ContainPrefixWords)
       |SELECT a.doc_id AS short_doc, b.doc_id AS long_doc,
       |  CAST(length(a.t) AS BIGINT) AS short_chars,
       |  CAST(length(b.t) AS BIGINT) AS long_chars
       |FROM t a JOIN t b
       |  ON length(a.t) < length(b.t)
       | AND substr(b.t, 1, length(a.t)) = a.t
       |ORDER BY short_doc, long_doc""".stripMargin

  // ------------------------------------------------- alignment audit
  /** Multimodal alignment audit: per source, how many docs lack a row in
    * the embeddings table (doc_id ↔ vec_id)? The integrity check every
    * multi-table pipeline runs before training — a failed embedding job
    * shows up here as a nonzero gap, not as silent corpus shrinkage
    * three joins later. One outer join + one aggregation; at scale both
    * sides shuffle by id once (or co-locate for free if the tables are
    * bucketed by id, the layout §2's sources recommend). */
  def alignmentAudit(docs: DataFrame, emb: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(emb.select(col("vec_id").as("doc_id"), lit(1).as("has_emb")),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_emb").isNull, 1L).otherwise(0L))
          .as("n_missing_embedding"))
      .orderBy("source")

  val alignmentAuditSql: String =
    """SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_missing_embedding
      |FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---------------------------------------------- stratified k-sample
  val StratumK = 5

  /** Deterministic k-per-stratum sample: exactly [[StratumK]] docs per
    * source, chosen by content-hash order — the eval-set construction
    * step that needs FIXED per-stratum counts (q35's rate-based cut
    * can't guarantee them). The selector is the same content hash as
    * q35 (md5-prefix poly-hash of the normalized text), so the pick is
    * reproducible across runs, engines and partitionings, and exact
    * dup docs sort adjacently rather than randomly.
    *
    * Shape: the bounded-heap [[graft.functions.TopKByScore]] aggregator
    * again — k-row partials map-side, |sources|·k rows through the
    * shuffle, no window sort of the corpus (q44's argument applied to
    * sampling). */
  def stratifiedSample(docs: DataFrame): DataFrame =
    topByContentHash(docs, StratumK).orderBy("source", "rank")

  /** Per source, the `k` docs of largest [[Text.sparkContentHash]] as
    * (source, rank, doc_id, h), through the bounded-heap aggregator. */
  private def topByContentHash(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    val topk = graft.functions.BoundedTopK.topK(k)
    docs.select(col("source"), col("doc_id"),
        expr(Text.sparkContentHash).cast("double").as("h"))
      .groupBy("source")
      .agg(topk(col("h"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.cos").cast("long").as("h"))
  }

  val stratifiedSampleSql: String =
    s"""WITH scored AS (
       |  SELECT source, doc_id, ${Text.duckContentHash} AS h FROM documents),
       |ranked AS (
       |  SELECT source, doc_id, h,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT source, CAST(rank AS INT) AS rank, doc_id, h
       |FROM ranked WHERE rank <= $StratumK
       |ORDER BY source, rank""".stripMargin

  // ------------------------------------------------------- domain mix
  val MixBudget = 1000L

  /** Temperature-flattened domain mixing — the step that turns per-source
    * token masses into a training slice: source s gets a quota
    * proportional to sqrt(tokens_s) (temperature T = 0.5: big sources
    * are damped, small sources up-weighted — sqrt specifically because
    * IEEE-754 defines it correctly-rounded, so Spark and DuckDB agree
    * bit-for-bit where pow(x, 0.7) would not), and fills the quota with
    * the top-quota docs by content hash — the same deterministic,
    * engine-independent pick as q35/q56.
    *
    * Shape: the quota relation is |sources| rows (one aggregate + one
    * tiny unpartitioned window); the selection reuses the q56 bounded-
    * heap aggregator with k = [[MixBudget]] (every quota is <= the
    * budget by construction), so the corpus is never window-sorted —
    * k-row partials map-side, |sources|*k rows through the shuffle,
    * rank > quota trimmed after the broadcast quota join. */
  def domainMix(docs: DataFrame): DataFrame = {
    val quotas = docs.groupBy("source")
      .agg(sum(size(Text.tokens)).as("src_tokens"))
      .withColumn("w",
        expr("cast(floor(sqrt(cast(src_tokens as double))) as bigint)"))
      .withColumn("quota",
        expr(s"($MixBudget * w) div (sum(w) over ())"))
      .select("source", "quota")
    topByContentHash(docs, MixBudget.toInt).join(broadcast(quotas), "source")
      .filter(col("rank") <= col("quota"))
      .select(col("source"), col("quota"), col("rank"), col("doc_id"))
      .orderBy("source", "rank")
  }

  val domainMixSql: String =
    s"""WITH s AS (
       |  SELECT source, SUM(len(${Text.duckTokens})) AS src_tokens
       |  FROM documents GROUP BY source),
       |w AS (SELECT source,
       |        CAST(floor(sqrt(CAST(src_tokens AS DOUBLE))) AS BIGINT) AS w
       |      FROM s),
       |q AS (SELECT source,
       |        CAST(($MixBudget * w) // (SUM(w) OVER ()) AS BIGINT) AS quota
       |      FROM w),
       |scored AS (SELECT source, doc_id, ${Text.duckContentHash} AS h FROM documents),
       |ranked AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT r.source, q.quota, CAST(r.rank AS INT) AS rank, r.doc_id
       |FROM ranked r JOIN q USING (source)
       |WHERE r.rank <= q.quota
       |ORDER BY source, rank""".stripMargin

  // ----------------------------------------------------- doc stitching
  val StitchTokens = 3

  /** Crawl-continuation detection: doc A's last [[StitchTokens]] tokens
    * equal doc B's first [[StitchTokens]] — the "page 2 starts where
    * page 1 ended" signal used to re-stitch shattered documents before
    * training. A pure hash-join on the boundary key: each doc
    * contributes ONE prefix key and ONE suffix key, so the match is one
    * equi-join over 2n short rows — never a similarity scan. */
  def docStitches(docs: DataFrame): DataFrame = {
    val k = StitchTokens
    val t = docs
      .select(col("doc_id"), Text.tokens.as("toks"))
      .filter(size(col("toks")) >= k)
    val pre = t.select(col("doc_id").as("b_doc"),
      array_join(expr(s"slice(toks, 1, $k)"), " ").as("boundary"))
    val suf = t.select(col("doc_id").as("a_doc"),
      array_join(expr(s"slice(toks, -$k, $k)"), " ").as("boundary"))
    suf.join(pre, "boundary")
      .filter(col("a_doc") =!= col("b_doc"))
      .select(col("a_doc"), col("b_doc"), col("boundary"))
      .orderBy("a_doc", "b_doc")
  }

  val docStitchesSql: String = {
    val k = StitchTokens
    s"""WITH t AS (SELECT doc_id, ${Text.duckTokens} AS toks
       |           FROM documents WHERE len(${Text.duckTokens}) >= $k),
       |pre AS (SELECT doc_id AS b_doc,
       |          array_to_string(toks[1 : $k], ' ') AS boundary FROM t),
       |suf AS (SELECT doc_id AS a_doc,
       |          array_to_string(toks[len(toks) - ${k - 1} : len(toks)], ' ') AS boundary
       |        FROM t)
       |SELECT a_doc, b_doc, boundary
       |FROM suf JOIN pre USING (boundary)
       |WHERE a_doc <> b_doc
       |ORDER BY a_doc, b_doc""".stripMargin
  }

  // ------------------------------------------- end-to-end pipeline
  /** q105: the curation CHAIN composed end to end and verified as a
    * composition — per-op oracles (q84/q13/q45) prove each stage alone;
    * this gate proves the stages agree about each other. One query runs
    *
    *   input → per-source p25 quality floor (q84 semantics)
    *         → exact dedup, min-id keeper on the normalized-text hash
    *           (q13 semantics), applied to the quality SURVIVORS
    *         → decontamination: drop the eval split itself and every
    *           train doc whose 8-word prefix fingerprint hits the eval
    *           set (q45 semantics — eval fingerprints come from the
    *           ORIGINAL corpus: benchmark membership is not subject to
    *           the quality gate)
    *
    * and reports the per-source funnel (n_input → n_quality → n_dedup →
    * n_final). Stage order matters (dedup-before-decontam keeps a
    * contaminated canonical from resurrecting a clean duplicate) and
    * the oracle pins exactly this order. Scale shape: every stage is a
    * shape already proven at its own gate — histogram walk + broadcast
    * thresholds, hash-groupBy keeper join, broadcast anti-join. */
  def curationPipeline(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"), col("text"),
      size(Text.tokens).cast("long").as("n_tokens"))
    // stage 1: per-source discrete-p25 floor
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_tokens")
    val thresholds = scored.groupBy("source", "n_tokens")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .filter(col("cum") * 4 >= col("n"))
      .groupBy("source").agg(min(col("n_tokens")).as("p25"))
    val quality = scored.join(broadcast(thresholds), "source")
      .filter(col("n_tokens") >= col("p25"))
    // stage 2: exact dedup among survivors (min-id keeper)
    val hashed = quality.withColumn("text_hash",
      Text.normTextHash)
    val keepers = hashed.groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_id"))
    val deduped = hashed.join(keepers, "text_hash")
      .filter(col("doc_id") === col("keep_id"))
    // stage 3: decontamination (eval fps from the ORIGINAL corpus)
    val withFp = deduped.withColumn("fp", expr(Dedup.prefixFpSpark))
    val evalFps = docs.filter(col("doc_id") % Dedup.EvalMod === 0)
      .select(expr(Dedup.prefixFpSpark).as("fp")).distinct()
    val fin = withFp.filter(col("doc_id") % Dedup.EvalMod =!= 0)
      .join(broadcast(evalFps), Seq("fp"), "left_anti")
    // funnel accounting per source
    def cnt(df: DataFrame, name: String) =
      df.groupBy("source").agg(count(lit(1)).as(name))
    cnt(scored.toDF(), "n_input")
      .join(cnt(quality, "n_quality"), Seq("source"), "left")
      .join(cnt(deduped, "n_dedup"), Seq("source"), "left")
      .join(cnt(fin, "n_final"), Seq("source"), "left")
      .select(col("source"),
        col("n_input"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_final"), lit(0L)).as("n_final"))
      .orderBy("source")
  }

  val curationPipelineSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, text,
       |    CAST(len(${Text.duckTokens}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |hist AS (
       |  SELECT source, n_tokens, COUNT(*) AS c FROM scored GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, n_tokens,
       |    SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM hist),
       |thresholds AS (
       |  SELECT source, MIN(n_tokens) AS p25 FROM cum
       |  WHERE cum * 4 >= n GROUP BY source),
       |quality AS (
       |  SELECT s.* FROM scored s JOIN thresholds t ON t.source = s.source
       |  WHERE s.n_tokens >= t.p25),
       |hashed AS (
       |  SELECT *, ${Text.normTextHashSql} AS text_hash
       |  FROM quality),
       |keepers AS (
       |  SELECT text_hash, MIN(doc_id) AS keep_id FROM hashed GROUP BY 1),
       |deduped AS (
       |  SELECT h.* FROM hashed h JOIN keepers k
       |  ON k.text_hash = h.text_hash AND h.doc_id = k.keep_id),
       |evalfp AS (
       |  SELECT DISTINCT ${Dedup.prefixFpDuck} AS fp FROM documents
       |  WHERE doc_id % ${Dedup.EvalMod} = 0),
       |fin AS (
       |  SELECT d.* FROM deduped d
       |  WHERE d.doc_id % ${Dedup.EvalMod} <> 0
       |    AND NOT EXISTS (SELECT 1 FROM evalfp e WHERE e.fp = ${Dedup.prefixFpDuck}))
       |SELECT s.source,
       |  COUNT(*) AS n_input,
       |  CAST(coalesce(q.nq, 0) AS BIGINT) AS n_quality,
       |  CAST(coalesce(dd.nd, 0) AS BIGINT) AS n_dedup,
       |  CAST(coalesce(f.nf, 0) AS BIGINT) AS n_final
       |FROM scored s
       |LEFT JOIN (SELECT source, COUNT(*) AS nq FROM quality GROUP BY 1) q
       |  ON q.source = s.source
       |LEFT JOIN (SELECT source, COUNT(*) AS nd FROM deduped GROUP BY 1) dd
       |  ON dd.source = s.source
       |LEFT JOIN (SELECT source, COUNT(*) AS nf FROM fin GROUP BY 1) f
       |  ON f.source = s.source
       |GROUP BY s.source, q.nq, dd.nd, f.nf
       |ORDER BY s.source""".stripMargin

  // ------------------------------------------ q131 global row numbers
  /** Target bucket count for the distributed global numbering. */
  val RowNumBuckets = 32

  /** q131: GLOBAL DENSE ROW NUMBERING without a single-partition sort —
    * the scale rewrite of `ROW_NUMBER() OVER (ORDER BY source, doc_id)`.
    * Spark plans an unpartitioned window as Exchange(SinglePartition) +
    * sort: every row of the corpus funnels through ONE task, the
    * canonical 100 TB plan-killer (WindowExec even logs a warning). The
    * rewrite assigns identical numbers with nothing global but two
    * TINY relations:
    *
    *  1. per-source stats (count, min/max doc_id) — one |sources|-row
    *     aggregate; each source gets a bucket budget proportional to
    *     its row count and a deterministic doc_id-range sub-bucketing
    *     (pure value arithmetic — unlike repartitionByRange's sampled
    *     boundaries, a row's bucket never depends on which run computed
    *     it, so the two passes below agree without a persist);
    *  2. per-bucket counts → exclusive prefix sums — a window over the
    *     ≤[[RowNumBuckets]]-row bucket relation;
    *  3. the corpus shuffles ONCE on its bucket id, sorts WITHIN each
    *     bucket (row_number partitioned by bucket — parallel), and adds
    *     the broadcast offset: rn = offset(bucket) + local rank.
    *
    * Bucket ids increase with (source, doc_id) by construction, so the
    * composite numbering equals the global sort's. Balance follows the
    * id distribution (ids dense per source ⇒ even buckets); correctness
    * never depends on it. The oracle IS the single-sort window — green
    * means the distributed numbering is indistinguishable. */
  def globalRowNumbers(docs: DataFrame): DataFrame = {
    val p = RowNumBuckets
    val base = docs.select(col("doc_id"), col("source"))
    val total = base.agg(count(lit(1)).as("n_total"))
    // tiny per-source relation: bucket budget + doc_id range
    val srcW = Window.orderBy("source")
      .rowsBetween(Window.unboundedPreceding, -1)
    val srcStats = base.groupBy("source")
      .agg(count(lit(1)).as("n_s"),
           min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .crossJoin(broadcast(total))
      .withColumn("p_s", greatest(lit(1L), expr(s"(n_s * $p) div n_total")))
      .withColumn("bucket_base", coalesce(sum(col("p_s")).over(srcW), lit(0L)))
      .select(col("source"), col("p_s"), col("bucket_base"),
              col("min_id"), col("max_id"))
    // value-deterministic bucket id, monotone in (source, doc_id)
    val bucketed = base.join(broadcast(srcStats), "source")
      .withColumn("gbucket", col("bucket_base") +
        least(col("p_s") - 1,
          expr("((doc_id - min_id) * p_s) div (max_id - min_id + 1)")))
      .select(col("doc_id"), col("source"), col("gbucket"))
    // exclusive prefix sum over the tiny bucket relation
    val bktW = Window.orderBy("gbucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("gbucket").agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(bktW), lit(0L)))
      .select(col("gbucket"), col("below"))
    // one corpus shuffle on gbucket; per-bucket sorts run in parallel
    val rankW = Window.partitionBy("gbucket").orderBy("source", "doc_id")
    bucketed.join(broadcast(offsets), "gbucket")
      .withColumn("rn", col("below") + row_number().over(rankW))
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy("doc_id")
  }

  val globalRowNumbersSql: String =
    """SELECT doc_id, source,
      |  ROW_NUMBER() OVER (ORDER BY source, doc_id) AS rn
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ wiring
  // -------------------------------------- filter attribution (q187)
  /** q187: FILTER-ATTRIBUTION MATRIX — the Venn/ablation report every
    * curation pipeline owner reads before touching a threshold: four
    * INDEPENDENT filter families (q48 Gopher-rule pass, q84 per-source
    * quality gate, q120 classifier verdict, exact-dup canonical — keep
    * iff the doc is its normalized-text group's min id) evaluated per
    * doc and aggregated into the 2⁴ verdict-combination histogram.
    * q105 composes the filters into one funnel (what survives); this
    * answers the DIFFERENT question of who kills what — a filter whose
    * kills are all covered by others is free to remove, one with large
    * unique kills is the one to re-tune, and that distinction is
    * invisible in any sequential funnel count. Each family is one
    * already-gated linear pass; verdict bits join on doc_id (co-keyed,
    * broadcast-free) and only the ≤16-row matrix leaves; the id-sum
    * column pins combination MEMBERSHIP, not just sizes. */
  def filterAttribution(docs: DataFrame): DataFrame = {
    val gopher = filterVerdicts(docs).select(col("doc_id"), col("passed").as("gopher"))
    val gate = graft.ext.TextAnalysis.qualityGate(docs)
      .select(col("doc_id"), col("keep").cast("long").as("gate"))
    val clf = graft.ext.TextAnalysis.classifierScores(docs)
      .select(col("doc_id"), col("keep").as("clf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("text_hash")
    val uniq = docs
      .withColumn("text_hash", Text.normTextHash)
      .select(col("doc_id"),
        when(col("doc_id") === min(col("doc_id")).over(w), 1L).otherwise(0L)
          .as("uniq"))
    gopher.join(gate, "doc_id").join(clf, "doc_id").join(uniq, "doc_id")
      .groupBy("gopher", "gate", "clf", "uniq")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy("gopher", "gate", "clf", "uniq")
  }

  val filterAttributionSql: String =
    s"""WITH gopher AS (SELECT doc_id, passed AS gopher FROM ($filterVerdictsSql)),
       |gate AS (SELECT doc_id, keep AS gate
       |         FROM (${graft.ext.TextAnalysis.qualityGateSql})),
       |clf AS (SELECT doc_id, keep AS clf
       |        FROM (${graft.ext.TextAnalysis.classifierScoresSql})),
       |uniq AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id = MIN(doc_id) OVER (
       |      PARTITION BY ${Text.normTextHashSql})
       |    THEN 1 ELSE 0 END AS uniq
       |  FROM documents)
       |SELECT g.gopher, ga.gate, c.clf, u.uniq,
       |  COUNT(*) AS n_docs, CAST(SUM(g.doc_id) AS BIGINT) AS id_sum
       |FROM gopher g
       |JOIN gate ga ON ga.doc_id = g.doc_id
       |JOIN clf c ON c.doc_id = g.doc_id
       |JOIN uniq u ON u.doc_id = g.doc_id
       |GROUP BY 1, 2, 3, 4
       |ORDER BY 1, 2, 3, 4""".stripMargin

  // --------------------------------------------- corpus datasheet (q189)
  /** q189: CORPUS DATASHEET — the one-relation release summary every
    * dataset ships (datasheets-for-datasets reduced to its quantitative
    * core): volume (docs, sources, languages, chars, tokens, distinct
    * tokens), redundancy (exact-dup groups and redundant docs, near-dup
    * pairs), and the three filter families' keep counts, as one
    * (metric, value) relation. Every number is an already-gated
    * query's aggregate — the datasheet's job is to put them in ONE
    * place with ONE schema a release pipeline can diff across versions
    * (pair it with q134/q185 and "what changed in this release" is a
    * two-row join). Exactness notes ride the design: distinct_tokens
    * is exact countDistinct here and becomes the q118 HLL register
    * estimate at 100 TB (the datasheet consumer reads the same row
    * either way); near_dup_pairs rides q14's capped bucketed join. */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def metric(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), col(df.columns.head).cast("long").as("value"))
    // FUSED PASSES (r15, guide §1.2/§2.4 — remove passes outright): the
    // original shape ran one aggregate subtree per metric, so the
    // documents scan + tokenize ran 6x and the dup-group build 2x. The
    // same twelve (metric, value) rows now come from one pass per
    // SOURCE RELATION: one multi-aggregate over docs (count + two
    // distincts + sum: one Expand-tagged scan instead of four), one
    // over the token groups (groupBy w serves total AND distinct in a
    // single shuffle — sum-of-counts vs row-count), one over the dup
    // groups. The three filter-family subtrees each carry genuinely
    // different per-doc feature pipelines, so they keep their own scans.
    def stackMetrics(agg: DataFrame, names: Seq[String]): DataFrame =
      agg.select(expr(
        s"stack(${names.size}, " +
          names.map(n => s"'$n', cast(`$n` as long)").mkString(", ") +
          ") as (metric, value)"))
    val scalars = stackMetrics(
      docs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars")),
      Seq("n_docs", "n_sources", "n_langs", "total_chars"))
    val tokStats = stackMetrics(
      Text.words(docs, "w")
        .groupBy("w").agg(count(lit(1)).as("c"))
        // coalesce: an empty token relation must yield 0, not NULL —
        // exactly what the pre-fusion count(lit(1)) aggregate returned
        .agg(coalesce(sum(col("c")), lit(0L)).as("total_tokens"),
          count(lit(1)).as("distinct_tokens")),
      Seq("total_tokens", "distinct_tokens"))
    val dupStats = stackMetrics(
      Dedup.exactDedup(docs).agg(
        // coalesce: on an empty corpus this sum is NULL where the
        // pre-fusion count(lit(1)) (and the oracle's COUNT(*)) return 0
        // (round-15 ADVICE). redundant_docs deliberately NOT coalesced:
        // its oracle is SUM(n-1), which IS NULL on the empty edge.
        coalesce(sum(when(col("n_docs") > 1, 1L).otherwise(0L)), lit(0L))
          .as("exact_dup_groups"),
        sum(col("n_docs") - 1).as("exact_dup_redundant_docs")),
      Seq("exact_dup_groups", "exact_dup_redundant_docs"))
    val rows = Seq(scalars, tokStats, dupStats,
      metric("near_dup_pairs",
        Dedup.minhashPairs(docs).agg(count(lit(1)))),
      metric("gopher_pass",
        filterVerdicts(docs).agg(sum(col("passed")))),
      metric("gate_keep",
        graft.ext.TextAnalysis.qualityGate(docs)
          .agg(sum(col("keep").cast("long")))),
      metric("clf_keep",
        graft.ext.TextAnalysis.classifierScores(docs).agg(sum(col("keep")))))
    rows.reduce(_ unionByName _).orderBy("metric")
  }

  val corpusDatasheetSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(${Text.duckTokens}) AS w FROM documents),
       |tk AS (SELECT w FROM tok WHERE length(w) > 0),
       |dup AS (
       |  SELECT ${Text.normTextHashSql} AS h,
       |    COUNT(*) AS n FROM documents GROUP BY 1)
       |SELECT metric, CAST(value AS BIGINT) AS value FROM (
       |  SELECT 'n_docs' AS metric, COUNT(*) AS value FROM documents
       |  UNION ALL SELECT 'n_sources', COUNT(DISTINCT source) FROM documents
       |  UNION ALL SELECT 'n_langs', COUNT(DISTINCT lang) FROM documents
       |  UNION ALL SELECT 'total_chars', SUM(n_chars) FROM documents
       |  UNION ALL SELECT 'total_tokens', COUNT(*) FROM tk
       |  UNION ALL SELECT 'distinct_tokens', COUNT(DISTINCT w) FROM tk
       |  UNION ALL SELECT 'exact_dup_groups', COUNT(*) FROM dup WHERE n > 1
       |  UNION ALL SELECT 'exact_dup_redundant_docs', SUM(n - 1) FROM dup
       |  UNION ALL SELECT 'near_dup_pairs', COUNT(*) FROM (${Dedup.minhashPairsSql})
       |  UNION ALL SELECT 'gopher_pass', SUM(passed) FROM ($filterVerdictsSql)
       |  UNION ALL SELECT 'gate_keep', SUM(keep)
       |    FROM (${graft.ext.TextAnalysis.qualityGateSql})
       |  UNION ALL SELECT 'clf_keep', SUM(keep)
       |    FROM (${graft.ext.TextAnalysis.classifierScoresSql}))
       |ORDER BY metric""".stripMargin

  // ------------------------------------------------ manifest RLE (q233)
  /** q233: SPLIT-MANIFEST RANGE COMPRESSION — the shipping format for
    * q112's manifests: a training loader doesn't want a billion doc_id
    * rows, it wants contiguous [start, end] ranges (two integers per
    * run). Runs are found with the gaps-and-islands identity
    * (doc_id − row_number is constant exactly on a consecutive-id run —
    * q72/q219's trick applied to manifests), and the gate reports the
    * per-(source, split) rollup: range count, doc count, longest run,
    * and the RLE cost in basis points (2 ints per range vs 1 per doc —
    * below 20000 bp the ranges are cheaper than the id list).
    *
    * Scale shape: one scan → split labels (pure arithmetic, no join) →
    * ONE (source, split)-partitioned window → two aggregates riding the
    * window's exchange. Nothing global, nothing corpus-wide resorted. */
  def manifestRle(docs: DataFrame, seed: Long = 777L): DataFrame = {
    val w = Window.partitionBy("source", "split").orderBy("doc_id")
    splitLabels(docs, seed)
      .withColumn("isl", col("doc_id") - row_number().over(w))
      .groupBy("source", "split", "isl")
      .agg(count(lit(1)).as("run"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_ranges"), sum(col("run")).as("n_docs"),
        max(col("run")).as("max_run"))
      .select(col("source"), col("split"), col("n_ranges"), col("n_docs"),
        col("max_run"),
        expr("(10000 * 2 * n_ranges) div n_docs").as("rle_bp"))
      .orderBy("source", "split")
  }

  def manifestRleSql(seed: Long = 777L): String =
    s"""WITH lab AS (
       |  SELECT source, doc_id, ${splitCaseSql("doc_id", seed)} AS split
       |  FROM documents),
       |isl AS (
       |  SELECT source, split, doc_id,
       |    doc_id - ROW_NUMBER() OVER (PARTITION BY source, split
       |      ORDER BY doc_id) AS isl
       |  FROM lab),
       |runs AS (SELECT source, split, COUNT(*) AS run
       |         FROM isl GROUP BY source, split, isl)
       |SELECT source, split, COUNT(*) AS n_ranges,
       |  CAST(SUM(run) AS BIGINT) AS n_docs,
       |  CAST(MAX(run) AS BIGINT) AS max_run,
       |  CAST((10000 * 2 * COUNT(*)) // SUM(run) AS BIGINT) AS rle_bp
       |FROM runs GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  // ---------------------------------------------- conformal gate (q227)
  /** Calibration-split modulus (doc_id % mod = 0 calibrates). */
  val ConformalCalibMod = 5L

  /** Miscoverage level α as a rational: numerator/denominator = 1/10. */
  val ConformalAlphaNum = 1L
  val ConformalAlphaDen = 10L

  /** q227: SPLIT-CONFORMAL QUALITY GATING — turns any scalar quality
    * score into a keep-rule with a DISTRIBUTION-FREE guarantee: fix a
    * miscoverage level α, take the r-th smallest score of a held-out
    * calibration split with r = floor(α·(n+1)), and keep apply-set
    * docs scoring ≥ that threshold. Exchangeability alone gives
    * P(new doc scores below the threshold) ≤ α — but ONLY when
    * floor(α·(n+1)) ≥ 1; with n+1 < 1/α no rank achieves α, so the
    * gate raise_errors (packGuard discipline) instead of silently
    * clamping to rank 1 and shipping 1/(n+1) > α miscoverage. No
    * model of the
    * score distribution, which is exactly what a quality score over a
    * shifting web crawl does not have. This is how a production filter
    * calibrates "keep ~90%" without trusting the scorer's scale.
    *
    * Score = the stopword basis-point signal (q20's prose-likeness
    * column); any integer score slots in. The threshold is an EXACT
    * order statistic taken from the bounded VALUE-COUNTS relation
    * (stopword_bp ∈ [0, 10⁴], so ≤ 10⁴+1 distinct values at ANY corpus
    * size — the q128/q225 shape), never a corpus sort: one calibration
    * aggregate, a constant-size cumsum window, a broadcast 1-row
    * threshold onto the apply scan. Report: per source, apply-set
    * totals, kept counts, and the keep rate in ppm, plus the threshold
    * for audit. */
  def conformalGate(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      expr(s"(10000 * (${Text.sparkStopCount})) div greatest(${Text.sparkTokenCount}, 1)")
        .as("score"))
    val calib = scored.filter(pmod(col("doc_id"), lit(ConformalCalibMod)) === 0)
    val app = scored.filter(pmod(col("doc_id"), lit(ConformalCalibMod)) =!= 0)
    val threshold = OrderStats.boundedOrderStats(calib, "score",
      Seq("t" ->
        (s"if(($ConformalAlphaNum * (n + 1)) div $ConformalAlphaDen < 1, " +
          "raise_error(concat('conformalGate: calibration n = ', " +
          s"cast(n as string), ' is too small for alpha = " +
          s"$ConformalAlphaNum/$ConformalAlphaDen — floor(alpha*(n+1)) = 0, " +
          "realized miscoverage 1/(n+1) > alpha')), " +
          s"($ConformalAlphaNum * (n + 1)) div $ConformalAlphaDen)")))
      // an EMPTY calibration split bypasses the rank guard entirely
      // (SUM over zero value-counts rows is NULL, so the rank
      // expression never evaluates and t comes back NULL) — the same
      // silent degradation, caught at the same loudness
      .select(expr("if(t is null, raise_error(" +
        "'conformalGate: empty calibration split (no doc_id % " +
        s"$ConformalCalibMod = 0 rows)'), t)").as("t"))
    app.crossJoin(broadcast(threshold))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum((col("score") >= col("t")).cast("long")).as("n_kept"),
        min(col("t")).as("threshold_bp"))
      .select(col("source"), col("n_total"), col("n_kept"),
        expr("(1000000 * n_kept) div n_total").as("keep_ppm"),
        col("threshold_bp"))
      .orderBy("source")
  }

  val conformalGateSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    (10000 * (${Text.duckStopCount})) // greatest(len(${Text.duckTokens}), 1) AS score
       |  FROM documents),
       |vc AS (SELECT score, COUNT(*) AS c FROM scored
       |       WHERE doc_id % $ConformalCalibMod = 0 GROUP BY score),
       |n AS (SELECT SUM(c) AS n FROM vc),
       |cum AS (SELECT score,
       |          SUM(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum, n.n
       |        FROM vc CROSS JOIN n),
       |th0 AS (SELECT MIN(CASE WHEN cum >=
       |         (CASE WHEN ($ConformalAlphaNum * (n + 1)) // $ConformalAlphaDen < 1
       |               THEN error('conformalGate: calibration too small for alpha')
       |               ELSE ($ConformalAlphaNum * (n + 1)) // $ConformalAlphaDen END)
       |         THEN score END) AS t FROM cum),
       |th AS (SELECT CASE WHEN t IS NULL
       |         THEN error('conformalGate: empty calibration split')
       |         ELSE t END AS t FROM th0)
       |SELECT source, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN score >= th.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST((1000000 * SUM(CASE WHEN score >= th.t THEN 1 ELSE 0 END)) // COUNT(*)
       |    AS BIGINT) AS keep_ppm,
       |  CAST(MIN(th.t) AS BIGINT) AS threshold_bp
       |FROM scored CROSS JOIN th
       |WHERE doc_id % $ConformalCalibMod <> 0
       |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q227_conformal_gate" -> ((s, d) => conformalGate(Tables.documents(s, d))),
    "q233_manifest_rle" -> ((s, d) => manifestRle(Tables.documents(s, d))),
    "q189_corpus_datasheet" -> ((s, d) => corpusDatasheet(Tables.documents(s, d))),
    "q187_filter_attribution" -> ((s, d) => filterAttribution(Tables.documents(s, d))),
    "q48_filter_verdicts" -> ((s, d) => filterVerdicts(Tables.documents(s, d))),
    "q49_token_rarity" -> ((s, d) => tokenRarity(Tables.documents(s, d))),
    "q50_incremental_dedup" -> ((s, d) => incrementalDedup(Tables.documents(s, d))),
    "q51_shard_plan" -> ((s, d) => shardPlan(Tables.documents(s, d))),
    "q108_packed_spans" -> ((s, d) => packedSpans(Tables.documents(s, d))),
    "q111_corpus_shuffle" -> ((s, d) => corpusShuffle(Tables.documents(s, d))),
    "q112_split_manifest" -> ((s, d) => trainValTestSplit(Tables.documents(s, d))),
    "q124_cluster_split" -> ((s, d) => clusterAwareSplit(Tables.documents(s, d))),
    "q52_canonical_docs" -> ((s, d) => canonicalDocs(Tables.documents(s, d))),
    "q53_bpe_pairs" -> ((s, d) => bpePairs(Tables.documents(s, d))),
    "q113_bpe_encode" -> ((s, d) => bpeEncode(Tables.documents(s, d))),
    "q114_packed_bpe" -> ((s, d) => packedSpansBpe(Tables.documents(s, d))),
    "q54_prefix_contained" -> ((s, d) => prefixContained(Tables.documents(s, d))),
    "q55_alignment_audit" -> ((s, d) =>
      alignmentAudit(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q56_stratified_sample" -> ((s, d) => stratifiedSample(Tables.documents(s, d))),
    "q63_domain_mix" -> ((s, d) => domainMix(Tables.documents(s, d))),
    "q64_doc_stitches" -> ((s, d) => docStitches(Tables.documents(s, d))),
    "q105_curation_pipeline" -> ((s, d) => curationPipeline(Tables.documents(s, d))),
    "q131_global_rownum" -> ((s, d) => globalRowNumbers(Tables.documents(s, d))),
    "q191_interleave" -> ((s, d) => sourceInterleave(Tables.documents(s, d))),
    "q192_greedy_coverage" -> ((s, d) => greedyCoverage(Tables.documents(s, d))),
    "q198_k_anonymity" -> ((s, d) => kAnonymity(Tables.documents(s, d))),
    "q199_source_ablation" -> ((s, d) => sourceAblation(Tables.documents(s, d))),
    "q200_tokenizer_fertility" -> ((s, d) => tokenizerFertility(Tables.documents(s, d))),
    "q201_mask_spans" -> ((s, d) => maskSpans(Tables.documents(s, d))),
    "q203_vocab_growth" -> ((s, d) => vocabGrowth(Tables.documents(s, d))),
    "q204_balanced_eval" -> ((s, d) => balancedEval(Tables.documents(s, d))),
    "q205_bucketed_batching" -> ((s, d) => bucketedBatching(Tables.documents(s, d))),
    "q207_split_balance" -> ((s, d) => splitBalance(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q227_conformal_gate" -> conformalGateSql,
    "q233_manifest_rle" -> manifestRleSql(),
    "q189_corpus_datasheet" -> corpusDatasheetSql,
    "q187_filter_attribution" -> filterAttributionSql,
    "q48_filter_verdicts" -> filterVerdictsSql,
    "q49_token_rarity" -> tokenRaritySql,
    "q50_incremental_dedup" -> incrementalDedupSql,
    "q51_shard_plan" -> shardPlanSql,
    "q108_packed_spans" -> packedSpansSql,
    "q111_corpus_shuffle" -> corpusShuffleSql,
    "q112_split_manifest" -> trainValTestSplitSql,
    "q124_cluster_split" -> clusterAwareSplitSql,
    "q52_canonical_docs" -> canonicalDocsSql,
    "q53_bpe_pairs" -> bpePairsSql,
    "q113_bpe_encode" -> bpeEncodeSql,
    "q114_packed_bpe" -> packedSpansBpeSql,
    "q54_prefix_contained" -> prefixContainedSql,
    "q55_alignment_audit" -> alignmentAuditSql,
    "q56_stratified_sample" -> stratifiedSampleSql,
    "q63_domain_mix" -> domainMixSql,
    "q64_doc_stitches" -> docStitchesSql,
    "q105_curation_pipeline" -> curationPipelineSql,
    "q131_global_rownum" -> globalRowNumbersSql,
    "q191_interleave" -> sourceInterleaveSql,
    "q192_greedy_coverage" -> greedyCoverageSql,
    "q198_k_anonymity" -> kAnonymitySql,
    "q199_source_ablation" -> sourceAblationSql,
    "q200_tokenizer_fertility" -> tokenizerFertilitySql,
    "q201_mask_spans" -> maskSpansSql,
    "q203_vocab_growth" -> vocabGrowthSql,
    "q204_balanced_eval" -> balancedEvalSql,
    "q205_bucketed_batching" -> bucketedBatchingSql,
    "q207_split_balance" -> splitBalanceSql)
}
