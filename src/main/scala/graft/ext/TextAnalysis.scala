package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over `documents`: language id, quality
  * scoring, token counting, fingerprinting (builder brief).
  *
  * Hash-parity approach: all scores are integers (counts, ratios in
  * basis points) so no float ever reaches the driver compare; marker
  * counting uses replace()-length arithmetic, identical in both engines.
  *
  * Scale: every operator is a single projection over the corpus —
  * embarrassingly parallel, no shuffle at all except the optional
  * aggregate; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Language marker words (space-padded to match whole tokens; text is
    * padded with one leading/trailing space first). Heuristic n-gram
    * lang-id in its simplest portable form. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "es" -> Seq(" el ", " la ", " de "),
    "fr" -> Seq(" le ", " la ", " et "),
    "de" -> Seq(" der ", " die ", " und "),
    "zh" -> Seq(" 的 ", " 是 "))

  // ------------------------------------------------------------- lang id
  def langId(docs: DataFrame): DataFrame = {
    val scoreCols = markers.map { case (lang, ws) =>
      expr(ws.map(w => s"(${Text.sparkCount(Text.padded, w)})").mkString(" + "))
        .as(s"score_$lang")
    }
    val scored = docs.select((col("doc_id") +: col("lang") +: scoreCols): _*)
    // argmax with deterministic tie-break = marker declaration order
    val pred = markers.map(_._1).foldRight(lit("und"): Column) {
      case (lang, acc) =>
        when(markers.map(m => col(s"score_$lang") >= col(s"score_${m._1}"))
          .reduce(_ && _) && col(s"score_$lang") > 0, lit(lang)).otherwise(acc)
    }
    scored.withColumn("predicted", pred)
      .select("doc_id", "lang", "predicted")
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    val scores = markers.map { case (lang, ws) =>
      s"(${ws.map(w => s"(${Text.duckCount(Text.padded, w)})").mkString(" + ")}) AS score_$lang"
    }
    // same fold, right-to-left: first lang (in declaration order) whose
    // score is >= all others and > 0 wins; otherwise 'und'
    val pred = markers.map(_._1).foldRight("'und'") { case (lang, acc) =>
      val ge = markers.map(m => s"score_$lang >= score_${m._1}").mkString(" AND ")
      s"CASE WHEN $ge AND score_$lang > 0 THEN '$lang' ELSE $acc END"
    }
    s"""WITH scored AS (
       |  SELECT doc_id, lang, ${scores.mkString(", ")} FROM documents)
       |SELECT doc_id, lang, $pred AS predicted
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ------------------------------ lang-ID confusion matrix (q208)
  /** q208: LANGUAGE-ID CONFUSION MATRIX — q19's heuristic classifier
    * evaluated against the labeled `lang` column: the (label,
    * predicted) count matrix plus each row's share of its label mass
    * in ppm (the diagonal rows ARE per-language recall). This is the
    * eval loop every language-ID deployment runs before trusting the
    * classifier to route curation — q19 produces predictions, this
    * says where they fail and for which languages (the off-diagonal
    * cells name the confusion pairs worth new marker words).
    *
    * Scale: rides the q19 scoring scan; the matrix is a
    * |langs|²-bounded aggregate and the ppm share a window over that
    * tiny relation. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    langId(docs)
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum("n").over(byLang))
      .select(col("lang"), col("predicted"), col("n"),
        expr("(n * 1000000) div row_total").as("row_ppm"))
      .orderBy("lang", "predicted")
  }

  val langIdConfusionSql: String =
    s"""WITH pred AS ($langIdSql)
       |SELECT lang, predicted, count(*) AS n,
       |  CAST((count(*) * 1000000) // (SUM(count(*)) OVER (PARTITION BY lang)) AS BIGINT) AS row_ppm
       |FROM pred GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin

  // ------------------------------------------------------------- quality
  /** Integer quality metrics: char/token counts, punctuation count,
    * stopword basis points, mean word length in centichars. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars_m"),
      size(Text.tokens).as("n_tokens"),
      expr("length(regexp_replace(text, '[A-Za-z0-9 ]', ''))").as("n_punct"),
      expr(s"(10000 * (${Text.sparkStopCount})) div greatest(${Text.sparkTokenCount}, 1)")
        .as("stopword_bp"),
      expr(s"(100 * (length(text) - ${Text.sparkTokenCount} + 1)) div greatest(${Text.sparkTokenCount}, 1)")
        .as("mean_wordlen_c"))
      .orderBy("doc_id")

  val qualitySql: String =
    s"""SELECT doc_id,
       |  length(text) AS n_chars_m,
       |  len(${Text.duckTokens}) AS n_tokens,
       |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
       |  (10000 * (${Text.duckStopCount})) // greatest(len(${Text.duckTokens}), 1) AS stopword_bp,
       |  (100 * (length(text) - len(${Text.duckTokens}) + 1)) // greatest(len(${Text.duckTokens}), 1) AS mean_wordlen_c
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- tokens
  /** Token counting: whitespace tokens + BPE-ish regex tokens (alnum runs
    * and single non-alnum non-space marks). Two spellings of the same
    * regex: Spark SQL string literals treat backslash as an escape
    * (so \s must be doubled); DuckDB's do not. */
  val TokenRegexSpark = "[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]"
  val TokenRegexDuck = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(Text.tokens).as("ws_tokens"),
      expr(s"size(regexp_extract_all(text, '$TokenRegexSpark', 0))").as("re_tokens"),
      expr("length(regexp_replace(text, '[^A-Za-z0-9]', ''))").as("alnum_chars"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    s"""SELECT doc_id,
       |  len(${Text.duckTokens}) AS ws_tokens,
       |  len(regexp_extract_all(text, '$TokenRegexDuck')) AS re_tokens,
       |  length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- fingerprint
  /** Document fingerprints: md5 of the whitespace-normalized lowercase
    * text + a 31-base rolling polynomial hash mod 1e9+7 over the code
    * points. The rolling hash is a custom codegen'd Catalyst expression
    * ([[graft.functions.PolyHash]]) — the SQL-composable per-char substr
    * fold is O(n^2) and benched 40x slower on the sf0.1 corpus. */
  def fingerprints(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      Text.normTextHash.as("md5_fp"),
      expr(s"poly_hash(${Text.sparkNorm}, 31, 1000000007)").as("roll_hash"))
      .orderBy("doc_id")
  }

  val fingerprintsSql: String =
    s"""SELECT doc_id,
       |  ${Text.normTextHashSql} AS md5_fp,
       |  ${Text.duckPolyHash(Text.duckNorm, 31, 1000000007)} AS roll_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- top docs per source
  val TopDocsK = 3

  /** Grouped top-k: the k longest (by whitespace token count) documents
    * of each source — the "best docs per domain" selection step of a
    * curation pipeline. Runs through the bounded-heap
    * [[graft.functions.TopKByScore]] aggregator (k-row partials merged
    * map-side), so per-source state is O(k) and NOTHING sorts the corpus
    * — same shape argument as q17's top-k, applied to a text metric.
    * Ties break on doc_id via the aggregator's total order; the oracle
    * mirrors with (n_tokens DESC, doc_id). */
  def topDocsPerSource(docs: DataFrame): DataFrame = {
    val topk = graft.functions.BoundedTopK.topK(TopDocsK)
    docs.select(col("source"), col("doc_id"),
        size(Text.tokens).cast("double").as("score"))
      .groupBy(col("source"))
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("doc_id"), col("col.cos").cast("long").as("n_tokens"))
      .orderBy("source", "rank")
  }

  val topDocsPerSourceSql: String =
    s"""SELECT source, CAST(rank AS INT) AS rank, doc_id, n_tokens FROM (
       |  SELECT source, doc_id,
       |    CAST(len(${Text.duckTokens}) AS BIGINT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY len(${Text.duckTokens}) DESC, doc_id) AS rank
       |  FROM documents)
       |WHERE rank <= $TopDocsK
       |ORDER BY source, rank""".stripMargin

  // ---------------------------------------------------------- chunking
  val ChunkSize = 64   // tokens per chunk
  val ChunkStride = 48 // 16-token overlap between neighbors

  /** Sliding-window document chunking — the context-window prep step of
    * every RAG / pretraining pipeline: whitespace tokens re-joined into
    * [[ChunkSize]]-token windows every [[ChunkStride]] tokens (so
    * neighbors overlap by size-stride tokens; the final window is
    * whatever remains). Emits (doc_id, chunk_idx, token count, md5 of
    * the chunk text) — the hash stands in for the chunk payload so the
    * gate compares content without hauling every window's full text
    * through the diff.
    *
    * Shape: one scan, one generator projection (explode over the
    * chunk-start sequence), no shuffle but the presentation sort —
    * chunking any corpus is embarrassingly parallel, and the chunk
    * count per doc (~n_tokens/stride) bounds the fan-out. */
  def chunkDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, (size(toks) - 1) div $ChunkStride)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(toks, chunk_idx * $ChunkStride + 1, $ChunkSize)").as("c"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        expr("md5(cast(array_join(c, ' ') as binary))").as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  val chunkDocsSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents),
       |c AS (SELECT doc_id,
       |        unnest(generate_series(0, (len(toks) - 1) // $ChunkStride)) AS chunk_idx,
       |        toks
       |      FROM t)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(len(toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkSize]) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(toks[chunk_idx * $ChunkStride + 1 : chunk_idx * $ChunkStride + $ChunkSize], ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------------------------- vocab
  val VocabTopK = 100

  /** Corpus vocabulary: per-token total frequency + document frequency,
    * top-K by tf — the tokenizer-training / stopword-mining prep step.
    * Top-K over an aggregate plans as TakeOrderedAndProject (per-
    * partition heaps, K rows to the driver — never a global sort), and
    * the (tf, df) aggregation is a single shuffle with map-side
    * partials; at corpus scale this is THE canonical two-phase count.
    * Ties broken on the token text so the cut is deterministic. */
  def vocab(docs: DataFrame): DataFrame =
    Text.words(docs, "token", "doc_id")
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(VocabTopK)

  val vocabSql: String =
    s"""SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest(${Text.duckTokens}) AS token FROM documents)
       |WHERE length(token) > 0
       |GROUP BY token
       |ORDER BY tf DESC, token
       |LIMIT $VocabTopK""".stripMargin

  // ------------------------------------------------------------ sampling
  val SamplePct = 10
  val MinChars = 120
  val MaxStopwordBp = 4000

  /** Quality-gated deterministic sample: the curation step that turns a
    * scored corpus into a training slice. The gate reuses the q20
    * quality signals (length floor, stopword-ratio ceiling); the sample
    * is a DETERMINISTIC hash split — poly_hash(md5 prefix of the
    * normalized text) mod 100 < pct — so the slice is reproducible
    * across runs, engines, and partitionings (rand()-based sampling is
    * none of those). Hashing CONTENT (not doc_id) also means exact
    * duplicates land on the same side of the cut — a well-known
    * train/eval-leak guard. */
  def qualitySample(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    docs.select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= MinChars)
      .filter(expr(s"(10000 * (${Text.sparkStopCount})) div greatest(${Text.sparkTokenCount}, 1)")
        <= MaxStopwordBp)
      .withColumn("bucket_pc", expr(s"${Text.sparkContentHash} % 100"))
      .filter(col("bucket_pc") < SamplePct)
      .select(col("doc_id"), col("bucket_pc"))
      .orderBy("doc_id")
  }

  val qualitySampleSql: String =
    s"""SELECT doc_id, ${Text.duckContentHash} % 100 AS bucket_pc
       |FROM documents
       |WHERE length(text) >= $MinChars
       |  AND (10000 * (${Text.duckStopCount})) // greatest(len(${Text.duckTokens}), 1) <= $MaxStopwordBp
       |  AND ${Text.duckContentHash} % 100 < $SamplePct
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- histogram quantiles
  val QuantileBinWidth = 8
  val QuantilePcts = Seq(25, 50, 90)

  /** Per-source token-length distribution quantiles via a fixed-width
    * HISTOGRAM — the mergeable form of a quantile at corpus scale. Bin
    * counts are associative (partial-aggregated map-side, mergeable
    * across any partitioning — the same property as the MinHash corpus
    * sketch), and the quantile read-off is a tiny cumulative window over
    * |bins| rows per source, not a sort of the corpus. Exact percentiles
    * need a full shuffle-sort per group (q27's shape); histogram
    * quantiles trade bounded resolution ([[QuantileBinWidth]] tokens)
    * for one cheap pass — the standard trade for distribution monitoring
    * over a 100 TB corpus. All-integer semantics (quantile = lower bound
    * of the first bin whose cumulative count reaches ceil(p% of total)),
    * so both engines agree bit for bit. */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    val w = QuantileBinWidth
    val bins = docs
      .select(col("source"), expr(s"${Text.sparkTokenCount} div $w").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
    val totW = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = bins
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("total", sum(col("c")).over(totW))
    val qCols = QuantilePcts.map { p =>
      min(when(col("cum") * 100 >= col("total") * p, col("bin") * w))
        .as(s"p${p}_tokens")
    }
    cum.groupBy("source").agg(qCols.head, qCols.tail: _*).orderBy("source")
  }

  def lengthQuantilesSql: String = {
    val w = QuantileBinWidth
    val qs = QuantilePcts.map { p =>
      s"MIN(CASE WHEN cum * 100 >= total * $p THEN bin * $w END) AS p${p}_tokens"
    }
    s"""WITH bins AS (
       |  SELECT source, len(${Text.duckTokens}) // $w AS bin, COUNT(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT source, bin, c,
       |    SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS total
       |  FROM bins)
       |SELECT source, ${qs.mkString(", ")}
       |FROM cum GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------- exact quantiles
  /** q128's percentile set, in permille (p50/p90/p99). */
  val ExactQuantilePermille = Seq(500, 900, 990)
  /** Bucket width for the first selection pass (n_chars units). */
  val ExactQuantileBucket = 64

  /** q128: EXACT corpus quantiles by two-pass distributed selection —
    * the exact counterpart of q44's mergeable histogram (which trades
    * resolution for a single pass). A global exact percentile naively
    * needs a total sort of the corpus; selection does it with two
    * bounded passes instead:
    *
    *  pass 1 — bucket counts: one scan aggregates `n_chars div W`
    *    counts (associative, map-side combined), a cumulative window
    *    over the TINY bucket relation locates, for each target rank
    *    k = ceil(p·n), the bucket containing it and the LOCAL rank
    *    within that bucket;
    *  pass 2 — a second scan joins against the broadcast target-bucket
    *    table (rows outside a selected bucket drop at the join, BEFORE
    *    any shuffle) and rank-selects within each — the sorted set is
    *    bounded by bucket occupancy, never the corpus. The scan itself
    *    re-reads the column (two-pass selection's defining cost); only
    *    the SORT is pruned, which is the part that doesn't scale.
    *
    * At 100 TB: pass 1 shuffles |buckets| rows, pass 2 shuffles and
    * sorts at most max-bucket-occupancy rows per percentile — selection
    * cost is set by the bucket width knob, independent of corpus size
    * beyond the two linear scans. Rank
    * definition is type-1 (k-th smallest, k = ceil(p·n), ties broken
    * by doc_id) — integer-exact in both engines. */
  def exactQuantiles(docs: DataFrame): DataFrame = {
    val w = ExactQuantileBucket
    val vals = docs.select(col("doc_id"), col("n_chars").as("v"),
      expr(s"n_chars div $w").as("bucket"))
    val counts = vals.groupBy("bucket").agg(count(lit(1)).as("c"))
    // cumulative over the bucket relation: |buckets| rows, single window
    val cumW = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = counts
      .withColumn("below", coalesce(sum(col("c")).over(cumW), lit(0L)))
    val total = vals.agg(count(lit(1)).as("n"))
    val pcts = ExactQuantilePermille
      .map(p => s"($p)").mkString("VALUES ", ", ", "")
    val targets = docs.sparkSession.sql(s"SELECT col1 AS p_permille FROM ($pcts)")
      .crossJoin(broadcast(total))
      .withColumn("k", expr("(p_permille * n + 999) div 1000"))
    // the bucket holding rank k, and k's local rank inside it
    val located = targets.join(broadcast(cum),
        col("below") < col("k") && col("k") <= col("below") + col("c"))
      .select(col("p_permille"), col("bucket").as("t_bucket"),
              (col("k") - col("below")).as("local_rank"))
    // pass 2: only rows in a selected bucket are sorted, per percentile
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("p_permille").orderBy("v", "doc_id")
    vals.join(broadcast(located), col("bucket") === col("t_bucket"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === col("local_rank"))
      .select(col("p_permille").cast("int").as("p_permille"),
              col("v").as("value"))
      .orderBy("p_permille")
  }

  val exactQuantilesSql: String = {
    val pcts = ExactQuantilePermille.map(p => s"($p)").mkString(", ")
    s"""WITH t AS (
       |  SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS c FROM documents),
       |p(p_permille) AS (VALUES $pcts)
       |SELECT CAST(p.p_permille AS INT) AS p_permille, t.n_chars AS value
       |FROM p, n
       |JOIN t ON t.rn = (p.p_permille * n.c + 999) // 1000
       |ORDER BY p_permille""".stripMargin
  }

  // ------------------------------------------- CMS heavy-hitter n-grams
  val HhDepth = 4
  val HhWidth = 8192
  val HhThreshold = 5

  /** Positional trigram relation (doc_id, i, gram) — q202's excision
    * needs the positions. */
  private[ext] def trigramsWithPos(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - 2),
           |  i -> named_struct('i', i, 'gram', ${Text.TriGramSpark}))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.gram").as("gram"))

  /** All word 3-grams of the corpus, one row per occurrence — the
    * gram-only projection of the same [[Text.TriGramSpark]] expression
    * (no struct boxing on the hot q57/q85 scans). */
  private def trigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - 2), i -> ${Text.TriGramSpark})")).as("gram"))

  /** Heavy-hitter 3-grams via a two-pass count-min sketch — boilerplate
    * mining (nav bars, license headers, template sentences) over a
    * corpus whose full n-gram relation is too big to shuffle.
    *
    * Pass 1 folds the whole gram stream into ONE mergeable
    * [[graft.functions.CountMinSketch]] (depth x width longs; map-side
    * partial merge means the shuffle carries one sketch per partition,
    * independent of data size). Pass 2 re-scans, keeps only grams the
    * broadcast sketch estimates at >= [[HhThreshold]] (CMS never
    * under-counts, so no true heavy hitter is lost), and exact-counts
    * just those — the final HAVING removes the sketch's false positives.
    * Result: exactly the true heavy hitters, with the exact-count
    * shuffle reduced from every gram to the candidate slice. At the
    * fixture's vocabulary the prefilter is mild; at a 100 TB crawl with
    * a power-law gram distribution it is the difference between
    * shuffling the corpus and shuffling the tail. */
  def heavyHitterGrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (d, w, t) = (HhDepth, HhWidth, HhThreshold)
    val sketch: Array[Long] = trigrams(docs).select("gram").as[String]
      .select(new graft.functions.CountMinSketch.Agg(d, w).toColumn).head()
    val candidate = udf((g: String) =>
      graft.functions.CountMinSketch.estimate(sketch, g, d, w) >= t)
    trigrams(docs).select("gram")
      .filter(candidate(col("gram")))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= t)
      .orderBy(col("n").desc, col("gram"))
  }

  /** Oracle: the exact heavy hitters (the sketch path must agree). */
  val heavyHitterGramsSql: String =
    s"""WITH t AS (SELECT ${Text.duckTokens} AS toks FROM documents),
       |g AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
       |        i -> ${Text.TriGramDuck})) AS gram
       |      FROM t WHERE len(toks) >= 3)
       |SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
       |HAVING COUNT(*) >= $HhThreshold
       |ORDER BY n DESC, gram""".stripMargin

  // ----------------------------------------------------- novelty score
  /** Per-document novelty: the fraction of a doc's DISTINCT 3-grams that
    * appear nowhere else in the corpus — the inverse of the boilerplate
    * signal (q47 scores repetition WITHIN a doc; this scores originality
    * ACROSS the corpus). Low novelty + not-a-near-dup is the classic
    * "templated page" curation bucket.
    *
    * Shape: distinct (doc, gram) pairs, a gram document-frequency
    * aggregate, and a join back that lands on the key the aggregate just
    * shuffled on — the q16 inverted-index family. Integer basis-points
    * so both engines agree exactly. At 100 TB the df aggregate takes the
    * same hot-shingle cap as q16 (a gram in every doc is boilerplate,
    * not signal — dropping it from the DF JOIN changes df counts only
    * for grams nobody calls novel). */
  def noveltyScores(docs: DataFrame): DataFrame = {
    val g = trigrams(docs).distinct()
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("df"))
    g.join(dfreq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        expr("(10000 * n_unique) div n_grams").as("novelty_e4"))
      .orderBy("doc_id")
  }

  /** Oracle twin of `trigrams(docs).distinct()`: the `t` and `g` CTEs
    * (no leading WITH), `g` being the distinct (doc_id, gram) pairs. */
  private def duckDistinctTrigrams: String =
    s"""t AS (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents),
       |g AS (SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
       |    i -> ${Text.TriGramDuck})) AS gram
       |  FROM t WHERE len(toks) >= 3))""".stripMargin

  val noveltyScoresSql: String =
    s"""WITH $duckDistinctTrigrams,
      |d AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
      |SELECT doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST((10000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS novelty_e4
      |FROM g JOIN d USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- tf-idf top terms
  val TfIdfTopK = 3

  /** Largest score_e6 the Double-keyed term heap ranks EXACTLY: integers
    * above 2^53 lose bits in the Double cast and the ranking could
    * diverge from the oracle's BIGINT order — enforced loudly (the
    * packGuard discipline). tf·(1e6·n_docs div df) crosses this only
    * past ~9e15, i.e. tf·n_docs ≈ 9 billion for a df-1 term. */
  val TfIdfMaxScore = 1L << 53

  /** Per-document top-K terms by integer tf-idf — the keyword-extraction
    * step behind doc routing / topic bucketing in a curation pipeline:
    *
    *   idf_e6(t)      = (1e6 * n_docs) div df(t)
    *   score_e6(d, t) = tf(d, t) * idf_e6(t)
    *
    * (idf as a fixed-point RATIO, not its log — log is monotone over
    * df for fixed tf but not over the tf·idf product, so this is a
    * deliberately declared integer variant, mirrored exactly by the
    * oracle. No float reaches the compare.)
    *
    * Plan: ONE corpus pass — tf = one (doc, token) aggregate, and df
    * rides a count-over-token-partition window of THAT AGGREGATE (the
    * self-join formulation re-explodes and re-aggregates the corpus on
    * the df branch because column pruning breaks exchange reuse —
    * measured 1.6x slower at sf0.1). The window input is the aggregated
    * tf relation, never the raw token stream, and it carries no
    * ordering rank: per-doc top-K selection runs the string-payload
    * bounded heap [[graft.functions.TopTermsByScore]] (k-row partials
    * map-side), so nothing RANKS the (doc, term) relation — q17's shape
    * argument with a text payload. n_docs rides in as a broadcast 1-row
    * cross join. At production scale the alternative is q49's shape
    * (trimmed df vocabulary broadcast onto the tf relation), which
    * trades a second corpus scan for not shuffling tf by token. */
  def tfIdfTopTerms(docs: DataFrame): DataFrame = {
    val tf = Text.words(docs, "token", "doc_id")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val byToken = org.apache.spark.sql.expressions.Window.partitionBy("token")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val topTerms = graft.functions.BoundedTopK.topTerms(TfIdfTopK)
    tf.withColumn("df", count(lit(1)).over(byToken))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        expr("tf * ((1000000 * n_docs) div df)").as("score_raw"))
      .select(col("doc_id"), col("token"),
        when(col("score_raw") > TfIdfMaxScore,
          raise_error(concat(
            lit(s"tfIdfTopTerms: score_e6 exceeds the exact-Double bound $TfIdfMaxScore: "),
            col("score_raw").cast("string"))))
          .otherwise(col("score_raw")).as("score_e6"))
      .groupBy("doc_id")
      .agg(topTerms(col("score_e6").cast("double"), col("token")).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
              col("col.term").as("token"), col("col.score").cast("long").as("score_e6"))
      .orderBy("doc_id", "rank")
  }

  val tfIdfTopTermsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM
       |    (SELECT doc_id, unnest(${Text.duckTokens}) AS token FROM documents)
       |  WHERE length(token) > 0 GROUP BY doc_id, token),
       |d AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token, tf * ((1000000 * n_docs) // df) AS score_e6
       |  FROM tf JOIN d USING (token) CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, token, score_e6,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_e6 DESC, token) AS rank
       |  FROM scored)
       |SELECT doc_id, CAST(rank AS INT) AS rank, token,
       |  CAST(score_e6 AS BIGINT) AS score_e6
       |FROM ranked WHERE rank <= $TfIdfTopK
       |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------------- scrub
  /** PII patterns, backslash-free so one spelling parses identically in
    * Java regex (Spark) and RE2 (DuckDB): email, IPv4-ish digit quads,
    * US-style dashed phone numbers. Greedy-run semantics (no \b word
    * anchors — those differ in spirit across dialects; a scrubber wants
    * the whole run anyway). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    "ipv4"  -> "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+",
    "phone" -> "[0-9][0-9][0-9][-][0-9][0-9][0-9][-][0-9][0-9][0-9][0-9]")

  /** Compliance blocklist terms (entity names to be masked), matched as
    * whole space-delimited tokens via replace-length arithmetic — no
    * regex dialect involved. */
  val BlockTerms: Seq[String] = Seq("customer", "supplier")

  /** PII / blocklist scrubbing — the compliance pass every training
    * corpus takes before anything else sees it: redact PII spans
    * (regex), mask blocklist entity tokens (literal replace), report
    * per-doc counts per category, and fingerprint the scrubbed text so
    * the gate verifies the REDACTED PAYLOAD byte for byte, not just the
    * counts. Scrub order (email, ipv4, phone, then blocklist terms in
    * declaration order) is part of the contract — replacements compose,
    * so order changes bytes.
    *
    * Count semantics — PRE-COMPOSITION, by contract: every category is
    * counted against the ORIGINAL text, then the replacements apply
    * sequentially. Where categories overlap the counts can exceed what
    * the scrubbed payload shows (a blocklist term inside an email is
    * counted once as blocklist but consumed by the email redaction;
    * adjacent occurrences sharing a delimiter half-scrub under the
    * non-overlapping literal replace). Both engines implement the same
    * convention, the md5 gate pins the actual bytes, and a count that
    * OVERSTATES redactions errs on the audit-safe side — a
    * post-composition recount would under-report what was matched.
    *
    * Pure projection over the corpus: scan-speed, no shuffle but the
    * presentation sort — the canonical "one more map stage" cost at
    * 100 TB. On the synthetic fixture the regex categories count zero
    * (no PII in the word-salad corpus — the crafted-corpus spec drives
    * them); the blocklist engages corpus-wide, so the md5 column proves
    * the rewrite path end to end. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = PiiPatterns.map { case (name, re) =>
      expr(s"size(regexp_extract_all(text, '$re', 0))").cast("long").as(s"n_$name")
    } ++ Seq(
      expr(BlockTerms.map(t => s"(${Text.sparkCount(Text.padded, s" $t ")})").mkString(" + "))
        .cast("long").as("n_blocked"))
    val scrubbed = BlockTerms.foldLeft(
      PiiPatterns.foldLeft(Text.padded) { case (acc, (name, re)) =>
        s"regexp_replace($acc, '$re', '<${name.toUpperCase}>')"
      }) { case (acc, t) => s"replace($acc, ' $t ', ' <TERM> ')" }
    docs.select(col("doc_id") +: counts :+
        expr(s"md5(cast($scrubbed as binary))").as("scrub_md5"): _*)
      .orderBy("doc_id")
  }

  val piiScrubSql: String = {
    val counts = PiiPatterns.map { case (name, re) =>
      s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
    } ++ Seq(
      s"CAST(${BlockTerms.map(t => s"(${Text.duckCount(Text.padded, s" $t ")})").mkString(" + ")} AS BIGINT) AS n_blocked")
    val scrubbed = BlockTerms.foldLeft(
      PiiPatterns.foldLeft(Text.padded) { case (acc, (name, re)) =>
        s"regexp_replace($acc, '$re', '<${name.toUpperCase}>', 'g')"
      }) { case (acc, t) => s"replace($acc, ' $t ', ' <TERM> ')" }
    s"""SELECT doc_id, ${counts.mkString(", ")},
       |  md5($scrubbed) AS scrub_md5
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- q84 quality gate
  /** Percentile rank (in quarters) for the per-source quality floor. */
  val GateQuartile = 1 // drop below the 25th percentile

  /** Per-source ADAPTIVE quality floor: keep a doc iff its token count
    * clears its OWN source's 25th percentile — the per-domain analogue
    * of a fixed quality cutoff (web sources differ too much for one
    * global threshold; CCNet/RefinedWeb gate per domain for exactly
    * this reason).
    *
    * The exact discrete quantile is computed WITHOUT sorting the corpus:
    * aggregate to a (source, score) histogram (mergeable counts — one
    * corpus-sized shuffle of tiny rows), run the cumulative walk over
    * that histogram (sources × distinct-scores rows, thousands not
    * billions — the window sort is over the AGGREGATE, the q37 trick),
    * then broadcast the per-source threshold row back over the corpus.
    * Threshold = smallest score with cumulative count ≥ ceil(n/4):
    * at least 25% of the source's docs sit at or below it, and a doc is
    * kept iff score ≥ threshold. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      size(Text.tokens).cast("long").as("n_tokens"))
    val hist = scored.groupBy("source", "n_tokens")
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_tokens")
    val thresholds = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .filter(col("cum") * 4 >= col("n") * GateQuartile)
      .groupBy("source")
      .agg(min(col("n_tokens")).as("p25"))
    scored.join(broadcast(thresholds), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("p25"),
        when(col("n_tokens") >= col("p25"), 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  val qualityGateSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    CAST(len(${Text.duckTokens}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |hist AS (
       |  SELECT source, n_tokens, COUNT(*) AS c
       |  FROM scored GROUP BY source, n_tokens),
       |cum AS (
       |  SELECT source, n_tokens,
       |    SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM hist),
       |thresholds AS (
       |  SELECT source, MIN(n_tokens) AS p25
       |  FROM cum WHERE cum * 4 >= n * $GateQuartile GROUP BY source)
       |SELECT s.doc_id, s.source, s.n_tokens, t.p25,
       |  CASE WHEN s.n_tokens >= t.p25 THEN 1 ELSE 0 END AS keep
       |FROM scored s JOIN thresholds t ON t.source = s.source
       |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------- q85 contamination overlap
  /** Eval split modulus — mirrors [[Dedup.EvalMod]]: doc_id % 10 == 0
    * plays the held-out benchmark. */
  val OverlapEvalMod = 10

  /** N-gram contamination SCORE — the graded refinement of q45's binary
    * prefix-membership check: for every training doc, the fraction of
    * its distinct 3-grams that appear anywhere in the eval split
    * (the standard n-gram-overlap decontamination metric; production
    * uses 8–13-grams, the fixture's short docs use 3). Eval-side grams
    * aggregate to a distinct set FIRST (an eval set is small by
    * definition — this is the side a 100 TB pipeline broadcasts, or
    * Bloom-filters as q45 does); the corpus side is one scan, one
    * equi-join on the gram key, one per-doc count aggregate. Reported
    * in exact basis points. */
  def contaminationOverlap(docs: DataFrame): DataFrame = {
    val g = trigrams(docs)
    val trainGrams = g.filter(col("doc_id") % OverlapEvalMod =!= 0).distinct()
    val evalGrams = g.filter(col("doc_id") % OverlapEvalMod === 0)
      .select("gram").distinct()
      .withColumn("hit", lit(1L))
    trainGrams.join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        expr("(10000 * n_hit) div n_grams").as("overlap_bp"))
      .orderBy("doc_id")
  }

  val contaminationOverlapSql: String =
    s"""WITH $duckDistinctTrigrams,
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % $OverlapEvalMod = 0)
       |SELECT g.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  CAST((10000 * SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END))
       |       // COUNT(*) AS BIGINT) AS overlap_bp
       |FROM g LEFT JOIN ev ON ev.gram = g.gram
       |WHERE g.doc_id % $OverlapEvalMod <> 0
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin

  // --------------------------------- contamination excision (q202)
  /** q202: SURGICAL DECONTAMINATION — q85 measures eval overlap, q45
    * flags contaminated docs; this REPAIRS them: every token position
    * covered by a trigram that also appears in the eval split
    * (q85's doc_id % [[OverlapEvalMod]] rule, one definition) is
    * excised and the cleaned payload fingerprinted — span-level
    * removal instead of doc-level drop, the n-gram excision the
    * decontamination literature prefers when contaminated docs are
    * otherwise valuable (dropping a whole book for one leaked eval
    * paragraph wastes the book). Output per train doc: token count,
    * removed-position count, md5 of the cleaned text — n_removed = 0
    * rows prove clean docs pass through byte-identical.
    *
    * Scale: trigram positions are per-row array arithmetic through the
    * SHARED [[trigramsWithPos]] relation (computed once, lineage cut —
    * both the eval gram set and the hit probe read the checkpoint, not
    * a re-scan); the hit join hashes on the gram key — the eval side
    * is a corpus FRACTION (its distinct grams grow with the corpus),
    * so it is a plain co-partitioned join, not a broadcast; covered
    * positions fold back per doc (collect_set over ≤ 3·hits ints) and
    * the excision itself is one array projection over a second docs
    * scan (it needs the full token arrays). */
  def spanExcision(docs: DataFrame): DataFrame = {
    // lazy checkpoint: the lineage cut happens on first materialization,
    // not at DataFrame construction (an eager cut would run the corpus
    // trigram explode for every plan inspection / dry construction)
    val tri = trigramsWithPos(docs).localCheckpoint(false)
    val evalGrams = tri.filter(col("doc_id") % OverlapEvalMod === 0)
      .select("gram").distinct()
    val cov = tri.filter(col("doc_id") % OverlapEvalMod =!= 0)
      .join(evalGrams, "gram")
      .select(col("doc_id"), explode(expr("array(i, i + 1, i + 2)")).as("p"))
      .groupBy("doc_id").agg(collect_set("p").as("cov"))
    docs.select(col("doc_id"), Text.tokens.as("toks"))
      .where(size(col("toks")) >= 3)
      .filter(col("doc_id") % OverlapEvalMod =!= 0)
      .join(cov, Seq("doc_id"), "left_outer")
      .withColumn("cov", coalesce(col("cov"), expr("cast(array() as array<int>)")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        md5(expr(
          """cast(array_join(transform(
            |  filter(sequence(1, size(toks)), p -> not array_contains(cov, p)),
            |  p -> element_at(toks, p)), ' ') as binary)""".stripMargin))
          .as("clean_md5"))
      .orderBy("doc_id")
  }

  val spanExcisionSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
       |    i -> struct_pack(i := i,
       |      gram := ${Text.TriGramDuck}))) AS u
       |  FROM t WHERE len(toks) >= 3),
       |g AS (SELECT doc_id, u.i AS i, u.gram AS gram FROM tri),
       |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % $OverlapEvalMod = 0),
       |hits AS (SELECT g.doc_id, g.i FROM g JOIN ev USING (gram)
       |         WHERE g.doc_id % $OverlapEvalMod <> 0),
       |cov AS (SELECT doc_id, list_distinct(flatten(list([i, i + 1, i + 2]))) AS cov
       |        FROM hits GROUP BY doc_id),
       |base AS (
       |  SELECT t.doc_id, t.toks, coalesce(cov.cov, []) AS cov
       |  FROM t LEFT JOIN cov USING (doc_id)
       |  WHERE len(t.toks) >= 3 AND t.doc_id % $OverlapEvalMod <> 0)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(cov) AS BIGINT) AS n_removed,
       |  md5(coalesce(array_to_string(list_transform(
       |    list_filter(generate_series(1, len(toks)), p -> NOT list_contains(cov, p)),
       |    p -> toks[p]), ' '), '')) AS clean_md5
       |FROM base ORDER BY doc_id""".stripMargin

  // ------------------------------------- q120 hashed linear classifier
  /** Feature-hash space for the linear quality model (2^12 buckets). */
  val ClassifierBuckets = 4096
  /** Weight range half-width: weights live in [-1000, 1000] permille. */
  val WeightRange = 1000

  /** Model-based quality filtering — the fastText-style linear
    * classifier tier every production curation pipeline runs after the
    * q20/q84 heuristic tiers (the CCNet/LLaMA "quality classifier"
    * stage): score = Σ_tokens count · w(bucket(token)), keep iff
    * score ≥ 0. Vocabulary-free by feature hashing: token → md5 bucket
    * in [0, [[ClassifierBuckets]]), so the MODEL is a fixed 4k-row
    * (bucket, weight) relation — broadcast-sized at any corpus scale,
    * which is the entire point of the hashing trick. The weights here
    * are derived deterministically from the bucket id (a pinned
    * stand-in for trained parameters — what's under test is the scoring
    * plumbing, which is identical under any weight vector; a real
    * deployment swaps in a parquet of trained weights).
    *
    * Shape (the q66 one-corpus-shuffle discipline): the token stream
    * pre-partitions on doc_id ONCE; the (doc_id, bucket) count
    * aggregate and the final per-doc score aggregate both reuse that
    * exchange (clustering on a key subset), and the weight table joins
    * as an explicit broadcast. Integer-exact throughout. */
  def classifierScores(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val weights = broadcast(spark.range(ClassifierBuckets.toLong)
      .select(col("id").as("bucket"),
        (expr("cast(conv(substr(md5(concat('w', cast(id as string))), 1, 6), 16, 10) as bigint)")
          % (2 * WeightRange + 1) - WeightRange).as("weight")))
    val toks = Text.words(docs, "w", "doc_id")
      .repartition(col("doc_id"))
    toks
      .withColumn("bucket",
        expr(s"cast(conv(substr(md5(w), 1, 6), 16, 10) as bigint) % $ClassifierBuckets"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .join(weights, "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("weight")).as("score"))
      .select(col("doc_id"), col("score"),
        when(col("score") >= 0, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** Oracle twin of the [[classifierScores]] model: the `weights`,
    * `toks` and per-(doc, bucket) `counts` CTEs (no leading WITH). */
  private def classifierCtes: String =
    s"""weights AS (
       |  SELECT bucket,
       |    ('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 6))::BIGINT
       |      % ${2 * WeightRange + 1} - $WeightRange AS weight
       |  FROM (SELECT unnest(generate_series(0, ${ClassifierBuckets - 1})) AS bucket)),
       |toks AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(${Text.duckTokens}) AS w FROM documents)
       |  WHERE length(w) > 0),
       |counts AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(w), 1, 6))::BIGINT % $ClassifierBuckets AS bucket,
       |    COUNT(*) AS cnt
       |  FROM toks GROUP BY doc_id, bucket)""".stripMargin

  /** [[classifierCtes]] plus `scored` (doc_id, score). */
  private def classifierScoredCtes: String =
    s"""$classifierCtes,
       |scored AS (
       |  SELECT c.doc_id, CAST(SUM(c.cnt * wt.weight) AS BIGINT) AS score
       |  FROM counts c JOIN weights wt ON wt.bucket = c.bucket
       |  GROUP BY c.doc_id)""".stripMargin

  val classifierScoresSql: String =
    s"""WITH $classifierCtes
       |SELECT c.doc_id, CAST(SUM(c.cnt * wt.weight) AS BIGINT) AS score,
       |  CAST(CASE WHEN SUM(c.cnt * wt.weight) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM counts c JOIN weights wt ON wt.bucket = c.bucket
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------- q130 quality-weighted sampling
  /** Keep-probability shaping: p_bp = clamp(5000 + score/8, 0, 10000). */
  val SampleBaseBp = 5000
  val SampleScoreShift = 3 // score div 8

  /** q130: quality-WEIGHTED Bernoulli sampling — the CCNet-style
    * softening of q120's hard keep/drop: instead of a threshold, each
    * document survives with probability proportional to its classifier
    * score (clamped to [0, 10000] basis points around a 50% base rate).
    * A hard threshold discards the mid-quality mass entirely; the
    * weighted coin keeps a calibrated fraction of it, which is how
    * production corpora trade volume against quality without a cliff.
    *
    * The coin is a HASH, not a RNG: u = md5('smp' ‖ doc_id) mod 10000,
    * so (a) the sample is reproducible run to run, (b) membership is
    * decidable LOCALLY per row — any shard, any partitioning, no
    * coordination, the property a 100 TB sampling pass must have (same
    * contract as q111's seeded shuffle and q46's content-hash sample),
    * and (c) the draw is independent of the score (disjoint hash
    * domains: 'smp'-salted id vs token buckets). Integer-exact end to
    * end; one corpus pass (the q120 scoring plan) plus a stateless
    * filter. */
  def weightedSample(docs: DataFrame): DataFrame =
    classifierScores(docs)
      .withColumn("p_bp",
        greatest(lit(0L), least(lit(10000L),
          lit(SampleBaseBp.toLong) + expr(s"score div ${1 << SampleScoreShift}"))))
      .withColumn("u_bp", expr(
        "cast(conv(substr(md5(concat('smp', cast(doc_id as string))), 1, 6), 16, 10) as bigint) % 10000"))
      .filter(col("u_bp") < col("p_bp"))
      .select(col("doc_id"), col("score"), col("p_bp"), col("u_bp"))
      .orderBy("doc_id")

  val weightedSampleSql: String =
    s"""WITH $classifierScoredCtes,
       |coin AS (
       |  SELECT doc_id, score,
       |    greatest(0, least(10000,
       |      $SampleBaseBp + score // ${1 << SampleScoreShift})) AS p_bp,
       |    ('0x' || substr(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
       |      % 10000 AS u_bp
       |  FROM scored)
       |SELECT doc_id, score, CAST(p_bp AS BIGINT) AS p_bp, u_bp
       |FROM coin WHERE u_bp < p_bp
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- q133 curriculum buckets
  /** Quartile boundaries for the curriculum stages, in permille. */
  val CurriculumPermille = Seq(250, 500, 750)
  /** Score-bucket width (log2) for the threshold selection pass. */
  val CurriculumBucketShift = 6

  /** q133: CURRICULUM SCHEDULE — documents binned into 4 difficulty
    * stages by exact quartiles of the q120 classifier score, reported
    * as the per-(stage, source) manifest a curriculum-learning loader
    * consumes (easy→hard staging by data quality). The naive plan is
    * NTILE over the score order — a single-partition global sort, the
    * same scale-killer q131 rewrites for numbering. Here the quartile
    * THRESHOLDS come from the q128 two-pass selection machinery run on
    * the score distribution (bucket histogram → locate rank → select
    * within one bucket; `shiftright` keeps the bucketing floor-correct
    * on negative scores, which n_chars never hit), the 3-row threshold
    * relation broadcasts, and stage assignment is a stateless per-row
    * compare — no global sort anywhere. Ties sitting exactly on a
    * threshold go to the lower stage (strict >), so membership is
    * value-deterministic under any partitioning. Costs three linear
    * passes over the scored relation (histogram, in-bucket select,
    * stage assignment — the total piggybacks on the histogram, never a
    * fourth pass); a 100 TB run persists the scored relation once and
    * the selection passes touch only the tiny bucket relations. */
  def curriculumBuckets(docs: DataFrame): DataFrame = {
    // persist the scored relation ONCE (r16, guide §1.2 — this is the
    // "persists the scored relation once" the scale note below always
    // claimed): the histogram, the in-bucket threshold select, and the
    // stage assignment are three separate consumers, and without the
    // materialization each replayed the post-exchange half of the q120
    // scoring aggregate (the corpus-mass token groupBy) — exchange
    // reuse only dedups the map side. (doc_id, score) is 16 bytes/row.
    val scored = classifierScores(docs).select(col("doc_id"), col("score"))
      .localCheckpoint(true)
    val vals = scored.select(col("doc_id"), col("score").as("v"),
      shiftright(col("score"), CurriculumBucketShift).as("bucket"))
    // the histogram relation carries BOTH the exclusive prefix sums and
    // the grand total (two windows over the same tiny sorted relation) —
    // unlike q128's separate count, the corpus is never rescanned for n
    val counts = vals.groupBy("bucket").agg(count(lit(1)).as("c"))
    val winBase = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    val cumW = winBase.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val allW = winBase.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cum = counts
      .withColumn("below", coalesce(sum(col("c")).over(cumW), lit(0L)))
      .withColumn("n_total", sum(col("c")).over(allW))
    val pcts = CurriculumPermille.map(p => s"($p)").mkString("VALUES ", ", ", "")
    val pctDf = docs.sparkSession.sql(s"SELECT col1 AS p_permille FROM ($pcts)")
    val k = expr("(p_permille * n_total + 999) div 1000")
    val located = cum.join(broadcast(pctDf),
        col("below") < k && k <= col("below") + col("c"))
      .select(col("p_permille"), col("bucket").as("t_bucket"),
              (k - col("below")).as("local_rank"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("p_permille").orderBy("v", "doc_id")
    val thresholds = vals.join(broadcast(located), col("bucket") === col("t_bucket"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === col("local_rank"))
      .groupBy()
      .agg(max(when(col("p_permille") === 250, col("v"))).as("t25"),
           max(when(col("p_permille") === 500, col("v"))).as("t50"),
           max(when(col("p_permille") === 750, col("v"))).as("t75"))
    scored.join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
      .crossJoin(broadcast(thresholds))
      .withColumn("stage", lit(1L) +
        (col("score") > col("t25")).cast("long") +
        (col("score") > col("t50")).cast("long") +
        (col("score") > col("t75")).cast("long"))
      .groupBy("stage", "source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_chars").as("sum_chars"),
           min("score").as("min_score"),
           max("score").as("max_score"))
      .orderBy("stage", "source")
  }

  val curriculumBucketsSql: String =
    s"""WITH $classifierScoredCtes,
       |n AS (SELECT COUNT(*) AS c FROM scored),
       |ranked AS (
       |  SELECT score, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn
       |  FROM scored),
       |t AS (SELECT
       |  (SELECT r.score FROM ranked r, n WHERE r.rn = (250*n.c+999)//1000) AS t25,
       |  (SELECT r.score FROM ranked r, n WHERE r.rn = (500*n.c+999)//1000) AS t50,
       |  (SELECT r.score FROM ranked r, n WHERE r.rn = (750*n.c+999)//1000) AS t75)
       |SELECT CAST(1 + CASE WHEN s.score > t.t25 THEN 1 ELSE 0 END
       |              + CASE WHEN s.score > t.t50 THEN 1 ELSE 0 END
       |              + CASE WHEN s.score > t.t75 THEN 1 ELSE 0 END AS BIGINT) AS stage,
       |  d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       |  MIN(s.score) AS min_score, MAX(s.score) AS max_score
       |FROM scored s JOIN documents d ON d.doc_id = s.doc_id CROSS JOIN t
       |GROUP BY stage, d.source
       |ORDER BY stage, d.source""".stripMargin

  // ------------------------------------------------------- BM25 retrieval
  /** Query-term count, discovery order: rarest first (df asc, token asc)
    * — one discriminative term plus the common fill, the realistic query
    * mix over this fixture's 31-token vocabulary. */
  val BmQTerms = 5
  /** Result depth of the ranked list. */
  val BmTopDocs = 10
  /** BM25 shape constants as exact rationals: k1 = 12/10, b = 3/4. The
    * all-integer saturation below is algebra on these, not float
    * approximations of them: multiplying numerator and denominator of
    *   tf·(k1+1) / (tf + k1·(1−b + b·len·n_docs/total_len))
    * through by (k1Den·bDen)·total_len clears every fraction. */
  val BmK1Num = 12L; val BmK1Den = 10L; val BmBNum = 3L; val BmBDen = 4L
  /** Coefficient of total_len·tf in the cleared numerator:
    * (k1+1)·k1Den·bDen / k1Den = (k1Num+k1Den)·bDen = 88. */
  val BmNumC: Long = (BmK1Num + BmK1Den) * BmBDen
  /** Coefficient of total_len·tf in the cleared denominator: k1Den·bDen = 40. */
  val BmTfC: Long = BmK1Den * BmBDen
  /** Coefficient of total_len: k1·(1−b)·k1Den·bDen = k1Num·(bDen−bNum) = 12. */
  val BmConstC: Long = BmK1Num * (BmBDen - BmBNum)
  /** Coefficient of len·n_docs: k1·b·k1Den·bDen = k1Num·bNum = 36. */
  val BmLenC: Long = BmK1Num * BmBNum

  /** Largest `total_len * tf` product the saturation numerator
    * (1e6 * 88 * total_len * tf) can carry without Long overflow —
    * enforced loudly (the packGuard discipline). Crossed only past
    * ~105 G token-occurrences-times-tf; at that scale the e6 fixed
    * point must drop to e3, which the guard makes an explicit decision
    * rather than silent wraparound. */
  val BmMaxLenTf: Long = Long.MaxValue / (1000000L * BmNumC)
  /** Largest idf_e6 whose product with the saturation bound (strictly
    * < 2.2e6, since sat < k1 + 1) stays exact in a Long. */
  val BmMaxIdf: Long = Long.MaxValue / 2200000L

  /** q143: BM25 ranked retrieval — the search primitive behind
    * decontamination lookups and quality-example mining over a training
    * corpus. For the discovered query terms, rank documents by
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len_d/avglen))
    *
    * in EXACT integer arithmetic so both engines agree bit-for-bit:
    * idf is the fixed-point RATIO (1e6·(n_docs−df+1)) div (df+1) — the
    * same deliberately-declared log-free variant as q68's tf-idf — and
    * the saturation term is cleared of ALL fractions by multiplying
    * through by 40·total_len (k1 = 12/10, b = 3/4, avglen =
    * total_len/n_docs):
    *
    *   sat_e6 = (1e6·88·total_len·tf)
    *            div (40·total_len·tf + 12·total_len + 36·len_d·n_docs)
    *
    * No float reaches the compare; floor-division order is pinned and
    * mirrored by the oracle.
    *
    * Plan shape (what survives 100 TB): term discovery stands in for
    * the user's query (exactly q137's probe-discovery discipline) and
    * is the only full-vocabulary aggregate; the SCORING path touches
    * (a) one per-doc length aggregate — corpus-wide but one shuffle of
    * (doc_id, count) partials, (b) the tf aggregate of the query-term
    * slice only (the broadcast isin-filter sits directly on the
    * generator output, so non-query tokens never reach the shuffle),
    * and (c) a join of corpus-wide lens against the SMALL tf slice —
    * broadcast on the tf side, so the corpus relation never
    * re-shuffles. Global top-[[BmTopDocs]] is orderBy+limit —
    * TakeOrderedAndProject partial heaps, never a global sort. The
    * rank column is a window over the ALREADY-LIMITED ≤10-row result
    * (single-partition is the point there, not a hazard). */
  /** Query-term discovery shared by the ranking (q143) and its eval
    * (q181) — ONE definition, so the eval can never drift to scoring a
    * different query than the ranking ran (production: user-supplied
    * terms — this pass wouldn't exist). */
  private[graft] def bm25QueryTerms(docs: DataFrame): Seq[(String, Long)] =
    Text.words(docs, "token", "doc_id").select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df"), col("token")).limit(BmQTerms)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The scored-but-uncut BM25 relation (doc_id, score_e6, n_terms) —
    * ONE definition shared by q143's top-K cut and q197's deeper
    * hard-negative mining depth (the q181 no-drifted-copies
    * discipline). */
  private[graft] def bm25ScoredDocs(docs: DataFrame): DataFrame =
    bm25ScoredDocs(docs, bm25QueryTerms(docs))

  /** qterms-threading variant: callers that also need the relevance
    * rule (q181, q197) discover the query ONCE and pass it to both —
    * the discovery is a full-corpus distinct+aggregate+collect, the
    * most expensive part of the whole family. */
  private[graft] def bm25ScoredDocs(docs: DataFrame,
                                    qterms: Seq[(String, Long)]): DataFrame = {
    if (qterms.isEmpty)
      // empty-corpus discovery ⇒ nothing can score (the old inner join
      // against an empty tf side returned the same zero rows)
      return docs.select(col("doc_id")).limit(0)
        .select(col("doc_id"), lit(0L).as("score_e6"), lit(0L).as("n_terms"))
    val t = Text.words(docs, "token", "doc_id")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // ONE corpus pass for lengths AND query-term tfs (r16, guide §2.4):
    // the old shape exploded the corpus twice — once for the per-doc
    // length aggregate, once for the query-term tf slice — and built
    // the tf side as a separate broadcast job. The query is a COLLECTED
    // ≤[[BmQTerms]]-row table, so each term's tf folds into the length
    // aggregate as one conditional sum; the tiny (doc_id, len, tf_i..)
    // partials shuffle once, the per-term rows come back via stack (a
    // generator over the ALREADY-AGGREGATED relation, partitioned by
    // doc_id), and the final per-doc score aggregate reuses that same
    // exchange — no second corpus explode, no tf broadcast build.
    val tfAggs = qterms.zipWithIndex.map { case ((tok, _), i) =>
      sum(when(col("token") === tok, 1L).otherwise(0L)).as(s"tf_$i") }
    val perDoc = t.groupBy("doc_id")
      .agg(count(lit(1)).as("len"), tfAggs: _*)
    val totLen = perDoc.agg(sum(col("len")).as("total_len"))
    val dfOf = array(qterms.map { case (_, df) => lit(df) }: _*)
    val tf = perDoc
      .select(col("doc_id"), col("len"),
        expr(s"stack(${qterms.size}, " +
          qterms.indices.map(i => s"$i, tf_$i").mkString(", ") + ")")
          .as(Seq("qi", "tf")))
      .filter(col("tf") > 0)
      .withColumn("df", element_at(dfOf, col("qi") + 1))
    tf
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(totLen))
      .select(col("doc_id"), col("len"), col("tf"), col("df"),
        col("n_docs"), col("total_len"))
      .select(col("doc_id"),
        expr("(1000000 * (n_docs - df + 1)) div (df + 1)").as("idf_e6"),
        when(col("total_len") * col("tf") > BmMaxLenTf,
          raise_error(concat(lit(s"bm25TopDocs: total_len*tf exceeds the exact-Long bound $BmMaxLenTf: "),
            (col("total_len") * col("tf")).cast("string"))))
          .otherwise(expr(s"(1000000 * $BmNumC * total_len * tf) div " +
            s"($BmTfC * total_len * tf + $BmConstC * total_len + $BmLenC * len * n_docs)"))
          .as("sat_e6"))
      .select(col("doc_id"),
        when(col("idf_e6") > BmMaxIdf,
          raise_error(concat(lit(s"bm25TopDocs: idf_e6 exceeds the exact-Long bound $BmMaxIdf: "),
            col("idf_e6").cast("string"))))
          .otherwise(expr("(idf_e6 * sat_e6) div 1000000")).as("contrib_e6"))
      .groupBy("doc_id")
      .agg(sum(col("contrib_e6")).as("score_e6"), count(lit(1)).as("n_terms"))
  }

  def bm25TopDocs(docs: DataFrame): DataFrame =
    bm25TopDocs(docs, bm25QueryTerms(docs))

  private[graft] def bm25TopDocs(docs: DataFrame,
                                 qterms: Seq[(String, Long)]): DataFrame = {
    val scored = bm25ScoredDocs(docs, qterms)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(BmTopDocs)
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_e6").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("score_e6"))
      .orderBy("rank")
  }

  /** The shared oracle CTE chain ending in `scored(doc_id, score_e6,
    * n_terms)` — ONE definition interpolated by every BM25-family
    * oracle (q143, q181, q195, q197), mirroring the Scala
    * [[bm25ScoredDocs]] sharing so the SQL side can't drift either.
    * Also defines `td`/`q` for the relevance rule below. */
  private val bmScoredCtesSql: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(${Text.duckTokens}) AS token FROM documents),
       |t2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
       |td AS (SELECT DISTINCT doc_id, token FROM t2),
       |d AS (SELECT token, COUNT(*) AS df FROM td GROUP BY token),
       |q AS (SELECT token, df FROM d ORDER BY df, token LIMIT $BmQTerms),
       |len AS (SELECT doc_id, COUNT(*) AS len FROM t2 GROUP BY doc_id),
       |n AS (SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       |             (SELECT SUM(len) FROM len) AS total_len),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf FROM t2
       |  WHERE token IN (SELECT token FROM q)
       |  GROUP BY doc_id, token),
       |scored AS (
       |  SELECT doc_id,
       |    SUM((((1000000 * (n_docs - df + 1)) // (df + 1))
       |         * ((1000000 * $BmNumC * total_len * tf)
       |            // ($BmTfC * total_len * tf + $BmConstC * total_len
       |                + $BmLenC * len * n_docs)))
       |        // 1000000) AS score_e6,
       |    COUNT(*) AS n_terms
       |  FROM tf JOIN q USING (token) JOIN len USING (doc_id) CROSS JOIN n
       |  GROUP BY doc_id)""".stripMargin

  /** The relevance-rule CTE (depends on `td` and `q` from
    * [[bmScoredCtesSql]]) — shared by q181 and q197. A def, not a val:
    * [[RelMinTerms]] is declared later in the object, so a val here
    * would interpolate its pre-init 0 (caught by the verify gate when
    * this was first a val). */
  private def relCteSql: String =
    s"""rel AS (
       |  SELECT doc_id FROM td WHERE token IN (SELECT token FROM q)
       |  GROUP BY doc_id HAVING COUNT(*) >= $RelMinTerms)""".stripMargin

  /** Scored + relevance CTE chain for cross-object oracle composition
    * (q211's cascade lives in Similarity but reuses both rules). */
  private[ext] def bmCascadeCtesSql: String =
    bmScoredCtesSql + ",\n" + relCteSql

  val bm25TopDocsSql: String =
    s"""WITH $bmScoredCtesSql
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS INT) AS rank,
       |  doc_id, CAST(n_terms AS BIGINT) AS n_terms, CAST(score_e6 AS BIGINT) AS score_e6
       |FROM scored ORDER BY score_e6 DESC, doc_id LIMIT $BmTopDocs""".stripMargin

  // --------------------------------------- DSIR-style affinity (q194)
  /** The designated target domain whose distribution defines
    * "importance". */
  val DsirTargetSource = "src0"
  /** Hashed-feature space size (DSIR's hashed n-gram trick: fixed
    * memory regardless of vocabulary). */
  val DsirBuckets = 256L

  /** q194: IMPORTANCE-RESAMPLING AFFINITY (DSIR-style data selection):
    * score every document by how target-like its hashed token-feature
    * distribution is, the Xie et al. recipe for "select generic-corpus
    * docs that look like the high-quality target domain" — here with
    * the target = [[DsirTargetSource]] and unigram features hashed to
    * [[DsirBuckets]] buckets. DSIR's log-likelihood-ratio estimator is
    * float log() — unreproducible across engines — so the score is the
    * exact RATIO surrogate the contract prescribes: each bucket gets
    * rp = ((target_count+1)·1e6) div (corpus_count+1) ∈ [0, 1e6]
    * (add-one smoothed target share), and a doc's affinity_ppm is its
    * token-count-weighted mean — "the expected target-share of this
    * doc's tokens", monotone in the same direction as the LLR for the
    * thresholding this feeds.
    *
    * Scale: ONE (doc, bucket, count) aggregate off the token explode;
    * the two distribution tables derive from THAT relation (never a
    * second corpus scan), collapse to [[DsirBuckets]] rows, and
    * broadcast back — per-doc scoring is a broadcast join + one
    * aggregate. rp ≤ 1e6 by target ⊆ corpus, so sums stay far from
    * Long range at any doc length. */
  def dsirAffinity(docs: DataFrame): DataFrame = {
    val db = Text.words(docs, "w", "doc_id", "source")
      .withColumn("bkt",
        expr(s"cast(conv(substr(md5(w), 1, 6), 16, 10) as bigint) % $DsirBuckets"))
      .groupBy("doc_id", "source", "bkt").agg(count(lit(1)).as("cnt"))
    val tgt = db.filter(col("source") === DsirTargetSource)
      .groupBy("bkt").agg(sum("cnt").as("ct"))
    val alls = db.groupBy("bkt").agg(sum("cnt").as("ca"))
    // loud guard (packGuard discipline): a bucket past ~9.2e12 target
    // occurrences would wrap (ct+1)*1e6 — at that scale shard the
    // distribution counts by time/source first and merge
    val ratio = alls.join(tgt, Seq("bkt"), "left_outer")
      .select(col("bkt"),
        when(coalesce(col("ct"), lit(0L)) >= 9223372036853L,
          raise_error(concat(lit("q194 bucket count exceeds the exact ppm bound: "),
            col("ct").cast("string"))))
        .otherwise(expr("((coalesce(ct, 0) + 1) * 1000000) div (ca + 1)"))
        .as("rp"))
    db.join(broadcast(ratio), "bkt")
      .groupBy("doc_id", "source")
      .agg(sum("cnt").as("n_tokens"), sum(col("cnt") * col("rp")).as("s"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("s div n_tokens").as("affinity_ppm"))
      .orderBy("doc_id")
  }

  val dsirAffinitySql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(${Text.duckTokens}) AS w FROM documents),
       |t2 AS (SELECT doc_id, source, w FROM tok WHERE length(w) > 0),
       |db AS (SELECT doc_id, source,
       |         ('0x' || substr(md5(w), 1, 6))::BIGINT % $DsirBuckets AS bkt,
       |         count(*) AS cnt
       |       FROM t2 GROUP BY 1, 2, 3),
       |tgt AS (SELECT bkt, sum(cnt) AS ct FROM db
       |        WHERE source = '$DsirTargetSource' GROUP BY 1),
       |alls AS (SELECT bkt, sum(cnt) AS ca FROM db GROUP BY 1),
       |r AS (SELECT a.bkt,
       |        ((coalesce(ct, 0) + 1) * 1000000) // (ca + 1) AS rp
       |      FROM alls a LEFT JOIN tgt ON tgt.bkt = a.bkt),
       |ds AS (SELECT d.doc_id, d.source, sum(d.cnt) AS nt, sum(d.cnt * rp) AS s
       |       FROM db d JOIN r ON r.bkt = d.bkt GROUP BY 1, 2)
       |SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tokens,
       |  CAST(s // nt AS BIGINT) AS affinity_ppm
       |FROM ds ORDER BY doc_id""".stripMargin

  // ------------------------------------ reciprocal-rank fusion (q195)
  /** RRF smoothing constant (the standard k=60 from Cormack et al.). */
  val RrfK = 60L

  /** q195: RECIPROCAL-RANK FUSION — the hybrid-retrieval merge every
    * two-signal search stack runs (BM25 lexical + a learned prior,
    * here q143's ranking fused with q120's classifier-quality
    * ranking): each list contributes 1e6 div (k + rank) for its
    * members, absent lists contribute nothing, and the fused order is
    * by summed score. RRF needs no score calibration between lists —
    * only ranks — which is exactly why it is the default fusion when
    * the signals live on incomparable scales (BM25 e6 units vs
    * classifier permille here). Integer floor division keeps it
    * hash-exact; ranks are unique by construction (both lists break
    * ties on doc_id).
    *
    * Scale: both input rankings end in TakeOrdered top-[[BmTopDocs]]
    * cuts, so fusion operates on two K-row relations — the windows and
    * the full-outer join touch at most 2K rows regardless of corpus
    * size; corpus-scale work is the two underlying scoring passes,
    * each already shape-audited (q143, q120). */
  def rankFusion(docs: DataFrame): DataFrame = {
    val tiny = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val a = bm25TopDocs(docs)
      .select(col("doc_id"), col("rank").cast("long").as("rank_bm25"))
    val b = classifierScores(docs).select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id")).limit(BmTopDocs)
      .withColumn("rank_clf", row_number().over(tiny).cast("long"))
      .select("doc_id", "rank_clf")
    val fusedW = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_e6").desc, col("doc_id"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
        coalesce(col("rank_clf"), lit(0L)).as("rank_clf"))
      .withColumn("rrf_e6",
        when(col("rank_bm25") > 0,
          expr(s"1000000 div ($RrfK + rank_bm25)")).otherwise(lit(0L)) +
        when(col("rank_clf") > 0,
          expr(s"1000000 div ($RrfK + rank_clf)")).otherwise(lit(0L)))
      .withColumn("fused_rank", row_number().over(fusedW).cast("int"))
      .select("fused_rank", "doc_id", "rank_bm25", "rank_clf", "rrf_e6")
      .orderBy("fused_rank")
  }

  def rankFusionSql: String =
    s"""WITH $bmScoredCtesSql,
       |bm AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rank_bm25,
       |    doc_id
       |  FROM scored ORDER BY score_e6 DESC, doc_id LIMIT $BmTopDocs),
       |clf AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_clf,
       |    doc_id
       |  FROM ($classifierScoresSql)
       |  ORDER BY score DESC, doc_id LIMIT $BmTopDocs),
       |f AS (
       |  SELECT coalesce(bm.doc_id, clf.doc_id) AS doc_id,
       |    coalesce(rank_bm25, 0) AS rank_bm25,
       |    coalesce(rank_clf, 0) AS rank_clf
       |  FROM bm FULL OUTER JOIN clf ON bm.doc_id = clf.doc_id),
       |s AS (
       |  SELECT doc_id, rank_bm25, rank_clf,
       |    (CASE WHEN rank_bm25 > 0 THEN 1000000 // ($RrfK + rank_bm25) ELSE 0 END
       |     + CASE WHEN rank_clf > 0 THEN 1000000 // ($RrfK + rank_clf) ELSE 0 END) AS rrf_e6
       |  FROM f)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_e6 DESC, doc_id) AS INT) AS fused_rank,
       |  doc_id, rank_bm25, rank_clf, CAST(rrf_e6 AS BIGINT) AS rrf_e6
       |FROM s ORDER BY fused_rank""".stripMargin

  // ------------------------------- token-weighted median length (q196)
  /** q196: TOKEN-WEIGHTED MEDIAN DOCUMENT LENGTH per source — "the
    * median TOKEN lives in a doc of length L", the statistic that
    * actually describes what a model trains on (the doc-weighted
    * median q37 reports is dominated by short docs even when nearly
    * all token mass sits in long ones — the classic mean-vs-exposure
    * confusion in corpus reports). Weighted rank selection, never an
    * average: the first doc (ordered by length, id) whose running
    * token mass reaches half the source total. Exact integers
    * throughout (2·cum >= total avoids any halving division).
    *
    * Shape: ONE source-keyed exchange carries the running sum, the
    * partition total, and the post-filter rank — three windows over
    * the same partitioning, planned without a second shuffle (the q151
    * exchange-reuse discipline); per-source sorts parallel across
    * sources, nothing global. */
  def weightedMedianLength(docs: DataFrame): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cumW = bySrc.orderBy("nt", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val t = docs.select(col("source"), col("doc_id"),
        size(Text.tokens).cast("long").as("nt"))
      .withColumn("cum", sum("nt").over(cumW))
      .withColumn("total", sum("nt").over(bySrc))
      .withColumn("n_docs", count(lit(1)).over(bySrc))
    val crossers = t.filter(col("cum") * 2 >= col("total"))
    val firstW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("nt", "doc_id")
    crossers
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_docs"), col("total").as("total_tokens"),
        col("nt").as("median_len"), col("doc_id").as("median_doc_id"))
      .orderBy("source")
  }

  val weightedMedianLengthSql: String =
    s"""WITH t AS (
      |  SELECT source, doc_id, CAST(len(${Text.duckTokens}) AS BIGINT) AS nt
      |  FROM documents),
      |w AS (
      |  SELECT source, doc_id, nt,
      |    SUM(nt) OVER (PARTITION BY source ORDER BY nt, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(nt) OVER (PARTITION BY source) AS total,
      |    COUNT(*) OVER (PARTITION BY source) AS n_docs
      |  FROM t),
      |c AS (
      |  SELECT source, doc_id, nt, total, n_docs,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rn
      |  FROM w WHERE cum * 2 >= total)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(total AS BIGINT) AS total_tokens,
      |  nt AS median_len, doc_id AS median_doc_id
      |FROM c WHERE rn = 1 ORDER BY source""".stripMargin

  // ---------------------------------------- hard-negative mining (q197)
  /** Mining depth: negatives come from the top of a DEEPER ranking
    * than q143's report cut — the standard "lexically close but not
    * relevant" band retrieval training mines from. */
  val HardNegDepth = 30
  /** Negatives kept per query. */
  val HardNegK = 10

  /** q197: HARD-NEGATIVE MINING — the contrastive-training data op
    * behind every dense-retriever pipeline (DPR/ANCE style): take the
    * query's BM25 ranking to depth [[HardNegDepth]], remove everything
    * the relevance rule marks positive, and keep the [[HardNegK]]
    * highest-ranked survivors — documents the lexical scorer finds
    * MOST similar while the relevance labels say no, exactly the
    * examples that teach an embedding model the difference. Shares the
    * scored relation with q143 ([[bm25ScoredDocs]]) and the relevance
    * rule with q181 ([[relevantDocs]]) — one definition each, so the
    * three queries can never drift apart.
    *
    * Scale: the deep cut is still TakeOrdered (depth rows to the
    * driver-side heap, never a sort); the anti-join runs on the
    * depth-row relation against the broadcast positive set. */
  def hardNegatives(docs: DataFrame): DataFrame = {
    // ONE term-discovery pass feeds the ranking and the exclusion rule
    val qterms = bm25QueryTerms(docs)
    val deepW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id"))
    val deep = bm25ScoredDocs(docs, qterms)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(HardNegDepth)
      .withColumn("bm25_rank", row_number().over(deepW).cast("long"))
    val negW = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25_rank"))
    deep.join(broadcast(relevantDocs(docs, qterms)), Seq("doc_id"), "left_anti")
      .orderBy("bm25_rank").limit(HardNegK)
      .withColumn("neg_rank", row_number().over(negW).cast("int"))
      .select(col("neg_rank"), col("doc_id"), col("bm25_rank"), col("score_e6"))
      .orderBy("neg_rank")
  }

  def hardNegativesSql: String =
    s"""WITH $bmScoredCtesSql,
       |$relCteSql,
       |deep AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS bm25_rank,
       |    doc_id, CAST(score_e6 AS BIGINT) AS score_e6
       |  FROM scored ORDER BY score_e6 DESC, doc_id LIMIT $HardNegDepth),
       |negs AS (
       |  SELECT bm25_rank, doc_id, score_e6 FROM deep
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rel)
       |  ORDER BY bm25_rank LIMIT $HardNegK)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25_rank) AS INT) AS neg_rank,
       |  doc_id, bm25_rank, score_e6
       |FROM negs ORDER BY neg_rank""".stripMargin

  // ------------------------------------------- score calibration (q151)
  /** q151: PER-SOURCE QUANTILE CALIBRATION of the q120 classifier
    * scores — cross-source score comparability, the fix for the
    * classic curation failure where one source's score distribution
    * sits higher than another's and a single global threshold silently
    * empties the low-scoring source (the problem q84's per-source
    * floor patches at the keep/drop level; this repairs the SCORE
    * itself). calib_bp is the integer percent-rank within the doc's
    * source — (10000·(rank−1)) div (n_src−1) — so thresholding
    * calib_bp at any cut keeps the SAME fraction of every source by
    * construction (spec-pinned).
    *
    * Shape: the scored relation joins its source column, then ONE
    * source-keyed exchange carries both windows (ordered row_number
    * and unbounded count share the partitioning — Spark plans them
    * without a second shuffle). Per-source sorts run in parallel;
    * nothing global orders the corpus. */
  def calibratedScores(docs: DataFrame): DataFrame = {
    val scored = classifierScores(docs).select("doc_id", "score")
      .join(docs.select("doc_id", "source"), "doc_id")
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    scored
      .withColumn("rk", row_number().over(bySrc.orderBy(col("score"), col("doc_id"))))
      .withColumn("n_src", count(lit(1)).over(bySrc))
      .select(col("doc_id"), col("source"), col("score"),
        expr("case when n_src = 1 then 0L " +
          "else (10000 * (rk - 1)) div (n_src - 1) end").as("calib_bp"))
      .orderBy("doc_id")
  }

  val calibratedScoresSql: String =
    s"""WITH cs AS (SELECT * FROM ($classifierScoresSql)),
       |j AS (SELECT cs.doc_id, d.source, cs.score
       |      FROM cs JOIN documents d USING (doc_id)),
       |r AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY source) AS n_src
       |  FROM j)
       |SELECT doc_id, source, CAST(score AS BIGINT) AS score,
       |  CAST(CASE WHEN n_src = 1 THEN 0
       |       ELSE (10000 * (rk - 1)) // (n_src - 1) END AS BIGINT) AS calib_bp
       |FROM r ORDER BY doc_id""".stripMargin

  // --------------------------------------------- pareto frontier (q163)
  /** q163: PARETO FRONTIER over (classifier score ↑, length ↓) — the
    * multi-objective selection behind "best quality per token budget"
    * curation: a doc survives iff NO other doc is at least as good on
    * both axes and strictly better on one. The naive dominance check is
    * an O(n²) self-join; the 2-D skyline needs ONE SORT: order by
    * (score DESC, n_chars ASC) and a doc is dominated exactly when some
    * earlier row (better-or-equal score, ties broken to shorter) has
    * n_chars ≤ its own — a running-min window over the sorted relation.
    * An unpartitioned window would run that sort in ONE task, so the
    * skyline runs TWO-PHASE on the algebra skylines obey — the global
    * frontier is a subset of the union of per-subset frontiers for ANY
    * disjoint split: phase 1 computes local frontiers inside
    * deterministic doc_id-mod buckets (parallel per-bucket sorts in one
    * exchange), phase 2 re-runs the same filter over the tiny survivor
    * union, where single-partition is the point, not a hazard. Tie rows
    * (equal score AND equal length) all survive together — the tracked
    * running min of (n_chars, −score) makes the dominance test strict. */
  val ParetoBuckets = 16

  private def frontierFilter(scored: DataFrame,
                             bucketed: Boolean): DataFrame = {
    val base = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("n_chars"), col("doc_id"))
    val w0 = if (bucketed)
      org.apache.spark.sql.expressions.Window.partitionBy("bucket")
        .orderBy(col("score").desc, col("n_chars"), col("doc_id"))
    else base
    val w = w0.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    scored
      // running lexicographic min of (n_chars, -score) over STRICTLY
      // preceding rows: the shortest earlier doc, best score on ties
      .withColumn("bp", min(struct(col("n_chars"),
        (-col("score")).as("neg"))).over(w))
      .filter(col("bp").isNull ||
        col("n_chars") < col("bp.n_chars") ||
        (col("n_chars") === col("bp.n_chars") &&
          col("score") >= -col("bp.neg")))
      .drop("bp")
  }

  def paretoFrontier(docs: DataFrame): DataFrame = {
    val scored = classifierScores(docs).select("doc_id", "score")
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .withColumn("bucket", pmod(col("doc_id"), lit(ParetoBuckets)))
    val local = frontierFilter(scored, bucketed = true)
    frontierFilter(local, bucketed = false)
      .select(col("doc_id"), col("score"), col("n_chars"))
      .orderBy("doc_id")
  }

  val paretoFrontierSql: String =
    s"""WITH cs AS (SELECT * FROM ($classifierScoresSql)),
       |j AS (SELECT cs.doc_id, cs.score, d.n_chars
       |      FROM cs JOIN documents d USING (doc_id))
       |SELECT doc_id, CAST(score AS BIGINT) AS score,
       |  CAST(n_chars AS BIGINT) AS n_chars
       |FROM j a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM j b
       |  WHERE b.score >= a.score AND b.n_chars <= a.n_chars
       |    AND (b.score > a.score OR b.n_chars < a.n_chars))
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ wiring
  // --------------------------------------------- char diversity (q169)
  /** Largest doc (code points) the exact div_e6 arithmetic admits:
    * 1e6·n² must stay in i64 ⇒ n ≤ 3.0e6; enforced loudly (packGuard
    * discipline), never silent wrap. */
  val SimpsonMaxCp = 3000000L

  /** q169: CHARACTER-DIVERSITY SCORE per document — the Gini–Simpson
    * index over the code-point histogram, the exact-integer stand-in
    * for character entropy (log never hash-matches across engines; the
    * Simpson collision probability Σc²/n² orders low-diversity docs the
    * same way): div_e6 = ⌊1e6·(n² − Σc²)/n²⌋. Near-zero means "one
    * character repeated" (progress bars, ASCII art, padding floods —
    * the degenerate-text class q20's punctuation ratios and q47's
    * 3-gram repetition both miss when the junk is SUB-token), high
    * means a flat histogram. The histogram moments come from ONE pass
    * of the [[graft.functions.CharSimpson]] codegen expression — the
    * relational form explodes one row per CHARACTER (a ~500× corpus
    * blow-up through a generator + shuffle, which is exactly what the
    * oracle does at fixture scale and what nobody can afford at
    * 100 TB); here the per-doc fold stays inside whole-stage codegen
    * and nothing but (doc_id, 2 longs) leaves the scan. */
  def charDiversity(docs: DataFrame): DataFrame = {
    graft.functions.CharSimpson.register(docs.sparkSession)
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), expr("char_simpson(text)").as("cs"))
      .select(col("doc_id"),
        when(col("cs").getItem(0) > SimpsonMaxCp,
          raise_error(concat(lit(s"char_simpson exact bound [0, $SimpsonMaxCp] exceeded: "),
            col("cs").getItem(0).cast("string"))))
          .otherwise(col("cs").getItem(0)).as("n_cp"),
        col("cs").getItem(1).as("simpson_num"))
      .withColumn("div_e6",
        expr("(1000000 * (n_cp * n_cp - simpson_num)) div (n_cp * n_cp)"))
      .orderBy("doc_id")
  }

  /** Oracle: the explode-per-character relational form of the same
    * moments (fixture-affordable, scale-prohibitive). */
  val charDiversitySql: String =
    """WITH c AS (
      |  SELECT doc_id, COUNT(*) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split(text, '')) AS ch
      |    FROM documents WHERE length(text) > 0)
      |  GROUP BY doc_id, ch),
      |s AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_cp,
      |    CAST(SUM(cnt * cnt) AS BIGINT) AS simpson_num
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n_cp, simpson_num,
      |  CAST((1000000 * (n_cp * n_cp - simpson_num)) // (n_cp * n_cp) AS BIGINT) AS div_e6
      |FROM s ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- MAD outliers (q173)
  /** Robust-z flag threshold, basis points of MAD (3.5 MAD ≈ the classic
    * robust-outlier cut). */
  val MadZThreshBp = 35000L

  /** q173: ROBUST OUTLIER DETECTION per source — median + MAD (median
    * absolute deviation) over the q120 classifier scores. The mean/σ
    * z-score is itself corrupted by the outliers it hunts (one crawl
    * batch of spam drags the mean toward itself — masking); the
    * median/MAD pair has a 50% breakdown point, which is why data-
    * quality monitors flag on robust z. Everything stays integer-exact:
    * BOTH medians are the lower median picked by rank selection
    * (row_number = (n+1) div 2 — never DuckDB/Spark's averaged even-n
    * median, which would put a .5 in the hash), z_bp = 10000·|x−med|
    * div MAD on non-negative integers only (no floor-vs-truncate
    * divergence), MAD = 0 → sentinel −1 (a source where half the docs
    * share the median score has no robust scale; flagging there is
    * meaningless and loudly visible). Shape: q151's one-exchange
    * discipline twice — rank selection and the deviation re-rank each
    * ride a source-keyed window (per-source sorts in parallel), medians
    * broadcast back; per-source output hash-pins the flagged doc SET
    * via count + doc_id sum. */
  def madOutliers(docs: DataFrame): DataFrame = {
    // persisted once (r16): the median subtree, the deviation pass and
    // the final rollup are three consumers — without this the q120
    // scoring aggregate's reduce side replayed per consumer (the q133
    // fix, same shape; 24 bytes/row)
    val scores = classifierScores(docs).select(col("doc_id"), col("score"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .localCheckpoint(true)
    val nW = Window.partitionBy("source")
    val rankW = Window.partitionBy("source").orderBy("score", "doc_id")
    val med = scores.withColumn("rn", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(nW))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("source"), col("score").as("med"))
    val dev = scores.join(broadcast(med), "source")
      .withColumn("adev", abs(col("score") - col("med")))
    val devW = Window.partitionBy("source").orderBy("adev", "doc_id")
    val mad = dev.withColumn("rn", row_number().over(devW))
      .withColumn("n", count(lit(1)).over(nW))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("source"), col("adev").as("mad"))
    dev.join(broadcast(mad), "source")
      .withColumn("z_bp",
        when(col("mad") === 0, lit(-1L))
          .otherwise(expr("(10000 * adev) div mad")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("median_score"),
        max(col("mad")).as("mad"),
        sum(when(col("z_bp") > MadZThreshBp, 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("z_bp") > MadZThreshBp, col("doc_id")).otherwise(0L))
          .as("outlier_id_sum"))
      .orderBy("source")
  }

  val madOutliersSql: String =
    s"""WITH sc AS (SELECT doc_id, score FROM ($classifierScoresSql)),
       |s AS (
       |  SELECT d.source, sc.doc_id, sc.score
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |med AS (
       |  SELECT source, score AS med FROM (
       |    SELECT source, score, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn,
       |      COUNT(*) OVER (PARTITION BY source) AS n
       |    FROM s)
       |  WHERE rn = (n + 1) // 2),
       |dev AS (
       |  SELECT s.source, s.doc_id, abs(s.score - m.med) AS adev, m.med
       |  FROM s JOIN med m ON m.source = s.source),
       |mad AS (
       |  SELECT source, adev AS mad FROM (
       |    SELECT source, adev, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY adev, doc_id) AS rn,
       |      COUNT(*) OVER (PARTITION BY source) AS n
       |    FROM dev)
       |  WHERE rn = (n + 1) // 2),
       |z AS (
       |  SELECT d.source, d.doc_id, d.med, md.mad,
       |    CASE WHEN md.mad = 0 THEN -1
       |         ELSE (10000 * d.adev) // md.mad END AS z_bp
       |  FROM dev d JOIN mad md ON md.source = d.source)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(MAX(med) AS BIGINT) AS median_score,
       |  CAST(MAX(mad) AS BIGINT) AS mad,
       |  CAST(SUM(CASE WHEN z_bp > $MadZThreshBp THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  CAST(SUM(CASE WHEN z_bp > $MadZThreshBp THEN doc_id ELSE 0 END) AS BIGINT)
       |    AS outlier_id_sum
       |FROM z GROUP BY source
       |ORDER BY source""".stripMargin

  // --------------------------------------- co-occurrence lift (q176)
  /** Document-frequency support floor in basis points: only tokens in
    * ≥ 70% of docs enter pair generation (the a-priori downward-closure
    * prune — a pair can't clear a support bar its members miss). */
  val CooccurSupportBp = 7000L

  /** q176: TOKEN CO-OCCURRENCE LIFT (basket analysis over documents) —
    * which tokens appear in the SAME DOCUMENTS more than independence
    * predicts: lift_e6 = 1e6·n·df_xy div (df_x·df_y). The structural
    * complement of q67's collocations: those score ADJACENT pairs
    * (syntax); this scores any-distance document co-membership (topic
    * coupling — the signal behind "these crawl templates always travel
    * together" and topical-cluster discovery). The naive pair space is
    * |vocab|² and the per-doc pair explosion is Σ|doc vocab|²; the
    * a-priori prune makes both tractable — frequent singletons first
    * (one df aggregate), pair generation restricted to the ≤F frequent
    * tokens via a broadcast semi-join, so the self-join per doc is
    * bounded by F²/2 rows per doc with F a support-controlled constant
    * (30 on the fixture), not vocabulary-sized. All counts distinct-
    * (doc, token) based, so every number is an exact integer and
    * lift's rational form hash-matches. */
  /** Loud bound on the q176 lift numerator (packGuard discipline, the
    * q199 pattern): df_xy*n_docs past ~9.2e12 would silently wrap the
    * 1e6-scaled lift in Spark (DuckDB errors natively); at that corpus
    * scale shard the pair counts first. */
  val LiftE6Bound = 9223372036854L

  def cooccurrenceLift(docs: DataFrame): DataFrame = {
    val dt = Text.words(docs, "w", "doc_id")
      .distinct()
    val total = dt.select(countDistinct(col("doc_id")).as("n_docs"))
    val df0 = dt.groupBy("w").agg(count(lit(1)).as("df"))
    val freq = broadcast(df0.crossJoin(broadcast(total))
      .filter(col("df") * 10000 >= lit(CooccurSupportBp) * col("n_docs"))
      .select(col("w"), col("df")))
    val ft = dt.join(freq, "w")
    val pairs = ft.select(col("doc_id"), col("w").as("x"), col("df").as("df_x"))
      .join(ft.select(col("doc_id"), col("w").as("y"), col("df").as("df_y")),
        Seq("doc_id"))
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(max("df_x").as("df_x"), max("df_y").as("df_y"),
        count(lit(1)).as("df_xy"))
    pairs.crossJoin(broadcast(total))
      .withColumn("xy_n",
        when(col("df_xy") * col("n_docs") > LiftE6Bound,
          raise_error(concat(
            lit(s"q176 df_xy*n_docs exceeds the exact ppm bound $LiftE6Bound: "),
            (col("df_xy") * col("n_docs")).cast("string"))))
          .otherwise(col("df_xy") * col("n_docs")))
      .select(col("x"), col("y"), col("df_x"), col("df_y"), col("df_xy"),
        expr("(1000000 * xy_n) div (df_x * df_y)").as("lift_e6"))
      .orderBy("x", "y")
  }

  val cooccurrenceLiftSql: String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(${Text.duckTokens}) AS w FROM documents)
       |  WHERE length(w) > 0),
       |total AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM dt),
       |df0 AS (SELECT w, COUNT(*) AS df FROM dt GROUP BY w),
       |freq AS (
       |  SELECT w, df FROM df0, total
       |  WHERE df * 10000 >= $CooccurSupportBp * n_docs),
       |ft AS (SELECT dt.doc_id, dt.w, f.df FROM dt JOIN freq f ON f.w = dt.w),
       |pairs AS (
       |  SELECT a.w AS x, b.w AS y, MAX(a.df) AS df_x, MAX(b.df) AS df_y,
       |    COUNT(*) AS df_xy
       |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY a.w, b.w)
       |SELECT x, y, df_x, df_y, df_xy,
       |  CAST((1000000 * (CASE WHEN df_xy * n_docs > $LiftE6Bound
       |    THEN CAST(error('q176 df_xy*n_docs exceeds the exact ppm bound') AS BIGINT)
       |    ELSE df_xy * n_docs END)) // (df_x * df_y) AS BIGINT) AS lift_e6
       |FROM pairs, total
       |ORDER BY x, y""".stripMargin

  // ------------------------------------------- retrieval eval (q181)
  /** A doc is RELEVANT iff it contains at least this many of the
    * [[BmQTerms]] query terms — a pinned conjunctive-ish judgment
    * standing in for human labels. */
  val RelMinTerms = 4

  /** q181: RETRIEVAL-QUALITY EVALUATION of the q143 BM25 ranking —
    * precision/recall@k and MRR against a deterministic relevance rule
    * (≥ [[RelMinTerms]] of the query terms present). A retrieval
    * component without an eval harness is unfalsifiable; this is the
    * nightly metrics job that catches a scoring regression before it
    * reaches decontamination or example mining. Metric choice is
    * exactness-driven: MRR and precision are exact rationals (1e6 div
    * rank, bp counts) — nDCG's log2 discount would put engine-specific
    * floats in the hash, so the pinned metric set is the integer one
    * (the q161/q174 lesson applied to IR metrics). Scale: relevance
    * labels ride the SAME distinct-(doc, term) relation BM25 already
    * builds (one broadcast semi-join + per-doc count ≥ threshold);
    * metrics aggregate a k-row ranking against a label relation —
    * nothing corpus-sized moves. */
  /** The relevance rule (docs matching >= [[RelMinTerms]] distinct
    * query terms) — ONE definition shared by q181's eval and q197's
    * hard-negative exclusion (the no-drifted-copies discipline: a
    * drifted copy would let a positive leak into the negatives with
    * every gate green). */
  private[graft] def relevantDocs(docs: DataFrame): DataFrame =
    relevantDocs(docs, bm25QueryTerms(docs))

  private[graft] def relevantDocs(docs: DataFrame,
                                  qterms: Seq[(String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qdf = qterms.toDF("token", "df").select("token")
    Text.words(docs, "token", "doc_id").select("doc_id", "token").distinct()
      .join(broadcast(qdf), "token")
      .groupBy("doc_id").agg(count(lit(1)).as("n_match"))
      .filter(col("n_match") >= RelMinTerms)
      .select("doc_id")
  }

  def retrievalEval(docs: DataFrame): DataFrame = {
    // ONE term-discovery pass feeds both the ranking and the labels
    val qterms = bm25QueryTerms(docs)
    val rel = relevantDocs(docs, qterms).select(col("doc_id"), lit(1L).as("rel"))
    val ranked = bm25TopDocs(docs, qterms).select("rank", "doc_id")
    val hits = ranked.join(rel, Seq("doc_id"), "left")
      .select(col("rank"), coalesce(col("rel"), lit(0L)).as("rel"))
    val nRel = rel.agg(count(lit(1)).as("n_rel"))
    hits.agg(
        count(lit(1)).as("n_ret"),
        sum(col("rel")).as("n_rel_ret"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel_rank"))
      .crossJoin(broadcast(nRel))
      .select(col("n_rel"), col("n_ret"), col("n_rel_ret"),
        expr("(10000 * n_rel_ret) div n_ret").as("prec_bp"),
        expr("case when n_rel = 0 then 0L else (10000 * n_rel_ret) div n_rel end")
          .as("recall_bp"),
        expr("case when first_rel_rank is null then 0L " +
          "else 1000000 div first_rel_rank end").as("mrr_e6"))
  }

  val retrievalEvalSql: String =
    s"""WITH $bmScoredCtesSql,
       |$relCteSql,
       |ranked AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS INT) AS rank,
       |    doc_id
       |  FROM scored ORDER BY score_e6 DESC, doc_id LIMIT $BmTopDocs),
       |hits AS (
       |  SELECT r.rank,
       |    CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM ranked r LEFT JOIN rel ON rel.doc_id = r.doc_id),
       |agg AS (
       |  SELECT COUNT(*) AS n_ret, SUM(rel) AS n_rel_ret,
       |    MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank
       |  FROM hits),
       |nr AS (SELECT COUNT(*) AS n_rel FROM rel)
       |SELECT CAST(n_rel AS BIGINT) AS n_rel, CAST(n_ret AS BIGINT) AS n_ret,
       |  CAST(n_rel_ret AS BIGINT) AS n_rel_ret,
       |  CAST((10000 * n_rel_ret) // n_ret AS BIGINT) AS prec_bp,
       |  CAST(CASE WHEN n_rel = 0 THEN 0
       |       ELSE (10000 * n_rel_ret) // n_rel END AS BIGINT) AS recall_bp,
       |  CAST(CASE WHEN first_rel_rank IS NULL THEN 0
       |       ELSE 1000000 // first_rel_rank END AS BIGINT) AS mrr_e6
       |FROM agg, nr""".stripMargin

  // ------------------------------------- distribution matching (q182)
  /** q182: DISTRIBUTION-MATCHING RESAMPLE — rebalance the corpus so
    * every length OCTAVE (floor log2 n_chars, the q162 exact-bin trick)
    * carries an equal share: the domain/length rebalancing step between
    * curation and training when one bin (short chat turns, giant
    * concatenations) dominates the raw crawl. Acceptance is HASHED,
    * not random: a doc survives iff its 40-bit md5 value mod its bin's
    * count < the min bin count — acceptance probability min_c/c_b per
    * bin (uniform expected post-counts) with a pinned per-doc verdict
    * any executor reproduces statelessly (the q111/q112 determinism
    * contract: reproducibility IS the feature). One aggregate for bin
    * counts (tiny relation, broadcast back), one stateless verdict
    * scan; the post-bin histogram plus an id fingerprint sum per bin
    * hash-gate both the counts and the exact accepted SET. */
  def lengthRebalance(docs: DataFrame): DataFrame = {
    val binned = docs.filter(col("n_chars") > 0)
      .select(col("doc_id"),
        (length(expr("bin(n_chars)")) - 1).cast("long").as("bin"))
    val counts = binned.groupBy("bin").agg(count(lit(1)).as("c_b"))
    val minC = counts.agg(min(col("c_b")).as("min_c"))
    binned.join(broadcast(counts), "bin")
      .crossJoin(broadcast(minC))
      .withColumn("h",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 10), 16, 10) as bigint)"))
      .withColumn("accept", (col("h") % col("c_b") < col("min_c")).cast("long"))
      .groupBy("bin")
      .agg(max(col("c_b")).as("n_before"),
        sum(col("accept")).as("n_after"),
        sum(col("accept") * col("doc_id")).as("accepted_id_sum"))
      .orderBy("bin")
  }

  val lengthRebalanceSql: String =
    """WITH b AS (
      |  SELECT doc_id, CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bin
      |  FROM documents WHERE n_chars > 0),
      |c AS (SELECT bin, COUNT(*) AS c_b FROM b GROUP BY bin),
      |m AS (SELECT MIN(c_b) AS min_c FROM c),
      |v AS (
      |  SELECT b.bin, c.c_b, b.doc_id,
      |    CASE WHEN ('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 10))::BIGINT
      |              % c.c_b < m.min_c THEN 1 ELSE 0 END AS accept
      |  FROM b JOIN c USING (bin) CROSS JOIN m)
      |SELECT bin, CAST(MAX(c_b) AS BIGINT) AS n_before,
      |  CAST(SUM(accept) AS BIGINT) AS n_after,
      |  CAST(SUM(accept * doc_id) AS BIGINT) AS accepted_id_sum
      |FROM v GROUP BY bin
      |ORDER BY bin""".stripMargin

  // ------------------------------------- calibration bands (q184)
  /** Score-band width = 2^8 classifier units. */
  val CalBandShift = 8

  /** q184: CLASSIFIER RELIABILITY CURVE — per score band, how often the
    * q120 hashed linear classifier's verdict AGREES with the
    * independent q84 quartile-threshold gate: the reliability-diagram
    * shape every model-based curation filter is audited with before
    * its threshold is trusted at 100 TB (a classifier can rank well
    * and still be mis-calibrated in exactly the band where the keep
    * threshold sits). Bands are shiftright(score) — ARITHMETIC shift,
    * floor-correct on negative scores in BOTH engines (the q133
    * precedent; a div-based band would round toward zero in Spark and
    * floor in DuckDB, splitting band −1 across engines). One join of
    * two per-doc verdict relations + one band aggregate; agreement and
    * keep rates in exact basis points. */
  def calibrationBands(docs: DataFrame): DataFrame = {
    val sc = classifierScores(docs)
      .select(col("doc_id"), col("score"), col("keep").as("pred_keep"))
    val truth = qualityGate(docs)
      .select(col("doc_id"), col("keep").cast("long").as("true_keep"))
    sc.join(truth, "doc_id")
      .withColumn("band", shiftright(col("score"), CalBandShift))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred_keep")).as("n_pred_keep"),
        sum(col("true_keep")).as("n_true_keep"),
        sum(when(col("pred_keep") === col("true_keep"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("band"), col("n_docs"), col("n_pred_keep"),
        col("n_true_keep"),
        expr("(10000 * n_true_keep) div n_docs").as("true_keep_bp"),
        expr("(10000 * n_agree) div n_docs").as("agree_bp"))
      .orderBy("band")
  }

  val calibrationBandsSql: String =
    s"""WITH sc AS (SELECT doc_id, score, keep AS pred_keep
       |            FROM ($classifierScoresSql)),
       |truth AS (SELECT doc_id, keep AS true_keep FROM ($qualityGateSql)),
       |j AS (
       |  SELECT sc.score >> $CalBandShift AS band, sc.pred_keep, t.true_keep
       |  FROM sc JOIN truth t ON t.doc_id = sc.doc_id)
       |SELECT band, COUNT(*) AS n_docs,
       |  CAST(SUM(pred_keep) AS BIGINT) AS n_pred_keep,
       |  CAST(SUM(true_keep) AS BIGINT) AS n_true_keep,
       |  CAST((10000 * SUM(true_keep)) // COUNT(*) AS BIGINT) AS true_keep_bp,
       |  CAST((10000 * SUM(CASE WHEN pred_keep = true_keep THEN 1 ELSE 0 END))
       |       // COUNT(*) AS BIGINT) AS agree_bp
       |FROM j GROUP BY band
       |ORDER BY band""".stripMargin

  // ------------------------------------------------------ phrase search
  /** Number of query phrases (top corpus trigrams). */
  val PhraseTopK = 5

  /** Positional-index phrase search — the retrieval operator BM25 (q143)
    * cannot express: bag-of-words scoring loses adjacency, so "exact
    * phrase" queries need POSITIONAL postings (token, doc, pos) and an
    * adjacency join (p2.pos = p1.pos + 1 ∧ p3.pos = p1.pos + 2). The
    * query set is self-contained and deterministic: the corpus's top
    * [[PhraseTopK]] trigrams by occurrence count (full-key tie-break),
    * which also gives the audit its own cross-check — each phrase's
    * matched n_occ must equal the trigram count that selected it, while
    * n_docs is new signal the count table cannot provide.
    *
    * Scale shape: the phrase relation is model-sized (K rows) and
    * BROADCASTS; postings are PRUNED to query terms by that broadcast
    * join before any shuffle, so the adjacency joins move only the query
    * terms' posting lists (the inverted-index access path — at 100 TB
    * the corpus-sized positional relation is scanned once and only
    * O(df(query terms)) rows reach an exchange), keyed on (doc_id, pos)
    * arithmetic. Nothing corpus-sized self-joins. */
  def phraseSearch(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(Text.tokens).as(Seq("pos", "w")))
    val tri = docs.select(col("doc_id"), Text.tokens.as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(0, size(t) - 3),
          |  i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"""
          .stripMargin)).as("g"))
      .groupBy("g.w1", "g.w2", "g.w3").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
      .limit(PhraseTopK)
    // DataFrame reuse is not plan reuse: phrases feeds three consumers
    // (each re-running the corpus trigram aggregate) and pruned three
    // (each re-running the corpus posexplode) — lazily checkpoint both
    // (the q188/q225 pattern) so the corpus is tokenized ONCE and the
    // re-read relations are topK-sized / query-term-pruned
    val phrases = tri.select(
      concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"),
      col("w1"), col("w2"), col("w3"))
      .localCheckpoint(false)
    // postings pruned to the query-term vocabulary BEFORE any join work
    val terms = phrases
      .select(explode(array(col("w1"), col("w2"), col("w3"))).as("w"))
      .distinct()
    val pruned = toks.join(broadcast(terms), "w").localCheckpoint(false)
    val p1 = pruned.join(broadcast(phrases), col("w") === col("w1"))
      .select(col("phrase"), col("w2"), col("w3"),
        col("doc_id"), col("pos"))
    val hits = p1
      .join(pruned.select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("w").as("m2")), Seq("doc_id", "pos"))
      .filter(col("m2") === col("w2"))
      .join(pruned.select(col("doc_id"), (col("pos") - 2).as("pos"),
        col("w").as("m3")), Seq("doc_id", "pos"))
      .filter(col("m3") === col("w3"))
    phrases.select("phrase")
      .join(hits.groupBy("phrase")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_occ")), Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      .orderBy("phrase")
  }

  val phraseSearchSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, i - 1 AS pos, t[i] AS w
       |  FROM (SELECT doc_id, ${Text.duckTokens} AS t,
       |               unnest(generate_series(1, len(${Text.duckTokens}))) AS i
       |        FROM documents)),
       |tri AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3, COUNT(*) AS n
       |  FROM (SELECT ${Text.duckTokens} AS t,
       |               unnest(generate_series(1, len(${Text.duckTokens}) - 2)) AS i
       |        FROM documents
       |        WHERE len(${Text.duckTokens}) >= 3)
       |  GROUP BY 1, 2, 3
       |  ORDER BY n DESC, w1, w2, w3 LIMIT $PhraseTopK),
       |phrases AS (
       |  SELECT w1 || ' ' || w2 || ' ' || w3 AS phrase, w1, w2, w3 FROM tri),
       |hits AS (
       |  SELECT ph.phrase, a.doc_id
       |  FROM phrases ph
       |  JOIN toks a ON a.w = ph.w1
       |  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.w = ph.w2
       |  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.w = ph.w3)
       |SELECT p.phrase,
       |  COALESCE(h.n_docs, 0) AS n_docs, COALESCE(h.n_occ, 0) AS n_occ
       |FROM phrases p LEFT JOIN (
       |  SELECT phrase, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
       |  FROM hits GROUP BY phrase) h ON h.phrase = p.phrase
       |ORDER BY p.phrase""".stripMargin

  // -------------------------------------------------------- OOV rate
  /** Vocabulary cutoff for the OOV audit (production: 10^5-10^6; sized
    * to the fixture's small synthetic vocabulary so the rate is
    * non-degenerate). Full-key tie-break (count desc, token) keeps the
    * cutoff deterministic in both engines. */
  val OovVocabK = 16

  /** Out-of-vocabulary rate audit — the tokenizer-coverage planning
    * question ("if we ship a top-V vocabulary, what fraction of each
    * source's token stream falls outside it?") that sizes vocab against
    * UNK-rate budget before training. Complements q34 (the vocabulary
    * itself), q49 (per-doc rarity mass) and q200 (fertility of a FIXED
    * tokenizer): this measures the cutoff, per source, in ppm.
    *
    * Plan: ONE (source, token) aggregate feeds everything — the global
    * top-V derives from it by a second, vocab-sized aggregate (+
    * TakeOrdered over |vocab| rows, never the corpus), then broadcasts
    * back as a membership left-join. The corpus scans once; the only
    * corpus-sized shuffle is the (source, token) aggregate. */
  def oovRate(docs: DataFrame): DataFrame = {
    // the (source, token) aggregate feeds BOTH the top-V cutoff and the
    // probe side; lazily checkpoint it (q188/q225 pattern) so the
    // corpus token explode runs once — what both consumers re-read is
    // the vocab-sized relation
    val bySrc = Text.words(docs, "token", "source")
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val topV = bySrc.groupBy("token").agg(sum(col("n")).as("tn"))
      .orderBy(col("tn").desc, col("token")).limit(OovVocabK)
      .select(col("token"), lit(1).as("in_vocab"))
    bySrc.join(broadcast(topV), Seq("token"), "left")
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("(1000000 * n_oov) div n_tokens"))
      .orderBy("source")
  }

  val oovRateSql: String =
    s"""WITH t AS (
       |  SELECT source, unnest(${Text.duckTokens}) AS token FROM documents),
       |bysrc AS (
       |  SELECT source, token, COUNT(*) AS n FROM t
       |  WHERE length(token) > 0 GROUP BY 1, 2),
       |topv AS (
       |  SELECT token FROM (
       |    SELECT token, SUM(n) AS tn FROM bysrc GROUP BY token
       |    ORDER BY tn DESC, token LIMIT $OovVocabK)),
       |agg AS (
       |  SELECT b.source, SUM(b.n) AS n_tokens,
       |    SUM(CASE WHEN v.token IS NULL THEN b.n ELSE 0 END) AS n_oov
       |  FROM bysrc b LEFT JOIN topv v ON v.token = b.token
       |  GROUP BY b.source)
       |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_oov AS BIGINT) AS n_oov,
       |  CAST((1000000 * n_oov) // n_tokens AS BIGINT) AS oov_ppm
       |FROM agg ORDER BY source""".stripMargin

  // ------------------------------------------------- head mass (q231)
  /** Head sizes the concentration curve reports. */
  val HeadKs = Seq(10, 100, 1000)

  /** q231: TOKEN HEAD-MASS CONCENTRATION — the Zipf-head datasheet
    * metric: what fraction of a source's token mass do its top-10 /
    * top-100 / top-1000 tokens carry? A source whose top-10 covers half
    * its mass is templated boilerplate; a flat curve is diverse prose —
    * the integer-exact stand-in for a tail-index fit, and the corpus-
    * level complement of q61's per-doc novelty. Ranking ties break by
    * token (pinned), so both engines pick the identical head.
    *
    * Scale shape: ONE corpus scan to the (source, token) aggregate;
    * the rank window and the head sums run over that VOCAB-sized
    * relation, never the corpus. At web scale the per-source vocab
    * window pairs with the q57 heavy-hitters path (a count floor
    * strictly above total/K preserves every possible top-K member
    * and caps the ranked relation). */
  def headMass(docs: DataFrame): DataFrame = {
    val counts = Text.words(docs, "t", "source")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("t"))
    val headCols = HeadKs.map(k =>
      expr(s"(1000000 * sum(case when rk <= $k then c else 0 end)) div sum(c)")
        .as(s"top${k}_ppm"))
    counts
      .withColumn("rk", row_number().over(rankW))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"), headCols: _*)
      .orderBy("source")
  }

  val headMassSql: String = {
    val heads = HeadKs.map(k =>
      s"CAST((1000000 * SUM(CASE WHEN rk <= $k THEN c ELSE 0 END)) // SUM(c) AS BIGINT) AS top${k}_ppm")
      .mkString(",\n       |  ")
    s"""WITH tok AS (
       |  SELECT source, unnest(${Text.duckTokens}) AS t FROM documents),
       |counts AS (SELECT source, t, COUNT(*) AS c FROM tok
       |           WHERE length(t) > 0 GROUP BY source, t),
       |ranked AS (SELECT source, c,
       |             ROW_NUMBER() OVER (PARTITION BY source
       |               ORDER BY c DESC, t) AS rk
       |           FROM counts)
       |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  $heads
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q231_head_mass" -> ((s, d) => headMass(Tables.documents(s, d))),
    "q223_oov_rate" -> ((s, d) => oovRate(Tables.documents(s, d))),
    "q215_phrase_search" -> ((s, d) => phraseSearch(Tables.documents(s, d))),
    "q19_lang_id"     -> ((s, d) => langId(Tables.documents(s, d))),
    "q20_quality"     -> ((s, d) => quality(Tables.documents(s, d))),
    "q21_tokens"      -> ((s, d) => tokenCounts(Tables.documents(s, d))),
    "q22_fingerprint" -> ((s, d) => fingerprints(Tables.documents(s, d))),
    "q34_vocab"       -> ((s, d) => vocab(Tables.documents(s, d))),
    "q35_quality_sample" -> ((s, d) => qualitySample(Tables.documents(s, d))),
    "q37_length_quantiles" -> ((s, d) => lengthQuantiles(Tables.documents(s, d))),
    "q44_top_docs_per_source" -> ((s, d) => topDocsPerSource(Tables.documents(s, d))),
    "q46_chunking" -> ((s, d) => chunkDocs(Tables.documents(s, d))),
    "q57_heavy_hitters" -> ((s, d) => heavyHitterGrams(Tables.documents(s, d))),
    "q61_novelty" -> ((s, d) => noveltyScores(Tables.documents(s, d))),
    "q68_tfidf_terms" -> ((s, d) => tfIdfTopTerms(Tables.documents(s, d))),
    "q70_pii_scrub" -> ((s, d) => piiScrub(Tables.documents(s, d))),
    "q84_quality_gate" -> ((s, d) => qualityGate(Tables.documents(s, d))),
    "q120_classifier_gate" -> ((s, d) => classifierScores(Tables.documents(s, d))),
    "q85_contamination_overlap" -> ((s, d) => contaminationOverlap(Tables.documents(s, d))),
    "q128_exact_quantiles" -> ((s, d) => exactQuantiles(Tables.documents(s, d))),
    "q130_weighted_sample" -> ((s, d) => weightedSample(Tables.documents(s, d))),
    "q133_curriculum" -> ((s, d) => curriculumBuckets(Tables.documents(s, d))),
    "q143_bm25" -> ((s, d) => bm25TopDocs(Tables.documents(s, d))),
    "q151_score_calibration" -> ((s, d) => calibratedScores(Tables.documents(s, d))),
    "q163_pareto_frontier" -> ((s, d) => paretoFrontier(Tables.documents(s, d))),
    "q169_char_diversity" -> ((s, d) => charDiversity(Tables.documents(s, d))),
    "q173_mad_outliers" -> ((s, d) => madOutliers(Tables.documents(s, d))),
    "q176_cooccurrence" -> ((s, d) => cooccurrenceLift(Tables.documents(s, d))),
    "q181_retrieval_eval" -> ((s, d) => retrievalEval(Tables.documents(s, d))),
    "q182_length_rebalance" -> ((s, d) => lengthRebalance(Tables.documents(s, d))),
    "q184_calibration" -> ((s, d) => calibrationBands(Tables.documents(s, d))),
    "q194_dsir_affinity" -> ((s, d) => dsirAffinity(Tables.documents(s, d))),
    "q195_rank_fusion" -> ((s, d) => rankFusion(Tables.documents(s, d))),
    "q196_weighted_median" -> ((s, d) => weightedMedianLength(Tables.documents(s, d))),
    "q197_hard_negatives" -> ((s, d) => hardNegatives(Tables.documents(s, d))),
    "q202_span_excision" -> ((s, d) => spanExcision(Tables.documents(s, d))),
    "q208_langid_confusion" -> ((s, d) => langIdConfusion(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q231_head_mass" -> headMassSql,
    "q223_oov_rate" -> oovRateSql,
    "q215_phrase_search" -> phraseSearchSql,
    "q19_lang_id"     -> langIdSql,
    "q20_quality"     -> qualitySql,
    "q21_tokens"      -> tokenCountsSql,
    "q22_fingerprint" -> fingerprintsSql,
    "q34_vocab"       -> vocabSql,
    "q35_quality_sample" -> qualitySampleSql,
    "q37_length_quantiles" -> lengthQuantilesSql,
    "q44_top_docs_per_source" -> topDocsPerSourceSql,
    "q46_chunking" -> chunkDocsSql,
    "q57_heavy_hitters" -> heavyHitterGramsSql,
    "q61_novelty" -> noveltyScoresSql,
    "q68_tfidf_terms" -> tfIdfTopTermsSql,
    "q70_pii_scrub" -> piiScrubSql,
    "q84_quality_gate" -> qualityGateSql,
    "q120_classifier_gate" -> classifierScoresSql,
    "q85_contamination_overlap" -> contaminationOverlapSql,
    "q128_exact_quantiles" -> exactQuantilesSql,
    "q130_weighted_sample" -> weightedSampleSql,
    "q133_curriculum" -> curriculumBucketsSql,
    "q143_bm25" -> bm25TopDocsSql,
    "q151_score_calibration" -> calibratedScoresSql,
    "q163_pareto_frontier" -> paretoFrontierSql,
    "q169_char_diversity" -> charDiversitySql,
    "q173_mad_outliers" -> madOutliersSql,
    "q176_cooccurrence" -> cooccurrenceLiftSql,
    "q181_retrieval_eval" -> retrievalEvalSql,
    "q182_length_rebalance" -> lengthRebalanceSql,
    "q184_calibration" -> calibrationBandsSql,
    "q194_dsir_affinity" -> dsirAffinitySql,
    "q195_rank_fusion" -> rankFusionSql,
    "q196_weighted_median" -> weightedMedianLengthSql,
    "q197_hard_negatives" -> hardNegativesSql,
    "q202_span_excision" -> spanExcisionSql,
    "q208_langid_confusion" -> langIdConfusionSql)
}
