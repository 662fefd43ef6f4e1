package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import Measure.{Fixed, Obj, obj}

/** Scale rehearsal: synthesize a ~10x, deliberately SKEWED
  * documents/embeddings fixture from a base scale factor, run the
  * LLM-data-pipeline operator suite on both, and report the scaling
  * ratio plus the skew-cap observe() metrics. This answers the question
  * the correctness gate can't: do the bucketed designs actually hold
  * when the data grows and a hot key appears?
  *
  * The synthetic skew is the shape production corpora actually have:
  *  - BOILERPLATE: one fixed 12-word sentence appended to 30% of docs
  *    (license headers, cookie banners) — its shingles' posting lists
  *    cover 30% of the corpus, exactly what the df/bucket caps exist
  *    for. The rehearsal asserts the caps ENGAGE (nonzero dropped
  *    metrics) instead of letting those buckets go quadratic.
  *  - NEAR-DUP FAMILIES: each base doc yields 10 perturbed copies
  *    (distinct tails), so pair generators and clustering see real
  *    cluster structure at 10x volume, not independent rows.
  *  - Embeddings likewise 10x with per-copy offsets.
  *
  * The quadratic-BY-SEMANTICS kernels (q17 brute-force top-k, q18
  * cell-probe over a fixed centroid stand-in, q24 exact all-pairs) are
  * excluded and listed in the output: their cost is declared O(n^2) —
  * the rehearsal measures the operators that claim sub-quadratic
  * scaling (q31/q36/q42 are those kernels' scale paths and ARE
  * included). Usage:
  *
  *   runMain graft.ScaleRehearsal [baseDir] [outDir]
  *
  * Prints one JSON line; also writes scale_rehearsal.json.
  */
object ScaleRehearsal {

  val Copies = 10
  val IdStride = 16 // new_id = old_id * 16 + copy; headroom-safe

  /** Second measured decade: a 100x-documents pass over a corpus-linear
    * subset, turning the "constant job floor amortizes" extrapolation
    * into a two-point curve (10x and 100x against the same base). */
  val Copies100 = 100
  val IdStride100 = 128 // 100 reps need 7 bits; base ids get headroom

  /** The 100x subset: corpus-linear kernels only (one scan + key-capped
    * shuffles), including the two the round-8 review called out — label
    * propagation (frontier joins over the CAPPED pair graph) and the
    * rolling-hash CDC chunker. The vector family joins the decade as a
    * fixed-k IVF row measured directly (q18's production shape over
    * 100x synthesized embeddings) — see `q18_ivf_fixedk` in the x100
    * output. */
  val Rehearsal100Queries: Seq[String] = Seq(
    "q13_dedup_exact", "q14_minhash_pairs", "q16_ngram_jaccard",
    "q19_lang_id", "q21_tokens", "q46_chunking", "q84_quality_gate",
    "q118_hll_tokens", "q177_label_propagation", "q206_cdc_chunks")
  val Boilerplate =
    "all rights reserved this document is provided as is without warranty of any kind"

  /** The sub-quadratic data-pipeline surface measured at both scales. */
  val RehearsalQueries: Seq[String] = Seq(
    "q13_dedup_exact", "q14_minhash_sig", "q14_minhash_pairs",
    "q15_simhash", "q16_ngram_jaccard", "q19_lang_id", "q20_quality",
    "q21_tokens", "q22_fingerprint", "q23_multimodal", "q29_source_sketch",
    "q31_signlsh_neardup", "q32_simhash_pairs", "q33_dedup_clusters",
    "q34_vocab", "q35_quality_sample", "q36_simhash_multiprobe",
    "q37_length_quantiles", "q38_cross_source", "q42_signlsh_multiband",
    "q44_top_docs_per_source", "q45_eval_contamination", "q46_chunking",
    "q47_repetition", "q48_filter_verdicts", "q49_token_rarity",
    "q50_incremental_dedup", "q51_shard_plan", "q52_canonical_docs",
    "q53_bpe_pairs", "q54_prefix_contained", "q55_alignment_audit",
    "q56_stratified_sample", "q57_heavy_hitters", "q59_block_dedup",
    "q60_frame_sample", "q61_novelty", "q62_source_overlap",
    "q63_domain_mix", "q64_doc_stitches", "q66_bigram_lm",
    "q67_collocations", "q68_tfidf_terms", "q70_pii_scrub",
    "q71_source_drift", "q72_substring_dups", "q74_phash_neardup",
    "q77_colloc_sampled", "q84_quality_gate", "q85_contamination_overlap",
    "q104_embedding_outliers",
    // round-8 corpus-linear additions: tokenizer apply + true-token
    // packing, mixture planning, HLL sketch, hashed classifier
    "q113_bpe_encode", "q114_packed_bpe", "q116_mixture_plan",
    "q117_epoch_manifest", "q118_hll_tokens", "q120_classifier_gate",
    // round-8 second wave: global numbering (one corpus shuffle + tiny
    // relations) and quartile curriculum (three linear classifier passes)
    "q131_global_rownum", "q133_curriculum",
    // round-8 continuation: BM25 scoring (query-term slice + one length
    // aggregate), integer Gram matrix (n·d² at scan locality), PageRank
    // over the capped near-dup graph, per-source score calibration
    "q143_bm25", "q147_covariance", "q149_pagerank",
    "q151_score_calibration",
    // round-8 third wave: deterministic heavy hitters (two passes, ≤k
    // candidate shuffle), degree-oriented triangles (O(m^1.5) wedges),
    // char-diversity codegen fold, JL projection (stateless map +
    // broadcast sample join), MAD outliers (two source-keyed windows),
    // per-dim drift aggregate, label propagation (O(|E|) rounds),
    // a-priori co-occurrence (support-pruned pair space), water-filling
    // (one token aggregate + k-row algebra)
    "q166_misra_gries", "q167_triangles", "q169_char_diversity",
    "q170_jl_projection", "q173_mad_outliers", "q174_embedding_drift",
    "q176_cooccurrence", "q177_label_propagation", "q180_water_filling",
    // round-8 closing wave: incremental LSH maintenance (delta-only
    // banding + touched-key probes), retrieval eval, length rebalance,
    // calibration bands, filter attribution, datasheet (q188 PPJoin is
    // excluded below: its OUTPUT is quadratic in dup-family size)
    "q186_incremental_neardup", "q181_retrieval_eval",
    "q182_length_rebalance", "q184_calibration",
    "q187_filter_attribution", "q189_corpus_datasheet",
    // round-8 fourth wave: winnowing (array-arithmetic selection +
    // df-capped postings — its pair OUTPUT grows with dup families
    // like q14's, caps bound the scan), two-phase interleave, greedy
    // coverage (5 fixed linear scans), DSIR ratio scoring (one
    // (doc,bucket) aggregate + 256-row broadcast), RRF fusion and
    // hard negatives (TakeOrdered cuts over the q143 pass),
    // weighted median + k-anonymity rollup + ablation + excision +
    // growth curve + balanced eval + bucketed batching (all one-scan
    // relational), fertility + mask spans (ride the q113 encode)
    "q190_winnowing", "q191_interleave", "q192_greedy_coverage",
    "q194_dsir_affinity", "q195_rank_fusion", "q196_weighted_median",
    "q197_hard_negatives", "q198_k_anonymity", "q199_source_ablation",
    "q200_tokenizer_fertility", "q201_mask_spans", "q202_span_excision",
    "q203_vocab_growth", "q204_balanced_eval", "q205_bucketed_batching",
    // round-9 wave: phrase search (model-sized phrase broadcast +
    // query-term-pruned positional postings), SNM dedup (one block-
    // partitioned sort window — pair volume bounded at n·window by
    // construction, the no-cap-needed family member), canary scan
    // (one Rabin-Karp corpus pass + broadcast needles), shot
    // boundaries (frames fan out partition-local, doc-keyed windows),
    // token estimator (1/mod text sample + metadata-only full side).
    // Out of scope: q218 (brute-force truncation audit — quadratic by
    // semantics like q17), q221 (its TRUTH side is O(sample²) by
    // design; the audit sample, not the corpus, is its scale knob)
    "q215_phrase_search", "q216_sorted_neighborhood", "q217_canary_scan",
    "q219_shot_boundaries", "q220_token_estimator",
    // round-9 second wave: PQ Lloyd update (corpus × fixed codebook —
    // linear in corpus) and the OOV cutoff audit (one (source, token)
    // aggregate). q224 brute k-NN is quadratic by semantics (q17 family)
    "q222_pq_train", "q223_oov_rate",
    // fifth wave (post-review coverage closure): CDC chunking (O(n)
    // rolling-hash kernel + chunk-keyed aggregate — chunk SHARING
    // grows with the dup families, the skew this fixture stresses),
    // split balance, confusion matrix, effective tokens. Out of scope:
    // q210 (events-based — the rehearsal only synthesizes
    // documents/embeddings) and q211 (the synthetic copies' DISTINCT
    // tail tokens make the 5 rarest query terms singletons, so the
    // pseudo-relevance set is empty by construction and q211's loud
    // empty-set guard kills the job — measured: the review-added guard
    // observably ENGAGES rather than silently scoring zeros; a real
    // corpus query has a non-degenerate term distribution)
    "q206_cdc_chunks", "q207_split_balance", "q208_langid_confusion",
    "q209_effective_tokens",
    // sixth wave: dedup-aware allocation (rides q209 + a |sources|-row
    // plan) and the split-leakage audit (rides the audited q14 banded
    // join + two id probes)
    "q212_dedup_mixture", "q213_split_leakage",
    // round-9 third wave: perplexity filter (q66's one-shuffle shape +
    // bounded value-counts tertiles), KN bigram (the colloc marginal
    // shape), conformal gate (one calib aggregate + broadcast
    // threshold), log-histogram quantiles (64-counter mergeable agg),
    // systematic sample (per-source window cumsum — n log n per source)
    "q225_perplexity_filter", "q226_kn_bigram", "q227_conformal_gate",
    "q228_hist_quantiles", "q229_systematic_sample",
    // round-9 fourth wave: audio-energy windows (partition-local frame
    // fan-out, linear in payload bytes) and head-mass concentration
    // (vocab-sized rank window over the one token aggregate)
    "q230_audio_energy", "q231_head_mass",
    // round-9 fifth wave: bloom FPR audit (one corpus scan + broadcast
    // position set + one exchange), manifest RLE (one split-partitioned
    // window), stratified estimator (one source-partitioned rank window)
    "q232_bloom_fpr", "q233_manifest_rle", "q234_stratified_estimate")

  /** q17/q24/q69 are declared-O(n²) kernels; q18/q73 assign against a
    * centroid set that GROWS with the fixture (vec_id % mod stand-in),
    * so their 10x cost is a fixture artifact — production k is fixed.
    * They stay OUT of the headline ratio, but their documented
    * mitigations are MEASURED at 10x in the `mitigated_quadratic`
    * section below: the "use this at scale" guidance as numbers. */
  val ExcludedQuadratic: Seq[String] =
    Seq("q17_cosine_topk", "q18_ivf_topk", "q24_embedding_neardup",
      "q69_quantized_topk", "q73_kmeans_step", "q83_semantic_dedup",
      // q188's OUTPUT is quadratic in duplicate-family size (10 copies
      // per doc -> up to 45 true J>=0.5 pairs per family), so the 10x
      // synthetic families grow its result ~45x by construction: an
      // output-bound kernel, measured 7.9x wall for 10x input on this
      // fixture (sublinear per emitted pair; the rarest-first prefix
      // keeps the 30%-coverage boilerplate shingles out of every
      // posting list — the q24 exclusion argument, not a scan blow-up)
      "q188_ppjoin")

  /** Centroid stride that reproduces the BASE fixture's centroid SET on
    * the synthesized 10x ids (new_id = old_id * IdStride + rep): ids
    * divisible by CentroidMod*IdStride are exactly the rep-0 copies of
    * the base centroids — fixed k under 10x data, the production
    * shape. */
  val FixedKCentroidMod: Long = graft.ext.Similarity.CentroidMod.toLong * IdStride

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
                 copies: Int = Copies, stride: Int = IdStride,
                 withEmbeddings: Boolean = true,
                 withDocuments: Boolean = true,
                 pertDiv: Double = 1024.0): Unit = {
    Measure.fixture(outDir, obj("base" -> baseDir, "copies" -> copies,
        "stride" -> stride, "embeddings" -> withEmbeddings,
        "documents" -> withDocuments, "pert_div" -> pertDiv)) { _ =>
      val reps = explode(sequence(lit(0), lit(copies - 1))).as("rep")
      if (withDocuments) Tables.documents(spark, baseDir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), reps)
        .select(
          (col("doc_id") * stride + col("rep")).as("doc_id"),
          // perturbed copy + hot boilerplate on 30% of base docs
          concat(col("text"), lit(" copytail"), col("rep"),
            expr(s"CASE WHEN doc_id % 10 < 3 THEN ' $Boilerplate' ELSE '' END"))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      if (withEmbeddings)
        Tables.embeddings(spark, baseDir)
          .select(col("vec_id"), col("embedding"), reps)
          .select((col("vec_id") * stride + col("rep")).as("vec_id"),
            expr(s"transform(embedding, x -> cast(x + rep / $pertDiv as float))")
              .as("embedding"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    linkBaseTables(baseDir, outDir)
  }

  /** events/lineitem/etc. are not synthesized: the rehearsal surface is
    * the documents/embeddings pipeline; point the other loaders at base
    * (every [[synthesize]]d fixture gets these links). */
  def linkBaseTables(baseDir: String, outDir: String): Unit =
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events")) {
      val link = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$baseDir/$t.parquet").toAbsolutePath)
    }

  private val runTag = new java.util.concurrent.atomic.AtomicLong(0)

  /** Wall seconds to build and materialize `df`. */
  private def timed(df: => DataFrame): Double = Measure.secs(Measure.noop(df))

  private def timeAll(spark: SparkSession, dir: String,
                      names: Seq[String] = RehearsalQueries): Map[String, Double] =
    names.map(name => name -> timed(SparkEntry.queries(name)(spark, dir))).toMap

  /** Run the capped pair generators with their drop Observations and
    * return the metrics (AQE off — Spark 4.1 AQE drops mid-plan observed
    * metrics, the round-3 lesson). */
  private def dropMetrics(spark: SparkSession, dir: String,
                          withEmbeddings: Boolean = true): Map[String, Long] = {
    // AQE off for the mid-plan Observations; withConfs restores whatever
    // was set BEFORE the block, not a hardcoded value
    Harness.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val docs = Tables.documents(spark, dir)
      val o16 = Observation(s"rehearsal_q16_${runTag.incrementAndGet()}")
      Measure.noop(graft.ext.Dedup.ngramJaccardPairs(docs, dropObs = Some(o16)))
      val o14 = Observation(s"rehearsal_q14_${runTag.incrementAndGet()}")
      Measure.noop(graft.ext.Dedup.minhashPairs(docs, dropObs = Some(o14)))
      // each Observation's metrics, keyed by query: dropped_* counts
      def metrics(q: String, o: Observation) =
        o.get.map { case (k, v) => s"${q}_$k" -> v.asInstanceOf[Long] }
      val textDrops = metrics("q16", o16) ++ metrics("q14", o14)
      val drops = if (!withEmbeddings) textDrops else {
        // q24's banded rewrite under a cap TIGHTER than the fixture's hot
        // clone-family buckets (avg bucket at bands=4/bits=9 on the 10x
        // corpus is ~100 postings): the pathological-bucket path must
        // DROP observably instead of expanding m² pairs. The uncapped
        // rewrite timing stays in mitigated_quadratic — this run only
        // proves the degradation is bounded and visible.
        val o24 = Observation("rehearsal_q24")
        Measure.noop(graft.ext.Similarity.bandedNearDupPairs(
          graft.ext.Similarity.withLshBands(
            Tables.embeddings(spark, dir), bands = 4, bandBits = 9),
          graft.ext.Similarity.NearDupThreshold,
          maxBucket = 64, dropObs = Some(o24)))
        textDrops ++ metrics("q24", o24)
      }
      // the property this harness exists to prove: under the injected
      // hot key, the caps ENGAGE (observable truncation) instead of the
      // buckets going quadratic — fail loudly if they never fired
      require(drops.values.exists(_ > 0),
        s"skew caps never engaged on the skewed fixture: $drops")
      drops
    }
  }

  def main(args: Array[String]): Unit = {
    // absolute: symlink TARGETS resolve relative to the link's own
    // directory, so a relative baseDir would dangle under outDir
    val baseDir = java.nio.file.Paths.get(
      args.headOption.getOrElse("/root/testdata/sf0.1"))
      .toAbsolutePath.normalize.toString
    val outDir = args.lift(1).getOrElse("/tmp/graft-sf1-rehearsal")
    val spark = Measure.session("graft-scale-rehearsal")

    synthesize(spark, baseDir, outDir)

    timeAll(spark, baseDir) // warmup (codegen + JIT), untimed
    val baseTimes = timeAll(spark, baseDir)
    val bigTimes = timeAll(spark, outDir)
    val drops = dropMetrics(spark, outDir)
    val baseTotal = baseTimes.values.sum
    val bigTotal = bigTimes.values.sum

    // ---- second measured decade: 100x documents, corpus-linear subset
    val out100 = args.lift(2).getOrElse("/tmp/graft-sf100-rehearsal")
    synthesize(spark, baseDir, out100, copies = Copies100, stride = IdStride100)
    val x100Times0 = timeAll(spark, out100, Rehearsal100Queries)
    val drops100 = dropMetrics(spark, out100, withEmbeddings = false)
    // the vector-family member of the second decade: fixed-k IVF (q18's
    // documented scale path — centroid set pinned to the base fixture's
    // rep-0 copies) over 100x embeddings; assignment is n x k, linear
    // in n at fixed k, so its decade ratio completes the ANN-side
    // amortization argument the x10 mitigated entry started
    val sim = graft.ext.Similarity
    // warmup (codegen + JIT for the IVF plan shape), untimed — the
    // rehearsal suite excludes q17/q18, so nothing else has heated it
    // and a cold base denominator would flatter the decade ratio
    timed(sim.ivfTopK(Tables.embeddings(spark, baseDir), nprobe = 2))
    val ivfBase = timed(sim.ivfTopK(Tables.embeddings(spark, baseDir), nprobe = 2))
    val ivf100 = timed(sim.ivfTopK(Tables.embeddings(spark, out100), nprobe = 2,
      centroidMod = sim.CentroidMod.toLong * IdStride100))
    val x100Times = x100Times0 + ("q18_ivf_fixedk" -> ivf100)
    val base100 = Rehearsal100Queries.map(baseTimes).sum + ivfBase
    val x100Total = x100Times.values.sum

    // LSH bit-width scaling: with bucket count FIXED, 10x corpus means
    // ~100x in-bucket pair work (the fixed-bits x10 numbers above show
    // it). The production knob is bits ~ log2(n / target_bucket): +3
    // bits per 10x data (next power of two of 10) keeps per-bucket work
    // flat. Measure both vector-LSH kernels with the rescaled width.
    val emb10 = Tables.embeddings(spark, outDir)
    val scaledBits = Map(
      "q31_bits+3" -> timed(sim.signLshNearDups(emb10, bits = sim.LshBits + 3)),
      "q42_bits+3" -> timed(sim.signLshMultiBand(emb10, bandBits = sim.LshBits + 3)))

    // Mitigated-quadratic rehearsal: each excluded kernel's DOCUMENTED
    // scale path, measured on the 10x fixture (base-scale twin alongside
    // for the growth ratio). q17/q18 -> IVF with nprobe and a FIXED
    // centroid set; q24 -> the index-column rewrite rule's banded plan;
    // q73 -> the same fixed-k assignment. q69's scale path IS the
    // banded/LSH family (sign-LSH over the quantized space) — covered
    // by the q42 row above, not re-measured separately.
    val embBase = Tables.embeddings(spark, baseDir)
    val mitigated = Map(
      "q17_ivf_nprobe2_base" -> ivfBase, // measured warm in the x100 block
      "q17_ivf_nprobe2_x10_fixedk" -> timed(
        sim.ivfTopK(emb10, nprobe = 2, centroidMod = FixedKCentroidMod)),
      "q24_lsh_rewrite_base" -> timed(
        sim.nearDupsAuto(sim.withLshBands(embBase, bands = 4, bandBits = 6))),
      "q24_lsh_rewrite_x10" -> timed(
        sim.nearDupsAuto(sim.withLshBands(emb10, bands = 4, bandBits = 9))),
      "q73_kmeans_base" -> timed(sim.kmeansStep(embBase)),
      "q73_kmeans_x10_fixedk" -> timed(
        sim.kmeansStep(emb10, centroidMod = FixedKCentroidMod)),
      // q83's documented scale path: cells grow ~sqrt(n) so assignment
      // (n*k) and in-cell pairs (n*cellsize) BOTH scale as n^1.5 —
      // sqrt(10) ~ 3.16, so stride/3 triples the cell count at 10x
      "q83_semdedup_base" -> timed(sim.semanticDedup(embBase)),
      "q83_semdedup_x10_sqrtk" -> timed(
        sim.semanticDedup(emb10,
          centroidMod = FixedKCentroidMod / 3)))

    // q188 PPJoin at 10x, MEASURED with its filter stack instrumented:
    // the exact set-similarity join stays out of the headline ratio
    // (its OUTPUT is quadratic in dup-family size by construction of
    // the synthetic copies), but the claim that the prefix/length/
    // positional filters bound the CANDIDATE space is now a number —
    // candidates vs the n^2/2 all-pairs bound — not an assertion.
    // AQE off around the observe (mid-plan metrics, round-3 lesson).
    val docsBase = Tables.documents(spark, baseDir)
    val docs10 = Tables.documents(spark, outDir)
    // both decades under the SAME planner config: the Observation needs
    // AQE off (mid-plan metrics, round-3 lesson), so the base point
    // runs AQE-off too — otherwise the ratio conflates data scale with
    // a planner-config change
    val (q188BaseSec, q188X10Sec, q188Cands, q188Pairs, q188N) =
      Harness.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        val baseSec = Measure.secs(graft.ext.Dedup.ppjoinPairs(docsBase).count())
        val oCand = Observation(s"rehearsal_q188_${runTag.incrementAndGet()}")
        val out = graft.ext.Dedup.ppjoinPairs(docs10, candObs = Some(oCand))
        val (nPairs, sec) = Measure.timed(out.count())
        (baseSec, sec, oCand.get("candidates").asInstanceOf[Long], nPairs,
          docs10.count())
      }
    // sanity floor, not the measurement: the dup-saturated synthetic
    // fixture (10 near-copies per doc + 30% boilerplate) is close to a
    // worst case for candidate generation, and the measured ratio —
    // ~1% of all-pairs here — is what the emitted JSON is for
    require(q188Cands < q188N * (q188N - 1) / 2 / 10,
      s"q188 candidates ($q188Cands) not below a tenth of the all-pairs " +
        s"bound for n=$q188N — the prefix filter is not engaging")

    // q24 banded-rewrite attribution (round-10 verdict: the 6.6x wall
    // for 10x data in mitigated_quadratic was asserted to be output
    // growth, never decomposed — and its two points ran DIFFERENT band
    // configs). The q188 treatment: the SAME band config (the x10 run's
    // bands=4/bandBits=9) at both decades, with candidate-pair and
    // emitted-pair counts observed, so the wall ratio splits into
    // candidate machinery vs result volume. AQE off for the mid-plan
    // Observation, both decades alike.
    val (q24Base, q24X10, q24BaseN, q24X10N) =
      Harness.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        def run(df: DataFrame): (Double, Long, Long) = {
          val o = Observation(s"rehearsal_q24s_${runTag.incrementAndGet()}")
          val pairs = sim.bandedNearDupPairs(
            sim.withLshBands(df, bands = 4, bandBits = 9),
            sim.NearDupThreshold, candObs = Some(o))
          val (n, sec) = Measure.timed(pairs.count())
          (sec, o.get("candidates").asInstanceOf[Long], n)
        }
        (run(embBase), run(emb10), embBase.count(), emb10.count())
      }

    // Collocation-bound demo: at a bound the 10x corpus EXCEEDS, the
    // exact path must refuse loudly and the sampled path must answer —
    // the q67 -> q77 scale handoff, demonstrated rather than narrated.
    val collocBound = 2000000L
    val exactTripped =
      try {
        Measure.noop(graft.ext.Lm.collocations(docs10, maxN = collocBound))
        false
      } catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("exact-lift") ||
          Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("exact-lift")) =>
          true
      }
    require(exactTripped,
      s"10x corpus stayed under the $collocBound demo bound — regenerate the fixture")
    val sampledSec = timed(graft.ext.Lm.collocationsSampled(
      docs10, sampleMod = 16, maxN = collocBound))

    def jmap(m: Map[String, Double]) = Obj(m.toSeq.sorted.map { case (k, v) => k -> Fixed(v, 3) })
    println(Measure.artifact("scale_rehearsal.json", Obj(Seq(
      "base_dir" -> baseDir, "copies" -> Copies,
      "base_total_sec" -> Fixed(baseTotal, 2), "x10_total_sec" -> Fixed(bigTotal, 2),
      "scaling_ratio" -> Fixed(bigTotal / baseTotal, 2)) ++ drops.toSeq.sorted ++ Seq(
      "excluded_quadratic" -> ExcludedQuadratic,
      "x10_scaled_bits" -> jmap(scaledBits),
      "mitigated_quadratic" -> jmap(mitigated),
      "q188_scale" -> obj("base_sec" -> Fixed(q188BaseSec, 3),
        "x10_sec" -> Fixed(q188X10Sec, 3), "x10_docs" -> q188N,
        "x10_candidates" -> q188Cands, "x10_pairs" -> q188Pairs,
        "x10_allpairs_bound" -> q188N * (q188N - 1) / 2),
      "q24_scale" -> obj("bands" -> 4, "band_bits" -> 9,
        "base_sec" -> Fixed(q24Base._1, 3), "x10_sec" -> Fixed(q24X10._1, 3),
        "base_candidates" -> q24Base._2, "x10_candidates" -> q24X10._2,
        "base_pairs" -> q24Base._3, "x10_pairs" -> q24X10._3,
        "base_vecs" -> q24BaseN, "x10_vecs" -> q24X10N,
        "base_allpairs_bound" -> q24BaseN * (q24BaseN - 1) / 2,
        "x10_allpairs_bound" -> q24X10N * (q24X10N - 1) / 2),
      "colloc_bound_demo" -> obj("bound" -> collocBound,
        "exact_raised" -> exactTripped, "sampled_mod16_sec" -> Fixed(sampledSec, 3)),
      "x100" -> obj("copies" -> Copies100,
        "base_subset_sec" -> Fixed(base100, 2), "x100_total_sec" -> Fixed(x100Total, 2),
        "scaling_ratio" -> Fixed(x100Total / base100, 2),
        "drops" -> Obj(drops100.toSeq.sorted), "queries" -> jmap(x100Times)),
      "base_queries" -> jmap(baseTimes), "x10_queries" -> jmap(bigTimes)))))
    spark.stop()
  }
}
