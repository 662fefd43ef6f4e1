package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import Measure.{Fixed, obj, timed}

/** ANN recall artifact (round-8 VERDICT item 2): the approximate kernels
  * are oracle-gated as EXACT because their parameters are pinned, but
  * what a user asks of an ANN index is measured recall@k against the
  * brute-force truth. This main MEASURES it — recall is an empirical
  * property of (data, parameters), never an assumption — sweeping each
  * operator's declared recall knob:
  *
  *   - q18 IVF top-k: `nprobe` (cells searched per query). Truth = the
  *     exact q17 cosine ranking truncated to IVF's k. nprobe = |cells|
  *     must degenerate to recall 1.0 exactly (the self-check that the
  *     probe machinery loses nothing but cell pruning).
  *   - q80 quantized IVF: `nprobe`, against the exact int8 ranking
  *     (q69) — isolates the IVF loss from the quantization loss, which
  *     the q69-vs-q17 relation already pins elsewhere.
  *   - q31 single-band sign-LSH: `bits` (bucket width). Pair recall vs
  *     the exact all-pairs near-dup relation at the gated threshold.
  *     Theory says per-pair capture = prod over planes of (1 - θ/π);
  *     fewer bits = bigger buckets = higher recall, and the sweep must
  *     be monotone non-increasing in bits.
  *   - q42 multi-band sign-LSH: `bandBits` at LshBands fixed bands;
  *     banding buys recall back (1 - (1 - p^r)^b), and at bandBits =
  *     LshBits the q42 pair set is a structural superset of q31's.
  *
  * Precision is 1.0 by construction for the pair operators (survivors
  * re-verify with the exact cosine kernel at the same threshold) and is
  * therefore not swept.
  *
  * Writes `ann_recall.json` + `ANN_RECALL.md` into the cwd and exits
  * nonzero if any GATED configuration misses its floor — the floors the
  * test suite pins at fixture scale (ExtSpec), re-checked here at the
  * artifact's scale so the committed table can't silently drift from
  * the gated claims.
  */
object AnnRecall {

  /** Recall floors for the GATED parameter points (the configurations
    * the oracle queries actually run). ExtSpec pins q18/q80 at sf0.001;
    * the LSH floors are set by this artifact's first measured run and
    * exist to catch regressions, not to restate theory. */
  // x1 floors re-derived round 14 for the promoted production config
  // (nlist ≈ √n, q80 inner-product probing): measured 0.2625 / 0.2325
  // at sf0.1. The old 0.60/0.50 floors described the fixed
  // CentroidMod=50 config, whose recall was an id-aliasing artifact
  // (50 | queries' mod-25 grid → every other query WAS a centroid;
  // neighboring cell counts 37-50 all measure 0.17-0.29). The real
  // recall guard is the gated density series below — clustered data
  // holds ≥0.95 at single-digit nprobe through x1000d.
  val IvfFloor = 0.25
  val QIvfFloor = 0.22
  val SingleBandFloor = 0.25
  val MultiBandFloor = 0.60
  val PqFloor = 0.35

  /** Decade floors (round-10 verdict item 3): the x100 rehearsal proved
    * IVF *cost* scales at fixed k, but nothing proved *recall* survives
    * cells 10x/100x fuller under the FIXED (production-shape) centroid
    * set. These gate the q18/q80 nprobe=2 points on the synthesized
    * 10x and 100x embedding fixtures — set with margin under the first
    * measured run, enforced exit-1 like the base floors, so recall
    * degradation at density shows up as a red artifact, not a surprise
    * at the next data growth. Measured r11: q18 0.9996 at BOTH decades,
    * q80 0.9965 (x10) / 0.8386 (x100) — recall RISES above the base
    * fixture's 0.61/0.55 because the synthesized copies cluster around
    * their base vector, so a query's true top-k are its own near-copies
    * sharing its cell; the honest reading is "denser cells did not hurt
    * the probe arithmetic", not "IVF got better". q80's x100 dip is the
    * quantization grid coarsening relative to the tight copy clusters. */
  val IvfDecadeFloor = 0.80
  val QIvfDecadeFloor = 0.60

  /** The PRODUCTION knob curve (round-11 verdict item 3): the flat
    * decade floors above catch outright recall collapse at the FIXED
    * gated nprobe, but the number an operator actually turns as cells
    * densify is nprobe itself — the q42 "+bits per decade" treatment
    * applied to the probe width. Per decade the artifact measures the
    * MINIMUM nprobe holding recall >= [[HoldTarget]] (ascending sweep,
    * early-stopped — IVF recall is monotone in nprobe, the base sweep's
    * pinned invariant) and gates it <= [[NprobeHoldCeil]]: q80's one
    * monotone-degrading number (0.9965 -> 0.8386 across the r11 decade
    * slide at nprobe=2) becomes "and nprobe=N buys it back", with
    * exit-1 the moment a density decade pushes N past the ceiling.
    * Measured r12: q18 holds at nprobe=1 at BOTH decades, q80 at
    * 1 (x10) / 8 (x100) — q80's x100 hold sits AT the ceiling (recall
    * 0.980 there, with 0.932 at nprobe=4 just under the target), which
    * is the gate doing its job: the int8 grid coarsens against the
    * densifying copy clusters, and one more decade plausibly pushes the
    * knob past 8 and turns this artifact red — the designed signal to
    * re-train centroids or widen the quantizer, not a spec failure
    * today. The BASE fixture's hold point is recorded too but not
    * ceiling-gated: its vectors are near-uniform (no cluster
    * structure), so holding 0.95 there honestly costs most of the 40
    * cells — the no-structure worst case, documented, not a defect. */
  val HoldTarget = 0.95
  val NprobeHoldCeil = 8

  /** The x1000 synthetic points (round-13 verdict item 2): r12's
    * measured curve put q80's fixed-cell hold point AT the ceiling at
    * x100 — the next decade is where the production config was
    * predicted to go red. The artifact now measures that decade TWICE
    * (1000 reps need 10 id bits): as a pure density decade (`x1000d`,
    * perturbation divisor scaled with copies so the copy-cluster
    * diameter stays at the legacy-x100 value — only occupancy grows),
    * where the SCALED config (cells ~ sqrt(n), inner-product probing —
    * see `Similarity.quantizedIvfTopK`) is gated; and under the legacy
    * fixed-divisor formula (`x1000_stretch`, clusters stretch to O(1)
    * per coordinate), the ungated geometry-drift diagnostic where
    * fine-celled IVF of any probe metric measurably collapses and the
    * production answer is a re-train, not a probe knob. */
  val Copies1000 = 1000
  val IdStride1000 = 1024

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet).toMap

  private def meanRecall(truth: Map[Long, Set[Long]],
                         got: Map[Long, Set[Long]]): Double = {
    val per = truth.map { case (q, t) =>
      (got.getOrElse(q, Set.empty[Long]) & t).size.toDouble / t.size }
    per.sum / per.size
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Measure.session("graft-ann-recall")

    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    // the PRODUCTION cell count — round 14: derived nlist ≈ √n (the
    // promoted density-series config), so the x1 sweeps and their
    // gated floors describe exactly what the oracle queries run
    val nCells = emb.filter(
        col("vec_id") % Similarity.derivedCentroidMod(n) === 0)
      .count().toInt

    // ---- truth relations (brute force, computed once each) ----
    val (ivfTruth, tExactTopk) = timed(topkSets(
      Similarity.cosineTopK(emb)
        .filter(col("rank") <= Similarity.IvfTopK)))
    val (qTruth, tExactQTopk) = timed(topkSets(Similarity.quantizedTopK(emb)))
    val (pairTruth, tExactPairs) = timed(pairSet(Similarity.embeddingNearDups(emb)))
    require(ivfTruth.nonEmpty && pairTruth.nonEmpty,
      s"degenerate truth at $sfDir: ${ivfTruth.size} queries, ${pairTruth.size} pairs")

    case class Row(op: String, knob: String, value: Int, recall: Double,
                   sec: Double, gated: Boolean)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]

    // sweeps run through 16/32 as well (round-12): the base fixture's
    // near-uniform vectors make the hold point (first np with recall >=
    // HoldTarget) land high, and the curve should SHOW that, not stop
    // at 8 and leave the base hold undefined
    /** One row per knob value; `sec` times the operator and its recall. */
    def sweep(op: String, knob: String, values: Seq[Int], gated: Int)(
        recallAt: Int => Double): Unit = values.foreach { v =>
      val (recall, sec) = timed(recallAt(v))
      rows += Row(op, knob, v, recall, sec, v == gated)
    }
    def pairRecall(df: DataFrame) = (pairSet(df) & pairTruth).size.toDouble / pairTruth.size
    val probes = Seq(1, 2, 4, 8, 16, 32, nCells).distinct.sorted.filter(_ <= nCells)
    sweep("q18_ivf_topk", "nprobe", probes, Similarity.IvfNProbe)(np =>
      meanRecall(ivfTruth, topkSets(Similarity.ivfTopK(emb, np))))
    sweep("q80_quantized_ivf", "nprobe", probes, Similarity.IvfNProbe)(np =>
      meanRecall(qTruth, topkSets(Similarity.quantizedIvfTopK(emb, np))))
    sweep("q31_signlsh", "bits", Seq(2, 3, 4, 6), Similarity.LshBits)(bits =>
      pairRecall(Similarity.signLshNearDups(emb, bits)))
    sweep("q42_signlsh_multiband", "band_bits", Seq(1, 2, 3), Similarity.LshBits)(bb =>
      pairRecall(Similarity.signLshMultiBand(emb, bb)))
    // q125 PQ: recall is bought by re-rank depth; truth is the exact
    // int8 ranking (q69) — same isolation argument as q80's sweep
    sweep("q125_pq_topk", "rerank", (Seq(8, 16, 32, 64) :+ n.toInt).distinct.sorted,
      Similarity.PqRerank)(c => meanRecall(qTruth, topkSets(Similarity.pqTopK(emb, c))))

    // ---- invariants the sweep itself must satisfy ----
    def series(op: String): Seq[Row] = rows.filter(_.op == op).toSeq
    val ivf = series("q18_ivf_topk")
    require(ivf.sliding(2).forall(w => w(1).recall >= w(0).recall - 1e-9),
      "IVF recall must be monotone non-decreasing in nprobe")
    require(math.abs(ivf.last.recall - 1.0) < 1e-9,
      s"nprobe = |cells| must reproduce the exact ranking, got ${ivf.last.recall}")
    val sb = series("q31_signlsh")
    require(sb.sliding(2).forall(w => w(1).recall <= w(0).recall + 1e-9),
      "single-band recall must be monotone non-increasing in bits")
    val pq = series("q125_pq_topk")
    require(pq.sliding(2).forall(w => w(1).recall >= w(0).recall - 1e-9),
      "PQ recall must be monotone non-decreasing in re-rank depth")
    require(math.abs(pq.last.recall - 1.0) < 1e-9,
      s"rerank = |corpus| must reproduce the exact ranking, got ${pq.last.recall}")
    val floors = Map(
      "q18_ivf_topk" -> IvfFloor, "q80_quantized_ivf" -> QIvfFloor,
      "q31_signlsh" -> SingleBandFloor, "q42_signlsh_multiband" -> MultiBandFloor,
      "q125_pq_topk" -> PqFloor)
    val gatedMisses = rows.filter(r => r.gated && r.recall < floors(r.op))

    // shared by the decade and x1000 sweeps below
    case class HoldPoint(decade: String, op: String, nprobe: Int,
                         recall: Double, sec: Double, gated: Boolean)
    val holdCurve = scala.collection.mutable.ArrayBuffer.empty[HoldPoint]
    val holdRows = scala.collection.mutable.ArrayBuffer.empty[HoldPoint]
    /** Min-nprobe-to-hold sweep: ascending with early stop (IVF recall
      * is monotone in nprobe — the base sweep's require-pinned
      * invariant, so the first point at/above the target IS the
      * minimum). Runs through nprobe = `cap` (every cell = exact
      * search), so a hold point can never be misreported as "never
      * holds"; a miss row records the best MEASURED point's recall AND
      * its sec. `known` seeds already-measured points instead of
      * re-executing them; `gated` marks rows the exit-1 ceiling
      * applies to. */
    def holdSweep(tag: String, op: String, truthM: Map[Long, Set[Long]],
                  known: Map[Int, (Double, Double)], cap: Int,
                  gated: Boolean, run: Int => DataFrame): Unit = {
      var found = false
      var bestRecall = 0.0
      var bestSec = -1.0
      for (np <- (Seq(1, 2, 4, 8, 16, 32) :+ cap).distinct.sorted
             .filter(_ <= cap) if !found) {
        val (r, sec) = known.getOrElse(np, {
          val (got, s) = timed(topkSets(run(np)))
          (meanRecall(truthM, got), s)
        })
        holdCurve += HoldPoint(tag, op, np, r, sec, gated)
        if (bestSec < 0 || r > bestRecall) { bestRecall = r; bestSec = sec }
        if (r >= HoldTarget) {
          found = true
          holdRows += HoldPoint(tag, op, np, r, sec, gated)
        }
      }
      if (!found) holdRows += HoldPoint(tag, op, -1, bestRecall, bestSec, gated)
    }

    // ---- decade rows: recall at the rehearsed 10x / 100x densities ----
    // Same gated parameter point (nprobe = IvfNProbe), PRODUCTION
    // centroid shape (fixed k: the base fixture's centroid set, via
    // centroidMod = CentroidMod * stride — the x100 cost row's config),
    // truth recomputed brute-force per decade. Cells are 10x/100x
    // fuller; this is where fixed-centroid recall would silently rot.
    case class DecadeRow(decade: String, op: String, nVec: Long,
                         recall: Double, sec: Double, truthSec: Double,
                         floor: Double)
    val decadeRows = scala.collection.mutable.ArrayBuffer.empty[DecadeRow]
    val decades = Seq(
      ("x10", "/tmp/graft-sf1-rehearsal",
        ScaleRehearsal.Copies, ScaleRehearsal.IdStride),
      ("x100", "/tmp/graft-sf100-rehearsal",
        ScaleRehearsal.Copies100, ScaleRehearsal.IdStride100))
    for ((tag, dir, copies, stride) <- decades) {
      ScaleRehearsal.synthesize(spark, sfDir, dir, copies, stride)
      val embD = Tables.embeddings(spark, dir)
      val nD = embD.count()
      val cmod = Similarity.CentroidMod.toLong * stride
      // probeByDot = false: q80's decade rows RECORD the legacy fixed-k
      // d²-probed config (their floors were measured under it); the
      // promoted production config is the density series below
      val measured = Seq[(String, () => DataFrame, Double, Int => DataFrame)](
        ("q18_ivf_topk", () => Similarity.cosineTopK(embD)
          .filter(col("rank") <= Similarity.IvfTopK), IvfDecadeFloor,
          np => Similarity.ivfTopK(embD, np, centroidMod = cmod)),
        ("q80_quantized_ivf", () => Similarity.quantizedTopK(embD), QIvfDecadeFloor,
          np => Similarity.quantizedIvfTopK(embD, np, centroidMod = cmod,
            probeByDot = false))).map { case (op, truth, floor, run) =>
        val (truthD, tTruth) = timed(topkSets(truth()))
        val (got, sec) = timed(topkSets(run(Similarity.IvfNProbe)))
        val recall = meanRecall(truthD, got)
        decadeRows += DecadeRow(tag, op, nD, recall, sec, tTruth, floor)
        (op, truthD, recall, sec, run)
      }
      // knob curves at this density, after both decade rows are timed:
      // the already-measured gated point (the decade row) is seeded
      // instead of re-executed
      for ((op, truthD, recall, sec, run) <- measured)
        holdSweep(tag, op, truthD, Map(Similarity.IvfNProbe -> (recall, sec)),
          nCells, gated = true, run)
    }
    val decadeMisses = decadeRows.filter(r => r.recall < r.floor)

    // ---- the DENSITY SERIES + the x1000 point (round-13 item 2) -----
    // r12 measured the fixed-cell production config AT its nprobe
    // ceiling at x100 and predicted red at the next decade. Probing
    // that decade decomposed the slide into two different phenomena:
    //
    //  (a) DENSITY — more copies per cluster at the SAME cluster
    //      diameter. The legacy fixtures' perturbation (rep/1024, rep <
    //      copies) grows the cluster diameter ~10x per decade, so the
    //      legacy x10/x100 rows above conflate occupancy with geometry.
    //      The density series below pins the diameter at the legacy
    //      x100 value (pertDiv scales with copies) and grows ONLY the
    //      occupancy: x10d/x100d/x1000d. On this series the SCALED
    //      config — cells ~ sqrt(n) per the standard nlist ≈ K·sqrt(n)
    //      sizing, probe order the INNER PRODUCT between query and
    //      centroid (the ranking's own metric; d2-probing ranks the
    //      high-norm cells a dot ranking needs LAST) — is GATED
    //      <= NprobeHoldCeil at every point. Measured at probe time:
    //      scaled-dot beats scaled-d2 at every cell count, and holds
    //      at single-digit nprobe through x1000 while d2 plateaus
    //      below target.
    //  (b) GEOMETRY DRIFT — the legacy formula at copies=1000
    //      stretches clusters to O(1) per coordinate while the int8
    //      grid (scaled by the global max) coarsens, so quantized
    //      score TIE CLASSES grow wider than any fine cell: the
    //      ranking's id-tiebreak picks winners uncorrelated with
    //      geometry, fine-celled IVF of ANY probe metric collapses
    //      (measured: scaled-d2 recall 0.06 at x1000-stretch), and
    //      only coarse fraction-of-corpus cells still "hold" — at a
    //      per-probe cost of n/cells, which is no longer an index.
    //      That regime is recorded UNGATED as the x1000_stretch
    //      diagnostic: the production response is re-training
    //      (recluster + requantize against the drifted spread — the
    //      q42 "+bits" analogue is a centroid/grid refresh), not a
    //      probe knob, and the artifact exists to tell the two
    //      regimes apart mechanically.
    //
    // Truth cost is bounded by SAMPLING queries with an odd co-factor
    // (qmod = QueryMod·co): ~60-80 queries spread across ALL reps (a
    // rep-0-only sample measured easier than the legacy all-reps query
    // population), so brute-force truth stays linear in n. The hold
    // point from a sampled query set carries sampling resolution
    // (~1/(3·|Q|) recall steps) — documented in the artifact, and the
    // reason the legacy x10/x100 gated rows keep their full query
    // sets.
    // ceilGated: the nprobe ceiling applies (the TOP density only — the
    // series' low end sits mid-transition out of the base fixture's
    // no-structure regime, where the x1 convention already records that
    // holding the target honestly costs most of the cell set; a ceiling
    // there would gate against the absence of cluster structure, not
    // against density). fullSweep: sweep to |cells| (the stretch
    // diagnostic instead caps at the ceiling — its message is a
    // labeled MISS).
    case class DensityPoint(tag: String, dir: String, copies: Int,
                            stride: Int, pertDiv: Double, qCo: Long,
                            ceilGated: Boolean, fullSweep: Boolean)
    val densitySeries = Seq(
      DensityPoint("x10d", "/tmp/graft-density-x10", 10, 16, 102.4, 13L,
        ceilGated = false, fullSweep = true),
      // x100d = the legacy x100 fixture (same synthesize config — the
      // marker makes the reuse free); only the query sampling differs
      DensityPoint("x100d", "/tmp/graft-sf100-rehearsal",
        ScaleRehearsal.Copies100, ScaleRehearsal.IdStride100, 1024.0, 101L,
        ceilGated = false, fullSweep = true),
      DensityPoint("x1000d", "/tmp/graft-sf1000-density",
        Copies1000, IdStride1000, 10240.0, 1009L,
        ceilGated = true, fullSweep = true),
      DensityPoint("x1000_stretch", "/tmp/graft-sf1000-stretch",
        Copies1000, IdStride1000, 1024.0, 1009L,
        ceilGated = false, fullSweep = false))
    case class SeriesMeta(tag: String, nVec: Long, nQueries: Int,
                          truthSec: Double, fixedCells: Int, scaledCells: Int,
                          pertDiv: Double, qmod: Long)
    val seriesMeta = scala.collection.mutable.ArrayBuffer.empty[SeriesMeta]
    for (p <- densitySeries) {
      // embeddings only (except the reused legacy fixture): these are
      // vector-density fixtures; a 1000-copy documents table would
      // cost minutes and feed nothing
      ScaleRehearsal.synthesize(spark, sfDir, p.dir, p.copies, p.stride,
        withDocuments = p.tag == "x100d", pertDiv = p.pertDiv)
      val embD = Tables.embeddings(spark, p.dir)
      val nD = embD.count()
      val qmodD = Similarity.QueryMod.toLong * p.qCo
      val fixedCmod = Similarity.CentroidMod.toLong * p.stride
      val scaledCmod = math.max(1L, Similarity.CentroidMod.toLong *
        p.stride / math.round(math.sqrt(p.copies.toDouble)))
      val fixedCells = embD.filter(col("vec_id") % fixedCmod === 0).count().toInt
      val scaledCells = embD.filter(col("vec_id") % scaledCmod === 0).count().toInt
      val (truthD, tT) = timed(topkSets(
        Similarity.quantizedTopK(embD, queryMod = qmodD)))
      require(truthD.nonEmpty, s"degenerate ${p.tag} truth: no sampled queries")
      seriesMeta += SeriesMeta(p.tag, nD, truthD.size, tT, fixedCells,
        scaledCells, p.pertDiv, qmodD)
      // fixed-cell production config: recorded for the curve (its
      // stretch-regime row is the diagnostic; its density rows show
      // density alone is benign), never ceiling-gated here — the
      // legacy x10/x100 rows above carry its gates
      holdSweep(p.tag, "q80_quantized_ivf", truthD, Map.empty,
        fixedCells, gated = false,
        np => Similarity.quantizedIvfTopK(embD, np,
          centroidMod = fixedCmod, queryMod = qmodD, probeByDot = false))
      // the stretch diagnostic's sweep is capped AT the ceiling: its
      // message is "does not hold within the gated range" (a labeled
      // MISS row), and running its fine-cell assignment out to the
      // exact point would buy ~25 minutes of wall for no extra
      // information
      val capScaled = if (p.fullSweep) scaledCells else NprobeHoldCeil
      holdSweep(p.tag, "q80_quantized_ivf_scaled", truthD, Map.empty,
        capScaled, gated = p.ceilGated,
        np => Similarity.quantizedIvfTopK(embD, np,
          centroidMod = scaledCmod, queryMod = qmodD, probeByDot = true))
    }

    // base ("x1") hold points come straight off the extended base
    // sweeps — recorded for the curve, NOT ceiling-gated (the base
    // fixture's near-uniform vectors have no cluster structure, so its
    // hold point honestly costs most of the cell set; the gate is about
    // DENSITY decades degrading the knob, which the x10/x100 rows are)
    for (op <- Seq("q18_ivf_topk", "q80_quantized_ivf")) {
      val srs = rows.filter(_.op == op).toSeq
      holdRows += srs.find(_.recall >= HoldTarget)
        .map(r => HoldPoint("x1", op, r.value, r.recall, r.sec, gated = false))
        .getOrElse { val best = srs.maxBy(_.recall)
          HoldPoint("x1", op, -1, best.recall, best.sec, gated = false) }
    }
    // the scaled config's x1 point (cells ~ sqrt(1) = the base cell
    // set, probing by inner product): recorded ungated like the other
    // x1 rows, so the scaled curve has a base anchor too
    holdSweep("x1", "q80_quantized_ivf_scaled", qTruth, Map.empty,
      nCells, gated = false,
      np => Similarity.quantizedIvfTopK(emb, np, probeByDot = true))
    val holdMisses = holdRows.filter(r => r.gated &&
      (r.nprobe < 0 || r.nprobe > NprobeHoldCeil))
    // the second density gate, strict: 1000x density must not RAISE
    // the scaled config's knob above the no-structure base's (measured
    // at sf0.1 it FALLS, 32 -> 4, while the cell count grows 32x — the
    // full x1 -> x10d -> x100d -> x1000d transition is recorded in the
    // table; adjacent points are not exit-gated because a one-grid-step
    // wobble under ~80-query sampling resolution would flake the
    // artifact without informing anyone)
    def scaledHold(tag: String): Option[Int] =
      holdRows.find(h => h.decade == tag && h.op == "q80_quantized_ivf_scaled")
        .map(h => if (h.nprobe < 0) Int.MaxValue else h.nprobe)
    val densityInversion = for {
      base <- scaledHold("x1")
      top <- scaledHold("x1000d") if top > base
    } yield (base, top)

    // ---- artifacts ----
    def holdJson(hs: Seq[HoldPoint]) = hs.map(h => obj("decade" -> h.decade,
      "op" -> h.op, "nprobe" -> h.nprobe, "recall" -> Fixed(h.recall, 4),
      "sec" -> Fixed(h.sec, 2), "gated" -> h.gated))
    val json = Measure.artifact("ann_recall.json", obj(
      "sf" -> sfDir, "n_vectors" -> n, "n_cells" -> nCells,
      "n_queries" -> ivfTruth.size, "n_true_pairs" -> pairTruth.size,
      "truth_sec" -> obj("topk" -> Fixed(tExactTopk, 2),
        "quantized" -> Fixed(tExactQTopk, 2), "pairs" -> Fixed(tExactPairs, 2)),
      "decades" -> decadeRows.map(r => obj("decade" -> r.decade, "op" -> r.op,
        "n_vectors" -> r.nVec, "recall" -> Fixed(r.recall, 4),
        "sec" -> Fixed(r.sec, 2), "truth_sec" -> Fixed(r.truthSec, 2),
        "floor" -> r.floor)),
      "hold_target" -> HoldTarget, "nprobe_hold_ceil" -> NprobeHoldCeil,
      "density_series" -> seriesMeta.map(m => obj("tag" -> m.tag,
        "n_vectors" -> m.nVec, "n_queries" -> m.nQueries,
        "truth_sec" -> Fixed(m.truthSec, 2), "fixed_cells" -> m.fixedCells,
        "scaled_cells" -> m.scaledCells, "pert_div" -> m.pertDiv,
        "query_mod" -> m.qmod)),
      "nprobe_to_hold" -> holdJson(holdRows.toSeq),
      "hold_curve" -> holdJson(holdCurve.toSeq),
      "rows" -> rows.map(r => obj("op" -> r.op, r.knob -> r.value,
        "recall" -> Fixed(r.recall, 4), "sec" -> Fixed(r.sec, 2),
        "gated" -> r.gated))))

    val md = new StringBuilder
    md ++= s"# ANN recall vs brute-force truth\n\n"
    md ++= s"Fixture: `$sfDir` — $n vectors, ${ivfTruth.size} queries, "
    md ++= s"$nCells IVF cells, ${pairTruth.size} exact near-dup pairs "
    md ++= f"(threshold ${Similarity.NearDupThreshold}).%n"
    md ++= f"Brute-force truth cost: top-k $tExactTopk%.1f s, "
    md ++= f"quantized top-k $tExactQTopk%.1f s, all-pairs $tExactPairs%.1f s.%n%n"
    md ++= "Recall@k for the top-k operators is mean per-query overlap with the\n"
    md ++= "exact ranking at the same k; pair recall is the captured fraction of\n"
    md ++= "the exact near-dup relation. Pair precision is 1.0 by construction\n"
    md ++= "(survivors re-verify with the exact cosine kernel). **Gated** marks\n"
    md ++= "the parameter point the oracle queries run at; its floor is enforced\n"
    md ++= "by `graft.AnnRecall` (exit 1 on miss) and at fixture scale by ExtSpec.\n\n"
    md ++= "| operator | knob | value | recall | sec | gated | floor |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach { r =>
      val floor = if (r.gated) f">= ${floors(r.op)}%.2f" else ""
      md ++= f"| ${r.op} | ${r.knob} | ${r.value} | ${r.recall}%.4f "
      md ++= f"| ${r.sec}%.2f | ${if (r.gated) "yes" else ""} | $floor |%n"
    }
    md ++= "\n## Recall at the rehearsed decades\n\n"
    md ++= "Same gated point (nprobe = 2), LEGACY fixed-cell centroid shape\n"
    md ++= "(the pre-round-14 production config — d2-probed, the base fixture's\n"
    md ++= "centroid set), truth recomputed brute-force per decade on the\n"
    md ++= "synthesized 10x/100x embedding fixtures. Kept as the regression\n"
    md ++= "diagnostic the round-13 floors were measured under; the PROMOTED\n"
    md ++= "production config (nlist ~ sqrt(n), inner-product probing) is gated\n"
    md ++= "in the density series below. Cells 10x/100x fuller; the floor\n"
    md ++= "(exit 1 on miss) catches fixed-centroid recall rot at density.\n\n"
    md ++= "| decade | operator | n_vectors | recall | sec | truth sec | floor |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    decadeRows.foreach { r =>
      md ++= f"| ${r.decade} | ${r.op} | ${r.nVec} | ${r.recall}%.4f "
      md ++= f"| ${r.sec}%.2f | ${r.truthSec}%.2f | >= ${r.floor}%.2f |%n"
    }
    md ++= "\n## The knob that holds recall (nprobe_to_hold)\n\n"
    md ++= f"Per density: the MINIMUM nprobe whose recall >= $HoldTarget%.2f against\n"
    md ++= "that density's own brute-force truth (ascending sweep, early stop —\n"
    md ++= "IVF recall is monotone in nprobe). This is the number an operator\n"
    md ++= "actually turns as cells densify; rows marked gated are enforced\n"
    md ++= f"<= $NprobeHoldCeil (exit 1), so a density decade that degrades the knob past\n"
    md ++= "the ceiling reads as a red artifact.\n\n"
    md ++= "READING THE x1 ROWS (they are a convention, not an inversion): the\n"
    md ++= s"base fixture's vectors are near-uniform — no cluster structure —\n"
    md ++= s"so holding $HoldTarget%.2f there honestly costs most of the cell set\n"
    md ++= s"(nprobe_to_hold = $nCells = ALL cells is the expected x1 value). The\n"
    md ++= "x10/x100/x1000 fixtures cluster copies around base vectors, which\n"
    md ++= "is why their hold points are SMALLER than x1's: density added\n"
    md ++= "structure the probe can exploit. The curve does not invert with\n"
    md ++= "density — the x1 row is the no-structure worst case, recorded for\n"
    md ++= "completeness and never ceiling-gated.\n\n"
    md ++= "THE DENSITY SERIES vs THE STRETCH DIAGNOSTIC (round-13): r12\n"
    md ++= "measured the fixed-cell config AT the ceiling at x100 and predicted\n"
    md ++= "red at the next decade. Probing x1000 decomposed that slide into\n"
    md ++= "two phenomena the legacy fixtures conflate (their perturbation,\n"
    md ++= "rep/1024 with rep < copies, grows the copy-cluster DIAMETER ~10x\n"
    md ++= "per decade alongside the occupancy):\n\n"
    md ++= "- `x10d/x100d/x1000d` — pure DENSITY: pertDiv scales with copies,\n"
    md ++= "  pinning the cluster diameter at the legacy-x100 value while\n"
    md ++= "  occupancy grows 10x per point (x100d IS the legacy x100\n"
    md ++= "  fixture). `q80_quantized_ivf_scaled` — cells ~ sqrt(n) (the\n"
    md ++= "  standard nlist ≈ K·sqrt(n) sizing) and probe order the INNER\n"
    md ++= "  PRODUCT between query and centroid, the ranking's own metric —\n"
    md ++= "  carries TWO exit-1 gates: the knob ceiling\n"
    md ++= f"  (nprobe_to_hold <= $NprobeHoldCeil) at the TOP density x1000d, and\n"
    md ++= "  no inversion (x1000d's hold must not exceed x1's). The series\n"
    md ++= "  measures the transition out of the base fixture's no-structure\n"
    md ++= "  regime: the knob FALLS as density grows — 32 of 40 cells at x1\n"
    md ++= "  (80%, the no-structure tax) through the mid-transition x10d/\n"
    md ++= "  x100d points to single digits of 1280 cells at x1000d (<1% of\n"
    md ++= "  cells, comfortably under the ceiling). The low-density points\n"
    md ++= "  are recorded unceilinged for the same reason the x1 rows are:\n"
    md ++= "  a ceiling there would gate against missing cluster structure,\n"
    md ++= "  not against density. Metric-matched probing is load-bearing:\n"
    md ++= "  at the same cell counts, d²-probed sweeps plateau below target\n"
    md ++= "  (d² ranks the high-norm cells a dot ranking needs LAST). The\n"
    md ++= "  fixed-cell rows are recorded ungated: density alone is benign\n"
    md ++= "  for them too, at the fraction-of-corpus per-probe cost the\n"
    md ++= "  scaled config exists to avoid.\n"
    md ++= "- `x1000_stretch` — GEOMETRY DRIFT, ungated diagnostic: the\n"
    md ++= "  legacy formula at copies=1000 stretches clusters to O(1) per\n"
    md ++= "  coordinate while the int8 grid (scaled by the global max)\n"
    md ++= "  coarsens, so quantized-score TIE CLASSES grow wider than any\n"
    md ++= "  fine cell and the ranking's id-tiebreak decouples winners from\n"
    md ++= "  geometry. Fine-celled IVF collapses under EVERY probe metric\n"
    md ++= "  (the scaled row's MISS is measured, not asserted; its sweep is\n"
    md ++= "  capped at the ceiling — the message is 'does not hold in the\n"
    md ++= "  gated range'); only coarse fraction-of-corpus cells still hold,\n"
    md ++= "  which is a scan, not an index. The production response to THIS\n"
    md ++= "  regime is re-training — recluster and requantize against the\n"
    md ++= "  drifted spread (the q42 '+bits per decade' analogue is a\n"
    md ++= "  centroid/grid refresh) — not a probe knob; the artifact's job\n"
    md ++= "  is to tell the two regimes apart mechanically.\n\n"
    md ++= "Density-series truth is computed over ~60-80 queries SAMPLED with\n"
    md ++= "an odd co-factor (all reps covered — a rep-0-only sample measured\n"
    md ++= "easier than the all-reps population; qmods in the JSON), keeping\n"
    md ++= "brute-force truth linear in n. Hold points from a sampled query\n"
    md ++= "set carry sampling resolution of ~1/(3·|Q|) recall steps, which is\n"
    md ++= "why the legacy x10/x100 gated rows above keep their full query\n"
    md ++= "sets and their r12-comparable values.\n\n"
    seriesMeta.foreach { m =>
      md ++= f"- ${m.tag}: ${m.nVec} vectors, ${m.nQueries} sampled queries "
      md ++= f"(qmod ${m.qmod}), truth ${m.truthSec}%.1f s, "
      md ++= f"${m.fixedCells} fixed / ${m.scaledCells} scaled cells, "
      md ++= f"pertDiv ${m.pertDiv}%.1f%n"
    }
    md ++= "\n"
    md ++= "| density | operator | nprobe_to_hold | recall there | sec | gated |\n"
    md ++= "|---|---|---|---|---|---|\n"
    holdRows.sortBy(h => (h.decade, h.op)).foreach { h =>
      val np = if (h.nprobe < 0) "MISS" else h.nprobe.toString
      md ++= f"| ${h.decade} | ${h.op} | $np | ${h.recall}%.4f | ${h.sec}%.2f "
      md ++= f"| ${if (h.gated) "yes" else ""} |%n"
    }
    md ++= "\nDecade recall sits ABOVE the base fixture's gated points because\n"
    md ++= "the synthesized copies cluster around their base vector: a query's\n"
    md ++= "true top-k are its own near-copies, which share its cell. The honest\n"
    md ++= "reading is \"denser cells did not hurt the probe arithmetic\", not\n"
    md ++= "\"IVF got better\"; q80's x100 dip is the int8 grid coarsening\n"
    md ++= "relative to the tight copy clusters.\n"
    md ++= "\nReading the sweeps: IVF recall is monotone in nprobe and hits 1.0\n"
    md ++= "at nprobe = |cells| (pure cell pruning, no other loss). Single-band\n"
    md ++= "LSH recall falls as bits grow (buckets shrink — the cost knob); the\n"
    md ++= s"multi-band variant at the same per-band width (${Similarity.LshBands} bands) buys it\n"
    md ++= "back, q42's pair set being a structural superset of q31's at\n"
    md ++= s"band_bits = ${Similarity.LshBits}. At 100 TB the knobs move the same way; only the\n"
    md ++= "bucket-occupancy curve shifts (size bits ~ log2(n / target bucket)).\n"
    Measure.write("ANN_RECALL.md", md.toString)
    println(json)

    spark.stop()
    val misses = densityInversion.toSeq.map { case (base, top) => s"DENSITY INVERSION: " +
        s"x1000d scaled hold $top > x1 base $base — density RAISED the knob" } ++
      gatedMisses.map(r => f"GATED MISS ${r.op} ${r.knob}=${r.value}: " +
        f"${r.recall}%.4f < ${floors(r.op)}%.2f") ++
      decadeMisses.map(r => f"DECADE MISS ${r.decade} ${r.op}: ${r.recall}%.4f < ${r.floor}%.2f") ++
      holdMisses.map(h => f"HOLD MISS ${h.decade} ${h.op}: nprobe_to_hold=" +
        f"${h.nprobe} exceeds ceil $NprobeHoldCeil (or never holds ${HoldTarget}%.2f)")
    if (misses.nonEmpty) {
      misses.foreach(m => System.err.println(s"[ann-recall] $m"))
      sys.exit(1)
    }
  }
}
