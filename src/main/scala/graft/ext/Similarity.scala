package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (Array[Float] column).
  *
  * Fully distributed: every plan here is a declarative DataFrame plan —
  * no `collect()`, no driver-side kernels. Scoring runs through the
  * native codegen expressions `vec_dot`/`vec_dist2`
  * ([[graft.functions.VectorOps]]), so a similarity join stays inside
  * whole-stage codegen end to end (a Scala-UDF fold was order-of-magnitude
  * slower from per-row boxing — the round-1 lesson that motivated the
  * driver-side kernels these plans replace).
  *
  * Float determinism: both engines cast each element to DOUBLE and fold
  * the products LEFT-TO-RIGHT (VecDot's while-loop, DuckDB `list_reduce`) —
  * same IEEE754 op sequence → bit-identical cosines → identical ranking
  * and identical 6-decimal rounding. Never SUM over an exploded join for
  * these (group-sum order is nondeterministic).
  *
  * Scale shape per query:
  *  - q17 broadcasts the QUERY set (the small side — |V|/QueryMod) and
  *    streams the candidate corpus past it: corpus-side work is a single
  *    embarrassingly-parallel scan however large the corpus grows.
  *  - q18 assigns cells with a broadcast join against the centroid table
  *    + a partial-aggregable argmin (hash agg, map-side combined — no
  *    window sort over |V|·|C| rows), then searches only within a cell.
  *  - q24 is the exact all-pairs kernel (the oracle's semantics); one
  *    side broadcasts, same memory rule as any broadcast join. The
  *    sub-quadratic scale path is q31: sign-LSH buckets first, this
  *    verify kernel per bucket.
  */
object Similarity {

  /** Left-fold dot product (oracle side; Spark runs the same fold inside
    * [[graft.functions.VecDot]] — identical IEEE754 op order). */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  private def duckNorm2(a: String): String = duckDot(a, a)

  /** Left-fold squared L2 distance (oracle side of
    * [[graft.functions.VecDist2]]). */
  private def duckDist2(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** BIGINT-exact left-fold dot for int lists (SQL twin of vec_dot_int). */
  private def duckIntDot(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS BIGINT) * CAST($b[i] AS BIGINT))), (x, y) -> x + y)"

  val TopK = 5
  val QueryMod = 25          // queries = vec_id % 25 == 0
  val CentroidMod = 50       // legacy fixed-cell config (diagnostics/rehearsals)
  val IvfTopK = 3
  val IvfNProbe = 2          // cells searched per query (the recall knob)

  /** PRODUCTION nlist derivation (round 14 — the round-13 density
    * series promoted to the default): centroid stride ≈ √n, so
    * |cells| ≈ n/√n = √n — the standard nlist ≈ K·√n sizing (K = 1)
    * that held recall at single-digit nprobe through the x1000d
    * density decade while the fixed-cell config hit its probe ceiling
    * at x100 (ANN_RECALL.md). Derived from the INDEXED set's vector
    * count at index-build time: per-cell occupancy then grows as √n
    * instead of n, and the probe cost (nprobe·n/cells) stays
    * O(nprobe·√n). The oracle twins derive the identical value in SQL
    * ([[derivedCmodSql]]); sentinel -1 on the operator parameters
    * means "derive" so explicit diagnostic configs (AnnRecall's
    * fixed-cell rows, ScaleRehearsal's stride fixtures) are untouched.
    * Re-train trigger: the derivation fixes OCCUPANCY rot only — under
    * GEOMETRY drift (quantization grid coarsening vs cluster spread,
    * the ungated x1000_stretch diagnostic in ann_recall.json) no probe
    * knob holds and the index must be re-trained (recluster +
    * requantize); operationally that is a new [[IvfIndexKind]] build,
    * which the catalog's fingerprint/kind versioning makes a routine
    * republish, never an in-place mutation. */
  def derivedCentroidMod(n: Long): Long =
    math.max(1L, math.round(math.sqrt(math.max(0L, n).toDouble)))

  /** The SQL twin of [[derivedCentroidMod]]: DuckDB ROUND is
    * half-away-from-zero and Scala math.round is half-up — identical
    * for positive arguments, and √(integer) is never exactly x.5, so
    * the two derivations agree bit-for-bit. `from` is the indexed
    * set's FROM/WHERE clause (e.g. "embeddings" or
    * "embeddings WHERE vec_id % 4 <> 3"). */
  private def derivedCmodSql(from: String): String =
    s"(SELECT GREATEST(1, CAST(ROUND(SQRT(COUNT(*))) AS BIGINT)) FROM $from)"

  /** Catalog kind for memoized corpus row counts (see [[corpusCount]]). */
  private[graft] val CorpusCountKind = "corpus-n-v1"
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Test hook: forget in-JVM counts (on-disk catalog entries survive). */
  private[graft] def resetCountMemo(): Unit = countMemo.clear()

  /** The indexed corpus's row count for nlist derivation WITHOUT a
    * per-query count job (round-14 verdict, latent defect 2): the
    * ad-hoc ANN entries used to run `emb.count()` on every call — a
    * corpus-metadata pass per query that the production plan doesn't
    * need, because n is a property of the INDEXED SET, fixed at
    * index-build time. Resolved like the stored indexes themselves:
    * in-JVM memo → IndexCatalog entry keyed by the corpus's content
    * fingerprint (a tiny `n.txt` payload, read back driver-side with
    * ZERO Spark jobs) → one count job only on the first-ever build,
    * published for every later session. `variant` MUST tag any
    * id-filtered sub-relation (e.g. q155's base split): the content
    * fingerprint is file-derived and deliberately collides across
    * filters of one fixture, which is correct for assignment indexes
    * (a function of the files) but would alias two different counts. */
  private[graft] def corpusCount(emb: DataFrame, variant: String = ""): Long = {
    val spark = emb.sparkSession
    val fp0 = graft.sources.IndexCatalog.contentFingerprint(emb)
    val fp = if (variant.isEmpty) fp0 else s"$fp0:$variant"
    countMemo.computeIfAbsent(fp, { _ =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      def fsOf(p: org.apache.hadoop.fs.Path) =
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dir = graft.sources.IndexCatalog
        .getOrBuild(spark, CorpusCountKind, fp) { d =>
          val n = emb.count() // the ONLY count job, ever, per corpus
          val p = new org.apache.hadoop.fs.Path(d, "n.txt")
          val out = fsOf(p).create(p, true)
          try out.write(n.toString.getBytes(utf8)) finally out.close()
        }
      val p = new org.apache.hadoop.fs.Path(dir, "n.txt")
      val in = fsOf(p).open(p)
      val n = try new String(in.readAllBytes(), utf8).trim.toLong
              finally in.close()
      Long.box(n)
    })
  }

  /** vec_id + embedding + its squared norm (one codegen projection). */
  private def withNorm2(emb: DataFrame): DataFrame = {
    VectorOps.register(emb.sparkSession)
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("norm2", expr("vec_dot(embedding, embedding)"))
  }

  /** Spread the STREAMED side of a broadcast O(|stream|·|bcast|) kernel
    * across the cluster. A quadratic kernel's parallelism equals the
    * stream side's partition count — and the local fixture is ONE small
    * parquet file, so without this the whole n² loop runs in a single
    * task (measured: q24 2.1 s single-task vs 0.4 s spread at sf0.1).
    * At 100 TB a corpus scan has thousands of native splits and this
    * becomes a no-op-ish rebalance; the explicit partition count (not a
    * bare repartition()) also stops AQE from coalescing the tiny row
    * payload back into one partition — the row count is small but the
    * WORK per row is O(|bcast|), which AQE's size-based coalescing
    * cannot see. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  // ---------------------------------------------------------- brute force
  /** Exact top-k cosine neighbors for each query vector. The query subset
    * is broadcast; the candidate corpus streams past it in a
    * BroadcastNestedLoopJoin whose projection (vec_dot + the norm
    * division) is all whole-stage codegen. Top-k per query is the
    * bounded-heap aggregator [[graft.functions.TopKByScore]]: each scan
    * task reduces its pairs to k-row partials map-side, so the shuffle
    * carries |Q|·k rows and NOTHING sorts the |Q|·|C| scored relation
    * (the row_number-window formulation this replaced shuffled and
    * sorted every scored pair — wrong shape at 100x corpus). Rank is
    * recovered by posexploding the k-element result array. Ties break
    * on candidate id inside the aggregator's total order; the 6-decimal
    * rounding happens in the Column layer. */
  def cosineTopK(emb: DataFrame): DataFrame = {
    val v = withNorm2(emb)
    val q = v.filter(col("vec_id") % QueryMod === 0).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("norm2").as("q_norm2"))
    cosineRank(spread(v).join(broadcast(q), col("vec_id") =!= col("q_id")), TopK)
  }

  /** The cosine rank tail q17, q18 and q179 share: score each
    * (query, candidate) row of `pairs` (columns q_id, q_emb, q_norm2,
    * vec_id, embedding, norm2), keep the `k` best per query in the
    * bounded-heap [[graft.functions.BoundedTopK]] aggregator, and
    * posexplode them to ranks 1..k with 6-decimal cosines. */
  private def cosineRank(pairs: DataFrame, k: Int): DataFrame = {
    val topk = graft.functions.BoundedTopK.topK(k)
    pairs.select(col("q_id"), col("vec_id").as("cand_id"),
        (expr("vec_dot(q_emb, embedding)") /
          (sqrt(col("q_norm2")) * sqrt(col("norm2")))).as("cos_raw"))
      .groupBy(col("q_id"))
      .agg(topk(col("cos_raw"), col("cand_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("cand_id"),
              round(col("col.cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  val cosineTopKSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_raw
       |  FROM v q JOIN v c ON q.vec_id % $QueryMod = 0 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, cand_id, round(cos_raw, 6) AS cos_sim
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------ IVF
  /** IVF-style ANN: assign every vector to its nearest centroid (squared
    * L2, deterministic tie-break on centroid id), then answer queries by
    * searching the `nprobe` NEAREST CELLS of each query vector —
    * nprobe is THE recall knob every production IVF index exposes
    * (nprobe = |cells| degenerates to exact search; 1 is the fastest,
    * lowest-recall probe). Recall@k vs the exact q17 ranking is
    * MEASURED by SimilaritySpec, monotone in nprobe, with a pinned
    * floor — not assumed. Centroids here are a deterministic subset
    * (vec_id % CentroidMod == 0) standing in for k-means means — the
    * plumbing (assignment join, multi-cell probe, merged ranking) is
    * the real thing.
    *
    * Assignment = broadcast join against the centroid table + argmin as
    * `min(struct(d2, cent_id))` under a hash aggregate. The struct-min is
    * associative/commutative, so Spark combines it map-side: the
    * |V|·|centroids| scored relation is reduced WITHIN each scan task and
    * never shuffled (contrast a row_number window, which would sort the
    * full cross product). The probe list is the same idea one step
    * wider: the P nearest centroids per query via the bounded-heap
    * [[graft.functions.TopKByScore]] aggregator on -d2 (map-side
    * combined, |Q|·P rows out, no window). Each candidate lives in
    * exactly ONE cell, so the multi-cell union has no duplicates and
    * the final top-k ranks over the union directly.
    *
    * At 100 TB the centroid table comes from a periodic k-means job and
    * `cell` becomes a partition/bucket column of the stored corpus, so a
    * query's nprobe cells are partition pruning, not a join. */
  def ivfTopK(emb: DataFrame, nprobe: Int = IvfNProbe,
              centroidMod: Long = -1L): DataFrame = {
    // -1 = production default: nlist ≈ √n derived from the indexed
    // corpus (see derivedCentroidMod); explicit values are the
    // diagnostic/rehearsal configs
    val cmod = if (centroidMod > 0) centroidMod
               else derivedCentroidMod(corpusCount(emb))
    ivfSearch(emb, nprobe, cmod, live = None)
  }

  /** The IVF search body behind [[ivfTopK]] and [[ivfTopKTombstoned]].
    * Centroids always come from the full corpus; `live`, when given,
    * restricts the rows that are assigned to cells and that issue
    * queries (q179's tombstone filter). */
  private def ivfSearch(emb: DataFrame, nprobe: Int, cmod: Long,
                        live: Option[Column]): DataFrame = {
    val v = withNorm2(emb)
    val cents = v.filter(col("vec_id") % cmod === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val pool = live.fold(v)(p => v.filter(p))
    val assigned = pool.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("norm2"), col("cent_id"),
        expr("vec_dist2(embedding, cent_emb)").as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"),
           first(col("embedding")).as("embedding"),
           first(col("norm2")).as("norm2"))
      .select(col("vec_id"), col("embedding"), col("norm2"),
              col("m.cent_id").as("cell"))
    // P nearest cells per query: bounded heap on -d2 (exact negation —
    // float-deterministic), tie-break on cent_id inside the aggregator
    val topP = graft.functions.BoundedTopK.topK(nprobe)
    val q = pool.filter(col("vec_id") % QueryMod === 0)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm2").as("q_norm2"), col("cent_id"),
        expr("vec_dist2(embedding, cent_emb)").as("d2"))
      .groupBy(col("q_id"))
      .agg(topP(-col("d2"), col("cent_id")).as("probes"),
           first(col("q_emb")).as("q_emb"),
           first(col("q_norm2")).as("q_norm2"))
      .select(col("q_id"), col("q_emb"), col("q_norm2"),
        explode(col("probes.id")).as("cell"))
    cosineRank(assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id")), IvfTopK)
  }

  val ivfTopKSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb FROM v
       |  WHERE vec_id % ${derivedCmodSql("embeddings")} = 0),
       |assigned AS (
       |  SELECT vec_id, embedding, norm2, cell FROM (
       |    SELECT v.vec_id, v.embedding, v.norm2, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${duckDist2("v.embedding", "c.cent_emb")}, c.cent_id) AS arn
       |    FROM v CROSS JOIN cents c) WHERE arn = 1),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT v.vec_id AS q_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${duckDist2("v.embedding", "c.cent_emb")}, c.cent_id) AS prn
       |    FROM v CROSS JOIN cents c WHERE v.vec_id % $QueryMod = 0)
       |  WHERE prn <= $IvfNProbe),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS cand_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_raw
       |  FROM probes p
       |  JOIN v q ON q.vec_id = p.q_id
       |  JOIN assigned c ON c.cell = p.cell AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, cand_id, round(cos_raw, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------- incremental IVF index (q155)
  /** Split: three quarters of vec_ids are the indexed BASE, the last
    * quarter is the arriving DELTA batch. */
  val IvfDeltaMod = 4L

  /** Catalog kind for the stored base cell assignment — version suffix
    * fingerprints the FORMAT (centroid rule, distance kernel): bump on
    * change so old-format entries are never silently probed. v2 =
    * round-14 derived nlist ≈ √n_base (was the fixed CentroidMod=50
    * rule) — exactly the "re-train is a new kind build" path the
    * derivation doc describes. */
  val IvfIndexKind = "ivf-cells-v2"

  /** Test hook: the memoized stored-index path for an input frame. */
  private[graft] def ivfIndexPathForTest(emb: DataFrame): String =
    graft.sources.IndexCatalog.pathForTest(IvfIndexKind,
      graft.sources.IndexCatalog.contentFingerprint(emb))

  /** Assign every vector of `part` to its nearest FIXED centroid — the
    * shared per-row kernel of index build and index maintenance. */
  private def assignCells(part: DataFrame, cents: DataFrame): DataFrame =
    part.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        expr("vec_dist2(embedding, cent_emb)").as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cell"))

  /** q155: INCREMENTAL IVF INDEX MAINTENANCE — the production ANN
    * ingest path (the index-maintenance family's vector member, next to
    * q50's incremental exact dedup, q90's IVM, and q136's incremental
    * SCD2): centroids are FIXED at index-build time (re-clustering is a
    * periodic maintenance op, not an ingest op), the base assignment is
    * a STORED index read back from parquet, and the only per-ingest
    * work is assigning the delta batch against the broadcast centroid
    * table — cost ∝ |delta|·|C|, never a base rescan. Because
    * assignment is per-row against fixed centroids, incremental
    * maintenance is EXACTLY equivalent to a full rebuild — which is
    * what the oracle (and the spec, against an in-memory full
    * recompute) pins, along with the per-cell base/delta accounting a
    * capacity planner watches. The stored index is built once per
    * fixture and cached on disk; every query call re-runs the real
    * delta assignment (bench honesty — the q110 lesson). */
  def incrementalIvf(emb: DataFrame): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val spark = emb.sparkSession
    val base = emb.filter(col("vec_id") % IvfDeltaMod =!= (IvfDeltaMod - 1))
    val delta = emb.filter(col("vec_id") % IvfDeltaMod === (IvfDeltaMod - 1))
    // nlist ≈ √n_base, derived from the INDEXED set (the base) at
    // index-build time — the production sizing (see derivedCentroidMod);
    // delta assignment reuses the build-time centroid set unchanged
    // (fixed centroids are what make incremental == full rebuild)
    val cmod = derivedCentroidMod(corpusCount(base, s"base-mod$IvfDeltaMod"))
    val cents = base.filter(col("vec_id") % cmod === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    // key = the content fingerprint of the FULL input-file set (two
    // differently-filtered frames over one fixture still collide by
    // design: the base/delta split is id-derived, so the index is a
    // function of the files); a file-less in-memory frame gets a
    // per-instance key — rebuilding is safe, silently SHARING another
    // relation's index is not. The persistent catalog makes the stored
    // assignment a real table: a fresh session LOADS it by fingerprint.
    val key = graft.sources.IndexCatalog.contentFingerprint(emb)
    val indexPath = graft.sources.IndexCatalog
      .getOrBuild(spark, IvfIndexKind, key) { dir =>
        assignCells(base, cents).write.mode("overwrite").parquet(dir)
      }
    val stored = spark.read.parquet(indexPath)
      .select(col("vec_id"), col("cell"), lit(1L).as("is_base"))
    val fresh = assignCells(delta, cents)
      .select(col("vec_id"), col("cell"), lit(0L).as("is_base"))
    stored.unionByName(fresh)
      .groupBy(col("cell"))
      .agg(sum(col("is_base")).as("n_base"),
        (count(lit(1)) - sum(col("is_base"))).as("n_delta"),
        count(lit(1)).as("n_total"),
        sum(col("vec_id")).as("sum_ids"))
      .orderBy("cell")
  }

  val incrementalIvfSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
       |  WHERE vec_id % $IvfDeltaMod <> ${IvfDeltaMod - 1}
       |    AND vec_id % ${derivedCmodSql(
             s"embeddings WHERE vec_id % $IvfDeltaMod <> ${IvfDeltaMod - 1}")} = 0),
       |assigned AS (
       |  SELECT vec_id, cell,
       |    CASE WHEN vec_id % $IvfDeltaMod <> ${IvfDeltaMod - 1}
       |         THEN 1 ELSE 0 END AS is_base
       |  FROM (
       |    SELECT v.vec_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${duckDist2("v.embedding", "c.cent_emb")}, c.cent_id) AS arn
       |    FROM embeddings v CROSS JOIN cents c) WHERE arn = 1)
       |SELECT cell, CAST(SUM(is_base) AS BIGINT) AS n_base,
       |  CAST(COUNT(*) - SUM(is_base) AS BIGINT) AS n_delta,
       |  COUNT(*) AS n_total, CAST(SUM(vec_id) AS BIGINT) AS sum_ids
       |FROM assigned
       |GROUP BY cell
       |ORDER BY cell""".stripMargin

  // ------------------------------------- prototype classifier (q156)
  /** Prototype fixed-point scale (e3 — chosen so the 64-dim squared
    * distance (2·127·1e3)²·64 ≈ 4e12 stays far inside a Long). */
  val ProtoScale = 1000L

  /** q156: NEAREST-CLASS-MEAN CLASSIFIER + CONFUSION MATRIX — the
    * cheapest embedding-quality probe a training pipeline runs (are the
    * label clusters linearly separated enough that class MEANS classify
    * well?), and the evaluation consumer of the label column the
    * fixture carries. All-integer: vectors quantize on q69's one global
    * int8 scale, each label's prototype is the floor-scaled mean
    * cent_e3 = (1e3·Σq) div n_label (a declared fixed-point variant,
    * mirrored exactly), and classification is argmin over
    * Σ(1e3·q − cent_e3)² — integer arithmetic, deterministic under any
    * order, ties to the smaller label.
    *
    * Shape: ONE posexplode aggregate builds all prototypes (|labels|·d
    * rows), which re-pack into per-label arrays and BROADCAST; scoring
    * is then a per-row zip_with fold against 10 broadcast rows — the
    * corpus is scanned once, nothing shuffles but the |labels|² matrix.
    * At 100 TB this is the same plan: prototypes are a tiny aggregate,
    * classification rides the scan. */
  def prototypeConfusion(emb: DataFrame): DataFrame = {
    val q = quantized(emb).select(col("vec_id"), col("label"), col("qemb"))
    val protos = q.select(col("label"), posexplode(col("qemb")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("label").as("proto_label"), col("i"),
        expr(s"($ProtoScale * s) div n").as("cent"))
      .groupBy("proto_label")
      .agg(expr("transform(array_sort(collect_list(struct(i, cent))), x -> x.cent)")
        .as("cents"))
    q.crossJoin(broadcast(protos))
      .select(col("vec_id"), col("label"), col("proto_label"), expr(
        s"aggregate(zip_with(qemb, cents, (a, b) -> " +
          s"($ProtoScale * cast(a as bigint) - b) * ($ProtoScale * a - b)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("d2"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("d2"), col("proto_label"))).as("m"))
      .select(col("label").as("true_label"), col("m.proto_label").as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  // lazy: this section precedes QuantRange's declaration in the file,
  // and an eager val would interpolate the still-uninitialized 0 into
  // the SQL at object-init time (silent in Scala — caught by the
  // sf0.01 gate as an every-row-predicts-0 oracle)
  lazy val prototypeConfusionSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |q AS (SELECT vec_id, label, ${duckQuant()} AS qemb
       |      FROM embeddings CROSS JOIN m),
       |qd AS (SELECT vec_id, label,
       |    unnest(generate_series(1, len(qemb))) AS ix, unnest(qemb) AS v
       |  FROM q),
       |proto AS (
       |  SELECT label AS proto_label, ix,
       |    ($ProtoScale * SUM(CAST(v AS BIGINT))) // COUNT(*) AS cent
       |  FROM qd GROUP BY label, ix),
       |scored AS (
       |  SELECT qd.vec_id, qd.label, p.proto_label,
       |    SUM(($ProtoScale * CAST(qd.v AS BIGINT) - p.cent)
       |        * ($ProtoScale * qd.v - p.cent)) AS d2
       |  FROM qd JOIN proto p ON p.ix = qd.ix
       |  GROUP BY qd.vec_id, qd.label, p.proto_label),
       |pred AS (
       |  SELECT vec_id, label AS true_label, proto_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY d2, proto_label) AS rn
       |  FROM scored)
       |SELECT CAST(true_label AS INT) AS true_label,
       |  CAST(pred_label AS INT) AS pred_label, COUNT(*) AS n
       |FROM pred WHERE rn = 1
       |GROUP BY 1, 2
       |ORDER BY true_label, pred_label""".stripMargin

  // ------------------------------------------------- embedding near-dup
  val NearDupThreshold = 0.45

  /** Embedding-cosine near-duplicate detection (the dedup family's vector
    * member): EXACTLY all pairs with cosine >= threshold.
    *
    * One side of the pair space is broadcast (same executor-memory rule
    * as any broadcast join) and the other streams past it in a
    * BroadcastNestedLoopJoin; the vec_dot scoring and threshold filter
    * are codegen projections over the joined rows, so the kernel is a
    * tight generated loop per task — no driver materialization anywhere.
    *
    * Scale path past broadcastable corpora: sign-LSH bucketing first
    * ([[signLshNearDups]], q31 — random-hyperplane signatures, the vector
    * analogue of minhashPairs), with this exact kernel per bucket. */
  def embeddingNearDups(emb: DataFrame): DataFrame =
    exactNearDupPairs(emb, NearDupThreshold).orderBy("id_a", "id_b")

  /** Unordered exact all-pairs plan (the rule-spliceable form of q24:
    * [[RewriteCosineNearDups]] splices this under the caller's plan, so
    * it must not carry a global sort of its own). */
  private[graft] def exactNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val v = withNorm2(emb)
    val a = v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("norm2").as("norm2_a"))
    val b = v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("norm2").as("norm2_b"))
    spread(a).join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("vec_dot(emb_a, emb_b)") /
          (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** Attach the precomputed signature-index column
    * ([[graft.plans.CosineNearDups.LshBandsCol]]): one packed key per
    * band — (band << bandBits) | bandKey, so keys can never collide
    * across bands — from a single fused sign_lsh_sig evaluation. At
    * 100 TB this runs at INGEST and the column is stored with the
    * vectors (that is what "an index table exists" means); here it's
    * the API that arms [[nearDupsAuto]]'s sub-quadratic path. */
  def withLshBands(emb: DataFrame, bands: Int = LshBands,
                   bandBits: Int = LshBits): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val totalBits = bands * bandBits
    require(totalBits <= 63, s"bands*bandBits must fit a BIGINT, got $totalBits")
    val mask = (1L << bandBits) - 1
    emb.withColumn("__sig", expr(s"sign_lsh_sig(embedding, $totalBits)"))
      .withColumn(graft.plans.CosineNearDups.LshBandsCol, expr(
        s"transform(sequence(0, ${bands - 1}), " +
          s"b -> shiftleft(CAST(b AS BIGINT), $bandBits) | " +
          s"(shiftright(__sig, CAST(b AS INT) * $bandBits) & $mask))"))
      .drop("__sig")
  }

  /** Hot-bucket cap for the banded rewrite's candidate join —
    * [[graft.ext.Dedup.MaxLshBucket]]'s discipline at q24's layer. A
    * degenerate bucket (dup-mass corpus, too-narrow band width) holds
    * m postings and contributes m²/2 candidate pairs; with the cap the
    * adversarial bound is n_buckets · cap² instead of n². Sized far
    * above any healthy bucket (production sizing keeps buckets in the
    * tens-to-hundreds: bits ≈ log2(n / target_bucket)), so it only
    * fires when the layout has already gone pathological. */
  val BandedBucketCap = 4096

  /** Unordered banded-LSH candidate join + exact verify over a
    * precomputed `lsh_bands` index column — the sub-quadratic plan
    * [[RewriteCosineNearDups]] swaps in when the index exists. Each
    * pair is emitted by its FIRST matching band only (zip_with over the
    * band-key prefixes — q42's no-distinct emission without needing to
    * know the band bit-width), then verified with the exact codegen
    * cosine at the same threshold.
    *
    * Buckets over `maxBucket` are dropped from candidate expansion
    * BEFORE the self-join, and the truncation is OBSERVABLE through
    * `dropObs` (`dropped_buckets` / `dropped_pairs` ride the bucket-size
    * aggregate as free CollectMetrics — q14's discipline; read with AQE
    * off). Recall contract under an engaged cap: only pairs ALL of
    * whose agreeing bands landed in dropped buckets are lost — exactly
    * the m² work the cap exists to refuse. A pair with ANY surviving
    * agreeing band is still emitted exactly once: the first-match
    * predicate is evaluated against KEPT buckets (dropped band keys
    * don't count as matches), so a healthy later band rescues a pair
    * whose first agreement fell in a capped bucket. Byte-identical
    * payloads are still caught by exact dedup (q13). The bucket-size
    * join adds no exchange: postings are already hash-partitioned on
    * (band, bkey) for the self-join, and the aggregate reuses it. */
  private[graft] def bandedNearDupPairs(
      emb: DataFrame, threshold: Double,
      maxBucket: Int = BandedBucketCap,
      dropObs: Option[org.apache.spark.sql.Observation] = None,
      candObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val bandsCol = graft.plans.CosineNearDups.LshBandsCol
    val v = emb.select(col("vec_id"), col("embedding"), col(bandsCol).as("bands"))
      .withColumn("norm2", expr("vec_dot(embedding, embedding)"))
    val e = v.select(col("vec_id"), col("embedding"), col("norm2"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bkey")))
    val sizes = e.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
    val watched = dropObs.fold(sizes)(o => sizes.observe(o,
      sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"),
      sum(when(col("bsz") > maxBucket, expr("bsz * (bsz - 1) div 2"))
        .otherwise(0L)).as("dropped_pairs")))
    val kept = watched.filter(col("bsz") <= maxBucket).select("band", "bkey")
    val ek = e.join(kept, Seq("band", "bkey"))
    val a = ek.select(col("band"), col("bkey"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm2").as("norm2_a"),
      col("bands").as("bands_a"))
    val b = ek.select(col("band"), col("bkey"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm2").as("norm2_b"),
      col("bands").as("bands_b"))
    // dropped band keys as ONE broadcast array scalar (packed keys are
    // globally unique across bands; the set is small by definition —
    // the cap only fires on already-pathological buckets), so the
    // first-match test can see which prefix agreements actually
    // survived candidate expansion; empty array (cap never engaged)
    // reduces to the plain prefix compare
    val droppedKeys = sizes.filter(col("bsz") > maxBucket)
      .agg(collect_set(col("bkey")).as("dropped_keys"))
    val cand = a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(droppedKeys))
      // first-match: no EARLIER band key agrees IN A KEPT BUCKET
      // (prefix compare over the carried arrays; slice length 0 at
      // band 0 -> vacuously first; a dropped bucket never emitted the
      // pair, so it must not suppress the first surviving band either)
      .filter(expr(
        "NOT exists(zip_with(slice(bands_a, 1, band), slice(bands_b, 1, band), " +
          "(x, y) -> x = y AND NOT array_contains(dropped_keys, x)), p -> p)"))
    // candObs counts the pairs entering EXACT verification (post
    // first-match dedup, pre cosine) — the "machinery vs output"
    // decomposition the scale rehearsal reports; read with AQE off
    val candWatched = candObs.fold(cand)(o =>
      cand.observe(o, count(lit(1)).as("candidates")))
    candWatched
      .select(col("id_a"), col("id_b"),
        (expr("vec_dot(emb_a, emb_b)") /
          (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
  }

  /** DECLARATIVE near-dup search: states "pairs with cosine >=
    * threshold" as a [[graft.plans.CosineNearDups]] logical marker and
    * lets the optimizer rule pick the physical strategy — the exact
    * broadcast kernel, or the banded-LSH plan when the input carries a
    * [[withLshBands]] index column (SURVEY §4's rewrite-rule stretch).
    * The rule is injected by GraftExtensions for `spark.sql.extensions`
    * sessions AND registered here through the public
    * `spark.experimental.extraOptimizations` hook, so the API works on
    * any session. */
  def nearDupsAuto(emb: DataFrame, threshold: Double = NearDupThreshold): DataFrame = {
    val spark = emb.sparkSession
    VectorOps.register(spark)
    ensureRewriteRule(spark)
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.CosineNearDups(
        org.apache.spark.sql.GraftPlanBridge.analyzed(emb), threshold))
      .orderBy("id_a", "id_b")
  }

  private def ensureRewriteRule(spark: SparkSession): Unit = this.synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[graft.plans.RewriteCosineNearDups]))
      spark.experimental.extraOptimizations =
        cur :+ graft.plans.RewriteCosineNearDups(spark)
  }

  val embeddingNearDupsSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${duckDot("a.embedding", "b.embedding")} / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos_raw
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, round(cos_raw, 6) AS cos_sim
       |FROM pairs WHERE cos_raw >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------ sign-LSH
  /** Signature width: 2^LshBits buckets. Few bits = high recall / large
    * buckets; many bits = cheap buckets / low recall (per-bit agreement
    * for a pair at angle θ is 1 - θ/π). 3 bits keeps recall non-trivial
    * on the synthetic fixture while still cutting the candidate space
    * ~8x; production corpora would run wider signatures with multiple
    * bands (the minhash trick) to buy recall back. */
  val LshBits = 3

  /** The pure-SQL HOF form of the signature (kept as the spec reference:
    * the fused [[graft.functions.SignLshSig]] expression must equal it
    * bit for bit). Plane components are LCG steps over the flattened
    * index, scaled to [-0.5, 0.5) — pure integer arithmetic + one
    * divide, expressible identically in both engines, which is what
    * makes the bucketing oracle-checkable: the same text serves the
    * Spark reference below and the oracles' [[duckProj]]. */
  private def planeSql(j: String, i: String): String =
    s"(CAST((CAST(1103515245 AS BIGINT) * (($j) * 4096 + ($i)) + 12345) % 2147483648 AS DOUBLE)" +
      s" / 2147483648.0 - 0.5)"

  /** Oracle-side projection of `embedding` onto plane `p` (left fold,
    * the oracle twin of one plane of [[graft.functions.SignLshSig]]). */
  private def duckProj(p: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len(embedding)), " +
      s"i -> CAST(embedding[i] AS DOUBLE) * ${planeSql(p.toString, "(i - 1)")})), " +
      s"(x, y) -> x + y)"

  /** Sign-LSH near-dup: the sub-quadratic scale path for q24. Each vector
    * gets an [[LshBits]]-bit signature (bit j = sign of the projection
    * onto pseudo-random hyperplane j); only pairs sharing the full
    * signature are scored with the exact cosine kernel. Candidate
    * generation is a hash-partition on the bucket id — O(sum bucket²)
    * instead of O(n²) — and the per-bucket verify is the same broadcast-
    * free equi-join + vec_dot codegen scoring. This trades recall for
    * cost (a qualifying pair at angle θ agrees on one plane with
    * probability 1 - θ/π, so some near-dups land in different buckets) —
    * the classic LSH bargain, bought back in production with multiple
    * signature bands. The oracle mirrors the bucketing exactly, so
    * parity holds by construction rather than by luck. */
  /** The interpreted HOF signature — spec reference for [[SignLshSig]];
    * production path is the fused codegen expression below. */
  def signatureHofColumn: org.apache.spark.sql.Column = {
    def proj(j: Int): String =
      s"aggregate(sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE), " +
        s"(acc, i) -> acc + CAST(element_at(embedding, i + 1) AS DOUBLE) * " +
        planeSql(j.toString, "i") + ")"
    (0 until LshBits).map { j =>
      when(expr(proj(j)) >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** `bits` is THE scale knob: bucket count is 2^bits, so in-bucket
    * pair work grows as (n / 2^bits)^2 per bucket. Production sizing is
    * bits ≈ log2(n / target_bucket_size) — the 10x rehearsal measured
    * the fixed-bits variant going super-linear exactly as that formula
    * predicts, and the +3-bits variant restoring the balance. The
    * oracle-gated default stays [[LshBits]]. */
  def signLshNearDups(emb: DataFrame, bits: Int = LshBits): DataFrame = {
    val v = withNorm2(emb)
    // bucket = fused codegen signature (one while-loop over the array;
    // the bits-wide HOF fold chain above is its spec-checked reference)
    val sig = v.withColumn("bucket", expr(s"sign_lsh_sig(embedding, $bits)"))
    val a = sig.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm2").as("norm2_a"))
    val b = sig.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm2").as("norm2_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("bucket"), col("id_a"), col("id_b"),
        (expr("vec_dot(emb_a, emb_b)") /
          (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))).as("cos_raw"))
      .filter(col("cos_raw") >= NearDupThreshold)
      .select(col("bucket"), col("id_a"), col("id_b"),
              round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  val signLshNearDupsSql: String = {
    val bucket = (0 until LshBits).map { j =>
      s"CASE WHEN ${duckProj(j)} >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2,
       |    CAST($bucket AS BIGINT) AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${duckDot("a.embedding", "b.embedding")} / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos_raw
       |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT bucket, id_a, id_b, round(cos_raw, 6) AS cos_sim
       |FROM pairs WHERE cos_raw >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------- multi-band sign-LSH
  /** Band count for the multi-band variant: [[LshBands]] independent
    * bands of [[LshBits]] planes each (the minhash banding trick applied
    * to random-hyperplane LSH). A pair is a candidate if ANY band's bits
    * all agree — per-band match probability for a pair at angle θ is
    * (1 - θ/π)^r, so b bands lift recall to 1 - (1 - (1-θ/π)^r)^b while
    * per-band buckets stay small. Band 0 uses EXACTLY q31's planes
    * (plane index = band·r + bit, so bits 0..r-1 of the wide signature
    * ARE the single-band signature), which makes the recall guarantee
    * structural: q42's pair set is a superset of q31's by construction,
    * spec-asserted rather than hoped. */
  val LshBands = 4

  /** Multi-band sign-LSH near-dup: q31's recall buy-back. One fused
    * codegen signature of b·r bits per vector, exploded into b
    * (band, band_bits) keys; candidates join per band; a pair is
    * emitted EXACTLY ONCE — by its first matching band — via a
    * generated bit predicate over sig_a XOR sig_b (band j matches iff
    * bits [j·r, (j+1)·r) of the XOR are zero; emit at band j iff no
    * band < j matches). No distinct pass, no post-hoc dedup shuffle —
    * the q36 native-rule emission idea applied to vectors. Survivors
    * run the exact vec_dot verify at the same threshold as q24/q31.
    *
    * Scale: O(sum over bands of bucket²) candidate work, b·n exploded
    * rows shuffled by (band, bits) — never O(n²); the predicate and the
    * verify kernel are whole-stage codegen. */
  def signLshMultiBand(emb: DataFrame, bandBits: Int = LshBits): DataFrame = {
    val totalBits = LshBands * bandBits
    val mask = (1L << bandBits) - 1
    val v = withNorm2(emb)
      .withColumn("sig", expr(s"sign_lsh_sig(embedding, $totalBits)"))
    val banded = v
      .select(col("vec_id"), col("embedding"), col("norm2"), col("sig"),
        explode(sequence(lit(0), lit(LshBands - 1))).as("band"))
      .withColumn("bkey", expr(s"shiftright(sig, band * $bandBits) & $mask"))
    val a = banded.select(col("band"), col("bkey"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm2").as("norm2_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bkey"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm2").as("norm2_b"), col("sig").as("sig_b"))
    // first-matching-band predicate, generated as pure integer codegen
    // (no HOF lambda per pair): x = sig_a XOR sig_b; band j matched iff
    // ((x >> j*r) & mask) = 0; emit here iff every earlier band differs
    val firstMatch = (0 until LshBands).map { j =>
      val earlierDiffer = (0 until j)
        .map(e => s"(shiftright(sig_a ^ sig_b, ${e * bandBits}) & $mask) != 0")
      (s"band = $j" +: earlierDiffer).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr(firstMatch))
      .select(col("id_a"), col("id_b"),
        (expr("vec_dot(emb_a, emb_b)") /
          (sqrt(col("norm2_a")) * sqrt(col("norm2_b")))).as("cos_raw"))
      .filter(col("cos_raw") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  val signLshMultiBandSql: String = {
    // band j's key: r sign bits from planes j*r .. j*r+r-1
    def bandKey(j: Int): String = (0 until LshBits).map { bit =>
      s"CASE WHEN ${duckProj(j * LshBits + bit)} >= 0 THEN ${1L << bit} ELSE 0 END"
    }.mkString("(", " + ", ")")
    val bandCols = (0 until LshBands)
      .map(j => s"${bandKey(j)} AS band$j").mkString(",\n    ")
    val anyBand = (0 until LshBands)
      .map(j => s"a.band$j = b.band$j").mkString(" OR ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2,
       |    $bandCols
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${duckDot("a.embedding", "b.embedding")} / (sqrt(a.norm2) * sqrt(b.norm2)) AS cos_raw
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id AND ($anyBand))
       |SELECT id_a, id_b, round(cos_raw, 6) AS cos_sim
       |FROM pairs WHERE cos_raw >= $NearDupThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------- quantized top-k
  /** Symmetric int8 range for quantized search. */
  val QuantRange = 127

  /** `emb`'s columns plus `qemb`, q69's int8 quantization: ONE GLOBAL
    * symmetric scale s = 127 / corpus max |x| (a 1-row aggregate,
    * broadcast in — no driver collect), floor(x·s + 0.5) clamped to
    * ±[[QuantRange]]. The 1e-30 floor keeps an all-zero corpus at
    * qemb = 0 rather than NaN. Every int8 operator quantizes here;
    * [[duckMaxAbs]] and [[duckQuant]] are the oracle twins. */
  private[graft] def quantized(emb: DataFrame): DataFrame = {
    val r = QuantRange
    val mx = emb.select(max(expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
        "(acc, e) -> greatest(acc, abs(CAST(e AS DOUBLE))))")).as("mx"))
    emb.crossJoin(broadcast(mx))
      .withColumn("qemb", expr(
        s"transform(embedding, e -> CAST(greatest(-$r, least($r, " +
          s"floor(CAST(e AS DOUBLE) * ($r.0 / greatest(mx, 1e-30d)) + 0.5d))) AS INT))"))
      .drop("mx")
  }

  /** The body of the `m` CTE every int8 oracle opens with: the corpus
    * max |x| as `mx`. */
  private def duckMaxAbs: String =
    """SELECT MAX(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))),
      |    (x, y) -> greatest(x, y))) AS mx
      |  FROM embeddings""".stripMargin

  /** Oracle twin of [[quantized]]'s `qemb` over `m`'s `mx`; `sep` is the
    * whitespace before `floor` (q153's oracle breaks the line there). */
  private def duckQuant(sep: String = " "): String = {
    val r = QuantRange
    s"list_transform(embedding, e -> CAST(greatest(-$r, least($r,$sep" +
      s"floor(CAST(e AS DOUBLE) * ($r.0 / greatest(mx, 1e-30)) + 0.5))) AS INT))"
  }

  /** q73's exact-integer cell assignment, shared by q80, q83 and q73:
    * the quantized corpus with `self` = q·q, scored against the int8
    * centroids (vec_id % cmod == 0) as d² = a·a − 2a·c + c·c from three
    * `vec_dot_int` kernels. Returns that scored relation and each
    * vector's nearest cell (struct-min argmin, ties to the smaller
    * centroid id, map-side combined — no window). */
  private def intCells(emb: DataFrame, cmod: Long): (DataFrame, DataFrame) = {
    VectorOps.register(emb.sparkSession)
    val v = quantized(emb).select(col("vec_id"), col("qemb"))
      .withColumn("self", expr("vec_dot_int(qemb, qemb)"))
    val cents = v.filter(col("vec_id") % cmod === 0)
      .select(col("vec_id").as("cent_id"), col("qemb").as("cent_q"),
              col("self").as("cent_self"))
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("qemb"), col("self"), col("cent_id"),
        col("cent_self"),
        (col("self") - expr("2 * vec_dot_int(qemb, cent_q)") +
          col("cent_self")).as("d2"))
    val assigned = scored.groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cent_id"))).as("m"),
           first(col("qemb")).as("qemb"), first(col("self")).as("self"))
      .select(col("vec_id"), col("qemb"), col("self"), col("m.cent_id").as("cell"))
    (scored, assigned)
  }

  /** Int8-quantized max-inner-product top-k — the memory/bandwidth scale
    * path for ANN: every embedding is quantized to int8 with ONE GLOBAL
    * symmetric scale (s = 127 / corpus max |x|, a 1-row broadcast — a
    * per-vector scale would make integer scores incomparable across
    * candidates), and search ranks by the EXACT INTEGER dot of the
    * quantized vectors ([[graft.functions.VecDotInt]], a codegen BIGINT
    * fold). Integer addition is associative, so the ranking is
    * bit-deterministic under ANY evaluation order — quantized search is
    * hash-exact by construction, with none of the float fold-order
    * care the cosine kernels need.
    *
    * Why it matters at 100 TB: int8 vectors are 4x narrower than
    * float32 through every broadcast, shuffle, and cache line, and the
    * int dot kernel is the SIMD-friendly inner loop every production
    * ANN engine ships. Quantization itself is a once-per-row projection
    * (floor(x·s + 0.5), clamped — identical ppm semantics in both
    * engines); at scale it runs at ingest and the int8 column is what's
    * stored. Same broadcast-queries + bounded-heap shape as q17; recall
    * vs the exact float ranking is spec-measured, not assumed. */
  def quantizedTopK(emb: DataFrame, queryMod: Long = QueryMod): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val v = quantized(emb).select(col("vec_id"), col("qemb"))
    val q = v.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qemb").as("q_qemb"))
    val topk = graft.functions.BoundedTopK.topK(TopK)
    spread(v).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        expr("vec_dot_int(q_qemb, qemb)").as("qdot"))
      .groupBy(col("q_id"))
      .agg(topk(col("qdot").cast("double"), col("cand_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("cand_id"), col("col.cos").cast("long").as("qdot"))
      .orderBy("q_id", "rank")
  }

  val quantizedTopKSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |scored AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS cand_id, ${duckIntDot("a.qemb", "b.qemb")} AS qdot
       |  FROM v a JOIN v b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, qdot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS INT) AS rank, cand_id, CAST(qdot AS BIGINT) AS qdot
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------- covariance matrix (q147)
  /** Exact-integer bound for the covariance numerator: |n·gram − s_i·s_j|
    * ≤ n²·QuantRange², Long-exact to n ≈ 23.9 M vectors — enforced
    * loudly (the packGuard discipline). Past it, covariance drops to the
    * documented double path as an explicit decision, never a silent
    * wraparound. */
  val CovMaxN: Long =
    math.sqrt(Long.MaxValue.toDouble /
      (QuantRange.toLong * QuantRange)).toLong - 1

  /** q147: EMBEDDING COVARIANCE / GRAM MATRIX — the statistic behind
    * PCA-whitening, decorrelated PQ codebooks, and embedding-drift
    * audits. Over q69's int8 quantization (one global symmetric scale),
    * every accumulation is integer — associative, order-independent,
    * hash-exact by construction — and the covariance numerator
    * cov_num(i,j) = n·gram(i,j) − s_i·s_j (gram = Σ q_i·q_j, s = Σ q)
    * is exact in a Long to [[CovMaxN]] rows.
    *
    * Shape (the 100 TB argument): ONE scan through the
    * [[graft.functions.GramMatrix]] typed aggregator — every partition
    * folds its vectors' full second-moment contribution (count, d sums,
    * d(d+1)/2 products) into a single flat long buffer, and the shuffle
    * carries exactly ONE ~17 KB buffer per map partition, the textbook
    * distributed-PCA layout. (The first implementation exploded
    * d(d+1)/2 structs per row through a generator and relied on
    * map-side partial aggregation; the aggregator halved its wall time
    * at sf0.1 — measured in BASELINE.md — by never materializing
    * per-row cells at all.) Cell unpacking is a generator over the
    * one-row result. Cost is the n·d² multiply-adds the Gram matrix
    * IS, at scan locality; integer additions commute, so the result is
    * bit-identical under any partitioning. */
  def covarianceMatrix(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // fixed corpus dimension (schema-level fact; one-row driver read)
    val d = emb.select(expr("size(embedding)")).head.getInt(0)
    val v = quantized(emb).select(col("qemb"))
    // ONE scan, one buffer per partition through the shuffle — the
    // [[graft.functions.GramMatrix]] layout (n, sums, upper triangle);
    // replaced the per-row d²/2-struct generator, measured in BASELINE.md
    val buf = v.select(col("qemb")).as[Array[Int]]
      .select(new graft.functions.GramMatrix.Agg(d).toColumn)
      .toDF("buf")
    // unpack the single buffer row into the (i, j, gram, cov_num) cells
    val off = s"cast(2 + $d + i * $d - (i * (i - 1)) div 2 + (j - i) as int)" // 1-based
    buf.select(
        when(element_at(col("buf"), 1) > CovMaxN,
          raise_error(concat(
            lit(s"covarianceMatrix: n exceeds the exact-Long bound $CovMaxN: "),
            element_at(col("buf"), 1).cast("string"))))
          .otherwise(element_at(col("buf"), 1)).as("n"),
        col("buf"))
      .select(col("n"), col("buf"), explode(expr(
        s"flatten(transform(sequence(0, ${d - 1}), i -> " +
          s"transform(sequence(i, ${d - 1}), j -> " +
          s"named_struct('i', i, 'j', j, 'gram', element_at(buf, $off), " +
          s"'si', element_at(buf, 2 + i), 'sj', element_at(buf, 2 + j)))))")).as("c"))
      .select(col("c.i").cast("int").as("i"), col("c.j").cast("int").as("j"),
        col("c.gram").as("gram"),
        (col("n") * col("c.gram") - col("c.si") * col("c.sj")).as("cov_num"))
      .orderBy("i", "j")
  }

  val covarianceMatrixSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |nn AS (SELECT COUNT(*) AS n FROM v),
       |qd AS (
       |  SELECT vec_id, unnest(generate_series(1, len(qemb))) AS ix,
       |    unnest(qemb) AS q
       |  FROM v),
       |s AS (SELECT ix, SUM(q) AS s FROM qd GROUP BY ix),
       |g AS (
       |  SELECT a.ix AS i1, b.ix AS j1, SUM(CAST(a.q AS BIGINT) * b.q) AS gram
       |  FROM qd a JOIN qd b ON a.vec_id = b.vec_id AND a.ix <= b.ix
       |  GROUP BY 1, 2)
       |SELECT CAST(g.i1 - 1 AS INT) AS i, CAST(g.j1 - 1 AS INT) AS j,
       |  CAST(g.gram AS BIGINT) AS gram,
       |  CAST(nn.n * g.gram - si.s * sj.s AS BIGINT) AS cov_num
       |FROM g JOIN s si ON si.ix = g.i1 JOIN s sj ON sj.ix = g.j1 CROSS JOIN nn
       |ORDER BY i, j""".stripMargin

  // --------------------------------------------- PCA projection (q153)
  /** Power-iteration rounds for the dominant eigenvector (pinned, like
    * q149's budget — mirrored by the oracle's unrolled CTEs). */
  val PcaIters = 3
  /** Eigenvector fixed-point scale (e6). */
  val PcaVecScale = 1000000L

  /** q153: PCA PROJECTION — each embedding's coordinate along the
    * corpus's dominant variance direction, the first step of
    * whitening / dimensionality reduction / drift visualization, and
    * the consumer of q147's covariance matrix. The dominant
    * eigenvector comes from [[PcaIters]] integer power-iteration
    * rounds over the d×d covariance relation:
    *
    *   A(i,j)  = cov_num(i,j) div n          (symmetric expand of q147)
    *   v₀      = 1e6 (all dims);  m = A·v;   v' = (1e6·m) div max|m|
    *
    * — matrix-vector products are join+aggregate over the ≤d² relation,
    * the renormalization divides by the max-|component| (a 1-row
    * broadcast) so every value stays Long-exact; floor division is
    * pinned and the oracle replays the identical rounds, so the
    * eigenvector is bit-identical (sign and all) in both engines.
    * The corpus-side step — the part that is actually 100 TB-sized —
    * is a single broadcast-join projection p = Σ q_i·v_i per row: the
    * d-row eigenvector broadcasts, the corpus is scanned once, nothing
    * shuffles. Scale bounds: |A| ≤ n·127² and |v| ≤ 1e6, so the
    * matvec |m| ≤ d·n·127²·1e6 — Long-exact only to n ≈ 8.9 M rows at
    * d = 64, enforced LOUDLY below (the packGuard discipline; past it
    * the fixed point must drop to e3 as an explicit decision);
    * |p| ≤ d·127·1e6 is always safe. */
  def pcaProjection(emb: DataFrame): DataFrame = {
    val cov = covarianceMatrix(emb) // (i, j, gram, cov_num), i <= j
    val nRows = emb.agg(count(lit(1)).as("n"))
    // loud bound: d * (n * QuantRange^2) * PcaVecScale must fit a Long
    val d0 = emb.select(expr("size(embedding)")).head.getInt(0)
    val pcaMaxN: Long =
      Long.MaxValue / (d0.toLong * QuantRange * QuantRange * PcaVecScale)
    val a = cov.crossJoin(broadcast(nRows))
      .select(col("i"), col("j"),
        when(col("n") > pcaMaxN,
          raise_error(concat(
            lit(s"pcaProjection: n exceeds the exact-Long matvec bound $pcaMaxN: "),
            col("n").cast("string"))))
          .otherwise(expr("cov_num div n")).as("a"))
    val aFull = a.unionByName(
      a.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("a")))
      .localCheckpoint(true)
    var v = aFull.select(col("i").as("vi")).distinct()
      .select(col("vi"), lit(PcaVecScale).as("v"))
    for (_ <- 1 to PcaIters) {
      val m = aFull.join(v.select(col("vi").as("j"), col("v")), "j")
        .groupBy("i").agg(sum(expr("a * v")).as("m"))
      val mx = m.agg(max(abs(col("m"))).as("mx"))
      v = m.crossJoin(broadcast(mx))
        .select(col("i").as("vi"),
          expr(s"($PcaVecScale * m) div greatest(mx, cast(1 as bigint))").as("v"))
        .localCheckpoint(true)
    }
    val q = quantized(emb).select(col("vec_id"), col("qemb"))
    val vArr = broadcast(v.groupBy().agg(
      expr("transform(array_sort(collect_list(struct(vi, v))), s -> s.v)").as("vs")))
    q.crossJoin(vArr)
      .select(col("vec_id"), expr(
        "aggregate(zip_with(qemb, vs, (a, b) -> cast(a as bigint) * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("proj"))
      .orderBy("vec_id")
  }

  val pcaProjectionSql: String = {
    def round(prev: String, curM: String, cur: String) =
      s"""$curM AS (
         |  SELECT af.i, SUM(af.a * p.v) AS m
         |  FROM af JOIN $prev p ON p.vi = af.j GROUP BY af.i),
         |$cur AS (
         |  SELECT m.i AS vi, ($PcaVecScale * m.m)
         |    // greatest((SELECT MAX(abs(m)) FROM $curM), 1) AS v
         |  FROM $curM m)""".stripMargin
    s"""WITH cov AS (SELECT * FROM ($covarianceMatrixSql)),
       |nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |a0 AS (SELECT i, j, cov_num // nn.n AS a FROM cov CROSS JOIN nn),
       |af AS (SELECT i, j, a FROM a0
       |       UNION ALL SELECT j, i, a FROM a0 WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS vi, $PcaVecScale AS v FROM af),
       |${round("v0", "m1", "v1")},
       |${round("v1", "m2", "v2")},
       |${round("v2", "m3", "v3")},
       |m AS ($duckMaxAbs),
       |q AS (SELECT vec_id,
       |    ${duckQuant("\n      ")} AS qemb
       |  FROM embeddings CROSS JOIN m),
       |qd AS (SELECT vec_id, unnest(generate_series(1, len(qemb))) AS ix,
       |    unnest(qemb) AS qv FROM q)
       |SELECT qd.vec_id,
       |  CAST(SUM(CAST(qd.qv AS BIGINT) * v3.v) AS BIGINT) AS proj
       |FROM qd JOIN v3 ON v3.vi = qd.ix - 1
       |GROUP BY qd.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- quantized IVF
  /** Quantized IVF top-k — the production ANN composite: q69's int8
    * quantization (one global symmetric scale, 4x narrower vectors),
    * q73's exact-integer centroid assignment (d² = a·a − 2a·c + c·c via
    * three `vec_dot_int` kernels, struct-min argmin — map-side
    * combined), q18's nprobe multi-cell probing (bounded heap on −d²),
    * and ranking by the exact BIGINT inner product. Every score is
    * integer arithmetic, so the whole search is hash-exact under ANY
    * partitioning — the float fold-order care q17 needs simply doesn't
    * exist here. This is the shape a 100 TB vector corpus actually
    * serves: int8 cells as partition pruning, integer SIMD dot as the
    * inner loop, nprobe as the recall knob.
    *
    * Density-scaling knobs (round-13; the r12 ANN_RECALL table showed
    * the FIXED-cell production config at its nprobe ceiling at x100
    * density, i.e. one more decade turns the artifact red by design):
    *  - `centroidMod` already scales the CELL COUNT: pick it so cells
    *    grow ~ sqrt(n) per density decade (the standard nlist ≈
    *    K·sqrt(n) sizing) and per-cell occupancy stops densifying.
    *  - `probeByDot = true` ranks the probed cells by the INNER
    *    PRODUCT between query and centroid instead of by −d². The
    *    ranking metric IS inner product, so metric-matched probing
    *    targets the cells whose members can actually win the ranking —
    *    under d² probing, high-norm candidates (exactly the ones that
    *    win a dot-product ranking) sit in cells the query ranks LAST,
    *    which is the measured x100 recall slide. Assignment stays
    *    min-d² (balanced, norm-insensitive cells — probing is where
    *    the metric must match, assignment is where occupancy must stay
    *    bounded). The probe key (self + cent_self − d2) = 2·q·c is
    *    exact Long arithmetic recovered from terms the plan already
    *    computes, so the default-config plan is unchanged.
    *  - `queryMod` subsamples the query set (recall artifacts at
    *    synthetic densities where every-25th-id queries would make the
    *    brute-force truth quadratic); the gated oracle point keeps the
    *    default.
    * AnnRecall measures the hold curve of this scaled config against
    * the fixed-cell production config per density decade. */
  def quantizedIvfTopK(emb: DataFrame, nprobe: Int = IvfNProbe,
                       centroidMod: Long = -1L,
                       queryMod: Long = QueryMod,
                       probeByDot: Boolean = true): DataFrame = {
    VectorOps.register(emb.sparkSession)
    // round-14 production defaults, promoted from the round-13 density
    // series (ANN_RECALL.md): nlist ≈ √n (centroidMod sentinel -1 →
    // derive) and INNER-PRODUCT probing — the ranking metric here IS
    // max-inner-product, so metric-matched probing is the default;
    // explicit centroidMod / probeByDot=false are the legacy
    // fixed-cell d²-probed diagnostic config
    val cmod = if (centroidMod > 0) centroidMod
               else derivedCentroidMod(corpusCount(emb))
    val (scoredCents, assigned) = intCells(emb, cmod)
    // nprobe nearest cells per query: integer d² is exact in the heap's
    // Double key (bounded by dims·(2r)² ≪ 2^53); probeByDot swaps the
    // key for 2·q·c = self + cent_self − d2 (same bound, same exactness)
    val topP = graft.functions.BoundedTopK.topK(nprobe)
    val probeKey =
      if (probeByDot) (col("self") + col("cent_self") - col("d2")).cast("double")
      else -col("d2").cast("double")
    val q = scoredCents.filter(col("vec_id") % queryMod === 0)
      .groupBy(col("vec_id").as("q_id"))
      .agg(topP(probeKey, col("cent_id")).as("probes"),
           first(col("qemb")).as("q_qemb"))
      .select(col("q_id"), col("q_qemb"), explode(col("probes.id")).as("cell"))
    val topk = graft.functions.BoundedTopK.topK(TopK)
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        expr("vec_dot_int(q_qemb, qemb)").as("qdot"))
      .groupBy(col("q_id"))
      .agg(topk(col("qdot").cast("double"), col("cand_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("cand_id"), col("col.cos").cast("long").as("qdot"))
      .orderBy("q_id", "rank")
  }

  val quantizedIvfTopKSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v0 AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |v AS (SELECT vec_id, qemb, ${duckIntDot("qemb", "qemb")} AS self FROM v0),
       |cents AS (SELECT vec_id AS cent_id, qemb AS cent_q, self AS cent_self
       |          FROM v WHERE vec_id % ${derivedCmodSql("embeddings")} = 0),
       |sc AS (
       |  SELECT v.vec_id, v.qemb, v.self, c.cent_id, c.cent_self,
       |    v.self - 2 * ${duckIntDot("v.qemb", "c.cent_q")} + c.cent_self AS d2
       |  FROM v CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, qemb, cell FROM (
       |    SELECT vec_id, qemb, cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS arn
       |    FROM sc) WHERE arn = 1),
       |probes AS (
       |  -- probe order = the ranking's own metric: 2·q·c recovered as
       |  -- self + cent_self − d2 (the engine's probeByDot key), DESC
       |  SELECT q_id, cell FROM (
       |    SELECT vec_id AS q_id, cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY self + cent_self - d2 DESC, cent_id) AS prn
       |    FROM sc WHERE vec_id % $QueryMod = 0)
       |  WHERE prn <= $IvfNProbe),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS cand_id, ${duckIntDot("q.qemb", "c.qemb")} AS qdot
       |  FROM probes p
       |  JOIN v q ON q.vec_id = p.q_id
       |  JOIN assigned c ON c.cell = p.cell AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, cand_id, qdot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS INT) AS rank, cand_id, CAST(qdot AS BIGINT) AS qdot
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- product quantization
  /** PQ geometry: the 64-dim fixture vectors split into [[PqSub]]
    * subspaces of [[PqSubDim]] dims each; codewords per subspace are the
    * subvectors of the deterministic centroid subset
    * (vec_id % CentroidMod == 0), standing in for per-subspace k-means
    * exactly as the IVF centroid table does. */
  val PqSub = 8
  val PqSubDim = 8
  /** ADC candidates re-ranked exactly per query — PQ's recall knob. */
  val PqRerank = 32

  /** q125: product-quantization ANN with asymmetric-distance candidate
    * generation and exact re-rank — the memory-bound billion-vector scale
    * path (IVF prunes WHICH vectors are scored; PQ shrinks WHAT a score
    * costs). Each int8 vector (q69's one global scale) is encoded as
    * [[PqSub]] one-byte codes — the argmin codeword per subspace, a
    * broadcast join + struct-min exactly like the IVF assignment, run
    * once at ingest in production. A query never touches the encoded
    * corpus's raw floats: its per-subspace distance table (|codebook|
    * entries × [[PqSub]] subspaces, the ADC lookup table every PQ engine
    * precomputes) is broadcast, and the approximate distance of a
    * candidate is the SUM of [[PqSub]] table lookups — O(M) integer adds
    * per candidate instead of O(D) multiplies, over codes 8x narrower
    * than the int8 vectors (64x vs float32). The top [[PqRerank]]
    * candidates per query then re-rank with the exact integer dot on the
    * full vectors — the standard two-stage shape (recall is bought back
    * by re-rank depth, measured in ANN_RECALL.md, not assumed). Every
    * score is integer arithmetic: encode, ADC and re-rank are hash-exact
    * under any partitioning. */
  /** The PQ front half every PQ operator shares — quantize (q69's one
    * global int8 scale), explode into [[PqSub]] subvectors, take the
    * deterministic codebook, score every (subvector, codeword) pair in
    * its subspace, and encode by argmin. Returns (v, cb, scored, codes);
    * q125 continues into ADC search, q222 into the Lloyd update — ONE
    * definition, no drift. */
  private def pqQuantSubs(emb: DataFrame, centroidMod: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    VectorOps.register(emb.sparkSession)
    val v = quantized(emb).select(col("vec_id"), col("qemb"))
    // one pass explodes each vector into its PqSub subvectors
    val subStructs = (0 until PqSub).map { m =>
      struct(lit(m).as("m"),
        slice(col("qemb"), m * PqSubDim + 1, PqSubDim).as("sub"))
    }
    val subs = v
      .select(col("vec_id"), explode(array(subStructs: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
      .withColumn("sub_self", expr("vec_dot_int(sub, sub)"))
    val cb = subs.filter(col("vec_id") % centroidMod === 0)
      .select(col("m").as("cb_m"), col("vec_id").as("cw_id"),
              col("sub").as("cw"), col("sub_self").as("cw_self"))
    // d² of every (subvector, codeword) pair in the same subspace — the
    // shared relation both the encoder and the query LUTs slice from
    val scored = subs.join(broadcast(cb), col("m") === col("cb_m"))
      .select(col("vec_id"), col("m"), col("cw_id"),
        (col("sub_self") - expr("2 * vec_dot_int(sub, cw)") +
          col("cw_self")).as("d2"))
    // encode: argmin codeword per (vector, subspace) — map-side combined
    val codes = scored.groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cw_id"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.cw_id").as("code"))
    (v, cb, scored, codes)
  }

  def pqTopK(emb: DataFrame, rerank: Int = PqRerank,
             centroidMod: Long = CentroidMod): DataFrame = {
    val (v, _, scored, codes) = pqQuantSubs(emb, centroidMod)
    // per-query ADC lookup tables (|Q|·M·|codebook| rows, broadcast)
    val lut = scored.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("m").as("l_m"),
              col("cw_id"), col("d2").as("d2q"))
    val adc = codes.join(broadcast(lut),
        col("m") === col("l_m") && col("code") === col("cw_id") &&
          col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("cand_id"))
      .agg(sum(col("d2q")).as("adc_d2"))
    // top-`rerank` ADC candidates per query: bounded heap on -d² (exact
    // in the Double key — bounded by dims·(2r)² ≪ 2^53), ties to the
    // smaller candidate id inside the aggregator's total order
    val topC = graft.functions.BoundedTopK.topK(rerank)
    val cands = adc.groupBy("q_id")
      .agg(topC(-col("adc_d2").cast("double"), col("cand_id")).as("cs"))
      .select(col("q_id"), explode(col("cs.id")).as("cand_id"))
    val q = v.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("qemb").as("q_qemb"))
    val topk = graft.functions.BoundedTopK.topK(TopK)
    v.join(broadcast(cands), col("vec_id") === col("cand_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("cand_id"),
        expr("vec_dot_int(q_qemb, qemb)").as("qdot"))
      .groupBy("q_id")
      .agg(topk(col("qdot").cast("double"), col("cand_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("cand_id"), col("col.cos").cast("long").as("qdot"))
      .orderBy("q_id", "rank")
  }

  /** SQL twin of [[pqQuantSubs]] — the CTE prefix (quantize → subvectors
    * → codebook → pair scores → argmin codes) both q125 and q222 open
    * with. ONE text, so the assignment definition cannot drift. */
  private def pqCommonSqlCtes: String = {
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |subs AS (
       |  SELECT vec_id, g.m AS m,
       |    qemb[g.m * $PqSubDim + 1 : g.m * $PqSubDim + $PqSubDim] AS sub
       |  FROM v, generate_series(0, ${PqSub - 1}) g(m)),
       |subs2 AS (SELECT vec_id, m, sub, ${duckIntDot("sub", "sub")} AS sub_self
       |          FROM subs),
       |cb AS (SELECT m, vec_id AS cw_id, sub AS cw, sub_self AS cw_self
       |       FROM subs2 WHERE vec_id % $CentroidMod = 0),
       |sc AS (
       |  SELECT s.vec_id, s.m, c.cw_id,
       |    s.sub_self - 2 * ${duckIntDot("s.sub", "c.cw")} + c.cw_self AS d2
       |  FROM subs2 s JOIN cb c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, cw_id AS code FROM (
       |    SELECT vec_id, m, cw_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cw_id) AS rn
       |    FROM sc) WHERE rn = 1)""".stripMargin
  }

  val pqTopKSql: String =
    s"""$pqCommonSqlCtes,
       |lut AS (SELECT vec_id AS q_id, m, cw_id, d2 AS d2q
       |        FROM sc WHERE vec_id % $QueryMod = 0),
       |adc AS (
       |  SELECT l.q_id, c.vec_id AS cand_id, SUM(l.d2q) AS adc_d2
       |  FROM codes c JOIN lut l
       |    ON l.m = c.m AND l.cw_id = c.code AND c.vec_id <> l.q_id
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q_id, cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, cand_id) AS rn
       |    FROM adc) WHERE rn <= $PqRerank),
       |rr AS (
       |  SELECT ca.q_id, ca.cand_id, ${duckIntDot("q.qemb", "c.qemb")} AS qdot
       |  FROM cands ca
       |  JOIN v q ON q.vec_id = ca.q_id
       |  JOIN v c ON c.vec_id = ca.cand_id),
       |ranked AS (
       |  SELECT q_id, cand_id, qdot,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, cand_id) AS rank
       |  FROM rr)
       |SELECT q_id, CAST(rank AS INT) AS rank, cand_id, CAST(qdot AS BIGINT) AS qdot
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------ PQ codebook training
  /** Offset keeping hash-fold terms positive (|cent| ≤ 127·ProtoScale). */
  val PqHashOffset = 130000L
  /** Fold modulus for the centroid report hash (the corpus-wide 1e9+7). */
  val PqHashMod = 1000000007L

  /** One Lloyd update of the PQ codebook — the TRAINING step q125's
    * search assumes (q125 samples its codewords like the IVF centroid
    * table; production codebooks are k-means-refined per subspace, and
    * this is that refinement as one shuffle): assign every subvector to
    * its nearest codeword (THE SAME argmin relation q125 encodes with —
    * [[pqQuantSubs]], one definition), then recompute each codeword as
    * the elementwise mean of its assigned subvectors in [[ProtoScale]]
    * fixed point. Reports per (subspace, code): assignment count, a
    * base-31 fold of the new centroid (the vector itself stays an
    * intermediate — the report row is fixed-width), and shift_d2 — the
    * squared fixed-point distance the codeword moved, the convergence
    * signal a training loop watches.
    *
    * Scale: the corpus-sized relations are the subvector explode and one
    * (vec, subspace)-keyed argmin — both map-side-combinable aggregates
    * over ONE scan; everything after lives on the (M · |codebook|)-sized
    * model side. Codewords with zero assignments (possible only when a
    * duplicate codeword loses every tie) drop from the report in both
    * engines identically. */
  def pqTrainStep(emb: DataFrame): DataFrame = {
    val (v, cb, _, codes) = pqQuantSubs(emb, CentroidMod)
    // re-derive subvector values for the mean by re-exploding v (the
    // same cheap projection the front half used — no extra scan state)
    val subStructs = (0 until PqSub).map { m =>
      struct(lit(m).as("m"),
        slice(col("qemb"), m * PqSubDim + 1, PqSubDim).as("sub"))
    }
    val subVals = v
      .select(col("vec_id"), explode(array(subStructs: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    val dims = subVals.join(codes, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy("m", "code", "i")
      .agg(sum(col("x").cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("m"), col("code"), col("i"), col("n"),
        expr(s"($ProtoScale * s) div n").as("cent"))
    val cvec = dims.groupBy("m", "code")
      .agg(expr("transform(array_sort(collect_list(struct(i, cent))), x -> x.cent)")
        .as("cents"), min(col("n")).as("n_assigned"))
    cvec.join(broadcast(cb),
        col("m") === col("cb_m") && col("code") === col("cw_id"))
      .select(col("m"), col("code"), col("n_assigned"),
        expr(s"aggregate(cents, CAST(0 AS BIGINT), " +
          s"(acc, c) -> (acc * 31 + c + $PqHashOffset) % $PqHashMod)").as("cent_hash"),
        expr(s"aggregate(zip_with(cents, cw, (a, b) -> " +
          s"(a - $ProtoScale * CAST(b AS BIGINT)) * (a - $ProtoScale * b)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("shift_d2"))
      .orderBy("m", "code")
  }

  val pqTrainStepSql: String =
    s"""$pqCommonSqlCtes,
       |asg AS (
       |  SELECT s.m, c.code, s.vec_id, s.sub
       |  FROM subs s JOIN codes c ON c.vec_id = s.vec_id AND c.m = s.m),
       |dims AS (
       |  SELECT m, code, g.i AS i, CAST(sub[g.i] AS BIGINT) AS x
       |  FROM asg, generate_series(1, $PqSubDim) g(i)),
       |cents AS (
       |  SELECT m, code, i, ($ProtoScale * SUM(x)) // COUNT(*) AS cent,
       |    COUNT(*) AS n
       |  FROM dims GROUP BY 1, 2, 3),
       |cvec AS (
       |  SELECT m, code, list(cent ORDER BY i) AS cents, MIN(n) AS n_assigned
       |  FROM cents GROUP BY 1, 2)
       |SELECT cv.m, cv.code, CAST(cv.n_assigned AS BIGINT) AS n_assigned,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), cv.cents),
       |    (acc, c) -> (acc * 31 + c + $PqHashOffset) % $PqHashMod) AS BIGINT) AS cent_hash,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(generate_series(1, $PqSubDim),
       |      i -> (cv.cents[i] - $ProtoScale * CAST(cb.cw[i] AS BIGINT))
       |         * (cv.cents[i] - $ProtoScale * CAST(cb.cw[i] AS BIGINT)))),
       |    (x, y) -> x + y) AS BIGINT) AS shift_d2
       |FROM cvec cv JOIN cb ON cb.m = cv.m AND cb.cw_id = cv.code
       |ORDER BY cv.m, cv.code""".stripMargin

  // ------------------------------------------------- hard negatives
  /** q127: hard-negative mining for contrastive training — for each
    * query document, the top-k most-similar candidates BY EMBEDDING
    * excluding its TEXTUAL near-duplicates (any doc sharing a MinHash
    * LSH band with the query, [[graft.ext.Dedup.minhashBands]]). This is
    * the standard retrieval-training recipe: negatives must be hard
    * (embedding-close, else the gradient is uninformative) but must not
    * be false negatives (paraphrases/mirrors of the anchor, which the
    * band relation catches by construction — same signal q14 dedups on).
    *
    * Shape at 100 TB: one corpus scan computes bands, one scan scores
    * embeddings — the exclusion relation is (query bands ⋈ corpus bands),
    * small because the query set is small, and is applied as a BROADCAST
    * anti-join inside the scoring scan, so nothing new shuffles: the
    * plan is exactly q17's plus one codegen-friendly hash lookup per
    * scored pair. Cross-modal by construction (text decides what's
    * banned, embeddings decide what's hard) — the doc_id = vec_id
    * alignment is the audited q55 contract.
    *
    * `n_banned` carries each query's excluded-candidate count into the
    * oracle hash: the fixture's band collisions rarely intersect a
    * top-5 (random text vs random embeddings), so without it a broken
    * exclusion join would pass on ranking alone; with it the band
    * relation is pinned row by row. ExtSpec additionally manufactures
    * an embedding-closest textual near-dup and proves it excluded. */
  def hardNegatives(emb: DataFrame, docs: DataFrame): DataFrame = {
    val v = withNorm2(emb)
    val q = v.filter(col("vec_id") % QueryMod === 0).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("norm2").as("q_norm2"))
    val bands = graft.ext.Dedup.minhashBands(docs)
    val qb = bands.filter(col("doc_id") % QueryMod === 0)
      .select(col("doc_id").as("qb_id"), col("band").as("qb_band"),
              col("band_key").as("qb_key"))
    val banned = bands.join(broadcast(qb),
        col("band") === col("qb_band") && col("band_key") === col("qb_key") &&
          col("doc_id") =!= col("qb_id"))
      .select(col("qb_id").as("b_q"), col("doc_id").as("b_cand"))
      .distinct()
    val bannedCounts = banned.groupBy(col("b_q").as("bc_q"))
      .agg(count(lit(1)).as("bc_n"))
    val topk = graft.functions.BoundedTopK.topK(TopK)
    spread(v).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .join(broadcast(banned),
        col("q_id") === col("b_q") && col("vec_id") === col("b_cand"),
        "left_anti")
      .select(col("q_id"), col("vec_id").as("cand_id"),
        (expr("vec_dot(q_emb, embedding)") /
          (sqrt(col("q_norm2")) * sqrt(col("norm2")))).as("cos_raw"))
      .groupBy(col("q_id"))
      .agg(topk(col("cos_raw"), col("cand_id")).as("top"))
      .join(broadcast(bannedCounts), col("q_id") === col("bc_q"), "left")
      .select(col("q_id"), coalesce(col("bc_n"), lit(0L)).as("n_banned"),
              posexplode(col("top")))
      .select(col("q_id"), col("n_banned"),
              (col("pos") + 1).cast("int").as("rank"),
              col("col.id").as("cand_id"),
              round(col("col.cos"), 6).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  val hardNegativesSql: String =
    s"""WITH ${Dedup.duckSigCtes("documents")},
       |${Dedup.duckBandsCte()},
       |banned AS (
       |  SELECT q.doc_id AS b_q, c.doc_id AS b_cand
       |  FROM bands q JOIN bands c
       |    ON q.band = c.band AND q.band_key = c.band_key
       |   AND q.doc_id % $QueryMod = 0 AND c.doc_id <> q.doc_id
       |  GROUP BY 1, 2),
       |banned_counts AS (
       |  SELECT b_q, COUNT(*) AS bc_n FROM banned GROUP BY 1),
       |v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_raw
       |  FROM v q JOIN v c ON q.vec_id % $QueryMod = 0 AND q.vec_id <> c.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM banned bn
       |                    WHERE bn.b_q = q.vec_id AND bn.b_cand = c.vec_id)),
       |ranked AS (
       |  SELECT q_id, cand_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT r.q_id, COALESCE(bc.bc_n, 0) AS n_banned, r.rank, r.cand_id,
       |  round(r.cos_raw, 6) AS cos_sim
       |FROM ranked r LEFT JOIN banned_counts bc ON bc.b_q = r.q_id
       |WHERE r.rank <= $TopK
       |ORDER BY r.q_id, r.rank""".stripMargin

  // ------------------------------------------------- semantic dedup
  /** Within-cell quantized cosine threshold for q83. Fixture similarity
    * tops out ~0.48 (random-ish synthetic vectors), so 0.44 marks the
    * genuinely-closest pairs as semantic duplicates; production corpora
    * run 0.9+. */
  val SemDedupThreshold = 0.44

  /** Semantic dedup (SemDeDup, Abbas et al. 2023 shape): embedding-space
    * near-duplicate removal made sub-quadratic by CLUSTER-SCOPING the
    * pairwise search — quantize (q69's one global int8 scale), assign
    * every vector to its nearest centroid cell (q73's exact-integer
    * struct-argmin, map-side combined), then compare pairs ONLY within a
    * cell via one co-partitioned equi-join on `cell`. The O(n²) kernel
    * becomes Σ|cell|² — with k cells of even size that is n²/k, and the
    * cell count is the scale knob exactly as in IVF search. No cartesian
    * anywhere: the pair generator is a hash join on the cell key.
    *
    * Similarity is the quantized cosine — exact BIGINT dot over int8
    * codes divided by the exact integer norms' product: every input to
    * the one float expression is exact, so both engines compute the
    * SAME double and the θ-comparison can never disagree. Keeper policy
    * is greedy-by-id (drop b iff some same-cell a<b has cos ≥ θ): the
    * min-id member of every duplicate set survives, one pass, no
    * iteration. Output is a full-corpus verdict: cell, keep flag, dup
    * count, and the best evidence partner (highest cos, ties to the
    * smaller id via the bounded-heap total order). */
  def semanticDedup(emb: DataFrame, centroidMod: Long = CentroidMod): DataFrame = {
    val (_, assigned) = intCells(emb, centroidMod)
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("qemb").as("qa"), col("self").as("sa"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("qemb").as("qb"), col("self").as("sb"))
    // greatest(self, 1): an all-zero quantization (every |e| < mx/254)
    // would otherwise divide by zero — NaN ordering differs across
    // engines, so the guard must exist HERE and in the oracle.
    val hits = a.join(b, "cell").filter(col("id_a") < col("id_b"))
      .select(col("id_b"), col("id_a"),
        (expr("vec_dot_int(qa, qb)") /
          (sqrt(greatest(col("sa"), lit(1L))) * sqrt(greatest(col("sb"), lit(1L)))))
          .as("cos_q"))
      .filter(col("cos_q") >= SemDedupThreshold)
    val top1 = graft.functions.BoundedTopK.topK(1)
    val dups = hits.groupBy(col("id_b"))
      .agg(count(lit(1)).as("n_dups"), top1(col("cos_q"), col("id_a")).as("best"))
      .select(col("id_b").as("vec_id"), col("n_dups"),
        col("best")(0).getField("id").as("dup_of"),
        round(col("best")(0).getField("cos"), 6).as("dup_cos"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        when(col("dup_of").isNull, 1).otherwise(0).as("keep"),
        col("dup_of"), col("dup_cos"))
      .orderBy("vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v0 AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |v AS (SELECT vec_id, qemb, ${duckIntDot("qemb", "qemb")} AS self FROM v0),
       |cents AS (SELECT vec_id AS cent_id, qemb AS cent_q, self AS cent_self
       |          FROM v WHERE vec_id % $CentroidMod = 0),
       |assigned AS (
       |  SELECT vec_id, qemb, self, cell FROM (
       |    SELECT v.vec_id, v.qemb, v.self, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.self - 2 * ${duckIntDot("v.qemb", "c.cent_q")} + c.cent_self,
       |                 c.cent_id) AS arn
       |    FROM v CROSS JOIN cents c) WHERE arn = 1),
       |hits AS (
       |  SELECT * FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |      ${duckIntDot("a.qemb", "b.qemb")} /
        (sqrt(greatest(a.self, 1)) * sqrt(greatest(b.self, 1))) AS cos_q
       |    FROM assigned a JOIN assigned b
       |      ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |  WHERE cos_q >= $SemDedupThreshold),
       |dups AS (SELECT id_b AS vec_id, COUNT(*) AS n_dups FROM hits GROUP BY id_b),
       |best AS (
       |  SELECT id_b AS vec_id, id_a AS dup_of, round(cos_q, 6) AS dup_cos FROM (
       |    SELECT id_b, id_a, cos_q,
       |      ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY cos_q DESC, id_a) AS rn
       |    FROM hits) WHERE rn = 1)
       |SELECT s.vec_id, s.cell, coalesce(d.n_dups, 0) AS n_dups,
       |  CASE WHEN b.dup_of IS NULL THEN 1 ELSE 0 END AS keep,
       |  b.dup_of, b.dup_cos
       |FROM assigned s
       |LEFT JOIN dups d ON d.vec_id = s.vec_id
       |LEFT JOIN best b ON b.vec_id = s.vec_id
       |ORDER BY s.vec_id""".stripMargin

  // ------------------------------------------- embedding outlier pruning
  /** q104: embedding-space OUTLIER pruning — flag documents whose
    * embedding sits far from their own source's centroid (the
    * CLIP-score/DataComp-style curation filter: mislabeled, off-topic,
    * or junk examples are distance outliers in embedding space). The
    * whole score path is exact integer arithmetic so both engines agree
    * bit for bit:
    *
    *  1. quantize with the q69 global int8 scale;
    *  2. per-source centroid DIMENSION-PARALLEL (q73's mergeable shape:
    *     posexplode → sum per (source, dim) → `c_d = sum div n`), then
    *     assemble each source's centroid array with an ORDER-PINNED
    *     collect (`sort_array(collect_list(struct(dim, c_d)))`) — a
    *     |sources|-row table, broadcast back;
    *  3. score = exact BIGINT dot of the doc's int8 codes against its
    *     centroid, normalized by the exact integer norms — ONE float
    *     expression over exact inputs, floored to an e6 integer;
    *  4. the outlier floor is each source's own discrete p10 over the
    *     score histogram (the q84 aggregate-walk — the window sorts
    *     sources × distinct-scores rows, never the corpus).
    *
    * Scale: one corpus scan for sums, one corpus-sized exchange of
    * (source, dim, val) partials, one broadcast join, one histogram.
    * Nothing pairwise anywhere — this is the linear-cost sibling of
    * q83's pairwise dedup. */
  def embeddingOutliers(emb: DataFrame, docs: DataFrame): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val v = quantized(emb).select(col("vec_id").as("doc_id"), col("qemb"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val cents = v
      .select(col("source"), posexplode(col("qemb")).as(Seq("dim", "qv")))
      .groupBy("source", "dim")
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
      .select(col("source"), col("dim"), expr("s div n").as("cd"))
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("dim"), col("cd")))).as("pairs"))
      .select(col("source"),
        expr("transform(pairs, p -> CAST(p.cd AS INT))").as("cent"))
      .withColumn("cent_self", expr("vec_dot_int(cent, cent)"))
    val scored = v.join(broadcast(cents), Seq("source"))
      .select(col("doc_id"), col("source"),
        floor(expr("vec_dot_int(qemb, cent)") /
          (sqrt(greatest(expr("vec_dot_int(qemb, qemb)"), lit(1L))) *
           sqrt(greatest(col("cent_self"), lit(1L)))) * 1e6d)
          .cast("long").as("cos_e6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("cos_e6")
    val thresholds = scored.groupBy("source", "cos_e6")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .filter(col("cum") * 10 >= col("n"))
      .groupBy("source")
      .agg(min(col("cos_e6")).as("p10_e6"))
    scored.join(broadcast(thresholds), Seq("source"))
      .select(col("doc_id"), col("source"), col("cos_e6"), col("p10_e6"),
        when(col("cos_e6") < col("p10_e6"), 1).otherwise(0).as("outlier"))
      .orderBy("doc_id")
  }

  val embeddingOutliersSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (
       |  SELECT d.doc_id, d.source, ${duckQuant()} AS qemb
       |  FROM embeddings e CROSS JOIN m
       |  JOIN documents d ON d.doc_id = e.vec_id),
       |flat AS (
       |  SELECT source, CAST(i - 1 AS INT) AS dim, qemb[i] AS qv FROM (
       |    SELECT source, qemb, unnest(generate_series(1, len(qemb))) AS i
       |    FROM v)),
       |cd AS (
       |  SELECT source, dim, CAST(SUM(qv) // COUNT(*) AS BIGINT) AS cd
       |  FROM flat GROUP BY source, dim),
       |cents AS (
       |  SELECT source, list(CAST(cd AS INT) ORDER BY dim) AS cent
       |  FROM cd GROUP BY source),
       |cself AS (
       |  SELECT source, cent, ${duckIntDot("cent", "cent")} AS cent_self FROM cents),
       |scored AS (
       |  SELECT v.doc_id, v.source,
       |    CAST(floor(${duckIntDot("v.qemb", "c.cent")} /
       |      (sqrt(greatest(${duckIntDot("v.qemb", "v.qemb")}, 1)) *
       |       sqrt(greatest(c.cent_self, 1))) * 1e6) AS BIGINT) AS cos_e6
       |  FROM v JOIN cself c ON c.source = v.source),
       |hist AS (
       |  SELECT source, cos_e6, COUNT(*) AS c FROM scored GROUP BY source, cos_e6),
       |cum AS (
       |  SELECT source, cos_e6,
       |    SUM(c) OVER (PARTITION BY source ORDER BY cos_e6) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM hist),
       |thresholds AS (
       |  SELECT source, MIN(cos_e6) AS p10_e6 FROM cum
       |  WHERE cum * 10 >= n GROUP BY source)
       |SELECT s.doc_id, s.source, s.cos_e6, t.p10_e6,
       |  CASE WHEN s.cos_e6 < t.p10_e6 THEN 1 ELSE 0 END AS outlier
       |FROM scored s JOIN thresholds t ON t.source = s.source
       |ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------- quantized k-means step
  /** One k-means/IVF TRAINING iteration over the int8-quantized corpus —
    * the job that periodically refreshes q18's centroid table. Runs
    * entirely in exact integer arithmetic so the oracle agrees bit for
    * bit (float k-means sums are partition-order dependent — the same
    * reason q69 quantizes before ranking):
    *
    *  1. quantize every embedding with the q69 global scale;
    *  2. assign each vector to the centroid minimizing the EXACT integer
    *     squared distance d² = a·a − 2a·c + c·c (three `vec_dot_int`
    *     kernels; argmin = `min(struct(d2, cent_id))`, associative and
    *     map-side combined — q18's no-window assignment);
    *  3. re-estimate centroids DIMENSION-PARALLEL: posexplode the
    *     quantized vectors to (cell, dim, val) and sum per (cell, dim) —
    *     integer sums are mergeable under any partitioning, the shuffle
    *     carries cells × dims partial rows, and the final state is
    *     O(cells · dims) however large the corpus.
    *
    * Output is the relational form (cell, dim, n_members, sum_q,
    * mean_q) — the array re-assembly is presentation, not compute, and
    * a relational centroid table is what the next assignment join
    * consumes anyway. At 100 TB this is the canonical mergeable-
    * aggregate shape: one corpus scan, one (cells × dims)-wide
    * exchange, no sort anywhere. */
  def kmeansStep(emb: DataFrame, centroidMod: Long = CentroidMod): DataFrame = {
    val (_, assigned) = intCells(emb, centroidMod)
    assigned
      .select(col("cell"), posexplode(col("qemb")).as(Seq("dim", "val")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n_members"),
           sum(col("val")).as("sum_q"))
      .select(col("cell"), col("dim").cast("int").as("dim"),
        col("n_members"), col("sum_q"),
        expr("sum_q div n_members").as("mean_q"))
      .orderBy("cell", "dim")
  }

  val kmeansStepSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v0 AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |v AS (SELECT vec_id, qemb, ${duckIntDot("qemb", "qemb")} AS self FROM v0),
       |cents AS (SELECT vec_id AS cent_id, qemb AS cent_q, self AS cent_self
       |          FROM v WHERE vec_id % $CentroidMod = 0),
       |assigned AS (
       |  SELECT vec_id, qemb, cell FROM (
       |    SELECT v.vec_id, v.qemb, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY v.self - 2 * ${duckIntDot("v.qemb", "c.cent_q")} + c.cent_self,
       |                 c.cent_id) AS arn
       |    FROM v CROSS JOIN cents c) WHERE arn = 1),
       |flat AS (
       |  SELECT cell, CAST(i - 1 AS INT) AS dim, qemb[i] AS val FROM (
       |    SELECT cell, qemb, unnest(generate_series(1, len(qemb))) AS i
       |    FROM assigned))
       |SELECT cell, dim, COUNT(*) AS n_members,
       |  CAST(SUM(val) AS BIGINT) AS sum_q,
       |  CAST(SUM(val) // COUNT(*) AS BIGINT) AS mean_q
       |FROM flat GROUP BY cell, dim
       |ORDER BY cell, dim""".stripMargin

  // ------------------------------------------------------------ wiring
  // --------------------------------------- JL random projection (q170)
  /** Input dim the pinned sign matrix covers (loudly enforced on the
    * data, q147's discipline) and the projected output dim. */
  val JlInDim = 64
  val JlOutDim = 16

  /** The ±1 projection matrix, PINNED by derivation rather than stored:
    * s(j, i) = +1 iff the first md5 nibble of "i|j" is even. Both
    * engines get the same literal (inlined below / into the oracle), so
    * there is no random state to ship — the property a 1000-executor
    * re-run of a projection pass depends on. */
  def jlSign(j: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$j".getBytes("UTF-8"))
    if (((d(0) >> 4) & 1) == 0) 1L else -1L
  }
  private lazy val jlMatrix: Array[Array[Long]] =
    Array.tabulate(JlOutDim, JlInDim)((j, i) => jlSign(j, i))

  /** q170: JOHNSON–LINDENSTRAUSS RANDOM PROJECTION + distance-distortion
    * audit — the DATA-INDEPENDENT dimensionality reduction next to
    * q153's PCA: no covariance pass, no training, no model state — the
    * matrix is a pure function of (i, j), so at 100 TB the reduction is
    * a single stateless map over the corpus (PCA needs the q147 gram
    * aggregate first, and its axes silently rot as the distribution
    * drifts; a JL sketch never does). Achlioptas (2003) showed ±1
    * entries suffice — which over q69's int8 quantization makes the
    * ENTIRE pipeline integer: proj_j = Σ_i s(j,i)·q_i is an exact fold,
    * |proj| ≤ 64·127 so i64 never strains, and the audit's squared
    * distances are exact BIGINTs in both engines (a float JL gate could
    * never hash-match).
    *
    * The output IS the audit — for the q17-style sample pairs, original
    * 64-dim quantized L2² against projected 16-dim L2² with the E[‖Px‖²]
    * = k·‖x‖² unbiasedness scaling: ratio_bp = 10000·dist_proj² div
    * (k·dist_orig²) should concentrate near 10000, and hash-gating the
    * per-pair ratios pins matrix, projection and distances all at once
    * (identical quantized vectors → sentinel −1, never a 0-division).
    * The spec asserts the concentration; the oracle replays the
    * identical integers. */
  def jlProjectionAudit(emb: DataFrame): DataFrame = {
    val q = quantized(emb)
      .select(col("vec_id"),
        when(expr(s"size(embedding) != $JlInDim"),
          raise_error(concat(lit(s"jl projection is pinned to d=$JlInDim, got "),
            expr("cast(size(embedding) as string)"))))
          .otherwise(col("qemb")).as("qemb"))
    val projCols = (0 until JlOutDim).map { j =>
      val signs = jlMatrix(j).mkString("array(", "L, ", "L)")
      expr(s"aggregate(zip_with(qemb, $signs, (q, s) -> CAST(q AS BIGINT) * s), " +
        "0L, (acc, x) -> acc + x)").as(s"p$j")
    }
    val p = q.select(col("vec_id") +: col("qemb") +: projCols: _*)
      .withColumn("pvec", array((0 until JlOutDim).map(j => col(s"p$j")): _*))
      .select("vec_id", "qemb", "pvec")
    val a = p.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("vec_a"), col("qemb").as("qa"), col("pvec").as("pa"))
    val b = p.filter(col("vec_id") % QueryMod === 1)
      .select(col("vec_id").as("vec_b"), col("qemb").as("qb"), col("pvec").as("pb"))
    a.join(broadcast(b), col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        expr("aggregate(zip_with(qa, qb, (x, y) -> CAST(x - y AS BIGINT) * (x - y)), " +
          "0L, (acc, v) -> acc + v)").as("dist_orig2"),
        expr("aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, v) -> acc + v)").as("dist_proj2"))
      .withColumn("ratio_bp",
        expr(s"CASE WHEN dist_orig2 = 0 THEN -1L " +
          s"ELSE (10000 * dist_proj2) div ($JlOutDim * dist_orig2) END"))
      .orderBy("vec_a", "vec_b")
  }

  val jlProjectionAuditSql: String = {
    val matLit = jlMatrix.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""WITH m AS (
       |  $duckMaxAbs),
       |sgn AS (SELECT $matLit AS s),
       |v AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |p AS (
       |  SELECT vec_id, qemb,
       |    list_transform(generate_series(1, $JlOutDim), j ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(1, $JlInDim),
       |          i -> CAST(qemb[i] AS BIGINT) * sgn.s[j][i])),
       |        (x, y) -> x + y)) AS pvec
       |  FROM v CROSS JOIN sgn),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, $JlInDim),
       |        i -> CAST(a.qemb[i] - b.qemb[i] AS BIGINT)
       |             * CAST(a.qemb[i] - b.qemb[i] AS BIGINT))),
       |      (x, y) -> x + y) AS dist_orig2,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, $JlOutDim),
       |        j -> (a.pvec[j] - b.pvec[j]) * (a.pvec[j] - b.pvec[j]))),
       |      (x, y) -> x + y) AS dist_proj2
       |  FROM p a JOIN p b
       |    ON a.vec_id % $QueryMod = 0 AND b.vec_id % $QueryMod = 1
       |   AND a.vec_id <> b.vec_id)
       |SELECT vec_a, vec_b, dist_orig2, dist_proj2,
       |  CAST(CASE WHEN dist_orig2 = 0 THEN -1
       |       ELSE (10000 * dist_proj2) // ($JlOutDim * dist_orig2) END AS BIGINT)
       |    AS ratio_bp
       |FROM pairs
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ----------------------------------------- embedding drift (q174)
  /** q174: EMBEDDING-DRIFT AUDIT between two cohorts — the nightly
    * check that a re-run of the embedding model (or a new crawl slice)
    * still lives in the same space: per-dimension mean shift between
    * the "old" and "new" cohort (vec_id parity — a deterministic stand-
    * in for last-week/this-week), over q69's int8 quantization so every
    * number is an exact integer. No division is performed AT ALL: the
    * per-dim shift is emitted as the exact rational (delta_num, den) =
    * (1000·(sum_new·n_old − sum_old·n_new), n_old·n_new) — Spark's
    * `div` truncates toward zero while DuckDB's `//` floors, so a
    * negative mean shift through either operator would hash-diverge;
    * rationals sidestep the operator instead of patching it (the q133
    * shiftright lesson, taken further). Shape: one posexplode of the
    * quantized corpus into (dim, q, cohort), one d-row conditional
    * aggregate — a 100 TB corpus costs exactly one scan and shuffles
    * d rows per partition (map-side partial aggregation). The drifted
    * dims are then whatever |delta_num| ranks highest; the gate pins
    * all 64 rationals. */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val q = quantized(emb)
      .select(col("vec_id"), (col("vec_id") % 2).as("cohort"), col("qemb"))
    q.select(col("cohort"), posexplode(col("qemb")).as(Seq("dim", "qv")))
      .groupBy("dim")
      .agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cohort") === 0, col("qv").cast("long")).otherwise(0L)).as("sum_old"),
        sum(when(col("cohort") === 1, col("qv").cast("long")).otherwise(0L)).as("sum_new"))
      .select(col("dim").cast("long").as("dim"), col("n_old"), col("n_new"),
        col("sum_old"), col("sum_new"),
        (lit(1000L) * (col("sum_new") * col("n_old") - col("sum_old") * col("n_new")))
          .as("delta_num"),
        (col("n_old") * col("n_new")).as("den"))
      .orderBy("dim")
  }

  val embeddingDriftSql: String =
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (SELECT vec_id, vec_id % 2 AS cohort, ${duckQuant()} AS qemb
       |      FROM embeddings CROSS JOIN m),
       |x AS (
       |  SELECT cohort, i - 1 AS dim, CAST(qemb[i] AS BIGINT) AS qv
       |  FROM v, UNNEST(generate_series(1, len(qemb))) AS t(i))
       |SELECT CAST(dim AS BIGINT) AS dim,
       |  CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |  CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |  CAST(SUM(CASE WHEN cohort = 0 THEN qv ELSE 0 END) AS BIGINT) AS sum_old,
       |  CAST(SUM(CASE WHEN cohort = 1 THEN qv ELSE 0 END) AS BIGINT) AS sum_new,
       |  CAST(1000 * (SUM(CASE WHEN cohort = 1 THEN qv ELSE 0 END)
       |         * SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
       |       - SUM(CASE WHEN cohort = 0 THEN qv ELSE 0 END)
       |         * SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)) AS BIGINT) AS delta_num,
       |  CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
       |       * SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS den
       |FROM x GROUP BY dim
       |ORDER BY dim""".stripMargin

  // ---------------------------------------- IVF tombstone deletes (q179)
  /** Tombstone rule: every 7th-mod-3 vector is deleted — EXCEPT centroid
    * ids, because a centroid is a navigation structure, not data: its
    * VECTOR can be erased as a record while its cell center persists
    * (re-clustering on every delete is exactly what tombstones avoid). */
  val TombMod = 7L
  val TombResidue = 3L
  private def tombstonedPred(cmod: Long) =
    (col("vec_id") % TombMod === TombResidue) &&
      (col("vec_id") % cmod =!= 0)

  /** q179: ANN SEARCH UNDER DELETES — the serving-path half of index
    * maintenance that q155's ingest path leaves open (GDPR erasure,
    * retracted crawl batches): deleted vectors become TOMBSTONES
    * filtered at probe time, the index structure (centroids, cell
    * assignment of survivors) is untouched, and NO re-clustering or
    * index rebuild happens on the delete path — the property that makes
    * deletes O(1) metadata instead of an O(n·|C|) rebuild. Correctness
    * bar: tombstoned search over the full corpus must be
    * INDISTINGUISHABLE from an index rebuilt from scratch without the
    * deleted vectors — which holds exactly because centroids are pinned
    * by id rule (not data-derived from the deleted mass) and filtering
    * commutes with per-cell candidate generation; the spec asserts that
    * equality literally (both engine paths), and the oracle replays the
    * tombstoned search relationally. Deleted QUERIES are excluded too —
    * an erased user's vector must not keep issuing lookups. */
  def ivfTopKTombstoned(emb: DataFrame): DataFrame = {
    // nlist derives from the FULL corpus — the centroid set was sized
    // at index-build time, BEFORE the deletes (tombstones never touch
    // the navigation structure); deriving from the survivor count
    // would be a silent re-train on every delete batch
    val cmod = derivedCentroidMod(corpusCount(emb))
    ivfSearch(emb, IvfNProbe, cmod, live = Some(!tombstonedPred(cmod)))
  }

  val ivfTopKTombstonedSql: String = {
    val cmodSql = derivedCmodSql("embeddings")
    val dead = s"(vec_id % $TombMod = $TombResidue AND vec_id % $cmodSql <> 0)"
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb FROM v
       |  WHERE vec_id % $cmodSql = 0),
       |live AS (SELECT * FROM v WHERE NOT $dead),
       |assigned AS (
       |  SELECT vec_id, embedding, norm2, cell FROM (
       |    SELECT l.vec_id, l.embedding, l.norm2, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY l.vec_id
       |        ORDER BY ${duckDist2("l.embedding", "c.cent_emb")}, c.cent_id) AS arn
       |    FROM live l CROSS JOIN cents c) WHERE arn = 1),
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT l.vec_id AS q_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY l.vec_id
       |        ORDER BY ${duckDist2("l.embedding", "c.cent_emb")}, c.cent_id) AS prn
       |    FROM live l CROSS JOIN cents c WHERE l.vec_id % $QueryMod = 0)
       |  WHERE prn <= $IvfNProbe),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS cand_id,
       |    ${duckDot("q.embedding", "c.embedding")} / (sqrt(q.norm2) * sqrt(c.norm2)) AS cos_raw
       |  FROM probes p
       |  JOIN v q ON q.vec_id = p.q_id
       |  JOIN assigned c ON c.cell = p.cell AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cos_raw,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, cand_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, cand_id, round(cos_raw, 6) AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK
       |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------ k-center coreset (q175)
  /** Number of greedy picks — fixed budget, like q149's PrIters. */
  val KCenterK = 8

  /** q175: GREEDY k-CENTER CORESET (farthest-point traversal) —
    * diversity-maximizing subset selection, the embedding-space dual of
    * q56's stratified sampling: random/stratified samples follow the
    * density (a coreset for "what's typical"), farthest-point picks
    * cover the SPACE (a coreset for "what exists" — the seed-selection
    * step behind k-means++ initialization, active-learning batch picks
    * and eval-set diversity audits). Gonzalez (1985): the greedy pick
    * is a 2-approximation of the optimal k-center cover, and the
    * radius at pick i is monotonically non-increasing — both spec-
    * pinned. All integer over q69's quantization: d² folds are exact,
    * ties break to the smallest vec_id, so the picked SEQUENCE is
    * bit-deterministic and the oracle replays the identical greedy
    * unrolled (q149's discipline).
    *
    * Scale shape per round: ONE corpus scan against a broadcast 1-row
    * center (running-min distance column update — the classic
    * fold-the-frontier trick that keeps round r at O(n), not O(n·r))
    * plus a TakeOrderedAndProject(1) argmax — k rounds total, k·O(n)
    * work, localCheckpoint cutting the growing lineage each round. */
  def kcenterCoreset(emb: DataFrame): DataFrame = {
    val q = quantized(emb).select(col("vec_id"), col("qemb"))
      .localCheckpoint(true)
    val d2 = "aggregate(zip_with(qemb, c_emb, (x, y) -> CAST(x - y AS BIGINT) * (x - y)), " +
      "0L, (acc, v) -> acc + v)"
    val first = q.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("c_id"), col("qemb").as("c_emb"))
    var picks = first.select(col("c_id"), lit(1L).as("pick_order"), lit(0L).as("r2"))
      .localCheckpoint(true)
    // picked centers leave dmin entirely (not just d2min=0): when the
    // corpus has fewer than KCenterK distinct quantized vectors the
    // all-zeros argmax would otherwise re-pick the smallest already-
    // picked id and emit duplicate centers. The oracle mirrors the
    // exclusion; with >= k distinct vectors the sequence is unchanged
    // (a picked row's d2min is 0 and never wins the argmax anyway).
    var dmin = q.crossJoin(broadcast(first))
      .filter(col("vec_id") =!= col("c_id"))
      .select(col("vec_id"), col("qemb"), expr(d2).as("d2min"))
      .localCheckpoint(true)
    for (i <- 2 to KCenterK) {
      val next = dmin.orderBy(col("d2min").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("c_id"), col("qemb").as("c_emb"),
          col("d2min").as("r2"))
        .localCheckpoint(true)
      picks = picks.unionByName(
        next.select(col("c_id"), lit(i.toLong).as("pick_order"), col("r2")))
        .localCheckpoint(true)
      dmin = dmin.crossJoin(broadcast(next.select(col("c_id"), col("c_emb"))))
        .filter(col("vec_id") =!= col("c_id"))
        .select(col("vec_id"), col("qemb"),
          least(col("d2min"), expr(d2)).as("d2min"))
        .localCheckpoint(true)
    }
    picks.select(col("pick_order"), col("c_id").as("center_id"), col("r2"))
      .orderBy("pick_order")
  }

  val kcenterCoresetSql: String = {
    def dist(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(generate_series(1, len($a)), " +
        s"i -> CAST($a[i] - $b[i] AS BIGINT) * CAST($a[i] - $b[i] AS BIGINT))), " +
        "(x, y) -> x + y)"
    val rounds = (2 to KCenterK).map { i =>
      s"""c$i AS (
         |  SELECT vec_id AS c_id, qemb AS c_emb, d2min AS r2
         |  FROM d${i - 1} ORDER BY d2min DESC, vec_id LIMIT 1),
         |d$i AS (
         |  SELECT d.vec_id, d.qemb,
         |    LEAST(d.d2min, ${dist("d.qemb", "c.c_emb")}) AS d2min
         |  FROM d${i - 1} d CROSS JOIN c$i c
         |  WHERE d.vec_id <> c.c_id)""".stripMargin
    }.mkString(",\n")
    val pickUnion = (2 to KCenterK)
      .map(i => s"SELECT $i AS pick_order, c_id, r2 FROM c$i")
      .mkString("\n  UNION ALL ")
    s"""WITH m AS (
       |  $duckMaxAbs),
       |v AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings CROSS JOIN m),
       |c1 AS (SELECT vec_id AS c_id, qemb AS c_emb FROM v ORDER BY vec_id LIMIT 1),
       |d1 AS (
       |  SELECT v.vec_id, v.qemb, ${dist("v.qemb", "c.c_emb")} AS d2min
       |  FROM v CROSS JOIN c1 c
       |  WHERE v.vec_id <> c.c_id),
       |$rounds
       |SELECT CAST(pick_order AS BIGINT) AS pick_order,
       |  c_id AS center_id, CAST(r2 AS BIGINT) AS r2
       |FROM (SELECT 1 AS pick_order, c_id, 0 AS r2 FROM c1
       |  UNION ALL $pickUnion)
       |ORDER BY pick_order""".stripMargin
  }

  // ------------------------------ retrieve-then-rerank cascade (q211)
  /** Sparse shortlist depth feeding the dense reranker. */
  val CascadeShortlist = 30
  /** Loud bound on centroid dimension sums (int32 headroom for the
    * [[graft.functions.VecDotInt]] kernel input). */
  val CascadeSumBound = 1073741824L

  /** q211: RETRIEVE-THEN-RERANK CASCADE — the standard two-stage
    * retrieval architecture (BM25 recall, dense precision) run end to
    * end: q143's lexical scorer shortlists [[CascadeShortlist]] docs,
    * then an int8 dense scorer reorders them by inner product against
    * a pseudo-relevance-feedback query vector — the SUM of the
    * q181-relevant docs' quantized embeddings (summing instead of
    * averaging keeps everything integer; ranking is scale-invariant).
    * q195 fuses two rankings by rank alone; the cascade is the other
    * canonical composition — one stage's OUTPUT is the next stage's
    * candidate set, which is how production search actually spends its
    * dense-scoring budget (never on the full corpus).
    *
    * Scale: the shortlist is TakeOrdered rows; quantization is q69's
    * once-per-row projection with the one-row global scale broadcast;
    * the centroid is one |rel|-row dimension aggregate (64-row
    * relation, broadcast back); dense scoring touches shortlist-count
    * rows through the codegen [[graft.functions.VecDotInt]] fold —
    * integer, order-independent, hash-exact. */
  def cascadeRerank(docs: DataFrame, emb: DataFrame): DataFrame = {
    VectorOps.register(docs.sparkSession)
    val qterms = graft.ext.TextAnalysis.bm25QueryTerms(docs)
    val deepW = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id"))
    val shortlist = graft.ext.TextAnalysis.bm25ScoredDocs(docs, qterms)
      .orderBy(col("score_e6").desc, col("doc_id")).limit(CascadeShortlist)
      .withColumn("bm25_rank", row_number().over(deepW).cast("long"))
      .select("doc_id", "bm25_rank")
    val v = quantized(emb).select(col("vec_id"), col("qemb"))
    val rel = graft.ext.TextAnalysis.relevantDocs(docs, qterms)
      .withColumnRenamed("doc_id", "vec_id")
    val qvec = v.join(broadcast(rel), "vec_id")
      .select(posexplode(col("qemb")).as(Seq("pos", "e")))
      .groupBy("pos").agg(sum("e").as("s"))
      .agg(expr(
        s"""transform(sort_array(collect_list(struct(pos, s))),
           |  x -> if(abs(x.s) < $CascadeSumBound, cast(x.s as int),
           |          raise_error('q211 centroid sum exceeds int32 headroom')))"""
          .stripMargin).as("qv"))
    val rerankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("dot").desc, col("doc_id"))
    // loud dimension guard: an EMPTY relevance set (qv = []) or a
    // centroid/embedding width mismatch must fail the job in both
    // engines, never silently score 0 / truncate (the oracle's CASE
    // twin raises through error())
    shortlist
      .join(v.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .crossJoin(broadcast(qvec))
      .select(col("doc_id"), col("bm25_rank"),
        expr("""if(size(qv) = size(qemb), vec_dot_int(qv, qemb),
               |   raise_error('q211 centroid/embedding dimension mismatch (empty relevance set?)'))"""
          .stripMargin).as("dot"))
      .withColumn("rerank", row_number().over(rerankW).cast("int"))
      .select("rerank", "doc_id", "bm25_rank", "dot")
      .orderBy("rerank")
  }

  val cascadeRerankSql: String =
    s"""WITH ${graft.ext.TextAnalysis.bmCascadeCtesSql},
       |short AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS bm25_rank
       |  FROM scored ORDER BY score_e6 DESC, doc_id LIMIT $CascadeShortlist),
       |m AS (
       |  $duckMaxAbs),
       |qt AS (SELECT vec_id, ${duckQuant()} AS qemb FROM embeddings, m),
       |qr AS (SELECT qemb FROM qt JOIN rel ON rel.doc_id = qt.vec_id),
       |pe AS (SELECT unnest(generate_series(1, len(qemb))) AS i, qemb FROM qr),
       |qd AS (SELECT i, CAST(sum(qemb[i]) AS BIGINT) AS s FROM pe GROUP BY i),
       |qvl AS (SELECT list(s ORDER BY i) AS qv FROM qd),
       |scoredc AS (
       |  SELECT s.doc_id, s.bm25_rank,
       |    CASE WHEN len(qv) = len(q.qemb) THEN
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(generate_series(1, len(q.qemb)),
       |          i -> qv[i] * CAST(q.qemb[i] AS BIGINT))), (x, y) -> x + y)
       |    ELSE error('q211 centroid/embedding dimension mismatch (empty relevance set?)') END AS dot
       |  FROM short s JOIN qt q ON q.vec_id = s.doc_id CROSS JOIN qvl)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS INT) AS rerank,
       |  doc_id, bm25_rank, CAST(dot AS BIGINT) AS dot
       |FROM scoredc ORDER BY rerank""".stripMargin

  // --------------------------------------- dimension-truncation recall
  /** Dimensions kept by the truncated index (embedding[1..32] of 64). */
  val TruncDims = 32

  /** Matryoshka-style dimension-truncation recall audit: how much exact
    * top-k quality survives indexing only the first [[TruncDims]] of the
    * embedding's dimensions? Truncation is the cheapest ANN-memory lever
    * there is (half the dims = half the index bytes and half the
    * dot-product FLOPs, no retraining, no codebooks — the reason MRL
    * embeddings ship prefix-truncatable), and this query measures what
    * it costs IN THE ENGINE, per query vector: exact top-k under the
    * full dot product vs exact top-k under the truncated one, overlap
    * reported as recall_bp. Complements q170 (JL random projection —
    * data-oblivious dims) and q125 (PQ — trained codebooks): truncation
    * is the zeroth rung of that compression ladder, and the three
    * queries together give the index-sizing curve a corpus team actually
    * tunes against.
    *
    * Plan: two independent q17-shaped kernels (broadcast query side,
    * corpus streams past, [[graft.functions.BoundedTopK]] bounded-heap
    * aggregate — the shuffle carries |Q|·k rows, never |Q|·|C|), joined
    * on q_id. The truncated side's projection slices BEFORE the dot, so
    * its scan does half the multiply-adds — the saving being measured is
    * real in the measuring plan itself. Ties break on candidate id
    * inside both engines' total order, so the compared ID SETS are
    * deterministic without any float rounding in the output. */
  def truncationRecall(emb: DataFrame): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val topk = graft.functions.BoundedTopK.topK(TopK)
    def tops(embExpr: String, outCol: String): DataFrame = {
      val v = emb.select(col("vec_id"), expr(embExpr).as("e"))
        .withColumn("norm2", expr("vec_dot(e, e)"))
      val q = v.filter(col("vec_id") % QueryMod === 0).select(
        col("vec_id").as("q_id"), col("e").as("q_e"),
        col("norm2").as("q_n2"))
      spread(v).join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          (expr("vec_dot(q_e, e)") /
            (sqrt(col("q_n2")) * sqrt(col("norm2")))).as("cos_raw"))
        .groupBy(col("q_id"))
        .agg(topk(col("cos_raw"), col("cand_id")).as("top"))
        .select(col("q_id"), expr("transform(top, s -> s.id)").as(outCol))
    }
    tops("embedding", "full_ids")
      .join(tops(s"slice(embedding, 1, $TruncDims)", "trunc_ids"), "q_id")
      .select(col("q_id"),
        size(array_intersect(col("full_ids"), col("trunc_ids")))
          .cast("long").as("n_overlap"))
      .withColumn("recall_bp", expr(s"(10000 * n_overlap) div $TopK"))
      .orderBy("q_id")
  }

  val truncationRecallSql: String =
    s"""WITH vf AS (
       |  SELECT vec_id, embedding AS e, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |vt AS (
       |  SELECT vec_id, embedding[1:$TruncDims] AS e,
       |    ${duckNorm2(s"embedding[1:$TruncDims]")} AS norm2
       |  FROM embeddings),
       |fullr AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${duckDot("q.e", "c.e")} / (sqrt(q.norm2) * sqrt(c.norm2)) DESC,
       |      c.vec_id) AS rank
       |  FROM vf q JOIN vf c ON q.vec_id % $QueryMod = 0 AND q.vec_id <> c.vec_id),
       |truncr AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${duckDot("q.e", "c.e")} / (sqrt(q.norm2) * sqrt(c.norm2)) DESC,
       |      c.vec_id) AS rank
       |  FROM vt q JOIN vt c ON q.vec_id % $QueryMod = 0 AND q.vec_id <> c.vec_id)
       |SELECT f.q_id, COUNT(t.cand_id) AS n_overlap,
       |  (10000 * COUNT(t.cand_id)) // $TopK AS recall_bp
       |FROM (SELECT * FROM fullr WHERE rank <= $TopK) f
       |LEFT JOIN (SELECT * FROM truncr WHERE rank <= $TopK) t
       |  ON t.q_id = f.q_id AND t.cand_id = f.cand_id
       |GROUP BY f.q_id
       |ORDER BY f.q_id""".stripMargin

  // ------------------------------------------------- k-NN label vote
  /** Instance-based k-NN classification eval over the labeled embedding
    * fixture — the third member of the label-quality family: q156 judges
    * labels against class PROTOTYPES (one centroid per label), q104
    * against per-source centroids; this one votes among each query's
    * [[TopK]] exact nearest INSTANCES (majority label, ties to the
    * smaller label id) and reports the confusion matrix. k-NN catches
    * what prototypes can't — multimodal classes and boundary noise —
    * which is why embedding-quality evals run both.
    *
    * Plan: q17's broadcast-query scan + bounded-heap top-k (shuffle
    * carries |Q|·k rows), then the |Q|·k neighbor relation BROADCASTS
    * back against the corpus for its labels — label lookup joins the
    * tiny side into the scan, never the corpus into the neighbors. */
  def knnLabelVote(emb: DataFrame): DataFrame = {
    VectorOps.register(emb.sparkSession)
    val topk = graft.functions.BoundedTopK.topK(TopK)
    val v = emb.select(col("vec_id"), col("embedding"), col("label"))
      .withColumn("norm2", expr("vec_dot(embedding, embedding)"))
    val q = v.filter(col("vec_id") % QueryMod === 0).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("norm2").as("q_n2"), col("label").as("true_label"))
    val nb = spread(v).join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"), col("vec_id").as("cand_id"),
        (expr("vec_dot(q_emb, embedding)") /
          (sqrt(col("q_n2")) * sqrt(col("norm2")))).as("cos_raw"))
      .groupBy(col("q_id"), col("true_label"))
      .agg(topk(col("cos_raw"), col("cand_id")).as("top"))
      .select(col("q_id"), col("true_label"),
        explode(col("top.id")).as("cand_id"))
    val votes = broadcast(nb)
      .join(v.select(col("vec_id").as("cand_id"), col("label").as("n_label")),
        "cand_id")
      .groupBy("q_id", "true_label", "n_label")
      .agg(count(lit(1)).as("c"))
    votes.groupBy("q_id", "true_label")
      .agg(min(struct((-col("c")).as("nc"), col("n_label"))).as("m"))
      .select(col("true_label"), col("m.n_label").as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  val knnLabelVoteSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, label, ${duckNorm2("embedding")} AS norm2
       |  FROM embeddings),
       |ranked AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      ${duckDot("q.embedding", "c.embedding")} / (sqrt(q.norm2) * sqrt(c.norm2)) DESC,
       |      c.vec_id) AS rank
       |  FROM v q JOIN v c ON q.vec_id % $QueryMod = 0 AND q.vec_id <> c.vec_id),
       |votes AS (
       |  SELECT n.q_id, e.label AS n_label, COUNT(*) AS c
       |  FROM (SELECT q_id, cand_id FROM ranked WHERE rank <= $TopK) n
       |  JOIN embeddings e ON e.vec_id = n.cand_id
       |  GROUP BY 1, 2),
       |pick AS (
       |  SELECT q_id, n_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, n_label) AS rn
       |  FROM votes)
       |SELECT q.label AS true_label, p.pred_label, COUNT(*) AS n
       |FROM (SELECT vec_id, label FROM embeddings WHERE vec_id % $QueryMod = 0) q
       |JOIN pick p ON p.q_id = q.vec_id AND p.rn = 1
       |GROUP BY 1, 2
       |ORDER BY true_label, pred_label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q222_pq_train" -> ((s, d) => pqTrainStep(Tables.embeddings(s, d))),
    "q224_knn_vote" -> ((s, d) => knnLabelVote(Tables.embeddings(s, d))),
    "q218_truncation_recall" -> ((s, d) => truncationRecall(Tables.embeddings(s, d))),
    "q170_jl_projection" -> ((s, d) => jlProjectionAudit(Tables.embeddings(s, d))),
    "q174_embedding_drift" -> ((s, d) => embeddingDrift(Tables.embeddings(s, d))),
    "q175_kcenter_coreset" -> ((s, d) => kcenterCoreset(Tables.embeddings(s, d))),
    "q179_ivf_tombstones" -> ((s, d) => ivfTopKTombstoned(Tables.embeddings(s, d))),
    "q17_cosine_topk" -> ((s, d) => cosineTopK(Tables.embeddings(s, d))),
    "q18_ivf_topk"    -> ((s, d) => ivfTopK(Tables.embeddings(s, d))),
    "q24_embedding_neardup" -> ((s, d) => embeddingNearDups(Tables.embeddings(s, d))),
    "q31_signlsh_neardup" -> ((s, d) => signLshNearDups(Tables.embeddings(s, d))),
    "q42_signlsh_multiband" -> ((s, d) => signLshMultiBand(Tables.embeddings(s, d))),
    "q69_quantized_topk" -> ((s, d) => quantizedTopK(Tables.embeddings(s, d))),
    "q73_kmeans_step" -> ((s, d) => kmeansStep(Tables.embeddings(s, d))),
    "q80_quantized_ivf" -> ((s, d) => quantizedIvfTopK(Tables.embeddings(s, d))),
    "q211_cascade_rerank" -> ((s, d) =>
      cascadeRerank(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q83_semantic_dedup" -> ((s, d) => semanticDedup(Tables.embeddings(s, d))),
    "q104_embedding_outliers" -> ((s, d) =>
      embeddingOutliers(Tables.embeddings(s, d), Tables.documents(s, d))),
    "q125_pq_topk" -> ((s, d) => pqTopK(Tables.embeddings(s, d))),
    "q127_hard_negatives" -> ((s, d) =>
      hardNegatives(Tables.embeddings(s, d), Tables.documents(s, d))),
    "q147_covariance" -> ((s, d) => covarianceMatrix(Tables.embeddings(s, d))),
    "q153_pca_projection" -> ((s, d) => pcaProjection(Tables.embeddings(s, d))),
    "q155_incremental_ivf" -> ((s, d) => incrementalIvf(Tables.embeddings(s, d))),
    "q156_prototype_confusion" -> ((s, d) => prototypeConfusion(Tables.embeddings(s, d))))

  val oracles: Map[String, String] = Map(
    "q222_pq_train" -> pqTrainStepSql,
    "q224_knn_vote" -> knnLabelVoteSql,
    "q218_truncation_recall" -> truncationRecallSql,
    "q170_jl_projection" -> jlProjectionAuditSql,
    "q174_embedding_drift" -> embeddingDriftSql,
    "q175_kcenter_coreset" -> kcenterCoresetSql,
    "q179_ivf_tombstones" -> ivfTopKTombstonedSql,
    "q17_cosine_topk" -> cosineTopKSql,
    "q18_ivf_topk"    -> ivfTopKSql,
    "q24_embedding_neardup" -> embeddingNearDupsSql,
    "q31_signlsh_neardup" -> signLshNearDupsSql,
    "q42_signlsh_multiband" -> signLshMultiBandSql,
    "q69_quantized_topk" -> quantizedTopKSql,
    "q73_kmeans_step" -> kmeansStepSql,
    "q80_quantized_ivf" -> quantizedIvfTopKSql,
    "q211_cascade_rerank" -> cascadeRerankSql,
    "q83_semantic_dedup" -> semanticDedupSql,
    "q104_embedding_outliers" -> embeddingOutliersSql,
    "q125_pq_topk" -> pqTopKSql,
    "q127_hard_negatives" -> hardNegativesSql,
    "q147_covariance" -> covarianceMatrixSql,
    "q153_pca_projection" -> pcaProjectionSql,
    "q155_incremental_ivf" -> incrementalIvfSql,
    "q156_prototype_confusion" -> prototypeConfusionSql)
}
