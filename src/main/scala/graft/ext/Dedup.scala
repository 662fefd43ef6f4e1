package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables

/** Deduplication operators for large-scale corpus curation (builder
  * brief: exact, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Portability contract: every hash here is derived from md5 (identical
  * in Spark and DuckDB) folded to < 2^28, so all arithmetic stays far from
  * 64-bit overflow in BOTH engines (DuckDB errors on overflow, Spark
  * wraps — staying small keeps semantics identical). The oracle SQL is
  * generated from the same constants as the Spark plan.
  *
  * Scale design: everything is shuffle-by-key relational — no driver-side
  * loops, no collect. Exact dedup is one hash-groupBy; MinHash-LSH turns
  * all-pairs similarity into |bands| narrow self-joins on band keys (the
  * classic way to avoid the O(n²) cross join at 10^9 docs); the n-gram
  * Jaccard join is shingle-inverted-index shaped, prunable by requiring
  * >= minCommon shared shingles before any per-pair work.
  */
object Dedup {

  val P: Long = 1000000007L
  val NumHashes = 16
  val BandRows = 2                      // 2 rows/band -> 8 bands
  val NumBands: Int = NumHashes / BandRows

  /** Deterministic per-hash-function coefficients (odd multipliers). */
  def coefA(i: Int): Long = 2L * i + 3
  def coefB(i: Int): Long = 7L * i + 1

  // ---------------------------------------------------------------- exact
  /** Exact dedup: md5 over normalized text (lowercase, collapsed
    * whitespace). One hash-groupBy; the canonical representative is the
    * min doc_id (deterministic at any parallelism). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("text_hash", Text.normTextHash)
      .groupBy("text_hash")
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy("text_hash")

  def exactDedupSql: String =
    s"""SELECT ${Text.normTextHashSql} AS text_hash,
       |  MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY 1
       |ORDER BY text_hash""".stripMargin

  // -------------------------------------------------------------- minhash
  /** Portable 28-bit string hash: rolling polynomial over code points,
    * base 131 mod 268435399 (largest prime < 2^28 keeps all downstream
    * (a*h+b) products far from 64-bit overflow in both engines). Spark
    * evaluates it through the native [[graft.functions.PolyHash]]
    * expression (O(n) loop, ~4x faster than an md5+conv+substring chain);
    * DuckDB reproduces it with an explicit list_reduce fold. */
  val HashBase = 131L
  val HashMod = 268435399L
  private def sparkH(sExpr: String): String =
    s"poly_hash($sExpr, $HashBase, $HashMod)"

  /** Oracle twin of `shingle_hashes(text)`: the hashed 3-word shingles
    * (the Spark side fuses both steps in ShingleHashes — equivalence is
    * spec-tested). */
  private[graft] val duckShingleHashes =
    s"list_transform(${Text.duckShingles}, s -> ${Text.duckPolyHash("s", HashBase, HashMod)})"

  /** doc_id + NumHashes minhash columns h0..h{n-1}:
    * h_i = min over shingles of (a_i * H(s) + b_i) mod P.
    * The md5 base hash is computed ONCE per shingle into an intermediate
    * array, then each of the 16 permutations is cheap integer math over
    * it — 16x fewer md5 evaluations than the naive form (this dominates
    * the sketch cost at corpus scale). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map { i =>
      element_at(col("sig"), i + 1).as(s"h$i")
    }
    withSig(docs).select((col("doc_id") +: sigCols): _*)
  }

  /** `docs` plus `sig`: the NumHashes-long MinHash signature array of
    * its text, from the fused ShingleHashes and MinHashSignature kernels. */
  private def withSig(docs: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession, 3, HashBase, HashMod)
    graft.functions.MinHashSignature.register(docs.sparkSession,
      (0 until NumHashes).map(coefA).toArray,
      (0 until NumHashes).map(coefB).toArray, P)
    docs.withColumn("sig", expr("minhash_sig(shingle_hashes(text))"))
  }

  def minhashSignaturesSql: String =
    s"""WITH ${duckSigCtes("documents")}
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin

  /** Oracle MinHash over `rel`: the `hashed` and `sig` CTEs (no leading
    * WITH), each row carrying the `keys` columns then h0..h{n-1}. */
  private[graft] def duckSigCtes(rel: String, keys: String = "doc_id"): String = {
    val sigCols = (0 until NumHashes).map { i =>
      s"list_min(list_transform(hs, h -> (${coefA(i)} * h + ${coefB(i)}) % $P)) AS h$i"
    }
    s"""hashed AS (
       |  SELECT $keys, $duckShingleHashes AS hs
       |  FROM $rel),
       |sig AS (SELECT $keys, ${sigCols.mkString(", ")} FROM hashed)""".stripMargin
  }

  /** Oracle twin of [[minhashBands]] over [[duckSigCtes]]' `sig`: the
    * `bands` CTE, one (keys, band, band_key) row per doc and band. */
  private[graft] def duckBandsCte(keys: String = "doc_id"): String = {
    val bandSelects = (0 until NumBands).map { b =>
      val key = (0 until BandRows).map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT $keys, $b AS band, $key AS band_key FROM sig"
    }
    s"bands AS (${bandSelects.mkString(" UNION ALL ")})"
  }

  /** LSH band keys: NumBands rows per doc, key = '-'-joined band slice.
    * One signature computation, bands exploded in the same pass (a
    * unionByName of per-band selects would re-derive the signature
    * NumBands times). */
  def minhashBands(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs)
    val bandStructs = (0 until NumBands).map { b =>
      val key = concat_ws("-",
        (0 until BandRows).map(r => col(s"h${b * BandRows + r}")): _*)
      struct(lit(b).as("band"), key.as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
              col("bk.band_key").as("band_key"))
  }

  /** Hot-bucket cap: an LSH bucket holding more than this many docs is
    * dropped from pair expansion. A degenerate bucket (all-identical or
    * boilerplate-heavy corpus) otherwise goes quadratic — with the cap,
    * per-bucket work is bounded by cap², so an adversarial corpus costs
    * O(n_buckets · cap²) instead of O(n²). Near-identical docs dropped
    * here are still caught by exact dedup (q13); mirrored in the oracle. */
  val MaxLshBucket = 64

  /** Candidate pairs = docs sharing any band key. Pairs are generated
    * WITHIN each band bucket (groupBy key -> sorted doc list -> in-bucket
    * pair expansion) rather than by self-joining the bands relation —
    * a self-join would evaluate the signature pipeline twice, and bucket
    * sizes are small by LSH construction so the in-bucket expansion is
    * cheap. Buckets larger than `maxLshBucket` are dropped (skew guard,
    * default [[MaxLshBucket]]).
    *
    * Truncation is OBSERVABLE, not silent: pass `dropObs` and read
    * `dropped_buckets` / `dropped_docs` after any action — the metrics
    * ride the existing aggregation (observe() is a free CollectMetrics
    * node), so visibility costs no extra pass. Caveat: this Spark
    * version loses mid-plan observed metrics when AQE re-plans the
    * stage; disable AQE for the reading query (the spec pins this). */
  def minhashPairs(docs: DataFrame, maxLshBucket: Int = MaxLshBucket,
                   dropObs: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame =
    candidatePairs(docs, maxLshBucket, dropObs)
      .distinct()
      .orderBy("doc_a", "doc_b")

  /** [[minhashPairs]] before its `distinct().orderBy(...)`: every
    * (doc_a, doc_b) a bucket expands, once per band that shares it.
    * Clustering ([[minhashClusters]]) reads this directly, since
    * connectivity ignores pair order and duplicate pairs, so it pays no
    * range sort (a sampling job plus a shuffle) and no distinct. */
  private[graft] def candidatePairs(docs: DataFrame, maxLshBucket: Int = MaxLshBucket,
      dropObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val buckets = minhashBands(docs)
      .groupBy("band", "band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val watched = dropObs.fold(buckets)(o => buckets.observe(o,
      sum(when(size(col("ids")) > maxLshBucket, 1L).otherwise(0L))
        .as("dropped_buckets"),
      sum(when(size(col("ids")) > maxLshBucket, size(col("ids")).cast("long"))
        .otherwise(0L)).as("dropped_docs")))
    watched
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxLshBucket)
      .select(inBucketPairs("doc_a", "doc_b"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
  }

  /** In-bucket pair expansion over a sorted `ids` array: every (i < j)
    * pair as struct `p` with fields `a` and `b`, in list order. */
  private def inBucketPairs(a: String, b: String): Column =
    explode(expr(
      s"""flatten(transform(sequence(1, size(ids) - 1),
         |  i -> transform(sequence(i + 1, size(ids)),
         |    j -> named_struct('$a', element_at(ids, i), '$b', element_at(ids, j)))))""".stripMargin))
      .as("p")

  def minhashPairsSql: String = minhashPairsSqlFrom("documents")

  /** [[minhashPairsSql]] over an arbitrary source relation — q221's
    * audit runs the SAME oracle text over the sampled corpus, so the
    * predictor definition cannot drift between the gate and the audit. */
  def minhashPairsSqlFrom(rel: String): String =
    s"""WITH ${duckSigCtes(rel)},
       |${duckBandsCte()},
       |kept AS (
       |  SELECT band, band_key FROM bands
       |  GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND $MaxLshBucket)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |JOIN kept k ON k.band = a.band AND k.band_key = a.band_key
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------- mergeable sketches
  /** Typed Aggregator merging MinHash signatures elementwise-min. The
    * merge is associative + commutative, so Spark combines partial
    * sketches map-side and across partitions — the property that makes
    * sketch-based dedup work at corpus scale: a 100 TB corpus's
    * signature is a tree-reduce of per-partition signatures, never a
    * central pass. */
  object MinHashMergeAgg extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Long], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = Array.fill(NumHashes)(Long.MaxValue)
    override def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      var i = 0
      while (i < b.length && i < a.length) {
        if (a(i) < b(i)) b(i) = a(i); i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      reduce(x, scala.collection.immutable.ArraySeq.unsafeWrapArray(y))
    override def finish(r: Array[Long]): Seq[Long] = r.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Per-source corpus sketch: the elementwise-min of all member
    * signatures (a union sketch — Jaccard between sources is estimable
    * from two sketches without touching the documents again). */
  def sourceSketches(docs: DataFrame): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(MinHashMergeAgg)
    val sketchCols = (0 until NumHashes).map { i =>
      element_at(col("sketch"), i + 1).as(s"h$i")
    }
    withSig(docs)
      .groupBy(col("source"))
      .agg(agg(col("sig")).as("sketch"))
      .select((col("source") +: sketchCols): _*)
      .orderBy("source")
  }

  def sourceSketchesSql: String = {
    val mins = (0 until NumHashes).map(i => s"MIN(h$i) AS h$i")
    s"""WITH ${duckSigCtes("documents", "doc_id, source")}
       |SELECT source, ${mins.mkString(", ")}
       |FROM sig GROUP BY source ORDER BY source""".stripMargin
  }

  /** q62: the pairwise source-overlap matrix, estimated FROM THE
    * SKETCHES — the payoff of q29's mergeable union sketch: once each
    * source is folded to [[NumHashes]] longs, estimating shingle overlap
    * between every pair of sources is an all-pairs join over |sources|
    * ROWS (broadcast, trivially), never a rescan of the corpus. The
    * estimate is the matching-component fraction of the two min-sketches
    * (a consistent estimator of the Jaccard of the shingle sets),
    * reported in basis points. This is the source-mixing diagnostic a
    * training-data pipeline runs before setting domain weights: at
    * 100 TB the expensive half (the sketch) is one aggregation and the
    * matrix itself costs nothing. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sk = sourceSketches(docs)
    val l = sk.select(col("source").as("source_a") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val r = sk.select(col("source").as("source_b") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    l.join(broadcast(r), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        ((lit(10000L) * matches) / NumHashes).cast("long").as("match_e4"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapSql: String = {
    val matches = (0 until NumHashes)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sk AS (${sourceSketchesSql.replace("ORDER BY source", "")})
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST((10000 * ($matches)) // $NumHashes AS BIGINT) AS match_e4
       |FROM sk a JOIN sk b ON a.source < b.source
       |ORDER BY source_a, source_b""".stripMargin
  }

  // -------------------------------------------------------------- simhash
  val SimhashBits = 28

  /** 28-bit SimHash over whitespace tokens: bit j of the fingerprint is 1
    * iff sum over tokens of (+1 if bit j of H(token) set else -1) > 0.
    * Computed with explode + 28 conditional sums (single shuffle on
    * doc_id, all codegen'd). */
  /** Unordered fingerprint relation — the composable form the pair
    * queries build on (an ORDER BY here would cost the downstream
    * aggregations a wasted range exchange + sort). */
  def simhashCore(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    val tokens = docs.select(col("doc_id"), explode(Text.tokens).as("tok"))
      .withColumn("th", expr(sparkH("tok")))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(expr(s"shiftright(th, $j) & 1") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val fp = (0 until SimhashBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce((a, b) => a + b)
    tokens.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .withColumn("bucket", expr(s"simhash >> ${SimhashBits - 8}"))
  }

  def simhash(docs: DataFrame): DataFrame =
    simhashCore(docs).orderBy("doc_id")

  def simhashSql: String =
    s"""WITH $duckSimhashCtes
       |SELECT * FROM sh ORDER BY doc_id""".stripMargin

  /** Oracle twin of [[simhashCore]]: the `toks`, `sums` and `sh` CTEs
    * (no leading WITH); `sh` is (doc_id, simhash, bucket). */
  private def duckSimhashCtes: String = {
    val bitSums = (0 until SimhashBits).map { j =>
      s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }
    val fp = (0 until SimhashBits).map { j =>
      s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, ${Text.duckPolyHash("t.tok", HashBase, HashMod)} AS th
       |  FROM (SELECT doc_id, unnest(${Text.duckTokens}) AS tok FROM documents) t),
       |sums AS (SELECT doc_id, ${bitSums.mkString(", ")} FROM toks GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS simhash,
       |    CAST($fp AS BIGINT) >> ${SimhashBits - SimhashBucketBits} AS bucket
       |  FROM sums)""".stripMargin
  }

  /** SimHash near-dup distance cap: pairs within this Hamming distance
    * (of [[SimhashBits]] fingerprint bits) are reported. */
  val HammingMax = 3

  /** SimHash near-dup PAIRS — the operator that actually dedups (the
    * fingerprint query q15 only labels). Candidate generation is the
    * fingerprint's top-8-bit bucket (each doc lands in exactly ONE
    * bucket, so no pair is generated twice and no distinct is needed);
    * within a bucket the exact Hamming distance is one codegen
    * `bit_count(a ^ b)`. Same in-bucket expansion shape as
    * [[minhashPairs]], with (doc_id, simhash) packed into one long
    * (simhash < 2^SimhashBits, doc_id in the high bits so packed order
    * is doc order) — shuffles move 8-byte keys. Docs whose fingerprints
    * differ only in a top-8 bit land in different buckets and are
    * missed: the standard single-probe LSH recall trade, bought back in
    * production with multi-probe (query neighboring buckets) or a
    * second banding of the fingerprint. The oracle mirrors the
    * bucketing, so parity holds by construction. */
  def simhashPairs(docs: DataFrame, maxBucket: Int = MaxLshBucket): DataFrame = {
    val c = 1L << SimhashBits
    simhashCore(docs)
      .select((packGuard(col("doc_id"), Long.MaxValue / c, "q32 doc_id") * c +
          col("simhash")).as("packed"), col("bucket"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("packed"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(inBucketPairs("a", "b"))
      .select(expr(s"p.a div $c").as("doc_a"), expr(s"p.b div $c").as("doc_b"),
        expr(s"cast(bit_count((p.a % $c) ^ (p.b % $c)) as bigint)").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  def simhashPairsSql: String =
    s"""WITH $duckSimhashCtes,
       |kept AS (
       |  SELECT bucket FROM sh
       |  GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND $MaxLshBucket)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |JOIN kept k ON k.bucket = a.bucket
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Bucket-prefix width for simhash LSH (the fingerprint's top bits). */
  val SimhashBucketBits = 8

  /** Multi-probe SimHash pairs: q32 recall bought back. Single-probe LSH
    * misses a near-dup whose fingerprints differ in a bucket-prefix bit;
    * multi-probe ALSO visits the [[SimhashBucketBits]] one-bit-flip
    * neighbor buckets, so any pair whose prefixes differ in <= 1 bit is
    * co-located — at 9x the candidate volume instead of 2^8x full scan.
    * Each emitted row carries a NATIVE flag (its own bucket vs a probe);
    * a pair is generated only in the bucket where the LOWER doc id is
    * native, which yields every qualifying pair EXACTLY once (d=0 pairs:
    * the shared native bucket; prefix-d=1 pairs: the lower doc's native
    * bucket) — no distinct pass. (doc_id, native, simhash) pack into one
    * long, so the shuffle stays 8-byte and list order stays doc order.
    * The bucket cap scales with the probe factor; the oracle mirrors the
    * probe expansion, the native rule, and the cap exactly. */
  def simhashPairsMultiProbe(docs: DataFrame,
                             maxBucket: Int = MaxLshBucket * (SimhashBucketBits + 1))
      : DataFrame = {
    val c = 1L << SimhashBits
    val nativeBit = c // 2^SimhashBits
    val docShift = 2L * c // doc_id lives above the native bit
    val sh = simhashCore(docs)
    val probeStructs = (0 until SimhashBucketBits).map { i =>
      struct((col("bucket").bitwiseXOR(1L << i)).as("bk"), lit(0L).as("nat"))
    }
    val emitted = sh.select(
      col("doc_id"), col("simhash"),
      explode(array(
        (struct(col("bucket").as("bk"), lit(1L).as("nat")) +: probeStructs): _*)).as("p"))
      .select(col("p.bk").as("bucket"),
        (packGuard(col("doc_id"), Long.MaxValue / docShift, "q36 doc_id") *
          docShift + col("p.nat") * nativeBit + col("simhash"))
          .as("packed"))
    emitted
      .groupBy("bucket")
      .agg(sort_array(collect_list(col("packed"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      // outer loop over NATIVE members only (the native-rule filter is
      // applied before pair structs are built, not after — an 8/9 cut in
      // allocation for the probe-expanded buckets); b > a over the packed
      // longs == doc order because doc_id owns the high bits
      .select(explode(expr(
        s"""flatten(transform(
           |  filter(ids, a -> (a div $nativeBit) % 2 = 1),
           |  a -> transform(filter(ids, b -> b > a),
           |    b -> named_struct('a', a, 'b', b))))""".stripMargin)).as("p"))
      .select(expr(s"p.a div $docShift").as("doc_a"),
        expr(s"p.b div $docShift").as("doc_b"),
        expr(s"cast(bit_count((p.a % $c) ^ (p.b % $c)) as bigint)").as("hamming"))
      .filter(col("doc_a") =!= col("doc_b") && col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  def simhashPairsMultiProbeSql: String = {
    val cap = MaxLshBucket * (SimhashBucketBits + 1)
    s"""WITH $duckSimhashCtes,
       |probes AS (
       |  SELECT doc_id, simhash, bucket, 1 AS native FROM sh
       |  UNION ALL
       |  SELECT doc_id, simhash, xor(bucket, CAST(1 AS BIGINT) << i) AS bucket, 0 AS native
       |  FROM sh, generate_series(0, ${SimhashBucketBits - 1}) AS g(i)),
       |kept AS (
       |  SELECT bucket FROM probes
       |  GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND $cap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM probes a JOIN probes b
       |  ON a.bucket = b.bucket AND a.doc_id < b.doc_id AND a.native = 1
       |JOIN kept k ON k.bucket = a.bucket
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------------- repetition score
  /** Duplicate-3-gram repetition score (the Gopher-rule quality
    * signal): dup_e4 = 10000 · (1 - distinct/total shingles). Template
    * pages, keyboard mashing and boilerplate-heavy docs score high and
    * get culled before training. Rides the SAME fused ShingleHashes
    * expression as the dedup family, so the whole operator is one
    * codegen projection per doc — scan speed at any corpus size, no
    * shuffle but the presentation sort. */
  def repetitionScore(docs: DataFrame): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession, 3, HashBase, HashMod)
    docs.select(col("doc_id"), expr("shingle_hashes(text)").as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        expr("(10000 * (n_shingles - n_distinct)) div greatest(n_shingles, 1)")
          .as("dup_e4"))
      .orderBy("doc_id")
  }

  def repetitionScoreSql: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, $duckShingleHashes AS hs
       |  FROM documents)
       |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
       |  CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct,
       |  (10000 * (len(hs) - len(list_distinct(hs)))) // greatest(len(hs), 1) AS dup_e4
       |FROM hashed ORDER BY doc_id""".stripMargin

  // ------------------------------------------- eval contamination (bloom)
  /** Eval-set split modulus: doc_id % EvalMod == 0 stands in for the
    * held-out benchmark set. */
  val EvalMod = 10
  /** Prefix length (words) for the contamination fingerprint: an eval
    * question leaked into training text usually keeps its opening words
    * verbatim even when the tail is paraphrased/truncated, so an 8-word
    * normalized prefix catches what whole-document equality misses. */
  val PrefixWords = 8

  /** md5 of the normalized text's first [[PrefixWords]] tokens. */
  private[graft] val prefixFpSpark =
    s"md5(cast(array_join(slice(split(${Text.sparkNorm}, ' '), 1, $PrefixWords), ' ') as binary))"
  private[graft] val prefixFpDuck =
    s"md5(array_to_string(list_slice(string_split(${Text.duckNorm}, ' '), 1, $PrefixWords), ' '))"

  /** Benchmark-contamination check: training docs whose normalized
    * [[PrefixWords]]-word prefix fingerprint appears in the eval set.
    *
    * Scale shape — the broadcast-Bloom pre-filter pattern: the eval set
    * is small (benchmarks are thousands of rows; training corpora are
    * billions), so its fingerprints build a Bloom filter that broadcasts
    * to every scan task and discards ~all of the training corpus BEFORE
    * any shuffle — the corpus-side work is one scan + a bitset probe per
    * row. Exactness is NOT delegated to the filter: survivors (a tiny,
    * false-positive-inflated subset) run a real broadcast semi-join
    * against the eval fingerprints, so the emitted rows are exactly the
    * oracle's semi-join semantics and the Bloom's fpp only costs a few
    * extra pre-filter survivors. This is the standard two-phase design
    * for "is my benchmark in the training data" at 100 TB. */
  def evalContamination(docs: DataFrame, fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fp = docs.select(col("doc_id"), expr(prefixFpSpark).as("prefix_fp"))
    val train = fp.filter(col("doc_id") % EvalMod =!= 0)
    // ONE scan computes the eval fingerprint set. The set is
    // small-by-definition (a benchmark is thousands of rows; any
    // broadcast join would materialize the same data driver-side
    // anyway), so collecting it is the cheap move — the bloom builds
    // locally from it, and the verify join's build side becomes a
    // LocalRelation instead of a second/third corpus scan. The CORPUS
    // side is scanned exactly once, prefiltered by the broadcast bloom
    // inside its scan, and never shuffled.
    val evalFps: Array[String] = fp.filter(col("doc_id") % EvalMod === 0)
      .select(col("prefix_fp")).distinct()
      .collect().map(_.getString(0))
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(evalFps.length.toLong, 1L), fpp)
    evalFps.foreach(bloom.putString)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    train
      .filter(mightContain(col("prefix_fp")))
      .join(broadcast(evalFps.toSeq.toDF("prefix_fp")), Seq("prefix_fp"), "left_semi")
      .select(col("doc_id"), col("prefix_fp"))
      .orderBy("doc_id")
  }

  val evalContaminationSql: String =
    s"""WITH fp AS (SELECT doc_id, $prefixFpDuck AS prefix_fp FROM documents)
       |SELECT t.doc_id, t.prefix_fp
       |FROM fp t
       |WHERE t.doc_id % $EvalMod <> 0
       |  AND EXISTS (SELECT 1 FROM fp e
       |              WHERE e.doc_id % $EvalMod = 0 AND e.prefix_fp = t.prefix_fp)
       |ORDER BY t.doc_id""".stripMargin

  // --------------------------------------------- bloom FPR audit (q232)
  /** Portable Bloom geometry: 3 hash positions of 12 bits each (4096-bit
    * filter), read as DISJOINT hex-digit chunks of the md5 fingerprint —
    * the q118 HLL chunking discipline applied to membership. At a real
    * eval-set size the bit count is the scale knob (m ∝ |eval|·k/ln2
    * for the design fpp); the AUDIT below measures the realized rate
    * against whatever geometry is deployed. */
  val BloomAuditBits = 4096
  val BloomAuditHashes = 3

  /** q232: BLOOM FALSE-POSITIVE-RATE AUDIT — q45's design note asserts
    * the broadcast-Bloom pre-filter only costs "a few extra pre-filter
    * survivors"; this query MEASURES that, the way q221 measures
    * MinHash precision/recall: build the portable Bloom's bit-position
    * SET from the eval fingerprints, probe every training doc, compare
    * against exact membership, and report per source
    *
    *   n_train, n_members (exact), n_might (Bloom-positive),
    *   n_fp = n_might − n_members, fpr_ppm over the true negatives.
    *
    * Members always probe positive (their positions are in the set by
    * construction — no false negatives), so n_fp is exact. Unlike
    * q45's engine-private `util.sketch` filter, the audit Bloom is
    * pure integer arithmetic on the md5 hex (3-digit chunks → 12-bit
    * positions), so the DuckDB oracle replays it bit for bit.
    *
    * Scale shape: the position set is ≤ min(3·|eval|, 4096) rows —
    * broadcast; the corpus side explodes 3 position rows per doc
    * PARTITION-LOCAL, broadcast-joins the set, and aggregates hits per
    * doc on one exchange; exact membership is the q45 broadcast
    * semi-join. One corpus scan, one corpus-sized exchange. */
  def bloomFprAudit(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("doc_id"), col("source"),
      expr(prefixFpSpark).as("fp"))
    def posAt(j: Int) =
      expr(s"cast(conv(substr(fp, ${1 + 3 * j}, 3), 16, 10) as int)")
    val evalFp = fp.filter(col("doc_id") % EvalMod === 0)
      .select(col("fp")).distinct()
    val evalPos = evalFp
      .select(explode(array((0 until BloomAuditHashes).map(posAt): _*)).as("pos"))
      .distinct()
    val train = fp.filter(col("doc_id") % EvalMod =!= 0)
    val probes = train
      .select(Seq(col("doc_id"), col("source")) :+
        posexplode(array((0 until BloomAuditHashes).map(posAt): _*))
          .as(Seq("j", "pos")): _*)
    val might = probes
      .join(broadcast(evalPos), Seq("pos"), "left_semi")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === BloomAuditHashes)
      .select(col("doc_id"), col("source"), lit(1L).as("is_might"))
    val members = train
      .join(broadcast(evalFp), Seq("fp"), "left_semi")
      .select(col("doc_id"), col("source"), lit(1L).as("is_member"))
    train.select(col("doc_id"), col("source"))
      .join(might, Seq("doc_id", "source"), "left")
      .join(members, Seq("doc_id", "source"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("is_member"), lit(0L))).as("n_members"),
        sum(coalesce(col("is_might"), lit(0L))).as("n_might"))
      .select(col("source"), col("n_train"), col("n_members"), col("n_might"),
        (col("n_might") - col("n_members")).as("n_fp"),
        expr("(1000000 * (n_might - n_members)) div greatest(n_train - n_members, 1)")
          .as("fpr_ppm"))
      .orderBy("source")
  }

  val bloomFprAuditSql: String = {
    def pos(j: Int) = s"CAST(('0x' || substr(fp, ${1 + 3 * j}, 3)) AS INTEGER)"
    val posList = (0 until BloomAuditHashes).map(pos).mkString("[", ", ", "]")
    s"""WITH fp AS (SELECT doc_id, source, $prefixFpDuck AS fp FROM documents),
       |ev AS (SELECT DISTINCT fp FROM fp WHERE doc_id % $EvalMod = 0),
       |evpos AS (SELECT DISTINCT unnest($posList) AS pos FROM ev),
       |tr AS (SELECT doc_id, source, fp FROM fp WHERE doc_id % $EvalMod <> 0),
       |probes AS (SELECT doc_id, source, unnest($posList) AS pos FROM tr),
       |might AS (
       |  SELECT doc_id, source FROM probes
       |  WHERE pos IN (SELECT pos FROM evpos)
       |  GROUP BY doc_id, source
       |  HAVING COUNT(*) = $BloomAuditHashes),
       |mem AS (SELECT doc_id, source FROM tr
       |        WHERE fp IN (SELECT fp FROM ev))
       |SELECT t.source, COUNT(*) AS n_train,
       |  CAST(SUM(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       |  CAST(SUM(CASE WHEN might.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_might,
       |  CAST(SUM(CASE WHEN might.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |     - SUM(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       |  CAST((1000000 * (SUM(CASE WHEN might.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |     - SUM(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END)))
       |    // greatest(COUNT(*) - SUM(CASE WHEN mem.doc_id IS NOT NULL THEN 1 ELSE 0 END), 1)
       |    AS BIGINT) AS fpr_ppm
       |FROM tr t
       |LEFT JOIN might ON might.doc_id = t.doc_id AND might.source = t.source
       |LEFT JOIN mem ON mem.doc_id = t.doc_id AND mem.source = t.source
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  /** Loud guard on 8-byte packing headroom: the packed-long shuffles
    * (q16 postings, q32/q36 simhash lists) multiply ids into the high
    * bits of one long, which silently CORRUPTS results if an id exceeds
    * its headroom. This raises a descriptive error at the packing site
    * instead — at corpus scale a violated invariant (doc_id beyond
    * ~2^34-2^43, a >1M-distinct-shingle document) must fail the job
    * noisily, never hash wrong pairs. Cost: one branch per row, beside
    * explodes that dominate by orders of magnitude. */
  private def packGuard(id: Column, limit: Long, what: String): Column =
    when(id < 0 || id >= limit,
      raise_error(concat(lit(s"$what exceeds packing bound [0, $limit): "),
        id.cast("string"))))
    .otherwise(id)

  // ------------------------------------------------------- ngram jaccard
  val MinCommonShingles = 2

  /** Hot-shingle document-frequency cap: shingles appearing in more than
    * this many documents are excluded from pair generation. On a real
    * corpus the hottest shingle (a stopword trigram) appears in a large
    * constant fraction of documents, so without a cap the inverted-index
    * bucket for it goes quadratic — the same skew guard every production
    * MinHash/shingle dedup applies. Mirrored in the oracle SQL, so parity
    * holds by construction. */
  val MaxShingleDf = 64

  /** n-gram Jaccard near-dup: inverted index on distinct 3-word shingles;
    * pairs sharing >= MinCommonShingles get an exact Jaccard.
    * jaccard_e4 = floor(10000 * |A∩B| / |A∪B|) — integer, hash-stable.
    * Shingles are hashed to 28-bit longs up front: shuffles move 8-byte
    * keys instead of ~20-byte strings (hash collisions are identical in
    * both engines, so parity holds).
    *
    * Shape notes — ONE relation, ONE shuffle chain, nothing cached:
    *  - per-doc shingle-set size |A| is `size(array_distinct(...))` — a
    *    pure map-side projection computed in the same pass that explodes
    *    the distinct shingles, so there is no separate sizes aggregation
    *    and no join to bring it back (the round-2 version persisted the
    *    exploded relation to feed two subtrees — pure overhead with no
    *    reuse win, and the cache leaked into the rest of the session);
    *  - (doc_id, n_shingles) ride TOGETHER through the posting lists and
    *    the in-bucket pair expansion as ONE packed long
    *    (doc_id * 2^20 + n), so both shuffles move 8-byte keys, the
    *    posting-list sort compares longs (doc_id lives in the high bits,
    *    so packed order == doc_id order), and the final Jaccard is
    *    computed where the pair is born. [[PackShift]] bounds docs to
    *    2^20-1 distinct shingles (~10 MB of text per document) and
    *    doc_id to 2^43 — both enforced loudly by the packGuard
    *    raise_error, since a doc that large should have been
    *    length-capped long before dedup and a silent wrap would hash
    *    WRONG pairs;
    *  - candidate pairs come from IN-BUCKET expansion of each shingle's
    *    sorted posting list (like minhashPairs), not a self-join — one
    *    aggregation instead of a join that re-shuffles both sides;
    *  - posting lists longer than `maxShingleDf` are dropped (skew guard,
    *    default [[MaxShingleDf]]). */
  val PackShift: Long = 1L << 20

  def ngramJaccardPairs(docs: DataFrame,
                        maxShingleDf: Int = MaxShingleDf,
                        dropObs: Option[org.apache.spark.sql.Observation] = None)
      : DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession, 3, HashBase, HashMod)
    val c = PackShift
    val postings = docs
      .select(col("doc_id"),
        array_distinct(expr("shingle_hashes(text)")).as("shs"))
      .select((packGuard(col("doc_id"), Long.MaxValue / c, "q16 doc_id") * c +
          packGuard(size(col("shs")).cast("long"), c, "q16 shingle count"))
          .as("packed"),
        explode(col("shs")).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("packed"))).as("ids"))
    val watched = dropObs.fold(postings)(o => postings.observe(o,
      sum(when(size(col("ids")) > maxShingleDf, 1L).otherwise(0L))
        .as("dropped_shingles"),
      sum(when(size(col("ids")) > maxShingleDf, size(col("ids")).cast("long"))
        .otherwise(0L)).as("dropped_postings")))
    watched
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxShingleDf)
      // pair expansion as two chained explodes over primitive longs (the
      // outer element + the sorted tail slice) — building an array of
      // pair structs per posting list cost more than the rest of the
      // query combined in allocation (the q36 lesson); list order is
      // packed order, so pa < pb holds by construction
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= MinCommonShingles)
      .select(expr(s"pa div $c").as("doc_a"),
              expr(s"pb div $c").as("doc_b"), col("n_common"),
        expr(s"(10000 * n_common) div (pa % $c + pb % $c - n_common)")
          .as("jaccard_e4"))
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardSql: String =
    s"""WITH shingled AS (
       |  SELECT DISTINCT doc_id, unnest($duckShingleHashes) AS shingle
       |  FROM documents),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
       |kept AS (
       |  SELECT shingle FROM shingled
       |  GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND $MaxShingleDf),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM shingled a JOIN shingled b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN kept k ON k.shingle = a.shingle
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinCommonShingles)
       |SELECT doc_a, doc_b, n_common,
       |  (10000 * n_common) // (sa.n_shingles + sb.n_shingles - n_common) AS jaccard_e4
       |FROM common
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ dedup clusters

  /** The step every real dedup pipeline needs AFTER pair generation:
    * connected components over the candidate-pair graph, so each
    * near-dup group gets ONE representative (cluster_id = min doc_id in
    * the component; docs in no pair are their own singleton cluster).
    * Pair order and duplicate pairs do not matter, nor does a self-pair.
    *
    * Distributed min-label propagation with a DELTA FRONTIER over the
    * INDUCED SUBGRAPH: only pair endpoints enter the loop (a doc in no
    * pair can never change its label), and the corpus joins the
    * converged labels once at the end (singletons label themselves via
    * coalesce). The state is one row per endpoint — its label, its
    * deduplicated neighbour list and whether the last round lowered its
    * label — hash-partitioned by id and locally checkpointed with that
    * partitioner. Each round, only the nodes that moved send
    * (neighbour, label) messages (min-propagation is monotone: an
    * unchanged label was already known to every neighbour). The
    * messages take ONE shuffle by receiver with a map-side min, and
    * join the co-partitioned state partition by partition, so the state
    * itself is never re-shuffled.
    *
    * Spark jobs: the seeded init is one job (plus one per exchange of
    * the `pairs` plan, if it has any), and every round is ONE job — two
    * stages, or four from [[HalveFromRound]] on. The corpus's ids then
    * take one shuffle to the labels' partitions, inside the first of
    * the three jobs the final `doc_id` sort runs (range sampling,
    * shuffle, result). Rounds needed ≈ component diameter; near-dup
    * clusters are clone groups, so the frontier empties in a few rounds.
    *
    * Convergence signal: the job that materializes a round also counts
    * that round's moved nodes — each partition returns its tally as the
    * job's result. The scheduler keeps exactly one result per
    * partition, so a retried or speculative task can neither count a
    * node twice nor drop one, and the loop ends only after a round in
    * which no node moved. No separate `count()` job runs, at init or in
    * the loop. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = labelRounds(pairs)._1
    val ids = docs.select(col("doc_id").cast("long")).rdd
      .keyBy(_.get(0)).partitionBy(labels.partitioner.get)
    val rows = ids.zipPartitions(labels) { (ds, ls) =>
      val label = ls.toMap
      ds.map { case (_, r) =>
        if (r.isNullAt(0)) Row(null, null)
        else Row(r.getLong(0), label.getOrElse(r.getLong(0), r.getLong(0)))
      }
    }
    val nullable = docs.schema("doc_id").nullable
    docs.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType, nullable),
        StructField("cluster_id", LongType, nullable))))
      .orderBy("doc_id")
  }

  /** First propagation round at which pointer-halving engages (see
    * [[halve]]): below it, rounds are pure neighbor-min.
    * Calibrated one past the fixture's convergence depth (sf0.1 empties
    * its frontier in 5 rounds; the 10x skewed rehearsal takes 8) so
    * shallow real-world graphs pay nothing and only genuinely deep
    * chains buy the compression. */
  val HalveFromRound = 6

  /** One endpoint's propagation state. */
  private final case class Node(label: Long, nbrs: Array[Long], moved: Boolean)

  /** The converged (id, label) of every pair endpoint, and the number of
    * propagation rounds run after the seeded init: 0 only when the init
    * moved no node (no pairs, or only self-pairs), and the last round
    * is always one in which nothing moved. */
  private[graft] def labelRounds(pairs: DataFrame): (RDD[(Long, Long)], Int) = {
    val ends = pairs.select(col("doc_a"), col("doc_b")).rdd.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) Nil
      else Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))
    }
    // the pairs' own (AQE-sized) partition count sizes the state
    val part = new HashPartitioner(math.max(1, ends.getNumPartitions))
    // materializes `state` in one job, which also returns its moved count
    def settle(state: RDD[(Long, Node)]): Long = {
      state.localCheckpoint()
      state.sparkContext.runJob(state,
        (it: Iterator[(Long, Node)]) => it.count(_._2.moved).toLong).sum
    }
    // Seeded round 0: labels start at least(id, min neighbour) and the
    // node has moved iff that beat its own id, in the one aggregate
    // that also collects (and deduplicates) the neighbour lists.
    var state = ends.aggregateByKey(Set.empty[Long], part)(_ + _, _ ++ _)
      .mapPartitions(_.map { case (id, ns) =>
        val m = ns.min
        id -> Node(math.min(id, m), ns.toArray, m < id)
      }, preservesPartitioning = true)
    var moved = settle(state)
    // Runs to CONVERGENCE (empty frontier), not to an iteration cap:
    // min-propagation is monotone over a finite label set, so every
    // round either strictly lowers at least one label or empties the
    // frontier — termination is guaranteed, and a cap would silently
    // return unconverged labels on a chain longer than the cap
    // (breaking transitive-closure parity with the oracle).
    var round = 1
    while (moved > 0) {
      round += 1
      val inbox = state.flatMap { case (_, n) =>
        if (n.moved) n.nbrs.iterator.map(_ -> n.label) else Iterator.empty
      }.reduceByKey(part, math.min(_, _))
      val prop = state.zipPartitions(inbox, preservesPartitioning = true) {
        (nodes, msgs) =>
          val best = msgs.toMap
          nodes.map { case (id, n) =>
            val m = best.getOrElse(id, n.label)
            id -> n.copy(label = math.min(n.label, m), moved = m < n.label)
          }
      }
      val next = if (round < HalveFromRound) prop else halve(prop, part)
      moved = settle(next)
      state = next
    }
    (state.mapValues(_.label), round - 1)
  }

  /** POINTER-HALVING after a propagate step: every node jumps to its
    * label's label (one shuffle asks the label's node, one brings the
    * answer back). Labels only ever decrease and always name a node of
    * the same component, so the jump is sound (label(label(x)) <=
    * label(x) by the start-at-own-id invariant) and it compresses
    * label-chain distances geometrically: convergence in
    * O(log(chain)) rounds instead of O(chain) — on a crawl with
    * million-doc mirror chains it is the difference between ~20 and
    * ~10^6-round termination. Fixpoint of the propagate phase alone
    * already implies labels are constant on each component, so the
    * halving never changes WHERE the loop stops, only how fast it gets
    * there. It starts at [[HalveFromRound]]: a shallow graph (clone
    * groups, short chains) converges before it ever pays the extra
    * shuffles, while a deep chain still gets geometric compression. */
  private def halve(prop: RDD[(Long, Node)], part: HashPartitioner): RDD[(Long, Node)] = {
    val asks = prop.flatMap { case (id, n) =>
      if (n.label < id) Iterator(n.label -> id) else Iterator.empty
    }.partitionBy(part)
    val answers = prop.zipPartitions(asks) { (nodes, qs) =>
      val label = nodes.map { case (id, n) => id -> n.label }.toMap
      qs.map { case (l, x) => x -> label.getOrElse(l, l) }
    }.partitionBy(part)
    prop.zipPartitions(answers, preservesPartitioning = true) { (nodes, as) =>
      val jump = as.toMap
      nodes.map { case (id, n) =>
        jump.get(id).filter(_ < n.label)
          .fold(id -> n)(g => id -> n.copy(label = g, moved = true))
      }
    }
  }

  /** q33: cluster assignment over the MinHash-LSH candidate pairs. */
  def minhashClusters(docs: DataFrame): DataFrame =
    dedupClusters(docs, candidatePairs(docs))

  /** Oracle twin of [[dedupClusters]]: `WITH RECURSIVE` and the CTEs up
    * to `clusters` (doc_id, cluster_id) — transitive closure over the
    * pairs `pairsSql` returns, cluster = min reachable id, self included. */
  private[graft] def duckClusterCtes(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT * FROM ($pairsSql)),
       |edges(a, b) AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |clusters AS (
       |  SELECT d.doc_id,
       |    CASE WHEN min(r.dst) IS NULL OR d.doc_id < min(r.dst)
       |         THEN d.doc_id ELSE min(r.dst) END AS cluster_id
       |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
       |  GROUP BY d.doc_id)""".stripMargin

  def minhashClustersSql: String =
    s"""${duckClusterCtes(minhashPairsSql)}
       |SELECT * FROM clusters ORDER BY doc_id""".stripMargin

  /** Cross-source contamination report: near-dup clusters whose members
    * span MULTIPLE sources — the check that catches eval/benchmark text
    * leaked into training corpora, licensed content duplicated across
    * crawls, and mirror sites. Builds on [[dedupClusters]]; per
    * multi-source cluster it reports the member count and the sorted
    * source list (sorted → deterministic rendering, hash-stable). The
    * whole report is the cluster relation joined back to doc metadata +
    * one aggregation — at corpus scale it rides the clustering pass. */
  def crossSourceClusters(docs: DataFrame): DataFrame = {
    val clusters = minhashClusters(docs)
    clusters
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("source")).as("n_sources"),
           concat_ws(",", sort_array(collect_set(col("source")))).as("sources"))
      .filter(col("n_sources") > 1)
      .orderBy("cluster_id")
  }

  def crossSourceClustersSql: String =
    s"""${duckClusterCtes(minhashPairsSql)}
       |SELECT c.cluster_id, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT d.source) AS n_sources,
       |  array_to_string(list_sort(list(DISTINCT d.source)), ',') AS sources
       |FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
       |GROUP BY c.cluster_id
       |HAVING COUNT(DISTINCT d.source) > 1
       |ORDER BY cluster_id""".stripMargin

  // --------------------------------------------------- edit-distance dup
  val MaxEditDistance = 2

  /** Banded Levenshtein: exact distance when <= max, else -1. Classic
    * two-row DP restricted to the |i-j| <= max diagonal band — O(len*max)
    * per pair instead of O(len^2). Equals the engines' unbounded
    * levenshtein() for every kept pair (spec-tested against Spark's). */
  def boundedLevenshtein(s: String, t: String, max: Int): Int =
    boundedLevenshtein(s, t, max,
      new Array[Int](t.length + 1), new Array[Int](t.length + 1))

  /** Buffer-reusing variant: `prev`/`cur` must be at least t.length+1
    * long. The block kernel calls this millions of times per task — two
    * fresh arrays per pair was measurable allocation pressure. */
  def boundedLevenshtein(s: String, t: String, max: Int,
                         prev0: Array[Int], cur0: Array[Int]): Int = {
    val n = s.length
    val m = t.length
    if (math.abs(n - m) > max) return -1
    val INF = max + 1
    var prev = prev0
    var cur = cur0
    var j = 0
    while (j <= m) { prev(j) = if (j <= max) j else INF; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      if (i <= max) cur(0) = i
      val lo = math.max(1, i - max)
      val hi = math.min(m, i + max)
      var k = lo
      while (k <= hi) {
        val cost = if (s.charAt(i - 1) == t.charAt(k - 1)) 0 else 1
        var v = prev(k - 1) + cost
        if (prev(k) + 1 < v) v = prev(k) + 1
        if (cur(k - 1) + 1 < v) v = cur(k - 1) + 1
        cur(k) = if (v > INF) INF else v
        k += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= max) prev(m) else -1
  }

  /** Width of the length bands that salt the blocking key (must be
    * > MaxEditDistance so a qualifying pair spans at most one band
    * boundary). */
  val LengthBandWidth = 16

  /** Fuzzy string matching by edit distance, blocked on a cheap equality
    * key so the pair space stays linear-ish: same-brand part names within
    * Levenshtein <= MaxEditDistance.
    *
    * Fully distributed, and the blocking key is SALTED with a length
    * band, because edit distance <= d implies length gap <= d: a pair can
    * only match if the two lengths fall in the same [[LengthBandWidth]]
    * band or straddle one boundary. Each row is emitted into its native
    * band, plus the band below when it sits within MaxEditDistance of
    * that boundary; a pair is generated ONLY in the band
    * min(nativeBand_a, nativeBand_b), so boundary duplication never
    * yields duplicate output. This lifts parallelism from |distinct
    * brands| (25 for TPC-H part — a hard ceiling the round-2 version hit)
    * to |brands| x |occupied length bands|, and it is exactly the salting
    * a canopy key gets at corpus scale.
    *
    * Memory per task is bounded by one (brand, band) block, for real:
    * `groupByKey(...).flatMapGroups` streams one group at a time into the
    * kernel (the round-2 `mapPartitions(it.toSeq.groupBy(...))` held the
    * whole task partition). Within a block, names are sorted by length
    * and the inner scan stops once the length gap exceeds the edit
    * bound — O(B·w) comparisons instead of O(B²) — and the banded-DP
    * microkernel ([[boundedLevenshtein]]) does O(len·maxD) work per
    * surviving pair (a DataFrame self-join + levenshtein() column was 4x
    * slower than the DuckDB anchor on join machinery alone). */
  def editDistancePairs(parts: DataFrame,
                        bandWidth: Int = LengthBandWidth): DataFrame = {
    val spark = parts.sparkSession
    import spark.implicits._
    val maxD = MaxEditDistance
    val w = bandWidth
    require(w > maxD, s"band width $w must exceed the edit bound $maxD")
    parts.select(col("p_brand"), col("p_partkey"), col("p_name"))
      .as[(String, Long, String)]
      .flatMap { case (brand, key, name) =>
        val nativeBand = name.length / w
        val dup = // near the lower boundary -> also visit the band below
          if (nativeBand > 0 && name.length % w < maxD)
            Seq((brand, nativeBand - 1, nativeBand, key, name))
          else Seq.empty
        (brand, nativeBand, nativeBand, key, name) +: dup
      }
      .groupByKey { case (brand, band, _, _, _) => (brand, band) }
      .flatMapGroups { (k: (String, Int), rows: Iterator[(String, Int, Int, Long, String)]) =>
        val band = k._2
        val ms = rows.map { case (_, _, nb, key, name) => (nb, key, name) }
          .toArray.sortInPlaceBy(r => (r._3.length, r._2))
        // 64-bit char-class signature per name, computed once per row: a
        // single edit changes at most 2 bits, so popcount(sigA ^ sigB) >
        // 2*maxD lower-bounds the distance above the cap — an O(1) gate
        // that kills the vast majority of same-length pairs before the
        // O(len*maxD) DP runs
        val sigs = new Array[Long](ms.length)
        var si = 0
        while (si < ms.length) {
          val s = ms(si)._3
          var sig = 0L
          var ci = 0
          while (ci < s.length) { sig |= 1L << (s.charAt(ci) & 63); ci += 1 }
          sigs(si) = sig
          si += 1
        }
        val maxLen = if (ms.isEmpty) 0 else ms(ms.length - 1)._3.length
        val bufA = new Array[Int](maxLen + 1)
        val bufB = new Array[Int](maxLen + 1)
        Iterator.range(0, ms.length).flatMap { i =>
          Iterator.range(i + 1, ms.length)
            .takeWhile(j => ms(j)._3.length - ms(i)._3.length <= maxD)
            .flatMap { j =>
              // generate in the lower of the two native bands only
              if (math.min(ms(i)._1, ms(j)._1) != band ||
                  java.lang.Long.bitCount(sigs(i) ^ sigs(j)) > 2 * maxD)
                Iterator.empty
              else {
                val d = boundedLevenshtein(ms(i)._3, ms(j)._3, maxD, bufA, bufB)
                if (d >= 0) {
                  val (ka, kb) = (ms(i)._2, ms(j)._2)
                  Iterator.single((math.min(ka, kb), math.max(ka, kb), d))
                } else Iterator.empty
              }
            }
        }
      }
      .toDF("key_a", "key_b", "dist")
      .orderBy("key_a", "key_b")
  }

  val editDistancePairsSql: String =
    s"""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       |  levenshtein(a.p_name, b.p_name) AS dist
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       | AND abs(length(a.p_name) - length(b.p_name)) <= $MaxEditDistance
       |WHERE levenshtein(a.p_name, b.p_name) <= $MaxEditDistance
       |ORDER BY key_a, key_b""".stripMargin

  // ------------------------------------------------- block-level dedup
  val BlockTokens = 8

  /** Sub-document (block-level) exact dedup — the CCNet/RefinedWeb move:
    * whole-document dedup misses the boilerplate PARAGRAPHS shared
    * across otherwise-distinct pages, so the corpus is deduped at the
    * block granularity instead. The fixture text has no newlines, so a
    * "block" is [[BlockTokens]] consecutive non-overlapping whitespace
    * tokens (the tail block keeps whatever remains); first occurrence
    * in (doc_id, block_idx) order is the keeper, every later identical
    * block is a duplicate. Emits the per-document damage report:
    * total/duplicate block counts + tokens surviving the clean.
    *
    * Shape: one generator projection explodes docs into blocks, one
    * hash-aggregation on the block text finds each block's keeper
    * (min of a packed (doc_id, block_idx) long — a 2-field sort key in
    * 8 bytes), and the keeper join lands on the SAME key the aggregate
    * just shuffled on, so it co-locates without a new exchange; the
    * per-doc rollup is the only other shuffle. Never quadratic, no
    * window over the corpus. At 100 TB the block text in the shuffle
    * key would be replaced by its 128-bit hash (md5 here keeps the
    * DuckDB oracle bit-identical). */
  def blockDedup(docs: DataFrame): DataFrame = {
    val bt = BlockTokens
    val blocks = docs
      .select(col("doc_id"), Text.tokens.as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(toks) - 1) div $bt), " +
          s"i -> slice(toks, i * $bt + 1, $bt))")).as(Seq("block_idx", "barr")))
      .select(col("doc_id"), col("block_idx"),
        array_join(col("barr"), " ").as("block"),
        size(col("barr")).cast("long").as("bt"),
        // packed first-occurrence key: block_idx < 2^20 enforced by the
        // fixture's doc length; doc_id headroom to 2^43
        (col("doc_id") * lit(1048576L) + col("block_idx")).as("pos"))
    val keepers = blocks.groupBy("block").agg(min("pos").as("keeper_pos"))
    blocks.join(keepers, "block")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("pos") =!= col("keeper_pos"), 1L).otherwise(0L))
          .as("n_dup_blocks"),
        sum(when(col("pos") === col("keeper_pos"), col("bt")).otherwise(0L))
          .as("n_clean_tokens"))
      .orderBy("doc_id")
  }

  val blockDedupSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents),
       |b AS (SELECT doc_id,
       |        unnest(generate_series(0, (len(toks) - 1) // $BlockTokens)) AS block_idx,
       |        toks
       |      FROM t),
       |bb AS (SELECT doc_id, block_idx,
       |         array_to_string(toks[block_idx * $BlockTokens + 1 : block_idx * $BlockTokens + $BlockTokens], ' ') AS block,
       |         len(toks[block_idx * $BlockTokens + 1 : block_idx * $BlockTokens + $BlockTokens]) AS bt,
       |         doc_id * 1048576 + block_idx AS pos
       |       FROM b),
       |k AS (SELECT block, MIN(pos) AS keeper_pos FROM bb GROUP BY block)
       |SELECT bb.doc_id, COUNT(*) AS n_blocks,
       |  CAST(SUM(CASE WHEN bb.pos <> k.keeper_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
       |  CAST(SUM(CASE WHEN bb.pos = k.keeper_pos THEN bt ELSE 0 END) AS BIGINT) AS n_clean_tokens
       |FROM bb JOIN k USING (block)
       |GROUP BY bb.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- exact-substring dedup
  /** Window width in CODE POINTS for exact-substring detection (~8 words
    * of the fixture's vocabulary). A shared run of R consecutive window
    * positions = a duplicated substring of R + W - 1 characters. */
  val SubstrWindow = 40
  val SubstrBase = 31L
  val SubstrMod = 1000000007L

  /** Exact-substring duplication report, the character-level member of
    * the dedup family (the "dedup training data at the substring level"
    * idea: verbatim passages shared across documents matter even when
    * whole docs differ — license blocks, quoted articles, mirrored
    * paragraphs). Every doc position gets a [[SubstrWindow]]-code-point
    * Rabin-Karp window hash ([[graft.functions.RollingHashes]], one O(n)
    * codegen-boundary kernel per doc — the per-window substring
    * materialization a SQL formulation needs is O(n·W) and 40x the
    * bytes); a window is SHARED when its hash occurs in >= 2 distinct
    * docs. Per doc: total window count, shared-position count, and the
    * longest consecutive shared run (duplicated-passage length proxy).
    *
    * Shape: the (doc, pos, hash) relation is EXPLICITLY hash-partitioned
    * by window hash once, and both consumers ride that partitioning —
    * the >= 2-doc aggregate needs no further exchange and the join back
    * probes on the key the rows already live on (leaving the exchanges
    * implicit planned the h-aggregate and the h-join as independent
    * subtrees, re-scanning the corpus: measured 3.4 s vs 1.6 s at
    * sf0.1). Runs then come from a per-doc window over the SHARED
    * subset only (position - rank is constant within a consecutive run —
    * the classic gaps-and-islands key). Everything is linear in corpus
    * positions: the join fans out one row per shared position, never
    * per pair — no quadratic blowup on a hot window, so no df cap is
    * needed (contrast q16's pair generator). Hash collisions (~n²/2p)
    * conflate unrelated windows identically in both engines — the
    * documented trade of hashing, not a parity risk; production would
    * widen to 128-bit.
    *
    * 100 TB: one corpus scan, one hash-keyed exchange of fixed-width
    * rows, one per-doc window over the (small) shared slice. */
  def substringDups(docs: DataFrame): DataFrame = {
    graft.functions.RollingHashes.register(docs.sparkSession)
    val wins = docs
      .select(col("doc_id"), posexplode(expr(
        s"rolling_hashes(text, $SubstrWindow, $SubstrBase, $SubstrMod)")))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
      .repartition(col("h"))
    val sharedH = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = wins.join(sharedH, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("seg", col("pos") - row_number().over(byDoc))
      .groupBy("doc_id", "seg").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(sum(col("run")).as("n_shared"), max(col("run")).as("max_run"))
    docs.select(col("doc_id"),
        greatest(length(col("text")) - SubstrWindow + 1, lit(0))
          .cast("long").as("n_windows"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  /** Oracle: per-window recompute via list_reduce — O(n·W), DuckDB has
    * no rolling-hash primitive; that asymmetric cost is exactly why the
    * engine carries a native kernel. */
  val substringDupsSql: String = {
    val (w, b, m) = (SubstrWindow, SubstrBase, SubstrMod)
    s"""WITH wins AS (
       |  SELECT doc_id, i AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(i, i + $w - 1),
       |        j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
       |      (acc, c) -> (acc * $b + c) % $m) AS h
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, length(text) - $w + 1)) AS i
       |        FROM documents)),
       |sh AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |s AS (SELECT doc_id, pos,
       |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
       |      FROM wins JOIN sh USING (h)),
       |runs AS (SELECT doc_id, pos - rk AS seg, COUNT(*) AS run
       |         FROM s GROUP BY doc_id, seg),
       |agg AS (SELECT doc_id, SUM(run) AS n_shared, MAX(run) AS max_run
       |        FROM runs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(greatest(length(d.text) - $w + 1, 0) AS BIGINT) AS n_windows,
       |  CAST(COALESCE(agg.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(COALESCE(agg.max_run, 0) AS BIGINT) AS max_run
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------- pagerank (q149)
  /** Power-iteration rounds — pinned (and mirrored by the oracle's
    * unrolled CTEs), unlike q33's run-to-convergence: PageRank is a
    * fixed-budget scoring pass, not a closure computation. */
  val PrIters = 3
  /** Damping in percent (the classic 0.85). */
  val PrDampingPct = 85L
  /** Rank seed / teleport mass, ppm scale. */
  val PrSeedPpm = 1000000L

  /** q149: INTEGER PAGERANK over the near-dup graph — link-analysis
    * centrality as a CURATION signal: within a duplicate family (q33's
    * components), the highest-centrality member is the best canonical
    * choice (q52 picks by quality score; this is the structural
    * complement), and across a crawl, host-graph centrality is a
    * standard pretraining quality feature. All arithmetic is ppm
    * fixed-point with floor division —
    *
    *   r₀ = 1e6;  r' = 150000 + (85 · Σ_in (r div deg)) div 100
    *
    * — deterministic under any execution order (integer sums), mirrored
    * exactly by the oracle's unrolled iterations; total mass drifts by
    * the flooring (a declared property, not renormalized). Induced
    * subgraph only (nodes on ≥1 near-dup edge — q33's discipline), and
    * the undirected edge relation means no dangling nodes: every node
    * has deg ≥ 1 and receives mass.
    *
    * Scale shape: each round is one join of the edge relation against
    * the ≤node-sized rank relation plus a dst-keyed aggregate — the
    * standard Pregel-style iteration, with `localCheckpoint` cutting
    * lineage the way q33 does (at production scale, a checkpoint to
    * storage every ~10 rounds). Cost per round is O(|E|) shuffled
    * bytes; the fixed [[PrIters]] budget makes total cost 3·|E| —
    * never a convergence gamble on a pathological graph. */
  def nearDupPageRank(docs: DataFrame): DataFrame = {
    val edges = nearDupEdges(docs)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var r = deg.select(col("src").as("id"), lit(PrSeedPpm).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(deg, "src")
        .join(r.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      r = contrib.select(col("dst").as("id"),
        (lit(PrSeedPpm * 15 / 100) +
          expr(s"($PrDampingPct * m) div 100")).as("r"))
        .localCheckpoint(true)
    }
    r.join(deg.select(col("src").as("id"), col("deg")), "id")
      .select(col("id").as("doc_id"), col("deg"), col("r").as("rank_ppm"))
      .orderBy("doc_id")
  }

  /** Both directions (src, dst) of every [[minhashPairs]] pair, cut. */
  private def nearDupEdges(docs: DataFrame): DataFrame = {
    val pairs = minhashPairs(docs).select("doc_a", "doc_b")
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
  }

  def nearDupPageRankSql: String = {
    val seed = PrSeedPpm; val tele = PrSeedPpm * 15 / 100; val d = PrDampingPct
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS id, $tele + ($d * SUM(p.r // dg.deg)) // 100 AS r
         |  FROM edges e JOIN deg dg ON dg.src = e.src
         |    JOIN $prev p ON p.id = e.src
         |  GROUP BY e.dst)""".stripMargin
    s"""WITH pairs AS (SELECT * FROM ($minhashPairsSql)),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS id, $seed AS r FROM deg),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT r3.id AS doc_id, CAST(deg.deg AS BIGINT) AS deg,
       |  CAST(r3.r AS BIGINT) AS rank_ppm
       |FROM r3 JOIN deg ON deg.src = r3.id
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------- triangles (q167)
  /** q167: TRIANGLE COUNTING + local clustering coefficients over the
    * near-dup graph — the cohesion signal PageRank (q149) can't see:
    * a doc with high centrality but zero triangles sits between dup
    * families (a template bridging two boilerplate clusters), while a
    * high-cc doc sits INSIDE a tight family — exactly the distinction a
    * curation pass wants when deciding "canonical representative" vs
    * "crawl artifact stitching families together".
    *
    * The naive triangle join (adjacency ⋈ adjacency ⋈ edges, unoriented)
    * explodes on skew: a hub of degree d contributes d² wedges. The
    * engine runs the DEGREE-ORDERED ORIENTATION (Chiba–Nishizeki /
    * "forward" algorithm): every edge points from its lower-(deg, id)
    * endpoint to the higher, each triangle is enumerated exactly once
    * from its lowest-rank corner, and per-node out-degree is bounded by
    * O(√m) on any graph — so the wedge relation is Σ d_out² = O(m^1.5)
    * worst-case instead of Σ d², and a hub's d² wedges simply never
    * materialize. The oracle enumerates the same triangle set from the
    * id-ordered canonical form (orientation changes the join shape, not
    * the set). Shape: two joins over the edge relation + one explode of
    * the 3 corners per triangle; cc_bp = 20000·T(v) div (deg·(deg−1))
    * (= basis-point local clustering coefficient, exact integers). */
  def nearDupTriangles(docs: DataFrame): DataFrame = {
    val pairs = minhashPairs(docs).select("doc_a", "doc_b").localCheckpoint(true)
    val deg = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // orient: src = lower (deg, id) endpoint; keep the dst rank for the
    // wedge ordering below. doc_a < doc_b already, so ties resolve by id.
    val oriented = pairs
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("doc_a") < col("doc_b")),
          struct(col("doc_a").as("v"), col("da").as("d")))
          .otherwise(struct(col("doc_b").as("v"), col("db").as("d"))).as("s"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("doc_a") < col("doc_b")),
          struct(col("doc_b").as("v"), col("db").as("d")))
          .otherwise(struct(col("doc_a").as("v"), col("da").as("d"))).as("t"))
      .select(col("s.v").as("src"), col("t.v").as("dst"), col("t.d").as("dst_deg"))
      .localCheckpoint(true)
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dst_deg").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dst_deg").as("dw"))
    val wedges = e1.join(e2, "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val triangles = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src"), col("v"), col("w"))
    triangles
      .select(explode(array(col("src"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
      .join(deg, "id")
      .select(col("id").as("doc_id"), col("deg"), col("n_tri"),
        expr("(20000 * n_tri) div (deg * (deg - 1))").as("cc_bp"))
      .orderBy("doc_id")
  }

  /** Oracle: id-ordered canonical enumeration of the same triangle set
    * (doc_a < doc_b is already canonical in the pair relation). */
  def nearDupTrianglesSql: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |nodes AS (
       |  SELECT x AS id FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri),
       |deg AS (
       |  SELECT id, COUNT(*) AS deg FROM (
       |    SELECT doc_a AS id FROM pairs
       |    UNION ALL SELECT doc_b FROM pairs) GROUP BY id),
       |cnt AS (SELECT id, COUNT(*) AS n_tri FROM nodes GROUP BY id)
       |SELECT c.id AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       |  CAST(c.n_tri AS BIGINT) AS n_tri,
       |  CAST((20000 * c.n_tri) // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_bp
       |FROM cnt c JOIN deg d ON d.id = c.id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------ label propagation (q177)
  /** Voting rounds (fixed budget, q149's discipline) and the labeled
    * fraction: every 5th doc carries a "human" label. */
  val LpRounds = 2
  val LpSeedMod = 5L

  /** q177: SEMI-SUPERVISED LABEL PROPAGATION over the near-dup graph —
    * stretch a sparse set of trusted quality labels (here: the q120
    * classifier verdict on every [[LpSeedMod]]-th doc, standing in for
    * human review) across near-duplicate families: if a reviewed doc is
    * spam, its near-dups are spam too, and paying a reviewer for each
    * family MEMBER is exactly what a curation budget can't do. Zhu &
    * Ghahramani's LP with integer majority votes: unlabeled nodes start
    * 0, each round every node's new label is sign(Σ neighbor labels)
    * with ties keeping the previous state, and SEED NODES ARE CLAMPED
    * (their evidence must not wash out — the defining LP constraint).
    * Integer votes under undirected edges are order-independent, so
    * [[LpRounds]] rounds are bit-deterministic and the oracle unrolls
    * them exactly (q149's discipline). Per round: one edge-vs-label
    * join + a dst aggregate — O(|E|) shuffled bytes, induced subgraph
    * only, localCheckpoint lineage cuts. */
  def labelPropagation(docs: DataFrame): DataFrame = {
    val edges = nearDupEdges(docs)
    val seeds = graft.ext.TextAnalysis.classifierScores(docs)
      .filter(col("doc_id") % LpSeedMod === 0)
      .select(col("doc_id").as("id"),
        (col("keep") * 2 - 1).as("seed_label"))
    val nodes = edges.select(col("src").as("id")).distinct()
      .join(seeds, Seq("id"), "left")
      .select(col("id"), coalesce(col("seed_label"), lit(0L)).as("seed_label"))
      .localCheckpoint(true)
    var state = nodes.select(col("id"), col("seed_label").as("label"))
    for (_ <- 1 to LpRounds) {
      val votes = edges
        .join(state.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst")).agg(sum(col("label")).as("vote"))
        .select(col("dst").as("id"), col("vote"))
      state = nodes.join(votes, Seq("id"), "left")
        .join(state.select(col("id"), col("label").as("old")), "id")
        .select(col("id"),
          when(col("seed_label") =!= 0, col("seed_label"))
            .when(coalesce(col("vote"), lit(0L)) > 0, 1L)
            .when(coalesce(col("vote"), lit(0L)) < 0, -1L)
            .otherwise(col("old")).as("label"))
        .localCheckpoint(true)
    }
    nodes.join(state, "id")
      .select(col("id").as("doc_id"), col("seed_label"), col("label"))
      .orderBy("doc_id")
  }

  def labelPropagationSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT n.id, n.seed_label,
         |    CASE WHEN n.seed_label <> 0 THEN n.seed_label
         |         WHEN COALESCE(v.vote, 0) > 0 THEN 1
         |         WHEN COALESCE(v.vote, 0) < 0 THEN -1
         |         ELSE p.label END AS label
         |  FROM nodes n
         |  JOIN $prev p ON p.id = n.id
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p2.label) AS vote
         |    FROM edges e JOIN $prev p2 ON p2.id = e.src
         |    GROUP BY e.dst) v ON v.id = n.id)""".stripMargin
    val rounds = (1 to LpRounds)
      .map(i => round(if (i == 1) "s0" else s"s${i - 1}", s"s$i"))
      .mkString(",\n")
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |sc AS (SELECT doc_id, keep FROM (${graft.ext.TextAnalysis.classifierScoresSql})),
       |seeds AS (
       |  SELECT doc_id AS id, keep * 2 - 1 AS seed_label
       |  FROM sc WHERE doc_id % $LpSeedMod = 0),
       |nodes AS (
       |  SELECT n.id, COALESCE(s.seed_label, 0) AS seed_label
       |  FROM (SELECT DISTINCT src AS id FROM edges) n
       |  LEFT JOIN seeds s ON s.id = n.id),
       |s0 AS (SELECT id, seed_label, seed_label AS label FROM nodes),
       |$rounds
       |SELECT id AS doc_id, CAST(seed_label AS BIGINT) AS seed_label,
       |  CAST(label AS BIGINT) AS label
       |FROM s$LpRounds
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------- incremental near-dup (q186)
  /** Base/delta split: every 4th-mod-3 doc is the arriving batch. */
  val LshDeltaMod = 4L

  /** Catalog kind for the stored band postings — the version suffix is
    * the FORMAT fingerprint: bump it whenever the banding arithmetic
    * changes, or a new build would silently load postings produced by
    * old code (the content fingerprint only covers the DATA). */
  val LshIndexKind = "lsh-bands-v1"

  /** Test hook: the stored-index path for a fixture key (so the spec
    * can assert the index files stay byte-untouched across ingests). */
  private[graft] def lshIndexPathForTest(key: String): String =
    graft.sources.IndexCatalog.pathForTest(LshIndexKind, key)

  /** Content fingerprint keying the stored index — delegated to the
    * persistent [[graft.sources.IndexCatalog]] (path + length + mtime
    * per input file, re-statted every call, so a dataset REGENERATED at
    * the same paths gets a fresh index instead of silently probing a
    * stale one — even within a single JVM; in-memory frames fall back
    * to a monotonic per-frame session identity that is never recycled). */
  private[graft] def lshIndexKey(docs: DataFrame): String =
    graft.sources.IndexCatalog.contentFingerprint(docs)

  /** q186: INCREMENTAL NEAR-DUP INDEX MAINTENANCE — the LSH member of
    * the index-maintenance family (exact-hash q50, IVF q155, SCD2
    * q136): the base corpus's band postings are a STORED index, and an
    * arriving batch is checked by banding ONLY the delta and probing
    * the stored postings at the delta's band keys — never a base
    * rescan, never a base re-banding. Cost per ingest:
    * O(|delta| · bands) postings computed + the stored postings of
    * TOUCHED keys read (over a key-partitioned postings layout that
    * read is partition pruning — the q137 discipline; the fixture
    * proves it relationally via a broadcast semi-join on the touched
    * keys). Bucket caps apply to the COMBINED (base ∪ delta) bucket —
    * the same size the full rebuild would see — so the gate can demand
    * EXACT agreement with the from-scratch pair relation restricted to
    * pairs involving a delta doc, which is precisely what the oracle
    * computes. Emitted pairs all touch the delta (base-base pairs were
    * the base build's output, not this ingest's). */
  def incrementalNearDup(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.filter(col("doc_id") % LshDeltaMod =!= (LshDeltaMod - 1))
    val delta = docs.filter(col("doc_id") % LshDeltaMod === (LshDeltaMod - 1))
    val key = lshIndexKey(docs)
    // the stored postings are a CATALOG table now: a fresh session
    // LOADS them by content fingerprint instead of re-banding the base
    val indexPath = graft.sources.IndexCatalog
      .getOrBuild(spark, LshIndexKind, key) { dir =>
        minhashBands(base).write.mode("overwrite").parquet(dir)
      }
    val stored = spark.read.parquet(indexPath)
    val fresh = minhashBands(delta)
    val touched = fresh.select("band", "band_key").distinct()
    val members = stored.join(broadcast(touched), Seq("band", "band_key"))
      .unionByName(fresh)
    members.groupBy("band", "band_key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxLshBucket)
      .select(inBucketPairs("doc_a", "doc_b"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .filter(col("doc_a") % LshDeltaMod === (LshDeltaMod - 1) ||
        col("doc_b") % LshDeltaMod === (LshDeltaMod - 1))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: the full-corpus pair relation (identical banding, caps on
    * full-corpus bucket sizes) restricted to pairs touching the delta —
    * incremental must equal rebuild, the whole IVM contract. */
  def incrementalNearDupSql: String =
    s"""SELECT doc_a, doc_b FROM ($minhashPairsSql)
       |WHERE doc_a % $LshDeltaMod = ${LshDeltaMod - 1}
       |   OR doc_b % $LshDeltaMod = ${LshDeltaMod - 1}
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------- PPJoin exact Jaccard (q188)
  /** Jaccard threshold as an exact rational: J ≥ 1/2. */
  val PpjNum = 1L
  val PpjDen = 2L

  /** q188: EXACT SET-SIMILARITY JOIN with PREFIX FILTERING (PPJoin,
    * Xiao et al.) — the PROVABLY-COMPLETE exact counterpart of the
    * probabilistic LSH family (q14/q16 trade recall for speed via
    * banding and df caps; this trades nothing): order every doc's
    * 3-gram shingle set by a global (df, shingle) total order (rarest
    * first) and index ONLY each set's first p = n − ⌈t·n⌉ + 1
    * shingles. Completeness is arithmetic, not probabilistic: J ≥ t
    * forces overlap ≥ ⌈t·n⌉ on either side, and an intersection that
    * avoided the whole prefix could reach at most n − p = ⌈t·n⌉ − 1 —
    * contradiction. So candidates = prefix-postings self-join (tiny
    * fraction of the full inverted index — rare shingles have short
    * posting lists BY CONSTRUCTION of the ordering), plus the length
    * filter t·n_a ≤ n_b ≤ n_a/t, then one exact intersection count
    * verifies survivors. Every comparison is rational (2·inter ≥
    * union, never a float threshold), so the gate is hash-exact; the
    * oracle runs the UNFILTERED inverted-index join (any shared
    * shingle) — prefix-filtered must equal unfiltered exactly, which
    * IS the completeness theorem as a test.
    *
    * Pass `candObs` to observe how many candidate pairs survive the
    * prefix+length+positional filters into exact verification — the
    * scale rehearsal reads it to MEASURE (not assert) that the filter
    * stack keeps the candidate space far below the n²/2 all-pairs
    * bound on a skewed 10x corpus. Observe with AQE off (Spark 4.1
    * drops mid-plan observed metrics under AQE — the round-3 lesson). */
  def ppjoinPairs(docs: DataFrame,
                  candObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // loud contract, not a comment: under AQE Spark 4.1 silently drops
    // mid-plan observed metrics and the caller's Observation.get fails
    // far from the cause
    require(candObs.isEmpty ||
      !docs.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "ppjoinPairs candObs requires spark.sql.adaptive.enabled=false " +
        "(AQE drops mid-plan observed metrics)")
    graft.functions.ShingleHashes.register(docs.sparkSession, 3, HashBase, HashMod)
    // the q14/q16 hashed-shingle basis: sets of POLY-HASH LONGS, built by
    // the one-pass codegen expression — no shingle strings are ever
    // materialized, per-doc distinctness is a row-local array_distinct
    // (no corpus-wide distinct shuffle), and every downstream relation
    // (postings, prefixes, verification arrays) carries 8-byte longs
    // instead of ~20-byte strings (measured 2.4x on the q188 wall)
    val hs = docs.select(col("doc_id"),
        expr("array_sort(array_distinct(shingle_hashes(text)))").as("hs"))
      .localCheckpoint(true)
    val dt = hs.select(col("doc_id"), explode(col("hs")).as("h"))
    val df0 = dt.groupBy("h").agg(count(lit(1)).as("df"))
    val sorted = dt.join(df0, "h")
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_list(struct(df, h)))").as("ord"))
      .select(col("doc_id"), size(col("ord")).as("n"),
        expr("transform(ord, s -> s.h)").as("hs_all"),
        expr(s"slice(transform(ord, s -> s.h), 1, " +
          s"size(ord) - ((size(ord) * $PpjNum + $PpjDen - 1) div $PpjDen) + 1)")
          .as("prefix"))
      .localCheckpoint(true)
    val pre = sorted.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "h")))
    // positional filter (the PPJoin refinement over plain prefix
    // filtering): a match at prefix position pos can extend to at most
    // 1 + (n − pos − 1) further overlaps on that side, and J ≥ t needs
    // overlap ≥ ⌈t/(1+t)·(n_a+n_b)⌉ — candidates whose FIRST shared
    // prefix position already can't reach the bound never materialize
    val alpha = s"((${PpjNum} * (n_a + n_b)) + (${PpjNum + PpjDen} - 1)) div ${PpjNum + PpjDen}"
    val cand = pre.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("pos").as("pos_a"), col("h"))
      .join(pre.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("pos").as("pos_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b") &&
        col("n_a") * PpjNum <= col("n_b") * PpjDen &&
        col("n_b") * PpjNum <= col("n_a") * PpjDen)
      .filter(expr(s"1 + least(n_a - pos_a - 1, n_b - pos_b - 1) >= $alpha"))
      .select("doc_a", "doc_b", "n_a", "n_b")
      .distinct()
    val watched = candObs.fold(cand)(o =>
      cand.observe(o, count(lit(1)).as("candidates")))
    // verification: two id-keyed joins hand each candidate pair both
    // distinct hash arrays; the exact overlap is a per-row
    // array_intersect fold inside codegen — candidate-count rows
    // through a projection, never (pair, token) rows through a groupBy
    val inter = watched
      .join(sorted.select(col("doc_id").as("doc_a"), col("hs_all").as("ta")), Seq("doc_a"))
      .join(sorted.select(col("doc_id").as("doc_b"), col("hs_all").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"))
    inter
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * PpjDen >= col("uni") * PpjNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        expr("(10000 * inter) div uni").as("jac_bp"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: the unfiltered inverted-index join — any shared shingle
    * generates the pair, exact intersection counts, same rational
    * threshold. Prefix-filtered == unfiltered is the completeness
    * proof run as a hash compare. */
  val ppjoinPairsSql: String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id,
       |    unnest($duckShingleHashes) AS h
       |  FROM documents),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM dt a JOIN dt b ON b.h = a.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       |  CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
       |  CAST((10000 * inter) // (sa.n + sb.n - inter) AS BIGINT) AS jac_bp
       |FROM p JOIN sz sa ON sa.doc_id = p.doc_a
       |JOIN sz sb ON sb.doc_id = p.doc_b
       |WHERE inter * $PpjDen >= (sa.n + sb.n - inter) * $PpjNum
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- winnowing (q190)
  /** Tokens per winnowing k-gram. */
  val WinnowK = 4
  /** Consecutive k-gram hashes per selection window. Winnowing's
    * guarantee: any shared token run of length >= K+W-1 forces at least
    * one shared selected fingerprint. */
  val WinnowW = 4
  /** Low bits of the packed (hash, position) long reserved for the gram
    * position — guarded loudly (packGuard discipline), never wrapped. */
  val WinnowPosBits = 20
  /** Document-frequency cap on kept fingerprints: a fingerprint in more
    * docs than this is boilerplate and generates no pairs — the same
    * over-common-fingerprint drop MOSS applies, and the same skew guard
    * as [[MaxShingleDf]] (a hot fingerprint's posting list would go
    * quadratic). Mirrored in the oracle. */
  val WinnowMaxDf = 64
  /** Pairs must share at least this many kept fingerprints. */
  val WinnowMinShared = 2L

  /** q190: WINNOWED FINGERPRINT OVERLAP — MOSS-style local document
    * fingerprinting (Schleimer/Wilkerson/Aiken winnowing), the standard
    * robust contamination/plagiarism detector: hash every
    * [[WinnowK]]-token gram, slide a [[WinnowW]]-window over the hash
    * sequence, keep each window's MINIMUM hash (rightmost on ties — the
    * canonical rule, encoded by packing `posCap-1-pos` into the low
    * bits so the packed min IS min-hash-then-rightmost). Unlike q22's
    * whole-document hash (any edit breaks it) or q14's MinHash (a
    * global sketch), winnowed fingerprints are POSITIONAL: a long
    * shared passage survives arbitrary edits elsewhere, with a hard
    * guarantee — any shared run of K+W-1 tokens shares a fingerprint.
    *
    * Scale shape: fingerprint selection is PURE per-row array
    * arithmetic (transform/slice/array_min over the gram-hash array) —
    * zero shuffle until the postings join, embarrassingly parallel at
    * any corpus size. The pair join is the q14/q16 inverted-index
    * shape: postings keyed by fingerprint, df-capped ([[WinnowMaxDf]])
    * so no bucket goes quadratic; the df count rides the SAME
    * fp-keyed exchange the self-join needs (window over fp, exchange
    * reuse). Output: doc pairs sharing >= [[WinnowMinShared]] kept
    * fingerprints with overlap_ppm = shared/min(|fps_a|,|fps_b|) —
    * exact duplicates read 1000000. */
  def winnowedPairs(docs: DataFrame): DataFrame = {
    val posCap = 1L << WinnowPosBits
    val minToks = WinnowK + WinnowW - 1
    // per-doc selection: gram hashes -> sliding-window packed minima ->
    // distinct selected hashes, all inside one generator-free projection
    val fps = docs
      .select(col("doc_id"), Text.tokens.as("toks"))
      .where(size(col("toks")) >= minToks)
      .withColumn("enc", expr(
        s"""transform(sequence(0, size(toks) - $WinnowK), p ->
           |  cast(conv(substr(md5(array_join(slice(toks, p + 1, $WinnowK), ' ')), 1, 10), 16, 10) as bigint) * ${posCap}L
           |  + if(p < ${posCap}L, ${posCap - 1}L - p,
           |       raise_error('q190 gram position exceeds ${posCap} (winnow pos bits)')))""".stripMargin))
      .withColumn("sel", expr(
        s"""transform(sequence(${WinnowW - 1}, size(enc) - 1), i ->
           |  array_min(slice(enc, i - ${WinnowW - 2}, $WinnowW)))""".stripMargin))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(transform(sel, e -> e div ${posCap}L))")).as("fp"))
    // df cap rides the fp-keyed exchange the pair self-join reuses
    val kept = fps
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .where(col("df") <= WinnowMaxDf)
      .select("doc_id", "fp")
    val nf = kept.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= WinnowMinShared)
    pairs
      .join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_fps"),
        expr("(shared_fps * 1000000) div least(nfp_a, nfp_b)").as("overlap_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val winnowedPairsSql: String =
    s"""WITH t AS (SELECT doc_id, ${Text.duckTokens} AS toks FROM documents
       |           WHERE len(${Text.duckTokens}) >= ${WinnowK + WinnowW - 1}),
       |g AS (SELECT doc_id, unnest(generate_series(0, len(toks) - $WinnowK)) AS p, toks FROM t),
       |h AS (SELECT doc_id, p,
       |        ('0x' || substr(md5(array_to_string(toks[p + 1 : p + $WinnowK], ' ')), 1, 10))::BIGINT * ${1L << WinnowPosBits}
       |          + (${(1L << WinnowPosBits) - 1} - p) AS enc
       |      FROM g),
       |w AS (SELECT doc_id, p,
       |        min(enc) OVER (PARTITION BY doc_id ORDER BY p
       |          ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel
       |      FROM h),
       |fps AS (SELECT DISTINCT doc_id, sel // ${1L << WinnowPosBits} AS fp
       |        FROM w WHERE p >= ${WinnowW - 1}),
       |df AS (SELECT fp, count(*) AS d FROM fps GROUP BY fp),
       |fk AS (SELECT f.doc_id, f.fp FROM fps f JOIN df ON df.fp = f.fp WHERE df.d <= $WinnowMaxDf),
       |nf AS (SELECT doc_id, count(*) AS nfp FROM fk GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
       |          FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared_fps,
       |  (shared_fps * 1000000) // least(na.nfp, nb.nfp) AS overlap_ppm
       |FROM pairs JOIN nf na ON na.doc_id = doc_a JOIN nf nb ON nb.doc_id = doc_b
       |WHERE shared_fps >= $WinnowMinShared
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------ near-dup split leakage (q213)
  /** q213: NEAR-DUP SPLIT-LEAKAGE AUDIT — how many q14 near-duplicate
    * pairs STRADDLE q112's train/val/test boundaries: a val/test doc
    * whose near-duplicate sits in train means the benchmark scores
    * memorization, not generalization — the contamination q124's
    * cluster-aware split prevents, measured here as the audit you run
    * BEFORE deciding to switch split strategies (zero straddling pairs
    * means the plain hash split is fine; q124's spec proves this
    * fixture reads nonzero). Reports every unordered split-pair
    * combination with its pair count and ppm share of all near-dup
    * pairs — the within-split rows are the denominator context, the
    * cross-split rows are the leaks. One definition each for the pair
    * relation (q14's) and the labels (q112's).
    *
    * Scale: rides the audited q14 banded join; the label join is two
    * id-keyed probes and the report a ≤6-row aggregate. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val lab = graft.ext.Curation.splitLabels(docs).select("doc_id", "split")
    val pairs = minhashPairs(docs).select("doc_a", "doc_b")
    val tagged = pairs
      .join(lab.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(lab.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
    // ONE pass over the pair join: the total rides a window over the
    // ≤6-row grouped relation instead of a second corpus-plan action
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    tagged.groupBy("split_lo", "split_hi").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_total", sum("n_pairs").over(totW))
      .select(col("split_lo"), col("split_hi"), col("n_pairs"),
        expr("(n_pairs * 1000000) div n_total").as("share_ppm"),
        when(col("split_lo") =!= col("split_hi"), 1L).otherwise(0L).as("leak"))
      .orderBy("split_lo", "split_hi")
  }

  def splitLeakageSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b FROM (${minhashPairsSql})),
       |lab AS (
       |  SELECT doc_id, ${graft.ext.Curation.splitCaseSql("doc_id")} AS split
       |  FROM documents),
       |tg AS (
       |  SELECT least(la.split, lb.split) AS split_lo,
       |         greatest(la.split, lb.split) AS split_hi
       |  FROM p JOIN lab la ON la.doc_id = p.doc_a
       |         JOIN lab lb ON lb.doc_id = p.doc_b),
       |tot AS (SELECT count(*) AS n_total FROM tg)
       |SELECT split_lo, split_hi, count(*) AS n_pairs,
       |  CAST((count(*) * 1000000) // n_total AS BIGINT) AS share_ppm,
       |  CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT) AS leak
       |FROM tg CROSS JOIN tot
       |GROUP BY split_lo, split_hi, n_total
       |ORDER BY split_lo, split_hi""".stripMargin

  // ------------------------------ effective token mass (q209)
  /** q209: EFFECTIVE (DEDUPLICATED) TOKEN MASS per source — the number
    * that actually belongs in a compute budget: raw token counts
    * overstate a corpus by exactly its duplication, and "effective
    * epochs" arithmetic (how many times the model really sees each
    * token) divides by THIS, not the raw size. Canonical docs are
    * q13's rule verbatim (min doc_id of the normalized-text group —
    * one definition, so the two queries can never disagree about what
    * a duplicate is); deduped mass attributes to the canonical's own
    * source. Reports per source: raw docs/tokens, deduped docs/tokens,
    * savings_ppm = removed/raw.
    *
    * Scale: one normalized-hash aggregate (the q13 shuffle) + one
    * canonical semi-join back + two per-source aggregates — linear,
    * and the canonical set is ids-only through the join. */
  def effectiveTokens(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), col("doc_id"),
      size(Text.tokens).cast("long").as("nt"),
      Text.normTextHash.as("text_hash"))
    val canon = base.groupBy("text_hash").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val raw = base.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("nt").as("raw_tokens"))
    val ded = base.join(canon, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("dedup_docs"), sum("nt").as("dedup_tokens"))
    raw.join(ded, Seq("source"), "left_outer")
      .select(col("source"), col("raw_docs"), col("raw_tokens"),
        coalesce(col("dedup_docs"), lit(0L)).as("dedup_docs"),
        coalesce(col("dedup_tokens"), lit(0L)).as("dedup_tokens"),
        expr("((raw_tokens - coalesce(dedup_tokens, 0)) * 1000000) div raw_tokens")
          .as("savings_ppm"))
      .orderBy("source")
  }

  def effectiveTokensSql: String =
    s"""WITH base AS (
      |  SELECT source, doc_id,
      |    CAST(len(${Text.duckTokens}) AS BIGINT) AS nt,
      |    ${Text.normTextHashSql} AS text_hash
      |  FROM documents),
      |canon AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text_hash),
      |raw AS (SELECT source, count(*) AS raw_docs, sum(nt) AS raw_tokens
      |        FROM base GROUP BY source),
      |ded AS (SELECT source, count(*) AS dedup_docs, sum(nt) AS dedup_tokens
      |        FROM base JOIN canon USING (doc_id) GROUP BY source)
      |SELECT r.source, r.raw_docs, CAST(r.raw_tokens AS BIGINT) AS raw_tokens,
      |  CAST(coalesce(d.dedup_docs, 0) AS BIGINT) AS dedup_docs,
      |  CAST(coalesce(d.dedup_tokens, 0) AS BIGINT) AS dedup_tokens,
      |  CAST(((r.raw_tokens - coalesce(d.dedup_tokens, 0)) * 1000000) // r.raw_tokens AS BIGINT) AS savings_ppm
      |FROM raw r LEFT JOIN ded d ON d.source = r.source
      |ORDER BY r.source""".stripMargin

  // --------------------------- content-defined chunking dedup (q206)
  /** Rolling window width (code points) for the CDC boundary hash. */
  val CdcWindow = 16
  /** Boundary rule: cut after a window whose hash ≡ 0 (mod this) —
    * expected chunk length ≈ this many characters. */
  val CdcMask = 64L

  /** q206: CONTENT-DEFINED CHUNKING DEDUP — storage-style dedup at
    * variable chunk granularity: boundaries fall where the rolling
    * hash of the last [[CdcWindow]] chars ≡ 0 mod [[CdcMask]], so an
    * INSERTION only reshapes the chunks it touches and every other
    * chunk keeps its identity — the property q72's fixed windows and
    * q46's fixed-stride chunks both lack, and the reason backup/dedup
    * systems (and long-doc near-dup pipelines) chunk by content, not
    * offset. Reports every chunk shared by >= 2 docs with its length
    * and occurrence counts — the shared-passage inventory at chunk
    * grain.
    *
    * Scale: boundary detection is the same O(n) [[graft.functions.RollingHashes]]
    * codegen kernel as q72 (a SQL formulation pays O(n·W) — the oracle
    * does, measured, which is the point); chunking is per-row array
    * arithmetic; the only shuffle is the final md5-keyed aggregate of
    * (chunk, doc) rows — linear in corpus chars, no pair blowup (the
    * aggregate emits per-chunk rows, never per-pair). */
  def cdcChunkDups(docs: DataFrame): DataFrame = {
    graft.functions.RollingHashes.register(docs.sparkSession)
    val chunks = docs
      .select(col("doc_id"), col("text"),
        expr(s"rolling_hashes(text, $CdcWindow, $SubstrBase, $SubstrMod)").as("hs"))
      .withColumn("ends", expr(
        s"""if(size(hs) = 0, cast(array() as array<int>),
           |   transform(filter(sequence(1, size(hs)),
           |     i -> element_at(hs, i) % $CdcMask = 0),
           |     i -> i + $CdcWindow - 1))""".stripMargin))
      .withColumn("bounds", expr("concat(array(0), ends, array(length(text)))"))
      .select(col("doc_id"), explode(expr(
        """filter(transform(sequence(1, size(bounds) - 1),
          |  k -> substring(text, element_at(bounds, k) + 1,
          |    element_at(bounds, k + 1) - element_at(bounds, k))),
          |  c -> length(c) > 0)""".stripMargin)).as("c"))
    chunks
      .groupBy(expr("md5(cast(c as binary))").as("chunk_md5"))
      .agg(max(length(col("c"))).cast("long").as("chunk_len"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_md5")
  }

  /** Oracle: the same boundary rule with the per-window O(n·W) hash
    * recompute (DuckDB has no rolling-hash primitive — q72's argument,
    * at CDC width). */
  val cdcChunkDupsSql: String =
    s"""WITH hs AS (
       |  SELECT doc_id, text,
       |    list_transform(generate_series(1, greatest(length(text) - $CdcWindow + 1, 0)),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(generate_series(i, i + $CdcWindow - 1),
       |               j -> CAST(ord(substr(text, j, 1)) AS BIGINT))),
       |             (acc, c) -> (acc * $SubstrBase + c) % $SubstrMod)) AS hl
       |  FROM documents),
       |cuts AS (
       |  SELECT doc_id, text,
       |    list_transform(list_filter(generate_series(1, len(hl)),
       |      i -> hl[i] % $CdcMask = 0), i -> i + $CdcWindow - 1) AS ends
       |  FROM hs),
       |bounds AS (
       |  SELECT doc_id, text,
       |    list_concat(list_concat([CAST(0 AS BIGINT)], ends),
       |                [CAST(length(text) AS BIGINT)]) AS b
       |  FROM cuts),
       |chunks AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(b) - 1),
       |      k -> substr(text, CAST(b[k] + 1 AS INT), CAST(b[k + 1] - b[k] AS INT)))) AS c
       |  FROM bounds)
       |SELECT md5(c) AS chunk_md5, CAST(max(length(c)) AS BIGINT) AS chunk_len,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, count(*) AS n_occ
       |FROM chunks WHERE length(c) > 0
       |GROUP BY md5(c) HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY chunk_md5""".stripMargin

  // ------------------------------------- sorted-neighborhood dedup (SNM)
  /** Neighbor window: each record is compared with the next [[SnmWindow]]
    * records in block-sorted order (the classic SNM window minus the
    * symmetric half — looking back would re-emit every pair). */
  val SnmWindow = 3
  /** Jaccard floor (e4) for reporting a neighborhood pair. */
  val SnmTauE4 = 5000L

  /** Sorted-neighborhood near-dup detection — the THIRD candidate-
    * generation family next to banding (q14/q31) and inverted-index
    * joins (q16/q188): sort the corpus by a discriminating key, compare
    * each record only with its [[SnmWindow]] sort neighbors (Hernández &
    * Stolfo's merge/purge method). Completeness is heuristic — near-dups
    * whose sort keys diverge early are missed — but the cost is exactly
    * one sort plus a LINEAR windowed pass: no pair blowup is possible
    * even on an adversarial corpus, which is the property neither LSH
    * (hot buckets need caps) nor inverted indexes (hot shingles need df
    * caps) has for free.
    *
    * Key design: block = the first two tokens of the NORMALIZED text
    * ([[Text.norm]]'s normalization — one shared rule), sort within
    * block by full normalized text then doc_id. The window partitions by
    * block, so at scale no global single-partition sort exists (the
    * blocks hash-partition; pairs across block boundaries are missed BY
    * DESIGN — the standard SNM trade, recovered in production by a
    * second pass under a different key, exactly how multi-pass SNM is
    * specified). Neighbor token-sets arrive via lead() over the SAME
    * window spec (one WindowExec computes all [[SnmWindow]] leads), so
    * the corpus shuffles ONCE on block and nothing self-joins. */
  def sortedNeighborhoodPairs(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), Text.norm.as("norm"))
      .withColumn("block", substring_index(col("norm"), " ", 2))
      .withColumn("toks", array_distinct(split(col("norm"), " ")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("block").orderBy("norm", "doc_id")
    // window expressions must be materialized before the explode (Spark
    // rejects them inside a generator); one shared spec keeps all
    // SnmWindow leads in ONE WindowExec pass (PlanSpec pins this)
    val withLeads = (1 to SnmWindow).foldLeft(base) { (df, k) =>
      df.withColumn(s"nbr_id_$k", lead(col("doc_id"), k).over(w))
        .withColumn(s"nbr_toks_$k", lead(col("toks"), k).over(w))
    }
    val nbrs = (1 to SnmWindow).map { k =>
      struct(col(s"nbr_id_$k").as("nbr_id"),
             col(s"nbr_toks_$k").as("nbr_toks"))
    }
    withLeads
      .select(col("doc_id"), col("toks"), explode(array(nbrs: _*)).as("nb"))
      .filter(col("nb.nbr_id").isNotNull)
      .select(col("doc_id"), col("toks"),
        col("nb.nbr_id").as("nbr_id"), col("nb.nbr_toks").as("nbr_toks"))
      .withColumn("n_common", size(array_intersect(col("toks"), col("nbr_toks"))))
      .withColumn("jaccard_e4", expr(
        "(10000 * n_common) div (size(toks) + size(nbr_toks) - n_common)"))
      .filter(col("jaccard_e4") >= SnmTauE4)
      .select(least(col("doc_id"), col("nbr_id")).as("doc_a"),
              greatest(col("doc_id"), col("nbr_id")).as("doc_b"),
              col("jaccard_e4"))
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: row_number within block + a rank-band self-join (rn+1 ..
    * rn+SnmWindow) — same pairs as the engine's lead() formulation;
    * token-set intersection via list_filter/list_contains (DuckDB 1.0
    * has no list_intersect). */
  val sortedNeighborhoodSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${Text.duckNorm} AS norm,
       |    array_to_string(string_split(${Text.duckNorm}, ' ')[1:2], ' ') AS block,
       |    list_distinct(string_split(${Text.duckNorm}, ' ')) AS toks
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, block, toks,
       |    ROW_NUMBER() OVER (PARTITION BY block ORDER BY norm, doc_id) AS rn
       |  FROM base),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS n_common,
       |    len(a.toks) AS na, len(b.toks) AS nb
       |  FROM ranked a JOIN ranked b
       |    ON a.block = b.block AND b.rn BETWEEN a.rn + 1 AND a.rn + $SnmWindow)
       |SELECT LEAST(id_a, id_b) AS doc_a, GREATEST(id_a, id_b) AS doc_b,
       |  (10000 * n_common) // (na + nb - n_common) AS jaccard_e4
       |FROM pairs
       |WHERE (10000 * n_common) // (na + nb - n_common) >= $SnmTauE4
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------- canary scan
  /** Canary selection: one canary per doc with doc_id %% [[CanaryMod]]
    * == 0, taken [[CanaryOff]] code points in (1-based), [[CanaryWin]]
    * code points wide. Needle-corpus scans use canaries planted in
    * training data to audit memorization/contamination — the needles
    * here are corpus substrings so the fixture needs no side files. */
  val CanaryMod = 97L
  val CanaryWin = 32
  val CanaryOff = 17

  /** Multi-pattern exact substring search (the canary/memorization
    * audit): find every occurrence of every needle across the corpus in
    * ONE O(corpus) pass. The needle set broadcasts as (hash → needle);
    * each doc's [[graft.functions.RollingHashes]] array (the O(n)
    * Rabin-Karp kernel q72 carries) probes it via a broadcast hash join,
    * and survivors are verified by actual substring equality — hash
    * collisions die at the verify, so the report is EXACT while the scan
    * cost stays linear (a naive multi-pattern scan is O(corpus ×
    * needles); this is O(corpus + hits), the Rabin-Karp multi-pattern
    * construction). 100 TB: needles are a broadcast table (audit sets
    * are thousands of rows), the corpus side is one embarrassingly
    * parallel scan, and the only shuffle is the hit aggregate (tiny). */
  def canaryScan(docs: DataFrame): DataFrame = {
    graft.functions.RollingHashes.register(docs.sparkSession)
    graft.functions.PolyHash.register(docs.sparkSession)
    val canaries = docs
      .filter(col("doc_id") % CanaryMod === 0 &&
        length(col("text")) >= CanaryOff + CanaryWin - 1)
      .select(col("doc_id").as("canary_id"),
        substring(col("text"), CanaryOff, CanaryWin).as("ctext"))
      .withColumn("chash", expr(s"poly_hash(ctext, $HashBase, $HashMod)"))
    val hits = docs
      .select(col("doc_id"), col("text"), posexplode(expr(
        s"rolling_hashes(text, $CanaryWin, $HashBase, $HashMod)"))
        .as(Seq("pos", "h")))
      .join(broadcast(canaries), col("h") === col("chash"))
      .filter(expr(s"substring(text, pos + 1, $CanaryWin)") === col("ctext"))
      .groupBy("canary_id")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occ"))
    canaries.select("canary_id")
      .join(hits, Seq("canary_id"), "left")
      .select(col("canary_id"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_occ"), lit(0L)).as("n_occ"))
      .orderBy("canary_id")
  }

  /** Oracle: per (doc, canary) occurrence count by brute per-position
    * substring compare — O(corpus × needles), the cost asymmetry that
    * motivates the engine's single-pass Rabin-Karp shape. */
  val canaryScanSql: String =
    s"""WITH canaries AS (
       |  SELECT doc_id AS canary_id, substr(text, $CanaryOff, $CanaryWin) AS ctext
       |  FROM documents
       |  WHERE doc_id % $CanaryMod = 0 AND length(text) >= ${CanaryOff + CanaryWin - 1}),
       |occ AS (
       |  SELECT c.canary_id, d.doc_id,
       |    len(list_filter(generate_series(1, length(d.text) - $CanaryWin + 1),
       |      i -> substr(d.text, CAST(i AS INT), $CanaryWin) = c.ctext)) AS n
       |  FROM canaries c CROSS JOIN documents d),
       |hits AS (
       |  SELECT canary_id, COUNT(*) AS n_docs, SUM(n) AS n_occ
       |  FROM occ WHERE n > 0 GROUP BY canary_id)
       |SELECT c.canary_id,
       |  COALESCE(h.n_docs, 0) AS n_docs,
       |  CAST(COALESCE(h.n_occ, 0) AS BIGINT) AS n_occ
       |FROM canaries c LEFT JOIN hits h ON h.canary_id = c.canary_id
       |ORDER BY c.canary_id""".stripMargin

  // ------------------------------------------------ minhash recall audit
  /** Deterministic audit sample: doc_id %% [[AuditSampleMod]] == 0. The
    * sample bounds the exact ground-truth cost (all-pairs work is
    * O(sample²) worst-case), making it the knob that keeps the audit
    * affordable at any corpus size — the CollocSampleMod pattern. */
  val AuditSampleMod = 2L
  /** True-pair threshold audited (Jaccard e4). */
  val AuditTauE4 = 5000L

  /** MinHash-LSH candidate precision/recall audit — the dedup twin of
    * the ANN recall artifact: on a deterministic corpus sample, compute
    * (a) TRUTH: all pairs with exact shingle-set Jaccard >= tau via the
    * uncapped inverted-index join (no df cap — a cap would drop exactly
    * the hot true pairs the audit must count; the sample bounds the
    * blowup instead), and (b) PRED: the PRODUCTION q14 predictor —
    * [[minhashPairs]] with its real bucket cap — over the same sample.
    * One full-outer join yields the confusion counts in a single row:
    *
    *   recall_ppm    = 1e6 * tp div n_truth  (true pairs LSH surfaces)
    *   precision_ppm = 1e6 * tp div n_pred   (candidates that are true)
    *
    * "Precision" is CANDIDATE precision: q14's candidates feed an exact
    * verify downstream, so low precision costs verify work, not wrong
    * output — recall is the number that silently loses duplicates, which
    * is why it gates. Truth uses ngramJaccardPairs' >= 2-common-shingle
    * floor; at tau = 0.5 a qualifying pair shares far more than 2
    * shingles of any realistic doc, so the floor cannot clip the truth
    * set (spec-pinned). Both engines evaluate THE SAME predictor and
    * truth definitions ([[minhashPairsSqlFrom]] / the q16 SQL shape), so
    * the confusion row hash-gates the LSH design itself — if a band-key
    * change broke recall, the oracle gate catches the regression. */
  def minhashAudit(docs: DataFrame): DataFrame = {
    val sample = docs.filter(col("doc_id") % AuditSampleMod === 0)
    val truth = ngramJaccardPairs(sample, maxShingleDf = Int.MaxValue)
      .filter(col("jaccard_e4") >= AuditTauE4)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val pred = minhashPairs(sample)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
    truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(col("t")).as("n_truth"), sum(col("p")).as("n_pred"),
           sum(col("t") * col("p")).as("n_tp"))
      .select(lit(AuditTauE4).as("tau_e4"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"),
        expr("case when n_pred > 0 then (1000000 * n_tp) div n_pred else 0 end")
          .as("precision_ppm"),
        expr("case when n_truth > 0 then (1000000 * n_tp) div n_truth else 0 end")
          .as("recall_ppm"))
  }

  val minhashAuditSql: String = {
    val sampleRel =
      s"(SELECT * FROM documents WHERE doc_id % $AuditSampleMod = 0)"
    s"""WITH truth AS (
       |  SELECT doc_a, doc_b, 1 AS t FROM (
       |    WITH shingled AS (
       |      SELECT DISTINCT doc_id, unnest($duckShingleHashes) AS shingle
       |      FROM $sampleRel),
       |    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
       |    common AS (
       |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |      FROM shingled a JOIN shingled b
       |        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $MinCommonShingles)
       |    SELECT doc_a, doc_b
       |    FROM common JOIN sizes sa ON sa.doc_id = doc_a
       |    JOIN sizes sb ON sb.doc_id = doc_b
       |    WHERE (10000 * n_common) // (sa.n_shingles + sb.n_shingles - n_common) >= $AuditTauE4)),
       |pred AS (
       |  SELECT doc_a, doc_b, 1 AS p FROM (${minhashPairsSqlFrom(sampleRel)})),
       |joined AS (
       |  SELECT COALESCE(SUM(t), 0) AS n_truth, COALESCE(SUM(p), 0) AS n_pred,
       |    COALESCE(SUM(t * p), 0) AS n_tp
       |  FROM truth FULL OUTER JOIN pred USING (doc_a, doc_b))
       |SELECT CAST($AuditTauE4 AS BIGINT) AS tau_e4,
       |  CAST(n_truth AS BIGINT) AS n_truth, CAST(n_pred AS BIGINT) AS n_pred,
       |  CAST(n_tp AS BIGINT) AS n_tp,
       |  CAST(CASE WHEN n_pred > 0 THEN (1000000 * n_tp) // n_pred ELSE 0 END AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN n_truth > 0 THEN (1000000 * n_tp) // n_truth ELSE 0 END AS BIGINT) AS recall_ppm
       |FROM joined""".stripMargin
  }

  // ------------------------------------------------------------ wiring
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q13_dedup_exact" -> ((s, d) => exactDedup(Tables.documents(s, d))),
    "q14_minhash_sig" -> ((s, d) => minhashSignatures(Tables.documents(s, d)).orderBy("doc_id")),
    "q14_minhash_pairs" -> ((s, d) => minhashPairs(Tables.documents(s, d))),
    "q15_simhash"     -> ((s, d) => simhash(Tables.documents(s, d))),
    "q32_simhash_pairs" -> ((s, d) => simhashPairs(Tables.documents(s, d))),
    "q36_simhash_multiprobe" -> ((s, d) => simhashPairsMultiProbe(Tables.documents(s, d))),
    "q16_ngram_jaccard" -> ((s, d) => ngramJaccardPairs(Tables.documents(s, d))),
    "q29_source_sketch" -> ((s, d) => sourceSketches(Tables.documents(s, d))),
    "q30_edit_distance" -> ((s, d) => editDistancePairs(Tables.part(s, d))),
    "q33_dedup_clusters" -> ((s, d) => minhashClusters(Tables.documents(s, d))),
    "q38_cross_source" -> ((s, d) => crossSourceClusters(Tables.documents(s, d))),
    "q149_pagerank" -> ((s, d) => nearDupPageRank(Tables.documents(s, d))),
    "q167_triangles" -> ((s, d) => nearDupTriangles(Tables.documents(s, d))),
    "q177_label_propagation" -> ((s, d) => labelPropagation(Tables.documents(s, d))),
    "q186_incremental_neardup" -> ((s, d) => incrementalNearDup(Tables.documents(s, d))),
    "q188_ppjoin" -> ((s, d) => ppjoinPairs(Tables.documents(s, d))),
    "q190_winnowing" -> ((s, d) => winnowedPairs(Tables.documents(s, d))),
    "q206_cdc_chunks" -> ((s, d) => cdcChunkDups(Tables.documents(s, d))),
    "q209_effective_tokens" -> ((s, d) => effectiveTokens(Tables.documents(s, d))),
    "q213_split_leakage" -> ((s, d) => splitLeakage(Tables.documents(s, d))),
    "q216_sorted_neighborhood" -> ((s, d) => sortedNeighborhoodPairs(Tables.documents(s, d))),
    "q217_canary_scan" -> ((s, d) => canaryScan(Tables.documents(s, d))),
    "q221_minhash_audit" -> ((s, d) => minhashAudit(Tables.documents(s, d))),
    "q45_eval_contamination" -> ((s, d) => evalContamination(Tables.documents(s, d))),
    "q232_bloom_fpr" -> ((s, d) => bloomFprAudit(Tables.documents(s, d))),
    "q47_repetition" -> ((s, d) => repetitionScore(Tables.documents(s, d))),
    "q59_block_dedup" -> ((s, d) => blockDedup(Tables.documents(s, d))),
    "q62_source_overlap" -> ((s, d) => sourceOverlap(Tables.documents(s, d))),
    "q72_substring_dups" -> ((s, d) => substringDups(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q13_dedup_exact" -> exactDedupSql,
    "q14_minhash_sig" -> minhashSignaturesSql,
    "q14_minhash_pairs" -> minhashPairsSql,
    "q15_simhash"     -> simhashSql,
    "q32_simhash_pairs" -> simhashPairsSql,
    "q36_simhash_multiprobe" -> simhashPairsMultiProbeSql,
    "q16_ngram_jaccard" -> ngramJaccardSql,
    "q29_source_sketch" -> sourceSketchesSql,
    "q30_edit_distance" -> editDistancePairsSql,
    "q33_dedup_clusters" -> minhashClustersSql,
    "q38_cross_source" -> crossSourceClustersSql,
    "q149_pagerank" -> nearDupPageRankSql,
    "q167_triangles" -> nearDupTrianglesSql,
    "q177_label_propagation" -> labelPropagationSql,
    "q186_incremental_neardup" -> incrementalNearDupSql,
    "q188_ppjoin" -> ppjoinPairsSql,
    "q190_winnowing" -> winnowedPairsSql,
    "q206_cdc_chunks" -> cdcChunkDupsSql,
    "q209_effective_tokens" -> effectiveTokensSql,
    "q213_split_leakage" -> splitLeakageSql,
    "q216_sorted_neighborhood" -> sortedNeighborhoodSql,
    "q217_canary_scan" -> canaryScanSql,
    "q221_minhash_audit" -> minhashAuditSql,
    "q45_eval_contamination" -> evalContaminationSql,
    "q232_bloom_fpr" -> bloomFprAuditSql,
    "q47_repetition" -> repetitionScoreSql,
    "q59_block_dedup" -> blockDedupSql,
    "q62_source_overlap" -> sourceOverlapSql,
    "q72_substring_dups" -> substringDupsSql)
}
