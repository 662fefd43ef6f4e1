package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q137: INVERTED-INDEX DATA SKIPPING — content-derived partition
  * pruning for set-membership predicates, the lookup min/max stats can
  * never answer. q121's zone maps prune range predicates ("day between
  * a and b"); a phrase lookup ("which documents contain this exact
  * trigram") intersects EVERY file's min/max interval, so a stats-only
  * planner reads the whole table. The lakehouse answer is a per-file
  * content index (Delta's bloom filter index, Hudi's record index):
  * here each shard file publishes the md5-bucket set of its trigrams —
  * ≤ [[IdxBuckets]] bits per file however big the file is, the
  * fixed-size-summary property that makes the index plannable at 100 TB
  * (a billion-file table's index is still only #files × 4 KB of bits).
  *
  * Lookup: probe grams → their buckets → the shards whose bucket set
  * hits — a driver-side walk of the tiny index, exactly like q121's
  * txn-log pruning — then ONLY those shard directories are listed and
  * read, with the exact gram filter re-applied on the survivors.
  * Bucket collisions cause false KEEPS (extra shards read, correctness
  * untouched); false drops are impossible because every gram of a shard
  * is indexed — the bloom-index soundness contract.
  *
  * The probe set is fixture-derived but value-deterministic in both
  * engines: the [[NProbes]] lexicographically-smallest trigrams unique
  * to one document (a production run gets its probes from the user;
  * discovery here stands in so the oracle is closed-form SQL). */
object TokenIndex {

  /** Shard files in the layout (doc_id fixed-width cells — static, like
    * q121's curve cells, so the pruning numbers are a pure function of
    * the data). */
  val NShards = 16
  /** md5 bucket space of the per-shard gram index. */
  val IdxBuckets = 4096
  /** Probe grams per lookup. */
  val NProbes = 5

  /** Distinct (doc_id, gram) word-trigram pairs — q57's gram stream. */
  private def grams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.ext.Text.tokens.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))")).as("gram"))
      .distinct()

  private def bucketExpr(c: String) =
    expr(s"cast(conv(substr(md5($c), 1, 6), 16, 10) as bigint) % $IdxBuckets")

  /** Catalog kind for the layout+gram-index entry; the version suffix
    * fingerprints the FORMAT (shard arithmetic, bucket hash) — bump on
    * change so old-format entries are never silently probed. */
  val GramIndexKind = "gram-index-v1"

  /** Parsed (shard, bucket) sets keyed by catalog entry path — the
    * tiny driver-side mirror of the persisted gram index (≤ NShards ×
    * IdxBuckets pairs by construction). Cleared by [[resetMemory]] to
    * simulate a fresh session; reloaded from the entry's parquet. */
  private val idxSetCache =
    new ConcurrentHashMap[String, Set[(Long, Long)]]()

  /** Fresh-session simulation hook (pairs with
    * [[graft.sources.IndexCatalog.resetMemory]]). */
  private[graft] def resetMemory(): Unit = idxSetCache.clear()

  /** Write the sharded layout once per SOURCE CONTENT and build its
    * gram index: the (shard, bucket) presence set — the "txn log"
    * side. Both live in the persistent [[IndexCatalog]] (payload
    * subdirs `layout/` and `gramidx/`), so a fresh session LOADS the
    * layout and index by content fingerprint instead of re-sharding
    * and re-indexing — index build is ingest-time work in production
    * (one pass over each file as it lands), amortized over every
    * future lookup, across sessions. */
  def layoutAndIndex(spark: SparkSession, dir: String): (String, Set[(Long, Long)]) = {
    val docs = Tables.documents(spark, dir)
    // fingerprint re-stats per call (batched one listStatus per parent
    // dir inside contentFingerprint), so data regenerated in place at
    // this dir WITHIN one JVM moves the fingerprint here too
    val fp = IndexCatalog.contentFingerprint(docs)
    val entry = IndexCatalog.getOrBuild(spark, GramIndexKind, fp) { out =>
      val mm = docs.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val sharded = docs.withColumn("shard",
        expr(s"((doc_id - $lo) * $NShards) div ${hi - lo + 1}"))
      sharded.repartition(NShards, col("shard"))
        .write.partitionBy("shard").mode("overwrite").parquet(s"$out/layout")
      val back = spark.read.parquet(s"$out/layout") // shard column restored
      grams(back.select(col("doc_id"), col("text")))
        .join(back.select(col("doc_id"), col("shard").cast("long").as("shard")), "doc_id")
        .select(col("shard"), bucketExpr("gram").as("bucket"))
        .distinct()
        .write.mode("overwrite").parquet(s"$out/gramidx")
    }
    val idx = idxSetCache.computeIfAbsent(entry, { _ =>
      spark.read.parquet(s"$entry/gramidx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    })
    (s"$entry/layout", idx)
  }

  /** The lexicographically-first [[NProbes]] single-document trigrams —
    * deterministic probe discovery mirrored by the oracle's CTE. */
  private def probeGrams(spark: SparkSession, dir: String): Seq[String] =
    grams(Tables.documents(spark, dir))
      .groupBy("gram").agg(count(lit(1)).as("df")) // pairs are distinct
      .filter(col("df") === 1)
      .orderBy("gram").limit(NProbes)
      .collect().map(_.getString(0)).toSeq

  /** q137: the phrase lookup through the index-pruned read. */
  def probedLookup(spark: SparkSession, dir: String): DataFrame = {
    val (path, idx) = layoutAndIndex(spark, dir)
    val ps = probeGrams(spark, dir)
    // probe buckets via the same Spark expression that built the index
    // (no second md5 implementation to disagree with)
    import spark.implicits._
    val wantedBuckets = ps.toDF("gram").select(bucketExpr("gram"))
      .collect().map(_.getLong(0)).toSet
    val kept = (0L until NShards.toLong)
      .filter(sh => wantedBuckets.exists(b => idx.contains((sh, b))))
    val pruned = spark.read.parquet(path)
      .filter(col("shard").isin(kept: _*)) // listing-time pruning
    grams(pruned.select(col("doc_id"), col("text")))
      .filter(col("gram").isin(ps: _*))
      .join(pruned.select(col("doc_id"), col("source")), "doc_id")
      .select(col("gram"), col("doc_id"), col("source"))
      .orderBy("gram", "doc_id")
  }

  /** How many shard dirs the current fixture's lookup actually reads —
    * PlanSpec asserts this is a strict subset of the layout. */
  def keptShardCount(spark: SparkSession, dir: String): Int = {
    val (_, idx) = layoutAndIndex(spark, dir)
    val ps = probeGrams(spark, dir)
    import spark.implicits._
    val wb = ps.toDF("gram").select(bucketExpr("gram"))
      .collect().map(_.getLong(0)).toSet
    (0L until NShards.toLong).count(sh => wb.exists(b => idx.contains((sh, b))))
  }

  val probedLookupSql: String =
    s"""WITH t AS (SELECT doc_id, ${graft.ext.Text.duckTokens} AS toks FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        unnest(list_transform(generate_series(1, len(toks) - 2),
       |          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
       |      FROM t WHERE len(toks) >= 3),
       |rare AS (
       |  SELECT gram FROM (
       |    SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
       |  WHERE df = 1 ORDER BY gram LIMIT $NProbes)
       |SELECT g.gram, g.doc_id, d.source
       |FROM rare r
       |JOIN g ON g.gram = r.gram
       |JOIN documents d ON d.doc_id = g.doc_id
       |ORDER BY g.gram, g.doc_id""".stripMargin

  // ------------------------------------------------ bitmap index (q158)
  /** Char floor separating the two demo predicates' selectivities. */
  val BmCharFloor = 200L

  /** q158: BITMAP INDEX ALGEBRA — the OLAP bitmap-join-index layout
    * (Oracle bitmap indexes, Druid, Pinot, roaring-backed lakehouse
    * indexes): a predicate's membership compresses to ONE BIT per doc,
    * word-aligned 64 docs to a Long row, and every boolean combination
    * of indexed predicates becomes bitwise AND/OR/ANDNOT over the word
    * relations plus a popcount — no re-scan of the base table per
    * combination. At a billion docs a predicate's bitmap is ~16 MB of
    * longs; intersecting two of them touches no raw data at all. Words
    * key on `doc_id div 64` directly (dense ids; a sparse id space
    * would route through q131's global numbering first), the same
    * word relation serves every predicate, and missing words coalesce
    * to 0 through the full-outer join. The gate computes
    * p1 = lang 'en', p2 = n_chars > [[BmCharFloor]] and their
    * AND/OR/ANDNOT counts ENTIRELY from the bitmaps; the oracle counts
    * the same predicates directly off the rows — bitmap algebra must
    * equal predicate algebra bit for bit. */
  def bitmapIndexCounts(docs: DataFrame): DataFrame = {
    def bitmap(p: org.apache.spark.sql.Column) = docs.filter(p)
      .select(expr("doc_id div 64").as("word_id"),
        expr("shiftleft(1L, cast(doc_id % 64 as int))").as("b"))
      .groupBy("word_id").agg(expr("bit_or(b)").as("bits"))
    val b1 = bitmap(col("lang") === "en")
    val b2 = bitmap(col("n_chars") > BmCharFloor)
    b1.join(b2.withColumnRenamed("bits", "bits2"), Seq("word_id"), "full")
      .select(coalesce(col("bits"), lit(0L)).as("a"),
        coalesce(col("bits2"), lit(0L)).as("b"))
      .agg(sum(expr("bit_count(a)")).cast("long").as("n_p1"),
        sum(expr("bit_count(b)")).cast("long").as("n_p2"),
        sum(expr("bit_count(a & b)")).cast("long").as("n_and"),
        sum(expr("bit_count(a | b)")).cast("long").as("n_or"),
        sum(expr("bit_count(a & ~b)")).cast("long").as("n_p1_only"))
  }

  val bitmapIndexCountsSql: String =
    s"""SELECT
       |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_p1,
       |  CAST(SUM(CASE WHEN n_chars > $BmCharFloor THEN 1 ELSE 0 END) AS BIGINT) AS n_p2,
       |  CAST(SUM(CASE WHEN lang = 'en' AND n_chars > $BmCharFloor
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_and,
       |  CAST(SUM(CASE WHEN lang = 'en' OR n_chars > $BmCharFloor
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_or,
       |  CAST(SUM(CASE WHEN lang = 'en' AND NOT (n_chars > $BmCharFloor)
       |       THEN 1 ELSE 0 END) AS BIGINT) AS n_p1_only
       |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_gram_index_skipping" -> ((s, d) => probedLookup(s, d)),
    "q158_bitmap_index" -> ((s, d) =>
      bitmapIndexCounts(Tables.documents(s, d))))

  val oracles: Map[String, String] = Map(
    "q137_gram_index_skipping" -> probedLookupSql,
    "q158_bitmap_index" -> bitmapIndexCountsSql)
}
