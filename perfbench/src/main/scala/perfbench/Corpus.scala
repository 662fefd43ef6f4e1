package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Tables
import graft.ext.{Dedup, Similarity}

/** `corpus-dedup`: exact and MinHash near-duplicate clustering over a
  * seeded corpus with planted duplicates, then IVF top-k over seeded
  * clustered embeddings. No TSV and no probe on this path. */
final class CorpusDedup(spark: SparkSession, dir: File, seed: Long,
                        docs: Int, vectors: Int) extends Workload(spark, dir, seed) {
  def primary = "dedup"
  private var corpus: Gen.Corpus = _
  private val in = sub("inputs")
  private var recallAtK = Double.NaN

  def setup(): Unit = {
    import spark.implicits._
    corpus = Gen.corpus(docs, seed)
    corpus.docs.toDF().repartition(4).write.mode("overwrite")
      .parquet(new File(in, "documents.parquet").getPath)
    Gen.embeddings(vectors, seed).toDF().repartition(4).write.mode("overwrite")
      .parquet(new File(in, "embeddings.parquet").getPath)
  }

  private def documents(t: Tracer): DataFrame =
    t.df("sources", "Tables.documents")(Tables.documents(spark, in.getPath))
  private def embeddings(t: Tracer): DataFrame =
    t.df("sources", "Tables.embeddings")(Tables.embeddings(spark, in.getPath))

  /** Exact groups, then near-duplicate clusters (doc_id, cluster_id). */
  private def dedup(t: Tracer): (Array[Row], Array[Row]) = {
    val d = documents(t)
    val exact = t.run("ext", "Dedup.exactDedup")(Dedup.exactDedup(d).collect())
    val clusters =
      if (!t.on) Dedup.minhashClusters(d).collect()
      else {
        // minhashClusters = dedupClusters(docs, minhashPairs(docs)); the
        // signatures are computed inside minhashPairs, so their time shows
        // in its span
        val pairs = t.df("ext", "Dedup.minhashPairs")(Dedup.minhashPairs(d))
        t.run("ext", "Dedup.dedupClusters")(Dedup.dedupClusters(d, pairs).collect())
      }
    (exact, clusters)
  }

  private def topk(t: Tracer): Array[Row] =
    t.run("ext", "Similarity.ivfTopK")(Similarity.ivfTopK(embeddings(t)).collect())

  /** Planted exact groups each collapse to one hash group holding them
    * all; clusters cover every doc; near recall is noted, not required. */
  private def checkDedup(exact: Array[Row], clusters: Array[Row]): Boolean = {
    val byCanon = exact.map(r => r.getAs[Long]("canonical_doc_id") -> r.getAs[Long]("n_docs")).toMap
    val lost = corpus.exactGroups.count(g => byCanon.get(g.min).forall(_ < g.length))
    val label = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = corpus.nearGroups.flatMap(g => g.combinations(2).map(p => (p(0), p(1))))
    note("ext.dedup.planted_recall",
      pairs.count { case (a, b) => label.get(a) == label.get(b) }.toDouble / pairs.length)
    expect(lost == 0, s"dedup: $lost planted exact groups not collapsed") &&
    expect(exact.map(_.getAs[Long]("n_docs")).sum == docs,
      s"dedup: exact groups hold ${exact.map(_.getAs[Long]("n_docs")).sum} docs of $docs") &&
    expect(label.size == docs && clusters.forall(r =>
      r.getAs[Long]("cluster_id") <= r.getAs[Long]("doc_id")),
      s"dedup: ${label.size} cluster rows for $docs docs or a label above its doc")
  }

  /** Every query answered with ranks 1..k in non-increasing similarity,
    * never matching itself. */
  private def checkTopk(rows: Array[Row]): Boolean = {
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    val queries = (0L until vectors).count(_ % Similarity.QueryMod == 0)
    val bad = byQ.count { case (q, rs) =>
      val s = rs.sortBy(_.getAs[Int]("rank"))
      s.exists(_.getAs[Long]("cand_id") == q) ||
      s.map(_.getAs[Int]("rank")).toSeq != (1 to s.length) ||
      s.sliding(2).exists(w => w.length == 2 &&
        w(0).getAs[Double]("cos_sim") < w(1).getAs[Double]("cos_sim"))
    }
    expect(byQ.size == queries, s"topk: ${byQ.size} queries answered of $queries") &&
    expect(bad == 0, s"topk: $bad queries with self matches or misordered ranks")
  }

  override def prepare(): Seq[Op] = {
    if (traced) recallAtK = recall()
    cycle(new Tracer(spark))
  }

  /** recall@k of the IVF answer against the exact cosine top-k. */
  private def recall(): Double = {
    val exact = Similarity.cosineTopK(Tables.embeddings(spark, in.getPath))
      .filter(s"rank <= ${Similarity.IvfTopK}").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = topk(new Tracer(spark))
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cand_id"))).toSet
    (ivf intersect exact).size.toDouble / exact.size
  }

  def cycle(t: Tracer): Seq[Op] = {
    val d = timed(t, "dedup", docs)(dedup(t)) { case (e, c) => checkDedup(e, c) }
    val k = timed(t, "topk", vectors)(topk(t))(checkTopk)
    note("ext.similarity.recall_at_k", recallAtK)
    Seq(d, k)
  }

  def info: Map[String, Any] = Map(
    "docs" -> docs, "vectors" -> vectors, "dim" -> 64,
    "planted_exact_groups" -> corpus.exactGroups.length,
    "planted_exact_docs" -> corpus.exactGroups.map(_.length).sum,
    "planted_near_groups" -> corpus.nearGroups.length,
    "planted_near_docs" -> corpus.nearGroups.map(_.length).sum,
    "recall_at_k" -> recallAtK,
    "state" -> ("corpus parquet in page cache; the IVF corpus count is catalogued " +
      "under the run's index root during preparation (warm)"))
}
