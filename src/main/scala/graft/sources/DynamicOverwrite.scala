package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** q123: DYNAMIC PARTITION OVERWRITE — the idempotent-backfill write
  * primitive a partitioned 100 TB table is operated with: re-running
  * one day's (here: one source's) ingest job REPLACES exactly the
  * partitions the job's output touches and leaves every other
  * partition's files physically untouched. Without it the two options
  * are both operational hazards: static overwrite mode truncates the
  * WHOLE table before writing (a re-run of one day deletes all
  * history), and append mode duplicates rows on every retry. Dynamic
  * mode (`spark.sql.sources.partitionOverwriteMode=dynamic`) is what
  * makes a failed backfill safely re-runnable — the write-side
  * complement of q92/q107's partition-pruned reads and q115's
  * compaction.
  *
  * The fixture: `documents` written partitioned by `source`, then ONE
  * source ([[BackfillSource]]) re-ingested with a revised job that
  * keeps only its even row-indexes (a stand-in for "the corrected
  * rerun emits different rows"). The q123 gate reads the table back and aggregates
  * per source; the oracle expresses the expected post-backfill content
  * relationally, so a dynamic-overwrite bug in either direction fails
  * the hash — clobbered sibling partitions lose rows, append-not-
  * overwrite keeps the odd ids. The PlanSpec twin pins the physical
  * claim: sibling partitions' files are bit-for-bit the same files
  * (same paths, same mtimes), and only the backfilled directory
  * changed.
  */
object DynamicOverwrite {

  /** The partition whose ingest is re-run. */
  val BackfillSource = "src3"

  /** Scopes an overwrite to the partitions present in the job's output. */
  private val DynamicMode = "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  def tableRoot(spark: SparkSession, dir: String): Path =
    backfilled(spark, dir)._1

  /** Build the partitioned table + run the backfill once per fixture;
    * the stamps are (file, mtime) of every non-backfill partition file
    * between the two writes, so [[siblingStamps]] can prove
    * non-interference. */
  private def backfilled(spark: SparkSession,
                         dir: String): (Path, Map[String, Long]) =
    graft.TempDirs.memo("dynoverwrite", dir) {
      val root = graft.TempDirs.create("graft-dynoverwrite")
      val docs = Tables.documents(spark, dir)
      docs.write.partitionBy("source").mode("overwrite")
        .parquet(root.toString)
      val stamps = listStamps(root)
      // the corrected re-run of ONE source's ingest: dynamic mode scopes
      // the overwrite to the partitions present in the job's output.
      // Keep predicate: even row-index WITHIN the source ((doc_id div
      // 20) % 2 — the fixture assigns source = doc_id % 20, so a plain
      // doc_id parity would select all-or-nothing per source)
      graft.Harness.withConfs(spark, DynamicMode) {
        docs.filter(col("source") === BackfillSource &&
            expr("(doc_id div 20) % 2 = 0"))
          .write.partitionBy("source").mode("overwrite")
          .parquet(root.toString)
      }
      (root, stamps)
    }

  /** (relative path -> mtime) of every parquet file OUTSIDE the
    * backfilled partition dir. */
  private def listStamps(root: Path): Map[String, Long] = {
    val out = scala.collection.mutable.Map[String, Long]()
    scala.util.Using.resource(Files.walk(root)) { st =>
      st.forEach { p =>
        val rel = root.relativize(p).toString
        if (rel.endsWith(".parquet") && !rel.startsWith(s"source=$BackfillSource"))
          out(rel) = Files.getLastModifiedTime(p).toMillis
      }
    }
    out.toMap
  }

  /** Spec hook: stamps recorded between build and backfill vs now. */
  private[graft] def siblingStamps(spark: SparkSession, dir: String)
      : (Map[String, Long], Map[String, Long]) = {
    val (root, stamps) = backfilled(spark, dir)
    (stamps, listStamps(root))
  }

  /** Spec hook: run the IDENTICAL backfill job a second time against
    * the already-backfilled table — the retry/idempotence case this
    * operator exists for (a failed 100 TB backfill is simply run
    * again). Dynamic mode makes the rerun converge: same output rows →
    * same partition replaced with the same content, siblings untouched
    * again. */
  private[graft] def rerunBackfill(spark: SparkSession, dir: String): Unit = {
    val root = tableRoot(spark, dir)
    graft.Harness.withConfs(spark, DynamicMode) {
      Tables.documents(spark, dir)
        .filter(col("source") === BackfillSource && expr("(doc_id div 20) % 2 = 0"))
        .write.partitionBy("source").mode("overwrite")
        .parquet(root.toString)
    }
  }

  /** q123: per-source rollup of the post-backfill table — sibling
    * sources must be complete, the backfilled source must hold exactly
    * its even doc_ids. */
  def backfilledStats(spark: SparkSession, dir: String): DataFrame = {
    val root = tableRoot(spark, dir)
    spark.read.parquet(root.toString)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  val backfilledStatsSql: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |WHERE source <> '$BackfillSource' OR (doc_id // 20) % 2 = 0
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_dynamic_overwrite" -> ((s, d) => backfilledStats(s, d)))

  val oracles: Map[String, String] = Map(
    "q123_dynamic_overwrite" -> backfilledStatsSql)
}
