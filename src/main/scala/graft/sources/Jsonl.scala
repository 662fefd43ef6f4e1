package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** JSONL at the ingest edge. Training corpora interchange as
  * newline-delimited JSON (one document object per line) far more often
  * than as parquet — every crawl dump, eval set, and filtered shard in a
  * curation pipeline passes through this format. The engine's at-rest
  * format stays parquet; this layer is the interchange boundary, exactly
  * like [[Tsv]] is for the reference's database files.
  *
  * The oracle gate (q81) pins ROUND-TRIP FIDELITY rather than trusting
  * the format: the documents table is written as JSONL by the
  * distributed writer and read back through an EXPLICIT schema
  * (`spark.read.schema(...).json` — schema inference on a 100 TB corpus
  * is a full extra scan and a type-drift hazard, so production readers
  * pin the schema), and the result must hash-match the identity oracle
  * over the original table: string escaping, null handling, and
  * long/double typing all survive or the gate fails.
  *
  * Scale shape: both legs are embarrassingly parallel scans (JSON
  * encode/decode is per-row, whole-stage codegen'd); the only
  * non-linear step is the presentation sort the gate itself requires.
  */
object Jsonl {

  /** Write `documents` as JSONL into a temp dir, return the dir (the
    * export is deterministic, so bench reps and the verify run share
    * it). */
  def export(spark: SparkSession, dir: String): Path =
    graft.TempDirs.staged("jsonl-export", dir) { out =>
      Tables.documents(spark, dir)
        .write.mode("overwrite").json(out.resolve("documents").toString)
    }

  /** q81: the full write → read round trip, schema pinned. */
  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val out = export(spark, dir)
    spark.read.schema(docs.schema)
      .json(out.resolve("documents").toString)
      .select(docs.columns.map(col).toIndexedSeq: _*)
      .orderBy("doc_id")
  }

  /** Identity over the source table: the round trip must be lossless. */
  val roundTripSql: String =
    "SELECT * FROM documents ORDER BY doc_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_jsonl_roundtrip" -> (roundTrip _))

  val oracles: Map[String, String] = Map(
    "q81_jsonl_roundtrip" -> roundTripSql)
}
