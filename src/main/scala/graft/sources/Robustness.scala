package graft.sources

import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables

/** Ingest-robustness gates: the two storage realities a 100 TB corpus
  * forces that clean fixtures never show —
  *
  *  - **schema drift** (q102): a corpus written over months has early
  *    shards missing columns that later shards carry. `mergeSchema`
  *    reconciles at read time: old rows surface the new columns as
  *    nulls, and aggregates must account for exactly which rows carry
  *    which fields. The gate writes the documents fixture as two
  *    batches with different schemas and checks the merged read's
  *    per-source accounting against the original table.
  *
  *  - **corrupt records** (q103): crawl-scale JSONL always contains
  *    malformed lines. PERMISSIVE parsing must (a) never fail the job,
  *    (b) surface every bad line in `_corrupt_record`, (c) parse every
  *    good line exactly. The gate salts a JSONL export with a known
  *    number of malformed lines and checks the per-source accounting —
  *    good rows land in their source, bad rows land in the CORRUPT
  *    bucket, nothing is silently dropped.
  */
object Robustness {

  // ---------------------------------------------------------- q102
  /** Two-batch layout: batch 1 (even doc_ids) lacks lang/n_chars —
    * the "old writer"; batch 2 (odd doc_ids) has the full schema. */
  def evolvedLayout(spark: SparkSession, dir: String): Path =
    graft.TempDirs.staged("evolved", dir) { out =>
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "source")
        .write.mode("overwrite").parquet(out.resolve("b1").toString)
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "source", "lang", "n_chars")
        .write.mode("overwrite").parquet(out.resolve("b2").toString)
    }

  /** Merged-schema read + per-source accounting. Rows from the old
    * batch carry null lang/n_chars; counts and sums must reflect that
    * exactly (count ignores nulls, sum skips them). */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = evolvedLayout(spark, dir)
    spark.read.option("mergeSchema", "true")
      .parquet(out.resolve("b1").toString, out.resolve("b2").toString)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           count(col("lang")).as("n_with_lang"),
           sum(col("n_chars")).as("sum_chars_new"),
           sum(length(col("text"))).as("sum_chars_all"))
      .orderBy("source")
  }

  val schemaEvolutionSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 AND lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_lang,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars_new,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars_all
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------- q103
  val CorruptLines = 7

  /** JSONL export of documents plus a shard of deterministic malformed
    * lines (unterminated objects, bare text, truncated escapes). */
  def saltedJsonl(spark: SparkSession, dir: String): Path =
    graft.TempDirs.staged("jsonl-salted", dir) { out =>
      val src = Jsonl.export(spark, dir).resolve("documents")
      val dst = out.resolve("data")
      Files.createDirectories(dst)
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(src)) { listing =>
        listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json"))
          .zipWithIndex.foreach { case (f, i) =>
            Files.copy(f, dst.resolve(f"part-$i%05d.json")) }
      }
      val bad = (0 until CorruptLines).map(i =>
        s"""{"doc_id": $i, "text": "unterminated-line-$i""")
      Files.write(dst.resolve("part-zz-corrupt.json"),
        bad.mkString("", "\n", "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE)
    }

  /** PERMISSIVE read of the salted export: good rows bucket by source,
    * malformed lines bucket as CORRUPT via `_corrupt_record`. Nothing
    * may vanish and nothing may fail the job. */
  def corruptTolerantRead(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val out = saltedJsonl(spark, dir)
    val schema = StructType(docs.schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out.resolve("data").toString)
      .select(when(col("_corrupt_record").isNotNull, lit("CORRUPT"))
        .otherwise(col("source")).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val corruptTolerantReadSql: String =
    s"""SELECT source AS bucket, COUNT(*) AS n FROM documents GROUP BY source
       |UNION ALL
       |SELECT 'CORRUPT' AS bucket, $CorruptLines AS n
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------- q152
  /** q152: DATA-QUALITY EXPECTATION SUITE — the nightly constraint
    * audit every production table runs (uniqueness, referential
    * integrity, value ranges, non-emptiness): each expectation is one
    * aggregate or one co-keyed join over its table, reported as
    * (check_name, n_checked, n_violations, pass) so the suite's output
    * is a tiny fixed relation however large the tables are. The
    * n_chars bound is a deliberate CANARY that fails on the fixture —
    * a suite whose every row passes can't distinguish detection from
    * vacuous truth; the oracle pins the exact violation counts, not
    * just the pass bits. FK checks count via left-join null probes
    * (one pass, no separate anti-join job); at 100 TB the dim side
    * broadcasts or co-shuffles exactly like any other join. */
  val ExpectationNCharsBound = 400L

  def dataExpectations(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)
    val nation = Tables.nation(spark, dir)
    val docs = Tables.documents(spark, dir)
    def report(name: String, checked: org.apache.spark.sql.Column,
               violations: org.apache.spark.sql.Column, df: DataFrame) =
      df.agg(checked.as("n_checked"), violations.as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"),
          when(col("n_violations") === 0, 1L).otherwise(0L).as("pass"))
    val unique = report("orders.o_orderkey unique",
      count(lit(1)), count(lit(1)) - countDistinct(col("o_orderkey")), orders)
    val fkOrders = report("lineitem.l_orderkey references orders",
      count(lit(1)), sum(when(col("ok").isNull, 1L).otherwise(0L)),
      lineitem.join(orders.select(col("o_orderkey").as("ok")),
        col("l_orderkey") === col("ok"), "left"))
    val fkNation = report("customer.c_nationkey references nation",
      count(lit(1)), sum(when(col("nk").isNull, 1L).otherwise(0L)),
      customer.join(broadcast(nation.select(col("n_nationkey").as("nk"))),
        col("c_nationkey") === col("nk"), "left"))
    val range = report("lineitem.l_quantity in [1, 50]",
      count(lit(1)),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L)),
      lineitem)
    val canary = report(s"documents.n_chars <= $ExpectationNCharsBound (canary)",
      count(lit(1)),
      sum(when(col("n_chars") > ExpectationNCharsBound, 1L).otherwise(0L)), docs)
    unique.union(fkOrders).union(fkNation).union(range).union(canary)
      .orderBy("check_name")
  }

  val dataExpectationsSql: String =
    s"""SELECT * FROM (
       |  SELECT 'orders.o_orderkey unique' AS check_name,
       |    COUNT(*) AS n_checked,
       |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations,
       |    CAST(CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey)
       |         THEN 1 ELSE 0 END AS BIGINT) AS pass
       |  FROM orders
       |  UNION ALL
       |  SELECT 'lineitem.l_orderkey references orders', COUNT(*),
       |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(CASE WHEN SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
       |         THEN 1 ELSE 0 END AS BIGINT)
       |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  UNION ALL
       |  SELECT 'customer.c_nationkey references nation', COUNT(*),
       |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(CASE WHEN SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) = 0
       |         THEN 1 ELSE 0 END AS BIGINT)
       |  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  UNION ALL
       |  SELECT 'lineitem.l_quantity in [1, 50]', COUNT(*),
       |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(CASE WHEN SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
       |              THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'documents.n_chars <= $ExpectationNCharsBound (canary)', COUNT(*),
       |    CAST(SUM(CASE WHEN n_chars > $ExpectationNCharsBound THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(CASE WHEN SUM(CASE WHEN n_chars > $ExpectationNCharsBound
       |              THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
       |  FROM documents)
       |ORDER BY check_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_schema_evolution" -> (schemaEvolution _),
    "q103_corrupt_tolerant" -> (corruptTolerantRead _),
    "q152_data_expectations" -> (dataExpectations _))

  val oracles: Map[String, String] = Map(
    "q102_schema_evolution" -> schemaEvolutionSql,
    "q103_corrupt_tolerant" -> corruptTolerantReadSql,
    "q152_data_expectations" -> dataExpectationsSql)
}
