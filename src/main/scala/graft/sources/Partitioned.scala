package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Hive-partitioned storage layout + partition pruning, oracle-gated
  * (q92).
  *
  * At 100 TB the single most important scan optimization is not reading
  * the data at all: laying the corpus out as `source=<v>/` directories
  * means a query filtering on `source` touches only the matching
  * directories — the FILTER becomes a LISTING decision, before any
  * parquet footer is opened. The gate writes the documents fixture
  * partitioned by source (once per fixture dir, cached like the
  * streaming gate's staged dirs), reads it back with a two-source
  * filter, and aggregates; the oracle runs the same filter over the
  * ORIGINAL unpartitioned table. Green proves the round trip preserves
  * rows exactly and the pruned scan computes the same answer; the
  * PlanSpec twin asserts the pruning actually happened (PartitionFilters
  * on the scan node, not a post-read Filter).
  */
object Partitioned {

  /** The sources the gate keeps — 2 of the fixture's 20. */
  val KeepSources: Seq[String] = Seq("src3", "src7")

  /** Write documents partitioned by source. */
  def partitionedLayout(spark: SparkSession, dir: String): String =
    graft.TempDirs.staged("docs-by-source", dir) { out =>
      // repartition on the partition column first: one shuffle partition
      // per source → exactly one file per partition directory, whatever
      // the input split count (also the at-scale idiom — partitionBy on
      // an unshuffled input writes #input-splits × #sources small files)
      Tables.documents(spark, dir)
        .repartition(col("source"))
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(out.toString)
    }.toString

  /** Pruned scan + aggregate over the partitioned layout. The filter is
    * on the PARTITION column, so it resolves during file listing —
    * 18 of 20 directories are never opened. */
  def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    val layout = partitionedLayout(spark, dir)
    spark.read.parquet(layout)
      .filter(col("source").isin(KeepSources: _*))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           sum(size(graft.ext.Text.tokens)).as("sum_tokens"))
      .orderBy("source", "lang")
  }

  val prunedScanSql: String = {
    val keep = KeepSources.map(s => s"'$s'").mkString(", ")
    s"""SELECT source, lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(len(${graft.ext.Text.duckTokens})) AS BIGINT) AS sum_tokens
       |FROM documents
       |WHERE source IN ($keep)
       |GROUP BY source, lang
       |ORDER BY source, lang""".stripMargin
  }

  // --------------------------------------------------------------- q107
  /** Dim-side group kept by the q107 filter (sources with N % 3 == 1 —
    * 7 of the fixture's 20). */
  val DppGroup = 1

  /** Tiny source-dimension table (source, grp), written as its OWN
    * parquet relation: the q107 fact prune can then only come from the
    * join — Catalyst cannot fold the dim filter into a static
    * partition predicate the way q92's literal IN-list folds. */
  def dimLayout(spark: SparkSession, dir: String): String =
    graft.TempDirs.staged("source-dim", dir) { out =>
      Tables.documents(spark, dir).select("source").distinct()
        .withColumn("grp", expr("CAST(substring(source, 4) AS INT) % 3"))
        .coalesce(1)
        .write.mode("overwrite").parquet(out.toString)
    }.toString

  /** q107: JOIN-DRIVEN dynamic partition pruning — the 100 TB fact-table
    * pattern. q92 proves the static case (a literal predicate on the
    * partition column prunes at listing time); this gate proves the
    * runtime case: the predicate lives on a DIMENSION (`grp = 1`), the
    * fact is only joined on the partition column, and Spark's DPP rule
    * turns the broadcast dim's key set into a `dynamicpruning#`
    * PartitionFilter on the fact scan — 13 of 20 directories are never
    * opened even though no literal source predicate exists anywhere in
    * the query. The PlanSpec twin asserts both the plan shape (a
    * DynamicPruningExpression in the scan's partition filters) and the
    * physical effect (numFiles = matching sources, not all 20). */
  def dppScan(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(partitionedLayout(spark, dir))
    val dim = spark.read.parquet(dimLayout(spark, dir))
      .filter(col("grp") === DppGroup)
    fact.join(broadcast(dim), Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")
  }

  val dppScanSql: String =
    s"""WITH dim AS (
       |  SELECT source, CAST(substring(source, 4) AS INT) % 3 AS grp
       |  FROM (SELECT DISTINCT source FROM documents))
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
       |FROM documents d JOIN dim ON dim.source = d.source
       |WHERE dim.grp = $DppGroup
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ------------------------------------------ consistent hashing (q164)
  /** Shard counts before/after the reshard. */
  val ChOldShards = 4
  val ChNewShards = 5
  /** Virtual nodes per shard (balance knob). */
  val ChVnodes = 8

  /** q164: CONSISTENT-HASHING RESHARD — the minimal-movement property
    * that makes growing a 100 TB sharded store affordable: docs hash to
    * ring positions, each shard owns [[ChVnodes]] virtual nodes, and a
    * doc belongs to the successor vnode on the ring (wraparound to the
    * smallest). Adding a shard moves ONLY the docs whose successor
    * becomes one of the new shard's vnodes — ~1/(N+1) of the data,
    * where mod-N sharding would move (N−1)/N ≈ everything. The gate
    * emits the (old_shard, new_shard) movement matrix, so the property
    * is VISIBLE in the hash-pinned output: every off-diagonal row has
    * new_shard = the added shard.
    *
    * Shape: each ring is a ≤ N·V-row relation packed into ONE sorted
    * array and broadcast; per-doc assignment is a scalar
    * filter/element_at over that array — the corpus is scanned once,
    * assignment shuffles nothing, and only the tiny matrix aggregates.
    * Both engines share the md5 ring/doc position arithmetic; the
    * oracle resolves successors with an ORDER BY (pos < doc_pos), pos
    * window — identical semantics, different idiom. */
  def consistentHashingMoves(spark: SparkSession, dir: String): DataFrame = {
    // shard = id div V, vnode = id % V: growing the ring ADDS the new
    // shard's vnodes and keeps every existing (shard, vnode) position
    // bit-identical — the precondition of the minimal-movement property
    def ringArr(n: Int) = broadcast(
      spark.range(n.toLong * ChVnodes)
        .select(expr(s"id div $ChVnodes").as("shard"),
          expr(s"cast(conv(substr(md5(concat('ring:', " +
            s"cast(id div $ChVnodes as string), ':', " +
            s"cast(id % $ChVnodes as string))), 1, 12), 16, 10) as bigint)")
            .as("pos"))
        .groupBy()
        .agg(expr("sort_array(collect_list(struct(pos, shard)))").as("ring")))
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        "cast(conv(substr(md5(concat('doc:', cast(doc_id as string))), 1, 12), 16, 10) as bigint)")
        .as("dp"))
    def assign(ringCol: String, outCol: String) =
      // try_element_at: an empty successor set IS the wraparound case
      expr(s"coalesce(try_element_at(filter($ringCol, r -> r.pos >= dp), 1), " +
        s"element_at($ringCol, 1)).shard as $outCol")
    docs
      .crossJoin(ringArr(ChOldShards).withColumnRenamed("ring", "ring_old"))
      .crossJoin(ringArr(ChNewShards).withColumnRenamed("ring", "ring_new"))
      .select(col("doc_id"),
        assign("ring_old", "old_shard"), assign("ring_new", "new_shard"))
      .groupBy(col("old_shard").cast("int").as("old_shard"),
        col("new_shard").cast("int").as("new_shard"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("old_shard", "new_shard")
  }

  val consistentHashingMovesSql: String = {
    // note: no inner line may START with "||" — this string is embedded
    // in an outer .stripMargin, which would eat one pipe of the operator
    def ring(n: Int, name: String) =
      s"""$name AS (
         |  SELECT i // $ChVnodes AS shard,
         |    ('0x' || substr(md5('ring:' || CAST(i // $ChVnodes AS VARCHAR) || ':' ||
         |      CAST(i % $ChVnodes AS VARCHAR)), 1, 12))::BIGINT AS pos
         |  FROM (SELECT unnest(generate_series(0, ${n * ChVnodes - 1})) AS i))""".stripMargin
    def assign(ringName: String, outName: String) =
      s"""$outName AS (
         |  SELECT doc_id, shard FROM (
         |    SELECT d.doc_id, r.shard,
         |      ROW_NUMBER() OVER (PARTITION BY d.doc_id
         |        ORDER BY (r.pos < d.dp), r.pos) AS rn
         |    FROM docs d CROSS JOIN $ringName r) WHERE rn = 1)""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS dp
       |  FROM documents),
       |${ring(ChOldShards, "ring_old")},
       |${ring(ChNewShards, "ring_new")},
       |${assign("ring_old", "a_old")},
       |${assign("ring_new", "a_new")}
       |SELECT CAST(a_old.shard AS INT) AS old_shard,
       |  CAST(a_new.shard AS INT) AS new_shard, COUNT(*) AS n_docs
       |FROM a_old JOIN a_new USING (doc_id)
       |GROUP BY 1, 2
       |ORDER BY old_shard, new_shard""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_partition_pruning" -> ((s, d) => prunedScan(s, d)),
    "q107_dynamic_pruning" -> ((s, d) => dppScan(s, d)),
    "q164_consistent_hashing" -> (consistentHashingMoves _))

  val oracles: Map[String, String] = Map(
    "q92_partition_pruning" -> prunedScanSql,
    "q107_dynamic_pruning" -> dppScanSql,
    "q164_consistent_hashing" -> consistentHashingMovesSql)
}
