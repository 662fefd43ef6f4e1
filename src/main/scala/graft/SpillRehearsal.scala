package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Measure.obj

/** OUT-OF-CORE (SPILL) REHEARSAL — the 100 TB claim's remaining leg.
  * Every other scale artifact (sf0.1 verify, 10x/100x rehearsal) ran
  * with the working set comfortably inside RAM, so nothing yet
  * evidenced the engine's behavior when a shuffle/sort/aggregate does
  * NOT fit: Spark's out-of-core machinery (UnsafeExternalSorter spill
  * files, hash-aggregate fallback to sort-based) is exactly what a
  * 1000-executor run leans on all day, and an operator whose results
  * CHANGE under spill is broken at scale however green it is in
  * memory.
  *
  * Method: run a shuffle-heavy subset (the round-10 verdict's pick —
  * q06's 5-way join, q14's minhash pair generation, q21's global
  * orderBy, q188's PPJoin — plus the round-12 additions that close the
  * sort/SMJ leg: a payload-carrying global sort and a forced
  * sort-merge-join q06) on the synthesized 10x/100x fixtures twice
  * in one JVM —
  * first under the normal session, then under a session whose unified
  * memory pool is squeezed to [[ConstrainedFraction]] of the heap
  * (`spark.memory.fraction` is a SparkEnv-construction-time conf, so
  * the squeeze needs a fresh SparkContext, not a runtime set) — and
  * assert:
  *
  *   (a) the constrained pass actually SPILLED — `memoryBytesSpilled`
  *       observed per task via a SparkListener, the proof the
  *       out-of-core path engaged rather than the pool merely being
  *       smaller than needed;
  *   (b) every query's result is HASH-IDENTICAL across the two passes —
  *       an order-independent (count, xor, modular-sum) digest over
  *       xxhash64 of the stringified row, computed DISTRIBUTED (a
  *       driver collect under a constrained pool would perturb the
  *       thing being measured).
  *
  * Usage: runMain graft.SpillRehearsal [baseDir] [x10Dir] [x100Dir]
  * Prints one JSON line; also writes spill_rehearsal.json.
  */
object SpillRehearsal {

  /** One rehearsal row: which decade fixture it runs at, session confs
    * pinned around its execution (identically in BOTH passes — the
    * digest compare isolates the memory squeeze only if the plans
    * match), and whether its digest is the order-SENSITIVE sorted
    * variant (the value carried in `sortKey`). */
  final case class SpillQuery(name: String, fixture: String,
                              confs: Map[String, String] = Map.empty,
                              sortKey: Option[String] = None)

  /** The out-of-core subset — one row per machine a 100 TB run lives
    * on, each at the decade that makes its working set exceed the 1%
    * pool:
    *
    *  - HASH AGGREGATE: q14's banded pair aggregate and q188's
    *    candidate expansion (the round-11 carriers — 3.77 GB observed),
    *    plus q13's sha2 groupBy at x100 as the HONEST-ZERO row (~60 MB
    *    of aggregate state over 8 tasks fits even the starved pool).
    *  - SORT-MERGE JOIN (new, round-12): q06 re-run on the dedicated
    *    10x FACTS fixture ([[synthesizeFacts]] — lineitem and orders
    *    restamped join-consistently; the shared x10 fixture scales
    *    only documents/embeddings, leaving facts at base size) with
    *    the broadcast thresholds pinned to -1, so lineitem⋈orders⋈
    *    customer execute as real shuffled sort-merge joins — the
    *    join-side UnsafeExternalSorters must externalize under the
    *    squeeze. The plain q06 row stays the broadcast-dims honest
    *    zero at shared-x10.
    *  - EXTERNAL SORT (new, round-12): a global range-partitioned
    *    orderBy over the x100 documents WITH the ~300-byte text payload
    *    in the sort rows (the round-11 gap: q21's 500k skinny rows ≈
    *    20 MB legitimately fit the pool, so the designated sort carrier
    *    never spilled). Its digest is the order-SENSITIVE variant:
    *    per-partition (count, xor, sum, min/max key, runs-sorted)
    *    folded on the executors, so a spill that merged runs in the
    *    wrong order reads as UNSORTED and fails the compare — an
    *    order-independent digest would wave a broken merge through.
    *  - q21's skinny global sort stays as the scan-volume row (pure
    *    x100 volume through a projection, honest zero under spill). */
  val Queries: Seq[SpillQuery] = Seq(
    SpillQuery("q06_join5", "x10"),
    SpillQuery("q06_join5_smj", "factsx10", confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")),
    SpillQuery("q13_dedup_exact", "x100"),
    SpillQuery("q14_minhash_pairs", "x100"),
    SpillQuery("q21_tokens", "x100"),
    SpillQuery("sort_payload", "x100", sortKey = Some("sort_key")),
    SpillQuery("q188_ppjoin", "x10"))

  /** The rows whose per-query memoryBytesSpilled MUST be positive under
    * the constrained pool — the volume carriers for each out-of-core
    * machine (hash aggregate x2, sort-merge join, external sort). The
    * remaining rows are recorded honest zeros. */
  val MustSpill: Set[String] =
    Set("q14_minhash_pairs", "q188_ppjoin", "q06_join5_smj", "sort_payload")

  /** The external-sort carrier: the x100 documents globally ordered by
    * a pseudo-random key (xxhash64 — deliberately UNALIGNED with the
    * storage order, so range partitioning must actually move rows) with
    * the text payload carried through the sort. This is the plan shape
    * of any corpus-scale ORDER BY/write-sorted at 100 TB: range
    * exchange + per-partition UnsafeExternalSorter, never a single
    * reducer. */
  private def sortPayload(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        xxhash64(col("text"), col("doc_id")).as("sort_key"))
      .orderBy(col("sort_key"), col("doc_id"))

  /** FACT-table fixture for the SMJ carrier. [[ScaleRehearsal
    * .synthesize]] scales only documents/embeddings (its rehearsal
    * surface), so the "x10" q06 rows join BASE-scale facts — correct
    * for the broadcast honest-zero row, useless as an SMJ spill
    * carrier (a 3-column-pruned 600k-row lineitem sort is ~20 MB and
    * fits even the starved pool). This builds lineitem AND orders at
    * [[FactsCopies]]x with the SAME orderkey restamp on both sides
    * (new_key = old * [[FactsStride]] + rep), so every lineitem copy
    * joins exactly its own order copy — the join RELATION scales with
    * the data instead of fanning out copies^2 — while o_custkey is
    * left alone (dims stay base-scale symlinks, exactly the 100 TB
    * shape: facts grow, dimensions don't). Marker-gated like the
    * shared fixtures so reruns skip the write. */
  val FactsCopies = 10
  val FactsStride = 16
  private def synthesizeFacts(spark: SparkSession, baseDir: String,
                              outDir: String): Unit = Measure.fixture(outDir,
      obj("base" -> baseDir, "copies" -> FactsCopies, "stride" -> FactsStride)) { _ =>
    val reps = explode(sequence(lit(0), lit(FactsCopies - 1))).as("rep")
    graft.Tables.lineitem(spark, baseDir)
      .select(col("*"), reps)
      .withColumn("l_orderkey",
        col("l_orderkey") * FactsStride + col("rep"))
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    graft.Tables.orders(spark, baseDir)
      .select(col("*"), reps)
      .withColumn("o_orderkey",
        col("o_orderkey") * FactsStride + col("rep"))
      .drop("rep")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    ScaleRehearsal.linkBaseTables(baseDir, outDir) // dims + the rest
  }

  /** Unified-pool fraction for the constrained pass: 1% of an 8 GiB
    * heap ≈ 79 MiB of execution+storage shared by 32 task threads —
    * a deliberate starvation dose (≈2.5 MiB per concurrently-active
    * task) so every sizable sort/aggregate MUST externalize. */
  val ConstrainedFraction = 0.01

  /** Order-SENSITIVE digest for the external-sort row: per partition,
    * one executor-side fold over the partition iterator emits (count,
    * xor, modular sum, min/max of `key`, within-partition-sorted flag);
    * the driver combines the ≤[[SpillPartitions]] summaries and checks
    * the cross-partition range boundaries in partition-index order
    * (range partitioning assigns ascending key ranges to ascending
    * indices). The fold CONSUMES the sort's output order — which also
    * pins the Sort node into the plan (an aggregate-only digest would
    * let EliminateSorts drop the very operator under test) — so a
    * starved UnsafeExternalSorter that merged its spill runs out of
    * order reads as ":UNSORTED" and fails the pass compare. */
  private def sortedDigest(df: DataFrame, key: String): String = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    val parts = df
      .select(col(key).cast("long").as("k"), xxhash64(cols.toSeq: _*).as("h"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var n = 0L; var x = 0L; var s = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue
        var inOrder = true; var prev = Long.MinValue
        it.foreach { case (k, h) =>
          n += 1; x ^= h; s += math.floorMod(h, 1000000007L)
          if (k < prev) inOrder = false
          prev = k
          if (k < mn) mn = k
          if (k > mx) mx = k
        }
        Iterator.single((pid, n, x, s, mn, mx, inOrder))
      }.collect().sortBy(_._1)
    val nonEmpty = parts.filter(_._2 > 0)
    if (nonEmpty.isEmpty) return "0:0:0:sorted"
    val n = nonEmpty.map(_._2).sum
    val x = nonEmpty.map(_._3).reduce(_ ^ _)
    val s = nonEmpty.map(_._4).sum
    val within = nonEmpty.forall(_._7)
    val across = nonEmpty.sliding(2).forall {
      case Array(a, b) => b._5 >= a._6
      case _ => true
    }
    s"$n:$x:$s:${if (within && across) "sorted" else "UNSORTED"}"
  }

  /** Build + digest one row with its confs pinned for the DURATION of
    * the action (AQE reads the broadcast thresholds at execution, not
    * plan-build), restoring the previous values after — both passes go
    * through this one path so their plans are forced identical. */
  private def runRow(spark: SparkSession, q: SpillQuery, dir: String): String =
    Harness.withConfs(spark, q.confs.toSeq: _*) {
      val df = q.name match {
        case "sort_payload" => sortPayload(spark, dir)
        case "q06_join5_smj" => SparkEntry.queries("q06_join5")(spark, dir)
        case n => SparkEntry.queries(n)(spark, dir)
      }
      q.sortKey.fold(Harness.resultDigest(df))(sortedDigest(df, _))
    }

  /** Shuffle partitions for BOTH passes. Identical partitioning is what
    * lets the digest compare isolate the memory squeeze (a partition-
    * count change would also reorder float additions in aggregates, and
    * a ULP flip there would fire the hash assertion for a reason that
    * isn't spill). 8 — not the session's 32 — because at the 1% pool a
    * shuffle stage running 32 concurrent tasks pins each task's MINIMUM
    * share at pool/64 ≈ 1.2 MiB, below the 256 KiB-page hash map's
    * working floor: tasks die UNABLE_TO_ACQUIRE_MEMORY instead of
    * spilling (measured). 8 concurrent tasks leaves ~5 MiB minimum each
    * — enough to run, little enough that every sizable sort/agg still
    * externalizes. */
  val SpillPartitions = 8

  def main(args: Array[String]): Unit = {
    val baseDir = java.nio.file.Paths.get(
      args.headOption.getOrElse("/root/testdata/sf0.1"))
      .toAbsolutePath.normalize.toString
    val outDir = args.lift(1).getOrElse("/tmp/graft-sf1-rehearsal")
    val out100 = args.lift(2).getOrElse("/tmp/graft-sf100-rehearsal")
    val factsDir = args.lift(3).getOrElse("/tmp/graft-facts-rehearsal")
    val fixtureOf = Map("x10" -> outDir, "x100" -> out100, "factsx10" -> factsDir)

    // ---- pass 1: unconstrained (the plans' normal environment) ----
    // (each pass gets a fresh context: memory confs are read at start)
    val (basePass, baseSpilled) = Measure.pass(
        Measure.session("graft-spill-base", partitions = SpillPartitions)) { spark1 =>
      ScaleRehearsal.synthesize(spark1, baseDir, outDir)
      ScaleRehearsal.synthesize(spark1, baseDir, out100,
        copies = ScaleRehearsal.Copies100, stride = ScaleRehearsal.IdStride100)
      synthesizeFacts(spark1, baseDir, factsDir)
      val spillBase = new AtomicLong(0)
      spark1.sparkContext.addSparkListener(spillListener(spillBase))
      val pass = Queries.map(q =>
        q.name -> Measure.timed(runRow(spark1, q, fixtureOf(q.fixture))))
      // deterministic listener-bus drain (task-end events are enqueued
      // before the action returns; this flushes them race-free)
      org.apache.spark.GraftListenerBridge.drain(spark1.sparkContext)
      (pass, spillBase.get())
    }

    // ---- pass 2: constrained pool, same fixture, same plans ----
    val perQuerySpill = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val mem = new AtomicLong(0)
    val disk = new AtomicLong(0)
    val conPass = Measure.pass(Measure.session("graft-spill-constrained",
        Map("spark.memory.fraction" -> ConstrainedFraction.toString),
        partitions = SpillPartitions)) { spark2 =>
      spark2.sparkContext.addSparkListener(spillListener(mem, disk))
      Queries.map { q =>
        val (m0, d0) = (mem.get(), disk.get())
        val r = Measure.timed(runRow(spark2, q, fixtureOf(q.fixture)))
        org.apache.spark.GraftListenerBridge.drain(spark2.sparkContext)
        perQuerySpill(q.name) = (mem.get() - m0, disk.get() - d0)
        q.name -> r
      }
    }

    // ---- the assertions this artifact exists for ----
    val mismatches = basePass.zip(conPass)
      .collect { case ((q, (a, _)), (_, (b, _))) if a != b => q }
    require(mismatches.isEmpty,
      s"SPILL CHANGED RESULTS for $mismatches — the out-of-core path is " +
        "not value-identical to the in-memory path")
    require(!conPass.exists(_._2._1.endsWith("UNSORTED")),
      "the external-sort row's spill-merged output is OUT OF ORDER")
    // every out-of-core machine's designated carrier MUST externalize
    // under the 1% pool: the hash-aggregate rows (q14, q188), the
    // sort-merge join (q06_join5_smj), and the payload sort
    // (sort_payload). The remaining rows' working sets (broadcast
    // dims; ~60 MB agg state; 500k skinny sort rows ≈ 20 MB)
    // legitimately fit even starved — recorded honest zeros.
    val zeroCarriers = MustSpill.toSeq.sorted
      .filter(q => perQuerySpill(q)._1 <= 0)
    require(zeroCarriers.isEmpty && mem.get() > 0,
      s"carriers $zeroCarriers recorded ZERO memoryBytesSpilled under " +
        s"the constrained pool (total=${mem.get()}) — the out-of-core " +
        "path did not engage where the working set exceeds the pool; " +
        "tighten ConstrainedFraction or grow the fixture")

    println(Measure.artifact("spill_rehearsal.json", obj(
      "fixture" -> outDir, "constrained_fraction" -> ConstrainedFraction,
      "base_spilled_bytes" -> baseSpilled,
      "constrained_memory_spilled_bytes" -> mem.get(),
      "constrained_disk_spilled_bytes" -> disk.get(),
      "queries_spilled" -> perQuerySpill.count(_._2._1 > 0),
      "queries_total" -> Queries.size, "hashes_identical" -> true,
      "base" -> Measure.digestRows(basePass),
      "constrained" -> Measure.digestRows(conPass),
      "constrained_per_query_spill" -> Measure.Obj(perQuerySpill.toSeq.map {
        case (k, (m, dk)) => k -> obj("memory_bytes" -> m, "disk_bytes" -> dk) }))))
  }

  private def spillListener(mem: AtomicLong, disk: AtomicLong = new AtomicLong(0)) =
    new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    }
}
