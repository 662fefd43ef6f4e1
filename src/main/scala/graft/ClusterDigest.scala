package graft

import org.apache.spark.sql.SparkSession

import Measure.obj

/** MULTI-JVM DIGEST PASS — the round-11 verdict's item 2, and the last
  * never-exercised seam in the 100 TB story: every artifact so far
  * (verify, bench, scale/spill rehearsals, the spec suite) ran in ONE
  * JVM (`local[*]`), where task serialization, custom-expression
  * codegen shipping, and broadcast exchange all short-circuit
  * in-process. A 1000-executor cluster crosses a process boundary on
  * every one of those paths. This main runs one custom-machinery-heavy
  * query per family twice — `local[32]` (the measured baseline world)
  * and `local-cluster[2,16,4096]` (real Master/Worker with executors as
  * SEPARATE JVMs, launched from $SPARK_HOME, user classes shipped via
  * `spark.executor.extraClassPath`) — and requires the
  * order-independent result digests identical.
  *
  * What each subset row forces across the executor boundary:
  *   - q17_cosine_topk — the codegen'd vector Catalyst expressions
  *     (VecDot/VecNorm) compiling and evaluating in a foreign JVM.
  *   - q14_minhash_pairs — MinHashSignature/ShingleHashes expressions
  *     plus a banded-bucket shuffle whose pair aggregate crosses JVMs.
  *   - q206_cdc_chunks — the RollingHashes O(n) kernel expression.
  *   - q230_audio_energy — the WindowEnergies byte-kernel expression
  *     over BinaryType payloads.
  *   - q01_build — the probe pipeline: StubProber closure + Dataset
  *     encoders + the file-stat/subtitle JOIN's broadcast structures
  *     serialized to worker-launched executors.
  *   - q186_incremental_neardup (round-12) — the persistent
  *     IndexCatalog: the stored LSH band index is built under
  *     `local[32]` and LOADED in the cluster pass (the memo hands the
  *     executor JVMs a payload path they must read cold), so the
  *     publish/load format crosses the process boundary too.
  *   - q58_stream_dedup (round-12) — Structured Streaming state: the
  *     micro-batch engine's state-store providers run ON the executor
  *     JVMs (checkpoint + HDFSBackedStateStore over the shared file:
  *     tree), plus the catalog-bootstrapped seen-keys anti-join — the
  *     stateful-streaming machinery under real process isolation.
  *   - q106_stream_outer_join (round-13) — the symmetric-hash
  *     stream-stream LEFT OUTER interval join: q58 exercises dedup
  *     state, but outer-join state is a DIFFERENT machine (two
  *     buffered sides, watermark-driven null emission for expired
  *     unmatched rows) and none of the seven r12 rows crossed it over
  *     a process boundary. Its three-batch staged replay runs with
  *     join state partitioned across the worker-launched executor
  *     JVMs; a digest flip here would mean buffered-side state or the
  *     null-emission bookkeeping does not survive executor-side state
  *     store round-trips.
  *
  * The digest is [[Harness.resultDigest]]'s (count, xor, modular-sum) over
  * xxhash64 of name-sorted stringified columns — order-independent, so
  * the only thing the compare can see is a VALUE difference introduced
  * by the process boundary. Every subset query is oracle-hash-stable
  * (fixed-point/rounded outputs), so a digest flip is a real
  * serialization/codegen defect, never aggregation-order float noise.
  *
  * Usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   runMain graft.ClusterDigest [sfDir]
  * (the scala-version env is what bin/load-spark-env.sh would set —
  * the in-process Worker builds the executor command through the same
  * launcher, which needs it when not started from a shell script).
  * Prints one JSON line; writes cluster_digest.json. Exits nonzero on
  * any digest mismatch or when no real executor JVMs registered.
  */
object ClusterDigest {

  val Subset: Seq[String] = Seq(
    "q17_cosine_topk", "q14_minhash_pairs", "q206_cdc_chunks",
    "q230_audio_energy", "q01_build", "q186_incremental_neardup",
    "q58_stream_dedup", "q106_stream_outer_join")

  /** One timed digest per subset row — the SAME body for both passes,
    * so a change to the digest or timing logic can never drift into
    * only one of them. */
  private def runPass(spark: SparkSession, sfDir: String): Seq[(String, (String, Double))] =
    Subset.map(q => q -> Measure.timed(
      Harness.resultDigest(SparkEntry.queries(q)(spark, sfDir))))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")

    // The executor JVMs are launched from $SPARK_HOME by the in-process
    // Worker; they get the Spark distribution's jars from the launcher
    // and OUR classes from extraClassPath (sbt runs the driver through
    // a classloader, so java.class.path alone would miss them — point
    // at the compiled tree explicitly, plus the distribution jars).
    val sparkHome = sys.env.getOrElse("SPARK_HOME", "/opt/spark")
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val executorCp = s"$classesDir:$sparkHome/jars/*"
    val mode = "local-cluster[2,16,4096]"

    // ---- pass 1: single JVM (the baseline every artifact measured) ----
    val local = Measure.pass(Measure.session("graft-cluster-digest",
      master = "local[32]", partitions = 32))(runPass(_, sfDir))

    // ---- pass 2: real executor processes ----
    val (executorCount, cluster) = Measure.pass(Measure.session(
        "graft-cluster-digest", master = mode, partitions = 32, extra = Map(
      "spark.executor.extraClassPath" -> executorCp,
      // the x100-style overload knobs stay OFF: this pass isolates the
      // process boundary, nothing else
      "spark.executor.memory" -> "4g"))) { spark2 =>
      // Wait for BOTH workers' executors to register BEFORE running (and
      // timing) anything: digests are correct regardless, but an
      // unsettled cluster would bill executor-JVM startup to the first
      // query's sec, and a post-run executor sample could miss an
      // executor that exited after finishing its work. executorInfos
      // includes the driver row; a real two-worker cluster shows 3+.
      def executors = spark2.sparkContext.statusTracker.getExecutorInfos.length
      val deadline = System.currentTimeMillis + 120000
      while (executors < 3 && System.currentTimeMillis < deadline) Thread.sleep(200)
      (executors, runPass(spark2, sfDir))
    }

    val mismatches = local.zip(cluster)
      .collect { case ((q, (a, _)), (_, (b, _))) if a != b => q }

    println(Measure.artifact("cluster_digest.json", obj(
      "sf" -> sfDir, "mode" -> mode, "cpus" -> 32, "executors_seen" -> executorCount,
      "digests_identical" -> mismatches.isEmpty,
      "local" -> Measure.digestRows(local), "cluster" -> Measure.digestRows(cluster))))
    // <3 after the registration wait means the pass would have run
    // driver-only and proven nothing — fail loudly rather than record
    // a vacuous green.
    require(executorCount >= 3,
      s"local-cluster pass saw only $executorCount executor rows — the " +
        "workers never launched real executor JVMs; nothing was proven")
    require(mismatches.isEmpty,
      s"CROSS-JVM DIGEST MISMATCH for $mismatches — custom expression " +
        "or broadcast state does not survive the executor boundary")
  }
}
