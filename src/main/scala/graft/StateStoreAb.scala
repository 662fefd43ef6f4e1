package graft

/** STATE-STORE I/O A/B (round-12 verdict item 4): the post-reboot
  * "I/O tax" concentrated in checkpoint/state-store-heavy streaming
  * gates (q98 went 2.3 s → 44.5 s driver-to-driver), but that was an
  * INFERENCE from which rows moved — no artifact isolated the knob a
  * production deployment actually turns when stateful-stream latency
  * climbs: the state-store PROVIDER. This main runs every streaming
  * gate under both providers Spark ships —
  *
  *   - HDFSBackedStateStoreProvider (the engine default): state lives
  *     in executor heap maps, snapshot+delta files per batch to the
  *     checkpoint FS; every micro-batch pays checkpoint-FS writes.
  *   - RocksDBStateStoreProvider: state in an embedded LSM on executor
  *     local disk, changelog/snapshot uploaded to the checkpoint FS;
  *     heap pressure moves to native memory and local IO.
  *
  * — median-of-[[Measure.Reps]] each, SAME session, SAME staged inputs (the
  * staging caches are per-dir and provider-independent), and digests
  * every result with [[Harness.resultDigest]] so the A/B also
  * proves the two providers land on the IDENTICAL relation (a provider
  * that dropped or duplicated state rows would flip the digest, not
  * just the timing). Three transformWithState gates pin RocksDB
  * internally (the v2 column-family API needs it — `withRocksDb` at
  * StreamingGate.scala); their rows are marked `pinned` and measure
  * RocksDB under both labels, which is itself the honest statement
  * that the HDFS provider cannot run them.
  *
  * What the numbers mean at 100 TB: the per-gate delta is the
  * provider's bookkeeping cost at fixture state sizes — dominated by
  * per-batch fixed costs (file creation, snapshot upload, JNI
  * round-trips), which is exactly the regime a slow checkpoint mount
  * amplifies. A deployment whose stateful gates slow down should read
  * this table before blaming the query: if the default provider's
  * fixed costs dominate, the fix is the provider/checkpoint-placement
  * knob, not a plan change.
  *
  * Usage: runMain graft.StateStoreAb [sfDir] — on `local[N]` with N
  * shuffle partitions, N = SPARK_GRAFT_CPUS (default 32); writes
  * state_store_ab.json (one line) and prints it; exits nonzero on any
  * cross-provider digest mismatch.
  *
  * Round-close mode (round-14 verdict item 5): runMain graft.StateStoreAb
  * --roundclose [sfDir] — the CHEAP per-round guard: only the five
  * largest-state gates ([[BigStateGates]]), one timed run per provider
  * after a warmup, digest-compared. Prints ONE line for COVERAGE.md's
  * header; exits nonzero on any mismatch, so a provider-divergent
  * change cannot close a round silently. The full interleaved A/B
  * stays the occasional deep-measurement artifact.
  */
object StateStoreAb {

  /** The five biggest-state gates (the top streaming rows of every
    * round's bench): restart recovery, within-watermark dedup, the two
    * symmetric-hash stream-stream outer joins, and streaming SCD2. */
  val BigStateGates: Seq[String] = Seq(
    "q82_stream_restart", "q140_stream_dedup_within",
    "q106_stream_outer_join", "q109_stream_full_outer",
    "q135_stream_scd2")
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Gates that force RocksDB regardless of the session default
    * (transformWithState v2 — the HDFS provider lacks column
    * families). */
  val PinnedRocks: Set[String] = Set(
    "q76_stream_max_state", "q79_stream_initial_state",
    "q78_stream_session_close")

  def main(args: Array[String]): Unit = {
    val roundClose = args.contains("--roundclose")
    val sfDir = args.filterNot(_ == "--roundclose").headOption
      .getOrElse("/root/testdata/sf0.01")
    // sized from the host like the other mains: every stateful
    // operator opens one state store per shuffle partition, so the
    // partition count is part of what each provider is timed on
    val cpus = Measure.cpus
    val master = s"local[$cpus]"
    val spark = Measure.session("graft-state-store-ab")

    // round close: the big-state gates, one timed run per provider
    val (gates, reps) =
      if (roundClose) (BigStateGates, 1)
      else (graft.streaming.StreamingGate.queries.keys.toSeq.sorted, Measure.Reps)

    case class Cell(digest: String, medianSec: Double, reps: Seq[Double])
    def timedDigest(g: String, provider: String): (String, Double) =
      Harness.withConfs(spark, ProviderKey -> provider) {
        Measure.timed(Harness.resultDigest(
          graft.streaming.StreamingGate.queries(g)(spark, sfDir)))
      }

    // warmup (untimed): heat codegen/staging caches so the first gate
    // doesn't bill session startup
    Harness.resultDigest(graft.streaming.StreamingGate.queries(gates.head)(spark, sfDir))

    // INTERLEAVED per gate (H,R,H,R,...): a split-pass design leaked a
    // ~10-20% warm-cache drift into the ratio (the second full pass ran
    // warmer — even provider-pinned gates read 0.7-0.9x); adjacent
    // alternation gives both providers the same thermal context, plus
    // one untimed same-gate warmup so neither provider's first rep
    // bills gate-local staging/codegen (without it the first timed HDFS
    // run skews the ratio low — round-14 ADVICE)
    // per-rep digest instability is a FINDING, not an abort: it lands
    // in the artifact as a labeled row (like the cross-provider
    // mismatch list) and fails the run AFTER the JSON is written, so
    // one flaky gate can't discard every completed measurement
    // (round-13 ADVICE)
    val unstable = scala.collection.mutable.ListBuffer.empty[String]
    val cells = gates.flatMap { g =>
      timedDigest(g, Hdfs) // untimed gate-local warmup
      val runs = (0 until reps).flatMap { _ =>
        Seq(Hdfs -> timedDigest(g, Hdfs), Rocks -> timedDigest(g, Rocks))
      }
      Seq(Hdfs, Rocks).map { prov =>
        val rs = runs.collect { case (p, r) if p == prov => r }
        if (rs.map(_._1).distinct.size != 1) unstable += s"$g/$prov"
        (g, prov) -> Cell(rs.head._1, Measure.median(rs.map(_._2)), rs.map(_._2))
      }
    }.toMap
    def hdfs(g: String) = cells((g, Hdfs))
    def rocks(g: String) = cells((g, Rocks))

    val mismatches = gates.filter(g => hdfs(g).digest != rocks(g).digest)
    if (roundClose) {
      // one COVERAGE.md line out
      println(s"rocksdb-roundclose sf=$sfDir master=$master partitions=$cpus " +
        s"gates=${gates.size} identical=${mismatches.isEmpty}" +
        (if (mismatches.isEmpty) "" else s" MISMATCH=${mismatches.mkString(",")}") +
        " " + gates.map(g =>
          f"$g=${rocks(g).medianSec / math.max(1e-9, hdfs(g).medianSec)}%.2fx")
          .mkString(" "))
      spark.stop()
      require(mismatches.isEmpty, s"ROUND-CLOSE PROVIDER DIGEST MISMATCH: $mismatches")
      return
    }
    import Measure.{Fixed, Obj, obj}
    def fmt(cell: String => Cell) = Obj(gates.map { g =>
      val c = cell(g)
      g -> obj("digest" -> c.digest, "median_sec" -> Fixed(c.medianSec, 2),
        "reps" -> c.reps.map(Fixed(_, 2)))
    })
    println(Measure.artifact("state_store_ab.json", obj(
      "sf" -> sfDir, "reps" -> Measure.Reps,
      "pinned_rocksdb" -> PinnedRocks.toSeq.sorted,
      "master" -> master, "partitions" -> cpus,
      "digests_identical" -> mismatches.isEmpty,
      "digests_unstable" -> unstable.toSeq.sorted,
      "total_median_sec" -> obj(
        "hdfs" -> Fixed(gates.map(hdfs(_).medianSec).sum, 2),
        "rocksdb" -> Fixed(gates.map(rocks(_).medianSec).sum, 2)),
      "hdfs" -> fmt(hdfs), "rocksdb" -> fmt(rocks))))
    spark.stop()
    require(unstable.isEmpty,
      s"DIGEST UNSTABLE ACROSS REPS for $unstable — timings for those " +
        "cells are over differing relations; artifact written for diagnosis")
    require(mismatches.isEmpty,
      s"CROSS-PROVIDER DIGEST MISMATCH for $mismatches — a state-store " +
        "provider changed the relation, not just the timing")
  }
}
