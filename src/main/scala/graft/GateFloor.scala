package graft

/** STREAMING-GATE MACHINERY FLOOR (round-14 verdict stretch item): the
  * top bench rows are all streaming gates whose cost is micro-batch
  * honesty — checkpointed state, watermark bookkeeping, per-batch job
  * scheduling — not query work, and BENCH_RATIO has had to carry that
  * as prose every round. This main MEASURES it per gate: each gate
  * re-runs with the `graft.stream.floor` staging mode (a one-row
  * canonical fixture — same file counts, same micro-batch counts, same
  * sentinel/checkpoint/state machinery, ~zero data), so its wall time
  * IS the gate's fixed machinery cost. `tools/verify_local.py --ratio`
  * reads the artifact and adds a floor column, so "machinery-dominated"
  * becomes a mechanical subtraction instead of per-round re-litigation.
  *
  * MEASUREMENT DISCIPLINE (round-15 — the round-14 artifact's defect):
  * the first cut took ONE timed rep per gate with no sidecars, and 13
  * of its 22 floors exceeded the same gates' full quiet engine times —
  * load contamination by definition, invisible because the floor run
  * was the one artifact produced without the repo's own attribution
  * rules. Now each floor is the MEDIAN OF [[Measure.Reps]] timed reps,
  * every attempt carries a [[ProcStat]] other_cpu/io_wait/loadavg
  * window, an impeached window (ProcStat thresholds) re-runs the rep
  * set like Bench's row-wise quiet loop, and a SANITY GATE compares
  * each floor against the committed full-suite bench: a floor above
  * its own gate's engine time at the same sf is recorded in "suspect"
  * and fails the run (exit 1) instead of silently zeroing the work
  * column downstream.
  *
  * Protocol per gate: one untimed warm run (staging writes, catalog
  * register builds, codegen — the floor must not bill one-time setup),
  * then the timed rep set. The IndexCatalog root is redirected to a
  * fresh temp dir for the whole JVM: the catalog-bootstrapped gates
  * (q58/q126/q140) build registers from the floored fixture, and those
  * must never land under the real fixture's fingerprint in the real
  * catalog (same fingerprint, different content — a poisoned entry).
  * The floor JVM is single-purpose; nothing it memoizes outlives it.
  *
  * Usage: runMain graft.GateFloor [sfDir] — writes gate_floor.json,
  * prints the one JSON line. A gate that fails under floor staging
  * records -1 with its error (never aborts the sweep).
  */
object GateFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    sys.props("graft.stream.floor") = "on"
    val spark = Measure.session("graft-gate-floor", Map("spark.graft.index.root" ->
      graft.TempDirs.create("graft-floor-catalog").toString))

    // the committed full-suite bench at the SAME sf is the ceiling a
    // floor may never cross (floor + work = engine time, work >= 0)
    val benchSec: Map[String, Double] =
      try {
        import scala.jdk.CollectionConverters._
        val bench = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File("bench_result.json"))
        if (bench.path("sf").asText != sfDir) Map.empty
        else bench.path("queries").properties().asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }

    // a subset run (SPARK_GRAFT_ONLY) overwrites gate_floor.json — don't
    // commit one
    val gates = Measure.selected(graft.streaming.StreamingGate.queries.keys)

    val MaxAttempts = 3
    val floors = scala.collection.mutable.LinkedHashMap.empty[String, Measure.Reading]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (g <- gates) {
      def run(): Unit = Measure.noop(graft.streaming.StreamingGate.queries(g)(spark, sfDir))
      try {
        run() // untimed: staging + register builds + codegen
        // median-of-Reps with the MEDIAN REP's window as the row's
        // sidecar (the endpoints of the whole set would blur a clean
        // median rep with a contaminated outlier rep — the exact
        // ambiguity per-rep attribution exists to remove); of two
        // contaminated sets the faster one is kept
        floors(g) = Measure.quiet(MaxAttempts, over = s => benchSec.get(g).exists(s > _),
            better = (next, kept) => next.sec < kept.sec) {
          val reps = Seq.fill(Measure.Reps)(ProcStat.windowed(Measure.secs(run())))
          Measure.Reading(reps.map(_._1), reps.sortBy(_._1).apply(reps.size / 2)._2)
        }
      } catch {
        case e: Throwable =>
          floors(g) = Measure.Reading(Seq(-1.0),
            ProcStat.Window(-1, -1, -1, ProcStat.loadAvg()))
          errors(g) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
      }
    }
    // a floor still above its own gate's full engine time after
    // retries is load-contaminated by definition: flag, don't trust
    val suspect = floors.toSeq
      .collect { case (g, r) if benchSec.get(g).exists(r.sec > _) => g }
    import Measure.{Fixed, Obj, obj}
    println(Measure.artifact("gate_floor.json", obj(
      "metric" -> "gate_floor", "sf" -> sfDir, "reps" -> Measure.Reps,
      "bench_ceiling_checked" -> benchSec.nonEmpty,
      "floors" -> Obj(floors.toSeq.map { case (g, r) => g -> Fixed(r.sec, 3) }),
      "load" -> Obj(floors.toSeq.map { case (g, r) =>
        g -> Obj(r.window.fields.take(4) :+ ("retries" -> r.retries)) }),
      "suspect" -> suspect, "errors" -> Obj(errors.toSeq), Measure.onlyField)))
    spark.stop()
    if (suspect.nonEmpty) {
      System.err.println(s"[gate-floor] SUSPECT (floor > own gate's " +
        s"engine time after $MaxAttempts attempts): ${suspect.mkString(",")}")
      sys.exit(1)
    }
  }
}
