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
  * rules. Now each floor is the MEDIAN OF [[Bench.Reps]] timed reps,
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    sys.props("graft.stream.floor") = "on"
    val spark = Harness.session(s"local[$cpus]", "graft-gate-floor", cpus.toInt,
      extra = Map("spark.graft.index.root" ->
        graft.TempDirs.create("graft-floor-catalog").toString))

    // the committed full-suite bench at the SAME sf is the ceiling a
    // floor may never cross (floor + work = engine time, work >= 0)
    val benchSec: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_result.json")), "UTF-8")
        val sfRe = """"sf":"([^"]*)"""".r
        if (!sfRe.findFirstMatchIn(txt).exists(_.group(1) == sfDir)) Map.empty
        else {
          val qBlock = txt.split("\"queries\":\\{", 2)(1).split("\\}", 2)(0)
          """"(q[^"]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(qBlock)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }

    // SPARK_GRAFT_ONLY: comma-separated subset for local iteration (a
    // subset artifact overwrites gate_floor.json — don't commit one)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val gates = graft.streaming.StreamingGate.queries.keys.toSeq.sorted
      .filter(g => only.forall(_.contains(g)))

    case class Floor(sec: Double, win: ProcStat.Window, retries: Int)
    val MaxAttempts = 3
    val floors = scala.collection.mutable.LinkedHashMap.empty[String, Floor]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val suspect = scala.collection.mutable.ListBuffer.empty[String]
    for (g <- gates) {
      def run(): Unit = graft.streaming.StreamingGate.queries(g)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      try {
        run() // untimed: staging + register builds + codegen
        def repSet(retries: Int): Floor = {
          // median-of-Reps with the MEDIAN REP's window as the row's
          // sidecar (the endpoints of the whole set would blur a clean
          // median rep with a contaminated outlier rep — the exact
          // ambiguity per-rep attribution exists to remove)
          val reps = Seq.fill(Bench.Reps) {
            val t0 = System.nanoTime()
            val (_, w) = ProcStat.windowed(run())
            ((System.nanoTime() - t0) / 1e9, w)
          }.sortBy(_._1)
          val (sec, win) = reps(Bench.Reps / 2)
          Floor(sec, win, retries)
        }
        def contaminated(f: Floor): Boolean =
          f.win.impeached || benchSec.get(g).exists(f.sec > _)
        var best = repSet(0)
        var tries = 1
        while (contaminated(best) && tries < MaxAttempts) {
          val next = repSet(tries)
          tries += 1
          if (!contaminated(next) || next.sec < best.sec)
            best = next.copy(retries = tries - 1)
          else best = best.copy(retries = tries - 1)
        }
        floors(g) = best
        // a floor still above its own gate's full engine time after
        // retries is load-contaminated by definition: flag, don't trust
        if (benchSec.get(g).exists(best.sec > _)) suspect += g
      } catch {
        case e: Throwable =>
          floors(g) = Floor(-1.0, ProcStat.Window(-1, -1, -1,
            ProcStat.loadAvg()), 0)
          errors(g) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
      }
    }
    val fl = floors.map { case (k, v) => "\"" + k + "\":" + f"${v.sec}%.3f" }
      .mkString("{", ",", "}")
    val ld = floors.map { case (k, v) =>
      "\"" + k + "\":{\"other_cpu\":" + f"${v.win.otherCpu}%.3f" +
        ",\"own_cpu\":" + f"${v.win.ownCpu}%.3f" +
        ",\"io_wait\":" + f"${v.win.ioWait}%.3f" +
        ",\"loadavg\":" + f"${v.win.load}%.2f" +
        ",\"retries\":" + v.retries + "}"
    }.mkString("{", ",", "}")
    val er = errors.map { case (k, v) =>
      "\"" + k + "\":" + Harness.jsonString(v)
    }.mkString("{", ",", "}")
    val su = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"gate_floor","sf":"$sfDir","reps":${Bench.Reps},""" +
      s""""bench_ceiling_checked":${benchSec.nonEmpty},"floors":$fl,""" +
      s""""load":$ld,"suspect":$su,"errors":$er}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get("gate_floor.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    if (suspect.nonEmpty) {
      System.err.println(s"[gate-floor] SUSPECT (floor > own gate's " +
        s"engine time after $MaxAttempts attempts): ${suspect.mkString(",")}")
      sys.exit(1)
    }
  }
}
