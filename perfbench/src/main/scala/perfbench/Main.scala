package perfbench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json>
  *        [--artifact <artifact.json>] [--git-head <sha>]
  *
  * Single process, one closed-loop client, one `local[4]` session. Set-up
  * runs once untimed (cold JVM), then three times timed (median reported
  * as `setup_s`), then an untimed preparation, then whole cycles of ops
  * until `--seconds` have passed and at least [[MinCycles]] cycles ran.
  * With `--trace 1` untraced and traced cycles alternate (the listener
  * on throughout), each side held to the same minimum; per-layer
  * metrics come from the traced ones. */
object Main {
  val Cpus = 4
  val SetupReps = 3
  /** Each measured phase runs at least this many cycles, so every
    * reported median is taken over three samples or more. */
  val MinCycles = 3

  /** Sizes per workload: a cycle takes ~1–4 s on 4 cores, so a run of
    * the three workloads fits the benchmark's time budget. corpus-dedup's
    * cycle is bound by its Spark job count (~50 jobs), not its data. */
  def workload(name: String, spark: SparkSession, dir: File, seed: Long): Workload =
    name match {
      case "catalog-build" => new CatalogBuild(spark, dir, seed, primaries = 30000)
      case "catalog-nightly" => new CatalogNightly(spark, dir, seed, perVolume = 6000)
      case "corpus-dedup" => new CorpusDedup(spark, dir, seed, docs = 2000, vectors = 3000)
      case other => sys.error(s"unknown workload '$other'")
    }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "work_per_s" -> "1/s", "live_heap_mb" -> "MB")

  /** Per-layer metrics taken from traced spans: (metric, span key prefix). */
  val SpanSeconds: Seq[(String, String)] = Seq(
    "sources.listing.s" -> "sources:DirectoryListing.",
    "operators.probe.s" -> "operators:VideoPipeline.probeStage",
    "operators.derive.s" -> "operators:VideoPipeline.deriveColumns",
    "operators.subtitles.s" -> "operators:VideoPipeline.withSubtitles",
    "operators.novel.s" -> "operators:VideoPipeline.novelFiles",
    "operators.variants.s" -> "operators:VideoPipeline.variant",
    "sources.tsv.render_s" -> "sources:Tsv.renderLines",
    "sources.tsv.sort_s" -> "sources:Tsv.sortLinesDesc",
    "sources.tsv.write_s" -> "sources:Tsv.writeSingleFile",
    "sources.tsv.parse_s" -> "sources:Tsv.readReferenceTsv",
    "ext.dedup.exact_s" -> "ext:Dedup.exactDedup",
    "ext.dedup.pairs_s" -> "ext:Dedup.minhashPairs",
    "ext.dedup.cluster_s" -> "ext:Dedup.dedupClusters",
    "ext.similarity.ivf_s" -> "ext:Similarity.ivfTopK")

  /** Per-layer metrics the workloads note themselves. */
  val Noted: Seq[(String, String)] = Seq(
    "sources.tsv.write_amp" -> "ratio", "operators.novel.useful_ratio" -> "ratio",
    "ext.dedup.planted_recall" -> "ratio", "ext.similarity.recall_at_k" -> "ratio")

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    work.mkdirs()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    try {
      val wl = workload(a("workload"), spark, work, seed)
      wl.traced = trace
      val (result, artifact0) = run(wl, spark, a("workload"), seed, seconds, trace)
      val artifact = artifact0 + ("jvm_to_session_s" -> sessionS)
      Files.writeString(new File(a("out")).toPath, Json(result))
      a.get("artifact").foreach(p => Files.writeString(new File(p).toPath,
        Json(artifact ++ Map("git_head" -> a.getOrElse("git-head", "unknown")))))
    } finally spark.stop()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.graft.index.root", new File(work, "index-catalog").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(wl: Workload, spark: SparkSession, name: String, seed: Long,
          seconds: Double, trace: Boolean): (Map[String, Any], Map[String, Any]) = {
    // one untimed set-up pays the cold JVM's class loading and JIT first
    val coldSetupS = { val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9 }
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
    }
    val p0 = System.nanoTime()
    val prepared = wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9

    var cycleNo = 0
    def runCycle(t: Tracer): Seq[Op] = {
      cycleNo += 1
      wl.startCycle(cycleNo)
      t match { case l: LiveTracer => l.cycle = cycleNo; case _ => }
      wl.cycle(t)
    }
    // a traced run alternates untraced and traced cycles, so drift over
    // the window (JIT, co-tenants) lands on both sides of the overhead
    val live = if (trace) Some(new LiveTracer(spark, Trace.register(spark))) else None
    val plain, tcycles = mutable.ArrayBuffer.empty[Seq[Op]]
    val plainTracer = new Tracer(spark)
    val m0 = System.nanoTime()
    try {
      while (plain.length < MinCycles || (System.nanoTime() - m0) / 1e9 < seconds) {
        plain += runCycle(plainTracer)
        live.foreach(tr => tcycles += runCycle(tr))
      }
    } finally live.foreach(tr => Trace.unregister(spark, tr.listener))
    val measureS = (System.nanoTime() - m0) / 1e9
    val heap = liveHeapMb()

    // preparation's checked ops count too: a broken round trip fails the run
    val ops = prepared ++ plain.flatten ++ tcycles.flatten
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "op_p50_ms" -> cycleMs(plain.toSeq),
      "work_per_s" -> rate(plain.toSeq, wl.primary),
      "live_heap_mb" -> heap)
    val metrics: Map[String, (Double, String)] =
      if (!trace) EndToEnd.map { case (m, u) => m -> (e2e(m), u) }.toMap
      else perLayer(wl, plain.toSeq, live.get, tcycles.toSeq, failed.toDouble / ops.length)
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> ops.length,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val env = sys.env.filter { case (k, _) => k.startsWith("GRAFT_") || k.startsWith("SPARK_GRAFT_") }
    val artifact = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "java" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll,
      "env" -> env,
      "loop" -> "closed loop, one client, ops run back to back",
      "untraced_cycles" -> plain.length,
      "traced_cycles" -> tcycles.length,
      "cold_setup_s" -> coldSetupS, "setup_s_samples" -> setupS, "prepare_s" -> prepareS, "measure_s" -> measureS,
      "end_to_end" -> e2e, "metrics" -> result("metrics"),
      "info" -> wl.info, "problems" -> wl.problems.toSeq,
      "prepare_ops" -> prepared.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok)),
      "untraced_ops" -> plain.zipWithIndex.flatMap { case (c, i) =>
        c.map(o => Map("cycle" -> i, "kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok)) }) ++
      live.map(traceArtifact(_, plain.toSeq)).getOrElse(Map.empty)
    (result, artifact)
  }

  /** The median cycle: a cycle is the workload's unit op. */
  private def cycleMs(cycles: Seq[Seq[Op]]): Double = median(cycles.map(_.map(_.ms).sum))

  /** Median over traced cycles of a per-cycle sum over its ops. */
  private def perCycle(tr: LiveTracer)(f: OpTrace => Double): Double =
    median(tr.ops.groupBy(_.cycle).values.map(_.map(f).sum))

  private def kindMedianMs(cycles: Seq[Seq[Op]], kind: String): Double =
    median(cycles.flatten.filter(_.kind == kind).map(_.ms))

  def perLayer(wl: Workload, plain: Seq[Seq[Op]], tr: LiveTracer,
               tcycles: Seq[Seq[Op]],
               failedFrac: Double): Map[String, (Double, String)] = {
    val pc = perCycle(tr) _
    val tracedCycles = tr.ops.map(_.cycle).toSet
    val spans = SpanSeconds.map { case (m, prefix) =>
      m -> (pc(o => o.calls.filter(_.key.startsWith(prefix)).map(_.selfMs).sum) / 1000, "s")
    }
    def rows(prefix: String) = pc(o => o.calls.filter(_.key.startsWith(prefix))
      .map(c => math.max(0L, c.rows).toDouble).sum)
    def jobs(prefix: String) = pc(o => o.calls.filter(_.key.startsWith(prefix))
      .map(_.spark.jobs.toDouble).sum)
    val noted = Noted.map { case (m, u) =>
      m -> (median(wl.notes.filter(n => tracedCycles(n._1) && n._2 == m).map(_._3)), u)
    }
    val s = (f: SparkAcc => Long) => pc(o => f(o.spark).toDouble)
    val sparkM = Seq(
      "spark.plan_ms" -> (pc(_.planMs), "ms"),
      "spark.driver_gap_ms" -> (pc(_.driverGapMs), "ms"),
      "spark.jobs" -> (s(_.jobs), "count"),
      "spark.tasks" -> (s(_.tasks), "count"),
      "spark.sched_delay_ms" -> (s(_.schedDelayMs), "ms"),
      "spark.task_run_ms" -> (s(_.runMs), "ms"),
      "spark.gc_ms" -> (s(_.gcMs), "ms"),
      "spark.shuffle_write_bytes" -> (s(_.shuffleWriteBytes), "bytes"),
      "spark.fetch_wait_ms" -> (s(_.fetchWaitMs), "ms"),
      "spark.spill_bytes" -> (s(_.spillBytes), "bytes"),
      "spark.failed_tasks" -> (s(_.failedTasks), "count"))
    val traceM = Seq(
      "trace.coverage" -> (median(tr.ops.groupBy(_.cycle).values.map(os =>
        os.map(_.calls.map(_.selfMs).sum).sum / os.map(_.wallMs).sum)), "ratio"),
      "trace.overhead_ms" -> (cycleMs(tcycles) - cycleMs(plain), "ms"))
    val opsM = Seq(
      "build_files_per_s" -> (rate(plain, "build"), "files/s"),
      "update_s" -> (kindMedianMs(plain, "update") / 1000, "s"),
      "merge_s" -> (kindMedianMs(plain, "merge") / 1000, "s"),
      "report_s" -> (kindMedianMs(plain, "report") / 1000, "s"),
      "dedup_docs_per_s" -> (rate(plain, "dedup"), "docs/s"),
      "topk_s" -> (kindMedianMs(plain, "topk") / 1000, "s"),
      "failed_frac" -> (failedFrac, "ratio"))
    (spans ++ Seq(
      "operators.probe.calls" -> (rows("operators:VideoPipeline.probeStage"), "count"),
      "ext.dedup.candidate_pairs" -> (rows("ext:Dedup.minhashPairs"), "count"),
      "ext.dedup.cluster_jobs" -> (jobs("ext:Dedup.dedupClusters"), "count")) ++
      noted ++ sparkM ++ traceM ++ opsM).toMap
  }

  /** Items per second of the median op of `kind` (0 when absent). */
  private def rate(cycles: Seq[Seq[Op]], kind: String): Double = {
    val ops = cycles.flatten.filter(_.kind == kind)
    if (ops.isEmpty) 0.0 else ops.head.items / (median(ops.map(_.ms)) / 1000)
  }

  private def traceArtifact(tr: LiveTracer, plain: Seq[Seq[Op]]): Map[String, Any] = {
    val t0 = tr.spans.headOption.map(_.startNs).getOrElse(0L)
    def sparkMap(a: SparkAcc) = Map(
      "jobs" -> a.jobs, "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
      "task_run_ms" -> a.runMs, "gc_ms" -> a.gcMs, "sched_delay_ms" -> a.schedDelayMs,
      "fetch_wait_ms" -> a.fetchWaitMs, "shuffle_write_bytes" -> a.shuffleWriteBytes,
      "spill_bytes" -> a.spillBytes, "job_union_ms" -> Trace.unionMs(a.jobIntervals.toSeq))
    val untracedByKind = plain.flatten.groupBy(_.kind).map { case (k, v) => k -> median(v.map(_.ms)) }
    Map(
      "traced_ops" -> tr.ops.map { o =>
        Map("op" -> o.op, "cycle" -> o.cycle, "kind" -> o.kind, "wall_ms" -> o.wallMs,
          "untraced_median_ms" -> untracedByKind.getOrElse(o.kind, Double.NaN),
          "overhead_ms" -> (o.wallMs - untracedByKind.getOrElse(o.kind, Double.NaN)),
          "layer_self_ms" -> o.layerSelfMs, "coverage" -> o.coverage,
          "plan_ms" -> o.planMs, "driver_gap_ms" -> o.driverGapMs,
          "spark" -> sparkMap(o.spark),
          "calls" -> o.calls.map(c => Map("layer" -> c.layer, "name" -> c.name,
            "self_ms" -> c.selfMs, "rows" -> c.rows, "spark" -> sparkMap(c.spark))))
      },
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "rows" -> s.rows)))
  }
}
