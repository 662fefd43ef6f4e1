package graft

/** Scratch diagnostic for the streaming gates (not part of the query
  * surface): run one gate and print the engine's own per-batch
  * telemetry — batch id, input rows, the durationMs breakdown
  * (addBatch / getBatch / walCommit / commitOffsets / queryPlanning /
  * triggerExecution) and per-operator state-store commit times — so a
  * gate's wall time decomposes into engine phases instead of being
  * guessed at (guide §1: measure first; §7.1: the UI's SQL/metrics
  * surface, read programmatically since the bench runs UI-less).
  *
  * Usage: runMain graft.StreamDiag q106_stream_outer_join [dir] [cpus]
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = Harness.session(s"local[$cpus]", "graft-stream-diag", cpus.toInt)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val warm = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t1) / 1e9
    println(f"[diag] $name warm=$warm%.3f s second=$sec%.3f s")
    for (p <- graft.streaming.StreamingGate.lastRunProgress.get()) {
      val dm = p.durationMs
      println(f"[diag] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=$dm")
      for (so <- p.stateOperators)
        println(s"[diag]   state op=${so.operatorName} rowsTotal=${so.numRowsTotal} " +
          s"commitMs=${so.commitTimeMs} " +
          s"loadedProviders=${so.customMetrics.getOrDefault("loadedMapCacheHitCount", -1L)}")
    }
    spark.stop()
  }
}
