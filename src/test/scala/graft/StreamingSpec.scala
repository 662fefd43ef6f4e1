package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStreaming

/** Streaming smoke: replay the fixture parquet through each streaming
  * transform with a memory sink and check agreement with the batch
  * equivalents (unified batch/streaming semantics). */
class StreamingSpec extends SparkSpec {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming tumbling counts match batch q11 on completed windows") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    // complete mode emits all windows regardless of watermark progress
    val got = runToMemory(
      EventsStreaming.tumblingCounts(stream), "t_tumbling", mode = "complete")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.queries.Relational.q11EventWindows(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("streaming sessionization matches batch q12") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    val got = runToMemory(
      EventsStreaming.sessionCounts(stream), "t_sessions", mode = "complete")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
                 r.getAs[Long]("n_events"))).toSet
    val want = graft.queries.Relational.q12Sessionize(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
                 r.getAs[Long]("n_events"))).toSet
    assert(got == want)
  }

  test("q40 gate: APPEND-mode tumbling windows equal batch q11 exactly") {
    // Unlike the complete-mode smoke above, this runs the oracle-gated
    // path: AvailableNow + watermark + append emission + the far-future
    // sentinel that finalizes the tail windows. Every row must have been
    // EMITTED by watermark passage — full-row equality, ordering included.
    val got = graft.streaming.StreamingGate.q40StreamTumbling(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.Relational.q11EventWindows(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "append-mode emission must reproduce the batch relation")
  }

  test("a gate run leaves no checkpoint tree behind") {
    // every graft-* tree a gate creates per call must be gone when the
    // call returns; the first, untimed call builds the per-JVM staging
    // memos (stream-gate, events-canon, proctime-thirds), which stay
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def trees(): Int = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.list(tmp)
      try it.iterator().asScala.count(_.getFileName.toString.startsWith("graft-"))
      finally it.close()
    }
    import graft.streaming.StreamingGate
    val gates = Seq[(String, () => Any)](
      "q40" -> (() => StreamingGate.q40StreamTumbling(spark, sf).collect()),
      "q126" -> (() => StreamingGate.q126StreamNearDup(spark, sf).collect()),
      "q82" -> (() => StreamingGate.q82StreamRestart(spark, sf).collect()),
      "q165" -> (() => StreamingGate.q165IncrementalIngest(spark, sf).collect()),
      "q98" -> (() => StreamingGate.q98StreamUpsertSink(spark, sf).collect()),
      "q235" -> (() => StreamingGate.q235SnapshotVacuum(spark, sf).collect()),
      "ttl-probe" -> (() => StreamingGate.ttlProbeMaxCount(spark, sf)),
      "q214" -> (() => StreamingGate.q214StreamProcTime(spark, sf).collect()))
    gates.foreach { case (name, gate) =>
      gate()
      val before = trees()
      (1 to 2).foreach(_ => gate())
      assert(trees() == before, s"every $name run must delete the graft-* trees it creates")
    }
  }

  test("q41 gate: APPEND-mode session windows equal batch q12 exactly") {
    val got = graft.streaming.StreamingGate.q41StreamSessions(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.Relational.q12Sessionize(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "session-window state finalization must match batch")
  }

  test("q43 gate: stream-stream interval join equals batch q26 exactly") {
    val got = graft.streaming.StreamingGate.q43StreamIntervalJoin(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.Relational.q26IntervalJoin(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "symmetric-hash stream join must reproduce the batch relation")
  }

  test("q106 gate: stream-stream LEFT OUTER interval join equals the batch left join") {
    val got = graft.streaming.StreamingGate.q106StreamOuterJoin(spark, sf)
      .collect().map(_.toSeq).toSeq
    val events = Tables.events(spark, sf)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
    val want = clicks.join(purchases,
        expr("""user_id = p_user AND purchase_ts >= click_ts AND
                purchase_ts <= click_ts + interval 10 minutes"""), "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy(col("click_id"), col("purchase_id"))
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "outer stream join must reproduce the batch left join, nulls included")
    assert(want.exists(_(2) == null), "fixture must exercise the null path")
  }

  test("q109 gate: full-outer stream join equals the batch full join, nulls on both sides") {
    val got = graft.streaming.StreamingGate.q109StreamFullOuterJoin(spark, sf)
      .collect().map(_.toSeq).toSeq
    val events = Tables.events(spark, sf)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
    val want = clicks.join(purchases,
        expr("""c_user = p_user AND purchase_ts >= click_ts AND
                purchase_ts <= click_ts + interval 10 minutes"""), "full_outer")
      .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
      .collect().map(_.toSeq).toSeq
    assert(got == want,
      "full-outer stream join must reproduce the batch full join")
    assert(want.exists(_(2) == null), "unmatched clicks must null-emit")
    assert(want.exists(_(1) == null), "unmatched purchases must null-emit")
  }

  test("q106: null emission is watermark-driven — sentinel-free replay holds back tail clicks") {
    // Replay the fixture WITHOUT the far-future sentinel: the watermark
    // plateaus at real-max − 20 min, so an unmatched click inside the
    // final 30 minutes (20 min delay + 10 min join interval) can never
    // be proven matchless — its null row must NOT appear. Everything
    // older must. This pins null emission to watermark passage; an
    // engine that flushed state at end-of-input would emit ALL nulls
    // and fail the held-back assertion.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = java.nio.file.Files.createTempDirectory("q106-nosent")
    staged.toFile.deleteOnExit()
    java.nio.file.Files.copy(
      graft.streaming.StreamingGate.canonicalEventsFile(spark, sf),
      staged.resolve("00-events.parquet"))
    val src = spark.readStream
      .schema(graft.streaming.EventsStreaming.rawSchema)
      .parquet(staged.toString)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val ckpt = java.nio.file.Files.createTempDirectory("q106-nosent-ckpt")
    ckpt.toFile.deleteOnExit()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = graft.streaming.EventsStreaming.purchaseClickOuter(src)
        .writeStream.format("memory").queryName("q106_nosent").outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val sinkNulls = spark.table("q106_nosent")
      .filter(col("purchase_id").isNull)
      .select("click_id").collect().map(_.getLong(0)).toSet

    val events = Tables.events(spark, sf)
    // the plateau watermark is the MIN over the two watermark NODES,
    // each of which only sees its own filtered side — not the overall
    // event max
    val maxClickUs = events.filter(col("event_type") === "click")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val maxPurchUs = events.filter(col("event_type") === "purchase")
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val plateauUs = math.min(maxClickUs, maxPurchUs) - 1200L * 1000000L
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), unix_micros(col("ts")).as("click_us"))
    val matched = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("p_us"))
      .join(events.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_us")),
        expr("user_id = p_user AND p_us >= click_us AND p_us <= click_us + 600000000"))
      .select("click_id").distinct()
    val batchNulls = clicks.join(matched, Seq("click_id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // a click is provably matchless once plateau > click_us + 10 min
    val mustEmit = batchNulls.filter(t => t._2 + 600L * 1000000L < plateauUs).map(_._1).toSet
    val mustHold = batchNulls.filter(t => t._2 + 600L * 1000000L >= plateauUs).map(_._1).toSet
    assert(mustHold.nonEmpty, "fixture must have an unmatched click in the tail horizon")
    assert(sinkNulls.subsetOf(mustEmit ++ mustHold), "no spurious null rows")
    assert(mustEmit.subsetOf(sinkNulls),
      s"nulls older than the plateau horizon must emit; missing ${mustEmit -- sinkNulls}")
    assert((mustHold & sinkNulls).isEmpty,
      s"tail-horizon clicks must be HELD without the sentinel; leaked ${mustHold & sinkNulls}")
  }

  test("q98: predecessor snapshot derives from the batch id — retry-safe, gap-tolerant") {
    val root = java.nio.file.Files.createTempDirectory("q98-snap-test")
    root.toFile.deleteOnExit()
    import graft.streaming.StreamingGate.latestSnapshotBefore
    def commit(v: String): Unit = {
      val d = java.nio.file.Files.createDirectory(root.resolve(v))
      java.nio.file.Files.write(d.resolve("manifest.json"),
        "{}".getBytes("UTF-8"))
    }
    assert(latestSnapshotBefore(root, 0L, requireManifest = true).isEmpty, "empty root -> no predecessor")
    commit("v0")
    commit("v1")
    commit("v3") // ids not dense after restart
    // an UNCOMMITTED version (data dir, no manifest — a crashed batch)
    // must be invisible: its own retry is the only legal reader
    java.nio.file.Files.createDirectory(root.resolve("v2"))
    assert(latestSnapshotBefore(root, 0L, requireManifest = true).isEmpty)
    assert(latestSnapshotBefore(root, 1L, requireManifest = true).get.endsWith("v0"))
    // THE retry case: batch 3 already wrote v3, then retries before its
    // checkpoint commit — it must read v1 (its true predecessor), never
    // the v3 its own overwrite is about to delete
    assert(latestSnapshotBefore(root, 3L, requireManifest = true).get.endsWith("v1"))
    assert(latestSnapshotBefore(root, 4L, requireManifest = true).get.endsWith("v3"))
    assert(latestSnapshotBefore(root, Long.MaxValue, requireManifest = true).get.endsWith("v3"))
  }

  test("q98: bucket-pruned CoW merge rewrites only touched buckets; untouched files are manifest-referenced in place") {
    import graft.streaming.StreamingGate.{cowMergeBatch, readSnapManifest,
      readSnapshot, SnapshotBuckets}
    import java.nio.file.Files
    val root = graft.TempDirs.create("q98-cow-test")
    val B = SnapshotBuckets
    def mk(rows: Seq[(Long, Long, Long, String)]) = {
      import spark.implicits._
      rows.toDF("user_id", "last_us", "last_event_id", "last_type")
    }
    def bucketOf(u: Long): Int = mk(Seq((u, 0L, 0L, "x")))
      .select(pmod(hash(col("user_id")), lit(B))).head().getInt(0)
    def entries(v: String): Map[Int, Set[String]] =
      readSnapManifest(root.resolve(v)).files
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // pick users so batch 1 touches EXACTLY one bucket: u1/u2 land in
    // distinct buckets in batch 0; batch 1 updates only u1's bucket
    val u1 = 1L
    val u2 = (2L to 200L).find(u => bucketOf(u) != bucketOf(u1)).get
    val b1 = bucketOf(u1)
    val b2 = bucketOf(u2)

    cowMergeBatch(mk(Seq((u1, 10L, 100L, "click"), (u2, 20L, 200L, "view"))),
      0L, root, B)
    val before = entries("v0")(b2)
    assert(before.nonEmpty)
    assert(before.forall(_.contains("/v0/")),
      "v0's entries name files v0 itself wrote")

    // batch 1: a newer event for u1 only — touches bucket b1, not b2
    cowMergeBatch(mk(Seq((u1, 30L, 300L, "purchase"))), 1L, root, B)
    // untouched bucket: v1's manifest REFERENCES v0's physical files in
    // place — the identical paths, no copy, no link, no new directory
    assert(entries("v1")(b2) == before,
      s"untouched bucket b=$b2 must carry v0's file references verbatim")
    assert(!Files.exists(root.resolve("v1").resolve(s"b=$b2")),
      "an untouched bucket must not materialize a directory in the new version")
    // touched bucket b1 WAS rewritten: its entries live under v1
    assert(entries("v1")(b1).nonEmpty &&
      entries("v1")(b1).forall(_.contains("/v1/")),
      s"touched bucket b=$b1 must be rewritten into v1")
    // merge semantics: argmax over both batches, resolved via manifest
    def rows(v: String) = readSnapshot(spark, root.resolve(v))
      .select("user_id", "last_us", "last_event_id", "last_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val got = rows("v1")
    assert(got == Set((u1, 30L, 300L, "purchase"), (u2, 20L, 200L, "view")))

    // retry-safety (the legitimate case — NO committed successor yet):
    // re-running batch 1 (predecessor derived from id, stale v1 deleted
    // up front) reproduces the same relation
    cowMergeBatch(mk(Seq((u1, 30L, 300L, "purchase"))), 1L, root, B)
    assert(rows("v1") == got)

    // the sentinel path: an EMPTY batch touches nothing — v2 is a
    // MANIFEST-ONLY version: no data directories at all, every entry
    // byte-identical to v1's (references, not copies)
    cowMergeBatch(mk(Seq.empty[(Long, Long, Long, String)]), 2L, root, B)
    assert(entries("v2") == entries("v1"),
      "a no-op version must publish its predecessor's references verbatim")
    val v2ls = Files.list(root.resolve("v2"))
    val v2names = try {
      val it = v2ls.iterator(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.result()
    } finally v2ls.close()
    assert(v2names == Seq("manifest.json"),
      s"sentinel version must be manifest-only, found $v2names")
    assert(rows("v2") == got)

    // retry-safety BOUNDARY (round-14 ADVICE): once a SUCCESSOR has
    // committed, its manifest references v1's files in place (v2's b1
    // entries ARE v1's files), so a batch-1 retry must REFUSE the
    // clean-slate delete instead of silently corrupting v2. The guard
    // fires before anything is deleted: v1 and v2 both still read.
    val ex = intercept[IllegalArgumentException] {
      cowMergeBatch(mk(Seq((u1, 30L, 300L, "purchase"))), 1L, root, B)
    }
    assert(ex.getMessage.contains("v2"),
      s"guard must name the committed successor, got: ${ex.getMessage}")
    assert(rows("v2") == got,
      "v2 must remain readable after the refused batch-1 retry")
    assert(rows("v1") == got,
      "v1 must be untouched by the refused retry")

    // the predecessor read is O(touched buckets) PHYSICALLY: pruning is
    // a manifest lookup, so the scan is handed exactly the touched
    // bucket's files — no snapshot-wide listing, no partition filter to
    // hope gets pushed (the q92 metric discipline — at 100 TB this is
    // the difference between reading the delta's buckets and re-reading
    // the user dimension per batch)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pruned = readSnapshot(spark, root.resolve("v1"), Some(Set(b1)))
      pruned.collect()
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val expect = entries("v1")(b1).size
      assert(scans.nonEmpty && scans.head.metrics("numFiles").value == expect,
        s"pruned read must touch only bucket b=$b1's $expect file(s)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // empty FIRST version (round-13 ADVICE): a manifest with zero files
    // still reads back as a schema-bearing empty relation — the old
    // partitionBy write of an empty frame left a schema-less directory
    // that failed any later read
    val root2 = graft.TempDirs.create("q98-cow-empty")
    cowMergeBatch(mk(Seq.empty[(Long, Long, Long, String)]), 0L, root2, B)
    val empty = readSnapshot(spark, root2.resolve("v0"))
    assert(empty.columns.toSeq ==
      Seq("user_id", "last_us", "last_event_id", "last_type"))
    assert(empty.count() == 0)
    // and a follow-up non-empty batch merges against it cleanly
    cowMergeBatch(mk(Seq((u1, 1L, 2L, "x"))), 1L, root2, B)
    assert(readSnapshot(spark, root2.resolve("v1")).count() == 1)
  }

  test("q235: manifest-aware vacuum keeps the live closure (even inside dead dirs), reclaims the rest, never disturbs a live reader") {
    import graft.streaming.StreamingGate.{cowMergeBatch, readSnapManifest,
      readSnapshot, vacuumSnapshots, latestSnapshotBefore, SnapshotBuckets}
    import java.nio.file.{Files, Paths}
    val root = graft.TempDirs.create("q235-vacuum-test")
    val B = SnapshotBuckets
    def mk(rows: Seq[(Long, Long, Long, String)]) = {
      import spark.implicits._
      rows.toDF("user_id", "last_us", "last_event_id", "last_type")
    }
    def bucketOf(u: Long): Int = mk(Seq((u, 0L, 0L, "x")))
      .select(pmod(hash(col("user_id")), lit(B))).head().getInt(0)
    val u1 = 1L
    val u2 = (2L to 200L).find(u => bucketOf(u) != bucketOf(u1)).get
    val (b1, b2) = (bucketOf(u1), bucketOf(u2))
    // v0: both users; v1: u1 only (b2 carried forward from v0);
    // v2: empty sentinel (manifest-only, everything carried forward)
    cowMergeBatch(mk(Seq((u1, 10L, 100L, "a"), (u2, 20L, 200L, "b"))), 0L, root, B)
    cowMergeBatch(mk(Seq((u1, 30L, 300L, "c"))), 1L, root, B)
    cowMergeBatch(mk(Seq.empty[(Long, Long, Long, String)]), 2L, root, B)
    val v2m = readSnapManifest(root.resolve("v2")).files
    val v0b1 = readSnapManifest(root.resolve("v0")).files
      .filter(_._1 == b1).map(f => Paths.get(f._2))
    assert(v0b1.nonEmpty && v0b1.forall(Files.exists(_)))
    assert(v2m.exists(_._2.contains("/v0/")) && v2m.exists(_._2.contains("/v1/")),
      "precondition: the live manifest must reference into BOTH dead dirs")
    // a live reader resolved BEFORE the vacuum runs
    val reader = readSnapshot(spark, root.resolve("v2")).orderBy("user_id")
    val expect = Set((u1, 30L, 300L, "c"), (u2, 20L, 200L, "b"))

    val stats = vacuumSnapshots(root, 2L)
    // (a) every file the live manifest references SURVIVES — including
    // the carry-forward files physically under dead v0/v1
    for ((_, p) <- v2m) assert(Files.exists(Paths.get(p)),
      s"live-referenced file must survive the vacuum: $p")
    assert(stats.survivingReferencedFiles >= v2m.size)
    // (b) unreferenced files + dead manifests are reclaimed: v0's
    // superseded b1 file is gone, v0/v1 stopped resolving
    assert(v0b1.forall(!Files.exists(_)), "superseded v0 b1 file must be reclaimed")
    assert(!Files.exists(root.resolve("v0").resolve("manifest.json")))
    assert(!Files.exists(root.resolve("v1").resolve("manifest.json")))
    assert(stats.deletedManifests == 2 && stats.deletedDataFiles >= 1)
    assert(latestSnapshotBefore(root, Long.MaxValue, requireManifest = true)
      .get.endsWith("v2"))
    // (c) the pre-vacuum reader and a fresh resolve both read the full
    // relation — live readers unaffected mid-vacuum
    def rowSet(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "last_us", "last_event_id", "last_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rowSet(reader) == expect)
    assert(rowSet(readSnapshot(spark, root.resolve("v2"))) == expect)

    // guard: a retention boundary past every committed version refuses
    // to reclaim the whole snapshot
    intercept[IllegalArgumentException](vacuumSnapshots(root, 99L))
    // in-flight protection: a manifest-less dir >= retainFrom (a batch
    // mid-write) is untouched; one < retainFrom is crashed debris and
    // is reclaimed
    val inflight = root.resolve("v5"); Files.createDirectories(inflight)
    Files.write(inflight.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val debris = root.resolve("v1") // dead dir, no manifest anymore
    Files.createDirectories(debris.resolve("b=99"))
    Files.write(debris.resolve("b=99").resolve("junk.parquet"), Array[Byte](9))
    vacuumSnapshots(root, 2L)
    assert(Files.exists(inflight.resolve("part-0.parquet")),
      "an in-flight version >= retainFrom must be left alone")
    assert(!Files.exists(debris.resolve("b=99")),
      "crashed debris under a dead version must be reclaimed")
    assert(rowSet(readSnapshot(spark, root.resolve("v2"))) == expect)
  }

  test("q58 gate: redelivery + double-delta replay dedups to the original relation across batches") {
    // the staging re-delivers the historical half (suppressed only by
    // the catalog-loaded seen-keys register) and plants a duplicate of
    // the delta in a later micro-batch (suppressed only by state-store
    // dedup or the late-event filter); any leak doubles rows against
    // the relational base union and fails here
    val got = graft.streaming.StreamingGate.q58StreamDedup(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .orderBy("event_id")
      .collect().map(_.toSeq).toSeq
    assert(got == want, "duplicated arrivals must be suppressed exactly once")
  }

  test("state observability: q58/q106 evict state on watermark advance, in engine telemetry") {
    // What a 100 TB operator actually watches on a stateful stream is
    // the engine's own per-batch StreamingQueryProgress — state rows
    // after eviction, per-operator memory, watermark movement — not the
    // sink. These assertions prove cleanup from that telemetry: an
    // engine that never evicted (unbounded state, the OOM-at-scale
    // failure mode) would pass every sink-content gate and fail here.
    import graft.streaming.StreamingGate
    def series(name: String) = StreamingGate.lastRunProgress.get()
      .flatMap(p => p.stateOperators.filter(_.operatorName == name))
    def watermarks = StreamingGate.lastRunProgress.get()
      .flatMap(p => Option(p.eventTime).flatMap(et => Option(et.get("watermark"))))
      .map(java.time.Instant.parse)

    StreamingGate.q58StreamDedup(spark, sf).count()
    val dd = series("dedupe")
    assert(dd.nonEmpty, "dedup gate must report its state operator")
    // only the DELTA half reaches the state store now: the historical
    // half is anti-joined out against the catalog seen-keys register
    // BEFORE the dedup (the round-12 bootstrap), so peak state = delta
    // keys — exactly the bounded-state economy the bootstrap buys
    val ev = Tables.events(spark, sf)
    val mm = ev.agg(min(col("ts_ns")), max(col("ts_ns"))).head()
    val split = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val nDelta = ev.filter(col("ts_ns") > split).count()
    val n = ev.count()
    assert(dd.map(_.numRowsTotal).max >= nDelta,
      "peak dedup state must hold every distinct streamed key (pre-eviction)")
    assert(dd.map(_.numRowsTotal).max < n,
      "the catalog-bootstrapped history must NOT occupy state rows")
    assert(dd.map(_.numRowsRemoved).sum >= dd.map(_.numRowsTotal).max - 2,
      "watermark advance must evict expired entries, counted in numRowsRemoved")
    assert(dd.last.numRowsTotal <= 2,
      s"state after final eviction must be ~empty, got ${dd.last.numRowsTotal}")
    assert(dd.forall(_.memoryUsedBytes > 0), "state memory must be reported")
    val dwm = watermarks
    assert(dwm.last.isAfter(dwm.head), "the watermark must advance over the run")

    StreamingGate.q106StreamOuterJoin(spark, sf).count()
    val sj = series("symmetricHashJoin")
    assert(sj.nonEmpty, "outer-join gate must report the symmetric hash join")
    assert(sj.map(_.numRowsRemoved).sum > 0,
      "watermark passage must evict buffered join rows (the null-emission flush)")
    assert(sj.last.numRowsTotal <= 4 &&
           sj.last.numRowsTotal < sj.map(_.numRowsTotal).max,
      s"join state must shrink to the sentinel residue, got ${sj.last.numRowsTotal}")
    assert(sj.forall(_.memoryUsedBytes > 0), "join state memory must be reported")
  }

  test("state observability: q122's HLL register state is bounded by 64 rows per day") {
    // The sketch-as-state claim, proven from engine telemetry: however
    // many events a day carries, the windowed aggregate's state holds
    // at most Registers rows per open day window (max() merges in
    // place), and the watermark evicts emitted days. An implementation
    // that keyed state by user instead of register would pass the
    // sink-content oracle at fixture scale and fail this bound.
    import graft.streaming.StreamingGate
    StreamingGate.q122StreamHll(spark, sf).count()
    val agg = StreamingGate.lastRunProgress.get()
      .flatMap(p => p.stateOperators.filter(_.operatorName == "stateStoreSave"))
    assert(agg.nonEmpty, "q122 must report its aggregation state operator")
    val days = Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    val bound = graft.ext.Sketches.Registers * (days + 1) // +1: sentinel day
    assert(agg.map(_.numRowsTotal).max <= bound,
      s"register state must stay <= $bound rows, got ${agg.map(_.numRowsTotal).max}")
    assert(agg.map(_.numRowsRemoved).sum > 0,
      "watermark advance must evict emitted days' registers")
  }

  test("q165: the second AvailableNow run reads only the newly-arrived half") {
    // the incremental-cost contract from engine telemetry: run 2's
    // numInputRows must equal the delta file's rows — a pipeline that
    // re-read history would report nA + nB here (and double the sink)
    import graft.streaming.StreamingGate
    val out = StreamingGate.q165IncrementalIngest(spark, sf)
    val (nA, nB, run2) = StreamingGate.lastIncrementalRun.get()
    assert(nA > 0 && nB > 0, "both halves must be non-empty")
    assert(run2 == nB,
      s"run 2 must process exactly the new half: read $run2, delta $nB")
    assert(out.count() == nA + nB, "sink accumulates exactly one copy")
  }

  test("state observability: q145's CMS counter state is bounded by depth x width") {
    // The frequency-sketch twin of the q122 bound: the streaming CMS
    // keys state by (row, bucket) — never by user — so total state is
    // capped at depth*width rows for ANY event volume or key
    // cardinality. An implementation that kept per-user counts would
    // pass the sink-content oracle at fixture scale (estimates fold to
    // the same mins) and fail this bound the moment users outnumber
    // cells. No watermark here: boundedness comes from the sketch
    // algebra, so nothing is ever evicted either — both directions
    // asserted.
    import graft.streaming.{EventsStreaming, StreamingGate}
    val est = StreamingGate.q145StreamCms(spark, sf)
    // sanity on the estimates themselves: CMS never under-counts
    val trueCounts = Tables.events(spark, sf)
      .groupBy("user_id").agg((count(lit(1)) * 2).as("true_n"))
    val under = est.join(trueCounts, "user_id")
      .filter(col("est_n") < col("true_n")).count()
    assert(under == 0, "a CMS estimate must never under-count")
    val agg = StreamingGate.lastRunProgress.get()
      .flatMap(p => p.stateOperators.filter(_.operatorName == "stateStoreSave"))
    assert(agg.nonEmpty, "q145 must report its aggregation state operator")
    val bound = EventsStreaming.CmsDepth.toLong * EventsStreaming.CmsWidth
    assert(agg.map(_.numRowsTotal).max <= bound,
      s"CMS state must stay <= $bound rows, got ${agg.map(_.numRowsTotal).max}")
    assert(agg.map(_.numRowsRemoved).sum == 0,
      "no watermark, no eviction: CMS cells live forever by design")
  }

  test("state observability: stale arrivals after watermark passage drop as numRowsDroppedByWatermark") {
    // The one metric the gates' orderly replays never exercise: rows
    // arriving AFTER the watermark passed them and their state was
    // evicted. Stage fixture -> sentinel -> fixture-again (newest
    // mtime): batch 2's replayed rows are below the sentinel-advanced
    // watermark with no surviving state to dedup against, so the
    // operator itself must drop them and COUNT them — the late-data
    // loss a production pipeline alarms on.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = Files.createTempDirectory("graft-stale-replay")
    staged.toFile.deleteOnExit()
    val now = System.currentTimeMillis()
    Files.copy(graft.streaming.StreamingGate.canonicalEventsFile(spark, sf),
      staged.resolve("00-events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(staged.resolve("00-events.parquet"),
      FileTime.fromMillis(now - 120000))
    val maxNs = spark.read.schema(EventsStreaming.rawSchema)
      .parquet(staged.resolve("00-events.parquet").toString)
      .agg(max(col("ts"))).head().getLong(0)
    val sentinel = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        -1L, maxNs + 86400L * 1000000000L, -1L, "sentinel", 0.0, null)),
      EventsStreaming.rawSchema)
    val tmp = Files.createTempDirectory("graft-stale-sent")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, staged.resolve("50-sentinel.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(staged.resolve("50-sentinel.parquet"),
      FileTime.fromMillis(now - 60000))
    Files.copy(graft.streaming.StreamingGate.canonicalEventsFile(spark, sf),
      staged.resolve("zz-events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(staged.resolve("zz-events.parquet"),
      FileTime.fromMillis(now))

    val src = spark.readStream.schema(EventsStreaming.rawSchema)
      .option("latestFirst", false).option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    val ckpt = Files.createTempDirectory("graft-stale-ckpt")
    ckpt.toFile.deleteOnExit()
    val q = EventsStreaming.dedupEvents(src)
      .writeStream.format("memory").queryName("stale_replay")
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val n = Tables.events(spark, sf).count()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.filter(_.operatorName == "dedupe"))
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= n - 2,
      s"stale replay of $n rows must be dropped BY THE OPERATOR and counted, got $dropped")
    // and none of them leaked into the sink: original relation + sentinel
    assert(spark.table("stale_replay").count() == n + 1,
      "late drops must not re-emit previously deduped rows")
  }

  test("q140 gate: watermark-horizon dedup suppresses the duplicate copy, telemetry-accounted") {
    val got = graft.streaming.StreamingGate.q140StreamDedupWithin(spark, sf).collect()
    val ev = Tables.events(spark, sf).select(col("ts_ns")).collect().map(_.getLong(0))
    assert(got.length == ev.length, "sink must hold exactly the distinct relation")
    // THE point of the WithinWatermark API: per-key state is EVICTED
    // once the watermark passes its event time — prove it from the
    // engine's telemetry. With the round-12 catalog bootstrap only the
    // DELTA half (ts past the fixture midpoint) ever reaches the
    // operator — the re-delivered history is anti-joined out against
    // the seen-keys register — so state is bounded by the delta, every
    // delta key is evicted once the sentinel advances the watermark,
    // and the final state is the sentinel residue.
    val split = ev.min + (ev.max - ev.min) / 2
    val deltaKeys = ev.count(_ > split)
    val progress = graft.streaming.StreamingGate.lastRunProgress.get()
    val ops = progress.flatMap(_.stateOperators)
      .filter(_.operatorName == "dedupeWithinWatermark")
    assert(ops.nonEmpty, "the dedicated operator must appear in progress")
    val peak = ops.map(_.numRowsTotal).max
    assert(peak >= deltaKeys && peak <= deltaKeys + 2,
      s"only the streamed delta may occupy state: peak $peak vs delta $deltaKeys")
    val removed = ops.map(_.numRowsRemoved).sum
    assert(removed >= deltaKeys - 5, // ms-rounded watermark slack
      s"expected >= ${deltaKeys - 5} evictions, telemetry says $removed")
    val finalState = progress.last.stateOperators.map(_.numRowsTotal).sum
    assert(finalState <= 2,
      s"state must shrink to the sentinel residue, found $finalState rows")
  }

  test("q58/q140: the seen-keys register is a catalog LOAD for a fresh session, never a rebuild") {
    import graft.sources.IndexCatalog
    // first run resolves (builds or loads — the default catalog root
    // persists across sbt invocations, so either is legitimate here)
    graft.streaming.StreamingGate.q58StreamDedup(spark, sf).count()
    // "fresh JVM": memo gone, disk entry intact — q140 shares the SAME
    // kind+fingerprint slot, so its bootstrap must LOAD what q58's run
    // left on disk
    IndexCatalog.resetMemory()
    val b1 = IndexCatalog.builds.get()
    val l1 = IndexCatalog.loads.get()
    val got = graft.streaming.StreamingGate.q140StreamDedupWithin(spark, sf)
      .collect()
    assert(IndexCatalog.builds.get() == b1,
      "a fresh session must NOT rebuild the seen-keys register")
    assert(IndexCatalog.loads.get() >= l1 + 1,
      "a fresh session must LOAD the stored register")
    assert(got.length == Tables.events(spark, sf).count(),
      "the loaded-register run still yields the full distinct relation")
  }

  test("q65 gate: custom state survives the batch boundary (2n after two copies)") {
    val got = graft.streaming.StreamingGate.q65StreamRunningCounts(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> 2 * r.getLong(1)).toMap
    assert(got == want,
      "batch B must read batch A's state back from the store (n + n = 2n)")
  }

  test("streaming dedup keeps all distinct event ids") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    val got = runToMemory(EventsStreaming.dedupEvents(stream), "t_dedup")
    assert(got.select("event_id").distinct().count() ==
      Tables.events(spark, sf).select("event_id").distinct().count())
  }

  test("flatMapGroupsWithState accumulates per-user totals") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    val got = runToMemory(
      EventsStreaming.userRunningCounts(stream).toDF(), "t_state")
    // last emitted running count per user == that user's total event count
    val finalCounts = got.groupBy("user_id")
      .agg(max("n_events").as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val want = Tables.events(spark, sf).groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    assert(finalCounts == want)
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    val got = runToMemory(
      EventsStreaming.purchaseClickCorrelation(stream), "t_sj")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val batch = EventsStreaming.purchaseClickCorrelation(Tables.events(spark, sf))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == batch && batch.nonEmpty)
  }

  test("transformWithState tracks per-user max value (RocksDB store)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = EventsStreaming.eventsStream(spark, sf)
      val got = runToMemory(
        EventsStreaming.userMaxValue(stream).toDF(), "t_tws", mode = "update")
      val finals = got.groupBy("user_id").agg(max("max_value").as("m")).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("m")).toMap
      val want = Tables.events(spark, sf).groupBy("user_id")
        .agg(max("value").as("m")).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("m")).toMap
      assert(finals == want)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("q76 gate: transformWithState two-copy replay proves v2 state crosses batches") {
    // count reaches 2n only by reading batch A's RocksDB state in batch B
    val got = graft.streaming.StreamingGate.q76StreamMaxState(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg((count(lit(1)) * 2).as("n_events"),
        round(max(col("value")) * 100).cast("long").as("max_value_cents"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(got == want, "v2 ValueState must accumulate across the batch boundary")
  }

  test("q79 gate: batch snapshot seeds v2 state; stream accumulates on top") {
    val got = graft.streaming.StreamingGate.q79StreamInitialState(spark, sf)
      .collect().map(_.toSeq).toSeq
    // n seeded + n streamed = 2n, same relation as q76 by different machinery
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg((count(lit(1)) * 2).as("n_events"),
        round(max(col("value")) * 100).cast("long").as("max_value_cents"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(got == want, "handleInitialState must seed the store before input")
  }

  test("q82 gate: a restarted query recovers offsets + state from the checkpoint") {
    val got = graft.streaming.StreamingGate.q82StreamRestart(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(got == want,
      "run 2 on the same checkpoint must add nothing: no offset re-read, no state loss")
  }

  test("q214 gate: processing-time cadence over a growing dir lands on the batch aggregate") {
    val got = graft.streaming.StreamingGate.q214StreamProcTime(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want,
      "wall-clock-triggered complete-mode aggregate must equal the batch relation")
    val (dataTriggers, _, totalRows) =
      graft.streaming.StreamingGate.lastProcTimeRun.get()
    assert(dataTriggers >= 3,
      s"three gated deliveries must land in >= 3 distinct wall-clock triggers (saw $dataTriggers)")
    assert(totalRows == want.values.map(_._1).sum,
      "engine-reported input rows must account for exactly one fixture copy")
  }

  test("v2 state TTL: expired values vanish between micro-batches") {
    // TTL is processing-time so it can't be hash-gated like q76/q78/q79;
    // what IS provable: with a 1 ms TTL and the two-copy staged replay
    // (batches are >> 1 ms apart), batch B must observe EXPIRED state —
    // every user's count re-starts at n instead of reaching 2n. The
    // contrast with q76 (TTL.NONE, same staging, reaches 2n) pins the
    // expiry machinery itself.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = graft.streaming.StreamingGate.ttlProbeMaxCount(spark, sf)
      val want = Tables.events(spark, sf).groupBy("user_id").count().collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
      assert(got == want,
        "a 1 ms TTL must expire state across the batch gap (n, never 2n)")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("q78 gate: event-time timers fire on watermark passage and clear state") {
    val got = graft.streaming.StreamingGate.q78StreamSessionClose(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) + 300000000L).as("close_us"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(got == want,
      "each user must emit exactly one timer-driven close with full state")
  }

  test("foreachBatch sink lands incremental parquet (production sink pattern)") {
    val out = java.nio.file.Files.createTempDirectory("graft-fb").toString
    val stream = EventsStreaming.eventsStream(spark, sf)
    val q = EventsStreaming.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/windows")
      }
      .start()
    q.processAllAvailable(); q.stop()
    val landed = spark.read.parquet(s"$out/windows")
    val want = graft.queries.Relational.q11EventWindows(spark, sf).count()
    assert(landed.count() == want)
  }

  test("sliding windows cover each event twice") {
    val stream = EventsStreaming.eventsStream(spark, sf)
    val got = runToMemory(
      EventsStreaming.slidingCounts(stream), "t_sliding", mode = "complete")
    val total = got.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == 2 * Tables.events(spark, sf).count())
  }

  test("q126 gate: streaming dedup bootstraps its state from the IndexCatalog; links cross both boundaries") {
    val cat = graft.sources.IndexCatalog
    val out = graft.streaming.StreamingGate.q126StreamNearDup(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(out.length == n, "one verdict row per document")
    // batch twin of the oracle: min smaller doc_id sharing any band
    val bands = graft.ext.Dedup.minhashBands(Tables.documents(spark, sf))
    val want = bands.as("x").join(bands.as("y"),
        expr("x.band = y.band AND x.band_key = y.band_key AND y.doc_id < x.doc_id"))
      .groupBy(col("x.doc_id"))
      .agg(min(col("y.doc_id")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.filter(!_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want, "streamed links must equal the batch band relation")
    // the rows that PROVE the bootstrap: a delta doc whose evidence
    // partner is a BASE doc — the staged source holds NO base file, so
    // the link can only exist because flatMapGroupsWithState was seeded
    // with the catalog's stored registers
    val (half, q3) = (n / 2, n * 3 / 4)
    val boot = got.count { case (d, p) => d >= half && p < half }
    // and the ones that still cross the state store's MICRO-BATCH
    // boundary inside the delta (partner arrived in the first delta file)
    val crossBatch = got.count { case (d, p) => d >= q3 && p >= half && p < q3 }
    info(s"bootstrap links: $boot, delta cross-batch links: $crossBatch " +
      s"of ${got.size} (fixture n=$n)")
    assert(boot > 0, "staging must produce at least one catalog-bootstrapped link")
    assert(crossBatch > 0,
      "the two-file delta must still link across the micro-batch boundary " +
        "(the state-store persistence proof the pre-catalog staging carried)")

    // fresh-session economy: the registers LOAD from disk, the result is
    // hash-identical — history is never re-streamed to warm the state
    cat.resetMemory()
    val (b0, l0) = (cat.builds.get(), cat.loads.get())
    val again = graft.streaming.StreamingGate.q126StreamNearDup(spark, sf).collect()
    assert(cat.builds.get() == b0,
      "a fresh session must NOT rebuild the stored band registers")
    assert(cat.loads.get() >= l0 + 1,
      "a fresh session must LOAD the stored band registers")
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq,
      "catalog-loaded state is hash-identical to the built-state run")
  }

  test("q135 gate: interval state suspends/resumes across the time-split batch boundary") {
    val got = graft.streaming.StreamingGate.q135StreamScd2(spark, sf).collect()
    val want = graft.queries.Relational.q132Scd2Intervals(spark, sf).collect()
    assert(got.length == want.length, s"${got.length} vs batch ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g.toSeq == w.toSeq, s"stream/batch divergence: $g vs $w") }
    // exactly one open interval per user, flushed by the watermark timeout
    val byUser = got.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rows) =>
      assert(rows.count(_.getAs[Long]("is_current") == 1L) == 1, s"user $u") }
    // the rows that PROVE state crossed the boundary: runs with events in
    // BOTH time halves had to resume from the store in batch 2
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val midNs = {
      val ts = ev.map(_._2); ts.min + (ts.max - ts.min) / 2
    }
    var straddling = 0
    ev.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._2, r._4))
      var runTs = List.empty[Long]
      var prev: String = null
      sorted.foreach { case (_, ts, tpe, _) =>
        if (prev != null && tpe != prev) {
          if (runTs.exists(_ <= midNs) && runTs.exists(_ > midNs)) straddling += 1
          runTs = Nil
        }
        runTs ::= ts; prev = tpe
      }
      if (runTs.exists(_ <= midNs) && runTs.exists(_ > midNs)) straddling += 1
    }
    info(s"runs straddling the batch boundary: $straddling")
    assert(straddling > 0, "staging must make at least one run resume from state")
  }

  test("floor mode stages the canonical events file under its own key") {
    val gate = graft.streaming.StreamingGate
    val prev = sys.props.get("graft.stream.floor")
    try {
      sys.props -= "graft.stream.floor"
      val real = gate.canonicalEventsFile(spark, sf)
      sys.props("graft.stream.floor") = "on"
      val floor = gate.canonicalEventsFile(spark, sf)
      assert(real != floor, "floor and real stagings must never alias")
      assert(spark.read.schema(EventsStreaming.rawSchema)
        .parquet(floor.toString).count() <= 6)
      sys.props -= "graft.stream.floor"
      assert(gate.canonicalEventsFile(spark, sf) == real)
    } finally prev match {
      case Some(v) => sys.props("graft.stream.floor") = v
      case None => sys.props -= "graft.stream.floor"
    }
  }
}
