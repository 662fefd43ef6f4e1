package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** One LSH band observation of a streamed document (q126). */
case class BandObs(doc_id: Long, band: Int, band_key: String)
/** q126 emission: the earliest prior doc sharing this band, if any. */
case class BandLink(doc_id: Long, band: Int, partner: Option[Long])

/** Oracle gate for the STREAMING engine (q40/q41): the q11/q12 window
  * semantics executed through `readStream` → watermark → append-mode
  * emission → `Trigger.AvailableNow` → memory sink, hash-compared by the
  * driver against the SAME DuckDB oracles as their batch twins. This is
  * the gap the batch queries can't cover: append mode only emits a
  * window once the event-time watermark passes its end, so these rows
  * exist in the sink *because* watermark bookkeeping, state eviction and
  * finalization ran — a wrong watermark or output-mode bug changes the
  * row set and fails the hash.
  *
  * Finite-input finalization: on a bounded file source the watermark
  * plateaus at max(event_time) - horizon, which would leave the last
  * horizon's worth of windows sitting in state forever (correct
  * streaming semantics — those windows are still "open"). To close them
  * deterministically the staged source directory gets ONE far-future
  * sentinel event (+2 days, ids = -1 — see [[writeSentinel]] for why
  * two): processing it advances the
  * watermark past every real window, the engine's no-data finalization
  * batch (`spark.sql.streaming.noDataMicroBatches.enabled`, on by
  * default) flushes them to the sink, and the sentinel's own window —
  * still within ITS horizon — is never emitted. The sink therefore holds
  * exactly the real windows: parity with the batch oracle is a
  * *consequence* of append-mode semantics, not a filter. In production
  * the same trick is unnecessary (streams don't end) — this is the
  * bounded-replay harness for CI parity, the streaming analogue of a
  * golden-file test.
  */
object StreamingGate {

  /** MACHINERY-FLOOR mode (round-14 stretch): with the
    * `graft.stream.floor` system property set to `on`, every staging
    * site sources a ONE-ROW canonical fixture instead of the real one —
    * same file counts, same micro-batch counts, same sentinel, same
    * checkpoint/state machinery, ~zero data — so timing a gate measures
    * its fixed micro-batch cost (the floor BENCH_RATIO subtracts to
    * separate machinery from query work). One row, not zero: the
    * staging sites' min/max/head derivations stay non-null, so every
    * gate runs unmodified. Only [[graft.GateFloor]] sets it, in a
    * dedicated JVM with a redirected IndexCatalog root (a floor-built
    * register under the real fixture's fingerprint would poison the
    * real catalog). Every staging memo keys on the mode so floor and
    * real stagings never alias. */
  private def floorMode: Boolean =
    sys.props.get("graft.stream.floor").contains("on")
  private def floorKey: String = if (floorMode) "#floor" else ""

  /** Checkpoints are NOT staged: every run gets a fresh one
    * (offsets/state must never leak between runs). */
  private def stageWithSentinel(spark: SparkSession, dir: String,
                                copies: Int = 1): Path =
    graft.TempDirs.staged("stream-gate", s"$dir#$copies$floorKey")(
      writeStagedDir(spark, dir, copies, _))

  /** The events fixture as ONE parquet file in the long-ns raw encoding
    * ([[EventsStreaming.rawSchema]]) every staging site copies from. The
    * fixture has shipped `ts` both as INT64 nanos (usable verbatim) and
    * as µs timestamps; rewriting the latter ONCE per JVM keeps every
    * sentinel write, `rawSchema` readback and replay mtime game
    * encoding-independent. The rewrite is one coalesce(1) job over a
    * fixture-sized file. */
  private[graft] def canonicalEventsFile(spark: SparkSession, dir: String): Path = {
    // the returned path may be the ORIGINAL fixture in INT64-nanos
    // encoding, which only reads back under this conf — set it on
    // EVERY call for the CALLER's session, not just inside the miss
    // build: the memo is JVM-global but the conf is per-session, so
    // a second SparkSession hitting a warm memo would otherwise read
    // the nanos file without the conf and crash
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.TempDirs.memo("events-canon", s"$dir$floorKey") {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val canon0 =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw
        else graft.Tables.normalizeEventsTs(raw)
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
      if (floorMode) {
        // machinery floor: SIX deterministic rows — per event_id mod-3
        // residue (q214's delivery split), the earliest- and latest-ts
        // row — so every downstream staging derivation (min/max ts,
        // time splits, per-residue wall-clock deliveries) sees data on
        // every side while the data cost collapses to epsilon; fewer
        // rows left time-split halves or q214 deliveries empty and
        // starved their data-carrying-trigger requirements
        import org.apache.spark.sql.expressions.Window
        val res = pmod(col("event_id"), lit(3))
        val asc = Window.partitionBy(res).orderBy(col("ts"), col("event_id"))
        val desc = Window.partitionBy(res)
          .orderBy(col("ts").desc, col("event_id").desc)
        val tmp = graft.TempDirs.create("graft-events-floor")
        canon0.withColumn("__a", row_number().over(asc))
          .withColumn("__d", row_number().over(desc))
          .filter(col("__a") === 1 || col("__d") === 1).drop("__a", "__d")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        onlyPartFile(tmp)
      } else if (raw.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        Paths.get(s"$dir/events.parquet")
      else {
        val tmp = graft.TempDirs.create("graft-events-canon")
        canon0.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        onlyPartFile(tmp)
      }
    }
  }

  /** The single .parquet part file of `dir`, with the directory stream
    * CLOSED — Files.list leaks an open directory fd per call otherwise
    * (the javadoc requires try-with-resources), and the per-delivery
    * sites run on every bench rep of a long-lived JVM. */
  private def onlyPartFile(dir: Path): Path = {
    val st = Files.list(dir)
    try st.filter(_.toString.endsWith(".parquet")).findFirst.get
    finally st.close()
  }

  /** One-file parquet staging: write `df` as a single part, move it to
    * `dst`, pin the mtime (the replay-order lever every gate plays).
    * ONE definition for the staging sites that used to copy-paste the
    * write/find/move/set-mtime sequence. The scratch tree (the
    * writer's `_SUCCESS` and `.crc` husk) is deleted once the part has
    * moved out. */
  private def writeSingleParquet(df: DataFrame, dst: Path, mtimeMs: Long): Unit = {
    val tmp = graft.TempDirs.create("graft-stage-part")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.move(onlyPartFile(tmp), dst, StandardCopyOption.REPLACE_EXISTING)
    } finally graft.TempDirs.deleteTree(tmp)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
  }

  /** Stage the watermark sentinel as the NEWEST file: ts = fixture max
    * + 2 days. TWO days, not one: q122's 1-day windows need
    * sentinel_ts − 30 min ≥ ceil-to-midnight(max), and a fixture max
    * falling < 30 min after a UTC midnight would make the +1-day margin
    * negative — the final day's registers would silently never flush
    * (append emission waits on the watermark passing the window END).
    * +2 days keeps the margin ≥ 23.5 h for EVERY fixture; the
    * sentinel's own windows still never emit because the watermark
    * trails the sentinel's own timestamp by construction. */
  private def writeSentinel(spark: SparkSession, staged: Path, maxNs: Long): Unit =
    writeSingleParquet(
      spark.createDataFrame(
        java.util.Arrays.asList(
          Row(-1L, maxNs + 2L * 86400L * 1000000000L, -1L, "sentinel", 0.0, null)),
        EventsStreaming.rawSchema),
      staged.resolve("99-sentinel.parquet"), System.currentTimeMillis())

  /** Copy the events fixture (`copies` identical files — the dedup gate
    * stages it twice to manufacture a duplicated arrival) + write the
    * sentinel row into `staged`, mtimes ordered (fixture copies
    * oldest-first, sentinel new) so `latestFirst = false` +
    * `maxFilesPerTrigger = 1` replays real data in arrival order with
    * the sentinel last. */
  private def writeStagedDir(spark: SparkSession, dir: String,
                             copies: Int, staged: Path): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fixture = staged.resolve("00-events.parquet")
    for (c <- 0 until copies) {
      val f = staged.resolve(f"$c%02d-events.parquet")
      Files.copy(canonicalEventsFile(spark, dir), f,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(f, FileTime.fromMillis(
        System.currentTimeMillis() - 60000L * (copies - c)))
    }

    // sentinel ts: +1 day past the fixture max, in the fixture's raw
    // nanos encoding (read back as long via nanosAsLong)
    val maxRow = spark.read.schema(EventsStreaming.rawSchema)
      .parquet(fixture.toString).agg(max(col("ts"))).head()
    // empty fixture: any sentinel time works (there are no real
    // windows to finalize) — use epoch rather than NPE on the null max
    val maxNs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    writeSentinel(spark, staged, maxNs)
  }

  /** readStream over the staged dir, ts normalized exactly like the
    * batch loader (micros TimestampType). All files land in the first
    * micro-batch; emission comes from the no-data finalization batch
    * after the watermark advances — one fewer batch than rate-limited
    * replay, with an identical emitted set (emission depends on the
    * final watermark, not on batch boundaries). */
  private def stream(spark: SparkSession, staged: Path,
                     filesPerTrigger: Option[Int]): DataFrame = {
    // set at the READ site, not in writeStagedDir: the staged-dir memo
    // is JVM-global but this conf is per-SparkSession — a second
    // session hitting the cache must still get the nanos read path
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rs = spark.readStream
      .schema(EventsStreaming.rawSchema)
      .option("latestFirst", false)
    val limited = filesPerTrigger
      .fold(rs)(n => rs.option("maxFilesPerTrigger", n))
    limited.parquet(staged.toString)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-batch progress of the most recent [[runToMemory]] run — the
    * observability surface a production operator watches on a 100 TB
    * stateful stream (state rows after eviction, rows dropped by the
    * watermark, per-operator memory). Captured from the terminated
    * query's `recentProgress`; StreamingSpec asserts the state-cleanup
    * metrics on it so eviction is PROVEN from the engine's own
    * telemetry, not inferred from sink contents. Gates run sequentially
    * (each awaits termination inside runToMemory), so last-write-wins
    * is exact for the spec's call-then-read pattern. */
  private[graft] val lastRunProgress =
    new java.util.concurrent.atomic.AtomicReference[
      Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]](Nil)

  /** Run `transform` through the real micro-batch engine with
    * Trigger.AvailableNow into a memory sink; return the sink table. */
  private[graft] def runToMemory(spark: SparkSession, dir: String,
                          transform: DataFrame => DataFrame,
                          copies: Int = 1,
                          filesPerTrigger: Option[Int] = None,
                          sinkMode: String = "append"): DataFrame =
    runStagedToMemory(spark, stageWithSentinel(spark, dir, copies),
      transform, filesPerTrigger, sinkMode)

  /** [[runToMemory]] over a caller-staged directory — the gates whose
    * staging is not N identical fixture copies (q126's delta-only
    * split, the q58/q140 redelivery staging) share the engine-run body
    * through this. */
  private[graft] def runStagedToMemory(spark: SparkSession, staged: Path,
                          transform: DataFrame => DataFrame,
                          filesPerTrigger: Option[Int] = None,
                          sinkMode: String = "append"): DataFrame = {
    val name = s"graft_stream_gate_${runCounter.incrementAndGet()}"
    val ckpt = graft.TempDirs.create("graft-stream-ckpt")
    // Gate-scoped confs (state partitions + checkpoint sidecar policy):
    // see [[withGateConfs]]. Safe per run because both are pinned at
    // stream start against each run's FRESH checkpoint. The checkpoint
    // is dropped once the query has terminated: the memory sink already
    // holds every row, and nothing restarts from it.
    try withGateConfs(spark) {
      val q = transform(stream(spark, staged, filesPerTrigger)).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(sinkMode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastRunProgress.set(q.recentProgress.toSeq)
    } finally graft.TempDirs.deleteTree(ckpt)
    spark.table(name)
  }

  /** q40: tumbling 5-minute counts per type, via the streaming engine.
    * Columns + oracle identical to q11 — the diff is the runtime. */
  def q40StreamTumbling(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.tumblingCounts)
      .orderBy(col("window_start"), col("event_type"))

  /** q41: 30-minute-gap session windows per user, via the streaming
    * engine (session-window state merge + append emission). */
  def q41StreamSessions(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.sessionCounts)
      .orderBy(col("user_id"), col("session_start_us"))

  /** q122: per-day distinct-user HLL through the micro-batch engine —
    * the 15th gate, proving the q118 sketch composes with streaming
    * state: the windowed aggregate's state IS the register vector
    * (max-rho per (day, register) — max() is the HLL merge, so state
    * stays ≤64 rows per day at any event volume), and the append-mode
    * sink stores registers, not estimates. The estimate is the q118
    * read-time fold over the sink. The oracle replays the identical
    * fixed-point arithmetic in batch SQL, so a single drifted register
    * (wrong eviction, lost max, double-merge) moves some day's
    * estimate and fails the hash. The sentinel's own day never emits
    * (still within its horizon) — the sink holds exactly the real
    * days. */
  def q122StreamHll(spark: SparkSession, dir: String): DataFrame = {
    val regs = runToMemory(spark, dir, EventsStreaming.dailyHllRegisters)
    graft.ext.Sketches.estimateBy(regs, Seq("day_us"), estName = "est_users")
      .orderBy("day_us")
  }

  val q122Sql: String = {
    import graft.ext.Sketches.{duckRegs, duckEstimate}
    s"""WITH e AS (
       |  SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |         md5(CAST(user_id AS VARCHAR)) AS hx
       |  FROM events),
       |${duckRegs("day_us", "e")},
       |${duckEstimate("day_us", "regs", "est_users")}
       |SELECT day_us, CAST(regs_hit AS BIGINT) AS regs_hit,
       |  CAST(est_users AS BIGINT) AS est_users
       |FROM ests
       |ORDER BY day_us""".stripMargin
  }

  /** q145: streaming count-min sketch (20th gate) — frequency estimates
    * served from [[EventsStreaming.cmsRegisters]]' bounded counter
    * state. The two-copy, one-file-per-trigger staging makes the
    * cross-batch state proof: a cell's final count is 2x its per-copy
    * count, reachable only by incrementing ON TOP of the first batch's
    * checkpointed counters (q65's argument, applied to sketch cells).
    * Read-off folds the update-mode sink last-write-wins (counters are
    * monotone, so max(n) IS the final value), then serves every
    * distinct user's estimate as the min over its
    * [[EventsStreaming.CmsDepth]] cells — registers broadcast
    * (≤ depth·width rows by construction), so serving cost is a
    * broadcast probe however large the key relation. The oracle
    * replays the identical md5 bucket arithmetic on the doubled batch
    * relation: one lost increment, a double-applied batch, or a
    * drifted bucket hash moves some cell's min and fails the hash. */
  def q145StreamCms(spark: SparkSession, dir: String): DataFrame = {
    import EventsStreaming.CmsDepth
    val regs = runToMemory(spark, dir, EventsStreaming.cmsRegisters,
        copies = 2, filesPerTrigger = Some(1), sinkMode = "update")
      .groupBy("r", "c").agg(max(col("n")).as("n"))
    // user_id >= 0 mirrors the transform's sentinel filter — the fixture
    // carries no negatives, but an asymmetric probe side would count
    // events the streaming state excluded on any fixture that does
    val probes = graft.Tables.events(spark, dir)
      .filter(col("user_id") >= 0)
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("r"))
      .withColumn("c", expr(EventsStreaming.cmsBucketExpr))
    probes.join(broadcast(regs), Seq("r", "c"))
      .groupBy("user_id").agg(min(col("n")).as("est_n"))
      .orderBy("user_id")
  }

  val q145Sql: String = {
    import EventsStreaming.{CmsDepth, CmsWidth}
    s"""WITH rows_r AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r),
       |cells AS (
       |  SELECT r,
       |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
       |       || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % $CmsWidth AS c,
       |    2 * COUNT(*) AS n
       |  FROM events CROSS JOIN rows_r
       |  WHERE user_id >= 0
       |  GROUP BY 1, 2),
       |probes AS (
       |  SELECT DISTINCT user_id, r,
       |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
       |       || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT % $CmsWidth AS c
       |  FROM events CROSS JOIN rows_r
       |  WHERE user_id >= 0)
       |SELECT user_id, CAST(MIN(n) AS BIGINT) AS est_n
       |FROM probes JOIN cells USING (r, c)
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  /** q43: the stream-STREAM interval join (clicks ⋈ purchases within 10
    * minutes) through the micro-batch engine. Inner joins emit matches
    * as soon as both sides arrive — the watermarks bound join STATE, not
    * emission — so the bounded replay needs no finalization push; the
    * sentinel row matches neither side's filter and is inert. What this
    * gates that q26 (the batch twin) can't: the symmetric hash-join
    * state machine, both-side watermark bookkeeping, and cross-batch
    * match retention. */
  def q43StreamIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.purchaseClickCorrelation)
      .orderBy(col("click_id"), col("purchase_id"))

  /** q106: the stream-stream LEFT OUTER interval join — the 13th gate,
    * and the only one whose proof rows are NULL-padded: unmatched
    * clicks appear in the sink *because* the watermark passed
    * click_ts + 10 min and the join evicted + null-emitted them (the
    * no-data finalization batch after the sentinel advances the
    * watermark does the flush). `maxFilesPerTrigger = 1` stages the
    * fixture and the sentinel as separate micro-batches, so inner
    * matches land in batch 0's output while every null row can only
    * come from the watermark movement batch 1 causes — the
    * StreamingSpec twin runs a sentinel-free replay and asserts the
    * null rows are then ABSENT, pinning emission to the watermark
    * rather than to end-of-input. Oracle: the q26 batch join in LEFT
    * form. */
  def q106StreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.purchaseClickOuter,
      filesPerTrigger = Some(1))
      // sentinel removal happens HERE, on the sink table — inside the
      // streaming plan this filter would push below the outer join and
      // starve the click-side watermark node of the sentinel (see
      // purchaseClickOuter's doc)
      .filter(col("click_id") >= 0)
      .orderBy(col("click_id"), col("purchase_id"))

  val q106Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      |c AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       c.us AS click_us, p.us AS purchase_us
      |FROM c LEFT JOIN p
      |  ON c.user_id = p.user_id
      | AND p.us >= c.us AND p.us <= c.us + 600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** q109: the FULL OUTER stream-stream interval join — q106 plus the
    * right side's watermark-driven null emissions (every purchase no
    * click preceded within 10 minutes, as null-click rows). The 14th
    * gate; same sentinel-through-both-filters discipline, and the
    * sentinel pair (it matches itself) is removed on the sink table.
    * Null ordering is pinned explicitly on BOTH engines (Spark default
    * is nulls-first ASC; DuckDB's is nulls-last) — the full join is the
    * first gate whose sort key contains nulls on the leading column. */
  def q109StreamFullOuterJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir,
      EventsStreaming.purchaseClickOuterJoin(_, "full_outer"),
      filesPerTrigger = Some(1))
      .filter(coalesce(col("click_id"), lit(0L)) >= 0 &&
              coalesce(col("purchase_id"), lit(0L)) >= 0)
      .orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)

  val q109Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
      |c AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase')
      |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
      |       c.event_id AS click_id, p.event_id AS purchase_id,
      |       c.us AS click_us, p.us AS purchase_us
      |FROM c FULL JOIN p
      |  ON c.user_id = p.user_id
      | AND p.us >= c.us AND p.us <= c.us + 600000000
      |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  /** Catalog kind for the q58/q140 historical seen-keys register —
    * version suffix fingerprints the layout (one event_id column). */
  val StreamSeenKeysKind = "stream-seen-keys-v1"

  /** Staged delivery for the bootstrapped dedup gates: the fixture is
    * split at its event-time MIDPOINT — the older half is "historical
    * ingest" (its keys live in the catalog, it never streams as new
    * data), the newer half is the live delta. Four files, mtimes
    * ordered, so `maxFilesPerTrigger = 1` replays:
    *   1. the historical half RE-DELIVERED (the at-least-once upstream
    *      shape — a crawler re-emitting rows the pipeline already
    *      ingested in a previous session),
    *   2. the delta (first delivery),
    *   3. the delta AGAIN (the duplicate copy crossing a state-store
    *      batch boundary — q58's original proof, kept),
    *   4. the watermark sentinel.
    * Splitting by TIME (not id) keeps replay order aligned with event
    * time, so the delta's first delivery is never late-dropped by the
    * watermark the redelivery batch advanced. Keyed on the content
    * fingerprint like the q126 staging. */
  private def stageDedupRedelivery(spark: SparkSession, dir: String,
                                   fingerprint: String,
                                   splitNs: Long, maxNs: Long): Path =
    graft.TempDirs.staged("dedup-stage", s"$fingerprint$floorKey") { staged =>
      val raw = spark.read.schema(EventsStreaming.rawSchema)
        .parquet(canonicalEventsFile(spark, dir).toString)
      val now = System.currentTimeMillis()
      writeSingleParquet(raw.filter(col("ts") <= splitNs),
        staged.resolve("00-redelivery.parquet"), now - 180000L)
      val delta = raw.filter(col("ts") > splitNs)
      val deltaA = staged.resolve("01-delta.parquet")
      writeSingleParquet(delta, deltaA, now - 120000L)
      // the duplicate copy is byte-identical — copy the staged file
      // instead of paying a second scan+filter+write Spark job
      val deltaB = staged.resolve("02-delta-b.parquet")
      Files.copy(deltaA, deltaB, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(deltaB, FileTime.fromMillis(now - 60000L))
      writeSentinel(spark, staged, maxNs)
    }

  /** The shared body of the two CATALOG-BOOTSTRAPPED dedup gates
    * (q58/q140): production incremental ingest does not replay history
    * to re-learn what it already saw — the historical half's event_ids
    * are an ingest-time register in the persistent
    * [[graft.sources.IndexCatalog]] (q126's economy applied to the
    * exact-dedup gates), loaded by content fingerprint and anti-joined
    * against the stream BEFORE the watermark dedup, so only genuinely
    * new rows reach the state store. Three proofs ride one run:
    * (1) the re-delivered historical batch arrives BEFORE any watermark
    * exists (nothing late-drops it) and its other copy never streams,
    * so those rows can ONLY be suppressed by the catalog-loaded
    * register — if the load were broken they'd reach the sink, double
    * against the relational base half, and fail the hash; (2) the
    * delta's duplicate copy still crosses a state-store batch boundary
    * (the original cross-batch proof, unchanged); (3) the historical
    * half re-enters RELATIONALLY (the register read back as a batch
    * table), so the unioned output equals the full distinct relation
    * and the oracle is byte-identical to the pre-bootstrap gates'. */
  private def dedupBootstrapGate(spark: SparkSession, dir: String,
                                 dedup: DataFrame => DataFrame): DataFrame = {
    val raw = spark.read.schema(EventsStreaming.rawSchema)
      .parquet(canonicalEventsFile(spark, dir).toString)
    // fingerprint the SOURCE fixture, not the canonical rewrite: the
    // rewrite lands in a fresh TempDirs path every JVM, so keying the
    // catalog on it would move the slot per session and silently
    // degrade load-forever into rebuild-every-JVM
    val fingerprint = graft.sources.IndexCatalog.contentFingerprint(
      graft.Tables.events(spark, dir))
    val mm = raw.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
    val (minNs, maxNs) = (mm.getLong(0), mm.getLong(1))
    val splitNs = minNs + (maxNs - minNs) / 2

    // the historical seen-keys register: built once at "historical
    // ingest", LOADED by every later session (and every later run)
    val entry = graft.sources.IndexCatalog.getOrBuild(spark,
      StreamSeenKeysKind, fingerprint) { out =>
      raw.filter(col("ts") <= splitNs).select("event_id")
        .write.mode("overwrite").parquet(s"$out/keys")
    }
    val seen = spark.read.parquet(s"$entry/keys")

    val staged = stageDedupRedelivery(spark, dir, fingerprint, splitNs, maxNs)
    val sink = runStagedToMemory(spark, staged,
      events => dedup(events.join(seen, Seq("event_id"), "left_anti"))
        .filter(col("event_id") >= 0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents")),
      filesPerTrigger = Some(1))

    // the historical half re-enters relationally — the register's rows
    // read as a batch table through the normal loader
    val base = graft.Tables.events(spark, dir)
      .filter(col("ts_ns") <= splitNs)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
    sink.unionByName(base).orderBy("event_id")
  }

  /** q58: watermark-scoped streaming dedup through the micro-batch
    * engine, with CATALOG-BOOTSTRAPPED history (see
    * [[dedupBootstrapGate]]). The state-machinery proof is unchanged
    * from the pre-bootstrap gate: the delta's duplicate copy is
    * suppressed by the dedup STATE STORE across a batch boundary —
    * rows still inside the watermark horizon hit their first-delivery
    * state entry, older rows are dropped by the late-event filter;
    * both paths must fire or duplicates leak into the sink and fail
    * the hash. State is keyed on (event_id, ts) WITH the event-time
    * column, so entries expire as the watermark advances — bounded
    * state, the only dedup shape that survives an unbounded stream.
    * The sentinel (ids = -1) advances the watermark through the real
    * data and is filtered inside the transform before the sink. */
  def q58StreamDedup(spark: SparkSession, dir: String): DataFrame =
    dedupBootstrapGate(spark, dir, EventsStreaming.dedupEvents)

  /** The deduped stream must equal the original relation (fixture
    * event_ids are unique — duplication is manufactured by the staged
    * redelivery + double delta, so the batch oracle is just the
    * table). */
  val q58Sql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS value_cents
      |FROM events ORDER BY event_id""".stripMargin

  /** q140: the q58 replay through `dropDuplicatesWithinWatermark` — the
    * 18th gate, closing the dedup-API matrix: same staging, same
    * catalog bootstrap, same oracle (the distinct relation), but the
    * delta's duplicate copy is suppressed by the watermark-horizon
    * mechanism (late-drop + bounded per-key state) rather than a
    * ts-keyed state entry. */
  def q140StreamDedupWithin(spark: SparkSession, dir: String): DataFrame =
    dedupBootstrapGate(spark, dir, EventsStreaming.dedupEventsWithin)

  /** q141: the q40 tumbling aggregate in COMPLETE output mode — the
    * 19th gate, closing the sink-mode matrix (append: q40+, update:
    * q65/q76/q122, complete: here). Complete re-emits the WHOLE result
    * per trigger, so unlike append the sentinel's own window reaches
    * the sink and is removed there (it cannot be filtered before the
    * watermark node — the q106 lesson); the oracle is q11's batch SQL
    * unchanged. */
  def q141StreamComplete(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.tumblingCounts,
        sinkMode = "complete")
      .filter(col("event_type") =!= "sentinel")
      .orderBy("window_start", "event_type")

  /** q65: CUSTOM KEYED STATE (flatMapGroupsWithState) through the
    * micro-batch engine. Same two-copy staging as q58, but here the
    * duplicates are the PROOF rather than the noise: the per-user
    * running counter emits n after batch A and 2n after batch B, and
    * 2n is only reachable by reading batch A's state back out of the
    * checkpointed store — a fresh-state batch B would emit n again.
    * The sink keeps every update (append emission), so the final state
    * per user is the lexicographic max over (n_events, last_type);
    * n_events strictly increases whenever a user appears, making the
    * max unambiguous. Oracle: 2x the per-user event count, last event
    * type by (ts, type) order — pure batch SQL over the fixture. */
  def q65StreamRunningCounts(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir,
      events => EventsStreaming.userRunningCounts(events).toDF()
        .filter(col("user_id") >= 0),
      copies = 2, filesPerTrigger = Some(1))
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_type"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.last_type").as("last_type"))
      .orderBy("user_id")

  val q65Sql: String =
    """WITH last AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_type DESC) AS rn
      |  FROM events),
      |counts AS (
      |  SELECT user_id, 2 * COUNT(*) AS n_events FROM events GROUP BY user_id)
      |SELECT c.user_id, c.n_events, l.event_type AS last_type
      |FROM counts c JOIN last l ON c.user_id = l.user_id AND l.rn = 1
      |ORDER BY c.user_id""".stripMargin

  /** q75: OVERLAPPING (sliding) windows through the micro-batch engine —
    * 10-minute span sliding by 5, so every event feeds TWO window states
    * simultaneously. What this gates beyond q40's tumbling twin: the
    * multi-assignment expansion inside the stateful aggregate (one input
    * row updating several window panes) and the watermark finalizing
    * overlapping panes in staggered order. The oracle replays the same
    * two-pane assignment relationally (each event cross-joined to
    * offsets {0, 1} slide steps). */
  def q75StreamSliding(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, EventsStreaming.slidingCounts)
      .orderBy(col("window_start"), col("event_type"))

  val q75Sql: String =
    """SELECT (epoch_us(ts) // 300000000) * 300 - k * 300 AS window_start,
      |  event_type, COUNT(*) AS n_events
      |FROM events, (VALUES (0), (1)) AS off(k)
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** transformWithState needs the RocksDB state store provider (the
    * HDFS-backed default doesn't implement the v2 column families);
    * scoped to the one query, restored after — provider class is read
    * at stream START, so per-run scoping is safe. */
  private def withRocksDb[A](spark: SparkSession)(body: => A): A =
    graft.Harness.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Gate-scoped streaming session confs, applied for one engine run
    * and restored after (same per-run-scoping argument as
    * [[withRocksDb]]: both are read at stream START):
    *
    *  - `spark.sql.shuffle.partitions` — stateful streaming cost
    *    scales with the state-partition count (one store instance per
    *    shuffle partition per stateful operator per batch) far more
    *    than with a bounded replay's data volume; 8 instead of the
    *    session's core count. A production job sizes this to its own
    *    key cardinality.
    *
    *  - `spark.sql.streaming.checkpoint.fileChecksum.enabled=false` —
    *    Spark 4.1 writes a sidecar checksum file for every checkpoint
    *    file (state deltas, offsets, commits) and blocks the store
    *    commit on it (`ChecksumCheckpointFileManager.awaitResult` —
    *    thread dumps showed all executor threads parked there; a
    *    ZERO-row q106 batch cost 1.35 s, dropping to 0.80 s with the
    *    sidecars off). The sidecars double checkpoint-commit file ops
    *    per batch at ANY scale — on an object store that is twice the
    *    PUT rate on the latency-critical commit path. The gates'
    *    correctness story never reads them: every gate is
    *    oracle-hash-gated end-to-end and q82 proves restart recovery
    *    directly (guide §1.2: config after algorithm — this is an
    *    I/O-op-count change, measured per batch). */
  private def withGateConfs[A](spark: SparkSession)(body: => A): A =
    graft.Harness.withConfs(spark,
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      // q214's dataTriggers/lastProcTimeRun counters read
      // q.recentProgress, which Spark caps at ~100 entries by default —
      // at the 150 ms proc-time cadence a loaded run can evict the
      // first data-carrying trigger and fail the gate spuriously
      // (round-15 ADVICE). Progress objects are small; 10k entries
      // covers minutes of triggers.
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000")(body)

  /** q76: ARBITRARY STATE V2 (transformWithState) through the
    * micro-batch engine, two-copy staged replay — the q65 proof applied
    * to the new API: the per-user MaxCount ValueState emits n after
    * batch A and 2n after batch B, and 2n is only reachable by reading
    * batch A's state out of the checkpointed RocksDB store. Update-mode
    * sink keeps every emission; the final state per user is the
    * lexicographic max over (n_events, max_value) — n strictly
    * increases whenever a user appears, so the max is unambiguous. */
  def q76StreamMaxState(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      runToMemory(spark, dir,
        events => EventsStreaming.userMaxValue(events).toDF()
          .filter(col("user_id") >= 0),
        copies = 2, filesPerTrigger = Some(1), sinkMode = "update")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("max_value"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          round(col("m.max_value") * 100).cast("long").as("max_value_cents"))
        .orderBy("user_id")
    }

  /** Two copies -> 2x the per-user count; max unchanged by duplication. */
  val q76Sql: String =
    """SELECT user_id, 2 * COUNT(*) AS n_events,
      |  CAST(round(MAX(value) * 100) AS BIGINT) AS max_value_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q79: INITIAL STATE through transformWithState — resume-from-
    * snapshot: the per-user (count, max) snapshot is computed BATCH-side
    * from the fixture, seeds the v2 state store, and the stream replays
    * the same fixture ON TOP. Final count = 2n per user (n seeded + n
    * streamed) — the hash matches only if handleInitialState landed the
    * seed AND the input batch read it back out of RocksDB; an unseeded
    * run emits n and fails. Same oracle as q76 (two-copy replay and
    * snapshot+replay assert the same relation by different machinery —
    * which is the point: two state-loading paths, one contract). */
  def q79StreamInitialState(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      import spark.implicits._
      val snapshot = graft.Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
        .as[UserSnapshot]
      runToMemory(spark, dir,
        events => EventsStreaming.userMaxValueSeeded(events, snapshot).toDF()
          .filter(col("user_id") >= 0),
        sinkMode = "update")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("max_value"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          round(col("m.max_value") * 100).cast("long").as("max_value_cents"))
        .orderBy("user_id")
    }

  /** Spec probe (deliberately NOT an oracle query — TTL is wall-clock):
    * per-user MAX emitted count when the fixture is delivered TWICE with
    * a sleep ≫ the 1 ms state TTL between deliveries. The second batch
    * must see the first batch's value EXPIRED and re-count from zero:
    * the max stays n, where the TTL-less q76 replay reaches 2n.
    *
    * Runs a CONTINUOUS query (default trigger, two processAllAvailable
    * rounds around the second file drop) rather than the AvailableNow
    * staging the hash gates use: AvailableNow's multi-batch executor
    * spins on processing-time TTL eviction batches and never reaches
    * its end-offset latch — measured, not theorized. */
  def ttlProbeMaxCount(spark: SparkSession, dir: String): Map[Long, Long] =
    withRocksDb(spark) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val staged = graft.TempDirs.create("graft-ttl-probe")
      Files.copy(canonicalEventsFile(spark, dir),
        staged.resolve("00-events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val s = spark
      import s.implicits._
      val events = spark.readStream.schema(EventsStreaming.rawSchema)
        .parquet(staged.toString)
        .withColumnRenamed("ts", "ts_ns")
      val out = events.select(col("user_id"), col("value")).as[EventVal]
        .groupByKey(_.user_id)
        .transformWithState(new TtlMaxProcessor(1L),
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
      val name = s"graft_ttl_probe_${runCounter.incrementAndGet()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      // processAllAvailable never latches under processing-time TTL (the
      // engine keeps scheduling eviction batches), so progress is
      // observed at the SINK: one emission per (user, delivery)
      def sinkRows(): Long = spark.table(name).count()
      def awaitRows(target: Long): Unit = {
        val deadline = System.currentTimeMillis + 120000
        while (sinkRows() < target && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        require(sinkRows() >= target,
          s"TTL probe: sink stuck at ${sinkRows()} rows awaiting $target")
      }
      try {
        val users = spark.read.schema(EventsStreaming.rawSchema)
          .parquet(staged.resolve("00-events.parquet").toString)
          .select("user_id").distinct().count()
        awaitRows(users)
        Thread.sleep(200) // ≫ the 1 ms TTL: first delivery's state expires
        val second = staged.resolve("01-events.parquet")
        Files.copy(canonicalEventsFile(spark, dir), second,
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(second,
          FileTime.fromMillis(System.currentTimeMillis()))
        awaitRows(2 * users)
      } finally q.stop()
      spark.table(name).groupBy("user_id").agg(max(col("n_events")).as("n"))
        .collect().map(r => (r.getLong(0), r.getAs[Long]("n"))).toMap
    }

  /** q82: RESTART RECOVERY — the fault-tolerance contract every other
    * gate assumes but none proves: offsets AND state survive a QUERY
    * RESTART (a brand-new StreamingQuery object on the same
    * checkpoint — the crash/upgrade scenario), not just a micro-batch
    * boundary inside one run.
    *
    * Run 1 processes the fixture through watermarked dedup into an
    * exactly-once FILE sink (files persist across restarts, unlike the
    * memory sink) and stops. The fixture is then copied into the source
    * dir AGAIN and run 2 starts fresh from the same checkpoint: every
    * copy-B row is either older than the RECOVERED watermark (late
    * filter) or hits the RECOVERED dedup state — so run 2 adds NOTHING,
    * and the sink equals exactly one fixture copy. Lose the offsets and
    * copy A double-writes; lose the state/watermark and copy B leaks;
    * either way the identity oracle's hash fails. */
  def q82StreamRestart(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = graft.TempDirs.create("graft-restart-src")
    val sink = graft.TempDirs.create("graft-restart-sink").resolve("out")
    val ckpt = graft.TempDirs.create("graft-restart-ckpt")
    def deliver(name: String): Unit = {
      val f = src.resolve(name)
      Files.copy(canonicalEventsFile(spark, dir), f,
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(f, FileTime.fromMillis(System.currentTimeMillis()))
    }
    def runOnce(): Unit = {
      val q = EventsStreaming.dedupEvents(stream(spark, src, None))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .writeStream
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    withGateConfs(spark) {
      deliver("00-events.parquet")
      runOnce() // run 1: fixture lands in the sink, state+offsets checkpoint
      deliver("01-events.parquet")
      runOnce() // run 2: NEW query, SAME checkpoint — must add nothing
    }
    spark.read.parquet(sink.toString).orderBy("event_id")
  }

  /** Restarted replay must equal exactly ONE copy of the relation. */
  val q82Sql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS value_cents
      |FROM events ORDER BY event_id""".stripMargin

  /** (run-1 rows, run-2 rows, run-2 engine-reported input rows) of the
    * most recent q165 run — the telemetry StreamingSpec pins the
    * incremental contract on. */
  private[graft] val lastIncrementalRun =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long, Long)]((0L, 0L, 0L))

  /** q165: INCREMENTAL INGEST (21st gate) — the nightly
    * `Trigger.AvailableNow` batch pattern every production lakehouse
    * ETL runs: each invocation is a NEW query against the SAME
    * checkpoint, and the source offsets make it process exactly the
    * files that arrived since the last run — never a re-read of the
    * ingested history. q82 proves restart recovery of STATE; this
    * proves offset-based incrementality of a stateless pipeline: the
    * fixture lands as two disjoint halves (even/odd event_ids), run 1
    * ingests half A, run 2 — after half B arrives — must read ONLY B,
    * which the spec asserts from the engine's own numInputRows (a
    * re-reading implementation would double A's rows in the sink and
    * fail the hash too, but the telemetry pins the COST contract, not
    * just the result). The parquet sink accumulates across runs; the
    * oracle is one copy of the full projected relation. */
  def q165IncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = graft.TempDirs.create("graft-incr-src")
    val sink = graft.TempDirs.create("graft-incr-sink").resolve("out")
    val ckpt = graft.TempDirs.create("graft-incr-ckpt")
    val raw = spark.read.schema(EventsStreaming.rawSchema)
      .parquet(canonicalEventsFile(spark, dir).toString)
    def deliverHalf(parity: Int, name: String): Long = {
      val half = raw.filter(col("event_id") % 2 === parity)
      val n = half.count()
      writeSingleParquet(half, src.resolve(name), System.currentTimeMillis())
      n
    }
    def runOnce(): Long = {
      val q = stream(spark, src, None)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .writeStream
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    withGateConfs(spark) {
      val nA = deliverHalf(0, "00-even.parquet")
      runOnce()
      val nB = deliverHalf(1, "01-odd.parquet")
      val run2Rows = runOnce()
      lastIncrementalRun.set((nA, nB, run2Rows))
    }
    spark.read.parquet(sink.toString).orderBy("event_id")
  }

  /** q78: EVENT-TIME TIMERS through transformWithState. Each user's
    * processor re-arms a timer at (max event time + 5 min); nothing is
    * emitted from handleInputRows at all — every sink row exists
    * because the WATERMARK passed a registered timer and the expiry
    * callback fired with the state intact (then cleared it). The
    * far-future sentinel advances the watermark past every real user's
    * timer; the sentinel's own timer stays inside its horizon and never
    * fires, so the sink holds exactly one close record per real user. */
  def q78StreamSessionClose(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      runToMemory(spark, dir,
        events => EventsStreaming.userSessionClose(events).toDF()
          .filter(col("user_id") >= 0))
        .orderBy("user_id")
    }

  /** One close per user: total count + (max ts + 5 min), batch SQL. */
  val q78Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  epoch_us(MAX(ts)) + 300000000 AS close_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q98: foreachBatch INCREMENTAL-SNAPSHOT maintenance — the streaming
    * sink pattern that owns its own storage: each micro-batch is folded
    * into a "latest event per user" parquet snapshot by an
    * argmax-merge (q95's upsert verb, driven per batch). The merge key
    * is max(struct(ts_ns, event_id)) — ASSOCIATIVE, so the final
    * snapshot is independent of how the replay was batched: however the
    * engine splits the files (three batches here: two fixture copies
    * under maxFilesPerTrigger=1, then the sentinel), the result must
    * equal the batch argmax over the plain fixture, which is exactly
    * what the oracle computes. Snapshots are versioned v0,v1,… (write
    * NEW dir, then read; never overwrite what a later batch reads) —
    * the same copy-on-write discipline a table format uses. The
    * previous snapshot is DERIVED FROM THE BATCH ID (largest vK with
    * K < id on disk), never from driver state: a batch that retries
    * after its v$id write but before checkpoint commit then re-reads
    * its true predecessor and idempotently re-overwrites v$id, instead
    * of reading the very directory mode("overwrite") is deleting (the
    * failure a mutable lastSnap var had). The duplicate second copy
    * also proves idempotence: replaying identical data may not change
    * the snapshot.
    *
    * BUCKET-PRUNED merge (round-13; the round-12 verdict's one weak
    * plan): the snapshot is stored hash-partitioned into
    * [[SnapshotBuckets]] bucket files (K = pmod(hash(user_id), B)),
    * and a batch rewrites ONLY the buckets its delta touches — the
    * predecessor read resolves through the version MANIFEST to exactly
    * the touched buckets' files, the argmax-merge shuffles only delta
    * + touched buckets. Per-batch cost drops from O(snapshot) to
    * O(delta + touched buckets): at 100 TB the snapshot is the user
    * dimension, a micro-batch touches the working-set buckets only,
    * and B scales with snapshot size (buckets sized to a target file
    * size, e.g. 100 TB / 256 MB-class bucket files) so "touched" stays
    * proportional to the delta's key spread, not the dimension.
    *
    * MANIFEST carry-forward (round-14; replaces round-13's hard-link/
    * copy): every version v$id commits a `manifest.json` naming, per
    * bucket, the DATA FILES that make up the snapshot at that version —
    * touched buckets name the files the batch just wrote under
    * `v$id/b=K/`; untouched buckets name the PREDECESSOR's physical
    * files IN PLACE (wherever version first wrote them — references
    * are copied forward from the predecessor's manifest, so a chain of
    * manifest-only versions never deepens resolution). This is the
    * q178 catalog-pointer shape: hard links need a link-capable
    * filesystem and object stores have neither links nor cheap
    * server-side copies, while a manifest entry is O(1) metadata on
    * ANY store. The commit point is the manifest file appearing
    * complete (tmp write + single-file atomic move — the IndexCatalog
    * discipline); data files are immutable once named by a manifest,
    * and versions whose manifest never landed are invisible to
    * [[latestSnapshotBefore]]. Superseded versions' directories become
    * reclaimable exactly when no LIVE manifest references their files
    * — the q142/q160 vacuum shape, not a read-path concern. The
    * sentinel micro-batch (empty after the filter) exercises the pure
    * carry-forward path on every run: v(last) is a MANIFEST-ONLY
    * version (no data dirs), its entries byte-identical to its
    * predecessor's. The manifest also carries the snapshot schema
    * (DDL), so an empty FIRST version (no data files at all) still
    * reads back as a schema-bearing empty relation (round-13 ADVICE). */
  private[graft] val SnapshotBuckets = 16

  /** One committed snapshot version: the snapshot schema (DDL) plus
    * (bucket, absolute data-file path) entries. */
  private[graft] case class SnapManifest(schemaDdl: String,
                                         files: Seq[(Int, String)])

  private def b64e(s: String): String = java.util.Base64.getEncoder
    .encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def b64d(s: String): String = new String(
    java.util.Base64.getDecoder.decode(s),
    java.nio.charset.StandardCharsets.UTF_8)
  private val SnapEntryRe = """\{"b":(\d+),"p":"([A-Za-z0-9+/=]*)"\}""".r
  private val SnapSchemaRe = """"schema":"([A-Za-z0-9+/=]*)"""".r

  /** Read a version's committed manifest. Values are base64 (decode is
    * the exact inverse of encode for any path — the IndexCatalog
    * lesson). Throws on a missing manifest: callers only resolve
    * versions [[latestSnapshotBefore]] reported, which are
    * manifest-gated. */
  private[graft] def readSnapManifest(v: Path): SnapManifest = {
    val text = new String(Files.readAllBytes(v.resolve("manifest.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val schema = SnapSchemaRe.findFirstMatchIn(text)
      .map(m => b64d(m.group(1)))
      .getOrElse(sys.error(s"damaged snapshot manifest at $v"))
    val files = SnapEntryRe.findAllMatchIn(text)
      .map(m => (m.group(1).toInt, b64d(m.group(2)))).toSeq
    SnapManifest(schema, files)
  }

  private def writeSnapManifest(v: Path, m: SnapManifest): Unit = {
    val body = s"""{"v":1,"schema":"${b64e(m.schemaDdl)}","files":[""" +
      m.files.map { case (b, p) => s"""{"b":$b,"p":"${b64e(p)}"}""" }
        .mkString(",") + "]}"
    val tmp = v.resolve(s"manifest.json.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, v.resolve("manifest.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resolve a snapshot version to a DataFrame through its manifest,
    * optionally pruned to a bucket set — the pruning is a manifest
    * lookup (O(1) metadata), not a directory listing + partition
    * filter. Zero selected files reads as a schema-bearing empty
    * relation (the manifest carries the DDL), so an empty first
    * version is readable instead of an 'unable to infer schema' trap. */
  private[graft] def readSnapshot(s: SparkSession, v: Path,
                                  only: Option[Set[Int]] = None): DataFrame = {
    val m = readSnapManifest(v)
    val sel = m.files.collect { case (b, p) if only.forall(_.contains(b)) => p }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (sel.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).parquet(sel: _*)
  }

  /** The per-batch fold, factored out so the spec can drive controlled
    * batches: read predecessor (manifest-pruned to touched buckets),
    * union the batch delta, argmax-merge, write touched buckets under
    * `root/v$id/b=K/`, reference untouched buckets' files in place in
    * the new manifest. The batch DataFrame must already carry q98's
    * snapshot schema (user_id, last_us, last_event_id, last_type).
    * Retry-safe: v$id is deleted up front (its manifest with it — the
    * commit point is per version), so a batch that died mid-write
    * re-runs idempotently against the batch-id-derived predecessor,
    * whose own manifest entries never pointed into v$id.
    *
    * RETRY-SAFETY BOUNDARY (round-14 ADVICE): that clean-slate delete
    * is safe only while NO SUCCESSOR HAS COMMITTED. Under manifest
    * carry-forward a committed v(id+k)'s manifest may reference v$id's
    * data files IN PLACE (untouched-bucket entries), so deleting v$id
    * then would corrupt every committed descendant — the old hard-link
    * scheme survived this only because each version owned physical
    * links. The micro-batch engine cannot reach that state (the
    * checkpoint commit of batch id happens-before batch id+1 starts,
    * so a replay of id implies id+1 never ran), which makes this an
    * invariant ASSERT, not a recovery path: a caller that somehow
    * retries past a committed successor fails loudly with the
    * snapshot intact instead of silently dangling its descendants. */
  private[graft] def cowMergeBatch(batch: DataFrame, id: Long,
                                   root: Path, buckets: Int): Unit = {
    val s = batch.sparkSession
    val committedSucc = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(d => d.getName.matches("v\\d+") &&
        new java.io.File(d, "manifest.json").isFile)
      .map(_.getName.drop(1).toLong).filter(_ > id).sorted
    require(committedSucc.isEmpty,
      s"cowMergeBatch(v$id): committed successor(s) " +
        committedSucc.map("v" + _).mkString(",") +
        s" exist and may reference v$id's files in place; refusing the " +
        "clean-slate delete — recover from the latest snapshot instead")
    def argmaxMerge(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max(struct(col("last_us"), col("last_event_id"), col("last_type")))
          .as("m"))
        .select(col("user_id"), col("m.last_us").as("last_us"),
          col("m.last_event_id").as("last_event_id"),
          col("m.last_type").as("last_type"))
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn("b", pmod(hash(col("user_id")), lit(buckets)))
    val out = root.resolve(s"v$id")
    graft.TempDirs.deleteTree(out) // a retried batch starts from a clean slate
    Files.createDirectories(out)
    val bAgg = withBucket(argmaxMerge(batch))
    // bounded collect: at most `buckets` distinct values
    val touched = bAgg.select("b").distinct().collect()
      .map(_.getInt(0)).toSet
    val prevM = latestSnapshotBefore(root, id, requireManifest = true)
      .map(p => readSnapManifest(Paths.get(p)))
    val entries = Seq.newBuilder[(Int, String)]
    if (touched.nonEmpty) {
      // the predecessor read is O(touched buckets) by MANIFEST pruning:
      // only the touched entries' files are handed to the scan — no
      // snapshot-wide listing, no partition filter to hope gets pushed
      val prevTouched = prevM match {
        case Some(m) =>
          val sel = m.files.collect { case (b, p) if touched(b) => p }
          if (sel.isEmpty)
            s.createDataFrame(s.sparkContext.emptyRDD[Row],
              org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
          else s.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
            .parquet(sel: _*)
        case None =>
          s.createDataFrame(s.sparkContext.emptyRDD[Row], batch.schema)
      }
      withBucket(argmaxMerge(prevTouched.unionByName(bAgg.drop("b"))))
        .repartition(col("b")).write.mode("overwrite")
        .partitionBy("b").parquet(out.toString)
      for (k <- touched.toSeq.sorted) {
        val d = out.resolve(s"b=$k")
        if (Files.isDirectory(d)) {
          val ls = Files.list(d)
          try ls.forEach { f =>
            if (f.getFileName.toString.endsWith(".parquet"))
              entries += ((k, f.toAbsolutePath.toString))
          } finally ls.close()
        }
      }
    }
    // untouched buckets: carry the PREDECESSOR's references forward
    // verbatim — the files stay physically where some earlier version
    // wrote them; O(1) metadata per bucket on any store, object stores
    // included (no link, no copy, no read)
    for (m <- prevM; (b, p) <- m.files if !touched(b)) entries += ((b, p))
    writeSnapManifest(out, SnapManifest(batch.schema.toDDL, entries.result()))
  }

  /** q98's predecessor lookup: the largest on-disk `vK` with K < id —
    * derived from the BATCH ID so a retried batch re-reads its true
    * predecessor instead of the version it is about to overwrite
    * (spec-pinned; ids need not be dense after a restart).
    * `requireManifest = true` is the SNAPSHOT protocol's committed-only
    * view (the manifest is the commit point, so a crashed batch's
    * data-only directory is invisible until its retry republishes it);
    * the default keeps the plain directory-versioned semantics the
    * compaction/vacuum family (q115/q142/q160) resolves through. */
  private[graft] def latestSnapshotBefore(root: Path, id: Long,
      requireManifest: Boolean = false): Option[String] = {
    val vs = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(d => d.getName.matches("v\\d+") && (!requireManifest ||
        new java.io.File(d, "manifest.json").isFile))
      .map(_.getName.drop(1).toLong).filter(_ < id)
    if (vs.isEmpty) None else Some(root.resolve(s"v${vs.max}").toString)
  }

  /** Run q98's real micro-batch upsert stream into a fresh snapshot
    * root; returns (root, latest committed version id). Shared by the
    * q98 read-back gate and the q235 vacuum gate. */
  private def runUpsertStream(spark: SparkSession, dir: String): (Path, Long) = {
    val staged = stageWithSentinel(spark, dir, copies = 2)
    val root = graft.TempDirs.create("graft-upsert-snap")
    val ckpt = graft.TempDirs.create("graft-upsert-ckpt")
    withGateConfs(spark) {
      val q = stream(spark, staged, Some(1))
        .filter(col("event_id") >= 0) // sentinel stays out of the snapshot
        .select(col("user_id"), expr("ts_ns div 1000").as("last_us"),
          col("event_id").as("last_event_id"), col("event_type").as("last_type"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
          cowMergeBatch(batch.toDF(), id, root, SnapshotBuckets)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val latest = Paths.get(latestSnapshotBefore(root, Long.MaxValue,
      requireManifest = true).get).getFileName.toString.drop(1).toLong
    (root, latest)
  }

  def q98StreamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    val (root, latest) = runUpsertStream(spark, dir)
    readSnapshot(spark, root.resolve(s"v$latest"))
      .select("user_id", "last_us", "last_event_id", "last_type")
      .orderBy("user_id")
  }

  /** What [[vacuumSnapshots]] did, for gate assertions and ops logs. */
  private[graft] case class SnapVacuumStats(liveVersions: Seq[Long],
                                            deletedManifests: Long,
                                            deletedDataFiles: Long,
                                            survivingReferencedFiles: Long,
                                            removedDirs: Long)

  /** MANIFEST-AWARE SNAPSHOT VACUUM — the reclamation leg the manifest
    * design promises (see cowMergeBatch's class doc: "superseded
    * versions' directories become reclaimable exactly when no LIVE
    * manifest references their files"). Versions `>= retainFrom` with a
    * committed manifest are LIVE; every file any live manifest
    * references SURVIVES — even when it physically lives under a dead
    * version's directory (untouched-bucket carry-forward means a live
    * manifest routinely points into v$k for k long dead). Everything
    * else under dead versions is reclaimed:
    *
    *  - the dead version's `manifest.json` goes FIRST, so the version
    *    stops resolving before any of its files disappear — a reader
    *    can never observe a committed-looking version with holes;
    *  - then every data file under the dead dir that no live manifest
    *    references, then now-empty bucket/version directories.
    *
    * A version dir `>= retainFrom` WITHOUT a manifest is an in-flight
    * or crashed batch — left untouched (its retry republishes it; its
    * files are seconds old, not garbage). One `< retainFrom` is
    * crashed debris no manifest ever referenced — reclaimed. Readers
    * of live versions are unaffected mid-vacuum by construction: live
    * manifests are never touched and their closure never deleted.
    * Like the IndexCatalog retention contract, `retainFrom` must not
    * exceed any version a live reader still resolves. */
  private[graft] def vacuumSnapshots(root: Path, retainFrom: Long): SnapVacuumStats = {
    val versions = Option(root.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.matches("v\\d+"))
      .map(d => (d.getName.drop(1).toLong, d.toPath)).sortBy(_._1)
    val live = versions.filter { case (k, p) =>
      k >= retainFrom && Files.isRegularFile(p.resolve("manifest.json")) }
    require(live.nonEmpty,
      s"vacuumSnapshots(retainFrom=$retainFrom): no committed live " +
        "version would survive; refusing to reclaim the whole snapshot")
    val referenced: Set[Path] = live.flatMap { case (_, p) =>
      readSnapManifest(p).files.map(f => Paths.get(f._2).normalize()) }.toSet
    var manifests = 0L; var dataFiles = 0L; var kept = 0L; var dirs = 0L
    for ((k, p) <- versions if k < retainFrom) {
      val m = p.resolve("manifest.json")
      if (Files.deleteIfExists(m)) manifests += 1
      // delete-unreferenced walk, then prune empty dirs bottom-up
      val walk = Files.walk(p)
      val all = try {
        val it = walk.iterator(); val b = Seq.newBuilder[Path]
        while (it.hasNext) b += it.next()
        b.result()
      } finally walk.close()
      for (f <- all if Files.isRegularFile(f)) {
        if (referenced.contains(f.toAbsolutePath.normalize())) kept += 1
        else { Files.delete(f); dataFiles += 1 }
      }
      for (d <- all.sortBy(-_.getNameCount) if Files.isDirectory(d)) {
        val ls = Files.list(d)
        val empty = try !ls.iterator().hasNext finally ls.close()
        if (empty) { Files.delete(d); dirs += 1 }
      }
    }
    SnapVacuumStats(live.map(_._1), manifests, dataFiles, kept, dirs)
  }

  /** q235: SNAPSHOT VACUUM UNDER CARRY-FORWARD — the q98 pipeline run
    * through the real micro-batch engine, then [[vacuumSnapshots]]
    * retaining only the latest version, then the read-back THROUGH the
    * vacuumed store (the q142/q160 bench-honesty shape: the reclaim and
    * the proof-of-survival both happen on every call). The latest
    * version is the sentinel's manifest-only commit, so its entries all
    * reference its predecessor's files in place — the vacuum must keep
    * exactly those (carry-forward survivors inside dead directories)
    * while reclaiming the superseded earlier copies, and the oracle
    * (q98's batch SQL) certifies the surviving closure is the complete
    * relation. The read-back plan is BUILT BEFORE the vacuum runs —
    * a live reader mid-vacuum, not a fresh resolve. */
  def q235SnapshotVacuum(spark: SparkSession, dir: String): DataFrame = {
    val (root, latest) = runUpsertStream(spark, dir)
    val reader = readSnapshot(spark, root.resolve(s"v$latest"))
      .select("user_id", "last_us", "last_event_id", "last_type")
      .orderBy("user_id") // resolved pre-vacuum: a mid-vacuum reader
    val stats = vacuumSnapshots(root, latest)
    // the three vacuum invariants, asserted on every gate run: dead
    // versions stopped resolving, superseded files were reclaimed, and
    // the live manifest's carried-forward closure survived in place
    require(stats.deletedManifests > 0,
      s"q235: expected dead version manifests to be reclaimed, got $stats")
    require(stats.deletedDataFiles > 0,
      s"q235: expected superseded data files to be reclaimed, got $stats")
    require(stats.survivingReferencedFiles > 0,
      s"q235: expected live-referenced files inside dead dirs to survive, got $stats")
    require(latestSnapshotBefore(root, Long.MaxValue, requireManifest = true)
      .exists(_.endsWith(s"v$latest")),
      "q235: the live version must still be the resolvable latest")
    reader
  }

  val q98Sql: String =
    """SELECT user_id, epoch_us(ts) AS last_us, event_id AS last_event_id,
      |  event_type AS last_type
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------ q135 streaming SCD2
  /** The events fixture staged as TWO parquet halves split at the mid
    * timestamp, older half first by mtime, plus the +1-day sentinel:
    * under `maxFilesPerTrigger = 1` every user's interval state machine
    * genuinely SUSPENDS at the batch boundary and resumes from the state
    * store (a run straddling the time split must re-read its open run),
    * and the sentinel's watermark advance fires the event-time timeouts
    * that flush open intervals. */
  private def stageEventsTimeSplit(spark: SparkSession, dir: String): Path =
    graft.TempDirs.staged("events-timesplit", s"$dir$floorKey") { staged =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.schema(EventsStreaming.rawSchema)
        .parquet(canonicalEventsFile(spark, dir).toString)
      val mm = raw.agg(min(col("ts")), max(col("ts"))).head()
      val (mnNs, mxNs) =
        if (mm.isNullAt(0)) (0L, 0L) else (mm.getLong(0), mm.getLong(1))
      val midNs = mnNs + (mxNs - mnNs) / 2
      Seq(("00-events.parquet", col("ts") <= midNs, 120000L),
          ("01-events.parquet", col("ts") > midNs, 60000L))
        .foreach { case (name, pred, ageMs) =>
          writeSingleParquet(raw.filter(pred), staged.resolve(name),
            System.currentTimeMillis() - ageMs)
        }
      writeSentinel(spark, staged, mxNs)
    }

  /** q135: STREAMING SCD2 DIMENSION MAINTENANCE — the 17th gate: q132's
    * gaps-and-islands build run as a live CDC consumer through
    * [[EventsStreaming.scdIntervals]]. Three micro-batches (two
    * time-ordered event halves + the sentinel): closed intervals emit
    * the moment their successor run opens — including runs that RESUME
    * from the state store across the half boundary — and open intervals
    * emit only when the sentinel-advanced watermark fires their
    * event-time timeout. The oracle is q132's batch SQL: green means
    * the incremental state machine is indistinguishable from the
    * full-history window build, per interval, per count, per flag. */
  def q135StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    runStagedToMemory(spark, stageEventsTimeSplit(spark, dir),
        s => EventsStreaming.scdIntervals(s).toDF()
          .filter(col("user_id") >= 0), // sentinel's own group is inert
        filesPerTrigger = Some(1))
      .orderBy("user_id", "valid_from_us")
  }

  // ------------------------------------------------ q126 streaming dedup
  /** The DELTA half of the documents fixture (doc_id >= half) staged as
    * TWO parquet files split at the 3/4 point, mtimes ordered — under
    * `maxFilesPerTrigger = 1` the delta arrives in doc_id order across
    * two micro-batches, so "earlier in the stream" coincides with
    * "smaller doc_id" and the batch oracle can express arrival order
    * relationally. The BASE half never streams: its band registers are
    * a stored catalog index (see [[q126StreamNearDup]]). Keyed on the
    * CONTENT FINGERPRINT, not the dir — data regenerated in place
    * within one JVM re-stages instead of streaming a stale delta
    * against fresh base registers (the same staleness class the
    * round-11 fingerprint re-stat closed in IndexCatalog). */
  private def stageDeltaDocuments(spark: SparkSession, dir: String,
                                  fingerprint: String,
                                  half: Long, q3: Long): Path =
    graft.TempDirs.staged("docs-stage", s"$fingerprint$floorKey") { staged =>
      val docs0 = graft.Tables.documents(spark, dir)
      // floor: one streamed document per staged file — machinery only
      val docs = if (floorMode)
        docs0.orderBy(col("doc_id")).limit(1).unionByName(
          docs0.orderBy(col("doc_id").desc).limit(1))
      else docs0
      Seq(("00-docs.parquet",
            col("doc_id") >= half && col("doc_id") < q3, 120000L),
          ("01-docs.parquet", col("doc_id") >= q3, 60000L))
        .foreach { case (name, pred, ageMs) =>
          writeSingleParquet(docs.filter(pred), staged.resolve(name),
            System.currentTimeMillis() - ageMs)
        }
    }

  /** Catalog kind for q126's base band registers — version suffix
    * fingerprints the FORMAT (banding arithmetic + register layout). */
  val StreamDedupStateKind = "stream-dedup-state-v1"

  /** q126: STREAMING NEAR-DUP DETECTION WITH CATALOG-BOOTSTRAPPED
    * STATE — the 16th gate, and the one that composes the LSH dedup
    * family with the state store: a crawl pipeline dedups each arriving
    * document against EVERYTHING ALREADY INGESTED, which no batch query
    * can stand in for. Production incremental ingest does NOT re-stream
    * the historical corpus to warm its dedup state: the base corpus's
    * per-bucket registers are an ingest-time artifact in the persistent
    * [[graft.sources.IndexCatalog]] (the q186 economy applied to
    * streaming), loaded by content fingerprint and handed to
    * `flatMapGroupsWithState` as its INITIAL STATE — so only the delta
    * streams, and a fresh session bootstraps from disk instead of
    * replaying history (IndexCatalogSpec's load-not-rebuild contract,
    * StreamingSpec pins it here).
    *
    * Every arriving document explodes into its MinHash LSH bands (q14's
    * signature machinery, unchanged — the expressions are stateless and
    * stream as-is); the stream groups by band key, and per-key state is
    * ONE long — the minimum doc_id ever seen in the bucket (seeded from
    * the stored register) — emitting for each arrival the earliest
    * prior bucket-mate (its evidence partner). State is O(1) per
    * DISTINCT band key, the only footprint that survives an unbounded
    * crawl: a doc-list state would grow with the corpus, the min-id
    * register doesn't.
    *
    * Three proofs ride one run: (1) a delta doc whose only bucket-mate
    * is a BASE doc links THROUGH THE LOADED INITIAL STATE — the staged
    * source contains no base file, so the row can only come from the
    * catalog registers; (2) the delta itself arrives as two micro-
    * batches, so delta-delta links still cross the state store's batch
    * boundary; (3) base docs' verdicts are the same registers read
    * relationally (a partitioned prefix-min window — the batch form of
    * the identical arithmetic), so the UNIONED output is row-identical
    * to the pre-catalog full-stream formulation and the oracle is
    * unchanged. */
  def q126StreamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsAll = graft.Tables.documents(spark, dir)
    val n = docsAll.count()
    val (half, q3) = (n / 2, n * 3 / 4)
    val base = docsAll.filter(col("doc_id") < half)
    val fingerprint = graft.sources.IndexCatalog.contentFingerprint(docsAll)
    val staged = stageDeltaDocuments(spark, dir, fingerprint, half, q3)

    // the base band registers: a persistent catalog entry keyed by the
    // fixture's content fingerprint — built once at "historical ingest",
    // LOADED by every later session (and every later q126 run)
    val entry = graft.sources.IndexCatalog.getOrBuild(spark,
      StreamDedupStateKind, fingerprint) { out =>
      graft.ext.Dedup.minhashBands(base)
        .groupBy("band", "band_key").agg(min(col("doc_id")).as("min_id"))
        .write.mode("overwrite").parquet(s"$out/registers")
    }
    val registers = spark.read.parquet(s"$entry/registers")
    val initState = registers
      .select(concat_ws(":", col("band"), col("band_key")).as("k"),
        col("min_id"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)

    val schema = docsAll.schema
    val name = s"graft_stream_gate_${runCounter.incrementAndGet()}"
    val ckpt = graft.TempDirs.create("graft-stream-ckpt")
    try withGateConfs(spark) {
      val docs = spark.readStream.schema(schema)
        .option("latestFirst", false)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged.toString)
      val links = graft.ext.Dedup.minhashBands(docs)
        .as[BandObs]
        .groupByKey(o => s"${o.band}:${o.band_key}")
        .flatMapGroupsWithState[Long, BandLink](
          OutputMode.Append, GroupStateTimeout.NoTimeout, initState) {
          (_: String, rows: Iterator[BandObs], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            // bucket register: the min doc_id seen in any prior batch —
            // OR in the pre-loaded base index; in-batch arrivals process
            // in id order (ids ARE arrival order here), so one forward
            // pass assigns each doc the min of everything before it
            var mn = state.getOption.getOrElse(Long.MaxValue)
            val out = rows.toSeq.sortBy(_.doc_id).map { o =>
              val partner = if (mn < o.doc_id) Some(mn) else None
              if (o.doc_id < mn) mn = o.doc_id
              BandLink(o.doc_id, o.band, partner)
            }
            state.update(mn)
            out.iterator
        }
      val q = links.toDF().writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastRunProgress.set(q.recentProgress.toSeq)
    } finally graft.TempDirs.deleteTree(ckpt)

    // base verdicts: the SAME register arithmetic relationally — the
    // prefix-min window over each bucket in id (= arrival) order; a
    // partitioned window, never global
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_key").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val baseLinks = graft.ext.Dedup.minhashBands(base)
      .withColumn("partner", min(col("doc_id")).over(bw))
      .groupBy("doc_id")
      .agg(min(col("partner")).as("first_partner"))
    val deltaLinks = spark.table(name)
      .groupBy("doc_id")
      .agg(min(col("partner")).as("first_partner"))
    baseLinks.unionByName(deltaLinks)
      .select(col("doc_id"), col("first_partner").isNotNull.as("is_dup"),
              col("first_partner"))
      .orderBy("doc_id")
  }

  /** Arrival order = id order, so "earliest prior bucket-mate" is pure
    * batch SQL: the min smaller doc_id sharing any LSH band. */
  val q126Sql: String =
    s"""WITH ${graft.ext.Dedup.duckSigCtes("documents")},
       |${graft.ext.Dedup.duckBandsCte()},
       |earlier AS (
       |  SELECT a.doc_id, MIN(b.doc_id) AS first_partner
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND b.doc_id < a.doc_id
       |  GROUP BY 1)
       |SELECT d.doc_id, e.first_partner IS NOT NULL AS is_dup, e.first_partner
       |FROM documents d LEFT JOIN earlier e ON e.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q93: STREAM-STATIC join through the micro-batch engine — every
    * event enriched with the customer dimension's market segment. What
    * this gates that no other streaming row covers: the static side is
    * a plain batch relation re-planned into EVERY micro-batch (the
    * canonical enrichment shape — at scale the dim broadcasts per
    * batch, and a dim update is picked up at the next trigger). The
    * join is STATELESS — no watermark, no state store — so append mode
    * emits each event exactly once as it arrives; the sentinel row
    * (user_id = -1) matches no customer and the inner join drops it,
    * keeping the harness inert. Oracle: the identical batch join. */
  def q93StreamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, dir, events => {
      val dim = graft.Tables.customer(spark, dir)
        .select(col("c_custkey").as("user_id"),
                col("c_mktsegment").as("segment"))
      events.join(broadcast(dim), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("segment"),
          round(col("value") * 100).cast("long").as("value_cents"))
    }).orderBy("event_id")

  val q93Sql: String =
    """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
      |  CAST(round(e.value * 100) AS BIGINT) AS value_cents
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id
      |ORDER BY e.event_id""".stripMargin

  /** (data-trigger count, empty-trigger count, total input rows) of the
    * most recent q214 run — StreamingSpec pins the ≥3-wall-clock-trigger
    * contract on the engine's own progress telemetry. */
  private[graft] val lastProcTimeRun =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Long)]((0, 0, 0L))

  /** q214: PROCESSING-TIME CADENCE (22nd gate) — every other gate
    * replays through `Trigger.AvailableNow` (staged files, a
    * self-terminating end-offset latch); this one proves the SCHEDULER
    * path those replays assume: a real `Trigger.ProcessingTime` query
    * over a GROWING directory. The fixture is split into three disjoint
    * thirds (event_id mod 3) delivered one at a time, each delivery
    * gated on the previous third being fully aggregated in the sink —
    * so the run must (a) keep firing on wall-clock cadence, (b) pick up
    * files that appear BETWEEN triggers, and (c) land on the batch
    * relation no matter which trigger saw which file (complete-mode
    * aggregation is batch-boundary-invariant, which is what makes a
    * wall-clock-scheduled run hash-gateable at all). The gate demands
    * >= 3 data-carrying triggers from `recentProgress` — guaranteed by
    * the delivery protocol, checked from the engine's own telemetry.
    * Scale: the aggregate is the q11 shape (one shuffle on a tiny key
    * domain); a production deployment points the same plan at an
    * arrival-partitioned object-store prefix and tunes the cadence. */
  def q214StreamProcTime(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = graft.TempDirs.create("graft-proctime-src")
    val ckpt = graft.TempDirs.create("graft-proctime-ckpt")
    // Third-split staging memoized per fixture (r15), like every other
    // gate's staging (stageWithSentinel et al.): the three delivery
    // files and their row counts are a pure function of the fixture, so
    // the filter+write jobs and the count aggregate run once per JVM
    // instead of once per bench rep. Each call still
    // delivers into ITS OWN fresh source dir with fresh mtimes; the
    // move keeps per-delivery publication atomic (a wall-clock trigger
    // must never list a half-copied file).
    val (thirdCounts, thirdFiles) = stagedThirds(spark, dir)
    val scratch = graft.TempDirs.create("graft-proctime-scratch")
    def deliver(i: Int): Unit = {
      val name = f"$i%02d-events.parquet"
      val tmp = scratch.resolve(name)
      Files.copy(thirdFiles(i), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(src.resolve(name),
        FileTime.fromMillis(System.currentTimeMillis()))
    }
    val name = s"graft_stream_gate_${runCounter.incrementAndGet()}"
    // withGateConfs opens BEFORE the first delivery write and the query
    // start — either failing must not leak the gate confs into the rest
    // of the session (this gate does real work between set and start)
    val q = withGateConfs(spark) {
      deliver(0)
      val q = spark.readStream.schema(EventsStreaming.rawSchema)
        .option("latestFirst", false)
        .parquet(src.toString)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        // 150 ms (was 400): the cadence is a latency/overhead knob, not
        // semantics — complete-mode aggregation is batch-boundary
        // invariant (this gate's whole premise) and the delivery
        // protocol serializes thirds on sink progress, so any real
        // wall-clock cadence yields the same ≥3 data triggers and the
        // same final aggregate; the shorter interval just stops the
        // gate idling between a delivery and the trigger that sees it.
        // A production deployment tunes this to its arrival rate.
        .trigger(Trigger.ProcessingTime("150 milliseconds"))
        .start()
      def sinkTotal(): Long = {
        val r = spark.table(name).agg(sum("n_events")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      def awaitTotal(target: Long): Unit = {
        val deadline = System.currentTimeMillis + 120000
        while (sinkTotal() < target && System.currentTimeMillis < deadline)
          Thread.sleep(25) // poll well inside the trigger cadence
        require(sinkTotal() >= target,
          s"q214: sink stuck at ${sinkTotal()} rows awaiting $target")
      }
      try {
        var sofar = thirdCounts.getOrElse(0L, 0L)
        awaitTotal(sofar)
        for (i <- 1 to 2) {
          deliver(i)
          sofar += thirdCounts.getOrElse(i.toLong, 0L)
          awaitTotal(sofar)
        }
      } finally q.stop()
      q
    }
    val prog = q.recentProgress.toSeq
    val dataTriggers = prog.count(_.numInputRows > 0)
    lastProcTimeRun.set((dataTriggers, prog.count(_.numInputRows == 0),
      prog.map(_.numInputRows).sum))
    require(dataTriggers >= 3,
      s"q214: expected >= 3 data-carrying wall-clock triggers, saw $dataTriggers")
    spark.table(name).orderBy("event_type")
  }

  /** q214's delivery units: the fixture split into three disjoint
    * thirds by event_id mod 3, one part file each, plus each third's
    * row count (keyed on the floor mode like every staging memo). */
  private def stagedThirds(spark: SparkSession,
                           dir: String): (Map[Long, Long], IndexedSeq[Path]) =
    graft.TempDirs.memo("proctime-thirds", s"$dir$floorKey") {
      val all = spark.read.schema(EventsStreaming.rawSchema)
        .parquet(canonicalEventsFile(spark, dir).toString)
      val third = pmod(col("event_id"), lit(3))
      val counts = all.groupBy(third.as("t")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val home = graft.TempDirs.create("graft-proctime-thirds")
      val files = (0 to 2).map { i =>
        val f = home.resolve(f"$i%02d-events.parquet")
        writeSingleParquet(all.filter(third === i), f, System.currentTimeMillis())
        f
      }
      (counts, files)
    }

  /** Wall-clock-scheduled replay must land on the batch aggregate. */
  val q214Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_stream_proctime" -> (q214StreamProcTime _),
    "q98_stream_upsert_sink" -> (q98StreamUpsertSink _),
    "q235_snapshot_vacuum" -> (q235SnapshotVacuum _),
    "q93_stream_static_join" -> (q93StreamStaticJoin _),
    "q75_stream_sliding" -> (q75StreamSliding _),
    "q40_stream_tumbling" -> (q40StreamTumbling _),
    "q41_stream_sessions" -> (q41StreamSessions _),
    "q43_stream_interval_join" -> (q43StreamIntervalJoin _),
    "q106_stream_outer_join" -> (q106StreamOuterJoin _),
    "q109_stream_full_outer" -> (q109StreamFullOuterJoin _),
    "q58_stream_dedup" -> (q58StreamDedup _),
    "q65_stream_running_counts" -> (q65StreamRunningCounts _),
    "q76_stream_max_state" -> (q76StreamMaxState _),
    "q78_stream_session_close" -> (q78StreamSessionClose _),
    "q79_stream_initial_state" -> (q79StreamInitialState _),
    "q82_stream_restart" -> (q82StreamRestart _),
    "q122_stream_hll" -> (q122StreamHll _),
    "q126_stream_neardup" -> (q126StreamNearDup _),
    "q135_stream_scd2" -> (q135StreamScd2 _),
    "q140_stream_dedup_within" -> (q140StreamDedupWithin _),
    "q141_stream_complete" -> (q141StreamComplete _),
    "q145_stream_cms" -> (q145StreamCms _),
    "q165_incremental_ingest" -> (q165IncrementalIngest _))

  /** Same oracles as the batch twins: the streaming engine must land on
    * the identical relation. */
  val oracles: Map[String, String] = Map(
    "q214_stream_proctime" -> q214Sql,
    "q98_stream_upsert_sink" -> q98Sql,
    // same oracle: the vacuumed store must read back the full relation
    "q235_snapshot_vacuum" -> q98Sql,
    "q93_stream_static_join" -> q93Sql,
    "q75_stream_sliding" -> q75Sql,
    "q40_stream_tumbling" -> graft.queries.Relational.q11Sql,
    "q41_stream_sessions" -> graft.queries.Relational.q12Sql,
    "q43_stream_interval_join" -> graft.queries.Relational.q26Sql,
    "q106_stream_outer_join" -> q106Sql,
    "q109_stream_full_outer" -> q109Sql,
    "q58_stream_dedup" -> q58Sql,
    "q65_stream_running_counts" -> q65Sql,
    "q122_stream_hll" -> q122Sql,
    "q76_stream_max_state" -> q76Sql,
    "q78_stream_session_close" -> q78Sql,
    "q79_stream_initial_state" -> q76Sql,
    "q82_stream_restart" -> q82Sql,
    "q126_stream_neardup" -> q126Sql,
    // oracle = q132's batch build: stream/batch parity for the SCD2 verb
    "q135_stream_scd2" -> graft.queries.Relational.q132Sql,
    "q140_stream_dedup_within" -> q58Sql, // same oracle: the distinct relation
    "q141_stream_complete" -> graft.queries.Relational.q11Sql,
    "q145_stream_cms" -> q145Sql,
    "q165_incremental_ingest" -> q82Sql) // one copy of the full relation
}
