package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.VideoFns._

/** A file-listing row: what a distributed directory walk yields before any
  * probing (SURVEY.md §2.1 S1). `sizeBytes` comes free from the listing
  * (binaryFile `length`); `volume` is a per-mount constant.
  */
case class FileListing(path: String, sizeBytes: Long, volume: String)

/** The reference's three verbs (build / update / merge) plus the variant
  * report, re-expressed as composable DataFrame transforms (SURVEY.md §3).
  *
  * Execution shape at scale: the listing is an embarrassingly parallel
  * scan; the scan-time filters (S2 dir blacklist, S3 extension whitelist)
  * are plain predicates applied BEFORE the probe stage so Catalyst keeps
  * them on the cheap side of the expensive mapPartitions boundary; the
  * probe stage is the only non-relational operator; everything after is
  * joins/aggregates/sort that Spark shuffles and spills natively.
  */
object VideoPipeline {

  /** S2+S3: enumeration-time filters. */
  def scanFilters(listing: DataFrame): DataFrame =
    listing
      .filter(notInBannedDir(col("path")))
      .filter(hasVideoExtension(col("path")))

  /** P1–P3: the probe boundary. Typed mapPartitions — one Prober instance
    * per partition; per-row failures land in `probe_error` instead of
    * failing the task (P3). Returns listing columns + probe columns.
    *
    * 100 TB note: probing is subprocess-bound, so callers repartition the
    * listing to ≫ cores before this stage. Within a task, forks go
    * through [[Prober.probeAll]] — a bounded per-partition pool of
    * `probeConcurrency` in-flight subprocesses (order-preserving), so
    * executor process count stays task_slots × concurrency. The default
    * of 1 is plain sequential forking.
    */
  def probeStage(listing: DataFrame, prober: Prober,
                 probeConcurrency: Int = 1): DataFrame = {
    val spark = listing.sparkSession
    import spark.implicits._
    val probed: Dataset[(FileListing, ProbeResult)] =
      listing.select("path", "sizeBytes", "volume").as[FileListing]
        .mapPartitions { it =>
          // duplicate: one stream feeds the pool, the other re-pairs
          // results with their listing rows (lockstep — the buffer
          // between the twins never exceeds the in-flight window)
          val (rows, paths) = it.duplicate
          rows.zip(prober.probeAll(paths.map(_.path), probeConcurrency))
        }
    probed.select(
      $"_1.path".as("path"),
      $"_1.sizeBytes".as("size_bytes"),
      $"_1.volume".as("volume"),
      $"_2.videoCodec".as("video_codec"),
      $"_2.width".as("width"),
      $"_2.height".as("height"),
      $"_2.nbStreams".as("nb_streams"),
      $"_2.container".as("container"),
      $"_2.durationRaw".as("duration_raw"),
      $"_2.title".as("title_tag"),
      $"_2.audioCodec".as("audio_codec"),
      $"_2.audioChannels".as("audio_channels"),
      $"_2.probeError".as("probe_error"))
  }

  /** U2: subtitle existence as a relational join instead of per-row
    * filesystem exists() — left join the video rows against a listing of
    * .srt files on the derived sibling path (SURVEY.md §2.2 P4).
    * `srtListing` columns: path, size_bytes.
    */
  def withSubtitles(videos: DataFrame, srtListing: DataFrame): DataFrame = {
    val srt = srtListing.select(col("path").as("srt_path"),
                                col("size_bytes").as("srt_size"))
    val hi = srtListing.select(col("path").as("hi_path"),
                               col("size_bytes").as("srt_hi_size"))
    videos
      .withColumn("srt_key", siblingPath(col("path"), ".en.srt"))
      .withColumn("hi_key", siblingPath(col("path"), ".en.hi.srt"))
      .join(srt, col("srt_key") === col("srt_path"), "left")
      .join(hi, col("hi_key") === col("hi_path"), "left")
      .withColumn("srt_avail", when(col("srt_path").isNotNull, "Y").otherwise("N"))
      .withColumn("srt_hi_avail", when(col("hi_path").isNotNull, "Y").otherwise("N"))
      .drop("srt_key", "hi_key", "srt_path", "hi_path")
  }

  /** F4–F8: derive the remaining typed columns of the 18-column surface.
    * All plain Column expressions — whole-stage codegen applies.
    */
  def deriveColumns(probed: DataFrame): DataFrame =
    probed
      .withColumn("duration_s",
        // try_cast: real ffprobe can emit junk beyond "N/A"; an
        // un-parseable duration must null out, not ANSI-fail the job
        round(col("duration_raw").try_cast("double")).cast("long"))
      .withColumn("compression_candidate", compressionCandidate(col("video_codec")))
      .withColumn("title", titleOrSentinel(col("title_tag")))
      .withColumn("path_on_volume", stripDrive(col("path")))

  /** BUILD verb (§3.1): listing → filters → probe → derive → subtitles.
    * Quarantined rows (probe_error != null) are EXCLUDED here; fetch them
    * with [[failures]] (A5).
    */
  def build(listing: DataFrame, srtListing: DataFrame, prober: Prober,
            probeConcurrency: Int = 1): DataFrame = {
    val probed = probeStage(scanFilters(listing), prober, probeConcurrency)
    val ok = probed.filter(col("probe_error").isNull)
    withSubtitles(deriveColumns(ok), srtListing)
  }

  /** A3: the reference's mutex-guarded global counters, as observe()
    * metrics — computed inline with the job (no second pass, no driver
    * mutation). Attach to the probed DataFrame, read the Observation
    * after any action on the returned frame. */
  def observedProbe(listing: DataFrame, prober: Prober)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_build")
    val probed = probeStage(scanFilters(listing), prober).observe(obs,
      count(lit(1)).as("files_queried"),
      sum(when(col("probe_error").isNotNull, 1L).otherwise(0L)).as("files_failed"),
      sum(col("size_bytes")).as("bytes_seen"))
    (probed, obs)
  }

  /** A5: the failure report — quarantine rows only. */
  def failures(listing: DataFrame, prober: Prober): DataFrame =
    probeStage(scanFilters(listing), prober)
      .filter(col("probe_error").isNotNull)
      .select("path", "probe_error")

  /** O1: the reference's global descending sort (documented intent:
    * descending by leading columns; README.md:89). NULLS LAST to match the
    * oracle's explicit ordering. */
  def globalSortDesc(df: DataFrame): DataFrame =
    df.orderBy(col("width").desc_nulls_last, col("height").desc_nulls_last,
               col("path").asc)

  /** MERGE verb (§3.3, intended semantics): UNION ALL + global sort.
    * The reference byte-concatenates TSVs then shells to OS sort; here
    * each input is a DataFrame and the union is metadata-only.
    */
  def merge(inputs: Seq[DataFrame]): DataFrame =
    globalSortDesc(inputs.reduce(_ unionByName _))

  /** UPDATE verb (§3.2): membership check as a LEFT ANTI join on path —
    * the correct semantics the reference's mmap substring scan aspires to
    * (SURVEY.md §2.5 U1). Returns only the novel listing rows; callers
    * probe + append them.
    *
    * `existing.path` is a db's `path_on_volume`, which the build stored
    * drive-stripped (F8), so the incoming side is compared on
    * `stripDrive(path)`: a `D:/...` listing must match its own db rows.
    *
    * Scale: the existing-db side projects a single column before the
    * join, so the shuffle moves paths only. When the incoming listing is
    * small (typical nightly delta), broadcast it instead.
    */
  def novelFiles(incoming: DataFrame, existing: DataFrame): DataFrame =
    incoming.join(existing.select(col("path").as("known_path")),
      stripDrive(col("path")) === col("known_path"), "left_anti")

  /** A1+A2: variant report — group by title parsed from the filename,
    * keep groups with >1 member (duplicate/variant detection,
    * video_metadata_db.py:1106-1213). Popular titles skew the groupBy;
    * AQE's skew-join/partition-coalescing handles it at scale.
    */
  def variants(built: DataFrame): DataFrame = {
    val base = fileStem(col("path"))
    built
      .withColumn("parsed_title", parseTitleUdf(base))
      .withColumn("release_year", parseYearUdf(base))
      .groupBy(col("parsed_title"))
      .agg(count(lit(1)).as("n_variants"),
           min(col("size_bytes")).as("min_size"),
           max(col("size_bytes")).as("max_size"),
           countDistinct(col("release_year")).as("n_years"))
      .filter(col("n_variants") > 1)
      .orderBy(col("parsed_title"))
  }

  /** A1 detail rows: for every duplicated title, the per-variant
    * (width, height, duration, size, volume, path) tuples the reference's
    * verbose report prints (video_metadata_db.py:1196-1210) — the rows a
    * user needs to decide WHICH file to delete. The reference walks each
    * title's insertion list in reverse of the db file's descending line
    * sort (video_metadata_db.py:766-800), which would order the trailing
    * columns ASC too. We DELIBERATELY deviate on the tiebreak: (width ASC
    * NULLS FIRST, height ASC NULLS FIRST, path DESC) within each title —
    * resolution remains the primary key (the "which copy is bigger"
    * signal), and path DESC surfaces the lexicographically-latest copy
    * (deepest/most-recently-named path) first among same-resolution
    * variants, which is the copy a cleanup usually keeps. The DuckDB
    * oracle mirrors this exact key, so the deviation is pinned by the
    * correctness gate, not incidental. Membership comes from a count
    * window over the title partition — one shuffle, no group-then-rejoin. */
  def variantDetails(built: DataFrame,
                     durationCol: String = "duration_s"): DataFrame = {
    val base = fileStem(col("path"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("parsed_title"))
    built
      .withColumn("parsed_title", parseTitleUdf(base))
      .withColumn("n_variants", count(lit(1)).over(w))
      .filter(col("n_variants") > 1)
      .select(col("parsed_title"), col("width"), col("height"),
              col(durationCol), col("size_bytes"), col("volume"), col("path"))
      .orderBy(col("parsed_title"),
        col("width").asc_nulls_first, col("height").asc_nulls_first,
        col("path").desc)
  }
}
