package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VideoFns

/** S1: the recursive directory scan, Spark-native.
  *
  * Uses the binaryFile source with recursiveFileLookup — the listing job
  * is distributed by Spark's InMemoryFileIndex, and because only
  * path/length are selected the file CONTENT column is pruned and never
  * read. At 100 TB the same call works against object storage; for
  * billions of files the index itself shards (or swap in a manifest
  * table) without touching downstream operators.
  */
object DirectoryListing {

  /** F12: volume label — an environment constant per host, like the
    * reference's psutil lookup (its Unix branch returns the first
    * partition's mountpoint regardless of path; we use an env override
    * with a sane default instead of reproducing that bug). The system
    * property takes precedence so embedding applications (and tests) can
    * inject a label at runtime. */
  def volumeLabel(): String =
    sys.props.get("graft.volume.label")
      .orElse(sys.env.get("GRAFT_VOLUME_LABEL"))
      .getOrElse("/")

  /** Walk `roots` recursively; returns path/sizeBytes/volume (the
    * FileListing shape). No filters applied here — scan-time pruning
    * (S2/S3) happens in VideoPipeline.scanFilters before the probe. */
  def walk(spark: SparkSession, roots: Seq[String]): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(roots: _*)
      .select(
        regexp_replace(col("path"), "^file:", "").as("path"),
        col("length").as("sizeBytes"),
        lit(volumeLabel()).as("volume"))

  /** The .srt subset of any listing, in the srt-join shape (feeds the U2
    * join). */
  def srtOf(listing: DataFrame): DataFrame =
    listing
      .filter(lower(col("path")).endsWith(".srt"))
      .select(col("path"), col("sizeBytes").as("size_bytes"))

  /** S1 at billions of files: a MANIFEST-TABLE listing source. A live
    * recursive walk funnels every path through the driver's file index —
    * fine for millions of files, a bottleneck for billions. Object stores
    * and HDFS publish inventory/fsimage manifests precisely for this; a
    * manifest is itself a parquet table, so reading it is an ordinary
    * distributed scan with pushdown and pruning, and the listing stage
    * stops being special. Accepts columns `path` + `size_bytes` (or
    * `sizeBytes`), optional `volume`; emits the exact FileListing shape
    * `walk` does, so the whole downstream pipeline (filters → probe →
    * derive → joins) is source-agnostic. */
  def fromManifest(spark: SparkSession, manifestPath: String): DataFrame = {
    val df = spark.read.parquet(manifestPath)
    val sizeCol =
      if (df.columns.contains("sizeBytes")) col("sizeBytes")
      else col("size_bytes")
    val volCol =
      if (df.columns.contains("volume")) col("volume")
      else lit(volumeLabel())
    df.select(col("path"), sizeCol.cast("long").as("sizeBytes"),
              volCol.as("volume"))
  }

  /** S5: CLI-path dedup — distinct on the source list. */
  def dedupRoots(roots: Seq[String]): Seq[String] = roots.distinct

  /** O4: `.nomedia` marker creation inside every encountered banned
    * directory (reference -n flag, video_metadata_db.py:945-971).
    * Side-effecting foreachPartition over the DISTINCT banned dirs;
    * exist_ok=False semantics — an existing marker is left untouched.
    * Returns the number of markers actually created. */
  def createNomediaMarkers(listing: DataFrame): Long = {
    val spark = listing.sparkSession
    import spark.implicits._
    val banned = VideoFns.bannedDirNames.toSet
    val bannedDirs = listing
      .select(col("path"))
      .as[String]
      .flatMap { p =>
        val segs = p.split('/')
        segs.zipWithIndex.collect {
          case (seg, i) if banned.contains(seg) => segs.take(i + 1).mkString("/")
        }
      }
      .distinct()
    bannedDirs.mapPartitions { dirs =>
      var created = 0L
      dirs.foreach { d =>
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(d, ".nomedia"))
          created += 1
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => ()
          case _: java.nio.file.NoSuchFileException => ()
        }
      }
      Iterator.single(created)
    }.reduce(_ + _)
  }
}
