package graft.sources

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, Options, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import graft.functions.VideoFns

/** The reference's at-rest format: headerless tab-separated text,
  * utf-8-sig (BOM), ragged rows (audio fields omitted when absent),
  * whole-line descending sort (SURVEY.md §1.2, §2.6).
  *
  * Internally this engine stores typed Parquet; this layer exists ONLY at
  * the export/import edge for byte parity with the reference. Rendering
  * is a plain projection (scan-speed at any scale); the single-file
  * coalesce happens strictly at the presentation edge.
  */
object Tsv {

  /** Merge-header column names, exactly as the reference writes them
    * (video_metadata_db.py:1402-1421). */
  val headerColumns: Seq[String] = Seq(
    "Width", "Height", "Duration (in s)", "Size", "Raw Size",
    "Video Codec Name", "AV1/HEVC Compression Candidate",
    "Total # of Streams", "Container Name",
    "# of Audio Channels (@Index 0)", "Audio Codec Name (@Index 0)",
    "Title", "Ext. English Subtitle Availability",
    "Ext. English Subtitle Size",
    "Ext. Hearing Impaired English Subtitle Availability",
    "Ext. Hearing Impaired English Subtitle Size",
    "Volume Label", "Path on Drive Label")

  val headerLine: String = headerColumns.mkString("\t")

  private val TAB = "\t"

  /** Python "{:>N}" — right-justify, space fill, NO truncation. */
  private def rjust(c: Column, n: Int): Column = {
    val s = c.cast("string")
    when(length(s) >= n, s).otherwise(lpad(s, n, " "))
  }

  /** Render each built row (output of VideoPipeline.build, pre-sort) to
    * one reference-format line in a `line` column. Field order and every
    * quirk follow save_video_information (video_metadata_db.py:215-413):
    *  - width+height both present: each "{:>4}"-padded; a MISSING one is
    *    written as "0000" and a present-but-partnerless one is dropped
    *    (the reference's own else-branch behavior);
    *  - duration: concise h:m:s with "N/A" passthrough;
    *  - audio channel+codec fields OMITTED entirely when no audio stream
    *    (ragged row);
    *  - absent subtitle size written as a single space.
    */
  def renderLines(built: DataFrame): DataFrame = {
    val resPart =
      when(col("width").isNotNull && col("height").isNotNull,
        concat(rjust(col("width"), 4), lit(TAB), rjust(col("height"), 4), lit(TAB)))
      .otherwise(concat(
        when(col("width").isNull, lit("0000" + TAB)).otherwise(lit("")),
        when(col("height").isNull, lit("0000" + TAB)).otherwise(lit(""))))
    val durPart = VideoFns.durationDisplay(col("duration_raw"))
    val audioPart =
      when(col("audio_channels").isNotNull && col("audio_codec").isNotNull,
        concat(col("audio_channels").cast("string"), lit(TAB),
               col("audio_codec"), lit(TAB)))
      .otherwise(lit(""))
    val srtPart =
      when(col("srt_avail") === "Y",
        concat(lit("Y" + TAB), col("srt_size").cast("string"), lit(TAB)))
      .otherwise(lit("N" + TAB + " " + TAB))
    val hiPart =
      when(col("srt_hi_avail") === "Y",
        concat(lit("Y" + TAB), col("srt_hi_size").cast("string"), lit(TAB)))
      .otherwise(lit("N" + TAB + " " + TAB))
    built.select(concat(
      resPart,
      durPart, lit(TAB),
      VideoFns.sizeofFmtUdf(col("size_bytes")), lit(TAB),
      col("size_bytes").cast("string"), lit(TAB),
      col("video_codec"), lit(TAB),
      col("compression_candidate"), lit(TAB),
      col("nb_streams").cast("string"), lit(TAB),
      col("container"), lit(TAB),
      audioPart,
      col("title"), lit(TAB),
      srtPart,
      hiPart,
      col("volume"), lit(TAB),
      col("path_on_volume")).as("line"))
  }

  /** O1 byte-parity mode: whole-line lexicographic sort, descending (the
    * documented intent; the reference's Unix branch accidentally sorts
    * ascending — we implement the intent, README.md:89).
    *
    * One-partition contract: the result is ONE partition, in the order of
    * `orderBy(col("line").desc)`. Its consumer is [[writeSingleFile]],
    * whose one writer task streams that partition straight into the
    * staged db file, so the lines are shuffled to one partition and
    * sorted there.
    * A global `orderBy` would first run a RangePartitioner sampling job
    * that evaluates the whole input a second time (every db line read
    * twice on update and merge) only to pick range bounds; a plain
    * `coalesce(1)` would instead pull the upstream stage (scan, probe,
    * joins) into that one task, where the shuffle keeps it parallel. */
  def sortLinesDesc(lines: DataFrame): DataFrame =
    lines.repartition(1).sortWithinPartitions(col("line").desc)

  /** Single-file TSV export with utf-8-sig BOM and optional header,
    * written once, by one Spark task, and published by rename. Every
    * step goes through the Hadoop FS API, so `outFile` may live on ANY
    * configured store (`file:`, `hdfs:`, `s3a:`, `abfs:`, ...):
    *
    *  - Staged write: `lines.coalesce(1)` runs as a Dataset action whose
    *    single task streams the BOM, the header and every line (a null
    *    line as an empty one) into `attempt-<stage attempt>-<task attempt>`
    *    in a hidden dir NEXT TO the destination, so the staged file and
    *    the db share a filesystem. No part file, no commit protocol, and
    *    no driver-side copy of the db's bytes.
    *  - Publish: the driver renames the staged file over `outFile`
    *    (`FileContext.rename` with `OVERWRITE`) and deletes the hidden
    *    dir in a `finally`. The live db is never truncated: until the
    *    rename, it is the old db, so a failed write leaves it intact (an
    *    update reads the very file it replaces). HDFS swaps atomically;
    *    the local FS deletes the old file just before its rename; on an
    *    object store a rename is a server-side copy plus delete, so the
    *    db is written twice there, both times by the store.
    *
    * No `.crc` sidecar is written next to the artifact, and a stale one
    * is removed: the checksum shadow file is a LocalFileSystem quirk
    * (object-store FSes checksum server-side), and a stale sidecar would
    * fail later reads of the re-exported db. The staged file is written
    * through the checksum filesystem's raw one, so the JVM-wide cached
    * filesystem keeps writing checksums for everything else.
    *
    * The TSV db is a reference-parity presentation artifact, not the
    * engine's at-rest format (that's parquet) — single-file assembly is
    * inherently a one-writer step. */
  def writeSingleFile(lines: DataFrame, outFile: String,
                      withHeader: Boolean = false, withBom: Boolean = true): Unit = {
    val conf = lines.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(outFile).getFileSystem(conf)
    val out = fs.makeQualified(new Path(outFile))
    val tmp = new Path(out.getParent, s".${out.getName}.__graft_tmp__")
    val prefix =
      (if (withBom) Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) else Array.empty[Byte]) ++
      (if (withHeader) (headerLine + "\n").getBytes(UTF_8) else Array.empty[Byte])
    val taskConf = new SerializableConfiguration(conf)
    fs.delete(tmp, true)
    try {
      val staged = lines.coalesce(1).as(Encoders.STRING).mapPartitions { it =>
        val ctx = TaskContext.get()
        Iterator(writeStaged(new Path(tmp,
          s"attempt-${ctx.stageAttemptNumber()}-${ctx.taskAttemptId()}"),
          taskConf.value, prefix, it))
      }(Encoders.STRING).collect()
      val name = staged match {
        case Array(n) => n
        // a plan with no partitions (an empty local relation) runs no
        // task: the db is then the BOM and header alone
        case Array() => writeStaged(new Path(tmp, "empty"), conf, prefix, Iterator.empty)
        case many => sys.error(s"one writer task expected, got ${many.length}")
      }
      FileContext.getFileContext(out.toUri, conf)
        .rename(new Path(tmp, name), out, Options.Rename.OVERWRITE)
      fs match {
        case c: ChecksumFileSystem => c.getRawFileSystem.delete(c.getChecksumFile(out), false)
        case _ =>
      }
    } finally fs.delete(tmp, true)
  }

  /** Write `prefix`, then each line and `\n`, to a new file at `p`
    * with no `.crc` sidecar; returns its name. */
  private def writeStaged(p: Path, conf: Configuration, prefix: Array[Byte],
                          lines: Iterator[String]): String = {
    val fs = p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val os = new BufferedOutputStream(fs.create(p, false), 1 << 16)
    try {
      os.write(prefix)
      lines.foreach { l =>
        if (l != null) os.write(l.getBytes(UTF_8))
        os.write('\n')
      }
    } finally os.close()
    p.getName
  }

  /** S6: read a reference-format TSV back to typed columns. Tolerates the
    * ragged 16-field (audio-less) rows exactly like the reference's
    * star-unpack (video_metadata_db.py:1124), strips the BOM, trims every
    * field (F11). */
  def readReferenceTsv(spark: SparkSession, path: String): DataFrame =
    parseLines(dbLines(spark, path).select(col("line").as("value")))

  /** The rows of TSV dbs as a `line` column: the utf-8-sig BOM stripped
    * and a merge header dropped, so a merged db reads like a built one.
    * Feeds the update and merge rewrites and [[readReferenceTsv]]. */
  def dbLines(spark: SparkSession, paths: String*): DataFrame =
    spark.read.text(paths: _*)
      .select(regexp_replace(col("value"), "^\uFEFF", "").as("line"))
      .filter(col("line") =!= headerLine)

  /** Parse reference-format lines (a `value` string column) to typed
    * columns; header lines are dropped. */
  def parseLines(linesDf: DataFrame): DataFrame = {
    val raw = linesDf.filter(col("value") =!= headerLine)
    val f = split(col("value"), TAB)
    // try_element_at: a truncated line must yield nulls for its missing
    // fields, not fail the whole read (ANSI element_at throws)
    def fld(i: Column): Column = trim(try_element_at(f, i))
    // blank placeholders (" ", "") must read as null, not an ANSI cast error
    def num(c: Column, t: String): Column =
      when(c.rlike("^\\d+$"), c).otherwise(lit(null)).cast(t)
    // "0000" is the writer's missing-dimension SENTINEL
    // (video_metadata_db.py's else-branch, see renderLines) — decode it
    // back to null so parse∘render is the identity on dimensions: a
    // re-export of a parsed db must reproduce "0000", not right-pad a
    // fake literal zero width
    def dim(c: Column): Column =
      when(c === "0000", lit(null)).otherwise(num(c, "int"))
    // ragged: 18 fields with audio, 16 without; audio sits at 10/11
    val n = size(f)
    val shifted = (idx: Int) => // index for columns AFTER the audio pair
      when(n === 18, fld(lit(idx))).otherwise(fld(lit(idx - 2)))
    raw.select(
      dim(fld(lit(1))).as("width"),
      dim(fld(lit(2))).as("height"),
      fld(lit(3)).as("duration_display"),
      fld(lit(4)).as("size_display"),
      num(fld(lit(5)), "long").as("size_bytes"),
      fld(lit(6)).as("video_codec"),
      fld(lit(7)).as("compression_candidate"),
      num(fld(lit(8)), "int").as("nb_streams"),
      fld(lit(9)).as("container"),
      num(when(n === 18, fld(lit(10))).otherwise(lit(null)), "int").as("audio_channels"),
      when(n === 18, fld(lit(11))).otherwise(lit(null)).as("audio_codec"),
      shifted(12).as("title"),
      shifted(13).as("srt_avail"),
      num(shifted(14), "long").as("srt_size"),
      shifted(15).as("srt_hi_avail"),
      num(shifted(16), "long").as("srt_hi_size"),
      shifted(17).as("volume"),
      shifted(18).as("path_on_volume"))
  }
}
