package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{FfprobeProber, Prober, StubProber, VideoPipeline}
import graft.sources.{DirectoryListing, Tsv}

/** CLI verbs mirroring the reference's entry points (SURVEY.md §3, flags
  * from video_metadata_db.py:849-915):
  *
  *   build  <dir>... --db out.tsv [--manifest] [--nomedia] [--verbose]
  *                    [--stub-probe] [--probe-concurrency N]
  *   update <dir>... --db existing.tsv [--manifest] [--stub-probe]
  *   merge  <in.tsv>... --db merged.tsv
  *   report --db db.tsv                      (the -v variant report)
  *
  * Differences from the reference, by design (SURVEY.md §7 risks):
  * intended semantics are implemented where the reference crashes
  * (merge's missing shutil import, update's mmap str/bytes TypeError) and
  * the sort is always descending (the documented intent — the reference's
  * Unix branch accidentally sorts ascending).
  */
object Cli {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      String.valueOf(Runtime.getRuntime.availableProcessors))
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-vmdb")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private case class Args(
      verb: String, inputs: Seq[String], db: String,
      nomedia: Boolean, verbose: Boolean, stubProbe: Boolean,
      manifest: Boolean, probeConcurrency: Int)

  /** F13: the reference auto-derives the db file name from the scan root
    * and the volume label when no explicit name is given
    * (video_metadata_db.py:507-514: root + " - " + label + ".tsv").
    * Path separators in the label are flattened — a Unix mountpoint label
    * ("/") would otherwise split the generated name into a bogus
    * directory component. */
  def dbNameGenerate(root: String, volume: String): String =
    s"$root - ${volume.replace('/', '_')}.tsv"

  private def parse(argv: Array[String]): Args = {
    var verb = ""
    val inputs = scala.collection.mutable.ArrayBuffer[String]()
    var db = ""
    var nomedia = false; var verbose = false; var stub = false
    var manifest = false
    var probeConcurrency = 1
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case v @ ("build" | "update" | "merge" | "report") if verb.isEmpty => verb = v
        case "--db" => db = argv(i + 1); i += 1
        case "--nomedia" => nomedia = true
        case "--verbose" => verbose = true
        case "--stub-probe" => stub = true
        case "--manifest" => manifest = true
        // bounded per-task subprocess pool (Prober.probeAll): executor
        // process count = task_slots x this
        case "--probe-concurrency" =>
          probeConcurrency = argv(i + 1).toInt; i += 1
        case p => inputs += p
      }
      i += 1
    }
    require(verb.nonEmpty, "verb required: build | update | merge | report")
    if (db.isEmpty && verb == "build" && inputs.nonEmpty)
      db = dbNameGenerate(inputs.head, DirectoryListing.volumeLabel())
    require(db.nonEmpty, "--db <file.tsv> required")
    Args(verb, DirectoryListing.dedupRoots(inputs.toSeq), db, nomedia, verbose,
         stub, manifest, probeConcurrency)
  }

  private def prober(a: Args): Prober =
    if (a.stubProbe) new StubProber else new FfprobeProber()

  /** The file listing + sibling-srt listing for the configured source:
    * a recursive walk of the roots, or (--manifest, S1 at scale) manifest
    * parquet tables read distributed — same downstream pipeline. The srt
    * listing is a filter of the same listing, so each verb lists the
    * tree once. */
  private def listings(spark: SparkSession, a: Args): (DataFrame, DataFrame) = {
    val all =
      if (a.manifest)
        a.inputs.map(DirectoryListing.fromManifest(spark, _)).reduce(_ unionByName _)
      else DirectoryListing.walk(spark, a.inputs)
    (all, DirectoryListing.srtOf(all))
  }

  private def buildLines(spark: SparkSession, a: Args): DataFrame = {
    val (listing, srt) = listings(spark, a)
    if (a.nomedia) {
      val n = DirectoryListing.createNomediaMarkers(listing)
      println(s"[graft] created $n .nomedia markers")
    }
    val built = VideoPipeline.build(listing, srt, prober(a),
      probeConcurrency = a.probeConcurrency)
    if (a.verbose) {
      println("[graft] variant report:")
      VideoPipeline.variants(built).show(100, truncate = false)
      println("[graft] variant detail:")
      VideoPipeline.variantDetails(built).show(1000, truncate = false)
      println("[graft] probe failures:")
      VideoPipeline.failures(listing, prober(a)).show(100, truncate = false)
    }
    Tsv.renderLines(built)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // reuse a pre-existing session (tests, notebooks) and leave it running;
    // stop only a session this invocation created
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = session()
    try run(spark, a)
    finally if (!preExisting) spark.stop()
  }

  private def run(spark: SparkSession, a: Args): Unit =
    a.verb match {
      case "build" =>
        Tsv.writeSingleFile(Tsv.sortLinesDesc(buildLines(spark, a)), a.db)
        println(s"[graft] wrote ${a.db}")

      case "update" =>
        val existing = Tsv.readReferenceTsv(spark, a.db)
          .select(col("path_on_volume").as("path"))
        val (listing, srt) = listings(spark, a)
        val novel = VideoPipeline.novelFiles(VideoPipeline.scanFilters(listing), existing)
        val builtNovel = VideoPipeline.withSubtitles(
          VideoPipeline.deriveColumns(
            VideoPipeline.probeStage(novel, prober(a))
              .filter(col("probe_error").isNull)), srt)
        val all = Tsv.dbLines(spark, a.db).unionByName(Tsv.renderLines(builtNovel))
        Tsv.writeSingleFile(Tsv.sortLinesDesc(all), a.db)
        println(s"[graft] appended novel files into ${a.db}")

      case "merge" =>
        Tsv.writeSingleFile(Tsv.sortLinesDesc(Tsv.dbLines(spark, a.inputs: _*)), a.db,
          withHeader = true)
        println(s"[graft] merged ${a.inputs.length} inputs into ${a.db}")

      case "report" =>
        val db = Tsv.readReferenceTsv(spark, a.db)
          .withColumnRenamed("path_on_volume", "path")
        VideoPipeline.variants(db).show(1000, truncate = false)
        if (a.verbose)
          VideoPipeline.variantDetails(db, durationCol = "duration_display")
            .show(10000, truncate = false)
    }
}
