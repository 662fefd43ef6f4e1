package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{StubProber, VideoPipeline}
import graft.sources.{DirectoryListing, Tsv}

/** The catalogue verbs as `cli.Cli.run` composes them, over a manifest
  * listing (`DirectoryListing.fromManifest`) instead of a directory walk,
  * each layer call routed through the tracer. Untraced, every call is the
  * engine's own composite (`VideoPipeline.build`, ...); traced, the
  * composite is split into the layer calls its body makes today. */
object Catalog {
  private val Bom = "^\uFEFF"

  def writeManifest(spark: SparkSession, files: Seq[Gen.ListedFile], to: File): Unit = {
    import spark.implicits._
    files.toDF().repartition(4).write.mode("overwrite").parquet(to.getPath)
  }

  def listing(t: Tracer, manifest: File): (DataFrame, DataFrame) = {
    val l = t.df("sources", "DirectoryListing.fromManifest")(
      DirectoryListing.fromManifest(t.spark, manifest.getPath))
    (l, t.df("sources", "DirectoryListing.srtOf")(DirectoryListing.srtOf(l)))
  }

  /** probe → quarantine filter → derive → subtitle joins. */
  private def probeAndDerive(t: Tracer, videos: DataFrame, srt: DataFrame): DataFrame = {
    val probed = t.df("operators", "VideoPipeline.probeStage")(
      VideoPipeline.probeStage(videos, new StubProber))
    val derived = t.df("operators", "VideoPipeline.deriveColumns")(
      VideoPipeline.deriveColumns(probed.filter(col("probe_error").isNull)))
    t.df("operators", "VideoPipeline.withSubtitles")(
      VideoPipeline.withSubtitles(derived, srt))
  }

  def built(t: Tracer, listing: DataFrame, srt: DataFrame): DataFrame =
    if (!t.on) VideoPipeline.build(listing, srt, new StubProber)
    else probeAndDerive(t,
      t.df("operators", "VideoPipeline.scanFilters")(VideoPipeline.scanFilters(listing)), srt)

  /** Sort and write a single-file TSV. Traced, also notes the write
    * amplification: bytes this process wrote during the write call
    * (`/proc/self/io` wchar) ÷ the final file's bytes. */
  def write(t: Tracer, lines: DataFrame, out: File, header: Boolean,
            note: (String, Double) => Unit): Unit = {
    val sorted = t.df("sources", "Tsv.sortLinesDesc")(Tsv.sortLinesDesc(lines))
    val w0 = wchar()
    t.run("sources", "Tsv.writeSingleFile")(
      Tsv.writeSingleFile(sorted, out.getPath, withHeader = header))
    if (t.on) note("sources.tsv.write_amp", (wchar() - w0).toDouble / out.length())
  }

  def build(t: Tracer, manifest: File, out: File,
            note: (String, Double) => Unit): Unit = {
    val (l, srt) = listing(t, manifest)
    val lines = t.df("sources", "Tsv.renderLines")(Tsv.renderLines(built(t, l, srt)))
    write(t, lines, out, header = false, note)
  }

  /** A TSV db's lines without BOM and merge header (Cli's update/merge). */
  private def dbLines(t: Tracer, db: File): DataFrame =
    t.df("cli", "read db lines")(t.spark.read.text(db.getPath)
      .select(regexp_replace(col("value"), Bom, "").as("line"))
      .filter(col("line") =!= Tsv.headerLine))

  def update(t: Tracer, relisting: File, db: File,
             note: (String, Double) => Unit): Unit = {
    val existing = t.df("sources", "Tsv.readReferenceTsv")(
      Tsv.readReferenceTsv(t.spark, db.getPath)).select(col("path_on_volume").as("path"))
    val (l, srt) = listing(t, relisting)
    val incoming = t.df("operators", "VideoPipeline.scanFilters")(VideoPipeline.scanFilters(l))
    val novel = t.df("operators", "VideoPipeline.novelFiles")(
      VideoPipeline.novelFiles(incoming, existing))
    if (t.on) note("operators.novel.useful_ratio", novel.count().toDouble / incoming.count())
    val fresh = t.df("sources", "Tsv.renderLines")(Tsv.renderLines(probeAndDerive(t, novel, srt)))
    write(t, dbLines(t, db).unionByName(fresh), db, header = false, note)
  }

  def merge(t: Tracer, inputs: Seq[File], out: File,
            note: (String, Double) => Unit): Unit =
    write(t, inputs.map(dbLines(t, _)).reduce(_ unionByName _), out, header = true, note)

  /** The variant report: (groups, detail rows). */
  def report(t: Tracer, db: File): (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = {
    val parsed = t.df("sources", "Tsv.readReferenceTsv")(Tsv.readReferenceTsv(t.spark, db.getPath))
      .withColumnRenamed("path_on_volume", "path")
    (t.run("operators", "VideoPipeline.variants")(VideoPipeline.variants(parsed).collect()),
     t.run("operators", "VideoPipeline.variantDetails")(
       VideoPipeline.variantDetails(parsed, durationCol = "duration_display").collect()))
  }

  def wchar(): Long = {
    val io = new File("/proc/self/io")
    if (!io.canRead) 0L
    else scala.io.Source.fromFile(io).getLines()
      .collectFirst { case l if l.startsWith("wchar:") => l.drop(6).trim.toLong }
      .getOrElse(0L)
  }

  /** Byte-wise unsigned comparison: Spark's string order. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Driver-side checks on a written TSV db: BOM, header presence, line
    * count, whole-line descending order. Returns the problems found. */
  def checkTsv(file: File, lines: Long, header: Boolean): Seq[String] = {
    val bytes = Files.readAllBytes(file.toPath)
    val bom = bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte
    val body = new String(bytes, 3, math.max(0, bytes.length - 3), "UTF-8")
    val all = body.split("\n", -1).toSeq.filter(_.nonEmpty)
    val hasHeader = all.headOption.contains(Tsv.headerLine)
    val rows = if (hasHeader) all.tail else all
    val enc = rows.map(_.getBytes("UTF-8"))
    val unsorted = enc.indices.drop(1).count(i => cmp(enc(i - 1), enc(i)) < 0)
    Seq(
      if (bom) "" else s"${file.getName}: no BOM",
      if (hasHeader == header) "" else s"${file.getName}: header present=$hasHeader",
      if (rows.length == lines) "" else s"${file.getName}: ${rows.length} lines, expected $lines",
      if (unsorted == 0) "" else s"${file.getName}: $unsorted lines out of descending order"
    ).filter(_.nonEmpty)
  }

  /** readReferenceTsv ∘ renderLines round trip: the db parses back to
    * exactly the (path, size) rows the generator says a build keeps. */
  def roundTrip(spark: SparkSession, db: File, kept: Seq[Gen.ListedFile]): Seq[String] = {
    import spark.implicits._
    val got = Tsv.readReferenceTsv(spark, db.getPath)
      .select(col("path_on_volume").as("path"), col("size_bytes"))
    val want = kept.map(f => (f.path, f.size_bytes)).toDF("path", "size_bytes")
    val extra = got.except(want).count()
    val missing = want.except(got).count()
    if (extra == 0 && missing == 0) Nil
    else Seq(s"${db.getName}: round trip has $extra unexpected and $missing missing rows")
  }

  def copy(from: File, to: File): Unit =
    Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
}

/** `catalog-build`: one build of a seeded library per op. */
final class CatalogBuild(spark: SparkSession, dir: File, seed: Long, primaries: Int)
    extends Workload(spark, dir, seed) {
  def primary = "build"
  private var lib: Gen.Library = _
  private val manifest = new File(sub("inputs"), "library.parquet")
  private val db = new File(sub("db"), "library.tsv")

  def setup(): Unit = {
    lib = Gen.library(primaries, seed, "vol0")
    Catalog.writeManifest(spark, lib.files, manifest)
  }

  override def prepare(): Seq[Op] = {
    Catalog.build(new Tracer(spark), manifest, db, (_, _) => ())
    Seq(checkOp("roundtrip", lib.counts.built)(Catalog.roundTrip(spark, db, lib.kept)))
  }

  def cycle(t: Tracer): Seq[Op] = Seq(
    timed(t, "build", lib.counts.listed)(Catalog.build(t, manifest, db, note))(
      _ => tsvOk(db, lib.counts.built, header = false)))

  def info: Map[String, Any] = Map(
    "primaries" -> primaries, "listed" -> lib.counts.listed,
    "non_video" -> lib.counts.nonVideo, "banned_dir" -> lib.counts.banned,
    "srt_siblings" -> lib.counts.srt, "probe_failures" -> lib.counts.probeFailures,
    "built_rows" -> lib.counts.built,
    "state" -> "manifest in page cache; the db file is overwritten by every op")
}

/** `catalog-nightly`: update + merge + variant report over per-volume DBs
  * built before timing; the rewritten db is restored from its pristine
  * copy before each cycle. */
final class CatalogNightly(spark: SparkSession, dir: File, seed: Long, perVolume: Int)
    extends Workload(spark, dir, seed) {
  def primary = "update"
  private val vols = 0 until 3
  private var libs: Seq[Gen.Library] = Nil
  private var delta: Gen.Library = _
  private val in = sub("inputs")
  private val pristine = sub("pristine")
  private val live = sub("db")
  private def relisting = new File(in, "relisting-vol0.parquet")
  private def manifest(v: Int) = new File(in, s"vol$v.parquet")
  private def pristineDb(v: Int) = new File(pristine, s"vol$v.tsv")
  private val db0 = new File(live, "vol0.tsv")
  private val merged = new File(live, "merged.tsv")

  def setup(): Unit = {
    libs = vols.map(v => Gen.library(perVolume, seed + v, s"vol$v", idBase = v * 100000000L))
    delta = Gen.library(perVolume / 100, seed ^ 0x5EEDL, "vol0", idBase = 900000000L)
    // the nightly re-listing: every file already on vol0 plus the delta,
    // the new files interleaved at seeded positions
    val r = new java.util.SplittableRandom(seed)
    val relist = (libs.head.files.map(f => (r.nextDouble(), f)) ++
      delta.files.map(f => (r.nextDouble(), f))).sortBy(_._1).map(_._2)
    vols.foreach(v => Catalog.writeManifest(spark, libs(v).files, manifest(v)))
    Catalog.writeManifest(spark, relist, relisting)
  }

  private var rebuildMs = Double.NaN

  /** Builds the per-volume dbs (the state every cycle starts from), checks
    * their round trip and runs a warm cycle, whose ops are checked too. A traced run also times one warm full
    * rebuild of vol0 from the re-listing the update reads (the
    * update-vs-build baseline). */
  override def prepare(): Seq[Op] = {
    vols.foreach(v =>
      Catalog.build(new Tracer(spark), manifest(v), pristineDb(v), (_, _) => ()))
    val roundTrips = vols.map(v => checkOp("roundtrip", libs(v).counts.built)(
      Catalog.roundTrip(spark, pristineDb(v), libs(v).kept)))
    val warm = cycle(new Tracer(spark))
    if (traced) {
      val t0 = System.nanoTime()
      Catalog.build(new Tracer(spark), relisting, new File(live, "rebuild.tsv"), (_, _) => ())
      rebuildMs = (System.nanoTime() - t0) / 1e6
    }
    roundTrips ++ warm
  }

  private def updatedLines = libs.head.counts.built + delta.counts.built
  private def mergedLines = updatedLines + libs.tail.map(_.counts.built).sum

  def cycle(t: Tracer): Seq[Op] = {
    Catalog.copy(pristineDb(0), db0)
    val update = timed(t, "update", libs.head.counts.listed + delta.counts.listed)(
      Catalog.update(t, relisting, db0, note))(_ => tsvOk(db0, updatedLines, header = false))
    val merge = timed(t, "merge", mergedLines)(
      Catalog.merge(t, db0 +: vols.tail.map(pristineDb), merged, note))(
      _ => tsvOk(merged, mergedLines, header = true))
    val report = timed(t, "report", mergedLines)(Catalog.report(t, merged)) {
      case (groups, details) =>
        val members = groups.map(_.getAs[Long]("n_variants")).sum
        expect(groups.nonEmpty && groups.forall(_.getAs[Long]("n_variants") > 1),
          s"report: ${groups.length} groups, some with one member") &&
        expect(members == details.length,
          s"report: groups hold $members rows, details list ${details.length}")
    }
    Seq(update, merge, report)
  }

  def info: Map[String, Any] = Map(
    "volumes" -> vols.length, "primaries_per_volume" -> perVolume,
    "listed_per_volume" -> libs.map(_.counts.listed),
    "built_per_volume" -> libs.map(_.counts.built),
    "delta_listed" -> delta.counts.listed, "delta_built" -> delta.counts.built,
    "updated_rows" -> updatedLines, "merged_rows" -> mergedLines,
    "warm_rebuild_vol0_ms" -> rebuildMs,
    "state" -> ("per-volume dbs built once before timing; vol0's db is restored from its " +
      "pristine copy before each cycle; the merged db is rewritten by each cycle"))
}
