package graft

import java.nio.file.{Files, Paths}
import graft.cli.Cli
import graft.sources.Tsv

/** End-to-end CLI: a real (temp) directory tree walked by the binaryFile
  * source, built with the stub prober, updated incrementally, merged, and
  * .nomedia markers dropped into banned directories. */
class CliSpec extends SparkSpec {

  private def touch(p: String, bytes: Int = 16): Unit = {
    val path = Paths.get(p)
    Files.createDirectories(path.getParent)
    Files.write(path, Array.fill[Byte](bytes)(42))
  }

  test("real FfprobeProber quarantines rows when probing fails (no ffmpeg here)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ffprobe").toString
    touch(s"$root/m/[2000] RealProbe.mkv", 64)
    val listing = graft.sources.DirectoryListing.walk(spark, Seq(root))
    val probed = graft.operators.VideoPipeline.probeStage(
      graft.operators.VideoPipeline.scanFilters(listing),
      new graft.operators.FfprobeProber(timeoutSec = 5))
    val rows = probed.collect()
    assert(rows.length == 1)
    // the container has no ffprobe binary -> per-row error capture, not a
    // task failure; the job completes and the row is quarantined
    assert(rows.head.getAs[String]("probe_error") != null)
    assert(graft.operators.VideoPipeline.failures(listing,
      new graft.operators.FfprobeProber(timeoutSec = 5)).count() == 1)
  }

  test("build -> update -> merge -> nomedia over a real directory tree") {
    spark // force shared session so Cli reuses instead of stopping it
    val root = Files.createTempDirectory("graft-cli").toString
    touch(s"$root/shows/f1/[1999] Alpha [3D][AV1].mkv", 2048)
    touch(s"$root/shows/f2/[2001] Beta.mp4", 4096)
    touch(s"$root/shows/f2/[2001] Beta.en.srt", 100)
    touch(s"$root/shows/f3/[2002] Gamma.avi", 1024)
    touch(s"$root/shows/f3/[2002] Gamma.en.hi.srt", 99)
    touch(s"$root/Trailers/f4/[2003] Skipme.mkv", 512)  // banned dir
    touch(s"$root/shows/f5/notes.txt", 10)              // non-video ext
    touch(s"$root/shows/f29/[2004] Fails.mkv", 77)      // stub quarantine (29%29=0)

    val db = s"$root/out.tsv"
    Cli.main(Array("build", root, "--db", db, "--stub-probe", "--nomedia"))
    val built = Tsv.readReferenceTsv(spark, db).collect()
    // f1, f2, f3 survive; f4 banned-dir, f5 extension, f29 quarantined
    assert(built.length == 3)
    val paths = built.map(_.getAs[String]("path_on_volume")).sorted
    assert(paths.exists(_.contains("Alpha")) && paths.exists(_.contains("Beta"))
      && paths.exists(_.contains("Gamma")))
    val beta = built.find(_.getAs[String]("path_on_volume").contains("Beta")).get
    assert(beta.getAs[String]("srt_avail") == "Y" && beta.getAs[Long]("srt_size") == 100L)
    assert(Files.exists(Paths.get(s"$root/Trailers/.nomedia")))

    // update: drop in one new file; existing ones must not be re-added
    touch(s"$root/shows/f6/[2005] Delta.webm", 8192)
    Cli.main(Array("update", root, "--db", db, "--stub-probe"))
    val updated = Tsv.readReferenceTsv(spark, db).collect()
    assert(updated.length == 4)
    assert(updated.count(_.getAs[String]("path_on_volume").contains("Delta")) == 1)

    // merge two dbs -> header + union
    val db2 = s"$root/out2.tsv"
    Files.copy(Paths.get(db), Paths.get(db2))
    val merged = s"$root/merged.tsv"
    Cli.main(Array("merge", db, db2, "--db", merged))
    val mtext = new String(Files.readAllBytes(Paths.get(merged)), "UTF-8")
    assert(mtext.stripPrefix("﻿").linesIterator.next() == Tsv.headerLine)
    assert(Tsv.readReferenceTsv(spark, merged).count() == 8) // 4 + 4 rows
  }

  test("F13: build without --db auto-derives '<root> - <volume>.tsv'") {
    spark
    val root = Files.createTempDirectory("graft-autoname").toString
    touch(s"$root/m/f1/[2010] Epsilon.mkv", 4096)
    assert(Cli.dbNameGenerate("/x/y", "MyVol") == "/x/y - MyVol.tsv")
    assert(Cli.dbNameGenerate("/x/y", "/") == "/x/y - _.tsv",
      "mountpoint labels must not split the name into directories")
    System.setProperty("graft.volume.label", "TestVol")
    try {
      Cli.main(Array("build", root, "--stub-probe"))
      val expected = s"$root - TestVol.tsv"
      assert(Files.exists(Paths.get(expected)), s"auto-named db missing: $expected")
      val rows = Tsv.readReferenceTsv(spark, expected).collect()
      assert(rows.length == 1 && rows.head.getAs[String]("volume") == "TestVol")
    } finally System.clearProperty("graft.volume.label")
  }

  test("manifest-table listing drives the identical pipeline as a live walk") {
    spark
    val root = Files.createTempDirectory("graft-manifest").toString
    touch(s"$root/a/f1/[1999] Alpha [AV1].mkv", 2048)
    touch(s"$root/a/f2/[2001] Beta.mp4", 4096)
    touch(s"$root/a/f2/[2001] Beta.en.srt", 100)
    touch(s"$root/Trailers/f3/[2003] Skipme.mkv", 512)

    import org.apache.spark.sql.functions.col
    val walked = graft.sources.DirectoryListing.walk(spark, Seq(root))
    val mdir = Files.createTempDirectory("graft-manifest-tbl").toString + "/listing"
    // manifest written in the "inventory" shape: path + size_bytes + volume
    walked.select(col("path"), col("sizeBytes").as("size_bytes"), col("volume"))
      .write.parquet(mdir)

    val fromM = graft.sources.DirectoryListing.fromManifest(spark, mdir)
    def runPipeline(listing: org.apache.spark.sql.DataFrame) =
      graft.operators.VideoPipeline.build(listing,
          graft.sources.DirectoryListing.srtOf(listing),
          new graft.operators.StubProber)
        .orderBy("path").collect().map(_.toSeq).toSeq
    assert(runPipeline(fromM) == runPipeline(walked),
      "manifest source must be indistinguishable downstream")

    // and end to end through the CLI flag
    val dbW = s"$root/walk.tsv"
    val dbM = s"$root/manifest.tsv"
    Cli.main(Array("build", root, "--db", dbW, "--stub-probe"))
    Cli.main(Array("build", mdir, "--manifest", "--db", dbM, "--stub-probe"))
    val w = new String(Files.readAllBytes(Paths.get(dbW)), "UTF-8")
    val m = new String(Files.readAllBytes(Paths.get(dbM)), "UTF-8")
    assert(w == m, "CLI --manifest build must byte-match the walk build")
  }

  /** A manifest table in the inventory shape (path, size_bytes, volume). */
  private def writeManifest(rows: Seq[(String, Long)], dir: String, mode: String): Unit = {
    import spark.implicits._
    rows.map { case (p, n) => (p, n, "vol0") }.toDF("path", "size_bytes", "volume")
      .write.mode(mode).parquet(dir)
  }

  test("update --manifest reads the manifest and appends the row it gained") {
    val root = Files.createTempDirectory("graft-update-manifest").toString
    val mdir = s"$root/listing"
    writeManifest(Seq(
      "/lib/f1/[1999] Alpha.mkv" -> 2048L,
      "/lib/f2/[2001] Beta.mp4" -> 4096L,
      "/lib/f2/[2001] Beta.en.srt" -> 100L), mdir, "overwrite")
    val db = s"$root/db.tsv"
    Cli.main(Array("build", mdir, "--manifest", "--db", db, "--stub-probe"))
    assert(Tsv.readReferenceTsv(spark, db).count() == 2)

    writeManifest(Seq("/lib/f3/[2002] Gamma.avi" -> 1024L), mdir, "append")
    Cli.main(Array("update", mdir, "--manifest", "--db", db, "--stub-probe"))
    val rows = Tsv.readReferenceTsv(spark, db).collect()
    assert(rows.length == 3)
    assert(rows.count(_.getAs[String]("path_on_volume").contains("Gamma")) == 1)
    val beta = rows.find(_.getAs[String]("path_on_volume").contains("Beta")).get
    assert(beta.getAs[String]("srt_avail") == "Y", "the srt join must still see the manifest")
  }

  test("update from the same drive-letter listing adds no rows") {
    val root = Files.createTempDirectory("graft-drive-letter").toString
    val mdir = s"$root/listing"
    writeManifest(Seq(
      "D:/lib/f1/[1999] Alpha.mkv" -> 2048L,
      "D:/lib/f2/[2001] Beta.mp4" -> 4096L), mdir, "overwrite")
    val db = s"$root/db.tsv"
    Cli.main(Array("build", mdir, "--manifest", "--db", db, "--stub-probe"))
    val before = Files.readAllBytes(Paths.get(db))
    assert(Tsv.readReferenceTsv(spark, db).collect()
      .map(_.getAs[String]("path_on_volume")).sorted.toSeq ==
      Seq("/lib/f1/[1999] Alpha.mkv", "/lib/f2/[2001] Beta.mp4"))
    Cli.main(Array("update", mdir, "--manifest", "--db", db, "--stub-probe"))
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(db)), before),
      "an update with nothing new must leave the db as it was")
  }

  test("Cli.main leaves a running session's confs and log level as it found them") {
    import org.apache.logging.log4j.{Level, LogManager}
    val root = Files.createTempDirectory("graft-cli-session").toString
    touch(s"$root/m/f1/[2010] Zeta.mkv", 4096)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val savedLevel = LogManager.getRootLogger.getLevel
    // two sentinels: the core count Cli would apply to a session it
    // creates cannot equal both, whatever the host
    try for (sentinel <- Seq("3", "5")) {
      spark.conf.set(key, sentinel)
      spark.sparkContext.setLogLevel("ERROR")
      val before = spark.conf.getAll
      Cli.main(Array("build", root, "--db", s"$root/db-$sentinel.tsv", "--stub-probe"))
      assert(spark.conf.get(key) == sentinel)
      assert(spark.conf.getAll == before)
      assert(LogManager.getRootLogger.getLevel == Level.ERROR)
    } finally {
      spark.conf.set(key, saved)
      spark.sparkContext.setLogLevel(savedLevel.toString)
    }
  }
}
