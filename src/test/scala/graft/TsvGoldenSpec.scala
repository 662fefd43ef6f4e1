package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.{FileListing, StubProber, VideoPipeline}
import graft.sources.Tsv

/** Golden end-to-end: the build pipeline's TSV export must be
  * byte-identical to a golden file produced by the REFERENCE's own
  * formatting functions (sizeof_fmt / h:m:s / writer field order) over
  * the same rows — including BOM, ragged audio-less rows, "0000" missing
  * dimensions, and N/A durations. */
class TsvGoldenSpec extends SparkSpec {

  private val ids = Seq(1, 2, 3, 5, 6, 11, 13, 17, 23, 30, 34)

  private def tag(i: Int) =
    if (i % 7 == 0) " [4K]" else if (i % 7 == 1) " [3D][AV1]" else ""
  private def path(i: Int) =
    s"/vol${i % 3}/d${i % 7}/f$i/[${1980 + i % 40}] Movie ${i % 59}${tag(i)}.mkv"

  private def fixture() = {
    import spark.implicits._
    val listing = ids.map(i => FileListing(path(i), 1000L + i * 997331L, s"vol${i % 3}"))
      .toDF("path", "sizeBytes", "volume")
    val srt = ids.filter(_ % 3 == 0).map { i =>
      (path(i).stripSuffix(".mkv") + ".en.srt", i * 3000L + 17)
    } ++ ids.filter(_ % 6 == 0).map { i =>
      (path(i).stripSuffix(".mkv") + ".en.hi.srt", i * 4000L + 23)
    }
    val srtDf = srt.toDF("path", "size_bytes")
    (listing, srtDf)
  }

  test("TSV export byte-matches the reference-formatted golden") {
    val (listing, srtDf) = fixture()
    val built = VideoPipeline.build(listing, srtDf, new StubProber)
    val lines = Tsv.sortLinesDesc(Tsv.renderLines(built))
    val out = Files.createTempFile("graft-golden", ".tsv")
    Tsv.writeSingleFile(lines, out.toString)
    val got = Files.readAllBytes(out)
    val want = Files.readAllBytes(Paths.get("src/test/resources/golden_build.tsv"))
    assert(got.length == want.length,
      s"length ${got.length} != ${want.length}\n" +
        s"got:\n${new String(got, "UTF-8").take(500)}\nwant:\n${new String(want, "UTF-8").take(500)}")
    assert(java.util.Arrays.equals(got, want))
  }

  test("export assembles through the Hadoop FS API on an explicit store URI") {
    // a `file:` URI stands in for an object-store root: the path is
    // resolved by scheme through Path.getFileSystem, the parts land on
    // THAT store, and the byte output matches the golden exactly —
    // nothing in the assembly may assume a driver-local path
    val (listing, srtDf) = fixture()
    val built = VideoPipeline.build(listing, srtDf, new StubProber)
    val lines = Tsv.sortLinesDesc(Tsv.renderLines(built))
    val storeRoot = Files.createTempDirectory("graft-store-root")
    val uri = s"file:$storeRoot/export/db.tsv"
    Tsv.writeSingleFile(lines, uri)
    val got = Files.readAllBytes(Paths.get(s"$storeRoot/export/db.tsv"))
    val want = Files.readAllBytes(Paths.get("src/test/resources/golden_build.tsv"))
    assert(java.util.Arrays.equals(got, want),
      "store-URI export must byte-match the golden")
    // the hidden part-file staging dir is cleaned up
    val leftover = Files.list(Paths.get(s"$storeRoot/export")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (leftover.hasNext) names += leftover.next().getFileName.toString
    assert(names.toSeq == Seq("db.tsv"), s"staging leaked: $names")
  }

  test("readReferenceTsv round-trips ragged rows") {
    val df = Tsv.readReferenceTsv(spark, "src/test/resources/golden_build.tsv")
    assert(df.count() == ids.length)
    // id 13: no audio stream -> 16-field ragged row -> nulls
    val r13 = df.filter(col("path_on_volume").contains("/f13/")).collect().head
    assert(r13.isNullAt(r13.fieldIndex("audio_channels")))
    assert(r13.getAs[String]("title") == "Movie 13")
    // id 11: missing dims were written as "0000" (the writer's sentinel)
    // and must decode back to null, so parse∘render is the identity
    val r11 = df.filter(col("path_on_volume").contains("/f11/")).collect().head
    assert(r11.isNullAt(r11.fieldIndex("width")))
    // id 3 has an srt subtitle with its size
    val r3 = df.filter(col("path_on_volume").contains("/f3/")).collect().head
    assert(r3.getAs[String]("srt_avail") == "Y" && r3.getAs[Long]("srt_size") == 9017L)
  }

  test("reader tolerates malformed lines (junk fields become nulls, rows survive)") {
    import spark.implicits._
    val junk = Seq(
      "not\tenough\tfields",
      "abcd\tefgh\tgarbage\tnotasize\tNaN\tcodec\tY\tx\tcontainer\tch\tac\ttitle\tY\t??\tN\t \tvol\t/p",
      "", // empty line
      Tsv.headerLine) // stray header must be dropped
    val df = Tsv.parseLines(junk.toDF("value"))
    val rows = df.collect()
    // header dropped; other lines parse to rows with nulls where malformed
    assert(rows.length == 3)
    val full = rows.find(r => Option(r.getAs[String]("path_on_volume")).contains("/p")).get
    assert(full.isNullAt(full.fieldIndex("width")))   // "abcd" -> null
    assert(full.isNullAt(full.fieldIndex("size_bytes"))) // "NaN" -> null
    assert(full.getAs[String]("title") == "title")
  }

  test("round trip: BOM + header + ragged + 0000 dims + N/A re-export byte-identically") {
    // A crafted db exercising all the raggedness quirks SIMULTANEOUSLY:
    // BOM + header at the file level, an 18-field row, a 16-field
    // audio-less row, and a row with 0000 dims, N/A duration and blank
    // subtitle sizes. readReferenceTsv → renderLines → writeSingleFile
    // must reproduce the input byte for byte (parse∘render = identity):
    // duration display strings pass through durationDisplay's
    // non-numeric branch, sizeof_fmt re-derives from size_bytes, and the
    // 0000 sentinel survives via the null decode.
    val full = "1920\t1080\t2h:30m:30s\t1.5KiB\t1536\tH.264 / AVC\tN\t3\t" +
      "Matroska / WebM\t6\tAAC (Advanced Audio Coding)\tMovie A\tY\t9017\tN\t \t" +
      "vol0\t/d1/f1/Movie A.mkv"
    val audioless = " 640\t 360\t47s\t500.0B\t500\tMPEG-4 part 2\tN\t2\t" +
      "QuickTime / MOV\tMovie B\tN\t \tN\t \tvol1\t/d2/f2/Movie B.avi"
    val sentinel = "0000\t0000\tN/A\t2.0KiB\t2048\tAlliance for Open Media AV1\tY\t2\t" +
      "AVI (Audio Video Interleaved)\t2\tAAC (Advanced Audio Coding)\t<Untitled>\t" +
      "N\t \tN\t \tvol2\t/d3/f3/[1999] Movie C [4K].mkv"
    val body = Seq(full, audioless, sentinel).sorted(Ordering[String].reverse)
    val fixture = Files.createTempFile("graft-roundtrip", ".tsv")
    Files.write(fixture,
      ("﻿" + Tsv.headerLine + "\n" + body.mkString("\n") + "\n").getBytes("UTF-8"))

    val parsed = Tsv.readReferenceTsv(spark, fixture.toString)
    assert(parsed.count() == 3)
    val builtShape = parsed.withColumn("duration_raw", col("duration_display"))
    val out = Files.createTempFile("graft-roundtrip-out", ".tsv")
    Tsv.writeSingleFile(Tsv.sortLinesDesc(Tsv.renderLines(builtShape)),
      out.toString, withHeader = true)
    val got = new String(Files.readAllBytes(out), "UTF-8")
    val want = new String(Files.readAllBytes(fixture), "UTF-8")
    assert(got == want, s"round trip drifted:\ngot:\n$got\nwant:\n$want")
  }

  test("merge export: header + BOM + unioned sorted content") {
    val (listing, srtDf) = fixture()
    val built = VideoPipeline.build(listing, srtDf, new StubProber)
    val slices = Seq("vol0", "vol1", "vol2").map(v => built.filter(col("volume") === v))
    val merged = Tsv.sortLinesDesc(Tsv.renderLines(
      slices.reduce(_ unionByName _)))
    val out = Files.createTempFile("graft-merged", ".tsv")
    Tsv.writeSingleFile(merged, out.toString, withHeader = true)
    val bytes = Files.readAllBytes(out)
    assert(bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte)
    val text = new String(bytes, 3, bytes.length - 3, "UTF-8")
    val lns = text.split("\n")
    assert(lns.head == Tsv.headerLine)
    assert(lns.length == 1 + ids.length)
    // body equals the build golden body
    val golden = new String(Files.readAllBytes(
      Paths.get("src/test/resources/golden_build.tsv")), "UTF-8")
      .stripPrefix("﻿")
    assert(lns.drop(1).mkString("\n") + "\n" == golden)
  }

  test("sortLinesDesc: one partition, no range sampling, orderBy(line desc) order") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    object Nodes extends AdaptiveSparkPlanHelper
    def rangeShuffles(df: org.apache.spark.sql.DataFrame): Int = Nodes.collect(
      df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.length

    val rnd = new scala.util.Random(20261017L)
    // duplicates, non-ASCII (multi-byte UTF-8 orders by bytes), tabs,
    // empty lines and lines that prefix each other
    val words = Seq("Alpha", "alpha", "Zeta", "\u00c9lan", "\u6771\u4eac", "\u00e9",
      "d\u00e9j\u00e0", "a\tb", "", "1999", "[4K]")
    val seeded = (1 to 600).map(_ =>
      Seq.fill(rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" "))
    for (lines <- Seq(seeded, Seq.empty[String])) {
      val df = lines.toDF("line").repartition(4)
      val sorted = Tsv.sortLinesDesc(df)
      val want = df.orderBy(col("line").desc)
      assert(sorted.collect().toSeq == want.collect().toSeq, s"${lines.length} lines")
      assert(rangeShuffles(sorted) == 0, sorted.queryExecution.executedPlan.toString)
      if (lines.nonEmpty) assert(rangeShuffles(want) == 1,
        "the guard must see the sampling shuffle a global sort plans")
    }
    assert(Tsv.sortLinesDesc(seeded.toDF("line").repartition(4)).rdd.getNumPartitions == 1)
  }

  test("dbLines strips the BOM and the merge header of every input") {
    val a = Files.createTempFile("graft-dblines-a", ".tsv")
    val b = Files.createTempFile("graft-dblines-b", ".tsv")
    Files.write(a, "\uFEFFrow a1\nrow a2\n".getBytes("UTF-8"))
    Files.write(b, ("\uFEFF" + Tsv.headerLine + "\nrow b1\n").getBytes("UTF-8"))
    val got = Tsv.dbLines(spark, a.toString, b.toString).collect().map(_.getString(0))
    assert(got.sorted.toSeq == Seq("row a1", "row a2", "row b1"))
  }
}
