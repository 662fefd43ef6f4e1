package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.VideoFns

/** Property-based coverage of the pure functions (SURVEY.md §5.2).
  * scalacheck Gen sampled manually (no scalatestplus bridge offline). */
class FnPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(20260812L))

  test("pyRound is banker's rounding (agrees with Math.rint)") {
    samples(Gen.chooseNum(-1e9, 1e9)).foreach { x =>
      assert(VideoFns.pyRound(x) == Math.rint(x).toLong, s"x=$x")
    }
    // explicit ties
    assert(VideoFns.pyRound(0.5) == 0 && VideoFns.pyRound(1.5) == 2
      && VideoFns.pyRound(2.5) == 2 && VideoFns.pyRound(-0.5) == 0)
  }

  test("sizeofFmt shape + approximate round-trip") {
    val unitVal = Map("B" -> 1d, "KiB" -> 1024d, "MiB" -> math.pow(1024, 2),
      "GiB" -> math.pow(1024, 3), "TiB" -> math.pow(1024, 4),
      "PiB" -> math.pow(1024, 5), "EiB" -> math.pow(1024, 6))
    val re = "^\\s*([0-9]+\\.[0-9])(B|KiB|MiB|GiB|TiB|PiB|EiB|ZiB|YiB)$".r
    samples(Gen.chooseNum(0L, 1L << 60)).foreach { n =>
      VideoFns.sizeofFmt(n.toDouble) match {
        case re(num, unit) =>
          val back = num.toDouble * unitVal.getOrElse(unit, math.pow(1024, 7))
          assert(n == 0 || math.abs(back - n) / math.max(n.toDouble, 1) <= 0.06,
            s"$n -> $num$unit")
        case other => fail(s"unexpected shape: $other")
      }
    }
  }

  test("parseTitleYear inverts well-formed [year] title naming") {
    val titleGen = Gen.alphaNumStr
      .suchThat(t => t.nonEmpty && !t.contains("[") && !t.contains("]"))
    val pairs = samples(Gen.zip(titleGen, Gen.chooseNum(1900, 2099)), 200)
    pairs.foreach { case (t, y) =>
      val (title, year) = VideoFns.parseTitleYear(s"[$y] $t")
      assert(title == t.trim && year == y.toString)
      // identifier tokens are stripped wherever they appear
      val (title2, year2) = VideoFns.parseTitleYear(s"[$y] $t [3D][AV1][4K]")
      assert(title2 == t.trim && year2 == y.toString)
    }
  }

  test("hms concise shape is always Nh:Nm:Ns-like") {
    val re = "^([0-9]+h:)?([0-9]+m:)?[0-9]+(\\.[0-9]+)?s$".r
    samples(Gen.chooseNum(0.0, 500000.0)).foreach { s =>
      assert(re.findFirstIn(VideoFns.hms(s, concise = true)).isDefined, s"s=$s")
    }
  }
}

/** Randomized pipeline invariants over generated corpora. */
class PipelinePropertySpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators._
  import graft.sources.Tsv

  private val rnd = new scala.util.Random(20260812L)

  private def randomListing(n: Int) = {
    import spark.implicits._
    (1 to n).map { k =>
      val id = rnd.nextInt(5000)
      FileListing(
        s"/vol${id % 3}/d${id % 7}/f$id/[${1980 + id % 40}] Movie ${id % 59}.mkv",
        math.abs(rnd.nextLong() % (1L << 40)), s"vol${id % 3}")
    }.distinctBy(_.path).toDF("path", "sizeBytes", "volume")
  }

  test("TSV render/parse round-trip recovers typed fields") {
    import spark.implicits._
    val listing = randomListing(300)
    val built = VideoPipeline.build(listing, Seq.empty[(String, Long)]
      .toDF("path", "size_bytes"), new StubProber)
    val parsed = Tsv.parseLines(
      Tsv.renderLines(built).withColumnRenamed("line", "value"))
    val a = built.select(
        coalesce($"width", lit(0)).as("width"), $"size_bytes", $"title",
        $"compression_candidate", $"volume", $"path_on_volume")
      .collect().map(_.toSeq).toSet
    val b = parsed.select(
        coalesce($"width", lit(0)).as("width"), $"size_bytes", $"title",
        $"compression_candidate", $"volume", $"path_on_volume")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("anti-join novel set is disjoint from existing and covers incoming") {
    val incoming = randomListing(400)
    val existing = incoming.sample(withReplacement = false, 0.5, seed = 7)
      .select("path")
    val novel = VideoPipeline.novelFiles(incoming, existing)
    assert(novel.join(existing, Seq("path"), "inner").count() == 0)
    assert(novel.count() + existing.join(incoming, Seq("path"), "left_semi").count()
      == incoming.count())
  }

  test("fileStem equals the regexp_extract stem on edge paths") {
    import spark.implicits._
    val paths = Seq("Movie.mkv", "/vol0/d1/", "/vol0/.hidden", "/a/b.c.d.mkv",
      "/v/d/f7/[2001] Film [4K][3D][AV1].mkv",
      "/vol/\u0424\u0438\u043b\u044c\u043c/[1999] \u00cblan \u6771\u4eac.mp4",
      "", null, "/a/b/noext", "D:/x/y.avi", "/a//b.mkv", "/a/b.", "/a.b/c")
    val old = regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1), "\\.[^.]*$", "")
    val rows = paths.toDF("path").repartition(2)
      .select(col("path"), graft.functions.VideoFns.fileStem(col("path")), old).collect()
    assert(rows.length == paths.length)
    rows.foreach(r => assert(r.get(1) == r.get(2), s"path ${r.get(0)}"))
  }

  test("anti-join matches drive-letter listings against their stripped db paths") {
    import spark.implicits._
    val incoming = Seq("D:/lib/f1/a.mkv", "c:/lib/f2/b.mkv", "/lib/f3/c.mkv", "E:/lib/f4/d.mkv")
      .toDF("path")
    val existing = Seq("/lib/f1/a.mkv", "/lib/f2/b.mkv", "/lib/f3/c.mkv").toDF("path")
    assert(VideoPipeline.novelFiles(incoming, existing).collect().map(_.getString(0))
      .toSeq == Seq("E:/lib/f4/d.mkv"))
  }

  test("variant reports on fileStem equal their regexp_extract forms") {
    import spark.implicits._
    import graft.functions.VideoFns._
    val built = VideoPipeline.build(randomListing(500), Seq.empty[(String, Long)]
      .toDF("path", "size_bytes"), new StubProber).repartition(3)
    val base = regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1), "\\.[^.]*$", "")
    val wantGroups = built
      .withColumn("parsed_title", parseTitleUdf(base))
      .withColumn("release_year", parseYearUdf(base))
      .groupBy(col("parsed_title"))
      .agg(count(lit(1)).as("n_variants"), min(col("size_bytes")).as("min_size"),
           max(col("size_bytes")).as("max_size"),
           countDistinct(col("release_year")).as("n_years"))
      .filter(col("n_variants") > 1)
      .orderBy(col("parsed_title"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("parsed_title"))
    val wantRows = built
      .withColumn("parsed_title", parseTitleUdf(base))
      .withColumn("n_variants", count(lit(1)).over(w))
      .filter(col("n_variants") > 1)
      .select(col("parsed_title"), col("width"), col("height"),
              col("duration_s"), col("size_bytes"), col("volume"), col("path"))
      .orderBy(col("parsed_title"), col("width").asc_nulls_first,
        col("height").asc_nulls_first, col("path").desc)
    val groups = VideoPipeline.variants(built)
    val rows = VideoPipeline.variantDetails(built)
    assert(groups.schema == wantGroups.schema)
    assert(groups.collect().toSeq == wantGroups.collect().toSeq)
    assert(rows.collect().toSeq == wantRows.collect().toSeq)
    assert(groups.count() > 1 && groups.filter(col("n_years") > 1).count() > 0,
      "the fixture must hold titles with several variants and years")
  }

  test("merge preserves row multiplicity (union all)") {
    val a = randomListing(150)
    val b = randomListing(100)
    assert(VideoPipeline.merge(
      Seq(VideoPipeline.scanFilters(a), VideoPipeline.scanFilters(b))
        .map(df => VideoPipeline.deriveColumns(
          VideoPipeline.probeStage(df, new StubProber)))).count()
      == VideoPipeline.scanFilters(a).count() + VideoPipeline.scanFilters(b).count())
  }

  test("whole-line sort is a descending permutation") {
    import spark.implicits._
    val built = VideoPipeline.build(randomListing(200),
      Seq.empty[(String, Long)].toDF("path", "size_bytes"), new StubProber)
    val lines = Tsv.renderLines(built)
    val sorted = Tsv.sortLinesDesc(lines).as[String].collect()
    assert(sorted.sorted(Ordering[String].reverse).toSeq == sorted.toSeq)
    assert(sorted.sorted.toSeq == lines.as[String].collect().sorted.toSeq)
  }

  // ------------------------------------------- round-5 kernel properties

  test("vec_dot_int equals a BigInt reference on random int vectors") {
    val rnd = new scala.util.Random(31L)
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(80)
      val a = Array.fill(n)(rnd.nextInt(255) - 127)
      val b = Array.fill(n)(rnd.nextInt(255) - 127)
      val want = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      val got = graft.functions.VectorOps.dotInt(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b))
      assert(BigInt(got) == want, s"n=$n")
    }
  }

  test("dhash: self-distance 0; one flipped byte moves at most 2 bits (n >= 33)") {
    val rnd = new scala.util.Random(47L)
    def rec(bytes: Array[Byte]) =
      graft.ext.MediaRecord(1L, bytes, "jpeg", 320, 180)
    val dec = new graft.ext.StubDecoder
    (1 to 200).foreach { _ =>
      val n = 33 + rnd.nextInt(400)
      val bytes = Array.fill(n)(rnd.nextInt(256).toByte)
      val sig = dec.dhash(rec(bytes))
      assert(sig == dec.dhash(rec(bytes.clone())))
      val mutated = bytes.clone()
      val j = rnd.nextInt(n)
      mutated(j) = (mutated(j) ^ 0x5f).toByte
      val d = java.lang.Long.bitCount(sig ^ dec.dhash(rec(mutated)))
      // index j is sampled at most once for n >= 33, touching at most
      // the bit where it is the right point and the one where it is left
      assert(d <= 2, s"n=$n j=$j moved $d bits")
    }
  }

  test("rolling_hashes equals composed per-window poly_hash on random strings") {
    import spark.implicits._
    graft.functions.PolyHash.register(spark)
    val rnd = new scala.util.Random(59L)
    graft.functions.RollingHashes.register(spark)
    val ws = Seq(1, 3, 7, 16)
    ws.foreach { w =>
      val texts = (1 to 40).map(_ =>
        (0 until rnd.nextInt(60)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
      val df = texts.toDF("text")
      val composed = df.selectExpr(
        s"""CASE WHEN length(text) < $w THEN array()
           |ELSE transform(sequence(1, length(text) - $w + 1),
           |  i -> poly_hash(substring(text, i, $w), ${ext.Dedup.SubstrBase}, ${ext.Dedup.SubstrMod}))
           |END AS hs""".stripMargin).collect().map(_.getSeq[Long](0))
      val rolled = df.selectExpr(
        s"rolling_hashes(text, $w, ${ext.Dedup.SubstrBase}, ${ext.Dedup.SubstrMod}) AS hs")
        .collect().map(_.getSeq[Long](0))
      composed.zip(rolled).zip(texts).foreach { case ((c, r), t) =>
        assert(c == r, s"w=$w text='$t'")
      }
    }
  }

  test("TopTermsByScore equals the sort-take reference on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(67L)
    val rows = (1 to 400).map(i =>
      (rnd.nextInt(9), rnd.nextInt(40).toDouble, s"t${rnd.nextInt(120)}-$i"))
    val df = rows.toDF("g", "score", "term")
    val topTerms = graft.functions.BoundedTopK.topTerms(5)
    val got = df.repartition(11).groupBy("g")
      .agg(topTerms(col("score"), col("term")).as("top"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getString(1))))
      .toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3))
        .sortBy { case (s, t) => (-s, t) }.take(5)
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (g, w) => assert(got(g) == w, s"group $g") }
  }
}
