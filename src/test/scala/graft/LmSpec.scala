package graft

import org.apache.spark.sql.functions._
import graft.ext._

/** Specs for the round-5 LM/scrub/quantized operators (q66-q70). */
class LmSpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf)
  lazy val emb = Tables.embeddings(spark, sf)

  test("q66 bigram LM: hand-computed add-1 ppm scores on a tiny corpus") {
    import spark.implicits._
    // corpus: c(a)=3 c(b)=3 c(c)=1, V=3; bigrams "a b"x3, "b a", "b c"
    val tiny = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = Lm.bigramLmScores(tiny).collect()
      .map(x => x.getLong(0) -> (x.getAs[Long]("n_bigrams"), x.getAs[Long]("lm_ppm")))
      .toMap
    // p(a b) = 1e6*4 div 6 = 666666; p(b a) = p(b c) = 1e6*2 div 6 = 333333
    assert(r(1L) == ((3L, (666666L * 2 + 333333L) / 3)))  // 555555
    assert(r(2L) == ((2L, (666666L + 333333L) / 2)))      // 499999
  }

  test("q66: sub-2-token docs are excluded; scores are valid ppm") {
    import spark.implicits._
    val mixed = Seq((1L, "only"), (2L, ""), (3L, "two tokens")).toDF("doc_id", "text")
    val r = Lm.bigramLmScores(mixed).collect()
    assert(r.map(_.getLong(0)).toSet == Set(3L))
    val full = Lm.bigramLmScores(docs).collect()
    full.foreach { x =>
      val p = x.getAs[Long]("lm_ppm")
      assert(p >= 0 && p <= 1000000, s"ppm out of range: $p")
    }
  }

  test("q67 collocations: a perfectly-dependent pair tops half-dependent ones") {
    import spark.implicits._
    // "x y": x ALWAYS followed by y (cl = cr = c12 = 12 -> lift = 1e6*N/12);
    // "a" is followed by b half the time and c half the time, so every
    // a-pair has cl(a) = 24 -> lift = 1e6*N/24, exactly half
    val text = (1 to 12).map(_ => "x y a b a c").mkString(" ")
    val tiny = Seq((1L, text)).toDF("doc_id", "text")
    val r = Lm.collocations(tiny).collect()
    val n = 6 * 12 - 1 // total bigram occurrences
    val lifts = r.map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("lift_e6")).toMap
    assert(lifts(("x", "y")) == 1000000L * n / 12)
    // every pair led by the promiscuous token caps at exactly half
    lifts.filter(_._1._1 == "a").values.foreach { l =>
      assert(l <= 1000000L * n / 24, s"half-dependent pairs cap at half the lift")
    }
    // ((c,x) is ALSO perfectly dependent — the chain wraps — and at c12=11
    // its lift is higher still: rarer exclusive pairs score higher, the
    // defining PMI property, so assert order between the a-pairs and (x,y))
    val aBest = lifts.filter(_._1._1 == "a").values.max
    assert(lifts(("x", "y")) > aBest)
    assert(r.length <= Lm.CollocTopK)
  }

  test("q67: past the exact-lift BIGINT bound the query fails LOUDLY, never wraps") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 30).map(_ => "x y").mkString(" ")))
      .toDF("doc_id", "text")
    // same corpus, bound lowered under its 59 bigrams: the REAL guard
    // path (the q16/q32 packGuard discipline) must raise, not wrap
    val err = intercept[Exception] {
      Lm.collocations(docs, maxN = 10).collect()
    }
    assert(err.getMessage.contains("exact-lift BIGINT bound"),
      s"wrong failure: ${err.getMessage.take(200)}")
    // at the default bound the same corpus answers normally
    assert(Lm.collocations(docs).count() > 0)
  }

  test("q67: deterministic across partitionings; count floor respected") {
    val base = Lm.collocations(docs).collect().toSeq
    val repart = Lm.collocations(docs.repartition(7)).collect().toSeq
    assert(base == repart, "collocation report must be partition-invariant")
    base.foreach(x => assert(x.getAs[Long]("c12") >= Lm.CollocMinCount))
  }

  test("q68 tf-idf: rare terms win; score ties break on token ASC") {
    import spark.implicits._
    val tiny = Seq((1L, "rare common common"), (2L, "common common other"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.tfIdfTopTerms(tiny).collect()
      .map(x => (x.getLong(0), x.getAs[Int]("rank")) ->
        (x.getAs[String]("token"), x.getAs[Long]("score_e6"))).toMap
    // n_docs=2: idf_e6(common)=1e6, idf(rare)=idf(other)=2e6
    // doc1: rare 1*2e6 = common 2*1e6 — tie, 'common' < 'rare'
    assert(r((1L, 1)) == (("common", 2000000L)))
    assert(r((1L, 2)) == (("rare", 2000000L)))
    assert(r((2L, 1)) == (("common", 2000000L)))
    assert(r((2L, 2)) == (("other", 2000000L)))
  }

  test("TopTermsByScore: merge-order invariant, caps at k, ranks NaN first") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i => (i % 7, rnd.nextDouble(), s"t$i")) :+
      ((3, Double.NaN, "nan-term"))
    val df = rows.toDF("g", "score", "term")
    val topTerms = graft.functions.BoundedTopK.topTerms(4)
    def run(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("g").agg(topTerms(col("score"), col("term")).as("top"))
        .collect().map(r => r.getInt(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(_.getString(1))).toMap
    val a = run(df.repartition(1))
    val b = run(df.repartition(13))
    assert(a == b, "bounded term heap must be merge-order invariant")
    assert(a.values.forall(_.length == 4))
    assert(a(3).head == "nan-term", "NaN ranks first under the total order")
  }

  test("q70 scrub: crafted PII is redacted, counted, and byte-verified") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "email bob@example.com call 555-123-4567 at 10.0.0.1 the customer agrees"),
      (2L, "no pii here just a supplier note"),
      (3L, "two mails a@b.io c.d@e-f.org and ip 192.168.0.255")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(crafted).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_email") == 1)
    assert(r(1L).getAs[Long]("n_phone") == 1)
    assert(r(1L).getAs[Long]("n_ipv4") == 1)
    assert(r(1L).getAs[Long]("n_blocked") == 1)
    assert(r(2L).getAs[Long]("n_blocked") == 1)
    assert(r(3L).getAs[Long]("n_email") == 2)
    assert(r(3L).getAs[Long]("n_ipv4") == 1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r(1L).getAs[String]("scrub_md5") ==
      md5hex(" email <EMAIL> call <PHONE> at <IPV4> the <TERM> agrees "))
    assert(r(2L).getAs[String]("scrub_md5") ==
      md5hex(" no pii here just a <TERM> note "))
  }

  test("q70: fixture corpus has zero regex PII but the blocklist engages") {
    val r = TextAnalysis.piiScrub(docs).collect()
    assert(r.forall(x => x.getAs[Long]("n_email") == 0 &&
      x.getAs[Long]("n_ipv4") == 0 && x.getAs[Long]("n_phone") == 0))
    assert(r.exists(_.getAs[Long]("n_blocked") > 0),
      "the fixture vocabulary contains blocklist terms — the scrub must fire")
  }

  test("q69 quantized top-k: high recall vs the exact float inner-product ranking") {
    graft.functions.VectorOps.register(spark)
    // exact float MIPS top-5 per query (same query set as q69)
    val v = emb.select(col("vec_id"), col("embedding"))
    val q = v.filter(col("vec_id") % Similarity.QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val exact = v.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        expr("vec_dot(q_emb, embedding)").as("dot"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dot").desc, col("cand_id"))
    val exactTop = exact.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= Similarity.TopK)
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val quantTop = Similarity.quantizedTopK(emb).collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("cand_id")).toSet }
    assert(quantTop.keySet == exactTop.keySet)
    val recalls = exactTop.map { case (k, ex) =>
      quantTop(k).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"int8 quantization should barely move top-5: recall=$mean")
  }

  test("q69: degenerate all-zero corpus quantizes to zeros, no NaN") {
    import spark.implicits._
    val zeros = (0L to 30L).map(i => (i, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizedTopK(zeros).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("qdot") == 0L))
  }

  test("quantized: all-zero corpus, exact ±127 at the max |x|, a one-vector corpus") {
    import spark.implicits._
    def qembs(rows: Seq[(Long, Array[Float])]): Seq[Seq[Int]] =
      Similarity.quantized(rows.toDF("vec_id", "embedding"))
        .orderBy("vec_id").select("qemb").as[Seq[Int]].collect().toSeq
    // the 1e-30 floor: 0/0 would be NaN, and a NaN cast is 0 only by luck
    val zeros = qembs((0L to 3L).map(i => (i, Array.fill(4)(0.0f))))
    assert(zeros.forall(_ == Seq(0, 0, 0, 0)), s"all-zero corpus: $zeros")
    val mixed = qembs(Seq(
      (1L, Array(0.5f, -2.0f, 0.0f)), (2L, Array(1.0f, 0.25f, -0.5f))))
    assert(mixed.head(1) == -127, s"the max |x| element must map to -127: $mixed")
    assert(mixed.flatten.forall(q => q >= -127 && q <= 127))
    assert(qembs(Seq((1L, Array(0.3f, -0.1f)))).flatten.max == 127,
      "the max |x| element must map to +127")
    val one = qembs(Seq((7L, Array(2.0f, -1.0f, 0.0f))))
    assert(one == Seq(Seq(127, -63, 0)), s"one-vector corpus: $one")
  }

  test("vec_dot_int: codegen kernel equals a hand computation; type-checked") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val df = Seq((Array(1, -2, 3, 127), Array(4, 5, -6, 127))).toDF("a", "b")
    val got = df.selectExpr("vec_dot_int(a, b)").head().getLong(0)
    assert(got == (4L - 10 - 18 + 127L * 127))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1.0f), Array(1))).toDF("a", "b")
        .selectExpr("vec_dot_int(a, b)").collect()
    }
    assert(err.getMessage.contains("array<int>"))
  }

  test("q71 drift: identical-mix sources score 0; disjoint vocabularies score high") {
    import spark.implicits._
    // two sources with the same distribution -> every diff_bp is 0
    val same = Seq((1L, "x x y", "srcA"), (2L, "x x y", "srcB"))
      .toDF("doc_id", "text", "source")
    Lm.sourceDrift(same).collect().foreach { r =>
      assert(r.getAs[Long]("drift_l2e8") == 0L, s"identical mix must not drift: $r")
    }
    // disjoint vocabularies: each source is 100% its own token, corpus
    // is 50/50 -> per token diff = +/-5000 bp, l2 = 2 * 5000^2
    val disj = Seq((1L, "x x x", "srcA"), (2L, "y y y", "srcB"))
      .toDF("doc_id", "text", "source")
    Lm.sourceDrift(disj).collect().foreach { r =>
      assert(r.getAs[Long]("drift_l2e8") == 2L * 5000 * 5000, s"$r")
    }
  }

  test("q71: absent tokens contribute their corpus term (no inner-join blind spot)") {
    import spark.implicits._
    // srcB never emits 'x'; x is 3/4 of the corpus. If absent tokens were
    // dropped, srcB's drift would miss the dominant term.
    val docs = Seq((1L, "x x x", "srcA"), (2L, "y", "srcB"))
      .toDF("doc_id", "text", "source")
    val r = Lm.sourceDrift(docs).collect()
      .map(x => x.getString(0) -> x.getAs[Long]("drift_l2e8")).toMap
    // srcB: x: 0 - 7500 = -7500; y: 10000 - 2500 = +7500
    assert(r("srcB") == 7500L * 7500 * 2)
    // srcA: x: 10000 - 7500; y: 0 - 2500
    assert(r("srcA") == 2500L * 2500 * 2)
  }

  test("q77 sampled collocations: mod=1 degenerates to the exact path bit-for-bit") {
    val exact = Lm.collocations(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val sampled = Lm.collocationsSampled(docs, sampleMod = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(sampled.toSeq == exact.toSeq,
      "sampleMod=1 must reproduce the exact lift report (c12_est = c12)")
  }

  test("q77: answers where the exact path's BIGINT bound trips; guard still floors") {
    // force the exact bound down to the fixture's scale: exact raises,
    // the sampled path (same bound, 1/4 the counts) still answers
    val n = Lm.bigramLmScores(docs).agg(sum(col("n_bigrams"))).head.getLong(0)
    val tight = n - 1
    val ex = intercept[Exception] {
      Lm.collocations(docs, maxN = tight).collect()
    }
    assert(ex.getMessage.contains("exact-lift"), s"wrong failure: ${ex.getMessage}")
    val sampled = Lm.collocationsSampled(docs, sampleMod = 4, maxN = tight)
    assert(sampled.count() > 0, "sampled lift must answer under the tight bound")
    // and the sampled guard itself fires when even the sample overflows
    val ex2 = intercept[Exception] {
      Lm.collocationsSampled(docs, sampleMod = 4, maxN = 10).collect()
    }
    assert(ex2.getMessage.contains("raise sampleMod"), s"${ex2.getMessage}")
  }

  test("q77: sampled head estimates track the exact lift report on the fixture") {
    // head-statistic sanity: among pairs the sample can see (c12_est
    // floor), the sampled top-K must recover a solid share of the exact
    // top-K pair set — this is the estimator-quality contract, spec'd
    // rather than assumed
    val exactTop = Lm.collocations(docs).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val sampledTop = Lm.collocationsSampled(docs, sampleMod = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val overlap = (exactTop & sampledTop).size.toDouble / exactTop.size
    assert(overlap >= 0.3,
      f"sampled top-K recovered only $overlap%.2f of the exact head")
  }

  test("q71: split shape equals the full |sources|x|vocab| grid on the fixture") {
    // the observed/hot-absent decomposition must be EXACT, not a trim:
    // re-derive the drift with the naive full-grid formula and compare.
    // AQE off so the mid-plan hot-vocab Observation survives (the
    // round-3 rehearsal lesson).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val obs = new org.apache.spark.sql.Observation()
      val got = Lm.sourceDrift(docs, hotObs = Some(obs)).collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("drift_l2e8"))).toMap
      val toks = docs.select(col("source"),
        explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val bySrc = toks.groupBy("source", "token").agg(count(lit(1)).as("o"))
      val srcMass = bySrc.groupBy("source").agg(sum(col("o")).as("s_mass"))
      val corpus = bySrc.groupBy("token").agg(sum(col("o")).as("c"))
      val tMass = corpus.agg(sum(col("c")).as("t_mass"))
      val want = srcMass.crossJoin(corpus.crossJoin(tMass))
        .join(bySrc, Seq("source", "token"), "left")
        .select(col("source"), col("s_mass"),
          (expr("(10000 * coalesce(o, 0)) div s_mass") -
            expr("(10000 * c) div t_mass")).as("d"))
        .groupBy("source")
        .agg(min(col("s_mass")).as("n_tokens"),
             sum(col("d") * col("d")).as("drift_l2e8"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("drift_l2e8"))).toMap
      assert(got == want, "split drift must equal the grid drift exactly")
      // the broadcast side is bounded by arithmetic: <= 1e4 hot tokens
      val hot = obs.get("hot_vocab").asInstanceOf[Long]
      assert(hot > 0 && hot <= 10000L, s"hot vocabulary out of bound: $hot")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("rolling_hashes: equals per-window poly_hash composition, incl. non-ASCII") {
    import spark.implicits._
    graft.functions.PolyHash.register(spark)
    graft.functions.RollingHashes.register(spark)
    val texts = Seq("abcdefghij", "exact", "tiny", "", "été café über",
      "aaaaaaaaaa", "one two three")
    val df = texts.toDF("text")
    val composed = df.selectExpr(
      s"""CASE WHEN length(text) < 5 THEN array()
         |ELSE transform(sequence(1, length(text) - 4),
         |  i -> poly_hash(substring(text, i, 5), ${ext.Dedup.SubstrBase}, ${ext.Dedup.SubstrMod}))
         |END AS hs""".stripMargin)
      .collect().map(_.getSeq[Long](0))
    val rolled = df.selectExpr(
      s"rolling_hashes(text, 5, ${ext.Dedup.SubstrBase}, ${ext.Dedup.SubstrMod}) AS hs")
      .collect().map(_.getSeq[Long](0))
    composed.zip(rolled).zip(texts).foreach { case ((c, r), t) =>
      assert(c == r, s"rolling mismatch for '$t': $c vs $r")
    }
    // two windows in ONE query — impossible under frozen-at-registration
    // params; each call carries its own constants through the plan
    val both = df.filter(length(col("text")) >= 7).selectExpr(
      s"rolling_hashes(text, 5, 31, 1000000007) AS h5",
      s"rolling_hashes(text, 7, 31, 1000000007) AS h7").collect()
    both.foreach(r =>
      assert(r.getSeq[Long](0).length == r.getSeq[Long](1).length + 2))
  }

  test("rolling_hashes: non-foldable parameter rejected with a clear message") {
    import spark.implicits._
    graft.functions.RollingHashes.register(spark)
    val df = Seq(("abcdef", 3)).toDF("text", "w")
    val e = intercept[Exception] {
      df.selectExpr("rolling_hashes(text, w, 31, 1000000007)").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("must be a constant (foldable)")),
      s"expected the foldability message, got: $e")
  }

  test("q72 substring dups: shared passage found, run length exact, clones saturate") {
    import spark.implicits._
    val w = ext.Dedup.SubstrWindow
    val passage = "the quick brown fox jumps over the lazy dg" + "12345678" // 50 chars
    assert(passage.length == 50)
    val docs = Seq(
      (1L, s"AA prefix one ${passage} suffix alpha beta gamma"),
      (2L, s"totally different opener ${passage} and another closer"),
      (3L, "no shared content here at all just unique words nothing else"),
      (4L, "short"),
      (5L, s"AA prefix one ${passage} suffix alpha beta gamma")) // clone of 1
      .toDF("doc_id", "text")
    val r = ext.Dedup.substringDups(docs).collect()
      .map(x => x.getLong(0) -> (x.getAs[Long]("n_windows"),
        x.getAs[Long]("n_shared"), x.getAs[Long]("max_run"))).toMap
    // doc 3: nothing shared; doc 4: too short for one window
    assert(r(3L)._2 == 0 && r(3L)._3 == 0)
    assert(r(4L) == ((0L, 0L, 0L)))
    // docs 1 and 5 are clones: every window shared, one full-length run
    assert(r(1L)._2 == r(1L)._1 && r(1L)._3 == r(1L)._1)
    assert(r(5L) == r(1L))
    // doc 2 shares the passage with 1/5 — the shared region includes the
    // flanking spaces present on both sides in both docs: 52 chars total,
    // so the run is 52 - W + 1 (the chars beyond the spaces differ)
    assert(r(2L)._3 == 52 - w + 1, s"expected run ${52 - w + 1}, got ${r(2L)}")
    assert(r(2L)._2 == 52 - w + 1)
  }

  test("round-5 operators degrade sanely on empty and degenerate corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    assert(Lm.bigramLmScores(empty).count() == 0)
    assert(Lm.collocations(empty).count() == 0)
    assert(Lm.sourceDrift(empty).count() == 0)
    assert(TextAnalysis.tfIdfTopTerms(empty).count() == 0)
    assert(TextAnalysis.piiScrub(empty).count() == 0)
    assert(Similarity.kmeansStep(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")).count() == 0)
    assert(Multimodal.phashNearDups(
      Multimodal.attachPayload(empty), new StubDecoder).count() == 0)
    // degenerate rows: empty text, whitespace, single token, unicode
    val weird = Seq((1L, "", "srcA"), (2L, "   ", "srcA"), (3L, "solo", "srcB"),
      (4L, "été café über naïve again été", "srcC"))
      .toDF("doc_id", "text", "source")
    assert(TextAnalysis.piiScrub(weird).count() == 4)   // scrub keeps every doc
    assert(Lm.sourceDrift(weird).collect()
      .forall(_.getAs[Long]("drift_l2e8") >= 0))
    // split-on-space semantics: doc 2 ("   ") is four EMPTY tokens (3
    // bigrams of empties — kept, same as the oracle), docs 1/3 are
    // single-token and excluded, doc 4 has real bigrams
    assert(Lm.bigramLmScores(weird).count() == 2)
    Multimodal.phashNearDups(Multimodal.attachPayload(weird), new StubDecoder)
      .collect()                                         // must not throw on empty payloads
  }

  test("q72: empty corpus and all-unique corpus degrade to zeros") {
    import spark.implicits._
    assert(ext.Dedup.substringDups(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
    val uniq = Seq((1L, ('a' to 'z').mkString(" ") + " unique trailing content one"),
      (2L, ('A' to 'Z').mkString(" ") + " other trailing content two"))
      .toDF("doc_id", "text")
    ext.Dedup.substringDups(uniq).collect().foreach { x =>
      assert(x.getAs[Long]("n_shared") == 0 && x.getAs[Long]("max_run") == 0)
    }
  }

  test("q73 k-means step: hand-computed integer centroid update; partition-invariant") {
    import spark.implicits._
    // centroids = vec_id % 50 == 0 -> ids 0 and 50; two members each.
    // maxabs = 1.0 -> scale 127: q(1.0)=127, q(0.9)=114, q(0.1)=13
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f)), (50L, Array(0.0f, 1.0f)),
      (1L, Array(0.9f, 0.1f)), (51L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansStep(tiny).collect()
      .map(x => (x.getLong(0), x.getInt(1)) ->
        (x.getAs[Long]("n_members"), x.getAs[Long]("sum_q"), x.getAs[Long]("mean_q")))
      .toMap
    assert(r((0L, 0)) == ((2L, 241L, 120L)))  // 127 + 114
    assert(r((0L, 1)) == ((2L, 13L, 6L)))     // 0 + 13
    assert(r((50L, 0)) == ((2L, 13L, 6L)))
    assert(r((50L, 1)) == ((2L, 241L, 120L)))
    // mergeable by construction: any partitioning yields the same update
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.kmeansStep(emb).collect().toSeq
    val b = Similarity.kmeansStep(emb.repartition(7)).collect().toSeq
    assert(a == b, "integer centroid update must be partition-invariant")
  }

  test("q74 pHash: controlled bit flips — bound respected, pigeonhole recall exact") {
    import spark.implicits._
    // 33-char texts make the dHash sampling the identity map (idx_k = k),
    // so single characters control single signature bits:
    //   A: all 'a'            -> sig 0
    //   B: c10='b'            -> bit 9  (hamming(A,B) = 1)
    //   C: c5='b', c20='b'    -> bits 4 and 19 (hamming(A,C) = 2, split
    //      across bands 0 and 1 — only band 2 matches: pigeonhole path)
    //   hamming(B,C) = 3      -> must NOT pair
    val base = "a" * 33
    def flip(s: String, i: Int) = s.updated(i, 'b')
    val docs = Seq(
      (1L, base), (2L, flip(base, 10)), (3L, flip(flip(base, 5), 20)))
      .toDF("doc_id", "text")
    val r = Multimodal.phashNearDups(
      Multimodal.attachPayload(docs), new StubDecoder).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getAs[Long]("hamming")).toMap
    assert(r == Map((1L, 2L) -> 1L, (1L, 3L) -> 2L),
      s"expected exactly (A,B)@1 and (A,C)@2, got $r")
  }

  test("q74: identical payloads pair at hamming 0; exactly-once across bands") {
    import spark.implicits._
    // identical sigs match EVERY band — the first-match predicate must
    // still emit the pair exactly once
    val docs = Seq((1L, "xyz " * 20), (2L, "xyz " * 20), (3L, "entirely different content here"))
      .toDF("doc_id", "text")
    val rows = Multimodal.phashNearDups(
      Multimodal.attachPayload(docs), new StubDecoder).collect()
    assert(rows.count(x => x.getLong(0) == 1L && x.getLong(1) == 2L) == 1)
    assert(rows.filter(x => x.getLong(0) == 1L && x.getLong(1) == 2L)
      .head.getAs[Long]("hamming") == 0L)
  }

  test("q69 quantization: elements clamped to the int8 range, max hits 127") {
    graft.functions.VectorOps.register(spark)
    import spark.implicits._
    val v = Seq((1L, Array(0.5f, -1.0f)), (2L, Array(2.0f, 0.25f)))
      .toDF("vec_id", "embedding")
    val mx = v.select(max(expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, e) -> greatest(acc, abs(CAST(e AS DOUBLE))))"))
      .as("mx"))
    val quant = v.crossJoin(broadcast(mx)).selectExpr("vec_id",
      s"transform(embedding, e -> CAST(greatest(-127, least(127, " +
        s"floor(CAST(e AS DOUBLE) * (127.0 / greatest(mx, 1e-30d)) + 0.5d))) AS INT)) AS q")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(quant(2L) == Seq(127, 16))   // 2.0 is the corpus max; 0.25*63.5+0.5 -> 16
    assert(quant(1L) == Seq(32, -63))   // 0.5*63.5=31.75->32; -1.0*63.5+0.5=-63
    quant.values.flatten.foreach(x => assert(x >= -127 && x <= 127))
  }
}
