package graft

import org.apache.spark.sql.functions._
import graft.ext._

/** Behavior specs for the curation operators (q48-q52) on crafted
  * corpora with hand-computed expectations. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("q48 filter verdicts: first failing rule wins, all-integer signals") {
    // d1: 10 tokens -> too_short (even though it also has no stopwords)
    val d1 = Seq.fill(10)("word").mkString(" ")
    // d2: 30 x "hello": mwl_c = 100*150/30 = 500 (in band), no stopwords
    val d2 = Seq.fill(30)("hello").mkString(" ")
    // d3: "the of" x20: mwl_c = 100*100/40 = 250 < 300 -> word_length
    val d3 = Seq.fill(20)("the of").mkString(" ")
    // d4: 28 distinct 4-char words + "the of": mwl_c = 390, 2 stopwords,
    // all 3-grams distinct -> pass
    val d4 = ((0 until 28).map(i => f"w$i%03d") ++ Seq("the", "of")).mkString(" ")
    // d5: "abcd efgh the" x10: mwl_c = 366, 10 stopwords, 3 distinct
    // 3-grams of 28 -> dup_e4 = 8928 -> repetition
    val d5 = Seq.fill(10)("abcd efgh the").mkString(" ")
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .toDF("doc_id", "text")
    val got = Curation.filterVerdicts(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), r.getAs[Long]("passed"))).toMap
    assert(got == Map(
      1L -> ("too_short", 0L), 2L -> ("stopword", 0L),
      3L -> ("word_length", 0L), 4L -> ("pass", 1L),
      5L -> ("repetition", 0L)))
  }

  test("q49 token rarity: exact integer surprisal on a two-doc corpus") {
    // tokens: a x5, b x1 -> total 6; rarity(a) = 10000*6/5 = 12000,
    // rarity(b) = 60000
    val docs = Seq((1L, "a a a a"), (2L, "a b")).toDF("doc_id", "text")
    val got = Curation.tokenRarity(docs).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("mean_rarity_e4")))
    assert(got.toSeq == Seq((1L, 4L, 12000L), (2L, 2L, 36000L)))
  }

  test("q50 incremental dedup: exact clone hits all bands, novel doc silent") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "iota kappa lambda mu nu xi omicron pi"
    val novel = "uno dos tres cuatro cinco seis siete ocho"
    val docs = Seq(
      (1L, t1, "old"), (2L, t2, "old"),
      (11L, t1, "src0"), (12L, novel, "src0"))
      .toDF("doc_id", "text", "source")
    val got = Curation.incrementalDedup(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hit_bands")).toMap
    assert(got == Map(11L -> Dedup.NumBands.toLong),
      s"clone must hit every band; novel doc must not appear: $got")
  }

  test("q51 shard plan: exclusive prefix sum, per-source framing") {
    val text400 = Seq.fill(400)("w").mkString(" ")
    val docs = (1L to 5L).map(i => (s"s1", i, text400)) ++
      Seq(("s2", 10L, text400))
    val df = docs.toDF("source", "doc_id", "text")
    val got = Curation.shardPlan(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("shard")))
    // tokens_before in s1: 0,400,800,1200,1600 -> shards 0,0,0,1,1;
    // s2 restarts at shard 0
    assert(got.toSeq == Seq(
      ("s1", 1L, 0L), ("s1", 2L, 0L), ("s1", 3L, 0L),
      ("s1", 4L, 1L), ("s1", 5L, 1L), ("s2", 10L, 0L)))
  }

  test("q108 packed spans: straddles split exactly, hand-checked; fixture invariants") {
    // budget 256: d1 400 tokens -> spans [0,256) in seq 0 + [256,400) in
    // seq 1; d2 starts at offset 400 in seq 1 (seq_off 144) and spills
    // 44 tokens into seq 2; s2 restarts at seq 0
    val text400 = Seq.fill(400)("w").mkString(" ")
    val docs = Seq(("s1", 1L, text400), ("s1", 2L, text400),
      ("s2", 10L, text400)).toDF("source", "doc_id", "text")
    val got = Curation.packedSpans(docs).collect()
      .map(r => (r.getString(0), r.getAs[Long]("seq"), r.getLong(2),
        r.getAs[Long]("tok_start"), r.getAs[Long]("tok_len"),
        r.getAs[Long]("seq_off")))
    assert(got.toSeq == Seq(
      ("s1", 0L, 1L, 0L, 256L, 0L),
      ("s1", 1L, 1L, 256L, 144L, 0L),
      ("s1", 1L, 2L, 0L, 112L, 144L),
      ("s1", 2L, 2L, 112L, 256L, 0L),
      ("s1", 3L, 2L, 368L, 32L, 0L),
      ("s2", 0L, 10L, 0L, 256L, 0L),
      ("s2", 1L, 10L, 256L, 144L, 0L)))
    // fixture invariants: spans tile every doc exactly (nothing lost at
    // cuts), every non-last sequence per source is exactly L, and the
    // fixture actually exercises the straddle path
    val fx = Tables.documents(spark, sf)
    val spans = Curation.packedSpans(fx)
    val perDoc = spans.groupBy("source", "doc_id")
      .agg(sum("tok_len").as("got"), count(lit(1)).as("n_spans"))
    val want = fx.select(col("source"), col("doc_id"),
      expr("CAST(size(split(text, ' ')) AS LONG)").as("n_tokens"))
    assert(perDoc.join(want, Seq("source", "doc_id"))
      .filter(col("got") =!= col("n_tokens")).count() == 0,
      "span lengths must sum to the doc's token count")
    assert(perDoc.filter(col("n_spans") >= 2).count() > 0,
      "fixture must contain boundary-straddling docs")
    val perSeq = spans.groupBy("source", "seq").agg(sum("tok_len").as("filled"))
    val lastSeq = perSeq.groupBy("source").agg(max("seq").as("last"))
    assert(perSeq.join(lastSeq, "source").filter(col("seq") < col("last"))
      .filter(col("filled") =!= Curation.SeqTokens).count() == 0,
      "every non-last sequence must hold exactly L tokens")
  }

  test("q113 merge application: rank order, leftmost non-overlap, non-chaining") {
    def am(toks: Seq[String], ms: (String, String)*) =
      Curation.applyMerges(toks, ms.toArray)
    // leftmost-first, non-overlapping within a pass
    assert(am(Seq("a", "a", "a"), ("a", "a")) == Seq("a a", "a"))
    assert(am(Seq("a", "a", "a", "a"), ("a", "a")) == Seq("a a", "a a"))
    // rank order decides who consumes the shared token
    assert(am(Seq("a", "b", "c"), ("a", "b"), ("b", "c")) == Seq("a b", "c"))
    assert(am(Seq("a", "b", "c"), ("b", "c"), ("a", "b")) == Seq("a", "b c"))
    // non-chaining: a merged symbol ("a b") is never a merge operand,
    // so the rank-2 pair can't touch the already-merged prefix
    assert(am(Seq("a", "b", "b", "c"), ("a", "b"), ("b", "c")) ==
      Seq("a b", "b c"))
    // later ranks still fire on what earlier ranks left behind
    assert(am(Seq("x", "a", "b", "c", "c"), ("a", "b"), ("c", "c")) ==
      Seq("x", "a b", "c c"))
    // absent pairs are no-ops
    assert(am(Seq("p", "q"), ("z", "z")) == Seq("p", "q"))
  }

  test("q113 bpeEncode: a null-text doc has no row, every other row is unchanged") {
    val base = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "c d c d a b"))
    val plain = Curation.bpeEncode(base.toDF("doc_id", "text")).collect().toSeq
    val withNull = (base :+ ((4L, null: String))).toDF("doc_id", "text")
    val got = Curation.bpeEncode(withNull).collect().toSeq
    assert(plain.map(_.getLong(0)) == Seq(1L, 2L, 3L))
    assert(got == plain)
  }

  test("q113/q114: fixture invariants — compression, partition-invariance, span conservation") {
    val docs = Tables.documents(spark, sf)
    val enc = Curation.bpeEncode(docs)
    val ws = docs.select(col("doc_id"),
      expr("CAST(size(split(text, ' ')) AS LONG)").as("ws"))
    val j = enc.join(ws, "doc_id")
    assert(j.filter(col("n_tokens") > col("ws")).count() == 0,
      "merging can only shrink the token stream")
    assert(j.filter(col("n_tokens") < col("ws")).count() > 0,
      "the mined merge table must actually fire on the fixture")
    // deterministic under a different input partitioning (vocab ids and
    // id-sequence hashes must not depend on physical layout)
    assert(Curation.bpeEncode(docs.repartition(7)).collect().toSeq ==
      enc.collect().toSeq)
    // q114 spans tile the REAL token counts exactly (q108's Σ tok_len
    // invariant, now against tokenizer output)
    val perDoc = Curation.packedSpansBpe(docs)
      .groupBy("doc_id").agg(sum("tok_len").as("got"))
    assert(perDoc.join(enc, "doc_id")
      .filter(col("got") =!= col("n_tokens")).count() == 0,
      "q114 span lengths must sum to q113's token count per doc")
  }

  test("q111 corpus shuffle: complete seeded permutation, partition-invariant, seed-sensitive") {
    val docs = Tables.documents(spark, sf)
    def run(df: org.apache.spark.sql.DataFrame, seed: Long = 12345L) =
      Curation.corpusShuffle(df, seed).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = run(docs)
    // complete: every doc appears exactly once
    assert(a.map(_._3).sorted.toSeq ==
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // reproducible: identical under a different input partitioning
    assert(run(docs.repartition(7)).toSeq == a.toSeq)
    // a different seed is a different permutation
    assert(run(docs, seed = 424242L).map(_._3).toSeq != a.map(_._3).toSeq)
    // in-shard positions are contiguous 1..n
    a.groupBy(_._1).foreach { case (shard, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions must be 1..n")
    }
  }

  test("q191 interleave: driver replay of the rotation, partition-invariant, exhaustion") {
    val docs = Tables.documents(spark, sf)
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.sourceInterleave(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val got = run(docs)
    // independent replay: LCG keys -> within-source ranks -> sort by
    // (within_rank, source) — the interleave order, from first principles
    val base = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keyed = base.map { case (id, s) =>
      (id, s, (Curation.ShuffleMulA * (id % Curation.ShuffleMod) + Curation.InterleaveSeed) % Curation.ShuffleMod)
    }
    val ranks = keyed.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (r._3, r._1)).zipWithIndex
        .map { case ((id, s, _), i) => (id, s, i + 1L) }
    }
    val want = ranks.sortBy { case (_, s, r) => (r, s) }.zipWithIndex
      .map { case ((id, s, r), i) => (i + 1L, id, s, r) }
    assert(got.toSeq == want, "engine order == driver rotation replay")
    // the two-phase numbering must not depend on input partitioning
    assert(run(docs.repartition(7)).toSeq == got.toSeq)
    // drop-out semantics: with sources of unequal size the small
    // source contributes to early rounds then drops out
    import spark.implicits._
    val uneven = Seq((1L, "A"), (2L, "A"), (3L, "A"), (10L, "B"))
      .toDF("doc_id", "source")
    val u = Curation.sourceInterleave(uneven).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(u.map(_._1).toSeq == (1L to 4L).toSeq, "positions dense 1..n")
    val round1 = u.filter(_._3 == 1L).map(_._2).toSeq
    assert(round1 == Seq("A", "B"), "round 1 takes one doc from each source")
    assert(u.drop(2).forall(_._2 == "A"), "B exhausted after round 1")
  }

  test("q192 greedy coverage: full driver replay, gain telescoping, monotone gains") {
    val docs = Tables.documents(spark, sf)
    val got = Curation.greedyCoverage(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay: exact greedy max-coverage over bigram sets
    val bgs = docs.select("doc_id", "text").collect().map { r =>
      val t = r.getString(1).split(" ", -1)
      r.getLong(0) -> t.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).toMap
    var covered = Set.empty[String]
    var chosen = Set.empty[Long]
    val want = (1 to Curation.CoverageRounds).flatMap { r =>
      val cands = bgs.view.filterKeys(!chosen(_))
        .mapValues(s => (s -- covered).size.toLong).toSeq
        .filter(_._2 > 0)
      if (cands.isEmpty) None
      else {
        val (id, gain) = cands.minBy { case (d, g) => (-g, d) }
        chosen += id
        covered ++= bgs(id)
        Some((r.toLong, id, gain, covered.size.toLong))
      }
    }
    assert(got.toSeq == want, "engine rounds == exhaustive driver greedy")
    // covered_total telescopes: each round adds exactly its gain
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 == a._4 + b._3, "covered_total(r) = covered_total(r-1) + gain(r)")
    }
    assert(got.head._4 == got.head._3, "round 1 covers exactly its own gain")
    // submodularity: greedy marginal gains never increase
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, "marginal gains are non-increasing")
    }
  }

  test("q198 k-anonymity: ladder replay, monotone generalization, conservation") {
    val docs = Tables.documents(spark, sf)
    val rows = docs.filter(col("n_chars") > 0)
      .select("lang", "source", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1),
        (63 - java.lang.Long.numberOfLeadingZeros(r.getLong(2))).toLong))
    def summarize(key: ((String, String, Long)) => Product) = {
      val gs = rows.groupBy(key).values.map(_.size.toLong).toSeq
      (gs.size.toLong, gs.count(_ < Curation.AnonK).toLong,
        gs.filter(_ < Curation.AnonK).sum, gs.min)
    }
    val want = Seq(
      0 -> summarize(identity),
      1 -> summarize(t => (t._1, t._2)),
      2 -> summarize(t => Tuple1(t._1)),
      3 -> summarize(_ => Tuple1(0))).toMap
    val got = Curation.kAnonymity(docs).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, "engine ladder == driver quasi-identifier replay")
    // generalizing only merges groups: violations never increase upward
    (0 to 2).foreach(l =>
      assert(got(l)._2 >= got(l + 1)._2, s"level $l -> ${l + 1}"))
    assert(got(3) == ((1L, 0L, 0L, rows.length.toLong)),
      "the fully generalized level is one group of everything")
  }

  test("q199 source ablation: unique-contribution replay, shares telescope") {
    val docs = Tables.documents(spark, sf)
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    val sb = rows.filter(_._2.length >= 2).flatMap { case (s, t) =>
      t.sliding(2).map(p => (s, p.mkString(" "))) }.distinct
    val nSrc = sb.groupBy(_._2).view.mapValues(_.size).toMap
    val uniq = sb.filter(p => nSrc(p._2) == 1)
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val mass = rows.groupBy(_._1).view.mapValues(v =>
      (v.length.toLong, v.map(_._2.length.toLong).sum)).toMap
    val totToks = mass.values.map(_._2).sum
    val nVocab = nSrc.size.toLong
    val got = Curation.sourceAblation(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == mass.keySet)
    mass.foreach { case (s, (nd, tk)) =>
      val u = uniq.getOrElse(s, 0L)
      assert(got(s) == ((nd, tk, tk * 1000000L / totToks, u,
        u * 1000000L / nVocab)), s"source $s")
    }
    assert(got.values.map(_._4).sum > 0, "fixture has source-unique bigrams")
    // every unique bigram is attributed to exactly one source
    assert(got.values.map(_._4).sum == nSrc.count(_._2 == 1))
  }

  test("q200 fertility: per-lang sums recompute from the encoder, compression >= 1") {
    val docs = Tables.documents(spark, sf)
    val enc = Curation.bpeEncode(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = docs.select("doc_id", "lang", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3).split(" ", -1).length.toLong))
    val want = base.groupBy(_._2).map { case (lang, ds) =>
      val chars = ds.map(_._3).sum
      val ws = ds.map(_._4).sum
      val bpe = ds.map(d => enc(d._1)).sum
      lang -> ((ds.length.toLong, chars, ws, bpe,
        chars * 1000 / bpe, ws * 10000 / bpe))
    }
    val got = Curation.tokenizerFertility(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == want, "per-lang fertility == encoder recompute")
    got.values.foreach { case (_, _, ws, bpe, _, cbp) =>
      assert(bpe <= ws, "merges only reduce the token count")
      assert(cbp >= 10000, "compression_bp >= 1x by construction")
    }
  }

  test("q201 mask spans: geometry untouched, flag matches the PII verdict exactly") {
    val docs = Tables.documents(spark, sf)
    val spans = Curation.packedSpansBpe(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    // (source, seq, doc_id, tok_len, seq_off)
    val pii = graft.ext.TextAnalysis.piiScrub(docs).collect().map { r =>
      val hits = Seq("n_email", "n_ipv4", "n_phone", "n_blocked")
        .map(c => r.getAs[Long](c)).sum
      r.getAs[Long]("doc_id") -> (if (hits > 0) 1L else 0L)
    }.toMap
    val got = Curation.maskSpans(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // same span set as the unmasked packing (masking must not re-pack)
    assert(got.map(t => (t._1, t._2, t._5, t._4, t._3)).sorted.toSeq ==
      spans.sorted.toSeq, "span geometry identical to q114")
    got.foreach { case (_, _, _, _, docId, masked) =>
      assert(masked == pii(docId), s"doc $docId flag must equal the q70 verdict")
    }
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      "fixture exercises both masked and unmasked spans")
  }

  test("q203 vocab growth: first-occurrence replay, cumulative telescopes to the universe") {
    val docs = Tables.documents(spark, sf)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val firstDoc = rows.filter(_._2.length >= 2)
      .flatMap { case (id, t) => t.sliding(2).filter(_.length == 2)
        .map(p => (p.mkString(" "), id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val maxId = rows.map(_._1).max
    val w = maxId / Curation.GrowthBuckets + 1
    val wantNew = firstDoc.values.groupBy(_ / w).view.mapValues(_.size.toLong).toMap
    val wantDocs = rows.map(_._1).groupBy(_ / w).view.mapValues(_.size.toLong).toMap
    val got = Curation.vocabGrowth(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == wantDocs.keySet)
    got.foreach { case (b, nd, nb, _) =>
      assert(nd == wantDocs(b) && nb == wantNew.getOrElse(b, 0L), s"bucket $b")
    }
    // cumulative telescopes and ends at the full bigram universe
    var run = 0L
    got.sortBy(_._1).foreach { case (_, _, nb, cum) =>
      run += nb; assert(cum == run, "running sum")
    }
    assert(run == firstDoc.size.toLong, "total == distinct bigram universe")
    assert(got.map(_._2).sum == rows.length.toLong, "every doc counted once")
  }

  test("q204 balanced eval: exact quota per language, hash-order replay") {
    import java.security.MessageDigest
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
    val base = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = base.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.map(_._2).sortBy(id => (md5hex(s"ev$id"), id))
        .take(Curation.EvalQuota.toInt).zipWithIndex
        .map { case (id, i) => (lang, i + 1L, id) }
    }.sortBy(t => (t._1, t._2))
    val got = Curation.balancedEval(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want, "selection == driver hash-order replay")
    // exactly quota per language (or the whole language when smaller)
    val perLang = base.groupBy(_._1).view.mapValues(_.length).toMap
    got.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length == math.min(Curation.EvalQuota, perLang(lang).toLong),
        s"lang $lang quota")
    }
  }

  test("q205 bucketed batching: fill replay, capacity overflow bounded, waste exact") {
    val docs = Tables.documents(spark, sf)
    val rows = docs.filter(col("n_chars") > 0)
      .select("doc_id", "n_chars", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        (id, (63 - java.lang.Long.numberOfLeadingZeros(r.getLong(1))).toLong,
          r.getString(2).split(" ", -1).length.toLong,
          (Curation.ShuffleMulA * (id % Curation.ShuffleMod) + Curation.BatchSeed) % Curation.ShuffleMod)
      }
    val want = rows.groupBy(_._2).toSeq.flatMap { case (bin, ds) =>
      val sorted = ds.sortBy(d => (d._4, d._1))
      val before = sorted.scanLeft(0L)(_ + _._3).init
      sorted.zip(before).map { case ((id, _, nt, _), b) =>
        ((bin, b / Curation.BatchTokens), nt)
      }
    }.groupBy(_._1).map { case ((bin, batch), ms) =>
      val ns = ms.map(_._2)
      (bin, batch) -> ((ns.length.toLong, ns.sum,
        ns.length * ns.max - ns.sum))
    }
    val got = Curation.bucketedBatching(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want.toMap, "batches == driver greedy-fill replay")
    // a batch overruns capacity by less than its own longest doc
    got.foreach { case ((bin, batch), (n, toks, waste)) =>
      assert(waste >= 0, s"bin $bin batch $batch")
      assert(toks < Curation.BatchTokens + (toks + waste) / n,
        s"bin $bin batch $batch bounded overflow")
    }
  }

  test("q207 split balance: densified TV replay, train hugs the global distribution") {
    import java.security.MessageDigest
    val docs = Tables.documents(spark, sf)
    def bkt(w: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(w.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16) % Curation.BalanceBuckets
    }
    val labels = Curation.splitLabels(docs).collect()
      .map(r => r.getLong(1) -> r.getString(3)).toMap
    val toks = docs.select("doc_id", "text").collect().flatMap { r =>
      r.getString(1).split(" ", -1).filter(_.nonEmpty)
        .map(w => (labels(r.getLong(0)), bkt(w)))
    }
    val ps = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val st = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val g = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val gtot = toks.length.toLong
    val want = st.keys.map { split =>
      val devs = g.keys.toSeq.map { b =>
        math.abs(ps.getOrElse((split, b), 0L) * 1000000L / st(split)
          - g(b) * 1000000L / gtot)
      }
      split -> ((st(split), devs.max, devs.sum))
    }.toMap
    val got = Curation.splitBalance(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, "engine == densified driver TV replay")
    // the 98% split can't drift far from a distribution it dominates
    assert(got("train")._3 <= got("val")._3 && got("train")._3 <= got("test")._3,
      "train TV distance must be the smallest")
    assert(got.values.map(_._1).sum == gtot, "every token audited once")
  }

  test("q112 split: complete + disjoint, growth-stable labels, proportions sane") {
    val docs = Tables.documents(spark, sf)
    val labels = Curation.splitLabels(docs).collect()
      .map(r => r.getLong(1) -> r.getString(3)).toMap
    // complete + disjoint by construction: one label per doc
    assert(labels.size == docs.count())
    // growth-stable: the same docs in a HALF corpus keep their labels —
    // the property a random() split lacks
    val half = Curation.splitLabels(docs.filter(col("doc_id") % 2 === 0))
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    assert(half.forall { case (id, s) => labels(id) == s },
      "a doc's split label must not depend on what else is in the corpus")
    // all three splits present and train dominates (98/1/1 target)
    val byS = labels.values.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(byS.keySet == Set("train", "val", "test"), s"got $byS")
    assert(byS("train") > 9 * (byS("val") + byS("test")), s"got $byS")
  }

  test("q53 bigram stats: exact adjacent-pair counts, short docs excluded") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = Curation.bpePairs(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n"))
    // d1 emits (a b), (b a), (a b); d2 emits (a b); d3 emits nothing
    assert(got.toSeq == Seq("a b" -> 3L, "b a" -> 1L))
  }

  test("q54 prefix containment: normalized strict prefixes only, 8-token floor") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base),                               // short, exactly 8 tokens
      (2L, base + " iota kappa"),               // contains 1 as prefix
      (3L, "ALPHA  beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      // ^ contains 1 AND 2 after case/whitespace normalization
      (4L, "alpha beta gamma"),                 // < 8 tokens: exempt
      (5L, "omega " + base))                    // base not at the start
      .toDF("doc_id", "text")
    val got = Curation.prefixContained(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("q55 alignment audit: missing embeddings counted per source") {
    val docs = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"))
      .toDF("doc_id", "source")
    val emb = Seq((1L, 0), (3L, 1)).toDF("vec_id", "label")
    val got = Curation.alignmentAudit(docs, emb).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_missing_embedding"))).toMap
    assert(got == Map("s1" -> (2L, 1L), "s2" -> (1L, 0L)))
  }

  test("q56 stratified sample: exactly k per stratum, partition-invariant") {
    val rnd = new scala.util.Random(11)
    val docs = (for (s <- Seq("sa", "sb"); i <- 1 to 20) yield
      (s, s.hashCode.toLong * 100 + i,
        (1 to 12).map(_ => rnd.alphanumeric.take(4).mkString).mkString(" ")))
      .toDF("source", "doc_id", "text")
    val a = Curation.stratifiedSample(docs).collect().map(_.toSeq).toSeq
    assert(a.count(_.head == "sa") == Curation.StratumK)
    assert(a.count(_.head == "sb") == Curation.StratumK)
    val b = Curation.stratifiedSample(docs.repartition(7)).collect()
      .map(_.toSeq).toSeq
    assert(a == b, "sample must not depend on partitioning")
  }

  test("q63 domain mix: sqrt-mass quotas, selection fills each quota deterministically") {
    import spark.implicits._
    // source sA: 100 tokens across 10 docs; sB: 400 tokens across 10 docs
    // -> w = 10 / 20, quotas = 1000*10/30 = 333 and 1000*20/30 = 666
    val docs = ((1 to 10).map(i => (i.toLong, "sA", (1 to 10).map(j => s"a$i-$j").mkString(" "))) ++
      (1 to 10).map(i => (100L + i, "sB", (1 to 40).map(j => s"b$i-$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val r = Curation.domainMix(docs).collect()
    val bySrc = r.groupBy(_.getString(0))
    assert(bySrc("sA").head.getAs[Long]("quota") == 333L)
    assert(bySrc("sB").head.getAs[Long]("quota") == 666L)
    // quota exceeds the tiny corpus -> every doc selected, ranks contiguous
    assert(bySrc("sA").map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
    assert(bySrc("sB").map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 10))
    // determinism: same input, same pick
    val r2 = Curation.domainMix(docs).collect()
    assert(r.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
  }

  test("q64 doc stitching: suffix->prefix boundary matches, no self pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 x3 a b c"),     // ends with the boundary
      (2L, "a b c y1 y2"),        // starts with it
      (3L, "a b c"),              // IS the boundary (both ends)
      (4L, "unrelated words only here")
    ).toDF("doc_id", "text")
    val got = Curation.docStitches(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // 1->2, 1->3, 3->2 (doc 3's suffix==prefix==itself is excluded)
    assert(got == Set((1L, 2L, "a b c"), (1L, 3L, "a b c"),
      (3L, 2L, "a b c")))
  }

  test("q52 canonical pick: longest wins, ties break to min doc_id") {
    val tA = "red orange yellow green blue indigo violet ultraviolet"
    val tB = "mon tue wed thu fri sat sun always"
    val lone = "rock paper scissors lizard spock alone here now"
    // cluster A: docs 1,2,3 identical text; doc 2 longest -> keep 2
    // cluster B: docs 5,6 identical text, equal length -> keep 5
    // doc 9: singleton -> absent
    val docs = Seq(
      (1L, tA, 100L), (2L, tA, 150L), (3L, tA, 120L),
      (5L, tB, 80L), (6L, tB, 80L),
      (9L, lone, 999L)).toDF("doc_id", "text", "n_chars")
    val got = Curation.canonicalDocs(docs).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("keep_doc_id"), r.getAs[Long]("keep_chars")))
    assert(got.toSeq == Seq((1L, 3L, 2L, 150L), (5L, 2L, 5L, 80L)))
  }

  test("q116 mixture plan: exact isqrt, T=2 flattening, budget conservation") {
    val docs = Tables.documents(spark, sf)
    val plan = Mixture.mixturePlan(docs).collect()
    // isqrt is EXACT: sqrt_mass is the unique integer root
    plan.foreach { r =>
      val m = r.getAs[Long]("token_mass"); val s = r.getAs[Long]("sqrt_mass")
      assert(s * s <= m && (s + 1) * (s + 1) > m, s"isqrt($m) != $s")
    }
    // floor-divided quotas lose at most one doc per source
    val quotas = plan.map(_.getAs[Long]("quota_docs")).sum
    assert(quotas <= Mixture.DocBudget && quotas > Mixture.DocBudget - plan.length,
      s"quota sum $quotas out of band for budget ${Mixture.DocBudget}")
    // temperature flattening: vs the untempered mass share, the
    // smallest source gains weight, the largest loses (strict when
    // masses actually differ)
    val totalMass = plan.map(_.getAs[Long]("token_mass")).sum
    def massPpm(r: org.apache.spark.sql.Row) =
      1000000L * r.getAs[Long]("token_mass") / totalMass
    val smallest = plan.minBy(_.getAs[Long]("token_mass"))
    val largest = plan.maxBy(_.getAs[Long]("token_mass"))
    assert(smallest.getAs[Long]("token_mass") < largest.getAs[Long]("token_mass"),
      "fixture must have unequal sources for the flattening check")
    assert(smallest.getAs[Long]("weight_ppm") > massPpm(smallest),
      "T=2 must upweight the smallest source")
    assert(largest.getAs[Long]("weight_ppm") < massPpm(largest),
      "T=2 must downweight the largest source")
  }

  test("q117 epoch manifest: per-source repeat sums hit the quota; seeded extra-set") {
    val docs = Tables.documents(spark, sf)
    val quota = Mixture.mixturePlan(docs).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("quota_docs")).toMap
    val man = Mixture.epochManifest(docs).collect()
    val bySrc = man.groupBy(_.getAs[String]("source"))
    // conservation: repeats sum to the quota EXACTLY, per source
    quota.foreach { case (src, q) =>
      val got = bySrc.get(src).map(_.map(_.getAs[Long]("n_repeats")).sum).getOrElse(0L)
      assert(got == q, s"$src: repeats sum $got != quota $q")
    }
    // within a source, repeat counts differ by at most one (base / base+1)
    bySrc.values.foreach { rows =>
      val reps = rows.map(_.getAs[Long]("n_repeats"))
      assert(reps.max - reps.min <= 1, "repeat spread must be base/base+1")
    }
    // a different seed keeps every per-source total but moves the
    // extra-set (the seeded epoch permutation at work)
    val man2 = Mixture.epochManifest(docs, seed = 999L).collect()
    val tot2 = man2.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_repeats")).sum).toMap
    quota.foreach { case (src, q) => assert(tot2.getOrElse(src, 0L) == q) }
    def repMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")) ->
        r.getAs[Long]("n_repeats")).toMap
    assert(repMap(man) != repMap(man2),
      "changing the seed must change which docs carry the extra repeat")
    // partition invariance: the manifest is a pure function of the data
    val man3 = Mixture.epochManifest(docs.repartition(7)).collect()
    assert(repMap(man3) == repMap(man), "manifest must not depend on partitioning")
  }
}
