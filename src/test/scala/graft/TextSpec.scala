package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Text}

/** Edge shapes the fixture never reaches, pinned for the shared text
  * builders: the tokenizer, the normalized-text hash, the fused
  * 3-shingle hashes and the SimHash fingerprint. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  test("empty, all-whitespace, one-token and two-token docs: hand-computed values") {
    // (text, tokens, md5 of the normalized text, shingle hashes, simhash).
    // Hashes are the base-131 fold mod 268435399 over code points:
    //  - fewer than 3 tokens make ONE shingle, the whole token list;
    //  - "   " is 4 empty tokens, so 2 shingles of two spaces each:
    //    32 * 131 + 32 = 4224; it normalizes to " ";
    //  - "Hello": ((((72*131+101)*131+108)*131+108)*131+111) mod the
    //    prime = 226522629 (only the last step wraps),
    //    and one token's fingerprint is its own hash;
    //  - "a b": (97*131+32)*131+98 = 1668907; the fingerprint keeps the
    //    bits both tokens set (a tie sums to 0), 97 & 98 = 96;
    //  - an empty token hashes to 0 and sets no fingerprint bit.
    val cases = Seq(
      (1L, "", Seq(""), "d41d8cd98f00b204e9800998ecf8427e", Seq(0L), 0L),
      (2L, "   ", Seq("", "", "", ""), "7215ee9c7d9dc229d2921a40e899ec5f",
        Seq(4224L, 4224L), 0L),
      (3L, "Hello", Seq("Hello"), "5d41402abc4b2a76b9719d911017c592",
        Seq(226522629L), 226522629L),
      (4L, "a b", Seq("a", "b"), "0cc9cd4dd26c5137b675a0d819cb9ab0",
        Seq(1668907L), 96L))
    val docs = cases.map(c => (c._1, c._2)).toDF("doc_id", "text")
    graft.functions.ShingleHashes.register(spark, 3, Dedup.HashBase, Dedup.HashMod)
    val got = docs.select(col("doc_id"), Text.tokens, Text.normTextHash,
        expr("shingle_hashes(text)"))
      .join(Dedup.simhashCore(docs).select("doc_id", "simhash"), "doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getString(2),
        r.getSeq[Long](3), r.getLong(4))))
      .toMap
    cases.foreach { case (id, text, toks, md5, shingles, simhash) =>
      assert(got(id) == ((toks, md5, shingles, simhash)), s"text ${'"'}$text${'"'}")
    }
  }
}
