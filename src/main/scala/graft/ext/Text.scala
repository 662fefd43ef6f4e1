package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The text family's shared decisions, each as a Spark/oracle pair: the
  * whitespace tokenizer, the normalizer, the polynomial-hash fold, the
  * stopword count and the word 3-gram builders. Every operator over
  * `documents.text` reads these instead of spelling its own copy, so a
  * tokenization or normalization change lands in one place and the two
  * engines cannot drift apart (ContractSpec keeps the copies out).
  */
object Text {

  // ------------------------------------------------------------ tokenizer
  /** Whitespace tokens: `text` split on single spaces. Repeated spaces
    * yield empty tokens and an empty text yields one empty token, in
    * both engines. */
  val tokens: Column = split(col("text"), " ")
  val duckTokens = "string_split(text, ' ')"
  /** The token count, spelled for a Spark SQL expression string. */
  val sparkTokenCount = "size(split(text, ' '))"

  /** One row per non-empty token of `docs`: the `keys` columns and the
    * token as `name` (the empty tokens of repeated spaces are dropped). */
  def words(docs: DataFrame, name: String, keys: String*): DataFrame =
    docs.select(keys.map(col) :+ explode(tokens).as(name): _*)
      .filter(length(col(name)) > 0)

  // ----------------------------------------------------------- normalizer
  /** Lowercase, whitespace runs collapsed to one space. `sparkNorm` is
    * the same rule spelled for a Spark SQL expression string (the
    * backslash is escaped once more there). */
  val norm: Column = regexp_replace(lower(col("text")), "\\s+", " ")
  val sparkNorm = "regexp_replace(lower(text), '\\\\s+', ' ')"
  val duckNorm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"

  /** THE normalized-text fingerprint for exact duplicates — md5 over the
    * normalized text. q13 defines it; q187's uniq bit and q209's
    * canonical set derive from it, so a change to the normalization rule
    * can never silently drift a consumer. */
  val normTextHash: Column = md5(norm.cast("binary"))
  val normTextHashSql = s"md5($duckNorm)"

  // ---------------------------------------------------- polynomial hash
  /** Oracle twin of [[graft.functions.PolyHash]] over a list of BIGINT
    * code units: acc = (acc * base + c) mod mod, from 0. */
  def duckPolyFold(codes: String, base: Long, mod: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), (a, c) -> (a * $base + c) % $mod)"

  /** [[duckPolyFold]] over the code points of the string expression `s`. */
  def duckPolyHash(s: String, base: Long, mod: Long): String =
    duckPolyFold(s"list_transform(generate_series(1, length($s)), " +
      s"i -> CAST(ord(substr($s, i, 1)) AS BIGINT))", base, mod)

  /** Content-hash sample key: the base-31 hash of the first 8 hex digits
    * of [[normTextHash]]. Hashing content (not doc_id) puts exact
    * duplicates on the same side of every cut (q46, q35, q56). */
  val sparkContentHash =
    s"poly_hash(substring(md5(cast($sparkNorm as binary)), 1, 8), 31, 1000000007)"
  val duckContentHash: String = duckPolyFold(
    s"list_transform(generate_series(1, 8), i -> CAST(ord(substr($normTextHashSql, i, 1)) AS BIGINT))",
    31, 1000000007)

  // ------------------------------------------------------------ stopwords
  /** Occurrences of `needle` via replace-length arithmetic (portable,
    * no regex dialect involved). */
  private[ext] def sparkCount(textExpr: String, needle: String): String =
    s"(length($textExpr) - length(replace($textExpr, '$needle', ''))) div ${needle.length}"
  private[ext] def duckCount(textExpr: String, needle: String): String =
    s"(length($textExpr) - length(replace($textExpr, '$needle', ''))) // ${needle.length}"

  /** `text` padded with one space each side, so a space-padded marker
    * word matches whole tokens at either end too. */
  val padded = "concat(' ', text, ' ')"

  val Stopwords: Seq[String] = Seq(" the ", " a ", " of ", " and ", " is ")

  /** Total stopword occurrences in the padded text. */
  val sparkStopCount: String =
    Stopwords.map(w => s"(${sparkCount(padded, w)})").mkString(" + ")
  val duckStopCount: String =
    Stopwords.map(w => s"(${duckCount(padded, w)})").mkString(" + ")

  // ------------------------------------------------------------- 3-grams
  /** The word 3-gram at 1-based `i` over a `toks` array (Spark SQL). */
  private[ext] val TriGramSpark =
    "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))"
  /** The matching oracle gram expression. */
  private[ext] val TriGramDuck = "toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]"

  /** 3-word shingles of the tokenized text (oracle side of
    * [[graft.functions.ShingleHashes]]); a doc of fewer than 3 tokens is
    * one shingle, itself. */
  private[graft] val duckShingles =
    s"list_transform(generate_series(1, greatest(len($duckTokens) - 2, 1))," +
      s" i -> array_to_string($duckTokens[i:i+2], ' '))"
}
