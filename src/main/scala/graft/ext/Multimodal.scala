package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A multimodal record: opaque binary payload + typed metadata, the
  * builder brief's pattern for image/audio/video columns at 100 TB.
  * The payload travels as BinaryType (never decoded in the plan); all
  * relational work happens on the metadata struct so column pruning
  * drops the heavy bytes whenever a query doesn't touch them.
  */
case class MediaRecord(
    doc_id: Long,
    payload: Array[Byte],
    media_format: String,
    media_width: Int,
    media_height: Int)

case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    mean_byte_x100: Long,
    max_byte: Int,
    n_frames: Int,
    frame_sample_sum: Long,
    thumb_hash: Long)

/** Decoder boundary. The real implementation would wrap an image/audio
  * codec; this container has none, so [[StubDecoder]] derives
  * deterministic "features" from the raw bytes — the Spark-side plumbing
  * (binary schema, batched mapPartitions, feature shape) is production-
  * real, only the codec call is faked.
  */
trait MediaDecoder extends Serializable {
  def decode(rec: MediaRecord): MediaFeatures

  /** Frame-sampling boundary: one row per sampled frame (a real decoder
    * seeks keyframes; the stub strides the byte stream). Returned lazily
    * so a huge record streams frames instead of materializing them. */
  def frames(rec: MediaRecord): Iterator[FrameSample]

  /** Difference-hash perceptual fingerprint (dHash): 33 evenly-sampled
    * points over the decoded content, bit k = point_k < point_{k+1} —
    * 32 bits, robust to uniform brightness shifts by construction. A
    * real decoder samples the resized grayscale pixel grid; this
    * default samples the RAW BYTES at idx_k = (k·n) div 33 (the q23
    * thumbnail's sampling rule), so the stub stays codec-free while the
    * signature semantics — and the downstream Hamming machinery — are
    * the production ones. Empty payloads hash to 0. */
  def dhash(rec: MediaRecord): Long = ContentOps.dhash(rec.payload)
}

/** One sampled "frame": its index, byte offset, lead byte, and a short
  * window hash standing in for the decoded frame signature. */
case class FrameSample(
    doc_id: Long,
    frame_idx: Int,
    frame_off: Long,
    frame_byte: Int,
    window_hash: Long)

/** The decoder-independent feature arithmetic, over whatever byte
  * stream a decoder declares as the record's CONTENT (raw payload for
  * [[StubDecoder]], the decoded pixel grid for [[PgmDecoder]]). Shared
  * so the two decoders differ ONLY in what they decode — the loops the
  * oracles mirror byte-for-byte live here exactly once. */
private[graft] object ContentOps {
  def features(docId: Long, bytes: Array[Byte]): MediaFeatures = {
    val n = bytes.length.toLong
    var sum = 0L
    var mx = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sum += b
      if (b > mx) mx = b
      i += 1
    }
    // "frame sampling": one sample every 256 content bytes
    var fs = 0L
    var f = 0
    var j = 0
    while (j < bytes.length) { fs += (bytes(j) & 0xff); f += 1; j += 256 }
    // "resize": a 16-point thumbnail — content sampled at even stride,
    // folded into one polynomial hash (stands in for a resized image
    // signature; a full decoder would emit the resized pixel block here)
    var th = 0L
    if (n > 0) {
      var k = 0
      while (k < 16) {
        val idx = ((k.toLong * n) / 16).toInt
        th = (th * 31 + (bytes(idx) & 0xff)) % 1000000007L
        k += 1
      }
    }
    MediaFeatures(docId, n, if (n == 0) 0 else sum * 100 / n, mx, f, fs, th)
  }

  /** One "frame" every 256 content bytes: lead byte + polynomial hash
    * of the 16-byte window at the offset (clipped at end-of-content). */
  def frames(docId: Long, bytes: Array[Byte]): Iterator[FrameSample] =
    Iterator.range(0, bytes.length, 256).map { off =>
      var h = 0L
      var i = off
      val end = math.min(off + 16, bytes.length)
      while (i < end) { h = (h * 31 + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
      FrameSample(docId, off / 256, off.toLong, bytes(off) & 0xff, h)
    }

  /** The dHash sampling loop over a content stream — 33 evenly-spaced
    * points, bit k = point_k < point_{k+1} (see [[MediaDecoder.dhash]]). */
  def dhash(bytes: Array[Byte]): Long = {
    val n = bytes.length.toLong
    if (n == 0) return 0L
    var sig = 0L
    var prev = bytes(0) & 0xff
    var k = 1
    while (k <= 32) {
      val cur = bytes(((k * n) / 33).toInt) & 0xff
      if (prev < cur) sig |= 1L << (k - 1)
      prev = cur
      k += 1
    }
    sig
  }
}

/** Deterministic fake decode: byte statistics + stride-sampled "frames"
  * over the RAW payload bytes. A full codec is intentionally NOT
  * implementable here (no image/audio libs in the container) — swap
  * this class, keep the pipeline. The CI default for every gate. */
final class StubDecoder extends MediaDecoder {
  override def decode(rec: MediaRecord): MediaFeatures =
    ContentOps.features(rec.doc_id, rec.payload)
  override def frames(rec: MediaRecord): Iterator[FrameSample] =
    ContentOps.frames(rec.doc_id, rec.payload)
}

/** A REAL decoder behind the same trait: binary PGM ("P5" — the
  * netpbm grayscale format, public spec, trivially parseable with zero
  * codec dependencies). Payloads that parse as P5 are decoded to their
  * PIXEL GRID and every feature runs over pixels — so two encodings of
  * the same image (e.g. differing header whitespace or comments, which
  * the format permits) produce IDENTICAL features and dHash where the
  * byte-level [[StubDecoder]] would diverge; that is precisely the
  * property that makes a perceptual hash perceptual. Payloads that do
  * NOT sniff as P5 fall back to raw-byte content — production format
  * sniffing, and what keeps every oracle query (text payloads)
  * bit-identical under either decoder (ExtSpec asserts it).
  *
  * Parser: magic "P5", then whitespace/comment-separated width,
  * height, maxval tokens ('#' starts a comment through end-of-line),
  * one whitespace byte, then width*height raw pixel bytes (maxval <
  * 256 — the 1-byte-per-pixel variant; 2-byte maxvals are rejected to
  * the fallback rather than half-parsed). Truncated pixel data rejects
  * likewise: a decoder that silently zero-pads manufactures content. */
final class PgmDecoder extends MediaDecoder {
  private[graft] def pixels(payload: Array[Byte]): Option[Array[Byte]] = {
    if (payload.length < 2 || payload(0) != 'P' || payload(1) != '5')
      return None
    var i = 2
    def skipSeparators(): Unit = {
      var more = true
      while (more && i < payload.length) {
        val c = payload(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
        else if (c == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
        else more = false
      }
    }
    def token(): Option[Int] = {
      skipSeparators()
      var v = -1
      while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (payload(i) - '0')
        i += 1
      }
      Option.when(v >= 0)(v)
    }
    for {
      w <- token()
      h <- token()
      maxval <- token()
      if maxval > 0 && maxval < 256 && w > 0 && h > 0
      // exactly ONE separator byte after maxval, then raw pixels
      if i < payload.length && { i += 1; payload.length - i >= w.toLong * h }
    } yield java.util.Arrays.copyOfRange(payload, i, i + w * h)
  }

  private def content(rec: MediaRecord): Array[Byte] =
    pixels(rec.payload).getOrElse(rec.payload)

  override def decode(rec: MediaRecord): MediaFeatures =
    ContentOps.features(rec.doc_id, content(rec))
  override def frames(rec: MediaRecord): Iterator[FrameSample] =
    ContentOps.frames(rec.doc_id, content(rec))
  override def dhash(rec: MediaRecord): Long =
    ContentOps.dhash(content(rec))
}

object Multimodal {

  /** Non-ASCII probe row unioned into every multimodal gate (both
    * engines): multi-byte code points (2-, 3-, and 4-byte utf-8) make
    * byte-vs-character confusion IMPOSSIBLE to pass — the oracles index
    * raw payload bytes via hex(), so the compared output always carries
    * one row whose octet length differs from its character length. The
    * id is far outside every fixture's doc_id range and positive so the
    * % metadata arithmetic agrees across engines. */
  val ProbeDocId = 90000001L
  val ProbeText = "été café über — 高清 🎬 naïve façade"

  /** (doc_id, text) with the probe row appended — the input relation
    * every multimodal gate runs over. */
  def withProbe(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.sparkSession.range(1)
        .select(lit(ProbeDocId).as("doc_id"), lit(ProbeText).as("text")))

  /** The same relation on the oracle side. */
  private val docsWithProbe =
    s"(SELECT doc_id, text FROM documents UNION ALL SELECT $ProbeDocId, '$ProbeText')"

  /** Byte k (1-based) of the payload, read from `h` = hex(encode(text))
    * — DuckDB 1.0 has no direct BLOB byte indexing, so each byte is
    * reassembled from its two uppercase hex nibbles with integer
    * arithmetic (A-F sit 7 code points past 9). */
  private def hexNib(pos: String): String =
    s"(CASE WHEN ord(substr(h, $pos, 1)) >= 65 " +
      s"THEN ord(substr(h, $pos, 1)) - 55 ELSE ord(substr(h, $pos, 1)) - 48 END)"
  private def byteAt(i: String): String =
    s"(${hexNib(s"2*($i) - 1")} * 16 + ${hexNib(s"2*($i)")})"

  /** The stub decoder's base-31 byte hash: over each `i` of the list
    * `idx`, the byte at index expression `at`. */
  private def hash31(idx: String, at: String): String =
    Text.duckPolyFold(s"list_transform($idx, i -> CAST(${byteAt(at)} AS BIGINT))", 31, 1000000007)

  /** Attach a binary payload + metadata to each document. The payload is
    * the utf-8 text bytes standing in for media bytes; metadata is
    * derived deterministically. */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      element_at(array(lit("jpeg"), lit("png"), lit("webm")),
        (col("doc_id") % 3).cast("int") + 1).as("media_format"),
      (lit(320) * ((col("doc_id") % 4) + 1)).cast("int").as("media_width"),
      (lit(180) * ((col("doc_id") % 4) + 1)).cast("int").as("media_height"))

  /** The decode stage: typed mapPartitions over the binary column — one
    * decoder instance per partition (codecs are expensive to init), rows
    * streamed, never collected. At 100 TB: repartition by size before
    * this stage so partitions are byte-balanced, not row-balanced. */
  def decodeFeatures(media: DataFrame, decoder: MediaDecoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it => it.map(decoder.decode) }
  }

  /** q23: the full multimodal pipeline — attach, decode (stub), emit
    * integer features. Joinable back to metadata relationally. Runs
    * over the probe-extended corpus so the compared output always
    * carries a multi-byte-utf-8 row. */
  def q23(s: SparkSession, dir: String): DataFrame = {
    val media = attachPayload(withProbe(Tables.documents(s, dir)))
    val feats = decodeFeatures(media, new StubDecoder)
    feats.toDF()
      .join(media.select("doc_id", "media_format", "media_width"), "doc_id")
      .orderBy("doc_id")
  }

  /** Oracle: BYTE-EXACT stats of the utf-8 payload — every index walks
    * hex(encode(text)), so multi-byte code points hash identically to
    * the engine's raw-byte loop (no ASCII assumption; the probe row
    * proves it on every run). */
  val q23Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    octet_length(encode(text)) AS n_bytes FROM $docsWithProbe),
       |stats AS (
       |  SELECT doc_id, n_bytes,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |      generate_series(1, n_bytes), i -> CAST(${byteAt("i")} AS BIGINT))),
       |      (x, y) -> x + y) AS byte_sum,
       |    CASE WHEN n_bytes = 0 THEN 0 ELSE
       |      list_max(list_transform(generate_series(1, n_bytes),
       |        i -> ${byteAt("i")})) END AS max_byte,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |      generate_series(1, n_bytes, 256), i -> CAST(${byteAt("i")} AS BIGINT))),
       |      (x, y) -> x + y) AS frame_sample_sum,
       |    len(generate_series(1, n_bytes, 256)) AS n_frames
       |  FROM b)
       |SELECT s.doc_id, s.n_bytes,
       |  CASE WHEN s.n_bytes = 0 THEN 0 ELSE s.byte_sum * 100 // s.n_bytes END AS mean_byte_x100,
       |  s.max_byte, s.n_frames, s.frame_sample_sum,
       |  CASE WHEN s.n_bytes = 0 THEN 0 ELSE
       |    ${hash31("generate_series(0, 15)", "CAST((i * s.n_bytes) // 16 AS INT) + 1")} END AS thumb_hash,
       |  (['jpeg','png','webm'])[CAST(s.doc_id % 3 AS INT) + 1] AS media_format,
       |  CAST(320 * ((s.doc_id % 4) + 1) AS INT) AS media_width
       |FROM stats s JOIN b ON b.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** The explode-shaped decode stage: each record fans out into its
    * sampled frames via flatMap — same one-decoder-per-partition,
    * never-collected discipline as [[decodeFeatures]], but the output
    * cardinality is data-dependent (n_bytes / stride per record). At
    * 100 TB this is the video-keyframe extraction shape: fan-out
    * bounded by payload size, embarrassingly parallel, column pruning
    * still drops the payload for queries over the frame table. */
  def sampleFrames(media: DataFrame, decoder: MediaDecoder): Dataset[FrameSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(_.flatMap(decoder.frames))
  }

  /** q60: frame-sample table over the probe-extended corpus payloads. */
  def q60(s: SparkSession, dir: String): DataFrame =
    sampleFrames(attachPayload(withProbe(Tables.documents(s, dir))), new StubDecoder)
      .toDF().orderBy("doc_id", "frame_idx")

  /** Oracle: the same stride/window arithmetic BYTE-EXACT over
    * hex(encode(text)) — see q23. */
  val q60Sql: String =
    s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
       |            octet_length(encode(text)) AS n FROM $docsWithProbe),
       |f AS (SELECT doc_id, h, n, unnest(generate_series(1, n, 256)) AS off1
       |      FROM b WHERE n > 0)
       |SELECT doc_id, CAST((off1 - 1) // 256 AS INT) AS frame_idx,
       |  CAST(off1 - 1 AS BIGINT) AS frame_off,
       |  ${byteAt("off1")} AS frame_byte,
       |  ${hash31("generate_series(off1, least(off1 + 15, n))", "i")} AS window_hash
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------ perceptual near-dup
  /** Max Hamming distance for a perceptual match and the band layout:
    * [[PhashBands]] = PhashMaxHamming + 1 bands guarantee (pigeonhole)
    * that any qualifying pair matches at least one band exactly. */
  val PhashMaxHamming = 2
  val PhashBands = 3
  val PhashBandBits = Seq(11, 11, 10) // 32 bits total

  /** Perceptual near-duplicate detection over the media payloads — the
    * image-dedup member of the dedup family (re-encoded, resized, or
    * slightly-retouched copies share most dHash bits even when their
    * bytes differ entirely). Signatures come from the decoder boundary
    * ([[MediaDecoder.dhash]], one decoder per partition like every
    * decode stage); candidate pairs from banding the 32-bit signature
    * into [[PhashBands]] bands — pigeonhole-complete for Hamming <=
    * [[PhashMaxHamming]], so unlike the LSH families the recall here is
    * exact, not probabilistic. Pairs are emitted exactly once by their
    * first matching band (q42's generated XOR predicate — no distinct
    * pass), then verified with one codegen `bit_count(sig_a ^ sig_b)`.
    *
    * Scale: band buckets hash-partition the signature table; in-bucket
    * work is (n/2^bits)² per bucket — the band width is the scale knob,
    * exactly like q31/q42. The payload column is pruned the moment the
    * signature is computed: only (doc_id, sig) — 16 bytes — shuffles. */
  def phashNearDups(media: DataFrame, decoder: MediaDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sigs = media.as[MediaRecord]
      .mapPartitions(_.map(r => (r.doc_id, decoder.dhash(r))))
      .toDF("doc_id", "sig")
    val offsets = PhashBandBits.scanLeft(0)(_ + _).init
    val banded = sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(PhashBands - 1))).as("band"))
      .withColumn("bkey",
        expr(PhashBandBits.zip(offsets).zipWithIndex.map {
          case ((bits, off), j) =>
            s"WHEN band = $j THEN shiftright(sig, $off) & ${(1L << bits) - 1}"
        }.mkString("CASE ", " ", " END")))
    val a = banded.select(col("band"), col("bkey"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("bkey"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    val firstMatch = (0 until PhashBands).map { j =>
      val earlierDiffer = (0 until j).map { e =>
        s"(shiftright(sig_a ^ sig_b, ${offsets(e)}) & ${(1L << PhashBandBits(e)) - 1}) != 0"
      }
      (s"band = $j" +: earlierDiffer).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr(firstMatch))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= PhashMaxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  def q74(s: SparkSession, dir: String): DataFrame =
    phashNearDups(attachPayload(withProbe(Tables.documents(s, dir))), new StubDecoder)

  /** Oracle: the banding is pigeonhole-COMPLETE for Hamming <= 2, so the
    * oracle is simply every pair within the Hamming bound — no band
    * mirroring needed (contrast q31's probabilistic recall). dHash bits
    * from the same BYTE-index arithmetic as q23's thumbnail, read
    * byte-exactly off hex(encode(text)) — the probe row keeps a
    * multi-byte payload in the compared input on every run. */
  val q74Sql: String = {
    val h = PhashMaxHamming
    // bit k (0-based) = point_k < point_{k+1}, points at (k*n)//33
    val sig =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |      generate_series(1, 32), k -> CASE WHEN
         |        ${byteAt("CAST((((k - 1) * n) // 33) AS INT) + 1")} <
         |        ${byteAt("CAST(((k * n) // 33) AS INT) + 1")}
         |      THEN CAST(1 AS BIGINT) << (k - 1) ELSE 0 END)),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH b AS (
       |  SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE $sig END AS sig FROM
       |    (SELECT doc_id, hex(encode(text)) AS h,
       |       octet_length(encode(text)) AS n FROM $docsWithProbe)),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
       |    bit_count(xor(a.sig, b2.sig)) AS hamming
       |  FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $h
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------- shot boundaries
  /** Coarse frame-signature band: lead byte div 32 (8 luminance-ish
    * bands). A real decoder would band a frame histogram; the stub bands
    * the sampled lead byte — the DETECTOR (lag + threshold + islands) is
    * the operator under test, the signature is the decoder boundary's. */
  val ShotBandDiv = 32

  /** Shot-boundary detection over the sampled frame stream — the video
    * member of the sequence-segmentation family (q12 sessionize for
    * events, q206 CDC for bytes, this for frames): a CUT is a frame
    * whose signature band differs from its predecessor's; a SHOT is a
    * maximal same-band run. Reports per video: frames, cuts, and the
    * longest shot (gaps-and-islands over frame_idx — the constant-key
    * trick q72's run detector uses).
    *
    * Scale shape: frames fan out of the decoder boundary partition-local
    * ([[sampleFrames]] — payload pruned immediately after), and both
    * windows partition by doc_id (every video's frame count is bounded
    * by payload/stride), so there is no global window and ONE exchange
    * on doc_id serves the lag, the island numbering, and the final
    * per-video aggregate. */
  def shotBoundaries(docs: DataFrame): DataFrame = {
    val fr = sampleFrames(attachPayload(withProbe(docs)), new StubDecoder)
      .toDF()
      .select(col("doc_id"), col("frame_idx"),
        expr(s"frame_byte div $ShotBandDiv").cast("int").as("band"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    val byBand = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "band").orderBy("frame_idx")
    val lg = fr
      .withColumn("pband", lag(col("band"), 1).over(byDoc))
      .withColumn("seg", col("frame_idx") - row_number().over(byBand))
    val cuts = lg.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("pband").isNotNull && col("band") =!= col("pband"), 1L)
          .otherwise(0L)).as("n_cuts"))
    val maxShot = lg.groupBy("doc_id", "band", "seg")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max(col("run")).as("max_shot"))
    cuts.join(maxShot, "doc_id")
      .select(col("doc_id"), col("n_frames"), col("n_cuts"), col("max_shot"))
      .orderBy("doc_id")
  }

  /** Oracle: q60's byte-exact frame arithmetic + the same lag/island
    * windows in SQL. */
  val shotBoundariesSql: String =
    s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
       |            octet_length(encode(text)) AS n FROM $docsWithProbe),
       |f AS (SELECT doc_id, h, n, unnest(generate_series(1, n, 256)) AS off1
       |      FROM b WHERE n > 0),
       |fr AS (SELECT doc_id, CAST((off1 - 1) // 256 AS INT) AS idx,
       |         CAST(${byteAt("off1")} // $ShotBandDiv AS INT) AS band
       |       FROM f),
       |lg AS (SELECT doc_id, idx, band,
       |         LAG(band) OVER (PARTITION BY doc_id ORDER BY idx) AS pband,
       |         idx - ROW_NUMBER() OVER (PARTITION BY doc_id, band ORDER BY idx) AS seg
       |       FROM fr),
       |cuts AS (SELECT doc_id, COUNT(*) AS n_frames,
       |           SUM(CASE WHEN pband IS NOT NULL AND band <> pband
       |               THEN 1 ELSE 0 END) AS n_cuts
       |         FROM lg GROUP BY doc_id),
       |runs AS (SELECT doc_id, COUNT(*) AS run
       |         FROM lg GROUP BY doc_id, band, seg)
       |SELECT c.doc_id, CAST(c.n_frames AS BIGINT) AS n_frames,
       |  CAST(c.n_cuts AS BIGINT) AS n_cuts,
       |  CAST(m.max_shot AS BIGINT) AS max_shot
       |FROM cuts c JOIN (SELECT doc_id, MAX(run) AS max_shot
       |                  FROM runs GROUP BY doc_id) m ON m.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------- audio energy (q230)
  /** Energy window width in payload bytes (one VAD frame). */
  val EnergyWindow = 64

  /** q230: WINDOWED AUDIO ENERGY + SILENCE DETECTION — the voice-
    * activity-detection shape of an audio curation pipeline: chop each
    * payload into fixed [[EnergyWindow]]-byte frames, treat bytes as
    * centered PCM samples (amp = byte − 128), compute per-frame energy
    * Σ amp², and flag LOW-ENERGY frames (energy below half the doc's
    * mean frame energy — the trim-leading/trailing-silence primitive).
    * The decoder stays a stub per the multimodal contract; the operator
    * under test is the windowing, the energy kernel, and the relative
    * threshold — all of which survive a real PCM decoder unchanged.
    *
    * Byte access is byte-exact in BOTH engines (Spark folds the raw
    * binary payload in the [[graft.functions.WindowEnergies]] codegen
    * kernel; DuckDB renders the q23 hex-nibble arithmetic — amp =
    * unsigned byte − 128 either way), so the oracle hash-matches bit
    * for bit, and the probe row keeps multi-byte utf-8 in the compared
    * input. Scale shape: per-window energies come out of ONE O(n) byte
    * pass inside whole-stage codegen (the round-9 hex detour paid two
    * string ops per byte on a 2n-char rendering), windows fan out
    * PARTITION-LOCAL via posexplode — no shuffle — and a single doc_id
    * window pass serves the mean-energy threshold before the per-doc
    * rollup — one exchange total. */
  def audioEnergy(docs: DataFrame): DataFrame = {
    val w = EnergyWindow
    graft.functions.WindowEnergies.register(docs.sparkSession)
    val fr = withProbe(docs)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
      .filter(octet_length(col("b")) > 0)
      .select(col("doc_id"),
        posexplode(expr(s"window_energies(b, $w)")).as(Seq("widx", "e")))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    fr
      .withColumn("e_total", sum(col("e")).over(byDoc))
      .withColumn("nw", count(lit(1)).over(byDoc))
      .groupBy("doc_id")
      .agg(max(col("nw")).as("n_windows"),
        max(col("e_total")).as("e_total"),
        max(col("e")).as("e_max"),
        sum(when(col("e") * col("nw") * 2 < col("e_total"), 1L).otherwise(0L))
          .as("n_low"))
      .orderBy("doc_id")
  }

  val audioEnergySql: String = {
    val w = EnergyWindow
    s"""WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
       |            octet_length(encode(text)) AS n FROM $docsWithProbe),
       |f AS (SELECT doc_id, h, n,
       |        unnest(generate_series(0, (n - 1) // $w)) AS widx
       |      FROM b WHERE n > 0),
       |fr AS (SELECT doc_id, widx,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
       |           generate_series($w * widx + 1, least($w * (widx + 1), n)),
       |           i -> (CAST(${byteAt("i")} AS BIGINT) - 128)
       |              * (CAST(${byteAt("i")} AS BIGINT) - 128))),
       |           (x, y) -> x + y) AS e
       |       FROM f),
       |tot AS (SELECT doc_id, widx, e,
       |          SUM(e) OVER (PARTITION BY doc_id) AS e_total,
       |          COUNT(*) OVER (PARTITION BY doc_id) AS nw
       |        FROM fr)
       |SELECT doc_id, CAST(MAX(nw) AS BIGINT) AS n_windows,
       |  CAST(MAX(e_total) AS BIGINT) AS e_total,
       |  CAST(MAX(e) AS BIGINT) AS e_max,
       |  CAST(SUM(CASE WHEN e * nw * 2 < e_total THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |FROM tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q230_audio_energy" -> ((s, d) => audioEnergy(Tables.documents(s, d))),
    "q219_shot_boundaries" -> ((s, d) => shotBoundaries(Tables.documents(s, d))),
    "q23_multimodal" -> (q23 _),
    "q60_frame_sample" -> (q60 _),
    "q74_phash_neardup" -> (q74 _))

  val oracles: Map[String, String] = Map(
    "q230_audio_energy" -> audioEnergySql,
    "q219_shot_boundaries" -> shotBoundariesSql,
    "q23_multimodal" -> q23Sql,
    "q60_frame_sample" -> q60Sql,
    "q74_phash_neardup" -> q74Sql)
}
