package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark feeds the engine
  * comes from here, as a pure function of (spec, seed): the same seed
  * gives byte-identical inputs, and the row arithmetic each generator
  * promises (what the engine should keep, filter or fail) is computed
  * alongside the rows so the output checks can compare against it. */
object Gen {

  // ------------------------------------------------------------ library
  /** One listed file of a video library (the manifest-listing shape). */
  final case class ListedFile(path: String, size_bytes: Long, volume: String)

  /** What the build verb should do with a generated listing. */
  final case class LibraryCounts(listed: Int, nonVideo: Int, banned: Int,
                                 probeFailures: Int, srt: Int) {
    /** Rows a build keeps: listed − filtered − probe failures. */
    def built: Int = listed - nonVideo - banned - srt - probeFailures
  }

  /** The listing, the files a build keeps, and the arithmetic between them. */
  final case class Library(files: Vector[ListedFile], kept: Vector[ListedFile],
                           counts: LibraryCounts)

  private val VideoExts = Vector("mkv", "mkv", "mkv", "mp4", "mp4", "avi",
    "m4v", "MKV", "webm", "mov", "mts")
  private val OtherExts = Vector("nfo", "jpg", "txt", "png", "sub")
  private val Banned = Vector("Extras", "Trailers")
  private val Tags = Vector("", "", "", " [4K]", " [AV1]", " [3D]", " [4K][AV1]")
  private val Syllables = Vector("ka", "lo", "mi", "ren", "sa", "to", "vel",
    "dor", "an", "is", "mar", "que", "zu", "bel", "ro", "tin", "ga", "hal")

  /** A pronounceable pseudo-word, a pure function of `k`. */
  def word(k: Int): String = {
    val r = new SplittableRandom(k.toLong * 0x9E3779B97F4A7C15L + 17)
    val n = 1 + r.nextInt(3)
    (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
  }

  private def title(k: Int): String = {
    val r = new SplittableRandom(k.toLong * 31 + 7)
    val n = 1 + r.nextInt(4)
    (0 until n).map(_ => word(r.nextInt(4000)).capitalize).mkString(" ") + s" $k"
  }

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val a = w.scanLeft(0.0)(_ + _).tail
      a.map(_ / a.last)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A library of `primaries` files on `volume`, ids from `idBase` (the
    * stub prober reads its metadata from the "/f<id>/" path segment and
    * fails ids divisible by 29). Mix: 8% non-video extensions, 5% videos
    * under a banned directory (Extras/, Trailers/), titles drawn from a
    * Zipf law over `primaries / 3` titles (so popular titles have many
    * variants), and an `.en.srt` sibling on 1/3 of the kept videos (1/4
    * of those also get `.en.hi.srt`). Siblings are listed files too. */
  def library(primaries: Int, seed: Long, volume: String,
              idBase: Long = 0L): Library = {
    val r = new SplittableRandom(seed ^ 0x1F3A5C7E9B2D4F60L ^ idBase)
    val zipf = new Zipf(math.max(1, primaries / 3), 1.05)
    val out, kept = Vector.newBuilder[ListedFile]
    var nonVideo, banned, fails, srt = 0
    var i = 0
    while (i < primaries) {
      val id = idBase + i
      val t = zipf.sample(r)
      val year = 1950 + (t * 7919) % 73
      val dir = s"/$volume/Movies/${title(t)} ($year)"
      val u = r.nextDouble()
      val base = s"[$year] ${title(t)}${Tags(r.nextInt(Tags.length))}"
      val size = math.max(1L, math.exp(20.5 + 1.2 * r.nextGaussian()).toLong)
      if (u < 0.08) {
        nonVideo += 1
        out += ListedFile(s"$dir/f$id/$base.${OtherExts(r.nextInt(OtherExts.length))}",
          1 + r.nextInt(200000), volume)
      } else if (u < 0.13) {
        banned += 1
        out += ListedFile(s"$dir/${Banned(r.nextInt(Banned.length))}/f$id/$base.mkv",
          size, volume)
      } else {
        val p = s"$dir/f$id/$base.${VideoExts(r.nextInt(VideoExts.length))}"
        out += ListedFile(p, size, volume)
        if (id % 29 == 0) fails += 1 else kept += ListedFile(p, size, volume)
        if (r.nextInt(3) == 0) {
          val stem = p.substring(0, p.lastIndexOf('.'))
          out += ListedFile(s"$stem.en.srt", 20000 + r.nextInt(100000), volume)
          srt += 1
          if (r.nextInt(4) == 0) {
            out += ListedFile(s"$stem.en.hi.srt", 20000 + r.nextInt(100000), volume)
            srt += 1
          }
        }
      }
      i += 1
    }
    val files = out.result()
    Library(files, kept.result(), LibraryCounts(files.length, nonVideo, banned, fails, srt))
  }

  // ------------------------------------------------------------- corpus
  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  /** Planted structure of a generated corpus: which docs were written as
    * exact copies (modulo case and whitespace) and which as near copies
    * (1–3 token edits) of which original. */
  final case class Corpus(docs: Vector[Doc], exactGroups: Vector[Vector[Long]],
                          nearGroups: Vector[Vector[Long]])

  /** `n` documents over a Zipf(0.9) vocabulary of `vocab` pseudo-words,
    * 40–120 tokens each. About `exactFrac` of the docs are exact copies
    * and `nearFrac` near copies, planted in clusters of 2–8 around an
    * original (the original counts as a cluster member). */
  def corpus(n: Int, seed: Long, vocab: Int = 20000,
             exactFrac: Double = 0.05, nearFrac: Double = 0.10): Corpus = {
    val r = new SplittableRandom(seed ^ 0x2C4E6A8B0D1F3E5AL)
    val words = Array.tabulate(vocab)(word)
    val zipf = new Zipf(vocab, 0.9)
    def fresh(): Array[String] =
      Array.fill(40 + r.nextInt(81))(words(zipf.sample(r)))
    val texts = new Array[String](n)
    val exactGroups, nearGroups = Vector.newBuilder[Vector[Long]]
    val nExact = (n * exactFrac).toInt
    val nNear = (n * nearFrac).toInt
    var next = 0
    // planted clusters first, in id order; the remaining ids are fresh
    def plant(budget: Int, near: Boolean,
              into: scala.collection.mutable.Builder[Vector[Long], Vector[Vector[Long]]]): Unit = {
      var left = budget
      while (left > 0 && next < n - 1) {
        val size = math.min(2 + r.nextInt(7), math.min(left + 1, n - next))
        val orig = fresh()
        val ids = (next until next + size).map(_.toLong).toVector
        texts(next) = orig.mkString(" ")
        var j = 1
        while (j < size) {
          texts(next + j) =
            if (near) edit(orig).mkString(" ")
            else {
              // an exact duplicate differs only in case and spacing
              val s = orig.mkString(if (r.nextBoolean()) " " else "  ")
              if (r.nextBoolean()) s.toUpperCase else s
            }
          j += 1
        }
        into += ids
        next += size
        left -= size - 1
      }
    }
    // 1–3 token substitutions, insertions or deletions; redrawn in the
    // rare case the edits cancel out
    def edit(orig: Array[String]): Array[String] = {
      val b = orig.toBuffer
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        val at = r.nextInt(b.length)
        r.nextInt(3) match {
          case 0 => b(at) = words(zipf.sample(r))
          case 1 => b.insert(at, words(zipf.sample(r)))
          case _ => b.remove(at)
        }
      }
      if (b.sameElements(orig)) edit(orig) else b.toArray
    }
    plant(nExact, near = false, exactGroups)
    plant(nNear, near = true, nearGroups)
    while (next < n) { texts(next) = fresh().mkString(" "); next += 1 }
    // shuffle doc ids so planted clusters are not id-contiguous
    val perm = (0 until n).toArray
    var k = n - 1
    while (k > 0) {
      val j = r.nextInt(k + 1)
      val t = perm(k); perm(k) = perm(j); perm(j) = t
      k -= 1
    }
    val docs = Vector.tabulate(n) { i =>
      val t = texts(i)
      Doc(perm(i).toLong, t, "en", s"src${i % 7}", t.length.toLong)
    }.sortBy(_.doc_id)
    def remap(g: Vector[Vector[Long]]) = g.map(_.map(id => perm(id.toInt).toLong))
    Corpus(docs, remap(exactGroups.result()), remap(nearGroups.result()))
  }

  // --------------------------------------------------------- embeddings
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** `n` vectors of `dim` floats around `clusters` Gaussian centres
    * (label = centre index), so every query has real near neighbours. */
  def embeddings(n: Int, seed: Long, dim: Int = 64,
                 clusters: Int = 200): Vector[Vec] = {
    val r = new SplittableRandom(seed ^ 0x3D5F7193B5D7F911L)
    val centres = Array.fill(clusters, dim)(r.nextGaussian().toFloat)
    Vector.tabulate(n) { i =>
      val c = r.nextInt(clusters)
      Vec(i.toLong,
        Array.tabulate(dim)(d => centres(c)(d) + 0.35f * r.nextGaussian().toFloat), c)
    }
  }
}
