package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VideoFns

class GenSpec extends AnyFunSuite {

  test("same seed gives identical inputs; another seed gives different ones") {
    assert(Gen.library(3000, 7, "vol0") == Gen.library(3000, 7, "vol0"))
    assert(Gen.library(3000, 7, "vol0").files != Gen.library(3000, 8, "vol0").files)
    val c1 = Gen.corpus(2000, 7)
    assert(c1 == Gen.corpus(2000, 7))
    assert(c1.docs != Gen.corpus(2000, 8).docs)
    def flat(v: Vector[Gen.Vec]) = v.map(x => (x.vec_id, x.embedding.toSeq, x.label))
    assert(flat(Gen.embeddings(500, 7)) == flat(Gen.embeddings(500, 7)))
    assert(flat(Gen.embeddings(500, 7)) != flat(Gen.embeddings(500, 8)))
  }

  test("library counts match listed − filtered − probe failures") {
    val lib = Gen.library(5000, 3, "vol1", idBase = 1000)
    val banned = VideoFns.bannedDirNames.toSet
    val id = ".*/f(\\d+)/.*".r
    val kept = lib.files.filter { f =>
      val ext = f.path.substring(f.path.lastIndexOf('.') + 1).toLowerCase
      val idOk = f.path match { case id(n) => n.toLong % 29 != 0; case _ => false }
      VideoFns.videoExtensions.contains(ext) &&
        !f.path.split('/').exists(banned.contains) && idOk
    }
    val c = lib.counts
    assert(c.listed == lib.files.length)
    assert(kept == lib.kept)
    assert(c.built == kept.length)
    assert(c.nonVideo > 0 && c.banned > 0 && c.probeFailures > 0 && c.srt > 0)
    assert(lib.files.map(_.path).distinct.length == c.listed)
  }

  test("planted duplicate clusters have the promised shape") {
    val c = Gen.corpus(3000, 5)
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    def norm(s: String) = s.toLowerCase.split("\\s+").mkString(" ")
    assert(c.docs.map(_.doc_id) == (0L until 3000L))
    (c.exactGroups ++ c.nearGroups).foreach(g => assert(g.length >= 2 && g.length <= 8))
    c.exactGroups.foreach(g => assert(g.map(i => norm(text(i))).distinct.length == 1))
    c.nearGroups.foreach { g =>
      val base = text(g.head).split(" ")
      g.tail.foreach { i =>
        val t = text(i).split(" ")
        assert(math.abs(t.length - base.length) <= 3 && t.toSeq != base.toSeq)
      }
    }
    assert(c.exactGroups.map(_.length - 1).sum >= 140)
    assert(c.nearGroups.map(_.length - 1).sum >= 290)
  }

  test("a build over a generated library keeps exactly the promised rows") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val lib = Gen.library(1500, 9, "vol0")
      import spark.implicits._
      val listing = lib.files.toDF()
        .select($"path", $"size_bytes".as("sizeBytes"), $"volume")
      val built = graft.operators.VideoPipeline.build(listing,
        graft.sources.DirectoryListing.srtOf(listing), new graft.operators.StubProber)
      assert(built.count() == lib.counts.built)
      assert(built.filter($"srt_avail" === "Y").count() > 0)
    } finally spark.stop()
  }
}
