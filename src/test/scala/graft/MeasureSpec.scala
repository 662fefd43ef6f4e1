package graft

import java.nio.file.Files

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import Measure.{Fixed, Reading, obj}

/** The shared measurement library: medians, the quiet rule, timing,
  * fixture trees, and the artifacts' JSON and provenance. */
class MeasureSpec extends AnyFunSuite {

  /** Parses strictly: a repeated key is an error, not a silent overwrite. */
  private def parse(s: String): JsonNode =
    new ObjectMapper().enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION).readTree(s)

  private def window(otherCpu: Double) = ProcStat.Window(otherCpu, 0.5, 0.0, 1.0)
  private val clean = window(0.0)
  private val loaded = window(0.2)

  /** A `quiet` run over scripted readings; returns the kept one and how
    * many attempts ran. */
  private def quietOver(readings: Reading*)(
      run: (=> Reading) => Reading): (Reading, Int) = {
    val it = readings.iterator
    var n = 0
    val kept = run { n += 1; it.next() }
    (kept, n)
  }

  test("median is the middle rep, and the upper middle of an even count") {
    assert(Measure.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Measure.median(Seq(5.0)) == 5.0)
    assert(Measure.median(Seq(4.0, 1.0, 3.0, 2.0)) == 3.0)
    assert(Reading(Seq(0.3, 0.1, 0.2), clean).sec == 0.2)
    assert(Reading(Seq(0.3, -1.0, 0.2), clean).sec == -1.0)
  }

  test("quiet keeps the first clean reading and stops there") {
    val (kept, n) = quietOver(Reading(Seq(1.0), loaded), Reading(Seq(2.0), clean),
      Reading(Seq(3.0), clean))(Measure.quiet(3)(_))
    assert(n == 2)
    assert(kept == Reading(Seq(2.0), clean, retries = 1))
  }

  test("quiet stops at maxAttempts and keeps the caller's choice") {
    val w = Seq(window(0.3), window(0.1), window(0.2))
    val (quietest, n) = quietOver(Reading(Seq(1.0), w(0)), Reading(Seq(3.0), w(1)),
      Reading(Seq(2.0), w(2)), Reading(Seq(0.5), clean))(Measure.quiet(3)(_))
    assert(n == 3)
    assert(quietest == Reading(Seq(3.0), w(1), retries = 2))
    val (fastest, m) = quietOver(Reading(Seq(1.0), w(0)), Reading(Seq(3.0), w(1)),
      Reading(Seq(0.9), w(2)))(Measure.quiet(3, better = (a, b) => a.sec < b.sec)(_))
    assert(m == 3)
    assert(fastest == Reading(Seq(0.9), w(2), retries = 2))
    // the caller's extra predicate dirties a clean window
    val (over, k) = quietOver(Reading(Seq(5.0), clean), Reading(Seq(1.0), clean))(
      Measure.quiet(3, over = _ > 2.0)(_))
    assert(k == 2 && over.sec == 1.0 && over.retries == 1)
  }

  test("quiet does not retry an unjudgeable window or a failed rep") {
    val unjudgeable = ProcStat.Window(-1.0, -1.0, -1.0, 7.0)
    val (a, n) = quietOver(Reading(Seq(1.0), unjudgeable), Reading(Seq(2.0), clean))(
      Measure.quiet(3)(_))
    assert(n == 1 && a == Reading(Seq(1.0), unjudgeable))
    val (b, m) = quietOver(Reading(Seq(-1.0), loaded), Reading(Seq(2.0), clean))(
      Measure.quiet(3)(_))
    assert(m == 1 && b.sec == -1.0)
  }

  test("timed returns the body's value and rethrows what it throws") {
    val (v, sec) = Measure.timed(42)
    assert(v == 42 && sec >= 0)
    val e = intercept[IllegalStateException](
      Measure.timed[Int](throw new IllegalStateException("boom")))
    assert(e.getMessage == "boom")
  }

  test("fixture reuses a tree for its provenance, rebuilds it for another, " +
      "never deletes through a link") {
    val root = Files.createTempDirectory("measure-spec")
    try {
      val base = Files.createDirectories(root.resolve("base"))
      Files.write(base.resolve("table"), Array[Byte](1, 2, 3))
      val dir = root.resolve("fixture").toString
      var builds = 0
      def build(version: Int): Unit = Measure.fixture(dir, obj("v" -> version)) { p =>
        builds += 1
        Files.write(p.resolve(s"data-$version"), Array[Byte](version.toByte))
        Files.createSymbolicLink(p.resolve("base"), base)
      }
      build(1)
      build(1)
      assert(builds == 1)
      val fixture = java.nio.file.Paths.get(dir)
      assert(Files.isRegularFile(fixture.resolve("data-1")))
      build(2)
      assert(builds == 2)
      assert(!Files.exists(fixture.resolve("data-1")))
      assert(Files.isRegularFile(fixture.resolve("data-2")))
      assert(Files.readAllBytes(base.resolve("table")).toSeq == Seq[Byte](1, 2, 3),
        "the old tree's link must be removed as a link, its target kept")
    } finally TempDirs.deleteTree(root)
  }

  test("json keeps the number spellings and escapes every control character") {
    assert(Measure.json(obj("a" -> Fixed(1.23456, 3), "b" -> Fixed(2.0, 2), "c" -> 0.5,
      "d" -> 7L, "e" -> true, "f" -> None, "g" -> Seq(1, 2), "h" -> Some("x"))) ==
      """{"a":1.235,"b":2.00,"c":0.5,"d":7,"e":true,"f":null,"g":[1,2],"h":"x"}""")
    val nasty = "tab\there\rcr\u0001ctl \"q\" \\ end"
    val node = parse(Measure.json(obj(nasty -> nasty)))
    assert(node.get(nasty).asText == nasty)
    intercept[IllegalArgumentException](Measure.json(Map("k" -> 1)))
  }

  test("every artifact parses as JSON and carries the provenance fields once") {
    val dir = Files.createTempDirectory("measure-artifact")
    try {
      val file = dir.resolve("a.json").toString
      val w = ProcStat.Window(-1.0, 0.25, 0.0, 1.5, stallSite = "a.B\tpark\r\u0001")
      val line = Measure.artifact(file, obj("metric" -> "x", "cpus" -> 99,
        "load" -> obj("q1" -> Measure.Obj(w.fields :+ ("rep_sec" -> Seq(Fixed(0.1, 3)))))))
      val fromFile = new String(Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
      assert(fromFile == line + "\n")
      val node = parse(fromFile)
      Seq("git_head", "spark_props", "cpus").foreach(k =>
        assert(node.has(k), s"artifact lacks $k"))
      assert(node.get("cpus").asInt == 99, "a field the caller set wins over the stamp")
      Seq("reps", "only").foreach(k =>
        assert(!node.has(k), s"$k stamped on an artifact whose main did not read it"))
      val cut = parse(Measure.artifact(file, obj("reps" -> Measure.Reps, Measure.onlyField)))
      assert(cut.get("reps").asInt == Measure.Reps && cut.has("only"))
      assert(cut.get("cpus").asInt == Measure.cpus)
      assert(node.get("spark_props").isObject)
      assert(node.at("/load/q1/stall_site").asText == "a.B\tpark\r\u0001")
      assert(node.at("/load/q1/other_cpu").asDouble == -1.0)
      val sides = Seq(Measure.json(Measure.digestRows(Seq("q" -> ("1:2:3", 0.5)))),
        Measure.json(Bench.contract(1.0, 3, false, "h", (0.0, 0.0, 0.0, 0.0), Nil, "d")))
      sides.foreach(s => assert(parse(s).isObject))
    } finally TempDirs.deleteTree(dir)
  }

  test("Bench's contract line is a pure function of its inputs, pinned") {
    def line() = Measure.json(Bench.contract(12.5, 3, false, "0123abc+dirty",
      (0.2814, 0.3, 1.234, 2.0), Seq("q01_build" -> 0.25, "q05_pricing" -> -1.0),
      "data/sf0.1"))
    val want = """{"metric":"total","value":12.5,"unit":"sec","reps":3,""" +
      """"witness":false,"git_head":"0123abc+dirty",""" +
      """"calibration":{"pre_lcg_sec":0.281,"post_lcg_sec":0.300,""" +
      """"loadavg_pre":1.23,"loadavg_post":2.00},""" +
      """"queries":{"q01_build":0.25,"q05_pricing":-1.0},"sf":"data/sf0.1"}"""
    assert(line() == want)
    assert(line() == line())
  }
}
