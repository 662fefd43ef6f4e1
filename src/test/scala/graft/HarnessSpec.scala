package graft

/** The shared main harness: the session conf each main builds, the
  * override order against JVM `spark.*` properties, the result digest
  * and the JSON string escape. */
class HarnessSpec extends SparkSpec {

  /** Run `f` with the JVM's spark.* system properties replaced by
    * `props`, restoring the originals afterwards. */
  private def withSparkProps[A](props: (String, String)*)(f: => A): A = {
    val saved = sys.props.toMap.filter(_._1.startsWith("spark."))
    saved.keys.foreach(sys.props.remove)
    props.foreach { case (k, v) => sys.props(k) = v }
    try f finally {
      props.foreach { case (k, _) => sys.props.remove(k) }
      sys.props ++= saved
    }
  }

  private def defaults(master: String, app: String, parts: String) = Map(
    "spark.master" -> master, "spark.app.name" -> app,
    "spark.sql.shuffle.partitions" -> parts,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")

  test("with no spark.* JVM property the conf is exactly the caller's") {
    withSparkProps() {
      assert(Harness.conf("local[32]", "graft-bench", 32).getAll.toMap ==
        defaults("local[32]", "graft-bench", "32"))
      assert(Harness.conf("local[4]", "graft-verify", 4).getAll.toMap ==
        defaults("local[4]", "graft-verify", "4"))
      val spill = Harness.conf("local[32]", "graft-spill-constrained", 8,
        Map("spark.memory.fraction" -> "0.01"))
      assert(spill.getAll.toMap ==
        defaults("local[32]", "graft-spill-constrained", "8") +
          ("spark.memory.fraction" -> "0.01"))
    }
  }

  test("a spark.* JVM property overrides a default but not a caller extra") {
    val before = sys.props.toMap
    withSparkProps("spark.sql.shuffle.partitions" -> "200",
        "spark.memory.fraction" -> "0.6") {
      val c = Harness.conf("local[32]", "graft-spill-constrained", 8,
        Map("spark.memory.fraction" -> "0.01"))
      assert(c.get("spark.sql.shuffle.partitions") == "200")
      assert(c.get("spark.memory.fraction") == "0.01")
      assert(c.get("spark.sql.adaptive.enabled") == "true")
    }
    assert(sys.props.toMap == before)
  }

  test("resultDigest keeps its strings: empty, nulls, multiplicity, column order") {
    import spark.implicits._
    assert(Harness.resultDigest(Seq.empty[(Int, String)].toDF("a", "b")) == "0:0:0")
    val nulls = Seq((Some(1), Option.empty[String]), (None, Some("x")),
      (Some(3), Some("y"))).toDF("a", "b")
    assert(Harness.resultDigest(nulls) == "3:136148484902896329:2234148700")
    val single = Harness.resultDigest(Seq((1, "x")).toDF("a", "b"))
    val dup = Harness.resultDigest(Seq((1, "x"), (1, "x")).toDF("a", "b"))
    assert(single == "1:-2271468621940247574:960032675")
    assert(dup == "2:0:1920065350" && dup != single)
    val orig = Seq((1, "x", 2.5), (2, "y", -1.0)).toDF("a", "b", "c")
    assert(Harness.resultDigest(orig) == "2:-672961149255869265:810622241")
    assert(Harness.resultDigest(orig.select("c", "a", "b")) ==
      Harness.resultDigest(orig))
  }

  test("withConfs restores a set key, unsets an unset one, also when the body throws") {
    val (setKey, unsetKey) = ("graft.test.withconfs.set", "graft.test.withconfs.unset")
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      def check(): Unit = {
        assert(spark.conf.get(setKey) == "before")
        assert(!spark.conf.getAll.contains(unsetKey))
      }
      val seen = Harness.withConfs(spark, setKey -> "inside", unsetKey -> "inside") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen == ("inside", "inside"))
      check()
      intercept[IllegalStateException] {
        Harness.withConfs(spark, setKey -> "inside", unsetKey -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      check()
    } finally spark.conf.unset(setKey)
  }

  test("jsonString escapes quote, backslash and control chars") {
    assert(Harness.jsonString("a\"b\\c\nd\te\u0001f") ==
      "\"a\\\"b\\\\c\\nd\\te\\u0001f\"")
    assert(Harness.jsonString("q01_build") == "\"q01_build\"")
  }
}
