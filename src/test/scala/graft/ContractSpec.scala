package graft

import scala.jdk.CollectionConverters._

/** Driver-contract guards: wiring mistakes here would zero a round. */
class ContractSpec extends SparkSpec {

  /** Every .scala file under `root` but this one (which names the
    * strings the source cases ban), with its text. */
  private def sources(root: String): Seq[(java.nio.file.Path, String)] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try it.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ContractSpec.scala")
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally it.close()
  }

  private def count(files: Seq[(java.nio.file.Path, String)], s: String): Int =
    files.map { case (_, text) => text.sliding(s.length).count(_ == s) }.sum

  test("every oracle key has a query; no orphans") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert((q -- o).isEmpty, s"queries missing oracles (weaker rows-only check): ${q -- o}")
  }

  test("COVERAGE.md generated query table matches SparkEntry.queries (no drift)") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val begin = text.indexOf("<!-- BEGIN GENERATED QUERY TABLE")
    val end = text.indexOf("<!-- END GENERATED QUERY TABLE")
    assert(begin >= 0 && end > begin,
      "COVERAGE.md must contain the generated query table markers")
    val rows = """(?m)^\| (q\w+) \|""".r
      .findAllMatchIn(text.substring(begin, end)).map(_.group(1)).toSet
    val queries = SparkEntry.queries.keySet
    assert(rows == queries,
      s"regenerate with tools/gen_coverage.py — table missing ${queries -- rows}, stale ${rows -- queries}")
  }

  test("entry() returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and return at least one row at smoke scale") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("Harness.scala is the only session builder under src/") {
    val builder = """SparkSession\.builder\(\)""".r
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    val offenders = try {
      it.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Harness.scala")
        .filter { p =>
          java.nio.file.Files.readAllLines(p).asScala.exists { l =>
            val t = l.trim
            // scaladoc and line comments (usage examples) are exempt
            !(t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")) &&
              builder.findFirstIn(l).isDefined
          }
        }
    } finally it.close()
    assert(offenders.isEmpty, s"build sessions through graft.Harness: $offenders")
  }

  test("TempDirs.memo is the only staging memo under src/main") {
    // the maps that stay are the persistent IndexCatalog's front, the
    // cached counts and token sets it serves, and the per-path schema
    // cache on every query's read path
    val allowed = Set("TempDirs.scala", "IndexCatalog.scala",
      "Similarity.scala", "TokenIndex.scala", "Tables.scala")
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try {
      it.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .filter(p => java.nio.file.Files.readAllLines(p).asScala
          .exists(_.contains("computeIfAbsent")))
    } finally it.close()
    assert(offenders.isEmpty, s"stage through graft.TempDirs.memo/staged: $offenders")
  }

  test("the measurement mains time and write artifacts through graft.Measure") {
    val outside = sources("src/main").filterNot(f =>
      Set("Measure.scala", "ProcStat.scala")(f._1.getFileName.toString))
    Seq("System.nanoTime", "Files.write(java.nio.file.Paths.get(").foreach { s =>
      val hits = outside.collect { case (p, text) if text.contains(s) => p }
      assert(hits.isEmpty, s"$s: use graft.Measure, not $hits")
    }
  }

  test("int8 quantization has one Spark and one oracle definition; the pruned dot is gone") {
    val main = sources("src/main")
    assert(count(main, "greatest(mx, 1e-30d)") == 1,
      "quantize through Similarity.quantized")
    assert(count(main, "greatest(mx, 1e-30))") == 1,
      "quantize oracles through Similarity.duckQuant")
    val all = sources("src")
    Seq("vec_dot_prune", "vec_suffix_norms", "usePrune").foreach { s =>
      val hits = all.collect { case (p, text) if text.contains(s) => p }
      assert(hits.isEmpty, s"$s is deleted but named in $hits")
    }
  }

  test("the text family spells its tokenizer, normalizer and sketch oracles once") {
    val main = sources("src/main")
    val outsideText = main.filter(_._1.getFileName.toString != "Text.scala")
    // "split(text, ' ')" also matches the oracle's string_split(text, ' ')
    Seq("split(col(\"text\"), \" \")", "split(text, ' ')",
        "regexp_replace(lower(", "Seq(\" the \", \" a \", \" of \", \" and \"").foreach { s =>
      assert(count(outsideText, s) == 0, s"$s: use graft.ext.Text")
    }
    Seq("MAX(CASE WHEN v = 0 THEN", "reach(src, dst)", "list_min(list_transform(hs")
      .foreach(s => assert(count(main, s) == 1, s"$s must have one oracle builder"))
  }
}
