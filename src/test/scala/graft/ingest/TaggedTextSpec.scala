package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.registry.Fixtures

/** Unit + fixture tests for the tagged-text ingest pipeline (SURVEY.md §5
  * strategy item 2: parsing, cleaning, first-wins dedup, label hygiene).
  */
class TaggedTextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parseEntries splits blank-line blocks and extracts {Field}: pairs") {
    val text =
      """{Title}: A
        |{Year}: 2020
        |not a field line
        |
        |
        |{Title}: B
        |""".stripMargin
    val recs = TaggedText.parseEntries(text)
    assert(recs === Seq(Map("Title" -> "A", "Year" -> "2020"), Map("Title" -> "B")))
  }

  test("parseEntries keeps the last value of a repeated field (dict parity)") {
    val recs = TaggedText.parseEntries("{Title}: first\n{Title}: second")
    assert(recs === Seq(Map("Title" -> "second")))
  }

  test("sanitizeLabel: spaces, symbols, digit prefix, CJK-only, null") {
    val rows = Seq("Journal Article", "2023 Special Report", "A-B/C", "论文")
      .toDF("rt")
      .select(TaggedText.sanitizeLabel($"rt").as("l"))
      .as[String].collect().toSeq
    assert(rows === Seq("Journal_Article", "_2023_Special_Report", "ABC", "UnknownDocument"))
    val nullRow = Seq(Option.empty[String]).toDF("rt")
      .select(TaggedText.sanitizeLabel($"rt").as("l")).as[String].head()
    assert(nullRow === "UnknownDocument")
  }

  test("stripPostalCodes removes standalone 6-digit codes only") {
    val out = Seq("辽宁大连 116024", "邮编 12345 尾", "1234567 长数字")
      .toDF("a").select(TaggedText.stripPostalCodes($"a").as("s"))
      .as[String].collect().toSeq
    assert(out === Seq("辽宁大连", "邮编 12345 尾", "1234567 长数字"))
  }

  /** Round-15 verdict item 5: the reference pattern (`cleaner.py:30`) is
    * lookaround-based — "exactly six digits, not bordered by a seventh"
    * — which strips LETTER-adjacent codes the earlier `\b\d{6}\b` port
    * silently kept (letter→digit is word→word: no boundary). These pin
    * the ported lookaround semantics, including the adjacency chain
    * where a consumed-context rewrite would miss alternate codes.
    */
  test("stripPostalCodes matches the reference's lookaround semantics") {
    val cases = Seq(
      "Xuyong646400" -> "Xuyong", // letter-adjacent: the old \b kept it
      "abc123456def" -> "abc def", // letter-bordered both sides
      "123456a654321" -> "a", // adjacency chain: BOTH codes strip
      "a1234567b" -> "a1234567b", // 7 digits: untouched
      "646400646400" -> "646400646400", // 12 digits: untouched
      "646400" -> "", // the whole string is a code
      "x 123456  y" -> "x y") // surrounding whitespace collapses
    val out = cases.map(_._1)
      .toDF("a").select(TaggedText.stripPostalCodes($"a").as("s"))
      .as[String].collect().toSeq
    assert(out === cases.map(_._2))
  }

  test("parse reads a glob as its expanded file list: same provenance " +
      "and blocks; a glob matching nothing still fails path-not-found") {
    val glob = Fixtures.TaggedErGlob
    // what a plain glob read sees: each file's name, area and block count
    val want = spark.read.option("wholetext", "true").text(glob)
      .select(input_file_name(), $"value").as[(String, String)].collect()
      .map { case (f, text) =>
        (f, f.split("/").takeRight(3).head,
          TaggedText.parseEntries(text).size.toLong)
      }.toSet
    val got = TaggedText.parse(spark, glob)
      .groupBy($"src_file", $"area").count()
      .as[(String, String, Long)].collect().toSet
    assert(want.size > 1 && got === want)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      TaggedText.parse(spark, glob.stripSuffix(".txt") + ".nomatch")
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("ingest output round-trips through the typed Dataset[DocRecord]") {
    val ds = graft.model.DocRecord.typed(
      TaggedText.ingest(spark, Fixtures.TaggedGlob))
    val recs = ds.collect()
    assert(recs.length === 5)
    val weird = recs.find(_.year_raw.contains("2022a")).get
    assert(weird.year.isEmpty && weird.extra("Custom Tag") === "custom-value")
    val full = recs.find(_.title.startsWith("面向领域")).get
    assert(full.year.contains(2022) && full.author.get === Seq("王芳", "李明"))
  }

  test("ingest fixture: first-wins dedup, int-or-raw year, extra map") {
    val df = TaggedText.ingest(spark, Fixtures.TaggedGlob).cache()
    assert(df.count() === 5)

    // duplicate title appears in two files: the lexicographically-first
    // file (area1/papers) wins -> Journal_Article 2022, not Thesis 2021.
    val dup = df.filter($"title" === "面向领域知识图谱构建的关键技术研究")
      .select($"label", $"year").as[(String, Int)].head()
    assert(dup === ("Journal_Article", 2022))

    // non-numeric year: typed column null, raw preserved (cleaner.py:67-71).
    val weird = df.filter($"year_raw" === "2022a")
      .select($"year".isNull, $"title").as[(Boolean, String)].head()
    assert(weird._1 && weird._2.contains("引号"))

    // unknown {Field}: tags survive in the extra map.
    val extra = df.filter($"year_raw" === "2022a")
      .select(element_at($"extra", "Custom Tag")).as[String].head()
    assert(extra === "custom-value")

    // titleless record dropped (csv_extractor.py:36-37).
    assert(df.filter($"year_raw" === "1999").isEmpty)

    // address explode: ';' then '.',',','/','·', postal stripped.
    val addrs = df.filter($"title" === "面向领域知识图谱构建的关键技术研究")
      .select($"author_address").as[Seq[String]].head()
    assert(addrs === Seq("大连理工大学计算机学院", "辽宁大连", "北京大学", "信息学院", "智能系"))
  }

  test("corpus assertion: the tagged fixtures carry no non-ASCII digits (r16 ADVICE 4)") {
    // stripPostalCodes pins ASCII [0-9]/[^0-9] where the reference's
    // Python \d/\D are UNICODE classes — a knowing, documented dialect
    // choice (TaggedText.scala P2 scaladoc; it keeps Java, RE2 and the
    // DuckDB oracle aligned) that is only faithful while the corpus
    // carries no non-ASCII digits adjacent to 6-digit runs. Assert the
    // stronger invariant (no non-ASCII digit anywhere in the fixture
    // corpus), so a corpus change that would make the dialects diverge
    // fails HERE instead of silently behaving differently from
    // cleaner.py:30. COVERAGE.md tracks the divergence.
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get("src/test/resources"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".txt") &&
          (p.toString.contains("/tagged/") ||
            p.toString.contains("/tagged_er/")))
        .flatMap { p =>
          val text = new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8")
          text.iterator.filter(c => Character.isDigit(c) &&
            (c < '0' || c > '9')).map(c => s"$p: U+${c.toInt.toHexString}")
        }.toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"non-ASCII digits in the tagged corpus — the ASCII [0-9] postal " +
        s"dialect no longer matches Python \\d semantics: $offenders")
  }
}
