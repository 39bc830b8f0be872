package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.registry.Fixtures

/** Golden-file checks for the Neo4j bulk-import CSV contract (headers,
  * quote-doubling, CJK passthrough — FIXTURES.md A4) and the JSON mapping
  * round trip.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // keyword variants from the ER fixture, org/addr variants from er3, plus
  // the main fixture's publisher/address docs
  private val bothFixtures = s"${Fixtures.Root}/{tagged,tagged_er}/*/*/*.txt"

  /** Non-hidden names in `dir` (the local filesystem's `.crc` files are
    * hidden), sorted. */
  private def listed(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted

  private def readCsvLines(dir: String): Seq[String] = {
    val part = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.readAllLines(part).asScala.toSeq
  }

  test("entity node CSV: exact header, minimal quoting, doubled quotes, CJK") {
    val dir = Files.createTempDirectory("nodes").toString
    val nodes = Seq("区块链", "含,逗号", "带\"引号\"的词").toDF("id")
    Neo4jCsv.writeEntityNodes(nodes, "Keyword", dir)
    val lines = readCsvLines(dir)
    assert(lines.head === ":ID,:LABEL,name")
    assert(lines.tail.toSet === Set(
      "区块链,Keyword,区块链",
      "\"含,逗号\",Keyword,\"含,逗号\"",
      "\"带\"\"引号\"\"的词\",Keyword,\"带\"\"引号\"\"的词\""))
  }

  test("an entry of many rows still starts with its header") {
    val dir = Files.createTempDirectory("bignodes").toString
    Neo4jCsv.writeEntityNodes(
      spark.range(200000).select($"id".cast("string").as("id")),
      "Keyword", dir)
    val lines = readCsvLines(dir)
    assert(lines.head === ":ID,:LABEL,name")
    assert(lines.size === 200001)
    assert(listed(dir).size === 2)
  }

  test("relationship CSV: START/END label header and per-type dedup") {
    val dir = Files.createTempDirectory("rels").toString
    val edges = Seq(
      ("D1", "区块链", "HAS_KEYWORD"),
      ("D1", "区块链", "HAS_KEYWORD"), // duplicate edge (A6 dedup)
      ("D2", "机器学习", "HAS_KEYWORD"),
      ("D9", "Org_1", "PUBLISHED_BY")  // other type filtered out
    ).toDF("src", "dst", "rel_type")
    Neo4jCsv.writeRels(edges, "HAS_KEYWORD", "Document", "Keyword", dir)
    val lines = readCsvLines(dir)
    assert(lines.head === ":START_ID(Document),:END_ID(Keyword),:TYPE")
    assert(lines.tail.toSet === Set(
      "D1,区块链,HAS_KEYWORD", "D2,机器学习,HAS_KEYWORD"))
  }

  test("document node CSV: full 12-column reference header; absent props empty") {
    val dir = Files.createTempDirectory("docs").toString
    // input carries only a subset of the property columns — the sink must
    // still write the full reference header with blanks (missing-key fill)
    val docs = Seq(("T1", "Patent", 2020L, "abs", "J1"))
      .toDF("title", "label", "year", "abstract", "journal")
    Neo4jCsv.writeDocumentNodes(docs, dir)
    val lines = readCsvLines(dir)
    assert(lines.head ===
      ":ID,:LABEL,title,year,abstract,journal,volume,issue,pages,doi,url,isbn_issn")
    assert(lines.tail === Seq("T1,Patent,T1,2020,abs,J1,,,,,,"))
  }

  test("document node CSV golden over the real ingest (CJK, quotes, commas)") {
    val dir = Files.createTempDirectory("docsgold").toString
    val ingested = graft.ingest.TaggedText
      .ingest(spark, Fixtures.TaggedGlob)
    Neo4jCsv.writeDocumentNodes(ingested, dir)
    val lines = readCsvLines(dir)
    assert(lines.head ===
      ":ID,:LABEL,title,year,abstract,journal,volume,issue,pages,doi,url,isbn_issn")
    val body = lines.tail.toSet
    // full property row, CJK unquoted (QUOTE_MINIMAL)
    assert(body.contains(
      "面向领域知识图谱构建的关键技术研究,Journal_Article,面向领域知识图谱构建的关键技术研究," +
        "2022,本文研究了知识图谱构建的关键技术。,计算机学报,45,3,1-12,10.0000/test.0001,,"))
    // embedded quotes doubled + comma-containing title quoted; non-numeric
    // year ('2022a') falls back to empty in the typed column
    assert(body.contains(
      "\"含有\"\"引号\"\"与,逗号的标题\",Journal_Article," +
        "\"含有\"\"引号\"\"与,逗号的标题\",,,,,,,,,"))
    assert(body.size === 5) // one row per deduped document
  }

  test("dynamic header: unknown {Field}: tags survive ingest -> CSV as trailing columns") {
    val dir = Files.createTempDirectory("docsextra").toString
    val ingested = graft.ingest.TaggedText
      .ingest(spark, Fixtures.TaggedGlob)
    Neo4jCsv.writeDocumentNodes(ingested, dir, dynamicExtra = true)
    val lines = readCsvLines(dir)
    // the fixture's unknown tags ({Custom Tag}, {Subject}, {Date} are
    // known; only Custom Tag is outside the known-field list) appear as
    // sorted trailing columns after the 12 reference columns
    assert(lines.head ===
      ":ID,:LABEL,title,year,abstract,journal,volume,issue,pages,doi,url," +
        "isbn_issn,Custom Tag")
    // the doc carrying {Custom Tag}: custom-value keeps it; others blank
    assert(lines.tail.exists(l => l.endsWith(",custom-value")))
    assert(lines.tail.count(_.endsWith(",custom-value")) === 1)
  }

  test("full-graph dump writes the complete manifest with reference naming") {
    val dir = Files.createTempDirectory("dump").toString
    val ingested = graft.ingest.TaggedText.ingest(spark, bothFixtures)
    val (manifest, jobs) =
      TestSpark.countJobs(GraphDump.dumpGraph(ingested, dir))
    assert(manifest === Seq(
      "documents",
      "author_nodes", "author_address_nodes", "keyword_nodes",
      "organization_nodes",
      "authored_rels", "tertiary_authored_rels", "has_keyword_rels",
      "published_by_rels", "author_address_rels",
      "keyword_alias_of_rels", "organization_alias_of_rels",
      "author_address_alias_of_rels"))
    // the mappings' universe collects plus the one write, not a writer per
    // entry; no temporary directory is left behind
    assert(jobs <= 12, s"dumpGraph ran $jobs jobs")
    assert(listed(dir) === manifest.sorted)
    // each entry: one part file plus the marker, header first
    for (name <- manifest) {
      val files = listed(s"$dir/$name")
      assert(files.size === 2 && files.contains("_SUCCESS") &&
        files.exists(f => f.startsWith("part-") && f.endsWith(".csv")),
        s"$name holds $files")
      val header = readCsvLines(s"$dir/$name").head
      assert(header.startsWith(":ID,:LABEL,") ||
        (header.startsWith(":START_ID(") && header.endsWith(",:TYPE")),
        s"$name starts with $header")
    }
    // header spot-checks per file family
    assert(readCsvLines(s"$dir/documents").head.startsWith(":ID,:LABEL,title"))
    assert(readCsvLines(s"$dir/author_nodes").head === ":ID,:LABEL,name")
    assert(readCsvLines(s"$dir/authored_rels").head ===
      ":START_ID(Author),:END_ID(Document),:TYPE")
    assert(readCsvLines(s"$dir/has_keyword_rels").head ===
      ":START_ID(Document),:END_ID(Keyword),:TYPE")
    // alias files carry exactly the non-identity entries
    assert(readCsvLines(s"$dir/organization_alias_of_rels").tail ===
      Seq("东北大学 (NEU),东北大学,ALIAS_OF"))
    assert(readCsvLines(s"$dir/keyword_alias_of_rels").tail.toSet ===
      Set("知识图谱 (KG),知识图谱,ALIAS_OF", "深度学习 (DL),深度学习,ALIAS_OF"))
  }

  test("literalFiles dump leaves real <name>.csv files, not Spark directories") {
    val dir = Files.createTempDirectory("dumpfile").toString
    val ingested = graft.ingest.TaggedText.ingest(spark, bothFixtures)
    val manifest = GraphDump.dumpGraph(ingested, dir, literalFiles = true)
    // every manifest entry carries the reference's literal filename...
    assert(manifest.head === "documents.csv")
    assert(manifest.contains("keyword_nodes.csv"))
    assert(manifest.contains("authored_rels.csv"))
    assert(manifest.contains("keyword_alias_of_rels.csv"))
    for (name <- manifest) {
      val p = Paths.get(s"$dir/$name")
      assert(Files.isRegularFile(p), s"$name is not a regular file")
    }
    // ...no Spark tmp/part directories left behind
    val leftovers = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => !Files.isRegularFile(p)).toSeq
    assert(leftovers.isEmpty, s"unexpected directories: $leftovers")
    assert(listed(dir) === manifest.sorted)
    // content identical contract: same header + rows as the directory mode
    val lines = Files.readAllLines(
      Paths.get(s"$dir/keyword_alias_of_rels.csv")).asScala
    assert(lines.head === ":START_ID(Keyword),:END_ID(Keyword),:TYPE")
    assert(lines.tail.toSet ===
      Set("知识图谱 (KG),知识图谱,ALIAS_OF", "深度学习 (DL),深度学习,ALIAS_OF"))
  }

  test("JSON mapping sink round-trips exactly") {
    val dir = Files.createTempDirectory("map").toString + "/m"
    val mapping = Seq(("先天免疫系统", "先天免疫"), ("区块链", "区块链"))
      .toDF("original", "representative")
    JsonSinks.writeMapping(mapping, dir)
    val back = JsonSinks.readMapping(spark, dir)
      .as[(String, String)].collect().toSet
    assert(back === Set(("先天免疫系统", "先天免疫"), ("区块链", "区块链")))
  }

  test("success/error partitioned sink splits on status") {
    val dir = Files.createTempDirectory("cls").toString + "/out"
    val df = Seq(("D1", "ok"), ("D2", "ok"), ("D3", "error"))
      .toDF("title", "status")
    graft.enrich.TopicEnrichment.writePartitioned(df, dir)
    assert(Files.exists(Paths.get(s"$dir/status=ok")))
    assert(Files.exists(Paths.get(s"$dir/status=error")))
    val ok = spark.read.json(s"$dir/status=ok").count()
    assert(ok === 2)
  }
}
