package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.TaggedText
import graft.query.Router
import graft.registry.Fixtures

/** The DocGraph parameterization: every one of the 17 Q.txt families runs
  * over BOTH bindings — the synthetic fixture graph (gated per-family by
  * the q6x oracle rows) and the REAL tagged-text ingest (gated here plus
  * the q100-q103 oracle rows). This is the end of the r3 gap "templates
  * bind only to the synthetic graph".
  */
class DocGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tagged: DocGraph =
    DocGraph.ofIngested(TaggedText.ingest(spark, Fixtures.TaggedGlob))

  // Fixture-grounded parameters per family (1-17); families whose seed
  // exists in the fixture must return rows.
  private val cases: Seq[(Int, Map[String, String], Boolean)] = Seq(
    (1, Map("title" -> "面向领域知识图谱构建的关键技术研究"), true),
    (2, Map("title" -> "面向领域知识图谱构建的关键技术研究"), true),
    (3, Map("title" -> "面向领域知识图谱构建的关键技术研究"), true),
    (4, Map("title" -> "面向领域知识图谱构建的关键技术研究"), true),
    (5, Map("author" -> "王芳"), true),
    (6, Map("keyword" -> "知识图谱"), true),
    (7, Map("org" -> "北京"), true), // Place Published fallback key
    (8, Map("title" -> "会议论文示例"), true),
    (9, Map("title" -> "会议论文示例"), true),
    (10, Map("keyword" -> "深度学习"), true),
    (11, Map("author" -> "王芳",
      "title" -> "面向领域知识图谱构建的关键技术研究",
      "title2" -> "一种量子通信装置"), true),
    (12, Map("title" -> "会议论文示例", "keyword" -> "深度学习"), true),
    (13, Map("author" -> "王芳"), true),
    (14, Map("keyword" -> "知识图谱"), true),
    (15, Map("org" -> "大连理工大学"), true),
    (16, Map("author" -> "王芳"), true),
    (17, Map.empty[String, String], true))

  test("all 17 families run over the tagged-ingest DocGraph") {
    for ((family, params, expectRows) <- cases) {
      val out = Router.route(tagged, family, params)
      val n = out.count()
      assert(!expectRows || n > 0, s"family $family returned no rows")
    }
  }

  test("family 13 over the ingest graph finds the fixture coauthors") {
    val got = GraphQueries.coauthors(tagged, "王芳")
      .as[String].collect().toSeq
    assert(got === Seq("李明", "赵六"))
  }

  test("family 10 over the ingest graph counts per-year keyword docs") {
    val got = GraphQueries.keywordPerYear(tagged, "深度学习")
      .as[(Long, Long)].collect().toMap
    // 深度学习 appears on the 2022 knowledge-graph paper and the 2020
    // conference paper (plus whatever the md5-bucket alias expansion adds
    // deterministically — both seeds map to themselves here)
    assert(got.getOrElse(2022L, 0L) >= 1L && got.getOrElse(2020L, 0L) >= 1L)
  }

  test("variable-hop BFS (family 13 + hops) runs on the ingest graph") {
    val out = Router.route(tagged, 13, Map("author" -> "王芳", "hops" -> "2"))
    // 1 hop: 李明, 赵六; hop 0: seed — reach includes the seed itself
    assert(out.filter($"author" === "王芳").count() === 1)
    assert(out.count() >= 3)
  }

  test("fallback search runs over the ingest graph") {
    val out = Router.withFallback(tagged, 1,
      Map("title" -> "NO_SUCH_DOC"), Seq("知识图谱"))
    assert(out.columns.toSeq === Seq("title", "topics_csv"))
    assert(out.count() > 0) // abstract of the knowledge-graph paper matches
  }

  test("synthetic binding equals the pre-refactor direct frames") {
    // the (s, sfDir) overloads must be EXACT thin bindings — q6x oracle
    // parity depends on it; spot-check a join-heavy family both ways
    val viaGraph = GraphQueries.collabTopics(
      DocGraph.synthetic(spark, graft.TestSpark.TinySf), "Author_29")
      .collect().toSeq
    val viaBinding = GraphQueries.collabTopics(
      spark, graft.TestSpark.TinySf, "Author_29").collect().toSeq
    assert(viaGraph === viaBinding && viaGraph.nonEmpty)
  }
}
