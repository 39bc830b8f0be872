package graft.query

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class QueryTextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("extractSearchTerms: name/title operators, len>1 filter, ordered dedup") {
    // NB the reference's own pattern (`neo4j_query_executor.py:177`) does
    // not reach through `=~` (the tilde blocks before the quote) — parity
    // means we do not either. `name: 'a'` is dropped by the len>1 filter;
    // the repeated 区块链 dedups keeping first-seen order.
    val cypher =
      """MATCH (k:Keyword {name: "区块链"})<-[:HAS_KEYWORD]-(p)
        |WHERE p.title CONTAINS '人工智能' OR k.name = "区块链"
        |  AND x.name: 'a' RETURN p LIMIT 10""".stripMargin
    assert(QueryText.extractSearchTerms(cypher) === Seq("区块链", "人工智能"))
  }

  test("extractSearchTerms: empty for term-free queries") {
    assert(QueryText.extractSearchTerms("MATCH (n) RETURN count(n)") === Seq.empty)
  }

  test("renderRows produces one JSON object per row") {
    val out = QueryText.renderRows(Seq(("D1", 2020)).toDF("title", "year"))
      .collect().toSeq
    assert(out === Seq("""{"title":"D1","year":2020}"""))
  }

  test("replayStatements: first-seen ordered dedup across log files") {
    val rows = QueryText.replayStatements(spark, QueryText.LogGlob)
      .orderBy("ord").as[(Long, String)].collect().toSeq
    assert(rows === Seq(
      1L -> "MERGE (p:Patent {title: 'T1'});",
      2L -> "MATCH (n:Keyword {name: '区块链'}) RETURN n;",
      3L -> "CREATE (x:Keyword {name: 'k1'});"))
  }

  test("q92 reads its log glob as the expanded file list: rows unchanged, " +
      "a glob matching nothing still fails PATH_NOT_FOUND") {
    val rows = QueryText.queries("q92_error_replay")(spark, "")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq(
      1L -> "MERGE (p:Patent {title: 'T1'});",
      2L -> "MATCH (n:Keyword {name: '区块链'}) RETURN n;",
      3L -> "CREATE (x:Keyword {name: 'k1'});"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      QueryText.replayStatements(spark,
        QueryText.LogGlob.stripSuffix(".txt") + ".nomatch")
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
