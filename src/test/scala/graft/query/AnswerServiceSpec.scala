package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.graph.DocGraph
import graft.query.AnswerService._

/** The /answer shim: directive planning, history merge order, routing
  * with the L2 fallback, rendering, truncation, and the no-result
  * phrasing — the whole api_server.py contract minus the HTTP frame.
  */
class AnswerServiceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val g: DocGraph = DocGraph.synthetic(spark, TestSpark.TinySf)

  test("directive planner: family + params, quoted values, catalog default") {
    assert(DirectivePlanner.plan("family=1 title=D42") ===
      (1, Map("title" -> "D42")))
    assert(DirectivePlanner.plan("family=11 author='Author_29' title=D42 title2=D43") ===
      (11, Map("author" -> "Author_29", "title" -> "D42", "title2" -> "D43")))
    assert(DirectivePlanner.plan("what can you do?") === (17, Map.empty))
  }

  test("a routed family answers with its rendered rows") {
    val resp = answer(g, AnswerRequest("family=1 title='D42'"))
    assert(resp.rows > 0)
    assert(resp.answer.contains("author"))
    // rendered rows are the same JSON renderRows produces for the family
    val direct = QueryText.renderRows(
      Router.route(g, 1, Map("title" -> "D42"))).collect()
    assert(resp.answer === direct.mkString("\n"))
  }

  test("history is merged query-first, reference order") {
    val rec = new QueryPlanner {
      @volatile var seen: String = ""
      def plan(q: String) = { seen = q; (17, Map.empty) }
    }
    answer(g, AnswerRequest("current question",
      history = Seq("earlier q", "earlier a")), rec)
    assert(rec.seen === "current question\nearlier q; earlier a")
  }

  test("an empty primary result falls back to full-text search") {
    // family 6 with a keyword that matches nothing as a graph entity but
    // appears in abstracts — the L2 path (same shape as q78/q118)
    val resp = answer(g, AnswerRequest("family=6 keyword=nosuchkeyword"),
      maxRows = 5)
    // either fallback rows or the explicit no-data phrasing — never an
    // empty string
    assert(resp.answer.nonEmpty)
    if (resp.rows == 0) assert(resp.answer === "No matching records found.")
  }

  test("truncation marks the cut and caps the row count") {
    val resp = answer(g, AnswerRequest("family=17"), maxRows = 3)
    assert(resp.rows === 3)
    assert(resp.answer.endsWith("... (truncated at 3 rows)"))
  }

  test("unknown families surface loudly (the HTTP 500 path)") {
    val e = intercept[IllegalArgumentException] {
      answer(g, AnswerRequest("family=99"))
    }
    assert(e.getMessage.contains("unknown family"))
  }

  test("the serving path over the bucketed binding: same answer, and the " +
      "routed 2-hop self-join plans with zero exchange under the join") {
    val bucketedG = DocGraph.bucketed(g, "answer_svc_spec", 4)
    // end-to-end: AnswerService over Binding 3 must render the exact
    // answer the in-memory binding renders — layout, not semantics
    val req = AnswerRequest("family=13 author='Author_29'")
    val bucketedResp = answer(bucketedG, req)
    val memResp = answer(g, req)
    assert(bucketedResp.rows > 0)
    assert(bucketedResp === memResp)
    // and the routed plan reads co-located buckets: no shuffle exchange
    // under the 2-hop self-join (the q71 shape the family routes to)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      val plan = Router.route(bucketedG, 13, Map("author" -> "Author_29"))
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected a shuffled equi-join in the routed plan")
      assert(joins.forall(
        _.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty),
        "the routed self-join must read co-located buckets, not shuffle")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private lazy val servedG = DocGraph.bucketed(g, "answer_svc_eq", 4)

  /** The answer the checkpoint → `isEmpty` → re-collect path renders:
    * [[Router.withFallback]]'s frame as JSON rows (`toJSON`), the first
    * `maxRows + 1` collected, with [[answer]]'s truncation suffix.
    */
  private def withFallbackAnswer(graph: DocGraph, q: String,
                                 maxRows: Int): AnswerResponse = {
    val (family, params) = DirectivePlanner.plan(q)
    val terms = params.get("terms")
      .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(params.valuesIterator.toSeq.sorted)
    val rendered = Router.withFallback(graph, family, params, terms)
      .toJSON.limit(maxRows + 1).collect()
    val shown = rendered.take(maxRows)
    val suffix =
      if (rendered.length > maxRows) s"\n... (truncated at $maxRows rows)"
      else ""
    if (shown.isEmpty) AnswerResponse("No matching records found.", 0L)
    else AnswerResponse(shown.mkString("\n") + suffix, shown.length.toLong)
  }

  test("bounded answers equal the withFallback rendering for every family") {
    // no keyword node → the full-text fallback answers
    val fallbackQ = "family=6 keyword=nosuchkeyword terms='merge;window'"
    val reachQ = "family=13 author=Author_29 hops=2"
    val reqs = Seq(
      "family=1 title=D42", "family=2 title=D7", "family=3 title=D15",
      "family=4 title=D100", "family=5 author=Author_29",
      "family=6 keyword=vector", "family=7 org=Org_5",
      "family=8 title=D123", "family=9 title=D123",
      "family=10 keyword=vector",
      "family=11 author=Author_29 title=D42 title2=D43",
      "family=12 title=D7 keyword=table", "family=13 author=Author_29",
      "family=14 keyword=small", "family=15 org=Org_3",
      "family=16 author=Author_29", "family=17",
      reachQ, "family=13 author=Author_29 hops=3", fallbackQ
    ).map(_ -> 100) :+ ("family=17" -> 3)
    // templates without an orderBy promise no row order
    val unordered = Set(3, 4, 8, 9, 12, 17)
    val got = reqs.map { case (q, maxRows) =>
      val resp = answer(servedG, AnswerRequest(q), maxRows = maxRows)
      val want = withFallbackAnswer(servedG, q, maxRows)
      if (unordered(DirectivePlanner.plan(q)._1))
        assert(resp.rows === want.rows &&
          resp.answer.split("\n").sorted.toSeq ===
            want.answer.split("\n").sorted.toSeq, q)
      else assert(resp === want, q)
      (q, maxRows) -> resp
    }.toMap
    val fallback = got(fallbackQ -> 100)
    assert(fallback.rows > 0 && fallback.answer.contains("topics_csv"))
    assert(got("family=17" -> 3).answer.endsWith("... (truncated at 3 rows)"))
    // the seed's driver-side hash finds it in the graph: hop 0 is itself
    assert(got(reachQ -> 100).answer
      .contains("""{"author":"Author_29","hops":0}"""))
  }

  test("a family-1 answer over the bucketed binding is one Spark job") {
    val req = AnswerRequest("family=1 title=D42")
    answer(servedG, req) // plan and codegen outside the counted window
    val (resp, jobs) = TestSpark.countJobs(answer(servedG, req))
    assert(resp.rows > 0)
    assert(jobs === 1)
  }
}
