package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.{DocGraph, GraphQueries}

/** L1 query-template router (SURVEY.md §2.9; `neo4j_query_executor.py:
  * 240-384`): the reference turns a natural-language question into one of
  * the 17 Q.txt families via an LLM; the engine's side of that contract
  * is a closed, typed template library — family number + parameters →
  * DataFrame. NL parsing stays a pluggable front-end, out of engine
  * scope (SURVEY §7.5 risk 6: no Cypher parser — the workload is closed).
  *
  * Parameter keys: `title`, `author`, `keyword`, `org`, `title2` (family
  * 11's second candidate), `terms` (semicolon-separated, fallback
  * search).
  */
object Router {

  /** Dispatch a Q.txt family over ANY [[DocGraph]] — the synthetic
    * fixture binding or a real tagged-ingest graph. Family 17 ("what can
    * you query?") returns the catalog itself: one row per family with its
    * parameter names.
    */
  def route(g: DocGraph, family: Int,
            params: Map[String, String]): DataFrame = {
    def p(key: String): String = params.getOrElse(key,
      throw new IllegalArgumentException(s"family $family needs param '$key'"))
    family match {
      case 1  => GraphQueries.docAuthors(g, p("title"))
      case 2  => GraphQueries.docKeywords(g, p("title"))
      case 3  => GraphQueries.docOrg(g, p("title"))
      case 4  => GraphQueries.docTopic(g, p("title"))
      case 5  => GraphQueries.authorDocs(g, p("author"))
      case 6  => GraphQueries.keywordDocs(g, p("keyword"))
      case 7  => GraphQueries.orgDocs(g, p("org"))
      case 8 | 9 => GraphQueries.docProperties(g, p("title"))
      case 10 => GraphQueries.keywordPerYear(g, p("keyword"))
      case 11 => GraphQueries.authoredCheck(g, p("author"),
        Seq(p("title"), p("title2")))
      case 12 => GraphQueries.docHasKeyword(g, p("title"), p("keyword"))
      case 13 =>
        // optional "hops" parameter upgrades the fixed 2-hop co-author
        // template to Pregel BFS reachability at any depth
        params.get("hops") match {
          case Some(h) => GraphQueries.coauthorReach(g, p("author"), h.toInt)
          case None => GraphQueries.coauthors(g, p("author"))
        }
      case 14 => GraphQueries.keywordCooccur(g, p("keyword"), 10)
      case 15 => GraphQueries.orgTopics(g, p("org"))
      case 16 => GraphQueries.collabTopics(g, p("author"))
      case 17 => catalog(g.docs.sparkSession)
      case n => throw new IllegalArgumentException(s"unknown family $n")
    }
  }

  /** Synthetic-fixture binding of [[route]]. */
  def route(s: SparkSession, sfDir: String, family: Int,
            params: Map[String, String]): DataFrame =
    if (family == 17) catalog(s)
    else route(DocGraph.synthetic(s, sfDir), family, params)

  /** Family 17: the queryable-capability listing. */
  def catalog(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1, "Document -> Author", "title"),
      (2, "Document -> Keyword", "title"),
      (3, "Document -> Organization", "title"),
      (4, "Document -> Topic", "title"),
      (5, "Author -> Document", "author"),
      (6, "Keyword -> Document (alias-expanded)", "keyword"),
      (7, "Organization -> Document", "org"),
      (8, "Document -> properties", "title"),
      (9, "Document -> type + summary properties", "title"),
      (10, "Keyword -> per-year document counts", "keyword"),
      (11, "Author x Documents -> relationship existence", "author,title,title2"),
      (12, "Document x Keyword -> existence", "title,keyword"),
      (13, "Author -> co-authors (2-hop)", "author"),
      (14, "Keyword -> co-occurring keywords (2-hop)", "keyword"),
      (15, "Organization -> topics (2-hop)", "org"),
      (16, "Author -> collaborator topics + abstracts (3-hop)", "author"),
      (17, "capability catalog", "")
    ).toDF("family", "description", "params")
  }

  /** L2: the fallback path — graph query returned empty → full-text
    * search over abstracts/topics/addresses with the harvested terms
    * (`neo4j_query_executor.py:340-344` lazy-fallback control flow), as
    * a DataFrame. Callers that need the whole routed frame use this form:
    * the q118 registry query, `RouterSpec` and `DocGraphSpec`, and the
    * benchmark's answer check. The serving path uses [[answerRows]].
    */
  def withFallback(g: DocGraph, family: Int,
                   params: Map[String, String],
                   searchTerms: Seq[String]): DataFrame = {
    // localCheckpoint executes the primary plan EXACTLY ONCE and returns a
    // frame backed by the materialized blocks — the isEmpty probe and the
    // consumer both read those blocks, so the expensive multi-hop plan is
    // neither leaked as a lingering cache nor executed twice. (Blocks are
    // executor-local, not fault-tolerant — fine for a driver-side
    // control-flow probe whose result is consumed immediately. Lifetime:
    // once the returned frame is unreferenced, ContextCleaner reclaims
    // the checkpoint blocks at the next driver GC — bounded, not leaked.)
    val primary = route(g, family, params).localCheckpoint()
    if (!primary.isEmpty) primary
    else GraphQueries.fallbackSearch(g, searchTerms, 100)
  }

  def withFallback(s: SparkSession, sfDir: String, family: Int,
                   params: Map[String, String],
                   searchTerms: Seq[String]): DataFrame =
    withFallback(DocGraph.synthetic(s, sfDir), family, params, searchTerms)

  /** L2 in its bounded serving form: the first `n` rows of the routed
    * template, rendered by [[QueryText.renderRows]], in ONE collect —
    * the limit sits under the rendering, so an ordered template plans as
    * `TakeOrderedAndProject` — and the full-text fallback collected the
    * same way only when that collect came back empty. Same rows as the
    * first `n` of [[withFallback]], without its checkpoint and `isEmpty`
    * round trip.
    */
  def answerRows(g: DocGraph, family: Int, params: Map[String, String],
                 searchTerms: Seq[String], n: Int): Array[String] = {
    val primary = QueryText.renderRows(route(g, family, params).limit(n))
      .collect()
    if (primary.nonEmpty) primary
    else QueryText.renderRows(
      GraphQueries.fallbackSearch(g, searchTerms, 100).limit(n)).collect()
  }
}
