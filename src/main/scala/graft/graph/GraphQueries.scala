package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import BibGraph._

/** The reference's 17-family question workload (`Q.txt:1-64`) plus the
  * alias / node-frame / fallback-search operators, each as a registered
  * query with an exact DuckDB oracle over the same parquet (SURVEY.md
  * §2.3 J3-J10, §2.4 A4-A8, §2.7 F1-F3, §2.9 L2).
  *
  * Query shapes are the Cypher-generation rules of
  * `neo4j_query_executor.py:250-297` re-expressed as DataFrame joins:
  * 1-hop forward/reverse = equi joins with the seed filter pushed into
  * the scan; existence = semi-join; 2-/3-hop = edge self-joins on the
  * document key; alias expansion = union of seed + ALIAS_OF target
  * (prompt rule 1); LIMIT 10 top-k = `TakeOrderedAndProject` (rule 5).
  *
  * Scale notes: seed filters (one title / one author) reach the parquet
  * scan before any join; the tiny expanded-seed / taxonomy sides are
  * broadcast; multi-hop self-joins shuffle on the document key — at 100 TB
  * the edge frame would be bucketed by that key so the self-joins are
  * co-located, and per-type edge branches prune via constant folding.
  */
object GraphQueries {

  // ------------------------------------------------------------------
  // Parameterized template library — every family takes a [[DocGraph]]
  // (docs/edges/kwMapping frame bundle), so the SAME template serves the
  // synthetic fixture graph AND the real tagged ingest. The (s, sfDir)
  // overloads are thin synthetic bindings the q6x oracle registry and the
  // Router's sfDir entry point ride.
  // ------------------------------------------------------------------

  /** Family 1 (J3): Document -> Author. */
  def docAuthors(g: DocGraph, title: String): DataFrame =
    g.authored.filter(col("title") === title)
      .select(col("author")).orderBy(col("author"))

  def docAuthors(s: SparkSession, d: String, title: String): DataFrame =
    docAuthors(DocGraph.synthetic(s, d), title)

  /** Family 2 (J3): Document -> Keyword. */
  def docKeywords(g: DocGraph, title: String): DataFrame =
    g.hasKeyword.filter(col("title") === title)
      .select(col("kw")).orderBy(col("kw"))

  def docKeywords(s: SparkSession, d: String, title: String): DataFrame =
    docKeywords(DocGraph.synthetic(s, d), title)

  /** Family 3 (J3): Document -> Organization (PUBLISHED_BY edge). */
  def docOrg(g: DocGraph, title: String): DataFrame =
    g.published.filter(col("title") === title).select(col("title"), col("org"))

  def docOrg(s: SparkSession, d: String, title: String): DataFrame =
    docOrg(DocGraph.synthetic(s, d), title)

  /** Family 4 (J3): Document -> Topic. */
  def docTopic(g: DocGraph, title: String): DataFrame =
    g.hasTopic.filter(col("title") === title).select(col("title"), col("topic"))

  def docTopic(s: SparkSession, d: String, title: String): DataFrame =
    docTopic(DocGraph.synthetic(s, d), title)

  /** Family 5 (J4): Author -> Document (with year property). */
  def authorDocs(g: DocGraph, author: String): DataFrame =
    g.authored.filter(col("author") === author)
      .join(g.docs.select(col("title"), col("year")), "title")
      .select(col("title"), col("year")).orderBy(col("title"))

  def authorDocs(s: SparkSession, d: String, author: String): DataFrame =
    authorDocs(DocGraph.synthetic(s, d), author)

  /** Family 6 (J4+J5): Keyword -> Document, alias-expanded (prompt rule 1). */
  def keywordDocs(g: DocGraph, keyword: String): DataFrame =
    g.hasKeyword
      .join(broadcast(g.aliasExpand(keyword)), "kw")
      .select(col("title")).distinct().orderBy(col("title"))

  def keywordDocs(s: SparkSession, d: String, keyword: String): DataFrame =
    keywordDocs(DocGraph.synthetic(s, d), keyword)

  /** Family 7 (J4): Organization -> Document. */
  def orgDocs(g: DocGraph, org: String): DataFrame =
    g.published.filter(col("org") === org)
      .join(g.docs.select(col("title"), col("year")), "title")
      .select(col("title"), col("year")).orderBy(col("title"))

  def orgDocs(s: SparkSession, d: String, org: String): DataFrame =
    orgDocs(DocGraph.synthetic(s, d), org)

  /** Families 8/9: Node -> Properties fetch. */
  def docProperties(g: DocGraph, title: String): DataFrame =
    g.docs.filter(col("title") === title)
      .select(col("title"), col("label"), col("year"), col("journal"),
        col("abstract"))

  def docProperties(s: SparkSession, d: String, title: String): DataFrame =
    docProperties(DocGraph.synthetic(s, d), title)

  /** Family 10 (A7, the flagship slice — SURVEY §7.3): per-year document
    * counts for an alias-expanded keyword.
    */
  def keywordPerYear(g: DocGraph, keyword: String): DataFrame =
    g.hasKeyword
      .join(broadcast(g.aliasExpand(keyword)), "kw")
      .select(col("title")).distinct()
      .join(g.docs.select(col("title"), col("year")), "title")
      .groupBy(col("year")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("year"))

  def keywordPerYear(s: SparkSession, d: String, keyword: String): DataFrame =
    keywordPerYear(DocGraph.synthetic(s, d), keyword)

  /** Family 11 (J6): which of the candidate docs did the author
    * (co-)write, and via which relationship?
    */
  def authoredCheck(g: DocGraph, author: String,
                    titles: Seq[String]): DataFrame =
    g.authoredAll
      .filter(col("author") === author && col("title").isin(titles: _*))
      .select(col("title"), col("rel")).orderBy(col("title"), col("rel"))

  def authoredCheck(s: SparkSession, d: String, author: String,
                    titles: Seq[String]): DataFrame =
    authoredCheck(DocGraph.synthetic(s, d), author, titles)

  /** Family 12 (J6): does the doc carry the keyword? (semi-join shape) */
  def docHasKeyword(g: DocGraph, title: String, keyword: String): DataFrame =
    g.hasKeyword
      .filter(col("title") === title && col("kw") === keyword)
      .agg((count(lit(1)) > 0).as("has_kw"))

  def docHasKeyword(s: SparkSession, d: String, title: String,
                    keyword: String): DataFrame =
    docHasKeyword(DocGraph.synthetic(s, d), title, keyword)

  /** Family 13 (J7): co-authors via the 2-hop self-join on the doc key. */
  def coauthors(g: DocGraph, author: String): DataFrame = {
    val a = g.authored.as("a")
    val b = g.authored.as("b")
    a.filter(col("a.author") === author)
      .join(b, col("a.title") === col("b.title") &&
        col("b.author") =!= col("a.author"))
      .select(col("b.author").as("coauthor")).distinct()
      .orderBy(col("coauthor"))
  }

  def coauthors(s: SparkSession, d: String, author: String): DataFrame =
    coauthors(DocGraph.synthetic(s, d), author)

  /** Family 14 (J8+A7): co-occurring keywords, count-ranked top-k. */
  def keywordCooccur(g: DocGraph, keyword: String, k: Int): DataFrame = {
    val a = g.hasKeyword.as("a")
    val b = g.hasKeyword.as("b")
    a.filter(col("a.kw") === keyword)
      .join(b, col("a.title") === col("b.title") &&
        col("b.kw") =!= col("a.kw"))
      .groupBy(col("b.kw").as("kw")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("kw")).limit(k)
  }

  def keywordCooccur(s: SparkSession, d: String, keyword: String,
                     k: Int): DataFrame =
    keywordCooccur(DocGraph.synthetic(s, d), keyword, k)

  /** Family 15 (J9): Organization -> Document -> Topic. */
  def orgTopics(g: DocGraph, org: String): DataFrame =
    g.published.filter(col("org") === org).select(col("title"))
      .join(g.hasTopic, "title")
      .select(col("topic")).distinct().orderBy(col("topic"))

  def orgTopics(s: SparkSession, d: String, org: String): DataFrame =
    orgTopics(DocGraph.synthetic(s, d), org)

  /** Family 16 (J10): 3-hop collaborator-topics + abstract property. */
  def collabTopics(g: DocGraph, author: String): DataFrame = {
    val a = g.authored.as("a")
    val b = g.authored.as("b")
    val coa = a.filter(col("a.author") === author)
      .join(b, col("a.title") === col("b.title") &&
        col("b.author") =!= col("a.author"))
      .select(col("b.author").as("coauthor")).distinct()
    val c = g.authored.as("c")
    coa.join(c, col("coauthor") === col("c.author"))
      .select(col("c.title").as("title")).distinct()
      .join(g.hasTopic, "title")
      .join(g.docs.select(col("title"), col("abstract")), "title")
      .select(col("topic"), col("title"), col("abstract")).distinct()
      .orderBy(col("topic"), col("title"))
  }

  def collabTopics(s: SparkSession, d: String, author: String): DataFrame =
    collabTopics(DocGraph.synthetic(s, d), author)

  /** Variable-hop co-authorship reachability (the parameterized form of
    * family 13/16's fixed hops — SURVEY §2.3 J10 "GraphX/Pregel BFS when
    * hop count is a parameter").
    *
    * String vertices get long ids via `xxhash64(author)`: fully
    * distributed (no global window — the old `dense_rank` formulation
    * funneled every author through one task), deterministic under
    * recomputation (`zipWithUniqueId` would reassign ids if a cached
    * partition were lost mid-query), and the edge builder hashes both
    * endpoints in place instead of joining an id dictionary twice. A
    * 64-bit collision would merge two authors — probability ~n²/2⁶⁵,
    * ~3e-7 even at 10M distinct authors. The seed's id is the same
    * expression evaluated on the driver, so it costs no job.
    *
    * The template does not materialize its result: the caller's action
    * is the only one after the kernel's size probe. The `authored`
    * frame backs both sides of the co-author self-join, the name-back
    * dictionary and that probe, so it is persisted for ONE request
    * through [[graft.resolve.EntityResolution.persistServe]] and freed
    * by [[graft.resolve.EntityResolution.releaseServeCaches]] once the
    * caller has collected the result (`AnswerService.answer` does) —
    * not by the template.
    */
  def coauthorReach(g: DocGraph, seed: String, maxHops: Int): DataFrame = {
    val s = g.docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val au = graft.resolve.EntityResolution.persistServe(g.authored)
    val a = au.as("a")
    val b = au.as("b")
    val coEdges = a
      .join(b, $"a.title" === $"b.title" && $"a.author" < $"b.author")
      .select(xxhash64($"a.author").as("u"), xxhash64($"b.author").as("v"))
      .distinct()
    val ids = au.select($"author").distinct()
      .select($"author", xxhash64($"author").as("vec_id"))
    val seedId = new XxHash64(Seq(Literal(seed))).eval().asInstanceOf[Long]
    graft.resolve.Kernels
      .bfsReach(s, ids.select($"vec_id"), coEdges, seedId, maxHops)
      .join(ids, "vec_id")
      .select($"author", $"hops")
      .orderBy($"author")
  }

  def coauthorReach(s: SparkSession, d: String, seed: String,
                    maxHops: Int): DataFrame =
    coauthorReach(DocGraph.synthetic(s, d), seed, maxHops)

  /** L2 fallback full-text search (F1 conjunctive abstract match OR F2
    * disjunctive topic/address match) + A8 collect + LIMIT
    * (`neo4j_query_executor.py:389-520`).
    */
  def fallbackSearch(g: DocGraph, terms: Seq[String],
                     maxResults: Int): DataFrame = {
    val s = g.docs.sparkSession
    import s.implicits._
    // no terms extracted → no fallback possible (the reference returns
    // its no-results sentinel, `neo4j_query_executor.py:403-405`)
    if (terms.isEmpty) {
      return s.emptyDataFrame
        .select(lit("").as("title"), lit("").as("topics_csv")).limit(0)
    }
    val withTopics = g.docs
      .join(g.hasTopic, Seq("title"), "left")
      .groupBy($"title", $"abstract", $"addr")
      .agg(array_join(sort_array(collect_list($"topic")), ";").as("topics_csv"))
    val conj = terms.map(t => lower($"abstract").contains(t.toLowerCase))
      .reduce(_ && _)
    val pat = "(?i).*(" + terms.map(java.util.regex.Pattern.quote).mkString("|") + ")"
    val disj = $"topics_csv".rlike(pat) || $"addr".rlike(pat)
    withTopics.filter(conj || disj)
      .select($"title", $"topics_csv")
      .orderBy($"title").limit(maxResults)
  }

  def fallbackSearch(s: SparkSession, d: String, terms: Seq[String],
                     maxResults: Int): DataFrame =
    fallbackSearch(DocGraph.synthetic(s, d), terms, maxResults)
}
