package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
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

  private def P = BibGraph.sqlPrelude

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_doc_authors" -> ((s, d) => docAuthors(s, d, "D42")),
    "q61_doc_keywords" -> ((s, d) => docKeywords(s, d, "D7")),
    "q62_doc_org" -> ((s, d) => docOrg(s, d, "D15")),
    "q63_doc_topic" -> ((s, d) => docTopic(s, d, "D100")),
    "q64_author_docs" -> ((s, d) => authorDocs(s, d, "Author_29")),
    "q65_keyword_docs_alias" -> ((s, d) => keywordDocs(s, d, "vector")),
    "q66_org_docs" -> ((s, d) => orgDocs(s, d, "Org_5")),
    "q67_doc_properties" -> ((s, d) => docProperties(s, d, "D123")),
    "q68_keyword_per_year" -> ((s, d) => keywordPerYear(s, d, "vector")),
    "q69_authored_check" -> ((s, d) =>
      authoredCheck(s, d, "Author_29", Seq("D42", "D43"))),
    "q70_doc_has_keyword_check" -> ((s, d) => docHasKeyword(s, d, "D7", "table")),
    "q71_coauthors" -> ((s, d) => coauthors(s, d, "Author_29")),
    "q72_keyword_cooccur" -> ((s, d) => keywordCooccur(s, d, "small", 10)),
    "q73_org_topics" -> ((s, d) => orgTopics(s, d, "Org_3")),
    "q74_collab_topics" -> ((s, d) => collabTopics(s, d, "Author_29")),

    // Graph analytics: triangle count on the coauthor graph (the
    // clustering-coefficient building block, rounding out BFS/PageRank/
    // CC). Edges are the distinct ordered coauthor pairs (a < b) from
    // the 2-hop doc self-join; triangles via the standard ordered 3-way
    // self-join (a < b < c — each triangle emitted exactly once, and the
    // ordering halves every join input vs undirected enumeration). The
    // three references to `e` are an identical plan subtree — Catalyst's
    // ReuseExchange materializes the edge shuffle once. Scale: shuffles
    // on title then author keys; no cross product.
    "q46_coauthor_triangles" -> ((s, d) => {
      import s.implicits._
      val au = authored(s, d)
      val e = au.as("x").join(au.as("y"),
          $"x.title" === $"y.title" && $"x.author" < $"y.author")
        .select($"x.author".as("a"), $"y.author".as("b")).distinct()
      val edges = e.agg(count(lit(1)).as("n_edges"))
      val tris = e.as("e1")
        .join(e.as("e2"), $"e1.b" === $"e2.a")
        .join(e.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
        .agg(count(lit(1)).as("n_triangles"))
      edges.crossJoin(tris)
    }),

    // Community detection: connected components on the coauthor graph —
    // each author labeled with the lexicographic-min author of their
    // collaboration component (the same min-term representative rule the
    // alias machinery uses). GraphX vertex ids via `xxhash64(author)` — a
    // carrier only (the representative is recomputed as the min STRING per
    // component, so the oracle's recursive min-label walk over author
    // strings agrees exactly), and portable: no dependence on the
    // 'Author_<n>' fixture naming, no ANSI cast that would throw on a
    // non-conforming author string (same scheme as coauthorReach, same
    // accepted risk: a 64-bit collision merges two authors' communities —
    // ~n²/2⁶⁴, i.e. ~3e-7 at 10M distinct authors).
    "q47_coauthor_communities" -> ((s, d) => {
      import s.implicits._
      val au = authored(s, d)
      val e = au.as("x").join(au.as("y"),
          $"x.title" === $"y.title" && $"x.author" < $"y.author")
        .select($"x.author".as("a"), $"y.author".as("b")).distinct()
      val verts = au.select($"author").distinct()
        .select(xxhash64($"author").as("vec_id"), $"author")
      val pairs = e.select(xxhash64($"a").as("u"), xxhash64($"b").as("v"))
      val cc = graft.resolve.Kernels
        .connectedComponents(s, verts.select("vec_id"), pairs)
      val named = cc.join(verts, "vec_id")
      val reps = named.groupBy($"component")
        .agg(min($"author").as("community"))
      named.join(broadcast(reps), "component")
        .select($"author", $"community")
        .orderBy($"author")
    }),

    // J1 + A5: alias-mapping application with first-seen-order dedup,
    // in exploded relational form (title, ord, kw) — `keyword_merger.py:
    // 252-263`'s `list(dict.fromkeys(...))` without arrays.
    "q75_alias_apply" -> ((s, d) => {
      import s.implicits._
      val exploded = docs(s, d)
        .select($"title", posexplode($"kws").as(Seq("pos", "original")))
      val merged = exploded
        .join(broadcast(keywordMapping(s, d)), "original")
        .select($"title", $"pos", $"representative".as("kw"))
      val firstSeen = Window.partitionBy($"title", $"kw").orderBy($"pos")
      val ordW = Window.partitionBy($"title").orderBy($"pos")
      merged
        .withColumn("rn", row_number().over(firstSeen))
        .filter($"rn" === 1)
        .withColumn("ord", row_number().over(ordW).cast("long"))
        .select($"title", $"ord", $"kw")
        .orderBy($"title", $"ord")
    }),

    // ALIAS_OF edge derivation (non-identity mapping entries).
    "q76_alias_edges" -> ((s, d) => {
      import s.implicits._
      aliasEdges(s, d).select($"src", $"dst", $"rel_type").orderBy($"src")
    }),

    // A4: unique node count per label across the whole vertex frame.
    "q77_node_frame" -> ((s, d) => {
      import s.implicits._
      val dd = docs(s, d)
      val nodes =
        dd.select($"label", $"title".as("id")) unionAll
        dd.select(lit("Author").as("label"), explode($"authors").as("id")) unionAll
        dd.select(lit("Author").as("label"), explode($"tertiary_authors").as("id")) unionAll
        dd.select(lit("Keyword").as("label"), explode($"kws").as("id")) unionAll
        dd.select(lit("Organization").as("label"), $"org".as("id")) unionAll
        dd.select(lit("Author_Address").as("label"), $"addr".as("id")) unionAll
        hasTopic(s, d).select(lit("Topic").as("label"), $"topic".as("id"))
      nodes.distinct().groupBy($"label").agg(count(lit(1)).as("n"))
        .orderBy($"label")
    }),

    "q78_fallback_search" -> ((s, d) =>
      fallbackSearch(s, d, Seq("merge", "window"), 100)),

    // L2 lazy-fallback CONTROL FLOW end-to-end (`neo4j_query_executor
    // .py:340-344`): family 6 is routed for a keyword with no node, the
    // isEmpty probe finds the primary empty, and the row's lineage runs
    // through Router.withFallback onto the full-text fallback — unlike
    // q78, which gates fallbackSearch directly. The oracle mirrors the
    // branch with a NOT EXISTS guard on the primary, so fixture drift
    // that made the primary non-empty would fail the gate loudly.
    "q118_router_fallback" -> ((s, d) =>
      graft.query.Router.withFallback(s, d, 6,
        Map("keyword" -> "no_such_keyword_zz9"),
        Seq("merge", "window"))),

    // The /answer serving path over Binding 3 END-TO-END: the same
    // family-13 template the AnswerService routes (q71's 2-hop co-author
    // self-join) is planned against the WRITE-TIME BUCKETED DocGraph —
    // ingest writes the six relation tables bucketed on their join keys
    // and the routed 2-hop self-join then reads co-located buckets with
    // zero shuffle exchange under the join (plan asserted in
    // `AnswerServiceSpec`/`BucketedDocGraphSpec`; result equality to the
    // in-memory binding gated HERE against q71's oracle). At 100 TB this
    // is the serving configuration: every /answer request rides the
    // ingest-time shuffle instead of paying its own.
    "q129_answer_bucketed" -> ((s, d) => {
      val g = graft.graph.DocGraph.bucketed(
        graft.graph.DocGraph.synthetic(s, d), "graft_q129", 16)
      graft.query.Router.route(g, 13, Map("author" -> "Author_29"))
    }),

    // q129 with the ingest/serve attribution SPLIT: the bucketed tables
    // build once per prefix+source (DocGraph.bucketedServed) and every
    // later call — including Bench's run 2..n, whose per-query median
    // therefore reflects the serve path — reads the existing co-located
    // buckets and pays ONLY the routed 2-hop self-join. q129 stays in
    // the registry as the all-in-one (ingest+serve) number; this entry
    // is what a production /answer request actually costs. Same q71
    // oracle: the layout split must not change a single result row.
    "q142_answer_served" -> ((s, d) => {
      val g = graft.graph.DocGraph.bucketedServed(s, d, "graft_q142", 16)
      graft.query.Router.route(g, 13, Map("author" -> "Author_29"))
    }),

    // Parameterized-hop traversal on the co-authorship graph (Pregel).
    "q84_coauthor_reach" -> ((s, d) => coauthorReach(s, d, "Author_29", 2)),

    // Family 7 alias-expanded (J5 over Organizations): the seed org is
    // expanded through the θ=0.96 resolution mapping (prompt rule 1
    // applied to PUBLISHED_BY — `neo4j_query_executor.py:269-278`), so a
    // query for the variant spelling 'Org_5_alt' finds Org_5's documents.
    "q83_org_docs_alias" -> ((s, d) => {
      import s.implicits._
      val expansion = graft.resolve.EntityResolution.orgMapping(s, d)
        .filter($"original" === "Org_5_alt")
        .select($"representative".as("org"))
        .union(Seq("Org_5_alt").toDF("org"))
        .distinct()
      docs(s, d).join(broadcast(expansion), "org")
        .select($"title", $"year").orderBy($"title")
    }),

    // A5 as ONE distributed aggregation: the FirstSeenDedup Aggregator
    // replaces q75's two-shuffle window formulation when the ordered
    // deduped list itself is the output (`keyword_merger.py:263`).
    "q79_alias_apply_agg" -> ((s, d) => {
      import s.implicits._
      val exploded = docs(s, d)
        .select($"title", posexplode($"kws").as(Seq("pos", "original")))
      exploded.join(broadcast(keywordMapping(s, d)), "original")
        .select($"title", $"pos".cast("long").as("pos"),
          $"representative".as("kw"))
        .groupBy($"title")
        .agg(array_join(
          graft.functions.FirstSeenDedup.asUdaf($"kw", $"pos"), ";")
          .as("kws_csv"))
        .orderBy($"title")
    })
  )

  def oracles: Map[String, String] = Map(
    "q60_doc_authors" ->
      s"""WITH $P
         SELECT author FROM authored WHERE title = 'D42' ORDER BY author""",
    "q61_doc_keywords" ->
      s"""WITH $P
         SELECT kw FROM has_keyword WHERE title = 'D7' ORDER BY kw""",
    "q62_doc_org" ->
      s"""WITH $P
         SELECT title, org FROM docs WHERE title = 'D15'""",
    "q63_doc_topic" ->
      s"""WITH $P
         SELECT title, topic FROM has_topic WHERE title = 'D100'""",
    "q64_author_docs" ->
      s"""WITH $P
         SELECT a.title AS title, d.year AS year
         FROM authored a JOIN docs d ON a.title = d.title
         WHERE a.author = 'Author_29' ORDER BY title""",
    "q65_keyword_docs_alias" ->
      s"""WITH $P,
         expansion AS (
           SELECT representative AS kw FROM kmap WHERE original = 'vector'
           UNION SELECT 'vector')
         SELECT DISTINCT h.title AS title
         FROM has_keyword h JOIN expansion e ON h.kw = e.kw
         ORDER BY title""",
    "q66_org_docs" ->
      s"""WITH $P
         SELECT title, year FROM docs WHERE org = 'Org_5' ORDER BY title""",
    "q67_doc_properties" ->
      s"""WITH $P
         SELECT title, label, year, journal, abstract
         FROM docs WHERE title = 'D123'""",
    "q68_keyword_per_year" ->
      s"""WITH $P,
         expansion AS (
           SELECT representative AS kw FROM kmap WHERE original = 'vector'
           UNION SELECT 'vector'),
         matched AS (
           SELECT DISTINCT h.title FROM has_keyword h
           JOIN expansion e ON h.kw = e.kw)
         SELECT d.year AS year, count(*) AS n_docs
         FROM matched m JOIN docs d ON m.title = d.title
         GROUP BY d.year ORDER BY year""",
    "q69_authored_check" ->
      s"""WITH $P
         SELECT title, rel FROM authored_all
         WHERE author = 'Author_29' AND title IN ('D42', 'D43')
         ORDER BY title, rel""",
    "q70_doc_has_keyword_check" ->
      s"""WITH $P
         SELECT count(*) > 0 AS has_kw FROM has_keyword
         WHERE title = 'D7' AND kw = 'table'""",
    "q71_coauthors" ->
      s"""WITH $P
         SELECT DISTINCT b.author AS coauthor
         FROM authored a JOIN authored b
           ON a.title = b.title AND b.author <> a.author
         WHERE a.author = 'Author_29' ORDER BY coauthor""",
    // identical semantics to q71 by construction: the bucketed binding
    // must be a pure LAYOUT change, so it shares q71's oracle SQL
    "q129_answer_bucketed" ->
      s"""WITH $P
         SELECT DISTINCT b.author AS coauthor
         FROM authored a JOIN authored b
           ON a.title = b.title AND b.author <> a.author
         WHERE a.author = 'Author_29' ORDER BY coauthor""",
    // the serve-only split rides the same oracle: build-once/serve-many
    // is a COST attribution change, never a result change
    "q142_answer_served" ->
      s"""WITH $P
         SELECT DISTINCT b.author AS coauthor
         FROM authored a JOIN authored b
           ON a.title = b.title AND b.author <> a.author
         WHERE a.author = 'Author_29' ORDER BY coauthor""",
    "q47_coauthor_communities" ->
      s"""WITH RECURSIVE $P,
         e AS (SELECT DISTINCT a.author AS a, b.author AS b
               FROM authored a JOIN authored b
                 ON a.title = b.title AND a.author < b.author),
         ee AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
         verts AS (SELECT DISTINCT author FROM authored),
         walk(node, lab) AS (
           SELECT author, author FROM verts
           UNION
           SELECT ee.v, walk.lab FROM walk JOIN ee ON walk.node = ee.u),
         comp AS (SELECT node AS author, min(lab) AS community
                  FROM walk GROUP BY node)
         SELECT author, community FROM comp ORDER BY author""",
    "q46_coauthor_triangles" ->
      s"""WITH $P,
         e AS (SELECT DISTINCT a.author AS a, b.author AS b
               FROM authored a JOIN authored b
                 ON a.title = b.title AND a.author < b.author)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
                  AS n_triangles""",
    "q72_keyword_cooccur" ->
      s"""WITH $P
         SELECT b.kw AS kw, count(*) AS n
         FROM has_keyword a JOIN has_keyword b
           ON a.title = b.title AND b.kw <> a.kw
         WHERE a.kw = 'small'
         GROUP BY b.kw ORDER BY n DESC, kw LIMIT 10""",
    "q73_org_topics" ->
      s"""WITH $P
         SELECT DISTINCT t.topic AS topic
         FROM docs d JOIN has_topic t ON d.title = t.title
         WHERE d.org = 'Org_3' ORDER BY topic""",
    "q74_collab_topics" ->
      s"""WITH $P,
         coa AS (
           SELECT DISTINCT b.author AS coauthor
           FROM authored a JOIN authored b
             ON a.title = b.title AND b.author <> a.author
           WHERE a.author = 'Author_29'),
         cdocs AS (
           SELECT DISTINCT c.title FROM coa JOIN authored c
             ON coa.coauthor = c.author)
         SELECT DISTINCT t.topic AS topic, cd.title AS title,
                d.abstract AS abstract
         FROM cdocs cd
         JOIN has_topic t ON t.title = cd.title
         JOIN docs d ON d.title = cd.title
         ORDER BY topic, title""",
    "q75_alias_apply" ->
      s"""WITH $P,
         exploded AS (
           SELECT title, generate_subscripts(kws, 1) - 1 AS pos,
                  unnest(kws) AS original
           FROM docs),
         merged AS (
           SELECT e.title, e.pos, m.representative AS kw
           FROM exploded e JOIN kmap m ON e.original = m.original),
         first_seen AS (
           SELECT title, pos, kw,
                  row_number() OVER (PARTITION BY title, kw ORDER BY pos) AS rn
           FROM merged)
         SELECT title, CAST(row_number() OVER
                  (PARTITION BY title ORDER BY pos) AS BIGINT) AS ord, kw
         FROM first_seen WHERE rn = 1
         ORDER BY title, ord""",
    "q76_alias_edges" ->
      s"""WITH $P
         SELECT original AS src, representative AS dst, 'ALIAS_OF' AS rel_type
         FROM kmap WHERE original <> representative ORDER BY src""",
    "q77_node_frame" ->
      s"""WITH $P,
         nodes AS (
           SELECT label, title AS id FROM docs
           UNION ALL SELECT 'Author', author FROM (
             SELECT author, title FROM authored
             UNION ALL SELECT author, title FROM tertiary_authored) t
           UNION ALL SELECT 'Keyword', kw FROM has_keyword
           UNION ALL SELECT 'Organization', org FROM docs
           UNION ALL SELECT 'Author_Address', addr FROM docs
           UNION ALL SELECT 'Topic', topic FROM has_topic)
         SELECT label, count(*) AS n FROM (SELECT DISTINCT label, id FROM nodes) u
         GROUP BY label ORDER BY label""",
    "q83_org_docs_alias" ->
      s"""WITH RECURSIVE $P,
         ${graft.resolve.EntityResolution.termCcSql("Org_", 576, 625)},
         oexp AS (
           SELECT representative AS org FROM omap
           WHERE original = 'Org_5_alt'
           UNION SELECT 'Org_5_alt')
         SELECT d.title AS title, d.year AS year
         FROM docs d JOIN oexp e ON d.org = e.org
         ORDER BY title""",
    "q84_coauthor_reach" ->
      s"""WITH RECURSIVE $P,
         ce0 AS (
           SELECT DISTINCT a.author AS u, b.author AS v
           FROM authored a JOIN authored b
             ON a.title = b.title AND a.author < b.author),
         ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0),
         bfs(node, hops) AS (
           SELECT 'Author_29', 0
           UNION
           SELECT ce.v, bfs.hops + 1 FROM bfs JOIN ce ON bfs.node = ce.u
           WHERE bfs.hops < 2)
         SELECT node AS author, CAST(min(hops) AS BIGINT) AS hops
         FROM bfs GROUP BY node ORDER BY author""",
    "q79_alias_apply_agg" ->
      s"""WITH $P,
         exploded AS (
           SELECT title, generate_subscripts(kws, 1) - 1 AS pos,
                  unnest(kws) AS original
           FROM docs),
         merged AS (
           SELECT e.title, e.pos, m.representative AS kw
           FROM exploded e JOIN kmap m ON e.original = m.original),
         first_seen AS (
           SELECT title, pos, kw,
                  row_number() OVER (PARTITION BY title, kw ORDER BY pos) AS rn
           FROM merged)
         SELECT title, string_agg(kw, ';' ORDER BY pos) AS kws_csv
         FROM first_seen WHERE rn = 1
         GROUP BY title ORDER BY title""",
    "q78_fallback_search" ->
      s"""WITH $P,
         wt AS (
           SELECT d.title, d.abstract, d.addr,
                  array_to_string(list_sort(list(t.topic)), ';') AS topics_csv
           FROM docs d LEFT JOIN has_topic t ON d.title = t.title
           GROUP BY d.title, d.abstract, d.addr)
         SELECT title, topics_csv FROM wt
         WHERE (contains(lower(abstract), 'merge') AND contains(lower(abstract), 'window'))
            OR regexp_matches(topics_csv, '(?i).*(\\Qmerge\\E|\\Qwindow\\E)')
            OR regexp_matches(addr, '(?i).*(\\Qmerge\\E|\\Qwindow\\E)')
         ORDER BY title LIMIT 100""",
    "q118_router_fallback" ->
      s"""WITH $P,
         expansion AS (
           SELECT representative AS kw FROM kmap
           WHERE original = 'no_such_keyword_zz9'
           UNION SELECT 'no_such_keyword_zz9'),
         prim AS (
           SELECT DISTINCT h.title FROM has_keyword h
           JOIN expansion e ON h.kw = e.kw),
         wt AS (
           SELECT d.title, d.abstract, d.addr,
                  array_to_string(list_sort(list(t.topic)), ';') AS topics_csv
           FROM docs d LEFT JOIN has_topic t ON d.title = t.title
           GROUP BY d.title, d.abstract, d.addr)
         SELECT title, topics_csv FROM wt
         WHERE ((contains(lower(abstract), 'merge') AND contains(lower(abstract), 'window'))
            OR regexp_matches(topics_csv, '(?i).*(\\Qmerge\\E|\\Qwindow\\E)')
            OR regexp_matches(addr, '(?i).*(\\Qmerge\\E|\\Qwindow\\E)'))
           AND NOT EXISTS (SELECT 1 FROM prim)
         ORDER BY title LIMIT 100"""
  )
}
