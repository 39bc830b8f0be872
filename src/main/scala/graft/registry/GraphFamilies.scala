package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.graph.BibGraph._
import graft.graph._
import graft.graph.GraphQueries._
import OracleSql._

/** The reference's 17-family question workload (`Q.txt`) over the
  * synthetic bibliographic graph ([[graft.graph.GraphQueries]]), with the
  * bucketed and served bindings, alias application and co-author
  * communities. */
object GraphFamilies extends Family {

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

  /** Family 13's answer for Author_29 — q71 and the bucketed and served
    * bindings that must answer it identically (a layout or a cost
    * attribution change, never a result change). */
  private val coauthors29 = s"""WITH $bibGraph
         ${coauthorsOf("authored", "Author_29")} ORDER BY coauthor"""

  /** The alias mapping applied to each doc's keyword list, first-seen
    * order kept: `first_seen(title, pos, kw, rn)`, rn = 1 on first sight. */
  private val aliasFirstSeen = s"""$bibGraph,
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
           FROM merged)"""

  /** `wt(title, abstract, addr, topics_csv)`: the fallback search's
    * per-doc text. */
  private val fallbackText = """wt AS (
           SELECT d.title, d.abstract, d.addr,
                  array_to_string(list_sort(list(t.topic)), ';') AS topics_csv
           FROM docs d LEFT JOIN has_topic t ON d.title = t.title
           GROUP BY d.title, d.abstract, d.addr)"""

  /** The fallback search's match on 'merge' and 'window'. */
  private val fallbackMatch = """(contains(lower(abstract), 'merge') AND contains(lower(abstract), 'window'))
            OR regexp_matches(topics_csv, '(?i).*(\Qmerge\E|\Qwindow\E)')
            OR regexp_matches(addr, '(?i).*(\Qmerge\E|\Qwindow\E)')"""

  def oracles: Map[String, String] = Map(
    "q60_doc_authors" ->
      s"""WITH $bibGraph
         SELECT author FROM authored WHERE title = 'D42' ORDER BY author""",
    "q61_doc_keywords" ->
      s"""WITH $bibGraph
         SELECT kw FROM has_keyword WHERE title = 'D7' ORDER BY kw""",
    "q62_doc_org" ->
      s"""WITH $bibGraph
         SELECT title, org FROM docs WHERE title = 'D15'""",
    "q63_doc_topic" ->
      s"""WITH $bibGraph
         SELECT title, topic FROM has_topic WHERE title = 'D100'""",
    "q64_author_docs" ->
      s"""WITH $bibGraph
         SELECT a.title AS title, d.year AS year
         FROM authored a JOIN docs d ON a.title = d.title
         WHERE a.author = 'Author_29' ORDER BY title""",
    "q65_keyword_docs_alias" ->
      s"""WITH $bibGraph, ${aliasExpansion("expansion", "kmap", "vector")}
         SELECT DISTINCT h.title AS title
         FROM has_keyword h JOIN expansion e ON h.kw = e.kw
         ORDER BY title""",
    "q66_org_docs" ->
      s"""WITH $bibGraph
         SELECT title, year FROM docs WHERE org = 'Org_5' ORDER BY title""",
    "q67_doc_properties" ->
      s"""WITH $bibGraph
         SELECT title, label, year, journal, abstract
         FROM docs WHERE title = 'D123'""",
    "q68_keyword_per_year" ->
      s"""WITH $bibGraph, ${aliasExpansion("expansion", "kmap", "vector")},
         matched AS (
           SELECT DISTINCT h.title FROM has_keyword h
           JOIN expansion e ON h.kw = e.kw)
         SELECT d.year AS year, count(*) AS n_docs
         FROM matched m JOIN docs d ON m.title = d.title
         GROUP BY d.year ORDER BY year""",
    "q69_authored_check" ->
      s"""WITH $bibGraph
         SELECT title, rel FROM authored_all
         WHERE author = 'Author_29' AND title IN ('D42', 'D43')
         ORDER BY title, rel""",
    "q70_doc_has_keyword_check" ->
      s"""WITH $bibGraph
         SELECT count(*) > 0 AS has_kw FROM has_keyword
         WHERE title = 'D7' AND kw = 'table'""",
    "q71_coauthors" -> coauthors29,
    "q129_answer_bucketed" -> coauthors29,
    "q142_answer_served" -> coauthors29,
    "q47_coauthor_communities" ->
      s"""WITH RECURSIVE $bibGraph,
         e AS (SELECT DISTINCT a.author AS u, b.author AS v
               FROM authored a JOIN authored b
                 ON a.title = b.title AND a.author < b.author),
         verts AS (SELECT DISTINCT author FROM authored),
         ${ccWalk("e", "verts", "author")}
         SELECT author, component AS community FROM comp ORDER BY author""",
    "q46_coauthor_triangles" ->
      s"""WITH $bibGraph,
         e AS (SELECT DISTINCT a.author AS a, b.author AS b
               FROM authored a JOIN authored b
                 ON a.title = b.title AND a.author < b.author)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
                  AS n_triangles""",
    "q72_keyword_cooccur" ->
      s"""WITH $bibGraph
         SELECT b.kw AS kw, count(*) AS n
         FROM has_keyword a JOIN has_keyword b
           ON a.title = b.title AND b.kw <> a.kw
         WHERE a.kw = 'small'
         GROUP BY b.kw ORDER BY n DESC, kw LIMIT 10""",
    "q73_org_topics" ->
      s"""WITH $bibGraph
         SELECT DISTINCT t.topic AS topic
         FROM docs d JOIN has_topic t ON d.title = t.title
         WHERE d.org = 'Org_3' ORDER BY topic""",
    "q74_collab_topics" ->
      s"""WITH $bibGraph,
         ${collabTopicsSql("authored", "has_topic", "docs", "Author_29")}""",
    "q75_alias_apply" ->
      s"""WITH $aliasFirstSeen
         SELECT title, CAST(row_number() OVER
                  (PARTITION BY title ORDER BY pos) AS BIGINT) AS ord, kw
         FROM first_seen WHERE rn = 1
         ORDER BY title, ord""",
    "q76_alias_edges" ->
      s"""WITH $bibGraph
         SELECT original AS src, representative AS dst, 'ALIAS_OF' AS rel_type
         FROM kmap WHERE original <> representative ORDER BY src""",
    "q77_node_frame" ->
      s"""WITH $bibGraph,
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
      s"""WITH RECURSIVE $bibGraph,
         ${termCc("Org_", 576, 625)},
         ${aliasExpansion("oexp", "omap", "Org_5_alt", "org")}
         SELECT d.title AS title, d.year AS year
         FROM docs d JOIN oexp e ON d.org = e.org
         ORDER BY title""",
    "q84_coauthor_reach" ->
      s"""WITH RECURSIVE $bibGraph,
         ${coauthorReachSql("authored", "'Author_29'")}""",
    "q79_alias_apply_agg" ->
      s"""WITH $aliasFirstSeen
         SELECT title, string_agg(kw, ';' ORDER BY pos) AS kws_csv
         FROM first_seen WHERE rn = 1
         GROUP BY title ORDER BY title""",
    "q78_fallback_search" ->
      s"""WITH $bibGraph, $fallbackText
         SELECT title, topics_csv FROM wt
         WHERE $fallbackMatch
         ORDER BY title LIMIT 100""",
    "q118_router_fallback" ->
      s"""WITH $bibGraph,
         ${aliasExpansion("expansion", "kmap", "no_such_keyword_zz9")},
         prim AS (
           SELECT DISTINCT h.title FROM has_keyword h
           JOIN expansion e ON h.kw = e.kw),
         $fallbackText
         SELECT title, topics_csv FROM wt
         WHERE ($fallbackMatch)
           AND NOT EXISTS (SELECT 1 FROM prim)
         ORDER BY title LIMIT 100"""
  )
}
