package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest._
import Fixtures.{TaggedErGlob, TaggedGlob}
import OracleSql._

/** Oracle-gated queries over the checked-in tagged-text fixture
  * (`src/test/resources/tagged/` — FIXTURES.md A1 edge cases: duplicate
  * titles across files, missing titles, non-numeric year, postal codes,
  * multi-delimiter addresses, CJK + quotes/commas in titles, unknown
  * fields, sanitize-label digit prefix).
  *
  * These ignore `sfDir`: the input is the fixture directory itself, and
  * the DuckDB oracle re-derives the full parse→format→dedup pipeline from
  * the same files via `read_text` — line-anchored extraction with
  * last-occurrence-wins matching `parseEntries`' dict semantics, absent
  * fields NULL on both sides — so S1-S3/P1-P3/P7/A1 are hash-gated like
  * every other operator.
  */
object Tagged extends Family {

  /** The tagged lifecycles' binding: the ER fixture's keyword universe
    * at θ = 24/25, classes by md5-id mod 3. */
  def erLifecycle(s: SparkSession): graft.resolve.Lifecycle.Binding =
    graft.resolve.Lifecycle.ingested(() => TaggedText.ingest(s, TaggedErGlob),
      TaggedErGlob, 24, 25)

  /** The mixed-CRUD days of q161/q165/q167: insert class 1, update
    * class 2, delete class 0. */
  val ErCrudOps = Seq(("insert", 1), ("update", 2), ("delete", 0))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full ingest pipeline: parse → format → first-wins dedup, projected
    // to scalar-only columns (arrays rendered as joined strings).
    "q90_tagged_ingest" -> ((s, _) => {
      import s.implicits._
      TaggedText.ingest(s, TaggedGlob)
        .select($"title", $"label",
          $"year".cast("long").as("year"), $"year_raw",
          size($"author").cast("long").as("n_authors"),
          size($"keywords").cast("long").as("n_keywords"),
          $"publisher",
          array_join($"author_address", "|").as("addr_csv"))
        .orderBy($"title")
    }),

    // Label distribution after dedup (P7 sanitize + A1 first-wins).
    "q91_tagged_labels" -> ((s, _) => {
      import s.implicits._
      TaggedText.ingest(s, TaggedGlob)
        .groupBy($"label").agg(count(lit(1)).as("n"))
        .orderBy($"label")
    }),

    // S3: per-area record counts from the two-level directory layout.
    "q93_area_counts" -> ((s, _) => {
      import s.implicits._
      TaggedText.ingest(s, TaggedGlob)
        .groupBy($"area").agg(count(lit(1)).as("n"))
        .orderBy($"area")
    }),

    // End-to-end wiring (ingest → config-driven edges → family-5 query):
    // tagged export → TaggedText.ingest → BibGraph.taggedEdges (the
    // `NODE_LINK_CONFIG` analog over the REAL ingest schema) → Author →
    // Document traversal with the year property — the full reference
    // pipeline `cleaner.py:198` → `csv_extractor.py:153-241` → `Q.txt`
    // family 5 in one lineage.
    "q94_tagged_author_docs" -> ((s, _) => {
      import s.implicits._
      val ingested = TaggedText.ingest(s, TaggedGlob)
      graft.graph.BibGraph.taggedEdges(ingested)
        .filter($"rel_type" === "AUTHORED" && $"src" === "王芳")
        .select($"dst".as("title"))
        .join(ingested.select($"title", $"year".cast("long").as("year")), "title")
        .select($"title", $"year").orderBy($"title")
    }),

    // PUBLISHED_BY over ingest-derived edges: the record key is the first
    // non-empty of Publisher / Place Published (`Hype.py:38-44`) — the
    // fixture exercises both branches (大连理工大学 via Publisher, 北京 via
    // the Place Published fallback) plus the no-edge case (both absent).
    "q95_tagged_published_by" -> ((s, _) => {
      import s.implicits._
      graft.graph.BibGraph.taggedEdges(TaggedText.ingest(s, TaggedGlob))
        .filter($"rel_type" === "PUBLISHED_BY")
        .select($"src".as("title"), $"dst".as("org"))
        .orderBy($"title")
    }),

    // ----------------------------------------------------------------
    // The SAME Q.txt template library over the REAL ingest — each entry
    // below is a GraphQueries family running on DocGraph.ofIngested
    // (tagged export → parse → format → dedup → NODE_LINK_CONFIG edges),
    // the full reference lifecycle `cleaner.py:198` →
    // `csv_extractor.py:153-241` → `Q.txt` in one gated lineage.
    // ----------------------------------------------------------------

    // Family 6 (J4+J5): keyword → documents, alias-expanded through the
    // mapping derived from the INGESTED keywords (keywordMappingOf).
    "q100_tagged_keyword_docs" -> ((s, _) =>
      graft.graph.GraphQueries.keywordDocs(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, TaggedGlob)),
        "知识图谱")),

    // Family 10 (A7, the flagship slice) over the ingest path.
    "q101_tagged_keyword_per_year" -> ((s, _) =>
      graft.graph.GraphQueries.keywordPerYear(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, TaggedGlob)),
        "深度学习")),

    // Family 13 (J7): 2-hop co-author self-join over ingest-derived
    // AUTHORED edges.
    "q102_tagged_coauthors" -> ((s, _) =>
      graft.graph.GraphQueries.coauthors(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, TaggedGlob)),
        "王芳")),

    // Family 16 (J10): 3-hop collaborator-topics + abstract property —
    // exercises the ingest path's HAS_TOPIC stub classifier and the
    // nullable abstract column.
    "q103_tagged_collab_topics" -> ((s, _) =>
      graft.graph.GraphQueries.collabTopics(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, TaggedGlob)),
        "王芳")),

    // ----------------------------------------------------------------
    // The FULL reference lifecycle §3.1 in one gated lineage: tagged
    // export → parseEntries/format/dedup → A2 distinct keywords →
    // encoder stub → ε-join → CC → min-term mapping (q104) → ALIAS_OF
    // into the graph → family-6 alias-expanded match (q105), where a
    // query for the VARIANT spelling finds the canonically-tagged docs.
    // ----------------------------------------------------------------

    // Threshold note: q104/q105 run at θ=24/25 (0.96) against the ER
    // fixture's stub-encoder geometry — deliberately NOT GraphDump's
    // reference-faithful keyword default of 19/20 (0.95, `Hype.py:73-82`);
    // the two artifacts gate different contracts (lifecycle semantics
    // here, reference parity there), so a cosine landing in [0.95, 0.96)
    // may merge in the q99 dump yet not in this mapping.
    "q104_tagged_er_mapping" -> ((s, _) =>
      graft.resolve.EntityResolution.ingestedKeywordMapping(
        TaggedText.ingest(s, TaggedErGlob), 24, 25)
        .orderBy(col("original"))),

    // The SAME lifecycle with the encode step in operator shape — the
    // batched pluggable encoder (q127's mapPartitions seam, batch=64)
    // instead of the inline Column stub; identical embeddings by
    // construction, so q104's oracle gates this path too.
    "q128_tagged_er_encoded" -> ((s, _) =>
      graft.resolve.EntityResolution.ingestedKeywordMappingEncoded(
        TaggedText.ingest(s, TaggedErGlob), 24, 25)
        .orderBy(col("original"))),

    // The tagged lifecycle's days served alone from its shared day-0
    // snapshots (built once per key), min-TERM representatives
    // (`keyword_merger.py:222`) over the merged components — the
    // real-ingest twins of q155/q150/q143.
    // UPDATE: re-embed the md5-id ≡ 1 (mod 3) batch (dimension reversal)
    // against the `ins=` snapshot and run the fused retract+reinsert
    // merge. Oracle: q104's recursive CTE with the update CASE in `tn`.
    "q157_tagged_er_updates_served" -> ((s, _) =>
      graft.resolve.Lifecycle.serve(s, erLifecycle(s), ("update", 1))),

    // DELETE: retract the md5-id ≡ 2 (mod 3) batch from the `ins=`
    // snapshot with zero ε-join work — post-delete pairs are the stored
    // exact-kernel subset. Oracle: q104's recursive CTE with the batch
    // removed in `tn`.
    "q158_tagged_er_tombstones_served" -> ((s, _) =>
      graft.resolve.Lifecycle.serve(s, erLifecycle(s), ("delete", 2))),

    // INSERT: embed the arriving md5-id ≡ 1 (mod 3) batch, pair it with
    // the batch-side exact kernel against the `ins=1` snapshot (the one
    // q161/q165/q167 replay) and merge, converging to ER over the FULL
    // universe — so the oracle is exactly q104's recursive CTE (a
    // cross-path check against the q104/q128 gates).
    "q159_tagged_er_inserts_served" -> ((s, _) =>
      graft.resolve.Lifecycle.serve(s, erLifecycle(s), ("insert", 1))),

    // The MULTI-DAY insert lifecycle (q159's production sequel): day-1
    // batch (md5-id ≡ 1 mod 3) served against the day-0 (≡ 0 mod 3)
    // snapshot, then FOLDED IN (mapping swap + pair/term writes); day-2
    // (≡ 2 mod 3) serves against the ADVANCED state, and the grown
    // term/pair stores are compacted back to one file per bucket.
    // Converges to ER over the full universe — q104's recursive CTE
    // again, so the advance machinery is gated by the same oracle that
    // gates the from-scratch, encoded, and single-day insert paths.
    "q160_tagged_er_multiday" -> ((s, _) => graft.resolve.Lifecycle.run(s,
      erLifecycle(s), graft.resolve.Lifecycle.Rewrite, "graft_q160",
      Seq(("insert", 1), ("insert", 2)), compactAfterOps = Set(1))),

    // The MIXED-CRUD lifecycle (q160 generalized): day 1 INSERTS the
    // md5-id ≡ 1 (mod 3) class, day 2 UPDATES the ≡ 2 class (dimension
    // reversal), day 3 DELETES the ≡ 0 class — each day folded into the
    // standing state, so later days serve against the advanced tables.
    // Day 0 is an immutable per-JVM snapshot: each call replays reset +
    // three days, so its bench median is the lifecycle, not day-0
    // rebuild variance. Final state = ER over classes {1, 2-reversed};
    // the oracle is q104's recursive CTE with the update CASE and delete
    // predicate in `tn`.
    "q161_tagged_er_crud_lifecycle" -> ((s, _) => graft.resolve.Lifecycle.run(
      s, erLifecycle(s), graft.resolve.Lifecycle.Rewrite, "graft_q161",
      ErCrudOps)),

    // q161 with merge-on-read advances (the q163 layout applied to the
    // real-ingest term/pair stores). Same oracle — the advance layout
    // must be invisible in the mapping.
    "q165_tagged_er_crud_lifecycle_mor" -> ((s, _) =>
      graft.resolve.Lifecycle.run(s, erLifecycle(s),
        graft.resolve.Lifecycle.MergeOnRead, "graft_q165", ErCrudOps)),

    // q165 with a MID-LIFECYCLE COMPACTION on the real-ingest term/pair
    // stores (q166's maintenance-fold gate, real-ingest twin): after
    // the update day — both delta AND tombstone sidecars live — the
    // sidecars fold into a bucketed working base and the delete day
    // runs against it. Same oracle as q161/q165: the schedule must be
    // invisible in the mapping.
    "q167_tagged_er_mor_compact" -> ((s, _) =>
      graft.resolve.Lifecycle.run(s, erLifecycle(s),
        graft.resolve.Lifecycle.MergeOnRead, "graft_q167", ErCrudOps,
        compactAfterOps = Set(1))),

    "q105_tagged_er_alias_docs" -> ((s, _) => {
      val ingested = TaggedText.ingest(s, TaggedErGlob)
      val mapping = graft.resolve.EntityResolution
        .ingestedKeywordMapping(ingested, 24, 25)
      val g = graft.graph.DocGraph.ofIngested(ingested)
        .copy(kwMapping = mapping)
      graft.graph.GraphQueries.keywordDocs(g, "知识图谱 (KG)")
    }),

    // ----------------------------------------------------------------
    // The REMAINING Q.txt families over the ingest path, dispatched
    // through the L1 ROUTER itself (`Router.route`, not direct template
    // calls) so the family-number → template binding is what's gated
    // here — with q94/q95 (families 5/7 pre-router) and q100-q103
    // above, every one of the 17 families (incl. both literal bindings
    // of the 8/9 properties fetch and the family-17 catalog) is
    // oracle-gated over BOTH the synthetic fixture (q60-q74) and the
    // real tagged ingest.
    // ----------------------------------------------------------------

    // Family 1 (J3): Document -> Author.
    "q106_tagged_doc_authors" -> ((s, _) => routed(s, 1,
      Map("title" -> "面向领域知识图谱构建的关键技术研究"))),

    // Family 2 (J3): Document -> Keyword.
    "q107_tagged_doc_keywords" -> ((s, _) => routed(s, 2,
      Map("title" -> "面向领域知识图谱构建的关键技术研究"))),

    // Family 3 (J3): Document -> Organization via the Publisher branch
    // of the PUBLISHED_BY coalesce key.
    "q108_tagged_doc_org" -> ((s, _) => routed(s, 3,
      Map("title" -> "面向领域知识图谱构建的关键技术研究"))),

    // Family 4 (J3): Document -> Topic through the ingest-path stub
    // classifier + taxonomy join.
    "q109_tagged_doc_topic" -> ((s, _) => routed(s, 4,
      Map("title" -> "面向领域知识图谱构建的关键技术研究"))),

    // Families 8/9: property fetch off the ingest docs view (nullable
    // journal/abstract both exercised: present on this doc, absent on
    // others).
    "q110_tagged_doc_properties" -> ((s, _) => routed(s, 8,
      Map("title" -> "面向领域知识图谱构建的关键技术研究"))),

    // Family 11 (J6): existence check across BOTH author rel types —
    // 张三 is a TERTIARY author of the thesis doc and unrelated to the
    // patent, so exactly the tertiary edge comes back.
    "q111_tagged_authored_check" -> ((s, _) => routed(s, 11,
      Map("author" -> "张三",
        "title" -> "面向领域知识图谱构建的关键技术研究",
        "title2" -> "一种量子通信装置"))),

    // Family 14 (J8+A7): co-occurring keywords, count-ranked.
    "q112_tagged_keyword_cooccur" -> ((s, _) => routed(s, 14,
      Map("keyword" -> "知识图谱"))),

    // Family 15 (J9): Organization -> Topic 2-hop; the seed org comes
    // from the Place-Published fallback branch of the coalesce key.
    "q113_tagged_org_topics" -> ((s, _) => routed(s, 15,
      Map("org" -> "北京"))),

    // Family 13 upgraded (J10): the optional `hops` parameter routes to
    // Pregel BFS reachability — GraphX over the real-ingest co-author
    // graph.
    "q114_tagged_coauthor_reach" -> ((s, _) => routed(s, 13,
      Map("author" -> "王芳", "hops" -> "2"))),

    // Family 12 (J6): does the doc carry the keyword? The semi-join
    // existence shape over ingest-derived HAS_KEYWORD edges.
    "q115_tagged_doc_has_keyword" -> ((s, _) => routed(s, 12,
      Map("title" -> "会议论文示例", "keyword" -> "深度学习"))),

    // Family 9 (the second literal binding of the properties fetch):
    // this doc has NO journal/abstract/publisher, so the nullable
    // property columns are exercised on their absent side.
    "q116_tagged_doc_properties_nulls" -> ((s, _) => routed(s, 9,
      Map("title" -> "会议论文示例"))),

    // Family 17: the capability catalog — binding-independent, but
    // router-dispatched and oracle-pinned so the advertised surface
    // cannot silently drift from the dispatch table.
    "q117_family_catalog" -> ((s, _) => routed(s, 17, Map.empty)),

    // Streaming tagged ingest, batch-equivalence leg: the SAME
    // flatMapGroupsWithState dedup operator that runs
    // on the file-source stream (TaggedStreamSpec replays files
    // incrementally) executed in batch mode, where it must equal the
    // window-based dedup unconditionally — hash-gated here.
    "q123_tagged_stream_dedup" -> ((s, _) => {
      import s.implicits._
      TaggedText.dedupByTitleStream(
        TaggedText.formatRecords(TaggedText.parse(s, TaggedGlob)))
        .toDF()
        .select($"title", $"label", $"year_raw", $"journal")
        .orderBy($"title")
    })
  )

  /** Route a Q.txt family over the ingest-derived graph (the L1 router
    * against binding 2 of [[graft.graph.DocGraph]]).
    */
  private def routed(s: SparkSession, family: Int,
                     params: Map[String, String]): DataFrame =
    graft.query.Router.route(
      graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, TaggedGlob)),
      family, params)

  /** The keyword mapping at θ = 24/25 as a whole statement, over `tn`
    * with the batch's re-embedding and deletion applied: from-scratch ER
    * over the universe the served merges and the folded advances must
    * reproduce bit-for-bit. */
  private def erMapping(eExpr: String = "e", tnWhere: String = ""): String =
    s"""WITH RECURSIVE ${taggedEr(576, 625, eExpr, tnWhere)}
         SELECT original, representative FROM tmap ORDER BY original"""
  private val erBase = erMapping()
  // the q157 update: md5 term id ≡ 1 mod 3 (the Spark side's `isUpd`)
  // re-embedded by the dimension reversal
  private val erUpdated = erMapping("CASE WHEN tid % 3 = 1 THEN list_reverse(e) ELSE e END")
  // the q158 delete: md5 term id ≡ 2 mod 3 (the Spark side's `isDel`)
  private val erDeleted = erMapping(tnWhere = "WHERE tid % 3 <> 2")
  // the q161 lifecycle's NET effect: class 0 deleted, class 2
  // re-embedded, class 1 inserted verbatim
  private val erCrudNet = erMapping(
    "CASE WHEN tid % 3 = 2 THEN list_reverse(e) ELSE e END", "WHERE tid % 3 <> 0")

  def oracles: Map[String, String] = Map(
    "q123_tagged_stream_dedup" ->
      s"""WITH $tagged
         SELECT title, label, year_raw, journal
         FROM dedup WHERE rn = 1 ORDER BY title""",
    "q104_tagged_er_mapping" -> erBase,
    "q128_tagged_er_encoded" -> erBase,
    "q157_tagged_er_updates_served" -> erUpdated,
    "q158_tagged_er_tombstones_served" -> erDeleted,
    "q159_tagged_er_inserts_served" -> erBase,
    "q160_tagged_er_multiday" -> erBase,
    "q161_tagged_er_crud_lifecycle" -> erCrudNet,
    // merge-on-read advance layout: same net state, same oracle as q161
    "q165_tagged_er_crud_lifecycle_mor" -> erCrudNet,
    // mid-lifecycle compaction on the real-ingest stores: same oracle
    "q167_tagged_er_mor_compact" -> erCrudNet,
    "q105_tagged_er_alias_docs" ->
      s"""WITH RECURSIVE ${taggedEr(576, 625)},
         ${aliasExpansion("exp", "tmap", "知识图谱 (KG)")}
         SELECT DISTINCT h.title AS title
         FROM thk2 h JOIN exp e ON h.kw = e.kw
         ORDER BY title""",
    "q100_tagged_keyword_docs" ->
      s"""WITH $taggedGraph, ${aliasExpansion("exp", "tkmap", "知识图谱")}
         SELECT DISTINCT h.title AS title
         FROM thk h JOIN exp e ON h.kw = e.kw
         ORDER BY title""",
    "q101_tagged_keyword_per_year" ->
      s"""WITH $taggedGraph, ${aliasExpansion("exp", "tkmap", "深度学习")},
         matched AS (
           SELECT DISTINCT h.title FROM thk h JOIN exp e ON h.kw = e.kw)
         SELECT CAST(TRY_CAST(d.year_raw AS INTEGER) AS BIGINT) AS year,
                count(*) AS n_docs
         FROM matched m JOIN ded d ON m.title = d.title
         GROUP BY 1 ORDER BY year NULLS FIRST""",
    "q102_tagged_coauthors" ->
      s"""WITH $taggedGraph
         ${coauthorsOf("tauth", "王芳")} ORDER BY coauthor""",
    "q103_tagged_collab_topics" ->
      s"""WITH $taggedGraph, ${collabTopicsSql("tauth", "ttop", "ded", "王芳")}""",
    "q90_tagged_ingest" ->
      s"""WITH $tagged
         SELECT title, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS BIGINT) AS year, year_raw,
           CAST(len(author) AS BIGINT) AS n_authors,
           CAST(len(keywords) AS BIGINT) AS n_keywords,
           publisher, array_to_string(author_address, '|') AS addr_csv
         FROM dedup WHERE rn = 1 ORDER BY title""",
    "q91_tagged_labels" ->
      s"""WITH $tagged
         SELECT label, count(*) AS n FROM dedup WHERE rn = 1
         GROUP BY label ORDER BY label""",
    "q93_area_counts" ->
      s"""WITH $tagged
         SELECT regexp_extract(filename, '([^/]+)/[^/]+/[^/]+$$', 1) AS area,
                count(*) AS n
         FROM dedup WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",
    // Ingest-derived AUTHORED edges (edgesFor: distinct non-empty entity,
    // src=author dst=title) for the seed author, joined back for the year
    // property — title is unique after the first-wins dedup, so the edge
    // dst join is 1:1.
    "q94_tagged_author_docs" ->
      s"""WITH $tagged
         SELECT DISTINCT t.title,
           CAST(TRY_CAST(t.year_raw AS INTEGER) AS BIGINT) AS year
         FROM (SELECT title, year_raw, unnest(author) AS a
               FROM dedup WHERE rn = 1) t
         WHERE t.a = '王芳'
         ORDER BY title""",
    // PUBLISHED_BY record key = first non-empty of Publisher /
    // Place Published (Hype.py:38-44); records with neither produce no
    // edge (edgesFor's missing-entity skip).
    "q95_tagged_published_by" ->
      s"""WITH $tagged
         SELECT title,
           coalesce(nullif(publisher, ''), nullif(place_published, '')) AS org
         FROM dedup
         WHERE rn = 1
           AND coalesce(nullif(publisher, ''), nullif(place_published, ''))
               IS NOT NULL
         ORDER BY title""",
    "q106_tagged_doc_authors" ->
      s"""WITH $taggedGraph
         SELECT author FROM tauth
         WHERE title = '面向领域知识图谱构建的关键技术研究'
         ORDER BY author""",
    "q107_tagged_doc_keywords" ->
      s"""WITH $taggedGraph
         SELECT kw FROM thk
         WHERE title = '面向领域知识图谱构建的关键技术研究'
         ORDER BY kw""",
    "q108_tagged_doc_org" ->
      s"""WITH $taggedGraph
         SELECT title, org FROM torg
         WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q109_tagged_doc_topic" ->
      s"""WITH $taggedGraph
         SELECT title, topic FROM ttop
         WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q110_tagged_doc_properties" ->
      s"""WITH $taggedGraph
         SELECT title, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS BIGINT) AS year,
           journal, abstract
         FROM ded WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q111_tagged_authored_check" ->
      s"""WITH $taggedGraph
         SELECT title, rel FROM tauthall
         WHERE author = '张三'
           AND title IN ('面向领域知识图谱构建的关键技术研究',
                         '一种量子通信装置')
         ORDER BY title, rel""",
    "q112_tagged_keyword_cooccur" ->
      s"""WITH $taggedGraph
         SELECT b.kw AS kw, count(*) AS n
         FROM thk a JOIN thk b
           ON a.title = b.title AND b.kw <> a.kw
         WHERE a.kw = '知识图谱'
         GROUP BY b.kw ORDER BY n DESC, kw LIMIT 10""",
    "q113_tagged_org_topics" ->
      s"""WITH $taggedGraph
         SELECT DISTINCT t.topic AS topic
         FROM torg o JOIN ttop t ON o.title = t.title
         WHERE o.org = '北京'
         ORDER BY topic""",
    "q114_tagged_coauthor_reach" ->
      s"""WITH RECURSIVE $taggedGraph, ${coauthorReachSql("tauth", "'王芳'")}""",
    "q115_tagged_doc_has_keyword" ->
      s"""WITH $taggedGraph
         SELECT count(*) > 0 AS has_kw FROM thk
         WHERE title = '会议论文示例' AND kw = '深度学习'""",
    "q116_tagged_doc_properties_nulls" ->
      s"""WITH $taggedGraph
         SELECT title, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS BIGINT) AS year,
           journal, abstract
         FROM ded WHERE title = '会议论文示例'""",
    "q117_family_catalog" ->
      """SELECT * FROM (VALUES
           (1, 'Document -> Author', 'title'),
           (2, 'Document -> Keyword', 'title'),
           (3, 'Document -> Organization', 'title'),
           (4, 'Document -> Topic', 'title'),
           (5, 'Author -> Document', 'author'),
           (6, 'Keyword -> Document (alias-expanded)', 'keyword'),
           (7, 'Organization -> Document', 'org'),
           (8, 'Document -> properties', 'title'),
           (9, 'Document -> type + summary properties', 'title'),
           (10, 'Keyword -> per-year document counts', 'keyword'),
           (11, 'Author x Documents -> relationship existence',
                'author,title,title2'),
           (12, 'Document x Keyword -> existence', 'title,keyword'),
           (13, 'Author -> co-authors (2-hop)', 'author'),
           (14, 'Keyword -> co-occurring keywords (2-hop)', 'keyword'),
           (15, 'Organization -> topics (2-hop)', 'org'),
           (16, 'Author -> collaborator topics + abstracts (3-hop)',
                'author'),
           (17, 'capability catalog', '')
         ) AS t(family, description, params)
         ORDER BY family"""
  )
}
