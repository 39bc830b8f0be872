package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
object TaggedQueries {

  val FixtureGlob = "/root/repo/src/test/resources/tagged/*/*/*.txt"

  /** A second, ER-focused tagged fixture whose keywords carry spelling
    * variants (a parenthetical gloss) that the term-encoder stub maps to
    * identical embeddings — the merge case the keyword resolution exists
    * for.
    */
  val ErFixtureGlob = "/root/repo/src/test/resources/tagged_er/*/*/*.txt"

  /** The tagged lifecycles' binding: the ER fixture's keyword universe
    * at θ = 24/25, classes by md5-id mod 3. */
  def erLifecycle(s: SparkSession): graft.resolve.Lifecycle.Binding =
    graft.resolve.Lifecycle.ingested(() => TaggedText.ingest(s, ErFixtureGlob),
      ErFixtureGlob, 24, 25)

  /** The mixed-CRUD days of q161/q165/q167: insert class 1, update
    * class 2, delete class 0. */
  val ErCrudOps = Seq(("insert", 1), ("update", 2), ("delete", 0))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full ingest pipeline: parse → format → first-wins dedup, projected
    // to scalar-only columns (arrays rendered as joined strings).
    "q90_tagged_ingest" -> ((s, _) => {
      import s.implicits._
      TaggedText.ingest(s, FixtureGlob)
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
      TaggedText.ingest(s, FixtureGlob)
        .groupBy($"label").agg(count(lit(1)).as("n"))
        .orderBy($"label")
    }),

    // S3: per-area record counts from the two-level directory layout.
    "q93_area_counts" -> ((s, _) => {
      import s.implicits._
      TaggedText.ingest(s, FixtureGlob)
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
      val ingested = TaggedText.ingest(s, FixtureGlob)
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
      graft.graph.BibGraph.taggedEdges(TaggedText.ingest(s, FixtureGlob))
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
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, FixtureGlob)),
        "知识图谱")),

    // Family 10 (A7, the flagship slice) over the ingest path.
    "q101_tagged_keyword_per_year" -> ((s, _) =>
      graft.graph.GraphQueries.keywordPerYear(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, FixtureGlob)),
        "深度学习")),

    // Family 13 (J7): 2-hop co-author self-join over ingest-derived
    // AUTHORED edges.
    "q102_tagged_coauthors" -> ((s, _) =>
      graft.graph.GraphQueries.coauthors(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, FixtureGlob)),
        "王芳")),

    // Family 16 (J10): 3-hop collaborator-topics + abstract property —
    // exercises the ingest path's HAS_TOPIC stub classifier and the
    // nullable abstract column.
    "q103_tagged_collab_topics" -> ((s, _) =>
      graft.graph.GraphQueries.collabTopics(
        graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, FixtureGlob)),
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
        TaggedText.ingest(s, ErFixtureGlob), 24, 25)
        .orderBy(col("original"))),

    // The SAME lifecycle with the encode step in operator shape — the
    // batched pluggable encoder (q127's mapPartitions seam, batch=64)
    // instead of the inline Column stub; identical embeddings by
    // construction, so q104's oracle gates this path too.
    "q128_tagged_er_encoded" -> ((s, _) =>
      graft.resolve.EntityResolution.ingestedKeywordMappingEncoded(
        TaggedText.ingest(s, ErFixtureGlob), 24, 25)
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
      val ingested = TaggedText.ingest(s, ErFixtureGlob)
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

    // Streaming tagged ingest, batch-equivalence leg (round-5 verdict
    // task 8): the SAME flatMapGroupsWithState dedup operator that runs
    // on the file-source stream (TaggedStreamSpec replays files
    // incrementally) executed in batch mode, where it must equal the
    // window-based dedup unconditionally — hash-gated here.
    "q123_tagged_stream_dedup" -> ((s, _) => {
      import s.implicits._
      TaggedText.dedupByTitleStream(
        TaggedText.formatRecords(TaggedText.parse(s, FixtureGlob)))
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
      graft.graph.DocGraph.ofIngested(TaggedText.ingest(s, FixtureGlob)),
      family, params)

  /** The same pipeline in DuckDB: read_text → blank-line block split
    * (the same `\\n\\s*\\n` regex the parser uses) → per-field extraction
    * anchored to line starts, LAST occurrence winning (dict-overwrite
    * parity with `parseEntries`) → the P1-P3 cleaning chains → P7
    * sanitize → A1 first-wins window. An absent field is NULL on both
    * sides (`list_extract` of an empty match list is NULL); `size(NULL)`
    * is NULL on both sides.
    */
  private[graft] def pipelineSqlFor(glob: String): String = s"""f AS (
  SELECT filename, string_split_regex(content, '\\n\\s*\\n') AS blocks
  FROM read_text('$glob')),
bx AS (
  SELECT filename, unnest(range(len(blocks))) AS block_idx, blocks FROM f),
blk AS (
  SELECT filename, block_idx, blocks[CAST(block_idx + 1 AS INTEGER)] AS block
  FROM bx),
rec0 AS (
  SELECT filename, block_idx, block FROM blk
  WHERE regexp_matches(block, '(?m)^\\{[^}]+\\}:')),
raw AS (
  SELECT filename, block_idx,
    list_extract(regexp_extract_all(block, '(?m)^\\{Title\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS title_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Reference Type\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS rt_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Year\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS year_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Author\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS author_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Tertiary Author\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS tert_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Keywords\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS kw_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Publisher\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS pub_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Place Published\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS place_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Journal\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS journal_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{DOI\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS doi_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Author Address\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS addr_r,
    list_extract(regexp_extract_all(block, '(?m)^\\{Abstract\\}:[ \\t]*([^\\n]*)$$', 1), -1) AS abs_r
  FROM rec0),
clean AS (
  SELECT filename, block_idx,
    trim(regexp_replace(regexp_replace(title_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS title,
    trim(regexp_replace(regexp_replace(rt_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS ref_type,
    trim(regexp_replace(regexp_replace(year_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS year_raw,
    trim(regexp_replace(regexp_replace(pub_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS publisher,
    trim(regexp_replace(regexp_replace(place_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS place_published,
    trim(regexp_replace(regexp_replace(journal_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS journal,
    trim(regexp_replace(regexp_replace(doi_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS doi,
    trim(regexp_replace(regexp_replace(abs_r, ';\\s*$$', ''), '\\s+', ' ', 'g')) AS abstract,
    list_filter(list_transform(string_split(author_r, ';'),
      x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))), x -> x <> '') AS author,
    list_filter(list_transform(string_split(tert_r, ';'),
      x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))), x -> x <> '') AS tertiary_author,
    list_filter(list_transform(string_split(kw_r, ';'),
      x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))), x -> x <> '') AS keywords,
    list_filter(list_transform(
      flatten(list_transform(string_split(addr_r, ';'),
        p -> string_split_regex(p, '[.,/·]'))),
      -- the reference's postal strip is lookaround-based ("exactly six
      -- digits, not bordered by a seventh"); RE2 has no lookbehind, so
      -- the mirror is structural: tokenize into digit/non-digit runs
      -- and blank the exactly-6 digit runs — letter-adjacent codes
      -- ("Xuyong646400") strip here exactly as Python's non-digit
      -- lookarounds strip them (TaggedText.stripPostalCodes)
      x -> trim(regexp_replace(coalesce(list_aggregate(
             list_transform(regexp_extract_all(x, '[0-9]+|[^0-9]+'),
               t -> CASE WHEN regexp_full_match(t, '[0-9]{6}')
                         THEN ' ' ELSE t END),
             'string_agg', ''), ''), '\\s+', ' ', 'g'))),
      x -> x <> '') AS author_address
  FROM raw),
lab AS (
  SELECT *,
    CASE WHEN ref_type IS NULL OR regexp_replace(regexp_replace(ref_type, '\\s+', '_', 'g'), '[^A-Za-z0-9_]', '', 'g') = ''
         THEN 'UnknownDocument'
         WHEN regexp_matches(regexp_replace(regexp_replace(ref_type, '\\s+', '_', 'g'), '[^A-Za-z0-9_]', '', 'g'), '^[0-9]')
         THEN '_' || regexp_replace(regexp_replace(ref_type, '\\s+', '_', 'g'), '[^A-Za-z0-9_]', '', 'g')
         ELSE regexp_replace(regexp_replace(ref_type, '\\s+', '_', 'g'), '[^A-Za-z0-9_]', '', 'g') END AS label
  FROM clean),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY title ORDER BY filename, block_idx) AS rn
  FROM lab WHERE title IS NOT NULL AND title <> '')"""

  private[graft] val pipelineSql = pipelineSqlFor(FixtureGlob)

  /** [[pipelineSql]] extended with the graph-side CTEs DocGraph.ofIngested
    * derives: deduped docs, AUTHORED pairs, HAS_KEYWORD pairs, the
    * keyword alias mapping (md5-bucket min-rep over INGESTED keywords),
    * and the HAS_TOPIC stub (md5-prefix topic id → taxonomy join →
    * paren-gloss strip) — same arithmetic as the Spark side.
    */
  private[graft] val graphSql = s"""$pipelineSql,
ded AS (SELECT * FROM dedup WHERE rn = 1),
topics(id, category_code, topic_name) AS (VALUES
  ${graft.enrich.Taxonomy.sqlValues}),
tauth AS (
  SELECT DISTINCT a AS author, title
  FROM (SELECT title, unnest(author) AS a FROM ded) t),
thk AS (
  SELECT DISTINCT title, kw
  FROM (SELECT title, unnest(keywords) AS kw FROM ded) t),
tkmap AS (
  SELECT kw AS original,
         min(kw) OVER (PARTITION BY substring(md5(kw), 1, 1)) AS representative
  FROM (SELECT DISTINCT unnest(keywords) AS kw FROM ded) t),
ttop AS (
  SELECT d.title,
         trim(regexp_replace(t.topic_name, '\\s*\\(.*?\\)', '', 'g')) AS topic
  FROM ded d JOIN topics t
    ON t.id = CAST(CAST('0x' || substring(md5(d.title), 1, 6) AS BIGINT)
                   % 22 + 1 AS INTEGER)),
tauthall AS (
  SELECT author, title, 'AUTHORED' AS rel FROM tauth
  UNION ALL
  SELECT DISTINCT a AS author, title, 'TERTIARY_AUTHORED' AS rel
  FROM (SELECT title, unnest(tertiary_author) AS a FROM ded) t),
torg AS (
  SELECT title,
         coalesce(nullif(publisher, ''), nullif(place_published, '')) AS org
  FROM ded
  WHERE coalesce(nullif(publisher, ''), nullif(place_published, ''))
        IS NOT NULL)"""

  /** Oracle mirror of the ER lifecycle over the ER fixture: the same
    * parse→format→dedup pipeline, then distinct keywords → the md5-based
    * encoder stub (quantized directly to the 1e-4 integer lattice —
    * every dim is dyadic so Spark's float→double→round chain agrees
    * exactly) → ε-join at θ=24/25 in HUGEINT arithmetic → min-label CC
    * walk → min-term representative.
    */
  private[graft] def erSqlAt(numSq: Int, denSq: Int,
      eExpr: String = "e", tnWhere: String = ""): String =
    s"""${pipelineSqlFor(ErFixtureGlob)},
ded AS (SELECT * FROM dedup WHERE rn = 1),
kws AS (
  SELECT DISTINCT kw FROM (SELECT title, unnest(keywords) AS kw FROM ded) t
  WHERE kw IS NOT NULL AND kw <> ''),
terms AS (
  SELECT kw AS term,
         CAST('0x' || substring(md5(kw), 1, 15) AS BIGINT) AS tid,
         list_transform([0, 1, 2, 3, 4, 5, 6, 7], i ->
           CAST(round(
             (CAST('0x' || substring(
                md5(trim(regexp_replace(kw, '\\s*\\(.*?\\)', '', 'g'))),
                CAST(i * 4 + 1 AS INTEGER), 4) AS BIGINT) - 32768)
             / 32768.0 * 10000) AS BIGINT)) AS e
  FROM kws),
tn AS (SELECT term, tid, $eExpr AS e,
         CAST(list_sum(list_transform($eExpr, x -> x*x)) AS BIGINT) AS nrm
       FROM terms $tnWhere),
ted AS (SELECT u, v FROM (
          SELECT a.tid AS u, b.tid AS v,
            CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
            a.nrm AS na, b.nrm AS nb
          FROM tn a JOIN tn b ON a.tid < b.tid) p
        WHERE dot > 0
          AND $denSq*CAST(dot AS HUGEINT)*dot >= $numSq*CAST(na AS HUGEINT)*nb),
tee AS (SELECT u, v FROM ted UNION SELECT v, u FROM ted),
twalk(node, lab) AS (
  SELECT tid, tid FROM tn
  UNION
  SELECT tee.v, twalk.lab FROM twalk JOIN tee ON twalk.node = tee.u),
tcomp AS (SELECT node AS tid, min(lab) AS component FROM twalk GROUP BY node),
treps AS (SELECT c.component, min(t.term) AS representative
          FROM tcomp c JOIN tn t ON c.tid = t.tid GROUP BY c.component),
tmap AS (SELECT t.term AS original, r.representative
         FROM tn t JOIN tcomp c ON t.tid = c.tid
         JOIN treps r ON c.component = r.component),
thk2 AS (SELECT DISTINCT title, kw
         FROM (SELECT title, unnest(keywords) AS kw FROM ded) t)"""

  private[graft] val erSql = erSqlAt(576, 625)

  /** [[erSql]] with the q157 update applied in `tn`: terms in the batch
    * (md5 term id ≡ 1 mod 3 — the Spark side's `isUpd`) are re-embedded
    * by the deterministic dimension reversal before the ε-join, so the
    * oracle computes FROM-SCRATCH ER over the updated universe that the
    * served fused merge must reproduce bit-for-bit.
    */
  private[graft] val erUpdateSql = erSqlAt(576, 625,
    "CASE WHEN tid % 3 = 1 THEN list_reverse(e) ELSE e END")

  /** [[erSql]] with the q158 delete applied in `tn`: terms in the batch
    * (md5 term id ≡ 2 mod 3 — the Spark side's `isDel`) are removed from
    * the universe before the ε-join, so the oracle computes FROM-SCRATCH
    * ER over the post-delete universe the served tombstone merge must
    * reproduce bit-for-bit.
    */
  private[graft] val erDeleteSql = erSqlAt(576, 625,
    tnWhere = "WHERE tid % 3 <> 2")

  /** [[erSql]] with the q161 lifecycle's NET effect applied in `tn`:
    * the ≡ 0 (mod 3) class deleted, the ≡ 2 class re-embedded by the
    * dimension reversal, the ≡ 1 class inserted verbatim — so the
    * oracle computes from-scratch ER over the post-lifecycle universe
    * that the three folded advances must converge to bit-for-bit.
    */
  private[graft] val erCrudSql = erSqlAt(576, 625,
    "CASE WHEN tid % 3 = 2 THEN list_reverse(e) ELSE e END",
    tnWhere = "WHERE tid % 3 <> 0")

  def oracles: Map[String, String] = Map(
    "q123_tagged_stream_dedup" ->
      s"""WITH $pipelineSql
         SELECT title, label, year_raw, journal
         FROM dedup WHERE rn = 1 ORDER BY title""",
    "q104_tagged_er_mapping" ->
      s"""WITH RECURSIVE $erSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q128_tagged_er_encoded" ->
      s"""WITH RECURSIVE $erSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q157_tagged_er_updates_served" ->
      s"""WITH RECURSIVE $erUpdateSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q158_tagged_er_tombstones_served" ->
      s"""WITH RECURSIVE $erDeleteSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q159_tagged_er_inserts_served" ->
      s"""WITH RECURSIVE $erSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q160_tagged_er_multiday" ->
      s"""WITH RECURSIVE $erSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q161_tagged_er_crud_lifecycle" ->
      s"""WITH RECURSIVE $erCrudSql
         SELECT original, representative FROM tmap ORDER BY original""",
    // merge-on-read advance layout: same net state, same oracle as q161
    "q165_tagged_er_crud_lifecycle_mor" ->
      s"""WITH RECURSIVE $erCrudSql
         SELECT original, representative FROM tmap ORDER BY original""",
    // mid-lifecycle compaction on the real-ingest stores: same oracle
    "q167_tagged_er_mor_compact" ->
      s"""WITH RECURSIVE $erCrudSql
         SELECT original, representative FROM tmap ORDER BY original""",
    "q105_tagged_er_alias_docs" ->
      s"""WITH RECURSIVE $erSql,
         exp AS (
           SELECT representative AS kw FROM tmap
           WHERE original = '知识图谱 (KG)'
           UNION SELECT '知识图谱 (KG)')
         SELECT DISTINCT h.title AS title
         FROM thk2 h JOIN exp e ON h.kw = e.kw
         ORDER BY title""",
    "q100_tagged_keyword_docs" ->
      s"""WITH $graphSql,
         exp AS (
           SELECT representative AS kw FROM tkmap WHERE original = '知识图谱'
           UNION SELECT '知识图谱')
         SELECT DISTINCT h.title AS title
         FROM thk h JOIN exp e ON h.kw = e.kw
         ORDER BY title""",
    "q101_tagged_keyword_per_year" ->
      s"""WITH $graphSql,
         exp AS (
           SELECT representative AS kw FROM tkmap WHERE original = '深度学习'
           UNION SELECT '深度学习'),
         matched AS (
           SELECT DISTINCT h.title FROM thk h JOIN exp e ON h.kw = e.kw)
         SELECT CAST(TRY_CAST(d.year_raw AS INTEGER) AS BIGINT) AS year,
                count(*) AS n_docs
         FROM matched m JOIN ded d ON m.title = d.title
         GROUP BY 1 ORDER BY year NULLS FIRST""",
    "q102_tagged_coauthors" ->
      s"""WITH $graphSql
         SELECT DISTINCT b.author AS coauthor
         FROM tauth a JOIN tauth b
           ON a.title = b.title AND b.author <> a.author
         WHERE a.author = '王芳' ORDER BY coauthor""",
    "q103_tagged_collab_topics" ->
      s"""WITH $graphSql,
         coa AS (
           SELECT DISTINCT b.author AS coauthor
           FROM tauth a JOIN tauth b
             ON a.title = b.title AND b.author <> a.author
           WHERE a.author = '王芳'),
         cdocs AS (
           SELECT DISTINCT c.title FROM coa JOIN tauth c
             ON coa.coauthor = c.author)
         SELECT DISTINCT t.topic AS topic, cd.title AS title,
                d.abstract AS abstract
         FROM cdocs cd
         JOIN ttop t ON t.title = cd.title
         JOIN ded d ON d.title = cd.title
         ORDER BY topic, title""",
    "q90_tagged_ingest" ->
      s"""WITH $pipelineSql
         SELECT title, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS BIGINT) AS year, year_raw,
           CAST(len(author) AS BIGINT) AS n_authors,
           CAST(len(keywords) AS BIGINT) AS n_keywords,
           publisher, array_to_string(author_address, '|') AS addr_csv
         FROM dedup WHERE rn = 1 ORDER BY title""",
    "q91_tagged_labels" ->
      s"""WITH $pipelineSql
         SELECT label, count(*) AS n FROM dedup WHERE rn = 1
         GROUP BY label ORDER BY label""",
    "q93_area_counts" ->
      s"""WITH $pipelineSql
         SELECT regexp_extract(filename, '([^/]+)/[^/]+/[^/]+$$', 1) AS area,
                count(*) AS n
         FROM dedup WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",
    // Ingest-derived AUTHORED edges (edgesFor: distinct non-empty entity,
    // src=author dst=title) for the seed author, joined back for the year
    // property — title is unique after the first-wins dedup, so the edge
    // dst join is 1:1.
    "q94_tagged_author_docs" ->
      s"""WITH $pipelineSql
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
      s"""WITH $pipelineSql
         SELECT title,
           coalesce(nullif(publisher, ''), nullif(place_published, '')) AS org
         FROM dedup
         WHERE rn = 1
           AND coalesce(nullif(publisher, ''), nullif(place_published, ''))
               IS NOT NULL
         ORDER BY title""",
    "q106_tagged_doc_authors" ->
      s"""WITH $graphSql
         SELECT author FROM tauth
         WHERE title = '面向领域知识图谱构建的关键技术研究'
         ORDER BY author""",
    "q107_tagged_doc_keywords" ->
      s"""WITH $graphSql
         SELECT kw FROM thk
         WHERE title = '面向领域知识图谱构建的关键技术研究'
         ORDER BY kw""",
    "q108_tagged_doc_org" ->
      s"""WITH $graphSql
         SELECT title, org FROM torg
         WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q109_tagged_doc_topic" ->
      s"""WITH $graphSql
         SELECT title, topic FROM ttop
         WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q110_tagged_doc_properties" ->
      s"""WITH $graphSql
         SELECT title, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS BIGINT) AS year,
           journal, abstract
         FROM ded WHERE title = '面向领域知识图谱构建的关键技术研究'""",
    "q111_tagged_authored_check" ->
      s"""WITH $graphSql
         SELECT title, rel FROM tauthall
         WHERE author = '张三'
           AND title IN ('面向领域知识图谱构建的关键技术研究',
                         '一种量子通信装置')
         ORDER BY title, rel""",
    "q112_tagged_keyword_cooccur" ->
      s"""WITH $graphSql
         SELECT b.kw AS kw, count(*) AS n
         FROM thk a JOIN thk b
           ON a.title = b.title AND b.kw <> a.kw
         WHERE a.kw = '知识图谱'
         GROUP BY b.kw ORDER BY n DESC, kw LIMIT 10""",
    "q113_tagged_org_topics" ->
      s"""WITH $graphSql
         SELECT DISTINCT t.topic AS topic
         FROM torg o JOIN ttop t ON o.title = t.title
         WHERE o.org = '北京'
         ORDER BY topic""",
    "q114_tagged_coauthor_reach" ->
      s"""WITH RECURSIVE $graphSql,
         ce0 AS (
           SELECT DISTINCT a.author AS u, b.author AS v
           FROM tauth a JOIN tauth b
             ON a.title = b.title AND a.author < b.author),
         ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0),
         bfs(node, hops) AS (
           SELECT '王芳', 0
           UNION
           SELECT ce.v, bfs.hops + 1 FROM bfs JOIN ce ON bfs.node = ce.u
           WHERE bfs.hops < 2)
         SELECT node AS author, CAST(min(hops) AS BIGINT) AS hops
         FROM bfs GROUP BY node ORDER BY author""",
    "q115_tagged_doc_has_keyword" ->
      s"""WITH $graphSql
         SELECT count(*) > 0 AS has_kw FROM thk
         WHERE title = '会议论文示例' AND kw = '深度学习'""",
    "q116_tagged_doc_properties_nulls" ->
      s"""WITH $graphSql
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
