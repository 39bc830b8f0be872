package graft.registry

/** The DuckDB oracle vocabulary: every SQL fragment the registry's oracles
  * share, each written once. A fragment is SQL text only — a CTE list
  * entry or an expression — and no fragment is generated from an engine
  * operator, so an oracle stays an independent statement of what its
  * query must return. Fragments name their output CTE in their scaladoc;
  * the names each family's prelude uses (`docs`, `dedup`, `n`, ...) are
  * collision-free where two preludes compose in one WITH.
  */
object OracleSql {

  // ---- quantized vectors --------------------------------------------

  /** The exact integer dot product of two quantized vectors. */
  def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform($a, (x,i) -> x * $b[i])) AS BIGINT)"

  /** The squared norm of a quantized vector. */
  def sqNorm(e: String): String =
    s"CAST(list_sum(list_transform($e, x -> x*x)) AS BIGINT)"

  /** Signed cos² of a pair from its dot product and its norm product —
    * the ranking key of every assignment and top-k. */
  def signedCos2(dot: String, norms: String): String =
    s"CAST($dot*$dot AS DOUBLE) / CAST($norms AS DOUBLE)" +
      s" * (CASE WHEN $dot < 0 THEN -1 ELSE 1 END)"

  /** `name(vec_id, e, nrm)`: the embeddings (filtered by `where`) on the
    * 1e-4 integer lattice, with their squared norms. */
  def quantNorm(name: String = "n", where: String = ""): String =
    s"""${name}_q AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
  FROM embeddings $where),
$name AS (SELECT vec_id, e, ${sqNorm("e")} AS nrm FROM ${name}_q)"""

  /** `name(vec_id, e, nrm)`: SQ8 — the embeddings scaled by 127 / the
    * global max |x| in DOUBLE, clamped and rounded to BIGINT (both engines
    * round ties away from zero), with their squared norms. */
  def sq8(name: String): String = s"""sc AS (
  SELECT 127.0 / max(list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE))))) AS s
  FROM embeddings),
${name}_q AS (SELECT vec_id, list_transform(embedding, x ->
    CAST(greatest(-127, least(127, round(CAST(x AS DOUBLE) * sc.s))) AS BIGINT)) AS e
  FROM embeddings CROSS JOIN sc),
$name AS (SELECT vec_id, e, ${sqNorm("e")} AS nrm FROM ${name}_q)"""

  /** The centroid spacing m = max(50, ⌊√n⌋) over the embeddings `where`
    * selects. */
  def modulus(where: String = ""): String =
    s"(SELECT greatest(50, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings $where)"

  /** `name(cid, ce, cnrm)`: the centroid set, every [[modulus]]-th vector
    * of `n` unless `where` says otherwise. */
  def centroids(name: String = "cent",
      where: String = s"vec_id % ${modulus()} = 0"): String =
    s"$name AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM n WHERE $where)"

  /** `name_r(vec_id, cid, key, rn)`: every vector of `from` against every
    * centroid of `cents`, `rn` ranking the cells by signed cos² desc with
    * the cid tiebreak — the coarse assignment. Then `name(vec_id, cid, e,
    * nrm)`: the ranked cells `r` that pass `where` (the best cell by
    * default), each with its vector from `members`. */
  def cells(name: String, cents: String, where: String = "r.rn = 1",
      from: String = "n", members: String = "n"): String = {
    val key = signedCos2("dot", "nrm*cnrm")
    s"""${name}_r AS (
  SELECT vec_id, cid, $key AS key,
    row_number() OVER (PARTITION BY vec_id ORDER BY $key DESC, cid) AS rn
  FROM (SELECT v.vec_id, c.cid, ${dotSql("v.e", "c.ce")} AS dot, v.nrm, c.cnrm
        FROM $from v CROSS JOIN $cents c) t),
$name AS (SELECT r.vec_id, r.cid, m.e, m.nrm
  FROM ${name}_r r JOIN $members m ON r.vec_id = m.vec_id WHERE $where)"""
  }

  /** The top-`k` neighbors of each vector of `queries` among `corpus`
    * (aliases `q` and `c`, paired under `on`) by signed cos² desc with the
    * neighbor-id tiebreak, as (qid, rank, nid, cos2_x1e6) — a whole
    * statement tail. */
  def topK(queries: String, corpus: String, on: String, k: Int): String =
    s"""p AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${dotSql("q.e", "c.e")} AS dot,
         q.nrm AS qn, c.nrm AS cn
       FROM $queries q JOIN $corpus c ON $on),
k AS (SELECT qid, nid, ${signedCos2("dot", "qn*cn")} AS key FROM p),
r AS (SELECT qid, nid, key, CAST(row_number() OVER (PARTITION BY qid
        ORDER BY key DESC, nid) AS BIGINT) AS rank
      FROM k)
SELECT qid, rank, nid, CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
FROM r WHERE rank <= $k ORDER BY qid, rank"""

  /** The k-means training chain mirroring
    * [[graft.similarity.Similarity.kmeansCentroids]]: seeds `c0` (every
    * [[modulus]]-th vector), then per round the best-cell assignment
    * `a$i` and the FLOOR-mean update `m$i` → `c$i`. Ends at `c$iters`, the
    * trained centroid set. The floor of `1.0*sum/count` divides
    * exactly-representable integers in IEEE double — identical to the
    * Spark side's BIGINT `floor(sx / n)`. */
  def kmeans(iters: Int): String = (1 to iters).map { i =>
    s"""${cells(s"a$i", s"c${i - 1}")},
m$i AS (SELECT cid, pos, CAST(floor(1.0 * sum(x) / count(*)) AS BIGINT) AS v
  FROM (SELECT cid, generate_subscripts(e, 1) AS pos, unnest(e) AS x FROM a$i) t
  GROUP BY cid, pos),
c$i AS (SELECT cid, list(v ORDER BY pos) AS ce,
  ${sqNorm("list(v ORDER BY pos)")} AS cnrm FROM m$i GROUP BY cid)"""
  }.mkString(s"${quantNorm()},\n${centroids("c0")},\n", ",\n", "")

  /** `dup(vec_id)`: the vectors of `full0(vec_id, cid, e, nrm)` that have a
    * lower id in one of their cells at cos² ≥ 1/8 — SemDeDup's drop set. */
  val semDup = s"""sp AS (SELECT a.vec_id, ${dotSql("a.e", "b.e")} AS dot,
         a.nrm AS an, b.nrm AS bn
       FROM full0 a JOIN full0 b ON a.cid = b.cid AND b.vec_id < a.vec_id),
dup AS (SELECT DISTINCT vec_id FROM sp WHERE dot > 0 AND 8*dot*dot >= an*bn)"""

  // ---- ε-graphs and their components --------------------------------

  /** `name(u, v)`: the pairs of `from` (ids in column `id`, `on` adding a
    * join condition) whose cos² is at least num/den, in exact HUGEINT
    * arithmetic. */
  def epsEdges(name: String, from: String, id: String, num: Int, den: Int,
      on: String = ""): String = s"""$name AS (SELECT u, v FROM (
  SELECT a.$id AS u, b.$id AS v, ${dotSql("a.e", "b.e")} AS dot,
    a.nrm AS na, b.nrm AS nb
  FROM $from a JOIN $from b ON $on a.$id < b.$id) p
  WHERE dot > 0 AND $den*CAST(dot AS HUGEINT)*dot >= $num*CAST(na AS HUGEINT)*nb)"""

  /** `<p>comp(<id>, component)`: the connected components of the
    * undirected edges `edges(u, v)` over the vertices `verts.<id>`, each
    * labeled by its minimum id. The walk is a recursive CTE that
    * terminates because UNION dedups the (node, label) set. */
  def ccWalk(edges: String, verts: String, id: String, p: String = ""): String =
    s"""${p}ee AS (SELECT u, v FROM $edges UNION SELECT v, u FROM $edges),
${p}walk(node, lab) AS (
  SELECT $id, $id FROM $verts
  UNION
  SELECT ${p}ee.v, ${p}walk.lab FROM ${p}walk JOIN ${p}ee ON ${p}walk.node = ${p}ee.u),
${p}comp AS (SELECT node AS $id, min(lab) AS component FROM ${p}walk GROUP BY node)"""

  /** `bfs(node, hops)` over the directed edges `edges(u, v)` from `seed`
    * up to two hops, then each reached vertex's least hop count as
    * (`id`, hops) — a whole statement tail. */
  def bfsReach(edges: String, seed: String, id: String): String =
    s"""bfs(node, hops) AS (
  SELECT $seed, 0
  UNION
  SELECT $edges.v, bfs.hops + 1 FROM bfs JOIN $edges ON bfs.node = $edges.u
  WHERE bfs.hops < 2)
SELECT node AS $id, CAST(min(hops) AS BIGINT) AS hops
FROM bfs GROUP BY node ORDER BY $id"""

  /** `<p>map(original, representative)`: the terms `terms(term, tid, e,
    * nrm)` joined at cos² ≥ num/den, their components, and each
    * component's lexicographically smallest term. */
  def termMapping(p: String, terms: String, num: Int, den: Int): String =
    s"""${epsEdges(p + "ed", terms, "tid", num, den)},
${ccWalk(p + "ed", terms, "tid", p)},
${p}reps AS (SELECT c.component, min(t.term) AS representative
  FROM ${p}comp c JOIN $terms t ON c.tid = t.tid GROUP BY c.component),
${p}map AS (SELECT t.term AS original, r.representative
  FROM $terms t JOIN ${p}comp c ON t.tid = c.tid
  JOIN ${p}reps r ON c.component = r.component)"""

  /** `comp(vec_id, component)`: exact ER — every pair at cos ≥ 0.35
    * (cos² ≥ 49/400), then the components. */
  val exactCc = s"""${quantNorm()},
${epsEdges("ed", "n", "vec_id", 49, 400)},
${ccWalk("ed", "n", "vec_id")}"""

  /** `comp(vec_id, component)`: blocked ER — the ε-pairs within each
    * vector's best IVF cell, then the components. */
  val blockedCc = s"""${quantNorm()},
${centroids()},
${cells("full0", "cent")},
${epsEdges("ed", "full0", "vec_id", 49, 400, "a.cid = b.cid AND")},
${ccWalk("ed", "n", "vec_id")}"""

  /** [[blockedCc]] with the centroid set PINNED to the standing corpus
    * (`vec_id % 10 <> 9`, modulus from the standing count) — the
    * from-scratch mirror of incremental ER's index rule. `memberWhere`
    * restricts the RESOLVED corpus `m` (what is assigned, paired and
    * labeled) without touching the centroid set, which is the tombstone
    * contract: deleting members does not move the index. `memberExpr`
    * likewise re-embeds members without touching the index — the update
    * contract. As a whole statement. */
  def pinnedEr(memberWhere: String, memberExpr: String = "e"): String =
    s"""WITH RECURSIVE ${quantNorm()},
${centroids(where =
  s"vec_id % 10 <> 9 AND vec_id % ${modulus("WHERE vec_id % 10 <> 9")} = 0")},
m AS (SELECT vec_id, $memberExpr AS e, nrm FROM n WHERE $memberWhere),
${cells("full0", "cent", from = "m", members = "m")},
${epsEdges("ed", "full0", "vec_id", 49, 400, "a.cid = b.cid AND")},
${ccWalk("ed", "m", "vec_id")}
SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id"""

  /** `omap(original, representative)`: the synthetic term universe
    * (`<prefix><k>` and its `_alt` spelling, sharing vector 10k's
    * embedding) resolved at cos² ≥ numSq/denSq. All names are
    * collision-free with [[bibGraph]], so the two compose in one WITH. */
  def termCc(prefix: String, numSq: Int, denSq: Int): String =
    s"""${quantNorm("on0", "WHERE vec_id % 10 = 0")},
oterms AS (
  SELECT '$prefix' || CAST(vec_id // 10 AS BIGINT) AS term,
         (vec_id // 10) * 2 AS tid, e, nrm FROM on0
  UNION ALL
  SELECT '$prefix' || CAST(vec_id // 10 AS BIGINT) || '_alt',
         (vec_id // 10) * 2 + 1, e, nrm FROM on0),
${termMapping("o", "oterms", numSq, denSq)}"""

  /** The exact PageRank recurrence unrolled: pr0 = S, pr_i = 0.15·S +
    * Σ_in (rank·85) // (100·outdeg) — integer-for-integer the Spark loop
    * (DuckDB `//` and Spark `DIV` agree on non-negative operands).
    */
  def pageRankChain(iters: Int): String =
    """deg AS (SELECT u AS src, count(*) AS outdeg FROM ee GROUP BY u),
pr0 AS (SELECT vec_id, CAST(1000000000 AS BIGINT) AS rank FROM n),
""" + (1 to iters).map { i =>
      s"""pr$i AS (
  SELECT vt.vec_id,
         CAST(150000000 AS BIGINT) + coalesce(c.s, CAST(0 AS BIGINT)) AS rank
  FROM n vt LEFT JOIN (
    SELECT e.v AS vec_id,
           CAST(sum((p.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS s
    FROM ee e JOIN pr${i - 1} p ON e.u = p.vec_id
              JOIN deg d ON e.u = d.src
    GROUP BY e.v) c ON vt.vec_id = c.vec_id)"""
    }.mkString(",\n")

  // ---- documents ----------------------------------------------------

  /** The per-bucket cap of the banded near-dup joins: a bucket with more
    * members is dropped whole. */
  val maxBucket = 50

  /** Oracle CTE mirror of [[graft.dedup.Dedup.lshCandidates]] (q33, q34, q38, q39):
    * 8 minhash seeds in 4 bands of two.
    */
  val lshCand = s"""sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1),
      j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2]) ELSE [] END AS s
  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents) t0),
mhs AS (
  SELECT doc_id, list_transform(range(8),
    i -> list_min(list_transform(s, x -> md5(i::VARCHAR || '|' || x)))) AS m
  FROM sh),
sig AS (
  SELECT doc_id, b, md5(m[2*b+1] || '|' || m[2*b+2]) AS h
  FROM (SELECT doc_id, unnest(range(4)) AS b, m FROM mhs) t
  WHERE md5(m[2*b+1] || '|' || m[2*b+2]) IS NOT NULL),
ok AS (SELECT b, h FROM sig GROUP BY b, h HAVING count(*) <= $maxBucket),
capped AS (SELECT s.doc_id, s.b, s.h FROM sig s JOIN ok USING (b, h)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
  FROM capped a JOIN capped b2
    ON a.b = b2.b AND a.h = b2.h AND a.doc_id < b2.doc_id)"""

  /** Oracle CTE for the 16-bit simhash (shared by q35 and q37) — same
    * hex-digit majority vote as [[graft.functions.TextHashes.simhash16]].
    */
  val simhash = """sh0 AS (
  SELECT doc_id,
    list_aggregate(list_transform(range(1, 17), p ->
      CASE WHEN list_sum(list_transform(th, x ->
             CASE WHEN substring(x, p, 1) >= '8' THEN 1 ELSE -1 END)) > 0
      THEN '1' ELSE '0' END), 'string_agg', '') AS sh
  FROM (SELECT doc_id, list_transform(string_split(text,' '), t -> md5(t)) AS th
        FROM documents) t0)"""

  /** `cpairs(v1, v2, dot, na, nb)`: the IVF-blocked cosine pairs — within
    * each vector's best cell, at cos ≥ 0.25 (16·dot² ≥ |a|²|b|²). */
  val cosinePairsSql = s"""${quantNorm()},
${centroids()},
${cells("full0", "cent")},
cp AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.nrm AS na, b.nrm AS nb,
         ${dotSql("a.e", "b.e")} AS dot
       FROM full0 a JOIN full0 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
cpairs AS (SELECT v1, v2, dot, na, nb FROM cp
           WHERE dot > 0 AND dot * dot * 16 >= na * nb)"""

  /** `jp(d1, d2, inter, uni)`: the LSH candidates whose token-set Jaccard
    * is at least 0.7, as exact integers. */
  val jaccardSql = s"""$lshCand,
tt AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS t FROM documents),
jp AS (SELECT d1, d2, inter, uni FROM (
         SELECT c.d1, c.d2, CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
           CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni
         FROM cand c JOIN tt a ON c.d1 = a.doc_id JOIN tt b ON c.d2 = b.doc_id) v
       WHERE inter * 1000 >= uni * 700)"""

  /** `banded(doc_id, sh, b, bits)`: each document's simhash split into
    * its two 8-bit bands. */
  val simhashBands = s"""$simhash,
banded AS (
  SELECT doc_id, sh, b,
    CASE WHEN b = 0 THEN substring(sh, 1, 8) ELSE substring(sh, 9, 8) END AS bits
  FROM (SELECT doc_id, sh, unnest([0, 1]) AS b FROM sh0) t)"""

  /** The Hamming distance of two 16-bit simhash strings. */
  def hammingSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 17), p ->
      CASE WHEN substring($a, p, 1) = substring($b, p, 1) THEN 0 ELSE 1 END))"""

  /** `sh(doc_id, shingle)`: each document's distinct 3-word shingles. */
  val shingleSql =
    """t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       sh AS (SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(tk) >= 3 THEN
                  list_transform(range(1, len(tk) - 1),
                    j -> tk[j] || ' ' || tk[j+1] || ' ' || tk[j+2])
                ELSE [] END)) AS shingle
              FROM t)"""

  // ---- the bibliographic graph --------------------------------------

  /** The synthetic bibliographic graph derived in SQL — the same rules as
    * [[graft.graph.BibGraph]]: `docs`, `authored`, `tertiary_authored`,
    * `authored_all`, `has_keyword`, `kmap`, `topics`, `has_topic`.
    * Unreferenced CTEs cost nothing (DuckDB materializes CTEs on demand).
    */
  val bibGraph: String = s"""
docs AS (
  SELECT doc_id,
         'D' || doc_id AS title,
         CASE WHEN doc_id % 31 = 0 THEN 'Preprint'
              ELSE CASE doc_id % 6 WHEN 0 THEN 'Journal Article' WHEN 1 THEN 'Patent'
                   WHEN 2 THEN 'Conference Proceedings' WHEN 3 THEN 'Thesis'
                   WHEN 4 THEN 'Newspaper Article' ELSE 'Book' END END AS ref_type,
         CASE WHEN doc_id % 31 = 0 THEN 'Other_Article'
              ELSE CASE doc_id % 6 WHEN 0 THEN 'Journal_Article' WHEN 1 THEN 'Patent'
                   WHEN 2 THEN 'Conference_Proceedings' WHEN 3 THEN 'Thesis'
                   WHEN 4 THEN 'Newspaper_Article' ELSE 'Book' END END AS label,
         2000 + doc_id % 25 AS year,
         text AS abstract,
         'J' || (doc_id % 7) AS journal,
         'Org_' || (doc_id % 13) AS org,
         'Addr_' || ((doc_id * 5) % 29) AS addr,
         list_sort(list_distinct(list_filter(string_split(text, ' '), t -> length(t) >= 5))) AS kws
  FROM documents
),
authored AS (
  SELECT DISTINCT author, title FROM (
    SELECT unnest(list_transform(range(doc_id % 3 + 1),
             j -> 'Author_' || ((doc_id * (j + 3)) % 97))) AS author, title
    FROM docs) t
),
tertiary_authored AS (
  SELECT DISTINCT 'Author_' || ((doc_id * 11) % 97) AS author, title
  FROM docs WHERE doc_id % 4 = 0
),
authored_all AS (
  SELECT author, title, 'AUTHORED' AS rel FROM authored
  UNION ALL
  SELECT author, title, 'TERTIARY_AUTHORED' AS rel FROM tertiary_authored
),
has_keyword AS (
  SELECT DISTINCT title, kw FROM (SELECT title, unnest(kws) AS kw FROM docs) t
),
kmap AS (
  SELECT kw AS original,
         min(kw) OVER (PARTITION BY substring(md5(kw), 1, 1)) AS representative
  FROM (SELECT DISTINCT unnest(kws) AS kw FROM docs) t
),
topics(id, category_code, topic_name) AS (VALUES
  ${graft.enrich.Taxonomy.sqlValues}
),
has_topic AS (
  SELECT d.title, d.label,
         trim(regexp_replace(t.topic_name, '\\s*\\(.*?\\)', '', 'g')) AS topic
  FROM docs d JOIN topics t ON t.id = CAST(d.doc_id % 22 + 1 AS INTEGER)
)"""

  /** Shared oracle mirror of [[graft.enrich.TopicEnrichment.classified]] (stub formula + validating
    * join + paren strip) — one definition for both q81 and q82.
    */
  val topicCls = """cls AS (
  SELECT title, ref_type, label,
    CASE WHEN doc_id % 37 = 0 THEN 99 ELSE doc_id % 22 + 1 END AS topic_id
  FROM docs),
j AS (
  SELECT c.title, c.ref_type, c.label, c.topic_id,
    CASE WHEN t.id IS NULL THEN 'error' ELSE 'ok' END AS status,
    trim(regexp_replace(t.topic_name, '\s*\(.*?\)', '', 'g')) AS topic
  FROM cls c LEFT JOIN topics t ON t.id = CAST(c.topic_id AS INTEGER))"""

  /** `name(col)`: the seed and its alias representative under `map`. */
  def aliasExpansion(name: String, map: String, seed: String,
      col: String = "kw"): String = s"""$name AS (
  SELECT representative AS $col FROM $map WHERE original = '$seed'
  UNION SELECT '$seed')"""

  /** The distinct co-authors of `seed` over `authored(author, title)`. */
  def coauthorsOf(authored: String, seed: String): String =
    s"""SELECT DISTINCT b.author AS coauthor
FROM $authored a JOIN $authored b ON a.title = b.title AND b.author <> a.author
WHERE a.author = '$seed'"""

  /** The topics of the co-authors' documents, with their abstracts — a
    * whole statement tail over `authored(author, title)`, `topics(title,
    * topic)` and `docs(title, abstract)`. */
  def collabTopicsSql(authored: String, topics: String, docs: String,
      seed: String): String = s"""coa AS (${coauthorsOf(authored, seed)}),
cdocs AS (SELECT DISTINCT c.title FROM coa JOIN $authored c ON coa.coauthor = c.author)
SELECT DISTINCT t.topic AS topic, cd.title AS title, d.abstract AS abstract
FROM cdocs cd
JOIN $topics t ON t.title = cd.title
JOIN $docs d ON d.title = cd.title
ORDER BY topic, title"""

  /** The authors within two co-author hops of `seed` — a whole statement
    * tail over `authored(author, title)`. */
  def coauthorReachSql(authored: String, seed: String): String =
    s"""ce0 AS (SELECT DISTINCT a.author AS u, b.author AS v
  FROM $authored a JOIN $authored b ON a.title = b.title AND a.author < b.author),
ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0),
${bfsReach("ce", seed, "author")}"""

  // ---- the tagged-text ingest ---------------------------------------

  /** The tagged-text ingest in DuckDB: read_text → blank-line block split
    * (the same `\\n\\s*\\n` regex the parser uses) → per-field extraction
    * anchored to line starts, LAST occurrence winning (dict-overwrite
    * parity with `parseEntries`) → the P1-P3 cleaning chains → P7
    * sanitize → A1 first-wins window. An absent field is NULL on both
    * sides (`list_extract` of an empty match list is NULL); `size(NULL)`
    * is NULL on both sides.
    */
  def taggedPipeline(glob: String): String = s"""f AS (
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

  val tagged = taggedPipeline(Fixtures.TaggedGlob)

  /** [[tagged]] extended with the graph-side CTEs DocGraph.ofIngested
    * derives: deduped docs, AUTHORED pairs, HAS_KEYWORD pairs, the
    * keyword alias mapping (md5-bucket min-rep over INGESTED keywords),
    * and the HAS_TOPIC stub (md5-prefix topic id → taxonomy join →
    * paren-gloss strip) — same arithmetic as the Spark side.
    */
  val taggedGraph = s"""$tagged,
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

  /** The ER lifecycle over the ER fixture: the same parse→format→dedup
    * pipeline, then distinct keywords → the md5-based encoder stub
    * (quantized directly to the 1e-4 integer lattice — every dim is dyadic
    * so Spark's float→double→round chain agrees exactly) → `tn` with the
    * batch's re-embedding `eExpr` and deletion `tnWhere` applied →
    * `tmap(original, representative)` at cos² ≥ numSq/denSq. */
  def taggedEr(numSq: Int, denSq: Int, eExpr: String = "e",
      tnWhere: String = ""): String =
    s"""${taggedPipeline(Fixtures.TaggedErGlob)},
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
tn AS (SELECT term, tid, $eExpr AS e, ${sqNorm(eExpr)} AS nrm FROM terms $tnWhere),
${termMapping("t", "tn", numSq, denSq)},
thk2 AS (SELECT DISTINCT title, kw
         FROM (SELECT title, unnest(keywords) AS kw FROM ded) t)"""
}
