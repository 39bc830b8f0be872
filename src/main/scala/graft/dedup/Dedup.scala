package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{TextHashes, VectorOps}

/** Deduplication suite over `documents` / `embeddings`: exact (hash
  * groupBy), first-occurrence keep (reference A1 semantics), MinHash+LSH
  * (shingle → minhash → band → bucket self-join), n-gram Jaccard
  * verification, SimHash, and embedding-cosine near-dup.
  *
  * Reference analogs: `title_deduplication` first-wins (`cleaner.py:77-94`,
  * SURVEY A1), edge/node dedup (A4, A6), and the §2.8 entity-resolution
  * shape (candidate pairs → verify) — generalized to the operators a
  * 100 TB training-data pipeline needs.
  *
  * Hash-function determinism: every hash here is md5 over an explicit
  * string (seed || '|' || shingle) — identical hex in Spark and DuckDB —
  * and minhash = lexicographic MIN over those hex strings, so signatures
  * are engine-independent. No reliance on murmur3/xxhash (engine-specific).
  *
  * Scale notes (100 TB):
  *  - Exact dedup is one hash-shuffle on the content digest; map-side
  *    partial aggregation collapses duplicates before the shuffle.
  *  - MinHash-LSH replaces the O(n²) all-pairs join with a self-join on
  *    (band_id, band_hash) buckets. Bands are r=2 (two concatenated
  *    minhashes per band), so one corpus-common shingle cannot create a
  *    mega-bucket on its own, and a hard per-bucket cap (`MaxBucket`)
  *    bounds the worst-case quadratic blow-up deterministically —
  *    oversized buckets are dropped whole (documented recall trade).
  *  - The Jaccard stage verifies ONLY the LSH candidate pairs — the
  *    candidate generation is the blocking.
  *  - Cosine near-dup pairs only within an IVF centroid bucket (the q41
  *    assignment), an equi shuffle join on the bucket id — no
  *    BroadcastNestedLoopJoin anywhere in the near-dup chain.
  */
object Dedup {

  private val NSeeds = 8
  private val NBands = 4
  private[graft] val MaxBucket = 50

  /** LSH candidate generation: r=2 bands (band hash = md5 of two
    * concatenated minhashes) with a deterministic per-bucket cap —
    * oversized buckets (degenerate band values) are dropped whole, so the
    * within-bucket self-join fan-out is bounded by `MaxBucket`².
    *
    * Cache contract: the RETURNED frame is persisted (already
    * materialized — the signature frame it was derived from is released
    * here); the caller owns it and may `unpersist()` after consumption.
    * Same contract for q37's candidate frame below.
    */
  private[dedup] def lshCandidates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // persist the signature frame: it feeds the bucket-size aggregate AND
    // both sides of the capped self-join — uncached, the (expensive)
    // one-pass MinHash computation would run three times.
    val sig = Tables.documents(s, d)
      .withColumn("sig", TextHashes.minhashSignature(split($"text", " "), NSeeds))
      .select($"doc_id", posexplode(array((0 until NBands).map(b =>
        md5(concat(element_at($"sig", 2 * b + 1), lit("|"),
          element_at($"sig", 2 * b + 2)))): _*))
        .as(Seq("band", "h")))
      .filter($"h".isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ok = sig.groupBy($"band", $"h")
      .agg(count(lit(1)).as("bsz")).filter($"bsz" <= MaxBucket)
      .select($"band", $"h")
    val capped = sig.join(ok, Seq("band", "h"))
    val out = capped.as("a").join(capped.as("b"),
        $"a.band" === $"b.band" && $"a.h" === $"b.h" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the (small) candidate set, release signatures
    sig.unpersist(blocking = false)
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup summary: one hash-shuffle on the content digest.
    "q30_dedup_exact" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(md5($"text").as("h"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"h").as("n_unique"))
        .withColumn("n_dups", $"n_docs" - $"n_unique")
    }),

    // First-occurrence keep per key (reference A1: stable ingest order =
    // doc_id; row_number, not dropDuplicates, for exact first-wins).
    "q31_dedup_first_per_key" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"lang", $"source").orderBy($"doc_id")
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("group_n", count(lit(1)).over(
          Window.partitionBy($"lang", $"source")))
        .filter($"rn" === 1)
        .select($"lang", $"source", $"doc_id".as("kept_doc_id"), $"group_n")
        .orderBy($"lang", $"source")
    }),

    // MinHash signatures (first 4 seeds shown; LSH uses all 8). One-pass
    // native expression; same md5-hex math as the declarative form.
    "q32_minhash_signatures" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("sig", TextHashes.minhashSignature(split($"text", " "), 4))
        .select($"doc_id",
          element_at($"sig", 1).as("mh_0"), element_at($"sig", 2).as("mh_1"),
          element_at($"sig", 3).as("mh_2"), element_at($"sig", 4).as("mh_3"))
        .orderBy($"doc_id")
    }),

    // LSH candidate pairs: r=2 banding (band hash = md5 of two
    // concatenated minhashes) + a deterministic per-bucket cap, then a
    // self-join on (band, hash) buckets. O(n·bands) shuffle, bounded
    // per-bucket fan-out — no skewed mega-bucket can go quadratic.
    "q33_minhash_lsh_pairs" -> ((s, d) =>
      lshCandidates(s, d).orderBy(col("d1"), col("d2"))),

    // n-gram (token-set) Jaccard VERIFY stage over the LSH candidates —
    // exact integer threshold |∩|*1000 >= 700*|∪|, evaluated only on
    // q33's candidate pairs (that is what a verify stage is; the
    // candidate join is the blocking).
    "q34_jaccard_neardup" -> ((s, d) =>
      jaccardPairs(s, d).orderBy(col("d1"), col("d2"))),

    // SimHash (16-bit, hex-digit majority vote over md5'd tokens) — one
    // native pass instead of 16 interpreted aggregate() sweeps.
    "q35_simhash" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          TextHashes.simhash16(split($"text", " ")).as("simhash"))
        .orderBy($"doc_id")
    }),

    // SimHash near-dup pairs (Manku-style banded hamming join): band the
    // 16-bit simhash into two 8-bit halves; docs agreeing exactly on
    // either half are candidates (pigeonhole guarantees recall for
    // hamming <= 1; 2-3 is best-effort — at production width you'd use a
    // 64-bit simhash with 4x16-bit bands for a guaranteed <= 3), then
    // verify exact hamming <= 3 on candidates only. The bucket join is an
    // equi shuffle join on (band, bits) with the same deterministic
    // per-bucket cap as LSH, so no degenerate band value can go quadratic.
    "q37_simhash_neardup" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.storage.StorageLevel
      val banded = Tables.documents(s, d)
        .select($"doc_id",
          TextHashes.simhash16(split($"text", " ")).as("sh"))
        .select($"doc_id", $"sh",
          posexplode(array(substring($"sh", 1, 8), substring($"sh", 9, 8)))
            .as(Seq("band", "bits")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ok = banded.groupBy($"band", $"bits")
        .agg(count(lit(1)).as("bsz")).filter($"bsz" <= MaxBucket)
        .select($"band", $"bits")
      val capped = banded.join(ok, Seq("band", "bits"))
      val cand = capped.as("a").join(capped.as("b"),
          $"a.band" === $"b.band" && $"a.bits" === $"b.bits" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
          $"a.sh".as("sa"), $"b.sh".as("sb"))
        .distinct()
      // 16 codegen'd per-position compares, summed — candidates only, no
      // interpreted HOF sweep over the corpus.
      val ham = (1 to 16).map(i =>
        when(substring($"sa", i, 1) === substring($"sb", i, 1), 0)
          .otherwise(1)).reduce(_ + _)
      val out = cand.withColumn("hamming", ham.cast("int"))
        .filter($"hamming" <= 3)
        .select($"d1", $"d2", $"hamming")
        .orderBy($"d1", $"d2")
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize, then release the banded signatures
      banded.unpersist(blocking = false)
      out
    }),

    // Dedup endgame — multi-signal near-dup CLUSTERING: the union of the
    // text pairs (q34: LSH candidates verified by exact Jaccard) and the
    // embedding pairs (q36: IVF-blocked cosine; doc_id ≡ vec_id on the
    // fixture) fed to GraphX connected components over ALL documents →
    // min-doc canonical representative per cluster (singletons map to
    // themselves). rep_id IS the dedup decision: keep rows where
    // doc_id = rep_id. Oracle reproduces the clustering with a recursive
    // min-label walk. Scale: pair generation is the blocked/banded work
    // above; CC is iterative Pregel on the (sparse) near-dup graph.
    "q39_dedup_clusters" -> ((s, d) => {
      import s.implicits._
      val text = jaccardPairs(s, d).select($"d1", $"d2")
      val emb = cosinePairs(s, d)
        .select($"v1".as("d1"), $"v2".as("d2"))
      val pairs = text.unionByName(emb).distinct()
        .select($"d1".as("u"), $"d2".as("v"))
      val verts = Tables.documents(s, d).select($"doc_id".as("vec_id"))
      graft.resolve.Kernels.connectedComponents(s, verts, pairs)
        .select($"vec_id".as("doc_id"), $"component".as("rep_id"))
        .orderBy($"doc_id")
    }),

    // Embedding-cosine near-dup (cos >= 0.25 ⟺ 16·dot² >= |a|²|b|², exact
    // integers), blocked by IVF centroid bucket: pairs are generated ONLY
    // within a coarse-quantizer cell (same assignment as q41), making the
    // pair join an equi hash join on the bucket id instead of an all-pairs
    // BroadcastNestedLoopJoin. Cross-bucket near-dups are the recall trade
    // (standard IVF; nprobe>1 is the extension).
    //
    // OUTPUT is the capped kNN-graph form: each vector's top-3 above-bar
    // neighbors (cos² desc, neighbor-id tiebreak), one row per
    // (vec_id, rank). Round 8 measured the uncapped pair dump at ~10M
    // rows at 100× on this diffuse fixture (2.3% of ALL random pairs
    // clear the 0.25 bar) — an output-size-unbounded operator, which no
    // real pipeline wants: dedup/graph consumers want each vector's
    // strongest neighbors, not the full ε-graph. The cap bounds emitted
    // rows to 3n REGARDLESS of bar density — the MaxBucket analog on the
    // output side. The per-vector window is skew-safe: a vector's
    // neighbor list is bounded by its cell population (~√n by the
    // spacing rule), never by corpus duplication. The FULL pair dump
    // stays available as the explicit opt-in API ([[cosinePairs]], which
    // q39's clustering consumes internally — clustering semantics are
    // unchanged).
    "q36_cosine_neardup" -> ((s, d) => {
      import s.implicits._
      val p = cosinePairs(s, d)
      val sym = p.select($"v1".as("vec_id"), $"v2".as("nid"),
          $"dot", $"na", $"nb")
        .unionByName(p.select($"v2".as("vec_id"), $"v1".as("nid"),
          $"dot", $"nb".as("na"), $"na".as("nb")))
      val w = Window.partitionBy($"vec_id").orderBy($"key".desc, $"nid")
      sym.withColumn("key", VectorOps.cos2Key($"dot", $"na", $"nb"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"vec_id", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"vec_id", $"rank")
    }),

    // INCREMENTAL dedup — the daily-pipeline shape: dedup a NEW BATCH
    // (here the deterministic doc_id % 10 = 9 slice) against the
    // standing corpus plus itself, leaving corpus rows untouched. A
    // batch doc is dropped if a verified near-dup (LSH candidate with
    // Jaccard ≥ 0.7) exists in the corpus (either pair orientation) or
    // earlier in the batch (lower doc_id). At 100 TB the corpus side is
    // a persisted signature INDEX probed by the increment's bands — the
    // banded equi-join here is that exact shape; only signature
    // (re)computation differs, and it is linear in the increment.
    "q38_incremental_dedup" -> ((s, d) => {
      import s.implicits._
      val batch = (c: Column) => c % 10 === 9
      val pairs = jaccardPairs(s, d).select($"d1", $"d2")
      val hits = pairs.filter(batch($"d2")).select($"d2".as("doc_id"))
        .unionByName(pairs.filter(batch($"d1") && !batch($"d2"))
          .select($"d1".as("doc_id")))
      val dups = hits.groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
      Tables.documents(s, d).filter(batch($"doc_id"))
        .select($"doc_id")
        .join(dups, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_dup", lit(0L)).as("n_dup"),
          when($"n_dup".isNull, 1L).otherwise(0L).as("keep"))
        .orderBy($"doc_id")
    })
  )

  /** q34's Jaccard verify WITHOUT the presentation sort — shared by q34
    * (which orders it) and q39 (which feeds it to clustering, where order
    * is irrelevant — executing the sorted registry entry there would pay
    * a range shuffle just to discard it).
    */
  private[dedup] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, d)
      .select($"doc_id", array_distinct(split($"text", " ")).as("t"))
    lshCandidates(s, d)
      .join(t.select($"doc_id".as("d1"), $"t".as("ta")), "d1")
      .join(t.select($"doc_id".as("d2"), $"t".as("tb")), "d2")
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
      .withColumn("uni",
        (size($"ta") + size($"tb")).cast("long") - $"inter")
      .filter($"inter" * 1000 >= $"uni" * 700)
      .select($"d1", $"d2",
        expr("CAST(inter * 1000 DIV uni AS BIGINT)").as("jaccard_permille"))
  }

  /** The FULL IVF-blocked cosine ε-graph (every above-bar pair, both
    * norms riding along) — the explicit opt-in dump whose output volume
    * is bar-density-bounded, not engine-bounded. q39's clustering
    * consumes it internally (pair order irrelevant there); q36's
    * registry entry caps it to the top-3-per-vector kNN form before
    * anything is emitted.
    */
  private[dedup] def cosinePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assigned = graft.similarity.Similarity.ivfAssigned(s, d)
    val a = assigned.as("a")
    val b = assigned.as("b")
    graft.resolve.Kernels
      .cellEps(a.join(b, $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id"),
        1, 4)
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"), $"dot",
        $"a.nrm".as("na"), $"b.nrm".as("nb"))
  }

  /** Oracle CTE mirror of [[lshCandidates]] (shared by q33 and q34);
    * interpolates the SAME constants the Scala side uses.
    */
  private val lshCandSql = s"""sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1),
      j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2]) ELSE [] END AS s
  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents) t0),
mhs AS (
  SELECT doc_id, list_transform(range($NSeeds),
    i -> list_min(list_transform(s, x -> md5(i::VARCHAR || '|' || x)))) AS m
  FROM sh),
sig AS (
  SELECT doc_id, b, md5(m[2*b+1] || '|' || m[2*b+2]) AS h
  FROM (SELECT doc_id, unnest(range($NBands)) AS b, m FROM mhs) t
  WHERE md5(m[2*b+1] || '|' || m[2*b+2]) IS NOT NULL),
ok AS (SELECT b, h FROM sig GROUP BY b, h HAVING count(*) <= $MaxBucket),
capped AS (SELECT s.doc_id, s.b, s.h FROM sig s JOIN ok USING (b, h)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
  FROM capped a JOIN capped b2
    ON a.b = b2.b AND a.h = b2.h AND a.doc_id < b2.doc_id)"""

  /** Oracle CTE for the 16-bit simhash (shared by q35 and q37) — same
    * hex-digit majority vote as [[TextHashes.simhash16]].
    */
  private[graft] val simhashSql = """sh0 AS (
  SELECT doc_id,
    list_aggregate(list_transform(range(1, 17), p ->
      CASE WHEN list_sum(list_transform(th, x ->
             CASE WHEN substring(x, p, 1) >= '8' THEN 1 ELSE -1 END)) > 0
      THEN '1' ELSE '0' END), 'string_agg', '') AS sh
  FROM (SELECT doc_id, list_transform(string_split(text,' '), t -> md5(t)) AS th
        FROM documents) t0)"""

  def oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
         count(*) - count(DISTINCT md5(text)) AS n_dups FROM documents""",
    "q31_dedup_first_per_key" ->
      """SELECT lang, source, doc_id AS kept_doc_id, group_n FROM (
           SELECT lang, source, doc_id,
             row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS group_n
           FROM documents) t
         WHERE rn = 1 ORDER BY lang, source""",
    "q32_minhash_signatures" ->
      """WITH sh AS (
           SELECT doc_id,
             CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1),
               j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2]) ELSE [] END AS s
           FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents) t0)
         SELECT doc_id,
           list_min(list_transform(s, x -> md5('0' || '|' || x))) AS mh_0,
           list_min(list_transform(s, x -> md5('1' || '|' || x))) AS mh_1,
           list_min(list_transform(s, x -> md5('2' || '|' || x))) AS mh_2,
           list_min(list_transform(s, x -> md5('3' || '|' || x))) AS mh_3
         FROM sh ORDER BY doc_id""",
    "q33_minhash_lsh_pairs" ->
      s"""WITH $lshCandSql
         SELECT d1, d2 FROM cand ORDER BY d1, d2""",
    "q34_jaccard_neardup" ->
      s"""WITH $lshCandSql,
         tt AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS t
                FROM documents),
         p AS (SELECT c.d1, c.d2,
                 CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
                 CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni
               FROM cand c
               JOIN tt a ON c.d1 = a.doc_id
               JOIN tt b ON c.d2 = b.doc_id)
         SELECT d1, d2, CAST(inter * 1000 // uni AS BIGINT) AS jaccard_permille
         FROM p WHERE inter * 1000 >= uni * 700
         ORDER BY d1, d2""",
    "q38_incremental_dedup" ->
      s"""WITH $lshCandSql,
         tt AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS t
                FROM documents),
         v AS (SELECT c.d1, c.d2
               FROM cand c
               JOIN tt a ON c.d1 = a.doc_id
               JOIN tt b ON c.d2 = b.doc_id
               WHERE len(list_intersect(a.t, b.t)) * 1000 >=
                 (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) * 700),
         hits AS (SELECT d2 AS doc_id FROM v WHERE d2 % 10 = 9
                  UNION ALL
                  SELECT d1 AS doc_id FROM v
                  WHERE d1 % 10 = 9 AND d2 % 10 <> 9),
         dups AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
                  FROM hits GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(u.n_dup, 0) AS BIGINT) AS n_dup,
                CAST(CASE WHEN u.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM documents d LEFT JOIN dups u USING (doc_id)
         WHERE d.doc_id % 10 = 9 ORDER BY d.doc_id""",
    "q35_simhash" ->
      s"""WITH $simhashSql
         SELECT doc_id, sh AS simhash FROM sh0 ORDER BY doc_id""",
    "q37_simhash_neardup" ->
      s"""WITH $simhashSql,
         banded AS (
           SELECT doc_id, sh, b,
             CASE WHEN b = 0 THEN substring(sh, 1, 8)
                  ELSE substring(sh, 9, 8) END AS bits
           FROM (SELECT doc_id, sh, unnest([0, 1]) AS b FROM sh0) t),
         ok AS (SELECT b, bits FROM banded
                GROUP BY b, bits HAVING count(*) <= $MaxBucket),
         capped AS (SELECT bd.doc_id, bd.sh, bd.b, bd.bits
                    FROM banded bd JOIN ok USING (b, bits)),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
                           a.sh AS sa, b2.sh AS sb
           FROM capped a JOIN capped b2
             ON a.b = b2.b AND a.bits = b2.bits AND a.doc_id < b2.doc_id),
         h AS (
           SELECT d1, d2,
             CAST(list_sum(list_transform(range(1, 17), p ->
               CASE WHEN substring(sa, p, 1) = substring(sb, p, 1)
                    THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
           FROM cand)
         SELECT d1, d2, hamming FROM h WHERE hamming <= 3
         ORDER BY d1, d2""",
    "q36_cosine_neardup" ->
      s"""WITH $cosinePairsSql,
         sym AS (SELECT v1 AS vec_id, v2 AS nid, dot, na, nb FROM cpairs
                 UNION ALL
                 SELECT v2, v1, dot, nb, na FROM cpairs),
         r AS (SELECT vec_id, nid,
                 CAST(floor(CAST(dot*dot AS DOUBLE) / CAST(na*nb AS DOUBLE)
                   * 1000000) AS BIGINT) AS cos2_x1e6,
                 CAST(row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(na*nb AS DOUBLE) DESC,
                   nid) AS BIGINT) AS rank
               FROM sym)
         SELECT vec_id, rank, nid, cos2_x1e6 FROM r WHERE rank <= 3
         ORDER BY vec_id, rank""",
    "q39_dedup_clusters" ->
      s"""WITH RECURSIVE $lshCandSql,
         tt AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS t
                FROM documents),
         jp AS (SELECT d1, d2 FROM (
                  SELECT c.d1, c.d2,
                    CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
                    CAST(len(a.t) + len(b.t)
                         - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni
                  FROM cand c
                  JOIN tt a ON c.d1 = a.doc_id
                  JOIN tt b ON c.d2 = b.doc_id) v
                WHERE inter * 1000 >= uni * 700),
         $cosinePairsSql,
         allp AS (SELECT d1 AS u, d2 AS v FROM jp
                  UNION SELECT v1, v2 FROM cpairs),
         ee AS (SELECT u, v FROM allp UNION SELECT v, u FROM allp),
         walk(node, lab) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT ee.v, walk.lab FROM walk JOIN ee ON walk.node = ee.u),
         comp AS (SELECT node AS doc_id, min(lab) AS rep_id
                  FROM walk GROUP BY node)
         SELECT doc_id, rep_id FROM comp ORDER BY doc_id"""
  )

  /** Oracle CTE chain for the IVF-blocked cosine pairs (shared by q36 and
    * q39) — ends in `cpairs(v1, v2, dot)`.
    */
  private val cosinePairsSql = s"""q0 AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
        CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
      FROM q0),
cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
         FROM n WHERE vec_id % ${graft.similarity.Similarity.modulusSql} = 0),
ap AS (SELECT n.vec_id, cent.cid,
        CAST(list_sum(list_transform(n.e, (x,i) -> x * cent.ce[i])) AS BIGINT) AS dot,
        n.nrm, cent.cnrm
      FROM n CROSS JOIN cent),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY
        CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
          * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
    FROM ap) t WHERE rn = 1),
full0 AS (SELECT a.vec_id, a.cid, n.e, n.nrm
          FROM assigned a JOIN n ON a.vec_id = n.vec_id),
p AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.nrm AS na, b.nrm AS nb,
        CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot
      FROM full0 a JOIN full0 b
        ON a.cid = b.cid AND a.vec_id < b.vec_id),
cpairs AS (SELECT v1, v2, dot, na, nb FROM p
           WHERE dot > 0 AND dot * dot * 16 >= na * nb)"""
}
