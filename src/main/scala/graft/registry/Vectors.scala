package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorOps._
import graft.similarity._
import graft.similarity.Similarity._
import OracleSql._

/** The vector-search family over [[graft.similarity.Similarity]]:
  * brute-force, IVF and SQ8 top-k, k-means training and the stored index,
  * and SemDeDup at fixed and adaptive probe counts. */
object Vectors extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 for the first 10 query vectors.
    "q40_ann_bruteforce_topk" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", quantize($"embedding").as("e"))
        .withColumn("nrm", norm2($"e"))
      val q = emb.filter($"vec_id" < 10).as("q")
      val c = emb.as("c")
      val w = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      q.join(c, $"q.vec_id" =!= $"c.vec_id")
        .withColumn("dot", dot($"q.e", $"c.e"))
        .select($"q.vec_id".as("qid"), $"c.vec_id".as("nid"),
          cos2Key($"dot", $"q.nrm", $"c.nrm").as("key"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // IVF coarse assignment: nearest deterministic centroid per vector.
    "q41_ivf_assign" -> ((s, d) => {
      import s.implicits._
      ivfAssigned(s, d)
        .select($"vec_id", $"cid".as("centroid_id"))
        .orderBy($"vec_id")
    }),

    // IVF search: queries probe only their own centroid bucket (nprobe=1).
    "q42_ivf_topk" -> ((s, d) => {
      import s.implicits._
      val assigned = ivfAssigned(s, d)
      val q = assigned.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"e".as("qe"), $"nrm".as("qnrm"), $"cid")
      val wTop = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      // |Q| = 10 rows: broadcast the query side so the corpus never
      // shuffles — each corpus partition streams past a tiny hash table.
      q.hint("broadcast").join(assigned.as("c"), Seq("cid"))
        .filter($"qid" =!= $"c.vec_id")
        .withColumn("dot", dot($"qe", $"c.e"))
        .withColumn("key", cos2Key($"dot", $"qnrm", $"c.nrm"))
        .select($"qid", $"c.vec_id".as("nid"), $"key")
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // IVF search with nprobe=2: queries probe their TWO nearest centroid
    // cells (the recall extension named on q42) — same shuffle shape, 2×
    // the probed candidates, recall strictly ≥ nprobe=1.
    "q43_ivf_topk_nprobe2" -> ((s, d) => {
      import s.implicits._
      // ONE nprobe=2 assignment serves both sides: the corpus is exactly
      // its probe_rank==1 subset, the queries keep both probed cells —
      // assigning separately would run the O(n·k) centroid scan twice.
      val both = ivfAssignedN(s, d, 2)
      val corpus = both.filter($"probe_rank" === 1).drop("probe_rank")
      val q = both.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"e".as("qe"), $"nrm".as("qnrm"), $"cid")
      val wTop = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      q.hint("broadcast").join(corpus.as("c"), Seq("cid"))
        .filter($"qid" =!= $"c.vec_id")
        .withColumn("dot", dot($"qe", $"c.e"))
        .withColumn("key", cos2Key($"dot", $"qnrm", $"c.nrm"))
        .select($"qid", $"c.vec_id".as("nid"), $"key")
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // SQ8 compressed-domain brute-force top-5: embeddings int8-quantized
    // at the data-derived scale (127 / global max|x| — the SQ "training"
    // step, one tiny aggregate broadcast back), packed to a `binary`
    // column (64 B/vector vs 256+ B as array<float> — the 4× at-rest and
    // in-shuffle cut), and scored DIRECTLY on the packed bytes via the
    // codegen'd Int8DotProduct. Same query set as q40, so Int8OpsSpec's
    // recall check and PERF.md's table read q48-vs-q40 top-5 overlap.
    "q48_sq8_topk" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Int8Ops._
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      val scale = emb
        .agg((lit(127.0) /
          max(array_max(transform($"embedding",
            x => abs(x.cast("double")))))).as("s"))
      // Deliberately NOT materialized: the q/c self-join re-derives this
      // frame per side (scale aggregate + pack twice). Both alternatives
      // were measured (isolated single-query runs, sf0.1): lineage 2.9s,
      // localCheckpoint 2.9s (LogicalRDD also drops size stats for the
      // planner), persist+count 3.3s (cache churn ≥ the duplicated
      // scan+pack) — no win, so the simplest form with full planner
      // stats stays. At 100 TB the answer is different: write `sq` once
      // as a packed table (BucketedStore shape) and query THAT —
      // re-deriving per query is the local-bench trade only.
      val sq = emb.crossJoin(broadcast(scale))
        .select($"vec_id",
          packInt8(transform($"embedding", x =>
            greatest(lit(-127L), least(lit(127L),
              round(x.cast("double") * $"s", 0).cast("long"))))).as("b"))
        .withColumn("nrm", int8Dot($"b", $"b"))
      val q = sq.filter($"vec_id" < 10).as("q")
      val c = sq.as("c")
      val w = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      q.join(c, $"q.vec_id" =!= $"c.vec_id")
        .withColumn("dot", int8Dot($"q.b", $"c.b"))
        .select($"q.vec_id".as("qid"), $"c.vec_id".as("nid"),
          cos2Key($"dot", $"q.nrm", $"c.nrm").as("key"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 5)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // IVF × SQ8 — the standard billion-scale ANN layout: the coarse
    // quantizer (q41's cells) shards the corpus, and the in-cell scan
    // reads the int8-PACKED bytes (4× fewer than float, q48's codegen'd
    // Int8DotProduct loop). Composition of the two gated paths; recall
    // vs exact q40 in PERF.md.
    "q120_ivf_sq8_topk" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Int8Ops._
      val assigned = ivfAssigned(s, d).select($"vec_id", $"cid")
      val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      val scale = emb
        .agg((lit(127.0) /
          max(array_max(transform($"embedding",
            x => abs(x.cast("double")))))).as("s"))
      val sq = emb.crossJoin(broadcast(scale))
        .select($"vec_id",
          packInt8(transform($"embedding", x =>
            greatest(lit(-127L), least(lit(127L),
              round(x.cast("double") * $"s", 0).cast("long"))))).as("b"))
        .withColumn("nrm", int8Dot($"b", $"b"))
      val cell = sq.join(assigned, "vec_id")
      val q = cell.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"b".as("qb"), $"nrm".as("qnrm"), $"cid")
      val wTop = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      q.hint("broadcast").join(cell.as("c"), Seq("cid"))
        .filter($"qid" =!= $"c.vec_id")
        .withColumn("dot", int8Dot($"qb", $"c.b"))
        .withColumn("key", cos2Key($"dot", $"qnrm", $"c.nrm"))
        .select($"qid", $"c.vec_id".as("nid"), $"key")
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // Trained-IVF index build: 2 Lloyd's rounds from the fixture seeds,
    // then the full-corpus assignment to the TRAINED cells — q41's
    // fixture-assigned quantizer upgraded to a real k-means index.
    "q121_kmeans_assign" -> ((s, d) => {
      import s.implicits._
      assignToCells(quantized(s, d), kmeansCentroids(s, d, 2))
        .select($"vec_id", $"cid".as("centroid_id"))
        .orderBy($"vec_id")
    }),

    // IVF top-3 over the TRAINED cells (q42's probe against the q121
    // index): better-centered cells → better recall at the same nprobe.
    "q122_ivf_trained_topk" -> ((s, d) => {
      import s.implicits._
      val cell = assignToCells(quantized(s, d), kmeansCentroids(s, d, 2))
      val q = cell.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"e".as("qe"), $"nrm".as("qnrm"), $"cid")
      val wTop = Window.partitionBy($"qid").orderBy($"key".desc, $"nid")
      q.hint("broadcast").join(cell.as("c"), Seq("cid"))
        .filter($"qid" =!= $"c.vec_id")
        .withColumn("dot", dot($"qe", $"c.e"))
        .withColumn("key", cos2Key($"dot", $"qnrm", $"c.nrm"))
        .select($"qid", $"c.vec_id".as("nid"), $"key")
        .withColumn("rank", row_number().over(wTop).cast("long"))
        .filter($"rank" <= 3)
        .select($"qid", $"rank", $"nid",
          floor($"key" * 1000000.0).cast("long").as("cos2_x1e6"))
        .orderBy($"qid", $"rank")
    }),

    // Semantic dedup in the SemDeDup shape (Abbas et al. 2023,
    // arXiv:2303.09540): k-means-cluster the embedding space, then
    // within each cluster drop every vector that has a lower-id
    // cluster-mate above the similarity bar — "keep lowest id" is the
    // deterministic stand-in for the paper's keep-one-per-ball rule.
    // The trained cells (q121's index) turn the O(n²) cosine matrix
    // into per-cell blocks — q36's trade, but over TRAINED cells, which
    // is what SemDeDup actually prescribes. Bar: cos ≥ 1/√8 ≈ 0.354 ⟺
    // dot > 0 ∧ 8·dot² ≥ |a|²|b|², exact BIGINTs (max quantized nrm
    // ~1e8 ⟹ 8·dot² ≤ 8e16 ≪ 2^63 — no overflow on either engine).
    // Index-persistence round trip: train (q121's k-means) → write the
    // index → load it in place of the in-memory centroids → assign the
    // corpus. Gated against q121's exact oracle, so ANY serialization
    // loss (column order, lattice precision, a dropped cell) diffs the
    // assignment. Build-once/probe-many is the IVF economics at 100 TB;
    // this is the "probe-many" path's loading contract.
    "q49_ivf_index_roundtrip" -> ((s, d) => {
      import s.implicits._
      val dir = Sinks.tmp(s, "q49_index")
      writeIndex(s, kmeansCentroids(s, d, 2), dir)
      assignToCells(quantized(s, d), readIndex(s, dir))
        .select($"vec_id", $"cid".as("centroid_id"))
        .orderBy($"vec_id")
    }),

    // q133's recall knob made concrete: each vector joins its TWO
    // nearest trained cells (the IVF nprobe=2 rule over the q121 index),
    // pairs form within ANY shared cell (distinct-ed — a pair can share
    // both), and the keep rule is q133's. Measured at sf0.01: pair
    // recall 0.38 → 0.69, drop recall 0.44 → 0.75 vs the all-pairs
    // truth, for 2× the assignment rows and ~2–4× the within-cell pair
    // work — the standard IVF price curve applied to dedup (PERF.md
    // recall table).
    "q136_semantic_dedup_nprobe2" -> ((s, d) => semanticDedupNprobe(s, d, 2)),

    // The production point on the same recall curve: nprobe=4 multi-cell
    // assignment measures pair recall 0.98 / drop recall 0.98 at sf0.01
    // (1.00/1.00 at sf0.001) vs the all-pairs truth — past the ≥0.85 bar
    // a dedup stage needs to actually remove most duplicates, where
    // nprobe≤2 (0.38/0.69) leaves the majority alive. Cost is the
    // standard IVF price: assignment rows scale linearly in nprobe and
    // candidate pairs ~quadratically (sf0.01: 50k → 200k candidate pairs
    // from nprobe 2 → 4), both still blocked per cell — never all-pairs.
    // The recall/cost ladder is measurable with
    // `tools/recall_semdedup.py`; PERF.md carries the table.
    "q139_semantic_dedup_nprobe4" -> ((s, d) => semanticDedupNprobe(s, d, 4)),

    // The rung that clears the recall bar at every gated SF: on the DIFFUSE
    // sf0.1 fixture (n=2000, k=40 cells) nprobe=4 reads pair recall
    // 0.786 — under the ≥0.85 operational bar even though the compact
    // sf0.001/sf0.01 fixtures sit at 0.98–1.00. nprobe=5 measures
    // 0.890 / 0.965 (pair/drop) at sf0.1 and 1.00/1.00 at the other
    // gated SFs (`tools/recall_semdedup.py`; PERF.md table), so the
    // ladder now clears the bar at EVERY gated SF. Cost follows the
    // same blocked curve: assignment rows 5n, candidate pairs ~25/16 of
    // nprobe=4's (sf0.1: 798k → 1.25M), all cell-keyed — never
    // all-pairs; the left-semi short-circuit keeps the decision cheap.
    "q148_semantic_dedup_nprobe5" -> ((s, d) => semanticDedupNprobe(s, d, 5)),

    // The boundary-adaptive rung (see [[semanticDedupBoundary]]): ≥0.9
    // pair recall at every gated SF for less pair work than the uniform
    // rung that clears it — extra probes spent only on vectors whose
    // best-cell key is within 0.1 of further cells (the boundary set).
    "q152_semantic_dedup_boundary" -> ((s, d) => semanticDedupBoundary(s, d)),

    "q133_semantic_dedup" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.storage.StorageLevel
      // the assigned frame feeds the self-join's BOTH sides plus the
      // final keep projection — persist or pay the O(n·k) assignment
      // scan three times (same rationale as kmeansCentroids' train
      // cache; Bench clears caches between queries). Drop detection is
      // the short-circuiting LEFT SEMI form (see semanticDedupNprobe).
      val cell = assignToCells(quantized(s, d), kmeansCentroids(s, d, 2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dropped = cell.as("a")
        .join(cell.as("b"),
          $"a.cid" === $"b.cid" && $"b.vec_id" < $"a.vec_id" &&
            dot($"a.e", $"b.e") > 0 &&
            dot($"a.e", $"b.e") * dot($"a.e", $"b.e") * 8 >=
              $"a.nrm" * $"b.nrm",
          "left_semi")
        .select($"vec_id").distinct()
        .withColumn("dup", lit(1L))
      cell.select($"vec_id", $"cid")
        .join(dropped, Seq("vec_id"), "left")
        .select($"vec_id", $"cid",
          when($"dup".isNull, 1L).otherwise(0L).as("keep"))
        .orderBy($"vec_id")
    })
  )

  /** SemDeDup's keep flag for every vector, from [[OracleSql.semDup]]. */
  private val keepAll = s"""$semDup
         SELECT v.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM n v LEFT JOIN dup d ON v.vec_id = d.vec_id
         ORDER BY v.vec_id"""

  /** The trained-centroid assignment, shared by q121 and q49. */
  private val trainedAssign = s"""WITH ${kmeans(2)},
         ${cells("f", "c2")}
         SELECT vec_id, cid AS centroid_id FROM f_r WHERE rn = 1
         ORDER BY vec_id"""

  /** The semantic dedup at `nprobe` cells per vector (`rn <= nprobe` is
    * the only knob). */
  private def nprobeDedupSql(nprobe: Int): String =
    s"""WITH ${kmeans(2)},
         ${cells("full0", "c2", s"r.rn <= $nprobe")},
         $keepAll"""

  def oracles: Map[String, String] = Map(
    "q40_ann_bruteforce_topk" ->
      s"""WITH ${quantNorm()},
         ${topK("n", "n", "q.vec_id < 10 AND q.vec_id <> c.vec_id", 5)}""",
    "q41_ivf_assign" ->
      s"""WITH ${quantNorm()}, ${centroids()},
         ${cells("a", "cent")}
         SELECT vec_id, cid AS centroid_id FROM a_r WHERE rn = 1
         ORDER BY vec_id""",
    "q42_ivf_topk" ->
      s"""WITH ${quantNorm()}, ${centroids()}, ${cells("full0", "cent")},
         ${topK("full0", "full0",
           "q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id", 3)}""",
    "q43_ivf_topk_nprobe2" ->
      s"""WITH ${quantNorm()}, ${centroids()}, ${cells("corpus", "cent")},
         ${cells("probes", "cent", "r.rn <= 2 AND r.vec_id < 10")},
         ${topK("probes", "corpus", "q.cid = c.cid AND q.vec_id <> c.vec_id", 3)}""",
    // SQ8: the q40 machinery over the int8 lattice — the binary packing is
    // internal to the Spark side and arithmetic-neutral by construction.
    "q48_sq8_topk" ->
      s"""WITH ${sq8("n")},
         ${topK("n", "n", "q.vec_id < 10 AND q.vec_id <> c.vec_id", 5)}""",
    // IVF × SQ8: q42's coarse assignment (quantize-lattice cells) +
    // q48's int8 lattice for the in-cell scoring.
    "q120_ivf_sq8_topk" ->
      s"""WITH ${quantNorm()}, ${centroids()}, ${sq8("n8")},
         ${cells("full0", "cent", members = "n8")},
         ${topK("full0", "full0",
           "q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id", 3)}""",
    "q121_kmeans_assign" -> trainedAssign,
    "q122_ivf_trained_topk" ->
      s"""WITH ${kmeans(2)}, ${cells("full0", "c2")},
         ${topK("full0", "full0",
           "q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id", 3)}""",
    "q49_ivf_index_roundtrip" -> trainedAssign,
    "q136_semantic_dedup_nprobe2" -> nprobeDedupSql(2),
    "q139_semantic_dedup_nprobe4" -> nprobeDedupSql(4),
    "q148_semantic_dedup_nprobe5" -> nprobeDedupSql(5),
    // adaptive rule: rank ≤ 4 always; ranks 5..6 while the signed-cos²
    // key sits within 0.1 of the vector's best key (the rank-1 key)
    "q152_semantic_dedup_boundary" ->
      s"""WITH ${kmeans(2)},
         ${cells("full0", "c2", """r.rn <= 4 OR (r.rn <= 6 AND (SELECT b.key
           FROM full0_r b WHERE b.vec_id = r.vec_id AND b.rn = 1) - r.key <= 0.1)""")},
         $keepAll""",
    "q133_semantic_dedup" ->
      s"""WITH ${kmeans(2)}, ${cells("full0", "c2")},
         $semDup
         SELECT f.vec_id, f.cid,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM full0 f LEFT JOIN dup d ON f.vec_id = d.vec_id
         ORDER BY f.vec_id"""
  )
}
