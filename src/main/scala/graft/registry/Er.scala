package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.BucketedStore
import graft.resolve._
import graft.resolve.EntityResolution._
import OracleSql._

/** Entity resolution over [[graft.resolve.EntityResolution]],
  * [[graft.resolve.Kernels]] and [[graft.resolve.Lifecycle]]: the exact
  * and blocked ε-graphs and their analytics, the term mappings, and the
  * serve and lifecycle matrix over the synthetic corpus. */
object Er extends Family {

  /** The synthetic lifecycles' days: insert class 9, update class 7,
    * delete class 5. */
  private val syntheticCrud = Seq(("insert", 9), ("update", 7), ("delete", 5))

  /** The sparse serves' class rule (q153/q156): replica family of
    * `vec_id % 10M`, 1 in 200 base ids per class. */
  private val sparseCls: Column => Column = c => c % 10000000L % 200

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tombstone-batch ER: delete vec_id%10=5 from the standing state,
    // recompute only the components a tombstone touches. The oracle is
    // FROM-SCRATCH blocked ER over the post-delete corpus under the
    // pinned index, so a missed split, a stale representative, or a
    // survivor lost with its component all hash-mismatch.
    "q146_er_tombstones" -> ((s, d) => tombstoneResolve(s, d)),
    // q146's delete day served alone from the shared day-0 snapshot
    // (`ins=`, built once per key): the measured call is the tombstone
    // merge. Same oracle as q146.
    "q150_er_tombstones_served" -> ((s, d) =>
      Lifecycle.serve(s, Lifecycle.synthetic(d), ("delete", 5))),
    // The tombstone serve at its DESIGN POINT: the batch deletes every
    // replica family of 1 in 200 base ids ((vec_id % 10M) % 200 = 5 —
    // replica ids are base + r·10M, so the class rule selects whole
    // families), dirtying a small fraction of components, so the cost
    // is proportional to the dirty set, not the corpus. Same `ins=`
    // snapshot as q150. Oracle: from-scratch ER over the post-delete
    // corpus under the same pinned index.
    "q153_er_tombstones_sparse" -> ((s, d) =>
      Lifecycle.serve(s, Lifecycle.synthetic(d, sparseCls), ("delete", 5))),
    // Update-batch ER: retract + re-insert composition over the pinned
    // index; oracle is from-scratch ER on the re-embedded corpus.
    "q151_er_updates" -> ((s, d) => updateResolve(s, d)),
    // q151's update day served alone from the `ins=` snapshot: assign
    // only the re-embedded batch against the cached pin, then the fused
    // retract+reinsert merge. Same oracle as q151.
    "q155_er_updates_served" -> ((s, d) =>
      Lifecycle.serve(s, Lifecycle.synthetic(d), ("update", 7))),
    // The update serve at its SPARSE design point (q153's analog for
    // updates): whole-family re-embeddings confined to (vec%10M)%200=7 —
    // ~0.5% of rows — so the fused merge's affected set (dirty ∪
    // touched components) is a small fraction of the corpus and the
    // serve cost is proportional to it, not to the standing state.
    "q156_er_updates_sparse" -> ((s, d) =>
      Lifecycle.serve(s, Lifecycle.synthetic(d, sparseCls), ("update", 7))),

    // The SYNTHETIC mixed-CRUD lifecycle (q161's scale twin): insert,
    // update, and delete days folded into standing state over the
    // SF-scaled corpus under the pinned index — the sweeps' measure of
    // the advance machinery where the data actually grows. Oracle:
    // from-scratch blocked ER over the net corpus (class 5 deleted,
    // class 7 reversed), index pinned to the pre-insert rule.
    "q162_er_crud_lifecycle" -> ((s, d) => Lifecycle.run(s,
      Lifecycle.synthetic(d), Lifecycle.Rewrite, "graft_q162", syntheticCrud)),
    // q162 with MERGE-ON-READ advances: identical day kernels, but
    // update/delete days append tombstone/delta sidecars instead of
    // rewriting the corpus-sized pair/assigned stores — the
    // update-dominant 100 TB advance shape. Same oracle as q162 (the
    // advance layout must be invisible in the mapping).
    "q163_er_crud_lifecycle_mor" -> ((s, d) => Lifecycle.run(s,
      Lifecycle.synthetic(d), Lifecycle.MergeOnRead, "graft_q163",
      syntheticCrud)),
    // q163 with a MID-LIFECYCLE COMPACTION:
    // after the update day (op index 1 — both delta AND tombstone
    // sidecars live) the sidecars fold into a fresh bucketed working
    // base, and the delete day runs against the compacted store. Same
    // oracle as q162/q163 — the maintenance schedule must be invisible
    // in the mapping, pinned THROUGH a compaction.
    "q166_er_crud_lifecycle_mor_compact" ->
      ((s, d) => Lifecycle.run(s, Lifecycle.synthetic(d),
        Lifecycle.MergeOnRead, "graft_q166", syntheticCrud,
        compactAfterOps = Set(1))),
    // q163 with the compaction POLICY driving
    // the fold instead of an explicit schedule: sidecar depth ≥ 2
    // distinct epochs (spark.graft.mor.compactDepth=2). After the
    // update day the stores carry epochs {1,2}, so the policy fires
    // exactly where q166's manual Set(1) schedule folds — and NOT after
    // the single-epoch insert day or the post-fold delete day. Same
    // oracle as q162/q163/q166: what TRIGGERS the maintenance fold must
    // be as invisible in the mapping as the fold itself.
    "q169_er_mor_compact_policy" -> ((s, d) => {
      val conf = BucketedStore.CompactDepthConf
      val prev = s.conf.getOption(conf)
      // the measured break-even depth (bench/r{15,16}_profile_mor_
      // compaction.txt → RecommendedCompactDepth): after the update day
      // the stores carry epochs {1,2}, so the policy fires exactly
      // where q166's manual Set(1) schedule folds
      s.conf.set(conf,
        BucketedStore.RecommendedCompactDepth.toString)
      try Lifecycle.run(s, Lifecycle.synthetic(d), Lifecycle.MergeOnRead,
        "graft_q169", syntheticCrud)
      finally prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }),
    // Incremental ER gated against the from-scratch union mapping — the
    // oracle recomputes blocked ER over ALL vectors under the
    // standing-pinned index, so any divergence in the incremental
    // composition (missed touching pair, wrong affected set, star-edge
    // connectivity loss, rep drift) hash-mismatches.
    "q141_er_incremental" -> ((s, d) => incrementalResolve(s, d)),

    // q141's insert day served alone from the `ins=9` snapshot the
    // q162 family replays (built once per key): the measured call is
    // the increment. Same oracle as q141.
    "q143_er_incremental_served" -> ((s, d) =>
      Lifecycle.serve(s, Lifecycle.synthetic(d), ("insert", 9))),
    // Graph-analytics extension: PageRank over the blocked ε-similarity
    // graph (same scale-safe candidate pairs as q52/q53), in exact
    // scaled-integer arithmetic — partitioning-independent, so it is
    // FULLY hash-gated against the DuckDB unrolled-recurrence oracle.
    "q54_pagerank" -> ((s, d) => {
      import s.implicits._
      val verts = Tables.embeddings(s, d).select($"vec_id")
      Kernels.pageRank(s, verts, Kernels.blockedEpsPairs(s, d), iters = 10)
        .orderBy($"vec_id")
    }),
    // §2.8-C1: ε-graph connected components = DBSCAN(min_samples=2)
    // clusters; representative = component = min member id.
    "q50_entity_resolution" -> ((s, d) => {
      import s.implicits._
      resolve(s, d).orderBy($"vec_id")
    }),

    // The 100 TB scale path: ε-join blocked by IVF centroid cell (equi
    // join on the bucket id — no all-pairs), then the same CC + min-rep.
    // Exact q50 is the correctness anchor.
    "q52_er_blocked" -> ((s, d) => {
      import s.implicits._
      val verts = Tables.embeddings(s, d).select($"vec_id")
      Kernels.connectedComponents(s, verts, Kernels.blockedEpsPairs(s, d))
        .orderBy($"vec_id")
    }),

    // Variable-length traversal: vertices within 2 hops of vec_id 0 in
    // the blocked ε-similarity graph, with hop distance (Pregel BFS).
    // Consumes the IVF-cell candidate pairs, NOT the exact broadcast
    // kernel — no whole-corpus collect() in any analytics lineage.
    "q53_bfs_reach" -> ((s, d) => {
      import s.implicits._
      val verts = Tables.embeddings(s, d).select($"vec_id")
      Kernels.bfsReach(s, verts, Kernels.blockedEpsPairs(s, d), seed = 0L,
          maxHops = 2)
        .orderBy($"vec_id")
    }),

    // Organization resolution at the reference threshold θ=0.96
    // (`Hype.py:81-82`): exact ε-join over the org term universe → CC →
    // lexicographic-min-term representative. The `_alt` spelling variants
    // (identical embeddings) merge; nothing else on this fixture reaches
    // 0.96 — the real-data shape (the reference's own org mapping has 6
    // non-identity entries out of 597).
    "q88_org_mapping" -> ((s, d) => {
      import s.implicits._
      orgMapping(s, d).orderBy($"original")
    }),

    // Author_Address resolution at θ=0.95 (`keyword_merger.py:286-287`),
    // projected to its non-identity ALIAS_OF edges
    // (`csv_extractor.py:269-273` — one edge per merged spelling).
    "q89_addr_alias_edges" -> ((s, d) => {
      import s.implicits._
      addressMapping(s, d)
        .filter($"original" =!= $"representative")
        .select($"original".as("src"), $"representative".as("dst"),
          lit("ALIAS_OF").as("rel_type"))
        .orderBy($"src")
    }),

    // §2.8-C2 + J11/A9: the full refinement pipeline through the
    // pluggable MappingCorrector trait — regroup by representative, size
    // gate (≥3), per-cluster corrector call (the deterministic
    // promote-second stub), response parse with self-map fill-in, merge
    // of untouched entries. Same result as the r3 inline formulation
    // (second-smallest member promoted), now via the reference's actual
    // text contract (`recorrect_mapping.py:33-67,197-204`).
    "q51_er_refined_mapping" -> ((s, d) => {
      import s.implicits._
      val mapping = resolve(s, d)
        .select($"vec_id".cast("string").as("original"),
          $"component".cast("string").as("representative"))
      MappingCorrector
        .refineMapping(mapping, PromoteSecondCorrector, minClusterSize = 3)
        .select(col("original").cast("long").as("vec_id"),
          col("representative").cast("long").as("rep_id"))
        .orderBy($"vec_id")
    }),

    // q51's scale path: the SAME refinement pipeline over the
    // IVF-blocked ε-graph's clusters (q52's linear-shuffle kernel)
    // instead of the exact all-pairs anchor — together q51/q124 mirror
    // the q50/q52 exact-anchor/blocked-path pairing for the full
    // §2.8-C1→C2 lifecycle. At sf1 the exact kernel is ~26× its sf0.1
    // cost (quadratic by design); this composition scales with the
    // blocked pair volume instead.
    "q124_refined_blocked" -> ((s, d) => {
      import s.implicits._
      val verts = Tables.embeddings(s, d).select($"vec_id")
      val mapping =
        Kernels.connectedComponents(s, verts, Kernels.blockedEpsPairs(s, d))
        .select($"vec_id".cast("string").as("original"),
          $"component".cast("string").as("representative"))
      MappingCorrector
        .refineMapping(mapping, PromoteSecondCorrector, minClusterSize = 3)
        .select(col("original").cast("long").as("vec_id"),
          col("representative").cast("long").as("rep_id"))
        .orderBy($"vec_id")
    })
  )

  /** The net-state truths: from-scratch blocked ER under the pinned
    * index. A served day and the lifecycles that reach the same net state
    * share one truth — the serve split, the advance layout and the
    * maintenance schedule must be invisible in the mapping. */
  private val reembedded = "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END"
  private val inserted = pinnedEr("TRUE")
  private val deleted = pinnedEr("vec_id % 10 <> 5")
  private val updated = pinnedEr("TRUE", reembedded)
  // class 5 deleted, class 7 re-embedded, class 9 inserted (present)
  private val crudNet = pinnedEr("vec_id % 10 <> 5", reembedded)

  /** The refinement tail of q51/q124 over `comp`: clusters of three or
    * more take their second-smallest member as representative. */
  private val refined = """stats AS (
           SELECT component, count(*) AS cnt,
                  min(CASE WHEN vec_id > component THEN vec_id END) AS second
           FROM comp GROUP BY component)
         SELECT c.vec_id AS vec_id,
                CASE WHEN st.cnt >= 3 THEN st.second ELSE c.component END AS rep_id
         FROM comp c JOIN stats st ON c.component = st.component
         ORDER BY vec_id"""

  def oracles: Map[String, String] = Map(
    "q141_er_incremental" -> inserted,
    "q143_er_incremental_served" -> inserted,
    "q146_er_tombstones" -> deleted,
    "q150_er_tombstones_served" -> deleted,
    "q153_er_tombstones_sparse" -> pinnedEr("(vec_id % 10000000) % 200 <> 5"),
    "q151_er_updates" -> updated,
    "q155_er_updates_served" -> updated,
    "q156_er_updates_sparse" -> pinnedEr("TRUE",
      "CASE WHEN (vec_id % 10000000) % 200 = 7 THEN list_reverse(e) ELSE e END"),
    "q162_er_crud_lifecycle" -> crudNet,
    "q163_er_crud_lifecycle_mor" -> crudNet,
    "q166_er_crud_lifecycle_mor_compact" -> crudNet,
    "q169_er_mor_compact_policy" -> crudNet,
    "q54_pagerank" ->
      s"""WITH RECURSIVE $blockedCc,
         ${pageRankChain(10)}
         SELECT vec_id, rank FROM pr10 ORDER BY vec_id""",
    "q88_org_mapping" ->
      s"""WITH RECURSIVE ${termCc("Org_", 576, 625)}
         SELECT original, representative FROM omap ORDER BY original""",
    "q89_addr_alias_edges" ->
      s"""WITH RECURSIVE ${termCc("Addr_", 361, 400)}
         SELECT original AS src, representative AS dst,
                'ALIAS_OF' AS rel_type
         FROM omap WHERE original <> representative ORDER BY src""",
    "q50_entity_resolution" ->
      s"""WITH RECURSIVE $exactCc
         SELECT vec_id, component FROM comp ORDER BY vec_id""",
    "q52_er_blocked" ->
      s"""WITH RECURSIVE $blockedCc
         SELECT vec_id, component FROM comp ORDER BY vec_id""",
    "q53_bfs_reach" ->
      s"""WITH RECURSIVE $blockedCc,
         ${bfsReach("ee", "CAST(0 AS BIGINT)", "vec_id")}""",
    "q51_er_refined_mapping" -> s"WITH RECURSIVE $exactCc,\n$refined",
    "q124_refined_blocked" -> s"WITH RECURSIVE $blockedCc,\n$refined"
  )
}
