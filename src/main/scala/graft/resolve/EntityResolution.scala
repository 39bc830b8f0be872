package graft.resolve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.BucketedStore

/** Entity resolution — the reference's flagship operator (SURVEY.md §2.8,
  * `keyword_merger.py:103-266`): embed → DBSCAN(eps, min_samples=2,
  * cosine) → representative = lexicographic min per cluster, noise → self.
  * The ε-pair and connected-components kernels it composes live in
  * [[Kernels]]; this object holds the term universes, the incremental
  * merges, the day-0 snapshots, the serve-cache registry and the
  * query/oracle registry.
  *
  * Exactness: the exact all-pairs ε-join is the correctness baseline the
  * DuckDB recursive-CTE oracle can verify; at 100 TB the candidate join
  * swaps to IVF blocking feeding the same CC — approximate but scalable.
  *
  * `refinedMapping` models `recorrect_mapping.py:130-213`: regroup
  * clusters (J11), gate on cluster size (A9, `min_cluster_size_for_api`),
  * and apply a pluggable corrector — here the deterministic stub "promote
  * the second-smallest member" standing in for the LLM call, so tests and
  * oracles stay hermetic (SURVEY §7.5 risk 5).
  */
object EntityResolution {

  // --------------------------------------------------------------------
  // Organization / Author_Address resolution (the reference applies the
  // SAME keyword_merging machinery to Publisher+Place Published at θ=0.96
  // and Author Address at θ=0.95 — `Hype.py:81-82`,
  // `keyword_merger.py:286-287`).
  // --------------------------------------------------------------------

  /** Term universe for org/address resolution over the fixture: every
    * 10th embedding carries TWO term spellings — `P<k>` and `P<k>_alt` —
    * that encode to the SAME vector. This is the deterministic encoder
    * stub (SURVEY §7.5 risk 5): a real sentence encoder maps trivial
    * formatting variants of one organization/address to (near-)identical
    * embeddings; the `_alt` spelling models exactly that. The universe is
    * deliberately a small slice of the corpus — entity universes are far
    * smaller than the document corpus (the reference resolves 597
    * organizations against 88k keywords), so the exact kernel is the
    * right tool even at scale.
    *
    * Output: (term, vec_id, embedding) with term-level ids 2k / 2k+1.
    */
  def variantTerms(s: SparkSession, d: String, prefix: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .filter($"vec_id" % 10 === 0)
      .select(expr("CAST(vec_id DIV 10 AS BIGINT)").as("k"), $"embedding")
      .select(explode(array(
        struct(concat(lit(prefix), $"k").as("term"),
          ($"k" * 2).as("vec_id")),
        struct(concat(lit(prefix), $"k", lit("_alt")).as("term"),
          ($"k" * 2 + 1).as("vec_id")))).as("t"), $"embedding")
      .select($"t.term".as("term"), $"t.vec_id".as("vec_id"), $"embedding")
  }

  /** §2.8 applied to a named term universe: exact ε-join at cos ≥ num/den
    * → CC → representative = LEXICOGRAPHIC MIN TERM per cluster (the
    * reference's Python `min(group)`, `keyword_merger.py:222` — not the
    * min id), noise → identity. Returns (original, representative).
    */
  def aliasMapping(terms: DataFrame, num: Int, den: Int): DataFrame = {
    val s = terms.sparkSession
    val comp = Kernels.connectedComponents(s, terms.select("vec_id"),
      Kernels.epsPairsOf(terms, num, den))
    val named = comp.join(terms.select(col("vec_id"), col("term")), "vec_id")
    val reps = named.groupBy(col("component"))
      .agg(min(col("term")).as("representative"))
    named.join(broadcast(reps), "component")
      .select(col("term").as("original"), col("representative"))
  }

  /** Organization mapping at the reference threshold θ=0.96 (= 24/25). */
  def orgMapping(s: SparkSession, d: String): DataFrame =
    aliasMapping(variantTerms(s, d, "Org_"), 24, 25)

  /** Author-address mapping at θ=0.95 (= 19/20). */
  def addressMapping(s: SparkSession, d: String): DataFrame =
    aliasMapping(variantTerms(s, d, "Addr_"), 19, 20)

  /** Deterministic term-encoder stub (SURVEY §7.5 risk 5): an 8-dim
    * vector from the md5 of the paren-gloss-stripped, trimmed term (the
    * P10 normalization — `TopicTocsv.py:60`), each dim
    * (hexChunk − 32768) / 32768 ∈ [−1, 1). Trivial formatting variants of
    * one term (a parenthetical gloss) encode IDENTICALLY — the property a
    * real sentence encoder provides approximately, made exact; unrelated
    * terms land on near-orthogonal random vectors. Every value is dyadic
    * (k/2¹⁵), so Float, Double, and the oracle's arithmetic agree bit-for-
    * bit.
    */
  def termEmbedding(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val norm = trim(regexp_replace(term, "\\s*\\(.*?\\)", ""))
    val h = md5(norm)
    array((0 until 8).map { i =>
      ((conv(substring(h, i * 4 + 1, 4), 16, 10).cast("long") - 32768L)
        / lit(32768.0)).cast("float")
    }: _*)
  }

  /** The FULL reference lifecycle §3.1 over real ingest — clean → merge:
    * A2 distinct values of the given columns of an ingested frame
    * (`keyword_merger.py:150-163`; the reference applies the same
    * machinery to Keywords, Publisher+Place Published, and Author
    * Address — `Hype.py:73-82`) → encoder stub → ε-join at the given
    * threshold → CC → lexicographic-min-term mapping
    * (`keyword_merger.py:103-266`). Term ids are the first 60 bits of the
    * term's md5 — stable, distributed, oracle-reproducible (ids are a CC
    * carrier only; the representative is the min STRING).
    */
  def ingestedTermMapping(ingested: DataFrame, cols: Seq[String], num: Int,
                          den: Int): DataFrame = {
    val terms = distinctValues(ingested, cols)
      .select(col("value").as("term"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        termEmbedding(col("value")).as("embedding"))
    aliasMapping(terms, num, den)
  }

  def ingestedKeywordMapping(ingested: DataFrame, num: Int,
                             den: Int): DataFrame =
    ingestedTermMapping(ingested, Seq("keywords"), num, den)

  /** [[ingestedKeywordMapping]] with the embedding computed by the
    * BATCHED ENCODER OPERATOR ([[graft.enrich.TermEncoding.encodeTerms]],
    * the reference's `model.encode(..., batch_size=64)` slot) instead of
    * the inline Column expression — the full `keyword_merger.py` §3.1
    * lifecycle with the encode step in its operator shape: distinct
    * values (A2) → batched encode → ε-join → CC → min-term rep. The
    * gloss-strip encoder reproduces [[termEmbedding]]'s arithmetic
    * exactly, so this is oracle-gated by the SAME mirror as q104 (q128)
    * and spec-pinned equal to the Column path. A real model drops into
    * the `TermEncoder` seam; everything downstream — including the
    * oracle discipline — stays.
    */
  def ingestedKeywordMappingEncoded(ingested: DataFrame, num: Int,
                                    den: Int): DataFrame = {
    val encoded = graft.enrich.TermEncoding.encodeTerms(
      distinctValues(ingested, Seq("keywords")), "value",
      graft.enrich.TermEncoding.GlossStripEncoder)
    val terms = encoded.select(col("value").as("term"),
      conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
        .as("vec_id"),
      col("embedding"))
    aliasMapping(terms, num, den)
  }

  /** A2 (`keyword_merger.py:150-163`): the distinct non-empty values of
    * one or more columns — scalars and arrays alike — as one `value`
    * column; the term universe the resolution clusters over.
    */
  def distinctValues(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.ArrayType
    cols.map { c =>
      df.schema(c).dataType match {
        case _: ArrayType => df.select(explode(col(c)).as("value"))
        case _ => df.select(col(c).as("value"))
      }
    }.reduce(_ unionAll _)
      .filter(col("value").isNotNull && col("value") =!= "")
      .distinct()
  }

  /** Full resolution: ε-join → CC → (vec_id, component). */
  def resolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val verts = Tables.embeddings(s, d).select($"vec_id")
    Kernels.connectedComponents(s, verts, Kernels.epsPairs(s, d))
  }

  /** The pinned index rule of every synthetic ER path: centroids are
    * seeded from the `vec_id % 10 <> 9` standing corpus, the class the
    * insert paths add (the oracles' `pinnedCcSqlWhere` mirrors it). One
    * value, so the cached pin is one index per source dir. */
  private[resolve] val standingPin: Column => Column = c => c % 10 =!= 9

  /** INCREMENTAL entity resolution — the daily-batch shape the reference
    * lacks (`keyword_merger.py:134-144` recomputes the whole alias
    * mapping from scratch every run behind `force_recompute`; q38 built
    * the same increment shape for document dedup). The batch is the
    * deterministic `vec_id % 10 = 9` slice; everything else is the
    * standing corpus whose resolution is already known.
    *
    * Algorithm (all under the STANDING-pinned IVF index —
    * [[graft.similarity.Similarity.ivfAssignedPinned]] — because a
    * production quantizer is held fixed across batches):
    *  1. standing mapping: blocked ε-pairs among standing vectors → CC →
    *     (vec_id, component). In production this is a STORED table read
    *     back, not recomputed; this query rebuilds it inline so the gate
    *     is self-contained (the rebuild is the amortized part — the
    *     incremental savings are steps 2-4 touching only batch-adjacent
    *     data).
    *  2. touching pairs: batch side equi-joined to the WHOLE corpus on
    *     the pinned cell id — pair volume is |batch|-proportional, the
    *     standing-standing join never reruns.
    *  3. affected components: standing components with ≥1 touching-pair
    *     endpoint. Untouched rows pass through from the standing table.
    *  4. merged recompute: CC over (affected ∪ batch) vertices with
    *     star edges (component → member, which reproduce standing
    *     connectivity without its pair join) + the touching pairs.
    *
    * Equivalence (what the oracle checks): with the index pinned,
    * cell assignment is per-vector and corpus-independent, so
    * full-pairs(union) = pairs(standing) ∪ pairs(touching batch); star
    * edges preserve exactly the standing components; and GraphX CC's
    * min-vertex-id component equals the recursive min-label walk. Hence
    * the incremental result is BIT-equal to a from-scratch blocked ER
    * over the unioned corpus under the same index — which is exactly
    * what the DuckDB oracle computes. A changed index breaks the
    * decomposition; that is the documented full-rebuild trigger.
    */
  def incrementalResolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val isBatch = (c: Column) => c % 10 === 9
    val assigned = graft.similarity.Similarity
      .ivfAssignedPinned(s, d, standingPin)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standing = assigned.filter(!isBatch($"vec_id"))
    val batch = assigned.filter(isBatch($"vec_id"))
    val standPairs = Kernels.epsCellPairsOrdered(standing)
    val standingMapping =
      Kernels.connectedComponents(s, standing.select($"vec_id"), standPairs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val touching = Kernels.cellEps(batch.as("a")
      .join(assigned.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" =!= $"b.vec_id"), 7, 20)
      // batch-batch pairs surface in both orientations of this join;
      // normalize and dedup (batch-standing pairs appear once)
      .select(least($"a.vec_id", $"b.vec_id").as("u"),
        greatest($"a.vec_id", $"b.vec_id").as("v"))
      .distinct()
    mergeIncrement(s, standingMapping, batch.select($"vec_id"), touching)
      .orderBy($"vec_id")
  }

  /** Steps 3–4 of the incremental algorithm, shared by the inline q141
    * and the lifecycle's insert day: restrict the recompute to
    * components a touching pair reaches, rebuild their connectivity from
    * star edges + the touching pairs, pass every other standing row
    * through. The result is unsorted: a lifecycle advance feeds it into
    * a bucketed write, whose hash clustering drops any global order, so
    * query outputs sort at their own boundary.
    */
  private[resolve] def mergeIncrement(s: SparkSession, standingMapping: DataFrame,
      batchVerts: DataFrame, touching: DataFrame): DataFrame = {
    import s.implicits._
    // the reps/affected frames feed several consumers of one request's
    // plan (the CC probe's vertex and edge branches, the passthrough
    // anti-join); unpersisted, each consumer re-runs the distinct
    // shuffle + regroup join
    val touchedReps = persistServe(touching
      .select(explode(array($"u", $"v")).as("vec_id"))
      .join(standingMapping, "vec_id")
      .select($"component").distinct())
    val affected = persistServe(standingMapping.join(touchedReps, "component"))
    val untouched =
      standingMapping.join(touchedReps, Seq("component"), "left_anti")
    val star = affected.filter($"vec_id" =!= $"component")
      .select($"component".as("u"), $"vec_id".as("v"))
    val verts = affected.select($"vec_id").unionByName(batchVerts)
    val merged =
      Kernels.connectedComponents(s, verts, star.unionByName(touching))
    untouched.select($"vec_id", $"component".as("rep_id"))
      .unionByName(merged.select($"vec_id", $"component".as("rep_id")))
  }

  /** Catalog name for a SHARED day-0 snapshot, derived from the FULL
    * parameter key: identical parameters share one build (q162/q163/q166
    * read one snapshot instead of three identical ones), and any
    * parameter change IS a different snapshot name, so reuse under
    * different parameters is unrepresentable. `key` must carry everything the build reads
    * (source, ε num/den, class rule tag, day-0 membership); the name is
    * `graft_base_<kind>_<sha1-12 of key>` (hex — a valid catalog
    * identifier; the raw key contains path separators).
    *
    * Sharing is safe because the snapshot is IMMUTABLE by contract:
    * working tables and MOR sidecars live under each query's own prefix
    * (see [[graft.graph.BucketedStore.readMor]]'s `sidecarsOf`), so one
    * query's advances can never reach another's replay. Pinned by
    * `IncrementalErSpec`/`IngestedErSpec`.
    */
  private[resolve] def sharedBaseName(kind: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes("UTF-8"))
    val hex = digest.take(6).map(b => f"$b%02x").mkString
    s"graft_base_${kind}_$hex"
  }

  /** Structural fingerprint of a class rule: the canonical SQL (or, for
    * expressions without a SQL form, the tree string) of the Column the
    * rule produces over a probe attribute. Snapshot keys fold this in
    * instead of a caller-supplied tag, which a caller passing a custom
    * `cls` could forget, silently sharing a day-0 snapshot built under
    * another rule. Two rules with the same
    * expression tree ARE the same rule, so sharing under an equal
    * fingerprint is correct by construction; a structurally different
    * rule is a different key, hence a different snapshot name.
    *
    * CONTRACT: `cls` must be a pure function of
    * the probe column. A rule that closes over RESOLVED columns from a
    * live plan would embed per-JVM expression ids (`#N`) in the
    * fingerprint — a key that silently differs across JVMs, defeating
    * the shared-snapshot reuse in the safe direction (spurious day-0
    * rebuilds). Enforced, not just documented: an exprId-bearing
    * fingerprint throws here, at the call that would have minted the
    * unstable key.
    */
  private[resolve] def clsFingerprint(s: SparkSession,
      cls: Column => Column): String = {
    // ANALYZE the rule over a literal one-column probe frame and
    // fingerprint the analyzed expression's canonical SQL. The
    // UNRESOLVED Column's lazy bridge expression cannot serve: under
    // Spark 4's ColumnNode indirection it renders as the same opaque
    // placeholder for EVERY rule ("columnnodeexpression()"), so any two
    // class rules would share one fingerprint and a custom rule could
    // reuse another rule's day-0 snapshot. Analysis also IS the purity
    // enforcement: a rule
    // that references any column but the probe — by name or by a
    // captured resolved Column from a live plan — fails to resolve
    // against the probe frame and throws here, at the call that would
    // have minted the aliasable/unstable key.
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.expressions.Alias
    val probe = s.range(1).select(col("id").as("__cls_probe__"))
    val analyzed =
      try probe.select(cls(col("__cls_probe__")).as("__cls_fp__"))
        .queryExecution.analyzed
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          "class rule must be a pure function of its probe column — it " +
            "references columns outside the probe frame, so its snapshot " +
            s"key would alias or drift across JVMs: ${e.getMessage}")
      }
    val fp = analyzed match {
      case Project(Seq(a: Alias), _) => a.child.sql
      case other => other.schema.treeString + other.expressions.map(_.sql)
    }
    require(!"#\\d+".r.findFirstIn(fp).isDefined,
      s"class rule fingerprint embeds per-JVM expression ids: $fp")
    fp
  }

  /** Serve-scoped persisted frames: a lifecycle day's batch, touching
    * pairs and affected-set frames (the merges), and the `authored`
    * frame of the `hops=` co-author template
    * (`GraphQueries.coauthorReach`). Each is referenced by several
    * downstream joins of ONE request's plan, but the request's caller
    * materializes the result, so the functions that build them cannot
    * unpersist them. A long-lived serve JVM reaps them via
    * [[releaseServeCaches]] after each request's result is
    * materialized; otherwise the blocks accumulate per request. The
    * Bench/Verify harnesses also purge persistent RDDs between queries.
    */
  private val serveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def persistServe(df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    serveCaches.add(df)
    df
  }

  /** Unpersist every serve-scoped frame registered since the last call.
    * Contract: call AFTER the current request's result is materialized
    * (collected or written) — the frames back that result's plan, so an
    * earlier release just recomputes them, never corrupts. Safe to call
    * from a single serving thread; concurrent requests should serialize
    * releases or accept recomputation.
    */
  def releaseServeCaches(): Unit = {
    var df = serveCaches.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = serveCaches.poll()
    }
  }

  /** The TOMBSTONE (deletion) path of incremental ER: retract a 10%
    * batch of terms (`vec_id % 10 = 5`) from the standing state without
    * recomputing everything — the reference's force-recompute fallback
    * (`keyword_merger.py:134-144`) rebuilds the whole mapping on any
    * correction.
    *
    * Algorithm (the deletion dual of [[mergeIncrement]]):
    *  1. standing state: blocked ε-pairs + CC over the full corpus under
    *     the PINNED index (deletions do not move the index — same
    *     full-rebuild trigger discipline as inserts).
    *  2. affected components: those containing ≥1 deleted member —
    *     deletion can SPLIT a component (bridge removal) or retire its
    *     min-id representative, so membership alone marks it dirty.
    *  3. recompute: CC over the affected components' SURVIVORS with the
    *     standing pair set restricted to survivor endpoints — NO second
    *     ε-join: under a pinned index, pairs(post-delete) is exactly
    *     pairs(standing) minus pairs touching a tombstone, so two
    *     left-semi joins replace the quadratic-shaped work. Star edges
    *     (the insert path's shortcut) are NOT sound here — they route
    *     connectivity through possibly-deleted vertices — hence real
    *     pairs, but only for the dirty components.
    *  4. untouched components pass through unchanged (no deleted member
    *     ⇒ membership, connectivity, and min-id rep are all unchanged).
    *
    * Equivalence (what the oracle checks): edges only ever connect
    * members of the same standing component, so recomputed components
    * never merge with untouched ones, and the result is bit-equal to
    * from-scratch blocked ER over the post-delete corpus under the same
    * pinned index — which is exactly what the DuckDB oracle computes.
    */
  def tombstoneResolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val assigned = graft.similarity.Similarity
      .ivfAssignedPinned(s, d, standingPin)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allPairs = Kernels.epsCellPairsOrdered(assigned)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standingMapping =
      Kernels.connectedComponents(s, assigned.select($"vec_id"), allPairs)
    mergeTombstones(s, standingMapping, allPairs).orderBy($"vec_id")
  }

  /** Steps 2–4 of the tombstone algorithm, shared by the inline q146
    * and the lifecycle's delete day: mark components with a deleted
    * member dirty, recompute CC over their survivors with the standing
    * pair set restricted to survivor endpoints, pass every clean
    * component through. Unsorted, like [[mergeIncrement]].
    */
  private[resolve] def mergeTombstones(s: SparkSession, standingMapping: DataFrame,
      allPairs: DataFrame,
      isDel: Column => Column = c => c % 10 === 5): DataFrame = {
    import s.implicits._
    // persist the shared sub-frames: the driver CC's probe evaluates the
    // survivor lineage in both the vertex and the edge branch (the
    // latter twice, once per semi-join side), and delReps feeds
    // survivors AND the passthrough anti-join — unpersisted, each
    // evaluation re-runs the distinct shuffle + regroup join
    val delReps = persistServe(standingMapping.filter(isDel($"vec_id"))
      .select($"component").distinct())
    val untouched =
      standingMapping.join(delReps, Seq("component"), "left_anti")
        .filter(!isDel($"vec_id")) // belt-and-braces: always true here
    val survivors = persistServe(standingMapping.join(delReps, "component")
      .filter(!isDel($"vec_id")).select($"vec_id"))
    val survivorPairs = allPairs
      .join(survivors.withColumnRenamed("vec_id", "u"), Seq("u"), "left_semi")
      .join(survivors.withColumnRenamed("vec_id", "v"), Seq("v"), "left_semi")
    val merged = Kernels.connectedComponents(s, survivors, survivorPairs)
    untouched.select($"vec_id", $"component".as("rep_id"))
      .unionByName(merged.select($"vec_id", $"component".as("rep_id")))
  }

  /** The new-embedding ε-pairs of a batch: the batch rows against the
    * standing survivors sharing a cell, plus each other. The batch ids
    * must be disjoint from the survivors'. Shared by the inline q151
    * update and the synthetic lifecycle's insert and update days, whose
    * survivor side is the stored assigned table, filtered by `!isUpd`
    * on an update day (a filter, never a join, so the table keeps its
    * cid-bucketed layout into this join).
    */
  private[resolve] def updateTouchingPairs(survivors: DataFrame,
      updBatch: DataFrame): DataFrame = {
    val s = survivors.sparkSession
    import s.implicits._
    // TWO joins instead of one join against (survivors ∪ batch): the
    // union would erase the survivor side's partitioning — for a stored
    // cid-bucketed table that means shuffling and re-sorting the whole
    // standing corpus on every serve. Split, the batch×survivor join
    // moves only the batch into the survivors' bucketing and the
    // batch×batch self-join is batch-sized. The union of the two pair
    // sets is the single join's output exactly, with no duplicates: the
    // a-side is always the batch and the b-side is either a survivor
    // (disjoint ids — each pair once) or another batch row (ordered by
    // `<`, each pair once).
    val bSurv = Kernels.cellEps(updBatch.as("a")
      .join(survivors.select($"vec_id", $"cid", $"e", $"nrm").as("b"),
        $"a.cid" === $"b.cid"), 7, 20)
      .select(least($"a.vec_id", $"b.vec_id").as("u"),
        greatest($"a.vec_id", $"b.vec_id").as("v"))
    bSurv.unionByName(Kernels.epsCellPairsOrdered(updBatch))
  }

  /** FUSED update merge — retraction and reinsertion in ONE connected-
    * components pass (the lifecycle's update day, served alone by q155;
    * the inline q151 stays two-phase, see [[updateResolve]] for that
    * trade). Unsorted, like [[mergeIncrement]]. The naive
    * composition retract ∘ reinsert ([[mergeTombstones]] then
    * [[mergeIncrement]]) runs TWO Pregel CCs, and when each CC has to
    * pull its inputs from the standing DISK tables — the serve path's
    * shape — the same dirty region is read and iterated twice:
    * stage-profiling the served path at 100× read retract 34.8 s +
    * reinsert 6.1 s vs 19.8 s for this fused form (the committed serve
    * went 40.8 → 20.3 s) — CC cost here
    * is Pregel-ROUND-bound, so the second full iteration is the single
    * largest line in the query.
    *
    * One CC suffices because the affected-component set of the
    * composition is computable up front:
    *   affected = dirty (components with an updated member — retraction
    *              can split them or retire their rep) ∪ touched
    *              (components holding an endpoint of a new-embedding
    *              pair — reinsertion can merge or extend them)
    * A clean component has no updated member and no touching endpoint,
    * so neither phase changes it: pass through. For affected
    * components, from-scratch connectivity over the updated corpus is
    * exactly (stored pairs with BOTH endpoints non-updated members of
    * affected components) ∪ (touching pairs): survivor-survivor pairs
    * are embedding-unchanged hence the stored subset (and never cross
    * standing components), every pair with an updated endpoint died
    * with the old embedding, and every new pair has a batch endpoint —
    * the touching set by construction. Any touching endpoint's
    * component is touched by definition, so the edge set is closed
    * over the CC's vertex set (affected survivors ∪ batch).
    */
  private[resolve] def mergeUpdate(s: SparkSession, standingMapping: DataFrame,
      allPairs: DataFrame, updVerts: DataFrame, touching: DataFrame,
      isUpd: Column => Column): DataFrame = {
    import s.implicits._
    val dirtyReps = standingMapping.filter(isUpd($"vec_id"))
      .select($"component").distinct()
    val touchedReps = touching
      .select(explode(array($"u", $"v")).as("vec_id"))
      .join(standingMapping, "vec_id")
      .select($"component").distinct()
    val affReps = persistServe(dirtyReps.unionByName(touchedReps).distinct())
    val untouched = standingMapping.join(affReps, Seq("component"), "left_anti")
    val affSurvivors = persistServe(
      standingMapping.join(affReps, "component")
        .filter(!isUpd($"vec_id")).select($"vec_id"))
    val survPairs = allPairs
      .join(affSurvivors.withColumnRenamed("vec_id", "u"), Seq("u"), "left_semi")
      .join(affSurvivors.withColumnRenamed("vec_id", "v"), Seq("v"), "left_semi")
    val merged = Kernels.connectedComponents(s,
      affSurvivors.unionByName(updVerts), survPairs.unionByName(touching))
    untouched.select($"vec_id", $"component".as("rep_id"))
      .unionByName(merged.select($"vec_id", $"component".as("rep_id")))
  }

  /** The UPDATE path of incremental ER (q151) — the third production
    * batch shape after inserts (q141/q143) and deletions (q146/q150):
    * a 10% batch of terms (`vec_id % 10 = 7`) is RE-EMBEDDED (the
    * deterministic stand-in: reverse the embedding — a dimension
    * permutation, so the norm is exactly preserved and both engines
    * compute it bit-identically) and the standing state must converge
    * to from-scratch ER over the updated corpus without recomputing
    * everything. An update is a retraction composed with an insertion,
    * and both component algorithms are already exact, so the
    * composition is too:
    *
    *  1. retract: [[mergeTombstones]] with the update predicate — dirty
    *     components recompute over their survivors, the rest pass
    *     through → the exact post-delete mapping.
    *  2. re-insert: [[updateTouchingPairs]] for the re-embedded batch,
    *     then [[mergeIncrement]] over the post-delete mapping (star
    *     edges reproduce its connectivity; only touched components
    *     recompute).
    *
    * The INLINE form deliberately stays two-phase while the served form
    * (q155) runs the fused [[mergeUpdate]]: here both CCs consume
    * frames this call just materialized in executor memory (`allPairs`,
    * `postDelete` are persisted, and the reinsert CC iterates compact
    * star edges), so the second Pregel pass is cheap — measured 3.6 s
    * vs the fused form's 7.2 s at sf0.1, and parity at 100×, where the
    * fused form's single pass only pays off when each CC would re-read
    * standing state from disk tables (the serve path's shape; see
    * [[mergeUpdate]] for that measurement).
    *
    * The oracle is from-scratch blocked ER over the corpus with the
    * batch's embeddings replaced (`list_reverse`) under the SAME pinned
    * index — a wrong dirty set in either phase, a stale representative,
    * or a missed cross-phase pair hash-mismatches.
    */
  def updateResolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val isUpd = (c: Column) => c % 10 === 7
    val assigned = graft.similarity.Similarity
      .ivfAssignedPinned(s, d, standingPin)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allPairs = Kernels.epsCellPairsOrdered(assigned)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standingMapping =
      Kernels.connectedComponents(s, assigned.select($"vec_id"), allPairs)
    val postDelete =
      mergeTombstones(s, standingMapping, allPairs, isUpd)
        .select($"vec_id", $"rep_id".as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    val updBatch = graft.similarity.Similarity
      .ivfAssignedPinned(s, d, standingPin, isUpd, reembed = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val touching =
      updateTouchingPairs(assigned.filter(!isUpd($"vec_id")), updBatch)
    mergeIncrement(s, postDelete, updBatch.select($"vec_id"), touching)
      .orderBy($"vec_id")
  }

  /** The ingested ER term universe in serve shape: one row per distinct
    * keyword with its md5-derived vec_id and quantized embedding — the
    * frame every real-ingest build and batch construction starts from.
    */
  private[resolve] def embedTermUniverse(ingested: DataFrame): DataFrame =
    distinctValues(ingested, Seq("keywords"))
      .select(col("value").as("term"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        termEmbedding(col("value")).as("embedding"))

  /** Property holding the full parameter key a snapshot was built from. */
  private val SnapshotKey = "graft.key"

  private val snapshotLock = new Object

  /** Ensure the shared day-0 snapshot `sharedBaseName(kind, key)` and
    * return its table prefix. `build` gives the day-0 rows (persisted),
    * their ε-pairs and any small side tables by name (one file each,
    * such as the synthetic binding's pinned index); the rows land as
    * `<prefix>_<rowStore>` bucketed on `rowKey`, beside `<prefix>_pairs`
    * and, written last, the CC `<prefix>_mapping`. The snapshot is
    * complete exactly when the mapping carries `key` as its
    * [[SnapshotKey]] property, which is set after every write has
    * landed: a build that throws part-way, or tables dropped under the
    * snapshot, rebuild on the next call, in this session or any other
    * on the same catalog. `key` must determine everything the build
    * reads; the tables are named by it, so every same-parameter
    * lifecycle or serve reads one build. The lock serializes builds.
    */
  private[resolve] def ensureSnapshot(s: SparkSession, kind: String,
      key: String, rowStore: String, rowKey: String)(
      build: => (DataFrame, DataFrame, Map[String, DataFrame])): String = {
    val prefix = sharedBaseName(kind, key)
    val complete = s"${prefix}_mapping"
    snapshotLock.synchronized {
      if (!BucketedStore.property(s, complete, SnapshotKey).contains(key)) {
        val (rows, pairs, sides) = build
        sides.foreach { case (t, df) =>
          BucketedStore.dropManagedPurging(s, s"${prefix}_$t")
          df.coalesce(1).write.format("parquet").saveAsTable(s"${prefix}_$t")
        }
        val mapping =
          Kernels.connectedComponents(s, rows.select(col("vec_id")), pairs)
        val tables = Seq((rows, rowStore, rowKey), (pairs, "pairs", "u"),
          (mapping, "mapping", "vec_id"))
        tables.foreach { case (df, t, k) =>
          BucketedStore.writeBucketed(df, s"${prefix}_$t", k, 16)
        }
        BucketedStore.setProperty(s, complete, SnapshotKey, Some(key))
        // the mapping's persist is the CC kernel's own, written out
        tables.foreach(_._1.unpersist(blocking = false))
      }
    }
    prefix
  }

  /** The reference's representative discipline (lexicographic MIN TERM,
    * `keyword_merger.py:222`) over a merged (vec_id, rep_id) frame: name
    * every member with its component's minimal term. The rep frame is
    * one row per component — broadcast by construction.
    */
  private[resolve] def minTermMapping(merged: DataFrame, terms: DataFrame): DataFrame = {
    val s = merged.sparkSession
    import s.implicits._
    val named = merged.join(terms.select($"vec_id", $"term"), "vec_id")
    val reps = named.groupBy($"rep_id").agg(min($"term").as("representative"))
    named.join(broadcast(reps), "rep_id")
      .select($"term".as("original"), $"representative")
      .orderBy($"original")
  }
}
