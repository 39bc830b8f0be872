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

  /** Shared oracle prelude: ε-edges + min-label-propagation CC as a
    * recursive CTE (terminates because UNION dedups the (node, label)
    * walk set; exact for the 500-vector verify fixture).
    */
  private val ccSql = """q0 AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
        CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
      FROM q0),
ed AS (SELECT u, v FROM (
         SELECT a.vec_id AS u, b.vec_id AS v,
           CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
           a.nrm AS na, b.nrm AS nb
         FROM n a JOIN n b ON a.vec_id < b.vec_id) p
       WHERE dot > 0
         AND 400*CAST(dot AS HUGEINT)*dot >= 49*CAST(na AS HUGEINT)*nb),
ee AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
walk(node, lab) AS (
  SELECT vec_id, vec_id FROM n
  UNION
  SELECT ee.v, walk.lab FROM walk JOIN ee ON walk.node = ee.u
),
comp AS (SELECT node AS vec_id, min(lab) AS component FROM walk GROUP BY node)"""

  /** Oracle mirror of the IVF-blocked ε-graph (q36's assignment chain +
    * the ε predicate within cells) + the same CC walk.
    */
  private val blockedCcSql = s"""q0 AS (
  SELECT vec_id, list_transform(embedding,
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
ed AS (SELECT u, v FROM (
         SELECT a.vec_id AS u, b.vec_id AS v,
           CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
           a.nrm AS na, b.nrm AS nb
         FROM full0 a JOIN full0 b
           ON a.cid = b.cid AND a.vec_id < b.vec_id) p
       WHERE dot > 0 AND 400*dot*dot >= 49*na*nb),
ee AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
walk(node, lab) AS (
  SELECT vec_id, vec_id FROM n
  UNION
  SELECT ee.v, walk.lab FROM walk JOIN ee ON walk.node = ee.u
),
comp AS (SELECT node AS vec_id, min(lab) AS component FROM walk GROUP BY node)"""

  /** [[blockedCcSql]] with the centroid set PINNED to the standing
    * corpus (`vec_id % 10 <> 9`, modulus from the standing count) — the
    * from-scratch mirror of [[incrementalResolve]]'s index rule. Every
    * other CTE is identical: assignment, ε-predicate, CC walk.
    * `memberWhere` restricts the RESOLVED corpus (the `m` CTE: what is
    * assigned, paired, and labeled) WITHOUT touching the centroid set —
    * the index stays pinned to the pre-restriction standing corpus,
    * which is exactly the tombstone contract (q146): deleting members
    * does not move the index. `memberExpr` likewise transforms the
    * member EMBEDDINGS without touching the index — the update
    * contract (q151): re-embedding members does not move it either.
    */
  private def pinnedCcSqlWhere(memberWhere: String,
      memberExpr: String = "e") = s"""q0 AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
  FROM embeddings),
n AS (SELECT vec_id, e,
        CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
      FROM q0),
cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
         FROM n WHERE vec_id % 10 <> 9 AND vec_id % (
           SELECT greatest(50, CAST(floor(sqrt(count(*))) AS BIGINT))
           FROM embeddings WHERE vec_id % 10 <> 9) = 0),
m AS (SELECT vec_id, $memberExpr AS e, nrm FROM n WHERE $memberWhere),
ap AS (SELECT m.vec_id, cent.cid,
        CAST(list_sum(list_transform(m.e, (x,i) -> x * cent.ce[i])) AS BIGINT) AS dot,
        m.nrm, cent.cnrm
      FROM m CROSS JOIN cent),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY
        CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
          * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
    FROM ap) t WHERE rn = 1),
full0 AS (SELECT a.vec_id, a.cid, m.e, m.nrm
          FROM assigned a JOIN m ON a.vec_id = m.vec_id),
ed AS (SELECT u, v FROM (
         SELECT a.vec_id AS u, b.vec_id AS v,
           CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
           a.nrm AS na, b.nrm AS nb
         FROM full0 a JOIN full0 b
           ON a.cid = b.cid AND a.vec_id < b.vec_id) p
       WHERE dot > 0 AND 400*dot*dot >= 49*na*nb),
ee AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
walk(node, lab) AS (
  SELECT vec_id, vec_id FROM m
  UNION
  SELECT ee.v, walk.lab FROM walk JOIN ee ON walk.node = ee.u
),
comp AS (SELECT node AS vec_id, min(lab) AS component FROM walk GROUP BY node)"""

  private val pinnedCcSql = pinnedCcSqlWhere("TRUE")

  /** Oracle mirror of [[variantTerms]] + [[aliasMapping]]: the o-prefixed
    * CTE chain ends in `omap(original, representative)`. All names are
    * collision-free with [[graft.graph.BibGraph.sqlPrelude]] so the two
    * preludes compose in one WITH (the alias-expanded org query).
    */
  def termCcSql(prefix: String, numSq: Int, denSq: Int): String = s"""oq0 AS (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
  FROM embeddings WHERE vec_id % 10 = 0),
on0 AS (SELECT vec_id, e,
          CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
        FROM oq0),
oterms AS (
  SELECT '$prefix' || CAST(vec_id // 10 AS BIGINT) AS term,
         (vec_id // 10) * 2 AS tid, e, nrm FROM on0
  UNION ALL
  SELECT '$prefix' || CAST(vec_id // 10 AS BIGINT) || '_alt',
         (vec_id // 10) * 2 + 1, e, nrm FROM on0),
oed AS (SELECT u, v FROM (
          SELECT a.tid AS u, b.tid AS v,
            CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
            a.nrm AS na, b.nrm AS nb
          FROM oterms a JOIN oterms b ON a.tid < b.tid) p
        WHERE dot > 0
          AND $denSq*CAST(dot AS HUGEINT)*dot >= $numSq*CAST(na AS HUGEINT)*nb),
oee AS (SELECT u, v FROM oed UNION SELECT v, u FROM oed),
owalk(node, lab) AS (
  SELECT tid, tid FROM oterms
  UNION
  SELECT oee.v, owalk.lab FROM owalk JOIN oee ON owalk.node = oee.u),
ocomp AS (SELECT node AS tid, min(lab) AS component FROM owalk GROUP BY node),
oreps AS (SELECT c.component, min(t.term) AS representative
          FROM ocomp c JOIN oterms t ON c.tid = t.tid GROUP BY c.component),
omap AS (SELECT t.term AS original, r.representative
         FROM oterms t JOIN ocomp c ON t.tid = c.tid
         JOIN oreps r ON c.component = r.component)"""

  /** The exact PageRank recurrence unrolled: pr0 = S, pr_i = 0.15·S +
    * Σ_in (rank·85) // (100·outdeg) — integer-for-integer the Spark loop
    * (DuckDB `//` and Spark `DIV` agree on non-negative operands).
    */
  private def prChainSql(iters: Int): String =
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

  def oracles: Map[String, String] = Map(
    "q141_er_incremental" ->
      s"""WITH RECURSIVE $pinnedCcSql
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // from-scratch ER over the post-delete corpus, index still pinned
    // to the pre-delete standing rule
    "q146_er_tombstones" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // the serve split must be a pure cost-attribution change
    "q150_er_tombstones_served" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // sparse design point: same from-scratch truth, sparse predicate
    "q153_er_tombstones_sparse" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("(vec_id % 10000000) % 200 <> 5")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // from-scratch ER over the corpus with the update batch re-embedded
    // (reversed), index still pinned to the original standing rule
    "q151_er_updates" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("TRUE",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // the serve split must be a pure cost-attribution change
    "q143_er_incremental_served" ->
      s"""WITH RECURSIVE $pinnedCcSql
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // the serve split must be a pure cost-attribution change
    "q155_er_updates_served" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("TRUE",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    "q156_er_updates_sparse" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("TRUE",
        "CASE WHEN (vec_id % 10000000) % 200 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // the lifecycle's NET effect: class 5 deleted, class 7 re-embedded,
    // class 9 inserted (present) — index pinned to the pre-insert rule
    "q162_er_crud_lifecycle" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // merge-on-read advance layout: same net state, same oracle as q162
    "q163_er_crud_lifecycle_mor" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // mid-lifecycle compaction: the maintenance fold must be invisible
    // in the mapping — same oracle as q162/q163
    "q166_er_crud_lifecycle_mor_compact" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    // policy-TRIGGERED compaction (sidecar-depth conf): same oracle —
    // the trigger mechanism must be invisible in the mapping
    "q169_er_mor_compact_policy" ->
      s"""WITH RECURSIVE ${pinnedCcSqlWhere("vec_id % 10 <> 5",
        "CASE WHEN vec_id % 10 = 7 THEN list_reverse(e) ELSE e END")}
         SELECT vec_id, component AS rep_id FROM comp ORDER BY vec_id""",
    "q54_pagerank" ->
      s"""WITH RECURSIVE $blockedCcSql,
         ${prChainSql(10)}
         SELECT vec_id, rank FROM pr10 ORDER BY vec_id""",
    "q88_org_mapping" ->
      s"""WITH RECURSIVE ${termCcSql("Org_", 576, 625)}
         SELECT original, representative FROM omap ORDER BY original""",
    "q89_addr_alias_edges" ->
      s"""WITH RECURSIVE ${termCcSql("Addr_", 361, 400)}
         SELECT original AS src, representative AS dst,
                'ALIAS_OF' AS rel_type
         FROM omap WHERE original <> representative ORDER BY src""",
    "q50_entity_resolution" ->
      s"""WITH RECURSIVE $ccSql
         SELECT vec_id, component FROM comp ORDER BY vec_id""",
    "q52_er_blocked" ->
      s"""WITH RECURSIVE $blockedCcSql
         SELECT vec_id, component FROM comp ORDER BY vec_id""",
    "q53_bfs_reach" ->
      s"""WITH RECURSIVE $blockedCcSql,
         bfs(node, hops) AS (
           SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
           UNION
           SELECT ee.v, bfs.hops + 1 FROM bfs JOIN ee ON bfs.node = ee.u
           WHERE bfs.hops < 2)
         SELECT node AS vec_id, CAST(min(hops) AS BIGINT) AS hops
         FROM bfs GROUP BY node ORDER BY vec_id""",
    "q51_er_refined_mapping" ->
      s"""WITH RECURSIVE $ccSql,
         stats AS (
           SELECT component, count(*) AS cnt,
                  min(CASE WHEN vec_id > component THEN vec_id END) AS second
           FROM comp GROUP BY component)
         SELECT c.vec_id AS vec_id,
                CASE WHEN st.cnt >= 3 THEN st.second ELSE c.component END AS rep_id
         FROM comp c JOIN stats st ON c.component = st.component
         ORDER BY vec_id""",
    "q124_refined_blocked" ->
      s"""WITH RECURSIVE $blockedCcSql,
         stats AS (
           SELECT component, count(*) AS cnt,
                  min(CASE WHEN vec_id > component THEN vec_id END) AS second
           FROM comp GROUP BY component)
         SELECT c.vec_id AS vec_id,
                CASE WHEN st.cnt >= 3 THEN st.second ELSE c.component END AS rep_id
         FROM comp c JOIN stats st ON c.component = st.component
         ORDER BY vec_id"""
  )
}
