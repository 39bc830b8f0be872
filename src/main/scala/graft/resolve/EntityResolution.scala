package graft.resolve

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorOps

/** Entity resolution — the reference's flagship operator (SURVEY.md §2.8,
  * `keyword_merger.py:103-266`): embed → DBSCAN(eps, min_samples=2,
  * cosine) → representative = lexicographic min per cluster, noise → self.
  *
  * With `min_samples=2` DBSCAN clusters are EXACTLY the connected
  * components of the ε-neighborhood graph and noise = isolated vertices
  * (`keyword_merger.py:191-197`), so the faithful Spark implementation is
  * an ε-neighbor cosine join → GraphX `connectedComponents` (Pregel) →
  * `groupBy(component).agg(min(id))`. GraphX CC labels every vertex with
  * the minimum vertex id of its component, which IS the min-representative
  * rule for numeric ids — one pass, no extra agg.
  *
  * Exactness: the ε-join here is the exact all-pairs integer-cosine join
  * (VectorOps quantization; cos ≥ 0.35 ⟺ dot>0 ∧ 400·dot² ≥ 49·|a|²|b|²)
  * — the correctness baseline the DuckDB recursive-CTE oracle can verify.
  * At 100 TB the candidate join swaps to LSH/IVF blocking (the q33/q41
  * machinery) feeding the same CC — approximate-but-scalable, per the
  * north star; CC itself is iterative Pregel: spill-capable, shuffle per
  * superstep on the edge partitioning.
  *
  * `refinedMapping` models `recorrect_mapping.py:130-213`: regroup
  * clusters (J11), gate on cluster size (A9, `min_cluster_size_for_api`),
  * and apply a pluggable corrector — here the deterministic stub "promote
  * the second-smallest member" standing in for the LLM call, so tests and
  * oracles stay hermetic (SURVEY §7.5 risk 5).
  */
object EntityResolution {

  /** ε-neighbor pairs (u < v) with cos ≥ num/den over any
    * (vec_id, embedding: array<float>) frame, exact integers:
    * cos ≥ n/d ⟺ dot>0 ∧ d²·dot² ≥ n²·|a|²|b|².
    *
    * Shape: the quantization runs in the existing Column pipeline (bit
    * parity with every other consumer), then the O(n²) pair loop runs as
    * a broadcast + `mapPartitions` over primitive long arrays — the same
    * broadcast one side/stream the other dataflow a
    * BroadcastNestedLoopJoin plans, minus its per-pair row machinery
    * (~5× on the 2M-pair fixture kernel). This exact kernel is the
    * test-scale correctness anchor by design (SURVEY §7.5 risk 1); the
    * production-scale candidate generation is the blocked q52 path.
    */
  /** Ceiling on the exact kernel's input — the broadcast side must fit on
    * the driver and the pair loop is O(n²); term universes (orgs,
    * addresses, keywords: ~10²-10⁵ in the reference) sit far below it,
    * corpora sit far above. */
  val MaxExactVectors: Long = 1000000L

  /** ONE-JOB bounded collect for the limit-probed guards (round 19,
    * guide §1.5 — collapse probe actions): `limit(n).collect()` plans
    * CollectLimitExec, whose executeTake scans partitions in escalating
    * rounds (1, 4, 16, ...) — and since an IN-CAP input never hits the
    * limit, every probe paid ~log₄(partitions) job submissions to
    * collect a frame the next line uses whole (the lifecycle census
    * measured 5 jobs per probe, ~0.3 s of pure scheduling per CC call
    * at bench scale). `coalesce(1)` under the limit makes the result
    * stage a single task, so the collect is exactly one job; upstream
    * shuffle (map) stages keep their full parallelism — only the final
    * fetch+filter funnels through one task, which is bounded by the cap
    * (the same rows the driver was about to hold anyway). Row order is
    * IDENTICAL to executeTake's: coalesce concatenates parent
    * partitions in index order. Over-cap inputs stop at `lim` rows via
    * the per-partition LocalLimit, as before.
    */
  private def collectUpTo[T](ds: org.apache.spark.sql.Dataset[T],
      lim: Int): Array[T] =
    ds.coalesce(1).limit(lim).collect()

  def epsPairsOf(emb0: DataFrame, num: Int, den: Int,
                 maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val s = emb0.sparkSession
    import s.implicits._
    val typed = emb0
      .select(col("vec_id").cast("long"),
        VectorOps.quantize(col("embedding")).as("e"))
      .as[(Long, Array[Long])]
    // self-enforcing contract: nothing STOPPED a future query from
    // pointing the exact kernel at a corpus-scale frame — the guard fails
    // loudly, naming the scale path. One limit-probed collect serves as
    // both the guard and the broadcast build side (a separate count()
    // would execute the upstream lineage — for the ingested-term callers,
    // the whole tagged parse — a second time).
    val cap = math.min(maxExactVectors, Int.MaxValue - 1L).toInt
    val rows = collectUpTo(typed, cap + 1)
    require(rows.length <= cap,
      s"epsPairsOf is the EXACT all-pairs kernel (driver-broadcast build " +
        s"side, O(n^2) compare loop): input exceeds " +
        s"maxExactVectors=$maxExactVectors. Use blockedEpsPairs (IVF-cell " +
        "equi join, fully distributed) for corpus-scale inputs.")
    // broadcast the quantized corpus (the build side of the pair loop)
    val side = s.sparkContext.broadcast(rows.sortBy(_._1))
    val n2 = num.toLong * num
    val d2 = den.toLong * den
    // spread the probe side: a small term/embedding frame reads as 1-2
    // parquet splits, which would serialize the whole O(n²) compare loop
    // onto as many cores (measured: q89's 40k-term universe at the 100×
    // bench scale spent 150 s single-threaded; 32-way it is ~5 s). The
    // shuffle this adds is n skinny rows — noise next to the loop once n
    // is large, but a measurable tax when it isn't (q50/q51 +22–34% at
    // sf0.1), so small universes keep their natural splits: below the
    // threshold the whole loop is ≤ ~32M compares — subsecond either way.
    val spread =
      if (rows.length >= 8192) typed.repartition(s.sparkContext.defaultParallelism)
      else typed
    spread.mapPartitions { it =>
      val all = side.value
      val norms = all.map { case (_, w) =>
        var s0 = 0L; var i = 0
        while (i < w.length) { s0 += w(i) * w(i); i += 1 }
        s0
      }
      it.flatMap { case (id, v) =>
        var nv = 0L
        var i = 0
        while (i < v.length) { nv += v(i) * v(i); i += 1 }
        // binary search: candidates are strictly-greater ids
        var lo = 0
        var hi = all.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (all(mid)._1 <= id) lo = mid + 1 else hi = mid
        }
        (lo until all.length).iterator.flatMap { j =>
          val w = all(j)._2
          var dot = 0L
          var k = 0
          val len = math.min(v.length, w.length)
          while (k < len) { dot += v(k) * w(k); k += 1 }
          // 128-bit exact compare of dot²·den² vs |a|²|b|²·num² — for
          // unit-norm 1e4-quantized vectors the 64-bit products have only
          // ~2× headroom and larger-norm embeddings would silently wrap;
          // the scaled compare keeps the predicate exact at any magnitude
          // (and agrees with the oracle's HUGEINT arithmetic).
          if (dot > 0 && cmpScaled(dot, d2, nv, n2, norms(j)) >= 0)
            Some((id, all(j)._1))
          else None
        }
      }
    }.toDF("u", "v")
  }

  /** Exact ε-pairs with one endpoint in `batch` and the other in `probe`
    * (DISJOINT id sets by contract — the serve split of an update batch
    * vs its retraction survivors): the BATCH is the collected/broadcast
    * build side, so the driver transfer and the guard are sized by the
    * batch, not the term universe, and the probe side streams through in
    * one pass — for the serve callers a single columnar read of the
    * stored survivors table. Emits each qualifying pair once, ordered
    * (u, v) = (least, greatest). Batch×batch pairs are NOT emitted here;
    * callers union [[epsPairsOf]] over the batch alone, and the two
    * outputs together equal `epsPairsOf(probe ∪ batch)` restricted to
    * pairs with a batch endpoint — at O(|probe|·|batch| + |batch|²)
    * compares instead of O((|probe|+|batch|)²), which is what makes the
    * serve cost proportional to the affected set (the round-12 verdict's
    * q157 finding: the unioned form recomputed the full-universe kernel
    * and collected the whole universe to the driver on EVERY serve
    * call, inverting the build-once/serve-many premise).
    */
  private[resolve] def epsPairsAgainst(probe: DataFrame, batch: DataFrame,
      num: Int, den: Int,
      maxExactVectors: Long = MaxExactVectors): DataFrame =
    crossPairsOf(probe,
      collectBatchQuantized(batch, "epsPairsAgainst", maxExactVectors),
      num, den)

  /** The shared batch collect + size guard of the batch-side exact
    * kernels (the epsPairsOf discipline: one limit-probed collect is
    * both the guard and the build side). */
  private def collectBatchQuantized(batch: DataFrame, who: String,
      maxExactVectors: Long): Array[(Long, Array[Long])] = {
    val s = batch.sparkSession
    import s.implicits._
    val cap = math.min(maxExactVectors, Int.MaxValue - 1L).toInt
    val bRows = collectUpTo(batch
      .select(col("vec_id").cast("long"),
        VectorOps.quantize(col("embedding")).as("e"))
      .as[(Long, Array[Long])], cap + 1)
    require(bRows.length <= cap,
      s"$who broadcasts the BATCH side (exact kernel): batch " +
        s"exceeds maxExactVectors=$maxExactVectors. Use blockedEpsPairs " +
        "for corpus-scale batches.")
    bRows
  }

  /** The probe×batch cross kernel of [[epsPairsAgainst]] over an
    * already-collected batch: the batch is the broadcast build side, the
    * probe streams through in one pass. */
  private def crossPairsOf(probe: DataFrame,
      bRows: Array[(Long, Array[Long])], num: Int, den: Int): DataFrame = {
    val s = probe.sparkSession
    import s.implicits._
    val quantP = probe
      .select(col("vec_id").cast("long"),
        VectorOps.quantize(col("embedding")).as("e"))
      .as[(Long, Array[Long])]
    val side = s.sparkContext.broadcast(bRows)
    val n2 = num.toLong * num
    val d2 = den.toLong * den
    // spread the probe when the per-row compare work is heavy (same
    // threshold rationale as epsPairsOf: below it the whole loop is
    // ≤ ~32M compares — subsecond on natural splits)
    val spreadP =
      if (bRows.length >= 8192)
        quantP.repartition(s.sparkContext.defaultParallelism)
      else quantP
    spreadP.mapPartitions { it =>
      val all = side.value
      val norms = all.map { case (_, w) =>
        var s0 = 0L; var i = 0
        while (i < w.length) { s0 += w(i) * w(i); i += 1 }
        s0
      }
      it.flatMap { case (id, v) =>
        var nv = 0L
        var i = 0
        while (i < v.length) { nv += v(i) * v(i); i += 1 }
        all.indices.iterator.flatMap { j =>
          val (bid, w) = all(j)
          var dot = 0L
          var k = 0
          val len = math.min(v.length, w.length)
          while (k < len) { dot += v(k) * w(k); k += 1 }
          if (dot > 0 && cmpScaled(dot, d2, nv, n2, norms(j)) >= 0)
            Some((math.min(id, bid), math.max(id, bid)))
          else None
        }
      }
    }.toDF("u", "v")
  }

  /** The full serve-batch pair set — every ε-pair with at least one
    * batch endpoint: (probe×batch cross pairs) ∪ (batch×batch pairs) —
    * in ONE batch collect (round 19, guide §1.5: the serve/lifecycle
    * callers previously ran `epsPairsAgainst(probe, batch) ∪
    * epsPairsOf(batch)`, whose two kernels each collected the identical
    * quantized batch to the driver — two probe jobs per day where one
    * suffices). The single collect is guard, broadcast build side AND
    * the batch×batch input: under the spread threshold the batch×batch
    * half runs as a driver loop over the collected rows — zero extra
    * jobs, the identical predicate arithmetic and (u < v) orientation
    * as [[epsPairsOf]] (pairs emitted only for strictly increasing ids,
    * so duplicate-id parity holds too); a batch past the threshold
    * keeps the distributed batch×batch kernel.
    */
  private[resolve] def batchEndpointPairs(probe: DataFrame,
      batch: DataFrame, num: Int, den: Int,
      maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val s = probe.sparkSession
    import s.implicits._
    val bRows = collectBatchQuantized(batch, "batchEndpointPairs",
      maxExactVectors)
    val cross = crossPairsOf(probe, bRows, num, den)
    val bb =
      if (bRows.length >= 8192) epsPairsOf(batch, num, den, maxExactVectors)
      else {
        val sorted = bRows.sortBy(_._1)
        val norms = sorted.map { case (_, w) =>
          var s0 = 0L; var i = 0
          while (i < w.length) { s0 += w(i) * w(i); i += 1 }
          s0
        }
        val n2 = num.toLong * num
        val d2 = den.toLong * den
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < sorted.length) {
          val (id, v) = sorted(i)
          var j = i + 1
          while (j < sorted.length) {
            val (jd, w) = sorted(j)
            if (jd > id) {
              var dot = 0L
              var k = 0
              val len = math.min(v.length, w.length)
              while (k < len) { dot += v(k) * w(k); k += 1 }
              if (dot > 0 && cmpScaled(dot, d2, norms(i), n2, norms(j)) >= 0)
                out += ((id, jd))
            }
            j += 1
          }
          i += 1
        }
        s.createDataset(out.toSeq).toDF("u", "v")
      }
    cross.unionByName(bb)
  }

  /** Sign of dot²·d2 − nv·nw·n2, exact at ANY operand magnitude. Fast
    * path: when the pre-scaled factors (dot·d2, nv·n2) themselves fit in
    * a Long, [[cmp128]] compares the two 128-bit products with
    * `multiplyHigh` intrinsics (no allocation). Otherwise — embeddings
    * whose quantized norms push dot·d2 past 63 bits — fall back to BigInt
    * (allocates, but only for such extreme inputs; never silently wraps).
    */
  private def cmpScaled(dot: Long, d2: Long, nv: Long, n2: Long,
                        nw: Long): Int =
    if (dot <= Long.MaxValue / d2 && nv <= Long.MaxValue / n2)
      cmp128(dot * d2, dot, nv * n2, nw)
    else
      (BigInt(dot) * BigInt(dot) * d2).compare(BigInt(nv) * BigInt(nw) * n2)

  /** Compare the 128-bit products a·b vs c·d (all operands non-negative
    * and within Long range): sign of a·b − c·d. `Math.multiplyHigh` is an
    * intrinsic — two extra multiplies per pair, no allocation.
    */
  private def cmp128(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(a * b, c * d)
  }

  /** ε-neighbor pairs with the production threshold cos ≥ 0.35 (= 7/20). */
  def epsPairs(s: SparkSession, d: String): DataFrame =
    epsPairsOf(Tables.embeddings(s, d), 7, 20)

  /** The 100 TB-scale candidate generation: ε-neighbor pairs restricted to
    * IVF centroid cells (the q41 coarse assignment) — an equi join on the
    * bucket id, no all-pairs loop and no driver `collect()` anywhere in
    * the lineage. Approximate: cross-cell neighbors are missed (standard
    * IVF recall trade; nprobe>1 narrows it). Every graph-analytics query
    * (q52 CC, q53 BFS, q54 PageRank) consumes THIS frame; the exact
    * broadcast kernel above is only the q50 correctness anchor.
    *
    * Overflow note: the `dot*dot*400` column math runs under Spark 4 ANSI
    * mode, which THROWS on Long overflow rather than wrapping — quantized
    * unit-norm embeddings leave ~2× headroom (|dot| ≤ 1e8, dot²·400 ≤
    * 4e18 < 2⁶³); larger-norm corpora would fail loudly, not corrupt.
    */
  def blockedEpsPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assigned = graft.similarity.Similarity.ivfAssigned(s, d)
    val a = assigned.as("a")
    val b = assigned.as("b")
    a.join(b, $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
      .withColumn("dot", VectorOps.dot($"a.e", $"b.e"))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * 400 >= $"a.nrm" * $"b.nrm" * 49)
      .select($"a.vec_id".as("u"), $"b.vec_id".as("v"))
  }

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
    val comp = connectedComponents(s, terms.select("vec_id"),
      epsPairsOf(terms, num, den))
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

  /** Connected components over an (u, v) edge frame for the given vertex
    * frame (one `vec_id` column). Returns (vec_id, component) where
    * component = min vec_id reachable — DBSCAN(min_samples=2) parity.
    *
    * SIZE-ADAPTIVE since round 18 (guide §1.2 "the distributed
    * algorithm" + §2.4 "remove shuffles outright"): every standing-build
    * call site paid GraphX Pregel's fixed multi-second floor (graph
    * build + ~10 superstep job submissions) even when the whole graph
    * was a few thousand vertices — at the bench scales that floor, not
    * the data, dominated the entire incremental-ER family (q141/q146/
    * q151 ~6–11 s each at sf0.1 with 2 000-row inputs). The probe-and-
    * collect driver kernel that [[connectedComponentsAdaptive]] has
    * used for the serve paths since round 11 applies unchanged here:
    * under [[MaxDriverCcEdges]] run union-find on the driver
    * (bit-identical min-reachable-id labels, spec-pinned by
    * `IncrementalErSpec`/`AdaptiveCcSpec`), above it take the
    * distributed Pregel path below — corpus-scale graphs at 100 TB
    * still iterate in the cluster.
    */
  def connectedComponents(s: SparkSession, vertices: DataFrame,
                          pairs: DataFrame): DataFrame =
    connectedComponentsAdaptive(s, vertices, pairs)

  /** The distributed (GraphX Pregel) CC kernel — the fallback above
    * [[MaxDriverCcEdges]], unchanged from rounds 1–17 when it was the
    * only path.
    */
  private[resolve] def connectedComponentsPregel(s: SparkSession,
      vertices: DataFrame, pairs: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // GraphX materializes its input RDDs several times while building and
    // iterating the graph — without persist, the (expensive) ε-join above
    // would re-execute once per materialization.
    val vertRdd = vertices.select(col("vec_id").cast("long")).rdd
      .map(r => (r.getLong(0), ()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeRdd = pairs.select(col("u").cast("long"), col("v").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val graph = Graph(vertRdd, edgeRdd)
    val ccGraph = graph.connectedComponents()
    val out = ccGraph.vertices.toDF("vec_id", "component")
    out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once, then release every upstream cache
    ccGraph.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    vertRdd.unpersist(blocking = false)
    edgeRdd.unpersist(blocking = false)
    out
  }

  /** Ceiling on the adaptive CC's driver kernel: the probe collects at
    * most this many vertices and edges (16 B/edge ⇒ ≤ ~64 MB driver
    * transfer at the cap), and union-find over 2M edges runs in tens of
    * milliseconds. Affected-set graphs of the incremental-ER serve paths
    * sit far below it (the 100× dense fixture peaks near 1.4M edges);
    * corpus-scale standing builds sit above and take Pregel.
    */
  val MaxDriverCcEdges: Int = 2000000

  /** Conf override for [[MaxDriverCcEdges]] — the scale-dependent knob
    * parameterized (round-18 verdict item 5): a cluster deployment sizes
    * the driver kernel's ceiling to its driver memory, and a bench cell
    * sets it to 0 to FORCE the distributed Pregel/RDD kernels at a scale
    * where every graph would otherwise route to the driver — the
    * over-cap observation that keeps a Pregel regression from hiding
    * behind the driver kernel. Only consulted when the caller leaves the
    * parameter at its default; an explicit argument (the specs' small
    * caps) always wins.
    */
  val MaxDriverCcEdgesConf = "spark.graft.cc.maxDriverEdges"

  private def effectiveMaxDriverEdges(s: SparkSession, param: Int): Int =
    if (param != MaxDriverCcEdges) param
    else s.conf.getOption(MaxDriverCcEdgesConf).map(_.toInt).getOrElse(param)

  /** ONE-JOB size probe for the adaptive kernels (round 19, guide §1.5 /
    * §2.4 — collapse probe actions): the vertex and edge limit-collects
    * were two job submissions per kernel call, and at bench scale the
    * fixed submission cost dominated the tiny data. Collect the tagged
    * union `(0, vec_id, 0) ∪ (1, u, v)` under ONE limit of 2·cap+1
    * instead: if the limit was hit, some side exceeds cap by pigeonhole
    * (both ≤ cap ⇒ total ≤ 2·cap) — and when it was not hit every row
    * was collected, so the per-side counts are exact. Routing is
    * therefore IDENTICAL to the two-probe version: fall back to the
    * distributed kernel iff |V| > cap or |E| > cap.
    *
    * Returns the collected (vertices, edges) when both fit, None on
    * fallback.
    */
  private def probeGraph(s: SparkSession, vertices: DataFrame,
      pairs: DataFrame, cap: Int): Option[(Array[Long], Array[(Long, Long)])] = {
    import s.implicits._
    if (cap <= 0) return None
    val lim = math.min(2L * cap + 1, Int.MaxValue - 1L).toInt
    val rows = collectUpTo(vertices
      .select(lit(0L).as("t"), col("vec_id").cast("long").as("a"),
        lit(0L).as("b"))
      .unionAll(pairs.select(lit(1L).as("t"), col("u").cast("long").as("a"),
        col("v").cast("long").as("b")))
      .as[(Long, Long, Long)], lim)
    if (rows.length >= lim) return None
    val (v, e) = rows.partition(_._1 == 0L)
    if (v.length > cap || e.length > cap) None
    else Some((v.map(_._2), e.map(r => (r._2, r._3))))
  }

  /** Adaptive CC for the incremental-merge serve paths. The merge
    * algorithms bound their CC input to the AFFECTED components + batch
    * — small by design ("serve cost proportional to the affected set")
    * — yet GraphX Pregel carries a fixed multi-second floor (graph
    * build, per-superstep job submission) that DOMINATED the sparse
    * serve points: q156's 0.5%-batch serve cost within 10% of q155's
    * 10%-batch serve at sf0.1 because both were paying the same Pregel
    * overhead on near-empty graphs (round-11 verdict item 1). When the
    * affected graph fits [[MaxDriverCcEdges]], collect it and run
    * union-find with min-id labeling on the driver — bit-identical to
    * GraphX's component = min reachable id, including GraphX's implicit
    * promotion of edge endpoints missing from the vertex frame (the
    * merge edge sets are closed over their vertex sets, so this is
    * belt-and-braces parity, not a semantic difference). Larger affected
    * sets fall back to the distributed [[connectedComponentsPregel]]; the
    * limit-probed collect doubles as the size guard (the [[epsPairsOf]]
    * discipline), and its cost on fallback is one extra materialization
    * of a lineage Pregel was about to materialize several times anyway.
    */
  private[resolve] def connectedComponentsAdaptive(s: SparkSession,
      vertices: DataFrame, pairs: DataFrame,
      maxDriverEdges: Int = MaxDriverCcEdges): DataFrame = {
    import s.implicits._
    val (vrows, erows) =
      probeGraph(s, vertices, pairs,
        effectiveMaxDriverEdges(s, maxDriverEdges)) match {
        case None => return connectedComponentsPregel(s, vertices, pairs)
        case Some(ve) => ve
      }
    // index every id (vertex frame ∪ edge endpoints — GraphX parity)
    val idx = new scala.collection.mutable.LongMap[Int](vrows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](vrows.length)
    def intern(id: Long): Int =
      idx.getOrElse(id, {
        val i = ids.length; ids += id; idx.update(id, i); i
      })
    vrows.foreach(intern)
    erows.foreach { case (u, v) => intern(u); intern(v) }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    erows.foreach { case (u, v) =>
      val ru = find(idx(u)); val rv = find(idx(v))
      if (ru != rv) parent(ru) = rv
    }
    // min id per root, then one labeled row per distinct id
    val minOf = new Array[Long](ids.length)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](ids.length)
    i = 0
    while (i < ids.length) { out(i) = (ids(i), minOf(find(i))); i += 1 }
    // no repartition (round-18 verdict item 4): LocalTableScanExec
    // already parallelizes a driver-local result to
    // min(rows, defaultParallelism) slices — the explicit round-robin
    // repartition only added a gratuitous Exchange to every consumer
    // (q151's plan carried 48 of them; q54 planned back-to-back
    // Exchanges under its Sort) and re-shuffled the tiny frame once per
    // downstream evaluation.
    s.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("vec_id", "component")
  }

  /** Full resolution: ε-join → CC → (vec_id, component). */
  def resolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val verts = Tables.embeddings(s, d).select($"vec_id")
    connectedComponents(s, verts, epsPairs(s, d))
  }

  /** Variable-length traversal (SURVEY §2.3 J10 note: "GraphX/Pregel BFS
    * when hop count is a parameter"): vertices within `maxHops` of the
    * seed over an undirected (u, v) edge frame. Pregel with hop-count
    * messages; state = min hops seen.
    */
  def bfsReach(s: SparkSession, vertices: DataFrame, pairs: DataFrame,
               seed: Long, maxHops: Int,
               maxDriverEdges: Int = MaxDriverCcEdges): DataFrame = {
    // SIZE-ADAPTIVE (round 18, the [[connectedComponents]] discipline):
    // under [[MaxDriverCcEdges]] collect and run a depth-limited BFS on
    // the driver — bit-identical to the Pregel kernel below (min hops
    // seen, reachable-within-maxHops rows only; both assume the edge
    // set is closed over the vertex frame, which every caller
    // guarantees) — instead of paying maxHops Pregel supersteps of job
    // submission on a graph of a few thousand vertices. Larger graphs
    // take the distributed path unchanged. Probe is the shared one-job
    // [[probeGraph]] (round 19).
    probeGraph(s, vertices, pairs,
      effectiveMaxDriverEdges(s, maxDriverEdges)) match {
      case Some((vrows, erows)) =>
        bfsReachDriver(s, vrows, erows, seed, maxHops)
      case None => bfsReachPregel(s, vertices, pairs, seed, maxHops)
    }
  }

  /** Driver BFS kernel for [[bfsReach]]'s small-graph branch: frontier
    * expansion to `maxHops` levels over an interned adjacency, labels =
    * exact min-hop distances — what Pregel's min-message fixpoint
    * computes level by level.
    */
  private def bfsReachDriver(s: SparkSession, vrows: Array[Long],
      erows: Array[(Long, Long)], seed: Long, maxHops: Int): DataFrame = {
    import s.implicits._
    val idx = new scala.collection.mutable.LongMap[Int](vrows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](vrows.length)
    def intern(id: Long): Int =
      idx.getOrElse(id, {
        val i = ids.length; ids += id; idx.update(id, i); i
      })
    vrows.foreach(intern)
    erows.foreach { case (u, v) => intern(u); intern(v) }
    // adjacency as CSR: degree count, prefix offsets, neighbor array
    val n = ids.length
    val deg = new Array[Int](n)
    erows.foreach { case (u, v) => deg(idx(u)) += 1; deg(idx(v)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val cursor = java.util.Arrays.copyOf(off, n)
    erows.foreach { case (u, v) =>
      val iu = idx(u); val iv = idx(v)
      nbr(cursor(iu)) = iv; cursor(iu) += 1
      nbr(cursor(iv)) = iu; cursor(iv) += 1
    }
    val dist = new Array[Int](n)
    java.util.Arrays.fill(dist, Int.MaxValue)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    idx.get(seed).foreach { s0 =>
      dist(s0) = 0
      var frontier = Array(s0)
      var hop = 0
      while (hop < maxHops && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuffer[Int]()
        frontier.foreach { u =>
          var j = off(u)
          while (j < off(u + 1)) {
            val w = nbr(j)
            if (dist(w) == Int.MaxValue) { dist(w) = hop + 1; next += w }
            j += 1
          }
        }
        frontier = next.toArray
        hop += 1
      }
      i = 0
      while (i < n) {
        if (dist(i) != Int.MaxValue) out += ((ids(i), dist(i).toLong))
        i += 1
      }
    }
    // no repartition — see connectedComponentsAdaptive's note
    s.createDataset(out.toSeq).toDF("vec_id", "hops")
  }

  /** The distributed (GraphX Pregel) BFS kernel — the fallback above
    * [[MaxDriverCcEdges]], unchanged from rounds 1–17 when it was the
    * only path.
    */
  private def bfsReachPregel(s: SparkSession, vertices: DataFrame,
      pairs: DataFrame, seed: Long, maxHops: Int): DataFrame = {
    import org.apache.spark.graphx.{EdgeDirection, EdgeTriplet, Graph, VertexId}
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val vertRdd = vertices.select(col("vec_id").cast("long")).rdd
      .map(r => (r.getLong(0), if (r.getLong(0) == seed) 0 else Int.MaxValue))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeRdd = pairs.select(col("u").cast("long"), col("v").cast("long")).rdd
      .map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val graph = Graph(vertRdd, edgeRdd)
    val bfs = graph.pregel(Int.MaxValue, maxIterations = maxHops,
      activeDirection = EdgeDirection.Either)(
      (_: VertexId, cur: Int, msg: Int) => math.min(cur, msg),
      (t: EdgeTriplet[Int, Unit]) => {
        val out = Iterator.newBuilder[(VertexId, Int)]
        if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
          out += ((t.dstId, t.srcAttr + 1))
        if (t.dstAttr != Int.MaxValue && t.dstAttr + 1 < t.srcAttr)
          out += ((t.srcId, t.dstAttr + 1))
        out.result()
      },
      (a: Int, b: Int) => math.min(a, b))
    val out = bfs.vertices.filter(_._2 != Int.MaxValue)
      .map { case (id, hops) => (id, hops.toLong) }
      .toDF("vec_id", "hops")
    out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once, then release the graph's caches
    bfs.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    vertRdd.unpersist(blocking = false)
    edgeRdd.unpersist(blocking = false)
    out
  }

  /** Scale of the exact PageRank fixed-point arithmetic: ranks are
    * BIGINTs in units of 1e-9. */
  val PrScale: Long = 1000000000L

  /** Static PageRank over an undirected (u, v) edge frame in EXACT
    * scaled-integer arithmetic: rank' = 0.15·S + Σ_in (rank·85) div
    * (100·outdeg), all BIGINT, truncating division. Results are therefore
    * independent of partitioning, parallelism, and summation order —
    * unlike a float fixpoint — so q54 carries a full DuckDB hash oracle
    * (the same integer recurrence unrolled as CTEs) instead of a
    * rows-only gate + pinned golden.
    *
    * Shape: a hash-co-partitioned RDD iteration — GraphX's own layout,
    * minus its vertex-program machinery. The adjacency (with its
    * loop-invariant out-degree) is built ONCE with a single shuffle and
    * persisted co-partitioned with the rank frame, so each round's
    * adjacency⋈ranks and verts⟕sums joins are NARROW; the only per-round
    * shuffle is the contribution `reduceByKey`. Because the loop is pure
    * RDD lineage (no Catalyst re-analysis per round), no mid-loop
    * materialization is needed: all `iters` rounds are scheduled inside
    * ONE job when the result is first materialized — the previous
    * DataFrame formulation paid a localCheckpoint job every third round
    * plus three tiny shuffles per round and was reproducibly
    * scheduling-bound (~2-3× drift across boots at bench scale).
    *
    * Fault tolerance: intermediate rounds are recomputable from the
    * persisted adjacency via shuffle files — standard lineage recovery,
    * unlike the removed `localCheckpoint` (executor-local blocks; an
    * executor loss mid-loop killed the job on a real cluster). For very
    * deep iteration counts, pass `checkpointEvery` > 0 and set
    * `sc.setCheckpointDir` to cut lineage with a RELIABLE checkpoint
    * every k rounds — each cut materializes eagerly (one job per k
    * rounds, the standard iterate-vs-lineage trade), since a mark-only
    * `checkpoint()` would neither truncate the first job's lineage nor
    * write any but the last marked round.
    *
    * Overflow: total mass ≤ n·S, so Longs hold to ~10⁸ vertices at the
    * ×85 step; `multiplyExact`/`addExact` fail loudly (ArithmeticException)
    * rather than wrap beyond that — the same loud-fail contract ANSI mode
    * gave the SQL formulation. Skew: a hot vertex holds its adjacency
    * array in one partition (the classic Spark PageRank layout); at
    * extreme degree skew switch the adjacency to (dst, outdeg) pairs and
    * a pair-join, trading memory for one more shuffle.
    */
  def pageRank(s: SparkSession, vertices: DataFrame, pairs: DataFrame,
               iters: Int, checkpointEvery: Int = 0,
               maxDriverEdges: Int = MaxDriverCcEdges): DataFrame = {
    import s.implicits._
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    // size the partitioner to the DATA, capped by the session's shuffle
    // parallelism (which a real cluster sets to thousands) — and to the
    // right data: the per-round cost is MESSAGE volume (2 endpoints per
    // edge), not vertex count. The original vertex-only rule planned ONE
    // partition for the 100× bench graph (200k vertices but 12.5M
    // replica-dense edges) and every round ran single-task — q54 130 s
    // (measured, `bench/r07_sf10_run4.json`). A small graph still
    // iterates in few-task stages instead of paying conf-many
    // near-empty task launches × rounds; the pairs frame is persisted so
    // its (expensive) candidate-generation lineage runs once for the
    // sizing count and is reread for the adjacency build.
    val edges = pairs
      .select(col("u").cast("long"), col("v").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // SIZE-ADAPTIVE (round 18, the [[connectedComponents]] discipline):
    // the arithmetic is exact scaled-integer — independent of
    // partitioning and summation order by design — so under
    // [[MaxDriverCcEdges]] the same recurrence runs on the driver in
    // one pass instead of iters joins+reduceByKey rounds of a
    // multi-task RDD loop. Larger graphs iterate distributed,
    // unchanged; `checkpointEvery` only concerns that path's lineage.
    // The guard is the shared one-job [[probeGraph]] (round 19): the
    // previous shape paid two sizing counts PLUS two collects on the
    // driver path — four job submissions where one suffices; the
    // distributed path still counts below (the partitioner needs exact
    // sizes), reading the edges from the persist the probe populated.
    probeGraph(s, vertices, edges, effectiveMaxDriverEdges(s, maxDriverEdges)) match {
      case Some((vrows, erows)) =>
        edges.unpersist(blocking = false)
        return pageRankDriver(s, vrows, erows, iters)
      case None => ()
    }
    val nV = vertices.count()
    val nE = edges.count()
    val vertsPerPart = 2L * 1000 * 1000
    val endpointsPerPart = 262144L
    val part = new HashPartitioner(math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      math.max((nV + vertsPerPart - 1) / vertsPerPart,
        (2 * nE + endpointsPerPart - 1) / endpointsPerPart))).toInt)
    val reset = PrScale * 15 / 100
    val adj: RDD[(Long, (Array[Long], Long))] = edges.rdd
      .flatMap(r => Iterator((r.getLong(0), r.getLong(1)),
                             (r.getLong(1), r.getLong(0))))
      .groupByKey(part)
      .mapValues { ds => val a = ds.toArray; (a, a.length.toLong) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts: RDD[(Long, Unit)] = vertices
      .select(col("vec_id").cast("long")).rdd
      .map(r => (r.getLong(0), ()))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks: RDD[(Long, Long)] = verts.mapValues(_ => PrScale)
    // the latest materialized cut, unpersisted once superseded
    var lastCut: Option[RDD[(Long, Long)]] = None
    for (i <- 1 to iters) {
      val contribs = adj.join(ranks, part)
        .flatMap { case (_, ((dsts, outdeg), rank)) =>
          // truncating division on non-negative operands — identical to
          // the oracle's `(rank * 85) DIV (100 * outdeg)`
          val c = Math.multiplyExact(rank, 85L) / (100L * outdeg)
          dsts.iterator.map(d => (d, c))
        }
      val sums = contribs.reduceByKey(part, (a: Long, b: Long) => Math.addExact(a, b))
      ranks = verts.leftOuterJoin(sums, part)
        .mapValues { case (_, m) => Math.addExact(reset, m.getOrElse(0L)) }
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i != iters) {
        ranks.persist(StorageLevel.MEMORY_AND_DISK)
        if (s.sparkContext.getCheckpointDir.isDefined) ranks.checkpoint()
        // checkpoint() only MARKS — the write happens at the end of the
        // next job, and only for the topmost marked RDD. Materializing
        // here makes the cut real: one extra job per k rounds buys the
        // bounded lineage this parameter promises (without it, the
        // single final job would still carry every round AND skip all
        // but the last marked checkpoint). Without a checkpoint dir the
        // count still bounds recomputation (cache), not lineage depth.
        ranks.count()
        lastCut.foreach(_.unpersist(blocking = false))
        lastCut = Some(ranks)
      }
    }
    val out = ranks.toDF("vec_id", "rank")
    out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // ONE job runs all (remaining) rounds; release the builders
    adj.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    lastCut.foreach(_.unpersist(blocking = false))
    out
  }

  /** Driver kernel for [[pageRank]]'s small-graph branch: the identical
    * scaled-integer recurrence (rank' = 0.15·S + Σ_in (rank·85) div
    * (100·outdeg), truncating division, loud overflow via
    * multiplyExact/addExact) over an interned adjacency. The RDD loop's
    * join semantics are reproduced exactly: outdeg counts EVERY
    * neighbor, but ranks exist only for frame vertices — an endpoint
    * outside the vertex frame neither contributes nor receives (the
    * adj⋈ranks and verts⟕sums joins drop it).
    */
  private def pageRankDriver(s: SparkSession, vrows: Array[Long],
      erows: Array[(Long, Long)], iters: Int): DataFrame = {
    import s.implicits._
    val idx = new scala.collection.mutable.LongMap[Int](vrows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](vrows.length)
    def intern(id: Long): Int =
      idx.getOrElse(id, {
        val i = ids.length; ids += id; idx.update(id, i); i
      })
    val inFrame = new scala.collection.mutable.ArrayBuffer[Boolean]()
    vrows.foreach { id => val i = intern(id)
      while (inFrame.length <= i) inFrame += false
      inFrame(i) = true
    }
    erows.foreach { case (u, v) =>
      Seq(intern(u), intern(v)).foreach { i =>
        while (inFrame.length <= i) inFrame += false
      }
    }
    val n = ids.length
    val deg = new Array[Int](n)
    erows.foreach { case (u, v) => deg(idx(u)) += 1; deg(idx(v)) += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](off(n))
    val cursor = java.util.Arrays.copyOf(off, n)
    erows.foreach { case (u, v) =>
      val iu = idx(u); val iv = idx(v)
      nbr(cursor(iu)) = iv; cursor(iu) += 1
      nbr(cursor(iv)) = iu; cursor(iv) += 1
    }
    val reset = PrScale * 15 / 100
    var ranks = Array.tabulate(n)(i => if (inFrame(i)) PrScale else 0L)
    var it = 0
    while (it < iters) {
      val sums = new Array[Long](n)
      i = 0
      while (i < n) {
        if (inFrame(i) && deg(i) > 0) {
          val c = Math.multiplyExact(ranks(i), 85L) / (100L * deg(i))
          var j = off(i)
          while (j < off(i + 1)) {
            val w = nbr(j); sums(w) = Math.addExact(sums(w), c); j += 1
          }
        }
        i += 1
      }
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        if (inFrame(i)) next(i) = Math.addExact(reset, sums(i))
        i += 1
      }
      ranks = next
      it += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](vrows.length)
    i = 0
    while (i < n) { if (inFrame(i)) out += ((ids(i), ranks(i))); i += 1 }
    // no repartition — see connectedComponentsAdaptive's note
    s.createDataset(out.toSeq).toDF("vec_id", "rank")
  }

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
  /** ε-pairs (u < v) within shared pinned cells of one assigned frame —
    * the standing-side pair kernel shared by the incremental family
    * (q141/q143 standing build, q146/q150 tombstone standing build).
    */
  private def epsCellPairsOrdered(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.as("a")
      .join(assigned.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
      .withColumn("dot", VectorOps.dot($"a.e", $"b.e"))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * 400 >= $"a.nrm" * $"b.nrm" * 49)
      .select($"a.vec_id".as("u"), $"b.vec_id".as("v"))
  }

  /** The pinned index rule of every synthetic ER path: centroids are
    * seeded from the `vec_id % 10 <> 9` standing corpus, the class the
    * insert paths add (the oracles' `pinnedCcSqlWhere` mirrors it). One
    * value, so the cached pin is one index per source dir. */
  private[resolve] val standingPin: Column => Column = c => c % 10 =!= 9

  def incrementalResolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val isBatch = (c: Column) => c % 10 === 9
    val assigned = graft.similarity.Similarity
      .ivfAssignedPinned(s, d, standingPin)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standing = assigned.filter(!isBatch($"vec_id"))
    val batch = assigned.filter(isBatch($"vec_id"))
    val standPairs = epsCellPairsOrdered(standing)
    val standingMapping =
      connectedComponents(s, standing.select($"vec_id"), standPairs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val touching = batch.as("a")
      .join(assigned.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" =!= $"b.vec_id")
      .withColumn("dot", VectorOps.dot($"a.e", $"b.e"))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * 400 >= $"a.nrm" * $"b.nrm" * 49)
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
      connectedComponentsAdaptive(s, verts, star.unionByName(touching))
    untouched.select($"vec_id", $"component".as("rep_id"))
      .unionByName(merged.select($"vec_id", $"component".as("rep_id")))
  }

  /** Tracks which parameter key each day-0 snapshot was built from in
    * this JVM (same guard discipline as `DocGraph.bucketedServed`).
    */
  private val erServedFrom =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Catalog name for a SHARED day-0 snapshot (round-15 verdict item 6):
    * the lifecycle families' immutable `_base_*` builds were keyed by
    * query prefix, so q162/q163/q166 each built an identical snapshot
    * per JVM (~3× the build cost per sweep boot) — and a same-prefix
    * call with different ε/class parameters relied on the caller
    * remembering to fold them into its guard key (round-15 ADVICE 1).
    * Deriving the table name from the FULL parameter key solves both:
    * identical parameters share one build, and any parameter change IS
    * a different snapshot name — reuse-under-different-parameters is
    * unrepresentable. `key` must carry everything the build reads
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
    * instead of a caller-supplied tag (round-16 ADVICE 3: the `clsTag`
    * string default let a caller pass a custom `cls` and forget the
    * tag, silently sharing a day-0 snapshot built under another rule —
    * the doc said MUST, nothing enforced it). Two rules with the same
    * expression tree ARE the same rule, so sharing under an equal
    * fingerprint is correct by construction; a structurally different
    * rule is a different key, hence a different snapshot name.
    *
    * CONTRACT (round-17 ADVICE 4): `cls` must be a pure function of
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
    // fingerprint the analyzed expression's canonical SQL. This is the
    // round-18 repair of the r17 fingerprint, which read the UNRESOLVED
    // Column's lazy bridge expression — under Spark 4's ColumnNode
    // indirection that rendered as the same opaque placeholder for
    // EVERY rule ("columnnodeexpression()"), i.e. the r16 no-aliasing
    // fix was silently vacuous: any two class rules shared one
    // fingerprint, so a custom rule could still reuse another rule's
    // day-0 snapshot. Analysis also IS the purity enforcement: a rule
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
    val allPairs = epsCellPairsOrdered(assigned)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standingMapping =
      connectedComponents(s, assigned.select($"vec_id"), allPairs)
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
    val merged = connectedComponentsAdaptive(s, survivors, survivorPairs)
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
    val eps = (p: DataFrame) => p
      .withColumn("dot", VectorOps.dot($"a.e", $"b.e"))
      .filter($"dot" > 0 &&
        $"dot" * $"dot" * 400 >= $"a.nrm" * $"b.nrm" * 49)
    val bSurv = eps(updBatch.as("a")
      .join(survivors.select($"vec_id", $"cid", $"e", $"nrm").as("b"),
        $"a.cid" === $"b.cid"))
      .select(least($"a.vec_id", $"b.vec_id").as("u"),
        greatest($"a.vec_id", $"b.vec_id").as("v"))
    val bBatch = eps(updBatch.as("a")
      .join(updBatch.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id"))
      .select($"a.vec_id".as("u"), $"b.vec_id".as("v"))
    bSurv.unionByName(bBatch)
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
    * reinsert 6.1 s vs 19.8 s for this fused form (ProfileUpdate,
    * round 11; the committed serve went 40.8 → 20.3 s) — CC cost here
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
    val merged = connectedComponentsAdaptive(s,
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
    val allPairs = epsCellPairsOrdered(assigned)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val standingMapping =
      connectedComponents(s, assigned.select($"vec_id"), allPairs)
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

  /** Ensure the shared ingested day-0 snapshot of [[Lifecycle.ingested]]
    * under `prefix`: the `keep` terms of the ingest, their exact ε-pairs
    * at cos ≥ num/den and CC mapping, built once per JVM and
    * `sourceKey`, which must determine everything the build reads.
    */
  private[resolve] def ensureIngestedErTables(s: SparkSession,
      ingested: () => DataFrame, sourceKey: String, num: Int, den: Int,
      prefix: String,
      keep: Column => Column = _ => lit(true)): Unit = {
    import s.implicits._
    if (erServedFrom.get(prefix) != sourceKey)
      erServedFrom.compute(prefix, (_, prev) => {
        if (prev != sourceKey) {
          // `keep` selects day 0: the universe minus the inserted classes
          val terms = embedTermUniverse(ingested())
            .filter(keep(col("vec_id")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val pairs = epsPairsOf(terms, num, den)
          val mapping =
            connectedComponents(s, terms.select($"vec_id"), pairs)
          graft.graph.BucketedStore.writeBucketed(
            terms, s"${prefix}_terms", "vec_id", 16)
          graft.graph.BucketedStore.writeBucketed(
            pairs, s"${prefix}_pairs", "u", 16)
          graft.graph.BucketedStore.writeBucketed(
            mapping, s"${prefix}_mapping", "vec_id", 16)
          terms.unpersist(blocking = false)
          mapping.unpersist(blocking = false) // CC-internal persist, written out
        }
        sourceKey
      })
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

  /** Ensure the shared synthetic day-0 snapshot of [[Lifecycle.synthetic]]
    * and return its table prefix: the `keep` rows assigned under the
    * [[standingPin]] index, their blocked ε-pairs and CC mapping. `key`
    * must determine `keep` (source dir, inserted classes, class rule);
    * the tables are named by it ([[sharedBaseName]]), so every
    * same-parameter lifecycle or serve reads one build.
    */
  private[resolve] def ensureSyntheticCrudBase(s: SparkSession, d: String,
      key: String, keep: Column => Column): String = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val basePrefix = sharedBaseName("syn", key)
    if (erServedFrom.get(basePrefix) != key)
      erServedFrom.compute(basePrefix, (_, prev) => {
        if (prev != key) {
          val assigned = graft.similarity.Similarity
            .ivfAssignedPinned(s, d, standingPin, keep)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val pairs = epsCellPairsOrdered(assigned)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val mapping =
            connectedComponents(s, assigned.select($"vec_id"), pairs)
          graft.graph.BucketedStore.writeBucketed(
            assigned, s"${basePrefix}_assigned", "cid", 16)
          graft.graph.BucketedStore.writeBucketed(
            pairs, s"${basePrefix}_pairs", "u", 16)
          graft.graph.BucketedStore.writeBucketed(
            mapping, s"${basePrefix}_mapping", "vec_id", 16)
          pairs.unpersist(blocking = false)
          assigned.unpersist(blocking = false)
          mapping.unpersist(blocking = false) // CC-internal, written out
        }
        key
      })
    basePrefix
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
    // (`ins=`, built once per JVM): the measured call is the tombstone
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
      val conf = graft.graph.BucketedStore.CompactDepthConf
      val prev = s.conf.getOption(conf)
      // the measured break-even depth (bench/r{15,16}_profile_mor_
      // compaction.txt → RecommendedCompactDepth): after the update day
      // the stores carry epochs {1,2}, so the policy fires exactly
      // where q166's manual Set(1) schedule folds
      s.conf.set(conf,
        graft.graph.BucketedStore.RecommendedCompactDepth.toString)
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
    // q162 family replays (built once per JVM): the measured call is
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
      pageRank(s, verts, blockedEpsPairs(s, d), iters = 10)
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
      connectedComponents(s, verts, blockedEpsPairs(s, d)).orderBy($"vec_id")
    }),

    // Variable-length traversal: vertices within 2 hops of vec_id 0 in
    // the blocked ε-similarity graph, with hop distance (Pregel BFS).
    // Consumes the IVF-cell candidate pairs, NOT the exact broadcast
    // kernel — no whole-corpus collect() in any analytics lineage.
    "q53_bfs_reach" -> ((s, d) => {
      import s.implicits._
      val verts = Tables.embeddings(s, d).select($"vec_id")
      bfsReach(s, verts, blockedEpsPairs(s, d), seed = 0L, maxHops = 2)
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
      val mapping = connectedComponents(s, verts, blockedEpsPairs(s, d))
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
