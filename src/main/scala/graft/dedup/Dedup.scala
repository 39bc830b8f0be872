package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextHashes

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
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame = {
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

  /** q34's Jaccard verify WITHOUT the presentation sort — shared by q34
    * (which orders it) and q39 (which feeds it to clustering, where order
    * is irrelevant — executing the sorted registry entry there would pay
    * a range shuffle just to discard it).
    */
  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
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
  private[graft] def cosinePairs(s: SparkSession, d: String): DataFrame = {
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
}
