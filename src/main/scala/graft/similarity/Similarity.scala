package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (SURVEY.md §2.7 F6 embedding similarity; BASELINE north star
  * "similarity search").
  *
  * Two paths:
  *  - q40: brute-force top-k — the exactness baseline. O(|Q|·n) dot
  *    products; at 100 TB this is only viable for small |Q| with the
  *    corpus side broadcast-partitioned, hence:
  *  - q41/q42: IVF (inverted-file) — a deterministic coarse quantizer
  *    (every m-th vector is a centroid, m = max(50, floor(sqrt(n))))
  *    assigns each vector to its nearest centroid; queries then search
  *    ONLY their centroid's bucket.
  *    The shuffle becomes O(n) assignment + a per-bucket join, and the
  *    bucket id is the partitioning key at scale. Recall < 1 by design —
  *    the usual IVF trade; nprobe>1 is the standard extension.
  *
  * Ranking keys are the signed-cos² rationals from [[graft.functions.VectorOps]]
  * (exact integers + one double division), so ordering ties out with the
  * DuckDB oracle bit-for-bit; ties broken on vector id.
  */
object Similarity {

  /** BENCH-ONLY sizing knob: overrides the sqrt(n) centroid spacing with a
    * fixed per-cell target population. The sqrt(n) default is the optimum
    * for a SINGLE-level quantizer (assignment O(n·k) vs within-cell pair
    * work O(n²/k) meet at k = sqrt(n), leaving both n^1.5); a constant
    * spacing m makes the pair work LINEAR (n·m) and hands the now-linear
    * k = n/m centroid table to the two-level assignment
    * ([[graft.functions.NearestCellsHier]], O(n·sqrt(k)) total). Setting
    * it changes IVF blocking (the standard recall trade), so it must
    * never be set under the correctness gate — the DuckDB mirror
    * ([[graft.registry.OracleSql.modulus]]) states the sqrt rule only.
    */
  private[graft] val SpacingConf = "spark.graft.ivf.spacing"

  /** Centroid-count threshold past which coarse assignment switches from
    * the flat scan to the two-level expression. At every oracle-gated SF
    * k ≤ 50 — far under any sane threshold — so gated assignments stay
    * byte-identical to the flat expression.
    */
  private[graft] val HierThresholdConf = "spark.graft.ivf.hierThreshold"
  private val HierThresholdDefault = 256

  /** Centroid spacing: every `m`-th vector is a centroid, with
    * m = max(50, floor(sqrt(n))). At the oracle SFs (n ≤ 2500) this is
    * exactly the fixed 50 of rounds 1–5, so gated results are unchanged;
    * past that it switches to the standard sqrt(n) IVF sizing, so the
    * broadcast centroid set AND the expected per-cell population both grow
    * as sqrt(n). The former fixed spacing made k = n/50, turning the
    * O(n·k) assignment quadratic in n — measured as q41 19×/q43 67× at a
    * 10× scale-up (bench/r06_sf1_run1.json) before this rule.
    * [[SpacingConf]] (bench-only) pins m instead, keeping the 50 floor.
    */
  private[graft] def centroidModulus(s: SparkSession, n: Long): Long =
    s.conf.getOption(SpacingConf).map(v => math.max(50L, v.toLong))
      .getOrElse(math.max(50L, math.floor(math.sqrt(n.toDouble)).toLong))

  /** A collected centroid row: (cid, quantized vector, squared norm).
    * k ≈ sqrt(n) of these; at any scale this is the small side that IVF
    * exists to keep broadcastable.
    */
  private[graft] type Cent = (Long, Seq[Long], Long)

  private[graft] def quantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", quantize($"embedding").as("e"))
      .withColumn("nrm", norm2($"e"))
  }

  private def seedCentroids(s: SparkSession, d: String): Seq[Cent] = {
    import s.implicits._
    val m = centroidModulus(s, Tables.embeddings(s, d).count())
    // default path: every m-th vec_id — the rule the DuckDB oracle
    // mirrors. Under the bench-only spacing knob the sample key is
    // murmur3(vec_id) instead: a corpus whose id layout is ARITHMETICALLY
    // aligned with the spacing (measured: the replica bench tables, whose
    // 10M id stride is divisible by spacing 50, collapsed the sample to
    // ~40 distinct directions x 10 near-identical copies → 17x cell skew
    // and 2.7x the pair work) gets a structure-free pseudo-random sample
    // — the standard IVF training-sample rule — at identical cost.
    val pick =
      if (s.conf.getOption(SpacingConf).isDefined)
        pmod(hash($"vec_id"), lit(m)) === 0
      else $"vec_id" % m === 0
    quantized(s, d).filter(pick)
      .select($"vec_id", $"e", $"nrm").as[(Long, Seq[Long], Long)]
      .collect().toSeq
  }

  /** Driver-side two-level partition of a centroid table: every
    * ceil(sqrt(k))-th centroid (in cid order) is a super-centroid, and
    * each centroid joins the group of its NEAREST super-centroid (same
    * signed-cos² key as the row assignment; ties to the lower group
    * index), so a group is the Voronoi cell of its super-centroid over
    * the centroid set — a real coarse-over-coarse quantizer, not an
    * arbitrary chunking. O(k^1.5) driver work on ≤ a-few-thousand rows.
    * Groups that attract no centroid are dropped (their super-centroid
    * also lives in some other group as an ordinary centroid, so nothing
    * is lost from level 2).
    */
  private type HierCent = (Long, IndexedSeq[Long], Long)

  private[graft] def hierGroups(centsIn: Seq[HierCent]):
      IndexedSeq[(IndexedSeq[Long], Long, IndexedSeq[HierCent])] = {
    // pin cid order before striding: callers hand us collect() output,
    // whose partition order varies with layout/parallelism, and the
    // super-centroid selection (hence nprobe>1 assignment on the scale
    // path) must not depend on it.
    val cents = centsIn.sortBy(_._1)
    val k = cents.length
    val stride = math.ceil(math.sqrt(k.toDouble)).toInt
    val supers = cents.zipWithIndex
      .collect { case (c, i) if i % stride == 0 => (c._2, c._3) }.toIndexedSeq
    def keyTo(c: HierCent, sup: (IndexedSeq[Long], Long)): Double = {
      val dot = c._2.iterator.zip(sup._1.iterator)
        .map { case (a, b) => a * b }.sum
      (dot * dot).toDouble / (c._3 * sup._2).toDouble *
        (if (dot < 0) -1.0 else 1.0)
    }
    def assign(): Seq[(Int, HierCent)] = cents.map { c =>
      var best = 0
      var bestKey = Double.NegativeInfinity
      var i = 0
      while (i < supers.length) {
        val akey = keyTo(c, supers(i))
        if (akey > bestKey) { bestKey = akey; best = i }
        i += 1
      }
      (best, c)
    }
    // NOTE on training: Lloyd-refining the super-centroids (floor-mean
    // rounds over the centroid table) was tried and MEASURED WORSE on the
    // clustered fixture — cos²-space means of spread groups drift toward
    // "average" directions that then win even more assignments (max cell
    // 1446 vs 847 untrained). The balance problem it aimed at was a
    // sampling artifact (id-aligned centroid sample; fixed in
    // [[seedCentroids]] by hash sampling under the knob), so the level-1
    // quantizer stays the plain every-stride-th seeding.
    val assigned = assign()
    val byGroup = assigned.groupBy(_._1)
    supers.indices.flatMap { i =>
      byGroup.get(i).map { members =>
        (supers(i)._1, supers(i)._2,
          members.map(_._2).sortBy(_._1).toIndexedSeq)
      }
    }
  }

  /** The `nprobe` nearest centroid cells for one row, as an
    * `array<bigint>` of cell ids in rank order — the native codegen'd
    * [[graft.functions.NearestCells]] reduction. The centroids ride
    * inside the expression (k ≈ sqrt(n) rows — a few hundred KB at most)
    * and the scan is one compiled k×dim multiply-add loop per row: zero
    * shuffle, and nothing wider than the input row ever materializes —
    * unlike the original crossJoin+window form, which built an n·k-row
    * frame and shuffled it through a row_number just to keep 1–2 rows per
    * vector (the dominant cost of every IVF query at 10× scale). An
    * intermediate `transform`+`array_sort` lambda form had this dataflow
    * but ran interpreted (HOFs are not codegen'd) and lost the win.
    * Ordering ties out with the oracle window (`akey` DESC, `cid` ASC);
    * keys are never NaN since the fixture has no zero vectors.
    */
  private def topCells(s: SparkSession, cents: Seq[Cent], e: Column,
      nrm: Column, nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val thr = s.conf.getOption(HierThresholdConf).map(_.toInt)
      .getOrElse(HierThresholdDefault)
    val norm = cents
      .map { case (cid, ce, cn) => (cid, ce.toIndexedSeq, cn) }.toIndexedSeq
    if (norm.length >= thr)
      ColumnBridge.column(graft.functions.NearestCellsHier(
        ColumnBridge.expression(e), ColumnBridge.expression(nrm),
        hierGroups(norm), nprobe))
    else
      ColumnBridge.column(graft.functions.NearestCells(
        ColumnBridge.expression(e), ColumnBridge.expression(nrm),
        norm, nprobe))
  }

  /** IVF coarse assignment shared by q41/q42, the blocked cosine near-dup
    * (q36) and the blocked ε-join (q52): every vector with its quantized
    * embedding, norm and nearest-centroid bucket id.
    */
  def ivfAssigned(s: SparkSession, d: String): DataFrame =
    ivfAssignedN(s, d, 1).drop("probe_rank")

  /** Generalized assignment keeping the `nprobe` NEAREST centroid cells
    * per vector (`probe_rank` = 1..nprobe). The corpus is stored under
    * its rank-1 cell; at query time probing rank-2+ cells recovers
    * neighbors that fell just across a cell boundary — the standard IVF
    * recall knob. Candidate sets from different probed cells are disjoint
    * (each corpus vector lives in exactly one cell), so no dedup join.
    *
    * Null contract: a NULL embedding is unindexable and is EXCLUDED from
    * the output (NearestCells yields NULL, posexplode emits no row) —
    * the standard ANN-index rule. The pre-NearestCells window form
    * instead assigned such rows to the smallest cid (NULL ordering
    * artifact), which was never a meaningful assignment; all gated
    * fixtures are NULL-free, so no oracle row distinguishes the two.
    */
  def ivfAssignedN(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val cents = seedCentroids(s, d)
    quantized(s, d)
      .select($"vec_id", $"e", $"nrm",
        posexplode(topCells(s, cents, $"e", $"nrm", nprobe)))
      .select($"vec_id", $"e", $"nrm", $"col".as("cid"),
        ($"pos" + 1).cast("int").as("probe_rank"))
  }

  /** Trained IVF centroids: Lloyd's k-means over the quantized embedding
    * lattice, seeded with the deterministic fixture quantizer
    * ([[seedCentroids]]) and run for `iters` assignment→update rounds. The update is
    * an element-wise FLOOR of the per-cell mean (`floor(sum/count)` with
    * the sums exact BIGINTs), so every round — and therefore the final
    * index — is bit-reproducible and expressible in the DuckDB oracle;
    * a float mean would reintroduce the summation-order sensitivity the
    * quantized lattice exists to kill. Cells that attract no vectors
    * drop out (standard Lloyd's; k may shrink).
    *
    * Scale shape — the MLlib KMeans loop: per round, one O(n·k)
    * shuffle-free assignment scan against driver-held centroids
    * ([[topCells]]) plus one (cid, dim)-keyed partial-aggregated shuffle
    * of n·dim skinny rows, whose k·dim result rows are collected back to
    * the driver for the next round (k ≈ sqrt(n) keeps that tiny). At
    * 100 TB you train on a sample and only the final assignment sees the
    * full corpus.
    */
  def kmeansCentroids(s: SparkSession, d: String, iters: Int): Seq[Cent] = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    // every round is a driver-side collect (its own action), and the seed
    // adds a count+collect pair — without this persist each of those
    // re-reads parquet and re-quantizes the full corpus
    val emb = quantized(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    var cents = seedCentroids(s, d)
    for (_ <- 1 to iters) {
      val updated = assignToCells(emb, cents)
        .select($"cid", posexplode($"e").as(Seq("pos", "x")))
        .groupBy($"cid", $"pos")
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
        // Spark `/` on BIGINTs is DOUBLE division, identical to the
        // oracle's floor(1.0*sum/count): both divide exactly-representable
        // integers (|sum| ≪ 2^53) in IEEE double, so the floor agrees
        .select($"cid", $"pos", floor($"sx" / $"n").cast("long").as("v"))
        .as[(Long, Int, Long)].collect()
      cents = updated.groupBy(_._1).toSeq.map { case (cid, rows) =>
        val ce = rows.sortBy(_._2).map(_._3).toSeq
        (cid, ce, ce.iterator.map(v => v * v).sum)
      }.sortBy(_._1)
    }
    // the CacheManager plan-matches seedCentroids'/the rounds' fresh
    // quantized frames onto this persist; release it before returning so
    // the training cache never outlives the training
    emb.unpersist(blocking = false)
    cents
  }

  /** Persist a trained IVF index: the centroid table is k ≈ √n rows —
    * THE artifact that makes IVF economical at corpus scale, because
    * training is the expensive pass and every later job (ingest batches,
    * query serving, the blocked near-dup joins) loads the index and pays
    * only the assignment scan. Parquet keeps the exact BIGINT lattice.
    */
  private[graft] def writeIndex(s: SparkSession, cents: Seq[Cent], dir: String): Unit =
    // k rows: a single file is the right layout for a broadcast artifact
    indexFrame(s, cents).coalesce(1).write.mode("overwrite").parquet(dir)

  /** An index as the `(cid, ce, cnrm)` frame it is stored as. */
  private[graft] def indexFrame(s: SparkSession, cents: Seq[Cent]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "ce", "cnrm")
  }

  /** Load a persisted index back into the driver-held form the
    * assignment expressions consume; cid-sorted so downstream grouping
    * ([[hierGroups]]) is layout-independent.
    */
  private[graft] def readIndex(s: SparkSession, dir: String): Seq[Cent] =
    indexOf(s.read.parquet(dir))

  /** Collect a stored [[indexFrame]] back into the driver-held form. */
  private[graft] def indexOf(stored: DataFrame): Seq[Cent] = {
    import stored.sparkSession.implicits._
    stored.as[(Long, Seq[Long], Long)].collect().sortBy(_._1).toSeq
  }

  /** Nearest-cell assignment of a quantized frame `(vec_id, e, nrm)` to
    * driver-held centroids: [[topCells]] rank-1 cell per vector, ties on
    * cid — the same rule as [[ivfAssignedN]].
    */
  private[graft] def assignToCells(emb: DataFrame, cents: Seq[Cent]): DataFrame =
    emb.withColumn("cid",
      element_at(topCells(emb.sparkSession, cents, col("e"), col("nrm"), 1), 1))

  /** IVF assignment against an index pinned to a SUB-corpus — the
    * incremental-ingest shape, where the index predates the new batch:
    * seeds are every m-th vec_id OF `indexSubset` with
    * m = max(50, floor(sqrt(n_subset))), and each `rowSubset` vector
    * (standing and batch alike) is assigned to its nearest pinned cell.
    * Production systems hold the coarse quantizer fixed across daily
    * batches and retrain only at full-rebuild cadence, because changing
    * the index re-cells the standing corpus and invalidates every
    * blocked artifact derived from it (pair sets, cluster tables).
    * `reembed` reverses the rows' embeddings before assignment — the
    * deterministic re-embedding stand-in of the ER update path: a
    * dimension permutation, so the norm is unchanged and both engines
    * compute the transformed vector exactly (`functions.reverse` here,
    * `list_reverse` in the DuckDB oracle). Output: (vec_id, e, nrm, cid)
    * like [[ivfAssigned]].
    */
  private[graft] def ivfAssignedPinned(s: SparkSession, d: String,
      indexSubset: Column => Column,
      rowSubset: Column => Column = _ => lit(true),
      reembed: Boolean = false): DataFrame =
    assignPinned(s, d, pinnedCentroids(s, d, indexSubset), rowSubset, reembed)

  /** Assign the `rowSubset` rows of `d` (reversed first when `reembed`)
    * to the pinned index `cents` — a serve that stored its index
    * assigns only its batch rows against it instead of re-deriving it.
    */
  private[graft] def assignPinned(s: SparkSession, d: String,
      cents: Seq[Cent], rowSubset: Column => Column = _ => lit(true),
      reembed: Boolean = false): DataFrame = {
    val rows = quantized(s, d).filter(rowSubset(col("vec_id")))
    assignToCells(
      if (reembed) rows.withColumn("e", reverse(col("e"))) else rows, cents)
  }

  /** The index [[ivfAssignedPinned]] pins: every m-th vec_id of the
    * `indexSubset` rows, m = max(50, floor(sqrt(n_subset))). */
  private[graft] def pinnedCentroids(s: SparkSession, d: String,
      indexSubset: Column => Column): Seq[Cent] = {
    import s.implicits._
    val q = quantized(s, d)
    val sub = q.filter(indexSubset($"vec_id"))
    val m = centroidModulus(s, sub.count())
    // same seed-pick rule as [[seedCentroids]], including the bench-only
    // hash-sample variant under the spacing knob (id-aligned replica
    // corpora otherwise collapse the sample — see seedCentroids)
    val pick =
      if (s.conf.getOption(SpacingConf).isDefined)
        pmod(hash($"vec_id"), lit(m)) === 0
      else $"vec_id" % m === 0
    sub.filter(pick)
      .select($"vec_id", $"e", $"nrm").as[(Long, Seq[Long], Long)]
      .collect().toSeq
  }

  /** Shared body of the nprobe-generalized SemDeDup queries (q136 n=2,
    * q139 n=4): train (2 Lloyd rounds), assign each vector to its
    * `nprobe` nearest trained cells, form candidate pairs within ANY
    * shared cell (distinct-ed — a pair can share several), drop the
    * higher id of every above-bar pair. The assigned frame feeds the
    * self-join's both sides plus the final keep projection — persist or
    * pay the O(n·k) assignment scan three times (Bench clears caches
    * between queries). Scale: assignment rows = n·nprobe; per-cell pair
    * work grows ~nprobe² but stays blocked (cell-keyed equi-join), so
    * the recall knob never reopens the all-pairs path.
    */
  private[graft] def semanticDedupNprobe(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    val cents = kmeansCentroids(s, d, 2)
    val cell = quantized(s, d)
      .select($"vec_id", $"e", $"nrm",
        explode(topCells(s, cents, $"e", $"nrm", nprobe)).as("cid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // LEFT SEMI with the similarity bar INSIDE the join condition: a
    // probe row is "dropped" as soon as ONE above-bar lower-id
    // cell-mate exists, so the per-bucket scan short-circuits at the
    // first hit and no pair row is ever materialized — where the
    // inner-join + distinct form computes EVERY above-bar pair (the
    // candidate set grows ~nprobe², the dominant cost at nprobe=4)
    // just to throw all but one bit per vector away. Same drop set by
    // construction; measured for q139: ~41 → 7.8 s at 10×, 87.5 →
    // 14.7 s at 100× (bench/r09_sf10_semidedup.json) — the dedup
    // DECISION is far cheaper than the dedup PAIR SET, which remains
    // available through the q36-style dump operators when a consumer
    // actually wants pairs.
    val dropped = cell.as("a")
      .join(cell.as("b"),
        $"a.cid" === $"b.cid" && $"b.vec_id" < $"a.vec_id" &&
          dot($"a.e", $"b.e") > 0 &&
          dot($"a.e", $"b.e") * dot($"a.e", $"b.e") * 8 >=
            $"a.nrm" * $"b.nrm",
        "left_semi")
      .select($"vec_id").distinct()
      .withColumn("dup", lit(1L))
    cell.select($"vec_id").distinct()
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id",
        when($"dup".isNull, 1L).otherwise(0L).as("keep"))
      .orderBy($"vec_id")
  }

  /** The ADAPTIVE-nprobe SemDeDup rung: every
    * vector probes its `lo` nearest cells unconditionally, and cells of
    * rank lo+1..`hi` only while they sit within `margin` of the vector's
    * BEST cell in signed-cos² key space — i.e. extra probes go exactly
    * to the vectors parked near a cell boundary, where split
    * neighborhoods (the pairs a uniform nprobe misses) live. Measured at
    * sf0.1 (`tools/recall_boundary.py`, n=2000/k=40): lo=4 hi=6
    * margin=0.1 reads pair recall 0.922 / drop recall 0.978 for 1.41M
    * candidate pairs — past the ≥0.9 bar for 78% of uniform nprobe=6's
    * pair work (0.956 @ 1.80M; uniform 5 reads 0.890 @ 1.25M, under the
    * bar). sf0.001/sf0.01 both read 1.00/1.00.
    *
    * Mechanics: [[topCells]] (the codegen'd broadcast-centroid
    * expression — never an n×k materialization) yields the `hi` nearest
    * cells in oracle rank order; the margin test recomputes each probed
    * cell's key IN THE DATAFRAME LAYER with the exact arithmetic the
    * oracle uses (int64 dot, one double division, sign flip — bit-equal
    * across engines), against a broadcast k-row centroid frame. Keys
    * are rank-monotone, so the per-row filter equals the prototype's
    * scan-until-break. The keep rule is [[semanticDedupNprobe]]'s
    * left-semi short-circuit, unchanged.
    */
  private[graft] def semanticDedupBoundary(s: SparkSession, d: String,
      lo: Int = 4, hi: Int = 6, margin: Double = 0.1): DataFrame = {
    import s.implicits._
    import org.apache.spark.storage.StorageLevel
    require(lo >= 1 && hi >= lo && margin >= 0,
      s"semdedup knobs out of range: lo=$lo hi=$hi margin=$margin " +
        "(need 1 <= lo <= hi, margin >= 0)")
    val cents = kmeansCentroids(s, d, 2)
    val centDf = cents.toDF("cid", "ce", "cnrm")
    val keyed = quantized(s, d)
      .select($"vec_id", $"e", $"nrm",
        posexplode(topCells(s, cents, $"e", $"nrm", hi)).as(Seq("pos", "cid")))
      .join(broadcast(centDf), "cid")
      .withColumn("dot", dot($"e", $"ce"))
      .withColumn("key",
        ($"dot" * $"dot").cast("double") / ($"nrm" * $"cnrm").cast("double")
          * when($"dot" < 0, -1).otherwise(1))
    val w = Window.partitionBy($"vec_id")
    val cell = keyed
      .withColumn("key1", max($"key").over(w))
      .filter($"pos" < lo || $"key1" - $"key" <= margin)
      .select($"vec_id", $"e", $"nrm", $"cid")
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
    cell.select($"vec_id").distinct()
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id",
        when($"dup".isNull, 1L).otherwise(0L).as("keep"))
      .orderBy($"vec_id")
  }
}
