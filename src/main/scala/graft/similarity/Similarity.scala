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
    * ([[modulusSql]]) interpolates the sqrt rule only.
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

  /** DuckDB mirror of [[centroidModulus]] — interpolate where the oracle
    * selects its centroid rows.
    */
  private[graft] val modulusSql =
    "(SELECT greatest(50, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** A collected centroid row: (cid, quantized vector, squared norm).
    * k ≈ sqrt(n) of these; at any scale this is the small side that IVF
    * exists to keep broadcastable.
    */
  private[graft] type Cent = (Long, Seq[Long], Long)

  private def quantized(s: SparkSession, d: String): DataFrame = {
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
  private def writeIndex(s: SparkSession, cents: Seq[Cent], dir: String): Unit =
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
  private def readIndex(s: SparkSession, dir: String): Seq[Cent] =
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
  private def assignToCells(emb: DataFrame, cents: Seq[Cent]): DataFrame =
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
  private def semanticDedupNprobe(s: SparkSession, d: String,
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
  private[similarity] def semanticDedupBoundary(s: SparkSession, d: String,
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
      val dir = graft.sinks.SinkQueries.tmp(s, "q49_index")
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

  private val quantSql =
    """SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
       FROM embeddings"""

  /** CTE chain mirroring [[kmeansCentroids]]: seeds `c0` (every
    * [[modulusSql]]-th vector), then per round an assignment (`a$i`, rank-1 cell, cid
    * tiebreak) and the FLOOR-mean update (`m$i` → `c$i`). Ends at
    * `c$iters`, the trained centroid set. The floor of `1.0*sum/count`
    * divides exactly-representable integers in IEEE double — identical
    * to the Spark side's BIGINT `floor(sx / n)`.
    */
  private def kmeansSql(iters: Int): String = {
    val sb = new StringBuilder(
      s"""q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         c0 AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                FROM n WHERE vec_id % $modulusSql = 0)""")
    for (i <- 1 to iters) {
      sb ++= s""",
         ap$i AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c${i - 1} c),
         a$i AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM ap$i) t WHERE rn = 1),
         m$i AS (SELECT cid, pos,
                 CAST(floor(1.0 * sum(x) / count(*)) AS BIGINT) AS v
               FROM (SELECT a.cid, generate_subscripts(n.e, 1) AS pos,
                            unnest(n.e) AS x
                     FROM a$i a JOIN n ON a.vec_id = n.vec_id) t
               GROUP BY cid, pos),
         c$i AS (SELECT cid, list(v ORDER BY pos) AS ce,
                 CAST(list_sum(list_transform(list(v ORDER BY pos),
                   x -> x*x)) AS BIGINT) AS cnrm
               FROM m$i GROUP BY cid)"""
    }
    sb.toString
  }

  /** DuckDB mirror of [[semanticDedupNprobe]], parameterized on the
    * probe count (`rn <= nprobe` is the only knob).
    */
  private def semanticDedupNprobeSql(nprobe: Int): String =
    s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c),
         af AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM apf) t WHERE rn <= $nprobe),
         full0 AS (SELECT a.vec_id, a.cid, n.e, n.nrm
                   FROM af a JOIN n ON a.vec_id = n.vec_id),
         p AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
               FROM full0 a JOIN full0 b
                 ON a.cid = b.cid AND b.vec_id < a.vec_id
               WHERE list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) > 0
                 AND 8 * CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT)
                       * CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT)
                     >= a.nrm * b.nrm),
         dup AS (SELECT DISTINCT va AS vec_id FROM p)
         SELECT v.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM n v LEFT JOIN dup d ON v.vec_id = d.vec_id
         ORDER BY v.vec_id"""

  def oracles: Map[String, String] = Map(
    "q40_ann_bruteforce_topk" ->
      s"""WITH q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e, (x,i) -> x * c.e[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 5 ORDER BY qid, rank""",
    "q41_ivf_assign" ->
      s"""WITH q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                  FROM n WHERE vec_id % $modulusSql = 0),
         p AS (SELECT n.vec_id, cent.cid,
                 CAST(list_sum(list_transform(n.e, (x,i) -> x * cent.ce[i])) AS BIGINT) AS dot,
                 n.nrm, cent.cnrm
               FROM n CROSS JOIN cent),
         k AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM p)
         SELECT vec_id, cid AS centroid_id FROM k WHERE rn = 1
         ORDER BY vec_id""",
    "q42_ivf_topk" ->
      s"""WITH q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                  FROM n WHERE vec_id % $modulusSql = 0),
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
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e, (x,i) -> x * c.e[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM full0 q JOIN full0 c
                 ON q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    "q43_ivf_topk_nprobe2" ->
      s"""WITH q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                  FROM n WHERE vec_id % $modulusSql = 0),
         ap AS (SELECT n.vec_id, cent.cid,
                 CAST(list_sum(list_transform(n.e, (x,i) -> x * cent.ce[i])) AS BIGINT) AS dot,
                 n.nrm, cent.cnrm
               FROM n CROSS JOIN cent),
         ranked AS (
           SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                 * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
           FROM ap),
         corpus AS (SELECT r.vec_id, r.cid, n.e, n.nrm
                    FROM ranked r JOIN n ON r.vec_id = n.vec_id
                    WHERE r.rn = 1),
         probes AS (SELECT r.vec_id, r.cid, n.e, n.nrm
                    FROM ranked r JOIN n ON r.vec_id = n.vec_id
                    WHERE r.rn <= 2 AND r.vec_id < 10),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e, (x,i) -> x * c.e[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM probes q JOIN corpus c
                 ON q.cid = c.cid AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    // SQ8 mirror: the same data-derived scale (127 / global max|x| in
    // DOUBLE), the same clamp+round to BIGINT (both engines round ties
    // away from zero), then the q40 machinery over the quantized ints —
    // the binary packing is internal to the Spark side and arithmetic-
    // neutral by construction.
    "q48_sq8_topk" ->
      """WITH sc AS (
           SELECT 127.0 / max(list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE))))) AS s
           FROM embeddings),
         q8 AS (SELECT vec_id,
                  list_transform(embedding, x ->
                    CAST(greatest(-127, least(127,
                      round(CAST(x AS DOUBLE) * sc.s)))
                      AS BIGINT)) AS e
                FROM embeddings CROSS JOIN sc),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q8),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e, (x,i) -> x * c.e[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 5 ORDER BY qid, rank""",
    // IVF × SQ8: q42's coarse assignment (quantize-lattice cells) +
    // q48's int8 lattice for the in-cell scoring.
    "q120_ivf_sq8_topk" ->
      s"""WITH q0 AS ($quantSql),
         n AS (SELECT vec_id, e,
                 CAST(list_sum(list_transform(e, x -> x*x)) AS BIGINT) AS nrm
               FROM q0),
         cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cnrm
                  FROM n WHERE vec_id % $modulusSql = 0),
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
         sc AS (
           SELECT 127.0 / max(list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE))))) AS s
           FROM embeddings),
         q8 AS (SELECT vec_id,
                  list_transform(embedding, x ->
                    CAST(greatest(-127, least(127,
                      round(CAST(x AS DOUBLE) * sc.s)))
                      AS BIGINT)) AS e8
                FROM embeddings CROSS JOIN sc),
         n8 AS (SELECT vec_id, e8,
                 CAST(list_sum(list_transform(e8, x -> x*x)) AS BIGINT) AS nrm
               FROM q8),
         full0 AS (SELECT a.vec_id, a.cid, n8.e8, n8.nrm
                   FROM assigned a JOIN n8 ON a.vec_id = n8.vec_id),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e8, (x,i) -> x * c.e8[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM full0 q JOIN full0 c
                 ON q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    "q121_kmeans_assign" ->
      s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c)
         SELECT vec_id, cid AS centroid_id FROM (
           SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                 * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
           FROM apf) t WHERE rn = 1
         ORDER BY vec_id""",
    "q122_ivf_trained_topk" ->
      s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c),
         af AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM apf) t WHERE rn = 1),
         full0 AS (SELECT a.vec_id, a.cid, n.e, n.nrm
                   FROM af a JOIN n ON a.vec_id = n.vec_id),
         p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
                 CAST(list_sum(list_transform(q.e, (x,i) -> x * c.e[i])) AS BIGINT) AS dot,
                 q.nrm AS qn, c.nrm AS cn
               FROM full0 q JOIN full0 c
                 ON q.cid = c.cid AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         k AS (SELECT qid, nid,
                 CAST(dot*dot AS DOUBLE) / CAST(qn*cn AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key
               FROM p),
         r AS (SELECT qid, nid, key,
                 CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY key DESC, nid) AS BIGINT) AS rank
               FROM k)
         SELECT qid, rank, nid,
           CAST(floor(key * 1000000.0) AS BIGINT) AS cos2_x1e6
         FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    "q49_ivf_index_roundtrip" ->
      s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c)
         SELECT vec_id, cid AS centroid_id FROM (
           SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                 * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
           FROM apf) t WHERE rn = 1
         ORDER BY vec_id""",
    "q136_semantic_dedup_nprobe2" -> semanticDedupNprobeSql(2),
    "q139_semantic_dedup_nprobe4" -> semanticDedupNprobeSql(4),
    "q148_semantic_dedup_nprobe5" -> semanticDedupNprobeSql(5),
    // adaptive rule: rank ≤ 4 always; ranks 5..6 while the signed-cos²
    // key sits within 0.1 of the vector's best key (key1 is the max
    // over the rank ≤ 6 subset = the global max, since rank 1 is in it)
    "q152_semantic_dedup_boundary" ->
      s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c),
         rk AS (SELECT vec_id, cid,
                 CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                   * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) AS key,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM apf),
         af AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid, key, rn,
                   max(key) OVER (PARTITION BY vec_id) AS key1
                 FROM rk WHERE rn <= 6) t
               WHERE rn <= 4 OR key1 - key <= 0.1),
         full0 AS (SELECT a.vec_id, a.cid, n.e, n.nrm
                   FROM af a JOIN n ON a.vec_id = n.vec_id),
         p AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
               FROM full0 a JOIN full0 b
                 ON a.cid = b.cid AND b.vec_id < a.vec_id
               WHERE list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) > 0
                 AND 8 * CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT)
                       * CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT)
                     >= a.nrm * b.nrm),
         dup AS (SELECT DISTINCT va AS vec_id FROM p)
         SELECT v.vec_id,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM n v LEFT JOIN dup d ON v.vec_id = d.vec_id
         ORDER BY v.vec_id""",
    "q133_semantic_dedup" ->
      s"""WITH ${kmeansSql(2)},
         apf AS (SELECT n.vec_id, c.cid,
                 CAST(list_sum(list_transform(n.e, (x,j) -> x * c.ce[j])) AS BIGINT) AS dot,
                 n.nrm, c.cnrm
               FROM n CROSS JOIN c2 c),
         af AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY
                   CAST(dot*dot AS DOUBLE) / CAST(nrm*cnrm AS DOUBLE)
                     * (CASE WHEN dot < 0 THEN -1 ELSE 1 END) DESC, cid) AS rn
               FROM apf) t WHERE rn = 1),
         full0 AS (SELECT a.vec_id, a.cid, n.e, n.nrm
                   FROM af a JOIN n ON a.vec_id = n.vec_id),
         p AS (SELECT a.vec_id,
                 CAST(list_sum(list_transform(a.e, (x,i) -> x * b.e[i])) AS BIGINT) AS dot,
                 a.nrm AS an, b.nrm AS bn
               FROM full0 a JOIN full0 b
                 ON a.cid = b.cid AND b.vec_id < a.vec_id),
         dup AS (SELECT DISTINCT vec_id FROM p
                 WHERE dot > 0 AND 8*dot*dot >= an*bn)
         SELECT f.vec_id, f.cid,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM full0 f LEFT JOIN dup d ON f.vec_id = d.vec_id
         ORDER BY f.vec_id"""
  )
}
