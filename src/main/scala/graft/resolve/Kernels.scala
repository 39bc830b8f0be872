package graft.resolve

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import graft.Tables
import graft.functions.VectorOps

/** The entity-resolution kernels: ε-neighbour pairs (exact and
  * IVF-blocked), connected components, BFS and PageRank. Each kernel
  * decision is written once here; the merges, snapshots and registries
  * that compose them live in [[EntityResolution]] and [[Lifecycle]].
  *
  * With `min_samples=2` DBSCAN clusters are exactly the connected
  * components of the ε-neighbourhood graph (`keyword_merger.py:191-197`),
  * so resolution is an ε-pair kernel feeding CC, whose min-reachable-id
  * label is the min-representative rule.
  *
  * ε predicate, exact in integers over `VectorOps.quantize`d vectors:
  * cos ≥ num/den ⟺ dot > 0 ∧ den²·dot² ≥ num²·|a|²·|b|².
  *
  * The graph kernels are size-adaptive: a graph whose vertex and edge
  * counts both fit [[MaxDriverCcEdges]] is collected once and solved on
  * the driver ([[DriverGraph]]); a larger one runs distributed (GraphX
  * Pregel, or the RDD loop for PageRank). Both branches give
  * bit-identical rows (`AdaptiveKernelsSpec`), so the route only moves
  * cost: the distributed kernels carry a fixed floor of several job
  * submissions per superstep that dominates a graph of a few thousand
  * vertices.
  */
object Kernels {

  // --------------------------------------------------------------------
  // Exact ε-pairs
  // --------------------------------------------------------------------

  /** Ceiling on the exact kernel's collected side — it must fit on the
    * driver and the pair loop is O(n²); term universes (orgs, addresses,
    * keywords: ~10²-10⁵ in the reference) sit far below it, corpora sit
    * far above. */
  val MaxExactVectors: Long = 1000000L

  /** Build sides at least this large spread the probe side over the
    * session's default parallelism. A small term or embedding frame
    * reads as 1-2 parquet splits, which would run the whole O(n·m)
    * compare loop on as many cores; below this size a self-pair loop is
    * at most ~32M compares, subsecond on the natural splits, and the
    * extra shuffle costs more than it saves. */
  private[resolve] val SpreadRows = 8192

  /** One-job bounded collect: `limit(n).collect()` alone plans
    * CollectLimitExec, whose executeTake scans partitions in escalating
    * rounds (1, 4, 16, ...), so an in-cap input that never hits the
    * limit pays ~log₄(partitions) job submissions. `coalesce(1)` under
    * the limit makes the result stage one task — exactly one job — while
    * upstream shuffle stages keep their parallelism. Row order equals
    * executeTake's: coalesce concatenates parent partitions in index
    * order. Over-cap inputs stop at `lim` rows via the per-partition
    * LocalLimit.
    */
  private def collectUpTo[T](ds: Dataset[T], lim: Int): Array[T] =
    ds.coalesce(1).limit(lim).collect()

  /** (vec_id, quantized embedding) — the quantization runs in the Column
    * pipeline, bit-identical to every other consumer of `embedding`. */
  private[resolve] def quantized(df: DataFrame): Dataset[(Long, Array[Long])] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("vec_id").cast("long"),
        VectorOps.quantize(col("embedding")).as("e"))
      .as[(Long, Array[Long])]
  }

  /** The exact kernel's size guard and build side in one job: a
    * limit-probed collect of at most `maxExactVectors` rows, sorted by
    * `id`. A separate count() would run the upstream lineage — for the
    * ingested-term callers the whole tagged parse — twice. The guard
    * fails loudly, naming `who` and the scale path.
    */
  private[resolve] def collectExact[T](rows: Dataset[T], who: String,
      maxExactVectors: Long)(id: T => Long): Array[T] = {
    val cap = math.min(maxExactVectors, Int.MaxValue - 1L).toInt
    val got = collectUpTo(rows, cap + 1)
    require(got.length <= cap,
      s"$who is the EXACT all-pairs kernel (driver-collected build side, " +
        s"O(n^2) compare loop): input exceeds " +
        s"maxExactVectors=$maxExactVectors. Use blockedEpsPairs (IVF-cell " +
        "equi join, fully distributed) for corpus-scale inputs.")
    got.sortBy(id)
  }

  private def sqNorm(w: Array[Long]): Long = {
    var s0 = 0L
    var i = 0
    while (i < w.length) { s0 += w(i) * w(i); i += 1 }
    s0
  }

  /** The exact ε loop: every (probe row, build row) pair within ε.
    * `build` must be sorted by id. With `upper`, a probe row meets only
    * the build rows of strictly greater id and pairs come out as
    * (probe id, build id) — each unordered pair of one frame once, and
    * duplicate ids pair exactly as often as a nested loop over them.
    * Without it, a probe row meets every build row and pairs come out as
    * (least, greatest) — for disjoint probe and build ids, each pair
    * once.
    */
  private def epsNear(probeRows: Iterator[(Long, Array[Long])],
      build: Array[(Long, Array[Long])], num: Int, den: Int,
      upper: Boolean): Iterator[(Long, Long)] = {
    val n2 = num.toLong * num
    val d2 = den.toLong * den
    val norms = build.map(r => sqNorm(r._2))
    probeRows.flatMap { case (id, v) =>
      val nv = sqNorm(v)
      var lo = 0
      if (upper) {
        var hi = build.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (build(mid)._1 <= id) lo = mid + 1 else hi = mid
        }
      }
      (lo until build.length).iterator.flatMap { j =>
        val (bid, w) = build(j)
        var dot = 0L
        var k = 0
        val len = math.min(v.length, w.length)
        while (k < len) { dot += v(k) * w(k); k += 1 }
        if (dot > 0 && cmpScaled(dot, d2, nv, n2, norms(j)) >= 0)
          Some(if (upper) (id, bid) else (math.min(id, bid), math.max(id, bid)))
        else None
      }
    }
  }

  /** [[epsNear]] on the executors: `build` is broadcast, `probe` streams
    * through once — the dataflow a BroadcastNestedLoopJoin plans, minus
    * its per-pair row machinery. */
  private[resolve] def epsNearDistributed(probe: Dataset[(Long, Array[Long])],
      build: Array[(Long, Array[Long])], num: Int, den: Int,
      upper: Boolean): DataFrame = {
    val s = probe.sparkSession
    import s.implicits._
    val side = s.sparkContext.broadcast(build)
    val spread =
      if (build.length >= SpreadRows)
        probe.repartition(s.sparkContext.defaultParallelism)
      else probe
    spread.mapPartitions(it => epsNear(it, side.value, num, den, upper))
      .toDF("u", "v")
  }

  /** ε-neighbour pairs (u < v) with cos ≥ num/den over any
    * (vec_id, embedding: array<float>) frame, exact. This all-pairs
    * kernel is the test-scale correctness anchor (SURVEY §7.5 risk 1);
    * corpus-scale candidate generation is [[blockedEpsPairs]].
    */
  def epsPairsOf(emb0: DataFrame, num: Int, den: Int,
                 maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val rows = quantized(emb0)
    epsNearDistributed(rows,
      collectExact(rows, "epsPairsOf", maxExactVectors)(_._1), num, den,
      upper = true)
  }

  /** Every ε-pair with at least one `batch` endpoint, for `probe` and
    * `batch` frames with DISJOINT ids (the serve split of a day's batch
    * against its survivors): equal to `epsPairsOf(probe ∪ batch)`
    * restricted to batch endpoints, at O(|probe|·|batch| + |batch|²)
    * compares, so the serve cost follows the batch, not the universe.
    * The one batch collect is the guard, the broadcast build side of the
    * probe×batch pairs and the input of the batch×batch pairs, which run
    * on the driver below [[SpreadRows]] (no job) and distributed above.
    */
  private[resolve] def batchEndpointPairs(probe: DataFrame,
      batch: DataFrame, num: Int, den: Int,
      maxExactVectors: Long = MaxExactVectors): DataFrame = {
    val s = probe.sparkSession
    import s.implicits._
    val batchRows = quantized(batch)
    val bRows = collectExact(batchRows, "batchEndpointPairs",
      maxExactVectors)(_._1)
    val cross = epsNearDistributed(quantized(probe), bRows, num, den,
      upper = false)
    val bb =
      if (bRows.length >= SpreadRows)
        epsNearDistributed(batchRows, bRows, num, den, upper = true)
      else
        epsNear(bRows.iterator, bRows, num, den, upper = true).toSeq
          .toDF("u", "v")
    cross.unionByName(bb)
  }

  /** Sign of dot²·d2 − nv·nw·n2, exact at ANY operand magnitude. Fast
    * path: when the pre-scaled factors (dot·d2, nv·n2) themselves fit in
    * a Long, [[cmp128]] compares the two 128-bit products with
    * `multiplyHigh` intrinsics (no allocation). Otherwise — embeddings
    * whose quantized norms push dot·d2 past 63 bits — fall back to BigInt
    * (allocates, but only for such extreme inputs; never silently wraps),
    * so the predicate agrees with the oracle's HUGEINT arithmetic.
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

  /** ε-neighbour pairs with the production threshold cos ≥ 0.35 (= 7/20). */
  def epsPairs(s: SparkSession, d: String): DataFrame =
    epsPairsOf(Tables.embeddings(s, d), 7, 20)

  // --------------------------------------------------------------------
  // Blocked ε-pairs
  // --------------------------------------------------------------------

  /** The cell ε predicate over a joined frame whose sides are aliased
    * `a` and `b`, each carrying its quantized vector `e` and squared norm
    * `nrm`: adds `dot` and keeps the rows with cos ≥ num/den.
    *
    * The column math runs under Spark's ANSI mode, which THROWS on Long
    * overflow rather than wrapping — quantized unit-norm embeddings leave
    * ~2× headroom (|dot| ≤ 1e8, dot²·400 ≤ 4e18 < 2⁶³); larger-norm
    * corpora fail loudly, not corrupt.
    */
  private[graft] def cellEps(joined: DataFrame, num: Int, den: Int): DataFrame =
    joined.withColumn("dot", VectorOps.dot(col("a.e"), col("b.e")))
      .filter(col("dot") > 0 && col("dot") * col("dot") * (den * den) >=
        col("a.nrm") * col("b.nrm") * (num * num))

  /** ε-pairs (u < v) at cos ≥ 0.35 within shared IVF cells of one
    * assigned (vec_id, cid, e, nrm) frame. */
  private[resolve] def epsCellPairsOrdered(assigned: DataFrame): DataFrame =
    cellEps(assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id")),
        7, 20)
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"))

  /** The 100 TB-scale candidate generation: ε-neighbour pairs restricted
    * to IVF centroid cells (the q41 coarse assignment) — an equi join on
    * the cell id, no all-pairs loop and no driver collect anywhere in the
    * lineage. Approximate: cross-cell neighbours are missed (the standard
    * IVF recall trade; nprobe>1 narrows it). The graph-analytics queries
    * (q52 CC, q53 BFS, q54 PageRank) consume this frame.
    */
  def blockedEpsPairs(s: SparkSession, d: String): DataFrame =
    epsCellPairsOrdered(graft.similarity.Similarity.ivfAssigned(s, d))

  // --------------------------------------------------------------------
  // Graph kernels: CC, BFS, PageRank
  // --------------------------------------------------------------------

  /** Ceiling on the driver graph kernels: the probe collects at most this
    * many vertices and edges (16 B/edge ⇒ ≤ ~64 MB driver transfer at the
    * cap), and union-find over 2M edges runs in tens of milliseconds.
    * Affected-set graphs of the incremental-ER serve paths sit far below
    * it; corpus-scale standing builds sit above and run distributed.
    */
  val MaxDriverCcEdges: Int = 2000000

  /** Conf override for [[MaxDriverCcEdges]]: a cluster deployment sizes
    * the driver kernels' ceiling to its driver memory, and a bench cell
    * sets it to 0 to force the distributed kernels at a scale where every
    * graph would otherwise route to the driver, so a regression in them
    * cannot hide behind the driver route. Consulted only when the caller
    * leaves the parameter at its default; an explicit argument always
    * wins.
    */
  val MaxDriverCcEdgesConf = "spark.graft.cc.maxDriverEdges"

  private def effectiveMaxDriverEdges(s: SparkSession, param: Int): Int =
    if (param != MaxDriverCcEdges) param
    else s.conf.getOption(MaxDriverCcEdgesConf).map(_.toInt).getOrElse(param)

  /** A graph collected to the driver: every id interned to a dense index
    * — vertex-frame ids first, so index `i` is in the frame iff
    * `i < framed`, then edge endpoints the frame lacks, which GraphX also
    * promotes to vertices — and a CSR adjacency over both edge
    * directions, built on first use.
    */
  private final class DriverGraph(vrows: Array[Long], erows: Array[(Long, Long)]) {
    private val index = new mutable.LongMap[Int](vrows.length * 2)
    private val interned = new mutable.ArrayBuffer[Long](vrows.length)
    private def intern(id: Long): Int =
      index.getOrElse(id, {
        val i = interned.length; interned += id; index.update(id, i); i
      })
    vrows.foreach(intern)
    val framed: Int = interned.length
    /** edge e joins indices ends(2e) and ends(2e + 1) */
    private val ends: Array[Int] =
      erows.flatMap { case (u, v) => val iu = intern(u); Array(iu, intern(v)) }
    val ids: Array[Long] = interned.toArray
    def n: Int = ids.length

    /** neighbours of i are nbr(off(i) until off(i + 1)) */
    private lazy val (off, nbr) = {
      val off = new Array[Int](n + 1)
      ends.foreach(i => off(i + 1) += 1)
      var i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val nbr = new Array[Int](off(n))
      val cursor = java.util.Arrays.copyOf(off, n)
      var e = 0
      while (e < ends.length) {
        val iu = ends(e); val iv = ends(e + 1)
        nbr(cursor(iu)) = iv; cursor(iu) += 1
        nbr(cursor(iv)) = iu; cursor(iv) += 1
        e += 2
      }
      (off, nbr)
    }

    /** (id, min id of its component) per interned id: union-find, then
      * the min id per root. */
    def components: Array[(Long, Long)] = {
      val parent = Array.tabulate(n)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      var e = 0
      while (e < ends.length) {
        val ru = find(ends(e)); val rv = find(ends(e + 1))
        if (ru != rv) parent(ru) = rv
        e += 2
      }
      val minOf = Array.fill(n)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val r = find(i)
        if (ids(i) < minOf(r)) minOf(r) = ids(i)
        i += 1
      }
      Array.tabulate(n)(i => (ids(i), minOf(find(i))))
    }

    /** (id, min hops from `seed`) for every id within `maxHops`: frontier
      * expansion level by level — what Pregel's min-message fixpoint
      * computes. An absent seed reaches nothing. */
    def hops(seed: Long, maxHops: Int): Array[(Long, Long)] =
      index.get(seed).fold(Array.empty[(Long, Long)]) { s0 =>
        val dist = Array.fill(n)(Int.MaxValue)
        dist(s0) = 0
        var frontier = Array(s0)
        var hop = 0
        while (hop < maxHops && frontier.nonEmpty) {
          val next = new mutable.ArrayBuffer[Int]()
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
        (0 until n).collect { case i if dist(i) != Int.MaxValue =>
          (ids(i), dist(i).toLong) }.toArray
      }

    /** (id, rank) per frame vertex after `iters` rounds of the exact
      * scaled-integer recurrence of [[pageRank]]. The RDD loop's join
      * semantics hold exactly: out-degree counts EVERY neighbour, but
      * only frame vertices hold a rank — an endpoint outside the frame
      * neither contributes nor receives (adj⋈ranks and verts⟕sums drop
      * it). */
    def ranks(iters: Int): Array[(Long, Long)] = {
      val reset = PrScale * 15 / 100
      var ranks = Array.tabulate(n)(i => if (i < framed) PrScale else 0L)
      var it = 0
      while (it < iters) {
        val sums = new Array[Long](n)
        var i = 0
        while (i < framed) {
          val deg = off(i + 1) - off(i)
          if (deg > 0) {
            val c = Math.multiplyExact(ranks(i), 85L) / (100L * deg)
            var j = off(i)
            while (j < off(i + 1)) {
              val w = nbr(j); sums(w) = Math.addExact(sums(w), c); j += 1
            }
          }
          i += 1
        }
        val next = new Array[Long](n)
        i = 0
        while (i < framed) { next(i) = Math.addExact(reset, sums(i)); i += 1 }
        ranks = next
        it += 1
      }
      Array.tabulate(framed)(i => (ids(i), ranks(i)))
    }
  }

  /** One-job size probe of the adaptive kernels: collect the tagged union
    * `(0, vec_id, 0) ∪ (1, u, v)` under ONE limit of 2·cap+1. If the
    * limit was hit, some side exceeds cap by pigeonhole (both ≤ cap ⇒
    * total ≤ 2·cap); if not, every row was collected and the per-side
    * counts are exact. So the route is the driver iff |V| ≤ cap and
    * |E| ≤ cap, and the collected rows are the driver graph. On fallback
    * the probe costs one extra materialization of a lineage the
    * distributed kernel materializes several times anyway.
    */
  private def driverGraph(s: SparkSession, vertices: DataFrame,
      pairs: DataFrame, maxDriverEdges: Int): Option[DriverGraph] = {
    import s.implicits._
    val cap = effectiveMaxDriverEdges(s, maxDriverEdges)
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
    else Some(new DriverGraph(v.map(_._2), e.map(r => (r._2, r._3))))
  }

  /** A driver-kernel result as a local frame. No repartition:
    * LocalTableScanExec already parallelizes a driver-local result to
    * min(rows, defaultParallelism) slices, and an explicit round-robin
    * repartition would add an Exchange to every consumer's plan. */
  private def local(s: SparkSession, rows: Array[(Long, Long)],
      a: String, b: String): DataFrame = {
    import s.implicits._
    s.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
      .toDF(a, b)
  }

  /** Connected components over an (u, v) edge frame for the given vertex
    * frame (one `vec_id` column): (vec_id, component) where component =
    * min vec_id reachable — DBSCAN(min_samples=2) parity. Edge endpoints
    * missing from the vertex frame are labelled too (GraphX promotes
    * them). Routed by size: union-find on the driver below
    * `maxDriverEdges`, GraphX Pregel above.
    */
  def connectedComponents(s: SparkSession, vertices: DataFrame,
      pairs: DataFrame, maxDriverEdges: Int = MaxDriverCcEdges): DataFrame =
    driverGraph(s, vertices, pairs, maxDriverEdges) match {
      case Some(g) => local(s, g.components, "vec_id", "component")
      case None => connectedComponentsPregel(s, vertices, pairs)
    }

  /** Connected components of the ε-graph over an already-collected,
    * id-sorted `build` side, solved on the driver with no job: the
    * [[epsNear]] self-pair loop feeding union-find. `None` — take the
    * distributed kernels — at or above [[SpreadRows]] rows (the O(n²)
    * loop belongs on the executors there) or when the vertices or pairs
    * exceed the driver cap. Same (vec_id, component) rows as
    * [[connectedComponents]] over [[epsPairsOf]] of the same rows.
    */
  private[resolve] def driverEpsComponents(s: SparkSession,
      build: Array[(Long, Array[Long])], num: Int,
      den: Int): Option[Array[(Long, Long)]] = {
    val cap = effectiveMaxDriverEdges(s, MaxDriverCcEdges)
    if (cap <= 0 || build.length >= SpreadRows || build.length > cap) None
    else {
      val pairs = epsNear(build.iterator, build, num, den, upper = true)
        .take(cap + 1).toArray
      if (pairs.length > cap) None
      else Some(new DriverGraph(build.map(_._1), pairs).components)
    }
  }

  /** The distributed (GraphX Pregel) CC kernel, the route above the
    * driver cap. */
  private[resolve] def connectedComponentsPregel(s: SparkSession,
      vertices: DataFrame, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // GraphX materializes its input RDDs several times while building and
    // iterating the graph — without persist, the (expensive) ε-join
    // upstream would re-execute once per materialization.
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

  /** Variable-length traversal (SURVEY §2.3 J10 note: "GraphX/Pregel BFS
    * when hop count is a parameter"): (vec_id, hops) for the vertices
    * within `maxHops` of the seed over an undirected (u, v) edge frame,
    * hops = min hop count. Both routes assume the edge set is closed
    * over the vertex frame, which every caller guarantees.
    */
  def bfsReach(s: SparkSession, vertices: DataFrame, pairs: DataFrame,
               seed: Long, maxHops: Int,
               maxDriverEdges: Int = MaxDriverCcEdges): DataFrame =
    driverGraph(s, vertices, pairs, maxDriverEdges) match {
      case Some(g) => local(s, g.hops(seed, maxHops), "vec_id", "hops")
      case None => bfsReachPregel(s, vertices, pairs, seed, maxHops)
    }

  /** The distributed (GraphX Pregel) BFS kernel, the route above the
    * driver cap: hop-count messages, state = min hops seen. */
  private def bfsReachPregel(s: SparkSession, vertices: DataFrame,
      pairs: DataFrame, seed: Long, maxHops: Int): DataFrame = {
    import org.apache.spark.graphx.{EdgeDirection, EdgeTriplet, VertexId}
    import s.implicits._
    val vertRdd = vertices.select(col("vec_id").cast("long")).rdd
      .map(r => (r.getLong(0), if (r.getLong(0) == seed) 0 else Int.MaxValue))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeRdd = pairs.select(col("u").cast("long"), col("v").cast("long")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
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
    * (the same integer recurrence unrolled as CTEs), and the driver route
    * runs the same recurrence in one pass.
    *
    * Distributed shape: a hash-co-partitioned RDD iteration — GraphX's
    * own layout, minus its vertex-program machinery. The adjacency (with
    * its loop-invariant out-degree) is built ONCE with a single shuffle
    * and persisted co-partitioned with the rank frame, so each round's
    * adjacency⋈ranks and verts⟕sums joins are NARROW; the only per-round
    * shuffle is the contribution `reduceByKey`. Because the loop is pure
    * RDD lineage (no Catalyst re-analysis per round), all `iters` rounds
    * are scheduled inside ONE job when the result is first materialized.
    *
    * Fault tolerance: intermediate rounds are recomputable from the
    * persisted adjacency via shuffle files — standard lineage recovery.
    * For very deep iteration counts, pass `checkpointEvery` > 0 and set
    * `sc.setCheckpointDir` to cut lineage with a RELIABLE checkpoint
    * every k rounds — each cut materializes eagerly (one job per k
    * rounds, the standard iterate-vs-lineage trade), since a mark-only
    * `checkpoint()` would neither truncate the first job's lineage nor
    * write any but the last marked round.
    *
    * Overflow: total mass ≤ n·S, so Longs hold to ~10⁸ vertices at the
    * ×85 step; `multiplyExact`/`addExact` fail loudly (ArithmeticException)
    * rather than wrap beyond that. Skew: a hot vertex holds its adjacency
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
    // persisted so the (expensive) candidate-generation lineage runs once
    // for the probe and the distributed route's sizing count and
    // adjacency build
    val edges = pairs
      .select(col("u").cast("long"), col("v").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    driverGraph(s, vertices, edges, maxDriverEdges) match {
      case Some(g) =>
        edges.unpersist(blocking = false)
        return local(s, g.ranks(iters), "vec_id", "rank")
      case None => ()
    }
    // size the partitioner to the per-round MESSAGE volume (2 endpoints
    // per edge), not the vertex count, capped by the session's shuffle
    // parallelism: a vertex-only rule plans one partition for a graph of
    // few vertices but many replica-dense edges, and every round then
    // runs single-task; a small graph still iterates in few-task stages
    // instead of paying conf-many near-empty task launches per round
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
}
