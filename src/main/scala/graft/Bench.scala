package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The sweep timer: runs every registry query (sorted by name) through
  * the noop sink and prints one JSON record, then a compact summary
  * twice — `BENCHLINE:`-prefixed, then bare as the last line.
  *
  * Environment:
  *  - `SPARK_GRAFT_SF_DIR`: fixture directory (default: the sf0.1 fixture);
  *  - `SPARK_GRAFT_CPUS`: `local[N]` and the shuffle partitions (default:
  *    the JVM's available processors);
  *  - `SPARK_GRAFT_BENCH_RUNS`: measured calls per query; the record keeps
  *    the median and every raw time (default 3);
  *  - `SPARK_GRAFT_ONLY`: comma-separated query subset (unset: the whole
  *    registry, the only mode whose totals compare across commits);
  *  - `SPARK_GRAFT_CC_MAX_DRIVER_EDGES`: forwarded to
  *    [[graft.resolve.Kernels.MaxDriverCcEdgesConf]] (0 forces the
  *    distributed graph kernels; results are identical on either route).
  *
  * Each query's measured calls run under a job group named after it, so
  * the record also carries that query's jobs, spill, shuffle and input
  * per call.
  */
object Bench {

  /** Build-once/serve-many queries: the first call in a JVM pays a
    * standing build (a day-0 snapshot, a served binding) before it serves.
    * Each gets one build pass before the sweep, kept out of its median,
    * so the recorded median is the serve cost at any `runs`. `build_sec` in
    * the `served` object is that first-call total (build plus one serve).
    */
  val ServedFamily: Set[String] = Set("q142_answer_served",
    "q143_er_incremental_served", "q147_stream_to_serve",
    "q150_er_tombstones_served", "q153_er_tombstones_sparse",
    "q155_er_updates_served", "q156_er_updates_sparse",
    "q157_tagged_er_updates_served", "q158_tagged_er_tombstones_served",
    "q159_tagged_er_inserts_served", "q160_tagged_er_multiday",
    "q161_tagged_er_crud_lifecycle", "q165_tagged_er_crud_lifecycle_mor",
    "q167_tagged_er_mor_compact",
    "q162_er_crud_lifecycle", "q163_er_crud_lifecycle_mor",
    "q166_er_crud_lifecycle_mor_compact", "q169_er_mor_compact_policy",
    "q168_stream_mor_splice")

  /** Scan split width. Each fixture table is one parquet file, so the
    * default 128 MB split hands a large table to one core; 8 MB splits
    * the 100× tables into ~7-130 tasks and leaves sf0.1 (≤10 MB files)
    * unchanged.
    */
  val SplitBytes: Long = 8L * 1024 * 1024

  /** Job group of a served query's build pass. */
  def buildGroup(name: String): String = name + "/build"

  /** Work one job group submitted, summed over its tasks except
    * `peakExec`, the largest single task's peak execution memory. */
  final case class Cost(jobs: Long = 0, memSpill: Long = 0,
      diskSpill: Long = 0, peakExec: Long = 0, shuffleWrite: Long = 0,
      shuffleRead: Long = 0, input: Long = 0)

  /** One sweep's measurements, everything [[lines]] renders.
    * `times` holds each query's raw measured times in sweep order, a
    * crashed call as its negative time to failure; `builds` and
    * `buildRetried` hold the served family's build passes (the retried
    * map keeps a failed first attempt's negative time); `costs` is keyed
    * by job group.
    */
  final case class Sweep(times: Seq[(String, Seq[Double])],
      builds: Seq[(String, Double)], buildRetried: Seq[(String, Double)],
      costs: Map[String, Cost], runs: Int, cpus: String, sf: String)

  /** Sums task metrics per job group (`spark.jobGroup.id`); jobs outside
    * a group are ignored. Read [[result]] after `SparkContext.stop`,
    * which drains the listener bus, so no event is still in flight.
    */
  private[graft] final class QueryCosts extends SparkListener {
    private val groupOfStage = mutable.HashMap.empty[Int, String]
    private val costs = mutable.HashMap.empty[String, Cost]
    private def add(g: String)(f: Cost => Cost): Unit =
      costs(g) = f(costs.getOrElse(g, Cost()))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          e.stageIds.foreach(groupOfStage(_) = g)
          add(g)(c => c.copy(jobs = c.jobs + 1))
        }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics))
        add(g)(c => c.copy(
          memSpill = c.memSpill + m.memoryBytesSpilled,
          diskSpill = c.diskSpill + m.diskBytesSpilled,
          peakExec = math.max(c.peakExec, m.peakExecutionMemory),
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          input = c.input + m.inputMetrics.bytesRead))
    }
    def result: Map[String, Cost] = synchronized(costs.toMap)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The three output lines: the full record, the `BENCHLINE:` summary
    * and the bare summary, which must stay the last line. A consumer that
    * keeps only the tail of the last line (about 2,000 chars) gets the
    * whole summary, so it carries counts and the served family's failed
    * builds, never a per-query map.
    * A query's value is the median of its successful calls; a query whose
    * calls all failed records its first negative time and is listed in
    * `failed`; `value` sums the successful queries only.
    */
  def lines(w: Sweep): Seq[String] = {
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
    def num(v: Double, fmt: String = "%.4f"): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    def str(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Iterable[String]): String = xs.map(str).mkString("[", ",", "]")
    val results = w.times.map { case (name, ts) =>
      val ok = ts.filter(_ >= 0)
      name -> (if (ok.nonEmpty) median(ok) else ts.head)
    }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failed = results.collect { case (n, v) if v < 0 => n }
    val buildFailed = w.builds.collect { case (n, b) if b < 0 => n }
    def mb(bytes: Long): String = num(bytes / 1e6 / w.runs, "%.1f")
    val costs = w.times.map { case (n, _) => n -> w.costs.getOrElse(n, Cost()) }
    val served = w.builds.map { case (n, b) =>
      n -> obj(Seq("build_sec" -> num(b),
        "serve_sec" -> num(results.toMap.getOrElse(n, -1.0)),
        "build_jobs" -> w.costs.getOrElse(buildGroup(n), Cost()).jobs.toString))
    }
    val full = obj(Seq(
      "metric" -> str("total"), "value" -> total.toString, "unit" -> str("sec"),
      "queries" -> obj(results.map { case (n, v) => n -> v.toString }),
      "failed" -> arr(failed), "n_failed" -> failed.size.toString,
      "build_failed" -> arr(buildFailed),
      "build_retried" -> obj(w.buildRetried.map { case (n, b) => n -> num(b) }),
      "served" -> obj(served),
      "runs" -> w.runs.toString,
      "raw" -> obj(w.times.map { case (n, ts) => n -> ts.map(num(_)).mkString("[", ",", "]") }),
      "jobs" -> obj(costs.map { case (n, c) => n -> num(c.jobs.toDouble / w.runs, "%.1f") }),
      "task_metrics" -> obj(costs.map { case (n, c) => n -> obj(Seq(
        "mem_spill_mb" -> mb(c.memSpill), "disk_spill_mb" -> mb(c.diskSpill),
        "peak_task_exec_mb" -> num(c.peakExec / 1e6, "%.1f"),
        "shuffle_write_mb" -> mb(c.shuffleWrite),
        "shuffle_read_mb" -> mb(c.shuffleRead), "input_mb" -> mb(c.input))) }),
      "cpus" -> w.cpus, "sf" -> str(w.sf)))
    val summary = obj(Seq(
      "metric" -> str("total"), "summary" -> "true", "value" -> total.toString,
      "unit" -> str("sec"), "n_queries" -> results.size.toString,
      "n_failed" -> failed.size.toString, "build_failed" -> arr(buildFailed),
      "n_served" -> w.builds.size.toString, "runs" -> w.runs.toString,
      "cpus" -> w.cpus, "sf" -> str(w.sf)))
    Seq(full, "BENCHLINE:" + summary, summary)
  }

  def main(args: Array[String]): Unit = {
    val env = sys.env
    val sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val runs = env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val only = env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", SplitBytes.toString)
      .config("spark.ui.enabled", "false")
    env.get("SPARK_GRAFT_CC_MAX_DRIVER_EDGES")
      .foreach(v => builder.config(graft.resolve.Kernels.MaxDriverCcEdgesConf, v))
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val costs = new QueryCosts
    sc.addSparkListener(costs)
    // JVM/codegen warm-up and first touch of every fixture's parquet
    // footers, outside every measured call
    try {
      spark.range(1000).selectExpr("sum(id) s")
        .write.format("noop").mode("overwrite").save()
      Tables.names.foreach(n => Tables.load(spark, sfDir, n).limit(1).count())
    } catch { case _: Throwable => () }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def grouped[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    // One call through the noop sink, which computes every projection
    // (unlike count()). A crash returns its negative time to failure.
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // each query runs without the previous ones' persisted frames: drop
      // both the SQL cache and RDD-level blocks it never tracks (GraphX
      // internals, localCheckpoint blocks). Standing tables live on disk.
      try {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
      if (ok) dt else -dt
    }
    // Every standing build runs before the sweep; a failed build pass is
    // retried once, since a measured call would otherwise re-pay it.
    val builds = mutable.LinkedHashMap.empty[String, Double]
    val buildRetried = mutable.LinkedHashMap.empty[String, Double]
    selected.filter(p => ServedFamily(p._1)).foreach { case (name, fn) =>
      grouped(buildGroup(name)) {
        val first = runOnce(name, fn)
        builds(name) =
          if (first >= 0) first
          else { buildRetried(name) = first; runOnce(name, fn) }
      }
    }
    val times = selected.map { case (name, fn) =>
      name -> grouped(name)((1 to runs).map(_ => runOnce(name, fn)))
    }
    spark.stop()
    lines(Sweep(times, builds.toSeq, buildRetried.toSeq, costs.result, runs,
      cpus, sfDir)).foreach(println)
  }
}
