package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE`. Starts its own local session on every core,
  * sets the workload up several times, drives it as one closed-loop
  * client for S seconds, checks the outputs outside the timed windows,
  * and writes one JSON record to FILE. Metric arithmetic happens in
  * `run.py`, which reads that record.
  */
object Main {

  /** What one operation returns: facts for the record, and a check of its
    * outputs that runs after the timed window closes.
    */
  final case class Result(extra: Map[String, Any], verify: () => Boolean)

  final case class Op(id: Int, startNs: Long, endNs: Long, traced: Boolean,
                      extra: Map[String, Any])

  /** Everything a workload reports back to the record. */
  final class Run(val spark: SparkSession, val tracer: Tracer,
                  val work: Path, val seed: Long, val seconds: Int) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val values = mutable.LinkedHashMap.empty[String, Any]
    val setups = mutable.ArrayBuffer.empty[Double]
    var peakLiveHeapB = 0L
    var verifyS = 0.0
    val dataDir: Path = work.resolve("data")

    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.take(400))

    /** Live heap after a full collection, sampled after each round of
      * operations (in local mode the driver is also the executor).
      */
    def sampleHeap(): Unit = {
      // the second collection frees what Spark's cleaner released after
      // the first one cleared the weak references it watches
      System.gc()
      Thread.sleep(200)
      System.gc()
      val rt = Runtime.getRuntime
      peakLiveHeapB = math.max(peakLiveHeapB, rt.totalMemory() - rt.freeMemory())
    }

    /** Closed loop: run `op(i)` until `seconds` have passed and a whole
      * number of rounds of `round` operations is done, so every run sees
      * the same operation mix. In a traced run every operation is traced.
      */
    def loop(round: Int)(op: Int => Result): Unit = {
      val deadline = System.nanoTime() + seconds * 1000000000L
      var i = 0
      while (i == 0 || System.nanoTime() < deadline || i % round != 0) {
        val traced = tracer.enabled
        val filesBefore = if (traced) fileCounts() else (0L, 0L)
        val t0 = System.nanoTime()
        val res =
          if (traced) tracer.op(s"op$i")(op(i))
          else op(i)
        val t1 = System.nanoTime()
        // the store census is taken before the check, which may drop tables
        val census = Map("max_files_per_table" -> maxFilesPerTable())
        val written =
          if (!traced) Map.empty
          else {
            val (w, o) = fileCounts()
            Map("warehouse_files" -> (w - filesBefore._1),
              "out_files" -> (o - filesBefore._2))
          }
        // outputs are checked outside the timed window
        val ok = scala.util.Try(res.verify()).recover { case e =>
          check(s"op$i.verify", ok = false, e.toString); false
        }.get
        verifyS += (System.nanoTime() - t1) / 1e9
        ops += Op(i, t0, t1, traced, res.extra ++ written ++ census + ("ok" -> ok))
        i += 1
        if (i % round == 0) sampleHeap()
      }
    }

    private def files(d: Path): Seq[Path] =
      if (!Files.exists(d)) Nil
      else Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

    /** Data files under the warehouse and under the output directory. */
    private def fileCounts(): (Long, Long) =
      (files(work.resolve("warehouse")).size.toLong,
        files(work.resolve("out")).size.toLong)

    /** Largest data-file count of any warehouse table. */
    def maxFilesPerTable(): Long = {
      val wh = work.resolve("warehouse")
      if (!Files.exists(wh)) 0L
      else (Files.list(wh).iterator().asScala.filter(Files.isDirectory(_))
        .map(t => files(t).count(_.getFileName.toString.startsWith("part-")).toLong)
        .toSeq :+ 0L).max
    }

    /** Add facts to a finished operation's record. */
    def amendOp(id: Int, facts: Map[String, Any]): Unit = {
      val k = ops.indexWhere(_.id == id)
      ops(k) = ops(k).copy(extra = ops(k).extra ++ facts)
    }

    /** Set the workload up `times` times, keep the last state; each set-up
      * is timed on its own and the record keeps every timing.
      */
    def setUp[T](times: Int)(body: Int => T): T = {
      var last: Option[T] = None
      for (k <- 0 until times) {
        val t0 = System.nanoTime()
        last = Some(tracer.call(s"setup$k")(body(k)))
        setups += (System.nanoTime() - t0) / 1e9
      }
      sampleHeap()
      last.get
    }
  }

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Seq("warehouse", "local", "tmp", "data", "out").foreach(d =>
      Files.createDirectories(work.resolve(d)))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("local").resolve("ckpt").toString)
    val sessionS = (System.nanoTime() - t00) / 1e9
    val tracer = new Tracer(traced)
    tracer.attach(spark.sparkContext)
    val run = new Run(spark, tracer, work, seed, seconds)
    var error: Option[Throwable] = None
    try workload match {
      case "qa_serve" => Workloads.qaServe(run)
      case "corpus_curate" => Workloads.corpusCurate(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    // drop every table the run left in the catalog, so the bytes still in
    // the run's directories afterwards are what the engine leaked
    scala.util.Try {
      spark.catalog.listTables().collect().foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t.name}` PURGE"))
      spark.catalog.clearCache()
    }
    val spans = tracer.all
    val tStop = System.nanoTime()
    spark.stop()
    Json.write(Paths.get(a("out")), Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "seconds" -> seconds, "trace" -> traced,
      "session_start_s" -> sessionS,
      "verify_s" -> run.verifyS,
      "tracing_busy_s" -> tracer.busyNs / 1e9,
      "run_s" -> (tStop - t00) / 1e9,
      "stop_s" -> (System.nanoTime() - tStop) / 1e9,
      "setups_s" -> run.setups.toList,
      "peak_live_heap_mb" -> run.peakLiveHeapB / 1048576.0,
      "error" -> error.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull,
      "values" -> run.values.toMap,
      "checks" -> run.checks.toList,
      "ops" -> run.ops.map(o => Map("id" -> o.id,
        "start_ns" -> o.startNs, "end_ns" -> o.endNs, "traced" -> o.traced,
        "extra" -> o.extra)).toList,
      "spans" -> spans.map(sp => Map("id" -> sp.id, "parent" -> sp.parent,
        "op" -> sp.op, "kind" -> sp.kind, "name" -> sp.name,
        "start_ns" -> sp.start, "end_ns" -> sp.end, "attrs" -> sp.attrs)).toList))
    sys.exit(if (error.isEmpty) 0 else 3)
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans, null).
  */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(p: Path, v: Any): Unit =
    Files.write(p, render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
