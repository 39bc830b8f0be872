package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The record contract of `graft.Bench`: the pure rendering of a sweep,
  * and the job-group attribution of its per-query costs. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Cost, Sweep}

  private val json = new ObjectMapper()
  private def parse(line: String): JsonNode = json.readTree(line)

  private def sweep(times: Seq[(String, Seq[Double])],
      builds: Seq[(String, Double)] = Nil,
      costs: Map[String, Cost] = Map.empty) =
    Sweep(times, builds, Nil, costs, runs = 3, cpus = "4",
      sf = "/data/testdata/sf0.1")

  test("the summary is the last line, under 2,000 chars, and carries the parsed fields") {
    // the full registry's size, with every served build failed: the
    // largest summary a real sweep can print
    val names = (1 to 161).map(i => f"q$i%03d_a_query_name_of_ordinary_length")
    val builds = Bench.ServedFamily.toSeq.sorted.map(_ -> -1.5)
    val out = Bench.lines(sweep(names.map(_ -> Seq(1.0, 2.0, 3.0)), builds))
    assert(out.size === 3)
    assert(out(1) === "BENCHLINE:" + out.last)
    assert(out.last.length < 2000, out.last.length)
    val s = parse(out.last)
    for (f <- Seq("metric", "value", "n_queries", "n_failed", "runs", "cpus", "sf"))
      assert(s.has(f), f)
    assert(s.get("metric").asText === "total")
    assert(s.get("value").asDouble === 161 * 2.0)
    assert(s.get("n_queries").asInt === 161)
    assert(s.get("n_failed").asInt === 0)
    assert(s.get("runs").asInt === 3)
    assert(s.get("cpus").asInt === 4)
    assert(s.get("sf").asText === "/data/testdata/sf0.1")
    assert(parse(out.head).get("build_failed").size === Bench.ServedFamily.size)
  }

  test("a crashed query is negative in queries, listed in failed and left out of value") {
    val out = Bench.lines(sweep(Seq(
      "q01" -> Seq(1.0, 3.0, 2.0),
      "q02" -> Seq(-0.5, -0.7, -0.6),
      "q03" -> Seq(4.0, -9.0, 6.0))))
    val full = parse(out.head)
    val qs = full.get("queries")
    assert(qs.get("q01").asDouble === 2.0)
    assert(qs.get("q02").asDouble === -0.5, "first time to failure")
    assert(qs.get("q03").asDouble === 5.0, "median of the successful calls")
    assert(full.get("failed").elements.asScala.map(_.asText).toSeq === Seq("q02"))
    assert(full.get("n_failed").asInt === 1)
    assert(full.get("value").asDouble === 7.0)
    assert(parse(out.last).get("n_failed").asInt === 1)
    assert(parse(out.last).get("value").asDouble === 7.0)
  }

  test("the full record carries raw, served and per-query jobs") {
    val costs = Map(
      "q01" -> Cost(jobs = 6, input = 3000000L, memSpill = 600000L),
      "q142_answer_served" -> Cost(jobs = 9),
      Bench.buildGroup("q142_answer_served") -> Cost(jobs = 40))
    val full = parse(Bench.lines(sweep(
      Seq("q01" -> Seq(1.0, 1.0, 1.0), "q142_answer_served" -> Seq(0.5, 0.25, 0.75),
        "q99" -> Seq(2.0, 2.0, 2.0)),
      builds = Seq("q142_answer_served" -> 8.0), costs = costs)).head)
    assert(full.get("runs").asInt === 3)
    assert(full.get("raw").get("q142_answer_served").elements.asScala
      .map(_.asDouble).toSeq === Seq(0.5, 0.25, 0.75))
    val served = full.get("served").get("q142_answer_served")
    assert(served.get("build_sec").asDouble === 8.0)
    assert(served.get("serve_sec").asDouble === 0.5)
    assert(served.get("build_jobs").asInt === 40)
    val jobs = full.get("jobs")
    assert(jobs.fieldNames.asScala.toSeq === Seq("q01", "q142_answer_served", "q99"))
    assert(jobs.get("q01").asDouble === 2.0, "jobs per measured call")
    assert(jobs.get("q142_answer_served").asDouble === 3.0)
    assert(jobs.get("q99").asDouble === 0.0, "a query with no job still has an entry")
    val q01 = full.get("task_metrics").get("q01")
    assert(q01.get("input_mb").asDouble === 1.0)
    assert(q01.get("mem_spill_mb").asDouble === 0.2)
  }

  test("QueryCosts attributes each job group's jobs and input to that group") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val costs = new Bench.QueryCosts
    sc.addSparkListener(costs)
    def grouped(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    try {
      grouped("two_jobs") {
        sc.parallelize(1 to 10, 2).count()
        sc.parallelize(1 to 10, 2).count()
      }
      sc.parallelize(1 to 10, 2).count() // no group: not attributed
      grouped("scan") {
        Tables.load(spark, TestSpark.TinySf, "documents")
          .write.format("noop").mode("overwrite").save()
      }
      // listener events arrive in order: once the barrier's job start is
      // seen, every earlier job and task event has been counted
      grouped("barrier")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60e9.toLong
      while (!costs.result.contains("barrier") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val r = costs.result
      assert(r.keySet === Set("two_jobs", "scan", "barrier"))
      assert(r("two_jobs").jobs === 2)
      assert(r("two_jobs").input === 0)
      assert(r("scan").jobs >= 1)
      assert(r("scan").input > 0)
    } finally sc.removeSparkListener(costs)
  }
}
