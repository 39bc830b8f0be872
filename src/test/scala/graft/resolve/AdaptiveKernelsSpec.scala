package graft.resolve

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The size-adaptive graph kernels ([[Kernels.connectedComponents]],
  * [[Kernels.bfsReach]], [[Kernels.pageRank]]) route small graphs to a
  * driver kernel instead of GraphX Pregel / the RDD loop, and must be
  * BIT-IDENTICAL to the distributed paths — same rows, same labels, same
  * exact integer ranks. Each test runs the same graph through both
  * branches by forcing the cap (`maxDriverEdges`).
  */
class AdaptiveKernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a fixed graph with several components, a chain, a cycle, an isolated
  // vertex, and an id absent from the vertex frame never appearing in
  // edges (closed edge set — the kernels' shared contract)
  private def verts = Seq.range(0L, 200L).toDF("vec_id")
  private def pairs = (Seq.tabulate(80)(i => ((i * 3 % 150).toLong, (i * 7 % 150).toLong))
    .filter { case (u, v) => u != v } ++
    Seq((150L, 151L), (151L, 152L), (152L, 153L), (160L, 161L)))
    .toDF("u", "v")

  test("connected components: driver union-find ≡ Pregel labels") {
    val driver = Kernels
      .connectedComponents(spark, verts, pairs)
      .as[(Long, Long)].collect().toMap
    val pregel = Kernels
      .connectedComponentsPregel(spark, verts, pairs)
      .as[(Long, Long)].collect().toMap
    assert(driver === pregel)
    assert(driver.nonEmpty)
    // a zero cap routes the public entry point to the Pregel form
    val routed = Kernels
      .connectedComponents(spark, verts, pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(routed === pregel)
  }

  test("bfsReach: driver frontier BFS ≡ Pregel min-hops, per maxHops") {
    for (hops <- Seq(1, 2, 4)) {
      val driver = Kernels
        .bfsReach(spark, verts, pairs, seed = 0L, maxHops = hops)
        .as[(Long, Long)].collect().toMap
      val pregel = Kernels
        .bfsReach(spark, verts, pairs, seed = 0L, maxHops = hops,
          maxDriverEdges = 0) // force the distributed branch
        .as[(Long, Long)].collect().toMap
      assert(driver === pregel, s"maxHops=$hops")
      assert(driver(0L) === 0L)
    }
  }

  test("bfsReach: absent seed reaches nothing on both paths") {
    val driver = Kernels
      .bfsReach(spark, verts, pairs, seed = 999999L, maxHops = 3)
      .collect()
    val pregel = Kernels
      .bfsReach(spark, verts, pairs, seed = 999999L, maxHops = 3,
        maxDriverEdges = 0)
      .collect()
    assert(driver.isEmpty && pregel.isEmpty)
  }

  test("pageRank: driver loop ≡ distributed RDD loop, exact integers") {
    val driver = Kernels
      .pageRank(spark, verts, pairs, iters = 10)
      .as[(Long, Long)].collect().toMap
    val dist = Kernels
      .pageRank(spark, verts, pairs, iters = 10, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver === dist)
    // isolated vertex holds exactly the reset mass on the driver path too
    assert(driver(199L) === Kernels.PrScale * 15 / 100)
  }
}
