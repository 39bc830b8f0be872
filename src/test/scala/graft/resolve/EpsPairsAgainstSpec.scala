package graft.resolve

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Kernel-level pin for the serve split: for DISJOINT probe/batch id
  * sets, `batchEndpointPairs(probe, batch)` must equal
  * `epsPairsOf(probe ∪ batch)` restricted to pairs with a batch
  * endpoint — the exact substitution the q157/q158/q159 serve paths make
  * (IngestedErSpec pins it end-to-end at the 7-term fixture; this spec
  * pins the kernels directly on deterministic pseudo-random frames where
  * the ε-graph is dense enough to exercise cross, batch-batch, and
  * below-threshold pairs, with the batch×batch pairs on the driver and,
  * for a batch past the spread threshold, distributed).
  */
class EpsPairsAgainstSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def randFrame(n: Int) = {
    // deterministic embeddings via the production encoder stub over
    // synthetic terms — the same geometry the ingested callers feed it
    spark.range(n)
      .select(concat(lit("term"), col("id")).as("term"))
      .select(col("term"),
        conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        EntityResolution.termEmbedding(col("term")).as("embedding"))
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("split union equals the unioned kernel filtered to batch endpoints " +
      "(several thresholds)") {
    val terms = randFrame(400).cache()
    val isB = (c: org.apache.spark.sql.Column) => c % 3 === 1
    val probe = terms.filter(!isB(col("vec_id")))
    val batch = terms.filter(isB(col("vec_id")))
      .withColumn("embedding", reverse(col("embedding")))
    for ((num, den) <- Seq((7, 20), (24, 25), (1, 2))) {
      val whole = pairSet(
        Kernels.epsPairsOf(probe.unionByName(batch), num, den)
          .filter(isB(col("u")) || isB(col("v"))))
      val split = Kernels.batchEndpointPairs(probe, batch, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(split.toSet === whole, s"mismatch at theta^2=$num/$den")
      assert(whole.nonEmpty, s"degenerate fixture at theta^2=$num/$den")
      // the cross and batch×batch parts are disjoint: cross pairs have
      // exactly one batch endpoint, batch pairs two
      assert(split.length === split.toSet.size)
    }
    terms.unpersist(blocking = false)
  }

  test("pairs are emitted once, ordered u < v") {
    val terms = randFrame(300)
    val isB = (c: org.apache.spark.sql.Column) => c % 2 === 0
    val cross = Kernels.batchEndpointPairs(
      terms.filter(!isB(col("vec_id"))), terms.filter(isB(col("vec_id"))),
      1, 2)
    val rows = cross.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (u, v) => u < v })
    assert(rows.length === rows.toSet.size)
  }

  test("batch-side guard fails loudly past the cap") {
    val terms = randFrame(64)
    val e = intercept[IllegalArgumentException] {
      Kernels.batchEndpointPairs(
        terms.limit(8), terms, 1, 2, maxExactVectors = 32).count()
    }
    assert(e.getMessage.contains("batchEndpointPairs"))
    assert(e.getMessage.contains("Use blockedEpsPairs"))
  }

  test("a batch past the spread threshold pairs distributed, same set") {
    val terms = randFrame(9000).cache()
    val isB = (c: org.apache.spark.sql.Column) => c % 30 =!= 0
    val probe = terms.filter(!isB(col("vec_id")))
    val batch = terms.filter(isB(col("vec_id")))
    assert(batch.count() >= 8192, "batch below the spread threshold")
    for ((num, den) <- Seq((24, 25), (9, 10))) {
      val whole = pairSet(
        Kernels.epsPairsOf(probe.unionByName(batch), num, den)
          .filter(isB(col("u")) || isB(col("v"))))
      val split = Kernels.batchEndpointPairs(probe, batch, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(split.toSet === whole, s"mismatch at theta^2=$num/$den")
      assert(split.length === split.toSet.size)
      assert(whole.exists { case (u, v) => u % 30 != 0 && v % 30 != 0 },
        s"no batch×batch pair at theta^2=$num/$den")
    }
    terms.unpersist(blocking = false)
  }
}
