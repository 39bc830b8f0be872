package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** q37 SimHash banded hamming near-dup: exact driver-side cross-check on
  * the sf0.001 fixture. The operator's semantics — 2x8-bit banding,
  * per-bucket cap with oversized buckets dropped whole, hamming <= 3
  * verify on candidates — are re-derived brute-force over the collected
  * signatures, and the distributed result must EQUAL that set (not just
  * contain it): candidates, cap behavior, and distances all pinned.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val MaxBucket = 50 // mirrors Dedup.MaxBucket

  private def hamming(a: String, b: String): Int =
    a.zip(b).count { case (x, y) => x != y }

  test("q37 simhash near-dup equals the brute-force capped-band semantics") {
    import spark.implicits._
    val sigs = graft.SparkEntry.queries("q35_simhash")(spark, dir)
      .as[(Long, String)].collect()

    val bucketSize: Map[(Int, String), Int] = sigs
      .flatMap { case (_, sh) =>
        Seq((0, sh.substring(0, 8)), (1, sh.substring(8, 16))) }
      .groupBy(identity).map { case (k, v) => k -> v.length }
    // the fixture must exercise BOTH branches: capped and uncapped buckets
    assert(bucketSize.values.exists(_ > MaxBucket), "no capped bucket — cap path untested")
    assert(bucketSize.values.exists(_ <= MaxBucket), "no uncapped bucket")

    def candidate(sa: String, sb: String): Boolean = Seq(0, 1).exists { b =>
      val (x, y) =
        if (b == 0) (sa.substring(0, 8), sb.substring(0, 8))
        else (sa.substring(8, 16), sb.substring(8, 16))
      x == y && bucketSize((b, x)) <= MaxBucket
    }

    val expected = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      (da, sa) = sigs(i); (db, sb) = sigs(j)
      if candidate(sa, sb)
      h = hamming(sa, sb) if h <= 3
    } yield (math.min(da, db), math.max(da, db)) -> h).toMap

    val got = graft.SparkEntry.queries("q37_simhash_neardup")(spark, dir)
      .as[(Long, Long, Int)].collect()
      .map { case (d1, d2, h) => (d1, d2) -> h }.toMap

    assert(got === expected)
    assert(got.nonEmpty) // the fixture actually produces near-dup pairs
  }

  test("q38 incremental dedup: batch-vs-corpus and batch-vs-earlier-batch drop; corpus untouched") {
    import spark.implicits._
    import java.nio.file.Files
    val d = Files.createTempDirectory("incdedup_fix").toString
    Seq(
      10L -> "a b c d e f",    // corpus
      19L -> "a b c d e f",    // batch dup of corpus 10      -> dropped
      29L -> "p q r s t u",    // batch, unique               -> kept
      39L -> "x y z w v k",    // batch; first of a batch pair -> kept
      49L -> "x y z w v k",    // batch dup of EARLIER batch 39 -> dropped
      20L -> "m n o g h i",    // corpus-corpus dup pair: never
      30L -> "m n o g h i")    //   surfaces (corpus rows untouched)
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'zh' AS lang", "'test' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = graft.SparkEntry.queries("q38_incremental_dedup")(spark, d)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (19L, 1L, 0L), (29L, 0L, 1L), (39L, 0L, 1L), (49L, 1L, 0L)))
  }
}
