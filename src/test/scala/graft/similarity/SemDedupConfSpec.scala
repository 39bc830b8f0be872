package graft.similarity

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The boundary-adaptive SemDeDup probe parameters `lo`/`hi`/`margin`
  * of [[Similarity.semanticDedupBoundary]] (q152 runs its 4/6/0.1
  * defaults): they must actually steer the probe ladder, pinned on the
  * cross-cell fixture where a single-cell probe provably misses the
  * near-dup pair and a forced two-cell probe provably catches it (the
  * deterministic unit case of the recall/work trade they tune), and
  * out-of-range values must fail loudly.
  */
class SemDedupConfSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the SemanticDedupNprobeSpec cross-cell fixture: pair (7, 57) at
  // cos ≈ 0.95 whose members live in DIFFERENT primary cells
  private def fixtureDir(): String = {
    import spark.implicits._
    val e1 = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val e2 = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val a = Seq(0.3f, 0.1f, 0.0f, 0.945f)
    val b = Seq(0.1f, 0.3f, 0.0f, 0.945f)
    val rows: Seq[(Long, Seq[Float])] =
      (0L until 100L).map {
        case 7L  => 7L -> a
        case 57L => 57L -> b
        case i if i < 50 => i -> e1
        case i           => i -> e2
      }
    val d = Files.createTempDirectory("semdedup_conf_fix").toString
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def boundary(d: String, lo: Int, hi: Int,
      margin: Double): Seq[(Long, Long)] = {
    import spark.implicits._
    Similarity.semanticDedupBoundary(spark, d, lo, hi, margin)
      .as[(Long, Long)].collect().toSeq
  }

  test("the knobs steer the probe ladder: lo=hi=1 misses the cross-cell pair, a forced 2-cell probe catches it") {
    val d = fixtureDir()
    // single-cell probe ≡ nprobe=1: different primary cells → both kept
    val np1 = boundary(d, 1, 1, 0.0).toMap
    assert(np1(7L) === 1L && np1(57L) === 1L,
      "lo=hi=1 must behave like nprobe=1 and keep both halves")
    // margin 2.0 covers the whole signed-cos² key range → every vector
    // probes both cells (≡ nprobe=2): pair caught, higher id dropped
    val np2 = boundary(d, 1, 2, 2.0).toMap
    assert(np2(7L) === 1L && np2(57L) === 0L,
      "a forced 2-cell probe must catch the cross-cell pair")
    assert(np1.keySet === np2.keySet && np1.size === 100)
  }

  test("out-of-range knobs fail loudly") {
    val e = intercept[IllegalArgumentException] {
      boundary(TestSpark.TinySf, 3, 2, 0.1)
    }
    assert(e.getMessage.contains("lo=3 hi=2"))
  }
}
