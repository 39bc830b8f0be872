package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Proofs for the two properties the text operators CLAIM beyond their
  * oracle gates: the q26 split is stable under corpus growth, and the
  * q25 KMV sketch is mergeable (the 100 TB property).
  */
class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("q26 split assignment is stable under corpus growth") {
    import spark.implicits._
    // sf0.01's doc_ids (500) are a subset of sf0.1's (5000) — a
    // document's split must not change when 10x more documents arrive.
    def splits(d: String) =
      graft.SparkEntry.queries("q26_split_assign")(spark, d)
        .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val small = splits("/root/testdata/sf0.01")
    val big = splits("/root/testdata/sf0.1")
    assert(small.nonEmpty && big.size > small.size)
    small.foreach { case (id, sp) =>
      assert(big(id) === sp, s"doc $id changed split $sp -> ${big(id)}")
    }
    // all three splits actually occur
    assert(big.values.toSet === Set("train", "val", "test"))
  }

  test("q25 KMV sketch is mergeable: union of half-sketches = full sketch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val K = 64
    // distinct (lang, content-hash) universe, as q25 derives it
    val hx = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .select($"lang", md5($"text").as("h"), $"doc_id").distinct()
    def kmin(rows: Seq[String]): Seq[String] = rows.distinct.sorted.take(K)
    val byLang = hx.as[(String, String, Long)].collect().groupBy(_._1)
    byLang.foreach { case (lang, rows) =>
      val (lo, hi) = rows.partition(_._3 < 250) // arbitrary shard split
      val merged = kmin(kmin(lo.map(_._2).toSeq) ++ kmin(hi.map(_._2).toSeq))
      val full = kmin(rows.map(_._2).toSeq)
      assert(merged === full, s"lang $lang: merged sketch != full sketch")
    }
    assert(byLang.nonEmpty)
  }
}
