package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.TestSpark.TinySf

/** Invariants of the derived graph model (SURVEY.md §5 item 3 property
  * style, run on the sf0.001 fixture): total mapping coverage,
  * representative-in-cluster, noise-to-self, alias-edge non-identity,
  * edge dedup, and alias expansion contents.
  */
class BibGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keyword mapping: total, representative within bucket, noise maps to self") {
    val m = BibGraph.keywordMapping(spark, TinySf).cache()
    val kws = BibGraph.docs(spark, TinySf)
      .select(explode($"kws").as("kw")).distinct()
    // every keyword mapped (total function)
    assert(m.count() === kws.count())
    // representative is itself a known keyword (in-cluster rule)
    val reps = m.select($"representative".as("kw")).distinct()
    assert(reps.join(kws, Seq("kw"), "left_anti").isEmpty)
    // singleton buckets map to themselves
    val selfCount = m.filter($"original" === $"representative").count()
    assert(selfCount > 0)
  }

  test("alias edges are exactly the non-identity mapping entries") {
    val m = BibGraph.keywordMapping(spark, TinySf)
    val e = BibGraph.aliasEdges(spark, TinySf)
    assert(e.count() === m.filter($"original" =!= $"representative").count())
    assert(e.filter($"src" === $"dst").isEmpty)
  }

  test("alias expansion of a merged keyword includes seed and representative") {
    val exp = DocGraph.synthetic(spark, TinySf).aliasExpand("vector")
      .as[String].collect().toSet
    assert(exp === Set("vector", "merge"))
  }

  test("edge frame is deduplicated per (src, dst, rel_type)") {
    val e = BibGraph.edges(spark, TinySf)
    assert(e.count() === e.distinct().count())
  }

  test("every document gets exactly one topic (validating join is total)") {
    val docs = BibGraph.docs(spark, TinySf).count()
    val topics = BibGraph.hasTopic(spark, TinySf).count()
    assert(docs === topics)
  }
}
