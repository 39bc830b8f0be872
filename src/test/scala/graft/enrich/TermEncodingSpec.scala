package graft.enrich

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.enrich.TermEncoding.{GlossStripEncoder, StubTermEncoder, TermEncoder, encodeTerms}
import graft.registry.Fixtures

/** The batched encoder operator: batch shape (≤64 per call, partial last
  * batch), batch-boundary invariance (a term's vector is independent of
  * batch size and partitioning), pass-through columns, the loud
  * misbehaving-encoder contracts, and the stub's float-exactness (the
  * property the q127 oracle mirror relies on).
  */
class TermEncodingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("encoder sees batches of at most batchSize with a partial tail") {
    import spark.implicits._
    val df = (1 to 150).map(i => s"term_$i").toDF("term").repartition(1)
    RecordingEncoder.batches.clear()
    encodeTerms(df, "term", new RecordingEncoder, batchSize = 64).collect()
    val sizes = RecordingEncoder.batches
      .toArray(Array.empty[Integer]).map(_.toInt).toSeq
    assert(sizes.sorted === Seq(22, 64, 64)) // 150 = 64 + 64 + 22
  }

  test("batch-boundary invariance: same vectors at any batch size and " +
      "partitioning") {
    import spark.implicits._
    val df = (1 to 97).map(i => s"词 word_$i").toDF("term")
    def run(parts: Int, bs: Int): Map[String, Seq[Float]] =
      encodeTerms(df.repartition(parts), "term", StubTermEncoder, bs)
        .as[(String, Seq[Float])].collect().toMap
    val base = run(1, 64)
    assert(base.size === 97)
    assert(run(4, 7) === base)
    assert(run(3, 1) === base)
  }

  test("pass-through columns survive and align with their vectors") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "term")
    val out = encodeTerms(df, "term", StubTermEncoder)
      .as[(Long, String, Seq[Float])].collect().toMap2
    assert(out(1L) === ("alpha", StubTermEncoder.encode(Seq("alpha")).head.toSeq))
    assert(out(2L) === ("beta", StubTermEncoder.encode(Seq("beta")).head.toSeq))
  }

  test("an encoder returning the wrong count or dimension throws") {
    import spark.implicits._
    val df = Seq("a", "b", "c").toDF("term")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val short = new TermEncoder {
      val dim = 8
      def encode(b: Seq[String]) = StubTermEncoder.encode(b).drop(1)
    }
    val e1 = intercept[Exception] {
      encodeTerms(df, "term", short).collect()
    }
    assert(msgs(e1).exists(_.contains("vectors for")))
    val wrongDim = new TermEncoder {
      val dim = 8
      def encode(b: Seq[String]) = b.map(_ => Array(1.0f))
    }
    val e2 = intercept[Exception] {
      encodeTerms(df, "term", wrongDim).collect()
    }
    assert(msgs(e2).exists(_.contains("dimension")))
  }

  test("stub vectors are dyadic rationals (exact in f32 and the oracle's " +
      "f64) derived from the md5 chunks") {
    val v = StubTermEncoder.encode(Seq("vector")).head
    // independently computed from md5('vector') =
    // d73786[...] — first chunk d737 = 55095 → (55095-32768)/32768
    assert(v(0) === (Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest("vector".getBytes("UTF-8")).take(2)
        .map(b => f"${b & 0xff}%02x").mkString, 16) - 32768) / 32768.0f)
    v.foreach { x =>
      assert(x >= -1.0f && x < 1.0f)
      assert((x * 32768.0f) === math.round(x * 32768.0f).toFloat) // dyadic
    }
  }

  test("the encoded ER lifecycle equals the Column-stub path (q128 ≡ q104)") {
    import graft.resolve.EntityResolution
    val ingested = graft.ingest.TaggedText.ingest(spark,
      Fixtures.TaggedErGlob)
    val viaColumn = EntityResolution
      .ingestedKeywordMapping(ingested, 24, 25)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaEncoder = EntityResolution
      .ingestedKeywordMappingEncoded(ingested, 24, 25)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaEncoder === viaColumn)
    assert(viaColumn.exists { case (o, r) => o != r }) // real merges exist
  }

  test("gloss-strip encoder: variants of one term encode identically") {
    val Seq(a, b, c) = GlossStripEncoder
      .encode(Seq("知识图谱 (KG)", "知识图谱", "知识图谱学")).map(_.toSeq)
    assert(a === b)
    assert(a !== c)
  }

  private implicit class Map2Helper[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}

/** Records every batch it is handed; encodes via the stub. Top-level (no
  * outer spec reference) so the closure serializes; the recorded sizes
  * live in static state, visible because local-mode tasks share the JVM.
  */
private class RecordingEncoder extends TermEncoding.TermEncoder {
  val dim: Int = TermEncoding.StubTermEncoder.dim
  def encode(batch: Seq[String]): Seq[Array[Float]] = {
    RecordingEncoder.batches.add(Integer.valueOf(batch.size))
    TermEncoding.StubTermEncoder.encode(batch)
  }
}

private object RecordingEncoder {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
}
