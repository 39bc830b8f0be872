package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.Int8Ops._

/** SQ8 compressed-domain ops: pack/dot bit-exactness against the
  * unpacked integer arithmetic, the loud out-of-range contract, and the
  * q48-vs-q40 recall + compression properties on the fixture.
  */
class Int8OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("int8 dot over packed bytes equals long dot over the same ints") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, -5L, 127L, -127L, 0L), Seq(-3L, 2L, 1L, 1L, 99L)),
      (Seq(0L, 0L, 0L, 0L, 0L), Seq(1L, 2L, 3L, 4L, 5L))
    ).toDF("a", "b")
    val got = df.select(
      int8Dot(packInt8($"a"), packInt8($"b")).as("d8"),
      graft.functions.VectorOps.dot($"a", $"b").as("dL")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // sign-extension sanity: -127 * 1 must stay negative through bytes
    assert(got(0).getLong(0) === (-3L - 10L + 127L - 127L + 0L))
  }

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("pack_int8 throws on out-of-range input instead of truncating") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(Seq(128L)).toDF("a").select(packInt8($"a")).collect()
    }
    assert(msgs(e).exists(_.contains("int8 range")))
    // -128 fits a byte but NOT the symmetric ±127 quantizer contract
    val e2 = intercept[Exception] {
      Seq(Seq(-128L)).toDF("a").select(packInt8($"a")).collect()
    }
    assert(msgs(e2).exists(_.contains("int8 range")))
  }

  test("pack_int8 rejects null elements; int8 dot rejects dim mismatch") {
    import spark.implicits._
    val eNull = intercept[Exception] {
      Seq(Seq[java.lang.Long](null, 5L)).toDF("a")
        .select(packInt8($"a")).collect()
    }
    assert(msgs(eNull).exists(_.contains("null element")))
    val eDim = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
        .select(int8Dot(packInt8($"a"), packInt8($"b"))).collect()
    }
    assert(msgs(eDim).exists(_.contains("dimension mismatch")))
  }

  test("long_dot_product throws on dim mismatch and null elements") {
    // ADVICE r5: mirror Int8DotProduct's contract — a truncated partial
    // dot over mixed-model embeddings is plausible-but-wrong similarity
    import spark.implicits._
    val eDim = intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
        .select(graft.functions.VectorOps.dot($"a", $"b")).collect()
    }
    assert(msgs(eDim).exists(_.contains("dimension mismatch")))
    val eNull = intercept[Exception] {
      Seq((Seq[java.lang.Long](null, 5L), Seq[java.lang.Long](1L, 2L)))
        .toDF("a", "b")
        .select(graft.functions.VectorOps.dot($"a", $"b")).collect()
    }
    assert(msgs(eNull).exists(_.contains("null element")))
  }

  test("NULL arguments yield NULL (not an analysis error)") {
    // ADVICE r5: a typed NULL literal is NullType — builtin behavior is
    // to return NULL, not to fail analysis with "requires integral"
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_long_dot_product(array(1L, 2L), NULL) AS d1,
                graft_long_dot_product(NULL, NULL) AS d2,
                graft_pack_int8(NULL) AS p""").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("pack_int8 and long_dot_product reject fractional arrays at analysis") {
    // ADVICE r4: implicit double→bigint truncation must fail LOUDLY, not
    // coerce; integral widths narrower than bigint are accepted natively
    import spark.implicits._
    val frac = Seq(Seq(1.5, 2.5)).toDF("a")
    val ePack = intercept[Exception] { frac.select(packInt8($"a")).collect() }
    assert(msgs(ePack).exists(_.toLowerCase.contains("integral")))
    val eDot = intercept[Exception] {
      frac.select(graft.functions.VectorOps.dot($"a", $"a")).collect()
    }
    assert(msgs(eDot).exists(_.toLowerCase.contains("integral")))
    // array<int> works without a cast on both (and cross-width dot)
    val ints = Seq((Seq(1, 2, 3), Seq(4L, 5L, 6L))).toDF("i", "l")
    val ok = ints.select(
      length(packInt8($"i")).as("n"),
      graft.functions.VectorOps.dot($"i", $"l").as("d")).head()
    assert(ok.getInt(0) === 3 && ok.getLong(1) === 32L)
  }

  test("q48 SQ8 top-5: 64B binary vs 256B+ floats, recall>=0.8 vs exact q40") {
    val q40 = graft.SparkEntry.queries("q40_ann_bruteforce_topk")(spark, TestSpark.TinySf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val q48 = graft.SparkEntry.queries("q48_sq8_topk")(spark, TestSpark.TinySf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val exact = q40.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sq8 = q48.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.keySet === sq8.keySet)
    val recalls = exact.map { case (q, ex) =>
      (sq8(q) & ex).size.toDouble / ex.size
    }
    val macroRecall = recalls.sum / recalls.size
    // int8 at the data-derived scale keeps ~2 decimal digits per
    // component — plenty for top-5 on 64 dims; below 0.8 would mean the
    // quantizer or the scale derivation broke
    assert(macroRecall >= 0.8, s"macro recall@5 $macroRecall")

    // the compression claim, measured: packed binary is exactly dim
    // bytes (64), the float array is 4 bytes/component + array overhead
    import spark.implicits._
    val dims = graft.Tables.embeddings(spark, TestSpark.TinySf)
      .select(size($"embedding").as("dim"),
        length(packInt8(transform($"embedding", x =>
          greatest(lit(-127L), least(lit(127L),
            round(x.cast("double"), 0).cast("long")))))).as("packed"))
      .agg(max($"dim"), max($"packed"), min($"packed")).head()
    assert(dims.getInt(1) === dims.getInt(0))
    assert(dims.getInt(2) === dims.getInt(0))
  }
}
