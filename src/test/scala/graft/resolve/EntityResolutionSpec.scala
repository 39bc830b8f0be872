package graft.resolve

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** CC ≡ DBSCAN(min_samples=2) equivalence on a hand-built vector set
  * (SURVEY.md §2.8 / §7.5 risk 1): clusters are the connected components
  * of the ε-neighborhood graph; isolated points are DBSCAN noise and map
  * to themselves.
  */
class EntityResolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // v0≈v1≈v3 form one chain (v0-v1, v1-v3 within ε even if v0-v3 were
  // not — single-linkage chaining, the DBSCAN min_samples=2 behavior);
  // v2 is anti-parallel (dot<0) and v4 orthogonal: both isolated noise.
  private val vecs: Seq[(Long, Array[Float])] = Seq(
    0L -> Array(1.0f, 0.0f),
    1L -> Array(0.9f, 0.1f),
    2L -> Array(-1.0f, 0.05f),
    3L -> Array(0.85f, 0.2f),
    4L -> Array(0.0f, 1.0f))

  test("epsPairs finds exactly the cos>=0.35 neighbor edges") {
    val emb = vecs.toDF("vec_id", "embedding")
    val pairs = Kernels.epsPairsOf(emb, 7, 20)
      .as[(Long, Long)].collect().toSet
    // cos(0,1)=.994, cos(0,3)=.973, cos(1,3)=.993 — all >= .35;
    // v2 has negative dot with 0/1/3; cos(4,1)=.110, cos(4,3)=.229 < .35.
    assert(pairs === Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("connected components = DBSCAN(min_samples=2) clusters; noise maps to self") {
    val emb = vecs.toDF("vec_id", "embedding")
    val comp = Kernels.connectedComponents(spark,
        emb.select($"vec_id"), Kernels.epsPairsOf(emb, 7, 20))
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L, 4L -> 4L))
  }

  test("min-representative is the component label (numeric-min rule)") {
    // representative = min member id == component id by construction.
    val emb = vecs.toDF("vec_id", "embedding")
    val comp = Kernels.connectedComponents(spark,
        emb.select($"vec_id"), Kernels.epsPairsOf(emb, 7, 20))
      .as[(Long, Long)].collect()
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min === label)
    }
  }

  test("org/address thresholds separate: cos≈0.9553 merges at θ=0.95, not at θ=0.96") {
    // cos((1,0),(0.9,0.3)) = 0.9/√0.9 ≈ 0.94868 < both; cos((1,0),(1,0.3))
    // = 1/√1.09 ≈ 0.95783 — between 24/25 = 0.96 and 19/20 = 0.95. The
    // same universe resolves differently under the two reference
    // thresholds (`Hype.py:81-82` orgs 0.96, addresses 0.95).
    val terms = Seq(
      ("T0", 0L, Array(1.0f, 0.0f)),
      ("T1", 1L, Array(1.0f, 0.3f)),
      ("T2", 2L, Array(0.0f, 1.0f))).toDF("term", "vec_id", "embedding")
    val at95 = EntityResolution.aliasMapping(terms, 19, 20)
      .as[(String, String)].collect().toMap
    val at96 = EntityResolution.aliasMapping(terms, 24, 25)
      .as[(String, String)].collect().toMap
    assert(at95 === Map("T0" -> "T0", "T1" -> "T0", "T2" -> "T2"))
    assert(at96 === Map("T0" -> "T0", "T1" -> "T1", "T2" -> "T2"))
  }

  test("exact-kernel size guard trips above maxExactVectors, names the scale path") {
    val big = Seq.tabulate(6)(i => (i.toLong, Array(1.0f, i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Kernels.epsPairsOf(big, 7, 20, maxExactVectors = 5L)
    }
    assert(e.getMessage.contains("blockedEpsPairs"))
    // at-or-below the ceiling still runs
    assert(Kernels.epsPairsOf(big, 7, 20, maxExactVectors = 6L)
      .count() >= 0L)
  }

  test("aliasMapping representative is the lexicographic MIN TERM, not the min id") {
    // identical vectors merge at any threshold; the cluster's rep must be
    // the string-min term ('A...' even though its vec_id is larger) —
    // `keyword_merger.py:222` Python min() semantics.
    val terms = Seq(
      ("Zeta", 0L, Array(1.0f, 0.0f)),
      ("Alpha", 1L, Array(1.0f, 0.0f))).toDF("term", "vec_id", "embedding")
    val m = EntityResolution.aliasMapping(terms, 24, 25)
      .as[(String, String)].collect().toMap
    assert(m === Map("Zeta" -> "Alpha", "Alpha" -> "Alpha"))
  }

  /** The formula [[EntityResolution.aliasMapping]] replaced, kept as the
    * reference: exact ε-pairs → CC → joined back to the terms → Spark's
    * `min(term)` per component. */
  private def referenceMapping(terms: DataFrame, num: Int,
                               den: Int): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.min
    val comp = Kernels.connectedComponents(spark, terms.select($"vec_id"),
      Kernels.epsPairsOf(terms, num, den))
    val named = comp.join(terms.select($"vec_id", $"term"), "vec_id")
    val reps = named.groupBy($"component").agg(min($"term").as("representative"))
    named.join(reps, "component")
      .select($"term".as("original"), $"representative")
      .as[(String, String)].collect().toSeq.sorted
  }

  private def mapped(terms: DataFrame, num: Int,
                     den: Int): Seq[(String, String)] =
    EntityResolution.aliasMapping(terms, num, den)
      .as[(String, String)].collect().toSeq.sorted

  // two gloss variants of one term: `ｱ` (U+FF71) precedes `𠀀` (U+20000)
  // in UTF-8 byte order, but its UTF-16 unit 0xFF71 follows the high
  // surrogate 0xD840 in `String.compareTo` order
  private val glossPair = Seq("(ｱ)Z", "(𠀀)Z")

  test("aliasMapping equals the reference formula on the ER fixture terms (driver route)") {
    val ingested = graft.ingest.TaggedText.ingest(spark,
      graft.registry.Fixtures.TaggedErGlob)
    for (cols <- Seq(Seq("keywords"), Seq("publisher", "place_published"),
                     Seq("author_address"));
         (num, den) <- Seq((19, 20), (24, 25))) {
      val terms = EntityResolution.termUniverse(
        EntityResolution.distinctValues(ingested, cols)).cache()
      assert(terms.count() < Kernels.SpreadRows)
      val m = EntityResolution.aliasMapping(terms, num, den)
      val (got, jobs) = TestSpark.countJobs(
        m.as[(String, String)].collect().toSeq.sorted)
      assert(got === referenceMapping(terms, num, den), s"$cols at $num/$den")
      assert(jobs === 0, "the driver route returns a local frame")
      terms.unpersist()
    }
  }

  test("aliasMapping equals the reference formula above SpreadRows (distributed route)") {
    val n = Kernels.SpreadRows / 2 + 64
    val values = (0 until n).flatMap(i => Seq(s"t$i", s"t$i (g$i)")) ++ glossPair
    val terms = EntityResolution.termUniverse(values.toDF("value")).cache()
    assert(terms.count() > Kernels.SpreadRows)
    val got = mapped(terms, 19, 20)
    assert(got === referenceMapping(terms, 19, 20))
    assert(got.filter(r => glossPair.contains(r._1)).map(_._2).distinct ===
      Seq("(ｱ)Z"))
    terms.unpersist()
  }

  test("aliasMapping representative is the UTF-8 byte-order minimum") {
    assert(glossPair(1) < glossPair(0), "String.compareTo disagrees")
    val terms = EntityResolution.termUniverse(glossPair.toDF("value"))
    val want = glossPair.map(_ -> "(ｱ)Z").sorted
    assert(mapped(terms, 24, 25) === want)
    assert(referenceMapping(terms, 24, 25) === want)
  }

  test("clsFingerprint: stable keys for pure rules; exprId capture throws (r17 ADVICE 4)") {
    import org.apache.spark.sql.functions.col
    // pure functions of the probe column: deterministic, exprId-free,
    // structurally distinct rules get distinct keys
    val fp1 = EntityResolution.clsFingerprint(spark, c => c % 10 === 7)
    val fp2 = EntityResolution.clsFingerprint(spark, c => c % 10 === 7)
    val fp3 = EntityResolution.clsFingerprint(spark, c => c % 3 === 1)
    assert(fp1 === fp2, "same rule, same key — the shared-snapshot reuse")
    assert(fp1 !== fp3, "different rule, different key — no aliasing")
    assert(!"#\\d+".r.findFirstIn(fp1).isDefined)
    // a rule closing over a RESOLVED column embeds a per-JVM exprId in
    // its fingerprint — an unstable snapshot key that silently defeats
    // reuse; the contract is enforced at mint time
    val leaked = Seq(1L).toDF("x")("x") // a resolved, exprId-bearing Column
    assertThrows[IllegalArgumentException] {
      EntityResolution.clsFingerprint(spark, c => c + leaked)
    }
    // ...and a rule naming a foreign column outside the probe frame
    assertThrows[IllegalArgumentException] {
      EntityResolution.clsFingerprint(spark, _ => col("not_the_probe"))
    }
  }
}
