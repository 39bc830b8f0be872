package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.{TaggedQueries, TaggedText}

/** Binding 3: the bucketed DocGraph. Proves the PERF.md claim end-to-end
  * on the REAL template code (not a synthetic two-table join): the q71/q72
  * 2-hop self-join plans over bucketed edges contain zero shuffle exchange
  * under the join, and the results are identical to the in-memory binding.
  */
class BucketedDocGraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val base = DocGraph.synthetic(spark, TestSpark.TinySf)
  private lazy val bucketedG = DocGraph.bucketed(base, "bdg_spec", 4)
  private lazy val ingested =
    DocGraph.ofIngested(TaggedText.ingest(spark, TaggedQueries.FixtureGlob))

  /** Sorted (original, representative) rows of an alias mapping. */
  private def mappingRows(df: DataFrame): Seq[(String, String)] =
    df.select("original", "representative").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** The file scans of `df`'s statically planned executed plan. */
  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  /** Every equi-join subtree in the executed plan, with AQE disabled so
    * the tree is the statically planned one (the assertion is about what
    * EnsureRequirements inserts, not about runtime re-optimization).
    */
  private def shuffleFreeJoins(df: DataFrame): (Int, Int) = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the fixture is tiny enough to auto-broadcast, which would dodge the
    // question — at the scale bucketing exists for, neither side
    // broadcasts, so plan the shuffled join shape explicitly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      val dirty = joins.count(j =>
        j.collectFirst { case e: ShuffleExchangeExec => e }.nonEmpty)
      (joins.size, dirty)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q71 co-author 2-hop self-join plans with zero exchange under " +
      "the join on bucketed edges") {
    val q = GraphQueries.coauthors(bucketedG, "Author_29")
    val (joins, dirty) = shuffleFreeJoins(q)
    assert(joins >= 1, "expected a shuffled equi-join in the 2-hop plan")
    assert(dirty === 0,
      "bucketed self-join should read co-located buckets, not shuffle")
    // and the SAME query over the in-memory binding DOES shuffle — the
    // control that proves the assertion is measuring bucketing, not a
    // broadcast fallback
    val (cJoins, cDirty) =
      shuffleFreeJoins(GraphQueries.coauthors(base, "Author_29"))
    assert(cJoins >= 1 && cDirty >= 1)
  }

  test("q72 keyword co-occurrence: join shuffle-free; only the count agg " +
      "exchanges") {
    val q = GraphQueries.keywordCooccur(bucketedG, "small", 10)
    val (joins, dirty) = shuffleFreeJoins(q)
    assert(joins >= 1)
    assert(dirty === 0)
  }

  test("bucketed binding returns the same rows as the in-memory binding") {
    val pairs = Seq(
      GraphQueries.coauthors(base, "Author_29") ->
        GraphQueries.coauthors(bucketedG, "Author_29"),
      GraphQueries.keywordCooccur(base, "small", 10) ->
        GraphQueries.keywordCooccur(bucketedG, "small", 10),
      GraphQueries.orgTopics(base, "Org_3") ->
        GraphQueries.orgTopics(bucketedG, "Org_3"))
    pairs.foreach { case (want, got) =>
      assert(got.collect().toSeq === want.collect().toSeq)
      assert(want.collect().nonEmpty)
    }
  }

  test("an edge rel_type outside the bucket-key list fails loudly " +
      "instead of silently vanishing from the binding") {
    import org.apache.spark.sql.functions.lit
    val withAlien = base.copy(edges = base.edges.unionAll(
      base.edges.limit(1).withColumn("rel_type", lit("ALIEN_REL"))))
    val e = intercept[IllegalArgumentException] {
      DocGraph.bucketed(withAlien, "bdg_guard_spec", 4)
    }
    assert(e.getMessage.contains("ALIEN_REL"))
  }

  test("families 6 and 10 scan only the binding's tables; the alias " +
      "lookup reads one bucket of kw_alias") {
    Seq(GraphQueries.keywordDocs(base, "vector") ->
        GraphQueries.keywordDocs(bucketedG, "vector"),
      GraphQueries.keywordPerYear(base, "vector") ->
        GraphQueries.keywordPerYear(bucketedG, "vector")).foreach {
      case (want, got) =>
        val scans = scansOf(got)
        val tables = scans.map(_.tableIdentifier.map(_.table))
        assert(scans.nonEmpty &&
          tables.forall(_.exists(_.startsWith("bdg_spec_"))),
          s"scans outside the binding's tables: $tables")
        val alias = scans.filter(
          _.tableIdentifier.exists(_.table == "bdg_spec_kw_alias"))
        assert(alias.size === 1)
        assert(alias.head.optionalBucketSet.map(_.cardinality()) === Some(1))
        val files = alias.head.inputRDDs().head.partitions.toSeq.flatMap {
          case p: FilePartition => p.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }
        assert(files.distinct.size === 1, files)
        assert(got.collect().toSeq === want.collect().toSeq)
        assert(want.collect().nonEmpty)
    }
  }

  test("the stored kw_alias table holds the in-memory alias mapping, " +
      "synthetic and ingested") {
    assert(mappingRows(spark.table("bdg_spec_kw_alias")) ===
      mappingRows(base.kwMapping))
    DocGraph.bucketed(ingested, "bdg_ing_spec", 4)
    val want = mappingRows(ingested.kwMapping)
    assert(want.nonEmpty)
    assert(mappingRows(spark.table("bdg_ing_spec_kw_alias")) === want)
  }

  test("the rel_type guard is proved on the plan: no Spark job for the " +
      "synthetic or ingested binding") {
    Seq(base, ingested).foreach { g =>
      assert(TestSpark.countJobs(DocGraph.requireKnownRelTypes(g.edges))._2 === 0)
    }
  }

  test("per-relation pruning leaves a single scan per view; the 2-hop " +
      "join reads bucketed") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the authored view must not scan the other five relation tables.
      // NB a bare scan legitimately reads non-bucketed (autoBucketedScan
      // skips bucket layout when nothing downstream uses it) — bucketed
      // reading is asserted on the JOIN plan below, where it matters.
      val scans = bucketedG.authored.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size === 1, s"expected 1 pruned scan, got ${scans.size}")
      val joinScans = GraphQueries.coauthors(bucketedG, "Author_29")
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
      assert(joinScans.nonEmpty && joinScans.forall(_.bucketedScan),
        "the self-join's scans should read the bucket layout")
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
