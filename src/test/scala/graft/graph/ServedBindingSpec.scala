package graft.graph

import org.apache.spark.sql.functions.{col, upper}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The staleness guard of the build-once/serve-many bindings: requesting
  * the SAME prefix for a DIFFERENT source dir must rebuild, not serve
  * the previous corpus's tables (the failure mode would be silent wrong
  * results in any process touching two fixtures — every test JVM, and a
  * Bench/Verify pair pointed at different SFs).
  */
class ServedBindingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Content fingerprint of a binding's docs table — the two fixture
    * dirs hold the same ROW COUNT (500 docs each) and the same derived
    * titles (D<doc_id>), so staleness is only detectable through a
    * genuinely per-fixture column (the abstract = source text).
    */
  private def fp(g: DocGraph): Long = {
    import org.apache.spark.sql.functions._
    g.docs.agg(sum(crc32(col("abstract"))).cast("long")).head.getLong(0)
  }

  /** The binding's stored alias mapping, as sorted (original, rep) rows. */
  private def mapping(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("original", "representative").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  /** Serve `d` under the spec's prefix and check that the stored alias
    * mapping was rebuilt with the docs: it lives in the prefix's tables
    * too, so a stale serve would answer families 6/10 from the old corpus.
    */
  private def served(d: String,
      prefix: String = "graft_served_spec"): DocGraph = {
    val g = DocGraph.bucketedServed(spark, d, prefix, 8)
    assert(mapping(g.kwMapping) === mapping(BibGraph.keywordMapping(spark, d)),
      s"stored alias mapping is not $d's")
    g
  }

  test("bucketedServed rebuilds when the same prefix points at a new source dir") {
    val d1 = TestSpark.TinySf
    val g1 = served(d1)
    val fp1 = fp(g1)
    assert(g1.docs.count() > 0)
    // second call, same dir: serves (content identical)
    assert(fp(served(d1)) === fp1)
    // same prefix, different source: must NOT serve d1's tables
    val d2 = "/root/testdata/sf0.01"
    val fp2 = fp(served(d2))
    assert(fp2 !== fp1,
      "identical docs fingerprint after switching source dirs — stale serve?")
    // and switching BACK also rebuilds (the guard is last-dir, not a set)
    assert(fp(served(d1)) === fp1)
    // sf0.001 and sf0.01 share one vocabulary, so their mappings agree; a
    // source with its own vocabulary makes a stale mapping visible
    val d3 = java.nio.file.Files.createTempDirectory("served_vocab").toString
    graft.Tables.documents(spark, d1)
      .withColumn("text", upper(col("text")))
      .write.parquet(s"$d3/documents.parquet")
    assert(mapping(BibGraph.keywordMapping(spark, d3)) !==
      mapping(BibGraph.keywordMapping(spark, d1)))
    served(d3)
    served(d1)
  }

  test("a rebuild that fails part-way leaves no table marked, so the next serve rebuilds") {
    val prefix = "graft_served_fail"
    val d1 = TestSpark.TinySf
    val fp1 = fp(served(d1, prefix))
    // a second source with d1's documents in upper case
    val d2 = java.nio.file.Files.createTempDirectory("served_fail").toString
    graft.Tables.documents(spark, d1)
      .withColumn("text", upper(col("text")))
      .write.parquet(s"$d2/documents.parquet")
    // inject a failure into one of the eight writes: an EXTERNAL table
    // under the alias-mapping name, which the swap refuses to purge,
    // while the other seven writes land d2's rows
    val ext = java.nio.file.Files.createTempDirectory("served_ext").toString
    spark.sql(s"DROP TABLE `${prefix}_kw_alias`")
    spark.sql(s"CREATE TABLE `${prefix}_kw_alias` " +
      s"(original STRING, representative STRING) USING parquet LOCATION '$ext'")
    intercept[IllegalArgumentException] {
      DocGraph.bucketedServed(spark, d2, prefix, 8)
    }
    spark.sql(s"DROP TABLE `${prefix}_kw_alias`")
    // the previous source again: its marker is gone from every table,
    // so this rebuilds instead of serving d2's docs beside d1's mapping
    assert(fp(served(d1, prefix)) === fp1)
  }

  test("a fresh session serves the stored binding without rebuilding it") {
    val d = TestSpark.TinySf
    val fp0 = fp(served(d))
    val fresh = spark.newSession()
    val (g, jobs) = TestSpark.countJobs(
      DocGraph.bucketedServed(fresh, d, "graft_served_spec", 8))
    assert(jobs === 0, s"a fresh session rebuilt the binding ($jobs jobs)")
    assert(fp(g) === fp0)
  }
}
