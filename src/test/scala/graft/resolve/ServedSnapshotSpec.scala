package graft.resolve

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.TaggedQueries

/** The single-day ER serves (q143, q150, q153, q155–q159) are
  * [[Lifecycle.serve]] calls: each reads the shared day-0 snapshot its
  * op implies — the one the multi-day lifecycles replay from — and
  * writes nothing, so no query keeps standing tables of its own and a
  * serve can never move a snapshot another query reads.
  */
class ServedSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val served = Seq("q143_er_incremental_served",
    "q150_er_tombstones_served", "q153_er_tombstones_sparse",
    "q155_er_updates_served", "q156_er_updates_sparse",
    "q157_tagged_er_updates_served", "q158_tagged_er_tombstones_served",
    "q159_tagged_er_inserts_served")

  test("served ER queries read the shared snapshots and leave no tables of their own") {
    val d = TestSpark.TinySf
    def call(name: String) = graft.SparkEntry.queries(name)(spark, d)
    def serveAll(): Unit = {
      served.foreach(n => assert(call(n).collect().nonEmpty, n))
      EntityResolution.releaseServeCaches()
    }
    serveAll()

    val syn9 = EntityResolution.sharedBaseName("syn", s"$d|ins=9")
    val syn = EntityResolution.sharedBaseName("syn", s"$d|ins=")
    val ingKey = s"${TaggedQueries.ErFixtureGlob}|eps=24/25" +
      s"|cls=${EntityResolution.clsFingerprint(spark, c => c % 3)}"
    val ing1 = EntityResolution.sharedBaseName("ing", s"$ingKey|ins=1")
    val ing = EntityResolution.sharedBaseName("ing", s"$ingKey|ins=")
    // the insert serves read the snapshots the lifecycles replay from
    assert(Lifecycle.synthetic(d).snapshot(spark, Set(9)) === syn9)
    assert(TaggedQueries.erLifecycle(spark).snapshot(spark, Set(1)) === ing1)

    def files(t: String): Set[String] = spark.table(t).inputFiles.toSet
    def reads(name: String, base: String): Unit =
      assert(files(s"${base}_mapping").subsetOf(call(name).inputFiles.toSet),
        s"$name does not read ${base}_mapping")
    reads("q143_er_incremental_served", syn9)
    Seq("q150_er_tombstones_served", "q153_er_tombstones_sparse",
      "q155_er_updates_served", "q156_er_updates_sparse")
      .foreach(reads(_, syn))
    Seq("q157_tagged_er_updates_served", "q158_tagged_er_tombstones_served")
      .foreach(reads(_, ing))
    reads("q159_tagged_er_inserts_served", ing1)

    val snapshots = Seq(syn9 -> "assigned", syn -> "assigned",
      ing1 -> "terms", ing -> "terms")
      .flatMap { case (base, rows) => Seq(rows, "pairs", "mapping")
        .map(t => s"${base}_$t") }
    def state(): Seq[(Set[String], Seq[String])] = snapshots.map { t =>
      (spark.table(t).collect().map(_.toString).toSet,
        spark.table(t).inputFiles.toSeq.sorted)
    }
    val before = state()
    serveAll()
    state().zip(before).zip(snapshots).foreach {
      case (((rows, fs), (rows0, fs0)), t) =>
        assert(rows === rows0, s"$t rows moved")
        assert(fs === fs0, s"$t files moved")
    }

    val tables = spark.catalog.listTables().collect().map(_.name)
    val own = served.map(n => s"graft_${n.takeWhile(_ != '_')}_")
    val leaked = tables.filter(t => own.exists(t.startsWith))
    assert(leaked.isEmpty, s"per-query standing tables: ${leaked.mkString(", ")}")
  }

  test("a serve rebuilds a day-0 snapshot whose tables were dropped") {
    val d = TestSpark.TinySf
    def q150(): Seq[String] = {
      val rows = graft.SparkEntry.queries("q150_er_tombstones_served")(spark, d)
        .collect().map(_.toString).toSeq
      EntityResolution.releaseServeCaches()
      rows
    }
    val first = q150()
    val syn = EntityResolution.sharedBaseName("syn", s"$d|ins=")
    val dropped = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(syn + "_"))
    assert(dropped.nonEmpty)
    dropped.foreach(t => spark.sql(s"DROP TABLE `$t`"))
    assert(q150() === first)
    assert(dropped.forall(spark.catalog.tableExists))
  }
}
