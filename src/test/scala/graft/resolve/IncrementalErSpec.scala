package graft.resolve

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Incremental ER (q141) on a fixture engineered for the three hard
  * cases, hand-derived expectations:
  *
  *  - BRIDGE: batch vector 9 = (x1+x2)/√2 sits at cos 0.707 to BOTH
  *    standing components A = {1,2} (≈x1) and B = {3,4} (≈x2), which at
  *    cos 0 to each other were separate — the batch must MERGE two
  *    standing components and re-min the representative (all → 1).
  *  - PASS-THROUGH: components {5} and {6,7} (x4, x6) touch no batch
  *    pair and must keep their standing representatives untouched.
  *  - BATCH-ONLY: 19 and 29 (both x5) pair only with each other — a new
  *    cluster entirely inside the batch (rep 19).
  *
  * Ids stay under 50 so the standing-pinned index has the single seed 0
  * (an x3 distractor) — one cell, so blocked = exact and the expected
  * mapping is derivable by eye. Cross-checked against the from-scratch
  * blocked ER (q52), whose unpinned seed set coincides ({0}) on this
  * fixture — the equality the oracle asserts at fixture scale, here as
  * a deterministic unit case.
  */
class IncrementalErSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the synthetic lifecycle's registry days (q162/q163/q166/q169)
  private val crud = Seq(("insert", 9), ("update", 7), ("delete", 5))

  private def fixtureDir(): String = {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    val bridge = Seq(0.7071f, 0.7071f, 0.0f, 0.0f, 0.0f, 0.0f)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      0L -> axis(2), 1L -> axis(0), 2L -> axis(0),
      3L -> axis(1), 4L -> axis(1), 5L -> axis(3),
      6L -> axis(5), 7L -> axis(5),
      9L -> bridge, 19L -> axis(4), 29L -> axis(4))
    val d = Files.createTempDirectory("incr_er_fix").toString
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("batch merges standing components; untouched rows pass through") {
    import spark.implicits._
    val d = fixtureDir()
    val got = EntityResolution.incrementalResolve(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq(
      0L -> 0L,
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,   // A∪B merged via 9
      5L -> 5L, 6L -> 6L, 7L -> 6L,             // untouched pass-through
      9L -> 1L,                                 // the bridge joins the merge
      19L -> 19L, 29L -> 19L))                  // batch-only cluster
    // from-scratch blocked ER agrees (same single-seed index here)
    val scratch = graft.SparkEntry.queries("q52_er_blocked")(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(scratch === got)
    // the insert day served alone (q143) agrees — and serving TWICE
    // (the second call reads the snapshot instead of rebuilding) agrees
    val served1 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("insert", 9)).as[(Long, Long)].collect().toSeq
    val served2 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("insert", 9)).as[(Long, Long)].collect().toSeq
    assert(served1 === got && served2 === got)
  }

  /** Tombstone path (q146) on a fixture engineered for the deletion
    * hard cases, hand-derived: deleting a BRIDGE must split its
    * component, deleting a REPRESENTATIVE must re-min the survivors,
    * an untouched component must pass through, and an isolated deleted
    * vector must simply vanish. Deleted set = vec_id % 10 = 5.
    */
  test("tombstones split bridged components and retire deleted representatives") {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    val bridge = Seq(0.7071f, 0.7071f, 0.0f, 0.0f, 0.0f, 0.0f)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      0L -> axis(5),                               // seed/distractor, alone
      11L -> axis(0), 15L -> bridge, 21L -> axis(1), // C1: 15 is the bridge
      5L -> axis(2), 6L -> axis(2), 7L -> axis(2),   // C2: rep 5 is deleted
      13L -> axis(3), 14L -> axis(3),                // C3: untouched
      25L -> axis(4))                                // isolated, deleted
    val d = Files.createTempDirectory("tomb_er_fix").toString
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = EntityResolution.tombstoneResolve(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq(
      0L -> 0L,
      6L -> 6L, 7L -> 6L,        // rep 5 deleted → survivors re-min to 6
      11L -> 11L,                // bridge 15 deleted → C1 splits...
      13L -> 13L, 14L -> 13L,    // untouched pass-through
      21L -> 21L))               // ...each side its own rep; 25 vanished
    // from-scratch blocked ER over the post-delete corpus agrees (the
    // seed sets coincide on this fixture: survivor 0 is the only
    // multiple of 50 either way)
    val postDir = Files.createTempDirectory("tomb_er_post").toString
    rows.filterNot(_._1 % 10 == 5).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$postDir/embeddings.parquet")
    val scratch = graft.SparkEntry.queries("q52_er_blocked")(spark, postDir)
      .as[(Long, Long)].collect().toSeq
    assert(scratch === got)
    // the delete day served alone (q150) agrees — and serving TWICE
    // (the second call reads the snapshot's pair/mapping tables) agrees
    val served1 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("delete", 5)).as[(Long, Long)].collect().toSeq
    val served2 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("delete", 5)).as[(Long, Long)].collect().toSeq
    assert(served1 === got && served2 === got)
  }

  /** The served tombstone paths (q150/q153): the dirty-component split
    * must be bit-equal to the inline result, and the sparse class rule
    * (q153's registered form) must equal from-scratch ER over its own
    * post-delete corpus.
    */
  test("adaptive tombstone serving: both paths agree; sparse predicate gated") {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    val bridge = Seq(0.7071f, 0.7071f, 0.0f, 0.0f, 0.0f, 0.0f)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      0L -> axis(5),
      11L -> axis(0), 15L -> bridge, 21L -> axis(1),
      5L -> axis(2), 6L -> axis(2), 7L -> axis(2),
      13L -> axis(3), 14L -> axis(3),
      25L -> axis(4))
    val d = Files.createTempDirectory("adapt_er_fix").toString
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val inline = EntityResolution.tombstoneResolve(spark, d)
      .as[(Long, Long)].collect().toSeq
    val split = graft.SparkEntry.queries("q150_er_tombstones_served")(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(split === inline, "split path diverged from inline")

    // sparse predicate (q153): only vec 5 matches (ids < 50) — the rep
    // of C2 retires, everything else passes through; equals from-scratch
    // ER over the post-delete corpus
    val sparse = graft.SparkEntry
      .queries("q153_er_tombstones_sparse")(spark, d)
      .as[(Long, Long)].collect().toSeq
    val postDir = Files.createTempDirectory("adapt_er_post").toString
    rows.filterNot(_._1 == 5L).toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$postDir/embeddings.parquet")
    val scratch = graft.SparkEntry.queries("q52_er_blocked")(spark, postDir)
      .as[(Long, Long)].collect().toSeq
    assert(sparse === scratch,
      "sparse tombstone serving diverged from from-scratch post-delete ER")
  }

  /** Update path (q151) on a fixture engineered for the migration hard
    * case, hand-derived: updating vector 17 (reverse(x0) = x5) must
    * REMOVE it from its old component {11,12,17} (which re-mins to
    * {11,12}) and MERGE it into the seed 0's component; updating the
    * isolated 27 (reverse(x2) = x3) must attach it to 14; {21,22}
    * passes through untouched. Updated set = vec_id % 10 = 7.
    */
  test("updates migrate vectors across components; both phases compose exactly") {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    val rows: Seq[(Long, Seq[Float])] = Seq(
      0L -> axis(5),                                 // seed; 17 lands here
      11L -> axis(0), 12L -> axis(0), 17L -> axis(0), // C1; 17 updated away
      21L -> axis(1), 22L -> axis(1),                 // untouched
      14L -> axis(3), 27L -> axis(2))                 // 27 updated onto 14
    val d = Files.createTempDirectory("upd_er_fix").toString
    rows.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = EntityResolution.updateResolve(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq(
      0L -> 0L,
      11L -> 11L, 12L -> 11L,    // 17 left; survivors re-min to 11
      14L -> 14L,
      17L -> 0L,                 // migrated into the seed's component
      21L -> 21L, 22L -> 21L,    // untouched pass-through
      27L -> 14L))               // migrated onto 14
    // from-scratch blocked ER over the re-embedded corpus agrees (the
    // seed sets coincide: 0 is the only multiple of 50 either way)
    val postDir = Files.createTempDirectory("upd_er_post").toString
    rows.map { case (id, e) => (id, if (id % 10 == 7) e.reverse else e) }
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
      .write.mode("overwrite").parquet(s"$postDir/embeddings.parquet")
    val scratch = graft.SparkEntry.queries("q52_er_blocked")(spark, postDir)
      .as[(Long, Long)].collect().toSeq
    assert(scratch === got)
    // the update day served alone (q155) agrees — and serving TWICE
    // (the second call reads the snapshot's tables) agrees too
    val served1 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("update", 7)).as[(Long, Long)].collect().toSeq
    val served2 = Lifecycle.serve(spark, Lifecycle.synthetic(d),
      ("update", 7)).as[(Long, Long)].collect().toSeq
    assert(served1 === got && served2 === got,
      "served update path diverged from inline")
  }

  /** Randomized equivalence for the whole delete/update family: on
    * random small corpora (axes + bridge mixtures — enough structure
    * for multi-member components, bridges, and cross-component
    * migrations to arise by chance), the incremental results must equal
    * from-scratch blocked ER over the correspondingly modified corpus.
    * Ids stay under 50 with vector 0 always present, so the pinned and
    * unpinned seed sets coincide ({0}) and from-scratch q52 is a valid
    * oracle for both paths.
    */
  test("random corpora: tombstone and update paths equal from-scratch ER") {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    def bridge(i: Int, j: Int): Seq[Float] =
      (0 until 6).map(k => if (k == i || k == j) 0.7071f else 0.0f)
    Seq(5L, 13L, 77L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = 0L +: rnd.shuffle((1L until 50L).toList).take(20)
      val rows: Seq[(Long, Seq[Float])] = ids.map { id =>
        id -> (if (rnd.nextInt(3) == 0)
          bridge(rnd.nextInt(6), rnd.nextInt(6))
        else axis(rnd.nextInt(6)))
      }
      def write(rs: Seq[(Long, Seq[Float])]): String = {
        val d = java.nio.file.Files.createTempDirectory(s"er_prop$seed").toString
        rs.toDF("vec_id", "embedding")
          .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      }
      val d = write(rows)
      def scratch(rs: Seq[(Long, Seq[Float])]): Seq[(Long, Long)] =
        graft.SparkEntry.queries("q52_er_blocked")(spark, write(rs))
          .as[(Long, Long)].collect().toSeq

      val tomb = EntityResolution.tombstoneResolve(spark, d)
        .as[(Long, Long)].collect().toSeq
      assert(tomb === scratch(rows.filterNot(_._1 % 10 == 5)),
        s"tombstone diverged at seed $seed")

      val upd = EntityResolution.updateResolve(spark, d)
        .as[(Long, Long)].collect().toSeq
      val reEmbedded = rows.map { case (id, e) =>
        (id, if (id % 10 == 7) e.reverse else e)
      }
      assert(upd === scratch(reEmbedded), s"update diverged at seed $seed")
    }
  }

  /** Order-independence of the CRUD lifecycle: with disjoint day
    * classes the net corpus is the same whichever order the insert,
    * update, and delete days arrive in — so EVERY permutation must land
    * on from-scratch blocked ER over the net corpus (class 5 absent,
    * class 7 reversed, class 9 present). This is the property a
    * production fold pipeline actually relies on (days are scheduled,
    * not canonical), and it exercises compositions the fixed-order
    * gates never reach: an insert serving against already-reversed
    * survivors, a delete running before anything was inserted. The
    * permutations of one seed share the immutable base snapshot (the
    * per-JVM guard reuses it), so base reuse is exercised too.
    */
  test("random corpora: the CRUD lifecycle equals from-scratch ER under every day order") {
    import spark.implicits._
    def axis(i: Int): Seq[Float] =
      (0 until 6).map(j => if (j == i) 1.0f else 0.0f)
    def bridge(i: Int, j: Int): Seq[Float] =
      (0 until 6).map(k => if (k == i || k == j) 0.7071f else 0.0f)
    val allOps = Seq(("insert", 9), ("update", 7), ("delete", 5))
    Seq(7L, 21L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = 0L +: rnd.shuffle((1L until 50L).toList).take(20)
      val rows: Seq[(Long, Seq[Float])] = ids.map { id =>
        id -> (if (rnd.nextInt(3) == 0)
          bridge(rnd.nextInt(6), rnd.nextInt(6))
        else axis(rnd.nextInt(6)))
      }
      def write(rs: Seq[(Long, Seq[Float])]): String = {
        val d = java.nio.file.Files
          .createTempDirectory(s"er_crud$seed").toString
        rs.toDF("vec_id", "embedding")
          .selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label")
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        d
      }
      val d = write(rows)
      val net = rows.filterNot(_._1 % 10 == 5).map { case (id, e) =>
        (id, if (id % 10 == 7) e.reverse else e)
      }
      val want = graft.SparkEntry.queries("q52_er_blocked")(spark, write(net))
        .as[(Long, Long)].collect().toSeq
      (Seq(allOps, allOps.reverse) :+ rnd.shuffle(allOps)).distinct
        .foreach { ops =>
          val got = Lifecycle.run(spark, Lifecycle.synthetic(d),
            Lifecycle.Rewrite, "graft_q162_prop", ops)
            .as[(Long, Long)].collect().toSeq
          assert(got === want,
            s"lifecycle diverged at seed $seed, order ${ops.map(_._1)}")
          // the MOR-advance twin must agree under every order too — the
          // sidecar fold is the only thing that differs
          val gotMor = Lifecycle.run(spark, Lifecycle.synthetic(d),
            Lifecycle.MergeOnRead, "graft_q163_prop", ops)
            .as[(Long, Long)].collect().toSeq
          assert(gotMor === want,
            s"MOR lifecycle diverged at seed $seed, order ${ops.map(_._1)}")
        }
    }
  }

  /** The q162 lifecycle is the serve matrix COMPOSED, so each boundary
    * state has an independently-gated twin: stopping after the insert
    * day must reproduce q143's served merge bit-for-bit (same standing
    * state, same kernel — only the advance machinery differs), and
    * stopping after the update day must reproduce q155's served merge
    * over the full corpus (after day 1 the advanced tables hold exactly
    * q155's standing state: full-corpus assignment + blocked kernel
    * under the pre-insert pin). The full three-day state is gated by
    * the DuckDB oracle; here we pin replay idempotence (the working
    * tables reset from the immutable snapshot every call).
    */
  test("q162 lifecycle boundaries reproduce the served matrix; replay is idempotent") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val day1 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q162_d1", Seq(("insert", 9)))
      .as[(Long, Long)].collect().toSeq
    val q143 = Lifecycle.serve(spark, Lifecycle.synthetic(d), ("insert", 9))
      .as[(Long, Long)].collect().toSeq
    assert(day1 === q143)
    val day2 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q162_d2", Seq(("insert", 9), ("update", 7)))
      .as[(Long, Long)].collect().toSeq
    val q155 = Lifecycle.serve(spark, Lifecycle.synthetic(d), ("update", 7))
      .as[(Long, Long)].collect().toSeq
    assert(day2 === q155)
    // own prefix, NOT the registry default: suites run in parallel on
    // the shared session, and ServeCacheReleaseSpec replays the q162
    // registry entry (prefix graft_q162) concurrently — a lifecycle
    // replay mutates its working tables, so two replays on one prefix
    // race (the documented single-serving-thread contract; in a sweep
    // each query runs alone, in the suite each test keeps its own
    // prefix)
    val full1 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q162_full", crud)
      .as[(Long, Long)].collect().toSeq
    val full2 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q162_full", crud)
      .as[(Long, Long)].collect().toSeq
    assert(full1 === full2)
    assert(full1.nonEmpty)
    // the delete day actually removed its class and kept the others
    assert(full1.forall(_._1 % 10 != 5))
    assert(full1.exists(_._1 % 10 == 9) && full1.exists(_._1 % 10 == 7))
    // the MOR-advance twin (q163) produces the identical mapping — the
    // sidecar fold must be invisible in the result — and replays
    // idempotently off its immutable base + dropped sidecars
    val mor1 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.MergeOnRead, "graft_q163_full", crud)
      .as[(Long, Long)].collect().toSeq
    val mor2 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.MergeOnRead, "graft_q163_full", crud)
      .as[(Long, Long)].collect().toSeq
    assert(mor1 === full1 && mor2 === full1)
  }

  test("q166 mid-lifecycle compaction is invisible in the mapping and replays idempotently") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val want = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q166_ref", crud)
      .as[(Long, Long)].collect().toSeq
    // compact after the UPDATE day (both delta and tombstone sidecars
    // live at that boundary — the hardest fold), then the delete day
    // runs against the compacted working base and appends fresh
    // sidecars to IT. The mapping must equal the never-compacted run.
    val cmp1 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.MergeOnRead, "graft_q166_t", crud, compactAfterOps = Set(1))
      .as[(Long, Long)].collect().toSeq
    assert(cmp1 === want)
    // replay: the reset must drop the compacted working base + its
    // post-fold sidecars and start again from the pristine snapshot
    val cmp2 = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.MergeOnRead, "graft_q166_t", crud, compactAfterOps = Set(1))
      .as[(Long, Long)].collect().toSeq
    assert(cmp2 === want)
    // compacting at EVERY boundary (repeated in-place folds of the
    // working base, exercising compactMor after compactMorInto) must
    // also be invisible
    val every = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.MergeOnRead, "graft_q166_all", crud,
      compactAfterOps = Set(0, 1, 2))
      .as[(Long, Long)].collect().toSeq
    assert(every === want)
    // after a full replay with compactAfterOps=Set(1): the delete day's
    // sidecars live on the WORKING base (post-fold appends follow the
    // fold), and the snapshot base carries none — the reset contract
    assert(spark.catalog.tableExists("graft_q166_t_pairs"))
    assert(spark.catalog.tableExists("graft_q166_t_pairs_tomb"))
    assert(!spark.catalog.tableExists("graft_q166_t_base_pairs_tomb") &&
      !spark.catalog.tableExists("graft_q166_t_base_pairs_delta"))
  }

  /** Round-15 verdict items 4 + 6 together: the conf'd compaction
    * policy (q169 — sidecar depth ≥ 2 fires the fold exactly where
    * q166's manual Set(1) folds) is invisible in the mapping, and the
    * SHARED day-0 snapshot the whole q162/q163/q166/q169 family now
    * reads (one `_base_*` build per JVM instead of one per prefix)
    * cannot leak one query's advances into another's replay: the MOR
    * runs' sidecars host under their own prefixes, the snapshot's
    * tables stay bit-stable across runs, and a MOW sharer replaying
    * from the same snapshot afterwards reproduces the reference.
    */
  test("q169 policy-fired compaction + shared-snapshot isolation") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val want = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q169_ref", crud)
      .as[(Long, Long)].collect().toSeq
    // the whole family shares ONE snapshot, named by (source, ins-set)
    val base = EntityResolution.sharedBaseName("syn", s"$d|ins=9")
    assert(spark.catalog.tableExists(s"${base}_pairs"),
      "the MOW run must have built the shared snapshot")
    val basePairs = spark.table(s"${base}_pairs")
      .as[(Long, Long)].collect().toSet
    // the policy-driven MOR lifecycle (the registered q169 closure sets
    // spark.graft.mor.compactDepth=2 and restores it)
    val got = graft.SparkEntry.queries("q169_er_mor_compact_policy")(
      spark, d).as[(Long, Long)].collect().toSeq
    assert(got === want,
      "the policy trigger must be invisible in the mapping")
    assert(spark.conf.getOption(
      graft.graph.BucketedStore.CompactDepthConf).isEmpty,
      "the q169 closure must restore the conf")
    // the policy FIRED mid-lifecycle: the fold materialized the working
    // tables (q163 without compaction never creates them) and the
    // delete day's sidecars ride on the working name
    assert(spark.catalog.tableExists("graft_q169_pairs"))
    assert(spark.catalog.tableExists("graft_q169_pairs_tomb"))
    // shared-snapshot isolation: the base is bit-stable and carries no
    // sidecars after the MOR run's advances
    assert(!spark.catalog.tableExists(s"${base}_pairs_delta") &&
      !spark.catalog.tableExists(s"${base}_pairs_tomb") &&
      !spark.catalog.tableExists(s"${base}_assigned_delta") &&
      !spark.catalog.tableExists(s"${base}_assigned_tomb"))
    assert(spark.table(s"${base}_pairs")
      .as[(Long, Long)].collect().toSet === basePairs)
    // a MOW sharer replaying from the same snapshot AFTER the MOR run
    // still reproduces the reference — no cross-query leak
    val sharer = Lifecycle.run(spark, Lifecycle.synthetic(d),
      Lifecycle.Rewrite, "graft_q169_sharer", crud)
      .as[(Long, Long)].collect().toSeq
    assert(sharer === want)
  }
}
