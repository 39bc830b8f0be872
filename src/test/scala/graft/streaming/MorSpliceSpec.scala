package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.TinySf
import graft.graph.BucketedStore

/** The streaming→MOR splice: a micro-batch
  * lands as epoch-tagged sidecars on the bucketed serving table through
  * [[ExactlyOnceSink.landMorSidecars]], with `compactMor` as the one
  * fold — so streaming ingest and batch maintenance share a single
  * write layout. Pinned here: sidecar-level landing idempotence (land
  * twice ≡ once, including a partial/crashed epoch), replay-AFTER-fold
  * convergence (fold∘land∘fold = fold), and the gated q168 lineage
  * serving the same answer as q147's fold-on-write zone.
  */
class MorSpliceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("landMorSidecars is idempotent per epoch, append-fast otherwise") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    BucketedStore.writeBucketed(base, "splice_t", "k", buckets = 4)
    BucketedStore.dropSidecars(spark, "splice_t")
    def view() = BucketedStore.readMor(spark, "splice_t", Seq("k"))
      .as[(Long, String)].collect().toSet
    val update = Seq((2L, "b2")).toDF("k", "v")

    // land epoch 1 (update of key 2), then REPLAY it: one copy survives
    def land(): Unit = ExactlyOnceSink.landMorSidecars(spark, "splice_t",
      "k", epoch = 1, deltas = Some(update),
      tombstoneIds = Some(update.select($"k")), buckets = 4)
    land()
    val want = Set((1L, "a"), (2L, "b2"), (3L, "c"))
    assert(view() === want)
    land()
    assert(view() === want, "replayed epoch must not double-apply")
    assert(spark.table("splice_t_delta").count() === 1 &&
      spark.table("splice_t_tomb").count() === 1,
      "replay must converge to one sidecar copy per epoch")

    // a LATER epoch is a plain append — both epochs' rows coexist
    ExactlyOnceSink.landMorSidecars(spark, "splice_t", "k", epoch = 2,
      deltas = Some(Seq((4L, "d")).toDF("k", "v")), buckets = 4)
    assert(view() === want + ((4L, "d")))
    assert(spark.table("splice_t_delta").count() === 2)

    // crash-mid-append shape: a partial epoch-3 delta already on disk is
    // cleaned up by the re-land (rewrite-minus-epoch, then re-append)
    BucketedStore.appendDeltaSidecar(
      Seq((5L, "partial")).toDF("k", "v"), "splice_t", "k", epoch = 3,
      buckets = 4)
    ExactlyOnceSink.landMorSidecars(spark, "splice_t", "k", epoch = 3,
      deltas = Some(Seq((5L, "e"), (6L, "f")).toDF("k", "v")), buckets = 4)
    assert(view() === want ++ Set((4L, "d"), (5L, "e"), (6L, "f")))

    intercept[IllegalArgumentException] {
      ExactlyOnceSink.landMorSidecars(spark, "splice_t", "k", epoch = 0,
        deltas = Some(update))
    }
  }

  test("replay after the fold re-folds to the same state (fold∘land∘fold = fold)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    BucketedStore.writeBucketed(base, "splice_f", "k", buckets = 4)
    BucketedStore.dropSidecars(spark, "splice_f")
    val update = Seq((2L, "b2"), (9L, "i")).toDF("k", "v")
    def land(): Unit = ExactlyOnceSink.landMorSidecars(spark, "splice_f",
      "k", epoch = 1, deltas = Some(update),
      tombstoneIds = Some(update.select($"k")), buckets = 4)
    def folded() = spark.table("splice_f")
      .as[(Long, String)].collect().toSet
    land()
    BucketedStore.compactMor(spark, "splice_f", "k", Seq("k"), buckets = 4)
    val want = Set((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "i"))
    assert(folded() === want)
    // at-least-once delivery AFTER the fold: the re-landed tombstone
    // kills exactly the epoch-0 rows the fold produced for those keys,
    // and the same-epoch delta restores them verbatim
    land()
    assert(BucketedStore.readMor(spark, "splice_f", Seq("k"))
      .as[(Long, String)].collect().toSet === want,
      "the MOR view must already read the converged state")
    BucketedStore.compactMor(spark, "splice_f", "k", Seq("k"), buckets = 4)
    assert(folded() === want, "re-fold after replay must be a no-op")
    assert(!spark.catalog.tableExists("splice_f_delta") &&
      !spark.catalog.tableExists("splice_f_tomb"))
  }

  test("a crash-stranded _delta_next is recovered before landing (r16 ADVICE 1)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    BucketedStore.writeBucketed(base, "splice_r", "k", buckets = 4)
    BucketedStore.dropSidecars(spark, "splice_r")
    ExactlyOnceSink.landMorSidecars(spark, "splice_r", "k", epoch = 1,
      deltas = Some(Seq((2L, "b2")).toDF("k", "v")),
      tombstoneIds = Some(Seq(2L).toDF("k")), buckets = 4)
    ExactlyOnceSink.landMorSidecars(spark, "splice_r", "k", epoch = 2,
      deltas = Some(Seq((4L, "d")).toDF("k", "v")), buckets = 4)
    // simulate the replaceBucketed crash window of a replayed epoch-2
    // cleanup: the rewrite fully wrote `_delta_next` (minus epoch 2)
    // and DROPPED `_delta`, but died before the rename — the sidecar is
    // now missing and the only copy of epoch 1 is stranded
    BucketedStore.writeBucketed(
      spark.table("splice_r_delta").filter($"_epoch" =!= 2),
      "splice_r_delta_next", "k", buckets = 4)
    spark.sql("DROP TABLE `splice_r_delta`")
    // pre-fix: readMor folds to the base alone (reads CLEAN), and a
    // re-land would recreate `_delta` with only epoch 2 — epoch 1's
    // update silently lost. The recovery renames `_next` back first.
    ExactlyOnceSink.landMorSidecars(spark, "splice_r", "k", epoch = 2,
      deltas = Some(Seq((4L, "d")).toDF("k", "v")), buckets = 4)
    assert(BucketedStore.readMor(spark, "splice_r", Seq("k"))
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")),
      "the recovered sidecar must still carry epoch 1's update")
    assert(spark.table("splice_r_delta")
      .filter($"_epoch" === 1).count() === 1)
    assert(!spark.catalog.tableExists("splice_r_delta_next"))
    // the OTHER crash arm: a stale `_next` beside an INTACT sidecar
    // (crash before the drop) is purged, never recovered over the
    // original
    BucketedStore.writeBucketed(
      spark.table("splice_r_delta").filter($"_epoch" =!= 2),
      "splice_r_delta_next", "k", buckets = 4)
    ExactlyOnceSink.landMorSidecars(spark, "splice_r", "k", epoch = 2,
      deltas = Some(Seq((4L, "d")).toDF("k", "v")), buckets = 4)
    assert(!spark.catalog.tableExists("splice_r_delta_next"))
    assert(BucketedStore.readMor(spark, "splice_r", Seq("k"))
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("a replayed landing keeps the epoch set, and a fresh session reads it") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    BucketedStore.writeBucketed(base, "splice_e", "k", buckets = 4)
    BucketedStore.dropSidecars(spark, "splice_e")
    def land(epoch: Int, k: Long): Unit = ExactlyOnceSink.landMorSidecars(
      spark, "splice_e", "k", epoch, deltas = Some(Seq((k, s"e$epoch"))
        .toDF("k", "v")), tombstoneIds = Some(Seq(k).toDF("k")), buckets = 4)
    land(1, 2L)
    land(2, 3L)
    land(2, 3L) // replay: both sidecars are rewritten minus epoch 2
    val fresh = spark.newSession()
    Seq("splice_e_delta", "splice_e_tomb").foreach { t =>
      assert(BucketedStore.epochsOf(fresh, t) === Set(1, 2),
        s"$t lost epochs in the replay rewrite")
    }
    fresh.conf.set(BucketedStore.CompactDepthConf, "2")
    assert(BucketedStore.compactDue(fresh, "splice_e"))
    assert(BucketedStore.readMor(fresh, "splice_e", Seq("k"))
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "e1"), (3L, "e2")))
  }

  test("q168: the MOR-landed splice serves the same answer as q147's fold") {
    val viaMor = graft.SparkEntry.queries("q168_stream_mor_splice")(
      spark, TinySf)
      .collect().map(_.toString).toSeq
    val viaFold = graft.SparkEntry.queries("q147_stream_to_serve")(
      spark, TinySf)
      .collect().map(_.toString).toSeq
    assert(viaMor.nonEmpty && viaMor === viaFold,
      "the landing layout must be invisible in the served answer")
    // re-running the gate (same JVM: base already folded once) converges
    val again = graft.SparkEntry.queries("q168_stream_mor_splice")(
      spark, TinySf)
      .collect().map(_.toString).toSeq
    assert(again === viaMor)
  }
}
