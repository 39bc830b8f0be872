package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.TinySf

/** Proof of the co-located-join design claim: two edge frames bucketed on
  * the document key join WITHOUT a shuffle exchange, and the co-author
  * self-join result is identical to the unbucketed plan's.
  */
class BucketedStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed self-join on the doc key plans no shuffle exchange") {
    val au = BibGraph.authored(spark, TinySf)
    BucketedStore.writeBucketed(au, "authored_b", "title", buckets = 8)
    val t = BucketedStore.table(spark, "authored_b")
    val joined = t.as("a")
      .join(t.as("b"), $"a.title" === $"b.title" && $"a.author" < $"b.author")
      .select($"a.author", $"b.author")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")

    // and produces exactly the frames the unbucketed join produces
    val bucketed = joined.as[(String, String)].collect().toSet
    val plain = au.as("a")
      .join(au.as("b"), $"a.title" === $"b.title" && $"a.author" < $"b.author")
      .select($"a.author", $"b.author").as[(String, String)].collect().toSet
    assert(bucketed === plain && plain.nonEmpty)
  }

  test("bucket-aligned append keeps co-located joins; compaction restores one file per bucket") {
    val au = BibGraph.authored(spark, TinySf)
    val (batch1, batch2) =
      (au.filter($"author" < "Author_5"), au.filter($"author" >= "Author_5"))
    BucketedStore.writeBucketed(batch1, "authored_app", "title", buckets = 8)
    BucketedStore.appendBucketed(batch2, "authored_app", "title", buckets = 8)

    def content() = BucketedStore.table(spark, "authored_app")
      .as[(String, String)].collect().toSet
    val want = au.as[(String, String)].collect().toSet
    assert(content() === want && want.nonEmpty,
      "append must make the union visible (read-equivalence)")
    // a drifted bucket spec must fail loudly, not corrupt the layout
    intercept[Exception] {
      BucketedStore.appendBucketed(batch2, "authored_app", "title", buckets = 4)
    }

    def joinPlan() = {
      val t = BucketedStore.table(spark, "authored_app")
      t.as("a")
        .join(t.as("b"), $"a.title" === $"b.title" && $"a.author" < $"b.author")
        .select($"a.author", $"b.author")
        .queryExecution.executedPlan.toString
    }
    assert(!joinPlan().contains("Exchange hashpartitioning"),
      s"post-append bucketed join shuffles:\n${joinPlan()}")

    def dataFiles() = BucketedStore.table(spark, "authored_app")
      .inputFiles.length
    val grown = dataFiles()
    assert(grown > 8, s"append should add per-bucket files (saw $grown)")
    BucketedStore.compactBucketed(spark, "authored_app", "title", buckets = 8)
    assert(content() === want, "compaction must not change table content")
    assert(dataFiles() <= 8,
      s"compaction should restore <=1 file per bucket (saw ${dataFiles()})")
    assert(!joinPlan().contains("Exchange hashpartitioning"),
      s"post-compact bucketed join shuffles:\n${joinPlan()}")
    // the temp swap table is gone from the catalog
    assert(!spark.catalog.tableExists("authored_app_compact"))
  }

  /** Merge-on-read sidecars (round-13 verdict item 4): the epoch fold
    * rules — delta rows visible, a tombstone kills strictly-OLDER rows
    * of its id in any endpoint column (so an update's same-epoch delta
    * survives its own tombstone), later tombstones kill earlier deltas,
    * missing sidecars fold to the base alone — and compaction: the
    * folded base equals the merged view, the sidecars are gone, and
    * joins against it are exchange-free again.
    */
  test("merge-on-read sidecars: epoch fold rules and compaction") {
    // pair-shaped base with two endpoint columns, keyed by u
    val base = Seq((1L, 2L, "a"), (3L, 4L, "b"), (5L, 6L, "c"))
      .toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_pairs", "u", buckets = 4)

    def view() = BucketedStore.readMor(spark, "mor_pairs", Seq("u", "v"))
      .as[(Long, Long, String)].collect().toSet

    // no sidecars → the base alone
    assert(view() === base.as[(Long, Long, String)].collect().toSet)

    // epoch 1: delete id 4 (kills base row (3,4) via endpoint v), and
    // an UPDATE of id 2 — tombstone 2 + same-epoch delta (1,2,"a2"):
    // the strict comparison must kill the epoch-0 (1,2,"a") and keep
    // the epoch-1 replacement
    BucketedStore.appendTombstoneSidecar(
      Seq(4L, 2L).toDF("id"), "mor_pairs", epoch = 1)
    BucketedStore.appendDeltaSidecar(
      Seq((1L, 2L, "a2")).toDF("u", "v", "tag"), "mor_pairs", "u", epoch = 1)
    assert(view() === Set((1L, 2L, "a2"), (5L, 6L, "c")))

    // epoch 2: a later tombstone kills the earlier delta too
    BucketedStore.appendTombstoneSidecar(
      Seq(1L).toDF("id"), "mor_pairs", epoch = 2)
    val afterE2 = Set((5L, 6L, "c"))
    assert(view() === afterE2)

    // invalid sidecar appends fail loudly
    intercept[IllegalArgumentException] {
      BucketedStore.appendDeltaSidecar(base, "mor_pairs", "u", epoch = 0)
    }
    intercept[IllegalArgumentException] {
      BucketedStore.appendTombstoneSidecar(
        Seq((1L, 2L)).toDF("a", "b"), "mor_pairs", epoch = 3)
    }

    // compaction folds the sidecars into a fresh bucketed base…
    BucketedStore.compactMor(spark, "mor_pairs", "u", Seq("u", "v"),
      buckets = 4)
    assert(view() === afterE2, "compaction must not change the merged view")
    assert(!spark.catalog.tableExists("mor_pairs_delta") &&
      !spark.catalog.tableExists("mor_pairs_tomb") &&
      !spark.catalog.tableExists("mor_pairs_mor_next") &&
      !spark.catalog.tableExists("mor_pairs_delta_folded") &&
      !spark.catalog.tableExists("mor_pairs_tomb_folded"))
    // …whose self-join is exchange-free again (the MOR view's union +
    // anti-joins erase the advertised bucketing; the folded base
    // restores it)
    val t = BucketedStore.table(spark, "mor_pairs")
    val plan = t.as("a").join(t.as("b"), Seq("u"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"post-compact MOR base join shuffles:\n$plan")
  }

  /** The "tombstones are day-batch-sized" contract is enforced by
    * size: while the tombstone sidecar's on-disk bytes are within
    * `spark.sql.autoBroadcastJoinThreshold` the anti-joins broadcast it;
    * past it they fall back to a shuffle anti-join (identical rows,
    * never an OOM).
    */
  test("readMor tombstone cap: broadcast under, shuffle fallback over") {
    val base = Seq((1L, 2L, "a"), (3L, 4L, "b"), (5L, 6L, "c"))
      .toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_cap", "u", buckets = 4)
    BucketedStore.appendTombstoneSidecar(
      Seq(4L, 2L).toDF("id"), "mor_cap", epoch = 1)
    val want = Set((5L, 6L, "c"))
    def view() = BucketedStore.readMor(spark, "mor_cap", Seq("u", "v"))
    def rows() = view().as[(Long, Long, String)].collect().toSet
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val auto = spark.conf.get(threshold)
    try {
      // under the threshold (default 10 MB): broadcast anti-join
      val under = view().queryExecution.executedPlan.toString
      assert(under.contains("BroadcastHashJoin") ||
        under.contains("BroadcastNestedLoopJoin"),
        s"under-threshold tombstone anti-join did not broadcast:\n$under")
      assert(rows() === want)
      // a threshold below the sidecar's file bytes: shuffle, same rows
      spark.conf.set(threshold, "1")
      val over = view().queryExecution.executedPlan.toString
      assert(!over.contains("BroadcastHashJoin") &&
        !over.contains("BroadcastNestedLoopJoin"),
        s"over-threshold tombstone anti-join still broadcasts:\n$over")
      assert(rows() === want)
    } finally spark.conf.set(threshold, auto)
  }

  /** compactMorInto (the mid-lifecycle shape): folds the merged view
    * under a NEW name, retires the sidecars, and leaves the original
    * base byte-identical — the immutable-snapshot contract the q166
    * lifecycle compaction relies on.
    */
  test("compactMorInto folds into a working name, snapshot untouched") {
    val base = Seq((1L, 2L, "a"), (3L, 4L, "b"), (5L, 6L, "c"))
      .toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_snap", "u", buckets = 4)
    BucketedStore.appendTombstoneSidecar(
      Seq(4L).toDF("id"), "mor_snap", epoch = 1)
    BucketedStore.appendDeltaSidecar(
      Seq((7L, 8L, "d")).toDF("u", "v", "tag"), "mor_snap", "u", epoch = 1)
    val merged = BucketedStore.readMor(spark, "mor_snap", Seq("u", "v"))
      .as[(Long, Long, String)].collect().toSet
    intercept[IllegalArgumentException] {
      BucketedStore.compactMorInto(spark, "mor_snap", "mor_snap",
        "u", Seq("u", "v"), buckets = 4)
    }
    BucketedStore.compactMorInto(spark, "mor_snap", "mor_snap_work",
      "u", Seq("u", "v"), buckets = 4)
    // the fold landed under the working name and equals the merged view
    assert(BucketedStore.readMor(spark, "mor_snap_work", Seq("u", "v"))
      .as[(Long, Long, String)].collect().toSet === merged)
    // sidecars retired; the snapshot base reads as its original self
    assert(!spark.catalog.tableExists("mor_snap_delta") &&
      !spark.catalog.tableExists("mor_snap_tomb"))
    assert(BucketedStore.readMor(spark, "mor_snap", Seq("u", "v"))
      .as[(Long, Long, String)].collect().toSet ===
      base.as[(Long, Long, String)].collect().toSet)
    // and the working base is plainly bucketed (exchange-free self-join)
    val t = BucketedStore.table(spark, "mor_snap_work")
    val plan = t.as("a").join(t.as("b"), Seq("u"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"compactMorInto result join shuffles:\n$plan")
  }

  /** With a SHARED day-0 snapshot, each
    * lifecycle's sidecars host under its OWN name (readMor's
    * `sidecarsOf`) — two readers of one base see only their own
    * advances, the base never carries sidecars, and compactMorInto
    * retires exactly the host's sidecars.
    */
  test("readMor sidecarsOf: two hosts over one shared base stay isolated") {
    val base = Seq((1L, 2L, "a"), (3L, 4L, "b"), (5L, 6L, "c"))
      .toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_shared", "u", buckets = 4)
    Seq("mor_host_x", "mor_host_y").foreach(h =>
      BucketedStore.dropSidecars(spark, h))
    def view(host: String) =
      BucketedStore.readMor(spark, "mor_shared", Seq("u", "v"), host)
        .as[(Long, Long, String)].collect().toSet
    val baseSet = base.as[(Long, Long, String)].collect().toSet

    // host X deletes id 4 and appends a row; host Y sees the pristine base
    BucketedStore.appendTombstoneSidecar(
      Seq(4L).toDF("id"), "mor_host_x", epoch = 1)
    BucketedStore.appendDeltaSidecar(
      Seq((7L, 8L, "x")).toDF("u", "v", "tag"), "mor_host_x", "u", epoch = 1)
    assert(view("mor_host_x") === Set((1L, 2L, "a"), (5L, 6L, "c"), (7L, 8L, "x")))
    assert(view("mor_host_y") === baseSet,
      "host Y observed host X's advances through the shared base")
    // the shared base itself never hosts sidecars
    assert(!spark.catalog.tableExists("mor_shared_delta") &&
      !spark.catalog.tableExists("mor_shared_tomb"))

    // folding host X's advances into its working name retires X's
    // sidecars only and leaves the shared base bit-identical
    BucketedStore.compactMorInto(spark, "mor_shared", "mor_host_x", "u",
      Seq("u", "v"), buckets = 4, sidecarsOf = "mor_host_x")
    assert(BucketedStore.table(spark, "mor_host_x")
      .as[(Long, Long, String)].collect().toSet ===
      Set((1L, 2L, "a"), (5L, 6L, "c"), (7L, 8L, "x")))
    assert(!spark.catalog.tableExists("mor_host_x_delta") &&
      !spark.catalog.tableExists("mor_host_x_tomb"))
    assert(BucketedStore.table(spark, "mor_shared")
      .as[(Long, Long, String)].collect().toSet === baseSet)
    assert(view("mor_host_y") === baseSet)
  }

  /** The conf'd compaction policy. Both legs read the SIDECARS only
    * (depth = distinct epochs across delta+tomb, from their stored epoch
    * sets; rows = tombstone count); unset/0 confs are constant-false, so
    * explicit-schedule callers are untouched.
    */
  test("compactDue: conf'd depth/tombstone-rows triggers, off by default") {
    val base = Seq((1L, 2L, "a")).toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_policy", "u", buckets = 2)
    // no sidecars, no confs → never due
    assert(!BucketedStore.compactDue(spark, "mor_policy"))
    BucketedStore.appendDeltaSidecar(
      Seq((3L, 4L, "d1")).toDF("u", "v", "tag"), "mor_policy", "u", epoch = 1)
    BucketedStore.appendTombstoneSidecar(
      Seq(2L).toDF("id"), "mor_policy", epoch = 2)
    // sidecars at depth 2 (epochs {1,2}), 1 tombstone row — but confs
    // unset: still not due
    assert(!BucketedStore.compactDue(spark, "mor_policy"))
    try {
      spark.conf.set(BucketedStore.CompactDepthConf, "3")
      assert(!BucketedStore.compactDue(spark, "mor_policy"))
      spark.conf.set(BucketedStore.CompactDepthConf, "2")
      assert(BucketedStore.compactDue(spark, "mor_policy"))
      // a session that never wrote these sidecars reads the same depth
      // from the catalog
      val fresh = spark.newSession()
      fresh.conf.set(BucketedStore.CompactDepthConf, "2")
      assert(BucketedStore.compactDue(fresh, "mor_policy"))
      fresh.conf.set(BucketedStore.CompactDepthConf, "3")
      assert(!BucketedStore.compactDue(fresh, "mor_policy"))
      spark.conf.set(BucketedStore.CompactDepthConf, "0")
      assert(!BucketedStore.compactDue(spark, "mor_policy"))
      spark.conf.set(BucketedStore.CompactTombRowsConf, "1")
      assert(BucketedStore.compactDue(spark, "mor_policy"))
      spark.conf.set(BucketedStore.CompactTombRowsConf, "2")
      assert(!BucketedStore.compactDue(spark, "mor_policy"))
      // the fold clears the trigger: post-compaction nothing is due
      spark.conf.set(BucketedStore.CompactDepthConf, "2")
      BucketedStore.compactMor(spark, "mor_policy", "u", Seq("u", "v"),
        buckets = 2)
      assert(!BucketedStore.compactDue(spark, "mor_policy"))
    } finally {
      spark.conf.unset(BucketedStore.CompactDepthConf)
      spark.conf.unset(BucketedStore.CompactTombRowsConf)
    }
  }

  test("an append from a fresh session extends the stored epoch set") {
    val base = Seq((1L, 2L, "a")).toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_seed", "u", buckets = 2)
    BucketedStore.dropSidecars(spark, "mor_seed")
    BucketedStore.appendDeltaSidecar(
      Seq((3L, 4L, "d1")).toDF("u", "v", "tag"), "mor_seed", "u", epoch = 1)
    BucketedStore.appendDeltaSidecar(
      Seq((5L, 6L, "d2")).toDF("u", "v", "tag"), "mor_seed", "u", epoch = 2)
    // a restarted writer (a session that holds nothing of the first
    // two appends) appends epoch 3: depth counts all three
    val fresh = spark.newSession()
    BucketedStore.appendDeltaSidecar(
      fresh.createDataFrame(Seq((7L, 8L, "d3"))).toDF("u", "v", "tag"),
      "mor_seed", "u", epoch = 3)
    assert(BucketedStore.epochsOf(fresh, "mor_seed_delta") === Set(1, 2, 3))
    try {
      spark.conf.set(BucketedStore.CompactDepthConf, "3")
      assert(BucketedStore.compactDue(spark, "mor_seed"),
        "depth must count the earlier epochs, not only the latest append")
      // a fold retires the epochs with the sidecars: a single fresh
      // epoch after it reads depth 1, not 4
      BucketedStore.compactMor(spark, "mor_seed", "u", Seq("u", "v"),
        buckets = 2)
      BucketedStore.appendDeltaSidecar(
        Seq((9L, 10L, "d4")).toDF("u", "v", "tag"), "mor_seed", "u",
        epoch = 4)
      spark.conf.set(BucketedStore.CompactDepthConf, "2")
      assert(!BucketedStore.compactDue(spark, "mor_seed"))
      spark.conf.set(BucketedStore.CompactDepthConf, "1")
      assert(BucketedStore.compactDue(spark, "mor_seed"))
    } finally spark.conf.unset(BucketedStore.CompactDepthConf)
  }

  test("a sidecar dropped with a plain DROP TABLE restarts at depth 1") {
    val base = Seq((1L, 2L, "a")).toDF("u", "v", "tag")
    BucketedStore.writeBucketed(base, "mor_plain", "u", buckets = 2)
    BucketedStore.dropSidecars(spark, "mor_plain")
    Seq(1, 2).foreach(e => BucketedStore.appendDeltaSidecar(
      Seq((3L + e, 4L, "d")).toDF("u", "v", "tag"), "mor_plain", "u",
      epoch = e))
    spark.sql("DROP TABLE `mor_plain_delta`")
    BucketedStore.appendDeltaSidecar(
      Seq((9L, 10L, "d3")).toDF("u", "v", "tag"), "mor_plain", "u", epoch = 3)
    try {
      spark.conf.set(BucketedStore.CompactDepthConf, "2")
      assert(!BucketedStore.compactDue(spark, "mor_plain"),
        "the dropped sidecar's epochs must go with it")
      spark.conf.set(BucketedStore.CompactDepthConf, "1")
      assert(BucketedStore.compactDue(spark, "mor_plain"))
    } finally spark.conf.unset(BucketedStore.CompactDepthConf)
  }

  test("a writer failing inside replaceBucketedAll lands no swap") {
    val old = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val names = Seq("rep_all_x", "rep_all_y", "rep_all_z")
    names.foreach(BucketedStore.writeBucketed(old, _, "k", buckets = 2))
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k == 2L) throw new IllegalStateException("injected write failure")
      k
    }
    val fresh = Seq((7L, "x"), (8L, "y")).toDF("k", "v")
    val failing = old.withColumn("k", boom($"k"))
    intercept[Exception] {
      BucketedStore.replaceBucketedAll(Seq((fresh, names(0), "k"),
        (failing, names(1), "k"), (fresh, names(2), "k")), buckets = 2)
    }
    // the two good writers settled, but none of the three swaps landed
    names.foreach { t =>
      assert(spark.table(t).as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b")), s"$t was swapped")
    }
  }

  test("readMor and replaceBucketed recover a crash-stranded _next (r17 ADVICE 5)") {
    // the crash-to-reland window: recovery only at the next
    // landMorSidecars meant a readMor BETWEEN the crash and that
    // landing silently served base-only state
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    BucketedStore.writeBucketed(base, "rec_mor", "k", buckets = 2)
    BucketedStore.dropSidecars(spark, "rec_mor")
    BucketedStore.appendDeltaSidecar(
      Seq((3L, "c")).toDF("k", "v"), "rec_mor", "k", epoch = 1, buckets = 2)
    // simulate the rewrite crash: `_delta` fully copied to `_next`,
    // original dropped, rename never ran
    BucketedStore.writeBucketed(spark.table("rec_mor_delta"),
      "rec_mor_delta_next", "k", buckets = 2)
    spark.sql("DROP TABLE `rec_mor_delta`")
    assert(BucketedStore.readMor(spark, "rec_mor", Seq("k"))
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "a read in the crash window must recover the stranded delta, " +
        "not fold to the base alone")
    assert(spark.catalog.tableExists("rec_mor_delta") &&
      !spark.catalog.tableExists("rec_mor_delta_next"))

    // replaceBucketed: a crashed previous swap left the TARGET missing
    // and complete under `_next`; the next replace must restore it
    // first (never bury the only copy by clobbering the temp name)
    BucketedStore.writeBucketed(base, "rec_std", "k", buckets = 2)
    BucketedStore.writeBucketed(spark.table("rec_std"),
      "rec_std_next", "k", buckets = 2)
    spark.sql("DROP TABLE `rec_std`")
    BucketedStore.replaceBucketed(
      Seq((9L, "z")).toDF("k", "v"), "rec_std", "k", buckets = 2)
    assert(spark.table("rec_std").as[(Long, String)].collect().toSet ===
      Set((9L, "z")))
    assert(!spark.catalog.tableExists("rec_std_next"))
    // the other arm: stale `_next` beside an intact target is purged
    BucketedStore.writeBucketed(Seq((8L, "y")).toDF("k", "v"),
      "rec_std_next", "k", buckets = 2)
    BucketedStore.recoverStrandedNext(spark, "rec_std")
    assert(spark.table("rec_std").as[(Long, String)].collect().toSet ===
      Set((9L, "z")), "an intact target is never overwritten by a stale temp")
    assert(!spark.catalog.tableExists("rec_std_next"))
  }

  test("partitioned write prunes non-matching partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("partstore").toString
    // documents partitioned by (split, lang) — the q26 layout
    val docs = graft.Tables.documents(spark, TinySf)
      .withColumn("split",
        when(conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % 1000 < 800, "train").otherwise("holdout"))
    BucketedStore.writePartitioned(docs, dir, "split", "lang")
    val back = spark.read.parquet(dir)
      .filter($"split" === "train" && $"lang" === "zh")

    // the filter must be resolved as PartitionFilters (directory pruning),
    // not a row-level data filter over the full corpus
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no partition pruning:\n$scan")
    val expected = docs.filter($"split" === "train" && $"lang" === "zh").count()
    // execute THIS DataFrame's own plan so its scan metrics populate
    // (count() would build a separate QueryExecution)
    assert(back.collect().length.toLong === expected && expected > 0)
    // and the executed scan actually opened fewer files than the layout
    // holds (inputFiles ignores pruning; the scan metric does not)
    val scanned = back.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.sum
    val allFiles = spark.read.parquet(dir).inputFiles.length.toLong
    assert(scanned > 0 && scanned < allFiles,
      s"scan opened $scanned of $allFiles files — no pruning")
  }
}
