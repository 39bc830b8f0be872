package graft.resolve

import org.apache.spark.sql.SparkSession

/** Dev-only pricing of the q163 merge-on-read story's third act:
  * `Test/runMain graft.resolve.ProfileMorCompaction [sfDir]`.
  *
  * The MOR advance defers the corpus write from every update/delete day
  * to a compaction SCHEDULE — so the complete cost comparison is
  *   q162 (merge-on-write): N days × (kernels + corpus rewrites)
  *   q163 (merge-on-read):  N days × (kernels + batch appends)
  *                          + one `compactMor` per schedule period.
  * The replay costs are benched (bench/r*_sf10_mor_focused.json); this
  * prices the schedule terms per-day via the lifecycle's own `onPhase`
  * hook (round 15): one q163 replay (every day at sidecar depth) against
  * one q166-shaped replay (compactAfterOps=Set(1) — the fold runs after
  * the update day, so its delete day reads the PLAIN compacted base).
  * The direct read of round-14 item 3's claim: `compact2` is the
  * scheduled fold's price, and `delete3(q166) − delete3(q163)` is the
  * read-side bucketing restoration it buys on the very next day. A
  * final standalone `compactMor` at full three-day depth keeps the
  * round-14 number comparable.
  */
object ProfileMorCompaction {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/bench_sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def replay(tag: String, prefix: String, compactAfter: Set[Int]): Unit = {
      val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      Lifecycle.run(spark, Lifecycle.synthetic(d), Lifecycle.MergeOnRead,
        prefix, Seq(("insert", 9), ("update", 7), ("delete", 5)),
        compactAfterOps = compactAfter, onPhase = (t, s) => phases(t) = s)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      EntityResolution.releaseServeCaches()
      val parts = phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
      println(f"[profile] $tag $parts total=$total%.2f")
    }
    // pass 1 per prefix builds the base snapshot; pass 2 is the
    // steady-state replay the bench records
    (1 to 2).foreach { pass =>
      replay(s"pass$pass q163 (no compaction)", "graft_prof_q163", Set.empty)
      replay(s"pass$pass q166 (compact after update day)",
        "graft_prof_q166", Set(1))
    }
    // the round-14 comparable: one standalone fold at full three-day
    // sidecar depth. Since round 16 the day-0 snapshot is SHARED and the
    // q163 replay's sidecars host under its own prefix, so the fold is a
    // compactMorInto (shared base + this prefix's sidecars → a working
    // name) — the snapshot stays pristine and the replay fixture is NOT
    // retired.
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[profile] $tag: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val base = EntityResolution.sharedBaseName("syn", s"$d|ins=9")
    time("compactMor pairs store (depth 3)") {
      graft.graph.BucketedStore.compactMorInto(spark,
        s"${base}_pairs", "graft_prof_q163_pairs", "u", Seq("u", "v"),
        sidecarsOf = "graft_prof_q163_pairs")
    }
    time("compactMor assigned store (depth 3)") {
      graft.graph.BucketedStore.compactMorInto(spark,
        s"${base}_assigned", "graft_prof_q163_assigned", "cid",
        Seq("vec_id"), sidecarsOf = "graft_prof_q163_assigned")
    }
    spark.stop()
  }
}
