package graft.resolve

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ingest.{TaggedQueries, TaggedText}

/** The full clean→merge→graph→query lifecycle over REAL ingest (§3.1):
  * keyword spelling variants (parenthetical gloss) merge through the
  * encoder stub + ε-join + CC, and the alias-expanded family-6 query for
  * the VARIANT spelling finds the canonically-tagged documents.
  */
class IngestedErSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ingested keyword mapping merges gloss variants, keeps others identity") {
    val m = EntityResolution.ingestedKeywordMapping(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("知识图谱 (KG)") === "知识图谱")
    assert(m("知识图谱") === "知识图谱")
    assert(m("深度学习 (DL)") === "深度学习")
    assert(m("强化学习") === "强化学习")
    assert(m("量子计算") === "量子计算")
    assert(m("图神经网络") === "图神经网络")
    assert(m.size === 7)
  }

  test("family-6 query for the variant spelling finds the canonical docs") {
    val titles = TaggedQueries.queries("q105_tagged_er_alias_docs")(spark, "")
      .collect().map(_.getString(0)).toSeq
    // ER Doc One is tagged 知识图谱 (canonical), ER Doc Two is tagged with
    // the variant — the expansion must surface BOTH
    assert(titles === Seq("ER Doc One", "ER Doc Two"))
  }

  test("q157 served update merge equals from-scratch ER over the " +
      "re-embedded universe (min-term reps)") {
    import org.apache.spark.sql.functions._
    val served = TaggedQueries.queries("q157_tagged_er_updates_served")(spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    // from-scratch: same term universe with the batch's embeddings
    // reversed BEFORE the exact ε-join + CC + min-term representative
    val terms = EntityResolution.distinctValues(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), Seq("keywords"))
      .select(col("value").as("term"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        EntityResolution.termEmbedding(col("value")).as("embedding"))
      .withColumn("embedding",
        when(col("vec_id") % 3 === 1, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val scratch = EntityResolution.aliasMapping(terms, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(served === scratch)
    assert(served.nonEmpty)
    // the update batch is non-trivial on this fixture (at least one
    // term is re-embedded), so the equality above exercises the merge
    val nUpd = terms.filter(col("vec_id") % 3 === 1).count()
    assert(nUpd > 0)
  }

  test("q158 served tombstone merge equals from-scratch ER over the " +
      "post-delete universe (min-term reps)") {
    import org.apache.spark.sql.functions._
    val served = TaggedQueries.queries("q158_tagged_er_tombstones_served")(
      spark, "").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    // from-scratch: the term universe MINUS the delete batch through the
    // exact ε-join + CC + min-term representative
    val allTerms = EntityResolution.distinctValues(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), Seq("keywords"))
      .select(col("value").as("term"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        EntityResolution.termEmbedding(col("value")).as("embedding"))
    val survivors = allTerms.filter(!(col("vec_id") % 3 === 2))
    val scratch = EntityResolution.aliasMapping(survivors, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(served === scratch)
    assert(served.nonEmpty)
    // the delete batch is non-trivial on this fixture, so the equality
    // above exercises the retraction (not a no-op passthrough)
    val nDel = allTerms.filter(col("vec_id") % 3 === 2).count()
    assert(nDel > 0)
    assert(served.size.toLong === allTerms.count() - nDel)
  }

  test("q159 served insert merge equals from-scratch ER over the full " +
      "universe (the q104 oracle, reached from pre-insert standing state)") {
    import org.apache.spark.sql.functions._
    val served = TaggedQueries.queries("q159_tagged_er_inserts_served")(
      spark, "").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val scratch = EntityResolution.ingestedKeywordMapping(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(served === scratch)
    // the insert batch is non-trivial (at least one arriving term)
    val nNew = EntityResolution.distinctValues(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), Seq("keywords"))
      .select(conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
        .as("vec_id"))
      .filter(col("vec_id") % 3 === 1).count()
    assert(nNew > 0)
    assert(served.size > nNew) // standing terms survive alongside the batch
  }

  test("q160 multi-day lifecycle: final advanced state equals from-scratch " +
      "ER over the full universe, and a re-run replays identically") {
    val run1 = TaggedQueries.queries("q160_tagged_er_multiday")(spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val scratch = EntityResolution.ingestedKeywordMapping(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob), 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(run1 === scratch)
    // the lifecycle mutates its standing tables; a second call must
    // replay from a fresh day-0 build and land on the same state
    val run2 = TaggedQueries.queries("q160_tagged_er_multiday")(spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(run2 === run1)
  }

  test("q160 day-1 boundary: stopping after the first advance equals " +
      "from-scratch ER over the day-0 ∪ day-1 subset") {
    import org.apache.spark.sql.functions._
    // day 0 holds every class the ops do not insert, so one insert day
    // of class 1 stands on classes {0, 2} — q159's standing state — and
    // serves q159's class-1 batch: the advanced mapping must reproduce
    // q159's served merge (the synthetic `day1 === q143` pin's twin)
    val oneDay = Lifecycle.run(spark, TaggedQueries.erLifecycle(spark),
      Lifecycle.Rewrite, "graft_q160_day1", Seq(("insert", 1)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val q159 = TaggedQueries.queries("q159_tagged_er_inserts_served")(
      spark, "").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(oneDay === q159)
    // day 0 ∪ day 1 = classes {0, 1, 2}: the from-scratch ER over it
    val subset = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
    val scratch = EntityResolution.aliasMapping(subset, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(oneDay === scratch)
    assert(oneDay.nonEmpty)
    // both the standing and the day-1 side are non-trivial
    val byDay = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
      .groupBy((col("vec_id") % 3).as("day")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDay.getOrElse(0L, 0L) > 0 && byDay.getOrElse(1L, 0L) > 0)
  }

  test("q160 compaction folds the working stores to one file per bucket " +
      "and leaves the shared snapshot untouched") {
    val base = EntityResolution.sharedBaseName("ing",
      s"${TaggedQueries.ErFixtureGlob}|eps=24/25" +
        s"|cls=${EntityResolution.clsFingerprint(spark, c => c % 3)}|ins=1,2")
    def snapshot(): Seq[(Set[String], Array[String])] =
      Seq("terms", "pairs", "mapping").map { t =>
        val df = spark.table(s"${base}_$t")
        (df.collect().map(_.toString).toSet, df.inputFiles.sorted)
      }
    TaggedQueries.queries("q160_tagged_er_multiday")(spark, "").collect()
    val before = snapshot()
    TaggedQueries.queries("q160_tagged_er_multiday")(spark, "").collect()
    Seq("graft_q160_terms", "graft_q160_pairs").foreach { t =>
      val files = spark.table(t).inputFiles.length
      assert(files <= 16, s"$t has $files files after the compaction")
    }
    assert(Seq("terms", "pairs").forall(t => Seq("_delta", "_tomb")
      .forall(suf => !spark.catalog.tableExists(s"${base}_$t$suf"))))
    snapshot().zip(before).foreach { case ((rows, files), (rows0, files0)) =>
      assert(rows === rows0)
      assert(files.toSeq === files0.toSeq)
    }
  }

  // the q161 lifecycle's net universe: class 0 deleted, class 2
  // re-embedded by the dimension reversal, class 1 inserted verbatim
  private def crudNetUniverse = {
    import org.apache.spark.sql.functions._
    EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
      .filter(col("vec_id") % 3 =!= 0)
      .withColumn("embedding",
        when(col("vec_id") % 3 === 2, reverse(col("embedding")))
          .otherwise(col("embedding")))
  }

  test("q161 mixed-CRUD lifecycle: insert, update, and delete days " +
      "folded in sequence converge to from-scratch ER over the net " +
      "universe, and a re-run replays identically") {
    val run1 = TaggedQueries.queries("q161_tagged_er_crud_lifecycle")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val scratch = EntityResolution.aliasMapping(crudNetUniverse, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(run1 === scratch)
    assert(run1.nonEmpty)
    val run2 = TaggedQueries.queries("q161_tagged_er_crud_lifecycle")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(run2 === run1)
    // the MERGE-ON-READ twin (q165): identical mapping — the sidecar
    // advance layout must be invisible in the result — and replay
    // idempotence over the dropped-sidecar reset
    val mor1 = TaggedQueries.queries("q165_tagged_er_crud_lifecycle_mor")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val mor2 = TaggedQueries.queries("q165_tagged_er_crud_lifecycle_mor")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(mor1 === run1 && mor2 === run1)
    // ...and with a MID-LIFECYCLE COMPACTION (q167): the fold after the
    // update day must be invisible in the mapping, and the replay reset
    // must recover the pristine snapshot under the compacted working
    // base (run twice)
    val cmp1 = TaggedQueries.queries("q167_tagged_er_mor_compact")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val cmp2 = TaggedQueries.queries("q167_tagged_er_mor_compact")(
      spark, "")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(cmp1 === run1 && cmp2 === run1)
    // post-replay state: the delete day's sidecars live on the WORKING
    // base (post-fold appends follow the fold), the snapshot carries
    // none. Since round 16 the day-0 snapshot is SHARED across
    // q161/q165/q167 (one build per JVM, named by the full parameter
    // key) — it must be sidecar-free after all three lifecycles ran
    // over it, or one query's advances leaked into the others' replays.
    assert(spark.catalog.tableExists("graft_q167_pairs"))
    assert(spark.catalog.tableExists("graft_q167_pairs_tomb"))
    val sharedBase = EntityResolution.sharedBaseName("ing",
      s"${TaggedQueries.ErFixtureGlob}|eps=24/25" +
        s"|cls=${EntityResolution.clsFingerprint(spark, c => c % 3)}|ins=1")
    assert(spark.catalog.tableExists(s"${sharedBase}_pairs"),
      "the tagged lifecycles must have built the shared snapshot")
    assert(!spark.catalog.tableExists(s"${sharedBase}_pairs_tomb") &&
      !spark.catalog.tableExists(s"${sharedBase}_pairs_delta") &&
      !spark.catalog.tableExists(s"${sharedBase}_terms_tomb") &&
      !spark.catalog.tableExists(s"${sharedBase}_terms_delta"))
  }

  test("tagged lifecycle equals from-scratch ER under every day order, " +
      "with either advance policy") {
    val want = EntityResolution.aliasMapping(crudNetUniverse, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    TaggedQueries.ErCrudOps.permutations.foreach { ops =>
      Seq(Lifecycle.Rewrite -> "graft_q161_order",
          Lifecycle.MergeOnRead -> "graft_q165_order").foreach {
        case (advance, prefix) =>
          val got = Lifecycle.run(spark, TaggedQueries.erLifecycle(spark),
            advance, prefix, ops)
            .collect().map(r => r.getString(0) -> r.getString(1)).toSet
          assert(got === want, s"$advance diverged at order $ops")
      }
    }
  }

  test("q161 update-day boundary: stopping before the delete day equals " +
      "from-scratch ER over the full universe with class 2 re-embedded") {
    import org.apache.spark.sql.functions._
    // insert + update folded, delete not yet applied — a state no
    // shared-oracle path produces, pinning the UPDATE advance (pair
    // retract + touching append + term swap) in isolation
    val twoDays = Lifecycle.run(spark, TaggedQueries.erLifecycle(spark),
      Lifecycle.Rewrite, "graft_q161_upd",
      Seq(("insert", 1), ("update", 2)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val subset = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
      .withColumn("embedding",
        when(col("vec_id") % 3 === 2, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val scratch = EntityResolution.aliasMapping(subset, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(twoDays === scratch)
    // all three classes are populated, so each day did real work
    val byCls = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
      .groupBy((col("vec_id") % 3).as("cls")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(c => byCls.getOrElse(c, 0L) > 0))
  }

  test("batch-scoped daySource/batchSource are result-identical to the " +
      "full-universe parse (q159/q161/q165 — the serve-cost contract)") {
    import org.apache.spark.sql.functions._
    val full = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
    // the deployment shape: each day's thunk yields ONLY that day's
    // documents (an arriving-batch directory), here reshaped as an
    // ingest-like frame holding exactly the class's terms
    val byCls: Int => org.apache.spark.sql.DataFrame = k =>
      full.filter(col("vec_id") % 3 === k)
        .select(col("term").as("keywords"))
    val want = TaggedQueries.queries("q161_tagged_er_crud_lifecycle")(
      spark, "").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val scopedBinding = Lifecycle.ingested(
      () => TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob),
      TaggedQueries.ErFixtureGlob, 24, 25, daySource = Some(byCls))
    val scoped = Lifecycle.run(spark, scopedBinding, Lifecycle.Rewrite,
      "graft_q161_scoped", TaggedQueries.ErCrudOps)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(scoped === want)
    val scopedMor = Lifecycle.run(spark, scopedBinding,
      Lifecycle.MergeOnRead, "graft_q165_scoped", TaggedQueries.ErCrudOps)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(scopedMor === want)
    // the single-day insert serve (q159): a scoped batch thunk must land
    // on the same mapping as the default full-universe filter
    val wantIns = TaggedQueries.queries("q159_tagged_er_inserts_served")(
      spark, "").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val scopedIns = Lifecycle.serve(spark, scopedBinding, ("insert", 1))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(scopedIns === wantIns)
  }

  test("a custom class rule can never alias another rule's day-0 snapshot (r16 ADVICE 3)") {
    import org.apache.spark.sql.functions._
    // FIRST materialize a snapshot under the DEFAULT rule with the same
    // source/ε/ops — the aliasing target the old `clsTag` string
    // default allowed (a caller passing a custom cls and forgetting the
    // tag silently shared this build). The snapshot key now folds a
    // STRUCTURAL fingerprint of the rule, so the shifted rule below
    // gets its own snapshot by construction.
    Lifecycle.run(spark, TaggedQueries.erLifecycle(spark),
      Lifecycle.Rewrite, "graft_q161_clsdef",
      Seq(("insert", 1), ("update", 2)))
      .collect()
    val shifted: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => (c + 1) % 3
    val got = Lifecycle.run(spark, Lifecycle.ingested(
        () => TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob),
        TaggedQueries.ErFixtureGlob, 24, 25, cls = shifted),
      Lifecycle.Rewrite, "graft_q161_cls",
      Seq(("insert", 1), ("update", 2)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    // from-scratch truth under the SHIFTED rule: class 2' (=(id+1)%3==2)
    // re-embedded, all classes present after the insert
    val subset = EntityResolution.embedTermUniverse(
      TaggedText.ingest(spark, TaggedQueries.ErFixtureGlob))
      .withColumn("embedding",
        when((col("vec_id") + 1) % 3 === 2, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val scratch = EntityResolution.aliasMapping(subset, 24, 25)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got === scratch,
      "the shifted rule must build its own day-0 snapshot, never reuse " +
        "the default rule's")
  }

  test("q161 update day splits a component the insert day merged") {
    import org.apache.spark.sql.functions._
    // 深度学习 (cls 2) pairs with the day-1 insert 深度学习 (DL) (cls 1,
    // identical paren-stripped embedding); the day-2 reversal breaks
    // that pair — so the lifecycle exercises merge-then-split, not just
    // monotone growth. Verify the net mapping separates them.
    val net = TaggedQueries.queries("q161_tagged_er_crud_lifecycle")(
      spark, "").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(net.contains("深度学习") && net.contains("深度学习 (DL)"))
    assert(net("深度学习") !== net("深度学习 (DL)"))
    // while on the insert-only boundary they share a representative
    val merged = Lifecycle.run(spark, TaggedQueries.erLifecycle(spark),
      Lifecycle.Rewrite, "graft_q161_ins", Seq(("insert", 1)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(merged("深度学习") === merged("深度学习 (DL)"))
  }
}
