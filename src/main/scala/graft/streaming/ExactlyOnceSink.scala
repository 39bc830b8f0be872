package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.graph.BucketedStore

/** The production LANDING path for a document stream: exactly-once
  * delivery into the lakehouse on top of Structured Streaming's
  * at-least-once `foreachBatch` replay.
  *
  * Layering (each half is idempotent on its own, so their composition
  * is exactly-once end-to-end with no transaction coordinator):
  *
  *  1. [[landBatch]] — per-micro-batch write into a `batch_id=<id>`
  *     partition with DYNAMIC partition overwrite. A replayed batch
  *     (failure before the checkpoint advanced) rewrites ITS OWN
  *     partition and touches nothing else; since a replayable source
  *     re-delivers the same rows for the same batchId (the Structured
  *     Streaming contract), the landing zone converges to one copy of
  *     every batch no matter how many times delivery repeats. This is
  *     the idempotence rule the Spark docs prescribe for foreachBatch —
  *     keyed by batchId — expressed as a layout.
  *  2. [[foldIntoBucketed]] — the maintenance job that turns the landed
  *     batches into the serving layout: a deterministic latest-wins
  *     merge of (existing table as the base layer, landing zone on
  *     top), swap-written. Re-running it — after a crash, after a
  *     replay, twice in a row — produces the identical table because
  *     its inputs, not its history, define the output. No marker
  *     files, no commit log to lose.
  *
  * At 100 TB the fold's zone side stays proportional to the unpruned
  * batches; [[pruneLanded]] drops batches already folded into the base
  * (safe because the fold layers over the base — pruned history
  * survives there). A transactional table format would collapse the
  * two layers into one commit; this is the same guarantee from plain
  * parquet + deterministic derivation.
  */
object ExactlyOnceSink {

  /** Idempotently land one micro-batch: rewrite exactly the
    * `batch_id=<batchId>` partition of `dir` (dynamic partition
    * overwrite — sibling partitions are untouched, unlike static
    * overwrite which would truncate the zone).
    */
  def landBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** The landed zone as a frame (batch_id is a partition column). */
  def landed(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)

  /** Wire a streaming frame into the landing zone via foreachBatch. */
  def attach(stream: DataFrame, dir: String,
             checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((df: DataFrame, id: Long) => landBatch(df, id, dir))
      .start()

  /** Retention for the landing zone: drop `batch_id=<id>` partitions
    * with id ≤ `throughBatchId` — call AFTER a successful fold whose
    * input included those batches (their content now lives in the
    * folded table, which [[foldIntoBucketed]] layers under later zone
    * rows, so pruned history is never lost to a re-fold). A replay of
    * a pruned batch would simply rewrite its partition; Structured
    * Streaming replays only batches after the last checkpoint, which a
    * successful fold postdates, so in the wired pipeline pruned batches
    * are never re-delivered — and even if one were, fold idempotence
    * absorbs it.
    */
  def pruneLanded(s: SparkSession, dir: String, throughBatchId: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch_id=")) {
        val id = scala.util.Try(name.stripPrefix("batch_id=").toLong)
        if (id.toOption.exists(_ <= throughBatchId))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Fold the landing zone into the bucketed serving table: one row per
    * `key`, the row from the HIGHEST batch_id winning, with the
    * EXISTING table as the lowest-precedence base layer (batch_id −1).
    * Layering over the base is what makes [[pruneLanded]] safe: a row
    * whose only zone occurrence was in a since-pruned batch survives in
    * the base, so fold∘prune∘fold converges instead of losing it.
    * Idempotent on content: re-folding the same zone changes nothing
    * (zone rows tie-break over identical base rows), so fold-after-
    * replay and fold-twice are no-ops. Ties within a batch break by the
    * largest `tieBreak` column tuple — determinism over arrival order,
    * which a distributed read does not preserve. `tieBreak` defaults to
    * every non-key column, which requires them ALL to be of ORDERABLE
    * types (maps — and arrays on older type-coercion paths — are not);
    * for schemas carrying unorderable columns, pass an explicit
    * deterministic column list instead.
    *
    * Write discipline: the merged result is FULLY written to a temp
    * table first, then swapped via catalog drop+rename (the
    * `compactBucketed` pattern) — never an in-place overwrite of the
    * base table the plan is reading.
    */
  def foldIntoBucketed(s: SparkSession, dir: String, table: String,
                       key: String, buckets: Int = 16,
                       tieBreak: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.expressions.Window
    // a fully-pruned (or never-landed) zone folds to a no-op: the base
    // table already IS the state, and parquet cannot even infer a
    // schema from a partition-less directory
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val hasBatches = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch_id="))
    if (!hasBatches) return
    // partition-value inference types the zone's batch_id as INT while
    // the base layer's sentinel is a long — cast BOTH branches to long
    // explicitly instead of leaning on implicit union widening
    val z = landed(s, dir)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val merged =
      if (s.catalog.tableExists(table))
        s.table(table).withColumn("batch_id", lit(-1L))
          .select(z.columns.map(col(_)): _*)
          .unionByName(z)
      else z
    val others =
      if (tieBreak.nonEmpty) tieBreak
      else merged.columns.filterNot(c => c == key || c == "batch_id").toSeq
    val w = Window.partitionBy(col(key))
      .orderBy(col("batch_id").desc +: others.map(col(_).desc): _*)
    val latest = merged.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn", "batch_id")
    val tmp = table + "_fold"
    BucketedStore.writeBucketed(latest, tmp, key, buckets)
    // drop + purge the old table (MANAGED-only, location read from the
    // catalog — BucketedStore.dropManagedPurging; an orphaned managed dir
    // left by a previous JVM is cleared too, else the rename fails with
    // LOCATION_ALREADY_EXISTS), then swap the fully-written temp in.
    //
    // CONCURRENT-READER SEAM (pinned by `ExactlyOnceSinkSpec`): the swap
    // is not atomic for a reader that resolved `table` to a plan BEFORE
    // the fold — the drop deletes the files that plan points at, so a
    // late action on the stale frame fails (or, on a cached plan, serves
    // pre-fold rows); and a reader resolving strictly between the DROP
    // and the RENAME sees TABLE_OR_VIEW_NOT_FOUND. The contract is
    // therefore RESOLVE-PER-REQUEST: serve-path callers re-resolve the
    // table names on every request (q147/q168 route over a fresh
    // `readBucketedBinding`, whose `s.table(name)` resolves all eight
    // tables, the alias mapping included), which bounds the race to
    // the sub-second drop→rename window and makes it a clean retryable
    // error, never silent stale data. A metastore-backed deployment can
    // close even that window with a versioned-name + view repoint swap;
    // the local in-memory catalog has no atomic repoint, so the seam is
    // documented and spec-pinned instead.
    BucketedStore.swapIn(s, tmp, table)
  }

  /** Idempotently land one micro-batch as MERGE-ON-READ sidecars on the
    * bucketed serving table `host`: a streamed batch lands in the SAME
    * sidecar layout the batch-maintenance lifecycles advance through,
    * with [[graft.graph.BucketedStore.compactMor]] as the one fold, so
    * the serving store has one write path, not a second base-layered
    * latest-wins merge beside the lifecycle sidecars.
    *
    * Layering mirrors [[landBatch]]/[[foldIntoBucketed]]:
    * `BucketedStore` owns the LAYOUT (epoch-tagged sidecars, strict-
    * epoch tombstone semantics, the fold); this owns the at-least-once
    * REPLAY discipline. `epoch` must be derived from the micro-batch id
    * (epoch = batchId + 1 — sidecar epochs are > 0 by the MOR contract),
    * so a replayed batch re-lands under ITS OWN epoch: the fast path is
    * a bucket-aligned append (write cost = the batch), and when rows of
    * this epoch already exist — a replay, or a crash mid-append — the
    * sidecar is REWRITTEN minus that epoch first (a sidecar-sized write,
    * bounded by the compaction schedule, never the corpus), so landing
    * converges to exactly one copy per epoch no matter how many times
    * delivery repeats.
    *
    * Replay-after-fold also converges WITHOUT tracking what was folded:
    * the fold materializes the batch's effect into the base at epoch 0
    * and retires the sidecars; a re-landed epoch-e tombstone kills
    * exactly the epoch-0 rows the fold produced for those ids, and the
    * re-landed same-epoch delta restores them verbatim — so
    * fold∘land∘fold equals fold (pinned by `MorSpliceSpec`).
    *
    * An update batch passes both (`deltas` = the new rows, `tombstoneIds`
    * = their keys); an insert-only batch passes only `deltas`; a delete
    * batch only `tombstoneIds`.
    *
    * The rewrite minus an epoch goes through the `_next` swap
    * ([[graft.graph.BucketedStore.swapIn]]), which carries the
    * sidecar's epoch set; a crash between its drop and rename strands
    * the only complete copy, so every stranded `_next` is recovered
    * before a landing looks at the sidecar — otherwise the re-land would
    * recreate it with only its own epoch and lose every earlier one.
    */
  def landMorSidecars(s: SparkSession, host: String, key: String,
      epoch: Int, deltas: Option[DataFrame] = None,
      tombstoneIds: Option[DataFrame] = None, buckets: Int = 16): Unit = {
    require(epoch > 0, s"MOR sidecar epoch must be > 0: $epoch")
    // recover (or clear) any swap stranded by a previous crash BEFORE
    // the hasEpoch checks: a stranded delta would otherwise read as
    // epoch-absent and the append below would bury the only copy
    Seq("_delta", "_tomb").foreach(suf =>
      BucketedStore.recoverStrandedNext(s, host + suf))
    def hasEpoch(table: String): Boolean =
      s.catalog.tableExists(table) &&
        !s.table(table).filter(col("_epoch") === epoch).isEmpty
    deltas.foreach { df =>
      val t = s"${host}_delta"
      if (hasEpoch(t))
        // replay/crash cleanup: rewrite the sidecar minus this epoch,
        // then re-append — replaceBucketed's temp-write+swap discipline
        // (the plan reads the table being replaced)
        BucketedStore.replaceBucketed(
          s.table(t).filter(col("_epoch") =!= epoch), t, key, buckets)
      BucketedStore.appendDeltaSidecar(df, host, key, epoch, buckets)
    }
    tombstoneIds.foreach { ids =>
      val t = s"${host}_tomb"
      if (hasEpoch(t)) {
        // the tombstone sidecar is unbucketed (it is broadcast at read)
        // — same temp-write+swap, plain parquet
        val tmp = t + "_next"
        BucketedStore.dropManagedPurging(s, tmp)
        s.table(t).filter(col("_epoch") =!= epoch)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(tmp)
        BucketedStore.swapIn(s, tmp, t)
      }
      BucketedStore.appendTombstoneSidecar(ids, host, epoch)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The full exactly-once lineage under the oracle gate, so the
    // surface is not pinned by specs alone: batch 0 lands the corpus
    // projection, batch 1 lands updates (doc_id%10=3 rewritten)
    // plus inserts (doc_id%10=7 re-keyed above the corpus) — then batch
    // 1 is REPLAYED (at-least-once delivery), folded, replayed again and
    // re-folded. The gated frame is the bucketed serving table: any
    // duplicate surviving the landing layout, any base/zone precedence
    // slip, any non-idempotent fold hash-mismatches the DuckDB
    // recomputation of the expected post-update state.
    "q145_exactly_once_fold" -> ((s, d) => {
      import s.implicits._
      val dir = graft.sinks.SinkQueries.tmp(s, "q145_zone")
      val docs = graft.Tables.documents(s, d)
        .select($"doc_id", substring($"text", 1, 40).as("text"), $"source")
      val updates = docs.filter($"doc_id" % 10 === 3)
        .select($"doc_id", concat(lit("updated-"), $"doc_id").as("text"),
          $"source")
      val inserts = docs.filter($"doc_id" % 10 === 7)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat(lit("inserted-"), $"doc_id").as("text"), $"source")
      val b1 = updates.unionByName(inserts)
      val table = "graft_q145_docs"
      // the gate starts from a clean table: a leftover base from another
      // source dir would survive the fold (its keys are absent from this
      // zone) and corrupt the comparison
      s.sql(s"DROP TABLE IF EXISTS `$table`")
      landBatch(docs, 0L, dir)
      landBatch(b1, 1L, dir)
      landBatch(b1, 1L, dir) // at-least-once replay before the first fold
      foldIntoBucketed(s, dir, table, "doc_id", 16)
      landBatch(b1, 1L, dir) // replay after the fold...
      foldIntoBucketed(s, dir, table, "doc_id", 16) // ...and re-fold
      s.table(table).orderBy($"doc_id")
    }),

    // The streaming↔serving SPLICE, one gated lineage: the bucketed
    // /answer serving layout (q142's build-once tables) is UPDATED by a
    // landed-and-folded micro-batch — docs with doc_id%11=4 are
    // re-published under a NEW org — and the routed family-7 query then
    // serves the post-fold edges from the same co-located bucketed
    // table. PUBLISHED_BY is the spliced relation because it is
    // functional (one org per title), so the fold key = the table's own
    // bucket key (`src`) and the latest-wins merge IS the update rule;
    // the fold preserves the bucket layout (same key, same 16 buckets),
    // so the serve path keeps its shuffle-free co-location.
    "q147_stream_to_serve" -> ((s, d) => {
      import s.implicits._
      graft.graph.DocGraph.bucketedServed(s, d, "graft_q147", 16)
      val dir = graft.sinks.SinkQueries.tmp(s, "q147_zone")
      val reassign = graft.Tables.documents(s, d)
        .filter($"doc_id" % 11 === 4)
        .select(concat(lit("D"), $"doc_id").as("src"),
          lit("Org_77").as("dst"))
      landBatch(reassign, 0L, dir)
      landBatch(reassign, 0L, dir) // at-least-once replay
      foldIntoBucketed(s, dir, "graft_q147_published_by", "src", 16)
      val g = graft.graph.DocGraph.readBucketedBinding(s, "graft_q147")
      graft.query.Router.route(g, 7, Map("org" -> "Org_77"))
    }),

    // The streaming↔serving splice through the MERGE-ON-READ layout:
    // the same re-publication micro-batch as q147, but landed as
    // epoch-tagged MOR sidecars on the serving table — tombstones kill
    // the old PUBLISHED_BY rows, same-epoch deltas carry the new org —
    // with `compactMor` as the single fold
    // and the routed family-7 query serving the post-fold bucketed
    // state. Replay discipline exercised at BOTH seams: the batch is
    // re-landed before the first fold (sidecar-level idempotence) and
    // again AFTER it, then re-folded (fold∘land∘fold = fold). Same
    // oracle as q147: the landing layout — fold-on-write zone vs MOR
    // sidecars — must be invisible in the served answer, which is what
    // makes the sidecar layout THE one write path for streaming ingest
    // and batch maintenance alike.
    "q168_stream_mor_splice" -> ((s, d) => {
      import s.implicits._
      graft.graph.DocGraph.bucketedServed(s, d, "graft_q168", 16)
      val table = "graft_q168_published_by"
      // a previous run's leftover sidecars would double-apply the batch
      // on the already-folded base — the gate starts sidecar-clean (the
      // lifecycle families' replay-reset discipline)
      BucketedStore.dropSidecars(s, table)
      val reassign = graft.Tables.documents(s, d)
        .filter($"doc_id" % 11 === 4)
        .select(concat(lit("D"), $"doc_id").as("src"),
          lit("Org_77").as("dst"))
      def land(): Unit = landMorSidecars(s, table, "src", epoch = 1,
        deltas = Some(reassign),
        tombstoneIds = Some(reassign.select($"src")))
      land()
      land() // at-least-once replay before the fold
      BucketedStore.compactMor(s, table, "src", Seq("src"))
      land() // replay after the fold...
      BucketedStore.compactMor(s, table, "src", Seq("src")) // ...re-fold
      val g = graft.graph.DocGraph.readBucketedBinding(s, "graft_q168")
      graft.query.Router.route(g, 7, Map("org" -> "Org_77"))
    })
  )

  def oracles: Map[String, String] = Map(
    // Expected folded state recomputed from `documents` alone: updates
    // win over the batch-0 projection, inserts append above the corpus.
    "q145_exactly_once_fold" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 10 = 3 THEN 'updated-' || doc_id
                ELSE substring(text, 1, 40) END AS text,
           source
         FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id,
                'inserted-' || doc_id AS text, source
         FROM documents WHERE doc_id % 10 = 7
         ORDER BY doc_id""",
    // Post-fold family-7 truth: exactly the re-published docs carry the
    // new org (no fixture doc is born with Org_77 — orgs are mod 13).
    "q147_stream_to_serve" ->
      s"""WITH ${graft.graph.BibGraph.sqlPrelude}
         SELECT title, year FROM docs WHERE doc_id % 11 = 4
         ORDER BY title""",
    // same truth through the MOR sidecar landing: the layout must be
    // invisible in the served answer
    "q168_stream_mor_splice" ->
      s"""WITH ${graft.graph.BibGraph.sqlPrelude}
         SELECT title, year FROM docs WHERE doc_id % 11 = 4
         ORDER BY title"""
  )
}
