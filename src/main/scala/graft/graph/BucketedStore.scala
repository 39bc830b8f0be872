package graft.graph

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed storage for the graph frames — the write-time layout that
  * makes the multi-hop self-joins co-located at 100 TB (PERF.md: "bucket
  * the edge frames by the document key and the 2/3-hop self-joins
  * co-locate"). Two tables bucketed+sorted on the same key with the same
  * bucket count join with NO shuffle exchange (verified by
  * `BucketedStoreSpec`); at cluster scale this removes the dominant
  * shuffle of every co-author / co-occurrence / collaborator query.
  *
  * Uses the session catalog (`saveAsTable` — bucketing metadata lives in
  * the metastore; a plain `.parquet(path)` write cannot record it).
  */
object BucketedStore {

  /** Write `df` bucketed+sorted by `key` into the session catalog.
    *
    * Overwrite replaces a CATALOGED table's location, but the in-memory
    * session catalog forgets tables across JVMs while their managed
    * warehouse directories persist on disk — the next process's write
    * then fails LOCATION_ALREADY_EXISTS. Drop any stale catalog entry and
    * clear the orphaned managed location first, so the write is
    * idempotent across runs (a metastore-backed cluster never orphans;
    * this is the local-catalog equivalent).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int = 16): Unit = {
    val s = df.sparkSession
    dropManagedPurging(s, table)
    // pre-partition on the bucket hash so each write task owns exactly
    // one bucket → ONE sorted file per bucket (round 19 — the
    // compactBucketed discipline promoted to the write choke point,
    // guide §6 output file sizing). A bucketed write otherwise emits a
    // file per (task, bucket) pair: an unsorted 32-partition input wrote
    // 32×16 files PER ADVANCE into the lifecycle mapping tables (822
    // files after one replay — measured), and every next-day read paid
    // the footer/open storm. The repartition's HashPartitioning is the
    // same murmur3-pmod the bucket layout uses, so the write stays
    // bucket-aligned; the shuffle it adds carries exactly the table's
    // rows once.
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** DROP `table` AND clear its on-disk location, refusing non-managed
    * tables. The swap discipline (write temp → drop → rename) needs the
    * target location gone before the rename, but deleting data is only
    * DROP's job for MANAGED tables — for an EXTERNAL (or custom-location)
    * table the location holds data the catalog does not own, so deleting
    * it here would destroy user data the DROP deliberately left behind.
    * The location is read from the catalog entry when one exists (never
    * reconstructed from the warehouse dir, which could name a different
    * directory than the table actually uses); only when the catalog has
    * NO entry — the orphaned-managed-dir case, where a previous JVM's
    * in-memory catalog forgot the table while its warehouse directory
    * survived on disk — is the conventional managed location cleared.
    */
  private[graft] def dropManagedPurging(s: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val cat = s.sessionState.catalog
    val ident = TableIdentifier(table)
    val loc =
      if (cat.tableExists(ident)) {
        val meta = cat.getTableMetadata(ident)
        require(meta.tableType == CatalogTableType.MANAGED,
          s"refusing to drop-and-purge `$table`: it is ${meta.tableType} — " +
            "the swap discipline deletes the table location, which DROP " +
            "does not own for non-managed tables")
        new org.apache.hadoop.fs.Path(meta.location)
      } else new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  def table(s: SparkSession, name: String): DataFrame = s.table(name)

  /** Bucket-ALIGNED append: new rows land as additional per-bucket files
    * in the existing table (Spark validates that the bucket spec
    * matches, so a drifted `buckets`/`key` fails loudly instead of
    * corrupting the layout). Daily ingest at 100 TB appends its batch
    * this way instead of rewriting the table — the write cost is the
    * batch, not the corpus. Read-side contract after an append: a bucket
    * is now SEVERAL files, which Spark still reads as one co-located
    * partition, so equi-joins on the bucket key keep planning with zero
    * shuffle Exchange; only the per-file sort order is no longer a
    * per-bucket global order (a sort-merge join re-sorts partitions
    * locally — no exchange). [[compactBucketed]] restores the
    * one-sorted-file-per-bucket steady state; both halves are pinned by
    * `BucketedStoreSpec`.
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
                     buckets: Int = 16): Unit =
    // one file per bucket per append (see writeBucketed's note) — an
    // unpartitioned batch frame otherwise appends a file per
    // (task, bucket) pair and the MOR/bucketed reads pay the open storm
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Append)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Compaction for an append-grown bucketed table: rewrite as a fresh
    * bucketed+sorted table under a temp name (fully materialized while
    * the original still exists — never an in-place overwrite of a table
    * being read), then swap via catalog drop + rename (the managed
    * location moves with the rename). Same crash discipline as
    * `ChatStore.compact`: the only non-atomic window is
    * drop-done/rename-pending, where the complete `_compact` table
    * survives as the recovery copy.
    */
  def compactBucketed(s: SparkSession, table: String, key: String,
                      buckets: Int = 16): Unit = {
    val tmp = table + "_compact"
    // pre-partition on the bucket hash so each write task owns exactly
    // one bucket → ONE sorted file per bucket (a bucketed write's tasks
    // otherwise emit a file per (task, bucket) pair, which would leave
    // the compacted table as fragmented as the input); repartition's
    // HashPartitioning is the same murmur3-pmod the bucket layout uses.
    // Read the table's RAW parquet files, not the catalog table: the
    // bucketed scan ADVERTISES HashPartitioning(key, buckets), which
    // lets the planner elide the repartition exchange — but the actual
    // task layout packs small files arbitrarily, so the "redundant"
    // shuffle was the only thing that would have aligned writers with
    // buckets (measured: a task writing files for all 8 buckets). The
    // raw read claims no partitioning, so the repartition survives.
    val loc = s.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    val raw = s.read.parquet(loc)
    // writeBucketed itself pre-partitions on the bucket hash (round 19)
    writeBucketed(raw, tmp, key, buckets)
    // same managed-only drop+purge and reader contract as
    // ExactlyOnceSink.foldIntoBucketed's swap (resolve-per-request)
    dropManagedPurging(s, table)
    s.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }

  /** Replace a bucketed table with a frame whose plan may READ the table
    * being replaced (the standing-state advance: the day's merged mapping
    * is computed FROM the current mapping table). An in-place Overwrite
    * would fail Spark's cannot-overwrite-path-being-read check — so this
    * is the compact/ChatStore swap applied to replacement: fully
    * materialize `df` under a temp name first (the source table still
    * exists while the plan runs), then drop + rename. Crash window is the
    * same drop-done/rename-pending sliver, with the complete `_next`
    * table as the recovery copy.
    */
  def replaceBucketed(df: DataFrame, table: String, key: String,
                      buckets: Int = 16): Unit = {
    val s = df.sparkSession
    // recover any swap a previous crash stranded (round-17 ADVICE 5,
    // generalized from the sidecar landing): if the last replace died
    // between its drop and rename, the only complete copy is `_next` —
    // restore it BEFORE this write clobbers the temp name, so the new
    // frame replaces a recovered table instead of burying the copy
    recoverStrandedNext(s, table)
    val tmp = table + "_next"
    writeBucketed(df, tmp, key, buckets)
    dropManagedPurging(s, table)
    s.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }

  /** [[replaceBucketed]] for SEVERAL independent tables in one advance —
    * the standing-state day advance writes 2–3 corpus tables whose
    * replacement frames read only the OLD tables (plus persisted serve
    * frames), so their `_next` materializations are independent jobs.
    * Sequentially each write left the box ~idle through the other's
    * stragglers and the day's wall time was the SUM of the rewrites
    * (guide §2.6 "overlap independent jobs" — the DocGraph.bucketed
    * pool discipline applied to the replace swap). All `_next` tables
    * are FULLY materialized (every writer settled, first failure
    * surfaced only after none is in flight) BEFORE any drop+rename
    * lands, so every read of an old table during the concurrent phase
    * — including a cache-eviction recompute — still sees it intact;
    * the swaps themselves are cheap catalog ops, done serially. The
    * per-table crash discipline is [[recoverStrandedNext]]'s, unchanged;
    * a crash between two tables' swaps leaves the same cross-table
    * state a crash between two sequential [[replaceBucketed]] calls
    * always could (lifecycle replays reset from the snapshot).
    */
  def replaceBucketedAll(replacements: Seq[(DataFrame, String, String)],
                         buckets: Int = 16): Unit = replacements match {
    case Seq() => ()
    case Seq((df, table, key)) => replaceBucketed(df, table, key, buckets)
    case many =>
      val s = many.head._1.sparkSession
      many.foreach { case (_, t, _) => recoverStrandedNext(s, t) }
      concurrently(many.map { case (df, t, k) =>
        () => writeBucketed(df, s"${t}_next", k, buckets)
      })
      many.foreach { case (_, t, _) =>
        dropManagedPurging(s, t)
        s.sql(s"ALTER TABLE `${t}_next` RENAME TO `$t`")
      }
  }

  /** Run independent driver-side tasks concurrently from a pool of at
    * most `threads` (a few jobs in flight keep the executors busy between
    * tiny stages without swamping the driver's scheduler), settle ALL of
    * them, then surface the first failure — failing fast would tear down
    * state, such as persisted inputs, under surviving tasks. Returns the
    * results in task order. Callers guarantee independence: no task
    * reads a table another task writes.
    */
  private[graft] def concurrently[T](tasks: Seq[() => T],
      threads: Int = 3): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, tasks.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val settled = Await.result(
          Future.sequence(
            tasks.map(t => Future(t()).transform(scala.util.Success(_)))),
          Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }
          .foreach(throw _)
        settled.map(_.get)
      } finally pool.shutdown()
    }

  /** Crash-window recovery for the `_next` swap discipline
    * ([[replaceBucketed]], the MOR sidecar rewrites in
    * `ExactlyOnceSink.landMorSidecars`): a temp-write → drop → rename
    * swap that dies between the drop and the rename leaves the target
    * MISSING with the only complete copy stranded under
    * `<table>_next` — and a missing table can read CLEAN downstream
    * ([[readMor]] folds a missing sidecar to the base alone), so the
    * loss is silent. Called by every reader/writer that touches a
    * swap target (round-17 ADVICE 5: recovery only at the next
    * landing left the crash-to-reland window serving base-only
    * state):
    *  - `_next` present, target missing → the drop landed but the
    *    rename did not: rename `_next` back (the copy is complete by
    *    construction — fully written before the drop);
    *  - both present → the crash hit before the drop: the original is
    *    intact and `_next` is a stale temp — purge it.
    * Cost when nothing is stranded: one catalog existence lookup.
    */
  private[graft] def recoverStrandedNext(s: SparkSession,
      table: String): Boolean = {
    val next = table + "_next"
    val stranded = s.catalog.tableExists(next)
    if (stranded) {
      if (!s.catalog.tableExists(table))
        s.sql(s"ALTER TABLE `$next` RENAME TO `$table`")
      else dropManagedPurging(s, next)
    }
    stranded
  }

  // ---------------------------------------------------------------------
  // MERGE-ON-READ sidecars (round-13 verdict item 4) — the update/delete
  // advance alternative to [[replaceBucketed]]'s merge-on-write rewrite.
  //
  // replaceBucketed is correct but its write cost is the CORPUS: a 100 TB
  // tenant whose days are update/delete-dominant rewrites the standing
  // pair/term stores daily. The merge-on-read layout defers that cost to
  // scheduled compaction (the Hudi/Iceberg MOR shape, rebuilt here on
  // plain bucketed parquet + the session catalog):
  //
  //  - the BASE table stays immutable (implicit epoch 0);
  //  - each day APPENDS a `_delta` sidecar (new/re-embedded rows, tagged
  //    with the day's epoch — bucket-aligned append, write cost = the
  //    batch) and/or a `_tomb` sidecar (the day's dead ENDPOINT ids +
  //    epoch — batch-sized);
  //  - [[readMor]] folds them: (base ∪ deltas) minus every row one of
  //    whose endpoint ids carries a tombstone with a STRICTLY NEWER
  //    epoch. Strict comparison is what makes an update one atomic op:
  //    day d tombstones the updated ids (killing their epoch-0/older
  //    rows) and appends their re-embedded rows AT epoch d — which the
  //    d-epoch tombstone does not cover.
  //
  // The trade, stated for the planner: the merged view is a union + one
  // broadcast anti-join per endpoint column, so it no longer advertises
  // the base's bucketed HashPartitioning — joins against the view
  // shuffle until [[compactMor]] folds the sidecars back into a fresh
  // bucketed base (one corpus write on the compaction schedule, not per
  // day). Tombstones are day-batch-sized by contract, hence the
  // broadcast: the anti-joins never shuffle the corpus side.
  // ---------------------------------------------------------------------

  /** Append a day's new/re-embedded rows to `base`'s delta sidecar,
    * tagged with the day's `epoch` (> 0; the base is epoch 0). The
    * sidecar is bucketed like the base so compaction stays co-located.
    */
  def appendDeltaSidecar(df: DataFrame, base: String, key: String,
                         epoch: Int, buckets: Int = 16): Unit = {
    require(epoch > 0, s"delta epoch must be > 0 (base is epoch 0): $epoch")
    appendBucketed(
      df.withColumn("_epoch", org.apache.spark.sql.functions.lit(epoch)),
      s"${base}_delta", key, buckets)
    recordSidecarEpoch(df.sparkSession, base, epoch)
  }

  /** Append a day's dead endpoint ids to `base`'s tombstone sidecar. A
    * tombstone (id, epoch) kills every row with that id in ANY endpoint
    * column and a strictly OLDER epoch — so an update day appends both
    * this (killing the old rows) and a same-epoch delta (the new rows,
    * which survive). `ids` must be single-column; tombstones are
    * day-batch-sized by contract (they are broadcast at read).
    */
  def appendTombstoneSidecar(ids: DataFrame, base: String,
                             epoch: Int): Unit = {
    require(epoch > 0, s"tombstone epoch must be > 0 (base is epoch 0): $epoch")
    require(ids.columns.length == 1,
      s"tombstone frame must be a single id column, got: ${ids.columns.mkString(",")}")
    ids.toDF("id")
      .withColumn("_epoch", org.apache.spark.sql.functions.lit(epoch))
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(s"${base}_tomb")
    recordSidecarEpoch(ids.sparkSession, base, epoch)
    invalidateTombRows(base)
  }

  /** Conf'd cap on the tombstone rows [[readMor]] will broadcast
    * (default comfortably above any fixture). "Tombstones are
    * day-batch-sized by contract" was previously unenforced — a tenant
    * that accumulates tombstones past broadcast size got an executor
    * OOM instead of a message (round-14 ADVICE 2). Over the cap the
    * anti-joins switch to a shuffle join (slow but correct) and a
    * warning names [[compactMor]] as the fix; the `MaxExactVectors`
    * discipline applied to this layer.
    */
  val MaxTombstoneRowsConf = "spark.graft.mor.maxTombstoneRows"
  val MaxTombstoneRowsDefault = 4000000L

  /** The merged MOR view of `base` + its sidecars: (base ∪ deltas) minus
    * every row one of whose `endpoints` ids is tombstoned at a strictly
    * newer epoch. Missing sidecars fold to the base alone, so callers
    * read through this unconditionally.
    *
    * `sidecarsOf` names the table the sidecars hang off (default: the
    * base itself). A caller whose base is a SHARED immutable snapshot
    * (the round-16 shared day-0 snapshot: several lifecycle queries
    * read one `_base_*` build) passes its own working name here, so its
    * day advances land on tables it owns and can never leak into
    * another reader of the same snapshot.
    *
    * When a tombstone sidecar exists, its row count is probed once per
    * call (a zero-column parquet scan — milliseconds at the batch sizes
    * the contract allows): at or under [[MaxTombstoneRowsConf]] the
    * anti-joins broadcast the tombstones (the corpus side never
    * shuffles); over it they fall back to a shuffle anti-join with a
    * loud warning naming [[compactMor]] — correct at any size, never a
    * driver/executor OOM.
    */
  def readMor(s: SparkSession, base: String,
              endpoints: Seq[String],
              sidecarsOf: String = null): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val host = Option(sidecarsOf).getOrElse(base)
    // recover sidecars a crashed rewrite stranded under `_next` BEFORE
    // the existence checks below (round-17 ADVICE 5: recovery only at
    // the next landing meant a read in the crash-to-reland window
    // silently served base-only state — a missing sidecar reads clean
    // here by design). Two catalog lookups per sidecar when clean. A
    // recovery that actually moved the tombstone sidecar invalidates
    // its cached row count.
    recoverStrandedNext(s, s"${host}_delta")
    if (recoverStrandedNext(s, s"${host}_tomb")) invalidateTombRows(host)
    val b = s.table(base).withColumn("_epoch", lit(0))
    val withDelta =
      if (s.catalog.tableExists(s"${host}_delta"))
        b.unionByName(s.table(s"${host}_delta"))
      else b
    val merged =
      if (s.catalog.tableExists(s"${host}_tomb")) {
        val cap = s.conf.getOption(MaxTombstoneRowsConf)
          .map(_.toLong).getOrElse(MaxTombstoneRowsDefault)
        // writer-side bookkeeping (the sidecarEpochs discipline, round
        // 19): the count only picks the broadcast-vs-shuffle hint, yet
        // it ran as a fresh job on EVERY readMor call — several per
        // lifecycle day over an unchanged sidecar. Cache it per host;
        // every write path that can change the row count (tombstone
        // append, sidecar drop/fold, a stranded-`_next` recovery)
        // invalidates, so a stale entry is unrepresentable and the
        // chosen plan is identical to the always-count version.
        val tombRows: Long = Option(tombRowCache.get(host))
          .map(_.longValue).getOrElse {
            val n = s.table(s"${host}_tomb").count()
            tombRowCache.put(host, n)
            n
          }
        val hint: DataFrame => DataFrame =
          if (tombRows <= cap) broadcast
          else {
            org.apache.log4j.Logger.getLogger(getClass)
              .warn(s"readMor($base): tombstone sidecar has $tombRows rows " +
                s"> $MaxTombstoneRowsConf=$cap — anti-joins fall back to a " +
                "shuffle join. Run BucketedStore.compactMor to fold the " +
                "sidecars and restore broadcast-sized tombstones.")
            identity
          }
        endpoints.foldLeft(withDelta) { (acc, ep) =>
          val tomb = s.table(s"${host}_tomb")
          acc.join(hint(tomb),
            acc(ep) === tomb("id") && tomb("_epoch") > acc("_epoch"),
            "left_anti")
        }
      } else withDelta
    merged.drop("_epoch")
  }

  /** Drop `base`'s sidecars (not the base). A lifecycle replay calls
    * this at reset; compaction calls it after folding. Unconditional
    * [[dropManagedPurging]] — NOT gated on `tableExists` — because a
    * previous JVM's sidecars survive on disk while the in-memory
    * catalog forgets them; a gated drop would skip the orphaned
    * directories and the next create-on-append would fail
    * LOCATION_ALREADY_EXISTS (the same orphan case writeBucketed
    * handles).
    */
  def dropSidecars(s: SparkSession, base: String): Unit = {
    Seq("_delta", "_tomb").foreach(suf => dropManagedPurging(s, base + suf))
    resetSidecarEpochs(base) // dropped = known empty, not cold-start
  }

  /** Scheduled MOR maintenance: materialize [[readMor]] as a fresh
    * bucketed+sorted base (temp-write + drop + rename — the merged plan
    * reads the base being replaced, same discipline as
    * [[replaceBucketed]]), then retire the folded sidecars. One corpus
    * write per compaction cycle instead of per update/delete day; after
    * it, reads are plain bucketed scans again (co-located joins).
    *
    * Crash discipline (round-14 ADVICE 1): the sidecars are RENAMED
    * aside (a cheap catalog/directory move) before the base swap and
    * deleted only after the `ALTER TABLE ... RENAME` lands — a crash in
    * the swap window previously left the old pre-fold base live and
    * readable with the day's advances silently gone (the sidecar data
    * had already been purged). Now every window fails loud-or-
    * recoverable: pre-swap the original base+sidecars are intact;
    * between base-drop and rename the reader fails on a missing table
    * while BOTH the folded `_mor_next` copy and the `_folded` sidecars
    * survive as recovery copies.
    */
  def compactMor(s: SparkSession, base: String, key: String,
                 endpoints: Seq[String], buckets: Int = 16): Unit = {
    val tmp = base + "_mor_next"
    writeBucketed(readMor(s, base, endpoints), tmp, key, buckets)
    val aside = setSidecarsAside(s, base)
    dropManagedPurging(s, base)
    s.sql(s"ALTER TABLE `$tmp` RENAME TO `$base`")
    aside.foreach(t => dropManagedPurging(s, t))
    resetSidecarEpochs(base) // the fold retired them — known empty
  }

  /** Move `base`'s sidecars to `*_folded` names (catalog rename — no
    * data rewrite), returning the names to delete once the compaction
    * swap has landed. A sidecar absent from the catalog but orphaned on
    * disk (previous JVM) is purged directly — it was never part of this
    * compaction's input.
    */
  private def setSidecarsAside(s: SparkSession, base: String): Seq[String] =
    Seq("_delta", "_tomb").flatMap { suf =>
      val t = base + suf
      if (s.catalog.tableExists(t)) {
        // clear any stale folded copy (or its orphaned dir) so the
        // rename cannot collide
        dropManagedPurging(s, t + "_folded")
        s.sql(s"ALTER TABLE `$t` RENAME TO `${t}_folded`")
        Some(t + "_folded")
      } else {
        dropManagedPurging(s, t) // orphaned-dir-only case
        None
      }
    }

  /** [[compactMor]] variant that folds the merged view into a NEW base
    * table, leaving the original base untouched (its sidecars are still
    * retired). This is the mid-lifecycle compaction shape for callers
    * whose base is an immutable shared snapshot (the q163/q165 replay
    * fixtures): the fold lands under a working name, subsequent sidecar
    * appends attach to THAT name, and the snapshot stays pristine for
    * the next replay's reset. No swap window at all — the write is to a
    * fresh name. With the round-16 shared snapshot, `sidecarsOf` is the
    * caller's working name (where its [[readMor]] reads attached them),
    * so the fold consumes exactly the advances this caller made and the
    * retired sidecars are its own, never another snapshot-sharer's.
    */
  def compactMorInto(s: SparkSession, base: String, into: String,
                     key: String, endpoints: Seq[String],
                     buckets: Int = 16,
                     sidecarsOf: String = null): Unit = {
    require(into != base,
      s"compactMorInto: use compactMor for an in-place fold of `$base`")
    val host = Option(sidecarsOf).getOrElse(base)
    writeBucketed(readMor(s, base, endpoints, host), into, key, buckets)
    dropSidecars(s, host)
  }

  // ---------------------------------------------------------------------
  // Compaction POLICY (round-15 verdict item 4): `compactAfterOps` made
  // the schedule a manual parameter; the per-day pricing in
  // bench/r15_profile_mor_compaction.txt says what should DRIVE it —
  // sidecar depth (every accumulated epoch adds a union branch + its
  // anti-join work to each read until the next fold) and tombstone
  // growth (the broadcast the anti-joins ship with every read). Both are
  // observable from the sidecars themselves, so the trigger is a conf'd
  // predicate the lifecycle evaluates after each day's advance — OFF by
  // default (0/unset disables a leg), keeping every explicit-schedule
  // caller bit-identical.
  // ---------------------------------------------------------------------

  /** Fold when the sidecars carry at least this many distinct epochs
    * (0/unset = leg disabled). Depth is the read-amplification lever:
    * each epoch appended since the last fold is another delta stripe +
    * tombstone generation in every [[readMor]] until compaction. */
  val CompactDepthConf = "spark.graft.mor.compactDepth"

  /** The MEASURED depth default for a policy-driven deployment
    * (round-16 verdict item 5): at the 100× fixture's corpus:batch
    * ratio the fold prices at ~5.3–16.7 s for the pair store and
    * ~1.4–5.1 s for the assigned store at depth 3
    * (`bench/r{15,16}_profile_mor_compaction.txt`), against a ~10 s/day
    * merge-on-write rewrite it replaces and the per-read union/anti-join
    * amplification each uncompacted epoch adds — the break-even band is
    * depth 2–3, and 2 is the conservative end (fold as soon as a second
    * epoch accumulates, so no read ever folds more than two stripes).
    * The conf itself stays OFF by default ([[compactDue]] is
    * constant-false with it unset) so explicit-schedule callers are
    * bit-identical; policy callers set `CompactDepthConf` to this
    * (q169 does).
    */
  val RecommendedCompactDepth = 2

  /** Fold when the tombstone sidecar holds at least this many rows
    * (0/unset = leg disabled) — the same quantity [[MaxTombstoneRowsConf]]
    * caps at read time, triggered here BEFORE accumulation degrades
    * reads to shuffle anti-joins. */
  val CompactTombRowsConf = "spark.graft.mor.compactTombstoneRows"

  /** Writer-side sidecar bookkeeping: the distinct epochs appended to
    * each host's sidecars since the last fold/drop in THIS JVM. The
    * depth leg of [[compactDue]] reads this set instead of running a
    * distinct-count job over the sidecars — the first focused 100×
    * cell priced the scanning version at ~8 s/replay (4 probe points ×
    * 2 stores, each a Spark job), which is the wrong cost for a
    * bookkeeping question the writer can answer from memory. A fresh
    * JVM facing on-disk sidecars it never wrote (the maintenance-daemon
    * shape) has no entry and falls back to the one-off scan — correct
    * either way, the cache only removes repeated jobs from the hot
    * path. Single-writer-per-host is already the store's contract
    * (appends are not transactional across processes).
    */
  private val sidecarEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[Integer]]()

  /** One-off scan of `host`'s EXISTING sidecars' distinct epochs — the
    * cold-start seed (round-16 ADVICE 2: seeding the set with just the
    * first post-restart append's epoch masked older on-disk epochs, so
    * the depth policy under-triggered until the next fold). Runs only
    * when this JVM first touches a host it has no entry for; a host
    * whose entry was RESET by a fold ([[resetSidecarEpochs]]) is a
    * known-empty state and never rescans.
    */
  private def scanSidecarEpochs(s: SparkSession,
      host: String): java.util.Set[Integer] = {
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    Seq("_delta", "_tomb").map(host + _).filter(s.catalog.tableExists)
      .foreach { t =>
        s.table(t).select("_epoch").distinct().collect()
          .foreach(r => set.add(Int.box(r.getInt(0))))
      }
    set
  }

  private def recordSidecarEpoch(s: SparkSession, host: String,
      epoch: Int): Unit = {
    sidecarEpochs.computeIfAbsent(host,
      // no entry at all = cold start (this JVM never wrote OR folded
      // this host's sidecars): seed from what is already on disk, so a
      // maintenance daemon restarted mid-accumulation sees the true
      // depth instead of only its own post-restart epochs
      _ => scanSidecarEpochs(s, host))
      .add(Int.box(epoch))
    ()
  }

  /** A fold/drop retires every accumulated epoch: reset the host's
    * entry to a KNOWN-EMPTY set (distinct from no-entry, which means
    * cold start and triggers the seed scan on the next append). The
    * tombstone sidecar is gone with the fold/drop, so its cached row
    * count goes too. */
  private def resetSidecarEpochs(host: String): Unit = {
    sidecarEpochs.put(host,
      java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]())
    invalidateTombRows(host)
  }

  /** Cached [[readMor]] tombstone row counts per host — writer-side
    * bookkeeping like [[sidecarEpochs]]: the count only selects the
    * broadcast-vs-shuffle hint, so re-running it as a Spark job on every
    * read of an unchanged sidecar was pure fixed overhead (several reads
    * per lifecycle day). Invalidated by every path that can change the
    * sidecar's row count; a cold JVM (or a host another process wrote)
    * simply recounts once.
    */
  private val tombRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def invalidateTombRows(host: String): Unit = {
    tombRowCache.remove(host)
    ()
  }

  /** Test seam: forget a host's writer-side epoch set entirely so
    * [[compactDue]] and [[recordSidecarEpoch]] exercise their
    * cold-start scan paths. */
  private[graft] def forgetSidecarEpochs(host: String): Unit = {
    sidecarEpochs.remove(host); ()
  }

  /** The conf'd compaction trigger over `host`'s sidecars: true when
    * the distinct-epoch depth across both sidecars reaches
    * [[CompactDepthConf]] or the tombstone row count reaches
    * [[CompactTombRowsConf]]. The depth leg reads the writer-side
    * [[sidecarEpochs]] set (no job) and scans the sidecars' `_epoch`
    * column only on a cold start (this JVM never wrote them); the rows
    * leg is a parquet count (footer metadata, no data scan). With both
    * confs unset/0 this is constant-false without touching anything,
    * so lifecycles that schedule explicitly are unaffected.
    */
  def compactDue(s: SparkSession, host: String): Boolean = {
    def confAtLeast(conf: String, measure: => Long): Boolean = {
      val k = s.conf.getOption(conf).map(_.toLong).getOrElse(0L)
      k > 0 && measure >= k
    }
    val sidecars = Seq("_delta", "_tomb").map(host + _)
      .filter(s.catalog.tableExists)
    if (sidecars.isEmpty) false
    else confAtLeast(CompactDepthConf,
      Option(sidecarEpochs.get(host)).map(_.size.toLong).getOrElse(
        sidecars.map(t => s.table(t).select("_epoch"))
          .reduce(_ unionByName _).distinct().count())) ||
      confAtLeast(CompactTombRowsConf,
        if (s.catalog.tableExists(s"${host}_tomb"))
          s.table(s"${host}_tomb").count()
        else 0L)
  }

  /** Hive-style partitioned layout — the OTHER write-time pruning lever:
    * one directory per `keys` value combination, so an equality filter on
    * a partition column is resolved from directory listings and the scan
    * never opens non-matching files (`PartitionFilters` in the plan,
    * verified with a read-path assertion in `BucketedStoreSpec`). At
    * 100 TB this is what turns "the train split of the zh corpus" from a
    * full scan into a directory walk. Partition columns must be
    * low-cardinality (split, lang, date...) — high-cardinality keys
    * belong in bucketing, not partitioning (small-files explosion).
    */
  def writePartitioned(df: DataFrame, path: String, keys: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(keys: _*)
      .parquet(path)
}
