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
    // one bucket → ONE sorted file per bucket. A bucketed write otherwise
    // emits a file per (task, bucket) pair: an unsorted 32-partition
    // input wrote 32×16 files PER ADVANCE into the lifecycle mapping
    // tables (822 files after one replay — measured), and every next-day
    // read paid the footer/open storm. The repartition's HashPartitioning
    // is the same murmur3-pmod the bucket layout uses, so the write stays
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
    // writeBucketed itself pre-partitions on the bucket hash
    writeBucketed(raw, tmp, key, buckets)
    // same managed-only drop+purge and reader contract as
    // ExactlyOnceSink.foldIntoBucketed's swap (resolve-per-request)
    swapIn(s, tmp, table)
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
    // recover any swap a previous crash stranded: if the last replace
    // died between its drop and rename, the only complete copy is
    // `_next` — restore it BEFORE this write clobbers the temp name, so
    // the new frame replaces a recovered table instead of burying the
    // copy
    recoverStrandedNext(s, table)
    val tmp = table + "_next"
    writeBucketed(df, tmp, key, buckets)
    swapIn(s, tmp, table)
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
      many.foreach { case (_, t, _) => swapIn(s, s"${t}_next", t) }
  }

  /** Publish the fully written `tmp` as `table`: carry `table`'s
    * `graft.*` properties over (a rewrite is the same table advanced, so
    * the facts stored on it still hold), drop and purge `table`, rename.
    * The properties land on `tmp` before the drop, so a crash between
    * the drop and the rename strands a complete copy, properties
    * included, for [[recoverStrandedNext]].
    */
  private[graft] def swapIn(s: SparkSession, tmp: String, table: String): Unit = {
    properties(s, table).foreach { case (k, v) => setProperty(s, tmp, k, Some(v)) }
    dropManagedPurging(s, table)
    s.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
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
    * swap target, so no read between the crash and the next write
    * serves base-only state. Table properties move with the rename,
    * so a recovered sidecar keeps its epoch set:
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
  // Table properties: a fact about a stored table (the source a binding
  // was built from, a snapshot's parameter key, a sidecar's epoch set)
  // is stored ON that table by the step that publishes its data, and
  // read back from the catalog, which runs no Spark job. It moves with
  // a rename and goes with a drop, so it can never describe data the
  // table no longer holds, and every session sharing the catalog reads
  // the same answer.
  // ---------------------------------------------------------------------

  /** `table`'s `graft.*` properties; empty when the table is absent. */
  private def properties(s: SparkSession, table: String): Map[String, String] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = s.sessionState.catalog
    val ident = TableIdentifier(table)
    if (!cat.tableExists(ident)) Map.empty
    else cat.getTableMetadata(ident).properties.filter(_._1.startsWith("graft."))
  }

  /** `key`'s value on `table`; None when the table or the key is absent. */
  private[graft] def property(s: SparkSession, table: String,
      key: String): Option[String] = properties(s, table).get(key)

  /** Set (Some) or remove (None) `key` on the existing `table`. */
  private[graft] def setProperty(s: SparkSession, table: String, key: String,
      value: Option[String]): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = s.sessionState.catalog
    val ident = TableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    cat.alterTable(meta.copy(properties =
      value.fold(meta.properties - key)(v => meta.properties + (key -> v))))
    cat.invalidateCachedTable(ident)
  }

  // ---------------------------------------------------------------------
  // MERGE-ON-READ sidecars — the update/delete advance alternative to
  // [[replaceBucketed]]'s merge-on-write rewrite.
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
  //    d-epoch tombstone does not cover;
  //  - each sidecar carries the epochs appended to it as its
  //    [[EpochsKey]] property, so the depth [[compactDue]] reads is a
  //    catalog lookup, and a drop or a fold retires it with the table.
  //
  // The trade, stated for the planner: the merged view is a union + one
  // broadcast anti-join per endpoint column, so it no longer advertises
  // the base's bucketed HashPartitioning — joins against the view
  // shuffle until [[compactMor]] folds the sidecars back into a fresh
  // bucketed base (one corpus write on the compaction schedule, not per
  // day). Tombstones are day-batch-sized by contract, hence the
  // broadcast: the anti-joins never shuffle the corpus side.
  // ---------------------------------------------------------------------

  /** Property listing the epochs appended to a sidecar, comma-separated. */
  private val EpochsKey = "graft.epochs"

  /** The epochs `table` (a sidecar) carries; empty when it is absent. */
  private[graft] def epochsOf(s: SparkSession, table: String): Set[Int] =
    property(s, table, EpochsKey).toSet[String]
      .flatMap(_.split(',').filter(_.nonEmpty).map(_.toInt))

  private def appendedEpoch(s: SparkSession, table: String, epoch: Int): Unit =
    setProperty(s, table, EpochsKey,
      Some((epochsOf(s, table) + epoch).toSeq.sorted.mkString(",")))

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
    appendedEpoch(df.sparkSession, s"${base}_delta", epoch)
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
    appendedEpoch(ids.sparkSession, s"${base}_tomb", epoch)
  }

  /** The merged MOR view of `base` + its sidecars: (base ∪ deltas) minus
    * every row one of whose `endpoints` ids is tombstoned at a strictly
    * newer epoch. Missing sidecars fold to the base alone, so callers
    * read through this unconditionally.
    *
    * `sidecarsOf` names the table the sidecars hang off (default: the
    * base itself). A caller whose base is a SHARED immutable snapshot
    * (several lifecycle queries read one `_base_*` build) passes its own
    * working name here, so its day advances land on tables it owns and
    * can never leak into another reader of the same snapshot.
    *
    * The anti-joins broadcast the tombstones while the sidecar's on-disk
    * size (plan statistics: a file listing, no job) is within
    * `spark.sql.autoBroadcastJoinThreshold`, so the corpus side never
    * shuffles. Past it they fall back to a shuffle anti-join with a
    * warning naming [[compactMor]] — correct at any size, never a
    * driver/executor OOM.
    */
  def readMor(s: SparkSession, base: String,
              endpoints: Seq[String],
              sidecarsOf: String = null): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val host = Option(sidecarsOf).getOrElse(base)
    // recover sidecars a crashed rewrite stranded under `_next` BEFORE
    // the existence checks below: a missing sidecar reads clean here by
    // design, so a read in the crash-to-reland window would otherwise
    // serve base-only state. Two catalog lookups per sidecar when clean.
    Seq("_delta", "_tomb").foreach(suf => recoverStrandedNext(s, host + suf))
    val b = s.table(base).withColumn("_epoch", lit(0))
    val withDelta =
      if (s.catalog.tableExists(s"${host}_delta"))
        b.unionByName(s.table(s"${host}_delta"))
      else b
    val merged =
      if (s.catalog.tableExists(s"${host}_tomb")) {
        val bytes = s.table(s"${host}_tomb")
          .queryExecution.optimizedPlan.stats.sizeInBytes
        val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
        val hint: DataFrame => DataFrame =
          if (bytes <= threshold) broadcast
          else {
            if (threshold >= 0)
              org.apache.log4j.Logger.getLogger(getClass)
                .warn(s"readMor($base): tombstone sidecar is $bytes bytes > " +
                  s"spark.sql.autoBroadcastJoinThreshold=$threshold — " +
                  "anti-joins fall back to a shuffle join. Run " +
                  "BucketedStore.compactMor to fold the sidecars and " +
                  "restore broadcast-sized tombstones.")
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

  /** Drop `base`'s sidecars (not the base), their epoch sets with them.
    * A lifecycle replay calls this at reset; compaction calls it after
    * folding. Unconditional [[dropManagedPurging]] — NOT gated on
    * `tableExists` — because a previous JVM's sidecars survive on disk
    * while the in-memory catalog forgets them; a gated drop would skip
    * the orphaned directories and the next create-on-append would fail
    * LOCATION_ALREADY_EXISTS (the same orphan case writeBucketed
    * handles).
    */
  def dropSidecars(s: SparkSession, base: String): Unit =
    Seq("_delta", "_tomb").foreach(suf => dropManagedPurging(s, base + suf))

  /** Scheduled MOR maintenance: materialize [[readMor]] as a fresh
    * bucketed+sorted base (temp-write + drop + rename — the merged plan
    * reads the base being replaced, same discipline as
    * [[replaceBucketed]]), then retire the folded sidecars. One corpus
    * write per compaction cycle instead of per update/delete day; after
    * it, reads are plain bucketed scans again (co-located joins).
    *
    * Crash discipline: the sidecars are RENAMED aside (a cheap
    * catalog/directory move) before the base swap and deleted only
    * after the `ALTER TABLE ... RENAME` lands, so no window leaves the
    * pre-fold base live with the day's advances gone. Pre-swap the
    * original base+sidecars are intact; between base-drop and rename
    * the reader fails on a missing table while BOTH the folded
    * `_mor_next` copy and the `_folded` sidecars survive as recovery
    * copies.
    */
  def compactMor(s: SparkSession, base: String, key: String,
                 endpoints: Seq[String], buckets: Int = 16): Unit = {
    val tmp = base + "_mor_next"
    writeBucketed(readMor(s, base, endpoints), tmp, key, buckets)
    val aside = setSidecarsAside(s, base)
    swapIn(s, tmp, base)
    aside.foreach(t => dropManagedPurging(s, t))
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
    * fresh name. With a shared snapshot, `sidecarsOf` is the caller's
    * working name (where its [[readMor]] reads attached them), so the
    * fold consumes exactly the advances this caller made and the
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
  // Compaction POLICY: instead of a manual `compactAfterOps` schedule,
  // the fold can be driven by what the per-day pricing
  // (bench/r15_profile_mor_compaction.txt) says drives its value —
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

  /** The MEASURED depth default for a policy-driven deployment: at the
    * 100× fixture's corpus:batch ratio the fold prices at ~5.3–16.7 s
    * for the pair store and ~1.4–5.1 s for the assigned store at depth 3
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
    * (0/unset = leg disabled), before accumulation outgrows the
    * broadcast [[readMor]] gives the anti-joins. */
  val CompactTombRowsConf = "spark.graft.mor.compactTombstoneRows"

  /** The conf'd compaction trigger over `host`'s sidecars: true when
    * the distinct-epoch depth across both sidecars reaches
    * [[CompactDepthConf]] or the tombstone row count reaches
    * [[CompactTombRowsConf]]. The depth leg reads the sidecars'
    * [[EpochsKey]] properties (no job); the rows leg is a parquet count
    * (footer metadata, no data scan). With both confs unset/0 this is
    * constant-false without touching anything, so lifecycles that
    * schedule explicitly are unaffected.
    */
  def compactDue(s: SparkSession, host: String): Boolean = {
    def confAtLeast(conf: String, measure: => Long): Boolean = {
      val k = s.conf.getOption(conf).map(_.toLong).getOrElse(0L)
      k > 0 && measure >= k
    }
    val sidecars = Seq("_delta", "_tomb").map(host + _)
      .filter(s.catalog.tableExists)
    sidecars.nonEmpty && (
      confAtLeast(CompactDepthConf,
        sidecars.flatMap(epochsOf(s, _)).toSet.size.toLong) ||
      confAtLeast(CompactTombRowsConf,
        if (s.catalog.tableExists(s"${host}_tomb"))
          s.table(s"${host}_tomb").count()
        else 0L))
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
