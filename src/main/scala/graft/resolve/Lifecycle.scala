package graft.resolve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.BucketedStore
import graft.similarity.Similarity
import EntityResolution._

/** Multi-day entity-resolution lifecycles (q160–q169) and their
  * single-day serves (q143, q150, q153, q155–q159). Each day inserts,
  * updates or deletes one id class: the day's serve kernel runs against
  * the standing tables at a cost sized by the batch and the components
  * it touches, and its result is folded into those tables, so the next
  * day serves against the advanced state. The reference rebuilds its
  * whole alias mapping on any correction (`keyword_merger.py:134-144`,
  * force_recompute); here only the touched state moves.
  *
  * A lifecycle is a [[Binding]] (what the rows are and which kernels
  * pair them) run under an [[Advance]] policy (how a day's result is
  * written back). Every advance keeps three invariants:
  *  - the stored pairs are exactly the ε-kernel over the stored rows
  *    (blocked under the pinned index for the synthetic binding). An
  *    insert adds the batch-endpoint pairs; an update drops every pair
  *    with an updated endpoint, which died with the old embedding, and
  *    adds the new-embedding pairs, each of which has a batch endpoint;
  *    a delete keeps the pairs whose endpoints both survive. By
  *    induction the final mapping is from-scratch ER over the net rows,
  *    bit-identical under either policy and any day order of disjoint
  *    classes.
  *  - the day-0 snapshot is immutable. It is built once per parameter
  *    key, named by that key ([[EntityResolution.sharedBaseName]]) and
  *    shared by every lifecycle and [[serve]] with equal parameters.
  *    A run resets by dropping its own working tables; reads fall back
  *    to the snapshot until an advance or a fold writes the working
  *    name. A serve writes nothing.
  *  - working tables and merge-on-read sidecars are hosted under the
  *    query's own prefix, so one lifecycle's advances never reach
  *    another's replay of the same snapshot.
  */
object Lifecycle {

  /** Where a lifecycle's rows come from and how its day kernels read
    * them: the row store and its bucket key, the class rule the ops
    * select by, the day-0 snapshot (given the inserted classes; returns
    * its table prefix), the day batches (class, re-embedded?) given the
    * snapshot prefix and the classes it lacks, the touching-pair kernel
    * (survivors, batch) and the result shape (mapping as
    * `(vec_id, rep_id)`, rows — by name: reading a merge-on-read store
    * can cost a job, and only some shapes need it).
    */
  final class Binding private[resolve] (
      val rowStore: String, val rowKey: String,
      val cls: Column => Column,
      val snapshot: (SparkSession, Set[Int]) => String,
      val batches: (SparkSession, String, Set[Int]) => (Int, Boolean) => DataFrame,
      val touching: (DataFrame, DataFrame) => DataFrame,
      val result: (DataFrame, => DataFrame) => DataFrame)

  /** The embeddings corpus under the [[EntityResolution.standingPin]]
    * IVF index, classes by `cls` (default `vec_id % 10`): rows are cell
    * assignments bucketed by `cid`, the snapshot stores the pinned index
    * as `<snapshot>_index`, batches are assigned against that stored
    * index, and a day re-embeds by reversing the dimensions before
    * assignment. The pin is fixed, so the snapshot with no inserted
    * class is the whole corpus under any rule; the snapshot key names
    * the rule only when a non-default rule selects inserted classes.
    */
  def synthetic(d: String, cls: Column => Column = lastDigit): Binding =
    new Binding("assigned", "cid", cls,
      snapshot = (s, inserted) => {
        lazy val rule = clsFingerprint(s, cls)
        val ruleKey =
          if (inserted.isEmpty || rule == clsFingerprint(s, lastDigit)) ""
          else s"|cls=$rule"
        ensureSnapshot(s, "syn", s"$d|ins=${sorted(inserted)}$ruleKey",
            "assigned", "cid") {
          val pin = Similarity.pinnedCentroids(s, d, standingPin)
          val assigned = Similarity
            .assignPinned(s, d, pin, notIn(cls, inserted))
            .persist(StorageLevel.MEMORY_AND_DISK)
          (assigned, Kernels.epsCellPairsOrdered(assigned)
            .persist(StorageLevel.MEMORY_AND_DISK),
            Map("index" -> Similarity.indexFrame(s, pin)))
        }
      },
      batches = (s, base, _) => {
        lazy val pin = Similarity.indexOf(s.table(s"${base}_index"))
        (k, reembed) =>
          Similarity.assignPinned(s, d, pin, c => cls(c) === k, reembed)
      },
      touching = updateTouchingPairs,
      result = (mapping, _) => mapping.orderBy(col("vec_id")))

  private val lastDigit: Column => Column = c => c % 10

  private def sorted(classes: Set[Int]): String =
    classes.toSeq.sorted.mkString(",")

  /** Day 0's rows: every class the ops do not insert. */
  private def notIn(cls: Column => Column, inserted: Set[Int]): Column => Column =
    c => !inserted.map(k => cls(c) === k).foldLeft(lit(false))(_ || _)

  /** The tagged ingest's keyword universe under the exact kernel at
    * cos ≥ num/den: rows are embedded terms bucketed by `vec_id`, and
    * the result names each term's representative by the component's
    * lexicographically minimal term. A day's batch is `daySource(k)`'s
    * terms when given (the day's arriving documents only); otherwise a
    * class the snapshot holds reads the snapshot's terms and only an
    * inserted class parses the ingest. Never the working term store:
    * the snapshot is immutable, so a recompute after an advance cannot
    * re-embed a re-embedded row.
    */
  def ingested(ingested: () => DataFrame, sourceKey: String, num: Int,
      den: Int, cls: Column => Column = c => c % 3,
      daySource: Option[Int => DataFrame] = None): Binding =
    new Binding("terms", "vec_id", cls,
      snapshot = (s, inserted) => {
        // the key carries everything the build reads; the class rule
        // enters as its structural fingerprint
        val key = s"$sourceKey|eps=$num/$den|cls=${clsFingerprint(s, cls)}" +
          s"|ins=${sorted(inserted)}"
        ensureSnapshot(s, "ing", key, "terms", "vec_id") {
          val terms = embedTermUniverse(ingested())
            .filter(notIn(cls, inserted)(col("vec_id")))
            .persist(StorageLevel.MEMORY_AND_DISK)
          (terms, Kernels.epsPairsOf(terms, num, den), Map.empty)
        }
      },
      batches = (s, base, inserted) => {
        // a parse that several insert days read is cached once; a single
        // day's batch is cached by the day kernel alone
        lazy val parsed = {
          val terms = embedTermUniverse(ingested())
          if (inserted.size > 1) persistServe(terms) else terms
        }
        (k, reembed) => {
          val batch = daySource.map(f => embedTermUniverse(f(k)))
            .getOrElse(if (inserted(k)) parsed else s.table(s"${base}_terms"))
            .filter(cls(col("vec_id")) === k)
          if (reembed) batch.withColumn("embedding", reverse(col("embedding")))
          else batch
        }
      },
      touching = (survivors, batch) =>
        Kernels.batchEndpointPairs(survivors, batch, num, den),
      result = (mapping, rows) => minTermMapping(mapping, rows))

  /** How a day's result is written back to the standing tables. */
  sealed trait Advance

  /** Merge-on-write: one concurrent `_next` rewrite of mapping, pairs and
    * rows ([[BucketedStore.replaceBucketedAll]]); an insert day on live
    * working tables swaps the mapping and appends instead. The write
    * cost of an update or delete day is the corpus.
    */
  case object Rewrite extends Advance

  /** Merge-on-read: swap the mapping, then append epoch-tagged tombstone
    * and delta sidecars beside the pair and row stores; every read folds
    * them ([[BucketedStore.readMor]]). The write cost is the batch; the
    * read pays a union and an anti-join per endpoint until a fold.
    */
  case object MergeOnRead extends Advance

  /** One day's outcome: the merged `(vec_id, rep_id)` mapping, the ids
    * whose stored rows and pairs die, and the rows and pairs it adds. */
  private final case class Day(merged: DataFrame,
      dead: Option[Column => Column],
      newPairs: Option[DataFrame], newRows: Option[DataFrame]) {
    /** `df` without the rows whose `ids` columns hold a dead id. */
    def alive(df: DataFrame, ids: String*): DataFrame =
      dead.fold(df)(d => df.filter(ids.map(c => !d(col(c))).reduce(_ && _)))
  }

  private def plus(df: DataFrame, added: Option[DataFrame]): DataFrame =
    added.fold(df)(df.unionByName)

  /** One day's kernel against standing `rows`, `pairs` and `mapping`
    * (`vec_id`, `component`); each is read only if the op needs it. */
  private def day(s: SparkSession, binding: Binding,
      batchOf: (Int, Boolean) => DataFrame, rows: => DataFrame,
      pairs: => DataFrame, mapping: => DataFrame, op: (String, Int)): Day = {
    import s.implicits._
    op match {
      case ("insert", k) =>
        val batch = persistServe(batchOf(k, false))
        val touching = persistServe(binding.touching(rows, batch))
        Day(mergeIncrement(s, mapping, batch.select($"vec_id"), touching),
          None, Some(touching), Some(batch))
      case ("update", k) =>
        val isUpd = (c: Column) => binding.cls(c) === k
        val batch = persistServe(batchOf(k, true))
        val touching = persistServe(
          binding.touching(rows.filter(!isUpd($"vec_id")), batch))
        Day(mergeUpdate(s, mapping, pairs, batch.select($"vec_id"),
          touching, isUpd), Some(isUpd), Some(touching), Some(batch))
      case ("delete", k) =>
        val isDel = (c: Column) => binding.cls(c) === k
        Day(mergeTombstones(s, mapping, pairs, isDel), Some(isDel), None, None)
      case (o, _) =>
        throw new IllegalArgumentException(s"unknown lifecycle op: $o")
    }
  }

  /** Serve one op — `(insert|update|delete, class)` — against the day-0
    * snapshot that holds every class but an inserted one, and return
    * the binding's result over the day's merged mapping and its live
    * rows. Nothing is written: the snapshot is built once per parameter
    * key, so a repeated serve pays only the day's kernel.
    */
  def serve(s: SparkSession, binding: Binding, op: (String, Int)): DataFrame = {
    val inserted = Set(op).collect { case ("insert", k) => k }
    val base = binding.snapshot(s, inserted)
    def table(t: String) = BucketedStore.table(s, s"${base}_$t")
    val rows = table(binding.rowStore)
    val served = day(s, binding, binding.batches(s, base, inserted), rows,
      table("pairs"), table("mapping"), op)
    binding.result(served.merged,
      plus(served.alive(rows, "vec_id"), served.newRows))
  }

  /** Replay `ops` — `(insert|update|delete, class)` — from the day-0
    * snapshot, which holds every class not inserted by `ops`, under
    * `prefix`'s working tables. After each op index in
    * `compactAfterOps`, and whenever [[BucketedStore.compactDue]] fires,
    * the pair and row stores are folded back to one sorted file per
    * bucket. `onPhase` receives (`day0` | `<op><i>` | `compact<i>`,
    * seconds) as each phase completes.
    */
  def run(s: SparkSession, binding: Binding, advance: Advance,
      prefix: String, ops: Seq[(String, Int)],
      compactAfterOps: Set[Int] = Set.empty,
      onPhase: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    import s.implicits._
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onPhase(tag, (System.nanoTime() - t0) / 1e9)
      r
    }
    val rowStore = binding.rowStore
    val inserted = ops.collect { case ("insert", k) => k }.toSet
    def host(t: String): String = s"${prefix}_$t"
    val base = timed("day0") {
      val base = binding.snapshot(s, inserted)
      Seq(rowStore, "pairs").foreach { t =>
        BucketedStore.dropSidecars(s, host(t))
        BucketedStore.dropManagedPurging(s, host(t))
      }
      BucketedStore.dropManagedPurging(s, host("mapping"))
      base
    }
    def live(t: String): Boolean = s.catalog.tableExists(host(t))
    def current(t: String): String = if (live(t)) host(t) else s"${base}_$t"
    def store(t: String, endpoints: String*): DataFrame = advance match {
      case Rewrite => BucketedStore.table(s, current(t))
      case MergeOnRead =>
        BucketedStore.readMor(s, current(t), endpoints, host(t))
    }
    def rows = store(rowStore, "vec_id")
    def pairs = store("pairs", "u", "v")
    def mapping = BucketedStore.table(s, current("mapping"))
    val batchOf = binding.batches(s, base, inserted)

    def write(day: Day, epoch: Int): Unit = {
      val merged = day.merged.select($"vec_id", $"rep_id".as("component"))
      advance match {
        case Rewrite if day.dead.isEmpty && live(rowStore) =>
          // neither the mapping swap nor the pair append reads the table
          // the other writes; the row append runs last because the
          // touching frame's recompute scans the row store it lands in
          BucketedStore.concurrently(Seq(
            () => BucketedStore.replaceBucketed(merged, host("mapping"),
              "vec_id"),
            () => day.newPairs.foreach(
              BucketedStore.appendBucketed(_, host("pairs"), "u"))))
          day.newRows.foreach(
            BucketedStore.appendBucketed(_, host(rowStore), binding.rowKey))
        case Rewrite =>
          BucketedStore.replaceBucketedAll(Seq(
            (merged, host("mapping"), "vec_id"),
            (plus(day.alive(pairs, "u", "v"), day.newPairs), host("pairs"), "u"),
            (plus(day.alive(rows, "vec_id"), day.newRows), host(rowStore),
              binding.rowKey)))
        case MergeOnRead =>
          BucketedStore.replaceBucketed(merged, host("mapping"), "vec_id")
          // a tombstone kills rows of strictly older epochs, so the
          // same-epoch deltas below (an update's new rows) survive it
          day.dead.foreach { d =>
            BucketedStore.appendTombstoneSidecar(
              rows.filter(d($"vec_id")).select($"vec_id"), host("pairs"), epoch)
            // read back from the pair tombstones: the dead-id plan scans
            // the row store's view, tombstone sidecar included
            BucketedStore.appendTombstoneSidecar(
              s.table(s"${host("pairs")}_tomb")
                .filter($"_epoch" === epoch).select($"id"),
              host(rowStore), epoch)
          }
          day.newPairs.foreach(
            BucketedStore.appendDeltaSidecar(_, host("pairs"), "u", epoch))
          day.newRows.foreach(BucketedStore.appendDeltaSidecar(_,
            host(rowStore), binding.rowKey, epoch))
      }
    }

    def fold(t: String, key: String, endpoints: Seq[String]): () => Unit =
      () => advance match {
        case Rewrite => BucketedStore.compactBucketed(s, host(t), key)
        case MergeOnRead if live(t) =>
          BucketedStore.compactMor(s, host(t), key, endpoints)
        case MergeOnRead =>
          // the first fold lands under the working name, leaving the
          // shared snapshot untouched
          BucketedStore.compactMorInto(s, s"${base}_$t", host(t), key,
            endpoints, sidecarsOf = host(t))
      }

    ops.zipWithIndex.foreach { case (op, i) =>
      timed(s"${op._1}${i + 1}")(
        write(day(s, binding, batchOf, rows, pairs, mapping, op), i + 1))
      if (compactAfterOps(i) || BucketedStore.compactDue(s, host("pairs")) ||
          BucketedStore.compactDue(s, host(rowStore)))
        timed(s"compact${i + 1}") {
          BucketedStore.concurrently(Seq(fold("pairs", "u", Seq("u", "v")),
            fold(rowStore, binding.rowKey, Seq("vec_id"))))
        }
    }
    binding.result(mapping.select($"vec_id", $"component".as("rep_id")), rows)
  }
}
