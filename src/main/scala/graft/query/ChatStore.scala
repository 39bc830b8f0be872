package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Chat persistence (SURVEY §2.9 L6) re-expressed Spark-native — the
  * last reference component previously scoped out. The reference is
  * SQLite row-CRUD (`WebUI_Front/app_new.py:19-107`: chats/messages
  * tables, cascade delete, title fallback `对话 - {id}`, recency-ordered
  * listing). Single-row UPDATE/DELETE is the one shape a distributed
  * engine should NOT imitate literally, so this is the lakehouse
  * equivalent: an APPEND-ONLY event log (`create` / `message` /
  * `rename` / `delete` rows in parquet) plus declarative state folds —
  * the current-chats view and per-chat history are queries over the
  * log, not mutations. Same observable semantics:
  *
  *  - delete cascades: a chat's current EPOCH is everything after its
  *    last `delete`; messages of deleted epochs never resurface, and a
  *    re-`create` of the same id starts clean (SQLite's
  *    DELETE-then-INSERT cycle).
  *  - title: the value carried by the LATEST create-or-rename event in
  *    the epoch (NULL included — SQLite stores only the latest value);
  *    a NULL **or empty** latest value falls back to the reference's
  *    `对话 - {id}` (its `row[1] or ...` treats '' as falsy), and the
  *    fallback is ALWAYS the id form, never an earlier title.
  *  - listing ordered by last activity, newest first
  *    (`get_all_chats`'s ORDER BY last_updated_at DESC). Activity is
  *    `create` + `message` only: the reference's
  *    `update_chat_title_in_db` does NOT bump `last_updated_at`, so a
  *    rename must not reorder the listing here either.
  *
  * Monotone `seq` replaces wall-clock timestamps (the determinism
  * contract — the reference's CURRENT_TIMESTAMP ordering, minus the
  * clock). Scale: the log partitions by append batch, the folds are one
  * hash shuffle on chat_id each; compaction (rewriting the folded state
  * as the new log head) is the standard lakehouse maintenance job and
  * composes from these same views.
  */
object ChatStore {

  /** Append a batch of events. Schema: seq LONG, op STRING ('create' |
    * 'message' | 'rename' | 'delete'), chat_id STRING, title STRING,
    * role STRING, content STRING (nulls where not applicable).
    */
  def append(events: DataFrame, dir: String): Unit =
    events.write.mode("append").parquet(dir)

  def load(s: SparkSession, dir: String): DataFrame = s.read.parquet(dir)

  /** Events of each chat's CURRENT epoch (after its last delete),
    * deletes themselves excluded.
    */
  private def effective(log: DataFrame): DataFrame = {
    val s = log.sparkSession
    import s.implicits._
    val lastDel = log.filter($"op" === "delete")
      .groupBy($"chat_id").agg(max($"seq").as("del_seq"))
    log.filter($"op" =!= "delete")
      .join(lastDel, Seq("chat_id"), "left")
      .filter($"del_seq".isNull || $"seq" > $"del_seq")
      .drop("del_seq")
  }

  /** The chats listing: one row per live chat — resolved title, message
    * count, last-activity seq — newest first.
    */
  def chats(log: DataFrame): DataFrame = {
    val s = log.sparkSession
    import s.implicits._
    val eff = effective(log)
    val wDesc = Window.partitionBy($"chat_id").orderBy($"seq".desc)
    // a chat LIVES iff its epoch has a create; latest create wins
    val created = eff.filter($"op" === "create")
      .withColumn("rn", row_number().over(wDesc)).filter($"rn" === 1)
      .select($"chat_id", $"seq".as("created_seq"))
    // latest stored title = the title of the most RECENT create-or-rename
    // event, NULL included — mirrors SQLite storing only the latest
    // value: a rename to NULL overwrites a non-empty create title, and
    // the falsy fallback below must then yield the id form, never an
    // earlier title (a rename-over-create coalesce would resurrect it).
    val latestTitle = eff.filter($"op".isin("create", "rename"))
      .withColumn("rn", row_number().over(wDesc)).filter($"rn" === 1)
      .select($"chat_id", $"title".as("latest_title"))
    // last_seq folds over create+message ONLY (never rename): mirrors
    // the reference, where add_message bumps last_updated_at but
    // update_chat_title_in_db does not — renaming must not reorder.
    val activity = eff.filter($"op".isin("create", "message"))
      .groupBy($"chat_id").agg(
        max($"seq").as("last_seq"),
        sum(when($"op" === "message", 1L).otherwise(0L)).as("n_messages"))
    created
      .join(latestTitle, Seq("chat_id"), "left")
      .join(activity, Seq("chat_id"))
      .select($"chat_id",
        // the reference's falsy fallback applied to the single latest
        // value: NULL *or empty* → `对话 - {id}`
        coalesce(nullif($"latest_title", lit("")),
          concat(lit("对话 - "), $"chat_id")).as("title"),
        $"n_messages", $"last_seq")
      .orderBy($"last_seq".desc, $"chat_id")
  }

  /** A live chat's history, oldest first (`get_chat_messages_from_db`);
    * empty for deleted or never-created chats.
    */
  def messages(log: DataFrame, chatId: String): DataFrame = {
    val s = log.sparkSession
    import s.implicits._
    val eff = effective(log).filter($"chat_id" === chatId)
    val alive = eff.filter($"op" === "create").limit(1).select($"chat_id")
    eff.filter($"op" === "message")
      .join(broadcast(alive), "chat_id")
      .select($"seq", $"role", $"content")
      .orderBy($"seq")
  }

  /** Compaction — the lakehouse maintenance job this design assumes:
    * rewrite the log as the minimal event set reproducing the current
    * state (each live epoch's create, its LAST rename if any — kept for
    * the resolved title — and its messages). Deleted epochs and
    * superseded renames vanish; `chats` and `messages` read identically
    * before and after (spec-pinned). At scale this is the periodic job
    * that keeps log read cost proportional to LIVE state rather than
    * all-time history.
    *
    * Swap discipline: the compacted log is FULLY written to `dir
    * + ".compact"` first, then swapped in via filesystem
    * delete-old + rename-tmp — never an in-place overwrite of the live
    * dir (which would delete the only copy before the rewrite lands).
    * The rename is atomic on HDFS/POSIX; the remaining crash window is
    * delete-done/rename-pending, where the fully-written `.compact` dir
    * survives on disk as the recovery copy (recovery = rename it back).
    * On rename-less object stores this becomes copy+delete — still
    * crash-safe in the sense that a complete copy exists at every
    * instant.
    */
  def compact(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val log = load(s, dir)
    val eff = effective(log)
    val wDesc = Window.partitionBy($"chat_id").orderBy($"seq".desc)
    val keepOps = Seq("create", "rename").map { op =>
      eff.filter($"op" === op)
        .withColumn("rn", row_number().over(wDesc)).filter($"rn" === 1)
        .drop("rn")
    }
    val live = keepOps.head.select($"chat_id")
    val msgs = eff.filter($"op" === "message").join(live, "chat_id")
    val cols = Seq($"seq", $"op", $"chat_id", $"title", $"role", $"content")
    val compacted = (keepOps.head.select(cols: _*) +:
      Seq(keepOps(1).join(live, "chat_id").select(cols: _*),
        msgs.select(cols: _*))).reduce(_ unionByName _)
    swapInto(s, compacted, dir)
  }

  /** Retention for the event log — the [[graft.streaming.ExactlyOnceSink
    * .pruneLanded]] analog: physically drop
    * DEAD epochs (every event at-or-before its chat's last `delete`,
    * and the then-unreferenced delete markers themselves) while keeping
    * live-epoch history VERBATIM — superseded renames included, unlike
    * [[compact]], which rewrites live state down to its minimal event
    * set. Prune is exactly "materialize [[effective]]", so every fold is
    * unchanged by construction (`chats`/`messages` consume only
    * `effective(log)`, and effective∘prune = prune — no deletes remain
    * and every surviving event postdates the old delete fence); it is
    * idempotent; and a deleted chat's re-`create` after a prune starts
    * clean exactly as it did before the prune. At scale this is the
    * cheap high-frequency retention job (one filter + rewrite of the
    * live tail) between [[compact]]'s full rewrites — and the one that
    * makes "deleted" mean GONE FROM DISK (the GDPR-shaped guarantee a
    * soft-deleting event log otherwise never gives).
    */
  def prune(s: SparkSession, dir: String): Unit = {
    val log = load(s, dir)
    // effective()'s join surfaces chat_id first; rewrite in the log's
    // own column order so prune never changes the on-disk schema shape
    swapInto(s, effective(log).select(log.columns.map(col(_)): _*), dir)
  }

  /** Shared swap discipline for the log-rewriting maintenance jobs: the
    * replacement is FULLY written to `dir + ".compact"` first, then
    * swapped in via filesystem delete-old + rename-tmp — never an
    * in-place overwrite of the live dir (which would delete the only
    * copy before the rewrite lands). The rename is atomic on HDFS/POSIX;
    * the remaining crash window is delete-done/rename-pending, where the
    * fully-written temp dir survives on disk as the recovery copy
    * (recovery = rename it back). On rename-less object stores this
    * becomes copy+delete — still crash-safe in the sense that a complete
    * copy exists at every instant.
    */
  private def swapInto(s: SparkSession, replacement: DataFrame,
      dir: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val fs = dst.getFileSystem(s.sessionState.newHadoopConf())
    replacement.write.mode("overwrite").parquet(tmp.toString)
    // the live dir is touched only AFTER the temp copy is complete
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"log swap failed: $tmp survives as the recovery copy")
  }
}
