package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.query._
import graft.query.ChatStore._

/** The chat-store round trips of [[graft.query.ChatStore]]. */
object Chat extends Family {

  /** The fixture-derived event history of q138 and q154, appended to a
    * fresh scratch log whose dir is returned: one chat per source
    * (created at min(doc_id)·10, titled by the source), one message per
    * doc (seq doc_id·10+5), then a SECOND append batch (exercising log
    * append, not overwrite) renaming src1 and deleting every source
    * ending in '0'.
    */
  private def eventHistory(s: SparkSession, d: String, name: String): String = {
    import s.implicits._
    val dir = Sinks.tmp(s, name)
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text")
    val creates = docs.groupBy($"source")
      .agg((min($"doc_id") * 10).as("seq"))
      .select($"seq", lit("create").as("op"), $"source".as("chat_id"),
        $"source".as("title"),
        lit(null).cast("string").as("role"),
        lit(null).cast("string").as("content"))
    val msgs = docs.select(($"doc_id" * 10 + 5).as("seq"),
      lit("message").as("op"), $"source".as("chat_id"),
      lit(null).cast("string").as("title"),
      when($"doc_id" % 2 === 0, "user").otherwise("assistant").as("role"),
      substring($"text", 1, 30).as("content"))
    ChatStore.append(creates.unionByName(msgs), dir)
    val maxSeq = docs.agg(max($"doc_id") * 10).as[Long].head()
    val renames = s.range(1).select(lit(maxSeq + 6).as("seq"),
      lit("rename").as("op"), lit("src1").as("chat_id"),
      lit("src1-renamed").as("title"),
      lit(null).cast("string").as("role"),
      lit(null).cast("string").as("content"))
    val deletes = docs.select($"source").distinct()
      .filter($"source".endsWith("0"))
      .select(lit(maxSeq + 7).as("seq"), lit("delete").as("op"),
        $"source".as("chat_id"),
        lit(null).cast("string").as("title"),
        lit(null).cast("string").as("role"),
        lit(null).cast("string").as("content"))
    ChatStore.append(renames.unionByName(deletes), dir)
    dir
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Round trip of the whole L6 surface, driven by the fixture-derived
    // [[eventHistory]] so the DuckDB oracle can recompute the expected
    // state from `documents` alone. The gated frame is the folded chats
    // listing read back from disk.
    "q138_chat_state_roundtrip" -> ((s, d) =>
      chats(load(s, eventHistory(s, d, "q138_chatlog")))),

    // Retention under the hash gate: the [[eventHistory]] is PRUNED, and
    // the gated frame is the surviving log's per-op row counts — dead
    // epochs must be PHYSICALLY gone (deleted chats contribute zero
    // creates/messages; the delete markers themselves vanish), which the
    // folded listing alone could never prove (the folds read identically
    // before and after by construction — `ChatStoreSpec` pins that half).
    "q154_chat_prune_retention" -> ((s, d) => {
      import s.implicits._
      val dir = eventHistory(s, d, "q154_chatlog")
      prune(s, dir)
      load(s, dir).groupBy($"op").agg(count(lit(1)).as("cnt"))
        .orderBy($"op")
    })
  )

  def oracles: Map[String, String] = Map(
    // The expected folded state, recomputed from `documents` directly:
    // live chats are the sources NOT ending in '0'; title is the rename
    // for src1 else the source; message count is the source's doc count
    // (no deletes hit live chats); last activity is the source's max
    // message seq for EVERY chat — the src1 rename resolves the title
    // but, like the reference's update_chat_title_in_db, does not bump
    // the activity order.
    "q138_chat_state_roundtrip" ->
      """WITH src AS (
           SELECT source, min(doc_id) AS mn, max(doc_id) AS mx,
                  count(*) AS n
           FROM documents GROUP BY 1)
         SELECT source AS chat_id,
           CASE WHEN source = 'src1' THEN 'src1-renamed'
                ELSE source END AS title,
           CAST(n AS BIGINT) AS n_messages,
           CAST(mx * 10 + 5 AS BIGINT) AS last_seq
         FROM src WHERE source NOT LIKE '%0'
         ORDER BY last_seq DESC, chat_id""",
    // surviving events after the prune, recomputed from `documents`:
    // live chats (sources not ending in '0') keep their create + their
    // messages + the src1 rename; dead epochs AND the delete markers
    // are physically gone, so 'delete' contributes no row at all
    "q154_chat_prune_retention" ->
      """SELECT op, cnt FROM (
           SELECT 'create' AS op, count(DISTINCT source) AS cnt
           FROM documents WHERE source NOT LIKE '%0'
           UNION ALL
           SELECT 'message', count(*)
           FROM documents WHERE source NOT LIKE '%0'
           UNION ALL
           SELECT 'rename', CAST(1 AS BIGINT)
         ) t ORDER BY op"""
  )
}
