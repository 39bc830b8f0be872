package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.BucketedStore
import graft.streaming._
import graft.streaming.ExactlyOnceSink._
import OracleSql._

/** The exactly-once landing path of [[graft.streaming.ExactlyOnceSink]]
  * under the hash gate, alone and spliced into the serving tables. */
object SinkFold extends Family {

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
      val dir = Sinks.tmp(s, "q145_zone")
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
      val dir = Sinks.tmp(s, "q147_zone")
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

  private val republished = s"""WITH $bibGraph
         SELECT title, year FROM docs WHERE doc_id % 11 = 4
         ORDER BY title"""

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
    "q147_stream_to_serve" -> republished,
    // same truth through the MOR sidecar landing: the layout must be
    // invisible in the served answer
    "q168_stream_mor_splice" -> republished
  )
}
