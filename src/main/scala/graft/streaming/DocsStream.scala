package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextHashes

/** Streaming near-duplicate detection over a DOCUMENT stream — the
  * streaming twin of the batch q37/q38 shapes: as documents arrive,
  * each is checked against the near-dup state accumulated so far and
  * either admitted (its signature joins the state) or flagged as a
  * duplicate of an earlier doc. This is the ingest-time gate a crawl
  * pipeline runs so duplicates never reach the corpus at all.
  *
  * Design: 16-bit SimHash (the q35 native expression), banded into two
  * 8-bit halves; state lives per (band, bits) BUCKET as a capped list
  * of (doc_id, full signature). A new doc probes its two buckets,
  * emits a hit per held signature within hamming ≤ 3, and joins each
  * bucket whose state is under the cap. Within a micro-batch docs are
  * processed in doc_id order, so an in-order source is deterministic
  * and batch mode (empty state, one iterator per bucket) is exactly
  * expressible in SQL — the q137 oracle below.
  *
  * Cap semantics vs batch q37: q37 drops OVERSIZED buckets whole (it
  * sees the full corpus before deciding); a stream cannot retro-drop,
  * so the streaming rule is "first `MaxBucket` docs hold the bucket,
  * later docs still probe but no longer join" — same bounded fan-out
  * (≤ cap hits per band per doc), different tail behavior, both
  * deterministic.
  *
  * Scale: state is sharded by (band, bits) — 2·n_buckets keys, each ≤
  * `MaxBucket` signatures of 8+16 bytes; the shuffle key is the bucket,
  * so hot buckets cap out instead of ballooning executor state. At
  * 100 TB you'd widen the simhash and add a state TTL (watermark) for
  * sliding-window dedup; the operator shape is unchanged. Note the
  * 16-bit width (inherited from q35/q37 for oracle parity) is
  * deliberately narrow: at sf0.1's 5k-doc density hamming ≤ 3 of 16
  * bits matches most same-distribution docs (q137 keeps 53 of 5000) —
  * a width artifact the production 64-bit simhash does not have, not a
  * property of the operator.
  */
object DocsStream {

  case class BandIn(doc_id: Long, band: Int, bits: String, sh: String)
  case class DupHit(doc_id: Long, dup_of: Long, hamming: Int)
  case class BucketState(sigs: List[(Long, String)])

  private def hamming(a: String, b: String): Int = {
    var i = 0; var n = 0
    while (i < a.length) { if (a.charAt(i) != b.charAt(i)) n += 1; i += 1 }
    n
  }

  /** (doc_id, text) frame → banded simhash rows, streaming or batch. */
  private[streaming] def banded(docs: DataFrame): Dataset[BandIn] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", TextHashes.simhash16(split($"text", " ")).as("sh"))
      .select($"doc_id", $"sh",
        posexplode(array(substring($"sh", 1, 8), substring($"sh", 9, 8)))
          .as(Seq("band", "bits")))
      .select($"doc_id", $"band".cast("int").as("band"), $"bits", $"sh")
      .as[BandIn]
  }

  /** The stateful core: one group per (band, bits) bucket. Emits one
    * `DupHit` per (probing doc, held signature) pair within hamming ≤ 3
    * — a doc duplicated in both bands emits from both; consumers
    * distinct on (doc_id, dup_of).
    */
  def nearDedupStream(docs: DataFrame): Dataset[DupHit] = {
    val s = docs.sparkSession
    import s.implicits._
    banded(docs)
      .groupByKey(e => (e.band, e.bits))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[BandIn], state: GroupState[BucketState]) =>
          val out = Seq.newBuilder[DupHit]
          var held = state.getOption.map(_.sigs).getOrElse(Nil)
          // reverse-accumulated; order only matters for determinism of
          // WHO holds the bucket, which doc_id sorting fixes
          it.toSeq.sortBy(_.doc_id).foreach { e =>
            held.foreach { case (id, sig) =>
              val h = hamming(sig, e.sh)
              if (h <= 3) out += DupHit(e.doc_id, id, h)
            }
            if (held.size < Dedup.MaxBucket) held = (e.doc_id, e.sh) :: held
          }
          state.update(BucketState(held))
          out.result().iterator
      }
  }

  case class BandInT(doc_id: Long, band: Int, bits: String, sh: String,
                     ts: java.sql.Timestamp)
  case class BucketStateT(sigs: List[(Long, String, Long)]) // (id, sig, ts_ms)

  /** Sliding-window variant: near-dedup against the TRAILING `ttlMs`
    * of the stream only. Held signatures carry their event time and are
    * expired two ways: entries behind the current watermark are pruned
    * on every bucket invocation (handles buckets that keep receiving
    * data — `hasTimedOut` never fires for those), and fully-idle
    * buckets are removed via `EventTimeTimeout` at last-activity + ttl
    * (so dormant buckets don't hold state forever). This is the bounded
    * form the module scaladoc promises for 100 TB: total state ≤
    * buckets-active-in-the-window × cap, regardless of stream age. A
    * doc whose duplicate arrives after the window is NOT flagged — it
    * re-enters as the fresh holder (the sliding-window dedup contract).
    */
  def nearDedupStreamTtl(docs: DataFrame, ttlMs: Long): Dataset[DupHit] = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withWatermark("ts", s"$ttlMs milliseconds")
      .select($"doc_id", TextHashes.simhash16(split($"text", " ")).as("sh"), $"ts")
      .select($"doc_id", $"sh", $"ts",
        posexplode(array(substring($"sh", 1, 8), substring($"sh", 9, 8)))
          .as(Seq("band", "bits")))
      .select($"doc_id", $"band".cast("int").as("band"), $"bits", $"sh", $"ts")
      .as[BandInT]
      .groupByKey(e => (e.band, e.bits))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), it: Iterator[BandInT], state: GroupState[BucketStateT]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wmMs = state.getCurrentWatermarkMs()
            val out = Seq.newBuilder[DupHit]
            var held = state.getOption.map(_.sigs).getOrElse(Nil)
              .filter(_._3 >= wmMs)
            it.toSeq.sortBy(_.doc_id).foreach { e =>
              held.foreach { case (id, sig, _) =>
                val h = hamming(sig, e.sh)
                if (h <= 3) out += DupHit(e.doc_id, id, h)
              }
              if (held.size < Dedup.MaxBucket)
                held = (e.doc_id, e.sh, e.ts.getTime) :: held
            }
            if (held.isEmpty) state.remove()
            else {
              state.update(BucketStateT(held))
              state.setTimeoutTimestamp(held.map(_._3).max + ttlMs)
            }
            out.result().iterator
          }
      }
  }

  /** Batch-mode verdict frame over `documents`: every doc with its
    * distinct-earlier-dup count and keep flag — the materialized form
    * of running the stream over the corpus in doc_id order.
    */
  def nearDedupVerdicts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hits = nearDedupStream(Tables.documents(s, d).select($"doc_id", $"text"))
      .select($"doc_id", $"dup_of").distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dups"))
    Tables.documents(s, d).select($"doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_dups", lit(0L)).as("n_dups"),
        when($"n_dups".isNull, 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }
}
