package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming._
import graft.streaming.DocsStream._
import OracleSql._

/** The streaming near-dup verdicts of [[graft.streaming.DocsStream]],
  * run in batch mode under the hash gate. */
object DocFeed extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_stream_neardup_batch" -> ((s, d) => nearDedupVerdicts(s, d))
  )

  def oracles: Map[String, String] = Map(
    // Mirror of the batch-mode state rule: within a bucket, the first
    // MaxBucket docs (by doc_id) hold it; any later doc matches against
    // holders only. Pairs distinct-ed across bands.
    "q137_stream_neardup_batch" ->
      s"""WITH $simhashBands,
         r AS (SELECT doc_id, sh, b, bits,
                 row_number() OVER (PARTITION BY b, bits
                                    ORDER BY doc_id) AS rn
               FROM banded),
         hits AS (
           SELECT DISTINCT l.doc_id, h.doc_id AS dup_of
           FROM r l JOIN r h
             ON l.b = h.b AND l.bits = h.bits
             AND h.doc_id < l.doc_id AND h.rn <= $maxBucket
           WHERE ${hammingSql("l.sh", "h.sh")} <= 3),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups
                 FROM hits GROUP BY 1)
         SELECT d.doc_id,
                CAST(coalesce(a.n_dups, 0) AS BIGINT) AS n_dups,
                CAST(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id"""
  )
}
