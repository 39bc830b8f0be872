package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich._
import graft.enrich.TermEncoding._

/** The batched term encoder of [[graft.enrich.TermEncoding]]. */
object Terms extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // keyword_merger.py:151-183: collect the distinct attribute values,
    // encode each — here the distinct document tokens (length >= 4, the
    // keyword-shaped ones), batch-encoded with the stub model. The gate
    // emits the vectors posexploded to (term, dim_idx, value) scalar rows:
    // the oracle harness sorts/hashes result frames and cannot order raw
    // array columns (the r7 postmortem in PERF.md), so vector-producing
    // queries must project to hashable scalars. The array form stays
    // covered by TermEncodingSpec and by q128's encoded ER lifecycle.
    "q127_encode_terms" -> ((s, d) => {
      import s.implicits._
      val terms = graft.Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("term"))
        .filter(length($"term") >= 4)
        .distinct()
      encodeTerms(terms, "term", StubTermEncoder)
        .select($"term", posexplode($"embedding").as(Seq("dim_idx", "value")))
        .select($"term", $"dim_idx".cast("long").as("dim_idx"), $"value")
        .orderBy($"term", $"dim_idx")
    })
  )

  def oracles: Map[String, String] = Map(
    "q127_encode_terms" ->
      """WITH t AS (
           SELECT DISTINCT unnest(string_split(text, ' ')) AS term
           FROM documents),
         f AS (SELECT term FROM t WHERE len(term) >= 4)
         SELECT term, i AS dim_idx,
           CAST(CAST((CAST(('0x' || substring(md5(term),
             CAST(i*4+1 AS INT), 4)) AS BIGINT) - 32768) AS DOUBLE)
             / 32768.0 AS FLOAT) AS value
         FROM f, range(8) AS r(i)
         ORDER BY term, dim_idx"""
  )
}
