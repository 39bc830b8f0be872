package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.query._
import graft.query.QueryText._

/** The failed-statement replay of [[graft.query.QueryText]] over the
  * log fixture. */
object QueryLog extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S10: failed-statement harvest with first-seen ordered dedup, over
    // the checked-in log fixture (sfDir-independent, like q90/q91).
    "q92_error_replay" -> ((s, _) => replayStatements(s, Fixtures.LogGlob).orderBy("ord"))
  )

  def oracles: Map[String, String] = Map(
    "q92_error_replay" ->
      s"""WITH f AS (
           SELECT filename,
             regexp_extract_all(content, '执行查询时出错:\\s*(.+?;)', 1) AS stmts
           FROM read_text('${Fixtures.LogGlob}')),
         e AS (SELECT filename, unnest(range(len(stmts))) AS pos, stmts FROM f),
         x AS (SELECT filename, pos,
                 stmts[CAST(pos + 1 AS INTEGER)] AS statement FROM e),
         d AS (SELECT *, row_number() OVER
                 (PARTITION BY statement ORDER BY filename, pos) AS rn FROM x)
         SELECT CAST(row_number() OVER (ORDER BY filename, pos) AS BIGINT) AS ord,
                statement
         FROM d WHERE rn = 1 ORDER BY ord"""
  )
}
