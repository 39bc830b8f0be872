package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** QA-layer text utilities (SURVEY.md §2.2 P12, §2.9 L4, §2.1 S10):
  * search-term harvesting from a generated query string, row rendering
  * for an LLM answer stage, and the failed-statement replay source.
  */
object QueryText {

  /** P12 `extract_search_terms_from_cypher`
    * (`neo4j_query_executor.py:157-193`): quoted literals after
    * `name:`/`title` operators, length > 1, ordered dedup. Driver-side —
    * it parses one query string, not data.
    */
  def extractSearchTerms(query: String): Seq[String] = {
    val pattern = ("""(?is)(?:name|title)\s*[:=~]?=?(?:\s*CONTAINS)?\s*["'](.*?)["']""").r
    val terms = pattern.findAllMatchIn(query).map(_.group(1).trim)
      .filter(t => t.nonEmpty && t.length > 1)
    terms.foldLeft(Vector.empty[String])((acc, t) =>
      if (acc.contains(t)) acc else acc :+ t)
  }

  /** L4 result rendering (`neo4j_query_executor.py:45-121`): each row as
    * a JSON object string — the engine-side `map(row -> string)`; prompt
    * assembly stays out of engine scope.
    */
  def renderRows(df: DataFrame): Dataset[String] = df.toJSON

  /** S10 error-log replay source (`Deprecated/re-uploader.py:6-24`):
    * harvest failed statements (`执行查询时出错: <stmt>;`) from log files,
    * dedup preserving first occurrence in (file, position) order.
    */
  def replayStatements(s: SparkSession, logGlob: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val stmts = graft.Tables.wholeTextFiles(s, logGlob)
      .select(input_file_name().as("src_file"),
        posexplode(expr(
          """regexp_extract_all(value, '执行查询时出错:\\s*(.+?;)', 1)"""))
          .as(Seq("pos", "statement")))
    val firstSeen = Window.partitionBy($"statement").orderBy($"src_file", $"pos")
    val order = Window.orderBy($"src_file", $"pos")
    stmts.withColumn("rn", row_number().over(firstSeen))
      .filter($"rn" === 1)
      .withColumn("ord", row_number().over(order).cast("long"))
      .select($"ord", $"statement")
  }

  val LogGlob = "/root/repo/src/test/resources/logs/*.txt"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S10: failed-statement harvest with first-seen ordered dedup, over
    // the checked-in log fixture (sfDir-independent, like q90/q91).
    "q92_error_replay" -> ((s, _) => replayStatements(s, LogGlob).orderBy("ord"))
  )

  def oracles: Map[String, String] = Map(
    "q92_error_replay" ->
      s"""WITH f AS (
           SELECT filename,
             regexp_extract_all(content, '执行查询时出错:\\s*(.+?;)', 1) AS stmts
           FROM read_text('$LogGlob')),
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
