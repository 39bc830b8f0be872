package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich._
import graft.enrich.TopicEnrichment._
import OracleSql._

/** Topic classification over [[graft.enrich.TopicEnrichment]]. */
object Topics extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // L3 validating join with error split (counts by status + topic).
    "q81_topic_classify" -> ((s, d) => {
      import s.implicits._
      classified(s, d)
        .select($"title", $"topic_id", $"status", $"topic")
        .orderBy($"title")
    }),

    // TopicTocsv.py:43-79: P11 incomplete-row filter + P9 label map with
    // Other_Article default + P10 paren strip → (paperTitle, paperLabel,
    // topicName) relationship rows.
    "q82_topic_rels" -> ((s, d) => {
      import s.implicits._
      classified(s, d)
        .filter($"status" === "ok" && $"title".isNotNull &&
          $"ref_type".isNotNull && $"topic".isNotNull && $"topic" =!= "")
        .select($"title".as("paperTitle"), $"label".as("paperLabel"),
          $"topic".as("topicName"))
        .orderBy($"paperTitle")
    })
  )

  def oracles: Map[String, String] = Map(
    "q81_topic_classify" ->
      s"""WITH $bibGraph,
         $topicCls
         SELECT title, topic_id, status, topic FROM j ORDER BY title""",
    "q82_topic_rels" ->
      s"""WITH $bibGraph,
         $topicCls
         SELECT title AS paperTitle, label AS paperLabel, topic AS topicName
         FROM j
         WHERE status = 'ok' AND title IS NOT NULL
           AND ref_type IS NOT NULL AND topic IS NOT NULL AND topic <> ''
         ORDER BY paperTitle"""
  )
}
