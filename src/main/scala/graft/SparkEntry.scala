package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Aggregates the families of [[graft.registry.Registry]]: one package
  * owns every "name → plan + oracle" decision, and the engine packages
  * hold only the operators those entries call. Every SQL-expressible
  * operator has a matching DuckDB oracle entry; non-SQL-expressible ones
  * (GraphX connected components, streaming) are registered queries with a
  * rows-only check and get ScalaTest coverage instead.
  *
  * Execution-time note for plan-only tooling: a handful of registry
  * entries (LSH candidates, GraphX CC/BFS/PageRank consumers, the
  * coauthor-reach family) EXECUTE work at construction time — they
  * persist-then-`count()` an intermediate so cache ownership stays inside
  * the query function (the noop-sink Bench measures this honestly).
  * Calling `queries(name)(s, d)` is therefore "run", not "build a lazy
  * plan"; use `.explain` on the RETURNED frame, but don't assume
  * construction was free.
  */
object SparkEntry {

  /** The full oracle-gated registry: every SURVEY.md §2 operator has at
    * least one entry, and most have several (a direct gate plus the
    * composed queries that ride it — e.g. the ER serve matrix gates one
    * kernel per CRUD shape AND the multi-day lifecycles composed from
    * them), so the registry is larger than the operator inventory by
    * design: 150+ gates over the ~59-operator surface.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.Registry.families.iterator.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.Registry.families.iterator.map(_.oracles).reduce(_ ++ _)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q.txt family 10 (SURVEY §7.3): per-year document counts for an
    * alias-expanded keyword — exercises the whole spine: document frame →
    * HAS_KEYWORD + ALIAS_OF edges → alias-expanded semi-join → groupBy.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q68_keyword_per_year")(spark, "/root/testdata/sf0.001")
}
