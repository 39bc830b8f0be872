package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of registered queries: each name maps to the function that
  * plans (and, for some entries, runs) it, and most names also map to a
  * DuckDB oracle over the same parquet tables, written from [[OracleSql]].
  * The engine packages hold only the operators these entries call.
  */
trait Family {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

object Registry {

  /** Every family, in the order `graft.SparkEntry` aggregates them. */
  val families: Seq[Family] = Seq(Tpch, TextStats, Curate, NearDup, Vectors,
    GraphFamilies, Er, EventLog, DocFeed, SinkFold, Topics, Terms, Tagged,
    QueryLog, Chat, Sinks, Media)
}

/** The checked-in fixtures that the tagged, tagged-ER and log queries
  * read instead of `sfDir`, rooted at the JVM working directory: sbt's
  * forked run and test, `graft.Verify` and each copy `tools/ab.sh` builds
  * all start there at the checkout root, so every checkout reads its own
  * fixtures. Only paths are built here, nothing is read, so a process that
  * starts elsewhere (the perfbench harness) can still load the registry.
  */
object Fixtures {
  private val root = s"${System.getProperty("user.dir")}/src/test/resources"
  val TaggedGlob = s"$root/tagged/*/*/*.txt"

  /** A second, ER-focused tagged fixture whose keywords carry spelling
    * variants (a parenthetical gloss) that the term-encoder stub maps to
    * identical embeddings — the merge case the keyword resolution exists
    * for.
    */
  val TaggedErGlob = s"$root/tagged_er/*/*/*.txt"
  val LogGlob = s"$root/logs/*.txt"
}
