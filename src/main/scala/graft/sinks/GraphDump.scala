package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{BibGraph, BucketedStore}
import graft.resolve.EntityResolution

/** The full-graph CSV dump orchestration — `csv_extractor.__main__`
  * (`csv_extractor.py:299-313`): ONE run over a cleaned ingest writes
  * every node CSV (documents + one per linked label), every
  * document-linked relationship CSV (one per rel type in the edge
  * config), and the three ALIAS_OF files (Keyword / Organization /
  * Author_Address), deriving the three alias mappings at the reference
  * thresholds (`Hype.py:73-82`: keywords and addresses θ=0.95, orgs
  * θ=0.96).
  *
  * File naming mirrors the reference: `documents`, `<label>_nodes`,
  * `<rel_type>_rels`, `<label>_alias_of_rels` (each a Spark CSV
  * directory). Alias files with no non-identity entries are skipped, as
  * the reference skips empty files. Returns the manifest of written
  * entries for callers/tests — in the fixed reference order.
  *
  * Design: the cleaned ingest is persisted, the three alias mappings are
  * derived concurrently (each collects its term universe once and, at
  * term-universe sizes, resolves it on the driver —
  * [[EntityResolution.aliasMapping]]), and then every entry goes to disk
  * in ONE partitioned text write ([[Neo4jCsv.write]]) under
  * `<outDir>/_graft_dump_tmp`, whose `entry=<name>` directories the
  * driver moves into place. Node and relationship lines come straight
  * from the exploded ingest: the write's distinct over lines is their
  * only dedup. Scale: one writer task per entry, as the reference's
  * one-file-per-label layout requires; the dedup keeps shuffle
  * parallelism. PUBLISHED_BY uses the documented first-non-empty
  * Publisher/Place-Published key (`Hype.py:38-44`), consistent with the
  * engine's taggedEdges everywhere else.
  */
object GraphDump {

  /** `literalFiles = true` reproduces the reference's exact on-disk
    * layout: each entry is a LITERAL `<name>.csv` file (`documents.csv`,
    * `keyword_nodes.csv`, ... as `csv_extractor.py:102,134,230,284` open
    * them), its single part file moved into place by one driver-side
    * rename — so `neo4j-admin database import` runs against the manifest
    * verbatim, no globbing. Default keeps Spark part-file directories.
    */
  def dumpGraph(ingested0: DataFrame, outDir: String,
                dynamicExtra: Boolean = false,
                kwThreshold: (Int, Int) = (19, 20),
                orgThreshold: (Int, Int) = (24, 25),
                addrThreshold: (Int, Int) = (19, 20),
                literalFiles: Boolean = false): Seq[String] = {
    // the cleaned ingest feeds the three mappings and every entry: persist
    // and fill it once, so the concurrent mappings do not each submit a
    // job to build the same cache
    val ingested = ingested0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      ingested.foreachPartition((_: Iterator[Row]) => ())

      // the three ALIAS_OF mappings (csv_extractor.py:246-313), each an
      // independent ε-join → CC → min-term lifecycle
      val aliases = Seq(
        ("Keyword", Seq("keywords"), kwThreshold),
        ("Organization", Seq("publisher", "place_published"), orgThreshold),
        ("Author_Address", Seq("author_address"), addrThreshold))
      val mappings = BucketedStore.concurrently(
        aliases.map { case (_, cols, (num, den)) =>
          () => EntityResolution.ingestedTermMapping(ingested, cols, num, den)
        })

      // 1. document nodes (csv_extractor.py:33-60,101-125)
      val docs = Seq("documents" -> Neo4jCsv.entry("documents",
        Neo4jCsv.documentNodes(ingested, dynamicExtra)))

      // 2. linked-entity nodes, one CSV per label; a label fed by several
      //    rel types (Author via AUTHORED + TERTIARY_AUTHORED) unions them
      //    (csv_extractor.py:64-97,128-148)
      val edges = BibGraph.taggedEdgeRows(ingested)
      val nodes = BibGraph.TaggedEdgeConfig.groupBy(_.nodeLabel).toSeq
        .sortBy(_._1).map { case (label, specs) =>
          val ids = specs.map { spec =>
            val side = if (spec.fromNew) "src" else "dst"
            edges.filter(col("rel_type") === spec.relType)
              .select(col(side).as("id"))
          }.reduce(_ unionAll _)
          val name = s"${label.toLowerCase}_nodes"
          name -> Neo4jCsv.entry(name, Neo4jCsv.entityNodes(ids, label))
        }

      // 3. document-linked relationship CSVs, one per rel type
      //    (csv_extractor.py:153-241)
      val rels = BibGraph.TaggedEdgeConfig.map { spec =>
        val (startLabel, endLabel) =
          if (spec.fromNew) (spec.nodeLabel, "Document")
          else ("Document", spec.nodeLabel)
        val name = s"${spec.relType.toLowerCase}_rels"
        name -> Neo4jCsv.entry(name,
          Neo4jCsv.rels(edges, spec.relType, startLabel, endLabel))
      }

      // 4. the ALIAS_OF files, skipped when the mapping has no
      //    non-identity entry like the reference's empty files
      val aliasOf = aliases.zip(mappings).map { case ((label, _, _), m) =>
        val name = s"${label.toLowerCase}_alias_of_rels"
        name -> Neo4jCsv.entry(name, Neo4jCsv.rels(
          m.filter(col("original") =!= col("representative"))
            .select(col("original").as("src"),
              col("representative").as("dst"),
              lit("ALIAS_OF").as("rel_type")),
          "ALIAS_OF", label, label), skipEmpty = true)
      }

      val entries = docs ++ nodes ++ rels ++ aliasOf
      def file(name: String) = if (literalFiles) name + ".csv" else name
      val written = Neo4jCsv.write(entries.map(_._2).reduce(_ unionAll _),
        s"$outDir/_graft_dump_tmp", literalFiles)(n => s"$outDir/${file(n)}")
      entries.map(_._1).filter(written).map(file)
    } finally ingested.unpersist(blocking = false)
  }
}
