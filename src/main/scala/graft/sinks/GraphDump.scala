package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
  * entries for callers/tests — in the fixed reference order, regardless
  * of write completion order.
  *
  * Scale notes: the cleaned ingest and the edge frame are persisted and
  * FORCED once, then every writer — each a narrow projection + per-key
  * dedup, one shuffle — and the three independent alias-mapping
  * lifecycles are submitted CONCURRENTLY from a bounded driver pool.
  * Spark's scheduler multiplexes the jobs across executors; the dump's
  * wall time is the longest single lifecycle instead of the sum of ~16
  * sequential mostly-single-task jobs (which left a 32-slot cluster
  * ~97% idle between tiny stages). PUBLISHED_BY uses the documented
  * first-non-empty Publisher/Place-Published key (`Hype.py:38-44`),
  * consistent with the engine's taggedEdges everywhere else.
  */
object GraphDump {

  /** `literalFiles = true` reproduces the reference's exact on-disk
    * layout: each entry is a LITERAL `<name>.csv` file (`documents.csv`,
    * `keyword_nodes.csv`, ... as `csv_extractor.py:102,134,230,284` open
    * them), promoted from the single-part Spark write by one driver-side
    * rename — so `neo4j-admin database import` runs against the manifest
    * verbatim, no globbing. Default keeps Spark part-file directories
    * (the 100 TB layout).
    */
  def dumpGraph(ingested0: DataFrame, outDir: String,
                dynamicExtra: Boolean = false,
                kwThreshold: (Int, Int) = (19, 20),
                orgThreshold: (Int, Int) = (24, 25),
                addrThreshold: (Int, Int) = (19, 20),
                literalFiles: Boolean = false): Seq[String] = {
    import org.apache.spark.storage.StorageLevel
    // the cleaned ingest feeds every writer and all three mappings —
    // persist + force BOTH once, before any concurrent reader: blocked
    // per-block cache locks make concurrent first-computation safe but
    // serialized; a single up-front materialization is strictly cheaper
    val ingested = ingested0.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = BibGraph.taggedEdges(ingested)
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // forces ingested transitively

    try {
      def entry(base: String): String =
        if (literalFiles) base + ".csv" else base

      // 1. document nodes (csv_extractor.py:33-60,101-125)
      val docsTask = () => {
        val name = entry("documents")
        Neo4jCsv.writeDocumentNodes(ingested, s"$outDir/$name",
          dynamicExtra = dynamicExtra, asFile = literalFiles)
        Some(name)
      }

      // 2. linked-entity nodes, one CSV per label; a label fed by several
      //    rel types (Author via AUTHORED + TERTIARY_AUTHORED) unions them
      //    (csv_extractor.py:64-97,128-148)
      val byLabel = BibGraph.TaggedEdgeConfig.groupBy(_.nodeLabel).toSeq
        .sortBy(_._1)
      val labelTasks = byLabel.map { case (label, specs) =>
        () => {
          val ids = specs.map { spec =>
            val side = if (spec.fromNew) "src" else "dst"
            edges.filter(col("rel_type") === spec.relType)
              .select(col(side).as("id"))
          }.reduce(_ unionAll _)
          val name = entry(s"${label.toLowerCase}_nodes")
          Neo4jCsv.writeEntityNodes(ids, label, s"$outDir/$name",
            asFile = literalFiles)
          Some(name)
        }
      }

      // 3. document-linked relationship CSVs, one per rel type
      //    (csv_extractor.py:153-241)
      val relTasks = BibGraph.TaggedEdgeConfig.map { spec =>
        () => {
          val (startLabel, endLabel) =
            if (spec.fromNew) (spec.nodeLabel, "Document")
            else ("Document", spec.nodeLabel)
          val name = entry(s"${spec.relType.toLowerCase}_rels")
          Neo4jCsv.writeRels(edges, spec.relType, startLabel, endLabel,
            s"$outDir/$name", asFile = literalFiles)
          Some(name)
        }
      }

      // 4. the three ALIAS_OF files (csv_extractor.py:246-313) from the
      //    ingest-derived mappings at the reference thresholds; empty
      //    mappings are skipped like the reference's empty files. Each
      //    lifecycle (ε-join → CC → min-rep) is independent — they
      //    overlap each other's many small GraphX stages.
      val aliases = Seq(
        ("Keyword", Seq("keywords"), kwThreshold),
        ("Organization", Seq("publisher", "place_published"), orgThreshold),
        ("Author_Address", Seq("author_address"), addrThreshold))
      val aliasTasks = aliases.map { case (label, cols, (num, den)) =>
        () => {
          val rels = EntityResolution
            .ingestedTermMapping(ingested, cols, num, den)
            .filter(col("original") =!= col("representative"))
            .select(col("original").as("src"),
              col("representative").as("dst"),
              lit("ALIAS_OF").as("rel_type"))
            .localCheckpoint() // probe + write read the same materialization
          if (!rels.isEmpty) {
            val name = entry(s"${label.toLowerCase}_alias_of_rels")
            Neo4jCsv.writeRels(rels, "ALIAS_OF", label, label,
              s"$outDir/$name", asFile = literalFiles)
            Some(name)
          } else None
        }
      }

      // manifest order is the fixed reference order (tasks are listed,
      // not completion-raced); every writer settles before the finally
      // block unpersists the frames they read
      BucketedStore.concurrently[Option[String]](
        Seq(docsTask) ++ labelTasks ++ relTasks ++ aliasTasks, threads = 8)
        .flatten
    } finally {
      edges.unpersist(blocking = false)
      ingested.unpersist(blocking = false)
    }
  }
}
