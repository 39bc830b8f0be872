package graft.registry

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.TaggedText
import graft.sinks._
import OracleSql._

/** Oracle-gated write→read-back round trips for the Neo4j CSV / JSON
  * sinks (SURVEY.md §2.1 S5-S7): each query WRITES the sink format to a
  * scratch dir, READS it back, and returns the content — the DuckDB
  * oracle derives the same rows from the original inputs, so a pass proves the
  * full serialization contract (headers, QUOTE_MINIMAL escaping with
  * doubled quotes, CJK passthrough, empty-for-null) survives the disk
  * round trip, not merely that the writer ran.
  *
  * Scratch dirs are FIXED per query under java.io.tmpdir and wiped
  * before each write — true overwrite semantics, so repeated
  * Bench/Verify runs reuse the same paths instead of leaking a new temp
  * dir per invocation. The read-back frame is small (node/edge frames of
  * the tagged fixture or the kmap dimension).
  */
object Sinks extends Family {

  private def rmTree(f: java.io.File): Unit = {
    if (Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }

  // one JVM shutdown hook per application dir: per-run namespacing means
  // nothing ELSE ever deletes this run's tree, so without the hook every
  // Bench/Verify/test invocation would permanently leak a graft_<appId>
  // dump under tmpdir until the disk fills
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def appRoot(s: SparkSession): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${s.sparkContext.applicationId}")
    if (hooked.add(root.toString))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => rmTree(root.toFile)))
    root
  }

  private[graft] def tmp(s: SparkSession, prefix: String): String = {
    // namespaced by the Spark application id: stable within a run (true
    // overwrite semantics across repeated queries), but concurrent
    // Bench/Verify/test processes — or other users on a shared tmpdir —
    // can no longer clobber each other's round-trip data; the shutdown
    // hook above removes the whole per-run tree on JVM exit.
    val p = appRoot(s).resolve(s"scratch_$prefix")
    rmTree(p.toFile)
    p.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S5 document-node CSV round trip over the REAL ingest (CJK titles
    // with quotes/commas, absent properties → empty → NULL on read-back).
    "q96_node_csv_roundtrip" -> ((s, _) => {
      import s.implicits._
      val dir = tmp(s, "q96_nodes")
      Neo4jCsv.writeDocumentNodes(
        TaggedText.ingest(s, Fixtures.TaggedGlob), dir)
      s.read.option("header", "true").option("escape", "\"").csv(dir)
        .toDF("id", "label", "title", "year", "abstract", "journal",
          "volume", "issue", "pages", "doi", "url", "isbn_issn")
        .select($"id", $"label", $"year", $"journal", $"doi")
        .orderBy($"id")
    }),

    // S6 relationship CSV round trip: ingest-derived AUTHORED edges.
    "q97_rel_csv_roundtrip" -> ((s, _) => {
      import s.implicits._
      val dir = tmp(s, "q97_rels")
      Neo4jCsv.writeRels(
        graft.graph.BibGraph.taggedEdges(
          TaggedText.ingest(s, Fixtures.TaggedGlob)),
        "AUTHORED", "Author", "Document", dir)
      s.read.option("header", "true").option("escape", "\"").csv(dir)
        .toDF("author", "title", "rel_type")
        .orderBy($"author", $"title")
    }),

    // S7 JSON mapping sink round trip (`keyword_merger.py:235-247`):
    // write the keyword alias mapping, read it back through the declared
    // schema.
    "q98_mapping_json_roundtrip" -> ((s, d) => {
      import s.implicits._
      val dir = tmp(s, "q98_map") + "/mapping"
      JsonSinks.writeMapping(graft.graph.BibGraph.keywordMapping(s, d), dir)
      JsonSinks.readMapping(s, dir).orderBy($"original")
    }),

    // Full-graph dump (`csv_extractor.py:299-313`) + read-back: ONE
    // dumpGraph run over the ER-fixture ingest writes every node/rel/
    // alias CSV; the gate reads the Keyword ALIAS_OF file back — its
    // rows are the non-identity entries of the ingest-derived keyword
    // mapping (gloss variant → canonical spelling).
    // S5 dynamic-header passthrough: an unknown
    // `{Custom Tag}:` survives ingest → dumpDocumentNodes(dynamicExtra)
    // → CSV → read-back as a trailing column — the long-tail
    // dynamic-header semantics of `csv_extractor.py:127-140`, previously
    // SinksSpec-only, now under the hash gate.
    "q119_dynamic_extra_roundtrip" -> ((s, _) => {
      import s.implicits._
      val dir = tmp(s, "q119_extra")
      Neo4jCsv.writeDocumentNodes(
        TaggedText.ingest(s, Fixtures.TaggedGlob), dir,
        dynamicExtra = true)
      s.read.option("header", "true").option("escape", "\"").csv(dir)
        .select(col(":ID").as("id"), col("Custom Tag").as("custom_tag"))
        .orderBy($"id")
    }),

    "q99_dump_alias_readback" -> ((s, _) => {
      import s.implicits._
      val dir = tmp(s, "q99_dump")
      GraphDump.dumpGraph(
        TaggedText.ingest(s, Fixtures.TaggedErGlob), dir)
      s.read.option("header", "true").option("escape", "\"")
        .csv(dir + "/keyword_alias_of_rels")
        .toDF("src", "dst", "rel_type")
        .orderBy($"src")
    })
  )

  def oracles: Map[String, String] = Map(
    "q96_node_csv_roundtrip" ->
      s"""WITH $tagged
         SELECT title AS id, label,
           CAST(TRY_CAST(year_raw AS INTEGER) AS VARCHAR) AS year,
           journal, doi
         FROM dedup WHERE rn = 1 ORDER BY id""",
    "q97_rel_csv_roundtrip" ->
      s"""WITH $tagged
         SELECT DISTINCT author, title, 'AUTHORED' AS rel_type
         FROM (SELECT unnest(author) AS author, title
               FROM dedup WHERE rn = 1) t
         ORDER BY author, title""",
    "q98_mapping_json_roundtrip" ->
      s"""WITH $bibGraph
         SELECT original, representative FROM kmap ORDER BY original""",
    // the raw-tag extraction mirrors the ingest's last-occurrence-wins +
    // trim on the unknown field; docs without the tag read back NULL
    "q119_dynamic_extra_roundtrip" ->
      s"""WITH $tagged
         SELECT d.title AS id,
           trim(list_extract(regexp_extract_all(r.block,
             '(?m)^\\{Custom Tag\\}:[ \\t]*([^\\n]*)$$', 1), -1)) AS custom_tag
         FROM dedup d JOIN rec0 r
           ON d.filename = r.filename AND d.block_idx = r.block_idx
         WHERE d.rn = 1 ORDER BY id""",
    // the dump derives the keyword mapping at the reference threshold
    // θ=0.95 = 19/20 → numSq=361, denSq=400
    "q99_dump_alias_readback" ->
      s"""WITH RECURSIVE ${taggedEr(361, 400)}
         SELECT original AS src, representative AS dst,
                'ALIAS_OF' AS rel_type
         FROM tmap WHERE original <> representative
         ORDER BY src"""
  )
}
