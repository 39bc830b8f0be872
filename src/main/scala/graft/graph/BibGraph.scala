package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.enrich.Taxonomy

/** The knowledge-graph data model (SURVEY.md §1.3): document nodes, entity
  * nodes (Author / Keyword / Organization / Author_Address / Topic), typed
  * edges per the reference's `NODE_LINK_CONFIG` (`Hype.py:16-61`), an alias
  * mapping with ALIAS_OF edges (`csv_extractor.py:269-273`), derived
  * DETERMINISTICALLY from the driver's `documents` fixture so every graph
  * query has an exact DuckDB oracle over the same parquet.
  *
  * Derivation rules (mirrored 1:1 in
  * [[graft.registry.OracleSql.bibGraph]] for the oracles):
  *  - title `D<doc_id>`; ref_type cycles 6 reference types with a
  *    `Preprint` override every 31st doc (exercises the P9 label-map
  *    default `Other_Article`, `TopicTocsv.py:25`);
  *  - 1-3 authors per doc via modular arithmetic (97 distinct authors →
  *    real co-author structure for the 2-/3-hop families);
  *  - keywords = the doc's distinct text tokens of length ≥ 5, sorted —
  *    content-derived, shared across docs (co-occurrence structure);
  *  - organization / address / journal / year via small moduli;
  *  - alias mapping: keywords bucketed by first hex digit of md5, each
  *    bucket's lexicographic min is the representative (§2.8 A3 shape —
  *    min-rep; the *embedding-based* resolution lives in graft.resolve).
  *
  * Scale notes (100 TB): every frame is a narrow projection + explode of
  * the documents scan — no shuffle until a query aggregates/joins. Edge
  * frames are `distinct()` on (src, dst, rel) — one hash shuffle with
  * map-side partials (A6). Entity dims (kmap, taxonomy) are tiny and
  * broadcast at join sites. At real scale the edge frames would be
  * bucketed by src for co-located multi-hop self-joins.
  */
object BibGraph {

  /** P9 ref-type → label map with first-match semantics and the reference
    * default `Other_Article` (`TopicTocsv.py:14-25`).
    */
  val RefTypeToLabel: Seq[(String, String)] = Seq(
    "Journal Article" -> "Journal_Article",
    "Patent" -> "Patent",
    "Conference Proceedings" -> "Conference_Proceedings",
    "Thesis" -> "Thesis",
    "Newspaper Article" -> "Newspaper_Article",
    "Book" -> "Book")

  val DefaultLabel = "Other_Article"

  def labelFor(refType: Column): Column =
    RefTypeToLabel.foldRight(lit(DefaultLabel): Column) {
      case ((k, v), acc) => when(refType === k, lit(v)).otherwise(acc)
    }

  private val RefTypesByMod =
    Seq("Journal Article", "Patent", "Conference Proceedings", "Thesis",
      "Newspaper Article", "Book")

  /** Document frame: one row per document with node properties and the
    * entity-valued columns the edge builder explodes.
    */
  def docs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val refType = when($"doc_id" % 31 === 0, lit("Preprint"))
      .otherwise(element_at(
        array(RefTypesByMod.map(lit(_)): _*), ($"doc_id" % 6 + 1).cast("int")))
    Tables.documents(s, d).select(
      $"doc_id",
      concat(lit("D"), $"doc_id").as("title"),
      refType.as("ref_type"),
      (lit(2000) + $"doc_id" % 25).as("year"),
      $"text".as("abstract"),
      concat(lit("J"), $"doc_id" % 7).as("journal"),
      concat(lit("Org_"), $"doc_id" % 13).as("org"),
      concat(lit("Addr_"), ($"doc_id" * 5) % 29).as("addr"),
      array_sort(array_distinct(
        filter(split($"text", " "), t => length(t) >= 5))).as("kws"),
      transform(sequence(lit(0L), $"doc_id" % 3),
        j => concat(lit("Author_"), ($"doc_id" * (j + 3)) % 97)).as("authors"),
      when($"doc_id" % 4 === 0,
        array(concat(lit("Author_"), ($"doc_id" * 11) % 97)))
        .otherwise(array().cast("array<string>")).as("tertiary_authors")
    ).withColumn("label", labelFor($"ref_type"))
  }

  /** Edge derivation config — the Spark analog of `NODE_LINK_CONFIG`
    * (`Hype.py:16-61`): which doc column links to which node label, with
    * which relationship type and direction.
    */
  final case class EdgeSpec(colName: String, isArray: Boolean,
                            nodeLabel: String, relType: String, fromNew: Boolean)

  val EdgeConfig: Seq[EdgeSpec] = Seq(
    EdgeSpec("authors", isArray = true, "Author", "AUTHORED", fromNew = true),
    EdgeSpec("tertiary_authors", isArray = true, "Author", "TERTIARY_AUTHORED", fromNew = true),
    EdgeSpec("kws", isArray = true, "Keyword", "HAS_KEYWORD", fromNew = false),
    EdgeSpec("org", isArray = false, "Organization", "PUBLISHED_BY", fromNew = false),
    EdgeSpec("addr", isArray = false, "Author_Address", "AUTHOR_ADDRESS", fromNew = false))

  /** J2 config-driven edge frame: union of per-spec (src, dst, rel_type)
    * with direction applied and per-type dedup (A6,
    * `csv_extractor.py:153-241`). Rows with a missing/empty entity value
    * produce no edge (the reference skips absent record keys). Filtering
    * on `rel_type` constant-folds the non-matching union branches away,
    * so single-relation queries read only their own branch.
    */
  def edgesFor(docsDF: DataFrame, config: Seq[EdgeSpec]): DataFrame =
    config.map(specEdges(docsDF, _).distinct()).reduce(_ unionAll _)

  /** One spec's (src, dst, rel_type) rows, before the per-type dedup. */
  private def specEdges(docsDF: DataFrame, spec: EdgeSpec): DataFrame = {
    val entity = if (spec.isArray) explode(col(spec.colName)) else col(spec.colName)
    val withEnt = docsDF.select(col("title"), entity.as("entity"))
      .filter(col("entity").isNotNull && col("entity") =!= "")
    val (src, dst) =
      if (spec.fromNew) (col("entity"), col("title"))
      else (col("title"), col("entity"))
    withEnt.select(src.as("src"), dst.as("dst"), lit(spec.relType).as("rel_type"))
  }

  def edges(docsDF: DataFrame): DataFrame = edgesFor(docsDF, EdgeConfig)

  def edges(s: SparkSession, d: String): DataFrame = edges(docs(s, d))

  /** The SAME config-driven builder over [[graft.ingest.TaggedText.ingest]]
    * output — the end-to-end wiring of the reference pipeline: tagged
    * export → `cleaner.py` → `NODE_LINK_CONFIG` edges
    * (`csv_extractor.py:153-241`). PUBLISHED_BY's record key is the first
    * non-empty of Publisher / Place Published (`Hype.py:38-44`), derived
    * here as `publisher_key`.
    */
  val TaggedEdgeConfig: Seq[EdgeSpec] = Seq(
    EdgeSpec("author", isArray = true, "Author", "AUTHORED", fromNew = true),
    EdgeSpec("tertiary_author", isArray = true, "Author", "TERTIARY_AUTHORED", fromNew = true),
    EdgeSpec("keywords", isArray = true, "Keyword", "HAS_KEYWORD", fromNew = false),
    EdgeSpec("publisher_key", isArray = false, "Organization", "PUBLISHED_BY", fromNew = false),
    EdgeSpec("author_address", isArray = true, "Author_Address", "AUTHOR_ADDRESS", fromNew = false))

  def taggedEdges(ingested: DataFrame): DataFrame =
    edgesFor(withPublisherKey(ingested), TaggedEdgeConfig)

  /** [[taggedEdges]] without the per-type dedup, for a consumer whose
    * own output is deduplicated (the graph dump's one write). */
  def taggedEdgeRows(ingested: DataFrame): DataFrame =
    TaggedEdgeConfig.map(specEdges(withPublisherKey(ingested), _))
      .reduce(_ unionAll _)

  private def withPublisherKey(ingested: DataFrame): DataFrame =
    ingested.withColumn("publisher_key",
      coalesce(nullif(col("publisher"), lit("")),
        nullif(col("place_published"), lit(""))))

  /** (author, title) pairs for AUTHORED. */
  def authored(s: SparkSession, d: String): DataFrame =
    edges(s, d).filter(col("rel_type") === "AUTHORED")
      .select(col("src").as("author"), col("dst").as("title"))

  /** Alias mapping A3-shape over ANY frame with an `original` column:
    * original → representative = lexicographic min of the term's
    * md5-prefix bucket; identity for singletons (noise → self,
    * `keyword_merger.py:230-232`). The generalized form lets the tagged
    * ingest path derive its own mapping from REAL extracted keywords.
    */
  def keywordMappingOf(terms: DataFrame): DataFrame =
    terms.select(col("original")).distinct()
      .withColumn("representative",
        min(col("original"))
          .over(Window.partitionBy(substring(md5(col("original")), 1, 1))))

  def keywordMapping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    keywordMappingOf(docs(s, d).select(explode($"kws").as("original")))
  }

  /** ALIAS_OF edges: one per non-identity mapping entry
    * (`csv_extractor.py:269-273`).
    */
  def aliasEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    keywordMapping(s, d).filter($"original" =!= $"representative")
      .select($"original".as("src"), $"representative".as("dst"),
        lit("ALIAS_OF").as("rel_type"))
  }

  /** (title, label, topic) HAS_TOPIC frame: deterministic classifier stub
    * (topic_id = 1 + doc_id % 22) + broadcast taxonomy join + paren-gloss
    * strip (P10, `TopicTocsv.py:60`).
    */
  def hasTopic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .join(broadcast(Taxonomy.df(s).select($"id", $"topic_name")),
        $"id" === ($"doc_id" % 22 + 1).cast("int"))
      .select($"title", $"label",
        trim(regexp_replace($"topic_name", "\\s*\\(.*?\\)", "")).as("topic"))
  }

}
