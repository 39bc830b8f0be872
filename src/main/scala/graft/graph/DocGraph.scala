package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.enrich.Taxonomy

/** The frame pair every Q.txt template family runs over (SURVEY.md §2.3)
  * — the engine-facing parameterization of the 17-family library, so the
  * SAME template code serves both the synthetic fixture-derived graph and
  * the REAL tagged-text ingest (`cleaner.py:198` → `csv_extractor.py:
  * 153-241` → `Q.txt:1-64` end-to-end).
  *
  * Contract:
  *  - `docs`: one row per unique document; at least `title` (unique),
  *    `year` (long, nullable), `label`, `journal`, `abstract`, `addr`.
  *    Extra columns are allowed and ignored by the templates.
  *  - `edges`: (src, dst, rel_type) — AUTHORED / TERTIARY_AUTHORED
  *    (author→title), HAS_KEYWORD / PUBLISHED_BY / HAS_TOPIC /
  *    AUTHOR_ADDRESS (title→entity), per-type deduplicated (A6).
  *  - `kwMapping`: (original, representative) alias mapping (J1) driving
  *    the family-6/10 alias expansion (prompt rule 1).
  *
  * The derived views below are narrow per-type filters of the edge union
  * — constant folding prunes the non-matching union branches, so a
  * single-relation query reads only its own branch. At 100 TB the edge
  * frame would be bucketed by `src` (see BucketedStore) so the multi-hop
  * self-joins are co-located; the views preserve that partitioning.
  */
final case class DocGraph(docs: DataFrame, edges: DataFrame,
                          kwMapping: DataFrame) {

  /** (author, title) pairs for AUTHORED. */
  def authored: DataFrame =
    edges.filter(col("rel_type") === "AUTHORED")
      .select(col("src").as("author"), col("dst").as("title"))

  /** (author, title, rel) for both author relations (family 11 checks). */
  def authoredAll: DataFrame =
    edges.filter(col("rel_type").isin("AUTHORED", "TERTIARY_AUTHORED"))
      .select(col("src").as("author"), col("dst").as("title"),
        col("rel_type").as("rel"))

  /** (title, kw) pairs for HAS_KEYWORD. */
  def hasKeyword: DataFrame =
    edges.filter(col("rel_type") === "HAS_KEYWORD")
      .select(col("src").as("title"), col("dst").as("kw"))

  /** (title, topic) pairs for HAS_TOPIC. */
  def hasTopic: DataFrame =
    edges.filter(col("rel_type") === "HAS_TOPIC")
      .select(col("src").as("title"), col("dst").as("topic"))

  /** (title, org) pairs for PUBLISHED_BY. */
  def published: DataFrame =
    edges.filter(col("rel_type") === "PUBLISHED_BY")
      .select(col("src").as("title"), col("dst").as("org"))

  /** J5 alias expansion of a seed keyword: the seed plus its ALIAS_OF
    * target (`neo4j_query_executor.py:269-278`).
    */
  def aliasExpand(seed: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    kwMapping.filter(col("original") === seed)
      .select(col("representative").as("kw"))
      .union(Seq(seed).toDF("kw"))
      .distinct()
  }
}

object DocGraph {

  private val buildLock = new Object

  /** Binding 1: the deterministic fixture-derived graph (every q6x/q7x/q8x
    * oracle row rides this).
    */
  def synthetic(s: SparkSession, d: String): DocGraph = {
    val topicEdges = BibGraph.hasTopic(s, d)
      .select(col("title").as("src"), col("topic").as("dst"),
        lit("HAS_TOPIC").as("rel_type"))
    DocGraph(
      docs = BibGraph.docs(s, d),
      edges = BibGraph.edges(s, d) unionAll topicEdges,
      kwMapping = BibGraph.keywordMapping(s, d))
  }

  /** Binding 2: the REAL ingest path — a [[graft.ingest.TaggedText.ingest]]
    * frame (tagged export → parse → format → first-wins dedup) becomes a
    * queryable graph: `NODE_LINK_CONFIG` edges over the ingest schema,
    * alias mapping derived from the extracted keywords themselves, and a
    * HAS_TOPIC stub classifier (md5-bucket topic id + broadcast taxonomy
    * join — the deterministic stand-in for `TopicClassfication.py`'s LLM,
    * SURVEY §7.5 risk 5).
    */
  def ofIngested(ingested: DataFrame): DocGraph = {
    val s = ingested.sparkSession
    import s.implicits._
    val docsView = ingested.select(
      $"title",
      $"year".cast("long").as("year"),
      $"label", $"journal", $"abstract",
      array_join($"author_address", "; ").as("addr"))
    // deterministic topic id from the title's md5 prefix — 1..22, always
    // valid, identical arithmetic on the DuckDB oracle side
    val topicId =
      (conv(substring(md5($"title"), 1, 6), 16, 10).cast("long") % 22 + 1)
        .cast("int")
    val topicEdges = ingested
      .join(broadcast(Taxonomy.df(s).select($"id", $"topic_name")),
        $"id" === topicId)
      .select($"title".as("src"),
        trim(regexp_replace($"topic_name", "\\s*\\(.*?\\)", "")).as("dst"),
        lit("HAS_TOPIC").as("rel_type"))
    DocGraph(
      docs = docsView,
      edges = BibGraph.taggedEdges(ingested) unionAll topicEdges,
      kwMapping = BibGraph.keywordMappingOf(
        ingested.select(explode($"keywords").as("original"))))
  }

  /** Every relation type with the side its 2-hop self-joins key on: the
    * author relations join documents via `dst` (author→title), the
    * title→entity relations via `src` (title→kw/topic/org/addr).
    */
  private val RelJoinKeys: Seq[(String, String)] = Seq(
    "AUTHORED" -> "dst", "TERTIARY_AUTHORED" -> "dst",
    "HAS_KEYWORD" -> "src", "HAS_TOPIC" -> "src",
    "PUBLISHED_BY" -> "src", "AUTHOR_ADDRESS" -> "src")

  /** Binding 3 (opt-in): the WRITE-TIME bucketed layout of any DocGraph —
    * PERF.md's "bucket the edge frames at write time and the 2/3-hop
    * self-joins co-locate", made executable. Each relation becomes its own
    * narrow (src, dst) catalog table bucketed+sorted on the key its
    * 2-hop self-joins use ([[RelJoinKeys]]); docs are bucketed on `title`.
    * Reading back re-attaches `rel_type` as a LITERAL, so a per-relation
    * view's filter constant-folds every other union branch away and the
    * remaining single bucketed scan's HashPartitioning survives the
    * (alias-aware) projection into the join — the 2-hop self-join plans
    * with ZERO shuffle exchange under the join (asserted in
    * `BucketedDocGraphSpec`). The alias mapping is the eighth table,
    * bucketed+sorted on `original`: a family-6/10 seed lookup prunes to
    * one bucket file instead of rebuilding the mapping from the raw
    * documents, so every family answer reads only the binding's tables.
    * The rel_type guard is proved on the plan (no job) wherever every
    * edge branch carries a literal rel_type.
    *
    * At 100 TB this is the difference between every co-author /
    * co-occurrence / collaborator query paying a full edge shuffle and
    * paying none: the shuffle happens once, at ingest time, and every
    * subsequent query in the 17-family library reads co-located buckets.
    */
  def bucketed(g: DocGraph, prefix: String = "graft_g",
               buckets: Int = 16): DocGraph = {
    val s = g.docs.sparkSession
    requireKnownRelTypes(g.edges)
    // The eight table writes are independent of each other — submit them
    // concurrently: sequentially each small write left the executors
    // ~idle between tiny stages, and the ingest wall time was the SUM of
    // eight mostly-single-task jobs instead of the longest one.
    val writes = RelJoinKeys.map { case (rel, key) =>
      (g.edges.filter(col("rel_type") === rel).select("src", "dst"),
        rel.toLowerCase, key)
    } ++ Seq((g.docs, "docs", "title"), (g.kwMapping, "kw_alias", "original"))
    BucketedStore.concurrently(writes.map { case (df, t, key) =>
      () => BucketedStore.writeBucketed(df, s"${prefix}_$t", key, buckets)
    }, threads = 4)
    readBucketedBinding(s, prefix)
  }

  /** Every edge must land in some bucketed table: an edge type missing
    * from [[RelJoinKeys]] would silently vanish from the bucketed binding,
    * so fail loudly instead (same contract as epsPairsOf's size guard).
    * The proof is on the plan first: when every union branch carries a
    * literal rel_type (the synthetic, ingested and bucketed bindings),
    * constant folding and PruneFilters reduce the unknown-type filter to
    * an empty LocalRelation and no job runs. Only a plan that cannot be
    * proved empty pays the data probe.
    */
  private[graph] def requireKnownRelTypes(edges: DataFrame): Unit = {
    val unknownRows =
      edges.filter(!col("rel_type").isin(RelJoinKeys.map(_._1): _*))
    val provedEmpty = unknownRows.queryExecution.optimizedPlan match {
      case l: LocalRelation => l.data.isEmpty
      case _ => false
    }
    if (!provedEmpty) {
      val unknown = unknownRows.select("rel_type").distinct()
        .collect().map(_.getString(0))
      require(unknown.isEmpty,
        s"DocGraph.bucketed: edge rel_type(s) ${unknown.mkString(", ")} have " +
          s"no bucket key in RelJoinKeys — add them or they would be " +
          s"dropped from the bucketed binding")
    }
  }

  /** Reassemble a [[bucketed]] binding from its eight catalog tables
    * WITHOUT writing anything — the serve-side read path on its own. The
    * alias mapping is read from `${prefix}_kw_alias` like every other
    * frame, so the binding holds no JVM-side state.
    */
  def readBucketedBinding(s: SparkSession, prefix: String): DocGraph = {
    val edges = RelJoinKeys.map { case (rel, _) =>
      BucketedStore.table(s, s"${prefix}_${rel.toLowerCase}")
        .select(col("src"), col("dst"), lit(rel).as("rel_type"))
    }.reduce(_ unionAll _)
    DocGraph(BucketedStore.table(s, s"${prefix}_docs"), edges,
      BucketedStore.table(s, s"${prefix}_kw_alias"))
  }

  /** Property naming the source dir a [[bucketedServed]] binding's
    * tables were built from. */
  private val SourceKey = "graft.source"

  private def bindingTables(prefix: String): Seq[String] =
    (RelJoinKeys.map(_._1.toLowerCase) ++ Seq("docs", "kw_alias"))
      .map(t => s"${prefix}_$t")

  /** Build-once/serve-many form of [[bucketed]] over the synthetic
    * binding: the first call per prefix and source pays the ingest
    * writes; every later call reads the existing bucketed tables and
    * plans the serve path alone. This is the honest serving-cost
    * attribution the all-in-one form (q129) cannot give: there, every
    * benchmark run re-buys the ingest shuffle that production pays once
    * per corpus build.
    *
    * The tables record their source as a [[SourceKey]] property: a
    * rebuild clears it on every table before its first write and sets
    * it only after all eight writes have settled, so a build that
    * throws part-way, a table dropped under the binding or a request
    * for another source all find an unmarked table and rebuild instead
    * of serving mixed or stale tables. The lock serializes builds, so a
    * concurrent caller waits for the tables rather than racing them.
    */
  def bucketedServed(s: SparkSession, d: String, prefix: String,
                     buckets: Int = 16): DocGraph = {
    val tables = bindingTables(prefix)
    buildLock.synchronized {
      if (!tables.forall(BucketedStore.property(s, _, SourceKey).contains(d))) {
        tables.filter(s.catalog.tableExists)
          .foreach(BucketedStore.setProperty(s, _, SourceKey, None))
        bucketed(synthetic(s, d), prefix, buckets)
        tables.foreach(BucketedStore.setProperty(s, _, SourceKey, Some(d)))
      }
    }
    readBucketedBinding(s, prefix)
  }
}
