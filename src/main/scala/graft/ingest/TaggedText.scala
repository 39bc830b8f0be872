package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest of EndNote-style tagged-text exports — the reference's
  * `parse_entries`/`format_data`/`data_cleaning`/`title_deduplication`
  * pipeline (`cleaner.py:7-122`; SURVEY.md §2.1 S1-S3, §2.2 P1-P3,
  * §2.4 A1) re-expressed Spark-first.
  *
  * Shape: one `wholetext` read per file → `flatMap` block splitter
  * (generator-style, SURVEY §2.10) → typed columns via codegen'd Column
  * expressions — the per-field cleaning never leaves Tungsten.
  *
  * Scale notes: parsing is embarrassingly parallel per file; provenance
  * (`src_file`, per-file block index) gives the stable ingest order the
  * reference gets from list position, without `monotonically_increasing_id`
  * (whose values depend on partitioning). First-wins title dedup is a
  * window over that stable key — one shuffle on `title`.
  */
object TaggedText {

  /** Fields split on ';' into arrays (`cleaner.py:55-57`). */
  val ListFields: Seq[String] =
    Seq("Author", "Keywords", "Tertiary Author", "Subsidiary Author")

  private val FieldLine = """\{([^}]+)\}:\s*(.*)""".r

  /** S1 `parse_entries` (`cleaner.py:7-26`): blank-line-separated blocks of
    * `{Field}: value` lines → one (field→value) map per block. Pure
    * function so it is unit-testable off-cluster; used inside flatMap.
    */
  def parseEntries(text: String): Seq[Map[String, String]] =
    text.split("""\n\s*\n""").toSeq
      .map { block =>
        block.linesIterator.foldLeft(Map.empty[String, String]) {
          case (m, FieldLine(field, value)) => m + (field.trim -> value.trim)
          case (m, _)                       => m
        }
      }
      .filter(_.nonEmpty)

  /** S2/S3 directory scan: every file under `dir` (glob ok), one record per
    * tagged block, with provenance + stable ingest order + the area column
    * of the reference's two-level `src_data/<area>/<corpus>/` layout
    * (`cleaner.py:198-217` — grandparent directory of the file).
    * Output: src_file, area, block_idx, fields: map<string,string>.
    */
  def parse(spark: SparkSession, dir: String): DataFrame =
    parsedFrom(spark, graft.Tables.wholeTextFiles(spark, dir))

  /** Streaming twin of [[parse]]: a file-source stream over the same
    * layout — each newly arriving export file becomes one micro-batch of
    * parsed blocks. The incremental-ingestion analog of the reference's
    * ijson pass (`TopicClassfication.py:232-245`): records stream out of
    * a growing corpus without re-reading old files.
    */
  def parseStream(spark: SparkSession, dir: String): DataFrame =
    parsedFrom(spark, spark.readStream.option("wholetext", "true").text(dir))

  private def parsedFrom(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    val files: Dataset[(String, String)] = raw
      .select(input_file_name().as("src_file"), $"value")
      .as[(String, String)]
    files
      .flatMap { case (f, text) =>
        parseEntries(text).zipWithIndex.map { case (m, i) => (f, i.toLong, m) }
      }
      .toDF("src_file", "block_idx", "fields")
      .withColumn("area",
        regexp_extract(col("src_file"), "([^/]+)/[^/]+/[^/]+$", 1))
  }

  /** P2 `delete_post_numbers` (`cleaner.py:29-39`): strip standalone
    * 6-digit postal codes, collapse whitespace.
    *
    * The reference pattern is `(?:(?<=\D)|(?<=^))\s*\d{6}\s*(?=\D|$)` —
    * "a digit run of EXACTLY six, whatever borders it as long as it is
    * not a seventh digit". Ported verbatim (java.util.regex supports
    * both lookarounds), replacing the earlier `\b\d{6}\b`, which
    * silently kept LETTER-adjacent codes ("Xuyong646400" — `\b` needs a
    * word/non-word transition, and letter→digit is word→word). The
    * DuckDB oracle mirror cannot use lookbehind (RE2), so it expresses
    * the same semantics structurally — tokenize into digit/non-digit
    * runs and blank the exactly-6 digit runs (`OracleSql.taggedPipeline`).
    * One pinned dialect choice: `[0-9]`, not `\d` — Python's `\d`
    * matches Unicode digits (e.g. full-width １２３), Java's and RE2's
    * default to ASCII; the corpus's postal codes are ASCII, and the
    * ASCII class keeps all three engines aligned. `TaggedTextSpec` pins
    * the letter-adjacent, 7-digit, and digit-run-adjacency cases.
    *
    * The implementation is the fused single-pass scan
    * [[graft.functions.StripPostal]] (strip + collapse + trim in one
    * char walk — the oracle's own digit-run-tokenize shape): the
    * lookaround pattern microbenched at ~1.6-1.8× the old `\b` form
    * (`tools/PostalBench.java`), and the scan
    * beats both while replacing three expression passes with one.
    * Semantics are UNCHANGED — a scalacheck property (`PropertySpec`)
    * pins the scan byte-identical to the regex pipeline it replaced.
    */
  def stripPostalCodes(c: Column): Column =
    graft.functions.StripPostal.stripPostal6Col(c)

  /** P3 whitespace pass (`cleaner.py:97-122`). */
  def normalizeWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  private def field(name: String): Column = col("fields").getItem(name)

  /** Scalar field: trim + drop trailing ';' (P1, `cleaner.py:42-54`). */
  private def scalar(name: String): Column =
    normalizeWs(regexp_replace(field(name), ";\\s*$", ""))

  /** List field: split on ';', trim elements, drop empties (P1). */
  private def listField(name: String): Column =
    filter(transform(split(field(name), ";"), normalizeWs(_)), _ =!= "")

  /** Author Address: split on ';' then explode each part on `.`/`,`/`/`/`·`,
    * strip postal codes, drop empties (`cleaner.py:59-65`).
    */
  private def addressField(name: String): Column =
    filter(
      transform(
        flatten(transform(split(field(name), ";"), p => split(p, "[.,/·]"))),
        stripPostalCodes(_)),
      _ =!= "")

  /** Best-effort int with raw fallback (`cleaner.py:67-71`): the reference
    * keeps the string when `int()` fails, i.e. a per-cell `int | str`
    * union. Modeled as a typed int column + the raw string (SURVEY §1.4).
    * `try_cast`, not `cast` — Spark 4 runs ANSI mode by default, where a
    * plain cast on a malformed year would fail the whole job.
    */
  private def intOrRaw(name: String): (Column, Column) =
    (scalar(name).try_cast("int"), scalar(name))

  /** P1 `format_data` + P3 cleaning over a parsed frame → the engine's
    * document schema (FIXTURES.md A2). Unknown `{Field}:` tags survive in
    * `extra`.
    */
  def formatRecords(parsed: DataFrame): DataFrame = {
    val known = Seq("Title", "Reference Type", "Abstract", "Year", "Volume",
      "Issue", "Pages", "DOI", "URL", "ISBN/ISSN", "Journal", "Notes",
      "Database Provider", "Date", "Subject", "Publisher", "Place Published",
      "Author Address") ++ ListFields
    val (yearI, yearR) = intOrRaw("Year")
    val (volI, volR) = intOrRaw("Volume")
    val (issI, issR) = intOrRaw("Issue")
    parsed.select(
      col("src_file"), col("area"), col("block_idx"),
      scalar("Title").as("title"),
      scalar("Reference Type").as("reference_type"),
      sanitizeLabel(scalar("Reference Type")).as("label"),
      listField("Author").as("author"),
      listField("Tertiary Author").as("tertiary_author"),
      listField("Subsidiary Author").as("subsidiary_author"),
      listField("Keywords").as("keywords"),
      addressField("Author Address").as("author_address"),
      scalar("Publisher").as("publisher"),
      scalar("Place Published").as("place_published"),
      yearI.as("year"), yearR.as("year_raw"),
      volI.as("volume"), volR.as("volume_raw"),
      issI.as("issue"), issR.as("issue_raw"),
      scalar("Abstract").as("abstract"),
      scalar("Journal").as("journal"),
      scalar("Pages").as("pages"),
      scalar("DOI").as("doi"),
      scalar("URL").as("url"),
      scalar("ISBN/ISSN").as("isbn_issn"),
      scalar("Date").as("date"),
      scalar("Subject").as("subject"),
      scalar("Notes").as("notes"),
      map_filter(col("fields"), (k, _) => !k.isin(known.map(lit(_)): _*))
        .as("extra"))
  }

  /** P7 `_sanitize_label` (`utils.py:100-110`): spaces→`_`, strip
    * non-alnum, prefix `_` if leading digit, default `UnknownDocument`.
    */
  def sanitizeLabel(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(c, "\\s+", "_"), "[^A-Za-z0-9_]", "")
    val prefixed = when(cleaned.rlike("^[0-9]"), concat(lit("_"), cleaned))
      .otherwise(cleaned)
    when(c.isNull || prefixed === "", lit("UnknownDocument")).otherwise(prefixed)
  }

  /** A1 `title_deduplication` (`cleaner.py:77-94`): keep the FIRST
    * occurrence per title in ingest order — exact parity needs the stable
    * (src_file, block_idx) key, not `dropDuplicates` (arbitrary row).
    * Rows with null/empty titles are dropped (`csv_extractor.py:36-37`).
    */
  def dedupByTitle(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("title"))
      .orderBy(col("src_file"), col("block_idx"))
    records
      .filter(col("title").isNotNull && col("title") =!= "")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full ingest pipeline: S2/S3 scan → P1-P3 format → A1 dedup. */
  def ingest(spark: SparkSession, dir: String): DataFrame =
    dedupByTitle(formatRecords(parse(spark, dir)))

  /** The gated projection emitted by [[dedupByTitleStream]] — scalar
    * identity + bibliographic fields plus the provenance key. */
  case class TaggedDocRow(title: String, label: String, year_raw: String,
      journal: String, abstract_ : String, src_file: String, block_idx: Long)

  /** Streaming twin of [[dedupByTitle]], via `flatMapGroupsWithState`
    * custom state (window functions are not available on streams): per
    * title, the state is a seen-marker; the FIRST micro-batch containing
    * a title emits that batch's (src_file, block_idx)-minimal row and
    * later arrivals are swallowed. Deterministic in BOTH modes: within a
    * batch the min-by picks the same winner as [[dedupByTitle]]'s window,
    * and across batches state is first-writer-wins — so when files
    * arrive in ingest order the streamed output equals the batch ingest
    * exactly (asserted in `TaggedStreamSpec`), and in batch execution
    * (empty state, one group pass) it equals it unconditionally — which
    * is what the q123 hash gate checks. State is one Boolean per distinct
    * title: bounded by the corpus's title cardinality, the same working
    * set the reference's in-memory seen-set holds
    * (`cleaner.py:77-94`); add a watermark upstream to bound it by time
    * instead if titles are unbounded.
    */
  def dedupByTitleStream(records: DataFrame): Dataset[TaggedDocRow] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val s = records.sparkSession
    import s.implicits._
    records
      .filter(col("title").isNotNull && col("title") =!= "")
      .select(col("title"), col("label"), col("year_raw"), col("journal"),
        col("abstract").as("abstract_"), col("src_file"), col("block_idx"))
      .as[TaggedDocRow]
      .groupByKey(_.title)
      .flatMapGroupsWithState[Boolean, TaggedDocRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[TaggedDocRow], state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(r => (r.src_file, r.block_idx)))
          }
      }
  }

  /** Streaming ingest of a growing tagged-export directory: stream-parse
    * → P1-P3 format → stateful first-occurrence dedup. */
  def ingestStream(spark: SparkSession, dir: String): Dataset[TaggedDocRow] =
    dedupByTitleStream(formatRecords(parseStream(spark, dir)))
}
