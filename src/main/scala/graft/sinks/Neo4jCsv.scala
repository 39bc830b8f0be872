package graft.sinks

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Neo4j bulk-import CSV sinks (SURVEY.md §2.1 S5-S7; headers verified
  * against the reference's shipped artifacts, FIXTURES.md A4):
  *
  *   nodes:   `:ID,:LABEL,name`  /  documents: `:ID,:LABEL,title,year,...`
  *            (`csv_extractor.py:45-59,87-96,101-148`)
  *   edges:   `:START_ID(L),:END_ID(L),:TYPE`  (`csv_extractor.py:212-241`)
  *
  * CSV escaping matches Python's `csv` QUOTE_MINIMAL: fields quoted only
  * when needed, embedded quotes doubled (`escape` = `"` — Spark's default
  * backslash-escape would diverge), UTF-8 (CJK passes through unquoted).
  *
  * One rendering path: every CSV entry is a frame of `(entry, ord, line)`
  * rows — the header at `ord` 0, rendered by `to_csv` from the column
  * names exactly as the rows are rendered from their values, the rows at
  * `ord` 1 — and any number of entries go to disk in ONE partitioned
  * text write ([[write]]): `distinct` (the only dedup of entity nodes and
  * relationships), `repartition(entry)`, header first within each
  * partition, `partitionBy("entry")`. The driver then moves each
  * `entry=<name>` directory's part file into place as `<name>/part-*.csv`
  * with a `_SUCCESS` marker, or, as a literal `<name>.csv` file, the
  * layout `csv_extractor.py` opens.
  *
  * Scale note: each entry is written by one task, as the reference's
  * one-file-per-label layout (and the former `coalesce(1)` per label)
  * requires; the dedup before it runs at full shuffle parallelism. At
  * 100 TB you would drop the per-entry repartition and let neo4j-admin
  * take several part files per entry — the header/escaping contract is
  * unchanged.
  */
object Neo4jCsv {

  private val Options = Map("escape" -> "\"", "emptyValue" -> "").asJava

  private def line(fields: Column*): Column =
    to_csv(struct(fields: _*), Options)

  /** The `(entry, ord, line)` rows of one CSV named `name` holding
    * `table`. With `skipEmpty` the header rides on every data row (the
    * write's distinct keeps one), so an empty table writes no entry — the
    * reference skips empty alias files the same way.
    */
  private[sinks] def entry(name: String, table: DataFrame,
            skipEmpty: Boolean = false): DataFrame = {
    val headerRows = if (skipEmpty) table else table.sparkSession.range(1).toDF()
    headerRows.select(lit(name).as("entry"), lit(0).as("ord"),
        line(table.columns.toSeq.map(lit): _*).as("line"))
      .unionAll(table.select(lit(name).as("entry"), lit(1).as("ord"),
        line(col("*")).as("line")))
  }

  /** The one write of any number of [[entry]] frames, through `tmpDir`
    * (removed afterwards): each entry lands at `target(name)` — a
    * directory holding one `part-*.csv` and `_SUCCESS`, or with
    * `asFiles` the part file itself. Returns the names written.
    */
  private[sinks] def write(lines: DataFrame, tmpDir: String,
      asFiles: Boolean)(target: String => String): Set[String] = {
    // the union has a partition per entry branch and input partition;
    // one task per core runs the map side instead of one per branch
    lines.coalesce(lines.sparkSession.sparkContext.defaultParallelism)
      .distinct().repartition(col("entry"))
      .sortWithinPartitions("entry", "ord")
      .select("entry", "line")
      .write.mode("overwrite").partitionBy("entry").text(tmpDir)
    val tmp = new Path(tmpDir)
    val fs = tmp.getFileSystem(lines.sparkSession.sessionState.newHadoopConf())
    try fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("entry=")).map { dir =>
        val name = dir.getName.stripPrefix("entry=")
        val parts = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"expected exactly one part file in $dir, found ${parts.length}")
        val dst = new Path(target(name))
        fs.delete(dst, true)
        if (asFiles) rename(fs, parts(0), dst)
        else {
          fs.mkdirs(dst)
          rename(fs, parts(0),
            new Path(dst, parts(0).getName.stripSuffix(".txt") + ".csv"))
          fs.create(new Path(dst, "_SUCCESS")).close()
        }
        name
      }.toSet
    finally fs.delete(tmp, true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")

  /** One CSV directory at `path`. */
  private def writeOne(table: DataFrame, path: String): Unit = {
    write(entry("csv", table), s"$path._graft_dump_tmp", asFiles = false)(
      _ => path)
    ()
  }

  /** Entity node rows under one label; the write's distinct is the A4
    * first-writer-wins dedup (every column is a function of the id). */
  private[sinks] def entityNodes(ids: DataFrame, label: String): DataFrame =
    ids.select(col("id").as(":ID"), lit(label).as(":LABEL"),
      col("id").as("name"))

  def writeEntityNodes(nodes: DataFrame, label: String, path: String): Unit =
    writeOne(entityNodes(nodes, label), path)

  /** Document node rows with the reference's FULL 12-column property set
    * (`csv_extractor.py:45-59`): `:ID,:LABEL,title,year,abstract,journal,
    * volume,issue,pages,doi,url,isbn_issn`. A property column absent from
    * the input frame is written empty — the reference's missing-key
    * behavior (`csv_extractor.py:127-140` dynamic header, blank fill).
    *
    * `dynamicExtra = true` appends the `extra` map's observed keys —
    * sorted, one trailing column each — so unknown `{Field}:` tags that
    * survive ingest reach the CSV, the dynamic-header semantics of
    * `csv_extractor.py:127-140` extended to the long tail. Header
    * derivation is a driver-side distinct over map keys (the reference
    * reads its header off the collected dict the same way).
    */
  private[sinks] def documentNodes(docs: DataFrame,
                                   dynamicExtra: Boolean = false): DataFrame = {
    val have = docs.columns.toSet
    def c(name: String) =
      (if (have(name)) col(name) else lit(null).cast("string")).as(name)
    // case-variant tags ({title}: vs {Title}:) pass the case-sensitive
    // known-fields filter into `extra`; appending them verbatim would emit
    // a DUPLICATE header (unreadable round-trip), so any extra key that
    // collides with a fixed column name is written under an `extra_`
    // prefix instead — every observed key still reaches the CSV exactly
    // once, the dynamic-header contract
    val fixedNames = Set(":ID", ":LABEL", "title", "year", "abstract",
      "journal", "volume", "issue", "pages", "doi", "url", "isbn_issn")
    val extraKeys: Seq[String] =
      if (dynamicExtra && have("extra"))
        docs.select(explode(map_keys(col("extra"))).as("k")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
      else Nil
    val base = Seq(
      col("title").as(":ID"), col("label").as(":LABEL"),
      col("title").as("title"), c("year"), c("abstract"), c("journal"),
      c("volume"), c("issue"), c("pages"), c("doi"), c("url"),
      c("isbn_issn"))
    val extras = extraKeys.map { k =>
      val name = if (fixedNames(k)) s"extra_$k" else k
      col("extra").getItem(k).as(name)
    }
    docs.select(base ++ extras: _*).dropDuplicates(":ID")
  }

  def writeDocumentNodes(docs: DataFrame, path: String,
                         dynamicExtra: Boolean = false): Unit =
    writeOne(documentNodes(docs, dynamicExtra), path)

  /** Relationship rows `(src, dst, rel_type)` under one type. */
  private[sinks] def rels(edges: DataFrame, relType: String,
                          startLabel: String, endLabel: String): DataFrame =
    edges.filter(col("rel_type") === relType)
      .select(col("src").as(s":START_ID($startLabel)"),
        col("dst").as(s":END_ID($endLabel)"),
        col("rel_type").as(":TYPE"))

  def writeRels(edges: DataFrame, relType: String, startLabel: String,
                endLabel: String, path: String): Unit =
    writeOne(rels(edges, relType, startLabel, endLabel), path)
}

/** JSON sinks (SURVEY.md §2.1 S7): the alias-mapping persistence of
  * `keyword_merger.py:235-247` / `Hype.py:71-86`, as JSON-lines of
  * `{original, representative}` (columnar-idiomatic; the reference's
  * single-dict layout is a driver-side rendering of the same rows).
  */
object JsonSinks {
  def writeMapping(mapping: DataFrame, path: String): Unit =
    mapping.select("original", "representative")
      .write.mode("overwrite").json(path)

  def readMapping(s: SparkSession, path: String): DataFrame =
    s.read.schema("original STRING, representative STRING").json(path)
}
