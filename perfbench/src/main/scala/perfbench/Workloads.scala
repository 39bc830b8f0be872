package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.graph.DocGraph
import graft.ingest.TaggedText
import graft.query.{AnswerService, Router}
import graft.resolve.EntityResolution
import graft.sinks.GraphDump
import Main.{Result, Run}

/** The workloads. Each sets its inputs and standing state up from the seed,
  * then runs one closed-loop client; every engine call goes through a
  * public function, wrapped in a `call` span named after it.
  */
object Workloads {

  private def dropTables(r: Run, prefix: String): Unit =
    r.spark.catalog.listTables().collect()
      .filter(_.name.startsWith(prefix.toLowerCase))
      .foreach(t => r.spark.sql(s"DROP TABLE IF EXISTS `${t.name}` PURGE"))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  // ---------------------------------------------------------------- qa_serve

  val QaDocs = 5000 // the size of the sf0.1 documents table

  /** Answers over the bucketed binding of a seeded graph of the sf0.1
    * documents' shape, bucketed one bucket per core.
    */
  def qaServe(r: Run): Unit = {
    val s = r.spark
    val buckets = s.sparkContext.defaultParallelism
    // the input is generated once, outside the timed set-ups
    val dir = r.dataDir.resolve("qa").toString
    Gen.writeDocuments(s, Gen.documents(r.seed, QaDocs), dir)
    val g = r.setUp(3) { k =>
      r.tracer.call("DocGraph.bucketed")(
        DocGraph.bucketed(DocGraph.synthetic(s, dir), prefix = s"pb_qa$k",
          buckets = buckets))
    }
    import s.implicits._
    // request parameters come from the served graph itself
    val titles = g.docs.select($"title").as[String].collect().sorted.toIndexedSeq
    val authors = g.authored.select($"author").distinct().as[String].collect().sorted.toIndexedSeq
    val keywords = g.hasKeyword.select($"kw").distinct().as[String].collect().sorted.toIndexedSeq
    val orgs = g.published.select($"org").distinct().as[String].collect().sorted.toIndexedSeq
    def round(seed: Long) = Gen.requests(seed, titles, authors, keywords, orgs)
    val reqs = round(r.seed)
    // one untimed round of the same mix with other values, so the timed
    // answers run on a warm JVM with their code generated and compiled, as
    // a serving process's answers do (answered one at a time: concurrent
    // warm-up answers left the timed round still compiling)
    val tw = System.nanoTime()
    round(~r.seed).foreach(q => AnswerService.answer(g, AnswerService.AnswerRequest(q)))
    r.values("warmup_s") = (System.nanoTime() - tw) / 1e9
    val served = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    r.loop(reqs.size) { i =>
      val q = reqs(i % reqs.size)
      val resp = r.tracer.call("AnswerService.answer")(
        AnswerService.answer(g, AnswerService.AnswerRequest(q)))
      val family = AnswerService.DirectivePlanner.plan(q)._1
      served += ((i, q, resp.answer))
      Result(Map("family" -> family), () => true)
    }
    // the in-memory binding the answers are checked against
    checkAnswers(r, DocGraph.synthetic(s, dir), served.toSeq)
  }

  /** Run `tasks` on one thread per core; return their results in order. */
  private def onPool[T](r: Run, tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      r.spark.sparkContext.defaultParallelism)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = t()
    })).map(_.get())
    finally pool.shutdown()
  }

  /** Answer every distinct served request again over the in-memory binding,
    * a few at a time after the timed loop, and fail each operation whose
    * answer differs. Traced runs also record whether the routed template
    * came back empty, so the answer was the full-text fallback's.
    */
  private def checkAnswers(r: Run, mem: DocGraph,
                           served: Seq[(Int, String, String)]): Unit = {
    val t0 = System.nanoTime()
    val distinct = served.map(_._2).distinct
    val byQuery = distinct.zip(onPool(r, distinct.map(q => () => {
      val want = AnswerService.answer(mem, AnswerService.AnswerRequest(q)).answer
      val (f, p) = AnswerService.DirectivePlanner.plan(q)
      val empty = r.tracer.enabled && Router.route(mem, f, p).limit(1).count() == 0
      (want, empty)
    }))).toMap
    served.foreach { case (i, q, got) =>
      val (want, empty) = byQuery(q)
      val ok = scala.util.Try(sameAnswer(got, want, mem, q)).getOrElse(false)
      if (!ok) r.check(s"op$i.answer", ok = false, q)
      r.amendOp(i, Map("ok" -> ok) ++
        (if (r.tracer.enabled) Map("fallback" -> empty) else Map.empty))
    }
    r.verifyS += (System.nanoTime() - t0) / 1e9
  }

  /** Two answers agree when they render the same rows; row order is not
    * part of the contract, and a truncated answer must show rows of the
    * full result.
    */
  private def sameAnswer(got: String, want: String, mem: DocGraph,
                         q: String): Boolean = {
    val trunc = "\n... (truncated at "
    if (got == want) true
    else if (!got.contains(trunc) && !want.contains(trunc))
      got.split("\n").sorted.sameElements(want.split("\n").sorted)
    else if (got.contains(trunc) && want.contains(trunc)) {
      val (f, p) = AnswerService.DirectivePlanner.plan(q)
      val terms = p.get("terms").map(_.split(";").toSeq.map(_.trim))
        .getOrElse(p.valuesIterator.toSeq.sorted)
      val all = graft.query.QueryText.renderRows(
        Router.withFallback(mem, f, p, terms)).collect().toSet
      val shown = got.split("\n").dropRight(1)
      shown.length == want.split("\n").length - 1 && shown.forall(all)
    } else false
  }

  // ----------------------------------------------------------- corpus_curate

  val CorpusTitles = 2000
  val CorpusFiles = 8
  // a block of the 10x replica: every replica of these base rows
  val CurateBaseDocs = 200
  val CurateBaseVecs = 100

  /** The curation chain, each step through its registry function. */
  val CurateChain: Seq[String] = Seq(
    "q22_quality_score", "q39_dedup_clusters", "q133_semantic_dedup",
    "q125_decontaminate")

  /** The offline stages. The set-up parses a seeded tagged-export corpus
    * into the standing ingested table; each operation is one pass over it:
    * graph build into the bucketed store, the graph dump (which resolves
    * keyword, organisation and address aliases), then the curation chain
    * over a seeded document and embedding block of the 10x replica.
    */
  def corpusCurate(r: Run): Unit = {
    val s = r.spark
    // the inputs are generated once, outside the timed set-ups
    val root = r.dataDir.resolve("corpus")
    val corpus = Gen.writeTagged(r.seed, root, CorpusTitles, CorpusFiles)
    val dir = r.dataDir.resolve("cur").toString
    val (docs, vecs) = Gen.replica10(Gen.documents(r.seed, CurateBaseDocs),
      Gen.embeddings(r.seed, CurateBaseVecs))
    Gen.writeDocuments(s, docs, dir)
    Gen.writeEmbeddings(s, vecs, dir)
    val ingested = r.setUp(3) { k =>
      val path = r.dataDir.resolve(s"ingested$k").toString
      r.tracer.call("TaggedText.ingest")(
        TaggedText.ingest(s, s"$root/*/*/*.txt").write.parquet(path))
      path
    }
    r.values("input_bytes") = corpus.inputBytes
    r.values("input_dir") = dir
    r.values("oracle_sql") = CurateChain.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val firstDigest = scala.collection.mutable.Map.empty[String, String]
    val items = corpus.distinctTitles + docs.size
    r.loop(round = 1) { i =>
      val build = corpusPass(r, s.read.parquet(ingested), corpus, i)
      val curated = CurateChain.map { q =>
        val query = SparkEntry.queries(q)
        q -> r.tracer.call(s"SparkEntry.queries.$q") {
          val df: DataFrame = query(s, dir)
          (df.schema, df.collect())
        }
      }
      Result(Map("items" -> items, "dump_bytes" -> build.dumpBytes),
        () => build.verify() & verifyCurated(r, i, curated, firstDigest))
    }
  }

  private final case class Built(dumpBytes: Long, verify: () => Boolean)

  /** One corpus pass over the ingested table: graph build, graph dump. */
  private def corpusPass(r: Run, ing: DataFrame, corpus: Gen.Corpus, i: Int): Built = {
    val s = r.spark
    import s.implicits._
    val out = r.work.resolve("out").resolve(s"dump$i")
    val prefix = s"pb_cb$i"
    val graph = r.tracer.call("DocGraph.ofIngested")(DocGraph.ofIngested(ing))
    val bucketed = r.tracer.call("DocGraph.bucketed")(
      DocGraph.bucketed(graph, prefix = prefix,
        buckets = s.sparkContext.defaultParallelism))
    val manifest = r.tracer.call("GraphDump.dumpGraph")(
      GraphDump.dumpGraph(ing, out.toString))
    Built(treeBytes(out), () => try {
      val titles = ing.count()
      val titlesOk = titles == corpus.distinctTitles
      r.check(s"op$i.distinct_titles", titlesOk, s"$titles vs ${corpus.distinctTitles}")
      val edges = bucketed.edges.groupBy($"rel_type").count()
        .as[(String, Long)].collect().toMap
      val edgesOk = corpus.edgeCounts.forall { case (rel, n) =>
        edges.getOrElse(rel, 0L) == n
      }
      r.check(s"op$i.edge_counts", edgesOk, s"$edges vs ${corpus.edgeCounts}")
      val rows = manifest.map(name => name -> csvRows(out.resolve(name))).toMap
      val dumpOk = manifest.nonEmpty && manifest.forall { name =>
        rows(name) > 0 && expectedRows(name, corpus, titles).forall(_ == rows(name))
      }
      r.check(s"op$i.dump_manifest", dumpOk, rows.toString)
      // every gloss variant in the corpus shares its bare term's
      // representative in the dump's keyword alias file
      val alias = csvRecords(out.resolve("keyword_alias_of_rels"))
        .map(f => f(0) -> f(1)).toMap
      def rep(t: String) = alias.getOrElse(t, t)
      val glossOk = corpus.glossPairs.forall { case (v, t) => rep(v) == rep(t) }
      r.check(s"op$i.gloss_representatives", glossOk, corpus.glossPairs
        .filter { case (v, t) => rep(v) != rep(t) }.mkString(","))
      titlesOk && edgesOk && glossOk && dumpOk
    } finally {
      dropTables(r, prefix)
      deleteTree(out)
    })
  }

  private def csvParts(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq

  /** Data rows of a Spark CSV directory (one header line per part file;
    * the dump's values hold no line breaks).
    */
  private def csvRows(dir: Path): Long =
    csvParts(dir).map(p => math.max(0L, Files.lines(p).count() - 1)).sum

  /** The first two fields of each data row of a Spark CSV directory. */
  private def csvRecords(dir: Path): Seq[Array[String]] =
    csvParts(dir).flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .map(_.split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1)
        .map(_.stripPrefix("\"").stripSuffix("\"")))

  /** Rows a dump entry must hold, where the generator knows them. */
  private def expectedRows(name: String, c: Gen.Corpus,
                           titles: Long): Option[Long] =
    if (name == "documents") Some(titles)
    else c.edgeCounts.collectFirst {
      case (rel, n) if name == s"${rel.toLowerCase}_rels" => n
    }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(x => md.update(x.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every operation must reproduce the first operation's results; the
    * first results are written out for the DuckDB oracle check in run.py.
    */
  private def verifyCurated(r: Run, i: Int,
                            curated: Seq[(String, (StructType, Array[Row]))],
                            firstDigest: scala.collection.mutable.Map[String, String]): Boolean = {
    val mismatched = curated.filter { case (q, (schema, rows)) =>
      val h = digest(rows)
      if (!firstDigest.contains(q)) {
        r.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
          .mode("overwrite").parquet(r.work.resolve("out").resolve(q).toString)
        firstDigest(q) = h
      }
      firstDigest(q) != h
    }.map(_._1)
    r.check(s"op$i.stable_results", mismatched.isEmpty, mismatched.mkString(","))
    mismatched.isEmpty
  }
}
