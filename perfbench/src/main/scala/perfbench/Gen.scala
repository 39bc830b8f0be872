package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Seeded input generators. The same seed always gives the same inputs;
  * the engine only ever sees what these write.
  */
object Gen {

  /** The 30 words of the sf0.1 `documents` texts, each drawn about
    * equally often there (README, "Inputs"). Words of five letters or more
    * become keywords in the graph binding.
    */
  val Vocab: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Zipf(s = 1.1) sampler over ranks 0 until n, for request parameters. */
  final class Zipf(n: Int, rnd: java.util.SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String)

  private def sentence(rnd: java.util.SplittableRandom, lo: Int, hi: Int,
                       word: () => String): String =
    Seq.fill(lo + rnd.nextInt(hi - lo + 1))(word()).mkString(" ")

  /** `n` documents shaped like the sf0.1 `documents` table: 10 to 100
    * words drawn uniformly from [[Vocab]]; 5.1% are near-duplicates, an
    * earlier document's text plus the token `dup`; languages en 41% and
    * zh, es, fr, de about 15% each; 20 sources in equal shares.
    */
  def documents(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed)
    val word = () => Vocab(rnd.nextInt(Vocab.size))
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 0 && rnd.nextInt(1000) < 51) texts(rnd.nextInt(i)) + " dup"
        else sentence(rnd, 10, 100, word)
      texts(i) = t
      val u = rnd.nextInt(100)
      val lang = if (u < 41) "en" else Vector("zh", "es", "fr", "de")((u - 41) * 4 / 59)
      Doc(i.toLong, t, lang, s"src${i % 20}")
    }
  }

  /** `n` 64-dim embeddings shaped like the sf0.1 `embeddings` table:
    * Gaussian directions scaled to unit length, 10 labels drawn uniformly,
    * no near-duplicate pairs.
    */
  def embeddings(seed: Long, n: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }
  }

  /** The 10x replica of `tools/make_sfN.py` over a block of base rows:
    * every base row and its nine replicas, with that tool's rules. Replica
    * r > 0 shifts the id by r * 10,000,000, appends ` rep<r>` to the text
    * and adds 0.001 * (r mod 4) to dimension 0; in family g = r / 4 > 0 it
    * also suffixes every token with `g<g>` and rotates the vector by g
    * positions, so near-duplicate families hold at most four members.
    */
  def replica10(docs: Seq[Doc], vecs: Seq[(Long, Array[Float], Int)])
      : (Seq[Doc], Seq[(Long, Array[Float], Int)]) = {
    val rs = 0 until 10
    val d = for (r <- rs; x <- docs) yield {
      val text =
        if (r == 0) x.text
        else if (r / 4 == 0) s"${x.text} rep$r"
        else x.text.split(" ").map(w => s"${w}g${r / 4}").mkString(" ") + s" rep$r"
      x.copy(docId = x.docId + r * 10000000L, text = text)
    }
    val v = for (r <- rs; (id, e, label) <- vecs) yield {
      val g = r / 4
      val w = Array.tabulate(e.length)(i => e((i + g) % e.length))
      if (r > 0) w(0) = (e(g % e.length) + 0.001 * (r % 4)).toFloat
      (id + r * 10000000L, w, label)
    }
    (d, v)
  }

  def writeDocuments(s: SparkSession, docs: Seq[Doc], dir: String): Unit = {
    import s.implicits._
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def writeEmbeddings(s: SparkSession, vecs: Seq[(Long, Array[Float], Int)],
                      dir: String): Unit = {
    import s.implicits._
    vecs.map { case (id, e, label) => (id, e.toSeq, label) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** A tagged-export corpus: the reference's `{Field}: value` blocks under
    * `<root>/<area>/<type>/<file>.txt`, with cross-file duplicate titles
    * (exact copies, so first-wins dedup is order-free), keyword gloss
    * variants (`term (GLOSS)`) and six-digit postal codes in addresses.
    * Returns the counts a correct ingest must reproduce.
    */
  final case class Corpus(inputBytes: Long, records: Long, distinctTitles: Long,
                          edgeCounts: Map[String, Long],
                          glossPairs: Seq[(String, String)])

  def writeTagged(seed: Long, root: Path, nTitles: Int, files: Int): Corpus = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x7A66EDL)
    val areas = Vector("computing", "physics", "biology", "economics")
    val types = Vector("journal", "conference", "thesis")
    val refTypes = Vector("Journal Article", "Conference Proceedings",
      "Thesis", "Patent", "Book")
    val cities = Vector("Beijing", "Shanghai", "Wuhan", "Nanjing", "Xian")
    val units = Vector("School of Computing", "Dept of Physics",
      "Institute of Biology", "College of Economics", "Key Laboratory")
    val unis = Vector("Tsinghua University", "Fudan University",
      "Wuhan University", "Nanjing University", "Northwest University")
    val vocabWord = () => Vocab(rnd.nextInt(Vocab.size))
    val terms = Vocab.filter(_.length >= 5)
    val glosses = terms.take(12).map(t => t -> s"$t (${t.take(3).toUpperCase})")
    final case class Rec(title: String, authors: Seq[String],
                         tertiary: Seq[String], keywords: Seq[String],
                         publisher: String, place: String,
                         addrParts: Seq[String], block: String)
    val recs = (0 until nTitles).map { i =>
      val title = s"Study ${i} of ${sentence(rnd, 2, 5, vocabWord)}"
      val authors = Seq.fill(1 + rnd.nextInt(4))(s"Author ${rnd.nextInt(nTitles / 3 + 7)}").distinct
      val tertiary = if (rnd.nextInt(5) == 0) Seq(s"Editor ${rnd.nextInt(50)}") else Nil
      val kws = Seq.fill(2 + rnd.nextInt(4)) {
        val t = terms(rnd.nextInt(terms.size))
        glosses.find(_._1 == t) match {
          case Some((_, g)) if rnd.nextBoolean() => g
          case _ => t
        }
      }.distinct
      val publisher = if (rnd.nextInt(6) == 0) "" else s"Press ${rnd.nextInt(40)}"
      val place = s"${cities(rnd.nextInt(cities.size))}"
      val addrs = Seq.fill(1 + rnd.nextInt(2)) {
        (units(rnd.nextInt(units.size)), unis(rnd.nextInt(unis.size)),
          cities(rnd.nextInt(cities.size)), 100000 + rnd.nextInt(899999))
      }
      val addrField = addrs.map { case (u, v, c, z) => s"$u, $v, $c $z" }
        .mkString("; ")
      val addrParts = addrs.flatMap { case (u, v, c, _) => Seq(u, v, c) }.distinct
      val year = 1995 + rnd.nextInt(30)
      val block = Seq(
        s"{Reference Type}: ${refTypes(rnd.nextInt(refTypes.size))}",
        s"{Title}: $title",
        s"{Author}: ${authors.mkString("; ")};",
        if (tertiary.nonEmpty) s"{Tertiary Author}: ${tertiary.mkString("; ")}" else "",
        s"{Year}: $year",
        s"{Journal}: Journal of ${areas(rnd.nextInt(areas.size))}",
        if (publisher.nonEmpty) s"{Publisher}: $publisher" else "",
        s"{Place Published}: $place",
        s"{Keywords}: ${kws.mkString("; ")}",
        s"{Author Address}: $addrField",
        s"{Abstract}: ${sentence(rnd, 20, 60, vocabWord)}"
      ).filter(_.nonEmpty).mkString("\n")
      Rec(title, authors, tertiary, kws, publisher, place, addrParts, block)
    }
    // every 8th record reappears verbatim in another file
    val placed = recs.zipWithIndex.flatMap { case (r, i) =>
      val f = rnd.nextInt(files)
      if (i % 8 == 0) Seq(f -> r, ((f + 1 + rnd.nextInt(files - 1)) % files) -> r)
      else Seq(f -> r)
    }
    var bytes = 0L
    placed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (f, rs) =>
      val dir = root.resolve(areas(f % areas.size)).resolve(types(f % types.size))
      Files.createDirectories(dir)
      val body = rs.map(_._2.block).mkString("", "\n\n", "\n").getBytes(UTF_8)
      Files.write(dir.resolve(f"export_$f%03d.txt"), body)
      bytes += body.length
    }
    def pairs(f: Rec => Seq[(String, String)]): Long =
      recs.flatMap(f).distinct.size.toLong
    val edgeCounts = Map(
      "AUTHORED" -> pairs(r => r.authors.map(_ -> r.title)),
      "TERTIARY_AUTHORED" -> pairs(r => r.tertiary.map(_ -> r.title)),
      "HAS_KEYWORD" -> pairs(r => r.keywords.map(r.title -> _)),
      "PUBLISHED_BY" -> pairs(r =>
        Seq(r.title -> (if (r.publisher.nonEmpty) r.publisher else r.place))),
      "AUTHOR_ADDRESS" -> pairs(r => r.addrParts.map(r.title -> _)))
    Corpus(bytes, placed.size.toLong, recs.size.toLong, edgeCounts,
      glosses.map { case (t, g) => (g, t) })
  }

  /** Slot order of one request round: slot k in 1-17 is family k; slots
    * 0 and 18 are family-13 requests with `hops=2` and `hops=3`, which
    * take the BFS kernel. Cheap and expensive families alternate.
    */
  val RoundOrder: IndexedSeq[Int] =
    IndexedSeq(1, 6, 0, 2, 16, 7, 11, 14, 3, 10, 4, 18, 13, 8, 12, 5, 15, 9, 17)

  /** Slots whose request names a value the graph does not hold, so the
    * answer takes the full-text fallback: one title and one keyword
    * family. The seed picks the values, never the mix, so every run sees
    * the same families, hops and fallbacks.
    */
  val UnknownSlots: Set[Int] = Set(4, 6)

  /** One seeded round of `family=N key=value` requests in [[RoundOrder]].
    * Parameters come from the graph's own titles, authors, keywords and
    * orgs with a Zipf skew, so popular entities repeat; the requests of
    * [[UnknownSlots]] name values the graph does not hold.
    */
  def requests(seed: Long, titles: IndexedSeq[String],
               authors: IndexedSeq[String], keywords: IndexedSeq[String],
               orgs: IndexedSeq[String]): IndexedSeq[String] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x51A7EL)
    def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq
    }
    val (ts, as, ks, os) =
      (shuffled(titles), shuffled(authors), shuffled(keywords), shuffled(orgs))
    val (zt, za, zk, zo) = (new Zipf(ts.size, rnd), new Zipf(as.size, rnd),
      new Zipf(ks.size, rnd), new Zipf(os.size, rnd))
    RoundOrder.map { slot =>
      def pick(xs: IndexedSeq[String], z: Zipf, miss: String) =
        if (UnknownSlots(slot)) s"$miss${rnd.nextInt(1000)}" else xs(z.next())
      def t = pick(ts, zt, "Dmissing")
      def a = pick(as, za, "Author_missing")
      def k = pick(ks, zk, "unknownterm")
      def o = pick(os, zo, "Org_missing")
      val family = if (slot == 0 || slot == 18) 13 else slot
      val params = slot match {
        case 0 => s"author=$a hops=2"
        case 18 => s"author=$a hops=3"
        case 1 | 2 | 3 | 4 | 8 | 9 => s"title=$t"
        case 5 | 13 | 16 => s"author=$a"
        case 6 | 10 | 14 => s"keyword=$k"
        case 7 | 15 => s"org=$o"
        case 11 => s"author=$a title=$t title2=$t"
        case 12 => s"title=$t keyword=$k"
        case _ => ""
      }
      s"family=$family $params".trim
    }
  }
}
