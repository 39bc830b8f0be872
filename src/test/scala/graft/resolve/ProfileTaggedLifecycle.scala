package graft.resolve

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-only pricing of the REAL-INGEST multi-day CRUD lifecycle (q161's
  * [[Lifecycle.ingested]] binding under both advance policies) at term
  * universes the 7-term fixture cannot exercise:
  * `Test/runMain graft.resolve.ProfileTaggedLifecycle [n ...]`.
  *
  * Round-15 shape (verdict items 1/5/7): each size runs a 2×2 cell —
  * {merge-on-write, merge-on-read} × {full-universe parse, BATCH-SCOPED
  * `daySource`} — twice. Unlike the r14 profile (synthetic in-memory
  * terms, which made "parse" free and the scoped-vs-full comparison
  * vacuous), the terms here are written as REAL TAGGED EXPORT FILES in
  * the reference's `{Field}: value` block format, laid out one
  * directory per id-class — the deployment's arriving-batch layout —
  * and every mode pays `TaggedText.ingest`'s actual parse→format→dedup
  * cost: the full mode ingests the whole tree per replay, the scoped
  * mode ingests only the day's class directory. Pass 1 builds the
  * day-0 snapshot (the per-JVM+source `_base_*` tables); pass 2 is the
  * steady-state replay — reset + three days — which is what the
  * registry's serve medians now measure.
  *
  * Per-day cost comes from the lifecycle's own `onPhase` hook, under
  * either advance policy. The parse term lands in the FIRST phase
  * that touches the ingest (insert1 materializes the lazily-persisted
  * universe in full mode; each scoped day parses its own directory).
  *
  * Claims under test: (a) with `daySource`, per-day parse cost tracks
  * the DAY'S BATCH — the full-corpus ingest term disappears from the
  * replay; (b) the q161-vs-q165 (MOW-vs-MOR) advance comparison at a
  * 30k-term REAL-INGEST universe, which the 7-term fixture reads as
  * neutral by construction (round-14 item 7).
  */
object ProfileTaggedLifecycle {

  /** The Column-path id rule (`embedTermUniverse`) computed driver-side:
    * first 15 hex digits of md5, parsed base-16 (60 bits, positive).
    */
  private def vecId(term: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Write `n` synthetic terms as tagged export files under one
    * directory per class (cls = vec_id % 3), ~32 files per class, ~20
    * keywords per block — the two-level area/corpus layout
    * `TaggedText.ingest` scans. Returns the root dir.
    */
  private def writeTaggedCorpus(n: Int): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"prof_lc_tagged_$n").toString
    (0 until n).map(i => s"t$i").groupBy(t => (vecId(t) % 3).toInt)
      .foreach { case (k, terms) =>
        val d = java.nio.file.Paths.get(dir, s"cls$k", "batch")
        java.nio.file.Files.createDirectories(d)
        val perFile = math.max(1, terms.size / 32 + 1)
        terms.grouped(perFile).zipWithIndex.foreach { case (chunk, fi) =>
          val blocks = chunk.grouped(20).zipWithIndex.map { case (kws, bi) =>
            s"{Title}: D${k}_${fi}_$bi\n" +
              s"{Keywords}: ${kws.mkString("; ")}\n{Year}: 2024"
          }.mkString("\n\n")
          java.nio.file.Files.write(d.resolve(s"f$fi.txt"),
            blocks.getBytes("UTF-8"))
        }
      }
    dir
  }

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(30000, 100000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val allOps = Seq(("insert", 1), ("update", 2), ("delete", 0))
    sizes.foreach { n =>
      val dir = writeTaggedCorpus(n)
      val fullIngest: () => DataFrame =
        () => graft.ingest.TaggedText.ingest(spark, s"$dir/*/*/*.txt")
      val scopedSource: Int => DataFrame =
        k => graft.ingest.TaggedText.ingest(spark, s"$dir/cls$k/*/*.txt")
      // the parse term ISOLATED (the replay totals below are
      // kernel-dominated at these universes, which itself is a finding —
      // the thunk matters when documents are heavy): full-corpus
      // parse→embed vs one class directory's, each timed twice
      (1 to 2).foreach { pass =>
        Seq("full" -> (() => EntityResolution
              .embedTermUniverse(fullIngest()).count()),
            "scoped_cls1" -> (() => EntityResolution
              .embedTermUniverse(scopedSource(1)).count()))
          .foreach { case (tag, f) =>
            val t0 = System.nanoTime()
            val rows = f()
            println(f"[profile] n=$n parse_only pass$pass $tag " +
              f"rows=$rows sec=${(System.nanoTime() - t0) / 1e9}%.2f")
          }
      }
      // pass-2 (steady-state) replay totals, emitted as one JSON line
      // per size so the campaign can commit a per-round cell
      // (bench/r16_tagged_30k.json — round-15 verdict item 7) without
      // hand-copying profile lines
      val cell = scala.collection.mutable.LinkedHashMap[String, Double]()
      def replay(variant: String, scoped: Boolean, pass: Int): Unit = {
        val tag = s"${variant}_${if (scoped) "scoped" else "full"}"
        val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
        val src = if (scoped) Some(scopedSource) else None
        val t0 = System.nanoTime()
        val advance = variant match {
          case "mow" => Lifecycle.Rewrite
          case "mor" => Lifecycle.MergeOnRead
        }
        val out = Lifecycle.run(spark,
          Lifecycle.ingested(fullIngest, dir, 24, 25, daySource = src),
          advance, s"graft_prof_lc_${n}_$tag", allOps,
          onPhase = (t, s) => phases(t) = s)
        out.write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        EntityResolution.releaseServeCaches()
        val parts = phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
        println(f"[profile] n=$n pass$pass $tag $parts total=$total%.2f")
        if (pass == 2) cell(tag) = total
      }
      println(s"== n=$n ==")
      (1 to 2).foreach { pass =>
        replay("mow", scoped = false, pass)
        replay("mow", scoped = true, pass)
        replay("mor", scoped = false, pass)
        replay("mor", scoped = true, pass)
      }
      val qs = cell.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f",
          Double.box(v))
      }.mkString("{", ",", "}")
      println(s"""{"metric":"tagged_lifecycle","n":$n,"unit":"sec","queries":$qs}""")
    }
    spark.stop()
  }
}
