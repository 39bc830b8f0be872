package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.registry.Fixtures

/** Streaming tagged ingest (S4 over the flagship corpus): the fixture's
  * export files are replayed one-by-one into a watched directory — each
  * arrival is a micro-batch — and the stateful first-occurrence dedup
  * must (a) swallow the cross-file duplicate title when its second copy
  * arrives in a LATER batch, and (b) end equal to the batch ingest of
  * the same directory, row for row.
  */
class TaggedStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fixtureRoot = Paths.get(Fixtures.Root, "tagged")

  private def fixtureFiles(): Seq[Path] = {
    val s = Files.walk(fixtureRoot)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".txt")).toList
        .sortBy(_.toString)
    } finally s.close()
  }

  test("file-replayed stream ingest equals batch ingest; duplicate title emitted once") {
    val dir = Files.createTempDirectory("tagged-stream")
    val glob = s"$dir/*/*/*.txt"
    val stream = TaggedText.ingestStream(spark, glob)
    val q = stream.toDF()
      .writeStream.format("memory").queryName("tagged_stream_out")
      .outputMode("append").start()
    try {
      // the duplicate title lives in area1/papers/p1.txt (winner) and
      // area1/patents/t1.txt (a later batch in sorted replay order)
      val dupTitle = "面向领域知识图谱构建的关键技术研究"
      var seenFirstCopy = false
      for (f <- fixtureFiles()) {
        val rel = fixtureRoot.relativize(f)
        val dst = dir.resolve(rel.toString)
        Files.createDirectories(dst.getParent)
        Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
        q.processAllAvailable()
        val n = spark.table("tagged_stream_out")
          .filter($"title" === dupTitle).count()
        if (seenFirstCopy) assert(n === 1L,
          s"duplicate title re-emitted after ${rel.toString}")
        if (n == 1L) seenFirstCopy = true
      }
      assert(seenFirstCopy)
      val streamed = spark.table("tagged_stream_out")
        .select($"title", $"label", $"year_raw", $"journal",
          $"src_file", $"block_idx")
        .as[(String, String, String, String, String, Long)]
        .collect().toSet
      val batch = TaggedText.ingest(spark, glob)
        .select($"title", $"label", $"year_raw", $"journal",
          $"src_file", $"block_idx")
        .as[(String, String, String, String, String, Long)]
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
