package graft.dedup

import org.apache.spark.sql.SparkSession
import graft.{Tables, resolve, similarity}
import org.apache.spark.sql.functions._

/** Dev-only stage decomposition of q39 (the full dedup decision):
  * times each constituent — LSH+Jaccard text pairs, IVF-blocked cosine
  * pairs, the union+distinct, GraphX CC, and the final rep join — in one
  * boot with Bench's scan settings, so the dominant term at a given SF
  * is measured rather than inferred from sweep deltas.
  * `Test/runMain graft.dedup.ProfileQ39 [sfDir]`
  */
object ProfileQ39 {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/repo/bench_sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", graft.Bench.SplitBytes.toString)
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_IVF_SPACING")
      .foreach(v => builder.config(similarity.Similarity.SpacingConf, v))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q39] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val text = timed("jaccardPairs (count)") {
      val t = Dedup.jaccardPairs(spark, d).select($"d1", $"d2")
      println(s"[q39]   text pairs = ${t.count()}")
      t
    }
    val emb = timed("cosinePairs (count)") {
      val e = Dedup.cosinePairs(spark, d)
        .select($"v1".as("d1"), $"v2".as("d2"))
      println(s"[q39]   emb pairs = ${e.count()}")
      e
    }
    val pairs = timed("union+distinct (count)") {
      val p = text.unionByName(emb).distinct()
        .select($"d1".as("u"), $"d2".as("v"))
      println(s"[q39]   distinct pairs = ${p.count()}")
      p
    }
    val verts = Tables.documents(spark, d).select($"doc_id".as("vec_id"))
    val cc = timed("GraphX CC") {
      resolve.Kernels.connectedComponents(spark, verts, pairs)
    }
    timed("rep projection + sort") {
      cc.select($"vec_id".as("doc_id"), $"component".as("rep_id"))
        .orderBy($"doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
