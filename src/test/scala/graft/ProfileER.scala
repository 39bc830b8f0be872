package graft

import org.apache.spark.sql.SparkSession

/** Dev-only micro-profiler for the entity-resolution stages:
  * `Test/runMain graft.ProfileER [sfDir]`.
  */
object ProfileER {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](n: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(s"[profile] $n: ${(System.nanoTime() - t0) / 1e9}s"); r
    }
    val p = resolve.Kernels.epsPairs(spark, d)
    time("epsPairs count (cold)")(println("pairs=" + p.count()))
    time("epsPairs count (warm)")(p.count())
    time("resolve count")(println("verts=" +
      resolve.EntityResolution.resolve(spark, d).count()))
    time("resolve again")(resolve.EntityResolution.resolve(spark, d).count())
    spark.stop()
  }
}
