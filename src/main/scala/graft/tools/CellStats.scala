package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev diagnostic: IVF cell-population distribution (count, min/max/mean
  * population, implied within-cell pair count) for the current sizing
  * config — the number that decides whether blocked pair generation is
  * balanced or skew-bound. Not part of the engine; mirrors Bench's env
  * contract (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_IVF_SPACING`).
  */
object CellStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_IVF_SPACING")
      .foreach(v => builder.config(graft.similarity.Similarity.SpacingConf, v))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pops = graft.similarity.Similarity.ivfAssigned(spark, sfDir)
      .groupBy("cid").count()
    val stats = pops.agg(
      count(lit(1)).as("n_cells"),
      min("count").as("min_pop"), max("count").as("max_pop"),
      avg("count").as("mean_pop"),
      sum(col("count") * (col("count") - 1) / 2).as("pairs"))
      .collect()(0)
    val top = pops.orderBy(desc("count")).limit(10).collect()
      .map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
    println(s"cells=${stats.get(0)} min=${stats.get(1)} max=${stats.get(2)} " +
      f"mean=${stats.getDouble(3)}%.1f pairs=${stats.get(4)} top10=[$top]")
    // the ε-graph the blocked analytics queries (q52/q53/q54) traverse:
    // its edge count is what replica-style scale-up inflates quadratically
    if (sys.env.contains("SPARK_GRAFT_EDGE_COUNT"))
      println(s"blocked_eps_edges=" +
        graft.resolve.Kernels.blockedEpsPairs(spark, sfDir).count())
    spark.stop()
  }
}
