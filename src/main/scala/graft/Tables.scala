package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md).
  *
  * Every query in the engine takes `(SparkSession, sfDir)` and reads only
  * through here, so filters/projections compose on top of the parquet scan
  * and Catalyst pushes them down (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** One row per file (`value`: the whole text) under a path or glob.
    * The glob is expanded on the driver and the explicit file list is
    * read: a single glob path makes the file source probe it as a
    * directory for streaming-sink metadata, which fails and logs a stack
    * trace on every read. A glob matching nothing is read as given, so it
    * still fails with Spark's PATH_NOT_FOUND.
    */
  def wholeTextFiles(s: SparkSession, pathOrGlob: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(pathOrGlob)
    val fs = path.getFileSystem(s.sessionState.newHadoopConf())
    val matched =
      Option(fs.globStatus(path)).toSeq.flatten.map(_.getPath.toString)
    s.read.option("wholetext", "true")
      .text((if (matched.isEmpty) Seq(pathOrGlob) else matched): _*)
  }
}
