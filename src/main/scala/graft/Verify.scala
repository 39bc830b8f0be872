package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // wipe stale outputs first: queries renamed/removed since a previous
    // dump would otherwise linger and show up as phantom entries in the
    // driver's checker.
    val outRoot = new java.io.File(outDir)
    if (outRoot.isDirectory) {
      // NOFOLLOW: a symlinked entry is deleted as a link, never recursed
      // into — recursing would wipe content OUTSIDE outDir.
      def rm(f: java.io.File): Unit = {
        if (java.nio.file.Files.isDirectory(f.toPath,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(); ()
      }
      Option(outRoot.listFiles()).toSeq.flatten.foreach(rm)
    }
    outRoot.mkdirs()
    // dev-only: SPARK_GRAFT_VERIFY_ONLY=q127_encode_terms,q32_... limits
    // the dump to named queries for fast single-gate iteration. The
    // driver's 2-arg invocation never sets it → full dump as before.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query persisted frames between queries — both the
      // SQL cache and RDD-level blocks it never tracks (GraphX leftovers,
      // localCheckpoint stores), same discipline as Bench: 146 queries in
      // one JVM would otherwise accumulate storage pressure
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case _: Throwable => () }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
