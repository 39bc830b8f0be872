package graft.resolve

import org.apache.spark.sql.SparkSession

/** Dev-only job-level census of one lifecycle serve:
  * `Test/runMain graft.resolve.ProfileLifecycleJobs [sfDir]` — counts
  * Spark jobs and their wall time per lifecycle phase (round 18: the
  * replay cost at bench scale is fixed job overhead, not data; knowing
  * jobs-per-day tells us whether further fusion is worth it).
  */
object ProfileLifecycleJobs {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val bySite = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    val siteOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(e.jobId, System.nanoTime()); jobs.incrementAndGet()
          val site = e.stageInfos.headOption.map(_.name).getOrElse("?")
            .takeWhile(_ != '\n')
          siteOf.put(e.jobId, site)
          ()
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(e.jobId)).foreach { t0 =>
            val dt = System.nanoTime() - t0
            jobNanos.addAndGet(dt)
            val site = Option(siteOf.remove(e.jobId)).getOrElse("?")
            bySite.merge(site, (1, dt),
              (a, b) => (a._1 + b._1, a._2 + b._2))
          }
          ()
        }
      })
    def replay(tag: String, prefix: String): Unit = {
      val phases = scala.collection.mutable.LinkedHashMap[String, (Double, Int)]()
      var lastJobs = jobs.get()
      val t0 = System.nanoTime()
      Lifecycle.run(spark, Lifecycle.synthetic(d), Lifecycle.MergeOnRead,
        prefix, Seq(("insert", 9), ("update", 7), ("delete", 5)),
        onPhase = (t, s) => {
          val j = jobs.get(); phases(t) = (s, j - lastJobs); lastJobs = j
        })
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      EntityResolution.releaseServeCaches()
      val parts = phases.map { case (k, (sec, nj)) =>
        f"$k=$sec%.2f/${nj}j" }.mkString(" ")
      println(f"[profile] $tag $parts total=$total%.2f jobs=${jobs.get()}")
    }
    (1 to 2).foreach { p =>
      if (p == 2) bySite.clear() // histogram the steady-state pass only
      replay(s"pass$p q163", "graft_profj_q163")
    }
    println(f"[profile] cumulative in-job wall ${jobNanos.get() / 1e9}%.2fs " +
      f"across ${jobs.get()} jobs")
    import scala.jdk.CollectionConverters._
    bySite.asScala.toSeq.sortBy(-_._2._2).foreach { case (site, (n, ns)) =>
      println(f"[site] ${ns / 1e9}%6.2fs  ${n}%3dx  $site")
    }
    spark.stop()
  }
}
