package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sessions are expensive;
  * ScalaTest suites run sequentially in the forked JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** sf0.001 fixture dir — the smallest scale, for cheap integration tests. */
  val TinySf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it submitted. A
    * listener counts job starts under a job group; listener events arrive
    * in order, so once a later marker job's end is seen, every job start
    * of `body` has been counted.
    */
  def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft_counted") => jobs.incrementAndGet()
          case Some("graft_counted_marker") => markerJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft_counted", "counted body")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft_counted_marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener barrier job never ended")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
