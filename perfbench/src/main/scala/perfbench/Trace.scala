package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `kind` is "op" (one client operation), "call" (one
  * public engine call made by the harness) or "job" (one Spark job).
  * Times are nanoseconds on the JVM's monotonic clock.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
                      name: String, start: Long, end: Long,
                      attrs: Map[String, Any])

/** In-memory span recorder. Spans are appended as they close and written
  * once, when the run ends. When disabled, [[op]] and [[call]] only run
  * their body, so an untraced run pays nothing but a branch.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  // open spans of the single client thread, innermost last
  @volatile private var open: List[(Long, Long)] = Nil // (span id, op id)
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) context.addSparkListener(new JobListener(this))
  }

  def all: Seq[Span] = synchronized(spans.toList)

  private[perfbench] def add(sp: Span): Unit = synchronized(spans += sp)

  /** Innermost open span: (span id, op id), or (0, 0). */
  private[perfbench] def current: (Long, Long) = open.headOption.getOrElse((0L, 0L))

  /** Whether `id` is a span that is still open. */
  private[perfbench] def isOpen(id: Long): Boolean = open.exists(_._1 == id)

  private def within[T](kind: String, name: String)(body: => T): T = {
    val e0 = System.nanoTime()
    val id = nextId.getAndIncrement()
    val (parent, parentOp) = current
    val op = if (kind == "op") id else parentOp
    val prevGroup = Option(sc).flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
    open = (id, op) :: open
    Option(sc).foreach(_.setJobGroup(s"pb-$id", name, interruptOnCancel = false))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      Option(sc).foreach { c =>
        prevGroup match {
          case Some(g) => c.setLocalProperty("spark.jobGroup.id", g)
          case None => c.clearJobGroup()
        }
      }
      add(Span(id, parent, op, kind, name, t0, t1, Map.empty))
      busy.addAndGet((t0 - e0) + (System.nanoTime() - t1))
    }
  }

  /** Time one client operation (a span of kind "op" when tracing). */
  def op[T](name: String)(body: => T): T =
    if (enabled) within("op", name)(body) else body

  /** Time one public engine call made by the harness. */
  def call[T](name: String)(body: => T): T =
    if (enabled) within("call", name)(body) else body

  private[perfbench] def newId(): Long = nextId.getAndIncrement()

  /** Time spent on tracing: the client thread's span bookkeeping and job
    * groups, plus the listener's handling of Spark events.
    */
  private[perfbench] val busy = new java.util.concurrent.atomic.AtomicLong()
  def busyNs: Long = busy.get()
}

/** Turns every Spark job into a child span. The parent comes from the job
  * group the tracer set before the call; a job submitted from an engine
  * pool thread may carry a stale or missing group, so then the innermost
  * open span at job start is the parent, and the job keeps its call site
  * (the result stage's name, e.g. `save at BucketedStore.scala:45`) so
  * the layer can be read from the module file that submitted it.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  private final class Acc(val start: Long, val parent: Long, val op: Long,
                          val callSite: String, val stages: Set[Int]) {
    var taskNs = 0L; var inputB = 0L; var shuffleB = 0L; var outputB = 0L
    var tasks = 0L
  }
  private val jobs = mutable.Map.empty[Int, Acc]
  private val stageToJob = mutable.Map.empty[Int, Int]

  /** The job's call site: the result stage's short form, and the frames of
    * its long form, innermost first. A job submitted from a pool thread has
    * a short form in the JDK's future machinery; its long form still holds
    * the engine frames that submitted it.
    */
  private def callSite(e: SparkListenerJobStart): String = {
    val stage = e.stageInfos.sortBy(-_.stageId).headOption.toSeq
      .flatMap(st => st.name +: Option(st.details).toSeq)
    // a SQL action that Spark runs on its own thread keeps the caller's
    // frames in its execution's call site
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong)).toSeq
    (exec ++ stage).flatMap(_.split("\n")).map(_.trim).filter(_.nonEmpty)
      .mkString("\n")
  }

  private val execSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timed(execSites(x.executionId) = x.description + "\n" + x.details)
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      timed(execSites.remove(x.executionId))
    case _ =>
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    tracer.busy.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val now = System.nanoTime()
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toLong)
    val (cur, curOp) = tracer.current
    val parent = group.filter(tracer.isOpen).getOrElse(cur)
    val site = callSite(e)
    jobs(e.jobId) = new Acc(now, parent, curOp, site, e.stageIds.toSet)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    for (j <- stageToJob.get(e.stageId); acc <- jobs.get(j) if m != null) {
      acc.tasks += 1
      acc.taskNs += m.executorRunTime * 1000000L
      acc.inputB += m.inputMetrics.bytesRead
      acc.shuffleB += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      acc.outputB += m.outputMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    val now = System.nanoTime()
    jobs.remove(e.jobId).foreach { a =>
      a.stages.foreach(stageToJob.remove)
      tracer.add(Span(tracer.newId(), a.parent, a.op, "job", a.callSite,
        a.start, now, Map("job_id" -> e.jobId, "tasks" -> a.tasks,
          "task_ns" -> a.taskNs, "input_bytes" -> a.inputB,
          "shuffle_bytes" -> a.shuffleB, "output_bytes" -> a.outputB,
          "ok" -> (e.jobResult == JobSucceeded))))
    }
  }
}
