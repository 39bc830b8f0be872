package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.BibGraph

/** Topic enrichment — the reference's classification pipeline (SURVEY.md
  * §2.9 L3, §3.3; `TopicClassfication.py:142-202`, `TopicTocsv.py:43-79`)
  * with the LLM call replaced by a deterministic classifier stub so the
  * engine stays hermetic (SURVEY §7.5 risk 5).
  *
  * Stub: topic_id = 1 + doc_id % 22, and every 37th doc yields an invalid
  * id (99) to exercise the validation path (`topic_id ∈ VALID_TOPIC_IDS`,
  * `TopicClassfication.py:180-184`) and the success/error split
  * (`TopicClassfication.py:260-299` — S8 partitioned sink,
  * [[writePartitioned]]).
  *
  * The validating join is a broadcast left join against the 22-row
  * taxonomy dim; rows that miss are status='error' — at any scale this is
  * a map-side operation.
  */
object TopicEnrichment {

  /** The classification client contract — the reference's async OpenAI
    * call (`TopicClassfication.py:151-205`): one document in, a raw
    * predicted topic id out (validation happens DOWNSTREAM, in the
    * taxonomy join — invalid ids become status='error'). Implementations
    * are called from executor tasks under [[classifyBounded]]'s
    * per-partition concurrency cap, so a real client would hold its HTTP
    * pool per partition — the `Semaphore(MAX_CONCURRENT_REQUESTS)` shape
    * (`TopicClassfication.py:212-213`), distributed.
    */
  trait TopicClassifier extends Serializable {
    def classify(docId: Long, title: String): Long
  }

  /** Deterministic stub (SURVEY §7.5 risk 5): same formula as the r3
    * Column stub — every 37th doc yields the invalid id 99 to exercise
    * the validation path.
    */
  object StubTopicClassifier extends TopicClassifier {
    def classify(docId: Long, title: String): Long =
      if (docId % 37 == 0) 99L else docId % 22 + 1
  }

  /** Run up to `maxConcurrent` client calls in flight at a time over one
    * partition's rows, emitting results in INPUT ORDER (deterministic
    * output regardless of call completion order). The reference's
    * `asyncio.Semaphore(10)` fan-out re-expressed per executor task:
    * a fixed pool of `maxConcurrent` workers fed through a sliding queue
    * — at most `maxConcurrent` calls outstanding, back-pressured by the
    * consumer.
    */
  private[enrich] def boundedOrderedMap[A, B](it: Iterator[A],
                                              maxConcurrent: Int)
                                             (f: A => B): Iterator[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // daemon threads: outside a Spark task (driver-side use, tests)
    // there is no completion listener, and an abandoned iterator would
    // otherwise strand non-daemon workers that block JVM exit
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      maxConcurrent,
      (r: Runnable) => {
        val t = new Thread(r)
        t.setDaemon(true)
        t
      })
    // the pool must die with the TASK, not with iterator exhaustion — a
    // partially-drained iterator (limit, show, downstream abort) never
    // reaches the final hasNext, and executors reuse JVMs across tasks,
    // so an un-shut-down pool would accumulate forever
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    new Iterator[B] {
      private val inFlight = scala.collection.mutable.Queue.empty[Future[B]]
      private def fill(): Unit =
        while (inFlight.size < maxConcurrent && it.hasNext) {
          val a = it.next()
          inFlight.enqueue(Future(f(a)))
        }
      def hasNext: Boolean = {
        fill()
        val more = inFlight.nonEmpty
        if (!more) pool.shutdown()
        more
      }
      def next(): B = {
        fill()
        try Await.result(inFlight.dequeue(), Duration.Inf)
        catch { case e: Throwable => pool.shutdownNow(); throw e }
      }
    }
  }

  /** The L3 enrichment operator (SURVEY §3.3): append the client's raw
    * `topic_id` to every document row via `mapPartitions`, with at most
    * `maxConcurrent` in-flight calls per partition. Input needs `doc_id`
    * and `title` columns; all columns pass through.
    */
  def classifyBounded(docs: DataFrame, client: TopicClassifier,
                      maxConcurrent: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val outSchema = docs.schema.add("topic_id", LongType)
    val idIdx = docs.schema.fieldIndex("doc_id")
    val titleIdx = docs.schema.fieldIndex("title")
    docs.mapPartitions { rows =>
      boundedOrderedMap(rows, maxConcurrent) { r =>
        val id = r.getLong(idIdx)
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ client.classify(id, r.getString(titleIdx)))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Classifier output + validating join: every document with its raw
    * predicted id, validation status, and the resolved (cleaned) topic
    * name — name corrected from id as in the reference
    * (`TopicClassfication.py:186-190`). The prediction runs through the
    * bounded-concurrency operator with the deterministic stub client, so
    * q81/q82 hash-match the same oracle as the pure-Column formulation.
    */
  def classified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // project BEFORE the mapPartitions barrier: the Row encoder would
    // otherwise drag every docs column (abstract + three arrays) through
    // per-row encode/decode that Catalyst cannot prune past
    // the stub never throws, but routing it through the policy keeps the
    // retry wiring on the oracle-gated path — a real client drops in with
    // the reference's 5-attempt/4-60s schedule already applied
    classifyBounded(
      BibGraph.docs(s, d).select($"doc_id", $"title", $"ref_type", $"label"),
      RetryingClassifier(StubTopicClassifier, RetryPolicy()), maxConcurrent = 10)
      .join(broadcast(Taxonomy.df(s).select($"id", $"topic_name")),
        $"id" === $"topic_id".cast("int"), "left")
      .select($"title", $"ref_type", $"label", $"topic_id",
        when($"id".isNull, lit("error")).otherwise(lit("ok")).as("status"),
        trim(regexp_replace($"topic_name", "\\s*\\(.*?\\)", "")).as("topic"))
  }

  /** S8: success/error partitioned JSON sink for classification output. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("status").json(path)
}
