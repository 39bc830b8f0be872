package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables

/** Streaming extension over the `events` fixture (BASELINE north star;
  * SURVEY.md §2.10 — the reference itself has no streams, its ijson
  * incremental ingest maps to `readStream`).
  *
  * Two layers:
  *  - batch analogs (q44-q45, q55-q59) registered in the oracle gate —
  *    as-of join, bucketed range join, tumbling windows, gap-based
  *    sessionization, rolling sums, JSON props, first-event dedup. These
  *    define the semantics the streaming shapes must agree with.
  *  - true Structured Streaming shapes ([[tumblingCountsStream]],
  *    [[dedupFirstStream]], [[sessionCountsStream]]) used with any
  *    streaming source (MemoryStream in tests, `readStream` in prod) —
  *    watermarked so state is bounded.
  *
  * Determinism contract: timestamps are compared as `unix_micros` BIGINTs
  * (DuckDB `epoch_us`) — no timezone rendering in the hash; money sums are
  * integer cents.
  *
  * Scale notes: tumbling-window agg is one shuffle on (window, type) with
  * partial aggregation; sessionization shuffles once on user_id and then
  * runs a linear scan per user (Window + running sum); streaming state for
  * dedup/windows is pruned by the 1-hour watermark — at 100 TB/day the
  * keys-per-watermark-horizon bound the state store.
  */
object Events {

  private[graft] val SessionGapUs = 1800000000L // 30 min

  /** The `events` parquet has shipped `ts` in two physical forms across
    * driver fixture generations: TIMESTAMP(NANOS), which Spark only reads
    * as BIGINT nanos (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * Verify/Bench/tests), and TIMESTAMP(MICROS) without UTC adjustment,
    * which reads as TIMESTAMP_NTZ. Normalize EITHER to exact micros + a
    * proper timestamp column, branching on the dtype actually read —
    * integer `DIV` on the nanos path, never double division (nanos exceed
    * a double's 53-bit mantissa). The NTZ cast interprets wall-clock in
    * the session timezone, which Verify/Bench/tests pin to UTC — the same
    * reading DuckDB's `epoch_us(ts)` gives the oracle.
    */
  private[graft] def load(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.events(s, d)
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000 AS BIGINT)")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  // ------------------------------------------------------------------
  // True Structured Streaming shapes (tested via MemoryStream; attach to
  // spark.readStream sources in production). Input schema must contain
  // ts:timestamp plus the referenced columns.
  // ------------------------------------------------------------------

  /** S4 streaming JSON source (the reference's ijson incremental parse,
    * `TopicClassfication.py:232-245`, re-expressed as Structured
    * Streaming): new JSON files under `dir` stream in with an explicit
    * schema (required for streaming reads).
    */
  def readJsonStream(s: SparkSession, dir: String, schemaDDL: String): DataFrame =
    s.readStream.schema(schemaDDL).json(dir)

  /** Watermarked tumbling-window counts — append-mode capable. */
  def tumblingCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Watermarked streaming dedup: keep the first (user_id, event_type)
    * arrival; late duplicates beyond the watermark are dropped by state
    * eviction — the streaming twin of q57.
    */
  def dedupFirstStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Session windows (30-min gap) per user — the streaming twin of q56. */
  def sessionCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))

  /** Stream-stream interval join — Spark-NATIVE streaming range join:
    * each purchase joined to the same user's clicks within the preceding
    * 10 minutes. Both sides carry watermarks and the join has an explicit
    * event-time range, which is exactly what lets Structured Streaming
    * bound BOTH state stores (clicks older than watermark + range are
    * evicted; purchases likewise) — the streaming twin of q45's bucketed
    * batch range join. Inner semantics: purchases with no click in range
    * produce no row.
    *
    * Input schemas: user_id LONG, ts TIMESTAMP, event_id LONG.
    */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes").alias("c")
    val p = purchases.withWatermark("ts", "10 minutes").alias("p")
    p.join(c, expr(
      """c.user_id = p.user_id AND
         c.ts BETWEEN p.ts - INTERVAL 10 MINUTES AND p.ts"""))
      .select(col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"), col("p.user_id").as("user_id"),
        col("p.ts").as("purchase_ts"), col("c.ts").as("click_ts"))
  }

  /** State for [[asOfStream]]: the most recent click per user — O(1). */
  case class AsOfState(clickTs: Long, clickId: Long)
  case class AsOfIn(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  case class AsOfOut(purchase_id: Long, user_id: Long, purchase_ts_us: Long,
      click_id: Option[Long], gap_us: Option[Long])

  /** Streaming twin of the q44 as-of join, via `flatMapGroupsWithState`
    * custom state: per user, the state holds the most recent click; each
    * purchase emits its match (LEFT semantics — no prior click → Nones).
    * Within a micro-batch, events are processed in (ts_us, clicks-first,
    * event_id) order — the same tie rule as q44; across batches the state
    * is monotonic (a late click older than the held one never replaces
    * it), so an in-order source reproduces q44 exactly, and out-of-order
    * purchases degrade to best-state-seen (the inherent streaming
    * approximation — bound it with a watermark upstream). Also runs in
    * BATCH mode (state empty, one iterator per user), where it must equal
    * q44 exactly — asserted in `EventsStreamSpec`.
    *
    * Input schema: user_id LONG, ts TIMESTAMP, event_id LONG,
    * event_type STRING.
    */
  def asOfStream(events: DataFrame): Dataset[AsOfOut] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[AsOfIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AsOfIn], state: GroupState[AsOfState]) =>
          val out = Seq.newBuilder[AsOfOut]
          var st = state.getOption
          it.toSeq
            .sortBy(e => (e.ts_us, e.event_type != "click", e.event_id))
            .foreach { e =>
              if (e.event_type == "click") {
                // strictly-newer, with the batch rule's event_id tiebreak
                // on equal ts — an equal-ts click arriving in a LATER
                // micro-batch must not displace a larger-id click, or
                // in-order replay would diverge from q44.
                if (st.forall(p => e.ts_us > p.clickTs ||
                    (e.ts_us == p.clickTs && e.event_id > p.clickId)))
                  st = Some(AsOfState(e.ts_us, e.event_id))
              } else if (e.event_type == "purchase")
                out += AsOfOut(e.event_id, user, e.ts_us,
                  st.map(_.clickId), st.map(p => e.ts_us - p.clickTs))
            }
          st.foreach(state.update)
          out.result().iterator
      }
  }
}
