package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming._
import graft.streaming.Events._

/** The event-stream family over [[graft.streaming.Events]]: as-of and
  * range joins, windows, sessions, first-event dedup and JSON props. */
object EventLog extends Family {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows per event type: count + integer-cents sum.
    "q55_tumbling_windows" -> ((s, d) => {
      import s.implicits._
      load(s, d)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("value_cents"))
        .select(unix_micros($"w.start").as("window_start_us"),
          $"event_type", $"n", $"value_cents")
        .orderBy($"window_start_us", $"event_type")
    }),

    // Gap-based sessionization: a session breaks after >30 min idle.
    "q56_sessionization" -> ((s, d) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      load(s, d)
        .withColumn("prev_us", lag($"ts_us", 1).over(byUser))
        .withColumn("brk",
          when($"prev_us".isNull ||
            $"ts_us" - $"prev_us" > SessionGapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum($"brk").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(min($"ts_us").as("start_us"),
          max($"ts_us").as("end_us"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"session_id")
    }),

    // Rolling 3-row sum per user in event-time order (sliding frame —
    // the per-key running-metric shape; integer cents).
    "q58_rolling_sum" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        .rowsBetween(-2, Window.currentRow)
      load(s, d)
        .withColumn("value_cents", round($"value" * 100).cast("long"))
        .withColumn("movsum_cents", sum($"value_cents").over(w))
        .select($"user_id", $"event_id", $"value_cents", $"movsum_cents")
        .orderBy($"user_id", $"event_id")
    }),

    // Semi-structured props: parse the JSON payload column with an
    // explicit schema (from_json — codegen'd, no UDF) and aggregate the
    // extracted field (§2.7 json scalar coverage).
    "q59_json_props" -> ((s, d) => {
      import s.implicits._
      load(s, d)
        .withColumn("k", from_json($"props",
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    }),

    // As-of join — an operator Spark lacks natively: each purchase matched
    // to the same user's most recent click at-or-before it (LEFT semantics:
    // purchases with no prior click keep NULLs). Spark-first shape: union
    // both sides tagged, ONE shuffle on user_id, then a running
    // last(..., ignoreNulls) window — no per-probe range join, no
    // BroadcastNestedLoopJoin. At equal ts_us the click sorts before the
    // purchase (is_probe false < true), giving inclusive at-or-before —
    // the same tie rule as the oracle's ASOF `>=`. Scale: sort-merge per
    // user key, linear per-user scan; hot-user skew is bounded by that
    // user's own event count (no cross product).
    "q44_asof_join" -> ((s, d) => {
      import s.implicits._
      val tagged = load(s, d)
        .filter($"event_type".isin("purchase", "click"))
        .select($"user_id", $"ts_us", $"event_id",
          ($"event_type" === "purchase").as("is_probe"),
          when($"event_type" === "click", $"event_id").as("c_id"),
          when($"event_type" === "click", $"ts_us").as("c_ts"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts_us", $"is_probe", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("click_id", last($"c_id", ignoreNulls = true).over(w))
        .withColumn("click_ts", last($"c_ts", ignoreNulls = true).over(w))
        .filter($"is_probe")
        .select($"event_id".as("purchase_id"), $"user_id",
          $"ts_us".as("purchase_ts_us"), $"click_id",
          ($"ts_us" - $"click_ts").as("gap_us"))
        .orderBy($"purchase_id")
    }),

    // Range join via interval bucketing — the other join Spark lacks a
    // native operator for: all pairs of same-user events within ±5
    // minutes. Naively this is an inequality join (BNLJ); bucketed, each
    // probe row explodes into its 3 neighbor 5-minute buckets and the
    // pair join becomes an equi hash join on (user_id, bucket) with the
    // exact |Δts| predicate applied after. A qualifying pair matches in
    // exactly one of the 3 neighbor buckets (the build row's own), so no
    // dedup pass is needed. Scale: fan-out is a constant 3×, the shuffle
    // key is (user, bucket) — time-skew spreads across buckets instead of
    // concentrating in one task.
    "q45_range_join" -> ((s, d) => {
      import s.implicits._
      val BucketUs = 300000000L // 5 min — bucket width = the range radius
      val ev = load(s, d)
        .select($"user_id", $"event_id", $"ts_us",
          expr(s"ts_us DIV $BucketUs").as("bucket"))
      val probe = ev.withColumn("nb",
        explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)))
      probe.as("a")
        .join(ev.withColumnRenamed("bucket", "nb").as("b"),
          $"a.user_id" === $"b.user_id" && $"a.nb" === $"b.nb" &&
            $"a.event_id" < $"b.event_id")
        .filter(abs($"a.ts_us" - $"b.ts_us") <= BucketUs)
        .select($"a.event_id".as("e1"), $"b.event_id".as("e2"),
          $"a.user_id".as("user_id"),
          ($"b.ts_us" - $"a.ts_us").as("delta_us"))
        .orderBy($"e1", $"e2")
    }),

    // Streaming-dedup batch analog: first event per (user_id, event_type)
    // in event-time order — what watermarked dropDuplicates keeps.
    "q57_dedup_first_event" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts_us", $"event_id")
      load(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_type",
          $"event_id".as("first_event_id"), $"ts_us")
        .orderBy($"user_id", $"event_type")
    })
  )

  def oracles: Map[String, String] = Map(
    "q55_tumbling_windows" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q56_sessionization" ->
      """WITH x AS (
           SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_us
           FROM events),
         b AS (
           SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk
           FROM x),
         sess AS (
           SELECT user_id, ts_us,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM b)
         SELECT user_id, session_id, min(ts_us) AS start_us,
           max(ts_us) AS end_us, count(*) AS n_events
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""",
    "q58_rolling_sum" ->
      """SELECT user_id, event_id,
           CAST(round(value * 100) AS BIGINT) AS value_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS movsum_cents
         FROM events ORDER BY user_id, event_id""",
    "q59_json_props" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The oracle is the NAIVE inequality join — DuckDB runs it as an
    // IEJoin; the Spark side's bucketed rewrite must reproduce it exactly.
    "q45_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                    FROM events)
         SELECT a.event_id AS e1, b.event_id AS e2, a.user_id,
                b.ts_us - a.ts_us AS delta_us
         FROM e a JOIN e b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(a.ts_us - b.ts_us) <= 300000000
         ORDER BY e1, e2""",
    // DuckDB's native ASOF LEFT JOIN — inclusive `>=` matches the Spark
    // side's clicks-first tie ordering; the fixture has zero duplicate
    // (user_id, epoch_us) click keys at every sf, so the match is unique.
    "q44_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
                      epoch_us(ts) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
            c AS (SELECT event_id AS click_id, user_id,
                      epoch_us(ts) AS c_ts
                    FROM events WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, p.ts_us AS purchase_ts_us,
                c.click_id, p.ts_us - c.c_ts AS gap_us
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts_us >= c.c_ts
         ORDER BY purchase_id""",
    "q57_dedup_first_event" ->
      """SELECT user_id, event_type, event_id AS first_event_id, ts_us
         FROM (
           SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type"""
  )
}
