package graft.queries

import graft.core.Tables
import graft.functions.Ema
import graft.ops.AsofJoin
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream queries (SURVEY §2.8 batch analogs + A7 EMA + J7 as-of).
  * The T queries call the Structured Streaming definitions
  * (graft.streaming) on a batch read, so the oracle checks them.
  */
object QEvents {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T2: count-based interval trigger — every-250-steps buckets
    // (reference train/train_CATVTON/config.py:18-22).
    "t2_step_buckets" -> ((s, d) => Streaming.stepBuckets(t(s, d, "events"))),

    // T2: time-tumbling window (1 hour) — Structured Streaming window
    // shape; a batch plan drops the watermark node.
    "t2_time_window" -> ((s, d) => Streaming.timeWindowed(t(s, d, "events"))),

    // T3: resume state — max step + totals per run
    // (reference train/train_CATVTON/utils.py:91-134).
    "t3_resume_state" -> ((s, d) => Streaming.resumeState(t(s, d, "events"))),

    // A7/U5: order-sensitive EMA (reference train/train_DIT/utils.py:19-25),
    // decay 0.9, via the closed-form window+aggregate — fully codegen'd.
    // The custom EmaAggregator and the sortedFold mapPartitions variant
    // compute the same value (asserted equal in EmaSpec); this is the plan
    // that survives unbounded groups at 100 TB.
    "a7_ema" -> ((s, d) =>
      Ema.closedForm(t(s, d, "events"), "user_id", "event_id", "value", 0.9)
        .select(col("user_id"), round(col("ema"), 6).as("ema"))),

    // J7: as-of join — for each event, the latest purchase value at or
    // before it for the same user (union + window, no range-join blowup).
    "j7_asof" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.asof(ev, purchases, "user_id", "ts", "ts", "value")
        .select(col("event_id"), col("user_id"), col("asof_value"))
    }),

    // A9: last-write-wins dedup (dict-keying semantics,
    // reference train/common/dataset.py:138). Tie-break on `value` pins a
    // total order even if (user_id, event_type, event_id) were ever
    // duplicated — event_id alone would leave `value` shuffle-dependent.
    "a9_lww_dedup" -> ((s, d) =>
      graft.ops.TopK.latestPerGroup(t(s, d, "events"),
        Seq(col("user_id"), col("event_type")), col("event_id"), col("value"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))),

    // T7: gap-based sessionization — events more than 8 h apart start a new
    // session per user (batch twin of Structured Streaming session_window;
    // the 8 h gap splits this table's ~7 h median inter-event spacing into
    // multi-session users). Deterministic: boundaries depend only on sorted
    // timestamp values.
    "t7_sessionize" -> ((s, d) =>
      graft.ops.Sessionize.sessions(t(s, d, "events"),
        "user_id", "ts", "event_id", 8 * 3600L, col("value"))),

    // T8: strict-order FUNNEL (earliest-chain) — per user, when each stage
    // of view → click → signup → purchase was first reached given every
    // earlier stage happened strictly before. One filtered aggregate +
    // key-equi-join per stage; never a self-join of the raw log.
    "t8_funnel" -> ((s, d) =>
      graft.ops.Sessionize.funnel(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "signup", "purchase"))),

    // T8b: the conversion chart over t8 — keys reaching each stage.
    "t8b_funnel_counts" -> ((s, d) =>
      graft.ops.Sessionize.funnelCounts(t(s, d, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "signup", "purchase"))),

    // T9: day-granularity cohort retention — users cohorted by first-event
    // day, per (cohort_day, day_offset) active fraction.
    "t9_retention" -> ((s, d) =>
      graft.ops.Sessionize.retention(t(s, d, "events"), "user_id", "ts")
        // DATE → 'yyyy-MM-dd' string for the cross-engine hash compare
        // (pandas reads Spark DATE as date objects but DuckDB DATEs as
        // datetime64 — same value, different dtype)
        .withColumn("cohort_day", col("cohort_day").cast("string"))))

  def oracle: Map[String, String] = Map(
    "t2_step_buckets" ->
      """SELECT CAST(floor(event_id / 250) AS BIGINT) AS bucket,
                count(*) AS cnt, round(sum(value), 4) AS sum_value,
                round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1""",
    "t2_time_window" ->
      """SELECT date_trunc('hour', ts::TIMESTAMP) AS hour_start, count(*) AS cnt,
                round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1""",
    "t3_resume_state" ->
      """SELECT user_id, max(event_id) AS max_step, count(*) AS n_events,
                round(sum(value), 4) AS total_value
         FROM events GROUP BY user_id""",
    "a7_ema" ->
      """WITH t AS (
           SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n
           FROM events)
         SELECT user_id,
                round(sum(CASE WHEN rn = 1 THEN power(0.9, n - 1) * value
                               ELSE 0.1 * power(0.9, n - rn) * value END), 6) AS ema
         FROM t GROUP BY user_id""",
    "j7_asof" ->
      """SELECT e.event_id, e.user_id, p.value AS asof_value
         FROM events e ASOF LEFT JOIN (
           SELECT user_id, ts::TIMESTAMP AS pts, value FROM events
           WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts::TIMESTAMP >= p.pts""",
    "a9_lww_dedup" ->
      """SELECT user_id, event_type, event_id, value FROM (
           SELECT user_id, event_type, event_id, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY event_id DESC, value DESC) AS rn
           FROM events) WHERE rn = 1""",
    "t7_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, value, ts::TIMESTAMP AS ts
                    FROM events),
              f AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 28800000000
                      THEN 1 ELSE 0 END AS ns
                    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
                    FROM f)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                count(*) AS n_events, min(ts) AS session_start,
                max(ts) AS session_end, round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_idx""",
    "t8_funnel" -> funnelSql,
    "t9_retention" ->
      """WITH o AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
              f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
                    FROM o GROUP BY 1),
              a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM o),
              cs AS (SELECT cohort_day, count(*) AS cohort_size
                     FROM f GROUP BY 1)
          SELECT CAST(j.cohort_day AS VARCHAR) AS cohort_day,
                 CAST(datediff('day', j.cohort_day, j.day) AS INT) AS day_offset,
                 count(*) AS n_active, cohort_size,
                 round(count(*)::DOUBLE / cohort_size, 6) AS retention
          FROM (SELECT f.cohort_day, a.day, a.user_id
                FROM a JOIN f USING (user_id)) j
          JOIN cs USING (cohort_day)
          GROUP BY 1, 2, cohort_size""",
    "t8b_funnel_counts" ->
      s"""WITH f AS ($funnelSql),
              x AS (SELECT unnest(range(1, stages_reached + 1)) AS stage_idx
                    FROM f)
          SELECT CAST(stage_idx AS BIGINT) AS stage_idx,
                 count(*) AS n_keys,
                 CASE stage_idx WHEN 1 THEN 'view' WHEN 2 THEN 'click'
                   WHEN 3 THEN 'signup' ELSE 'purchase' END AS stage
          FROM x GROUP BY stage_idx""")

  private val funnelSql =
    """WITH o AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
            s1 AS (SELECT user_id, min(ts) AS t_view FROM o
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT o.user_id, min(ts) AS t_click FROM o
                   JOIN s1 USING (user_id)
                   WHERE event_type = 'click' AND ts > t_view GROUP BY 1),
            s3 AS (SELECT o.user_id, min(ts) AS t_signup FROM o
                   JOIN s2 USING (user_id)
                   WHERE event_type = 'signup' AND ts > t_click GROUP BY 1),
            s4 AS (SELECT o.user_id, min(ts) AS t_purchase FROM o
                   JOIN s3 USING (user_id)
                   WHERE event_type = 'purchase' AND ts > t_signup GROUP BY 1)
       SELECT s1.user_id, t_view, t_click, t_signup, t_purchase,
              CAST((t_view IS NOT NULL)::INT + (t_click IS NOT NULL)::INT
                + (t_signup IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT
                AS INT) AS stages_reached
       FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       LEFT JOIN s4 USING (user_id)"""
}
