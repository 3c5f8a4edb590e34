package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Event-stream queries (SURVEY.md §2 rows 31-33), batch form — the
  * streaming variants run the same transforms (see StreamOps + specs).
  */
object QueriesStreaming extends QueryModule {

  def windowAggQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .windowAgg(Tables(spark, dir, "events"))
      .orderBy(col("w_start"), col("event_type"))

  val windowAggSql: String =
    """SELECT date_trunc('hour', ts) AS w_start, event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def sessionizeQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .sessionize(Tables(spark, dir, "events"))
      .orderBy(col("user_id"), col("session_idx"))

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |  FROM e
      |)
      |SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val topK = 3

  def topkEventsQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .topkEvents(Tables(spark, dir, "events"), topK)
      .orderBy(col("day"), col("rnk"))

  val topkEventsSql: String =
    s"""SELECT day, rnk, user_id, total FROM (
       |  SELECT day, user_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY day ORDER BY tot DESC, user_id) AS INT) AS rnk,
       |    CAST(tot AS DOUBLE) AS total
       |  FROM (SELECT date_trunc('day', ts) AS day, user_id,
       |          SUM(CAST(value AS DECIMAL(38,6))) AS tot
       |        FROM events GROUP BY 1, 2)
       |) WHERE rnk <= $topK
       |ORDER BY day, rnk""".stripMargin

  def intervalJoinQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .intervalJoin(Tables(spark, dir, "events"))
      .orderBy(col("click_id"), col("purchase_id"))

  val intervalJoinSql: String =
    """SELECT a.user_id AS user_id, a.event_id AS click_id, b.event_id AS purchase_id,
      |  a.ts AS click_ts, b.ts AS purchase_ts
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Hot-key aggregation through the salted two-phase plan: event_type
    * has 5 distinct values — the classic all-keys-hot case — so the
    * direct groupBy would land the whole table on 5 reducers; the
    * salted plan spreads each key over 32 salt buckets first. The
    * oracle is the plain GROUP BY: results must be identical.
    */
  def skewAggQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew
      .saltedCountSum(Tables(spark, dir, "events"), Seq("event_type"), "value", 32)
      .orderBy(col("event_type"))

  val skewAggSql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def asofJoinQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .asofJoin(Tables(spark, dir, "events"))
      .orderBy(col("purchase_id"))

  val asofJoinSql: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |), m AS (
      |  SELECT user_id, ts, event_id, kind,
      |    LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER w AS c_id,
      |    LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS) OVER w AS c_ts
      |  FROM t
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
      |               ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
      |  CASE WHEN c_ts >= ts - INTERVAL 30 MINUTE THEN c_id END AS click_id,
      |  CASE WHEN c_ts >= ts - INTERVAL 30 MINUTE THEN c_ts END AS click_ts
      |FROM m WHERE kind = 1
      |ORDER BY purchase_id""".stripMargin

  def latestSnapshotQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .latestSnapshot(Tables(spark, dir, "events"))
      .orderBy(col("user_id"))

  val latestSnapshotSql: String =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  def funnelCountQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps.funnel(Tables(spark, dir, "events"))

  val funnelCountSql: String =
    """WITH u1 AS (SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t1
      |            FROM events GROUP BY 1),
      |u2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |       JOIN u1 ON u1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1),
      |u3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |       JOIN u2 ON u2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1),
      |c AS (SELECT
      |  (SELECT COUNT(t1) FROM u1) AS view_users,
      |  (SELECT COUNT(*) FROM u2) AS click_users,
      |  (SELECT COUNT(*) FROM u3) AS purchase_users)
      |SELECT view_users, click_users, purchase_users,
      |  CAST(click_users AS DOUBLE) / CAST(view_users AS DOUBLE) AS click_rate,
      |  CAST(purchase_users AS DOUBLE) / CAST(view_users AS DOUBLE) AS purchase_rate
      |FROM c""".stripMargin

  val retentionMaxOffset = 7

  def cohortRetentionQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .cohortRetention(Tables(spark, dir, "events"), retentionMaxOffset)
      .orderBy(col("cohort_day"), col("day_offset"))

  val cohortRetentionSql: String =
    s"""WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
       |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
       |SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
       |  COUNT(*) AS users
       |FROM a JOIN c ON a.user_id = c.user_id
       |WHERE date_diff('day', c.cohort_day, a.day) <= $retentionMaxOffset
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def slidingAggQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .slidingAgg(Tables(spark, dir, "events"))
      .orderBy(col("w_start"), col("event_type"))

  /** Each event belongs to exactly two 1h/30min hop windows: the one
    * starting at its 30-min bucket and the one 30 min earlier (both
    * engines' window origins are 30-min-aligned to the epoch).
    */
  val slidingAggSql: String =
    """SELECT w_start, event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start, event_type, value FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE AS w_start, event_type, value FROM events
      |)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def scd2HistoryQ(spark: SparkSession, dir: String): DataFrame =
    StreamOps
      .scd2History(Tables(spark, dir, "events"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))

  val scd2HistorySql: String =
    """SELECT user_id, event_id, event_type, value, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM events
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scd2_history" -> (scd2HistoryQ _),
    "sliding_agg" -> (slidingAggQ _),
    "funnel_count" -> (funnelCountQ _),
    "cohort_retention" -> (cohortRetentionQ _),
    "asof_join" -> (asofJoinQ _),
    "latest_snapshot" -> (latestSnapshotQ _),
    "window_agg" -> (windowAggQ _),
    "sessionize" -> (sessionizeQ _),
    "topk_events" -> (topkEventsQ _),
    "interval_join" -> (intervalJoinQ _),
    "skew_agg" -> (skewAggQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "scd2_history" -> scd2HistorySql,
    "sliding_agg" -> slidingAggSql,
    "funnel_count" -> funnelCountSql,
    "cohort_retention" -> cohortRetentionSql,
    "asof_join" -> asofJoinSql,
    "latest_snapshot" -> latestSnapshotSql,
    "window_agg" -> windowAggSql,
    "sessionize" -> sessionizeSql,
    "topk_events" -> topkEventsSql,
    "interval_join" -> intervalJoinSql,
    "skew_agg" -> skewAggSql
  )
}
