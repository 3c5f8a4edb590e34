package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** SURVEY.md §2 row 311: `stream_batch_parity` — the streaming surface
  * under the same hash-green contract as everything else.
  *
  * Every streaming twin (windowed/sliding aggs, sessionize,
  * stream-stream interval join, as-of join, latest-snapshot
  * compaction, watermarked dedup) is executed on a MemoryStream fed
  * the SAME deterministic batch-cut of the events table its batch
  * operator runs on, and the two result sets are diffed row-for-row
  * IN Spark (exact Row equality — timestamps at full micros, no
  * rendering round-trip). The emitted frame carries per-leg row counts
  * and the symmetric-difference size; the DuckDB oracle re-derives
  * each leg's row count from the batch semantics in SQL and asserts
  * zero mismatches — so the hash gate fails if EITHER the stream twin
  * drifts from its batch operator OR the batch operator drifts from
  * the oracle's independent SQL.
  *
  * The cut is a fixed [[parityN]]-row prefix by event_id (a
  * TakeOrdered, no global sort): parity is a SEMANTIC check, so its
  * budget is fixed at any corpus scale — the production path for the
  * full stream is the operators themselves, not this eval row (the
  * bitext_recall / ann_recall eval-budget discipline).
  *
  * Reference: Scardina runs its operators one-engine-only; the
  * batch/stream twin contract is this library's Structured-Streaming
  * re-expression (StreamOps), so the parity row guards an equivalence
  * the reference never had to state.
  */
object QueriesParity extends QueryModule {

  /** Fixed batch-cut size (events, ordered by event_id). */
  val parityN = 2000

  private type Ev = (Long, Timestamp, Long, String, Double)

  /** The streaming legs measured, in emitted order. */
  val legs: Seq[String] = Seq(
    "asof_join", "dedupe", "interval_join", "latest_snapshot",
    "sessionize", "sliding_agg", "window_agg")

  def streamBatchParityQ(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "streamParity") {
      import spark.implicits._
      // dedicated low-parallelism session for the bounded parity legs:
      // each stateful leg materializes one state-store partition per
      // shuffle partition per micro-batch, so running a 2,000-row
      // semantic check at the host session's (cluster-sized) shuffle
      // width pays ~7 × partitions of empty-state overhead (measured
      // 20 s of warm pass at 32). Results are partition-count
      // invariant — the diff is exact row equality either way.
      val ps = spark.newSession()
      ps.conf.set("spark.sql.shuffle.partitions", "4")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = ps.sqlContext

      val slice: Seq[Ev] = Tables(ps, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id")).limit(parityN)
        .as[Ev].collect().toSeq
      val batchDf = slice.toDF("event_id", "ts", "user_id", "event_type", "value")
      val maxUs = slice.map(e => e._2.getTime * 1000 + (e._2.getNanos / 1000) % 1000).max
      // watermark-flush sentinels (sessionize emits closed sessions
      // only once the watermark passes session_end + gap + delay);
      // user_id -1 never occurs in data and is filtered from results
      def sentinel(k: Int): Ev =
        (-k.toLong, new Timestamp(maxUs / 1000 + k * 30L * 86400 * 1000), -1L, "click", 0.0)

      val tag = java.lang.Integer.toHexString(dir.hashCode)

      /** Run one streaming leg to its memory sink and return the sink
        * table; `feed` pushes the batch-cut (+ flush sentinels) in. */
      def run(name: String, mode: String, start: SparkSession => DataFrame,
          feed: org.apache.spark.sql.streaming.StreamingQuery => Unit)
          : DataFrame = {
        val qn = s"parity_${name}_$tag"
        val q = start(ps).writeStream
          .format("memory").queryName(qn).outputMode(mode).start()
        try { feed(q); q.processAllAvailable() } finally q.stop()
        ps.table(qn)
      }

      def mkStream(): (MemoryStream[Ev], DataFrame) = {
        val m = MemoryStream[Ev]
        (m, m.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
      }

      /** (leg, n_batch, n_stream, n_mismatch) via exact Row-multiset
        * diff — both sides are bounded (≤ parityN rows) by contract. */
      def leg(name: String, batch: DataFrame, stream: DataFrame): (String, Long, Long, Long) = {
        val a = batch.collect().map(_.toString).sorted.toSeq
        val b = stream.collect().map(_.toString).sorted.toSeq
        val mism = (a.diff(b) ++ b.diff(a)).size.toLong
        (name, a.size.toLong, b.size.toLong, mism)
      }

      // the 7 legs are independent streaming queries on the same
      // bounded session — run them CONCURRENTLY (guide §2.6: overlap
      // independent jobs) so one leg's micro-batch/commit latency
      // back-fills another's; per-leg results are deterministic
      // tuples, gathered back in `legs` order, so the emitted frame is
      // identical to the sequential one (measured: warm memo 20.4 s →
      // ~1/3 of that; each leg is dominated by streaming-query startup
      // and state-store commit latency, not compute).
      def legRow(l: String): (String, Long, Long, Long) = l match {
        case "window_agg" =>
          val (m, sdf) = mkStream()
          leg("window_agg", StreamOps.windowAgg(batchDf),
            run("window_agg", "complete", _ => StreamOps.windowAggStream(sdf),
              _ => { m.addData(slice: _*); () }))
        case "sliding_agg" =>
          val (m, sdf) = mkStream()
          leg("sliding_agg", StreamOps.slidingAgg(batchDf),
            run("sliding_agg", "complete", _ => StreamOps.slidingAggStream(sdf),
              _ => { m.addData(slice: _*); () }))
        case "sessionize" =>
          val (m, sdf) = mkStream()
          val sunk = run("sessionize", "append",
            s => StreamOps.sessionizeStream(s, sdf).toDF(),
            q => {
              // processAllAvailable() between pushes pins the batch
              // boundaries: the watermark advances off the max event
              // time of the PREVIOUS batch, so each sentinel must land
              // in its OWN micro-batch (the second push retires every
              // real session's timeout). Without the barriers the
              // concurrent leg startup could coalesce the pushes into
              // one batch and the leg would silently depend on
              // noDataMicroBatches staying enabled.
              m.addData(slice: _*); q.processAllAvailable()
              m.addData(sentinel(1)); q.processAllAvailable()
              m.addData(sentinel(2)); ()
            })
          leg("sessionize",
            StreamOps.sessionize(batchDf)
              .select(col("user_id"), col("session_start"),
                col("session_end"), col("n_events")),
            sunk.filter(col("user_id") >= 0))
        case "interval_join" =>
          val (mc, cdf) = mkStream()
          val (mp, pdf) = mkStream()
          val clicks = cdf.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
          val purchases = pdf.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          leg("interval_join", StreamOps.intervalJoin(batchDf),
            run("interval_join", "append",
              _ => StreamOps.intervalJoinStream(clicks, purchases),
              _ => { mc.addData(slice: _*); mp.addData(slice: _*); () }))
        case "asof_join" =>
          val (m, sdf) = mkStream()
          leg("asof_join", StreamOps.asofJoin(batchDf),
            run("asof_join", "append", s => StreamOps.asofJoinStream(s, sdf).toDF(),
              _ => { m.addData(slice: _*); () }))
        case "latest_snapshot" =>
          val (m, sdf) = mkStream()
          leg("latest_snapshot", StreamOps.latestSnapshot(batchDf),
            run("latest_snapshot", "update",
              s => StreamOps.latestSnapshotStream(s, sdf).toDF(),
              _ => { m.addData(slice: _*); () }))
        case "dedupe" =>
          val (m, sdf) = mkStream()
          // feed every event twice: the watermarked dropDuplicates
          // must emit each exactly once
          leg("dedupe", batchDf.dropDuplicates("event_id"),
            run("dedupe", "append", _ => StreamOps.dedupeStream(sdf, Seq("event_id")),
              _ => { m.addData(slice ++ slice: _*); () }))
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(legs.size)
      val rows =
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val futs = legs.map(l => scala.concurrent.Future(legRow(l)))
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futs),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      rows.toDF("leg", "n_batch", "n_stream", "n_mismatch")
    }.orderBy(col("leg"))

  /** The oracle's half: each leg's BATCH row count re-derived in SQL
    * over the identical event_id-prefix cut, with n_stream asserted
    * equal and the in-Spark diff asserted empty. */
  val streamBatchParitySql: String = {
    val counts: Map[String, String] = Map(
      "window_agg" ->
        """SELECT COUNT(*) FROM (
          |  SELECT date_trunc('hour', ts), event_type FROM sl GROUP BY 1, 2)""".stripMargin,
      "sliding_agg" ->
        """SELECT COUNT(*) FROM (
          |  SELECT w_start, event_type FROM (
          |    SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w_start, event_type FROM sl
          |    UNION ALL
          |    SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, event_type FROM sl)
          |  GROUP BY 1, 2)""".stripMargin,
      "sessionize" ->
        """SELECT CAST(COALESCE(SUM(new_s), 0) AS BIGINT) FROM (
          |  SELECT CASE WHEN lag(ts) OVER w IS NULL
          |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM sl WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      "interval_join" ->
        """SELECT COUNT(*) FROM sl c JOIN sl p
          |  ON c.user_id = p.user_id AND c.event_type = 'click'
          | AND p.event_type = 'purchase'
          | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,
      "asof_join" -> "SELECT COUNT(*) FROM sl WHERE event_type = 'purchase'",
      "latest_snapshot" -> "SELECT COUNT(DISTINCT user_id) FROM sl",
      "dedupe" -> "SELECT COUNT(*) FROM sl")
    legs.map { l =>
      s"SELECT '$l' AS leg, CAST((${counts(l)}) AS BIGINT) AS n_batch," +
        s" CAST((${counts(l)}) AS BIGINT) AS n_stream, CAST(0 AS BIGINT) AS n_mismatch"
    }.mkString(
      s"WITH sl AS (SELECT event_id, ts, user_id, event_type, value" +
        s" FROM events ORDER BY event_id LIMIT $parityN)\n",
      "\nUNION ALL\n", "\nORDER BY leg")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_batch_parity" -> (streamBatchParityQ _))

  val oracleSql: Map[String, String] = Map(
    "stream_batch_parity" -> streamBatchParitySql)
}
