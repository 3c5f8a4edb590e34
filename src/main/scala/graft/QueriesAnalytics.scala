package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 analytics wave: event-stream rollups (range-frame windows,
  * distinct-over-sliding-window, anomaly vs trailing stats, decayed
  * counts, JSON props), KMV set-operation sketches, referential-integrity
  * audit over the SchemaGraph, and corpus split/search primitives.
  *
  * Scale notes: every op is at most one keyed shuffle plus tiny post-agg
  * windows; `sliding_dau` uses the offset-explode trick (each (user, day)
  * row fans out to the ≤7 window anchors it serves) instead of a
  * distinct-in-window, which Spark cannot partial-aggregate; `kmv_setops`
  * ships at most k=64 hashes per population through the final stage.
  */
object QueriesAnalytics extends QueryModule {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")

  /** Distinct (day, user) activity frame — built once per session via the
    * Memo (user_growth, sliding_dau and returning_users all consume it).
    */
  private def dayUsers(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "analytics:day_users") {
      events(spark, dir)
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
    }

  // ---- rolling_agg: per-user 7-day trailing window (RANGE frame) ----

  /** Trailing 7-day count/sum of `value` per user at every event — the
    * range-frame (not row-frame) window: peers at the same instant land
    * in the same frame in both engines. Sum goes through DECIMAL(38,6)
    * so partition order can't drift the double.
    */
  def rollingAggQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-604800000000L, 0L)
    events(spark, dir)
      .select(
        col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("roll_cnt"),
        sum(col("value").cast("decimal(38,6)")).over(w).cast("double").as("roll_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val rollingAggSql: String =
    """SELECT user_id, event_id, ts, roll_cnt, roll_sum FROM (
      |  SELECT user_id, event_id, ts,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS roll_cnt,
      |    CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS roll_sum
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
      |) ORDER BY user_id, event_id""".stripMargin

  // ---- user_growth: daily active / new / cumulative users ----

  def userGrowthQ(spark: SparkSession, dir: String): DataFrame = {
    val a = dayUsers(spark, dir)
    val d = a.groupBy(col("day")).agg(count(lit(1)).as("active_users"))
    val n = a.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    // post-agg series is one row per day — the global cumulative window
    // runs over at most a few thousand rows regardless of input scale
    val wc = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    d.join(n, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(wc))
      .orderBy(col("day"))
  }

  val userGrowthSql: String =
    """WITH a AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1),
      |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users FROM a GROUP BY 1),
      |n AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
      |SELECT d.day, d.active_users, COALESCE(n.new_users, 0) AS new_users,
      |  CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM d LEFT JOIN n ON d.day = n.day ORDER BY d.day""".stripMargin

  // ---- sliding_dau: trailing-7-day distinct users per day ----

  /** Rolling distinct can't be partial-aggregated inside a window, so the
    * scalable plan fans each (user, day) out to the ≤7 window anchors it
    * serves and runs a plain count_distinct per anchor — one shuffle,
    * linear in |active-days| × 7. The oracle is the naive range join.
    */
  def slidingDauQ(spark: SparkSession, dir: String): DataFrame = {
    val a = dayUsers(spark, dir)
    val days = a.select(col("day")).distinct()
    a.select(col("user_id"), col("day"), explode(expr("sequence(0, 6)")).as("o"))
      .select(expr("timestampadd(DAY, o, day)").as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(count_distinct(col("user_id")).as("dau7"))
      .join(days, Seq("day"))
      .orderBy(col("day"))
  }

  val slidingDauSql: String =
    """WITH a AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |d AS (SELECT DISTINCT day FROM a)
      |SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS dau7
      |FROM d JOIN a ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- spike_detect: day-count anomaly vs trailing-7-day mean ----

  /** Flags (event_type, day) cells whose count exceeds 2× the trailing
    * 7-day mean — kept fully integral (cnt·n_prev > 2·Σprev) so the
    * comparison is exact in both engines. Missing days simply shrink the
    * trailing frame (RANGE over the day ordinal, not ROWS).
    */
  def spikeDetectQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(expr("unix_micros(day) div 86400000000"))
      .rangeBetween(-7, -1)
    events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("day"), col("event_type"), col("cnt"),
        count(lit(1)).over(w).as("n_prev"),
        coalesce(sum(col("cnt")).over(w), lit(0L)).as("prev_sum"))
      .withColumn(
        "is_spike",
        col("n_prev") > 0 && col("cnt") * col("n_prev") > lit(2) * col("prev_sum"))
      .orderBy(col("day"), col("event_type"))
  }

  val spikeDetectSql: String =
    """WITH c AS (SELECT date_trunc('day', ts) AS day, event_type,
      |             CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2)
      |SELECT day, event_type, cnt, n_prev, prev_sum,
      |  (n_prev > 0 AND cnt * n_prev > 2 * prev_sum) AS is_spike
      |FROM (
      |  SELECT day, event_type, cnt,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS n_prev,
      |    CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS prev_sum
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(day) // 86400000000
      |               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |ORDER BY day, event_type""".stripMargin

  // ---- props_extract: typed stats over the JSON props column ----

  /** Semi-structured surface: `events.props` is a JSON string; extract
    * `$.k` with the codegen'd JSON path expression (no UDF) and profile
    * it per event_type in one scan.
    */
  def propsExtractQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count_distinct(col("k")).as("ndv_k"))
      .orderBy(col("event_type"))

  val propsExtractSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(k) AS BIGINT) AS n_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k,
      |  CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- decay_count: half-life-decayed event counts ----

  /** Exponentially decayed count per event_type with a 7-day half-life at
    * week granularity: weight = 2^-floor(age_days/7). Weights are exact
    * DECIMAL literals (2^-n terminates in decimal), so the aggregate is
    * partial-aggregatable AND bit-identical across engines — the trick
    * that makes a decayed counter maintainable at 100 TB without floats.
    */
  val decayMaxWeeks = 8

  private def decayWeight(age: Column): Column = {
    val base = java.math.BigDecimal.ONE.setScale(10)
    (0 until decayMaxWeeks).foldLeft(when(lit(false), lit(null)): Column) {
      case (acc, n) =>
        val wt = base.divide(java.math.BigDecimal.valueOf(1L << n))
        acc.when(age === n, lit(wt))
    }.otherwise(lit(java.math.BigDecimal.ZERO.setScale(10)))
      .cast("decimal(38,10)")
  }

  private def decayWeightSqlCase: String = {
    val base = java.math.BigDecimal.ONE.setScale(10)
    val whens = (0 until decayMaxWeeks)
      .map { n =>
        val wt = base.divide(java.math.BigDecimal.valueOf(1L << n))
        s"WHEN $n THEN CAST($wt AS DECIMAL(38,10))"
      }
      .mkString(" ")
    s"CASE age_w $whens ELSE CAST(0 AS DECIMAL(38,10)) END"
  }

  def decayCountQ(spark: SparkSession, dir: String): DataFrame = {
    val mx = events(spark, dir).agg(max(date_trunc("day", col("ts"))).as("max_day"))
    events(spark, dir)
      .crossJoin(broadcast(mx))
      .select(
        col("event_type"),
        expr("(unix_micros(max_day) - unix_micros(date_trunc('DAY', ts))) div 604800000000")
          .as("age_w"))
      .select(col("event_type"), decayWeight(col("age_w")).as("wt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("wt")).cast("double").as("decayed"))
      .orderBy(col("event_type"))
  }

  val decayCountSql: String =
    s"""WITH mx AS (SELECT MAX(date_trunc('day', ts)) AS max_day FROM events),
       |e AS (SELECT event_type,
       |  (epoch_us(mx.max_day) - epoch_us(date_trunc('day', ts))) // 604800000000 AS age_w
       |  FROM events, mx)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM($decayWeightSqlCase) AS DOUBLE) AS decayed
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- kmv_setops: sketch union/intersection NDV across populations ----

  /** KMV sketches are mergeable under set union: the k smallest hashes of
    * A ∪ B are computable from the two k-sets alone, and the fraction of
    * the union sketch present in both sides estimates Jaccard — giving
    * |A∩B| without ever co-locating the raw sets. Population A = click
    * users, B = purchase users; exact values ride along for comparison.
    */
  val kmvSetK = 64

  private def kmvEst(hk: Column, m: Column): Column =
    when(m < kmvSetK, m.cast("double"))
      .otherwise(lit((kmvSetK - 1).toDouble) /
        (hk.cast("double") / lit(4503599627370496.0)))

  def kmvSetopsQ(spark: SparkSession, dir: String): DataFrame = {
    val m = events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "click", 1).otherwise(0)).as("in_a"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("in_b"))
      .select(
        conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").as("h"),
        col("user_id"), col("in_a"), col("in_b"))
    def sketch(flag: Option[String], names: (String, String)): DataFrame = {
      val base = flag.map(f => m.filter(col(f) === 1)).getOrElse(m)
      base.orderBy(col("h")).limit(kmvSetK)
        .agg(max(col("h")).as(names._1), count(lit(1)).as(names._2))
    }
    val ska = sketch(Some("in_a"), ("hk_a", "m_a"))
    val skb = sketch(Some("in_b"), ("hk_b", "m_b"))
    // Tie-break on user_id: rows tied on h at the k boundary carry the
    // (in_a, in_b) payload feeding `both`/est_intersect, so the pick must
    // be deterministic across partitionings (the per-population sketches
    // only aggregate h itself, where a tie can't change the result).
    val sku = m.orderBy(col("h"), col("user_id")).limit(kmvSetK)
      .agg(
        max(col("h")).as("hk_u"), count(lit(1)).as("m_u"),
        sum(col("in_a") * col("in_b")).cast("long").as("both"))
    val ex = m.agg(
      sum(col("in_a")).cast("long").as("exact_a"),
      sum(col("in_b")).cast("long").as("exact_b"),
      count(lit(1)).as("exact_union"),
      sum(col("in_a") * col("in_b")).cast("long").as("exact_intersect"))
    ska.crossJoin(skb).crossJoin(sku).crossJoin(ex)
      .select(
        kmvEst(col("hk_a"), col("m_a")).as("est_a"),
        kmvEst(col("hk_b"), col("m_b")).as("est_b"),
        kmvEst(col("hk_u"), col("m_u")).as("est_union"),
        (col("both").cast("double") / col("m_u").cast("double") *
          kmvEst(col("hk_u"), col("m_u"))).as("est_intersect"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_intersect"))
  }

  val kmvSetopsSql: String = {
    val k = kmvSetK
    def est(p: String) =
      s"CASE WHEN $p.m < $k THEN CAST($p.m AS DOUBLE) ELSE ${k - 1}.0 / (CAST($p.hk AS DOUBLE) / 4503599627370496.0) END"
    s"""WITH m AS (
       |  SELECT user_id,
       |    CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h,
       |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
       |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
       |),
       |ska AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m FROM (SELECT h FROM m WHERE in_a = 1 ORDER BY h LIMIT $k) z),
       |skb AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m FROM (SELECT h FROM m WHERE in_b = 1 ORDER BY h LIMIT $k) z),
       |sku AS (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(in_a * in_b) AS BIGINT) AS both FROM (SELECT h, in_a, in_b FROM m ORDER BY h, user_id LIMIT $k) z),
       |ex AS (SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a, CAST(SUM(in_b) AS BIGINT) AS exact_b,
       |  CAST(COUNT(*) AS BIGINT) AS exact_union, CAST(SUM(in_a * in_b) AS BIGINT) AS exact_intersect FROM m)
       |SELECT ${est("ska")} AS est_a, ${est("skb")} AS est_b, ${est("sku")} AS est_union,
       |  (CAST(sku.both AS DOUBLE) / CAST(sku.m AS DOUBLE)) * ${est("sku")} AS est_intersect,
       |  ex.exact_a, ex.exact_b, ex.exact_union, ex.exact_intersect
       |FROM ska, skb, sku, ex""".stripMargin
  }

  // ---- ri_audit: referential-integrity audit over the SchemaGraph ----

  /** Per-FK-edge child count / NULL-FK count / orphan count (child rows
    * whose FK misses every parent PK). One left-anti join per edge —
    * exactly the data-quality scan a lakehouse runs before trusting its
    * join graph. Edge list comes from the same SchemaGraph that drives
    * CIN partitioning (schema.py analogue).
    */
  def riAuditQ(spark: SparkSession, dir: String): DataFrame =
    SchemaGraph.tpch.edges
      .groupBy(_.fkTable).toSeq
      .map { case (ct, es) =>
        // ONE scan of the child per table: every parent PK set is
        // left-joined in the same plan (PKs are unique, so cardinality
        // is preserved), and all per-edge null/orphan counts come out of
        // a single aggregate row, exploded into per-edge result rows.
        val joined = es.foldLeft(
          Tables(spark, dir, ct).select(es.map(e => col(e.fkCol)).distinct: _*)) {
          (acc, e) =>
            val p = Tables(spark, dir, e.pkTable)
              .select(col(e.pkCol).as(s"__pk_${e.fkCol}"))
            acc.join(p, col(e.fkCol) === col(s"__pk_${e.fkCol}"), "left")
        }
        val aggs = count(lit(1)).as("n_child") +: es.flatMap { e =>
          Seq(
            sum(when(col(e.fkCol).isNull, 1).otherwise(0)).cast("long")
              .as(s"__null_${e.fkCol}"),
            sum(when(col(e.fkCol).isNotNull && col(s"__pk_${e.fkCol}").isNull, 1)
              .otherwise(0)).cast("long").as(s"__orph_${e.fkCol}"))
        }
        joined.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(es.map { e =>
            struct(
              lit(e.fkTable).as("child_table"), lit(e.fkCol).as("fk_col"),
              lit(e.pkTable).as("parent_table"), col("n_child"),
              col(s"__null_${e.fkCol}").as("n_null"),
              col(s"__orph_${e.fkCol}").as("n_orphan"))
          }: _*)).as("r"))
          .select(col("r.*"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("child_table"), col("fk_col"))

  val riAuditSql: String =
    SchemaGraph.tpch.edges
      .map { e =>
        s"""SELECT '${e.fkTable}' AS child_table, '${e.fkCol}' AS fk_col,
           |  '${e.pkTable}' AS parent_table,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${e.fkTable}) AS n_child,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${e.fkTable} WHERE ${e.fkCol} IS NULL) AS n_null,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${e.fkTable} c WHERE c.${e.fkCol} IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM ${e.pkTable} p WHERE p.${e.pkCol} = c.${e.fkCol})) AS n_orphan""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY child_table, fk_col")

  // ---- train_split: deterministic hash split assignment ----

  /** 80/10/10 train/valid/test assignment by a salted md5 of the doc key —
    * reproducible at any scale, any partitioning, any insert order; the
    * integer thresholds are ⌊f·2^52⌋ so both engines compare exact ints.
    */
  val splitThresholds: (Long, Long) = (3602879701896396L, 4053239664633446L)

  def trainSplitQ(spark: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    Tables(spark, dir, "documents")
      .select(
        col("source"),
        when(u < splitThresholds._1, "train")
          .when(u < splitThresholds._2, "valid")
          .otherwise("test").as("split"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("source"))
  }

  val trainSplitSql: String =
    s"""SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
       |  SELECT source,
       |    CASE WHEN u < ${splitThresholds._1} THEN 'train'
       |         WHEN u < ${splitThresholds._2} THEN 'valid' ELSE 'test' END AS split
       |  FROM (SELECT source,
       |          CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS u
       |        FROM documents)
       |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- term_search: inverted-index conjunctive term search ----

  /** Docs containing ALL query terms, via the posting-list plan: explode
    * distinct tokens, keep the query terms (broadcast-size IN list),
    * count matches per doc, require |terms|. The shuffle carries only
    * (doc, matched-term) pairs — df(term)-bounded, never the corpus.
    */
  val searchTerms: Seq[String] = Seq("query", "window", "merge")

  def termSearchQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(col("doc_id"), explode(array_distinct(col("__ws"))).as("word"))
      .filter(col("word").isin(searchTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === searchTerms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val termSearchSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  unnest(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != ''))) AS word
       |  FROM documents)
       |SELECT doc_id FROM w WHERE word IN (${searchTerms.map(t => s"'$t'").mkString(", ")})
       |GROUP BY 1 HAVING COUNT(*) = ${searchTerms.size} ORDER BY 1""".stripMargin

  // ---- markov_transitions: next-event transition matrix ----

  /** First-order Markov transition counts/probabilities between
    * consecutive events per user (lead() over one user_id shuffle; the
    * normalizing sum runs over the tiny post-agg matrix). Both engines
    * divide the same exact integers, so the double is bit-identical.
    */
  def markovTransitionsQ(spark: SparkSession, dir: String): DataFrame = {
    val wl = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wt = Window.partitionBy(col("event_type"))
    events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(wl).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob", col("cnt").cast("double") / sum(col("cnt")).over(wt).cast("double"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val markovTransitionsSql: String =
    """WITH s AS (SELECT user_id, event_type,
      |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events)
      |SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS cnt,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
      |FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- markov_stationary: stationary distribution via power iteration ----

  val mkIters = 5
  private val mkScale = 1048576.0 // 2^20 fixed-point grid for the π sums

  /** Stationary distribution of the event-transition chain: 5 unrolled
    * power-iteration steps π' = πP from a uniform start. Each step's
    * per-state sum runs over contributions π_i·p_ij quantized to a 2^-20
    * binary fixed-point grid (floor → BIGINT sum → one division): the
    * sum is associative/exact so partition order can't perturb it, and
    * floor×2^20 is an exponent shift — engine-portable, unlike
    * double→DECIMAL casts. States with no inbound mass stay at 0 via the
    * left join. Every step is a tiny matrix×vector on the 5-state chain;
    * the one corpus-sized job is the transition count itself.
    */
  def markovStationaryQ(spark: SparkSession, dir: String): DataFrame = {
    val wl = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wt = Window.partitionBy(col("event_type"))
    val trans = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(wl).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob", col("cnt").cast("double") / sum(col("cnt")).over(wt).cast("double"))
    val states = trans.select(col("event_type").as("state"))
      .unionAll(trans.select(col("next_type").as("state")))
      .distinct()
    val k = states.agg(count(lit(1)).cast("double").as("__k"))
    var pi = states.crossJoin(broadcast(k))
      .select(col("state"), (lit(1.0) / col("__k")).as("pi"))
    for (_ <- 1 to mkIters) {
      val stepped = pi
        .select(col("state").as("__from"), col("pi"))
        .join(trans.select(col("event_type").as("__from"), col("next_type"), col("prob")),
          Seq("__from"))
        .groupBy(col("next_type"))
        .agg(sum(floor(col("pi") * col("prob") * lit(mkScale)).cast("bigint")).as("__v"))
        .select(col("next_type").as("state"),
          (col("__v").cast("double") / lit(mkScale)).as("__pi2"))
      pi = states.join(stepped, Seq("state"), "left")
        .select(col("state"), coalesce(col("__pi2"), lit(0.0)).as("pi"))
    }
    pi.orderBy(col("state"))
  }

  val markovStationarySql: String = {
    val steps = (1 to mkIters).map { i =>
      s"""p$i AS (SELECT s.state, CAST(COALESCE(x.v, 0) AS DOUBLE) / $mkScale AS pi
         |  FROM states s LEFT JOIN (
         |    SELECT t.next_type AS state,
         |      CAST(SUM(CAST(FLOOR(p.pi * t.prob * $mkScale) AS BIGINT)) AS BIGINT) AS v
         |    FROM p${i - 1} p JOIN tr t ON p.state = t.event_type GROUP BY 1) x
         |  ON s.state = x.state)""".stripMargin
    }
    s"""WITH s AS (SELECT user_id, event_type,
       |  LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |  FROM events),
       |tr AS (SELECT event_type, next_type,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS prob
       |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |states AS (SELECT DISTINCT event_type AS state FROM tr
       |           UNION SELECT DISTINCT next_type FROM tr),
       |p0 AS (SELECT state, 1.0 / CAST((SELECT COUNT(*) FROM states) AS DOUBLE) AS pi FROM states),
       |${steps.mkString(",\n")}
       |SELECT state, pi FROM p$mkIters ORDER BY state""".stripMargin
  }

  // ---- bm25_rank: ranked retrieval over the inverted-index shape ----

  val bm25K1 = 1.2
  val bm25B = 0.75
  val bm25TopK = 10

  /** BM25 ranking of documents for the standing query terms — the
    * scoring leg over term_search's inverted-index shape. tf/df/doclen
    * are exact integers; avgdl is one exact division; idf's ln (the one
    * transcendental) is quantized to DECIMAL(38,6) before use; per-doc
    * score sums go through the 2^-20 fixed-point grid so term order
    * can't perturb them. Postings (term, doc, tf) and doc lengths come
    * out of one tokens scan.
    */
  /** Per-(doc, term) postings of the standing query terms — the
    * shared retrieval frame (BM25 here, the tf·(N/df) leg of Wave
    * 24's RRF fusion), memoized so one session tokenizes once.
    */
  private[graft] def termTf(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "analytics:termTf")(
      QueriesText.toks(spark, dir)
        .select(col("doc_id"), explode(col("__ws")).as("word"))
        .filter(col("word").isin(searchTerms: _*))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")))

  /** Full BM25 (doc_id, score) frame for the standing query terms —
    * shared by the top-k ranker here and Wave 24's RRF fusion;
    * memoized like every other cross-query frame.
    */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "analytics:bm25Scores") {
    val toks = QueriesText.toks(spark, dir)
      .select(col("doc_id"), explode(col("__ws")).as("word"))
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("__nd"),
      sum(col("dl")).cast("double").as("__sl"))
    val tf = termTf(spark, dir)
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "word")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(
          ((floor(log((col("__nd") - col("df").cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5))) * lit(1048576.0))
            .cast("double") / lit(1048576.0)) *
            ((col("tf").cast("double") * lit(bm25K1 + 1.0)) /
              (col("tf").cast("double") + lit(bm25K1) *
                (lit(1.0 - bm25B) + lit(bm25B) *
                  (col("dl").cast("double") / (col("__sl") / col("__nd"))))))) *
            lit(1048576.0)).cast("bigint").as("__c"))
    contrib
      .groupBy(col("doc_id"))
      .agg((sum(col("__c")).cast("double") / lit(1048576.0)).as("score"))
  }

  def bm25RankQ(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(bm25TopK)

  /** Oracle twin of [[bm25Scores]]: CTE chain ending in
    * `bscore(doc_id, score)`.
    */
  private[graft] val bm25ScoreCte: String = {
    val terms = searchTerms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS word
       |  FROM documents),
       |lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(dl) AS DOUBLE) AS sl FROM lens),
       |tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
       |       WHERE word IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |contrib AS (SELECT tf.doc_id,
       |    CAST(FLOOR(
       |      (CAST(CAST(FLOOR(ln((stats.nd - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) * 1048576.0) AS BIGINT) AS DOUBLE) / 1048576.0) *
       |      ((CAST(tf.tf AS DOUBLE) * ${bm25K1 + 1.0}) /
       |        (CAST(tf.tf AS DOUBLE) + $bm25K1 *
       |          (${1.0 - bm25B} + $bm25B * (CAST(lens.dl AS DOUBLE) / (stats.sl / stats.nd)))))
       |      * 1048576.0) AS BIGINT) AS c
       |  FROM tf JOIN df USING (word) JOIN lens ON tf.doc_id = lens.doc_id, stats),
       |bscore AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) / 1048576.0 AS score
       |  FROM contrib GROUP BY 1)""".stripMargin
  }

  val bm25RankSql: String =
    s"""WITH $bm25ScoreCte
       |SELECT doc_id, score FROM bscore
       |ORDER BY score DESC, doc_id LIMIT $bm25TopK""".stripMargin

  // ---- cube_counts: CUBE / grouping-sets surface ----

  /** Full CUBE over (lang, source) in ONE pass — Spark expands grouping
    * sets inside a single aggregation (no per-rollup rescans); grouping()
    * distinguishes "aggregated-away" from a literal value.
    */
  def cubeCountsQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .cube(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        grouping(col("lang")).as("__gl"),
        grouping(col("source")).as("__gs"))
      .select(
        when(col("__gl") === 1, "ALL").otherwise(col("lang")).as("lang"),
        when(col("__gs") === 1, "ALL").otherwise(col("source")).as("source"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("lang"), col("source"))

  val cubeCountsSql: String =
    """SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
      |  CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE(lang, source) ORDER BY 1, 2""".stripMargin

  // ---- compaction_plan: next-fit small-file packing ----

  /** Small-file compaction planning: within each source, docs in doc_id
    * order are packed next-fit into target-size bins — bin id is just
    * ⌊cumulative-bytes-before / target⌋, so the "sequential" packing is
    * one window + one groupBy, no driver loop. Bins close on overflow
    * (standard target-size semantics).
    */
  val compactionTarget = 20000L

  def compactionPlanQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        coalesce(sum(col("n_chars")).over(w), lit(0L)).as("cum_before"))
      .groupBy(col("source"), (col("cum_before") / compactionTarget).cast("long").as("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin_id"))
  }

  val compactionPlanSql: String =
    s"""WITH o AS (SELECT source, doc_id, n_chars,
       |  COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM documents)
       |SELECT source, CAST(cum_before // $compactionTarget AS BIGINT) AS bin_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
       |  CAST(MIN(doc_id) AS BIGINT) AS first_doc, CAST(MAX(doc_id) AS BIGINT) AS last_doc
       |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- vocab_coverage: top-vocabulary coverage quality signal ----

  /** CCNet-style quality signal: fraction of a doc's tokens inside the
    * corpus top-k vocabulary. Vocabulary is a deterministic top-k
    * (count desc, word) — tiny, so it broadcasts; the per-doc pass is one
    * explode + broadcast-hash semi-probe + groupBy(doc). k=16 because the
    * synthetic corpus has a 31-word vocabulary.
    */
  val vocabK = 16

  def vocabCoverageQ(spark: SparkSession, dir: String): DataFrame = {
    val words = QueriesText.toks(spark, dir)
      .select(col("doc_id"), explode(col("__ws")).as("word"))
    val vocab = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(vocabK)
      .select(col("word"), lit(1).as("__in_v"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in_v"), lit(0))).cast("long").as("in_vocab"))
      .withColumn("coverage", col("in_vocab").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  val vocabCoverageSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS word
       |  FROM documents),
       |v AS (SELECT word FROM (SELECT word, COUNT(*) AS c FROM w GROUP BY 1
       |                        ORDER BY c DESC, word LIMIT $vocabK) z)
       |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab,
       |  CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
       |FROM w LEFT JOIN v ON w.word = v.word GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- ks_test: two-sample Kolmogorov-Smirnov drift statistic ----

  /** Exact two-sample KS D between click and purchase value
    * distributions — the numeric-drift counterpart of chi2_drift
    * (categorical). D is kept as an integer fraction
    * max|F_a·n_b − F_b·n_a| / (n_a·n_b) until the final cast, so both
    * engines agree bit-for-bit. Exact ECDFs need a total order over
    * distinct values; the cumulative counts come from the DISTRIBUTED
    * prefix plan (range-partition by value, per-partition totals →
    * broadcast offsets, per-partition cumsum — the dictionary/midrank
    * discipline), so the only unpartitioned window left is the
    * ≤#shuffle-partitions offsets rollup. The round-10 single global
    * window ran over the distinct-value frame, which GROWS with the
    * data for a continuous column (measured 405 → 3,305 rows sf0.001 →
    * sf0.01) — a one-task sort at 100 TB; caught by WindowAuditSpec's
    * sublinear-growth audit.
    */
  def ksTestQ(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("value").as("v"),
        when(col("event_type") === "click", "a").otherwise("b").as("s"))
    val g = e.groupBy(col("v")).agg(
      sum(when(col("s") === "a", 1).otherwise(0)).as("ca"),
      sum(when(col("s") === "b", 1).otherwise(0)).as("cb"))
    val u = graft.operators.Distributed
      .exclusivePrefixSums(g, col("v"), Seq("ca", "cb"))
      .select(
        (col("__pre_ca") + col("ca")).as("fa"),
        (col("__pre_cb") + col("cb")).as("fb"))
    val na = e.filter(col("s") === "a").agg(count(lit(1)).as("n_a"))
    val nb = e.filter(col("s") === "b").agg(count(lit(1)).as("n_b"))
    u.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(abs(col("fa") * col("n_b") - col("fb") * col("n_a"))).as("d_num"))
      .select(
        col("n_a"), col("n_b"), col("d_num"),
        (col("n_a") * col("n_b")).as("d_den"),
        (col("d_num").cast("double") / (col("n_a") * col("n_b")).cast("double")).as("ks_d"))
  }

  val ksTestSql: String =
    """WITH a AS (SELECT value AS v FROM events WHERE event_type = 'click'),
      |b AS (SELECT value AS v FROM events WHERE event_type = 'purchase'),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM a),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM b),
      |u AS (
      |  SELECT v, SUM(ca) OVER w AS fa, SUM(cb) OVER w AS fb FROM (
      |    SELECT v, SUM(CASE WHEN s = 'a' THEN 1 ELSE 0 END) AS ca,
      |           SUM(CASE WHEN s = 'b' THEN 1 ELSE 0 END) AS cb
      |    FROM (SELECT v, 'a' AS s FROM a UNION ALL SELECT v, 'b' AS s FROM b)
      |    GROUP BY v)
      |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT na.n AS n_a, nb.n AS n_b,
      |  CAST(MAX(ABS(fa * nb.n - fb * na.n)) AS BIGINT) AS d_num,
      |  na.n * nb.n AS d_den,
      |  CAST(MAX(ABS(fa * nb.n - fb * na.n)) AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE) AS ks_d
      |FROM u, na, nb GROUP BY na.n, nb.n""".stripMargin

  // ---- trend_fit: OLS slope over daily counts (exact moments) ----

  /** Per-event-type least-squares trend of daily counts vs day ordinal.
    * All moments (Σx, Σy, Σxx, Σxy) are exact BIGINTs — the slope /
    * intercept are single double divisions at the very end, the same
    * integer-moment discipline as corr_matrix.
    */
  def trendFitQ(spark: SparkSession, dir: String): DataFrame = {
    val c = events(spark, dir)
      .groupBy(
        col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("x"))
      .agg(count(lit(1)).as("y"))
    val m = c.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("event_type"), col("n"), slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"))
      .orderBy(col("event_type"))
  }

  val trendFitSql: String =
    """WITH c AS (SELECT event_type, epoch_us(date_trunc('day', ts)) // 86400000000 AS x,
      |             CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) n, SUM(x) sx, SUM(y) sy,
      |        SUM(x*x) sxx, SUM(x*y) sxy FROM c GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
      |FROM m ORDER BY 1""".stripMargin

  // ---- value_deciles: ntile decile profile ----

  /** NTILE(10) decile boundaries of `value` per event_type, tie-broken by
    * event_id so the tiling is deterministic in both engines. The tiling
    * runs on `Layout.groupedRankedNtile`, NOT `ntile(10) OVER (PARTITION
    * BY event_type)`: with ~5 event types the built-in window sorts ~n/5
    * rows in one task — a single-executor sort of tens of millions of
    * rows at 100×. The grouped distributed rank keeps every stage
    * partition-parallel while producing the identical tiling (the sort
    * order is tie-free thanks to event_id).
    */
  def valueDecilesQ(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Layout.groupedRankedNtile(
        events(spark, dir).select(col("event_type"), col("value"), col("event_id")),
        Seq("event_type"), Seq(col("value"), col("event_id")), 10, "decile")
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
      .orderBy(col("event_type"), col("decile"))
  }

  val valueDecilesSql: String =
    """SELECT event_type, decile, CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(value) AS lo, MAX(value) AS hi
      |FROM (SELECT event_type, value,
      |        CAST(NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INT) AS decile
      |      FROM events)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- merge_upsert: CDC MERGE-INTO semantics ----

  /** MERGE a CDC batch into a base snapshot, latest-wins per key: base =
    * per-user latest state before the cutover, updates = per-user latest
    * state after it; full outer join + coalesce implements
    * INSERT/UPDATE/UNCHANGED in one shuffle on the merge key — the
    * DataFrame rendering of `MERGE INTO base USING upd ON key`.
    */
  val mergeCutover = "2024-01-16"

  def mergeUpsertQ(spark: SparkSession, dir: String): DataFrame = {
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"), row_number().over(w).as("__rn"))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val e = events(spark, dir)
    val base = latest(e.filter(col("ts") < lit(mergeCutover).cast("timestamp"))).alias("b")
    val upd = latest(e.filter(col("ts") >= lit(mergeCutover).cast("timestamp"))).alias("u")
    base.join(upd, col("b.user_id") === col("u.user_id"), "full")
      .select(
        coalesce(col("u.user_id"), col("b.user_id")).as("user_id"),
        coalesce(col("u.event_id"), col("b.event_id")).as("event_id"),
        coalesce(col("u.ts"), col("b.ts")).as("ts"),
        coalesce(col("u.event_type"), col("b.event_type")).as("event_type"),
        coalesce(col("u.value"), col("b.value")).as("value"),
        when(col("b.user_id").isNull, "insert")
          .when(col("u.user_id").isNull, "unchanged")
          .otherwise("update").as("action"))
      .orderBy(col("user_id"))
  }

  val mergeUpsertSql: String =
    s"""WITH base AS (
       |  SELECT user_id, event_id, ts, event_type, value FROM (
       |    SELECT user_id, event_id, ts, event_type, value,
       |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
       |    FROM events WHERE ts < TIMESTAMP '$mergeCutover')
       |  WHERE rn = 1),
       |upd AS (
       |  SELECT user_id, event_id, ts, event_type, value FROM (
       |    SELECT user_id, event_id, ts, event_type, value,
       |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
       |    FROM events WHERE ts >= TIMESTAMP '$mergeCutover')
       |  WHERE rn = 1)
       |SELECT COALESCE(u.user_id, b.user_id) AS user_id,
       |  COALESCE(u.event_id, b.event_id) AS event_id,
       |  COALESCE(u.ts, b.ts) AS ts,
       |  COALESCE(u.event_type, b.event_type) AS event_type,
       |  COALESCE(u.value, b.value) AS value,
       |  CASE WHEN b.user_id IS NULL THEN 'insert'
       |       WHEN u.user_id IS NULL THEN 'unchanged' ELSE 'update' END AS action
       |FROM base b FULL JOIN upd u ON b.user_id = u.user_id
       |ORDER BY user_id""".stripMargin

  // ---- user_lifespan: per-user activity span + churn flag ----

  def userLifespanQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(date_trunc("day", col("ts"))).as("first_day"),
        max(date_trunc("day", col("ts"))).as("last_day"),
        count_distinct(date_trunc("day", col("ts"))).as("active_days"),
        count(lit(1)).as("n_events"))
      .withColumn("lifespan_days",
        expr("(unix_micros(last_day) - unix_micros(first_day)) div 86400000000") + 1)
      .withColumn("is_churned",
        col("last_day") < lit(mergeCutover).cast("timestamp"))
      .orderBy(col("user_id"))

  val userLifespanSql: String =
    s"""SELECT user_id, MIN(date_trunc('day', ts)) AS first_day,
       |  MAX(date_trunc('day', ts)) AS last_day,
       |  CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS active_days,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  (epoch_us(MAX(date_trunc('day', ts))) - epoch_us(MIN(date_trunc('day', ts)))) // 86400000000 + 1 AS lifespan_days,
       |  MAX(date_trunc('day', ts)) < TIMESTAMP '$mergeCutover' AS is_churned
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- event_unpivot: UNPIVOT / melt surface ----

  /** Wide→long melt of the per-day type counts through the native
    * unpivot operator (one pass wide, zero-copy melt — no per-column
    * rescans), the inverse surface of event_pivot.
    */
  def eventUnpivotQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("click"),
        count(when(col("event_type") === "view", 1)).as("view"),
        count(when(col("event_type") === "purchase", 1)).as("purchase"))
      .unpivot(Array(col("day")), Array(col("click"), col("view"), col("purchase")),
        "etype", "cnt")
      .orderBy(col("day"), col("etype"))

  val eventUnpivotSql: String =
    """WITH p AS (SELECT date_trunc('day', ts) AS day,
      |  CAST(COUNT(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS click,
      |  CAST(COUNT(CASE WHEN event_type='view' THEN 1 END) AS BIGINT) AS view,
      |  CAST(COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS purchase
      |  FROM events GROUP BY 1)
      |SELECT day, etype, cnt FROM p
      |UNPIVOT (cnt FOR etype IN (click, view, purchase))
      |ORDER BY day, etype""".stripMargin

  // ---- daily_signature: ordered string aggregation surface ----

  /** Deterministic LISTAGG: per-day sorted distinct event types — the
    * collect_set is unordered by contract, so array_sort before the join
    * makes the result partition-order independent.
    */
  def dailySignatureQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(collect_set(col("event_type")).as("__s"))
      .select(
        col("day"),
        array_join(array_sort(col("__s")), ",").as("types"),
        size(col("__s")).cast("long").as("n_types"))
      .orderBy(col("day"))

  val dailySignatureSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- dq_audit: relational data-quality rule scan ----

  /** Single-scan rule audit over lineitem (the relational counterpart of
    * doc_filter): every rule is a conditional count in ONE aggregate —
    * adding rules never adds scans.
    */
  def dqAuditQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") <= 0, 1).otherwise(0)).cast("long").as("bad_quantity"),
      sum(when(col("l_extendedprice") < 0, 1).otherwise(0)).cast("long").as("bad_price"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1).otherwise(0))
        .cast("long").as("bad_discount"),
      sum(when(col("l_tax") < 0, 1).otherwise(0)).cast("long").as("bad_tax"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0))
        .cast("long").as("bad_returnflag"),
      sum(when(col("l_shipdate").isNull, 1).otherwise(0)).cast("long").as("null_shipdate"),
      sum(when(
        col("l_quantity") > 0 && col("l_extendedprice") >= 0 &&
          col("l_discount").between(0, 1) && col("l_tax") >= 0 &&
          col("l_returnflag").isin("A", "N", "R") && col("l_shipdate").isNotNull,
        1).otherwise(0)).cast("long").as("clean_rows"))

  val dqAuditSql: String =
    """SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity,
      |  CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
      |  CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_tax,
      |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS bad_returnflag,
      |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
      |  CAST(SUM(CASE WHEN l_quantity > 0 AND l_extendedprice >= 0
      |    AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0
      |    AND l_returnflag IN ('A','N','R') AND l_shipdate IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS clean_rows
      |FROM lineitem""".stripMargin

  // ---- q3_join_agg: star-join revenue rollup ----

  /** The bread-and-butter BI query: fact (orders) joined up the dimension
    * chain customer→nation→region, revenue per region per month. The
    * three dimensions are small by construction at ANY scale factor —
    * broadcast them explicitly so the physical plan is three
    * BroadcastHashJoins over one pruned orders scan, no fact shuffle
    * until the final (tiny) rollup.
    */
  def q3JoinAggQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .join(broadcast(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(38,6)")).cast("double").as("revenue"))
      .orderBy(col("region"), col("month"))

  val q3JoinAggSql: String =
    """SELECT r_name AS region, date_trunc('month', o_orderdate) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- returning_users: day-over-day overlap (next-day retention) ----

  def returningUsersQ(spark: SparkSession, dir: String): DataFrame = {
    val a = dayUsers(spark, dir)
    val prev = a.select(
      expr("timestampadd(DAY, 1, day)").as("day"), col("user_id"))
    val prevCounts = prev.groupBy(col("day")).agg(count(lit(1)).as("prev_active"))
    a.join(prev, Seq("day", "user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("returned"))
      .join(prevCounts, Seq("day"))
      .select(col("day"), col("returned"), col("prev_active"))
      .orderBy(col("day"))
  }

  val returningUsersSql: String =
    """WITH a AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events)
      |SELECT t.day, CAST(COUNT(*) AS BIGINT) AS returned,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a p2 WHERE p2.day = t.day - INTERVAL 1 DAY) AS prev_active
      |FROM a t JOIN a p ON p.user_id = t.user_id AND p.day = t.day - INTERVAL 1 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- gap_fill + lag_features: dense scaffold + forecasting features ----

  /** Sparse→dense time-series completion: the (day × event_type) scaffold
    * is a cross join of two POST-AGGREGATION dimension frames (tiny at
    * any input scale), left-joined back onto the observed cells. The
    * standard prelude to windowed feature generation — lag over a sparse
    * series silently skips missing periods.
    */
  private def denseDayTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val c = events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val d = c.select(col("day")).distinct()
    val t = c.select(col("event_type")).distinct()
    d.crossJoin(t).join(c, Seq("day", "event_type"), "left")
  }

  def gapFillQ(spark: SparkSession, dir: String): DataFrame =
    denseDayTypeCounts(spark, dir)
      .select(col("day"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("cnt").isNull.as("was_missing"))
      .orderBy(col("day"), col("event_type"))

  val gapFillSql: String =
    """WITH c AS (SELECT date_trunc('day', ts) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM events GROUP BY 1, 2),
      |d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
      |t AS (SELECT DISTINCT event_type FROM events)
      |SELECT d.day, t.event_type, COALESCE(c.cnt, 0) AS cnt, c.cnt IS NULL AS was_missing
      |FROM d CROSS JOIN t LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
      |ORDER BY 1, 2""".stripMargin

  /** Windowed feature matrix over the DENSE series: lag-1/lag-7 and
    * trailing-7 sum per (event_type, day) — the feature block a
    * forecasting model trains on. -1 marks out-of-history lags (vs 0,
    * which is a real observed count).
    */
  def lagFeaturesQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w7 = w.rowsBetween(-6, 0)
    denseDayTypeCounts(spark, dir)
      .select(col("day"), col("event_type"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .select(col("day"), col("event_type"), col("cnt"),
        coalesce(lag(col("cnt"), 1).over(w), lit(-1L)).as("lag1"),
        coalesce(lag(col("cnt"), 7).over(w), lit(-1L)).as("lag7"),
        sum(col("cnt")).over(w7).as("sum7"))
      .orderBy(col("day"), col("event_type"))
  }

  val lagFeaturesSql: String =
    """WITH c AS (SELECT date_trunc('day', ts) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM events GROUP BY 1, 2),
      |d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
      |t AS (SELECT DISTINCT event_type FROM events),
      |g AS (SELECT d.day, t.event_type, COALESCE(c.cnt, 0) AS cnt
      |      FROM d CROSS JOIN t LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type)
      |SELECT day, event_type, cnt,
      |  CAST(COALESCE(LAG(cnt, 1) OVER w, -1) AS BIGINT) AS lag1,
      |  CAST(COALESCE(LAG(cnt, 7) OVER w, -1) AS BIGINT) AS lag7,
      |  CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7
      |FROM g WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |ORDER BY 1, 2""".stripMargin

  // ---- percentile_feature: rank-normalization surface ----

  /** PERCENT_RANK quantile normalization of `value` within each
    * event_type — tie rows share a rank, so the result is deterministic
    * with no tie-break needed, and (rank−1)/(n−1) divides the same exact
    * integers in both engines.
    */
  def percentileFeatureQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        percent_rank().over(w).as("pct"))
      .orderBy(col("event_id"))
  }

  val percentileFeatureSql: String =
    """SELECT event_id, event_type, value,
      |  PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value) AS pct
      |FROM events ORDER BY event_id""".stripMargin

  // ---- conversion_latency: funnel latency distribution ----

  /** Minutes from a user's first view to each later purchase, bucketed
    * log-scale — integral minute arithmetic end-to-end.
    */
  def conversionLatencyQ(spark: SparkSession, dir: String): DataFrame = {
    val v = events(spark, dir).filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    events(spark, dir).filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("first_view"))
      .select(expr("(unix_micros(ts) - unix_micros(first_view)) div 60000000").as("mins"))
      .select(
        when(col("mins") < 60, "0_lt1h").when(col("mins") < 1440, "1_lt1d")
          .when(col("mins") < 10080, "2_lt1w").otherwise("3_gte1w").as("bucket"),
        col("mins"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("mins")).as("min_mins"),
        max(col("mins")).as("max_mins"))
      .orderBy(col("bucket"))
  }

  val conversionLatencySql: String =
    """WITH v AS (SELECT user_id, MIN(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY 1),
      |p AS (SELECT e.event_id, e.user_id, e.ts, v.first_view FROM events e JOIN v ON v.user_id = e.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > v.first_view)
      |SELECT CASE WHEN mins < 60 THEN '0_lt1h' WHEN mins < 1440 THEN '1_lt1d'
      |            WHEN mins < 10080 THEN '2_lt1w' ELSE '3_gte1w' END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(mins) AS BIGINT) AS min_mins, CAST(MAX(mins) AS BIGINT) AS max_mins
      |FROM (SELECT (epoch_us(ts) - epoch_us(first_view)) // 60000000 AS mins FROM p)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- embed_norms: vector-hygiene audit ----

  /** Per-label norm audit over the embedding table: squared L2 norms of
    * the 1e6-quantized vectors (exact BIGINT sums — the session's
    * standard embedding-exactness discipline) catch unnormalized or
    * truncated vectors before they poison an ANN index.
    */
  def embedNormsQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("label"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
          .as("qe"))
      .select(col("label"), size(col("qe")).as("dim"),
        expr("aggregate(transform(qe, v -> v * v), 0L, (a, x) -> a + x)").as("nsq"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        min(col("nsq")).as("min_nsq"), max(col("nsq")).as("max_nsq"),
        sum(col("nsq")).as("sum_nsq"))
      .orderBy(col("label"))

  val embedNormsSql: String =
    """WITH q AS (SELECT vec_id, label,
      |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qe
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, CAST(len(qe) AS INT) AS dim,
      |  list_sum(list_transform(qe, v -> v * v)) AS nsq FROM q)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(MIN(dim) AS INT) AS min_dim,
      |  CAST(MAX(dim) AS INT) AS max_dim,
      |  CAST(MIN(nsq) AS BIGINT) AS min_nsq, CAST(MAX(nsq) AS BIGINT) AS max_nsq,
      |  CAST(SUM(nsq) AS BIGINT) AS sum_nsq
      |FROM n GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- weekday_profile: activity heatmap (ISO dow × hour) ----

  /** ISO weekday (Mon=1) × hour × type counts — Spark's weekday() is
    * 0-based Monday, DuckDB's isodow 1-based: +1 aligns them (the
    * dayofweek builtins disagree on week start, a classic parity trap).
    */
  def weekdayProfileQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        (expr("weekday(ts)") + 1).as("dow"),
        hour(col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("dow"), col("hr"), col("event_type"))

  val weekdayProfileSql: String =
    """SELECT isodow(ts) AS dow, CAST(hour(ts) AS INT) AS hr, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- cooccurrence: market-basket type pairs per user-day ----

  /** Event-type co-occurrence within a (user, day) basket — the
    * association-mining primitive: distinct baskets self-joined on the
    * basket key (co-partitioned; pair space is |types|² per basket, not
    * |events|²).
    */
  def cooccurrenceQ(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("event_type"))
      .distinct()
    // Pair expansion from the per-(user, day) type SET instead of the
    // (user, day) self-join: the set is bounded by the event-type
    // domain (a handful of values), so collect_set + an ordered-pair
    // explode emits the identical type_a < type_b rows while the frame
    // crosses one exchange instead of two join shuffles + sorts. The
    // sorted distinct array makes every emitted pair strictly ordered,
    // exactly the old filter.
    ud.groupBy(col("user_id"), col("day"))
      .agg(sort_array(collect_set(col("event_type"))).as("__ts"))
      .select(explode(expr(
        "flatten(transform(__ts, (x, i) -> " +
          "transform(slice(__ts, i + 2, size(__ts)), y -> struct(x AS type_a, y AS type_b))))"))
        .as("__p"))
      .groupBy(col("__p.type_a").as("type_a"), col("__p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val cooccurrenceSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type FROM events)
      |SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(COUNT(*) AS BIGINT) AS n_user_days
      |FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- rfm_segments: classic RFM customer segmentation ----

  /** Recency/frequency/monetary tiers over purchase events, NTILE(3)
    * each with user_id tie-breaks — the post-agg frame is one row per
    * purchasing user, so the global tiling windows run over a frame
    * that is already thousands of times smaller than the input.
    */
  def rfmSegmentsQ(spark: SparkSession, dir: String): DataFrame = {
    val mx = events(spark, dir).agg(max(date_trunc("day", col("ts"))).as("max_day"))
    val f = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(date_trunc("day", col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("monetary"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        expr("(unix_micros(max_day) - unix_micros(last_day)) div 86400000000").as("recency_days"),
        col("frequency"), col("monetary"))
    // three NTILE(3)-exact tiers via the range-partitioned distributed
    // rank — each tier is one repartitionByRange shuffle instead of a
    // single-partition global-sort window over every user
    import graft.operators.Layout.rankedNtile
    val tiered = rankedNtile(
      rankedNtile(
        rankedNtile(f, Seq(col("recency_days"), col("user_id")), 3, "r_tier"),
        Seq(col("frequency").desc, col("user_id")), 3, "f_tier"),
      Seq(col("monetary").desc, col("user_id")), 3, "m_tier")
    tiered
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_tier"), col("f_tier"), col("m_tier"))
      .withColumn("segment",
        concat_ws("-", col("r_tier"), col("f_tier"), col("m_tier")))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsSql: String =
    """WITH mx AS (SELECT MAX(date_trunc('day', ts)) AS max_day FROM events),
      |f AS (SELECT user_id,
      |  (epoch_us(mx.max_day) - epoch_us(MAX(date_trunc('day', ts)))) // 86400000000 AS recency_days,
      |  CAST(COUNT(*) AS BIGINT) AS frequency,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
      |  FROM events, mx WHERE event_type = 'purchase' GROUP BY user_id, mx.max_day)
      |SELECT user_id, recency_days, frequency, monetary,
      |  CAST(NTILE(3) OVER (ORDER BY recency_days, user_id) AS INT) AS r_tier,
      |  CAST(NTILE(3) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_tier,
      |  CAST(NTILE(3) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_tier,
      |  CAST(NTILE(3) OVER (ORDER BY recency_days, user_id) AS INT) || '-' ||
      |  CAST(NTILE(3) OVER (ORDER BY frequency DESC, user_id) AS INT) || '-' ||
      |  CAST(NTILE(3) OVER (ORDER BY monetary DESC, user_id) AS INT) AS segment
      |FROM f ORDER BY user_id""".stripMargin

  // ---- lang_confusion: classifier-eval surface ----

  /** Confusion matrix of the lang_id heuristic against the ground-truth
    * `lang` label — the model-evaluation loop (predict → join truth →
    * confusion) as one plan; the oracle nests the full lang_id SQL as a
    * CTE so both engines score the identical classifier.
    */
  def langConfusionQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.langIdToks(
        QueriesText.toks(spark, dir).select(col("doc_id"), col("__ws")))
      .join(QueriesText.toks(spark, dir).select(col("doc_id"), col("lang").as("lang_true")),
        Seq("doc_id"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_true"), col("lang_pred"))

  def langConfusionSql: String =
    s"""WITH pred AS (
       |${QueriesText.langIdSql}
       |)
       |SELECT d.lang AS lang_true, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
       |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- path_analysis: top-k 3-event sequences ----

  /** Most common length-3 event paths per user stream (two lead()
    * windows over ONE user_id shuffle) — the sequence-mining extension of
    * markov_transitions beyond first order.
    */
  val pathTopK = 20

  def pathAnalysisQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(pathTopK)
  }

  val pathAnalysisSql: String =
    s"""WITH s AS (SELECT user_id, event_type AS e1,
       |  LEAD(event_type, 1) OVER w AS e2, LEAD(event_type, 2) OVER w AS e3
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(COUNT(*) AS BIGINT) AS n
       |FROM s WHERE e3 IS NOT NULL GROUP BY 1 ORDER BY n DESC, path LIMIT $pathTopK""".stripMargin

  // ---- bipartite_degrees: join-graph degree profile ----

  /** Degree distribution of the part↔supplier bipartite graph (distinct
    * edge set, then per-side degree rollups) — the statistic behind
    * worst-case join size bounds (pess_est's max-degree factors are this
    * profile's max column).
    */
  def bipartiteDegreesQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    def side(key: String, name: String): DataFrame =
      pairs.groupBy(col(key)).agg(count(lit(1)).as("deg"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"), sum(col("deg")).as("n_edges"))
        .select(lit(name).as("side"), col("n_nodes"), col("min_deg"),
          col("max_deg"), col("n_edges"))
    side("l_partkey", "suppliers_per_part")
      .unionAll(side("l_suppkey", "parts_per_supplier"))
      .orderBy(col("side"))
  }

  val bipartiteDegreesSql: String =
    """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ps AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS deg FROM pairs GROUP BY 1),
      |sp AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS deg FROM pairs GROUP BY 1)
      |SELECT 'suppliers_per_part' AS side, CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |  CAST(MIN(deg) AS BIGINT) AS min_deg, CAST(MAX(deg) AS BIGINT) AS max_deg,
      |  CAST(SUM(deg) AS BIGINT) AS n_edges FROM ps
      |UNION ALL
      |SELECT 'parts_per_supplier', CAST(COUNT(*) AS BIGINT), CAST(MIN(deg) AS BIGINT),
      |  CAST(MAX(deg) AS BIGINT), CAST(SUM(deg) AS BIGINT) FROM sp
      |ORDER BY side""".stripMargin

  // ---- q5_revenue: large-fact ⋈ large-fact join shape ----

  /** TPC-H Q5 shape: lineitem ⋈ orders is a big-big equi-join (shuffle
    * hash / sort-merge under AQE — NOT broadcastable at scale), then the
    * supplier→nation→region dimension chain broadcasts, with the region
    * filter and the orderdate range pushed below the join. Revenue uses
    * integer-cents arithmetic (price¢ × (100−discount%)) so the double is
    * engine-identical without decimal-precision-rule coupling.
    */
  def q5RevenueQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region")
        .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_items"),
        (sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .cast("double") / 10000.0).as("revenue"))
      .orderBy(col("nation"))

  val q5RevenueSql: String =
    """SELECT n_name AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- big_order_semi: EXISTS / left-semi surface ----

  /** Orders with at least one high-value line — the EXISTS subquery
    * rendered as a LEFT SEMI join: the probe side never duplicates, and
    * the lineitem filter pushes to its scan.
    */
  val semiPriceFloor = 80000

  def bigOrderSemiQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .join(
        Tables(spark, dir, "lineitem")
          .filter(col("l_extendedprice") > semiPriceFloor)
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))

  val bigOrderSemiSql: String =
    s"""SELECT o_orderkey, o_totalprice, o_orderdate FROM orders o
       |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
       |              AND l.l_extendedprice > $semiPriceFloor)
       |ORDER BY o_orderkey""".stripMargin

  // ---- sliding_dau_kmv: mergeable sketch over sliding windows ----

  /** The 100 TB path for sliding distinct: per-day KMV sketches merged
    * across the trailing window (k-min of a union is computable from the
    * member sketches — the mergeability exact distinct lacks). Here the
    * merge is fused into one explode + rank pass; the shuffle carries at
    * most k hashes per anchor day out of the aggregation. Exact dau7
    * rides along to expose sketch error.
    */
  def slidingDauKmvQ(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass over the deduped 7-day anchor expansion. The old plan
    // computed the anchor-user frame TWICE (KMV leg + exact-count leg —
    // the DataFrame API shares no common subtrees) and cut the KMV
    // sample with a row_number window, a full sort of the frame. A
    // bounded top-k aggregate (TopKPairs, ≤64-entry buffer) rides the
    // SAME groupBy(anchor) as the exact count: m = min(n, 64) and
    // hk = 64th-smallest hash fall out of the buffer. The k smallest
    // h multiset is identical to the window's rn <= k cut (52-bit
    // hashes are exact as the aggregate's double key), so hk/m/est
    // match bit for bit.
    val topk = udaf(new graft.functions.TopKPairs(kmvSetK, false))
    val agg = dayUsers(spark, dir)
      .select(col("user_id"), col("day"), explode(expr("sequence(0, 6)")).as("o"))
      .select(expr("timestampadd(DAY, o, day)").as("anchor"), col("user_id"))
      .distinct()
      .select(col("anchor"),
        conv(substring(md5(concat(lit("kmv:"), col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("anchor"))
      .agg(count(lit(1)).as("exact_dau7"),
        topk(col("h").cast("double"), col("h")).as("__top"))
      .select(col("anchor"), col("exact_dau7"),
        least(col("exact_dau7"), lit(kmvSetK.toLong)).as("m"),
        element_at(col("__top"), size(col("__top"))).getField("_2").as("hk"))
    val days = dayUsers(spark, dir).select(col("day")).distinct()
    days
      .join(agg, col("day") === col("anchor"))
      .select(col("day"), col("m"), kmvEst(col("hk"), col("m")).as("kmv_est"),
        col("exact_dau7"))
      .orderBy(col("day"))
  }

  val slidingDauKmvSql: String = {
    val k = kmvSetK
    s"""WITH a AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
       |d AS (SELECT DISTINCT day FROM a),
       |x AS (SELECT DISTINCT a.day + o * INTERVAL 1 DAY AS anchor, a.user_id
       |      FROM a, range(0, 7) t(o)),
       |h AS (SELECT anchor, user_id,
       |  CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM x),
       |r AS (SELECT anchor, h, ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY h) AS rn FROM h),
       |sk AS (SELECT anchor, MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m FROM r WHERE rn <= $k GROUP BY 1),
       |ex AS (SELECT anchor, CAST(COUNT(*) AS BIGINT) AS exact_dau7 FROM x GROUP BY 1)
       |SELECT d.day, sk.m,
       |  CASE WHEN sk.m < $k THEN CAST(sk.m AS DOUBLE)
       |       ELSE ${k - 1}.0 / (CAST(sk.hk AS DOUBLE) / 4503599627370496.0) END AS kmv_est,
       |  ex.exact_dau7
       |FROM d JOIN sk ON sk.anchor = d.day JOIN ex ON ex.anchor = d.day
       |ORDER BY d.day""".stripMargin
  }

  // ---- doc_chunks: overlapping token windows (pre-embedding plumbing) ----

  /** Sliding-window document chunking (size 32, stride 24, overlap 8) —
    * the step that turns documents into embedding/RAG units. Pure
    * per-row array expressions (sequence → explode → slice): zero
    * shuffle, and the chunk count is ⌈(n−size)/stride⌉+1 in exact
    * integer arithmetic so both engines cut identical windows.
    */
  val chunkSize = 32
  val chunkStride = 24

  /** (doc_id, chunk_idx, n_tokens, chunk_md5) frame, memoized — served to
    * doc_chunks and chunk_dedup.
    */
  private def chunkFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "analytics:chunks") {
      QueriesText.toks(spark, dir)
        .select(col("doc_id"), col("__ws"))
        .withColumn("n", size(col("__ws")).cast("long"))
        .withColumn("n_chunks",
          when(col("n") <= chunkSize, 1L)
            .otherwise(expr(s"1L + (n - $chunkSize + ${chunkStride - 1}) div $chunkStride")))
        .select(col("doc_id"), col("__ws"),
          explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          expr(s"slice(__ws, chunk_idx * $chunkStride + 1, $chunkSize)").as("__ck"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("__ck")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("__ck"))).as("chunk_md5"))
    }

  def docChunksQ(spark: SparkSession, dir: String): DataFrame =
    chunkFrame(spark, dir).orderBy(col("doc_id"), col("chunk_idx"))

  val docChunksSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
       |  FROM documents),
       |c AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
       |  CASE WHEN len(ws) <= $chunkSize THEN 1
       |       ELSE 1 + (CAST(len(ws) AS BIGINT) - $chunkSize + ${chunkStride - 1}) // $chunkStride END AS n_chunks
       |  FROM w)
       |SELECT doc_id, CAST(o AS BIGINT) AS chunk_idx,
       |  CAST(len(list_slice(ws, o*$chunkStride + 1, o*$chunkStride + $chunkSize)) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(list_slice(ws, o*$chunkStride + 1, o*$chunkStride + $chunkSize), ' ')) AS chunk_md5
       |FROM (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS o FROM c)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- chunk_dedup: cross-document boilerplate chunks ----

  /** Chunk-granularity dedup: chunk hashes occurring in more than one
    * document (shared boilerplate the doc-level dedup family can't see).
    * One groupBy over the memoized chunk frame.
    */
  def chunkDedupQ(spark: SparkSession, dir: String): DataFrame =
    chunkFrame(spark, dir)
      .groupBy(col("chunk_md5"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_md5"))

  val chunkDedupSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
       |  FROM documents),
       |c AS (SELECT doc_id, ws,
       |  CASE WHEN len(ws) <= $chunkSize THEN 1
       |       ELSE 1 + (CAST(len(ws) AS BIGINT) - $chunkSize + ${chunkStride - 1}) // $chunkStride END AS n_chunks
       |  FROM w),
       |ch AS (SELECT doc_id,
       |  md5(array_to_string(list_slice(ws, o*$chunkStride + 1, o*$chunkStride + $chunkSize), ' ')) AS chunk_md5
       |  FROM (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS o FROM c))
       |SELECT chunk_md5, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
       |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1 ORDER BY chunk_md5""".stripMargin

  // ---- supplier_share: ratio-to-report window ----

  /** Per-supplier revenue share within its nation — the ratio-to-report
    * window shape (value / SUM over partition) on exact integer cents.
    */
  def supplierShareQ(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("l_suppkey"))
      .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("rev_cents"))
    val w = Window.partitionBy(col("s_nationkey"))
    r.join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("nation"), col("l_suppkey").as("suppkey"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (col("rev_cents").cast("double") / sum(col("rev_cents")).over(w).cast("double"))
          .as("share"))
      .orderBy(col("nation"), col("suppkey"))
  }

  val supplierShareSql: String =
    """WITH r AS (SELECT s_nationkey, l_suppkey,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2)
      |SELECT n_name AS nation, l_suppkey AS suppkey,
      |  CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
      |  CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents) OVER (PARTITION BY s_nationkey) AS DOUBLE) AS share
      |FROM r JOIN nation ON n_nationkey = s_nationkey
      |ORDER BY nation, suppkey""".stripMargin

  // ---- interarrival_stats: inter-event gap profile ----

  /** Mean/min/max inter-event gap per type — lag() over one shuffle, gap
    * sums exact in microseconds, ONE double division for the mean.
    */
  def interarrivalStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap"))
      .groupBy(col("event_type"))
      .agg(
        count(col("gap")).as("n_gaps"),
        min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"),
        sum(col("gap")).as("sum_gap_us"))
      .withColumn("mean_gap_s",
        col("sum_gap_us").cast("double") / col("n_gaps").cast("double") / 1000000.0)
      .orderBy(col("event_type"))
  }

  val interarrivalStatsSql: String =
    """WITH g AS (SELECT event_type,
      |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap_us, CAST(MAX(gap) AS BIGINT) AS max_gap_us,
      |  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
      |  CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE) / 1000000.0 AS mean_gap_s
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- click_abandon: range anti-join ----

  /** Clicks with NO purchase by the same user within 30 minutes — the
    * NOT-EXISTS rendering as a LEFT ANTI join on the user key with the
    * time-range residual condition (state stays bounded per key; the
    * interval_join's complement).
    */
  def clickAbandonQ(spark: SparkSession, dir: String): DataFrame = {
    val c = events(spark, dir).filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user") && col("p_ts") > col("ts") &&
          col("p_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"), "left_anti")
      .orderBy(col("click_id"))
  }

  val clickAbandonSql: String =
    """SELECT c.event_id AS click_id, c.user_id, c.ts
      |FROM events c
      |WHERE c.event_type = 'click' AND NOT EXISTS (
      |  SELECT 1 FROM events p WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |ORDER BY click_id""".stripMargin

  // ---- bigram_lift: collocation mining (log-free PMI) ----

  /** Top collocations by lift = N·c(ab)/(c(a)·c(b)) — monotone with PMI
    * but computed in exact integers with one final double division (the
    * log-free rational discipline of tfidf_terms). Bigram and unigram
    * counts are two aggregations over the same token frame; the tiny
    * unigram table broadcasts onto the bigram side.
    */
  val bigramMinCount = 20
  val bigramTopK = 15

  def bigramLiftQ(spark: SparkSession, dir: String): DataFrame = {
    val toks = QueriesText.toks(spark, dir)
      .select(col("doc_id"), col("__ws"))
    val u = toks.select(explode(col("__ws")).as("word"))
    val uc = u.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val n = u.agg(count(lit(1)).as("total"))
    val b = toks.filter(size(col("__ws")) >= 2)
      .select(explode(graft.operators.TextOps.shingles2Expr).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= bigramMinCount)
    b.join(broadcast(uc.withColumnRenamed("word", "__w1").withColumnRenamed("c", "__c1")),
        expr("split_part(bigram, ' ', 1)") === col("__w1"))
      .join(broadcast(uc.withColumnRenamed("word", "__w2").withColumnRenamed("c", "__c2")),
        expr("split_part(bigram, ' ', 2)") === col("__w2"))
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("cb"),
        ((col("total") * col("cb")).cast("double") /
          (col("__c1") * col("__c2")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(bigramTopK)
  }

  val bigramLiftSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
       |  FROM documents),
       |u AS (SELECT unnest(ws) AS word FROM w),
       |uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM u),
       |b AS (SELECT bg AS bigram, CAST(COUNT(*) AS BIGINT) AS cb FROM (
       |  SELECT unnest(list_transform(list_slice(ws, 1, len(ws) - 1), (x, i) -> x || ' ' || ws[i + 1])) AS bg
       |  FROM w WHERE len(ws) >= 2) GROUP BY 1)
       |SELECT bigram, cb,
       |  CAST(n.total * cb AS DOUBLE) / CAST(a.c * z.c AS DOUBLE) AS lift
       |FROM b JOIN uc a ON a.word = split_part(bigram, ' ', 1)
       |       JOIN uc z ON z.word = split_part(bigram, ' ', 2), n
       |WHERE cb >= $bigramMinCount ORDER BY lift DESC, bigram LIMIT $bigramTopK""".stripMargin

  // ---- rollup_revenue: ROLLUP grouping-sets variant ----

  /** ROLLUP over (region, nation) — the hierarchical margin shape
    * (region subtotals + grand total, no nation-only margin), completing
    * the grouping-sets surface next to cube_counts.
    */
  def rollupRevenueQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .join(broadcast(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        (sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).cast("double") / 100.0)
          .as("revenue"),
        grouping(col("r_name")).as("__gr"),
        grouping(col("n_name")).as("__gn"))
      .select(
        when(col("__gr") === 1, "ALL").otherwise(col("r_name")).as("region"),
        when(col("__gn") === 1, "ALL").otherwise(col("n_name")).as("nation"),
        col("n_orders"), col("revenue"))
      .orderBy(col("region"), col("nation"))

  val rollupRevenueSql: String =
    """SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region,
      |  CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""".stripMargin

  // ---- audience_jaccard: exact pairwise audience overlap ----

  /** Exact Jaccard between event-type audiences (the exact counterpart
    * of kmv_setops' sketch estimates, for all type pairs at once).
    */
  def audienceJaccardQ(spark: SparkSession, dir: String): DataFrame = {
    val tu = events(spark, dir).select(col("event_type"), col("user_id")).distinct()
    val p = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val s = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    p.join(broadcast(s.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(s.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        (col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double")).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val audienceJaccardSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
      |      FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1)
      |SELECT p.type_a, p.type_b, p.n_both, sa.n AS n_a, sb.n AS n_b,
      |  CAST(p.n_both AS DOUBLE) / CAST(sa.n + sb.n - p.n_both AS DOUBLE) AS jaccard
      |FROM p JOIN s sa ON sa.event_type = p.type_a JOIN s sb ON sb.event_type = p.type_b
      |ORDER BY 1, 2""".stripMargin

  // ---- revenue_mom: month-over-month growth ----

  /** Monthly revenue with MoM relative change — integer cents through
    * the aggregation, lag-ratio at the end (NULL for the first month).
    */
  def revenueMomQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    Tables(spark, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("rev_cents"))
      .select(col("month"), col("n_orders"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        when(lag(col("rev_cents"), 1).over(w).isNull, lit(null).cast("double"))
          .otherwise((col("rev_cents").cast("double") -
            lag(col("rev_cents"), 1).over(w).cast("double")) /
            lag(col("rev_cents"), 1).over(w).cast("double")).as("mom_change"))
      .orderBy(col("month"))
  }

  val revenueMomSql: String =
    """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1)
      |SELECT month, n_orders, CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
      |  CASE WHEN lag(rev_cents) OVER w IS NULL THEN NULL
      |       ELSE (CAST(rev_cents AS DOUBLE) - CAST(lag(rev_cents) OVER w AS DOUBLE))
      |            / CAST(lag(rev_cents) OVER w AS DOUBLE) END AS mom_change
      |FROM m WINDOW w AS (ORDER BY month) ORDER BY month""".stripMargin

  // ---- embed_dist_hist: pairwise-distance calibration histogram ----

  /** Distance-distribution statistic over a deterministic probe slice
    * (vec_id < 64, all pairs) — how one picks the τ for embed_dup and
    * ANN candidate verification. Dot products run through the native
    * codegen'd quantized_dot expression; buckets are floor(cos·10).
    */
  val distHistProbe = 64

  def embedDistHistQ(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < distHistProbe)
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
          .as("qe"))
    val a = q.select(col("vec_id").as("ida"), col("qe").as("qa"))
    val b = q.select(col("vec_id").as("idb"), col("qe").as("qb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .select(expr("quantized_dot(qa, qb)").as("dot"))
      .groupBy(floor((col("dot").cast("double") / lit(1e12)) * 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("dot")).as("min_dot"), max(col("dot")).as("max_dot"))
      .orderBy(col("bucket"))
  }

  val embedDistHistSql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qe
       |  FROM embeddings WHERE vec_id < $distHistProbe),
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |  list_sum(list_transform(list_zip(a.qe, b.qe), z -> z[1] * z[2])) AS dot
       |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
       |SELECT CAST(floor((CAST(dot AS DOUBLE) / 1e12) * 10) AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(MIN(dot) AS BIGINT) AS min_dot, CAST(MAX(dot) AS BIGINT) AS max_dot
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- order_fill_latency: fulfillment gap per priority ----

  /** Ship-vs-order latency per priority class — the big fact join again,
    * but profiled on an integral day gap (negative gaps surface data
    * problems; the synthetic generator draws dates independently, which
    * this op makes visible).
    */
  def orderFillLatencyQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        // these parquet dates read as TIMESTAMP_NTZ; the session runs in
        // UTC so the cast to TIMESTAMP preserves the instant
        expr("(unix_micros(CAST(l_shipdate AS TIMESTAMP)) - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000")
          .as("gap_days"))
      .groupBy(col("priority"))
      .agg(
        count(lit(1)).as("n_items"),
        min(col("gap_days")).as("min_days"), max(col("gap_days")).as("max_days"),
        sum(col("gap_days")).as("sum_days"))
      .withColumn("mean_days",
        col("sum_days").cast("double") / col("n_items").cast("double"))
      .orderBy(col("priority"))

  val orderFillLatencySql: String =
    """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(MIN(gap_days) AS BIGINT) AS min_days, CAST(MAX(gap_days) AS BIGINT) AS max_days,
      |  CAST(SUM(gap_days) AS BIGINT) AS sum_days,
      |  CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_days
      |FROM (SELECT o_orderpriority,
      |        (epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000 AS gap_days
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- discount_impact: effective discount rate ----

  /** Gross vs discounted revenue per returnflag in exact integer cents
    * (net carries cents × percent = 1e-4 units) — the effective-discount
    * ratio is one double division of exact integers.
    */
  def discountImpactQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("gross_c"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)"))
          .as("net_c"))
      .select(col("returnflag"), col("n_items"),
        (col("gross_c").cast("double") / 100.0).as("gross"),
        (col("net_c").cast("double") / 10000.0).as("net"),
        (lit(1.0) - (col("net_c").cast("double") / 100.0) / col("gross_c").cast("double"))
          .as("effective_discount"))
      .orderBy(col("returnflag"))

  val discountImpactSql: String =
    """SELECT returnflag, n_items,
      |  CAST(gross_c AS DOUBLE) / 100.0 AS gross,
      |  CAST(net_c AS DOUBLE) / 10000.0 AS net,
      |  1.0 - (CAST(net_c AS DOUBLE) / 100.0) / CAST(gross_c AS DOUBLE) AS effective_discount
      |FROM (SELECT l_returnflag AS returnflag, CAST(COUNT(*) AS BIGINT) AS n_items,
      |        CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS gross_c,
      |        CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |                 CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS net_c
      |      FROM lineitem GROUP BY 1) t
      |ORDER BY 1""".stripMargin

  // ---- user_type_matrix: per-user wide feature vector ----

  /** One row per user with conditional counts per event type — the wide
    * ML feature matrix built in ONE aggregation (conditional counts,
    * not five scans or a pivot shuffle per column).
    */
  def userTypeMatrixQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        count(lit(1)).as("n_total"))
      .orderBy(col("user_id"))

  val userTypeMatrixSql: String =
    """SELECT user_id,
      |  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
      |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
      |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
      |  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
      |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
      |  CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- token_positions: positional posting lists ----

  /** First position + occurrence count of each query term per doc —
    * the positional inverted-index entry behind snippet generation and
    * phrase search. posexplode keeps the token order; positions are
    * 1-based to match SQL subscripts.
    */
  def tokenPositionsQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(col("doc_id"), posexplode(col("__ws")))
      .select(col("doc_id"), col("col").as("word"), (col("pos") + 1).cast("long").as("pos"))
      .filter(col("word").isin(searchTerms: _*))
      .groupBy(col("doc_id"), col("word"))
      .agg(min(col("pos")).as("first_pos"), count(lit(1)).as("occurrences"))
      .orderBy(col("doc_id"), col("word"))

  val tokenPositionsSql: String =
    s"""WITH w AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS ws
       |  FROM documents),
       |p AS (SELECT doc_id, word, CAST(pos AS BIGINT) AS pos FROM (
       |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w))
       |SELECT doc_id, word, CAST(MIN(pos) AS BIGINT) AS first_pos, CAST(COUNT(*) AS BIGINT) AS occurrences
       |FROM p WHERE word IN (${searchTerms.map(t => s"'$t'").mkString(", ")})
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- shared_vocab: source-pair vocabulary overlap ----

  /** Count of shared top-20 terms for every source pair — a cheap
    * source-similarity matrix from per-source term profiles (ranked
    * per-source, then a self-join on the term — the pair space is
    * |sources|²·k, never the corpus).
    */
  val sharedVocabK = 20

  def sharedVocabQ(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("word"))
    val t = QueriesText.toks(spark, dir)
      .select(col("source"), explode(col("__ws")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sharedVocabK)
      .select(col("source"), col("word"))
    t.select(col("source").as("source_a"), col("word"))
      .join(t.select(col("source").as("source_b"), col("word")), Seq("word"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_terms"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sharedVocabSql: String =
    s"""WITH w AS (SELECT source,
       |  unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS word
       |  FROM documents),
       |t AS (SELECT source, word FROM (
       |  SELECT source, word, ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, word) AS rn
       |  FROM w GROUP BY source, word) WHERE rn <= $sharedVocabK)
       |SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS shared_terms
       |FROM t a JOIN t b ON a.word = b.word AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- error_rate: hourly SLO metric ----

  /** Per-hour error rate — the SRE burn-rate input: conditional count /
    * total in one aggregation, exact-integer ratio.
    */
  def errorRateQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "error", 1)).as("n_errors"))
      .withColumn("error_rate",
        col("n_errors").cast("double") / col("n_events").cast("double"))
      .orderBy(col("hour"))

  val errorRateSql: String =
    """SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_errors,
      |  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS error_rate
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- cust_order_dist: TPC-H q13-shaped order-count distribution ----

  /** Distribution of customers by order count, including the zero bucket
    * (the left-outer + double-group TPC-H q13 shape). The first group
    * lands on c_custkey, so the outer join's shuffle is reused by the
    * aggregation; the second group is over ≤ a few hundred distinct
    * counts — broadcast-light.
    */
  def custOrderDistQ(spark: SparkSession, dir: String): DataFrame =
    // Aggregate BEFORE the join: counting orders per custkey first
    // (map-side partial aggregation) shrinks the join's shuffled/sorted
    // payload from every order row to one row per distinct custkey.
    // Exact join-count algebra, dup-safe: the old per-custkey
    // count(o_orderkey) over the left join equals (customer rows for
    // the key) × (non-null-o_orderkey order rows for the key), and the
    // final distribution counts custkeys — one row per key either way.
    Tables(spark, dir, "customer").select(col("c_custkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("__cc"))
      .join(
        Tables(spark, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"))
          .groupBy(col("o_custkey")).agg(count(col("o_orderkey")).as("__oc")),
        col("c_custkey") === col("o_custkey"), "left")
      .select((col("__cc") * coalesce(col("__oc"), lit(0L))).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_orders"))

  val custOrderDistSql: String =
    """SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      |      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |      GROUP BY 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- dormant_customers: churn-candidate anti-window ----

  val dormantDays = 90

  /** Customers whose latest order is more than 90 days before the
    * dataset's last order date — the churn-candidate roster. One
    * aggregation over orders + a broadcast of the 1-row max date; the
    * customer join only dresses the survivors with segment/balance.
    */
  def dormantCustomersQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val mx = o.agg(max(col("o_orderdate")).as("mxd"))
    val last = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"))
      .crossJoin(broadcast(mx))
      .filter(col("last_order") < col("mxd") - expr(s"INTERVAL $dormantDays DAYS"))
    last.join(Tables(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("last_order"))
      .orderBy(col("c_custkey"))
  }

  val dormantCustomersSql: String =
    s"""WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
       |last AS (SELECT o_custkey, MAX(o_orderdate) AS last_order
       |         FROM orders GROUP BY 1)
       |SELECT c.c_custkey, c.c_mktsegment, l.last_order
       |FROM last l CROSS JOIN mx JOIN customer c ON l.o_custkey = c.c_custkey
       |WHERE l.last_order < mx.mxd - INTERVAL $dormantDays DAY
       |ORDER BY c.c_custkey""".stripMargin

  // ---- ewma_spikes: half-life-smoothed daily-count anomaly flags ----

  val ewmaDays = 14

  /** Exact-decimal CASE of (1/2)^age truncated to 6 dp — the truncated
    * literal IS the weight definition, so both engines use the same
    * constants (same discipline as decay_count).
    */
  private val ewmaCaseSql: String =
    (1 to ewmaDays).map(j => f"WHEN $j THEN ${math.pow(0.5, j)}%.6f")
      .mkString("CASE age ", " ", " END")

  /** Per-(event_type, day) spike flags against a 14-day half-life EWMA
    * baseline of the preceding days. The day-count frame is tiny
    * (days × types), so the range self-join is broadcast-light at any
    * raw-data scale — the heavy lifting is the single daily-count
    * aggregation. The spike test multiplies through by the weight
    * denominator (cnt·Σw > 3·Σ(w·c)) so it stays in exact decimal; the
    * ewma itself is the one presentation-time double division.
    */
  def ewmaSpikesQ(spark: SparkSession, dir: String): DataFrame = {
    val dc = Memo(spark, dir, "analytics:ewmaDayCounts")(
      events(spark, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt")))
    val w = expr(ewmaCaseSql)
    dc.as("a").join(dc.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") < col("a.day") &&
          col("b.day") >= col("a.day") - expr(s"INTERVAL $ewmaDays DAYS"))
      .select(col("a.event_type").as("event_type"), col("a.day").as("day"),
        col("a.cnt").as("cnt"),
        expr("(unix_micros(a.day) - unix_micros(b.day)) div 86400000000").as("age"),
        col("b.cnt").as("pcnt"))
      .groupBy(col("event_type"), col("day"))
      .agg(min(col("cnt")).as("cnt"),
        sum(col("pcnt") * w).cast("decimal(38,6)").as("ewma_num"),
        sum(w).cast("decimal(38,6)").as("ewma_den"))
      .select(col("event_type"), col("day"), col("cnt"),
        (col("ewma_num").cast("double") / col("ewma_den").cast("double")).as("ewma"),
        (col("cnt").cast("decimal(38,6)") * col("ewma_den") > lit(3) * col("ewma_num"))
          .as("is_spike"))
      .orderBy(col("event_type"), col("day"))
  }

  val ewmaSpikesSql: String =
    s"""WITH dc AS (SELECT event_type, date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
       |            FROM events GROUP BY 1,2),
       |pair AS (SELECT a.event_type, a.day, a.cnt,
       |           CAST((epoch_us(a.day) - epoch_us(b.day)) // 86400000000 AS BIGINT) AS age, b.cnt AS pcnt
       |         FROM dc a JOIN dc b ON a.event_type = b.event_type
       |           AND b.day < a.day AND b.day >= a.day - INTERVAL $ewmaDays DAY),
       |ew AS (SELECT event_type, day, MIN(cnt) AS cnt,
       |         CAST(SUM(pcnt * ($ewmaCaseSql)) AS DECIMAL(38,6)) AS ewma_num,
       |         CAST(SUM($ewmaCaseSql) AS DECIMAL(38,6)) AS ewma_den
       |       FROM pair GROUP BY 1,2)
       |SELECT event_type, day, cnt,
       |  CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE) AS ewma,
       |  (CAST(cnt AS DECIMAL(38,6)) * ewma_den > 3 * ewma_num) AS is_spike
       |FROM ew ORDER BY 1, 2""".stripMargin

  // ---- min_price_supplier: per-part argmin supplier (q2 shape) ----

  /** The cheapest supplier per part by observed unit price — the TPC-H
    * q2 argmin-per-group shape. Min-price first, then the tied rows are
    * resolved by smallest suppkey: a deterministic argmin without
    * min_by's tie lottery. Two keyed aggregations + one broadcast of
    * the supplier dimension.
    */
  def minPriceSupplierQ(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        (col("l_extendedprice") / col("l_quantity")).as("up"))
    // Argmin in ONE aggregation: min(struct(up, sk)) is lexicographic —
    // (minimum unit price, then minimum suppkey among its ties) —
    // exactly the old min-aggregate + equality-self-join pair, without
    // scanning lineitem twice and shuffling the fact rows into a join.
    u.groupBy(col("pk"))
      .agg(min(struct(col("up"), col("sk"))).as("__m"))
      .select(col("pk"), col("__m.sk").as("best_supp"), col("__m.up").as("min_unit_price"))
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))), col("best_supp") === col("s_suppkey"))
      .select(col("pk").as("p_partkey"), col("s_suppkey"), col("s_name"), col("min_unit_price"))
      .orderBy(col("p_partkey"))
  }

  val minPriceSupplierSql: String =
    """WITH u AS (SELECT l_partkey AS pk, l_suppkey AS sk, l_extendedprice / l_quantity AS up FROM lineitem),
      |m AS (SELECT pk, MIN(up) AS min_unit_price FROM u GROUP BY 1),
      |a AS (SELECT u.pk, MIN(u.sk) AS best_supp, MIN(m.min_unit_price) AS min_unit_price
      |      FROM u JOIN m ON u.pk = m.pk AND u.up = m.min_unit_price GROUP BY 1)
      |SELECT a.pk AS p_partkey, s.s_suppkey, s.s_name, a.min_unit_price
      |FROM a JOIN supplier s ON a.best_supp = s.s_suppkey ORDER BY 1""".stripMargin

  // ---- row 138: basket_itemsets — distributed FP-Growth market baskets ----

  private[graft] val basketMinSupport = 0.02

  /** Frequent brand itemsets over per-order baskets, mined with MLlib's
    * FPGrowth — the distributed PFP algorithm (item-suffix partitioned),
    * the plan that survives a 100 TB fact table where an a-priori
    * self-join per itemset size would not. FP-Growth counts are exact
    * and deterministic, so the size-≤2 slice of the lattice is
    * hash-checked against the oracle's count/self-join formulation —
    * an MLlib trainer leg whose OUTPUT is fully oracle-gated, no
    * rows-only escape hatch. Baskets are distinct (order, brand) pairs:
    * one fact shuffle into collect_set; itemset strings are sorted so
    * both engines agree on identity.
    */
  /** Per-order brand baskets, materialized once per session — FP-Growth
    * makes two passes (frequent items, then FP-trees), and `assoc_rules`
    * needs the basket count, so the fact join + distinct never re-runs.
    */
  private[graft] def brandBaskets(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "brandBaskets")(
      Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("p_brand")).as("items")))

  def basketItemsetsQ(spark: SparkSession, dir: String): DataFrame = {
    val baskets = brandBaskets(spark, dir)
    // the mined lattice is itself a materialized product (FP-Growth
    // refitting per consumer would re-scan the baskets)
    Memo(spark, dir, "basketItemsets") {
      val model = new org.apache.spark.ml.fpm.FPGrowth()
        .setItemsCol("items").setMinSupport(basketMinSupport)
        .fit(baskets)
      model.freqItemsets
        .filter(size(col("items")) <= 2)
        .select(
          concat_ws(",", sort_array(col("items"))).as("items"),
          size(col("items")).cast("int").as("n_items"),
          col("freq").cast("bigint").as("freq"))
    }.orderBy(col("items"))
  }

  val basketItemsetsSql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
       |            FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM ob),
       |singles AS (SELECT p_brand AS items, CAST(1 AS INTEGER) AS n_items,
       |              CAST(COUNT(*) AS BIGINT) AS freq
       |            FROM ob GROUP BY 1),
       |pairs AS (SELECT a.p_brand || ',' || b.p_brand AS items,
       |            CAST(2 AS INTEGER) AS n_items, CAST(COUNT(*) AS BIGINT) AS freq
       |          FROM ob a JOIN ob b
       |            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
       |          GROUP BY 1)
       |SELECT items, n_items, freq
       |FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs) u, n
       |WHERE freq >= CAST(ceil($basketMinSupport * n) AS BIGINT)
       |ORDER BY items""".stripMargin

  // ---- row 139: pareto_skyline — distributed skyline operator ----

  /** Skyline of the part catalog: parts where no other part is
    * simultaneously cheaper-or-equal AND larger-or-equal (strict in
    * one) — the classic Pareto-frontier OLAP operator, executed with
    * [[graft.operators.Layout.skylineMin2]]'s range-partitioned sweep
    * (per-x minima → per-partition prefix minima → cross-partition
    * carry over a ≤ #partitions-row window) instead of the
    * single-partition sorted scan. Maximize-size is minimize(-size).
    */
  def paretoSkylineQ(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"),
        (-col("p_size")).as("__negsz"))
    graft.operators.Layout.skylineMin2(p, "p_retailprice", "__negsz")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))
  }

  val paretoSkylineSql: String =
    """SELECT a.p_partkey, a.p_retailprice, a.p_size
      |FROM part a
      |WHERE NOT EXISTS (SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY a.p_partkey""".stripMargin

  // ---- row 140: grouping_sets_report — custom marginals in one pass ----

  /** Marginal report over events: per-type totals, per-hour-of-day
    * totals, and the grand total — GROUPING SETS ((type), (hod), ())
    * is neither a cube nor a rollup (no (type, hod) cell), so the
    * engine computes exactly the three requested groupings in ONE
    * expand+aggregate pass instead of three scans or a full cube it
    * would then throw away. Money stays decimal-exact to the end.
    */
  def groupingSetsReportQ(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"), hour(col("ts")).as("hod"), col("value"))
      .groupingSets(
        Seq(Seq(col("event_type")), Seq(col("hod")), Seq()),
        col("event_type"), col("hod"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"),
        grouping(col("event_type")).as("__gt"),
        grouping(col("hod")).as("__gh"))
      .select(
        when(col("__gt") === 1, "ALL").otherwise(col("event_type")).as("event_type"),
        when(col("__gh") === 1, -1).otherwise(col("hod")).cast("int").as("hod"),
        col("n_events"), col("total_value"))
      .orderBy(col("event_type"), col("hod"))

  val groupingSetsReportSql: String =
    """SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
      |  CAST(CASE WHEN GROUPING(hod) = 1 THEN -1 ELSE hod END AS INTEGER) AS hod,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      |FROM (SELECT event_type, hour(ts) AS hod, value FROM events) e
      |GROUP BY GROUPING SETS ((event_type), (hod), ())
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "grouping_sets_report" -> (groupingSetsReportQ _),
    "pareto_skyline" -> (paretoSkylineQ _),
    "basket_itemsets" -> (basketItemsetsQ _),
    "ewma_spikes" -> (ewmaSpikesQ _),
    "min_price_supplier" -> (minPriceSupplierQ _),
    "cust_order_dist" -> (custOrderDistQ _),
    "dormant_customers" -> (dormantCustomersQ _),
    "rolling_agg" -> (rollingAggQ _),
    "user_growth" -> (userGrowthQ _),
    "sliding_dau" -> (slidingDauQ _),
    "spike_detect" -> (spikeDetectQ _),
    "props_extract" -> (propsExtractQ _),
    "decay_count" -> (decayCountQ _),
    "kmv_setops" -> (kmvSetopsQ _),
    "ri_audit" -> (riAuditQ _),
    "train_split" -> (trainSplitQ _),
    "term_search" -> (termSearchQ _),
    "markov_transitions" -> (markovTransitionsQ _),
    "markov_stationary" -> (markovStationaryQ _),
    "bm25_rank" -> (bm25RankQ _),
    "cube_counts" -> (cubeCountsQ _),
    "compaction_plan" -> (compactionPlanQ _),
    "vocab_coverage" -> (vocabCoverageQ _),
    "ks_test" -> (ksTestQ _),
    "trend_fit" -> (trendFitQ _),
    "value_deciles" -> (valueDecilesQ _),
    "merge_upsert" -> (mergeUpsertQ _),
    "user_lifespan" -> (userLifespanQ _),
    "event_unpivot" -> (eventUnpivotQ _),
    "daily_signature" -> (dailySignatureQ _),
    "dq_audit" -> (dqAuditQ _),
    "q3_join_agg" -> (q3JoinAggQ _),
    "returning_users" -> (returningUsersQ _),
    "gap_fill" -> (gapFillQ _),
    "lag_features" -> (lagFeaturesQ _),
    "percentile_feature" -> (percentileFeatureQ _),
    "conversion_latency" -> (conversionLatencyQ _),
    "embed_norms" -> (embedNormsQ _),
    "weekday_profile" -> (weekdayProfileQ _),
    "cooccurrence" -> (cooccurrenceQ _),
    "rfm_segments" -> (rfmSegmentsQ _),
    "lang_confusion" -> (langConfusionQ _),
    "path_analysis" -> (pathAnalysisQ _),
    "bipartite_degrees" -> (bipartiteDegreesQ _),
    "q5_revenue" -> (q5RevenueQ _),
    "big_order_semi" -> (bigOrderSemiQ _),
    "sliding_dau_kmv" -> (slidingDauKmvQ _),
    "doc_chunks" -> (docChunksQ _),
    "chunk_dedup" -> (chunkDedupQ _),
    "supplier_share" -> (supplierShareQ _),
    "interarrival_stats" -> (interarrivalStatsQ _),
    "click_abandon" -> (clickAbandonQ _),
    "bigram_lift" -> (bigramLiftQ _),
    "rollup_revenue" -> (rollupRevenueQ _),
    "audience_jaccard" -> (audienceJaccardQ _),
    "revenue_mom" -> (revenueMomQ _),
    "embed_dist_hist" -> (embedDistHistQ _),
    "order_fill_latency" -> (orderFillLatencyQ _),
    "discount_impact" -> (discountImpactQ _),
    "user_type_matrix" -> (userTypeMatrixQ _),
    "token_positions" -> (tokenPositionsQ _),
    "shared_vocab" -> (sharedVocabQ _),
    "error_rate" -> (errorRateQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "grouping_sets_report" -> groupingSetsReportSql,
    "pareto_skyline" -> paretoSkylineSql,
    "basket_itemsets" -> basketItemsetsSql,
    "ewma_spikes" -> ewmaSpikesSql,
    "min_price_supplier" -> minPriceSupplierSql,
    "cust_order_dist" -> custOrderDistSql,
    "dormant_customers" -> dormantCustomersSql,
    "rolling_agg" -> rollingAggSql,
    "user_growth" -> userGrowthSql,
    "sliding_dau" -> slidingDauSql,
    "spike_detect" -> spikeDetectSql,
    "props_extract" -> propsExtractSql,
    "decay_count" -> decayCountSql,
    "kmv_setops" -> kmvSetopsSql,
    "ri_audit" -> riAuditSql,
    "train_split" -> trainSplitSql,
    "term_search" -> termSearchSql,
    "markov_transitions" -> markovTransitionsSql,
    "markov_stationary" -> markovStationarySql,
    "bm25_rank" -> bm25RankSql,
    "cube_counts" -> cubeCountsSql,
    "compaction_plan" -> compactionPlanSql,
    "vocab_coverage" -> vocabCoverageSql,
    "ks_test" -> ksTestSql,
    "trend_fit" -> trendFitSql,
    "value_deciles" -> valueDecilesSql,
    "merge_upsert" -> mergeUpsertSql,
    "user_lifespan" -> userLifespanSql,
    "event_unpivot" -> eventUnpivotSql,
    "daily_signature" -> dailySignatureSql,
    "dq_audit" -> dqAuditSql,
    "q3_join_agg" -> q3JoinAggSql,
    "returning_users" -> returningUsersSql,
    "gap_fill" -> gapFillSql,
    "lag_features" -> lagFeaturesSql,
    "percentile_feature" -> percentileFeatureSql,
    "conversion_latency" -> conversionLatencySql,
    "embed_norms" -> embedNormsSql,
    "weekday_profile" -> weekdayProfileSql,
    "cooccurrence" -> cooccurrenceSql,
    "rfm_segments" -> rfmSegmentsSql,
    "lang_confusion" -> langConfusionSql,
    "path_analysis" -> pathAnalysisSql,
    "bipartite_degrees" -> bipartiteDegreesSql,
    "q5_revenue" -> q5RevenueSql,
    "big_order_semi" -> bigOrderSemiSql,
    "sliding_dau_kmv" -> slidingDauKmvSql,
    "doc_chunks" -> docChunksSql,
    "chunk_dedup" -> chunkDedupSql,
    "supplier_share" -> supplierShareSql,
    "interarrival_stats" -> interarrivalStatsSql,
    "click_abandon" -> clickAbandonSql,
    "bigram_lift" -> bigramLiftSql,
    "rollup_revenue" -> rollupRevenueSql,
    "audience_jaccard" -> audienceJaccardSql,
    "revenue_mom" -> revenueMomSql,
    "embed_dist_hist" -> embedDistHistSql,
    "order_fill_latency" -> orderFillLatencySql,
    "discount_impact" -> discountImpactSql,
    "user_type_matrix" -> userTypeMatrixSql,
    "token_positions" -> tokenPositionsSql,
    "shared_vocab" -> sharedVocabSql,
    "error_rate" -> errorRateSql
  )
}
