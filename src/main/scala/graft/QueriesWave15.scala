package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 sixth wave: causal/sequential decision statistics —
  * partial-correlation Granger screening, delta-method ratio-metric
  * CIs, Wald's SPRT with literal log-likelihood increments, a
  * discrete-time churn hazard curve, and weekly event-mix entropy.
  * Quantized-transcendental parity discipline throughout.
  */
object QueriesWave15 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")
  private val dayUs = 86400000000L

  // ---- granger_lite: lag-1 Granger screen via partial correlation ----

  /** F(1, ∞) 0.95 critical value, driver literal. */
  val grCrit = 3.841459
  val grCause = "click"
  val grEffect = "purchase"

  /** Lag-1 Granger-causality screen: do yesterday's CLICKS predict
    * today's PURCHASES beyond purchases' own yesterday? Equivalent to
    * testing the PARTIAL correlation r(y_t, x_{t−1} | y_{t−1}):
    * F = (n−3)·r_p²/(1−r_p²), r_p = (r_yx − r_yz r_xz)/√((1−r_yz²)(1−r_xz²))
    * — three pairwise Pearson r's from exact integer moments of the
    * aligned day triples (each pinned to the 1e-6 grid), closed-form
    * instead of two OLS fits. One day-level frame, two calendar lag
    * joins; a screen, not an identification claim.
    */
  def grangerLiteQ(spark: SparkSession, dir: String): DataFrame = {
    val byType = Memo(spark, dir, "wave15:dailyByType")(
      Tables(spark, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('DAY', ts))").as("day_us"))
        .agg(count(lit(1)).as("n")))
    val y = byType.filter(col("event_type") === grEffect)
      .select(col("day_us"), col("n").as("y"))
    val x = byType.filter(col("event_type") === grCause)
      .select(col("day_us"), col("n").as("x"))
    val tri = y
      .join(y.select((col("day_us") + lit(dayUs)).as("day_us"), col("y").as("z")),
        Seq("day_us"))
      .join(x.select((col("day_us") + lit(dayUs)).as("day_us"), col("x").as("xl")),
        Seq("day_us"))
    val m = tri.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("xl")).as("sx"), sum(col("z")).as("sz"),
      sum(col("y") * col("y")).as("qy"), sum(col("xl") * col("xl")).as("qx"),
      sum(col("z") * col("z")).as("qz"),
      sum(col("y") * col("xl")).as("pyx"), sum(col("y") * col("z")).as("pyz"),
      sum(col("xl") * col("z")).as("pxz"))
    def r6(p: String, sa: String, sb: String, qa: String, qb: String): Column =
      round(lit(1e6) * (col("n") * col(p) - col(sa) * col(sb)).cast("double") /
        (sqrt((col("n") * col(qa) - col(sa) * col(sa)).cast("double")) *
          sqrt((col("n") * col(qb) - col(sb) * col(sb)).cast("double")))) / 1e6
    m.select(col("n"),
      r6("pyx", "sy", "sx", "qy", "qx").as("r_yx"),
      r6("pyz", "sy", "sz", "qy", "qz").as("r_yz"),
      r6("pxz", "sx", "sz", "qx", "qz").as("r_xz"))
      .withColumn("r_partial",
        (col("r_yx") - col("r_yz") * col("r_xz")) /
          sqrt((lit(1.0) - col("r_yz") * col("r_yz")) *
            (lit(1.0) - col("r_xz") * col("r_xz"))))
      .withColumn("f_stat",
        (col("n") - 3).cast("double") * col("r_partial") * col("r_partial") /
          (lit(1.0) - col("r_partial") * col("r_partial")))
      .withColumn("significant", col("f_stat") >= grCrit)
  }

  val grangerLiteSql: String = {
    def r6(p: String, sa: String, sb: String, qa: String, qb: String): String =
      s"""round(1e6 * CAST(n * $p - $sa * $sb AS DOUBLE)
         |  / (sqrt(CAST(n * $qa - $sa * $sa AS DOUBLE))
         |     * sqrt(CAST(n * $qb - $sb * $sb AS DOUBLE)))) / 1e6""".stripMargin
    s"""WITH bt AS (SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       |y AS (SELECT day_us, n AS y FROM bt WHERE event_type = '$grEffect'),
       |x AS (SELECT day_us, n AS x FROM bt WHERE event_type = '$grCause'),
       |tri AS (
       |  SELECT y.day_us, y.y, z.y AS z, xl.x AS xl
       |  FROM y
       |  JOIN y z ON z.day_us = y.day_us - $dayUs
       |  JOIN x xl ON xl.day_us = y.day_us - $dayUs),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(xl) AS BIGINT) AS sx,
       |    CAST(SUM(z) AS BIGINT) AS sz,
       |    CAST(SUM(y * y) AS BIGINT) AS qy, CAST(SUM(xl * xl) AS BIGINT) AS qx,
       |    CAST(SUM(z * z) AS BIGINT) AS qz,
       |    CAST(SUM(y * xl) AS BIGINT) AS pyx, CAST(SUM(y * z) AS BIGINT) AS pyz,
       |    CAST(SUM(xl * z) AS BIGINT) AS pxz
       |  FROM tri),
       |r AS (SELECT n,
       |    ${r6("pyx", "sy", "sx", "qy", "qx")} AS r_yx,
       |    ${r6("pyz", "sy", "sz", "qy", "qz")} AS r_yz,
       |    ${r6("pxz", "sx", "sz", "qx", "qz")} AS r_xz
       |  FROM m),
       |p AS (SELECT *,
       |    (r_yx - r_yz * r_xz)
       |      / sqrt((1.0 - r_yz * r_yz) * (1.0 - r_xz * r_xz)) AS r_partial
       |  FROM r)
       |SELECT n, r_yx, r_yz, r_xz, r_partial,
       |  CAST(n - 3 AS DOUBLE) * r_partial * r_partial
       |    / (1.0 - r_partial * r_partial) AS f_stat,
       |  CAST(n - 3 AS DOUBLE) * r_partial * r_partial
       |    / (1.0 - r_partial * r_partial) >= $grCrit AS significant
       |FROM p""".stripMargin
  }

  // ---- ratio_metric_ci: delta-method CI for revenue per order ----

  /** Delta-method 95% CI for the ratio metric revenue-per-order by
    * market segment — the experimentation-stats workhorse: user-level
    * ratio metrics aren't means, so their variance needs
    * Var(R̄/C̄) ≈ (s_r² − 2R s_rc + R² s_c²)/(n c̄²). Per-customer
    * (revenue, order-count) pairs are one keyed aggregate; the segment
    * stage is exact decimal moments with ONE quantized √, and the CI
    * uses the Φ⁻¹(0.975) literal. Zero-order customers included (they
    * carry c=0 mass the naive per-order mean silently drops).
    */
  def ratioMetricCiQ(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Memo(spark, dir, "wave15:custRevOrders")(
      Tables(spark, dir, "customer")
        .join(Tables(spark, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("r"),
            count(lit(1)).as("c")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_mktsegment").as("segment"),
          coalesce(col("r"), lit(0L)).as("r"), coalesce(col("c"), lit(0L)).as("c")))
    perCust.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("r"))).as("sr"), sum(dec(col("c"))).as("sc"),
        sum(dec(col("r")) * dec(col("r"))).as("qr"),
        sum(dec(col("c")) * dec(col("c"))).as("qc"),
        sum(dec(col("r")) * dec(col("c"))).as("prc"))
      .withColumn("ratio", col("sr").cast("double") / col("sc").cast("double"))
      // delta-method variance of the ratio of means, n-scaled pieces
      .withColumn("vr",
        (col("n") * col("qr") - col("sr") * col("sr")).cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .withColumn("vc",
        (col("n") * col("qc") - col("sc") * col("sc")).cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .withColumn("vrc",
        (col("n") * col("prc") - col("sr") * col("sc")).cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
      .withColumn("cbar", col("sc").cast("double") / col("n").cast("double"))
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(greatest(
          |  (vr - 2 * ratio * vrc + ratio * ratio * vc) / (n * cbar * cbar),
          |  CAST(0.0 AS DOUBLE)))) AS BIGINT)""".stripMargin))
      .select(col("segment"), col("n"),
        (col("ratio") / 100.0).as("rev_per_order"),
        (col("se6").cast("double") / (1e6 * 100.0)).as("se"),
        ((col("ratio") - lit(1.959964) * col("se6").cast("double") / 1e6) / 100.0)
          .as("ci_lo"),
        ((col("ratio") + lit(1.959964) * col("se6").cast("double") / 1e6) / 100.0)
          .as("ci_hi"))
      .orderBy(col("segment"))
  }

  val ratioMetricCiSql: String =
    """WITH pc AS (
      |  SELECT cu.c_mktsegment AS segment,
      |    COALESCE(o.r, 0) AS r, COALESCE(o.c, 0) AS c
      |  FROM customer cu LEFT JOIN (
      |    SELECT o_custkey,
      |      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r,
      |      CAST(COUNT(*) AS BIGINT) AS c
      |    FROM orders GROUP BY 1) o ON o.o_custkey = cu.c_custkey),
      |m AS (
      |  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(r) AS HUGEINT) AS sr, CAST(SUM(c) AS HUGEINT) AS sc,
      |    CAST(SUM(CAST(r AS HUGEINT) * r) AS HUGEINT) AS qr,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS qc,
      |    CAST(SUM(CAST(r AS HUGEINT) * c) AS HUGEINT) AS prc
      |  FROM pc GROUP BY 1),
      |v AS (
      |  SELECT segment, n,
      |    CAST(sr AS DOUBLE) / CAST(sc AS DOUBLE) AS ratio,
      |    CAST(n * qr - sr * sr AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vr,
      |    CAST(n * qc - sc * sc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vc,
      |    CAST(n * prc - sr * sc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vrc,
      |    CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS cbar
      |  FROM m),
      |se AS (SELECT *,
      |    CAST(round(1e6 * sqrt(GREATEST(
      |      (vr - 2 * ratio * vrc + ratio * ratio * vc) / (n * cbar * cbar),
      |      CAST(0.0 AS DOUBLE)))) AS BIGINT) AS se6
      |  FROM v)
      |SELECT segment, n, ratio / 100.0 AS rev_per_order,
      |  CAST(se6 AS DOUBLE) / (1e6 * 100.0) AS se,
      |  (ratio - 1.959964 * CAST(se6 AS DOUBLE) / 1e6) / 100.0 AS ci_lo,
      |  (ratio + 1.959964 * CAST(se6 AS DOUBLE) / 1e6) / 100.0 AS ci_hi
      |FROM se ORDER BY segment""".stripMargin

  // ---- sprt_audit: Wald sequential test on the daily purchase rate ----

  val sprtP0 = 0.18
  val sprtP1 = 0.22
  val sprtAlpha = 0.05
  val sprtBeta = 0.2
  /** 1e12-quantized log-likelihood increments and boundaries — all four
    * are driver literals, so the random walk is EXACT integers. */
  val sprtL1: Long = math.round(1e12 * math.log(sprtP1 / sprtP0))
  val sprtL0: Long = math.round(1e12 * math.log((1 - sprtP1) / (1 - sprtP0)))
  val sprtUpper: Long = math.round(1e12 * math.log((1 - sprtBeta) / sprtAlpha))
  val sprtLower: Long = math.round(1e12 * math.log(sprtBeta / (1 - sprtAlpha)))

  /** Wald's SPRT (the sequential A/B stopping rule that inspection-era
    * statistics built): is the daily purchase share p₀=0.18 or
    * p₁=0.22? LLR_t = Σ_{days≤t} k·ln(p₁/p₀) + (n−k)·ln(q₁/q₀)
    * accumulates as an EXACT integer walk (the four log terms are
    * 1e-12-quantized driver literals), decision when it first exits
    * [ln β/(1−α), ln (1−β)/α]. Per-day output: counts, the walk, the
    * running decision — everything after the daily aggregate is
    * calendar-bounded.
    */
  def sprtAuditQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables(spark, dir, "events")
      .groupBy(expr("unix_micros(date_trunc('DAY', ts))").as("day_us"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === grEffect, 1L).otherwise(0L)).as("k"))
    val w = Window.orderBy(col("day_us")).rowsBetween(Window.unboundedPreceding, 0)
    val walk = d
      .withColumn("llr12",
        sum(col("k") * lit(sprtL1) + (col("n") - col("k")) * lit(sprtL0)).over(w))
      .withColumn("state",
        when(col("llr12") >= sprtUpper, lit("accept_h1"))
          .when(col("llr12") <= sprtLower, lit("accept_h0"))
          .otherwise(lit("continue")))
    val firstStop = walk.filter(col("state") =!= "continue")
      .agg(min(col("day_us")).as("__fs"))
    walk.crossJoin(broadcast(firstStop))
      .select((col("day_us") / 1000000L).cast("long").as("day_s"),
        col("n"), col("k"), col("llr12"), col("state"),
        (col("day_us") === col("__fs")).as("first_decision"))
      .orderBy(col("day_s"))
  }

  val sprtAuditSql: String =
    s"""WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = '$grEffect' THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM events GROUP BY 1),
       |walk AS (SELECT day_us, n, k,
       |    CAST(SUM(k * $sprtL1 + (n - k) * $sprtL0) OVER (ORDER BY day_us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS llr12
       |  FROM d),
       |st AS (SELECT *,
       |    CASE WHEN llr12 >= $sprtUpper THEN 'accept_h1'
       |         WHEN llr12 <= $sprtLower THEN 'accept_h0'
       |         ELSE 'continue' END AS state
       |  FROM walk),
       |fs AS (SELECT MIN(day_us) AS f FROM st WHERE state != 'continue')
       |SELECT day_us // 1000000 AS day_s, n, k, llr12, state,
       |  day_us = fs.f AS first_decision
       |FROM st, fs ORDER BY day_s""".stripMargin

  // ---- hazard_curve: discrete-time churn hazard by tenure week ----

  val hazardCensorDays = 14L

  /** Discrete-time churn hazard by tenure week: each user's tenure =
    * last − first activity (whole weeks); a user is a CHURN event at
    * their final week unless still active within 14 days of the
    * dataset edge (censored — the bias-killer `survival_km` applies to
    * orders, applied here to users). h(w) = d_w / |{tenure ≥ w}|, the
    * at-risk denominators from one reverse prefix over the ≤tenure-max
    * week frame. The retention curve a growth team actually plots.
    */
  def hazardCurveQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val users = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(expr("unix_micros(ts)")).as("first_us"),
        max(expr("unix_micros(ts)")).as("last_us"))
    val edge = users.agg(max(col("last_us")).as("edge_us"))
    val marked = users.crossJoin(broadcast(edge))
      .select(expr(s"(last_us - first_us) div ${7L * dayUs}").as("week"),
        (col("last_us") < col("edge_us") - lit(hazardCensorDays * dayUs))
          .cast("long").as("churned"))
    val byWeek = marked.groupBy(col("week"))
      .agg(count(lit(1)).as("ending"), sum(col("churned")).as("d"))
    val w = Window.orderBy(col("week"))
    byWeek
      .withColumn("at_risk",
        sum(col("ending")).over(w.rowsBetween(0, Window.unboundedFollowing)))
      .select(col("week"), col("at_risk"), col("d").as("churned"),
        (col("d").cast("double") / col("at_risk").cast("double")).as("hazard"))
      .orderBy(col("week"))
  }

  val hazardCurveSql: String =
    s"""WITH u AS (SELECT user_id, MIN(epoch_us(ts)) AS first_us,
       |    MAX(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY 1),
       |edge AS (SELECT MAX(last_us) AS edge_us FROM u),
       |marked AS (
       |  SELECT (last_us - first_us) // ${7L * dayUs} AS week,
       |    CASE WHEN last_us < edge_us - ${hazardCensorDays * dayUs}
       |      THEN 1 ELSE 0 END AS churned
       |  FROM u, edge),
       |bw AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS ending,
       |    CAST(SUM(churned) AS BIGINT) AS d
       |  FROM marked GROUP BY 1)
       |SELECT week,
       |  CAST(SUM(ending) OVER (ORDER BY week
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk,
       |  d AS churned,
       |  CAST(d AS DOUBLE) / CAST(SUM(ending) OVER (ORDER BY week
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE) AS hazard
       |FROM bw ORDER BY week""".stripMargin

  // ---- entropy_over_time: weekly event-mix entropy drift ----

  /** Weekly Shannon entropy (nats) of the event-type mix — the
    * "is the traffic composition drifting" monitor, the time-resolved
    * form of `shannon_entropy`: H_w = ln N_w − Σ_t c_t ln c_t / N_w
    * with every ln-term 1e-6-quantized before the sum (the engine-
    * portable transcendental rule). Weeks are calendar-bounded; output
    * includes the normalized H/ln(k) mix-evenness.
    */
  def entropyOverTimeQ(spark: SparkSession, dir: String): DataFrame = {
    val wk = Tables(spark, dir, "events")
      .groupBy(expr("unix_micros(date_trunc('WEEK', ts))").as("week_us"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
    wk.groupBy(col("week_us"))
      .agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
        sum(col("c") * expr("CAST(round(1e6 * ln(CAST(c AS DOUBLE))) AS BIGINT)"))
          .as("__cl6"))
      .withColumn("lnn6", expr("CAST(round(1e6 * ln(CAST(n AS DOUBLE))) AS BIGINT)"))
      .withColumn("lnk6", expr("CAST(round(1e6 * ln(CAST(k AS DOUBLE))) AS BIGINT)"))
      .select((col("week_us") / 1000000L).cast("long").as("week_s"),
        col("n").as("n_events"), col("k").as("n_types"),
        ((col("lnn6") * col("n") - col("__cl6")).cast("double") /
          (col("n").cast("double") * 1e6)).as("entropy"),
        when(col("lnk6") > 0,
          (col("lnn6") * col("n") - col("__cl6")).cast("double") /
            (col("n").cast("double") * col("lnk6").cast("double")))
          .otherwise(lit(null).cast("double")).as("evenness"))
      .orderBy(col("week_s"))
  }

  val entropyOverTimeSql: String =
    """WITH wk AS (SELECT epoch_us(date_trunc('week', ts)) AS week_us, event_type,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |agg AS (SELECT week_us, CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c * CAST(round(1e6 * ln(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS cl6
      |  FROM wk GROUP BY 1),
      |l AS (SELECT *,
      |    CAST(round(1e6 * ln(CAST(n AS DOUBLE))) AS BIGINT) AS lnn6,
      |    CAST(round(1e6 * ln(CAST(k AS DOUBLE))) AS BIGINT) AS lnk6
      |  FROM agg)
      |SELECT week_us // 1000000 AS week_s, n AS n_events, k AS n_types,
      |  CAST(lnn6 * n - cl6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS entropy,
      |  CASE WHEN lnk6 > 0
      |    THEN CAST(lnn6 * n - cl6 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(lnk6 AS DOUBLE))
      |    ELSE NULL END AS evenness
      |FROM l ORDER BY week_s""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "granger_lite" -> (grangerLiteQ _),
    "ratio_metric_ci" -> (ratioMetricCiQ _),
    "sprt_audit" -> (sprtAuditQ _),
    "hazard_curve" -> (hazardCurveQ _),
    "entropy_over_time" -> (entropyOverTimeQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "granger_lite" -> grangerLiteSql,
    "ratio_metric_ci" -> ratioMetricCiSql,
    "sprt_audit" -> sprtAuditSql,
    "hazard_curve" -> hazardCurveSql,
    "entropy_over_time" -> entropyOverTimeSql
  )
}
