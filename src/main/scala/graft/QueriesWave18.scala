package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 ninth wave: experimentation variance reduction (CUPED),
  * epidemiology-grade gate association (odds ratio with Woolf CI),
  * and the max-drawdown path statistic. Exact moments, quantized
  * transcendentals, calendar-bounded frames.
  */
object QueriesWave18 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- cuped_adjust: pre-period covariate variance reduction ----

  /** CUPED (controlled-experiment-using-pre-experiment-data, the
    * Microsoft experimentation-platform standard): using each user's
    * FIRST-half activity count as the pre-period covariate X for their
    * second-half count Y, θ = cov(X,Y)/var(X) and the adjusted metric
    * Y − θX carries var(Y)(1−ρ²) — the variance-reduction share every
    * A/B platform banks before powering tests. All moments exact
    * decimals over one per-user conditional aggregate; θ and ρ² pinned
    * to the 1e-6 grid.
    */
  /** Per-user (first-half, second-half) activity counts, split at the
    * stream's midpoint timestamp — CUPED's covariate/outcome pair and
    * diff_in_diff's pre/post outcomes (one shared memoized scan). */
  private[graft] def cupedXY(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("__us"))
    val span = ev.agg(min(col("__us")).as("d0"), max(col("__us")).as("d1"))
    Memo(spark, dir, "wave18:cupedXY")(
      ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(sum(when(col("__us") * 2 <= col("d0") + col("d1"), 1L).otherwise(0L))
          .as("x"),
          sum(when(col("__us") * 2 > col("d0") + col("d1"), 1L).otherwise(0L))
            .as("y")))
  }

  /** The same per-user pre/post frame as portable CTEs (`ev`, `span`,
    * `xy`). */
  private[graft] val cupedXYCte: String =
    """ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |span AS (SELECT MIN(us) AS d0, MAX(us) AS d1 FROM ev),
      |xy AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN us * 2 <= d0 + d1 THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN us * 2 > d0 + d1 THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM ev, span GROUP BY 1)""".stripMargin

  def cupedAdjustQ(spark: SparkSession, dir: String): DataFrame = {
    val xy = cupedXY(spark, dir)
    val m = xy.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("x"))).as("qx"),
      sum(dec(col("y")) * dec(col("y"))).as("qy"),
      sum(dec(col("x")) * dec(col("y"))).as("p"))
    m
      .withColumn("theta",
        round(lit(1e6) * (dec(col("n")) * col("p") - col("sx") * col("sy")).cast("double") /
          (dec(col("n")) * col("qx") - col("sx") * col("sx")).cast("double")) / 1e6)
      .withColumn("rho2",
        round(lit(1e6) *
          ((dec(col("n")) * col("p") - col("sx") * col("sy")).cast("double") *
            (dec(col("n")) * col("p") - col("sx") * col("sy")).cast("double")) /
          ((dec(col("n")) * col("qx") - col("sx") * col("sx")).cast("double") *
            (dec(col("n")) * col("qy") - col("sy") * col("sy")).cast("double"))) / 1e6)
      .select(col("n"), col("theta"), col("rho2").as("var_reduction_share"),
        (lit(1.0) - col("rho2")).as("var_remaining_share"))
  }

  val cupedAdjustSql: String =
    s"""WITH $cupedXYCte,
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS p
      |  FROM xy),
      |t AS (SELECT n,
      |    round(1e6 * CAST(n * p - sx * sy AS DOUBLE)
      |      / CAST(n * qx - sx * sx AS DOUBLE)) / 1e6 AS theta,
      |    round(1e6 * (CAST(n * p - sx * sy AS DOUBLE) * CAST(n * p - sx * sy AS DOUBLE))
      |      / (CAST(n * qx - sx * sx AS DOUBLE) * CAST(n * qy - sy * sy AS DOUBLE))) / 1e6
      |      AS rho2
      |  FROM m)
      |SELECT n, theta, rho2 AS var_reduction_share,
      |  1.0 - rho2 AS var_remaining_share
      |FROM t""".stripMargin

  // ---- odds_ratio_ci: gate association with Woolf interval ----

  /** Odds ratio between the rule gate (`doc_filter`) and the score
    * gate (quality ≥ 0.5) with the Woolf 95% CI: OR = ad/bc, SE(ln OR)
    * = √(1/a+1/b+1/c+1/d) — the epidemiology-standard association
    * measure whose CI excluding 1 is the decision (`mcc_gate_agreement`
    * grades strength; this grades direction with uncertainty). Half-
    * count correction keeps empty cells finite; ln and √ each
    * quantized once, the CI endpoints' exp pinned back to the 1e-6
    * grid (the `survival_km` discipline).
    */
  def oddsRatioCiQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = QueriesWave10.scoredDocs(spark, dir)
    scored
      .select(col("kept").cast("long").as("ga"),
        (col("s6") >= 500000L).cast("long").as("gb"))
      .agg(sum(col("ga") * col("gb")).as("a"),
        sum(col("ga") * (lit(1L) - col("gb"))).as("b"),
        sum((lit(1L) - col("ga")) * col("gb")).as("c"),
        sum((lit(1L) - col("ga")) * (lit(1L) - col("gb"))).as("d"))
      .withColumn("lnor6", expr(
        """CAST(round(1e6 * ln(
          |  ((2.0 * a + 1.0) * (2.0 * d + 1.0)) / ((2.0 * b + 1.0) * (2.0 * c + 1.0))))
          | AS BIGINT)""".stripMargin))
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(
          |  1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)))
          | AS BIGINT)""".stripMargin))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr("round(1e6 * exp(CAST(lnor6 AS DOUBLE) / 1e6)) / 1e6").as("odds_ratio"),
        expr("round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6").as("ci_lo"),
        expr("round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6").as("ci_hi"))
      .withColumn("significant", col("ci_lo") > 1.0 || col("ci_hi") < 1.0)
  }

  val oddsRatioCiSql: String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |scored AS (
       |  SELECT w.doc_id,
       |    CAST(round(1e6 * (${QueriesText.scoreSqlExpr})) AS BIGINT) AS s6,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id)),
       |conf AS (
       |  SELECT
       |    CAST(SUM(ga * gb) AS BIGINT) AS a,
       |    CAST(SUM(ga * (1 - gb)) AS BIGINT) AS b,
       |    CAST(SUM((1 - ga) * gb) AS BIGINT) AS c,
       |    CAST(SUM((1 - ga) * (1 - gb)) AS BIGINT) AS d
       |  FROM (SELECT CASE WHEN kept THEN 1 ELSE 0 END AS ga,
       |          CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END AS gb
       |        FROM scored)),
       |q AS (SELECT *,
       |    CAST(round(1e6 * ln(
       |      ((2.0 * a + 1.0) * (2.0 * d + 1.0)) / ((2.0 * b + 1.0) * (2.0 * c + 1.0))))
       |      AS BIGINT) AS lnor6,
       |    CAST(round(1e6 * sqrt(
       |      1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)))
       |      AS BIGINT) AS se6
       |  FROM conf)
       |SELECT a, b, c, d,
       |  round(1e6 * exp(CAST(lnor6 AS DOUBLE) / 1e6)) / 1e6 AS odds_ratio,
       |  round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6 AS ci_lo,
       |  round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6 AS ci_hi,
       |  (round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6 > 1.0)
       |    OR (round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6 < 1.0)
       |    AS significant
       |FROM q""".stripMargin
  }

  // ---- max_drawdown: worst peak-to-trough of cumulative revenue ----

  /** Maximum drawdown of the cumulative daily net-revenue path
    * (revenue minus its own running mean would drift; the standard
    * finance statistic uses the raw cumulative path): dd_t = running
    * max − cum_t, reported with the trough day, its preceding peak
    * day, and the drawdown in dollars — the "worst losing streak"
    * number for any cumulative KPI. Exact integer cents; windows over
    * the calendar-bounded day frame; earliest-day tie-breaks.
    */
  def maxDrawdownQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val w = Window.orderBy(col("day_us")).rowsBetween(Window.unboundedPreceding, 0)
    val path = daily
      .withColumn("cum", sum(col("x")).over(w))
      .withColumn("runmax", max(col("cum")).over(w))
      .withColumn("dd", col("runmax") - col("cum"))
    val trough = path
      .orderBy(col("dd").desc, col("day_us")).limit(1)
      .select(col("day_us").as("trough_us"), col("dd").as("max_dd"),
        col("runmax").as("peak_cum"))
    val peak = path.crossJoin(broadcast(trough))
      .filter(col("cum") === col("peak_cum") && col("day_us") <= col("trough_us"))
      .agg(min(col("day_us")).as("peak_us"))
    trough.crossJoin(broadcast(peak))
      .select((col("peak_us") / 1000000L).cast("long").as("peak_day_s"),
        (col("trough_us") / 1000000L).cast("long").as("trough_day_s"),
        (col("max_dd").cast("double") / 100.0).as("max_drawdown"))
  }

  val maxDrawdownSql: String =
    """WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |path AS (SELECT day_us,
      |    CAST(SUM(x) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM daily),
      |p1 AS (SELECT day_us, cum,
      |    CAST(MAX(cum) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmax
      |  FROM path),
      |p2 AS (SELECT *, runmax - cum AS dd FROM p1),
      |trough AS (SELECT day_us AS trough_us, dd AS max_dd, runmax AS peak_cum
      |  FROM p2 ORDER BY dd DESC, day_us LIMIT 1),
      |peak AS (SELECT MIN(p2.day_us) AS peak_us
      |  FROM p2, trough
      |  WHERE p2.cum = trough.peak_cum AND p2.day_us <= trough.trough_us)
      |SELECT peak.peak_us // 1000000 AS peak_day_s,
      |  trough.trough_us // 1000000 AS trough_day_s,
      |  CAST(trough.max_dd AS DOUBLE) / 100.0 AS max_drawdown
      |FROM trough, peak""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cuped_adjust" -> (cupedAdjustQ _),
    "odds_ratio_ci" -> (oddsRatioCiQ _),
    "max_drawdown" -> (maxDrawdownQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "cuped_adjust" -> cupedAdjustSql,
    "odds_ratio_ci" -> oddsRatioCiSql,
    "max_drawdown" -> maxDrawdownSql
  )
}
