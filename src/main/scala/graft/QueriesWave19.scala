package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 tenth wave: rank agreement between curation signals
  * (Kendall τ-b), segmented trend fits around the detected
  * changepoint, and autocorrelation-adjusted effective sample size.
  */
object QueriesWave19 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")
  private val dayUs = 86400000000L

  // ---- kendall_tau: rank agreement of the two curation signals ----

  val ktSampleMod = 5L

  /** Kendall τ-b between the heuristic quality score and the
    * char-bigram LM NLL on a deterministic 1-in-5 md5 doc sample:
    * C−D over √((n₀−t_x)(n₀−t_y)) with full tie handling — the
    * rank-agreement number `quality_calibration`'s decile view
    * coarsens (a STRONGLY negative τ is what "high quality ⇒ low
    * perplexity" should look like). The pair stage is sample² bounded
    * (~10⁴ rows), both per-doc signals are session memos on 1e-6
    * grids, and C/D/tie counts are exact integers with ONE quantized
    * √ at the end.
    */
  def kendallTauQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = QueriesWave10.scoredDocs(spark, dir)
    val nll = QueriesCorpus.lmPerplexityQ(spark, dir)
      .select(col("doc_id"), expr("CAST(round(1e6 * nll) AS BIGINT)").as("n6"))
    val sample = Memo(spark, dir, "wave19:ktSample")(
      scored.select(col("doc_id"), col("s6")).join(nll, "doc_id")
        .filter(pmod(
          conv(substring(md5(concat(lit("kt:"), col("doc_id").cast("string"))), 1, 13),
            16, 10).cast("long"), lit(ktSampleMod)) === 0L))
    val a = sample.select(col("doc_id").as("ia"), col("s6").as("xa"), col("n6").as("ya"))
    val b = sample.select(col("doc_id").as("ib"), col("s6").as("xb"), col("n6").as("yb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .select(
        (col("xa") - col("xb")).as("dx"), (col("ya") - col("yb")).as("dy"))
    val m = pairs.agg(count(lit(1)).as("n0"),
      sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
        (col("dx") > 0) === (col("dy") > 0), 1L).otherwise(0L)).as("c"),
      sum(when(col("dx") =!= 0 && col("dy") =!= 0 &&
        (col("dx") > 0) =!= (col("dy") > 0), 1L).otherwise(0L)).as("d"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
    m.withColumn("se6", expr(
      """CAST(round(1e6 * sqrt(CAST((n0 - tx) AS DOUBLE) * (n0 - ty))) AS BIGINT)"""))
      .select(col("n0").as("n_pairs"), col("c").as("concordant"),
        col("d").as("discordant"), col("tx").as("ties_x"), col("ty").as("ties_y"),
        ((col("c") - col("d")).cast("double") * 1e6 / col("se6").cast("double"))
          .as("tau_b"))
  }

  val kendallTauSql: String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |scored AS (
       |  SELECT w.doc_id,
       |    CAST(round(1e6 * (${QueriesText.scoreSqlExpr})) AS BIGINT) AS s6
       |  FROM w JOIN documents d USING (doc_id)),
       |nllt AS (SELECT doc_id, CAST(round(1e6 * nll) AS BIGINT) AS n6
       |  FROM (${QueriesCorpus.lmPerplexitySql})),
       |sample AS (
       |  SELECT s.doc_id, s.s6, nllt.n6
       |  FROM scored s JOIN nllt USING (doc_id)
       |  WHERE CAST(('0x' || substr(md5('kt:' || CAST(s.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
       |    % $ktSampleMod = 0),
       |pairs AS (
       |  SELECT a.s6 - b.s6 AS dx, a.n6 - b.n6 AS dy
       |  FROM sample a JOIN sample b ON a.doc_id < b.doc_id),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
       |    CAST(SUM(CASE WHEN dx != 0 AND dy != 0 AND (dx > 0) = (dy > 0)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN dx != 0 AND dy != 0 AND (dx > 0) != (dy > 0)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
       |  FROM pairs)
       |SELECT n0 AS n_pairs, c AS concordant, d AS discordant, tx AS ties_x, ty AS ties_y,
       |  CAST(c - d AS DOUBLE) * 1e6
       |    / CAST(CAST(round(1e6 * sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty))) AS BIGINT)
       |        AS DOUBLE) AS tau_b
       |FROM m""".stripMargin
  }

  // ---- segmented_trend: per-segment OLS around the level-1 cut ----

  /** Segmented (piecewise-linear) trend around `binseg_changepoints`'
    * level-1 cut: per side, the closed-form OLS slope over (segment
    * day index, daily revenue) with exact integer moments, plus the
    * level jump between segment means — the "did the trend change or
    * just the level" readout a bare changepoint day can't give. Slopes
    * pinned to 1e-6 cents/day; day indexes are per-segment ranks over
    * the calendar-bounded frame.
    */
  def segmentedTrendQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val cut = SharedFrames.binsegL1(spark, dir)
    val seg = daily.crossJoin(broadcast(cut.select(col("day_us").as("__cut"))))
      .withColumn("segment",
        when(col("day_us") <= col("__cut"), lit("left")).otherwise(lit("right")))
      .withColumn("i",
        row_number().over(Window.partitionBy(col("segment")).orderBy(col("day_us")))
          .cast("long"))
    seg.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("i"))).as("si"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("i")) * dec(col("i"))).as("qi"),
        sum(dec(col("i")) * dec(col("x"))).as("pix"))
      .withColumn("slope",
        round(lit(1e6) * (dec(col("n_days")) * col("pix") - col("si") * col("sx"))
          .cast("double") /
          (dec(col("n_days")) * col("qi") - col("si") * col("si")).cast("double")) / 1e6)
      .select(col("segment"), col("n_days"),
        (col("slope") / 100.0).as("slope_dollars_per_day"),
        (col("sx").cast("double") / (col("n_days").cast("double") * 100.0))
          .as("mean_daily_dollars"))
      .orderBy(col("segment"))
  }

  val segmentedTrendSql: String =
    """WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |c1 AS (SELECT day_us, x,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n, CAST(SUM(x) OVER () AS BIGINT) AS t,
      |    ROW_NUMBER() OVER (ORDER BY day_us) AS rk,
      |    CAST(SUM(x) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      |  FROM daily),
      |l1 AS (SELECT day_us AS cut FROM c1 WHERE n >= 4
      |  ORDER BY ABS(n * pre - rk * t) DESC, day_us LIMIT 1),
      |seg AS (SELECT d.day_us, d.x,
      |    CASE WHEN d.day_us <= l1.cut THEN 'left' ELSE 'right' END AS segment
      |  FROM daily d, l1),
      |idx AS (SELECT segment, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY segment ORDER BY day_us) AS BIGINT) AS i
      |  FROM seg),
      |m AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(i) AS HUGEINT) AS si, CAST(SUM(x) AS HUGEINT) AS sx,
      |    CAST(SUM(CAST(i AS HUGEINT) * i) AS HUGEINT) AS qi,
      |    CAST(SUM(CAST(i AS HUGEINT) * x) AS HUGEINT) AS pix
      |  FROM idx GROUP BY 1)
      |SELECT segment, n_days,
      |  (round(1e6 * CAST(n_days * pix - si * sx AS DOUBLE)
      |    / CAST(n_days * qi - si * si AS DOUBLE)) / 1e6) / 100.0 AS slope_dollars_per_day,
      |  CAST(sx AS DOUBLE) / (CAST(n_days AS DOUBLE) * 100.0) AS mean_daily_dollars
      |FROM m ORDER BY segment""".stripMargin

  // ---- ess_autocorr: autocorrelation-adjusted effective sample size ----

  val essLags = 7

  /** Effective sample size of the daily event-count series:
    * ESS = n / (1 + 2Σ_{k≤7} ρ̂_k) — the number every CI on a time
    * series should use instead of n (positive autocorrelation means
    * the days aren't independent draws; `ljung_box` tests it, this
    * prices it). Each ρ̂ is the exact-moment estimate pinned to 1e-6;
    * the denominator is one exact integer sum over the 7-row lag
    * frame.
    */
  def essAutocorrQ(spark: SparkSession, dir: String): DataFrame = {
    val d = SharedFrames.dailyEvents(spark, dir)
    val nd = d.agg(count(lit(1)).as("ndays"))
    val lags = spark.range(1L, essLags + 1L).select(col("id").as("lag"))
    val rho = d.select(col("day_us"), col("n").as("x")).crossJoin(broadcast(lags))
      .join(d.select(col("day_us").as("__bd"), col("n").as("y")),
        col("__bd") === col("day_us") + col("lag") * lit(dayUs))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("rho6", expr(
        """CAST(round(1e6 * CAST(np * sxy - sx * sy AS DOUBLE)
          | / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
          |        * CAST(np * syy - sy * sy AS DOUBLE))) AS BIGINT)""".stripMargin))
    rho.agg(sum(col("rho6")).as("__sr6"))
      .crossJoin(broadcast(nd))
      .select(col("ndays").as("n_days"),
        (col("__sr6").cast("double") / 1e6).as("rho_sum"),
        (col("ndays").cast("double") /
          (lit(1.0) + lit(2.0) * col("__sr6").cast("double") / 1e6)).as("ess"))
      .withColumn("ess_ratio", col("ess") / col("n_days").cast("double"))
  }

  val essAutocorrSql: String =
    s"""WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndays FROM d),
       |p AS (SELECT l.lag, a.n AS x, b.n AS y
       |  FROM d a
       |  CROSS JOIN (SELECT unnest(range(1, ${essLags + 1})) AS lag) l
       |  JOIN d b ON b.day_us = a.day_us + l.lag * $dayUs),
       |m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS np,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1),
       |r AS (SELECT CAST(SUM(CAST(round(1e6 * CAST(np * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
       |             * CAST(np * syy - sy * sy AS DOUBLE))) AS BIGINT)) AS BIGINT) AS sr6
       |  FROM m)
       |SELECT nd.ndays AS n_days,
       |  CAST(r.sr6 AS DOUBLE) / 1e6 AS rho_sum,
       |  CAST(nd.ndays AS DOUBLE) / (1.0 + 2.0 * CAST(r.sr6 AS DOUBLE) / 1e6) AS ess,
       |  (CAST(nd.ndays AS DOUBLE) / (1.0 + 2.0 * CAST(r.sr6 AS DOUBLE) / 1e6))
       |    / CAST(nd.ndays AS DOUBLE) AS ess_ratio
       |FROM r, nd""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kendall_tau" -> (kendallTauQ _),
    "segmented_trend" -> (segmentedTrendQ _),
    "ess_autocorr" -> (essAutocorrQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "kendall_tau" -> kendallTauSql,
    "segmented_trend" -> segmentedTrendSql,
    "ess_autocorr" -> essAutocorrSql
  )
}
