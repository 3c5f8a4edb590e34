package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 wave 29: validation closures — a χ² goodness-of-fit of
  * the fitted Gaussian mixture against the data it modeled (fit, then
  * TEST the fit), and the duplication × quality association (are
  * near-duplicates lower-quality documents?) with a Woolf interval.
  */
object QueriesWave29 extends QueryModule {

  // ---- mixture_gof: chi-squared test of the em_mixture fit ----

  val gofGroups = 16

  /** Standard-normal CDF as an expression over `z` — the A&S 7.1.26
    * erfc polynomial (the repo's one-quantized-libm-call discipline):
    * Φ(z) = 1 − half(z) for z ≥ 0, half(−z) otherwise, with
    * half(z) = poly(z)·exp(−z²/2)/2 quantized to the 1e-9 grid.
    */
  private def phiSql(z: String): String = {
    val half =
      s"""(0.5 * ${NormalDist.erfcTailPoly(s"abs($z)")}
         | * exp(-(($z) * ($z)) / 2.0))""".stripMargin
    s"""(CAST(round(1e9 * (CASE WHEN ($z) >= 0 THEN 1.0 - $half
       |  ELSE $half END)) AS BIGINT))""".stripMargin
  }

  /** Mixture CDF on the 1e-9 grid at boundary expression `x`:
    * F(x) = π·Φ((x−μ1)/σ1) + (1−π)·Φ((x−μ2)/σ2), each Φ quantized.
    */
  private def mixCdf(x: String): String =
    s"""(pi1 * (CAST(${phiSql(s"(($x) - mu1) / sigma1")} AS DOUBLE) / 1e9)
       | + (1.0 - pi1) * (CAST(${phiSql(s"(($x) - mu2) / sigma2")} AS DOUBLE) / 1e9))""".stripMargin

  /** χ² goodness-of-fit of the fitted two-component mixture against
    * the event-value histogram it was trained on — fit, then TEST the
    * fit (the validation step `em_mixture` alone doesn't give, and the
    * mixture analogue of `hist_quantile_check`): the 256 bins collapse
    * to 16 equal-width groups; expected masses come from the mixture
    * CDF at the group edges (A&S Φ on the 1e-9 grid, end groups
    * clamped to 0/1 so Σexp = n exactly); χ² = Σ(obs−exp)²/exp with a
    * 0.5 expected-count floor (merged-tail convention) and per-group
    * terms pinned to the 1e-6 grid before the 16-row sum. Reports χ²,
    * df = groups−1−5 fitted params, and χ²/df. Everything after the
    * memoized histogram is constant-size algebra.
    */
  def mixtureGofQ(spark: SparkSession, dir: String): DataFrame = {
    val hist = QueriesWave26.emHist(spark, dir)
    val fit = QueriesWave26.emFitted(spark, dir)
      .selectExpr("mn", "mx", "pi1", "mu1", "sqrt(v1) AS sigma1",
        "mu2", "sqrt(v2) AS sigma2")
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n"))))
    // 16-row spine: a group empty in the data still carries its
    // expected mass into the statistic
    val obs = spark.range(gofGroups).select(col("id").as("g"))
      .join(hist.groupBy(expr(s"b div ${256 / gofGroups}").as("g"))
        .agg(sum(col("cnt")).as("__o")), Seq("g"), "left_outer")
      .select(col("g"), coalesce(col("__o"), lit(0L)).as("obs"))
    val terms = obs.crossJoin(broadcast(fit))
      .withColumn("xl", expr(s"mn + CAST(g AS DOUBLE) * ((mx - mn) / $gofGroups.0)"))
      .withColumn("xu", expr(s"mn + CAST(g + 1 AS DOUBLE) * ((mx - mn) / $gofGroups.0)"))
      .withColumn("fl", expr(s"CASE WHEN g = 0 THEN 0.0 ELSE ${mixCdf("xl")} END"))
      .withColumn("fu", expr(
        s"CASE WHEN g = ${gofGroups - 1} THEN 1.0 ELSE ${mixCdf("xu")} END"))
      .withColumn("ex", expr("greatest(CAST(n AS DOUBLE) * (fu - fl), 0.5)"))
      // LEAST clamp: a grotesque misfit at extreme data scale cannot
      // overflow the BIGINT grid (9e11 per group is far past any
      // decision threshold); identical clamp on both engines
      .select(col("n"),
        expr("CAST(floor(LEAST(1e6 * (CAST(obs AS DOUBLE) - ex) * (CAST(obs AS DOUBLE) - ex) / ex, 9e17)) AS BIGINT)")
          .as("t6"))
    terms.groupBy(col("n"))
      .agg((sum(col("t6")).cast("double") / lit(1e6)).as("chi2"))
      .withColumn("df", lit((gofGroups - 1 - 5).toLong))
      .withColumn("chi2_per_df", col("chi2") / col("df").cast("double"))
      .select(col("n"), col("chi2"), col("df"), col("chi2_per_df"))
  }

  /** The fitted-params frame needs mn/mx alongside the reported
    * sigmas — embed em_mixture's full CTE chain and re-derive.
    */
  val mixtureGofSql: String =
    s"""WITH ${QueriesWave26.emBinsCte},
       |${QueriesWave26.emChainCte},
       |fit AS (SELECT st.n, e.pi1, e.mu1, sqrt(e.v1) AS sigma1,
       |    e.mu2, sqrt(e.v2) AS sigma2, st.mn, st.mx
       |  FROM em${QueriesWave26.emIters} e, st),
       |obs AS (SELECT s.g, COALESCE(o.obs, 0) AS obs
       |  FROM (SELECT unnest(range(0, $gofGroups)) AS g) s
       |  LEFT JOIN (SELECT b // ${256 / gofGroups} AS g, CAST(SUM(cnt) AS BIGINT) AS obs
       |    FROM bins GROUP BY 1) o USING (g)),
       |terms AS (SELECT n,
       |    CAST(floor(LEAST(1e6 * (CAST(obs AS DOUBLE) - ex) * (CAST(obs AS DOUBLE) - ex) / ex, 9e17)) AS BIGINT) AS t6
       |  FROM (SELECT obs.obs, fit.n,
       |      GREATEST(CAST(n AS DOUBLE) * (
       |        (CASE WHEN g = ${gofGroups - 1} THEN 1.0
       |              ELSE ${mixCdf(s"mn + CAST(g + 1 AS DOUBLE) * ((mx - mn) / $gofGroups.0)")} END)
       |        - (CASE WHEN g = 0 THEN 0.0
       |              ELSE ${mixCdf(s"mn + CAST(g AS DOUBLE) * ((mx - mn) / $gofGroups.0)")} END)
       |      ), 0.5) AS ex
       |    FROM obs, fit))
       |SELECT n, CAST(SUM(t6) AS DOUBLE) / 1e6 AS chi2,
       |  CAST(${gofGroups - 1 - 5} AS BIGINT) AS df,
       |  (CAST(SUM(t6) AS DOUBLE) / 1e6) / ${gofGroups - 1 - 5}.0 AS chi2_per_df
       |FROM terms GROUP BY 1""".stripMargin

  // ---- dup_quality_or: are near-duplicates lower quality? ----

  /** Odds ratio between near-duplicate membership (the verified LSH
    * components) and the quality gate, with the Woolf 95% interval —
    * the curation question behind every dedup budget: if duplicates
    * concentrate in LOW-quality text (boilerplate, spam mirrors), the
    * quality filter already removes much of what dedup would, and the
    * two pipeline stages can be resequenced. Same half-count / one-
    * quantized-ln/√ discipline as `odds_ratio_ci`; the dup flag is a
    * left-semi join against the memoized component frame (no LSH
    * recompute).
    */
  def dupQualityOrQ(spark: SparkSession, dir: String): DataFrame = {
    val dup = QueriesText.dupComponents(spark, dir).select(col("doc_id"))
    val cells = QueriesWave10.scoredDocs(spark, dir)
      .join(dup.withColumn("__d", lit(1L)), Seq("doc_id"), "left_outer")
      .select(coalesce(col("__d"), lit(0L)).as("ga"),
        col("kept").cast("long").as("gb"))
      .agg(sum(col("ga") * col("gb")).as("a"),
        sum(col("ga") * (lit(1L) - col("gb"))).as("b"),
        sum((lit(1L) - col("ga")) * col("gb")).as("c"),
        sum((lit(1L) - col("ga")) * (lit(1L) - col("gb"))).as("d"))
    cells
      .withColumn("lnor6", expr(
        """CAST(round(1e6 * ln(
          |  ((2.0 * a + 1.0) * (2.0 * d + 1.0)) / ((2.0 * b + 1.0) * (2.0 * c + 1.0))))
          | AS BIGINT)""".stripMargin))
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(
          |  1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)))
          | AS BIGINT)""".stripMargin))
      .select(col("a").as("dup_kept"), col("b").as("dup_dropped"),
        col("c").as("uniq_kept"), col("d").as("uniq_dropped"),
        expr("round(1e6 * exp(CAST(lnor6 AS DOUBLE) / 1e6)) / 1e6").as("odds_ratio"),
        expr("round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6").as("ci_lo"),
        expr("round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6").as("ci_hi"))
      .withColumn("significant", col("ci_lo") > 1.0 || col("ci_hi") < 1.0)
  }

  // clustersCtes already brings the `w` words CTE — compose with the
  // scored body alone (a second `w` would be a duplicate CTE name)
  val dupQualityOrSql: String =
    s"""WITH RECURSIVE ${QueriesText.clustersCtes},
       |${QueriesWave10.scoredOnlyCteSql},
       |cells AS (SELECT
       |    CAST(SUM(ga * gb) AS BIGINT) AS a,
       |    CAST(SUM(ga * (1 - gb)) AS BIGINT) AS b,
       |    CAST(SUM((1 - ga) * gb) AS BIGINT) AS c,
       |    CAST(SUM((1 - ga) * (1 - gb)) AS BIGINT) AS d
       |  FROM (SELECT
       |      CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ga,
       |      CASE WHEN s.kept THEN 1 ELSE 0 END AS gb
       |    FROM scored s
       |    LEFT JOIN (SELECT DISTINCT doc_id FROM clusters) cl USING (doc_id))),
       |x AS (SELECT *,
       |    CAST(round(1e6 * ln(
       |      ((2.0 * a + 1.0) * (2.0 * d + 1.0)) / ((2.0 * b + 1.0) * (2.0 * c + 1.0))))
       |     AS BIGINT) AS lnor6,
       |    CAST(round(1e6 * sqrt(
       |      1.0 / (a + 0.5) + 1.0 / (b + 0.5) + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)))
       |     AS BIGINT) AS se6
       |  FROM cells)
       |SELECT a AS dup_kept, b AS dup_dropped, c AS uniq_kept, d AS uniq_dropped,
       |  round(1e6 * exp(CAST(lnor6 AS DOUBLE) / 1e6)) / 1e6 AS odds_ratio,
       |  round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6 AS ci_lo,
       |  round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6 AS ci_hi,
       |  (round(1e6 * exp((lnor6 - 1.959964 * se6) / 1e6)) / 1e6 > 1.0
       |   OR round(1e6 * exp((lnor6 + 1.959964 * se6) / 1e6)) / 1e6 < 1.0) AS significant
       |FROM x""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mixture_gof" -> (mixtureGofQ _),
    "dup_quality_or" -> (dupQualityOrQ _))

  val oracleSql: Map[String, String] = Map(
    "mixture_gof" -> mixtureGofSql,
    "dup_quality_or" -> dupQualityOrSql)
}
