package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 second wave: evaluation-loop closers — chance-corrected
  * detector agreement (Cohen's κ), graded ANN ranking quality
  * (NDCG@k), revenue concentration (Lorenz deciles), and gate
  * agreement with class-imbalance correction (Matthews φ). Same
  * exact-integer / quantized-transcendental parity discipline as every
  * wave; every input frame is a session memo, so nothing rescans the
  * corpus.
  */
object QueriesWave11 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- cohen_kappa: chance-corrected dedup-detector agreement ----

  /** Cohen's κ between the MinHash-LSH and SimHash near-dup detectors
    * at the DOCUMENT level (is this doc in any verified dup pair?) —
    * `dedup_method_agreement` reports raw pair-set Jaccard, which
    * rewards two detectors that both say "almost nothing is a dup";
    * κ subtracts the agreement that class imbalance alone would
    * produce: κ = (p_o − p_e)/(1 − p_e), all exact rationals of the
    * 2×2 confusion counts. Both flag sets derive from the session's
    * memoized verified-pair frames — one semi-join each, no rescans.
    */
  def cohenKappaQ(spark: SparkSession, dir: String): DataFrame = {
    val mh = QueriesText.lshPairs(spark, dir)
    val sh = QueriesText.simhashPairs(spark, dir)
    def flagged(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a").as("doc_id"))
        .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val conf = docs
      .join(flagged(mh).withColumn("fa", lit(1L)), Seq("doc_id"), "left_outer")
      .join(flagged(sh).withColumn("fb", lit(1L)), Seq("doc_id"), "left_outer")
      .select(coalesce(col("fa"), lit(0L)).as("fa"), coalesce(col("fb"), lit(0L)).as("fb"))
      .agg(
        sum(col("fa") * col("fb")).as("n11"),
        sum(col("fa") * (lit(1L) - col("fb"))).as("n10"),
        sum((lit(1L) - col("fa")) * col("fb")).as("n01"),
        sum((lit(1L) - col("fa")) * (lit(1L) - col("fb"))).as("n00"))
    conf
      .withColumn("n", col("n11") + col("n10") + col("n01") + col("n00"))
      .withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n").cast("double"))
      .withColumn("pe",
        ((dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
          dec(col("n01") + col("n00")) * dec(col("n10") + col("n00"))).cast("double")) /
          (dec(col("n")) * dec(col("n"))).cast("double"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        col("po"), col("pe"),
        ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
  }

  val cohenKappaSql: String =
    s"""WITH a AS (SELECT doc_a, doc_b FROM (${QueriesText.minhashLshDupSql})),
       |${QueriesText.simhashPairCtes},
       |fa AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_a AS doc_id FROM a UNION ALL SELECT doc_b FROM a)),
       |fb AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_a AS doc_id FROM sdup UNION ALL SELECT doc_b FROM sdup)),
       |conf AS (
       |  SELECT
       |    CAST(SUM(fa * fb) AS BIGINT) AS n11,
       |    CAST(SUM(fa * (1 - fb)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - fa) * fb) AS BIGINT) AS n01,
       |    CAST(SUM((1 - fa) * (1 - fb)) AS BIGINT) AS n00
       |  FROM (
       |    SELECT CASE WHEN fa.doc_id IS NULL THEN 0 ELSE 1 END AS fa,
       |           CASE WHEN fb.doc_id IS NULL THEN 0 ELSE 1 END AS fb
       |    FROM documents d
       |    LEFT JOIN fa ON fa.doc_id = d.doc_id
       |    LEFT JOIN fb ON fb.doc_id = d.doc_id)),
       |k AS (SELECT *, n11 + n10 + n01 + n00 AS n,
       |    CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
       |    CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
       |       + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE)
       |      / CAST(CAST(n11 + n10 + n01 + n00 AS HUGEINT)
       |             * (n11 + n10 + n01 + n00) AS DOUBLE) AS pe
       |  FROM conf)
       |SELECT n11, n10, n01, n00, po, pe, (po - pe) / (1.0 - pe) AS kappa
       |FROM k""".stripMargin

  // ---- ann_ndcg: graded ranking quality of the LSH ANN path ----

  /** 1e6-quantized discount weights 1/log₂(i+1) for positions 1..k —
    * driver literals, so the per-position DCG terms are exact integer
    * products in both engines. */
  val ndcgW6: Seq[Long] =
    (1 to QueriesText.topK).map(i => math.round(1e6 / (math.log(i + 1) / math.log(2))))
  val ndcgIdcg6: Long =
    ndcgW6.zipWithIndex.map { case (w, i) => (QueriesText.topK - i) * w }.sum

  /** NDCG@k of the hyperplane-LSH ANN ranking against the brute-force
    * cosine truth — `ann_recall` counts hits, NDCG grades WHERE they
    * landed: gain of a returned candidate = k+1 − its true rank (0 if
    * outside the true top-k), DCG = Σ gain·w6(position) as exact
    * integer products of the 1e6-quantized discounts, NDCG = DCG/IDCG
    * with the ideal a driver literal. Probes that miss everything score
    * 0; short buckets are penalized by the full-IDCG denominator —
    * exactly the behavior a recall-only metric hides.
    */
  def annNdcgQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = QueriesText.embedCosineTopkQ(spark, dir)
      .select(col("probe_id"), col("cand_id"), col("rnk").as("true_rnk"))
    val lsh = QueriesText.embedLshAnnQ(spark, dir)
      .select(col("probe_id"), col("rnk"), col("cand_id"))
    val w = ndcgW6.zipWithIndex.map { case (w6, i) => (i + 1, w6) }.toDF("rnk", "w6")
    val terms = lsh
      .join(broadcast(w), "rnk")
      .join(truth, Seq("probe_id", "cand_id"), "left_outer")
      .withColumn("gain", coalesce(lit(QueriesText.topK + 1) - col("true_rnk"), lit(0)))
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("gain") > 0, 1L).otherwise(0L)).as("n_hits"),
        sum(col("gain") * col("w6")).as("dcg6"))
    terms
      .select(col("probe_id"), col("n_returned"), col("n_hits"),
        (col("dcg6").cast("double") / 1e6).as("dcg"),
        (col("dcg6").cast("double") / ndcgIdcg6.toDouble).as("ndcg"))
      .orderBy(col("probe_id"))
  }

  val annNdcgSql: String = {
    val wRows = ndcgW6.zipWithIndex
      .map { case (w6, i) => s"(${i + 1}, $w6)" }.mkString(", ")
    s"""WITH truth AS (
       |  SELECT probe_id, cand_id, rnk AS true_rnk FROM (${QueriesText.embedCosineTopkSql})),
       |lsh AS (SELECT probe_id, rnk, cand_id FROM (${QueriesText.embedLshAnnSql})),
       |w(rnk, w6) AS (VALUES $wRows),
       |terms AS (
       |  SELECT l.probe_id, CAST(COUNT(*) AS BIGINT) AS n_returned,
       |    CAST(SUM(CASE WHEN t.true_rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    CAST(SUM(COALESCE(${QueriesText.topK} + 1 - t.true_rnk, 0) * w.w6) AS BIGINT) AS dcg6
       |  FROM lsh l
       |  JOIN w ON w.rnk = l.rnk
       |  LEFT JOIN truth t ON t.probe_id = l.probe_id AND t.cand_id = l.cand_id
       |  GROUP BY 1)
       |SELECT probe_id, n_returned, n_hits,
       |  CAST(dcg6 AS DOUBLE) / 1e6 AS dcg,
       |  CAST(dcg6 AS DOUBLE) / $ndcgIdcg6.0 AS ndcg
       |FROM terms ORDER BY probe_id""".stripMargin
  }

  // ---- lorenz_curve: revenue-concentration deciles ----

  /** Lorenz curve of customer revenue at decile resolution: customers
    * (INCLUDING zero-order ones — dropping them flattens the curve)
    * ranked by exact-cents revenue via the range-partitioned
    * distributed NTILE (`Layout.rankedNtile`, no single-partition
    * window), then cumulative revenue share per population decile —
    * the concentration curve `gini_index` summarizes to one number.
    * Exact cents everywhere; two divisions per output row.
    */
  def lorenzCurveQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Memo(spark, dir, "wave11:custRevenue")(
      Tables(spark, dir, "customer")
        .join(Tables(spark, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("__r")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), coalesce(col("__r"), lit(0L)).as("rev_cents")))
    val tiled = operators.Layout.rankedNtile(
      rev, Seq(col("rev_cents"), col("c_custkey")), 10, "decile")
    val byDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(dec(col("rev_cents"))).as("rev"))
    val tot = byDecile.agg(sum(col("rev")).as("tt"), sum(col("n_customers")).as("nn"))
    val w = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("cum_rev", sum(col("rev")).over(w))
      .withColumn("cum_n", sum(col("n_customers")).over(w))
      .select(col("decile"), col("n_customers"),
        (col("rev").cast("double") / 100.0).as("revenue"),
        (col("cum_n").cast("double") / col("nn").cast("double")).as("cum_pop_share"),
        (col("cum_rev").cast("double") / col("tt").cast("double")).as("cum_rev_share"))
      .orderBy(col("decile"))
  }

  val lorenzCurveSql: String =
    """WITH rev AS (
      |  SELECT c.c_custkey, COALESCE(o.r, 0) AS rev_cents
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r
      |    FROM orders GROUP BY 1) o ON o.o_custkey = c.c_custkey),
      |tiled AS (SELECT rev_cents,
      |    CAST(NTILE(10) OVER (ORDER BY rev_cents, c_custkey) AS INT) AS decile
      |  FROM rev),
      |bd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(rev_cents) AS HUGEINT) AS rev
      |  FROM tiled GROUP BY 1),
      |tot AS (SELECT SUM(rev) AS tt, CAST(SUM(n_customers) AS BIGINT) AS nn FROM bd),
      |cum AS (SELECT bd.*, tot.tt, tot.nn,
      |    SUM(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
      |    SUM(n_customers) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
      |  FROM bd, tot)
      |SELECT decile, n_customers,
      |  CAST(rev AS DOUBLE) / 100.0 AS revenue,
      |  CAST(cum_n AS DOUBLE) / CAST(nn AS DOUBLE) AS cum_pop_share,
      |  CAST(cum_rev AS DOUBLE) / CAST(tt AS DOUBLE) AS cum_rev_share
      |FROM cum ORDER BY decile""".stripMargin

  // ---- mcc_gate_agreement: Matthews correlation of curation gates ----

  /** Matthews correlation (φ coefficient) between the rule-based
    * curation gate (`doc_filter`) and the heuristic score gate
    * (quality ≥ 0.5): MCC = (TP·TN − FP·FN)/√(P·P'·N·N') — the
    * imbalance-robust agreement number (accuracy and even κ mislead
    * when one gate passes almost everything). Confusion counts from
    * one joined pass over the two memoized per-doc frames; numerator
    * exact decimal, ONE quantized √ of the marginal product.
    */
  def mccGateAgreementQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = QueriesWave10.scoredDocs(spark, dir)
    val conf = scored
      .select(col("kept").cast("long").as("a"),
        (col("s6") >= 500000L).cast("long").as("b"))
      .agg(
        sum(col("a") * col("b")).as("tp"),
        sum(col("a") * (lit(1L) - col("b"))).as("fn"),
        sum((lit(1L) - col("a")) * col("b")).as("fp"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("tn"))
    conf
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(
          |  CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn) AS DOUBLE)
          |  * CAST(CAST(tn + fp AS DECIMAL(38,0)) * (tn + fn) AS DOUBLE))) AS DECIMAL(38,0))"""
          .stripMargin))
      .select(col("tp"), col("fn"), col("fp"), col("tn"),
        ((dec(col("tp")) * dec(col("tn")) - dec(col("fp")) * dec(col("fn")))
          .cast("double") * 1e6 / col("se6").cast("double")).as("mcc"))
  }

  val mccGateAgreementSql: String = {
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
       |    CAST(SUM(a * b) AS BIGINT) AS tp,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS fn,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS fp,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS tn
       |  FROM (SELECT CASE WHEN kept THEN 1 ELSE 0 END AS a,
       |          CASE WHEN s6 >= 500000 THEN 1 ELSE 0 END AS b
       |        FROM scored)),
       |se AS (SELECT *,
       |    CAST(round(1e6 * sqrt(
       |      CAST(CAST(tp + fp AS HUGEINT) * (tp + fn) AS DOUBLE)
       |      * CAST(CAST(tn + fp AS HUGEINT) * (tn + fn) AS DOUBLE))) AS HUGEINT) AS se6
       |  FROM conf)
       |SELECT tp, fn, fp, tn,
       |  CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS DOUBLE) * 1e6
       |    / CAST(se6 AS DOUBLE) AS mcc
       |FROM se""".stripMargin
  }

  // ---- isotonic_calibration: MLlib PAV score calibrator (+ check) ----

  /** The isotonic fit as a bounded (boundary, fitted-probability)
    * staircase, trained once per (dataset, schema version) and
    * PERSISTED to the warehouse (Checkpoint) — a fresh session serves
    * the calibrator without refitting; the session Memo only pins the
    * loaded artifact. (Persisting also sidesteps the cache
    * canonicalizer, to which MLlib model transforms are
    * nondeterministic.) */
  private[graft] val isoFpTables = Seq("documents")

  private[graft] def isotonicFit(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave11:isotonicFit") {
      Checkpoint(spark, dir, "isotonic_staircase")(
        Checkpoint.tableFingerprint(spark, dir, isoFpTables: _*)) {
        import spark.implicits._
        val scored = QueriesWave10.scoredDocs(spark, dir)
        val train = scored.select(
          (col("s6").cast("double") / 1e6).as("features"),
          col("kept").cast("double").as("label"))
        val model = new org.apache.spark.ml.regression.IsotonicRegression()
          .setIsotonic(true)
          .fit(train)
        model.boundaries.toArray.zip(model.predictions.toArray).toSeq
          .toDF("score", "p_calibrated")
      }
    }

  /** MLlib IsotonicRegression (distributed pool-adjacent-violators) of
    * the curation pass probability as a monotone function of the
    * heuristic quality score — the classic score-calibration step
    * before thresholding a ranker (`quality_calibration` audits decile
    * agreement; this produces the calibrated curve itself). The PAV
    * least-squares solution is UNIQUE, so the fit is deterministic at
    * any partitioning; the piecewise-constant solution is a bounded
    * (boundary, probability) frame. Library surface: the trainer isn't
    * oracle-reproducible, so the raw staircase cannot hash-match — the
    * registered primary form is [[isotonicCalibrationGatedQ]].
    */
  def isotonicCalibrationQ(spark: SparkSession, dir: String): DataFrame =
    isotonicFit(spark, dir).orderBy(col("score"))

  /** Primary (hash-checked) form of the isotonic calibrator: the
    * oracle-re-derived training size and exact base rate next to the
    * conjunction of the PAV contract gates (monotone, in [0,1],
    * mass-preserving, a least-squares fit no worse — and strictly
    * better when non-constant — than the base rate). n and base_rate
    * are data-dependent columns the oracle computes from the corpus,
    * so a drifted trainer input fails the hash, not just the booleans.
    * Raw staircase: [[isotonicCalibrationQ]]; itemized verdicts:
    * [[isotonicCheckQ]].
    */
  def isotonicCalibrationGatedQ(spark: SparkSession, dir: String): DataFrame =
    isotonicCheckQ(spark, dir).select(col("n"), col("base_rate"),
      (col("monotone_ok") && col("range_ok") && col("mass_ok") &&
        col("fit_ok") && col("improves_ok")).as("calibrated_ok"))

  /** Hash-checked verdict for the isotonic fit (the `ivf_kmeans_check`
    * discipline): the curve must be monotone non-decreasing, inside
    * [0,1], mass-preserving (Σp over docs = Σy — PAV's normal
    * equation), and a strictly better least-squares fit than the
    * constant base rate unless the curve IS constant. The oracle
    * re-derives n and the exact base rate and asserts the verdicts.
    */
  def isotonicCheckQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fit = isotonicFit(spark, dir)
    val scored = QueriesWave10.scoredDocs(spark, dir)
    // score every doc through the piecewise-constant curve: the fitted
    // value at the greatest boundary ≤ score (training scores always hit
    // a boundary exactly, so no interpolation ambiguity)
    val preds = scored
      .join(broadcast(fit),
        col("score") <= col("s6").cast("double") / 1e6, "left_outer")
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("score").desc)))
      .filter(col("__rk") === 1)
      .select(col("doc_id"), col("kept"), col("p_calibrated"))
    val mono = fit
      .withColumn("__prev", lag(col("p_calibrated"), 1)
        .over(Window.orderBy(col("score"))))
      .agg(
        (sum(when(col("__prev").isNotNull && col("__prev") > col("p_calibrated"), 1L)
          .otherwise(0L)) === 0L).as("monotone_ok"),
        (sum(when(col("p_calibrated") >= 0.0 && col("p_calibrated") <= 1.0, 0L)
          .otherwise(1L)) === 0L).as("range_ok"),
        (countDistinct(col("p_calibrated")) > 1L).as("__nonconst"))
    val agg = preds.agg(
      count(lit(1)).as("n"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("__k"),
      sum(col("p_calibrated")).as("__sp"),
      sum((col("kept").cast("double") - col("p_calibrated")) *
        (col("kept").cast("double") - col("p_calibrated"))).as("__sse"))
    agg.crossJoin(mono)
      .withColumn("base_rate", col("__k").cast("double") / col("n").cast("double"))
      .withColumn("__ssebase",
        col("__k").cast("double") *
          (lit(1.0) - col("base_rate")) * (lit(1.0) - col("base_rate")) +
          (col("n") - col("__k")).cast("double") * col("base_rate") * col("base_rate"))
      .select(col("n"), col("base_rate"), col("monotone_ok"), col("range_ok"),
        (abs(col("__sp") - col("__k").cast("double")) < 1e-3).as("mass_ok"),
        (col("__sse") <= col("__ssebase") + 1e-9).as("fit_ok"),
        (!col("__nonconst") || col("__sse") < col("__ssebase") - 1e-9 ||
          col("__ssebase") < 1e-12).as("improves_ok"))
  }

  /** Shared oracle CTE: n and base_rate re-derived from the corpus; the
    * caller picks which verdict columns to assert TRUE. */
  private def isotonicOracleSql(verdictCols: String): String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |kept AS (
       |  SELECT w.doc_id,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS base_rate,
       |  $verdictCols
       |FROM kept""".stripMargin
  }

  val isotonicCheckSql: String = isotonicOracleSql(
    "TRUE AS monotone_ok, TRUE AS range_ok, TRUE AS mass_ok,\n  TRUE AS fit_ok, TRUE AS improves_ok")

  val isotonicCalibrationGatedSql: String =
    isotonicOracleSql("TRUE AS calibrated_ok")

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cohen_kappa" -> (cohenKappaQ _),
    "ann_ndcg" -> (annNdcgQ _),
    "lorenz_curve" -> (lorenzCurveQ _),
    "mcc_gate_agreement" -> (mccGateAgreementQ _),
    "isotonic_calibration" -> (isotonicCalibrationGatedQ _),
    "isotonic_check" -> (isotonicCheckQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "cohen_kappa" -> cohenKappaSql,
    "ann_ndcg" -> annNdcgSql,
    "lorenz_curve" -> lorenzCurveSql,
    "mcc_gate_agreement" -> mccGateAgreementSql,
    // the registered isotonic_calibration is the gated form (n/base_rate
    // re-derived by the oracle + conjunction verdict); the raw staircase
    // stays library surface (isotonicCalibrationQ). isotonic_check is
    // the itemized diagnostic contract.
    "isotonic_calibration" -> isotonicCalibrationGatedSql,
    "isotonic_check" -> isotonicCheckSql
  )
}
