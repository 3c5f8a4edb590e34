package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 wave 25: seeded graph centrality (personalized PageRank),
  * the exact-randomization leg of the A/B stack (permutation A/A
  * test), multi-gate agreement (Cochran Q, Fleiss κ), asymmetric
  * categorical association (Theil U), survey-sampling estimation
  * (post-stratified mean + variance), distribution-free sample-size
  * planning (Hoeffding), and quality-weighted token-budget
  * apportionment (largest-remainder). Same portability discipline as
  * every wave: exact integers / fixed-order doubles, 2^20 / 1e-9
  * grids around the few libm calls, md5 for every seeded draw.
  */
object QueriesWave25 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Portable 64-bit-ish uniform from md5: top 13 hex digits as a
    * BIGINT (the capture_recapture / diff_in_diff idiom).
    */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  // ---- ppr_scores: personalized PageRank on the trade graph ----

  val pprAlpha = 0.85
  val pprIters = 6
  private val pprScale = 1048576.0 // 2^20 fixed-point per iteration
  private val pprTeleport = 1.0 - pprAlpha

  /** Personalized PageRank from the smallest nation node over the
    * undirected trade graph — the SEEDED centrality the family still
    * missed (`nation_pagerank` is global, `salsa_scores` is
    * hub/authority): "importance relative to THIS market" for
    * recommendation and neighborhood expansion. Power iteration with
    * teleport (1−α) onto the seed; each round's inbound mass is
    * floor-quantized on the 2^20 grid (the markov_stationary
    * discipline) so all [[pprIters]] rounds replay identically in the
    * oracle's CTE chain. The graph build is the memoized 4-table
    * aggregate; every iteration is a broadcast join over the
    * ≤25-node nation frame.
    */
  def pprScoresQ(spark: SparkSession, dir: String): DataFrame = {
    val und = QueriesWave9.nationUndirected(spark, dir)
    val deg = Memo(spark, dir, "wave25:pprDeg")(
      und.groupBy(col("a")).agg(count(lit(1)).as("deg")))
    val seed = deg.agg(min(col("a")).as("seed"))
    var p = deg.crossJoin(broadcast(seed))
      .select(col("a").as("node"), col("deg"),
        when(col("a") === col("seed"), 1.0).otherwise(0.0).as("pi"))
    for (_ <- 1 to pprIters) {
      val stepped = p
        .select(col("node").as("a"), col("pi"), col("deg"))
        .join(und, "a")
        .groupBy(col("b"))
        .agg(sum(floor(col("pi") / col("deg").cast("double") * lit(pprAlpha) *
          lit(pprScale)).cast("bigint")).as("v"))
      p = deg.crossJoin(broadcast(seed))
        .join(stepped, col("a") === col("b"), "left_outer")
        .select(col("a").as("node"), col("deg"),
          (when(col("a") === col("seed"), lit(pprTeleport)).otherwise(lit(0.0)) +
            coalesce(col("v").cast("double") / lit(pprScale), lit(0.0))).as("pi"))
    }
    p.select(col("node"), col("deg"), col("pi").as("ppr")).orderBy(col("node"))
  }

  val pprScoresSql: String = {
    val steps = (1 to pprIters).map { i =>
      s"""p$i AS (SELECT d.a AS node, d.deg,
         |    (CASE WHEN d.a = sd.seed THEN $pprTeleport ELSE 0.0 END)
         |      + COALESCE(CAST(x.v AS DOUBLE) / $pprScale, 0.0) AS pi
         |  FROM deg d LEFT JOIN (
         |    SELECT u.b AS node, CAST(SUM(CAST(FLOOR(
         |        p.pi / CAST(p.deg AS DOUBLE) * $pprAlpha * $pprScale) AS BIGINT)) AS BIGINT) AS v
         |    FROM p${i - 1} p JOIN undm u ON u.a = p.node GROUP BY 1) x
         |  ON x.node = d.a, sd)""".stripMargin
    }
    // undm: the und edge lineage is referenced once per iteration —
    // materialize or DuckDB re-inlines the 4-table join per step (the
    // round-10 kcore oracle lesson)
    s"""WITH ${QueriesWave9.nationUndCte},
       |undm AS MATERIALIZED (SELECT a, b FROM und),
       |deg AS MATERIALIZED (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM undm GROUP BY 1),
       |sd AS (SELECT MIN(a) AS seed FROM deg),
       |p0 AS (SELECT a AS node, deg,
       |    CASE WHEN a = sd.seed THEN 1.0 ELSE 0.0 END AS pi FROM deg, sd),
       |${steps.mkString(",\n")}
       |SELECT node, deg, pi AS ppr FROM p$pprIters ORDER BY node""".stripMargin
  }

  // ---- permutation_test: exact-randomization A/A calibration ----

  val permTrials = 64

  /** Permutation (randomization) A/A test of the md5 user split on
    * per-user event volume — the exact-inference rung of the A/B
    * stack (`welch_ttest_pairs`/`diff_in_diff` lean on asymptotics;
    * `srm_check` only tests the split RATIO): the observed split's
    * mean difference is ranked against [[permTrials]] seeded
    * re-randomizations, p = (1 + #{|Δ_t| ≥ |Δ_obs|})/(T+1) — the
    * standard finite-sample-valid Monte-Carlo permutation p, made
    * deterministic by drawing every trial's assignment from
    * md5(trial, user). ONE data-scale aggregate builds the per-user
    * frame; the trial explosion (×64) flows straight into a
    * 2·T-cell hash aggregate (map-side combine — nothing data-sized
    * ever shuffles), so the 100 TB cost is one pass + 64 cheap
    * re-sums of a user-level frame.
    */
  def permutationTestQ(spark: SparkSession, dir: String): DataFrame = {
    val users = Memo(spark, dir, "wave25:permUsers")(
      Tables(spark, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt")))
    val obs = users
      .select((md5Long(concat(lit("permobs:"), col("user_id").cast("string"))) % 2 === 0)
        .as("ga"), col("cnt"))
      .agg(
        sum(when(col("ga"), col("cnt")).otherwise(0L)).as("sa"),
        sum(when(col("ga"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("ga"), col("cnt")).otherwise(0L)).as("sb"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("nb"))
      .select(
        (col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double")).as("diff_obs"),
        (col("na") + col("nb")).as("n_users"))
    val trials = users
      .crossJoin(broadcast(spark.range(1, permTrials + 1).select(col("id").as("t"))))
      .select(col("t"),
        (md5Long(concat(lit("perm:"), col("t").cast("string"), lit(":"),
          col("user_id").cast("string"))) % 2 === 0).as("ga"), col("cnt"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("ga"), col("cnt")).otherwise(0L)).as("sa"),
        sum(when(col("ga"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("ga"), col("cnt")).otherwise(0L)).as("sb"),
        sum(when(!col("ga"), 1L).otherwise(0L)).as("nb"))
      .select(col("t"),
        (col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double")).as("diff"))
    trials.crossJoin(broadcast(obs))
      .groupBy(col("n_users"), col("diff_obs"))
      .agg(count(lit(1)).as("n_trials"),
        sum(when(abs(col("diff")) >= abs(col("diff_obs")), 1L).otherwise(0L)).as("n_ge"),
        max(abs(col("diff"))).as("max_abs_diff"))
      .select(col("n_users"), col("n_trials"), col("diff_obs"), col("n_ge"),
        ((col("n_ge") + 1).cast("double") / (col("n_trials") + 1).cast("double"))
          .as("p_value"),
        col("max_abs_diff"))
  }

  val permutationTestSql: String =
    s"""WITH users AS MATERIALIZED (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
       |obs AS (SELECT
       |    CAST(SUM(CASE WHEN ga THEN cnt ELSE 0 END) AS DOUBLE)
       |      / CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS DOUBLE)
       |    - CAST(SUM(CASE WHEN NOT ga THEN cnt ELSE 0 END) AS DOUBLE)
       |      / CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS DOUBLE) AS diff_obs,
       |    CAST(COUNT(*) AS BIGINT) AS n_users
       |  FROM (SELECT cnt,
       |      CAST(('0x' || substr(md5('permobs:' || CAST(user_id AS VARCHAR)), 1, 13))
       |        AS BIGINT) % 2 = 0 AS ga
       |    FROM users)),
       |tr AS (SELECT t,
       |    CAST(SUM(CASE WHEN ga THEN cnt ELSE 0 END) AS DOUBLE)
       |      / CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS DOUBLE)
       |    - CAST(SUM(CASE WHEN NOT ga THEN cnt ELSE 0 END) AS DOUBLE)
       |      / CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS DOUBLE) AS diff
       |  FROM (SELECT u.cnt, s.t,
       |      CAST(('0x' || substr(md5('perm:' || CAST(s.t AS VARCHAR) || ':'
       |        || CAST(u.user_id AS VARCHAR)), 1, 13)) AS BIGINT) % 2 = 0 AS ga
       |    FROM users u, (SELECT unnest(range(1, ${permTrials + 1})) AS t) s)
       |  GROUP BY 1)
       |SELECT obs.n_users, CAST(COUNT(*) AS BIGINT) AS n_trials, obs.diff_obs,
       |  CAST(SUM(CASE WHEN ABS(diff) >= ABS(diff_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       |  CAST(SUM(CASE WHEN ABS(diff) >= ABS(diff_obs) THEN 1 ELSE 0 END) + 1 AS DOUBLE)
       |    / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value,
       |  MAX(ABS(diff)) AS max_abs_diff
       |FROM tr, obs GROUP BY 1, 3""".stripMargin

  // ---- theil_u: asymmetric uncertainty coefficients lang <-> source ----

  /** Theil's uncertainty coefficient between document language and
    * source, BOTH directions — the asymmetric association `cramers_v`
    * (symmetric) can't express: U(lang|source) answers "how much does
    * knowing the source tell you about the language" and vice versa —
    * exactly the mix-design question a corpus team asks. Entropies by
    * the shannon discipline (every c·ln c term DECIMAL(38,6)-quantized
    * before the keyed sum); ONE (lang, source) cell aggregate feeds
    * the joint AND both marginals, so the data is scanned once.
    */
  def theilUQ(spark: SparkSession, dir: String): DataFrame = {
    val cells = Memo(spark, dir, "wave25:lsCells")(
      Tables(spark, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c")))
    val cnt = col("c").cast("double")
    def hOf(df: DataFrame): DataFrame = df
      .agg(sum(col("c")).cast("bigint").as("n"),
        sum((cnt * log(cnt)).cast("decimal(38,6)")).as("s"))
      .select(col("n"),
        (log(col("n").cast("double")).cast("decimal(38,6)").cast("double") -
          col("s").cast("double") / col("n").cast("double")).as("h"))
    val hj = hOf(cells)
    val hl = hOf(cells.groupBy(col("lang")).agg(sum(col("c")).as("c")).select(col("c")))
    val hs = hOf(cells.groupBy(col("source")).agg(sum(col("c")).as("c")).select(col("c")))
    hj.select(col("n"), col("h").as("h_joint"))
      .crossJoin(hl.select(col("h").as("h_lang")))
      .crossJoin(hs.select(col("h").as("h_source")))
      .withColumn("mi", col("h_lang") + col("h_source") - col("h_joint"))
      .select(col("n"), col("h_lang"), col("h_source"), col("h_joint"), col("mi"),
        when(col("h_lang") > 0, col("mi") / col("h_lang")).as("u_lang_given_source"),
        when(col("h_source") > 0, col("mi") / col("h_source")).as("u_source_given_lang"))
  }

  val theilUSql: String = {
    def hSub(src: String) =
      s"""(SELECT n,
         |  CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,6)) AS DOUBLE)
         |    - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS h
         |FROM (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |    SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,6))) AS s
         |  FROM $src))""".stripMargin
    s"""WITH cells AS MATERIALIZED (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2),
       |hj AS ${hSub("cells")},
       |hl AS ${hSub("(SELECT CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY lang)")},
       |hs AS ${hSub("(SELECT CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY source)")}
       |SELECT hj.n, hl.h AS h_lang, hs.h AS h_source, hj.h AS h_joint,
       |  hl.h + hs.h - hj.h AS mi,
       |  CASE WHEN hl.h > 0 THEN (hl.h + hs.h - hj.h) / hl.h END AS u_lang_given_source,
       |  CASE WHEN hs.h > 0 THEN (hl.h + hs.h - hj.h) / hs.h END AS u_source_given_lang
       |FROM hj, hl, hs""".stripMargin
  }

  // ---- cochran_q / fleiss_kappa: k-gate agreement over the same docs ----

  /** (doc_id, g1 docFilter, g2 score>=0.5, g3 Gopher all-pass): the
    * three independent curation gates as paired binary raters.
    */
  private def gates3(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave25:gates3")(
      QueriesWave10.scoredDocs(spark, dir)
        .select(col("doc_id"), col("kept").as("g1"),
          (col("s6") >= 500000L).as("g2"))
        .join(QueriesWave24.gopherPerDoc(spark, dir)
          .select(col("doc_id"),
            (col("r1") && col("r2") && col("r3") && col("r4") && col("r5")).as("g3")),
          "doc_id"))

  private val gates3Sql: String =
    s"""g3f AS MATERIALIZED (
       |  SELECT s.doc_id, s.kept AS g1, s.s6 >= 500000 AS g2,
       |    (gd.r1 AND gd.r2 AND gd.r3 AND gd.r4 AND gd.r5) AS g3
       |  FROM scored s JOIN gd USING (doc_id))""".stripMargin

  /** Cochran's Q across the THREE curation gates — the k-gate
    * generalization of `mcnemar_gates` (k=2): do the gates pass the
    * same fraction of documents, accounting for per-document
    * correlation? Q = (k−1)(k·ΣC_j² − (ΣC_j)²)/(k·ΣR_i − ΣR_i²) is
    * exact integer algebra (DECIMAL numerators — column totals square
    * past 2^53 at corpus scale) until one double division; with k=3,
    * Q ~ χ²(2) under H0, so p = exp(−Q/2) EXACTLY — one quantized
    * libm exp, no polynomial needed. Degenerate denominator (every
    * doc passes all or none) pins Q and p to NULL on both engines.
    */
  def cochranQQ(spark: SparkSession, dir: String): DataFrame =
    gates3(spark, dir)
      .select(
        when(col("g1"), 1L).otherwise(0L).as("x1"),
        when(col("g2"), 1L).otherwise(0L).as("x2"),
        when(col("g3"), 1L).otherwise(0L).as("x3"))
      .withColumn("r", col("x1") + col("x2") + col("x3"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("c1"), sum(col("x2")).as("c2"), sum(col("x3")).as("c3"),
        sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .withColumn("q_stat",
        when(lit(3L) * col("sr") - col("sr2") > 0,
          (lit(2) * (dec(lit(3)) * (dec(col("c1")) * dec(col("c1")) +
            dec(col("c2")) * dec(col("c2")) + dec(col("c3")) * dec(col("c3"))) -
            dec(col("c1") + col("c2") + col("c3")) *
              dec(col("c1") + col("c2") + col("c3")))).cast("double") /
            (lit(3L) * col("sr") - col("sr2")).cast("double")))
      .withColumn("p9",
        expr("CAST(round(1e9 * exp(-q_stat / 2.0)) AS BIGINT)"))
      .select(col("n"), col("c1"), col("c2"), col("c3"), col("q_stat"), col("p9"))

  val cochranQSql: String =
    s"""WITH ${QueriesWave10.scoredCteSql},
       |${QueriesWave24.gopherDocCte},
       |$gates3Sql,
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(r * r) AS BIGINT) AS sr2
       |  FROM (SELECT (CASE WHEN g1 THEN 1 ELSE 0 END + CASE WHEN g2 THEN 1 ELSE 0 END
       |      + CASE WHEN g3 THEN 1 ELSE 0 END) AS r,
       |      g1, g2, g3 FROM g3f)),
       |x AS (SELECT *, CASE WHEN 3 * sr - sr2 > 0 THEN
       |    CAST(2 * (3 * (CAST(c1 AS HUGEINT) * c1 + CAST(c2 AS HUGEINT) * c2
       |      + CAST(c3 AS HUGEINT) * c3)
       |      - CAST(c1 + c2 + c3 AS HUGEINT) * (c1 + c2 + c3)) AS DOUBLE)
       |      / CAST(3 * sr - sr2 AS DOUBLE) END AS q_stat
       |  FROM m)
       |SELECT n, c1, c2, c3, q_stat,
       |  CAST(round(1e9 * exp(-q_stat / 2.0)) AS BIGINT) AS p9
       |FROM x""".stripMargin

  /** Fleiss' κ of the three gates as raters with categories
    * {pass, fail} — chance-corrected multi-rater agreement, the
    * k-rater extension of `cohen_kappa` (which only pairs two):
    * P̄ = Σ(r²+(3−r)²−3)/(6n) and P_e = p² + (1−p)² are exact
    * rationals from two integer sums; κ = (P̄−P_e)/(1−P_e) with the
    * all-unanimous degenerate (P_e = 1) pinned to NULL identically.
    */
  def fleissKappaQ(spark: SparkSession, dir: String): DataFrame =
    gates3(spark, dir)
      .select((when(col("g1"), 1L).otherwise(0L) + when(col("g2"), 1L).otherwise(0L) +
        when(col("g3"), 1L).otherwise(0L)).as("r"))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum(col("r") * col("r") + (lit(3L) - col("r")) * (lit(3L) - col("r"))).as("sq"))
      .withColumn("p_pass", col("sr").cast("double") / (lit(3.0) * col("n").cast("double")))
      .withColumn("p_bar", (col("sq") - lit(3L) * col("n")).cast("double") /
        (lit(6.0) * col("n").cast("double")))
      .withColumn("p_e", col("p_pass") * col("p_pass") +
        (lit(1.0) - col("p_pass")) * (lit(1.0) - col("p_pass")))
      .select(col("n"), col("p_pass"), col("p_bar"), col("p_e"),
        when(col("p_e") < 1.0, (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .as("kappa"))

  val fleissKappaSql: String =
    s"""WITH ${QueriesWave10.scoredCteSql},
       |${QueriesWave24.gopherDocCte},
       |$gates3Sql,
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS sr,
       |    CAST(SUM(r * r + (3 - r) * (3 - r)) AS BIGINT) AS sq
       |  FROM (SELECT (CASE WHEN g1 THEN 1 ELSE 0 END + CASE WHEN g2 THEN 1 ELSE 0 END
       |      + CASE WHEN g3 THEN 1 ELSE 0 END) AS r FROM g3f)),
       |x AS (SELECT n,
       |    CAST(sr AS DOUBLE) / (3.0 * CAST(n AS DOUBLE)) AS p_pass,
       |    CAST(sq - 3 * n AS DOUBLE) / (6.0 * CAST(n AS DOUBLE)) AS p_bar
       |  FROM m)
       |SELECT n, p_pass, p_bar,
       |  p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass) AS p_e,
       |  CASE WHEN p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass) < 1.0 THEN
       |    (p_bar - (p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass)))
       |      / (1.0 - (p_pass * p_pass + (1.0 - p_pass) * (1.0 - p_pass))) END AS kappa
       |FROM x""".stripMargin

  // ---- stratified_est: post-stratified mean with its variance ----

  val stratRate = 16L

  /** Post-stratified sample mean of event value (strata = event_type,
    * the survey-sampling estimator between `sample_est_ci`'s SRS-CLT
    * and `neyman_alloc`'s design planning): a seeded 1-in-16 md5
    * sample yields per-stratum means, reweighted by the TRUE stratum
    * shares N_h/N; SE² = Σ (N_h/N)²·s_h²/n_h. Values ride the 1e-6
    * grid (DECIMAL sums — v6² crosses 2^63 at data scale), stratum
    * terms pin to the 1e-9/1e-12 grids before the stratum-bounded
    * sums, ONE final √. Reports the true mean and whether the ±2·SE
    * interval covers it — the estimator eating its own audit.
    */
  def stratifiedEstQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(1e6 * value) AS BIGINT)").as("v6"))
    val full = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nh"), sum(dec(col("v6"))).as("svf"))
    val samp = e
      .filter(md5Long(concat(lit("strat:"), col("event_id").cast("string")))
        % stratRate === 0L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("mh"), sum(dec(col("v6"))).as("sv"),
        sum(dec(col("v6")) * dec(col("v6"))).as("svv"))
    val n = full.agg(sum(col("nh")).as("n_full"))
    val terms = full.join(samp, "event_type").crossJoin(broadcast(n))
      .filter(col("mh") >= 2)
      .withColumn("wh", col("nh").cast("double") / col("n_full").cast("double"))
      .withColumn("mean_h",
        col("sv").cast("double") / (col("mh").cast("double") * lit(1e6)))
      .withColumn("s2h",
        (dec(col("mh")) * col("svv") - col("sv") * col("sv")).cast("double") /
          (col("mh").cast("double") * (col("mh") - 1).cast("double") * lit(1e12)))
      .select(col("n_full"), col("mh"),
        floor(lit(1e9) * col("wh") * col("mean_h")).as("m9"),
        floor(lit(1e12) * col("wh") * col("wh") * col("s2h") /
          col("mh").cast("double")).as("v12"))
    val est = terms.groupBy(col("n_full"))
      .agg(sum(col("mh")).as("n_sample"),
        sum(col("m9")).as("sm9"), sum(col("v12")).as("sv12"))
    // truth from the stratum frame's exact sums — no third data scan
    val truth = full.agg(
      (sum(col("svf")).cast("double") /
        (sum(col("nh")).cast("double") * lit(1e6))).as("true_mean"))
    est.crossJoin(truth)
      .select(col("n_full"), col("n_sample"),
        (col("sm9").cast("double") / lit(1e9)).as("est_mean"),
        col("true_mean"),
        sqrt(col("sv12").cast("double") / lit(1e12)).as("se"))
      .withColumn("abs_err", abs(col("est_mean") - col("true_mean")))
      .withColumn("covered", col("abs_err") <= lit(2.0) * col("se"))
  }

  val stratifiedEstSql: String =
    s"""WITH e AS (SELECT event_id, event_type,
       |    CAST(round(1e6 * value) AS BIGINT) AS v6 FROM events),
       |full_h AS MATERIALIZED (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
       |    CAST(SUM(CAST(v6 AS HUGEINT)) AS HUGEINT) AS svf FROM e GROUP BY 1),
       |samp AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS mh,
       |    CAST(SUM(CAST(v6 AS HUGEINT)) AS HUGEINT) AS sv,
       |    CAST(SUM(CAST(v6 AS HUGEINT) * v6) AS HUGEINT) AS svv
       |  FROM e
       |  WHERE CAST(('0x' || substr(md5('strat:' || CAST(event_id AS VARCHAR)), 1, 13))
       |    AS BIGINT) % $stratRate = 0
       |  GROUP BY 1),
       |nf AS (SELECT CAST(SUM(nh) AS BIGINT) AS n_full FROM full_h),
       |terms AS (SELECT n_full, mh,
       |    CAST(FLOOR(1e9 * wh * mean_h) AS BIGINT) AS m9,
       |    CAST(FLOOR(1e12 * wh * wh * s2h / CAST(mh AS DOUBLE)) AS BIGINT) AS v12
       |  FROM (SELECT nf.n_full, s.mh,
       |      CAST(f.nh AS DOUBLE) / CAST(nf.n_full AS DOUBLE) AS wh,
       |      CAST(s.sv AS DOUBLE) / (CAST(s.mh AS DOUBLE) * 1e6) AS mean_h,
       |      CAST(CAST(s.mh AS HUGEINT) * s.svv - s.sv * s.sv AS DOUBLE)
       |        / (CAST(s.mh AS DOUBLE) * CAST(s.mh - 1 AS DOUBLE) * 1e12) AS s2h
       |    FROM full_h f JOIN samp s USING (event_type), nf
       |    WHERE s.mh >= 2)),
       |est AS (SELECT n_full, CAST(SUM(mh) AS BIGINT) AS n_sample,
       |    CAST(SUM(m9) AS BIGINT) AS sm9, CAST(SUM(v12) AS BIGINT) AS sv12
       |  FROM terms GROUP BY 1),
       |tm AS (SELECT CAST(SUM(svf) AS DOUBLE)
       |    / (CAST(SUM(nh) AS DOUBLE) * 1e6) AS true_mean FROM full_h)
       |SELECT n_full, n_sample,
       |  CAST(sm9 AS DOUBLE) / 1e9 AS est_mean, true_mean,
       |  sqrt(CAST(sv12 AS DOUBLE) / 1e12) AS se,
       |  ABS(CAST(sm9 AS DOUBLE) / 1e9 - true_mean) AS abs_err,
       |  ABS(CAST(sm9 AS DOUBLE) / 1e9 - true_mean)
       |    <= 2.0 * sqrt(CAST(sv12 AS DOUBLE) / 1e12) AS covered
       |FROM est, tm""".stripMargin

  // ---- token_budget_plan: largest-remainder token apportionment ----

  val tokenBudget = 100000L

  /** Quality-weighted token-budget apportionment across sources (the
    * DoReMi-lite mixing step every pretraining data plan runs): each
    * source's weight is its PASSING token mass (tokens in docs that
    * clear all Gopher rules), and the fixed budget splits by Hamilton
    * largest-remainder — quotas = ⌊B·w/W⌋ plus one extra token for
    * the top (B − Σ⌊·⌋) remainders (ties by source) — the unique
    * rounding that is exactly budget-preserving and quota-monotone.
    * Exact DECIMAL integer arithmetic throughout (B·w crosses 2^63 at
    * corpus scale); the apportionment frame is source-bounded.
    */
  def tokenBudgetPlanQ(spark: SparkSession, dir: String): DataFrame = {
    val wdoc = QueriesText.toks(spark, dir)
      .select(col("doc_id"), col("source"),
        size(col("__ws")).cast("long").as("n_words"))
    val per = wdoc
      .join(QueriesWave24.gopherPerDoc(spark, dir), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_words")).as("tokens"),
        sum(when(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"),
          col("n_words")).otherwise(0L)).as("w"))
    val tot = per.agg(sum(col("w")).as("wt"))
    val base = per.crossJoin(broadcast(tot))
      .withColumn("base",
        when(col("wt") > 0, expr(
          s"""CAST((CAST($tokenBudget AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0)))
             | div CAST(wt AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
          .otherwise(lit(0L)))
      .withColumn("rem",
        when(col("wt") > 0, dec(lit(tokenBudget)) * dec(col("w")) -
          dec(col("base")) * dec(col("wt")))
          .otherwise(dec(lit(0))))
    // source-bounded frames: the leftover rollup and the remainder rank
    val left = base.agg((lit(tokenBudget) - sum(col("base"))).as("leftover"),
      max(col("wt")).as("wt2"))
    base.crossJoin(broadcast(left))
      .withColumn("rrk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .select(col("source"), col("tokens"), col("w"),
        (col("base") + when(col("wt2") > 0 && col("rrk") <= col("leftover"), 1L)
          .otherwise(0L)).as("quota"))
      .orderBy(col("source"))
  }

  val tokenBudgetPlanSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |${QueriesWave24.gopherDocCte},
       |wd AS (SELECT w.doc_id, d.source, CAST(len(w.ws) AS BIGINT) AS n_words
       |  FROM w JOIN documents d USING (doc_id)),
       |srcw AS MATERIALIZED (SELECT wd.source,
       |    CAST(SUM(wd.n_words) AS BIGINT) AS tokens,
       |    CAST(SUM(CASE WHEN gd.r1 AND gd.r2 AND gd.r3 AND gd.r4 AND gd.r5
       |      THEN wd.n_words ELSE 0 END) AS BIGINT) AS w
       |  FROM wd JOIN gd USING (doc_id) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(w) AS HUGEINT) AS wt FROM srcw),
       |base AS MATERIALIZED (SELECT source, tokens, w, wt,
       |    CASE WHEN wt > 0 THEN CAST(($tokenBudget * CAST(w AS HUGEINT)) // wt AS BIGINT)
       |         ELSE 0 END AS base,
       |    CASE WHEN wt > 0 THEN $tokenBudget * CAST(w AS HUGEINT)
       |         - (($tokenBudget * CAST(w AS HUGEINT)) // wt) * wt
       |         ELSE 0 END AS rem
       |  FROM srcw, tot),
       |lft AS (SELECT $tokenBudget - CAST(SUM(base) AS BIGINT) AS leftover,
       |    MAX(wt) AS wt2 FROM base)
       |SELECT source, tokens, w,
       |  base + CASE WHEN wt2 > 0 AND
       |      ROW_NUMBER() OVER (ORDER BY rem DESC, source) <= leftover
       |    THEN 1 ELSE 0 END AS quota
       |FROM base, lft ORDER BY source""".stripMargin

  // ---- hoeffding_plan: distribution-free sample-size planning ----

  /** ln(2/δ) at δ=0.05, precomputed so NO libm log runs in either
    * engine, and pinned to the 1e-6 grid: a 6-decimal literal converts
    * decimal→double exactly-rounded in DuckDB (numerator < 2^53),
    * where a full-precision 17-digit literal landed 1 ulp off.
    */
  private[graft] val hoeffL: Double = math.rint(1e6 * math.log(2.0 / 0.05)) / 1e6

  val hoeffMetrics: Seq[(String, String)] = Seq(
    ("lineitem", "l_quantity"),
    ("events", "value"),
    ("orders", "o_totalprice"))

  /** Hoeffding sample-size planner for mean estimates — the
    * DISTRIBUTION-FREE companion of `sample_est_ci`'s CLT interval
    * and `ab_power_plan`'s parametric power: for each metric, the
    * worst-case accuracy at the current n (ε = range·√(L/2n),
    * L = ln(2/δ), δ=0.05) and the n required to pin the mean within
    * 1% of its observed value with that confidence — what a sampling
    * pipeline quotes BEFORE trusting any distributional assumption.
    * Exact min/max/count per metric, means on the 1e-6 grid, the ln
    * a shared compile-time literal, √ the only runtime libm-exact op.
    */
  def hoeffdingPlanQ(spark: SparkSession, dir: String): DataFrame =
    hoeffMetrics.map { case (t, c) =>
      Tables(spark, dir, t).filter(col(c).isNotNull)
        .agg(count(lit(1)).as("n"),
          min(col(c)).cast("double").as("mn"), max(col(c)).cast("double").as("mx"),
          sum(expr(s"CAST(round(1e6 * $c) AS BIGINT)").cast("decimal(38,0)")).as("s6"))
        .select(lit(s"$t.$c").as("metric"), col("n"),
          (col("mx") - col("mn")).as("rng"),
          (col("s6").cast("double") / (col("n").cast("double") * lit(1e6))).as("mean"))
        .withColumn("eps_now",
          col("rng") * sqrt(lit(hoeffL) / (lit(2.0) * col("n").cast("double"))))
        .withColumn("n_req_1pct",
          when(abs(col("mean")) > 0,
            ceil(col("rng") * col("rng") * lit(hoeffL) /
              (lit(2.0) * (lit(0.01) * abs(col("mean"))) *
                (lit(0.01) * abs(col("mean")))))))
    }.reduce(_.unionAll(_)).orderBy(col("metric"))

  val hoeffdingPlanSql: String =
    hoeffMetrics.map { case (t, c) =>
      s"""SELECT metric, n, rng, mean,
         |  rng * sqrt(CAST($hoeffL AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))) AS eps_now,
         |  CASE WHEN ABS(mean) > 0 THEN
         |    CAST(CEIL(rng * rng * CAST($hoeffL AS DOUBLE)
         |      / (2.0 * (0.01 * ABS(mean)) * (0.01 * ABS(mean)))) AS BIGINT) END AS n_req_1pct
         |FROM (SELECT '$t.$c' AS metric, n, mx - mn AS rng,
         |    CAST(s6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |      CAST(MIN($c) AS DOUBLE) AS mn, CAST(MAX($c) AS DOUBLE) AS mx,
         |      SUM(CAST(CAST(round(1e6 * $c) AS BIGINT) AS HUGEINT)) AS s6
         |    FROM $t WHERE $c IS NOT NULL))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY metric")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ppr_scores" -> (pprScoresQ _),
    "permutation_test" -> (permutationTestQ _),
    "theil_u" -> (theilUQ _),
    "cochran_q" -> (cochranQQ _),
    "fleiss_kappa" -> (fleissKappaQ _),
    "stratified_est" -> (stratifiedEstQ _),
    "token_budget_plan" -> (tokenBudgetPlanQ _),
    "hoeffding_plan" -> (hoeffdingPlanQ _))

  val oracleSql: Map[String, String] = Map(
    "ppr_scores" -> pprScoresSql,
    "permutation_test" -> permutationTestSql,
    "theil_u" -> theilUSql,
    "cochran_q" -> cochranQSql,
    "fleiss_kappa" -> fleissKappaSql,
    "stratified_est" -> stratifiedEstSql,
    "token_budget_plan" -> tokenBudgetPlanSql,
    "hoeffding_plan" -> hoeffdingPlanSql)
}
