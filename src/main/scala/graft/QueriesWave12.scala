package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 third wave: forecasting-hygiene operators (rolling-origin
  * backtest, split-conformal intervals), market concentration (HHI),
  * RAKE keyword extraction, and the two remaining TPC-H shapes (q11,
  * q20) adapted to the partsupp-less schema. Exact integer arithmetic
  * on calendar-bounded frames throughout.
  */
object QueriesWave12 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  private val dayUs = 86400000000L

  // ---- rolling_origin_backtest: time-series CV of naive forecasters ----

  val backtestFolds = 3
  val backtestHorizonDays = 14L

  /** Rolling-origin backtest (the time-series cross-validation that
    * replaces k-fold when rows are ordered): three expanding-origin
    * folds with cutoffs at 5/8, 6/8, 7/8 of the observed span, horizon
    * 14 days; each fold scores the seasonal-naive forecaster (x̂_t =
    * x_{t−7d}) against persistence (x̂_t = x_{t−1d}) on exact integer
    * daily counts — the baseline pair every real forecaster must beat,
    * and the backtest plan any 100 TB time series runs as conditional
    * aggregation over ONE day-level frame (lag joins by calendar
    * arithmetic, so gaps never misalign the lag).
    */
  def rollingOriginBacktestQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = SharedFrames.dailyEvents(spark, dir)
    val span = d.agg(min(col("day_us")).as("d0"), max(col("day_us")).as("d1"))
    val lagged = d
      .join(d.select((col("day_us") + lit(7L * dayUs)).as("day_us"),
        col("n").as("n_lag7")), Seq("day_us"), "left_outer")
      .join(d.select((col("day_us") + lit(dayUs)).as("day_us"),
        col("n").as("n_lag1")), Seq("day_us"), "left_outer")
    val folds = (1 to backtestFolds).map(i => (i, 4L + i)).toDF("fold", "num8")
    lagged.crossJoin(broadcast(span)).crossJoin(broadcast(folds))
      .withColumn("cut", col("d0") + expr("(d1 - d0) div 8") * col("num8"))
      .withColumn("in_train", col("day_us") <= col("cut"))
      .withColumn("in_test",
        col("day_us") > col("cut") &&
          col("day_us") <= col("cut") + lit(backtestHorizonDays * dayUs))
      .groupBy(col("fold"))
      .agg(
        sum(when(col("in_train"), 1L).otherwise(0L)).as("train_days"),
        sum(when(col("in_test") && col("n_lag7").isNotNull, 1L).otherwise(0L))
          .as("test_days_seasonal"),
        sum(when(col("in_test") && col("n_lag7").isNotNull,
          abs(col("n") - col("n_lag7"))).otherwise(0L)).as("__ae7"),
        sum(when(col("in_test") && col("n_lag1").isNotNull, 1L).otherwise(0L))
          .as("test_days_persist"),
        sum(when(col("in_test") && col("n_lag1").isNotNull,
          abs(col("n") - col("n_lag1"))).otherwise(0L)).as("__ae1"))
      .select(col("fold"), col("train_days"), col("test_days_seasonal"),
        (col("__ae7").cast("double") / col("test_days_seasonal").cast("double"))
          .as("mae_seasonal"),
        (col("__ae1").cast("double") / col("test_days_persist").cast("double"))
          .as("mae_persist"))
      .orderBy(col("fold"))
  }

  val rollingOriginBacktestSql: String = {
    val folds = (1 to backtestFolds).map(i => s"($i, ${4 + i})").mkString(", ")
    s"""WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |span AS (SELECT MIN(day_us) AS d0, MAX(day_us) AS d1 FROM d),
       |lagged AS (
       |  SELECT d.day_us, d.n, l7.n AS n_lag7, l1.n AS n_lag1
       |  FROM d
       |  LEFT JOIN d l7 ON l7.day_us = d.day_us - ${7L * dayUs}
       |  LEFT JOIN d l1 ON l1.day_us = d.day_us - $dayUs),
       |folds(fold, num8) AS (VALUES $folds),
       |marked AS (
       |  SELECT f.fold, lg.*,
       |    span.d0 + (span.d1 - span.d0) // 8 * f.num8 AS cut
       |  FROM lagged lg, span, folds f)
       |SELECT fold,
       |  CAST(SUM(CASE WHEN day_us <= cut THEN 1 ELSE 0 END) AS BIGINT) AS train_days,
       |  CAST(SUM(CASE WHEN day_us > cut AND day_us <= cut + ${backtestHorizonDays * dayUs}
       |    AND n_lag7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS test_days_seasonal,
       |  CAST(SUM(CASE WHEN day_us > cut AND day_us <= cut + ${backtestHorizonDays * dayUs}
       |      AND n_lag7 IS NOT NULL THEN ABS(n - n_lag7) ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN day_us > cut AND day_us <= cut + ${backtestHorizonDays * dayUs}
       |      AND n_lag7 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS mae_seasonal,
       |  CAST(SUM(CASE WHEN day_us > cut AND day_us <= cut + ${backtestHorizonDays * dayUs}
       |      AND n_lag1 IS NOT NULL THEN ABS(n - n_lag1) ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN day_us > cut AND day_us <= cut + ${backtestHorizonDays * dayUs}
       |      AND n_lag1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS mae_persist
       |FROM marked GROUP BY fold ORDER BY fold""".stripMargin
  }

  // ---- conformal_interval: split-conformal daily-count bands ----

  val conformalAlpha = 0.2

  /** Split-conformal prediction intervals for the seasonal-naive daily
    * forecaster: calibration = first 3/4 of days, residuals r =
    * |x_t − x_{t−7d}|, q̂ = the ⌈(n+1)(1−α)⌉-th smallest residual
    * (finite-sample coverage ≥ 1−α, distribution-free — the honest
    * uncertainty band a dashboard should draw instead of ±2σ), then
    * every held-out day gets [x̂−q̂, x̂+q̂] and a coverage audit rides
    * along. Residual rank is an exact order statistic over the
    * calendar-bounded day frame; everything is integer until the
    * coverage share.
    */
  def conformalIntervalQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = SharedFrames.dailyEvents(spark, dir)
    val span = d.agg(min(col("day_us")).as("d0"), max(col("day_us")).as("d1"))
    val lagged = d
      .join(d.select((col("day_us") + lit(7L * dayUs)).as("day_us"),
        col("n").as("n_lag7")), Seq("day_us"))
      .crossJoin(broadcast(span))
      .withColumn("cut", col("d0") + expr("(d1 - d0) div 4") * lit(3L))
      .withColumn("r", abs(col("n") - col("n_lag7")))
    val cal = lagged.filter(col("day_us") <= col("cut"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val qhat = cal.crossJoin(broadcast(nCal))
      .withColumn("__rk", row_number().over(Window.orderBy(col("r"), col("day_us"))))
      .filter(col("__rk") ===
        ceil((col("n_cal") + 1).cast("double") * lit(1.0 - conformalAlpha)).cast("long"))
      .select(col("r").as("qhat"))
    val test = lagged.filter(col("day_us") > col("cut"))
    val covered = test.crossJoin(broadcast(qhat))
      .withColumn("covered", abs(col("n") - col("n_lag7")) <= col("qhat"))
    val cov = covered.agg(
      (sum(when(col("covered"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("coverage"))
    covered.crossJoin(broadcast(cov))
      .select((col("day_us") / 1000000L).cast("long").as("day_s"),
        col("n").as("actual"), col("n_lag7").as("pred"),
        (col("n_lag7") - col("qhat")).as("lo"), (col("n_lag7") + col("qhat")).as("hi"),
        col("covered"), col("coverage"))
      .orderBy(col("day_s"))
  }

  val conformalIntervalSql: String =
    s"""WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1),
       |span AS (SELECT MIN(day_us) AS d0, MAX(day_us) AS d1 FROM d),
       |lagged AS (
       |  SELECT d.day_us, d.n, l7.n AS n_lag7,
       |    span.d0 + (span.d1 - span.d0) // 4 * 3 AS cut,
       |    ABS(d.n - l7.n) AS r
       |  FROM d JOIN d l7 ON l7.day_us = d.day_us - ${7L * dayUs}, span),
       |cal AS (SELECT * FROM lagged WHERE day_us <= cut),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
       |qh AS (SELECT r AS qhat FROM (
       |    SELECT r, ROW_NUMBER() OVER (ORDER BY r, day_us) AS rk FROM cal), nc
       |  WHERE rk = CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * ${1.0 - conformalAlpha}) AS BIGINT)),
       |test AS (SELECT lg.*, qh.qhat, ABS(lg.n - lg.n_lag7) <= qh.qhat AS covered
       |  FROM lagged lg, qh WHERE lg.day_us > lg.cut),
       |cov AS (SELECT CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS coverage FROM test)
       |SELECT day_us // 1000000 AS day_s, n AS actual, n_lag7 AS pred,
       |  n_lag7 - qhat AS lo, n_lag7 + qhat AS hi, covered, cov.coverage
       |FROM test, cov ORDER BY day_s""".stripMargin

  // ---- hhi_index: supplier-revenue concentration per nation ----

  /** Herfindahl–Hirschman concentration of supplier revenue within
    * each supplier nation (the antitrust-standard market screen):
    * HHI = 10⁴·Σ s_i² = 10⁴·Σ rev_i²/(Σ rev_i)² — exact-cents revenue,
    * the share squares as one decimal ratio per market (no per-share
    * floats), plus the DOJ bucket literals (1500/2500). Two keyed
    * aggregates; the market frame is ≤|nations| rows.
    */
  def hhiIndexQ(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("rev"))
    rev.groupBy(col("s_nationkey").cast("bigint").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(dec(col("rev"))).as("tot"),
        sum(dec(col("rev")) * dec(col("rev"))).as("sq"))
      // the ratio stays in exact integer floor-division on a 1e-6 grid:
      // DuckDB's int128→double cast is NOT correctly rounded, so huge
      // integers must never cross to double before the division
      .withColumn("hhi6", expr("(sq * 10000000000) div (tot * tot)"))
      .select(col("nationkey"), col("n_suppliers"),
        (col("hhi6").cast("double") / 1e6).as("hhi"),
        when(col("hhi6") < 1500000000L, lit("unconcentrated"))
          .when(col("hhi6") < 2500000000L, lit("moderate"))
          .otherwise(lit("high")).as("doj_bucket"))
      .orderBy(col("nationkey"))
  }

  val hhiIndexSql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey, l.l_suppkey,
      |    CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |m AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
      |    CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    CAST(SUM(rev) AS HUGEINT) AS tot,
      |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS sq
      |  FROM rev GROUP BY 1)
      |SELECT nationkey, n_suppliers,
      |  CAST((sq * 10000000000) // (tot * tot) AS DOUBLE) / 1e6 AS hhi,
      |  CASE WHEN (sq * 10000000000) // (tot * tot) < 1500000000
      |         THEN 'unconcentrated'
      |       WHEN (sq * 10000000000) // (tot * tot) < 2500000000
      |         THEN 'moderate'
      |       ELSE 'high' END AS doj_bucket
      |FROM m ORDER BY nationkey""".stripMargin

  // ---- keyword_rake: RAKE keyword scores over the corpus ----

  val rakeTopK = 20
  val rakeMinFreq = 3L

  /** RAKE keyword extraction (Rose et al. 2010), corpus-level: candidate
    * phrases are maximal stopword-free token runs (the gaps-and-islands
    * pos − rank trick, per-doc windows only), word degree = Σ phrase
    * length over occurrences, score = degree/freq as an exact rational
    * — content words that live in long multi-word phrases outrank bare
    * frequent words, which is why RAKE beats raw counts for keyword
    * tables. Top-20 by (score, word) with freq ≥ 3; everything is
    * word-keyed integer aggregation after one tokenize pass.
    */
  def keywordRakeQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = operators.TextAnalysis.enStopwords
    val toks = QueriesText.toks(spark, dir)
      .select(col("doc_id"), posexplode(col("__ws")).as(Seq("pos", "word")))
    val nonstop = toks.filter(!col("word").isin(stops: _*))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("grp", col("pos") - col("__rn"))
    // phrase length as a window over (doc_id, grp) instead of a
    // groupBy + self-join: the join shape re-tokenized the corpus for
    // the second leg and paid an extra exchange; the window rides the
    // doc_id partitioning the __rn window already established (same
    // per-row plen, identical aggregate downstream) — guide §2.4.
    val words = nonstop
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("grp"))))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
      .filter(col("freq") >= rakeMinFreq)
      .withColumn("score", col("degree").cast("double") / col("freq").cast("double"))
    words
      .orderBy(col("score").desc, col("word"))
      .limit(rakeTopK)
      .select(col("word"), col("freq"), col("degree"), col("score"))
  }

  val keywordRakeSql: String = {
    val stopsIn = QueriesText.stopwordsInSql
    s"""WITH ${QueriesText.wordsCte},
       |toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)),
       |nonstop AS (SELECT doc_id, pos, word,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM toks WHERE word NOT IN $stopsIn),
       |phrases AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS plen
       |  FROM nonstop GROUP BY 1, 2),
       |words AS (
       |  SELECT n.word, CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(SUM(p.plen) AS BIGINT) AS degree
       |  FROM nonstop n JOIN phrases p ON p.doc_id = n.doc_id AND p.grp = n.grp
       |  GROUP BY 1 HAVING COUNT(*) >= $rakeMinFreq)
       |SELECT word, freq, degree, CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS score
       |FROM words
       |ORDER BY score DESC, word LIMIT $rakeTopK""".stripMargin
  }

  // ---- q11_stock_share: TPC-H q11 shape (partsupp-less adaptation) ----

  /** Supplier-nation subset: the "low region" (nationkeys 0-12) — a
    * NAME-keyed single nation is empty at the smallest test scale. */
  val q11MaxNation = 13
  /** Keep parts above (q11MultNum/q11MultDen)× = 1.5× the MEAN supplied
    * value — TPC-H q11's fixed fraction is divided by SF to stay
    * scale-free; a mean multiple is the same idea with no external
    * knob (the synthetic data's max/mean per-part ratio is ~2.2, so
    * 1.5 keeps a real heavy tail at every scale). */
  val q11MultNum = 3L
  val q11MultDen = 2L

  /** TPC-H q11 (important stock identification) adapted to the schema:
    * per-part supplied value (discounted extended price, exact cents)
    * from the low-region nations' suppliers, keeping parts whose value
    * exceeds 1/1000 of the region's total — the cross-multiplied integer
    * comparison replaces q11's scalar subquery × fraction. Group-by
    * part with a broadcast one-row total; the HAVING prunes before the
    * final sort.
    */
  def q11StockShareQ(spark: SparkSession, dir: String): DataFrame = {
    val cents = expr(
      "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)")
    val supplied = Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "supplier")
        .join(broadcast(Tables(spark, dir, "nation")
          .filter(col("n_nationkey") < q11MaxNation)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(cents).as("value_cents"))
    val tot = supplied.agg(sum(col("value_cents")).as("tt"),
      count(lit(1)).as("np"))
    supplied.crossJoin(broadcast(tot))
      .filter(dec(col("value_cents")) * dec(col("np")) * dec(lit(q11MultDen)) >
        dec(col("tt")) * dec(lit(q11MultNum)))
      .select(col("partkey"), col("value_cents"),
        (col("value_cents").cast("double") / col("tt").cast("double")).as("share"))
      .orderBy(col("value_cents").desc, col("partkey"))
  }

  val q11StockShareSql: String =
    s"""WITH supplied AS (
       |  SELECT l.l_partkey AS partkey,
       |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT))
       |      AS BIGINT) AS value_cents
       |  FROM lineitem l
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  WHERE n.n_nationkey < $q11MaxNation
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(value_cents) AS HUGEINT) AS tt,
       |    CAST(COUNT(*) AS BIGINT) AS np FROM supplied)
       |SELECT partkey, value_cents,
       |  CAST(value_cents AS DOUBLE) / CAST(tt AS DOUBLE) AS share
       |FROM supplied, tot
       |WHERE CAST(value_cents AS HUGEINT) * np * $q11MultDen > tt * $q11MultNum
       |ORDER BY value_cents DESC, partkey""".stripMargin

  // ---- q20_excess_suppliers: TPC-H q20 shape (partsupp-less) ----

  val q20NamePat = "%widget"
  val q20SupplyYear = 1996
  val q20DemandYear = 1997

  /** TPC-H q20 (potential part promotion) adapted: a supplier
    * qualifies if, for some widget-named part, its 1996 shipped
    * quantity exceeds HALF the part's total 1997 demand — 1996 supply
    * plays partsupp.availqty, the 2·supply > demand comparison stays
    * integral (quantities are whole at the grid), and the supplier
    * list is one semi-join over the two conditional aggregates of a
    * single lineitem scan (the sole_late_supplier discipline: no
    * correlated subquery re-scans).
    */
  def q20ExcessSuppliersQ(spark: SparkSession, dir: String): DataFrame = {
    val widgets = broadcast(Tables(spark, dir, "part")
      .filter(col("p_name").like(q20NamePat)).select(col("p_partkey")))
    val li = Tables(spark, dir, "lineitem")
      .join(widgets, col("l_partkey") === col("p_partkey"))
      .withColumn("__yr", year(expr("CAST(l_shipdate AS TIMESTAMP)")))
      .withColumn("__q", expr("CAST(l_quantity AS BIGINT)"))
    val grid = Memo(spark, dir, "wave12:q20grid")(
      li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(when(col("__yr") === q20SupplyYear, col("__q")).otherwise(0L))
          .as("supply"),
          sum(when(col("__yr") === q20DemandYear, col("__q")).otherwise(0L))
            .as("demand_self")))
    val demand = grid.groupBy(col("l_partkey"))
      .agg(sum(col("demand_self")).as("demand"))
    val qualified = grid.join(demand, "l_partkey")
      .filter(col("supply") * 2 > col("demand") && col("demand") > 0)
      .select(col("l_suppkey")).distinct()
    Tables(spark, dir, "supplier")
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20ExcessSuppliersSql: String =
    s"""WITH li AS (
       |  SELECT l.l_partkey, l.l_suppkey,
       |    year(l_shipdate) AS yr, CAST(l_quantity AS BIGINT) AS q
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE p.p_name LIKE '$q20NamePat'),
       |grid AS (
       |  SELECT l_partkey, l_suppkey,
       |    CAST(SUM(CASE WHEN yr = $q20SupplyYear THEN q ELSE 0 END) AS BIGINT) AS supply,
       |    CAST(SUM(CASE WHEN yr = $q20DemandYear THEN q ELSE 0 END) AS BIGINT) AS demand_self
       |  FROM li GROUP BY 1, 2),
       |demand AS (SELECT l_partkey, CAST(SUM(demand_self) AS BIGINT) AS demand
       |  FROM grid GROUP BY 1),
       |qualified AS (
       |  SELECT DISTINCT g.l_suppkey
       |  FROM grid g JOIN demand d ON g.l_partkey = d.l_partkey
       |  WHERE g.supply * 2 > d.demand AND d.demand > 0)
       |SELECT s.s_suppkey, s.s_name
       |FROM supplier s SEMI JOIN qualified q ON s.s_suppkey = q.l_suppkey
       |ORDER BY s.s_suppkey""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rolling_origin_backtest" -> (rollingOriginBacktestQ _),
    "conformal_interval" -> (conformalIntervalQ _),
    "hhi_index" -> (hhiIndexQ _),
    "keyword_rake" -> (keywordRakeQ _),
    "q11_stock_share" -> (q11StockShareQ _),
    "q20_excess_suppliers" -> (q20ExcessSuppliersQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "rolling_origin_backtest" -> rollingOriginBacktestSql,
    "conformal_interval" -> conformalIntervalSql,
    "hhi_index" -> hhiIndexSql,
    "keyword_rake" -> keywordRakeSql,
    "q11_stock_share" -> q11StockShareSql,
    "q20_excess_suppliers" -> q20ExcessSuppliersSql
  )
}
