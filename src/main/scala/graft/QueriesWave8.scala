package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 wave: sampling/sketch estimator additions (GEE distinct-value
  * estimation, AMS tug-of-war join size), robust time-series statistics
  * (Theil–Sen, Mann–Kendall, Hurst R/S), distribution audits (Benford,
  * Jensen–Shannon drift, Simpson diversity, unigram compressibility),
  * privacy releases (l-diversity, DP noisy top-k), association rules
  * over the FP-Growth lattice, segment type-token curation scoring, and
  * idempotency dedup for the event stream. Everything stays on the
  * repo's portable grids (integer cents, 1e-6 fixed point, md5-derived
  * hashes/signs, truncating integer division) so the DuckDB oracle
  * hash-matches bit for bit.
  */
object QueriesWave8 extends QueryModule {

  private val usPerDay = 86400000000L

  // ---- gee_est: GEE distinct-value estimator from a Bernoulli sample ----

  /** 1-in-geeRate deterministic Bernoulli row sample (md5 of the row
    * identity, the `Tables.pks` discipline — no coordinated RNG, any
    * executor reproduces its own slice).
    */
  val geeRate = 16L

  /** GEE (Guaranteed-Error Estimator, Charikar–Chaudhuri–Motwani–
    * Narasayya PODS'00) distinct-value estimate from a Bernoulli row
    * sample: est = √(1/q)·f₁ + Σ_{j≥2} fⱼ, where fⱼ counts sample
    * values seen exactly j times — the estimator whose bias ratio is
    * provably within √(n/r) of ANY sampler's best possible. With
    * q = 1/16 the formula collapses to the exact integer d + 3·f₁
    * (d = sample NDV), so the estimate itself is engine-portable with
    * no FP at all. Run over the same 4 audited columns as the
    * `hll_ndv`/`kmv_ndv` family — the sample-based rung of the NDV
    * ladder (HLL streams everything, KMV keeps bottom-k, GEE reads
    * 1/16 of rows). The exact NDV rides the same scan family the other
    * audits already pay; sampling is a pushed-down filter on a
    * per-row md5 — at 100 TB the sample is the only thing aggregated.
    */
  /** Per-column (value, multiplicity) profile of the deterministic
    * 1-in-16 row sample — memoized per session; `gee_est` and
    * `chao1_est` both estimate from this frame, so the sampled scan
    * runs once per column.
    */
  private[graft] def geeSample(spark: SparkSession, dir: String,
      t: String, c: String): DataFrame = {
    val rk = concat_ws(":",
      Tables.pks(t).map(k =>
        if (k == "l_quantity") col(k).cast("long").cast("string")
        else col(k).cast("string")): _*)
    val u = conv(substring(md5(concat(lit(s"gee:$t.$c:"), rk)), 1, 13), 16, 10)
      .cast("long")
    Memo(spark, dir, s"wave8:geeSample:$t.$c")(
      Tables(spark, dir, t)
        .filter(col(c).isNotNull && u % geeRate === 0L)
        .groupBy(col(c).cast("string").as("v"))
        .agg(count(lit(1)).as("m")))
  }

  /** SQL twin of [[geeSample]] as an inline subquery. */
  private[graft] def geeSampleSub(t: String, c: String): String = {
    val rk = Tables.pks(t).map(k =>
      if (k == "l_quantity") s"CAST(CAST($k AS BIGINT) AS VARCHAR)"
      else s"CAST($k AS VARCHAR)").mkString(" || ':' || ")
    s"""(SELECT CAST($c AS VARCHAR) AS v, COUNT(*) AS m FROM $t
       |        WHERE $c IS NOT NULL
       |          AND CAST(('0x' || substr(md5('gee:$t.$c:' || $rk), 1, 13)) AS BIGINT) % $geeRate = 0
       |        GROUP BY 1)""".stripMargin
  }

  def geeEstQ(spark: SparkSession, dir: String): DataFrame =
    QueriesStats.hllCols.map { case (t, c) =>
      val agg = geeSample(spark, dir, t, c).agg(
        coalesce(sum(col("m")), lit(0L)).as("n_sample"),
        count(lit(1)).as("d_sample"),
        coalesce(sum(when(col("m") === 1L, 1L).otherwise(0L)), lit(0L)).as("f1"))
      val exact = Tables(spark, dir, t).agg(count_distinct(col(c)).as("exact_ndv"))
      agg.crossJoin(broadcast(exact))
        .select(lit(s"$t.$c").as("col_name"), col("n_sample"), col("d_sample"),
          col("f1"),
          (col("d_sample") + lit(3L) * col("f1")).as("gee_est"),
          col("exact_ndv"))
        .withColumn("q_err",
          greatest(col("gee_est"), col("exact_ndv")).cast("double") /
            greatest(least(col("gee_est"), col("exact_ndv")), lit(1L)).cast("double"))
    }.reduce(_.unionAll(_)).orderBy(col("col_name"))

  val geeEstSql: String =
    QueriesStats.hllCols.map { case (t, c) =>
      s"""SELECT '$t.$c' AS col_name, n_sample, d_sample, f1,
         |  d_sample + 3 * f1 AS gee_est, exact_ndv,
         |  CAST(GREATEST(d_sample + 3 * f1, exact_ndv) AS DOUBLE)
         |    / CAST(GREATEST(LEAST(d_sample + 3 * f1, exact_ndv), 1) AS DOUBLE) AS q_err
         |FROM (
         |  SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_sample,
         |    CAST(COUNT(*) AS BIGINT) AS d_sample,
         |    CAST(COALESCE(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1
         |  FROM ${geeSampleSub(t, c)}),
         |  (SELECT CAST(COUNT(DISTINCT $c) AS BIGINT) AS exact_ndv FROM $t)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- ams_join_est: AMS tug-of-war join-size estimator ----

  val amsSketches = 9

  /** AMS "tug-of-war" join-size estimator (Alon–Matias–Szegedy
    * STOC'96 §3; Alon–Gibbons–Matias–Szegedy PODS'99 for joins): each
    * of 9 sketches draws a ±1 sign s_i(k) per join key (parity of the
    * first md5 nibble of "ams:i:k" — 4-wise-independent enough for the
    * audit, fully reproducible) and keeps two counters
    * Xa_i = Σ_k s_i(k)·d_A(k), Xb_i = Σ_k s_i(k)·d_B(k); the product
    * Xa_i·Xb_i is an UNBIASED estimate of |A ⋈ B| = Σ d_A·d_B (cross
    * terms cancel in expectation), unlike `cms_join_est`'s
    * always-over inner product — the median of the 9 products drives
    * the variance down. Median = 5th smallest of 9 via TakeOrdered,
    * never a sort. Rides the session's `kjeDeg` per-key degree memo:
    * the sketch is a ≤ 9×|keys| flat-map + one tiny aggregate, and
    * the exact truth is the Σg the memo already carries.
    */
  def amsJoinEstQ(spark: SparkSession, dir: String): DataFrame =
    QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val deg = QueriesWave6.kjeDeg(spark, dir, label, ta, ka, tb, kb)
      val sgn = when(
        conv(substring(md5(concat(lit("ams:"), col("i").cast("string"),
          lit(":"), col("k").cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0L,
        lit(1L)).otherwise(lit(-1L))
      val sk = deg
        .select(col("k"), col("da"), col("db"),
          explode(sequence(lit(0), lit(amsSketches - 1))).as("i"))
        .groupBy(col("i"))
        .agg(sum(sgn * col("da")).as("xa"), sum(sgn * col("db")).as("xb"))
      val est = sk.select((col("xa") * col("xb")).as("x"))
        .orderBy(col("x")).limit(amsSketches / 2 + 1)
        .agg(max(col("x")).as("est"))
      val actual = deg.agg(sum(col("g")).as("actual"))
      est.crossJoin(actual)
        .select(lit(label).as("edge"), col("est"), col("actual"),
          (greatest(col("est"), col("actual")).cast("double") /
            greatest(least(col("est"), col("actual")), lit(1L)).cast("double"))
            .as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("edge"))

  val amsJoinEstSql: String = {
    val sgn = "CASE WHEN (strpos('0123456789abcdef', substr(md5('ams:' || CAST(sks.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 1)) - 1) % 2 = 0 THEN 1 ELSE -1 END"
    val ctes = QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = QueriesWave6.cteName(label)
      s"""${QueriesWave6.kjeDegCte(label, ta, ka, tb, kb)},
         |sk_$n AS (SELECT sks.i, SUM(($sgn) * da) AS xa, SUM(($sgn) * db) AS xb
         |  FROM deg_$n, sks GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val arms = QueriesWave6.kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = QueriesWave6.cteName(label)
      s"""SELECT '$label' AS edge,
         |  (SELECT MAX(x) FROM (SELECT xa * xb AS x FROM sk_$n ORDER BY x LIMIT ${amsSketches / 2 + 1})) AS est,
         |  (SELECT SUM(g) FROM deg_$n) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sks AS (SELECT UNNEST(range(0, $amsSketches)) AS i),
       |$ctes,
       |s AS (
       |$arms)
       |SELECT edge, CAST(est AS BIGINT) AS est, CAST(actual AS BIGINT) AS actual,
       |  CAST(GREATEST(est, actual) AS DOUBLE) / CAST(GREATEST(LEAST(est, actual), 1) AS DOUBLE) AS q_err
       |FROM s ORDER BY edge""".stripMargin
  }

  // ---- benford_audit: first-digit law audit ----

  /** Expected Benford probability log10(1 + 1/d), quantized to the 1e-6
    * grid DRIVER-SIDE so both engines consume the identical literal.
    */
  private[graft] val benfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6)

  /** Benford's-law audit of order totals: observed first-significant-
    * digit counts vs the log10(1+1/d) expectation, with per-digit χ²
    * contributions and a grand-total χ² row (digit 0) — the standard
    * fabricated-data / unit-mixing screen for monetary columns. Exact
    * discipline: digits come from the integer part's decimal string
    * (prices ≥ 1 by data contract), expected probabilities are
    * driver-quantized literals, and every χ² term is floored onto the
    * 1e-6 grid BEFORE the total sums — so the total is an integer sum,
    * immune to FP addition order across engines AND executors. One
    * keyed aggregate over the fact scan; everything after is a 9-row
    * frame joined to a literal digit spine (absent digits report 0).
    */
  def benfordAuditQ(spark: SparkSession, dir: String): DataFrame = {
    // the ≤9-row digit frame feeds both the per-digit terms and the
    // total-count scalar — memoized so the fact table scans ONCE
    val obs = Memo(spark, dir, "wave8:benfordObs")(
      Tables(spark, dir, "orders")
        .select(substring(expr("CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING)"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs")))
    val spine = benfordP
      .map { case (d, p) => s"SELECT $d AS digit, CAST($p AS DOUBLE) AS p_expected" }
      .mkString(" UNION ALL ")
    val tot = obs.agg(sum(col("n_obs")).as("nn"))
    // Broadcast the BUILD side (obs, ≤9 post-agg rows): for a left
    // outer join Spark can only build the right side — hinting the
    // preserved left side is ignored with a HintErrorLogger WARN per
    // execution (r12 bench tail).
    val terms = obs.sparkSession.sql(spine)
      .join(broadcast(obs), Seq("digit"), "left_outer")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("t6", expr(
        """CAST(round(1e6 * (CAST(n_obs AS DOUBLE) - nn * p_expected)
          |  * (CAST(n_obs AS DOUBLE) - nn * p_expected) / (nn * p_expected)) AS BIGINT)"""
          .stripMargin))
    val total = terms.agg(max(col("nn")).as("n_obs"), sum(col("t6")).as("t6"))
      .select(lit(0).as("digit"), col("n_obs"), lit(1.0).as("p_expected"),
        (col("t6").cast("double") / 1e6).as("chi2"))
    terms
      .select(col("digit"), col("n_obs"), col("p_expected"),
        (col("t6").cast("double") / 1e6).as("chi2"))
      .unionAll(total)
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String = {
    val spine = benfordP
      .map { case (d, p) => s"SELECT $d AS digit, CAST($p AS DOUBLE) AS p_expected" }
      .mkString(" UNION ALL ")
    s"""WITH obs AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
       |    CAST(COUNT(*) AS BIGINT) AS n_obs
       |  FROM orders GROUP BY 1),
       |spine AS ($spine),
       |tot AS (SELECT SUM(n_obs) AS nn FROM obs),
       |terms AS (SELECT s.digit, COALESCE(o.n_obs, 0) AS n_obs, s.p_expected,
       |    CAST(round(1e6 * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - tot.nn * s.p_expected)
       |      * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE) - tot.nn * s.p_expected)
       |      / (tot.nn * s.p_expected)) AS BIGINT) AS t6
       |  FROM spine s LEFT JOIN obs o ON o.digit = s.digit, tot)
       |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs, p_expected,
       |  CAST(t6 AS DOUBLE) / 1e6 AS chi2 FROM terms
       |UNION ALL
       |SELECT 0, (SELECT CAST(nn AS BIGINT) FROM tot), 1.0,
       |  CAST(SUM(t6) AS DOUBLE) / 1e6 FROM terms
       |ORDER BY digit""".stripMargin
  }

  // ---- theil_sen + mann_kendall: robust trend over the daily series ----

  /** Pairwise frame over the daily order-revenue series, shared by
    * `theil_sen` and `mann_kendall`: per day pair i<j, the day gap dd,
    * the revenue delta dy (exact cents), and the 1e-6-quantized slope.
    * The frame is CALENDAR-BOUNDED — ~2.4k days → ~2.9M pairs at EVERY
    * data scale (days don't grow with rows), so memoizing it is O(1)
    * in corpus size; only the one-pass daily aggregate touches facts.
    */
  private[graft] def tsPairs(spark: SparkSession, dir: String): DataFrame = {
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    Memo(spark, dir, "wave8:tsPairs") {
      val d0 = daily.agg(min(col("day_us")).as("d0"))
      val idx = daily.crossJoin(broadcast(d0))
        .select(((col("day_us") - col("d0")) / usPerDay).cast("long").as("d"), col("x"))
      idx.as("a").join(idx.as("b"), col("a.d") < col("b.d"))
        .select((col("b.d") - col("a.d")).as("dd"),
          (col("b.x") - col("a.x")).as("dy"))
        .withColumn("s6",
          expr("CAST(round(dy * 1000000.0 / dd) AS BIGINT)"))
    }
  }

  /** SQL twin of [[tsPairs]]: CTEs `daily`, `idx`, `pairs`. */
  private[graft] val tsPairsCtes: String =
    """daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
      |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      |  FROM orders GROUP BY 1),
      |idx AS (SELECT (day_us - (SELECT MIN(day_us) FROM daily)) // 86400000000 AS d, x
      |        FROM daily),
      |pairs AS (SELECT b.d - a.d AS dd, b.x - a.x AS dy,
      |    CAST(round((b.x - a.x) * 1000000.0 / (b.d - a.d)) AS BIGINT) AS s6
      |  FROM idx a JOIN idx b ON a.d < b.d)""".stripMargin

  private val tsBuckets = 1024

  /** Exact value at integer rank `r` (1-based, ascending) of `v` over
    * `df`, by bucket-locate — the `quantilesNearestBucketed` discipline
    * with an explicit integer rank: (1) min/max/count, (2) 1024
    * integer-division bucket counts whose running sum (a ≤1024-row
    * window) locates the target bucket and the rows below it, (3) only
    * that bucket's rows rank locally. No global sort, no
    * single-partition window over data; `v` must be integral (the
    * bucket arithmetic is exact integer division, bit-equal on both
    * engines). Returns a 1-row (value) frame.
    */
  private[graft] def rankLocate(df: DataFrame, v: String, rank: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = df.agg(count(lit(1)).as("__p"), min(col(v)).as("__mn"),
      max(col(v)).as("__mx"))
      .withColumn("__r", rank)
    val b = expr(s"(($v - __mn) * $tsBuckets) div (__mx - __mn + 1)")
    val cum = df.crossJoin(broadcast(mm))
      .groupBy(b.as("__b")).agg(count(lit(1)).as("__c"), max(col("__r")).as("__r"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, 0)))
    val loc = cum.filter(col("__cum") >= col("__r") && col("__cum") - col("__c") < col("__r"))
      .select(col("__b").as("__bt"), (col("__cum") - col("__c")).as("__below"),
        col("__r"))
    df.crossJoin(broadcast(mm.select(col("__mn"), col("__mx"))))
      .withColumn("__b", b)
      .join(broadcast(loc), col("__b") === col("__bt"))
      .groupBy(col(v)).agg(count(lit(1)).as("__c"),
        max(col("__below")).as("__below"), max(col("__r")).as("__r"))
      .withColumn("__cum", col("__below") + sum(col("__c")).over(
        Window.orderBy(col(v)).rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") >= col("__r") && col("__cum") - col("__c") < col("__r"))
      .select(col(v).as("value"))
  }

  /** [[rankLocate]] generalized to MANY ranks in one bucket pass: the
    * min/max/count scan, the 1024-bucket histogram, and the located-
    * bucket rank-in are each paid ONCE for all ranks (a median-with-CI
    * asks for three order statistics; three separate locates would
    * rescan the data 9 times). `ranks` are (name, rank SQL expr over
    * `__p`); output is one (name, value) row per rank. The final
    * window partitions by rank name over the located buckets' rows —
    * bucket-bounded like the single-rank form.
    */
  private[graft] def rankLocateMulti(df: DataFrame, v: String,
      ranks: Seq[(String, String)]): DataFrame =
    rankLocateMultiFrom(df, rankHist(df, v), v, ranks)

  /** The QUERY-INDEPENDENT prefix of [[rankLocateMulti]]: per-frame
    * count/min/max carried onto the 1024-bucket integer histogram with
    * its running sum (≤ 1024 rows, two scans of `df`). The target
    * ranks only enter the plan after this frame, so a memoized
    * histogram serves any set of order statistics of the same column
    * with ONE remaining data scan (the located-bucket keep pass) —
    * same split as Metrics.bucketCdf (guide §2.4).
    */
  private[graft] def rankHist(df: DataFrame, v: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = df.agg(count(lit(1)).as("__p"), min(col(v)).as("__mn"),
      max(col(v)).as("__mx"))
    val b = expr(s"(($v - __mn) * $tsBuckets) div (__mx - __mn + 1)")
    df.crossJoin(broadcast(mm))
      .groupBy(col("__p"), col("__mn"), col("__mx"), b.as("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** The per-query tail of [[rankLocateMulti]] over a (possibly
    * memoized) [[rankHist]] frame — identical output by construction.
    */
  private[graft] def rankLocateMultiFrom(df: DataFrame, hist: DataFrame,
      v: String, ranks: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucket 0 always exists: the min value lands there (and the
    // degenerate mx == mn frame is all bucket 0)
    val mm = hist.filter(col("__b") === 0L)
      .select(col("__p"), col("__mn"), col("__mx"))
    val withRanks = mm.select(
      (col("__p") +: col("__mn") +: col("__mx") +:
        ranks.map { case (n, e) => expr(e).as(s"__r_$n") }): _*)
    val b = expr(s"(($v - __mn) * $tsBuckets) div (__mx - __mn + 1)")
    val cum = hist.select(col("__b"), col("__c"), col("__cum"))
      .crossJoin(broadcast(withRanks.select(
        ranks.map { case (n, _) => col(s"__r_$n") }: _*)))
    val loc = ranks.map { case (n, _) =>
      cum.filter(col("__cum") >= col(s"__r_$n") &&
          col("__cum") - col("__c") < col(s"__r_$n"))
        .select(lit(n).as("__name"), col("__b").as("__bt"),
          (col("__cum") - col("__c")).as("__below"),
          col(s"__r_$n").as("__r"))
    }.reduce(_.unionAll(_))
    df.crossJoin(broadcast(mm.select(col("__mn"), col("__mx"))))
      .withColumn("__b", b)
      .join(broadcast(loc), col("__b") === col("__bt"))
      .groupBy(col("__name"), col(v)).agg(count(lit(1)).as("__c"),
        max(col("__below")).as("__below"), max(col("__r")).as("__r"))
      .withColumn("__cum", col("__below") + sum(col("__c")).over(
        Window.partitionBy(col("__name")).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") >= col("__r") && col("__cum") - col("__c") < col("__r"))
      .select(col("__name").as("name"), col(v).as("value"))
  }

  /** Theil–Sen robust trend of daily order revenue: slope = median of
    * all pairwise slopes (Δrevenue/Δdays over every day pair i<j),
    * intercept = median of (xᵢ − slope·dᵢ) — the breakdown-point-29%
    * regressor whose estimate one spiked day cannot drag, the robust
    * companion to `trend_fit`'s least squares. Slopes live on the
    * 1e-6 cents/day grid (BIGINT); both medians are LOWER medians at
    * explicit integer rank ⌈P/2⌉ — no round-half-even dependence —
    * found by [[rankLocate]]'s bucket-locate (three bounded passes,
    * no global sort even though the ~2.9M-pair frame is
    * calendar-bounded at every scale). Output also carries the pair
    * count and the day span so the consumer can judge the support.
    */
  def theilSenQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tsPairs(spark, dir)
    val slope = rankLocate(pairs, "s6", expr("(__p + 1) div 2"))
      .select(col("value").as("__slope6"))
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val d0 = daily.agg(min(col("day_us")).as("d0"))
    val resid = daily.crossJoin(broadcast(d0)).crossJoin(broadcast(slope))
      .select((col("x") * 1000000L -
        col("__slope6") * ((col("day_us") - col("d0")) / usPerDay).cast("long"))
        .as("i6"))
    val icept = rankLocate(resid, "i6", expr("(__p + 1) div 2"))
      .select(col("value").as("__i6"))
    val meta = pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(daily.agg(count(lit(1)).as("n_days")))
    // Literal checkpoint: one bounded row, but its plan nests the pair
    // memo plus two bucket-locate trees — replanning that per action
    // cost ~15s/query at sf0.1, and BUILDING it costs the ~2.9M-pair
    // scan per session. Warehouse-persist it ([[Checkpoint]]) keyed by
    // the orders fingerprint: the values are exact fixed-point grids
    // (bucket-located longs over a deterministic pair frame, divided
    // once by 1e6), so the rebuild-vs-committed diff holds across
    // boxes. One parquet footer read per later session.
    Memo(spark, dir, "wave8:theilSenRow") {
      Checkpoint(spark, dir, "theil_sen_row")(
        Checkpoint.tableFingerprint(spark, dir, "orders")) {
        import spark.implicits._
        meta.crossJoin(slope).crossJoin(icept)
          .select(col("n_days"), col("n_pairs"),
            (col("__slope6").cast("double") / 1e6).as("slope_cents_per_day"),
            (col("__i6").cast("double") / 1e6).as("intercept_cents"))
          .as[(Long, Long, Double, Double)].collect().toSeq
          .toDF("n_days", "n_pairs", "slope_cents_per_day", "intercept_cents")
      }
    }
  }

  val theilSenSql: String =
    s"""WITH $tsPairsCtes,
       |p AS (SELECT COUNT(*) AS p FROM pairs),
       |sv AS (SELECT s6, COUNT(*) AS c FROM pairs GROUP BY 1),
       |scum AS (SELECT s6, SUM(c) OVER (ORDER BY s6 ROWS UNBOUNDED PRECEDING) AS cum
       |         FROM sv),
       |slope AS (SELECT MIN(s6) AS s6 FROM scum, p WHERE cum >= (p.p + 1) // 2),
       |resid AS (SELECT x * 1000000 - slope.s6 * d AS i6 FROM idx, slope),
       |n AS (SELECT COUNT(*) AS n FROM resid),
       |iv AS (SELECT i6, COUNT(*) AS c FROM resid GROUP BY 1),
       |icum AS (SELECT i6, SUM(c) OVER (ORDER BY i6 ROWS UNBOUNDED PRECEDING) AS cum
       |         FROM iv),
       |icept AS (SELECT MIN(i6) AS i6 FROM icum, n WHERE cum >= (n.n + 1) // 2)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       |  (SELECT CAST(p AS BIGINT) FROM p) AS n_pairs,
       |  CAST(slope.s6 AS DOUBLE) / 1e6 AS slope_cents_per_day,
       |  CAST(icept.i6 AS DOUBLE) / 1e6 AS intercept_cents
       |FROM slope, icept""".stripMargin

  /** Mann–Kendall trend test over the same daily-revenue pair frame:
    * S = Σ_{i<j} sign(xⱼ − xᵢ), tie-corrected variance
    * Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (exact BIGINT — the /18
    * and the √ meet only in the final z), z = (S∓1)/√Var with the √
    * 1e-6-quantized — the standard nonparametric "is there a monotonic
    * trend" screen that pairs with `theil_sen`'s magnitude. Reuses the
    * memoized calendar-bounded pair frame; the tie table is a
    * value-collapsed aggregate of the ≤ #days daily frame.
    */
  def mannKendallQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tsPairs(spark, dir)
    val s = pairs.agg(
      sum(when(col("dy") > 0, 1L).when(col("dy") < 0, -1L).otherwise(0L)).as("s_stat"))
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val ties = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).as("__nv"),
        sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("__tadj"))
    s.crossJoin(ties)
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5) - col("__tadj"))
      .withColumn("__sq6",
        expr("CAST(round(sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) AS BIGINT)"))
      .select(col("n_days"), col("s_stat"), col("var18"),
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") * 1e6 / col("__sq6"))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") * 1e6 / col("__sq6"))
          .otherwise(lit(0.0)).as("z"))
  }

  val mannKendallSql: String =
    s"""WITH $tsPairsCtes,
       |s AS (SELECT SUM(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END) AS s_stat
       |      FROM pairs),
       |ties AS (SELECT SUM(t) AS n_days,
       |    SUM(t * (t - 1) * (2 * t + 5)) AS tadj
       |  FROM (SELECT x, COUNT(*) AS t FROM daily GROUP BY 1)),
       |v AS (SELECT s.s_stat, ties.n_days,
       |    ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5) - ties.tadj AS var18
       |  FROM s, ties)
       |SELECT CAST(n_days AS BIGINT) AS n_days, CAST(s_stat AS BIGINT) AS s_stat,
       |  CAST(var18 AS BIGINT) AS var18,
       |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) * 1e6
       |         / CAST(round(sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) AS BIGINT)
       |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) * 1e6
       |         / CAST(round(sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1e6) AS BIGINT)
       |       ELSE 0.0 END AS z
       |FROM v""".stripMargin

  // ---- l_diversity_audit: sensitive-attribute diversity per QI group ----

  val lDivL = 3L

  /** l-diversity audit (Machanavajjhala et al. ICDE'06) — the release
    * gate k-anonymity alone cannot provide: a QI group can be large yet
    * expose everyone in it if all members share one sensitive value.
    * QI = (nation, balance sign), sensitive = market segment; a group
    * violates when it holds < 3 distinct segments. Same one-keyed-
    * aggregate plan as `k_anon_audit` (its docstring's promised
    * swap-the-aggregate extension): violating combos with group size
    * and distinct-sensitive count, plus a '__TOTAL__' row with the
    * corpus minimum l, violating-group count, and exposed headcount.
    */
  def lDiversityAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables(spark, dir, "customer")
      .groupBy(concat_ws("|", col("c_nationkey").cast("string"),
        when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos"))).as("combo"))
      .agg(count(lit(1)).as("n"), count_distinct(col("c_mktsegment")).as("l"))
    val viol = groups.filter(col("l") < lDivL)
      .select(col("combo"), col("n"), col("l"),
        lit(null).cast("long").as("n_violating"), lit(null).cast("long").as("n_exposed"))
    val summary = groups.agg(
      min(col("l")).as("__minl"),
      sum(when(col("l") < lDivL, 1L).otherwise(0L)).as("__nv"),
      sum(when(col("l") < lDivL, col("n")).otherwise(0L)).as("__ne"),
      sum(col("n")).as("__n"))
      .select(lit("__TOTAL__").as("combo"), col("__n").as("n"), col("__minl").as("l"),
        col("__nv").as("n_violating"), col("__ne").as("n_exposed"))
    viol.unionAll(summary).orderBy(col("combo"))
  }

  val lDiversityAuditSql: String =
    s"""WITH g AS (SELECT CAST(c_nationkey AS VARCHAR) || '|' ||
       |    (CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END) AS combo,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
       |  FROM customer GROUP BY 1)
       |SELECT combo, n, l, CAST(NULL AS BIGINT) AS n_violating,
       |  CAST(NULL AS BIGINT) AS n_exposed
       |FROM g WHERE l < $lDivL
       |UNION ALL
       |SELECT '__TOTAL__', CAST(SUM(n) AS BIGINT), CAST(MIN(l) AS BIGINT),
       |  CAST(SUM(CASE WHEN l < $lDivL THEN 1 ELSE 0 END) AS BIGINT),
       |  CAST(SUM(CASE WHEN l < $lDivL THEN n ELSE 0 END) AS BIGINT)
       |FROM g
       |ORDER BY combo""".stripMargin

  // ---- dp_topk: DP noisy top-k release ----

  val dpTopK = 3

  /** Differentially-private noisy top-k (report-noisy-max iterated):
    * per-event-type counts get seeded Laplace(b=2) noise — the
    * `dp_noise_count` derivation (salted 52-bit md5 → uniform → inverse
    * CDF, ln DECIMAL(38,6)-quantized), scaled ×2 for the larger
    * released-set sensitivity — and the top 3 noisy counts are released
    * WITH their ranks but, per the mechanism, usable without the true
    * counts (the true count column here is the audit's reference, not
    * part of the release). The rank window runs over the ≤ #types
    * aggregate frame, never data.
    */
  def dpTopkQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(concat(lit("dptopk:"), col("event_type"))), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(4503599627370496.0)
    val noise = (when(col("__u") - 0.5 < 0, lit(2.0)).otherwise(lit(-2.0))) *
      expr("CAST(ln(1.0 - 2.0 * abs(__u - 0.5)) AS DECIMAL(38,6))").cast("double")
    Tables(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
      .withColumn("__u", u)
      .withColumn("noisy_n", col("n_events").cast("double") + noise)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("noisy_n").desc, col("event_type"))))
      .filter(col("rank") <= dpTopK)
      .select(col("rank"), col("event_type"), col("n_events"), col("noisy_n"))
      .orderBy(col("rank"))
  }

  val dpTopkSql: String =
    s"""WITH g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
       |           FROM events GROUP BY 1),
       |u AS (SELECT event_type, n_events,
       |    (CAST(('0x' || substr(md5('dptopk:' || event_type), 1, 13)) AS BIGINT) + 0.5)
       |      / 4503599627370496.0 AS uu
       |  FROM g),
       |noisy AS (SELECT event_type, n_events,
       |    CAST(n_events AS DOUBLE) +
       |      (CASE WHEN uu - 0.5 < 0 THEN 2.0 ELSE -2.0 END) *
       |      CAST(CAST(ln(1.0 - 2.0 * abs(uu - 0.5)) AS DECIMAL(38,6)) AS DOUBLE) AS noisy_n
       |  FROM u)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY noisy_n DESC, event_type) AS INT) AS rank,
       |  event_type, n_events, noisy_n
       |FROM noisy
       |QUALIFY rank <= $dpTopK
       |ORDER BY rank""".stripMargin

  // ---- ttr_segments: segmented type-token ratio (lexical diversity) ----

  val ttrSegLen = 50

  /** Segmented type-token ratio (the MSTTR form of lexical-diversity
    * scoring — Johnson 1944; the windowed family MATTR approximates):
    * each doc splits into consecutive 50-token segments, each segment
    * reports distinct/length, and the doc score is the segment mean —
    * which, unlike raw TTR, does not collapse toward 0 with document
    * length, so it is comparable across lengths (the curation property
    * that matters). Per-segment ratios quantize to the 1e-6 grid
    * BEFORE the mean so the doc score is an integer sum divided once —
    * no FP-order drift across engines or executors. One explode + two
    * keyed aggregates; segments of a doc stay in its partition.
    */
  def ttrSegmentsQ(spark: SparkSession, dir: String): DataFrame =
    QueriesText.toks(spark, dir)
      .select(col("doc_id"),
        posexplode(col("__ws")).as(Seq("p", "w")))
      .groupBy(col("doc_id"), expr(s"CAST(p div $ttrSegLen AS BIGINT)").as("seg"))
      .agg(count(lit(1)).as("nt"), count_distinct(col("w")).as("nd"))
      .withColumn("t6", expr("CAST(round(CAST(nd AS DOUBLE) * 1e6 / nt) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), sum(col("nt")).as("n_tokens"),
        (sum(col("t6")).cast("double") / 1e6 / count(lit(1))).as("msttr"))
      .orderBy(col("doc_id"))

  val ttrSegmentsSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |tok AS (SELECT doc_id, (i - 1) // $ttrSegLen AS seg, ws[i] AS w
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)),
       |segs AS (SELECT doc_id, seg, COUNT(*) AS nt, COUNT(DISTINCT w) AS nd
       |  FROM tok GROUP BY 1, 2),
       |t AS (SELECT doc_id, nt,
       |    CAST(round(CAST(nd AS DOUBLE) * 1e6 / nt) AS BIGINT) AS t6
       |  FROM segs)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(t6) AS DOUBLE) / 1e6 / COUNT(*) AS msttr
       |FROM t GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---- shared per-source word-count frame ----

  /** (source, w, a): token multiplicities per source — the model frame
    * `compress_ratio_est`, `jsd_drift`, and `simpson_diversity` all
    * read; vocabulary-keyed (bounded), built from one documents scan
    * per session.
    */
  private[graft] def srcWordCounts(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave8:srcWordCounts")(
      QueriesText.toks(spark, dir)
        .select(col("source"), explode(col("__ws")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("a")))

  private[graft] val srcWordCountsCte: String =
    s"""${QueriesText.wordsCte},
       |swc AS (SELECT d.source, t.w, COUNT(*) AS a
       |  FROM (SELECT doc_id, unnest(ws) AS w FROM w) t
       |  JOIN documents d ON d.doc_id = t.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  // ---- compress_ratio_est: unigram-entropy compressibility ----

  /** Unigram-entropy compressed-size estimate per source: an order-0
    * entropy coder spends −log₂ p(w) bits per token, so
    * bits = Σ_w c_w·log₂(A/c_w) is the Shannon lower bound for a
    * per-source unigram model — the compression-ratio quality signal
    * curation pipelines thumb-rule with gzip, computed exactly from
    * counts the engine already aggregates (highly compressible =
    * repetitive/templated source). Each log₂ is quantized to the 1e-6
    * grid, weighted by an exact BIGINT count, and integer-summed, so
    * aggregation order cannot move a bit. Vocabulary-keyed model frame
    * (the session `srcWordCounts` memo) + one documents-scan char sum.
    */
  def compressRatioEstQ(spark: SparkSession, dir: String): DataFrame = {
    val wc = srcWordCounts(spark, dir)
    val at = wc.groupBy(col("source")).agg(sum(col("a")).as("at"))
    val bits = wc.join(broadcast(at), "source")
      .withColumn("l6",
        expr("CAST(round(log2(CAST(at AS DOUBLE) / a) * 1e6) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(max(col("at")).as("n_tokens"), sum(col("a") * col("l6")).as("b6"))
    val chars = Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(sum(col("n_chars")).as("n_chars"))
    bits.join(chars, "source")
      .select(col("source"), col("n_tokens"), col("n_chars"),
        (col("b6").cast("double") / 1e6 / 8.0).as("est_bytes"),
        (col("b6").cast("double") / 1e6 / col("n_chars")).as("bits_per_char"))
      .orderBy(col("source"))
  }

  val compressRatioEstSql: String =
    s"""WITH $srcWordCountsCte,
       |at AS (SELECT source, SUM(a) AS at FROM swc GROUP BY 1),
       |bits AS (SELECT swc.source, MAX(at.at) AS n_tokens,
       |    SUM(a * CAST(round(log2(CAST(at.at AS DOUBLE) / a) * 1e6) AS BIGINT)) AS b6
       |  FROM swc JOIN at ON at.source = swc.source GROUP BY 1),
       |chars AS (SELECT source, SUM(n_chars) AS n_chars FROM documents GROUP BY 1)
       |SELECT b.source, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(c.n_chars AS BIGINT) AS n_chars,
       |  CAST(b.b6 AS DOUBLE) / 1e6 / 8.0 AS est_bytes,
       |  CAST(b.b6 AS DOUBLE) / 1e6 / c.n_chars AS bits_per_char
       |FROM bits b JOIN chars c ON c.source = b.source
       |ORDER BY b.source""".stripMargin

  // ---- jsd_drift: Jensen–Shannon divergence per source vs corpus ----

  private val ln2Q = 0.693147 // round(1e6·ln 2)/1e6, driver-quantized literal

  /** Jensen–Shannon divergence of each source's token distribution vs
    * the corpus distribution — the SYMMETRIC, always-finite drift
    * measure beside `psi_drift` (PSI explodes on empty bins; KL is
    * infinite on unseen words, JSD is not, which is why corpora teams
    * monitor it). JSD(P‖Q) = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q));
    * with integer counts a/A (source) and b/B (corpus) every ln
    * argument is the exact rational 2aB/(aB+bA) resp. 2bA/(aB+bA) —
    * one quantized ln per (source, word) over the vocabulary grid,
    * weights exact BIGINTs, integer sums, two divisions at the end.
    * Rides the session `srcWordCounts` memo; the grid is
    * vocabulary×sources (bounded), never data-sized.
    */
  def jsdDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val wc = srcWordCounts(spark, dir)
    val corpus = wc.groupBy(col("w")).agg(sum(col("a")).as("b"))
    val at = wc.groupBy(col("source")).agg(sum(col("a")).as("at"))
    val bt = corpus.agg(sum(col("b")).as("bt"))
    val grid = at.crossJoin(corpus)
      .join(wc, Seq("source", "w"), "left_outer")
      .withColumn("a", coalesce(col("a"), lit(0L)))
      .crossJoin(broadcast(bt))
    val terms = grid
      .withColumn("p6", when(col("a") > 0, col("a") *
        expr("CAST(round(ln(CAST(2 * a * bt AS DOUBLE) / (a * bt + b * at)) * 1e6) AS BIGINT)"))
        .otherwise(lit(0L)))
      .withColumn("q6", col("b") *
        expr("CAST(round(ln(CAST(2 * b * at AS DOUBLE) / (a * bt + b * at)) * 1e6) AS BIGINT)"))
    terms.groupBy(col("source"))
      .agg(max(col("at")).as("n_tokens"), max(col("bt")).as("__bt"),
        sum(col("p6")).as("__p6"), sum(col("q6")).as("__q6"))
      .withColumn("jsd_nats",
        col("__p6").cast("double") / 2e6 / col("n_tokens") +
          col("__q6").cast("double") / 2e6 / col("__bt"))
      .select(col("source"), col("n_tokens"), col("jsd_nats"),
        (col("jsd_nats") / ln2Q).as("jsd_norm"))
      .orderBy(col("source"))
  }

  val jsdDriftSql: String =
    s"""WITH $srcWordCountsCte,
       |corpus AS (SELECT w, SUM(a) AS b FROM swc GROUP BY 1),
       |at AS (SELECT source, SUM(a) AS at FROM swc GROUP BY 1),
       |bt AS (SELECT SUM(b) AS bt FROM corpus),
       |grid AS (SELECT at.source, at.at, c.w, c.b, COALESCE(swc.a, 0) AS a, bt.bt
       |  FROM at CROSS JOIN corpus c
       |  LEFT JOIN swc ON swc.source = at.source AND swc.w = c.w, bt),
       |terms AS (SELECT source, at, bt,
       |    CASE WHEN a > 0 THEN a *
       |      CAST(round(ln(CAST(2 * a * bt AS DOUBLE) / (a * bt + b * at)) * 1e6) AS BIGINT)
       |      ELSE 0 END AS p6,
       |    b * CAST(round(ln(CAST(2 * b * at AS DOUBLE) / (a * bt + b * at)) * 1e6) AS BIGINT) AS q6
       |  FROM grid),
       |agg AS (SELECT source, MAX(at) AS n_tokens, MAX(bt) AS bt,
       |    SUM(p6) AS p6, SUM(q6) AS q6
       |  FROM terms GROUP BY 1)
       |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(p6 AS DOUBLE) / 2e6 / n_tokens + CAST(q6 AS DOUBLE) / 2e6 / bt AS jsd_nats,
       |  (CAST(p6 AS DOUBLE) / 2e6 / n_tokens + CAST(q6 AS DOUBLE) / 2e6 / bt) / $ln2Q AS jsd_norm
       |FROM agg ORDER BY source""".stripMargin

  // ---- simpson_diversity: concentration / effective vocabulary ----

  /** Simpson-family diversity per source: Gini–Simpson index
    * 1 − Σc(c−1)/(N(N−1)) (the probability two sampled tokens differ,
    * unbiased finite-sample form) and effective vocabulary N²/Σc²
    * (Hill number of order 2 — "how many equally-common words would
    * look like this") — the concentration signals that catch a source
    * whose token mass collapsed onto boilerplate even when raw vocab
    * counts look healthy (complements `shannon_entropy`, which needs
    * quantized logs; these are pure integer ratios). One aggregate
    * over the session `srcWordCounts` memo.
    */
  def simpsonDiversityQ(spark: SparkSession, dir: String): DataFrame =
    srcWordCounts(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"), sum(col("a")).as("n_tokens"),
        sum(col("a") * (col("a") - 1)).as("__sg"),
        sum(col("a") * col("a")).as("__s2"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        (lit(1.0) - col("__sg").cast("double") /
          (col("n_tokens") * (col("n_tokens") - 1)).cast("double")).as("gini_simpson"),
        ((col("n_tokens") * col("n_tokens")).cast("double") /
          col("__s2").cast("double")).as("eff_vocab"))
      .orderBy(col("source"))

  val simpsonDiversitySql: String =
    s"""WITH $srcWordCountsCte
       |SELECT source, CAST(SUM(a) AS BIGINT) AS n_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS vocab,
       |  1.0 - CAST(SUM(a * (a - 1)) AS DOUBLE) / CAST(SUM(a) * (SUM(a) - 1) AS DOUBLE) AS gini_simpson,
       |  CAST(SUM(a) * SUM(a) AS DOUBLE) / CAST(SUM(a * a) AS DOUBLE) AS eff_vocab
       |FROM swc GROUP BY 1 ORDER BY source""".stripMargin

  // ---- assoc_rules: association rules over the FP-Growth lattice ----

  /** Association rules (Agrawal–Srikant VLDB'94 step 2) derived from
    * the session's FP-Growth itemset lattice: every surviving brand
    * pair {A,B} yields A→B and B→A with confidence supp(AB)/supp(A)
    * and lift supp(AB)·N/(supp(A)·supp(B)) — the basket-analysis
    * output consumed downstream of `basket_itemsets` (whose PFP plan
    * is what survives a 100 TB fact table). Frequencies come from the
    * memoized mined lattice, N from the memoized basket frame; both
    * ratios are single divisions of exact BIGINT products, and the
    * antecedent/consequent frequency lookups broadcast (the lattice is
    * support-bounded ≤ 1/minSupport itemsets). No new fact-scan work.
    */
  def assocRulesQ(spark: SparkSession, dir: String): DataFrame = {
    val its = QueriesAnalytics.basketItemsetsQ(spark, dir)
    val singles = its.filter(col("n_items") === 1)
      .select(col("items").as("item"), col("freq"))
    val prs = its.filter(col("n_items") === 2)
      .select(split(col("items"), ",").as("ab"), col("freq").as("freq_pair"))
      .select(col("ab").getItem(0).as("a"), col("ab").getItem(1).as("b"),
        col("freq_pair"))
    val n = QueriesAnalytics.brandBaskets(spark, dir).agg(count(lit(1)).as("nb"))
    prs.select(col("a").as("antecedent"), col("b").as("consequent"), col("freq_pair"))
      .unionAll(prs.select(col("b").as("antecedent"), col("a").as("consequent"),
        col("freq_pair")))
      .join(broadcast(singles.select(col("item").as("antecedent"), col("freq").as("__fa"))),
        "antecedent")
      .join(broadcast(singles.select(col("item").as("consequent"), col("freq").as("__fc"))),
        "consequent")
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("freq_pair"),
        (col("freq_pair").cast("double") / col("__fa")).as("confidence"),
        ((col("freq_pair") * col("nb")).cast("double") /
          (col("__fa") * col("__fc")).cast("double")).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  val assocRulesSql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
       |            FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nb FROM ob),
       |singles AS (SELECT p_brand AS item, CAST(COUNT(*) AS BIGINT) AS f
       |            FROM ob GROUP BY 1),
       |pairs AS (SELECT a.p_brand AS a, b.p_brand AS b, CAST(COUNT(*) AS BIGINT) AS fab
       |          FROM ob a JOIN ob b
       |            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
       |          GROUP BY 1, 2),
       |fp AS (SELECT a, b, fab FROM pairs, n
       |       WHERE fab >= CAST(ceil(${QueriesAnalytics.basketMinSupport} * nb) AS BIGINT)),
       |rules AS (SELECT a AS antecedent, b AS consequent, fab FROM fp
       |          UNION ALL SELECT b, a, fab FROM fp)
       |SELECT r.antecedent, r.consequent, r.fab AS freq_pair,
       |  CAST(r.fab AS DOUBLE) / sa.f AS confidence,
       |  CAST(r.fab * n.nb AS DOUBLE) / CAST(sa.f * sc.f AS DOUBLE) AS lift
       |FROM rules r
       |JOIN singles sa ON sa.item = r.antecedent
       |JOIN singles sc ON sc.item = r.consequent, n
       |ORDER BY antecedent, consequent""".stripMargin

  // ---- stream_dedup: per-day idempotency dedup report ----

  /** Core of `stream_dedup` over any (user_id, event_type, ts) frame —
    * exposed for the streaming spec, which runs the same key through
    * Structured Streaming's watermarked dropDuplicates and must match
    * these counts across a batch cut.
    */
  def streamDedupCore(events: DataFrame): DataFrame =
    events
      .select(expr("unix_micros(date_trunc('DAY', ts))").as("day_us"),
        concat_ws(":", col("user_id"), col("event_type")).as("k"))
      .groupBy(col("day_us"))
      .agg(count(lit(1)).as("n_events"), count_distinct(col("k")).as("n_first"))
      .select((col("day_us") / 1000000L).cast("long").as("day_s"),
        col("n_events"), col("n_first"),
        (col("n_events") - col("n_first")).as("n_dups"),
        ((col("n_events") - col("n_first")).cast("double") / col("n_events"))
          .as("dup_ratio"))
      .orderBy(col("day_s"))

  /** Per-day idempotency dedup report for the event stream: events
    * beyond the first per (user, type, day) key are duplicates an
    * at-least-once delivery pipeline must drop. Batch form = one keyed
    * aggregate; the streaming form is `dropDuplicates` on the same key
    * behind a day watermark — state per key is one marker, bounded by
    * the watermark horizon, which is exactly why the key includes the
    * day (unbounded keys would grow state forever). The spec proves
    * the streaming variant reproduces `n_first` across a batch cut.
    */
  def streamDedupQ(spark: SparkSession, dir: String): DataFrame =
    streamDedupCore(Tables(spark, dir, "events"))

  val streamDedupSql: String =
    """SELECT epoch_us(date_trunc('day', ts)) // 1000000 AS day_s,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR) || ':' || event_type) AS BIGINT) AS n_first,
      |  CAST(COUNT(*) - COUNT(DISTINCT CAST(user_id AS VARCHAR) || ':' || event_type) AS BIGINT) AS n_dups,
      |  CAST(COUNT(*) - COUNT(DISTINCT CAST(user_id AS VARCHAR) || ':' || event_type) AS DOUBLE)
      |    / COUNT(*) AS dup_ratio
      |FROM events GROUP BY 1 ORDER BY day_s""".stripMargin

  // ---- hurst_exponent: rescaled-range long-memory estimate ----

  val hurstMs: Seq[Int] = Seq(64, 128, 256)
  private val twoLn2 = 1.386294 // round(1e6·2ln2)/1e6, driver literal

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot–Wallis 1969) over the daily order-revenue series: for
    * window sizes m ∈ {64,128,256}, split the day-indexed series into
    * complete m-day chunks, compute each chunk's range of cumulative
    * mean-deviations over its standard deviation, and fit
    * ln E[R/S] ~ H·ln m — H≈0.5 is memoryless, H>0.5 long-range
    * persistent (the demand-autocorrelation diagnostic beside
    * `autocorr`). Exact discipline: within a chunk,
    * D_t = m·prefix_t − t·S is BIGINT (so R/S = span/√(m·Σx²−S²) has
    * integer numerator and a DECIMAL(38,0) radicand), one quantized
    * ln per chunk, integer-summed per m; with ln m equally spaced the
    * least-squares slope collapses to (ȳ₂₅₆−ȳ₆₄)/(2·ln2) — a literal
    * denominator. The whole computation after the per-day aggregate
    * touches ≤ #days rows (calendar-bounded at any scale).
    */
  def hurstExponentQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val ranked = Memo(spark, dir, "wave8:dailyRankedRev")(
      daily.withColumn("rk0",
        row_number().over(Window.orderBy(col("day_us"))).cast("long") - 1))
    val arms = hurstMs.map { m =>
      val ch = ranked.withColumn("chunk", expr(s"rk0 div $m"))
      val w = Window.partitionBy(col("chunk")).orderBy(col("rk0"))
      val d = ch
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("pre", sum(col("x")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("s", sum(col("x")).over(Window.partitionBy(col("chunk"))))
        .withColumn("dt", lit(m.toLong) * col("pre") - col("t") * col("s"))
      val per = d.groupBy(col("chunk")).agg(
        count(lit(1)).as("cnt"),
        (max(col("dt")) - min(col("dt"))).as("span"),
        (lit(m.toLong).cast("decimal(38,0)") *
          sum(col("x").cast("decimal(38,0)") * col("x")) -
          sum(col("x")).cast("decimal(38,0)") * sum(col("x"))).as("v"))
      per.filter(col("cnt") === m && col("span") > 0 && col("v") > 0)
        .withColumn("l6", expr(
          "CAST(round(1e6 * (ln(CAST(span AS DOUBLE)) - 0.5 * ln(CAST(v AS DOUBLE)))) AS BIGINT)"))
        .agg(count(lit(1)).as("n_chunks"), sum(col("l6")).as("__s6"))
        .select(lit(m).as("m"), col("n_chunks"),
          (col("__s6").cast("double") / 1e6 / col("n_chunks")).as("ln_rs_mean"),
          lit(null).cast("double").as("hurst"))
    }
    val perM = arms.reduce(_.unionAll(_))
    val summary = perM
      .agg(max(when(col("m") === hurstMs.last, col("ln_rs_mean"))).as("__y3"),
        max(when(col("m") === hurstMs.head, col("ln_rs_mean"))).as("__y1"))
      .select(lit(0).as("m"), lit(0L).as("n_chunks"),
        lit(null).cast("double").as("ln_rs_mean"),
        ((col("__y3") - col("__y1")) / twoLn2).as("hurst"))
    perM.unionAll(summary).orderBy(col("m"))
  }

  val hurstExponentSql: String = {
    val arms = hurstMs.map { m =>
      s"""c$m AS (SELECT rk0 // $m AS chunk, x,
         |    ROW_NUMBER() OVER (PARTITION BY rk0 // $m ORDER BY rk0) AS t,
         |    SUM(x) OVER (PARTITION BY rk0 // $m ORDER BY rk0 ROWS UNBOUNDED PRECEDING) AS pre,
         |    SUM(x) OVER (PARTITION BY rk0 // $m) AS s
         |  FROM ranked),
         |p$m AS (SELECT chunk, COUNT(*) AS cnt,
         |    MAX($m * pre - t * s) - MIN($m * pre - t * s) AS span,
         |    $m * SUM(CAST(x AS HUGEINT) * x) - CAST(SUM(x) AS HUGEINT) * SUM(x) AS v
         |  FROM c$m GROUP BY 1),
         |y$m AS (SELECT $m AS m, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |    CAST(SUM(CAST(round(1e6 * (ln(CAST(span AS DOUBLE))
         |      - 0.5 * ln(CAST(v AS DOUBLE)))) AS BIGINT)) AS DOUBLE) / 1e6 / COUNT(*) AS ln_rs_mean
         |  FROM p$m WHERE cnt = $m AND span > 0 AND v > 0)""".stripMargin
    }.mkString(",\n")
    val rows = hurstMs.map(m =>
      s"SELECT m, n_chunks, ln_rs_mean, CAST(NULL AS DOUBLE) AS hurst FROM y$m")
      .mkString("\nUNION ALL\n")
    s"""WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
       |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
       |  FROM orders GROUP BY 1),
       |ranked AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day_us) - 1 AS rk0 FROM daily),
       |$arms
       |$rows
       |UNION ALL
       |SELECT 0, 0, CAST(NULL AS DOUBLE),
       |  (y${hurstMs.last}.ln_rs_mean - y${hurstMs.head}.ln_rs_mean) / $twoLn2
       |FROM y${hurstMs.head}, y${hurstMs.last}
       |ORDER BY m""".stripMargin
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gee_est" -> (geeEstQ _),
    "ams_join_est" -> (amsJoinEstQ _),
    "benford_audit" -> (benfordAuditQ _),
    "theil_sen" -> (theilSenQ _),
    "mann_kendall" -> (mannKendallQ _),
    "l_diversity_audit" -> (lDiversityAuditQ _),
    "dp_topk" -> (dpTopkQ _),
    "ttr_segments" -> (ttrSegmentsQ _),
    "compress_ratio_est" -> (compressRatioEstQ _),
    "jsd_drift" -> (jsdDriftQ _),
    "simpson_diversity" -> (simpsonDiversityQ _),
    "assoc_rules" -> (assocRulesQ _),
    "stream_dedup" -> (streamDedupQ _),
    "hurst_exponent" -> (hurstExponentQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "gee_est" -> geeEstSql,
    "ams_join_est" -> amsJoinEstSql,
    "benford_audit" -> benfordAuditSql,
    "theil_sen" -> theilSenSql,
    "mann_kendall" -> mannKendallSql,
    "l_diversity_audit" -> lDiversityAuditSql,
    "dp_topk" -> dpTopkSql,
    "ttr_segments" -> ttrSegmentsSql,
    "compress_ratio_est" -> compressRatioEstSql,
    "jsd_drift" -> jsdDriftSql,
    "simpson_diversity" -> simpsonDiversitySql,
    "assoc_rules" -> assocRulesSql,
    "stream_dedup" -> streamDedupSql,
    "hurst_exponent" -> hurstExponentSql
  )
}
