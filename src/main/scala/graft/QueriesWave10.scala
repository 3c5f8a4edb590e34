package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 wave: the classical hypothesis-test family the drift/audit
  * stack was still missing — one-way ANOVA (variance decomposition),
  * Kruskal–Wallis (its rank-based twin), Spearman rank correlation,
  * and pairwise Welch t-tests. All follow the repo's parity discipline:
  * moments as exact DECIMAL(38,0)/HUGEINT integers on a quantization
  * grid, per-group terms quantized to integers before any order-
  * dependent sum, ONE quantized √ per pair, and rank computation via
  * the range-partitioned prefix-sum plan (no single-partition window
  * over data-scale frames).
  */
object QueriesWave10 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Midranks over a quantized integer value column, 2×-scaled so ties'
    * half-ranks stay integers: mr2(v) = 2·|{x < v}| + t_v + 1.
    *
    * Scale path: the value-level frame (one row per DISTINCT quantized
    * value — bounded by the grid, not the data) is range-partitioned,
    * per-partition counts become cumulative offsets (a window over
    * ≤ #shuffle-partitions rows), and the within-partition prefix runs
    * partitioned by partition id — the `Encoding.dictionary` rank
    * discipline, so no global-sort single-partition window ever sees
    * the frame.
    */
  def valueMidranks2(df: DataFrame, value: Column): DataFrame = {
    val vt = df.select(value.as("__v")).na.drop()
      .groupBy(col("__v")).agg(count(lit(1)).as("__t"))
    graft.operators.Distributed
      .exclusivePrefixSums(vt, col("__v"), Seq("__t"))
      .select(col("__v"), col("__t"),
        (lit(2L) * col("__pre___t") + col("__t") + lit(1L)).as("__mr2"))
  }

  /** The same midrank table as a DuckDB subquery (single-node oracle —
    * a plain window is fine there). */
  private def midranksSub(table: String, valueExpr: String): String =
    s"""(SELECT __v, __t, 2 * COALESCE(SUM(__t) OVER (ORDER BY __v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    + __t + 1 AS __mr2
       |  FROM (SELECT $valueExpr AS __v, CAST(COUNT(*) AS BIGINT) AS __t
       |        FROM $table WHERE $valueExpr IS NOT NULL GROUP BY 1))""".stripMargin

  // ---- anova_oneway: one-way ANOVA F-test across event types ----

  /** F(4, ∞) 0.95 critical value, driver-quantized literal. */
  val anovaCrit = 2.371902

  /** One-way ANOVA of `events.value` (1e-2 grid) across event types:
    * SS_between = Σ n_j(x̄_j−x̄)², SS_within = Σ (n_jS_j−T_j²)/n_j,
    * F = (SSB/(k−1))/(SSW/(N−k)) — the "does the group label explain
    * the variance" omnibus screen in front of the pairwise tests.
    * Per-group (n, T, S) moments are exact DECIMAL(38,0) one-scan
    * aggregates; each group's SS term is one double division of exact
    * integers rounded back to an integer before the k-row sum, so no
    * order-dependent float accumulation exists anywhere.
    */
  def anovaOnewayQ(spark: SparkSession, dir: String): DataFrame = {
    val v2 = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    // the k-row group frame feeds both the totals and the per-group
    // terms — memoized so the fact table scans once per session
    val g = Memo(spark, dir, "wave10:anovaGroups")(
      Tables(spark, dir, "events")
        .select(col("event_type"), v2.as("__x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_j"),
          sum(dec(col("__x"))).as("t_j"),
          sum(dec(col("__x") * col("__x"))).as("s_j")))
    val tot = g.agg(sum(col("n_j")).as("nn"), sum(col("t_j")).as("tt"),
      count(lit(1)).as("k"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("ssw_q",
        round((dec(col("n_j")) * col("s_j") - col("t_j") * col("t_j")).cast("double") /
          col("n_j").cast("double")).cast("decimal(38,0)"))
      .withColumn("__d", (dec(col("nn")) * col("t_j") - dec(col("n_j")) * col("tt"))
        .cast("double"))
      .withColumn("ssb_q",
        round(col("__d") * col("__d") /
          (col("n_j").cast("double") * col("nn").cast("double") * col("nn").cast("double")))
          .cast("decimal(38,0)"))
    terms
      .groupBy(col("nn"), col("k"))
      .agg(sum(col("ssb_q")).as("__ssb"), sum(col("ssw_q")).as("__ssw"))
      .select(col("nn").as("n"), col("k"),
        (col("__ssb").cast("double") / 1e4).as("ss_between"),
        (col("__ssw").cast("double") / 1e4).as("ss_within"),
        ((col("__ssb").cast("double") / (col("k") - 1).cast("double")) /
          (col("__ssw").cast("double") / (col("nn") - col("k")).cast("double")))
          .as("f_stat"),
        (col("__ssb").cast("double") /
          (col("__ssb") + col("__ssw")).cast("double")).as("eta_sq"))
      .withColumn("significant", col("f_stat") >= anovaCrit)
  }

  val anovaOnewaySql: String =
    s"""WITH g AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_j,
       |    CAST(SUM(__x) AS HUGEINT) AS t_j, CAST(SUM(__x * __x) AS HUGEINT) AS s_j
       |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __x
       |        FROM events) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_j) AS HUGEINT) AS nn, SUM(t_j) AS tt,
       |    CAST(COUNT(*) AS BIGINT) AS k FROM g),
       |terms AS (
       |  SELECT nn, k,
       |    CAST(round(CAST(n_j * s_j - t_j * t_j AS DOUBLE)
       |      / CAST(n_j AS DOUBLE)) AS HUGEINT) AS ssw_q,
       |    CAST(round(CAST(nn * t_j - n_j * tt AS DOUBLE) * CAST(nn * t_j - n_j * tt AS DOUBLE)
       |      / (CAST(n_j AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))) AS HUGEINT)
       |      AS ssb_q
       |  FROM g, tot),
       |s AS (SELECT nn, k, SUM(ssb_q) AS ssb, SUM(ssw_q) AS ssw
       |  FROM terms GROUP BY 1, 2)
       |SELECT CAST(nn AS BIGINT) AS n, k,
       |  CAST(ssb AS DOUBLE) / 1e4 AS ss_between,
       |  CAST(ssw AS DOUBLE) / 1e4 AS ss_within,
       |  (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
       |    / (CAST(ssw AS DOUBLE) / CAST(nn - k AS DOUBLE)) AS f_stat,
       |  CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE) AS eta_sq,
       |  (CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
       |    / (CAST(ssw AS DOUBLE) / CAST(nn - k AS DOUBLE)) >= $anovaCrit AS significant
       |FROM s""".stripMargin

  // ---- kruskal_wallis: rank-based k-sample test with tie correction ----

  /** χ²(4) 0.95 critical value, driver-quantized literal. */
  val kwCrit = 9.487729

  /** Kruskal–Wallis H across event types on the 1e-2-quantized value
    * grid, with the tie-corrected statistic (heavy grid ties make the
    * correction material): H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1),
    * H_c = H/(1 − Σ(t³−t)/(N³−N)). Midranks come from the distributed
    * 2×-scaled prefix plan ([[valueMidranks2]]); per-group rank sums
    * are exact decimals (group counts × integer midranks), each R_j²/n_j
    * term is rounded to an integer before the k-row sum. Output is one
    * row per group (n, rank sum) carrying the shared H verdict columns.
    */
  def kruskalWallisQ(spark: SparkSession, dir: String): DataFrame = {
    val v2 = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val ev = Tables(spark, dir, "events").select(col("event_type"), v2.as("__v"))
    val mr = Memo(spark, dir, "wave10:valueMidranks")(
      valueMidranks2(Tables(spark, dir, "events"), v2))
    val cj = ev.groupBy(col("event_type"), col("__v")).agg(count(lit(1)).as("__c"))
      .join(mr.select(col("__v"), col("__mr2")), "__v")
      .groupBy(col("event_type"))
      .agg(sum(dec(col("__c"))).as("n_j_d"),
        sum(dec(col("__c")) * dec(col("__mr2"))).as("r2_j"))
      .withColumn("n_j", col("n_j_d").cast("bigint"))
    val tot = mr.agg(sum(dec(col("__t"))).as("nn_d"),
      sum(dec(col("__t")) * dec(col("__t")) * dec(col("__t")) - dec(col("__t")))
        .as("tie3"))
    val terms = cj.crossJoin(broadcast(tot))
      .withColumn("term_q",
        round((col("r2_j").cast("double") / 2.0) * (col("r2_j").cast("double") / 2.0) /
          col("n_j").cast("double")).cast("decimal(38,0)"))
    val h = terms
      .groupBy(col("nn_d"), col("tie3"))
      .agg(sum(col("term_q")).as("__st"))
      .withColumn("__n", col("nn_d").cast("double"))
      .select(col("nn_d"), col("tie3"),
        (lit(12.0) * col("__st").cast("double") / (col("__n") * (col("__n") + 1.0)) -
          lit(3.0) * (col("__n") + 1.0)).as("h"))
      .withColumn("h_tie_corrected",
        col("h") / (lit(1.0) - col("tie3").cast("double") /
          (col("nn_d") * col("nn_d") * col("nn_d") - col("nn_d")).cast("double")))
    cj.crossJoin(broadcast(h))
      .select(col("event_type"), col("n_j").as("n"),
        (col("r2_j").cast("double") / 2.0).as("rank_sum"),
        col("nn_d").cast("bigint").as("n_total"), col("h"), col("h_tie_corrected"),
        (col("h_tie_corrected") >= kwCrit).as("significant"))
      .orderBy(col("event_type"))
  }

  val kruskalWallisSql: String = {
    val mrSub = midranksSub("events", "CAST(floor(value * 100 + 0.5) AS BIGINT)")
    s"""WITH mr AS $mrSub,
       |cj AS (
       |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_j,
       |    CAST(SUM(CAST(c AS HUGEINT) * __mr2) AS HUGEINT) AS r2_j
       |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __v,
       |          CAST(COUNT(*) AS BIGINT) AS c
       |        FROM events GROUP BY 1, 2) e
       |  JOIN mr USING (__v) GROUP BY 1),
       |tot AS (SELECT CAST(SUM(__t) AS HUGEINT) AS nn,
       |    CAST(SUM(CAST(__t AS HUGEINT) * __t * __t - __t) AS HUGEINT) AS tie3
       |  FROM mr),
       |terms AS (SELECT cj.*, tot.nn, tot.tie3,
       |    CAST(round((CAST(r2_j AS DOUBLE) / 2.0) * (CAST(r2_j AS DOUBLE) / 2.0)
       |      / CAST(n_j AS DOUBLE)) AS HUGEINT) AS term_q
       |  FROM cj, tot),
       |h AS (SELECT nn, tie3,
       |    12.0 * CAST(SUM(term_q) AS DOUBLE) / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
       |      - 3.0 * (CAST(nn AS DOUBLE) + 1.0) AS h
       |  FROM terms GROUP BY 1, 2),
       |hc AS (SELECT nn, h,
       |    h / (1.0 - CAST(tie3 AS DOUBLE) / CAST(nn * nn * nn - nn AS DOUBLE))
       |      AS h_tie_corrected
       |  FROM h)
       |SELECT cj.event_type, cj.n_j AS n, CAST(cj.r2_j AS DOUBLE) / 2.0 AS rank_sum,
       |  CAST(hc.nn AS BIGINT) AS n_total, hc.h, hc.h_tie_corrected,
       |  hc.h_tie_corrected >= $kwCrit AS significant
       |FROM cj, hc ORDER BY event_type""".stripMargin
  }

  // ---- spearman_rho: rank correlation over lineitem measure pairs ----

  /** (pair label, x quantized expr, y quantized expr) on lineitem. */
  val spearmanPairs: Seq[(String, String, String)] = Seq(
    ("lineitem.l_quantity:l_extendedprice",
      "CAST(l_quantity AS BIGINT)",
      "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    ("lineitem.l_discount:l_tax",
      "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
      "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"))

  /** Spearman rank correlation: Pearson over midranks, ties as
    * half-ranks. Both columns' midrank maps come from the distributed
    * prefix plan (2×-scaled integers, so the scale cancels in ρ); every
    * row joins its two midranks (value-keyed joins against grid-bounded
    * maps) and one exact-decimal moment aggregate feeds the
    * `corr_matrix` covariance discipline — numerators exact until the
    * final cast, one √ per side.
    */
  def spearmanRhoQ(spark: SparkSession, dir: String): DataFrame =
    spearmanPairs.map { case (label, xe, ye) =>
      val li = Tables(spark, dir, "lineitem")
        .select(expr(xe).as("__x"), expr(ye).as("__y"))
      val mx = Memo(spark, dir, s"wave10:mr:$xe")(
        valueMidranks2(Tables(spark, dir, "lineitem"), expr(xe)))
        .select(col("__v").as("__x"), col("__mr2").as("__ra"))
      val my = Memo(spark, dir, s"wave10:mr:$ye")(
        valueMidranks2(Tables(spark, dir, "lineitem"), expr(ye)))
        .select(col("__v").as("__y"), col("__mr2").as("__rb"))
      val m = li.join(mx, "__x").join(my, "__y")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("__ra"))).as("sa"), sum(dec(col("__rb"))).as("sb"),
          sum(dec(col("__ra")) * dec(col("__ra"))).as("qa"),
          sum(dec(col("__rb")) * dec(col("__rb"))).as("qb"),
          sum(dec(col("__ra")) * dec(col("__rb"))).as("p"))
      def nd = dec(col("n"))
      m.select(lit(label).as("col_pair"), col("n"),
        ((nd * col("p") - col("sa") * col("sb")).cast("double") /
          (sqrt((nd * col("qa") - col("sa") * col("sa")).cast("double")) *
            sqrt((nd * col("qb") - col("sb") * col("sb")).cast("double")))).as("rho"))
    }.reduce(_.unionAll(_)).orderBy(col("col_pair"))

  val spearmanRhoSql: String =
    spearmanPairs.map { case (label, xe, ye) =>
      val mx = midranksSub("lineitem", xe)
      val my = midranksSub("lineitem", ye)
      s"""SELECT '$label' AS col_pair, n,
         |  CAST(CAST(n AS HUGEINT) * p - sa * sb AS DOUBLE)
         |    / (sqrt(CAST(CAST(n AS HUGEINT) * qa - sa * sa AS DOUBLE))
         |       * sqrt(CAST(CAST(n AS HUGEINT) * qb - sb * sb AS DOUBLE))) AS rho
         |FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(ra) AS HUGEINT) AS sa, CAST(SUM(rb) AS HUGEINT) AS sb,
         |    CAST(SUM(CAST(ra AS HUGEINT) * ra) AS HUGEINT) AS qa,
         |    CAST(SUM(CAST(rb AS HUGEINT) * rb) AS HUGEINT) AS qb,
         |    CAST(SUM(CAST(ra AS HUGEINT) * rb) AS HUGEINT) AS p
         |  FROM (
         |    SELECT mx.__mr2 AS ra, my.__mr2 AS rb
         |    FROM (SELECT $xe AS __x, $ye AS __y FROM lineitem) li
         |    JOIN $mx mx ON li.__x = mx.__v
         |    JOIN $my my ON li.__y = my.__v))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_pair")

  // ---- welch_ttest_pairs: pairwise Welch t-tests between sources ----

  /** Φ⁻¹(0.975), the large-sample two-sided 5% critical value. */
  val welchCrit = 1.959964

  /** Pairwise Welch (unequal-variance) t-tests on document length
    * (`n_chars`) between every source pair — the continuous-measure
    * companion to `prop_ztest_pairs`' rate test: t = (x̄₁−x̄₂)/√(v₁/n₁+v₂/n₂)
    * with Welch–Satterthwaite df. Per-source (n, Σx, Σx²) is one
    * memoized scan; the pair stage is ≤ #sources² rows with exact-decimal
    * sample variances ((nS−T²)/(n(n−1))) and ONE quantized √ per pair.
    */
  def welchTtestPairsQ(spark: SparkSession, dir: String): DataFrame = {
    val m = Memo(spark, dir, "wave10:srcLenMoments")(
      Tables(spark, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("n_chars"))).as("t"),
          sum(dec(col("n_chars") * col("n_chars"))).as("s")))
    def varOf(n: Column, t: Column, s: Column): Column =
      (dec(n) * s - t * t).cast("double") /
        (n.cast("double") * (n - 1).cast("double"))
    val a = m.select(col("source").as("src_a"), col("n").as("n1"),
      col("t").as("t1"), col("s").as("s1"))
    val b = m.select(col("source").as("src_b"), col("n").as("n2"),
      col("t").as("t2"), col("s").as("s2"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("v1n", varOf(col("n1"), col("t1"), col("s1")) / col("n1").cast("double"))
      .withColumn("v2n", varOf(col("n2"), col("t2"), col("s2")) / col("n2").cast("double"))
      .withColumn("se6",
        expr("CAST(round(1e6 * sqrt(v1n + v2n)) AS BIGINT)"))
      .select(col("src_a"), col("src_b"), col("n1"), col("n2"),
        (col("t1").cast("double") / col("n1").cast("double")).as("mean_a"),
        (col("t2").cast("double") / col("n2").cast("double")).as("mean_b"),
        ((col("t1").cast("double") / col("n1").cast("double") -
          col("t2").cast("double") / col("n2").cast("double")) * 1e6 /
          col("se6").cast("double")).as("t_stat"),
        ((col("v1n") + col("v2n")) * (col("v1n") + col("v2n")) /
          (col("v1n") * col("v1n") / (col("n1") - 1).cast("double") +
            col("v2n") * col("v2n") / (col("n2") - 1).cast("double"))).as("df_welch"))
      .withColumn("significant", abs(col("t_stat")) >= welchCrit)
      .orderBy(col("src_a"), col("src_b"))
  }

  val welchTtestPairsSql: String =
    s"""WITH m AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(n_chars) AS HUGEINT) AS t,
       |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s
       |  FROM documents GROUP BY 1),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    a.n AS n1, a.t AS t1, a.s AS s1, b.n AS n2, b.t AS t2, b.s AS s2
       |  FROM m a JOIN m b ON a.source < b.source),
       |v AS (SELECT *,
       |    CAST(n1 * s1 - t1 * t1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
       |      / CAST(n1 AS DOUBLE) AS v1n,
       |    CAST(n2 * s2 - t2 * t2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))
       |      / CAST(n2 AS DOUBLE) AS v2n
       |  FROM p),
       |se AS (SELECT *, CAST(round(1e6 * sqrt(v1n + v2n)) AS BIGINT) AS se6 FROM v)
       |SELECT src_a, src_b, n1, n2,
       |  CAST(t1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_a,
       |  CAST(t2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_b,
       |  (CAST(t1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       |    - CAST(t2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 1e6 / CAST(se6 AS DOUBLE) AS t_stat,
       |  (v1n + v2n) * (v1n + v2n)
       |    / (v1n * v1n / CAST(n1 - 1 AS DOUBLE) + v2n * v2n / CAST(n2 - 1 AS DOUBLE))
       |    AS df_welch,
       |  abs((CAST(t1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       |    - CAST(t2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 1e6 / CAST(se6 AS DOUBLE))
       |    >= $welchCrit AS significant
       |FROM se ORDER BY src_a, src_b""".stripMargin

  // ---- wander_join_est: random-walk join cardinality estimator ----

  val wjWalks = 1024L

  /** (spec label, predicate SQL over the c/o/l walk row). */
  val wjSpecs: Seq[(String, String)] = Seq(
    ("w1_qty", "l_quantity >= 45"),
    ("w2_urgent_disc", "o_orderpriority = '1-URGENT' AND l_discount >= 0.05"),
    ("w3_building_qty", "c_mktsegment = 'BUILDING' AND l_quantity >= 30"))

  /** Wander join (Li, Wu, Tan — SIGMOD'16 online aggregation): estimate
    * |customer ⨝ orders ⨝ lineitem ⋈ pred| by seeded random walks down
    * the FK path. Walk i picks a uniform customer (via the distributed
    * dictionary rank — no dense-key assumption), a uniform order of
    * that customer, a uniform lineitem of that order; its Horvitz–
    * Thompson weight n_cust·deg_o·deg_l times the predicate indicator
    * is an unbiased sample of the filtered join size. All picks are
    * md5-seeded integers, so the stochastic operator itself
    * hash-matches the oracle; walks are one 1024-row frame flowing
    * through two keyed joins — no driver loop, no full join
    * materialization (the point of wander join at 100 TB).
    */
  def wanderJoinEstQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Memo(spark, dir, "wave10:custRanked")(
      Tables(spark, dir, "customer")
        .join(operators.Encoding.dictionary(Tables(spark, dir, "customer"), "c_custkey")
          .select(col("c_custkey").as("__dv"), (col("code") - 2).cast("long").as("rank0")),
          col("c_custkey") === col("__dv"))
        .drop("__dv"))
    val nCust = Memo(spark, dir, "wave10:nCust")(
      Tables(spark, dir, "customer").agg(count(lit(1)).as("n_cust")))
    val ord = Memo(spark, dir, "wave10:ordersRanked") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
      Tables(spark, dir, "orders")
        .withColumn("o_rn0", row_number().over(w.orderBy(col("o_orderkey"))).cast("long") - 1)
        .withColumn("o_deg", count(lit(1)).over(w))
    }
    val li = Memo(spark, dir, "wave10:lineitemRanked") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
      Tables(spark, dir, "lineitem")
        .withColumn("l_rn0",
          row_number().over(w.orderBy(col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"))).cast("long") - 1)
        .withColumn("l_deg", count(lit(1)).over(w))
    }
    def h(seed: Column): Column =
      conv(substring(md5(seed), 1, 13), 16, 10).cast("long")
    val truth = Memo(spark, dir, "wave10:wjTruth")(
      Tables(spark, dir, "customer")
        .join(Tables(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(Tables(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .agg(wjSpecs.map { case (label, pred) =>
          sum(when(expr(pred), 1L).otherwise(0L)).as(s"__t_$label")
        }.head, wjSpecs.tail.map { case (label, pred) =>
          sum(when(expr(pred), 1L).otherwise(0L)).as(s"__t_$label")
        }: _*))
    wjSpecs.map { case (label, pred) =>
      val walks = spark.range(wjWalks).select(col("id").as("__w"))
        .crossJoin(broadcast(nCust))
        .withColumn("rank0", pmod(h(concat(lit(s"wj:$label:c:"), col("__w"))), col("n_cust")))
      val wc = walks.join(cust, "rank0")
      val wo = wc.join(ord, col("c_custkey") === col("o_custkey"))
        .filter(col("o_rn0") ===
          pmod(h(concat(lit(s"wj:$label:o:"), col("__w"))), col("o_deg")))
      val wl = wo.join(li, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_rn0") ===
          pmod(h(concat(lit(s"wj:$label:l:"), col("__w"))), col("l_deg")))
      val est = wl.agg(
        coalesce(sum(when(expr(pred),
          dec(col("n_cust")) * dec(col("o_deg")) * dec(col("l_deg")))
          .otherwise(dec(lit(0)))), dec(lit(0))).as("__s"))
        .select((col("__s").cast("double") / wjWalks.toDouble).as("est"))
      est.crossJoin(broadcast(truth.select(col(s"__t_$label").as("true_card"))))
        .select(lit(label).as("spec"), lit(wjWalks).as("n_walks"),
          col("est"), col("true_card"),
          (greatest(col("est"), col("true_card").cast("double")) /
            greatest(least(col("est"), col("true_card").cast("double")), lit(1.0)))
            .as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("spec"))
  }

  val wanderJoinEstSql: String = {
    def h(seed: String) = s"CAST(('0x' || substr(md5($seed), 1, 13)) AS BIGINT)"
    wjSpecs.map { case (label, pred) =>
      s"""SELECT '$label' AS spec, CAST($wjWalks AS BIGINT) AS n_walks,
         |  CAST(e.s AS DOUBLE) / $wjWalks.0 AS est, t.true_card,
         |  GREATEST(CAST(e.s AS DOUBLE) / $wjWalks.0, CAST(t.true_card AS DOUBLE))
         |    / GREATEST(LEAST(CAST(e.s AS DOUBLE) / $wjWalks.0,
         |        CAST(t.true_card AS DOUBLE)), 1.0) AS q_err
         |FROM (
         |  SELECT COALESCE(SUM(CASE WHEN $pred
         |      THEN CAST(nc.n_cust AS HUGEINT) * o.o_deg * l.l_deg
         |      ELSE CAST(0 AS HUGEINT) END), CAST(0 AS HUGEINT)) AS s
         |  FROM (SELECT w.range AS __w,
         |          ${h(s"'wj:$label:c:' || CAST(w.range AS VARCHAR)")} % nc2.n_cust AS rank0
         |        FROM range($wjWalks) w,
         |          (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer) nc2) wk
         |  JOIN (SELECT *, ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rank0
         |        FROM customer) c USING (rank0)
         |  JOIN (SELECT *,
         |          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS o_rn0,
         |          CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS o_deg
         |        FROM orders) o
         |    ON o.o_custkey = c.c_custkey
         |      AND o.o_rn0 = ${h(s"'wj:$label:o:' || CAST(wk.__w AS VARCHAR)")} % o.o_deg
         |  JOIN (SELECT *,
         |          ROW_NUMBER() OVER (PARTITION BY l_orderkey
         |            ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) - 1 AS l_rn0,
         |          CAST(COUNT(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS l_deg
         |        FROM lineitem) l
         |    ON l.l_orderkey = o.o_orderkey
         |      AND l.l_rn0 = ${h(s"'wj:$label:l:' || CAST(wk.__w AS VARCHAR)")} % l.l_deg,
         |  (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer) nc) e,
         |  (SELECT CAST(COUNT(*) AS BIGINT) AS true_card
         |   FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |   JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |   WHERE $pred) t""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY spec")
  }

  // ---- t_closeness_audit: ordered-EMD release gate ----

  val tCloseBuckets = 10L
  /** Release threshold t₀ = 1/5 as an exact rational (num/den). */
  val tCloseNum = 1L
  val tCloseDen = 5L

  /** t-closeness audit (Li, Li, Venkatasubramanian ICDE'07) over the
    * k-anonymity scaffold's coarser QI tuple (nation, segment): the
    * sensitive attribute (account balance, cents grid, 10 equi-width
    * bins from broadcast global min/max) must be distributed within
    * every QI group close to its global distribution. For an ORDERED
    * attribute EMD is the mean absolute prefix gap:
    * EMD_g = Σ_k |Σ_{j≤k}(c_j·N − C_j·n_g)| / (n_g·N·(m−1)) — the
    * inner sums stay exact integers (the dense group×bin frame is a
    * window over 10 rows per group), one double division per group at
    * the end, and the pass flag is the exact cross-multiplied
    * comparison against t₀ = 1/5.
    */
  def tClosenessAuditQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)")
    val cust = Tables(spark, dir, "customer")
      .select(concat_ws("|", col("c_nationkey").cast("string"), col("c_mktsegment"))
        .as("combo"), cents.as("__c"))
    val mm = Memo(spark, dir, "wave10:acctbalRange")(
      cust.agg(min(col("__c")).as("lo"), max(col("__c")).as("hi"),
        count(lit(1)).as("nn")))
    val binned = cust.crossJoin(broadcast(mm))
      .withColumn("b",
        least(expr(s"CAST((__c - lo) * $tCloseBuckets DIV (hi - lo + 1) AS BIGINT)"),
          lit(tCloseBuckets - 1)))
    val byGroup = binned.groupBy(col("combo"), col("b")).agg(count(lit(1)).as("c"))
    val global = Memo(spark, dir, "wave10:acctbalGlobalBins")(
      binned.groupBy(col("b")).agg(count(lit(1)).as("cg")))
    val groups = byGroup.groupBy(col("combo")).agg(sum(col("c")).as("n_g"))
    val bins = (0L until tCloseBuckets).toDF("b")
    val dense = groups.crossJoin(broadcast(bins))
      .join(byGroup, Seq("combo", "b"), "left_outer")
      .join(broadcast(global), Seq("b"), "left_outer")
      .crossJoin(broadcast(mm.select(col("nn"))))
      .withColumn("diff",
        dec(coalesce(col("c"), lit(0L))) * dec(col("nn")) -
          dec(coalesce(col("cg"), lit(0L))) * dec(col("n_g")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("combo")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dense
      .withColumn("pre", sum(col("diff")).over(w))
      .filter(col("b") < tCloseBuckets - 1)
      .groupBy(col("combo"), col("n_g"), col("nn"))
      .agg(sum(abs(col("pre"))).as("__sa"))
      .select(col("combo"), col("n_g").cast("bigint").as("n"),
        (col("__sa").cast("double") /
          (col("n_g") * dec(col("nn")) * dec(lit(tCloseBuckets - 1))).cast("double"))
          .as("emd"),
        (col("__sa") * dec(lit(tCloseDen)) <=
          col("n_g") * dec(col("nn")) * dec(lit(tCloseBuckets - 1)) * dec(lit(tCloseNum)))
          .as("pass"))
      .orderBy(col("combo"))
  }

  val tClosenessAuditSql: String =
    s"""WITH cu AS (
       |  SELECT CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS combo,
       |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS __c
       |  FROM customer),
       |mm AS (SELECT MIN(__c) AS lo, MAX(__c) AS hi, CAST(COUNT(*) AS BIGINT) AS nn FROM cu),
       |binned AS (SELECT combo,
       |    LEAST((__c - lo) * $tCloseBuckets // (hi - lo + 1), ${tCloseBuckets - 1}) AS b
       |  FROM cu, mm),
       |bg AS (SELECT combo, b, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY 1, 2),
       |gl AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cg FROM binned GROUP BY 1),
       |gr AS (SELECT combo, CAST(SUM(c) AS BIGINT) AS n_g FROM bg GROUP BY 1),
       |dense AS (
       |  SELECT gr.combo, gr.n_g, bins.b, mm.nn,
       |    CAST(COALESCE(bg.c, 0) AS HUGEINT) * mm.nn
       |      - CAST(COALESCE(gl.cg, 0) AS HUGEINT) * gr.n_g AS diff
       |  FROM gr CROSS JOIN (SELECT range AS b FROM range($tCloseBuckets)) bins
       |  LEFT JOIN bg ON bg.combo = gr.combo AND bg.b = bins.b
       |  LEFT JOIN gl ON gl.b = bins.b, mm),
       |pre AS (SELECT combo, n_g, nn, b,
       |    SUM(diff) OVER (PARTITION BY combo ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
       |  FROM dense),
       |agg AS (SELECT combo, n_g, nn, SUM(ABS(pre)) AS sa
       |  FROM pre WHERE b < ${tCloseBuckets - 1} GROUP BY 1, 2, 3)
       |SELECT combo, n_g AS n,
       |  CAST(sa AS DOUBLE)
       |    / CAST(CAST(n_g AS HUGEINT) * nn * ${tCloseBuckets - 1} AS DOUBLE) AS emd,
       |  sa * $tCloseDen <= CAST(n_g AS HUGEINT) * nn * ${tCloseBuckets - 1} * $tCloseNum
       |    AS pass
       |FROM agg ORDER BY combo""".stripMargin

  // ---- woe_iv: weight-of-evidence / information-value screen ----

  /** Weight of evidence of `source` predicting the curation pass flag,
    * with half-count (Yates) smoothing so empty cells stay finite:
    * WoE_j = ln(((2g_j+1)(2B+S)) / ((2b_j+1)(2G+S))), IV = Σ(g_j/G −
    * b_j/B)·WoE_j — the credit-scoring feature screen, here grading
    * how much a source label tells the curation gate. Reads the
    * memoized per-source (n, k) pass-rate frame (one corpus scan,
    * shared with `prop_ztest_pairs`); each ln is quantized to 1e-6 and
    * each IV term to 1e-12 before the ≤#sources-row sums.
    */
  def woeIvQ(spark: SparkSession, dir: String): DataFrame = {
    val rates = SharedFrames.srcPassRates(spark, dir)
    val tot = rates.agg(sum(col("k")).as("gg"), sum(col("n") - col("k")).as("bb"),
      count(lit(1)).as("s"))
    val terms = rates.crossJoin(broadcast(tot))
      .withColumn("good", col("k"))
      .withColumn("bad", col("n") - col("k"))
      .withColumn("woe6", expr(
        """CAST(round(1e6 * ln(
          |  CAST((2 * good + 1) AS DOUBLE) * (2 * bb + s)
          |  / (CAST((2 * bad + 1) AS DOUBLE) * (2 * gg + s)))) AS BIGINT)""".stripMargin))
      .withColumn("term12", expr(
        """CAST(round(1e12
          |  * (CAST(good * bb - bad * gg AS DOUBLE) / (CAST(gg AS DOUBLE) * bb))
          |  * (CAST(woe6 AS DOUBLE) / 1e6)) AS BIGINT)""".stripMargin))
    val iv = terms.agg(sum(col("term12")).as("iv12"))
    terms.crossJoin(broadcast(iv))
      .select(col("source"), col("n"), col("good"), col("bad"),
        (col("woe6").cast("double") / 1e6).as("woe"),
        (col("term12").cast("double") / 1e12).as("iv_contrib"),
        (col("iv12").cast("double") / 1e12).as("iv_total"))
      .orderBy(col("source"))
  }

  val woeIvSql: String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |kept AS (
       |  SELECT w.doc_id, d.source,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id)),
       |rates AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM kept GROUP BY 1),
       |tot AS (SELECT CAST(SUM(k) AS BIGINT) AS gg, CAST(SUM(n - k) AS BIGINT) AS bb,
       |    CAST(COUNT(*) AS BIGINT) AS s FROM rates),
       |terms AS (
       |  SELECT source, n, k AS good, n - k AS bad, gg, bb, s,
       |    CAST(round(1e6 * ln(
       |      CAST((2 * k + 1) AS DOUBLE) * (2 * bb + s)
       |      / (CAST((2 * (n - k) + 1) AS DOUBLE) * (2 * gg + s)))) AS BIGINT) AS woe6
       |  FROM rates, tot),
       |t2 AS (SELECT *,
       |    CAST(round(1e12
       |      * (CAST(good * bb - bad * gg AS DOUBLE) / (CAST(gg AS DOUBLE) * bb))
       |      * (CAST(woe6 AS DOUBLE) / 1e6)) AS BIGINT) AS term12
       |  FROM terms),
       |iv AS (SELECT CAST(SUM(term12) AS BIGINT) AS iv12 FROM t2)
       |SELECT source, n, good, bad, CAST(woe6 AS DOUBLE) / 1e6 AS woe,
       |  CAST(term12 AS DOUBLE) / 1e12 AS iv_contrib,
       |  CAST(iv.iv12 AS DOUBLE) / 1e12 AS iv_total
       |FROM t2, iv ORDER BY source""".stripMargin
  }

  // ---- adamic_adar: common-neighbor link prediction scores ----

  /** The "significant trade lanes" subgraph: symmetric nation-pair
    * weights, kept iff STRICTLY above the mean pair weight (exact
    * cross-multiplied comparison s·|pairs| > Σs — no float threshold).
    * The raw customer↔supplier nation graph saturates into a complete
    * graph as data grows (every nation eventually trades with every
    * other), which degenerates link prediction and assortativity; the
    * above-mean filter keeps the heavy lanes at every scale and is
    * computable with one tiny aggregate over the ≤|V|² pair frame.
    * Returned directed-both-ways.
    */
  private def sigLanes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave10:sigLanes") {
      val e = SharedFrames.nationEdges(spark, dir)
      val sym = e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).cast("long").as("a"),
          greatest(col("u"), col("v")).cast("long").as("b"), col("w"))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("s"))
      val tot = sym.agg(count(lit(1)).as("np"), sum(col("s")).as("ts"))
      val kept = sym.crossJoin(broadcast(tot))
        .filter(dec(col("s")) * dec(col("np")) > dec(col("ts")))
        .select(col("a"), col("b"))
      kept.unionAll(kept.select(col("b").as("a"), col("a").as("b")))
    }

  /** The same subgraph as a DuckDB CTE chain ending in `und(a, b)`. */
  private val sigLanesCte: String =
    """e AS (
      |  SELECT c.c_nationkey AS u, s.s_nationkey AS v, CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |sym AS (
      |  SELECT CAST(LEAST(u, v) AS BIGINT) AS a, CAST(GREATEST(u, v) AS BIGINT) AS b,
      |    CAST(SUM(w) AS BIGINT) AS s
      |  FROM e WHERE u != v GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np, CAST(SUM(s) AS BIGINT) AS ts FROM sym),
      |kept AS (SELECT a, b FROM sym, tot WHERE CAST(s AS HUGEINT) * np > CAST(ts AS HUGEINT)),
      |und AS (SELECT a, b FROM kept UNION ALL SELECT b AS a, a AS b FROM kept)""".stripMargin

  /** Test hook: the significant-lane edge frame (directed both ways). */
  private[graft] def sigLanesForTest(spark: SparkSession, dir: String): DataFrame =
    sigLanes(spark, dir)

  /** Adamic–Adar link prediction on the significant-lane trade graph:
    * for every NON-adjacent pair, AA(u,v) = Σ_{w∈N(u)∩N(v)} 1/ln(deg w)
    * — the classic "which trade lanes are likely to open next" score,
    * run on [[sigLanes]] (the raw graph saturates complete, leaving no
    * pairs to predict). Each common-neighbor weight is one quantized
    * reciprocal-ln integer (a common neighbor always has degree ≥ 2,
    * so ln > 0), summed exactly. Edge-list joins only; ≤ |V|² pairs.
    */
  def adamicAdarQ(spark: SparkSession, dir: String): DataFrame = {
    val und = sigLanes(spark, dir)
    // Common-neighbor pairs from per-wnode neighbor LISTS instead of
    // the wnode self-join: one groupBy collects the (degree-bounded)
    // sorted neighbor list AND the degree — the w6 weight needs no
    // separate aggregate + broadcast join, and the pair frame crosses
    // one exchange instead of two join shuffles. The sorted list's
    // ordered-pair expansion with the same strict u < v filter emits
    // the identical pair multiset (duplicates included) as the join.
    // Degree-1 wnodes expand to zero pairs, exactly like the old
    // deg > 1 inner join.
    val pairs = und.groupBy(col("b"))
      .agg(sort_array(collect_list(col("a"))).as("__ns"), count(lit(1)).as("degw"))
      .filter(col("degw") > 1)
      .select(
        expr("CAST(round(1e6 / ln(CAST(degw AS DOUBLE))) AS BIGINT)").as("w6"),
        explode(expr(
          "flatten(transform(__ns, (x, i) -> " +
            "transform(slice(__ns, i + 2, size(__ns)), y -> struct(x AS u, y AS v))))"))
          .as("__p"))
      .filter(col("__p.u") < col("__p.v"))
      .groupBy(col("__p.u").as("u"), col("__p.v").as("v"))
      .agg(count(lit(1)).as("common_cnt"), sum(col("w6")).as("score6"))
    pairs
      .join(und.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("common_cnt"),
        (col("score6").cast("double") / 1e6).as("aa_score"))
      .orderBy(col("u"), col("v"))
  }

  val adamicAdarSql: String =
    s"""WITH $sigLanesCte,
      |deg AS (SELECT b AS wnode, CAST(COUNT(*) AS BIGINT) AS degw,
      |    CAST(round(1e6 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w6
      |  FROM und GROUP BY 1 HAVING COUNT(*) > 1),
      |pairs AS (
      |  SELECT e1.a AS u, e2.a AS v, CAST(COUNT(*) AS BIGINT) AS common_cnt,
      |    CAST(SUM(deg.w6) AS BIGINT) AS score6
      |  FROM und e1 JOIN und e2 ON e1.b = e2.b AND e1.a < e2.a
      |  JOIN deg ON deg.wnode = e1.b
      |  GROUP BY 1, 2)
      |SELECT p.u, p.v, p.common_cnt, CAST(p.score6 AS DOUBLE) / 1e6 AS aa_score
      |FROM pairs p
      |ANTI JOIN und ON und.a = p.u AND und.b = p.v
      |ORDER BY u, v""".stripMargin

  // ---- graph_assortativity: degree assortativity coefficient ----

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees over the directed-both-ways edge list of the
    * significant-lane trade graph — positive means hubs trade with
    * hubs (the raw graph is complete and degree-regular, which leaves
    * the coefficient undefined, hence [[sigLanes]]). Exact integer
    * moments over the edge list (the `corr_matrix` covariance
    * discipline), degrees from one edge-list aggregate; everything
    * after the memoized edge frame touches ≤ |E| rows.
    */
  def graphAssortativityQ(spark: SparkSession, dir: String): DataFrame = {
    val und = sigLanes(spark, dir)
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val m = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("da"))).as("sa"), sum(dec(col("db"))).as("sb"),
        sum(dec(col("da")) * dec(col("da"))).as("qa"),
        sum(dec(col("db")) * dec(col("db"))).as("qb"),
        sum(dec(col("da")) * dec(col("db"))).as("p"))
    def nd = dec(col("n"))
    m.select(col("n").as("n_directed_edges"),
      ((nd * col("p") - col("sa") * col("sb")).cast("double") /
        (sqrt((nd * col("qa") - col("sa") * col("sa")).cast("double")) *
          sqrt((nd * col("qb") - col("sb") * col("sb")).cast("double"))))
        .as("assortativity"))
  }

  val graphAssortativitySql: String =
    s"""WITH $sigLanesCte,
      |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
      |m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x.d) AS HUGEINT) AS sa, CAST(SUM(y.d) AS HUGEINT) AS sb,
      |    CAST(SUM(CAST(x.d AS HUGEINT) * x.d) AS HUGEINT) AS qa,
      |    CAST(SUM(CAST(y.d AS HUGEINT) * y.d) AS HUGEINT) AS qb,
      |    CAST(SUM(CAST(x.d AS HUGEINT) * y.d) AS HUGEINT) AS p
      |  FROM und JOIN deg x ON x.node = und.a JOIN deg y ON y.node = und.b)
      |SELECT n AS n_directed_edges,
      |  CAST(CAST(n AS HUGEINT) * p - sa * sb AS DOUBLE)
      |    / (sqrt(CAST(CAST(n AS HUGEINT) * qa - sa * sa AS DOUBLE))
      |       * sqrt(CAST(CAST(n AS HUGEINT) * qb - sb * sb AS DOUBLE))) AS assortativity
      |FROM m""".stripMargin

  // ---- approx_quantile_check: sketch-quantile rank-error verdict ----

  /** (measure label, table, value SQL expr) audited by the check. */
  val aqMeasures: Seq[(String, String, String)] = Seq(
    ("lineitem.l_extendedprice", "lineitem", "l_extendedprice"),
    ("orders.o_totalprice", "orders", "o_totalprice"),
    ("events.value", "events", "value"))
  val aqPcts: Seq[Double] = Seq(0.5, 0.9, 0.99)
  val aqAccuracy = 1000L

  /** Bounded-error verdict for Spark's `approx_percentile` (the
    * Greenwald–Khanna-family sketch a 100 TB profiler actually serves
    * quantiles from): for each percentile p the sketch value must sit
    * at an exact rank inside [⌊(p−ε)n⌋, ⌈(p+ε)n⌉], ε = 1/accuracy —
    * the sketch's own contract. The registers aren't engine-portable
    * but the contract is (the `hll_ndv` grading), so the oracle
    * re-derives n and asserts ok = TRUE. One sketch pass plus one
    * conditional-count pass per measure.
    */
  def approxQuantileCheckQ(spark: SparkSession, dir: String): DataFrame =
    aqMeasures.map { case (label, t, ve) =>
      val df = Tables(spark, dir, t).select(expr(ve).as("__x")).na.drop()
      val approx = df.agg(
        expr(s"approx_percentile(__x, array(${aqPcts.mkString(",")}), $aqAccuracy)")
          .as("__qs"),
        count(lit(1)).as("n"))
      val probes = approx.select(col("n"),
        posexplode(col("__qs")).as(Seq("__i", "__q")))
      val ranks = probes.crossJoin(df)
        .groupBy(col("__i"), col("__q"), col("n"))
        .agg(sum(when(col("__x") < col("__q"), 1L).otherwise(0L)).as("__below"),
          sum(when(col("__x") <= col("__q"), 1L).otherwise(0L)).as("__upto"))
      val pcts = {
        import spark.implicits._
        aqPcts.zipWithIndex.map { case (p, i) => (i, p) }.toDF("__i", "pct")
      }
      ranks.join(broadcast(pcts), "__i")
        .select(lit(label).as("measure"), col("pct"), col("n"),
          (col("__below").cast("double") <=
            ceil((col("pct") + lit(1.0 / aqAccuracy)) * col("n")) &&
            col("__upto").cast("double") >=
              floor((col("pct") - lit(1.0 / aqAccuracy)) * col("n"))).as("ok"))
    }.reduce(_.unionAll(_)).orderBy(col("measure"), col("pct"))

  val approxQuantileCheckSql: String =
    aqMeasures.flatMap { case (label, t, ve) =>
      aqPcts.map { p =>
        s"""SELECT '$label' AS measure, CAST($p AS DOUBLE) AS pct,
           |  CAST(COUNT(*) AS BIGINT) AS n, TRUE AS ok
           |FROM $t WHERE $ve IS NOT NULL""".stripMargin
      }
    }.mkString("", "\nUNION ALL\n", "\nORDER BY measure, pct")

  // ---- markov_entropy_rate: conditional entropy of the event chain ----

  /** Empirical entropy rate of the per-user event-type Markov chain:
    * H(next|cur) = Σ_s π̂_s H_s with H_s = Σ_t (c_st/c_s)·ln(c_s/c_st)
    * and π̂_s = c_s/C — how predictable the NEXT event is given the
    * current one, the sequence-compressibility number that prices
    * next-event-prediction features (0 = deterministic funnel, ln k =
    * uniform noise). Transition counts are one windowed scan (the
    * `markov_transitions` shape); each ln of an exact count ratio is
    * quantized to 1e-6 and weighted by integer counts, so the k²-row
    * tail is exact-integer arithmetic.
    */
  def markovEntropyRateQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wl = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Memo(spark, dir, "wave10:markovCounts")(
      Tables(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(wl).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("cst")))
    val rows = trans
      .withColumn("cs", sum(col("cst")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ln6", expr(
        "CAST(round(1e6 * ln(CAST(cs AS DOUBLE) / CAST(cst AS DOUBLE))) AS BIGINT)"))
    val perState = rows.groupBy(col("event_type"))
      .agg(max(col("cs")).as("cs"), sum(col("cst") * col("ln6")).as("hs6w"))
    val tot = perState.agg(sum(col("cs")).as("cc"), sum(col("hs6w")).as("hr6w"))
    perState.crossJoin(broadcast(tot))
      .select(col("event_type"), col("cs").as("n_out"),
        (col("cs").cast("double") / col("cc").cast("double")).as("pi_hat"),
        (col("hs6w").cast("double") / (col("cs").cast("double") * 1e6)).as("h_state"),
        (col("hr6w").cast("double") / (col("cc").cast("double") * 1e6)).as("h_rate"))
      .orderBy(col("event_type"))
  }

  val markovEntropyRateSql: String =
    """WITH s AS (SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS cst
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT event_type, cst,
      |    CAST(SUM(cst) OVER (PARTITION BY event_type) AS BIGINT) AS cs
      |  FROM tr),
      |r2 AS (SELECT *,
      |    CAST(round(1e6 * ln(CAST(cs AS DOUBLE) / CAST(cst AS DOUBLE))) AS BIGINT) AS ln6
      |  FROM r),
      |ps AS (SELECT event_type, MAX(cs) AS cs, CAST(SUM(cst * ln6) AS BIGINT) AS hs6w
      |  FROM r2 GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS cc, CAST(SUM(hs6w) AS BIGINT) AS hr6w FROM ps)
      |SELECT event_type, cs AS n_out,
      |  CAST(cs AS DOUBLE) / CAST(cc AS DOUBLE) AS pi_hat,
      |  CAST(hs6w AS DOUBLE) / (CAST(cs AS DOUBLE) * 1e6) AS h_state,
      |  CAST(hr6w AS DOUBLE) / (CAST(cc AS DOUBLE) * 1e6) AS h_rate
      |FROM ps, tot ORDER BY event_type""".stripMargin

  // ---- target_encode_audit: leave-one-out encoding audit ----

  /** Leave-one-out target encoding audit of event_type → value (cents
    * grid): enc_i = (T_g − x_i)/(n_g − 1), the leakage-free categorical
    * encoding. The audit reports the per-group encoding envelope
    * (min/max over the group = (T−max x)/(n−1) and (T−min x)/(n−1) —
    * order-statistics, no per-row output ships) plus the mean identity
    * E[enc] = x̄_g that makes LOO encoding unbiased, and the global
    * prior an encoder would blend toward. One keyed aggregate; all
    * rationals of exact integers.
    */
  def targetEncodeAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val v2 = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val g = Tables(spark, dir, "events")
      .select(col("event_type"), v2.as("__x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("__x"))).as("t"),
        min(col("__x")).as("xmin"), max(col("__x")).as("xmax"))
    val tot = g.agg(sum(col("t")).as("tt"), sum(col("n")).as("nn"))
    g.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n"),
        (col("t").cast("double") / (col("n").cast("double") * 100.0)).as("mean_value"),
        ((col("t") - dec(col("xmax"))).cast("double") /
          ((col("n") - 1).cast("double") * 100.0)).as("loo_min"),
        ((col("t") - dec(col("xmin"))).cast("double") /
          ((col("n") - 1).cast("double") * 100.0)).as("loo_max"),
        (col("tt").cast("double") / (col("nn").cast("double") * 100.0)).as("global_mean"))
      .orderBy(col("event_type"))
  }

  val targetEncodeAuditSql: String =
    """WITH g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(__x) AS HUGEINT) AS t,
      |    MIN(__x) AS xmin, MAX(__x) AS xmax
      |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __x
      |        FROM events) GROUP BY 1),
      |tot AS (SELECT CAST(SUM(t) AS HUGEINT) AS tt, CAST(SUM(n) AS BIGINT) AS nn FROM g)
      |SELECT event_type, n,
      |  CAST(t AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean_value,
      |  CAST(t - xmax AS DOUBLE) / (CAST(n - 1 AS DOUBLE) * 100.0) AS loo_min,
      |  CAST(t - xmin AS DOUBLE) / (CAST(n - 1 AS DOUBLE) * 100.0) AS loo_max,
      |  CAST(tt AS DOUBLE) / (CAST(nn AS DOUBLE) * 100.0) AS global_mean
      |FROM g, tot ORDER BY event_type""".stripMargin

  // ---- feature_hash_collisions: hashing-trick collision audit ----

  val fhBuckets = 1024L

  /** Collision audit of the hashing trick (feature hashing à la Vowpal
    * Wabbit) at 1024 buckets over the corpus vocabulary: distinct terms
    * per bucket (md5 % m — the portable hash family every sketch here
    * uses), bucket occupancy, max bucket load, and the collided-term
    * share 1 − used/ndv — the number that decides whether 2^b hash
    * features lose signal at this vocabulary size. One distinct-term
    * aggregate (vocabulary-bounded, not corpus-bounded) plus a
    * ≤m-row bucket frame.
    */
  def featureHashCollisionsQ(spark: SparkSession, dir: String): DataFrame = {
    val terms = QueriesText.toks(spark, dir)
      .select(explode(col("__ws")).as("term")).distinct()
      .withColumn("b",
        pmod(conv(substring(md5(concat(lit("fh:"), col("term"))), 1, 13), 16, 10)
          .cast("long"), lit(fhBuckets)))
    val buckets = terms.groupBy(col("b")).agg(count(lit(1)).as("terms_in_bucket"))
    buckets.agg(
      sum(col("terms_in_bucket")).as("vocab_size"),
      count(lit(1)).as("buckets_used"),
      max(col("terms_in_bucket")).as("max_bucket_load"),
      sum(when(col("terms_in_bucket") > 1, col("terms_in_bucket") - 1).otherwise(0L))
        .as("collided_terms"))
      .select(col("vocab_size"), col("buckets_used"), lit(fhBuckets).as("n_buckets"),
        col("max_bucket_load"), col("collided_terms"),
        (col("collided_terms").cast("double") / col("vocab_size").cast("double"))
          .as("collision_share"))
  }

  val featureHashCollisionsSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |terms AS (SELECT DISTINCT unnest(ws) AS term FROM w),
       |tb AS (SELECT term,
       |    CAST(('0x' || substr(md5('fh:' || term), 1, 13)) AS BIGINT) % $fhBuckets AS b
       |  FROM terms),
       |buckets AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM tb GROUP BY 1)
       |SELECT CAST(SUM(c) AS BIGINT) AS vocab_size,
       |  CAST(COUNT(*) AS BIGINT) AS buckets_used,
       |  CAST($fhBuckets AS BIGINT) AS n_buckets,
       |  CAST(MAX(c) AS BIGINT) AS max_bucket_load,
       |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS collided_terms,
       |  CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(c) AS DOUBLE) AS collision_share
       |FROM buckets""".stripMargin

  // ---- mmr_rerank: maximal-marginal-relevance diversity top-k ----

  val mmrPool = 20
  val mmrK = 5
  val mmrLambda = 0.7

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein '98)
    * of the similarity pool for probe vector 0: greedily pick
    * argmax λ·rel(d) − (1−λ)·max_{s∈Sel} sim(d,s) for k rounds — the
    * diversity-aware top-k every retrieval-augmented pipeline runs on
    * its ANN candidates. Scale shape: the O(n²) pairwise-similarity
    * stage runs on the BOUNDED candidate pool (20 rows → 400 sims, all
    * exact quantized dots), never the corpus; each greedy round is one
    * aggregate + one deterministic top-1 over ≤pool rows, memoized so
    * the unrolled plan stays flat (the pagerank iterate discipline).
    */
  def mmrRerankQ(spark: SparkSession, dir: String): DataFrame = {
    functions.GraftFunctions.register(spark)
    import spark.implicits._
    // Literal checkpoints (the kcore/salsa discipline): pool and sims
    // are ≤20 / ≤400 bounded rows, but their lazy plans nest the whole
    // brute-force topk scan — replanning that per greedy round cost
    // 2.5 s/query steady-state at sf0.1. Collect once per session.
    val pool = Memo(spark, dir, "wave10:mmrPool")(
      operators.Similarity
        .cosineTopK(Tables(spark, dir, "embeddings"), col("vec_id") === 0L, mmrPool)
        .select(col("cand_id"), col("cos"))
        .as[(Long, Double)].collect().toSeq.toDF("cand_id", "cos"))
    val sims = Memo(spark, dir, "wave10:mmrSims") {
      val q = Tables(spark, dir, "embeddings")
        .join(pool.select(col("cand_id").as("vec_id")), "vec_id")
        .select(col("vec_id"), operators.Similarity.quantExpr.as("qv"))
        .withColumn("nn", expr("quantized_dot(qv, qv)"))
      val l = q.select(col("vec_id").as("a"), col("qv").as("av"), col("nn").as("na"))
      val r = q.select(col("vec_id").as("b"), col("qv").as("bv"), col("nn").as("nb"))
      l.join(r, col("a") =!= col("b"))
        .select(col("a"), col("b"),
          (expr("quantized_dot(av, bv)").cast("double") /
            sqrt(col("na").cast("double")) / sqrt(col("nb").cast("double"))).as("sim"))
        .as[(Long, Long, Double)].collect().toSeq.toDF("a", "b", "sim")
    }
    def checkpoint(tag: String)(df: => DataFrame): DataFrame =
      Memo(spark, dir, tag)(
        df.as[(Int, Long, Double, Double, Double)].collect().toSeq
          .toDF("rnk", "cand_id", "rel_cos", "max_sim_to_sel", "mmr_score"))
    val sel1 = checkpoint("wave10:mmrSel1")(
      pool.orderBy(col("cos").desc, col("cand_id")).limit(1)
        .select(lit(1).as("rnk"), col("cand_id"), col("cos").as("rel_cos"),
          lit(0.0).as("max_sim_to_sel"),
          (lit(mmrLambda) * col("cos")).as("mmr_score")))
    val rounds = (2 to mmrK).foldLeft(Seq(sel1)) { (acc, r) =>
      val selected = acc.reduce(_.unionAll(_)).select(col("cand_id"))
      val next = checkpoint(s"wave10:mmrSel$r") {
        val maxsim = sims
          .join(selected.select(col("cand_id").as("b")), "b")
          .groupBy(col("a").as("cand_id")).agg(max(col("sim")).as("ms"))
        pool.join(selected, Seq("cand_id"), "left_anti")
          .join(maxsim, "cand_id")
          .withColumn("score",
            lit(mmrLambda) * col("cos") - lit(1.0 - mmrLambda) * col("ms"))
          .orderBy(col("score").desc, col("cand_id")).limit(1)
          .select(lit(r).as("rnk"), col("cand_id"), col("cos").as("rel_cos"),
            col("ms").as("max_sim_to_sel"), col("score").as("mmr_score"))
      }
      acc :+ next
    }
    rounds.reduce(_.unionAll(_)).orderBy(col("rnk"))
  }

  val mmrRerankSql: String = {
    val lam = mmrLambda
    val rounds = (2 to mmrK).map { r =>
      val selU = (1 until r).map(i => s"SELECT cand_id FROM sel$i").mkString(" UNION ALL ")
      s"""sel$r AS MATERIALIZED (
         |  SELECT $r AS rnk, p.cand_id, p.cos AS rel_cos, m.ms AS max_sim_to_sel,
         |    $lam * p.cos - ${1.0 - lam} * m.ms AS mmr_score
         |  FROM pool p
         |  JOIN (SELECT s.a AS cand_id, MAX(s.sim) AS ms FROM sims s
         |        JOIN ($selU) sel ON s.b = sel.cand_id GROUP BY 1) m
         |    ON m.cand_id = p.cand_id
         |  WHERE p.cand_id NOT IN ($selU)
         |  ORDER BY mmr_score DESC, p.cand_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |norms AS MATERIALIZED (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |pool AS MATERIALIZED (
       |  SELECT c.vec_id AS cand_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(np.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos
       |  FROM q c
       |  JOIN (SELECT c2.vec_id AS cand_id, CAST(SUM(p.qv[i] * c2.qv[i]) AS BIGINT) AS dot
       |        FROM (SELECT qv, unnest(range(1, len(qv) + 1)) AS i FROM q WHERE vec_id = 0) p
       |        JOIN q c2 ON c2.vec_id != 0
       |        GROUP BY 1) d ON d.cand_id = c.vec_id
       |  JOIN norms np ON np.vec_id = 0
       |  JOIN norms nc ON nc.vec_id = c.vec_id
       |  WHERE c.vec_id != 0
       |  ORDER BY cos DESC, cand_id LIMIT $mmrPool),
       |spairs AS (
       |  SELECT x.cand_id AS a, y.cand_id AS b, qx.qv AS av, qy.qv AS bv,
       |    nx.nn AS na, ny.nn AS nb
       |  FROM pool x JOIN pool y ON x.cand_id != y.cand_id
       |  JOIN q qx ON qx.vec_id = x.cand_id
       |  JOIN q qy ON qy.vec_id = y.cand_id
       |  JOIN norms nx ON nx.vec_id = x.cand_id
       |  JOIN norms ny ON ny.vec_id = y.cand_id),
       |sex AS (SELECT a, b, av, bv, na, nb, unnest(range(1, len(av) + 1)) AS i FROM spairs),
       |sims AS MATERIALIZED (
       |  SELECT a, b,
       |    CAST(SUM(av[i] * bv[i]) AS DOUBLE)
       |      / sqrt(CAST(MIN(na) AS DOUBLE)) / sqrt(CAST(MIN(nb) AS DOUBLE)) AS sim
       |  FROM sex GROUP BY a, b),
       |sel1 AS MATERIALIZED (
       |  SELECT 1 AS rnk, cand_id, cos AS rel_cos, 0.0 AS max_sim_to_sel,
       |    $lam * cos AS mmr_score
       |  FROM pool ORDER BY cos DESC, cand_id LIMIT 1),
       |$rounds
       |${(1 to mmrK).map(i => s"SELECT * FROM sel$i").mkString("\nUNION ALL\n")}
       |ORDER BY rnk""".stripMargin
  }

  // ---- auc_roc: Mann–Whitney AUC of the quality score ----

  /** ROC AUC of the heuristic quality score predicting the curation
    * pass flag, via the Mann–Whitney identity AUC = (R₊ − n₊(n₊+1)/2)
    * / (n₊n₋) — no threshold sweep, no per-row output. Scores live on
    * a 1e-6 grid; positive-class midranks come from the distributed
    * 2×-scaled prefix plan, so the whole statistic is exact integer
    * arithmetic until one final division (ties get the standard
    * half-credit via midranks). Gini = 2·AUC − 1 rides along.
    */
  /** (doc_id, s6, kept): the 1e-6-grid quality score next to the
    * doc-filter gate — the shared classifier-eval frame (auc_roc here;
    * pr_auc / brier_decomp / mcnemar_gates in Wave 24).
    */
  private[graft] def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave10:aucScored")(
      QueriesText.quality(spark, dir)
        .select(col("doc_id"),
          expr("CAST(round(1e6 * score) AS BIGINT)").as("s6"))
        .join(operators.Corpus.docFilter(Tables(spark, dir, "documents"))
          .select(col("doc_id"), col("kept")), "doc_id"))

  def aucRocQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(spark, dir)
    val mr = valueMidranks2(scored, col("s6"))
    val pos = scored.filter(col("kept"))
      .groupBy(col("s6").as("__v")).agg(count(lit(1)).as("cpos"))
    val r2 = pos.join(mr, "__v")
      .agg(coalesce(sum(dec(col("cpos")) * dec(col("__mr2"))), dec(lit(0))).as("r2pos"))
    val counts = scored.agg(
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_neg"))
    counts.crossJoin(r2)
      .select(col("n_pos"), col("n_neg"),
        ((col("r2pos") - dec(col("n_pos")) * dec(col("n_pos") + 1)).cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
      .withColumn("gini", lit(2.0) * col("auc") - lit(1.0))
  }

  /** The `scored` CTE body alone (assumes a `w` words CTE is already
    * in scope — for composition with chains that bring their own).
    */
  private[graft] val scoredOnlyCteSql: String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""scored AS (
       |  SELECT w.doc_id,
       |    CAST(round(1e6 * (${QueriesText.scoreSqlExpr})) AS BIGINT) AS s6,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id))""".stripMargin
  }

  /** Oracle twin of [[scoredDocs]] — `w` + `scored` CTE bodies. */
  private[graft] val scoredCteSql: String =
    s"""${QueriesText.wordsCte},
       |$scoredOnlyCteSql""".stripMargin

  val aucRocSql: String = {
    val mrSub =
      """(SELECT __v, __t, 2 * COALESCE(SUM(__t) OVER (ORDER BY __v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + __t + 1 AS __mr2
        |  FROM (SELECT s6 AS __v, CAST(COUNT(*) AS BIGINT) AS __t
        |        FROM scored GROUP BY 1))""".stripMargin
    s"""WITH $scoredCteSql,
       |mr AS $mrSub,
       |r2 AS (
       |  SELECT COALESCE(SUM(CAST(p.cpos AS HUGEINT) * mr.__mr2), CAST(0 AS HUGEINT)) AS r2pos
       |  FROM (SELECT s6 AS __v, CAST(COUNT(*) AS BIGINT) AS cpos
       |        FROM scored WHERE kept GROUP BY 1) p
       |  JOIN mr USING (__v)),
       |c AS (SELECT CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
       |  FROM scored)
       |SELECT n_pos, n_neg,
       |  CAST(r2pos - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
       |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
       |  2.0 * (CAST(r2pos - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
       |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0 AS gini
       |FROM c, r2""".stripMargin
  }

  // ---- survival_km: Kaplan–Meier fulfillment-SLA curve ----

  val kmCutoffDays = 60L

  /** Kaplan–Meier survival curve of order fulfillment time (order date
    * → first line-item ship date, clamped at 0 — the synthetic data
    * has pre-dated ships) with administrative right-censoring at the
    * 60-day SLA window; orders that never ship a line item are censored
    * too, which is exactly what KM exists to handle (dropping them
    * would bias the curve optimistic). Per distinct event day:
    * d_t, c_t, at-risk n_t = N − Σ_{u<t}(d_u+c_u), and
    * S(t) = Π(1−d_u/n_u) carried in log space with each ln factor
    * quantized to 1e-6 (one exp at the end) — everything after the
    * per-order aggregate is a ≤cutoff-row calendar-bounded frame.
    */
  def survivalKmQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstShip = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("__fs"))
    val durs = Tables(spark, dir, "orders")
      .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("__gap", expr(
        """(unix_micros(CAST(__fs AS TIMESTAMP))
          | - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000""".stripMargin))
      .withColumn("__dur", greatest(coalesce(col("__gap"), lit(Long.MaxValue)), lit(0L)))
      .select(
        when(col("__dur") <= kmCutoffDays, col("__dur")).otherwise(lit(kmCutoffDays))
          .as("t"),
        (col("__dur") <= kmCutoffDays).cast("long").as("__evt"))
    val counts = durs.groupBy(col("t"))
      .agg(sum(col("__evt")).as("d_events"),
        sum(lit(1L) - col("__evt")).as("n_censored"))
    val tot = counts.agg(sum(col("d_events") + col("n_censored")).as("__N"))
    val w = Window.orderBy(col("t"))
    counts.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__N") - coalesce(
          sum(col("d_events") + col("n_censored"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__ln6", expr(
        """CAST(round(1e6 * ln(CAST(n_risk - d_events AS DOUBLE)
          | / CAST(n_risk AS DOUBLE))) AS BIGINT)""".stripMargin))
      .withColumn("__cum", sum(col("__ln6")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("t").as("day"), col("n_risk"), col("d_events"), col("n_censored"),
        // exp is the one transcendental; its last ulp is engine-specific,
        // so the output is pinned to the 1e-6 grid like every √/ln here
        (round(exp(col("__cum").cast("double") / 1e6) * 1e6) / 1e6).as("survival"))
      .orderBy(col("day"))
  }

  val survivalKmSql: String =
    s"""WITH fs AS (SELECT l_orderkey, MIN(l_shipdate) AS __fs
       |  FROM lineitem GROUP BY 1),
       |durs AS (
       |  SELECT CASE WHEN __dur <= $kmCutoffDays THEN __dur ELSE $kmCutoffDays END AS t,
       |    CASE WHEN __dur <= $kmCutoffDays THEN 1 ELSE 0 END AS evt
       |  FROM (
       |    SELECT GREATEST(COALESCE(
       |        (epoch_us(__fs) - epoch_us(o_orderdate)) // 86400000000,
       |        9223372036854775807), 0) AS __dur
       |    FROM orders LEFT JOIN fs ON o_orderkey = l_orderkey)),
       |counts AS (SELECT t, CAST(SUM(evt) AS BIGINT) AS d_events,
       |    CAST(SUM(1 - evt) AS BIGINT) AS n_censored
       |  FROM durs GROUP BY 1),
       |tot AS (SELECT CAST(SUM(d_events + n_censored) AS BIGINT) AS nn FROM counts),
       |risk AS (SELECT t, d_events, n_censored,
       |    nn - COALESCE(SUM(d_events + n_censored) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       |  FROM counts, tot),
       |lg AS (SELECT *,
       |    CAST(round(1e6 * ln(CAST(n_risk - d_events AS DOUBLE)
       |      / CAST(n_risk AS DOUBLE))) AS BIGINT) AS ln6
       |  FROM risk)
       |SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk, d_events, n_censored,
       |  round(exp(CAST(SUM(ln6) OVER (ORDER BY t
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6) * 1e6) / 1e6
       |    AS survival
       |FROM lg ORDER BY day""".stripMargin

  // ---- ab_power_plan: two-proportion sample-size calculator ----

  /** z_{0.025} + z_{0.20} (95% two-sided, 80% power), driver literal. */
  val abZsum = 1.959964 + 0.841621
  val abMde = 0.02

  /** A/B test power plan per source: the per-arm sample size needed to
    * detect a +2pp absolute lift in the curation pass rate at α=0.05,
    * power 0.8 — n = (z_{α/2}+z_β)²(p₁q₁+p₂q₂)/δ², the planning twin
    * of `prop_ztest_pairs` (that tests lanes that exist; this prices
    * the experiment before running it). Reads the memoized per-source
    * pass-rate frame; p₁ is an exact rational, the ceiling lands on an
    * exact integer, and days_to_n converts via the source's observed
    * document rate over the corpus span. Bounded #sources-row frame.
    */
  def abPowerPlanQ(spark: SparkSession, dir: String): DataFrame = {
    val rates = SharedFrames.srcPassRates(spark, dir)
    rates
      .withColumn("p1", col("k").cast("double") / col("n").cast("double"))
      .withColumn("p2", least(col("p1") + lit(abMde), lit(1.0)))
      .withColumn("n_per_arm",
        ceil(lit(abZsum * abZsum) *
          (col("p1") * (lit(1.0) - col("p1")) + col("p2") * (lit(1.0) - col("p2"))) /
          lit(abMde * abMde)).cast("long"))
      .select(col("source"), col("n").as("n_observed"), col("p1"), col("p2"),
        col("n_per_arm"),
        (col("n_per_arm") * 2 <= col("n")).as("feasible_now"))
      .orderBy(col("source"))
  }

  val abPowerPlanSql: String = {
    import operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |kept AS (
       |  SELECT w.doc_id, d.source,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id)),
       |rates AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM kept GROUP BY 1),
       |p AS (SELECT source, n, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
       |    LEAST(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + $abMde, 1.0) AS p2
       |  FROM rates),
       |sized AS (SELECT *,
       |    CAST(ceil($abZsum * $abZsum * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
       |      / ($abMde * $abMde)) AS BIGINT) AS n_per_arm
       |  FROM p)
       |SELECT source, n AS n_observed, p1, p2, n_per_arm,
       |  n_per_arm * 2 <= n AS feasible_now
       |FROM sized ORDER BY source""".stripMargin
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "anova_oneway" -> (anovaOnewayQ _),
    "kruskal_wallis" -> (kruskalWallisQ _),
    "spearman_rho" -> (spearmanRhoQ _),
    "welch_ttest_pairs" -> (welchTtestPairsQ _),
    "wander_join_est" -> (wanderJoinEstQ _),
    "t_closeness_audit" -> (tClosenessAuditQ _),
    "woe_iv" -> (woeIvQ _),
    "adamic_adar" -> (adamicAdarQ _),
    "graph_assortativity" -> (graphAssortativityQ _),
    "approx_quantile_check" -> (approxQuantileCheckQ _),
    "markov_entropy_rate" -> (markovEntropyRateQ _),
    "target_encode_audit" -> (targetEncodeAuditQ _),
    "feature_hash_collisions" -> (featureHashCollisionsQ _),
    "mmr_rerank" -> (mmrRerankQ _),
    "auc_roc" -> (aucRocQ _),
    "survival_km" -> (survivalKmQ _),
    "ab_power_plan" -> (abPowerPlanQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "anova_oneway" -> anovaOnewaySql,
    "kruskal_wallis" -> kruskalWallisSql,
    "spearman_rho" -> spearmanRhoSql,
    "welch_ttest_pairs" -> welchTtestPairsSql,
    "wander_join_est" -> wanderJoinEstSql,
    "t_closeness_audit" -> tClosenessAuditSql,
    "woe_iv" -> woeIvSql,
    "adamic_adar" -> adamicAdarSql,
    "graph_assortativity" -> graphAssortativitySql,
    "approx_quantile_check" -> approxQuantileCheckSql,
    "markov_entropy_rate" -> markovEntropyRateSql,
    "target_encode_audit" -> targetEncodeAuditSql,
    "feature_hash_collisions" -> featureHashCollisionsSql,
    "mmr_rerank" -> mmrRerankSql,
    "auc_roc" -> aucRocSql,
    "survival_km" -> survivalKmSql,
    "ab_power_plan" -> abPowerPlanSql
  )
}
