package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 eighth wave: categorical-association strength (Cramér's V),
  * the Cochran–Armitage ordered trend test, model-eval gains/lift
  * deciles, and a counting Bloom filter with delete support. Exact
  * integers; one quantized transcendental per output number.
  */
object QueriesWave17 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- cramers_v: association strength event_type × weekday ----

  /** Cramér's V for the event_type × ISO-weekday contingency table:
    * χ² from exact expected-count rationals (each (o−e)²/e term
    * 1e-6-quantized before the r·c-row sum), V = √(χ²/(n·min(r−1,c−1)))
    * with ONE quantized √ — the effect-size number the raw χ² (which
    * grows with n) can't give: V is comparable across corpus sizes,
    * exactly what a drift dashboard needs.
    */
  def cramersVQ(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "events")
      .select(col("event_type"),
        expr("weekday(CAST(ts AS TIMESTAMP)) + 1").as("dow"))
    val o = base.groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o"))
    val rows = o.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = o.groupBy(col("dow")).agg(sum(col("o")).as("c"))
    val tot = o.agg(sum(col("o")).as("nn"),
      countDistinct(col("event_type")).as("nr"), countDistinct(col("dow")).as("nc"))
    val terms = rows.crossJoin(cols)
      .join(o, Seq("event_type", "dow"), "left_outer")
      .crossJoin(broadcast(tot))
      .withColumn("e", (dec(col("r")) * dec(col("c"))).cast("double") /
        col("nn").cast("double"))
      .withColumn("t6", expr(
        "CAST(round(1e6 * (COALESCE(o, 0) - e) * (COALESCE(o, 0) - e) / e) AS BIGINT)"))
    terms.groupBy(col("nn"), col("nr"), col("nc"))
      .agg(sum(col("t6")).as("__chi6"))
      .withColumn("chi2", col("__chi6").cast("double") / 1e6)
      .select(col("nn").as("n"),
        ((col("nr") - 1) * (col("nc") - 1)).cast("int").as("df"),
        col("chi2"),
        (expr("CAST(round(1e6 * sqrt(chi2 / (nn * least(nr - 1, nc - 1)))) AS BIGINT)")
          .cast("double") / 1e6).as("cramers_v"))
  }

  val cramersVSql: String =
    """WITH base AS (SELECT event_type, isodow(ts) AS dow FROM events),
      |o AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM base GROUP BY 1, 2),
      |r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM o GROUP BY 1),
      |c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM o GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
      |    CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc
      |  FROM o),
      |terms AS (
      |  SELECT r.event_type, c.dow, tot.nn, tot.nr, tot.nc,
      |    CAST(CAST(r.r AS HUGEINT) * c.c AS DOUBLE) / CAST(tot.nn AS DOUBLE) AS e,
      |    COALESCE(o.o, 0) AS o
      |  FROM r CROSS JOIN c
      |  LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow, tot),
      |chi AS (
      |  SELECT nn, nr, nc,
      |    CAST(SUM(CAST(round(1e6 * (o - e) * (o - e) / e) AS BIGINT)) AS BIGINT) AS chi6
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT nn AS n, CAST((nr - 1) * (nc - 1) AS INT) AS df,
      |  CAST(chi6 AS DOUBLE) / 1e6 AS chi2,
      |  CAST(CAST(round(1e6 * sqrt((CAST(chi6 AS DOUBLE) / 1e6)
      |    / (nn * LEAST(nr - 1, nc - 1)))) AS BIGINT) AS DOUBLE) / 1e6 AS cramers_v
      |FROM chi""".stripMargin

  // ---- trend_test_ca: Cochran–Armitage ordered trend test ----

  val caLateDays = 30L
  /** Φ⁻¹(0.975) literal. */
  val caCrit = 1.959964

  /** Cochran–Armitage trend test: does the LATE-fulfillment rate
    * (first ship > 30 days) trend MONOTONICALLY across the ordered
    * priority grades 1..5? T = Σwᵢ(kᵢN − nᵢK), Var·N³ = K(N−K)·
    * (N·Σnᵢwᵢ² − (Σnᵢwᵢ)²) — the χ² independence test ignores the
    * ordering; CA spends its one degree of freedom on the monotone
    * alternative, which is the actual operational question. All
    * cross-multiplied exact decimals, ONE quantized √ for the z.
    */
  def trendTestCaQ(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(min(col("l_shipdate")).as("__fs"))
    val marked = Memo(spark, dir, "wave17:caMarked")(
      Tables(spark, dir, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("w"),
          (coalesce(expr(
            """(unix_micros(CAST(__fs AS TIMESTAMP))
              | - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000"""
              .stripMargin), lit(Long.MaxValue)) > caLateDays).cast("long").as("late")))
    val g = marked.groupBy(col("w"))
      .agg(count(lit(1)).as("n_i"), sum(col("late")).as("k_i"))
    val tot = g.agg(sum(col("n_i")).as("nn"), sum(col("k_i")).as("kk"),
      sum(dec(col("n_i")) * dec(col("w"))).as("snw"),
      sum(dec(col("n_i")) * dec(col("w")) * dec(col("w"))).as("snw2"),
      sum(dec(col("k_i")) * dec(col("w"))).as("skw"))
    tot
      .withColumn("t_num", col("skw") * dec(col("nn")) - col("snw") * dec(col("kk")))
      .withColumn("var_n3",
        dec(col("kk")) * dec(col("nn") - col("kk")) *
          (dec(col("nn")) * col("snw2") - col("snw") * col("snw")))
      .withColumn("se6", expr(
        "CAST(round(1e6 * sqrt(CAST(var_n3 AS DOUBLE) / CAST(nn AS DOUBLE))) AS DECIMAL(38,0))"))
      .select(col("nn").cast("bigint").as("n"), col("kk").cast("bigint").as("n_late"),
        (col("kk").cast("double") / col("nn").cast("double")).as("late_rate"),
        (col("t_num").cast("double") * 1e6 / col("se6").cast("double")).as("z_trend"))
      .withColumn("significant", abs(col("z_trend")) >= caCrit)
  }

  val trendTestCaSql: String =
    s"""WITH fs AS (SELECT l_orderkey, MIN(l_shipdate) AS __fs FROM lineitem GROUP BY 1),
       |marked AS (
       |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
       |    CASE WHEN COALESCE((epoch_us(__fs) - epoch_us(o_orderdate)) // 86400000000,
       |        9223372036854775807) > $caLateDays THEN 1 ELSE 0 END AS late
       |  FROM orders LEFT JOIN fs ON o_orderkey = l_orderkey),
       |g AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_i,
       |    CAST(SUM(late) AS BIGINT) AS k_i
       |  FROM marked GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_i) AS HUGEINT) AS nn, CAST(SUM(k_i) AS HUGEINT) AS kk,
       |    CAST(SUM(CAST(n_i AS HUGEINT) * w) AS HUGEINT) AS snw,
       |    CAST(SUM(CAST(n_i AS HUGEINT) * w * w) AS HUGEINT) AS snw2,
       |    CAST(SUM(CAST(k_i AS HUGEINT) * w) AS HUGEINT) AS skw
       |  FROM g),
       |v AS (SELECT *,
       |    skw * nn - snw * kk AS t_num,
       |    kk * (nn - kk) * (nn * snw2 - snw * snw) AS var_n3
       |  FROM tot),
       |se AS (SELECT *,
       |    CAST(round(1e6 * sqrt(CAST(var_n3 AS DOUBLE) / CAST(nn AS DOUBLE))) AS HUGEINT)
       |      AS se6
       |  FROM v)
       |SELECT CAST(nn AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_late,
       |  CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS late_rate,
       |  CAST(t_num AS DOUBLE) * 1e6 / CAST(se6 AS DOUBLE) AS z_trend,
       |  ABS(CAST(t_num AS DOUBLE) * 1e6 / CAST(se6 AS DOUBLE)) >= $caCrit AS significant
       |FROM se""".stripMargin

  // ---- gains_curve: cumulative-gains / lift deciles of the score ----

  /** Cumulative-gains table of the quality score against the curation
    * pass flag: docs ranked best-first into 10 population deciles (the
    * range-partitioned distributed NTILE — no single-partition sort),
    * per decile the positive capture rate and lift vs random — the
    * model-eval chart (with `auc_roc` the area summary) that answers
    * "if we can only afford the top 20%, how much of the good mass do
    * we get". Exact counts until the share divisions.
    */
  def gainsCurveQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = QueriesWave10.scoredDocs(spark, dir)
    val tiled = operators.Layout.rankedNtile(
      scored, Seq(col("s6").desc, col("doc_id")), 10, "decile")
    val byDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("pos"))
    val tot = byDecile.agg(sum(col("n")).as("nn"), sum(col("pos")).as("pp"))
    val w = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .select(col("decile"), col("n"), col("pos"),
        (col("cum_pos").cast("double") / col("pp").cast("double")).as("capture"),
        ((dec(col("cum_pos")) * dec(col("nn"))).cast("double") /
          (dec(col("cum_n")) * dec(col("pp"))).cast("double")).as("lift"))
      .orderBy(col("decile"))
  }

  val gainsCurveSql: String = {
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
       |tiled AS (SELECT kept,
       |    CAST(NTILE(10) OVER (ORDER BY s6 DESC, doc_id) AS INT) AS decile
       |  FROM scored),
       |bd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM tiled GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS pp FROM bd),
       |cum AS (SELECT bd.*, tot.nn, tot.pp,
       |    CAST(SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
       |    CAST(SUM(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
       |  FROM bd, tot)
       |SELECT decile, n, pos,
       |  CAST(cum_pos AS DOUBLE) / CAST(pp AS DOUBLE) AS capture,
       |  CAST(CAST(cum_pos AS HUGEINT) * nn AS DOUBLE)
       |    / CAST(CAST(cum_n AS HUGEINT) * pp AS DOUBLE) AS lift
       |FROM cum ORDER BY decile""".stripMargin
  }

  // ---- counting_bloom: deletable membership sketch audit ----

  val cbM = 4096L
  val cbK = 3

  /** Counting Bloom filter (the deletable Bloom variant): build over
    * parts with size ≤ 25, DELETE the size ≤ 10 subset, then probe
    * every part against the counter array (member ⟺ all k counters
    * ≥ 1). Deletion is the counting filter's whole point — a plain
    * Bloom cannot unlearn — and the audit proves the no-false-negative
    * contract survives deletes while measuring the FPR the counters
    * buy. The counter array is ≤ m (position, count) rows — broadcast
    * at any build size (the `bloom_filter` discipline).
    */
  def countingBloomQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val depths = (0 until cbK).toDF("i")
    def pos(i: Column, v: Column) =
      pmod(conv(substring(md5(concat_ws(":", i.cast("string"), v)), 1, 8), 16, 10)
        .cast("long"), lit(cbM))
    val parts = Tables(spark, dir, "part")
      .select(col("p_partkey").cast("string").as("v"), col("p_size"))
    val build = parts.filter(col("p_size") <= 25).select(col("v")).distinct()
    val del = parts.filter(col("p_size") <= 10).select(col("v")).distinct()
    val counters = build.crossJoin(depths).select(pos(col("i"), col("v")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("b"))
      .join(del.crossJoin(depths).select(pos(col("i"), col("v")).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("d")), Seq("p"), "left_outer")
      .select(col("p"), (col("b") - coalesce(col("d"), lit(0L))).as("cnt"))
    val remaining = build.join(del, Seq("v"), "left_anti")
    val probes = parts.select(col("v")).distinct()
      .crossJoin(depths)
      .select(col("v"), pos(col("i"), col("v")).as("p"))
      .join(broadcast(counters.filter(col("cnt") >= 1)), Seq("p"), "left_outer")
      .groupBy(col("v"))
      .agg((sum(when(col("cnt").isNotNull, 1L).otherwise(0L)) === cbK).as("bloom_pos"))
    val truth = probes
      .join(remaining.withColumn("__in", lit(true)), Seq("v"), "left_outer")
      .select(col("bloom_pos"), coalesce(col("__in"), lit(false)).as("actual"))
    truth.agg(
      sum(when(col("actual"), 1L).otherwise(0L)).as("n_remaining"),
      sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("bloom_positive"),
      sum(when(col("bloom_pos") && col("actual"), 1L).otherwise(0L)).as("true_positive"),
      sum(when(col("bloom_pos") && !col("actual"), 1L).otherwise(0L)).as("false_positive"),
      sum(when(!col("bloom_pos") && col("actual"), 1L).otherwise(0L))
        .as("false_negative"))
      .withColumn("fpr",
        col("false_positive").cast("double") /
          greatest(col("bloom_positive"), lit(1L)).cast("double"))
  }

  val countingBloomSql: String = {
    def pos(i: String, v: String) =
      s"CAST(('0x' || substr(md5(CAST($i AS VARCHAR) || ':' || $v), 1, 8)) AS BIGINT) % $cbM"
    s"""WITH depths AS (SELECT unnest(range(0, $cbK)) AS i),
       |parts AS (SELECT CAST(p_partkey AS VARCHAR) AS v, p_size FROM part),
       |build AS (SELECT DISTINCT v FROM parts WHERE p_size <= 25),
       |del AS (SELECT DISTINCT v FROM parts WHERE p_size <= 10),
       |counters AS (
       |  SELECT b.p, b.b - COALESCE(d.d, 0) AS cnt
       |  FROM (SELECT ${pos("i", "v")} AS p, CAST(COUNT(*) AS BIGINT) AS b
       |        FROM build, depths GROUP BY 1) b
       |  LEFT JOIN (SELECT ${pos("i", "v")} AS p, CAST(COUNT(*) AS BIGINT) AS d
       |        FROM del, depths GROUP BY 1) d ON d.p = b.p),
       |remaining AS (SELECT v FROM build ANTI JOIN del USING (v)),
       |probes AS (
       |  SELECT x.v,
       |    CAST(SUM(CASE WHEN c.cnt >= 1 THEN 1 ELSE 0 END) AS BIGINT) = $cbK AS bloom_pos
       |  FROM (SELECT pr.v, ${pos("d.i", "pr.v")} AS p
       |        FROM (SELECT DISTINCT v FROM parts) pr CROSS JOIN depths d) x
       |  LEFT JOIN counters c ON c.p = x.p
       |  GROUP BY 1),
       |truth AS (
       |  SELECT p.bloom_pos, r.v IS NOT NULL AS actual
       |  FROM probes p LEFT JOIN remaining r ON r.v = p.v)
       |SELECT
       |  CAST(SUM(CASE WHEN actual THEN 1 ELSE 0 END) AS BIGINT) AS n_remaining,
       |  CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT) AS bloom_positive,
       |  CAST(SUM(CASE WHEN bloom_pos AND actual THEN 1 ELSE 0 END) AS BIGINT) AS true_positive,
       |  CAST(SUM(CASE WHEN bloom_pos AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS false_positive,
       |  CAST(SUM(CASE WHEN NOT bloom_pos AND actual THEN 1 ELSE 0 END) AS BIGINT) AS false_negative,
       |  CAST(SUM(CASE WHEN bloom_pos AND NOT actual THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(GREATEST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END), 1) AS DOUBLE) AS fpr
       |FROM truth""".stripMargin
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cramers_v" -> (cramersVQ _),
    "trend_test_ca" -> (trendTestCaQ _),
    "gains_curve" -> (gainsCurveQ _),
    "counting_bloom" -> (countingBloomQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "cramers_v" -> cramersVSql,
    "trend_test_ca" -> trendTestCaSql,
    "gains_curve" -> gainsCurveSql,
    "counting_bloom" -> countingBloomSql
  )
}
