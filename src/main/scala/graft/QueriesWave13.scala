package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 fourth wave: distribution-alignment and robustness
  * operators — quantile normalization across sources, winsorized
  * robust means, heavy-change detection between time halves, and a
  * Simpson's-paradox confounding audit. All exact-integer with the
  * value-level prefix (bucket-locate) discipline for order statistics;
  * correlations are pinned to the 1e-6 grid so no >2^53 integer ever
  * has to cast to double bit-identically (DuckDB's int128→double cast
  * is not correctly rounded — see hhi_index).
  */
object QueriesWave13 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- quantile_norm: cross-source decile alignment map ----

  val qnPcts: Seq[Int] = (1 to 9).map(_ * 10) // P10..P90

  /** Per-(group, percentile) exact nearest-rank cutpoints of an integer
    * value column, via value-level prefix sums (one row per DISTINCT
    * value per group — never a per-row global sort): cut_p = min v with
    * |{x ≤ v}| ≥ ⌈p·n/100⌉.
    */
  private def groupCutpoints(
      df: DataFrame, group: Column, value: Column, pcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vt = df.select(group.as("__g"), value.as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__t"))
    val cum = vt
      .withColumn("__n", sum(col("__t")).over(Window.partitionBy(col("__g"))))
      .withColumn("__cum",
        sum(col("__t")).over(Window.partitionBy(col("__g")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val ps = {
      import df.sparkSession.implicits._
      pcts.toDF("pct")
    }
    cum.crossJoin(broadcast(ps))
      .filter(col("__cum") * 100 >= col("pct") * col("__n"))
      .groupBy(col("__g"), col("pct"))
      .agg(min(col("__v")).as("cut"), max(col("__n")).as("n"))
  }

  private def cutpointsSql(
      table: String, groupExpr: String, valueExpr: String, pcts: Seq[Int]): String =
    s"""(SELECT __g, pct, MIN(__v) AS cut, MAX(__n) AS n
       |  FROM (
       |    SELECT __g, __v, __n,
       |      SUM(__t) OVER (PARTITION BY __g ORDER BY __v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __cum
       |    FROM (
       |      SELECT $groupExpr AS __g, $valueExpr AS __v,
       |        CAST(COUNT(*) AS BIGINT) AS __t,
       |        CAST(SUM(COUNT(*)) OVER (PARTITION BY $groupExpr) AS BIGINT) AS __n
       |      FROM $table GROUP BY 1, 2)) c
       |  CROSS JOIN (SELECT unnest(ARRAY[${pcts.mkString(",")}]) AS pct) p
       |  WHERE __cum * 100 >= pct * __n
       |  GROUP BY 1, 2)""".stripMargin

  /** Quantile-normalization map for document length across sources (the
    * batch-effect alignment table): each source's exact nearest-rank
    * P10..P90 beside the pooled corpus cutpoints, with the shift a
    * normalizer would apply — how a multi-source corpus gets its length
    * distributions aligned before mixing. Everything runs on
    * value-level frames (distinct lengths per source), so no per-row
    * sort exists at any scale.
    */
  def quantileNormQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val perSrc = groupCutpoints(docs, col("source"), col("n_chars"), qnPcts)
      .select(col("__g").as("source"), col("pct"), col("cut").as("src_cut"),
        col("n").as("n_src"))
    val pooled = groupCutpoints(docs, lit("__all__"), col("n_chars"), qnPcts)
      .select(col("pct"), col("cut").as("pool_cut"))
    perSrc.join(broadcast(pooled), "pct")
      .select(col("source"), col("pct"), col("n_src"), col("src_cut"), col("pool_cut"),
        (col("src_cut") - col("pool_cut")).as("shift"))
      .orderBy(col("source"), col("pct"))
  }

  val quantileNormSql: String = {
    val src = cutpointsSql("documents", "source", "n_chars", qnPcts)
    val pool = cutpointsSql("documents", "'__all__'", "n_chars", qnPcts)
    s"""WITH s AS $src, p AS $pool
       |SELECT s.__g AS source, s.pct, s.n AS n_src, s.cut AS src_cut,
       |  p.cut AS pool_cut, s.cut - p.cut AS shift
       |FROM s JOIN p USING (pct)
       |ORDER BY source, pct""".stripMargin
  }

  // ---- winsorize_stats: robust means via exact P5/P95 clipping ----

  /** Winsorized (5%/95%) vs raw mean of event value per type: exact
    * nearest-rank cutpoints from the value-level prefix plan, values
    * clamped to [P5, P95], and the clipped-row counts that tell you
    * how much mass the tails held — the robust-mean companion to
    * `mad_outliers` (which flags; this re-estimates). Integer cents
    * until the final divisions.
    */
  def winsorizeStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val v2 = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    val ev = Tables(spark, dir, "events").select(col("event_type"), v2.as("__x"))
    val cuts = groupCutpoints(Tables(spark, dir, "events"), col("event_type"), v2,
      Seq(5, 95))
      .groupBy(col("__g").as("event_type"))
      .agg(min(when(col("pct") === 5, col("cut"))).as("p5"),
        max(when(col("pct") === 95, col("cut"))).as("p95"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("__w", greatest(least(col("__x"), col("p95")), col("p5")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("p5")).as("__p5"), max(col("p95")).as("__p95"),
        sum(dec(col("__x"))).as("__sraw"), sum(dec(col("__w"))).as("__swin"),
        sum(when(col("__x") < col("p5"), 1L).otherwise(0L)).as("clipped_lo"),
        sum(when(col("__x") > col("p95"), 1L).otherwise(0L)).as("clipped_hi"))
      .select(col("event_type"), col("n"),
        (col("__p5").cast("double") / 100.0).as("p5"),
        (col("__p95").cast("double") / 100.0).as("p95"),
        (col("__sraw").cast("double") / (col("n").cast("double") * 100.0)).as("mean_raw"),
        (col("__swin").cast("double") / (col("n").cast("double") * 100.0))
          .as("mean_winsorized"),
        col("clipped_lo"), col("clipped_hi"))
      .orderBy(col("event_type"))
  }

  val winsorizeStatsSql: String = {
    val cuts = cutpointsSql(
      "events", "event_type", "CAST(floor(value * 100 + 0.5) AS BIGINT)", Seq(5, 95))
    s"""WITH c0 AS $cuts,
       |cuts AS (SELECT __g AS event_type,
       |    MIN(CASE WHEN pct = 5 THEN cut END) AS p5,
       |    MAX(CASE WHEN pct = 95 THEN cut END) AS p95
       |  FROM c0 GROUP BY 1),
       |ev AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
       |  FROM events)
       |SELECT ev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(MAX(c.p5) AS DOUBLE) / 100.0 AS p5,
       |  CAST(MAX(c.p95) AS DOUBLE) / 100.0 AS p95,
       |  CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 100.0)
       |    AS mean_raw,
       |  CAST(SUM(CAST(GREATEST(LEAST(x, c.p95), c.p5) AS HUGEINT)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 100.0) AS mean_winsorized,
       |  CAST(SUM(CASE WHEN x < c.p5 THEN 1 ELSE 0 END) AS BIGINT) AS clipped_lo,
       |  CAST(SUM(CASE WHEN x > c.p95 THEN 1 ELSE 0 END) AS BIGINT) AS clipped_hi
       |FROM ev JOIN cuts c ON c.event_type = ev.event_type
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- heavy_change: biggest share movers between time halves ----

  val hcTopK = 15
  val hcMinCount = 5L

  /** Heavy-change detection (the Cormode–Muthukrishnan question "whose
    * frequency CHANGED most", asked exactly): split the event timeline
    * at its midpoint, count per user in each half, rank by the
    * cross-multiplied normalized change |c₁N₂ − c₂N₁| (share delta
    * without a single float) with min total support — the monitoring
    * query that catches users/tenants whose behavior shifted, not just
    * the heaviest. One keyed conditional aggregate + deterministic
    * top-k.
    */
  def heavyChangeQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("__us"))
    val span = ev.agg(min(col("__us")).as("d0"), max(col("__us")).as("d1"))
    val halves = ev.crossJoin(broadcast(span))
      .withColumn("__h2", (col("__us") * 2 > col("d0") + col("d1")).cast("long"))
      .groupBy(col("user_id"))
      .agg(sum(lit(1L) - col("__h2")).as("c1"), sum(col("__h2")).as("c2"))
    val tots = halves.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    halves.crossJoin(broadcast(tots))
      .filter(col("c1") + col("c2") >= hcMinCount)
      .withColumn("change_score",
        abs(dec(col("c1")) * dec(col("n2")) - dec(col("c2")) * dec(col("n1")))
          .cast("decimal(38,0)"))
      .orderBy(col("change_score").desc, col("user_id"))
      .limit(hcTopK)
      .select(col("user_id"), col("c1"), col("c2"),
        col("change_score").cast("bigint").as("change_score"))
  }

  val heavyChangeSql: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       |span AS (SELECT MIN(us) AS d0, MAX(us) AS d1 FROM ev),
       |halves AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN us * 2 > d0 + d1 THEN 0 ELSE 1 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN us * 2 > d0 + d1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM ev, span GROUP BY 1),
       |tots AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
       |  FROM halves)
       |SELECT user_id, c1, c2,
       |  CAST(ABS(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1) AS BIGINT)
       |    AS change_score
       |FROM halves, tots
       |WHERE c1 + c2 >= $hcMinCount
       |ORDER BY change_score DESC, user_id LIMIT $hcTopK""".stripMargin

  // ---- simpson_paradox_audit: confounder sign-reversal check ----

  /** Simpson's-paradox audit of the (quantity, discounted-price)
    * correlation: the pooled Pearson r beside each order-priority
    * stratum's r, flagging strata whose sign flips — the classic
    * confounding check before anyone reads a pooled correlation as
    * causal. Exact integer moments per stratum (pooled = their sums,
    * one pass); every r is pinned to the 1e-6 grid so huge-moment
    * casts can't drift an ulp between engines.
    */
  def simpsonParadoxAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val x = expr("CAST(l_quantity AS BIGINT)")
    val y = expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)")
    val m = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("stratum"), x.as("__x"), y.as("__y"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__x"))).as("sx"), sum(dec(col("__y"))).as("sy"),
        sum(dec(col("__x")) * dec(col("__x"))).as("qx"),
        sum(dec(col("__y")) * dec(col("__y"))).as("qy"),
        sum(dec(col("__x")) * dec(col("__y"))).as("p"))
    def corr6(n: Column, sx: Column, sy: Column, qx: Column, qy: Column, p: Column) =
      round(lit(1e6) *
        (dec(n) * p - sx * sy).cast("double") /
        (sqrt((dec(n) * qx - sx * sx).cast("double")) *
          sqrt((dec(n) * qy - sy * sy).cast("double")))) / 1e6
    // Pooled moments via an unpartitioned window over the STRATUM
    // aggregate (≤ #order-priorities rows — domain-bounded, see
    // WindowAuditSpec) instead of m.agg(...) cross-joined back onto m:
    // the DataFrame API gives the two legs no common-subexpression
    // reuse, so the crossJoin form ran the lineitem⋈orders join and
    // its aggregation TWICE per execution. Summed moments are the
    // identical integers either way.
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    def totSum(c: String) = sum(col(c)).over(all)
    m.select(col("stratum"), col("n"),
        corr6(col("n"), col("sx"), col("sy"), col("qx"), col("qy"), col("p"))
          .as("corr_stratum"),
        corr6(totSum("n"), totSum("sx"), totSum("sy"), totSum("qx"),
          totSum("qy"), totSum("p")).as("corr_pooled"))
      .withColumn("sign_reversed",
        (col("corr_stratum") > 0 && col("corr_pooled") < 0) ||
          (col("corr_stratum") < 0 && col("corr_pooled") > 0))
      .orderBy(col("stratum"))
  }

  val simpsonParadoxAuditSql: String =
    """WITH base AS (
      |  SELECT o.o_orderpriority AS stratum,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |m AS (
      |  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS p
      |  FROM base GROUP BY 1),
      |tot AS (
      |  SELECT round(1e6 *
      |      CAST(CAST(SUM(n) AS HUGEINT) * SUM(p) - SUM(sx) * SUM(sy) AS DOUBLE)
      |      / (sqrt(CAST(CAST(SUM(n) AS HUGEINT) * SUM(qx) - SUM(sx) * SUM(sx) AS DOUBLE))
      |         * sqrt(CAST(CAST(SUM(n) AS HUGEINT) * SUM(qy) - SUM(sy) * SUM(sy) AS DOUBLE))))
      |      / 1e6 AS corr_pooled
      |  FROM m),
      |strat AS (
      |  SELECT stratum, n,
      |    round(1e6 * CAST(CAST(n AS HUGEINT) * p - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(CAST(n AS HUGEINT) * qx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(CAST(n AS HUGEINT) * qy - sy * sy AS DOUBLE)))) / 1e6
      |      AS corr_stratum
      |  FROM m)
      |SELECT s.stratum, s.n, s.corr_stratum, t.corr_pooled,
      |  (s.corr_stratum > 0 AND t.corr_pooled < 0)
      |    OR (s.corr_stratum < 0 AND t.corr_pooled > 0) AS sign_reversed
      |FROM strat s, tot t ORDER BY s.stratum""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quantile_norm" -> (quantileNormQ _),
    "winsorize_stats" -> (winsorizeStatsQ _),
    "heavy_change" -> (heavyChangeQ _),
    "simpson_paradox_audit" -> (simpsonParadoxAuditQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "quantile_norm" -> quantileNormSql,
    "winsorize_stats" -> winsorizeStatsSql,
    "heavy_change" -> heavyChangeSql,
    "simpson_paradox_audit" -> simpsonParadoxAuditSql
  )
}
