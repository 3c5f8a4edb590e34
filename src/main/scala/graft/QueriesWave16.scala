package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 seventh wave: hierarchical changepoints (binary
  * segmentation), decomposition strength scores, grid-density
  * clustering over the JL projection, and the sample-ratio-mismatch
  * gate. Exact integers on bounded frames; min-label components reuse
  * the Pregel operator and the recursive-CTE oracle.
  */
object QueriesWave16 extends QueryModule {

  private val dayUs = 86400000000L

  // ---- binseg_changepoints: two-level binary segmentation ----

  /** Per segment of `seg`, the day maximizing |n·prefix − rank·T| over
    * the (day_us, x) series, with its score: binary segmentation's cut
    * statistic. Segments with fewer than 4 days find no cut.
    */
  private[graft] def argmaxCusum(df: DataFrame, seg: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(seg)
    val cum = df
      .withColumn("__seg", seg)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__t", sum(col("x")).over(w))
      .withColumn("__rk", row_number().over(w.orderBy(col("day_us"))))
      .withColumn("__pre", sum(col("x")).over(
        w.orderBy(col("day_us")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__d", col("__n") * col("__pre") - col("__rk") * col("__t"))
    cum
      .withColumn("__r",
        row_number().over(Window.partitionBy(col("__seg"))
          .orderBy(abs(col("__d")).desc, col("day_us"))))
      .filter(col("__r") === 1 && col("__n") >= 4)
      .select(col("__seg").as("segment"), col("day_us"),
        abs(col("__d")).as("score"))
  }

  /** Binary segmentation (the classic hierarchical changepoint
    * recursion, here unrolled two levels → up to 3 changepoints): the
    * level-1 cut is `cusum_changepoint`'s global argmax of
    * |n·prefix − rk·T|; each half then re-runs the SAME statistic
    * segment-locally (per-segment n, T, rank — all windows partitioned
    * by segment). Everything after the daily aggregate is
    * calendar-bounded; scores are exact BIGINTs, ties break on the
    * earlier day. Output: one row per found cut with level, segment,
    * day, score.
    */
  def binsegChangepointsQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = SharedFrames.dailyOrdersRev(spark, dir)
    val l1 = SharedFrames.binsegL1(spark, dir)
    val cut1 = l1.select(col("day_us").as("__cut"))
    val l2 = argmaxCusum(
      daily.crossJoin(broadcast(cut1)),
      when(col("day_us") <= col("__cut"), lit("left")).otherwise(lit("right")))
    l1.select(lit(1).as("level"), col("segment"), col("day_us"), col("score"))
      .unionAll(l2.select(lit(2).as("level"), col("segment"), col("day_us"),
        col("score")))
      .select(col("level"), col("segment"),
        (col("day_us") / 1000000L).cast("long").as("day_s"),
        col("score").cast("bigint").as("score"))
      .orderBy(col("level"), col("segment"))
  }

  val binsegChangepointsSql: String =
    """WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
      |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |c1 AS (SELECT day_us, x,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n, CAST(SUM(x) OVER () AS BIGINT) AS t,
      |    ROW_NUMBER() OVER (ORDER BY day_us) AS rk,
      |    CAST(SUM(x) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      |  FROM daily),
      |l1 AS (SELECT 'all' AS segment, day_us, ABS(n * pre - rk * t) AS score
      |  FROM c1 WHERE n >= 4 ORDER BY ABS(n * pre - rk * t) DESC, day_us LIMIT 1),
      |c2 AS (SELECT d.day_us, d.x,
      |    CASE WHEN d.day_us <= l1.day_us THEN 'left' ELSE 'right' END AS seg
      |  FROM daily d, l1),
      |c3 AS (SELECT seg, day_us, x,
      |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n,
      |    CAST(SUM(x) OVER (PARTITION BY seg) AS BIGINT) AS t,
      |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY day_us) AS rk,
      |    CAST(SUM(x) OVER (PARTITION BY seg ORDER BY day_us ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS pre
      |  FROM c2),
      |l2 AS (SELECT seg AS segment, day_us, ABS(n * pre - rk * t) AS score
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
      |          ORDER BY ABS(n * pre - rk * t) DESC, day_us) AS r
      |        FROM c3 WHERE n >= 4)
      |  WHERE r = 1)
      |SELECT 1 AS level, segment, day_us // 1000000 AS day_s, CAST(score AS BIGINT) AS score
      |FROM l1
      |UNION ALL
      |SELECT 2, segment, day_us // 1000000, CAST(score AS BIGINT) FROM l2
      |ORDER BY level, segment""".stripMargin

  // ---- seasonal_strength: decomposition strength scores ----

  /** Hyndman's decomposition strength scores over the weekly STL-lite
    * frame (`seasonal_decompose`'s centered-MA + weekday-effect fit):
    * F_seasonal = max(0, 1 − Var(R)/Var(S+R)),
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) — the two numbers that
    * decide whether the 7-day seasonal adjustment and the trend model
    * earn their keep. Variances are exact integer moments of the cents
    * components; the two ratios are pinned to the 1e-6 grid.
    */
  def seasonalStrengthQ(spark: SparkSession, dir: String): DataFrame = {
    val decomp = Memo(spark, dir, "wave16:decomp")(
      QueriesWave6.seasonalDecomposeQ(spark, dir)
        .select(col("rev_c"), col("trend_c"), col("eff_c"), col("resid_c")))
    def d(c: Column) = c.cast("decimal(38,0)")
    val m = decomp.agg(
      count(lit(1)).as("n"),
      sum(d(col("resid_c"))).as("sr"),
      sum(d(col("resid_c")) * d(col("resid_c"))).as("qr"),
      sum(d(col("eff_c") + col("resid_c"))).as("ss"),
      sum(d(col("eff_c") + col("resid_c")) * d(col("eff_c") + col("resid_c"))).as("qs"),
      sum(d(col("trend_c") + col("resid_c"))).as("st"),
      sum(d(col("trend_c") + col("resid_c")) * d(col("trend_c") + col("resid_c")))
        .as("qt"))
    def ratio6(qa: String, sa: String): Column =
      round(lit(1e6) *
        (d(col("n")) * col("qr") - col("sr") * col("sr")).cast("double") /
        (d(col("n")) * col(qa) - col(sa) * col(sa)).cast("double")) / 1e6
    m.select(col("n").as("n_days"),
      greatest(lit(0.0), lit(1.0) - ratio6("qs", "ss")).as("f_seasonal"),
      greatest(lit(0.0), lit(1.0) - ratio6("qt", "st")).as("f_trend"))
  }

  val seasonalStrengthSql: String = {
    val inner = QueriesWave6.seasonalDecomposeSql
    s"""WITH dc AS (SELECT rev_c, trend_c, eff_c, resid_c FROM ($inner)),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(resid_c) AS HUGEINT) AS sr,
       |    CAST(SUM(CAST(resid_c AS HUGEINT) * resid_c) AS HUGEINT) AS qr,
       |    CAST(SUM(eff_c + resid_c) AS HUGEINT) AS ss,
       |    CAST(SUM(CAST(eff_c + resid_c AS HUGEINT) * (eff_c + resid_c)) AS HUGEINT) AS qs,
       |    CAST(SUM(trend_c + resid_c) AS HUGEINT) AS st,
       |    CAST(SUM(CAST(trend_c + resid_c AS HUGEINT) * (trend_c + resid_c)) AS HUGEINT) AS qt
       |  FROM dc)
       |SELECT n AS n_days,
       |  GREATEST(0.0, 1.0 - round(1e6 * CAST(n * qr - sr * sr AS DOUBLE)
       |    / CAST(n * qs - ss * ss AS DOUBLE)) / 1e6) AS f_seasonal,
       |  GREATEST(0.0, 1.0 - round(1e6 * CAST(n * qr - sr * sr AS DOUBLE)
       |    / CAST(n * qt - st * st AS DOUBLE)) / 1e6) AS f_trend
       |FROM m""".stripMargin
  }

  // ---- grid_dbscan: density clustering on the 2-D JL projection ----

  val gdGrid = 16L
  val gdMinPts = 4L

  /** Grid-DBSCAN over the first two JL hyperplane projections of the
    * embeddings: integer projections → 16×16 equi-width cells from the
    * broadcast bounding box, CORE cells hold ≥ 4 points, clusters =
    * 8-neighborhood connected components of core cells (the same
    * Pregel min-label operator as `dup_clusters`, here over ≤256
    * nodes). The density-clustering complement to the centroid-based
    * k-means leg: finds arbitrary-shape mass, labels sparse cells
    * noise. Output: per cluster, cell count + point mass; one noise
    * summary row.
    */
  def gridDbscanQ(spark: SparkSession, dir: String): DataFrame = {
    val planes = {
      import spark.implicits._
      spark.range(2L).toDF("plane")
        .crossJoin(spark.range(64L).toDF("d"))
        .withColumn("w",
          expr("CAST(conv(substring(md5(concat(plane, ':', d)), 1, 1), 16, 10) AS BIGINT) * 2 - 15"))
    }
    val proj = Memo(spark, dir, "wave16:gd2d")(
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"), posexplode(operators.Similarity.quantExpr)
          .as(Seq("d", "q")))
        .join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("plane"))
        .agg(sum(col("q") * col("w")).as("y"))
        .groupBy(col("vec_id"))
        .agg(min(when(col("plane") === 0, col("y"))).as("y0"),
          min(when(col("plane") === 1, col("y"))).as("y1")))
    val bb = proj.agg(min(col("y0")).as("x0"), max(col("y0")).as("x1"),
      min(col("y1")).as("z0"), max(col("y1")).as("z1"))
    val cells = proj.crossJoin(broadcast(bb))
      .select(col("vec_id"),
        least(expr(s"(y0 - x0) * $gdGrid DIV (x1 - x0 + 1)"), lit(gdGrid - 1)).as("cx"),
        least(expr(s"(y1 - z0) * $gdGrid DIV (z1 - z0 + 1)"), lit(gdGrid - 1)).as("cy"))
    val occ = Memo(spark, dir, "wave16:gdCells")(
      cells.groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("pts")))
    val core = occ.filter(col("pts") >= gdMinPts)
      .select((col("cx") * 1000L + col("cy")).as("cell"), col("cx"), col("cy"),
        col("pts"))
    val offs = {
      import spark.implicits._
      (for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 } yield (dx, dy))
        .toDF("dx", "dy")
    }
    val edges = core.crossJoin(broadcast(offs))
      .select(col("cell").as("a"),
        ((col("cx") + col("dx")) * 1000L + col("cy") + col("dy")).as("b"))
      .join(core.select(col("cell").as("b")), "b")
    val selfEdges = core.select(col("cell").as("a"), col("cell").as("b"))
    val labels = Memo(spark, dir, "wave16:gdLabels")(
      operators.Components.connectedComponents(
        edges.unionAll(selfEdges), "a", "b"))
    val clusters = core.join(labels, core("cell") === labels("node"))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("pts")).as("n_points"))
    val noise = occ.filter(col("pts") < gdMinPts)
      .agg(coalesce(sum(col("pts")), lit(0L)).as("__np"),
        count(lit(1)).as("__nc"))
      .select(lit(-1L).as("cluster_id"), col("__nc").as("n_cells"),
        col("__np").as("n_points"))
    clusters.unionAll(noise).orderBy(col("cluster_id"))
  }

  val gridDbscanSql: String =
    s"""WITH RECURSIVE q AS (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |planes AS (
       |  SELECT p.plane, d.d,
       |    CAST(strpos('0123456789abcdef',
       |        substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 1)) - 1
       |      AS BIGINT) * 2 - 15 AS w
       |  FROM (SELECT unnest(range(0, 2)) AS plane) p,
       |       (SELECT unnest(range(0, 64)) AS d) d),
       |proj AS (
       |  SELECT vec_id,
       |    MIN(CASE WHEN plane = 0 THEN s END) AS y0,
       |    MIN(CASE WHEN plane = 1 THEN s END) AS y1
       |  FROM (
       |    SELECT e0.vec_id, pl0.plane, CAST(SUM(e0.q * pl0.w) AS BIGINT) AS s
       |    FROM (SELECT vec_id, qv[i + 1] AS q, i
       |          FROM (SELECT vec_id, qv, unnest(range(0, len(qv))) AS i FROM q)) e0
       |    JOIN planes pl0 ON pl0.d = e0.i
       |    GROUP BY 1, 2)
       |  GROUP BY 1),
       |bb AS (SELECT MIN(y0) AS x0, MAX(y0) AS x1, MIN(y1) AS z0, MAX(y1) AS z1 FROM proj),
       |cells AS (
       |  SELECT vec_id,
       |    LEAST((y0 - x0) * $gdGrid // (x1 - x0 + 1), ${gdGrid - 1}) AS cx,
       |    LEAST((y1 - z0) * $gdGrid // (z1 - z0 + 1), ${gdGrid - 1}) AS cy
       |  FROM proj, bb),
       |occ AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS pts FROM cells GROUP BY 1, 2),
       |core AS (SELECT cx * 1000 + cy AS cell, cx, cy, pts FROM occ WHERE pts >= $gdMinPts),
       |edges AS (
       |  SELECT a.cell AS a, b.cell AS b
       |  FROM core a JOIN core b
       |    ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1),
       |reach(node, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
       |),
       |labels AS (SELECT node, MIN(r) AS label FROM reach GROUP BY node),
       |clusters AS (
       |  SELECT l.label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(SUM(c.pts) AS BIGINT) AS n_points
       |  FROM core c JOIN labels l ON l.node = c.cell
       |  GROUP BY 1),
       |noise AS (
       |  SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(COALESCE(SUM(pts), 0) AS BIGINT) AS n_points
       |  FROM occ WHERE pts < $gdMinPts)
       |SELECT * FROM clusters UNION ALL SELECT * FROM noise
       |ORDER BY cluster_id""".stripMargin

  // ---- srm_check: sample-ratio-mismatch gate on the split ----

  /** χ²(2) 0.999 critical value — SRM checks alarm at a STRICT level
    * because a true mismatch is a pipeline bug, not noise. */
  val srmCrit = 13.815511

  /** Sample-ratio-mismatch check on `train_split`'s md5 assignment:
    * observed train/valid/test counts vs the EXACT expected rationals
    * (the split thresholds over the 2⁵² hash space), χ² with each
    * (o−e)²/e term 1e-6-quantized before the 3-cell sum — the
    * first gate any experiment readout runs: if the split itself is
    * skewed, every downstream metric is garbage.
    */
  def srmCheckQ(spark: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = QueriesAnalytics.splitThresholds
    val space = 1L << 52
    val u = conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("long")
    val obs = Tables(spark, dir, "documents")
      .select(when(u < t1, "train").when(u < t2, "valid").otherwise("test").as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("o"))
    val probs = {
      import spark.implicits._
      Seq(("train", t1, 0L), ("valid", t2 - t1, 0L), ("test", space - t2, 0L))
        .map { case (s, num, _) => (s, num) }.toDF("split", "num")
    }
    val tot = obs.agg(sum(col("o")).as("nn"))
    obs.join(broadcast(probs), "split").crossJoin(broadcast(tot))
      .withColumn("e", col("num").cast("double") * col("nn").cast("double") /
        space.toDouble)
      .withColumn("t6", expr(
        "CAST(round(1e6 * (o - e) * (o - e) / e) AS BIGINT)"))
      .select(col("split"), col("o").as("observed"), col("e").as("expected"),
        col("t6"))
      .groupBy()
      .agg(collect_list(struct(col("split"), col("observed"), col("expected"))).as("__x"),
        sum(col("t6")).as("__chi6"))
      .select(explode(col("__x")).as("r"), col("__chi6"))
      .select(col("r.split").as("split"), col("r.observed").as("observed"),
        col("r.expected").as("expected"),
        (col("__chi6").cast("double") / 1e6).as("chi2"),
        (col("__chi6") >= (srmCrit * 1e6).toLong).as("srm_detected"))
      .orderBy(col("split"))
  }

  val srmCheckSql: String = {
    val (t1, t2) = QueriesAnalytics.splitThresholds
    val space = 1L << 52
    s"""WITH obs AS (
       |  SELECT CASE WHEN u < $t1 THEN 'train'
       |              WHEN u < $t2 THEN 'valid' ELSE 'test' END AS split,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM (SELECT CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS u
       |        FROM documents)
       |  GROUP BY 1),
       |probs(split, num) AS (VALUES ('train', $t1), ('valid', ${t2 - t1}),
       |  ('test', ${space - t2})),
       |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM obs),
       |terms AS (
       |  SELECT obs.split, obs.o,
       |    CAST(p.num AS DOUBLE) * CAST(tot.nn AS DOUBLE) / $space.0 AS e
       |  FROM obs JOIN probs p ON p.split = obs.split, tot),
       |chi AS (SELECT CAST(SUM(CAST(round(1e6 * (o - e) * (o - e) / e) AS BIGINT)) AS BIGINT)
       |    AS chi6 FROM terms)
       |SELECT t.split, t.o AS observed, t.e AS expected,
       |  CAST(chi.chi6 AS DOUBLE) / 1e6 AS chi2,
       |  chi.chi6 >= ${(srmCrit * 1e6).toLong} AS srm_detected
       |FROM terms t, chi ORDER BY t.split""".stripMargin
  }

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "binseg_changepoints" -> (binsegChangepointsQ _),
    "seasonal_strength" -> (seasonalStrengthQ _),
    "grid_dbscan" -> (gridDbscanQ _),
    "srm_check" -> (srmCheckQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "binseg_changepoints" -> binsegChangepointsSql,
    "seasonal_strength" -> seasonalStrengthSql,
    "grid_dbscan" -> gridDbscanSql,
    "srm_check" -> srmCheckSql
  )
}
