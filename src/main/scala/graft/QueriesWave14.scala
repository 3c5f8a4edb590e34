package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 fifth wave: stylometry (Burrows' Delta source distance),
  * Johnson–Lindenstrauss projection auditing, peaks-over-threshold
  * extreme-value fitting, and the Ljung–Box whiteness test. The same
  * parity rules as every wave: quantize each division/√ once, keep
  * every sum an integer, and never cast a >2^53 integer to double.
  */
object QueriesWave14 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- burrows_delta: stylometric distance between sources ----

  val bdTopWords = 30

  /** Burrows' Delta (the stylometry-standard authorship distance)
    * between every source pair: over the corpus's top-30 words, Δ =
    * (1/M)Σ_w |f₁,w − f₂,w|/σ_w with f the per-source relative
    * frequency and σ_w its across-source SD (the per-word means cancel
    * in the difference, so z-scores never materialize). Flags sources
    * that write alike — mirror/scraper detection at the SOURCE level,
    * above the per-doc dedup stack. Frequencies are 1e-6-quantized
    * rationals, σ one quantized √ per word, each pair term one
    * integer-rounded division; the pair stage touches M·S² bounded
    * rows.
    */
  def burrowsDeltaQ(spark: SparkSession, dir: String): DataFrame = {
    val words = QueriesText.toks(spark, dir)
      .select(col("source"), explode(col("__ws")).as("word"))
    val top = Memo(spark, dir, "wave14:bdTopWords")(
      words.groupBy(col("word")).agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("word")).limit(bdTopWords)
        .select(col("word")))
    val srcTok = words.groupBy(col("source")).agg(count(lit(1)).as("tok"))
    val freqs = Memo(spark, dir, "wave14:bdFreqs")(
      words.join(broadcast(top), "word")
        .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
        .join(srcTok, "source")
        // dense (source × word) grid: missing counts are real zeros
        .select(col("source"), col("word"),
          expr("CAST(round(1e6 * c / tok) AS BIGINT)").as("f6")))
    val grid = srcTok.select(col("source")).crossJoin(broadcast(top))
      .join(freqs, Seq("source", "word"), "left_outer")
      .withColumn("f6", coalesce(col("f6"), lit(0L)))
    val sigma = grid.groupBy(col("word"))
      .agg(count(lit(1)).as("s"), sum(col("f6")).as("sf"),
        sum(col("f6") * col("f6")).as("qf"))
      .withColumn("sig6", expr(
        "CAST(round(sqrt(CAST(s * qf - sf * sf AS DOUBLE)) / s) AS BIGINT)"))
      .filter(col("sig6") > 0)
      .select(col("word"), col("sig6"))
    val a = grid.select(col("source").as("src_a"), col("word"), col("f6").as("fa"))
    val b = grid.select(col("source").as("src_b"), col("word"), col("f6").as("fb"))
    a.join(b, Seq("word")).filter(col("src_a") < col("src_b"))
      .join(broadcast(sigma), "word")
      .withColumn("t6", expr("CAST(round(1e6 * abs(fa - fb) / sig6) AS BIGINT)"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_words"), sum(col("t6")).as("__s6"))
      .select(col("src_a"), col("src_b"), col("n_words"),
        (col("__s6").cast("double") / (col("n_words").cast("double") * 1e6))
          .as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val burrowsDeltaSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |tok AS (SELECT doc_id, d.source, unnest(ws) AS word
       |  FROM w JOIN documents d USING (doc_id)),
       |top AS (SELECT word FROM (
       |    SELECT word, COUNT(*) AS c FROM tok GROUP BY 1
       |    ORDER BY c DESC, word LIMIT $bdTopWords)),
       |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS tokn FROM tok GROUP BY 1),
       |fr AS (
       |  SELECT t.source, t.word,
       |    CAST(round(1e6 * COUNT(*) / MIN(st.tokn)) AS BIGINT) AS f6
       |  FROM tok t JOIN top USING (word) JOIN st ON st.source = t.source
       |  GROUP BY 1, 2),
       |grid AS (
       |  SELECT s.source, tp.word, COALESCE(fr.f6, 0) AS f6
       |  FROM (SELECT source FROM st) s CROSS JOIN top tp
       |  LEFT JOIN fr ON fr.source = s.source AND fr.word = tp.word),
       |sig AS (
       |  SELECT word,
       |    CAST(round(sqrt(CAST(s * qf - sf * sf AS DOUBLE)) / s) AS BIGINT) AS sig6
       |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS s,
       |          CAST(SUM(f6) AS BIGINT) AS sf, CAST(SUM(f6 * f6) AS BIGINT) AS qf
       |        FROM grid GROUP BY 1)
       |  WHERE CAST(round(sqrt(CAST(s * qf - sf * sf AS DOUBLE)) / s) AS BIGINT) > 0)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CAST(round(1e6 * abs(a.f6 - b.f6) / sig.sig6) AS BIGINT)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS delta
       |FROM grid a
       |JOIN grid b ON a.word = b.word AND a.source < b.source
       |JOIN sig ON sig.word = a.word
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- jl_projection_audit: JL dimensionality-reduction distortion ----

  val jlDim = 16
  val jlPairs = 64L
  /** E[w²] for the odd-integer weight family {±1, ±3, …, ±15}. */
  val jlW2: Long = (0 until 16).map(h => { val w = 2L * h - 15L; w * w }).sum / 16

  /** Johnson–Lindenstrauss projection audit: project the 1e6-quantized
    * embeddings onto 16 md5-derived odd-integer hyperplanes (the
    * `Similarity.hyperplanes` family — exact BIGINT projections) and
    * measure, over 64 md5-seeded vector pairs, the distance-distortion
    * ratio ‖y_a−y_b‖²/(k·E[w²]·‖x_a−x_b‖²), which JL concentrates
    * near 1 — the audit that says HOW MUCH geometry a 64→16 reduction
    * keeps before anyone swaps it into the ANN stack. All norms exact
    * integers; one double ratio per pair plus a summary row.
    */
  def jlProjectionAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    // the Similarity.hyperplanes weight family, but 16 planes (its
    // numPlanes is fixed at 6 for LSH bucketing)
    val planes = {
      import spark.implicits._
      spark.range(jlDim.toLong).toDF("plane")
        .crossJoin(spark.range(64L).toDF("d"))
        .withColumn("w",
          expr("CAST(conv(substring(md5(concat(plane, ':', d)), 1, 1), 16, 10) AS BIGINT) * 2 - 15"))
    }
    val proj = Memo(spark, dir, "wave14:jlProj")(
      emb.select(col("vec_id"), posexplode(operators.Similarity.quantExpr)
        .as(Seq("d", "q")))
        .join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("plane"))
        .agg(sum(col("q") * col("w")).as("y")))
    val qv = emb.select(col("vec_id"), operators.Similarity.quantExpr.as("qv"))
    val nv = emb.agg(count(lit(1)).as("nn"))
    def h(seed: Column): Column =
      conv(substring(md5(seed), 1, 13), 16, 10).cast("long")
    val pairs = spark.range(jlPairs).select(col("id").as("i"))
      .crossJoin(broadcast(nv))
      .select(col("i"),
        pmod(h(concat(lit("jl:a:"), col("i"))), col("nn")).as("va"),
        pmod(h(concat(lit("jl:b:"), col("i"))), col("nn")).as("vb"))
      .filter(col("va") =!= col("vb"))
    val xdist = pairs
      .join(qv.select(col("vec_id").as("va"), col("qv").as("xa")), "va")
      .join(qv.select(col("vec_id").as("vb"), col("qv").as("xb")), "vb")
      .select(col("i"), col("va"), col("vb"), expr(
        """aggregate(zip_with(xa, xb, (a, b) -> (a - b) * (a - b)),
          | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin).as("dx2"))
    val ydist = pairs
      .join(proj.select(col("vec_id").as("va"), col("plane"), col("y").as("ya")), "va")
      .join(proj.select(col("vec_id").as("__vb2"), col("plane").as("__p2"),
        col("y").as("yb")),
        col("vb") === col("__vb2") && col("plane") === col("__p2"))
      .groupBy(col("i"))
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("dy2"))
    val ratios = xdist.join(ydist, "i")
      .filter(col("dx2") > 0)
      // each ratio quantized to an integer BEFORE any aggregate — a
      // float avg over distributed rows is partition-order dependent
      .select(col("i"),
        expr(s"""CAST(round(1e6 * CAST(dy2 AS DOUBLE)
          | / (CAST(dx2 AS DOUBLE) * ${jlDim * jlW2}.0)) AS BIGINT)""".stripMargin)
          .as("r6"))
    ratios
      .agg(count(lit(1)).as("n_pairs"), sum(col("r6")).as("__s6"),
        sum(when(col("r6") >= 500000L && col("r6") <= 2000000L, 1L).otherwise(0L))
          .as("n_within_2x"),
        min(col("r6")).as("__lo6"), max(col("r6")).as("__hi6"))
      .select(col("n_pairs"),
        (col("__s6").cast("double") / (col("n_pairs").cast("double") * 1e6))
          .as("mean_ratio"),
        col("n_within_2x"), (col("__lo6").cast("double") / 1e6).as("min_ratio"),
        (col("__hi6").cast("double") / 1e6).as("max_ratio"))
  }

  val jlProjectionAuditSql: String = {
    def h(seed: String) = s"CAST(('0x' || substr(md5($seed), 1, 13)) AS BIGINT)"
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |planes AS (
       |  SELECT p.plane, d.d,
       |    CAST(strpos('0123456789abcdef',
       |        substr(md5(CAST(p.plane AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 1)) - 1
       |      AS BIGINT) * 2 - 15 AS w
       |  FROM (SELECT unnest(range(0, $jlDim)) AS plane) p,
       |       (SELECT unnest(range(0, 64)) AS d) d),
       |proj AS (
       |  SELECT e.vec_id, pl.plane, CAST(SUM(e.q * pl.w) AS BIGINT) AS y
       |  FROM (SELECT vec_id, qv[i + 1] AS q, i
       |        FROM (SELECT vec_id, qv, unnest(range(0, len(qv))) AS i FROM q)) e
       |  JOIN planes pl ON pl.d = e.i
       |  GROUP BY 1, 2),
       |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM embeddings),
       |pairs AS (
       |  SELECT i, ${h("'jl:a:' || CAST(i AS VARCHAR)")} % nn AS va,
       |    ${h("'jl:b:' || CAST(i AS VARCHAR)")} % nn AS vb
       |  FROM (SELECT unnest(range(0, $jlPairs)) AS i), nv),
       |good AS (SELECT * FROM pairs WHERE va != vb),
       |xd AS (
       |  SELECT g.i,
       |    CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
       |      j -> (a.qv[j] - b.qv[j]) * (a.qv[j] - b.qv[j]))) AS BIGINT) AS dx2
       |  FROM good g JOIN q a ON a.vec_id = g.va JOIN q b ON b.vec_id = g.vb),
       |yd AS (
       |  SELECT g.i, CAST(SUM((pa.y - pb.y) * (pa.y - pb.y)) AS BIGINT) AS dy2
       |  FROM good g
       |  JOIN proj pa ON pa.vec_id = g.va
       |  JOIN proj pb ON pb.vec_id = g.vb AND pb.plane = pa.plane
       |  GROUP BY 1),
       |ratios AS (
       |  SELECT xd.i,
       |    CAST(round(1e6 * CAST(yd.dy2 AS DOUBLE)
       |      / (CAST(xd.dx2 AS DOUBLE) * ${jlDim * jlW2}.0)) AS BIGINT) AS r6
       |  FROM xd JOIN yd ON yd.i = xd.i WHERE xd.dx2 > 0)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(r6) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS mean_ratio,
       |  CAST(SUM(CASE WHEN r6 >= 500000 AND r6 <= 2000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_within_2x,
       |  CAST(MIN(r6) AS DOUBLE) / 1e6 AS min_ratio,
       |  CAST(MAX(r6) AS DOUBLE) / 1e6 AS max_ratio
       |FROM ratios""".stripMargin
  }

  // ---- extreme_value_pot: peaks-over-threshold GPD fit ----

  /** Peaks-over-threshold extreme-value analysis of daily event counts:
    * threshold u = exact nearest-rank P90 of the day frame, exceedances
    * y = x − u, and a method-of-moments Generalized Pareto fit
    * ξ̂ = ½(1 − m²/s²), β̂ = ½m(m²/s² + 1) — the capacity-planning
    * question "how heavy is the traffic tail" answered with the
    * estimator whose inputs are two exact integer moments (MLE needs
    * iteration; MOM is closed-form and engine-exact up to two final
    * divisions). ξ̂ > 0 ⇒ heavy (Pareto-like) tail.
    */
  def extremeValuePotQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = SharedFrames.dailyEvents(spark, dir)
    val nd = d.agg(count(lit(1)).as("ndays"))
    val u = d.crossJoin(broadcast(nd))
      .withColumn("__rk", row_number().over(Window.orderBy(col("n"), col("day_us"))))
      .filter(col("__rk") * 10 >= col("ndays") * 9)
      .agg(min(col("n")).as("u"))
    val exc = d.crossJoin(broadcast(u))
      .filter(col("n") > col("u"))
      .select((col("n") - col("u")).as("y"), col("u"))
    exc.groupBy(col("u"))
      .agg(count(lit(1)).as("n_exceed"),
        sum(col("y")).as("sy"), sum(col("y") * col("y")).as("qy"))
      .withColumn("m", col("sy").cast("double") / col("n_exceed").cast("double"))
      .withColumn("s2",
        (col("n_exceed") * col("qy") - col("sy") * col("sy")).cast("double") /
          (col("n_exceed").cast("double") * col("n_exceed").cast("double")))
      .select(col("u").as("threshold"), col("n_exceed"),
        col("m").as("mean_excess"),
        (lit(0.5) * (lit(1.0) - col("m") * col("m") / col("s2"))).as("xi_hat"),
        (lit(0.5) * col("m") * (col("m") * col("m") / col("s2") + lit(1.0)))
          .as("beta_hat"),
        (lit(0.5) * (lit(1.0) - col("m") * col("m") / col("s2")) > 0.0)
          .as("heavy_tail"))
  }

  val extremeValuePotSql: String =
    """WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
      |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndays FROM d),
      |u AS (SELECT CAST(MIN(n) AS BIGINT) AS u FROM (
      |    SELECT n, ROW_NUMBER() OVER (ORDER BY n, day_us) AS rk FROM d), nd
      |  WHERE rk * 10 >= ndays * 9),
      |exc AS (SELECT d.n - u.u AS y, u.u FROM d, u WHERE d.n > u.u),
      |m AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_exceed,
      |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(y * y) AS BIGINT) AS qy
      |  FROM exc GROUP BY 1),
      |fit AS (SELECT u, n_exceed,
      |    CAST(sy AS DOUBLE) / CAST(n_exceed AS DOUBLE) AS mm,
      |    CAST(n_exceed * qy - sy * sy AS DOUBLE)
      |      / (CAST(n_exceed AS DOUBLE) * CAST(n_exceed AS DOUBLE)) AS s2
      |  FROM m)
      |SELECT u AS threshold, n_exceed, mm AS mean_excess,
      |  0.5 * (1.0 - mm * mm / s2) AS xi_hat,
      |  0.5 * mm * (mm * mm / s2 + 1.0) AS beta_hat,
      |  0.5 * (1.0 - mm * mm / s2) > 0.0 AS heavy_tail
      |FROM fit""".stripMargin

  // ---- ljung_box: whiteness test on the daily series ----

  val lbLags = 7
  /** χ²(7) 0.95 critical value, driver literal. */
  val lbCrit = 14.067140

  /** Ljung–Box portmanteau test on the daily event-count series:
    * Q = n(n+2)·Σ_{k≤7} ρ̂_k²/(n−k) against χ²(7) — "is there ANY
    * autocorrelation structure left", the whiteness gate run on
    * forecast residuals and on the raw series before modeling
    * (complements `autocorr`, which reports the individual ρ̂_k).
    * Each ρ̂ is the exact-moment estimate pinned to the 1e-6 grid, each
    * Q term integer-rounded at 1e-12 before the 7-row sum.
    */
  def ljungBoxQ(spark: SparkSession, dir: String): DataFrame = {
    val d = SharedFrames.dailyEvents(spark, dir)
    val nd = d.agg(count(lit(1)).as("ndays"))
    val lags = spark.range(1L, lbLags + 1L).select(col("id").as("lag"))
    val rho = d.select(col("day_us"), col("n").as("x")).crossJoin(broadcast(lags))
      .join(d.select(col("day_us").as("__bd"), col("n").as("y")),
        col("__bd") === col("day_us") + col("lag") * lit(86400000000L))
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
    val terms = rho.crossJoin(broadcast(nd))
      .withColumn("t12", expr(
        """CAST(round(CAST(rho6 * rho6 AS DOUBLE) / (ndays - lag)) AS BIGINT)"""))
    terms
      .groupBy(col("ndays"))
      .agg(sum(col("t12")).as("__st12"))
      .select(col("ndays").as("n_days"),
        (col("ndays").cast("double") * (col("ndays") + 2).cast("double") *
          col("__st12").cast("double") / 1e12).as("q_stat"))
      .withColumn("df", lit(lbLags))
      .withColumn("significant", col("q_stat") >= lbCrit)
  }

  val ljungBoxSql: String =
    s"""WITH d AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndays FROM d),
       |p AS (SELECT l.lag, a.n AS x, b.n AS y
       |  FROM d a
       |  CROSS JOIN (SELECT unnest(range(1, ${lbLags + 1})) AS lag) l
       |  JOIN d b ON b.day_us = a.day_us + l.lag * 86400000000),
       |m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS np,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1),
       |r AS (SELECT lag,
       |    CAST(round(1e6 * CAST(np * sxy - sx * sy AS DOUBLE)
       |      / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
       |             * CAST(np * syy - sy * sy AS DOUBLE))) AS BIGINT) AS rho6
       |  FROM m),
       |t AS (SELECT lag,
       |    CAST(round(CAST(rho6 * rho6 AS DOUBLE) / (ndays - lag)) AS BIGINT) AS t12,
       |    ndays
       |  FROM r, nd)
       |SELECT ndays AS n_days,
       |  CAST(ndays AS DOUBLE) * CAST(ndays + 2 AS DOUBLE)
       |    * CAST(SUM(t12) AS DOUBLE) / 1e12 AS q_stat,
       |  $lbLags AS df,
       |  CAST(ndays AS DOUBLE) * CAST(ndays + 2 AS DOUBLE)
       |    * CAST(SUM(t12) AS DOUBLE) / 1e12 >= $lbCrit AS significant
       |FROM t GROUP BY ndays""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "burrows_delta" -> (burrowsDeltaQ _),
    "jl_projection_audit" -> (jlProjectionAuditQ _),
    "extreme_value_pot" -> (extremeValuePotQ _),
    "ljung_box" -> (ljungBoxQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "burrows_delta" -> burrowsDeltaSql,
    "jl_projection_audit" -> jlProjectionAuditSql,
    "extreme_value_pot" -> extremeValuePotSql,
    "ljung_box" -> ljungBoxSql
  )
}
