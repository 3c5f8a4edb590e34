package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 second wave: exact 1-Wasserstein drift between source
  * quality distributions (the transport-distance complement of
  * `mmd_drift`'s kernel form and `ks_test`'s sup form), and a
  * lightweight k-means coreset (Bachem, Lucic, Krause, KDD'18) — the
  * sampling step that makes clustering 100 TB of embeddings a
  * driver-sized problem.
  */
object QueriesWave21 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  // ---- wasserstein_drift: exact W1 between source score distributions ----

  /** Exact 1-Wasserstein (earth mover's) distance between every source
    * pair's quality-score distributions: W1 = ∫|F_a − F_b| dv over the
    * 1e-3 score grid — the transport metric that weighs HOW FAR the
    * mass moved where `ks_test` takes the sup and `mmd_drift` a kernel
    * mean. Per-source value counts are one keyed aggregate (grid- and
    * source-bounded, never row-bounded); each pair's CDF walk is a
    * window over the ≤|grid| support rows partitioned by pair; the gap
    * |F_a−F_b| stays the exact integer cross-product |cumA·n_b −
    * cumB·n_a| (decimal — no 2^53 overflow at any corpus size) until
    * one final division.
    */
  def wassersteinDriftQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Memo(spark, dir, "wave21:srcScoreHist")(
      QueriesText.quality(spark, dir)
        .select(col("doc_id"),
          expr("CAST(round(1e3 * score) AS BIGINT)").as("s3"))
        .join(QueriesText.toks(spark, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"), col("s3"))
        .agg(count(lit(1)).as("cnt")))
    val values = hist.select(col("s3")).distinct()
    val totals = hist.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    val pairs = totals.select(col("source").as("src_a"), col("n").as("na"))
      .join(totals.select(col("source").as("src_b"), col("n").as("nb")),
        col("src_a") < col("src_b"))
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("s3"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, 0)
    pairs
      .crossJoin(broadcast(values))
      .join(hist.select(col("source").as("src_a"), col("s3"),
        col("cnt").as("__ca")), Seq("src_a", "s3"), "left")
      .join(hist.select(col("source").as("src_b"), col("s3"),
        col("cnt").as("__cb")), Seq("src_b", "s3"), "left")
      .na.fill(0L, Seq("__ca", "__cb"))
      .withColumn("__cuma", sum(col("__ca")).over(cumW))
      .withColumn("__cumb", sum(col("__cb")).over(cumW))
      .withColumn("__dv", lead(col("s3"), 1).over(w) - col("s3"))
      .filter(col("__dv").isNotNull)
      .groupBy(col("src_a"), col("src_b"), col("na"), col("nb"))
      .agg(sum(abs(dec(col("__cuma")) * dec(col("nb")) -
        dec(col("__cumb")) * dec(col("na"))) * dec(col("__dv"))).as("__t"))
      .select(col("src_a"), col("src_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (col("__t").cast("double") /
          (dec(col("na")) * dec(col("nb"))).cast("double") / lit(1000.0))
          .as("w1"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val wassersteinDriftSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |scored AS (
       |  SELECT w.doc_id, d.source,
       |    CAST(round(1e3 * (${QueriesText.scoreSqlExpr})) AS BIGINT) AS s3
       |  FROM w JOIN documents d USING (doc_id)),
       |hist AS (SELECT source, s3, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM scored GROUP BY 1, 2),
       |vals AS (SELECT DISTINCT s3 FROM hist),
       |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
       |  FROM tot a JOIN tot b ON a.source < b.source),
       |spine AS (SELECT p.src_a, p.src_b, p.na, p.nb, v.s3,
       |    COALESCE(ha.cnt, 0) AS ca, COALESCE(hb.cnt, 0) AS cb
       |  FROM pairs p
       |  CROSS JOIN vals v
       |  LEFT JOIN hist ha ON ha.source = p.src_a AND ha.s3 = v.s3
       |  LEFT JOIN hist hb ON hb.source = p.src_b AND hb.s3 = v.s3),
       |cum AS (SELECT src_a, src_b, na, nb, s3,
       |    CAST(SUM(ca) OVER (PARTITION BY src_a, src_b ORDER BY s3
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
       |    CAST(SUM(cb) OVER (PARTITION BY src_a, src_b ORDER BY s3
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb,
       |    LEAD(s3) OVER (PARTITION BY src_a, src_b ORDER BY s3) - s3 AS dv
       |  FROM spine),
       |t AS (SELECT src_a, src_b, na, nb,
       |    CAST(SUM(ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)
       |      * dv) AS HUGEINT) AS tsum
       |  FROM cum WHERE dv IS NOT NULL GROUP BY 1, 2, 3, 4)
       |SELECT src_a, src_b, na AS n_a, nb AS n_b,
       |  CAST(tsum AS DOUBLE) / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)
       |    / 1000.0 AS w1
       |FROM t ORDER BY src_a, src_b""".stripMargin

  // ---- kmeans_coreset: lightweight coreset for embedding clustering ----

  val coresetM = 64

  /** Lightweight k-means coreset (Bachem, Lucic, Krause KDD'18): sample
    * m points with probability q(x) = ½·1/n + ½·d²(x, μ)/Σd² (μ = the
    * GLOBAL mean — one aggregate, no k-means needed to build the
    * sampler) and weight 1/(m·q(x)); the weighted sample provably
    * preserves the k-means cost of the full corpus, which is what
    * makes clustering 100 TB a two-pass problem: one scan for the
    * moments, one map-side scan to draw. Exactness: with S = Σx and
    * n exact integer tables, n²·d²(x,μ) = n²‖x‖² − 2n(x·S) + ‖S‖² is
    * EXACT decimal arithmetic (the n² factor cancels in q(x)); the
    * Gumbel draw reuses `gumbel_topk_sample`'s discipline (md5 uniform,
    * ln pinned to 1e-6, one IEEE division), and the global top-m is a
    * TakeOrdered — no full sort, no unbounded window (the rank window
    * runs over the m survivors only).
    */
  def kmeansCoresetQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val q = Memo(spark, dir, "wave21:coresetScored") {
      val base = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), graft.operators.Similarity.quantExpr.as("qv"))
      // bounded literal checkpoints: d+2 exact integers (the coordinate
      // sums, n, ‖S‖²) — the "one scan for the moments" pass
      val n = base.count()
      val sums = base
        .select(posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("pos")).agg(sum(col("v")).as("s"))
        .orderBy(col("pos")).collect().map(_.getLong(1))
      val s2: BigInt = sums.map(v => BigInt(v) * v).sum
      val sArrSql = sums.mkString("array(", "L, ", "L)")
      base
        .withColumn("__x2", expr("quantized_dot(qv, qv)"))
        .withColumn("__xs", expr(
          s"aggregate(zip_with(qv, $sArrSql, (a, b) -> a * b)," +
            " 0L, (acc, x) -> acc + x)"))
        .withColumn("n2d2",
          dec(lit(n)) * dec(lit(n)) * dec(col("__x2")) -
            dec(lit(2L * n)) * dec(col("__xs")) +
            expr(s"CAST('$s2' AS DECIMAL(38,0))"))
        .select(col("vec_id"), lit(n).as("__n"), col("n2d2"))
    }
    val t = q.agg(sum(col("n2d2")).as("__t"))
    val keyed = q.crossJoin(broadcast(t))
      .withColumn("sensitivity",
        lit(0.5) / col("__n").cast("double") +
          col("n2d2").cast("double") / (lit(2.0) * col("__t").cast("double")))
      .withColumn("__h",
        conv(substring(md5(concat(lit("kc:"), col("vec_id").cast("string"))), 1, 13),
          16, 10).cast("long"))
      .withColumn("__lnu6", expr(
        "CAST(round(1e6 * ln((CAST(__h AS DOUBLE) + 0.5) / 4503599627370496.0)) AS BIGINT)"))
      .withColumn("__key", col("__lnu6").cast("double") / col("sensitivity"))
    keyed
      .orderBy(col("__key").desc, col("vec_id"))
      .limit(coresetM)
      // rank window over the m = 64 survivors only (k-bounded)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("__key").desc, col("vec_id"))))
      .select(col("rnk"), col("vec_id"), col("sensitivity"),
        (lit(1.0) / (lit(coresetM.toDouble) * col("sensitivity")))
          .as("coreset_weight"))
      .orderBy(col("rnk"))
  }

  val kmeansCoresetSql: String =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
       |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
       |s AS (SELECT i, CAST(SUM(qv[i]) AS BIGINT) AS si FROM ex GROUP BY 1),
       |ss AS (SELECT CAST(SUM(CAST(si AS HUGEINT) * si) AS HUGEINT) AS s2 FROM s),
       |xx AS (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS x2 FROM ex GROUP BY 1),
       |xs AS (SELECT e.vec_id, CAST(SUM(e.qv[e.i] * s.si) AS BIGINT) AS xs
       |  FROM ex e JOIN s ON s.i = e.i GROUP BY 1),
       |d2 AS (SELECT xx.vec_id,
       |    CAST(n1.n AS HUGEINT) * n1.n * xx.x2
       |      - 2 * CAST(n1.n AS HUGEINT) * xs.xs + ss.s2 AS n2d2
       |  FROM xx JOIN xs USING (vec_id), n1, ss),
       |t AS (SELECT CAST(SUM(n2d2) AS HUGEINT) AS tt FROM d2),
       |keyed AS (SELECT d2.vec_id,
       |    0.5 / CAST(n1.n AS DOUBLE)
       |      + CAST(d2.n2d2 AS DOUBLE) / (2.0 * CAST(t.tt AS DOUBLE)) AS sensitivity,
       |    CAST(round(1e6 * ln((CAST(CAST(('0x' || substr(md5('kc:' || CAST(d2.vec_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)) AS BIGINT) AS lnu6
       |  FROM d2, n1, t)
       |SELECT CAST(rnk AS INT) AS rnk, vec_id, sensitivity,
       |  1.0 / ($coresetM.0 * sensitivity) AS coreset_weight
       |FROM (
       |  SELECT vec_id, sensitivity,
       |    ROW_NUMBER() OVER (ORDER BY CAST(lnu6 AS DOUBLE) / sensitivity DESC,
       |      vec_id) AS rnk
       |  FROM keyed)
       |WHERE rnk <= $coresetM
       |ORDER BY rnk""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wasserstein_drift" -> (wassersteinDriftQ _),
    "kmeans_coreset" -> (kmeansCoresetQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "wasserstein_drift" -> wassersteinDriftSql,
    "kmeans_coreset" -> kmeansCoresetSql
  )
}
