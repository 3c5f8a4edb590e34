package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 wave 28: closing-the-loop audits on three standing
  * families — Bloom-filter SIZING (the m/k planning the membership
  * sketches assume), language purity of the near-dup clusters (does
  * single-link collapse merge across languages?), and per-vector
  * embedding outliers against the label centroids (the data-quality
  * leg of the centroid family). Portability discipline unchanged.
  */
object QueriesWave28 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(38,0)")

  // ---- bloom_fpp_plan: Bloom filter sizing for the join keys ----

  /** ln 2 and −ln(fpp targets), pinned to the 1e-6 grid at compile
    * time (short decimals convert decimal→double exactly-rounded in
    * both engines; no runtime ln).
    */
  private val bfLn2: Double = math.rint(1e6 * math.log(2.0)) / 1e6
  val bfTargets: Seq[(Double, Double)] = Seq(0.01, 0.001)
    .map(p => p -> math.rint(1e6 * -math.log(p)) / 1e6)

  val bfKeys: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"), ("orders", "o_custkey"), ("events", "user_id"))

  /** Bloom-filter sizing plan for the workload's join keys — the
    * m/k arithmetic `bloom_filter`/`bloom_prejoin`/`counting_bloom`
    * presuppose: per (key, target fpp), the optimal bit count
    * m* = ⌈n·(−ln p)/ln²2⌉ rounds UP to a power of two (allocator
    * reality), k = max(1, round(m/n·ln 2)), and the ACHIEVED fpp of
    * the rounded pair is re-derived as (1−e^{−kn/m})^k — the number
    * that goes in the capacity plan. NDVs are exact per-key
    * aggregates; the power-of-two round-up is bit-length arithmetic
    * (no runtime log); the achieved fpp is the wave's one quantized
    * libm chain (exp+pow → 1e-9 grid). Report frame: keys × targets.
    */
  def bloomFppPlanQ(spark: SparkSession, dir: String): DataFrame = {
    val ndv = Memo(spark, dir, "wave28:bloomNdv")(
      bfKeys.map { case (t, c) =>
        Tables(spark, dir, t)
          .agg(count_distinct(col(c)).as("ndv"))
          .select(lit(s"$t.$c").as("key_name"), col("ndv"))
      }.reduce(_.unionAll(_)))
    val targets = bfTargets.map { case (p, lp) =>
      spark.range(1).select(lit(p).as("target_fpp"), lit(lp).as("lp"))
    }.reduce(_.unionAll(_))
    ndv.crossJoin(broadcast(targets))
      .withColumn("m_opt",
        ceil(col("ndv").cast("double") * col("lp") / lit(bfLn2 * bfLn2)))
      .withColumn("m_bits", expr(
        "CASE WHEN m_opt <= 1 THEN CAST(1 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(m_opt - 1))) END"))
      .withColumn("k", greatest(lit(1L), expr(
        s"CAST(round(CAST(m_bits AS DOUBLE) / ndv * $bfLn2) AS BIGINT)")))
      .select(col("key_name"), col("ndv"), col("target_fpp"),
        col("m_bits"), expr("m_bits div 8").as("bytes"), col("k"),
        expr("""CAST(round(1e9 * pow(
          |  1.0 - exp(-(CAST(k * ndv AS DOUBLE) / CAST(m_bits AS DOUBLE))),
          |  k)) AS BIGINT)""".stripMargin).as("achieved_fpp9"))
      .orderBy(col("key_name"), col("target_fpp"))
  }

  val bloomFppPlanSql: String = {
    val ndvArms = bfKeys.map { case (t, c) =>
      s"SELECT '$t.$c' AS key_name, CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv FROM $t"
    }.mkString("\nUNION ALL\n")
    val targetRows = bfTargets
      .map { case (p, lp) => s"($p, $lp)" }.mkString(", ")
    s"""WITH ndv AS MATERIALIZED (
       |$ndvArms
       |),
       |tg AS (SELECT * FROM (VALUES $targetRows) AS t(target_fpp, lp)),
       |m AS (SELECT key_name, ndv, target_fpp,
       |    CASE WHEN m_opt <= 1 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(1 AS BIGINT) << length(bin(m_opt - 1)) END AS m_bits
       |  FROM (SELECT key_name, ndv, target_fpp,
       |      CAST(CEIL(CAST(ndv AS DOUBLE) * lp / ${bfLn2 * bfLn2}) AS BIGINT) AS m_opt
       |    FROM ndv, tg)),
       |km AS (SELECT *, GREATEST(CAST(1 AS BIGINT),
       |    CAST(round(CAST(m_bits AS DOUBLE) / ndv * $bfLn2) AS BIGINT)) AS k
       |  FROM m)
       |SELECT key_name, ndv, CAST(target_fpp AS DOUBLE) AS target_fpp,
       |  m_bits, m_bits // 8 AS bytes, k,
       |  CAST(round(1e9 * pow(
       |    1.0 - exp(-(CAST(k * ndv AS DOUBLE) / CAST(m_bits AS DOUBLE))),
       |    k)) AS BIGINT) AS achieved_fpp9
       |FROM km ORDER BY key_name, target_fpp""".stripMargin
  }

  // ---- cluster_purity: language purity of the near-dup clusters ----

  /** Language purity of the LSH near-dup clusters — the over-merge
    * audit from the LABEL side, complementing `dedup_transitivity`'s
    * structural wedge closure: true near-duplicates share a language,
    * so a cluster mixing languages is single-link collapse chaining
    * non-duplicates (and `dedup_keep_best` would delete originals).
    * Purity = Σ majority-language counts / Σ cluster sizes over the
    * verified-pair components (the memoized cluster frame — no LSH
    * recompute), all exact integers until one final division.
    */
  def clusterPurityQ(spark: SparkSession, dir: String): DataFrame = {
    val cl = QueriesText.dupComponents(spark, dir)
      .join(Tables(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
    val perLang = cl.groupBy(col("cluster_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val per = perLang.groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("size"), max(col("c")).as("maxc"))
    per.agg(count(lit(1)).as("n_clusters"),
      sum(col("size")).as("n_docs"),
      sum(when(col("maxc") === col("size"), 1L).otherwise(0L)).as("n_pure_clusters"),
      sum(col("maxc")).as("n_majority_docs"))
      .withColumn("purity",
        col("n_majority_docs").cast("double") / col("n_docs").cast("double"))
  }

  val clusterPuritySql: String =
    s"""WITH RECURSIVE ${QueriesText.clustersCtes},
       |cl AS (SELECT c.cluster_id, d.lang FROM clusters c
       |       JOIN documents d USING (doc_id)),
       |pl AS (SELECT cluster_id, lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM cl GROUP BY 1, 2),
       |per AS (SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS size,
       |    CAST(MAX(c) AS BIGINT) AS maxc
       |  FROM pl GROUP BY 1)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(size) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN maxc = size THEN 1 ELSE 0 END) AS BIGINT) AS n_pure_clusters,
       |  CAST(SUM(maxc) AS BIGINT) AS n_majority_docs,
       |  CAST(SUM(maxc) AS DOUBLE) / CAST(SUM(size) AS DOUBLE) AS purity
       |FROM per""".stripMargin

  // ---- embed_outliers: per-vector distance outliers vs label centroid ----

  /** Embedding outliers against the own-label centroid — the
    * data-quality leg of the centroid family (`centroid_drift` moves
    * label means against the corpus; this flags the VECTORS that
    * don't belong, the mislabeled/corrupted rows an embedding
    * pipeline quarantines): per vector, the exact grid distance²
    * to its label centroid (sign-split integer centroid from the
    * shared one-scan sums), flagged when d² exceeds the label mean
    * + 2σ (σ from exact integer moments, ONE quantized √ per label).
    * Two scans of the embeddings table total (the centroid sums are
    * the memoized session frame), everything else label-bounded.
    */
  def embedOutliersQ(spark: SparkSession, dir: String): DataFrame = {
    val cen = QueriesPipeline.centroidSums(spark, dir)
      .select(col("label"), col("i"),
        QueriesPipeline.signDivCol(col("s"), col("n")).as("c"))
    val d2 = Memo(spark, dir, "wave28:embedD2")(
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos").as("i"),
          expr("CAST(floor(CAST(col AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)").as("qv"))
        .join(broadcast(cen), Seq("label", "i"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum((col("qv") - col("c")) * (col("qv") - col("c"))).as("d2")))
    val st = d2.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(dec(col("d2"))).as("sd"),
        sum(dec(col("d2")) * dec(col("d2"))).as("sdd"))
      .filter(col("n") >= 2)
      .withColumn("mean_d2", col("sd").cast("double") / col("n").cast("double"))
      .withColumn("sd6", floor(lit(1e6) * sqrt(
        (dec(col("n")) * col("sdd") - col("sd") * col("sd")).cast("double") /
          (col("n").cast("double") * (col("n") - 1).cast("double")))).cast("long"))
    d2.join(broadcast(st), "label")
      .withColumn("is_out", col("d2").cast("double") >
        col("mean_d2") + lit(2.0) * (col("sd6").cast("double") / lit(1e6)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (max(col("mean_d2")) / lit(1e12)).as("mean_dist2"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        (max(col("d2")).cast("double") / lit(1e12)).as("max_dist2"))
      .orderBy(col("label"))
  }

  val embedOutliersSql: String =
    """WITH q AS MATERIALIZED (
      |  SELECT vec_id, label, i,
      |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
      |  FROM embeddings, (SELECT unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS i)),
      |per AS (SELECT label, i, CAST(SUM(qv) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM q GROUP BY 1, 2),
      |cen AS (SELECT label, i,
      |    (CASE WHEN s < 0 THEN -1 ELSE 1 END) * (abs(s) // n) AS c
      |  FROM per),
      |d2 AS MATERIALIZED (SELECT q.label, q.vec_id,
      |    CAST(SUM((q.qv - cen.c) * (q.qv - cen.c)) AS BIGINT) AS d2
      |  FROM q JOIN cen ON q.label = cen.label AND q.i = cen.i
      |  GROUP BY 1, 2),
      |st AS (SELECT label, n,
      |    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d2,
      |    CAST(FLOOR(1e6 * sqrt(
      |      CAST(CAST(n AS HUGEINT) * sdd - sd * sd AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))) AS BIGINT) AS sd6
      |  FROM (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(SUM(CAST(d2 AS HUGEINT)) AS HUGEINT) AS sd,
      |      CAST(SUM(CAST(d2 AS HUGEINT) * d2) AS HUGEINT) AS sdd
      |    FROM d2 GROUP BY 1)
      |  WHERE n >= 2)
      |SELECT d2.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  MAX(st.mean_d2) / 1e12 AS mean_dist2,
      |  CAST(SUM(CASE WHEN CAST(d2.d2 AS DOUBLE) >
      |    st.mean_d2 + 2.0 * (CAST(st.sd6 AS DOUBLE) / 1e6)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(MAX(d2.d2) AS DOUBLE) / 1e12 AS max_dist2
      |FROM d2 JOIN st USING (label)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_fpp_plan" -> (bloomFppPlanQ _),
    "cluster_purity" -> (clusterPurityQ _),
    "embed_outliers" -> (embedOutliersQ _))

  val oracleSql: Map[String, String] = Map(
    "bloom_fpp_plan" -> bloomFppPlanSql,
    "cluster_purity" -> clusterPuritySql,
    "embed_outliers" -> embedOutliersSql)
}
