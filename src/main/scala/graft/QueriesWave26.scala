package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 wave 26: the Selinger join-enumeration DP (the optimizer
  * algorithm the whole cardinality-estimation stack exists to feed),
  * binned Gaussian-mixture EM (ML on a histogram — one scan, then
  * 256-row iterations), contrastive hard-negative mining over the
  * embedding cloud, multi-touch linear attribution, and the dedup
  * saturation curve (how much of each new data decile is actually
  * new). Portability discipline unchanged: exact integers and
  * fixed-order doubles, per-bin responsibilities on the 1e-6 grid
  * around the one libm exp, md5 for seeded draws.
  */
object QueriesWave26 extends QueryModule {

  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  // ---- dp_join_enum: Selinger dynamic-programming join enumeration ----

  /** (name, bit, neighbor-mask) for the 6-table join graph:
    * region(1)-nation(2), nation-customer(4), nation-supplier(8),
    * customer-orders(16), orders-lineitem(32), supplier-lineitem.
    */
  private val dpTables: Seq[(String, Int, Int)] = Seq(
    ("region", 1, 2), ("nation", 2, 1 | 4 | 8), ("customer", 4, 2 | 16),
    ("supplier", 8, 2 | 32), ("orders", 16, 4 | 32), ("lineitem", 32, 16 | 8))

  /** (edge-bits, ndv stat column) per join edge. */
  private val dpEdges: Seq[(Int, String)] = Seq(
    (3, "ndv_rn"), (6, "ndv_nc"), (10, "ndv_ns"),
    (20, "ndv_co"), (48, "ndv_ol"), (40, "ndv_sl"))

  /** System-R cardinality of the join over subset `m` (a bitmask
    * expression): Π table cards / Π max-ndv of every edge inside the
    * subset — fixed factor order (tables then edges, ascending), so
    * both engines multiply the same doubles the same way.
    */
  private def dpCard(m: String): String = {
    val num = dpTables
      .map { case (n, bit, _) =>
        s"(CASE WHEN (($m) & $bit) != 0 THEN card_${n.head} ELSE 1.0 END)" }
      .mkString(" * ")
    val den = dpEdges
      .map { case (bits, c) =>
        s"(CASE WHEN (($m) & $bits) = $bits THEN $c ELSE 1.0 END)" }
      .mkString(" * ")
    s"(($num) / ($den))"
  }

  /** Naive schema-order left-deep chain r>n>c>s>o>l: the sum of its
    * intermediate cardinalities (prefix masks 3,7,15,31,63).
    */
  private val dpNaive: String =
    Seq(3, 7, 15, 31, 63).map(m => dpCard(m.toString)).mkString(" + ")

  /** The Selinger (System-R) join-order DP, run AS A QUERY — the
    * consumer every estimator row (`naive_est`..`nar_est`,
    * `join_card_est`, `join_order_advisor`'s 3-table greedy) ultimately
    * feeds: exact left-deep enumeration over the 6-table TPC-H-ish
    * join graph, C(S) = min over connected decompositions of
    * C(S\t) + card(S), card by the System-R formula over one
    * broadcast catalog-stats row. Levels are ≤2^6-row frames joined
    * with the 6-row table spine; the per-level argmin is a
    * mask-partitioned window with a total (cost, order) tie-break, so
    * the chosen plan string is deterministic on both engines. Reports
    * the best order against the naive schema-order chain — the number
    * an optimizer buys you. At any data scale this costs six scalar
    * stat aggregates + constant-size DP algebra.
    */
  def dpJoinEnumQ(spark: SparkSession, dir: String): DataFrame = {
    val stats = dpStats(spark, dir)
    val singles = dpTables.map { case (n, bit, nbr) =>
      spark.range(1).select(lit(n).as("tname"), lit(bit).as("bit"), lit(nbr).as("nbr"))
    }.reduce(_.unionAll(_))
    var lvl = singles.select(col("bit").as("mask"), lit(0.0).as("cost"),
      col("tname").as("ord"))
    for (_ <- 2 to dpTables.size) {
      val cand = lvl.crossJoin(broadcast(singles))
        .filter((col("mask").bitwiseAND(col("bit")) === 0) &&
          (col("mask").bitwiseAND(col("nbr")) =!= 0))
        .withColumn("mask2", col("mask").bitwiseOR(col("bit")))
        .crossJoin(broadcast(stats))
        .withColumn("cnew", col("cost") + expr(dpCard("mask2")))
        .withColumn("onew", concat(col("ord"), lit(">"), col("tname")))
      lvl = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("mask2")).orderBy(col("cnew"), col("onew"))))
        .filter(col("rn") === 1)
        .select(col("mask2").as("mask"), col("cnew").as("cost"), col("onew").as("ord"))
    }
    lvl.filter(col("mask") === (1 << dpTables.size) - 1)
      .crossJoin(broadcast(stats.select(expr(dpNaive).as("naive_cost"))))
      .select(col("ord").as("best_order"), col("cost").as("best_cost"),
        col("naive_cost"),
        (col("naive_cost") / col("cost")).as("savings_ratio"))
  }

  /** One broadcast catalog row: per-table cards and per-edge max NDVs
    * as doubles (the same stats surface `join_order_advisor` reads).
    */
  private def dpStats(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave26:dpStats") {
      def t(n: String) = Tables(spark, dir, n)
      t("region").agg(count(lit(1)).cast("double").as("card_r"),
          count_distinct(col("r_regionkey")).as("__r_rk"))
        .crossJoin(t("nation").agg(count(lit(1)).cast("double").as("card_n"),
          count_distinct(col("n_regionkey")).as("__n_rk"),
          count_distinct(col("n_nationkey")).as("__n_nk")))
        .crossJoin(t("customer").agg(count(lit(1)).cast("double").as("card_c"),
          count_distinct(col("c_nationkey")).as("__c_nk"),
          count_distinct(col("c_custkey")).as("__c_ck")))
        .crossJoin(t("supplier").agg(count(lit(1)).cast("double").as("card_s"),
          count_distinct(col("s_nationkey")).as("__s_nk"),
          count_distinct(col("s_suppkey")).as("__s_sk")))
        .crossJoin(t("orders").agg(count(lit(1)).cast("double").as("card_o"),
          count_distinct(col("o_custkey")).as("__o_ck"),
          count_distinct(col("o_orderkey")).as("__o_ok")))
        .crossJoin(t("lineitem").agg(count(lit(1)).cast("double").as("card_l"),
          count_distinct(col("l_orderkey")).as("__l_ok"),
          count_distinct(col("l_suppkey")).as("__l_sk")))
        .select(col("card_r"), col("card_n"), col("card_c"), col("card_s"),
          col("card_o"), col("card_l"),
          greatest(col("__r_rk"), col("__n_rk")).cast("double").as("ndv_rn"),
          greatest(col("__n_nk"), col("__c_nk")).cast("double").as("ndv_nc"),
          greatest(col("__n_nk"), col("__s_nk")).cast("double").as("ndv_ns"),
          greatest(col("__c_ck"), col("__o_ck")).cast("double").as("ndv_co"),
          greatest(col("__o_ok"), col("__l_ok")).cast("double").as("ndv_ol"),
          greatest(col("__s_sk"), col("__l_sk")).cast("double").as("ndv_sl"))
    }

  val dpJoinEnumSql: String = {
    val tblRows = dpTables
      .map { case (n, bit, nbr) => s"('$n', $bit, $nbr)" }.mkString(", ")
    val lvls = (2 to dpTables.size).map { k =>
      s"""lvl$k AS (
         |  SELECT mask2 AS mask, cnew AS cost, onew AS ord FROM (
         |    SELECT (p.mask | t.bit) AS mask2,
         |      p.cost + ${dpCard("p.mask | t.bit")} AS cnew,
         |      p.ord || '>' || t.tname AS onew
         |    FROM lvl${k - 1} p, tbls t, stats
         |    WHERE (p.mask & t.bit) = 0 AND (p.mask & t.nbr) != 0)
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY mask2 ORDER BY cnew, onew) = 1)""".stripMargin
    }
    s"""WITH stats AS MATERIALIZED (SELECT
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM region) AS card_r,
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM nation) AS card_n,
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM customer) AS card_c,
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM supplier) AS card_s,
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM orders) AS card_o,
       |    (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem) AS card_l,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT r_regionkey) FROM region),
       |      (SELECT COUNT(DISTINCT n_regionkey) FROM nation)) AS DOUBLE) AS ndv_rn,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT n_nationkey) FROM nation),
       |      (SELECT COUNT(DISTINCT c_nationkey) FROM customer)) AS DOUBLE) AS ndv_nc,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT n_nationkey) FROM nation),
       |      (SELECT COUNT(DISTINCT s_nationkey) FROM supplier)) AS DOUBLE) AS ndv_ns,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT c_custkey) FROM customer),
       |      (SELECT COUNT(DISTINCT o_custkey) FROM orders)) AS DOUBLE) AS ndv_co,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT o_orderkey) FROM orders),
       |      (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)) AS DOUBLE) AS ndv_ol,
       |    CAST(GREATEST((SELECT COUNT(DISTINCT s_suppkey) FROM supplier),
       |      (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem)) AS DOUBLE) AS ndv_sl),
       |tbls AS (SELECT * FROM (VALUES $tblRows) AS t(tname, bit, nbr)),
       |lvl1 AS (SELECT bit AS mask, 0.0 AS cost, tname AS ord FROM tbls),
       |${lvls.mkString(",\n")}
       |SELECT ord AS best_order, cost AS best_cost,
       |  ($dpNaive) AS naive_cost,
       |  ($dpNaive) / cost AS savings_ratio
       |FROM lvl${dpTables.size}, stats
       |WHERE mask = ${(1 << dpTables.size) - 1}""".stripMargin
  }

  // ---- em_mixture: binned 2-component Gaussian EM on event values ----

  val emBins = 256
  val emIters = 5

  /** Per-bin responsibility of component 1 on the 1e-6 grid — the ONE
    * libm call (exp) of the whole EM, quantized immediately so every
    * M-step sum is exact integer algebra. Log-space form: r1 =
    * 1/(1 + ((1−π)√v1/(π√v2))·exp(d1−d2)); exp overflow/underflow
    * saturate r1 at exactly 0/1 identically on both engines.
    */
  private val emKExpr: String = {
    val x = "(CAST(x6 AS DOUBLE) / 1000000.0)"
    s"""CAST(round(1000000.0 / (1.0 +
       |  (((1.0 - pi1) * sqrt(v1)) / (pi1 * sqrt(v2))) *
       |  exp((($x - mu1) * ($x - mu1)) / (2.0 * v1)
       |    - (($x - mu2) * ($x - mu2)) / (2.0 * v2)))) AS BIGINT)""".stripMargin
  }

  /** M-step SUMs over (k, cnt, x6); `hi` = the wide integer type. */
  private def emSums(hi: String): Seq[(String, String)] = Seq(
    "s1" -> s"SUM(CAST(k AS $hi) * cnt)",
    "sx1" -> s"SUM(CAST(k AS $hi) * cnt * x6)",
    "sxx1" -> s"SUM(CAST(k AS $hi) * cnt * x6 * x6)",
    "s2" -> s"SUM(CAST(1000000 - k AS $hi) * cnt)",
    "sx2" -> s"SUM(CAST(1000000 - k AS $hi) * cnt * x6)",
    "sxx2" -> s"SUM(CAST(1000000 - k AS $hi) * cnt * x6 * x6)")

  /** New parameters from the exact sums; old params in scope for the
    * degenerate fallback, variance floored at one bin width squared.
    */
  private val emParamExprs: Seq[String] = {
    def mu(s: String, sx: String, old: String) =
      s"CASE WHEN $s = 0 THEN $old ELSE CAST($sx AS DOUBLE) / (CAST($s AS DOUBLE) * 1000000.0) END"
    def v(s: String, sx: String, sxx: String, old: String) =
      s"""GREATEST(CASE WHEN $s = 0 THEN $old
         |  ELSE CAST($sxx AS DOUBLE) / (CAST($s AS DOUBLE) * 1e12)
         |    - (${mu(s, sx, old)}) * (${mu(s, sx, old)}) END,
         |  ((mx - mn) / $emBins.0) * ((mx - mn) / $emBins.0))""".stripMargin
    Seq("mn", "mx",
      s"""LEAST(GREATEST(CAST(s1 AS DOUBLE) / (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE)),
         |  0.001), 0.999) AS pi1""".stripMargin,
      s"${mu("s1", "sx1", "mu1")} AS mu1",
      s"${v("s1", "sx1", "sxx1", "v1")} AS v1",
      s"${mu("s2", "sx2", "mu2")} AS mu2",
      s"${v("s2", "sx2", "sxx2", "v2")} AS v2")
  }

  /** (b, cnt, x6): the 256-bin equi-width histogram of event value —
    * the one data-scale aggregate the EM iterates over.
    */
  private[graft] def emHist(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave26:emHist") {
      val st = Tables(spark, dir, "events")
        .agg(min(col("value")).cast("double").as("mn"),
          max(col("value")).cast("double").as("mx"))
      Tables(spark, dir, "events")
        .crossJoin(broadcast(st))
        .select(least(floor((col("value") - col("mn")) * lit(emBins.toDouble) /
          (col("mx") - col("mn"))).cast("long"), lit((emBins - 1).toLong)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(st))
        .select(col("b"), col("cnt"),
          expr(s"CAST(round(1e6 * (mn + (CAST(b AS DOUBLE) + 0.5) " +
            s"* ((mx - mn) / $emBins.0))) AS BIGINT)").as("x6"),
          col("mn"), col("mx"))
    }

  /** Two-component Gaussian-mixture EM fit of the event-value
    * distribution, run on its 256-bin histogram (the classic
    * scale-out trick: ONE data pass builds the histogram; all
    * [[emIters]] EM iterations are 256-row × 1-row-params algebra) —
    * the model-based upgrade of `hist2d`/`grid_dbscan`'s density
    * views and the generative counterpart of `negbin_fit`'s count
    * model. Per-bin responsibilities are 1e-6-grid integers around
    * the single libm exp; every M-step moment is an exact
    * DECIMAL/HUGEINT sum; parameter updates are fixed-order doubles
    * with a clamped mixing weight and a one-bin² variance floor, so
    * five chained iterations replay bit-identically in the oracle's
    * CTE chain.
    */
  def emMixtureQ(spark: SparkSession, dir: String): DataFrame = {
    val bins = emHist(spark, dir)
    val st = bins.groupBy(col("mn"), col("mx")).agg(sum(col("cnt")).as("n"))
    emFitted(spark, dir)
      .crossJoin(broadcast(st.select(col("n"))))
      .selectExpr("n", "pi1", "mu1", "sqrt(v1) AS sigma1", "mu2",
        "sqrt(v2) AS sigma2")
  }

  /** The memoized fitted mixture parameters (mn, mx, pi1, mu1, v1,
    * mu2, v2) — the trained artifact `em_mixture` reports and Wave
    * 29's goodness-of-fit consumes.
    */
  private[graft] def emFitted(spark: SparkSession, dir: String): DataFrame = {
    val bins = emHist(spark, dir)
    val st = bins.groupBy(col("mn"), col("mx")).agg(sum(col("cnt")).as("n"))
    var p = st.selectExpr("mn", "mx",
      "0.5 AS pi1",
      "mn + (mx - mn) / 4.0 AS mu1",
      "((mx - mn) / 4.0) * ((mx - mn) / 4.0) AS v1",
      "mn + (mx - mn) * 3.0 / 4.0 AS mu2",
      "((mx - mn) / 4.0) * ((mx - mn) / 4.0) AS v2")
    for (_ <- 1 to emIters) {
      val withK = bins.select(col("cnt"), col("x6")).crossJoin(broadcast(p))
        .selectExpr("cnt", "x6", "mn", "mx", "pi1", "mu1", "v1", "mu2", "v2",
          s"$emKExpr AS k")
      p = withK
        .groupBy(col("mn"), col("mx"), col("pi1"), col("mu1"), col("v1"),
          col("mu2"), col("v2"))
        .agg(expr(emSums("DECIMAL(38,0)").head._2).as("s1"),
          emSums("DECIMAL(38,0)").tail.map { case (n, e) => expr(e).as(n) }: _*)
        .selectExpr(emParamExprs: _*)
    }
    // the fitted parameters are a deterministic trained artifact —
    // memoized like every model frame, so a session fits once
    Memo(spark, dir, "wave26:emFit")(p)
  }

  /** Shared oracle CTEs `st` (min/max/count) and `bins` (the 256-bin
    * histogram) — used by em_mixture and Wave 29's goodness-of-fit.
    */
  private[graft] val emBinsCte: String =
    s"""st AS MATERIALIZED (SELECT CAST(MIN(value) AS DOUBLE) AS mn,
       |    CAST(MAX(value) AS DOUBLE) AS mx, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events),
       |bins AS MATERIALIZED (SELECT b, cnt,
       |    CAST(round(1e6 * (mn + (CAST(b AS DOUBLE) + 0.5) * ((mx - mn) / $emBins.0))) AS BIGINT) AS x6
       |  FROM (SELECT LEAST(CAST(FLOOR((CAST(value AS DOUBLE) - mn) * $emBins.0
       |        / (mx - mn)) AS BIGINT), ${emBins - 1}) AS b,
       |      CAST(COUNT(*) AS BIGINT) AS cnt
       |    FROM events, st GROUP BY 1), st)""".stripMargin

  /** The em0..emN iteration CTE chain (expects `st`/`bins` in scope) —
    * shared by em_mixture's oracle and Wave 29's goodness-of-fit.
    */
  private[graft] val emChainCte: String = {
    val iters = (1 to emIters).map { k =>
      s"""em$k AS (
         |  SELECT ${emParamExprs.mkString(",\n    ")}
         |  FROM (
         |    SELECT mn, mx, pi1, mu1, v1, mu2, v2,
         |      ${emSums("HUGEINT").map { case (n, e) => s"$e AS $n" }.mkString(",\n      ")}
         |    FROM (SELECT b.cnt, b.x6, p.mn, p.mx, p.pi1, p.mu1, p.v1, p.mu2, p.v2,
         |        $emKExpr AS k
         |      FROM bins b, em${k - 1} p)
         |    GROUP BY 1, 2, 3, 4, 5, 6, 7))""".stripMargin
    }
    s"""em0 AS (SELECT mn, mx, 0.5 AS pi1,
       |    mn + (mx - mn) / 4.0 AS mu1,
       |    ((mx - mn) / 4.0) * ((mx - mn) / 4.0) AS v1,
       |    mn + (mx - mn) * 3.0 / 4.0 AS mu2,
       |    ((mx - mn) / 4.0) * ((mx - mn) / 4.0) AS v2
       |  FROM st),
       |${iters.mkString(",\n")}""".stripMargin
  }

  val emMixtureSql: String =
    s"""WITH $emBinsCte,
       |$emChainCte
       |SELECT st.n, pi1, mu1, sqrt(v1) AS sigma1, mu2, sqrt(v2) AS sigma2
       |FROM em$emIters, st""".stripMargin

  // ---- hard_negatives: contrastive triplet mining over embeddings ----

  val hnRate = 8L
  val hnMargin6 = 100000L // 0.1 cosine margin on the 1e-6 grid

  /** Hard-negative / hard-positive mining for contrastive embedding
    * training (the triplet-selection step of every metric-learning
    * pipeline), run THROUGH the IVF index — the shape a billion-vector
    * pipeline actually executes: every vector is assigned to its
    * nearest coarse cell (the deterministic centroid slice the
    * `embed_ivf_ann`/`semantic_dedup` index uses, so the oracle
    * replays the assignment bit-for-bit); each md5-sampled anchor
    * probes its nProbe nearest cells and mines only the vectors
    * ASSIGNED to those cells — the most-similar DIFFERENT-label
    * candidate (hardest negative), the least-similar SAME-label
    * candidate (hardest positive), and whether the 0.1-margin triplet
    * constraint is violated. Pair work is anchors × probed-cell
    * population, never anchors × corpus (cells are IVF-list-sized at
    * scale — the `semantic_dedup`/`knn_graph` cluster-bounded
    * discipline; Wave26Spec compares the probed mining against the
    * brute-force truth on the test corpus). Cosines ride the exact
    * quantized-integer dot path and pin to the 1e-6 grid, so the
    * per-anchor max/min need no tie-break at all. Reported per label.
    */
  /** Per-anchor mining products (la, va, hn6, hp6) over the probed
    * cells — the frame [[hardNegativesQ]] aggregates; exposed so the
    * spec can compare probed mining against the brute-force truth. */
  private[graft] def hardNegativesPerAnchor(spark: SparkSession, dir: String): DataFrame =
    // anchor-bounded mined frame memoized per session (the lshPairs
    // discipline): the assign-probe-score pipeline runs once
    Memo(spark, dir, "wave26:hnPerAnchor")(
      hardNegativesPairs(spark, dir)
        .groupBy(col("la"), col("va"))
        .agg(max(when(col("la") =!= col("lb"), col("cos6"))).as("hn6"),
          min(when(col("la") === col("lb"), col("cos6"))).as("hp6"))
        .filter(col("hn6").isNotNull && col("hp6").isNotNull))

  /** (vec_id, label, qv, nn, cent_id, cos_c): every vector's exact
    * quantized cosine to each deterministic coarse centroid — the one
    * frame cell assignment AND probe-list ranking both derive from
    * (hard_negatives here, bitext_mine in Wave 30). Memoized: one
    * corpus × broadcast-centroids pass per session. */
  private[graft] def ivfAcos(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave26:ivfAcos") {
      val q = QueriesWave6.knnQuantized(spark, dir)
      val cents = q.filter(col("vec_id") >= QueriesText.ivfCentLo &&
          col("vec_id") < QueriesText.ivfCentLo + QueriesText.ivfNCent)
        .select(col("vec_id").as("cent_id"), col("qv").as("cv"),
          col("nn").as("ncent"))
      q.crossJoin(broadcast(cents))
        .withColumn("cos_c",
          expr("quantized_dot(qv, cv)").cast("double") /
            sqrt(col("nn").cast("double")) / sqrt(col("ncent").cast("double")))
        .select(col("vec_id"), col("label"), col("qv"), col("nn"),
          col("cent_id"), col("cos_c"))
    }

  /** Each vector's assigned coarse cell (argmax cosine, lower cent_id
    * on ties) — the oracle-replayable IVF assignment. */
  private[graft] def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave26:ivfAssign")(
      ivfAcos(spark, dir)
        .groupBy(col("vec_id"), col("label"), col("qv"), col("nn"))
        .agg(max_by(col("cent_id"), struct(col("cos_c"), -col("cent_id")))
          .as("list_id")))

  /** The nProbe nearest cells per vector in `sel` (cos desc, cent_id
    * tie-break) — the probe lists of an IVF search. */
  private[graft] def ivfProbes(
      spark: SparkSession, dir: String, sel: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ivfAcos(spark, dir)
      .filter(sel)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_c").desc, col("cent_id"))))
      .filter(col("__rn") <= QueriesText.ivfNProbe)
      .select(col("vec_id"), col("label"), col("qv"), col("nn"),
        col("cent_id").as("list_id"))
  }

  /** The scored (anchor × probed-cell candidate) pair frame — the
    * operator's whole data-scale cost, exposed so PairGrowthAuditSpec
    * can measure that it stays a small fraction of anchors × corpus. */
  private[graft] def hardNegativesPairs(spark: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssign(spark, dir)
    val probes = ivfProbes(spark, dir,
      md5Long(concat(lit("hn:"), col("vec_id").cast("string"))) % hnRate === 0L)
      .select(col("vec_id").as("va"), col("label").as("la"),
        col("qv").as("qa"), col("nn").as("na"), col("list_id"))
    probes
      .join(assign.select(col("vec_id").as("vb"), col("label").as("lb"),
        col("qv").as("qb"), col("nn").as("nb"), col("list_id")), Seq("list_id"))
      .filter(col("va") =!= col("vb"))
      .withColumn("cos6", expr(
        """CAST(round(1e6 * (CAST(quantized_dot(qa, qb) AS DOUBLE)
          | / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE)))) AS BIGINT)"""
          .stripMargin))
  }

  def hardNegativesQ(spark: SparkSession, dir: String): DataFrame =
    hardNegativesPerAnchor(spark, dir)
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        (sum(col("hn6")).cast("double") / lit(1e6) / count(lit(1))).as("mean_hard_neg_cos"),
        (sum(col("hp6") - col("hn6")).cast("double") / lit(1e6) / count(lit(1)))
          .as("mean_margin"),
        sum(when(col("hn6") + hnMargin6 > col("hp6"), 1L).otherwise(0L))
          .as("n_violations"))
      .orderBy(col("label"))

  /** Oracle twin of [[ivfAcos]] — the cent/asex/adots/acos CTE chain
    * over the deterministic centroid slice. Assumes knnQuantCte's
    * q/norms precede it. Shared by hard_negatives and Wave 30's
    * bitext_mine. */
  private[graft] val ivfAcosCtes: String = {
    val (cLo, cHi) =
      (QueriesText.ivfCentLo, QueriesText.ivfCentLo + QueriesText.ivfNCent)
    s"""cent AS (SELECT vec_id AS cent_id, qv AS cv FROM q
       |         WHERE vec_id >= $cLo AND vec_id < $cHi),
       |asex AS (SELECT v.vec_id, c.cent_id, v.qv AS qv, c.cv AS cv,
       |                unnest(range(1, len(v.qv) + 1)) AS i
       |         FROM q v, cent c),
       |adots AS (SELECT vec_id, cent_id, CAST(SUM(qv[i] * cv[i]) AS BIGINT) AS dot
       |          FROM asex GROUP BY 1, 2),
       |acos AS (SELECT a.vec_id, a.cent_id,
       |           CAST(a.dot AS DOUBLE) / sqrt(CAST(nv.nn AS DOUBLE)) / sqrt(CAST(nc.nn AS DOUBLE)) AS cos_c
       |         FROM adots a
       |         JOIN norms nv ON nv.vec_id = a.vec_id
       |         JOIN norms nc ON nc.vec_id = a.cent_id)""".stripMargin
  }

  val hardNegativesSql: String = {
    s"""WITH ${QueriesWave6.knnQuantCte},
       |$ivfAcosCtes,
       |assign AS (SELECT vec_id, cent_id AS list_id FROM (
       |             SELECT vec_id, cent_id,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |             FROM acos) WHERE rn = 1),
       |plist AS (SELECT vec_id AS va, cent_id AS list_id FROM (
       |            SELECT vec_id, cent_id,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
       |            FROM acos
       |            WHERE CAST(('0x' || substr(md5('hn:' || CAST(vec_id AS VARCHAR)), 1, 13))
       |              AS BIGINT) % $hnRate = 0)
       |          WHERE rn <= ${QueriesText.ivfNProbe}),
       |pex AS (SELECT qa.label AS la, p.va, qb.label AS lb, b.vec_id AS vb,
       |    qa.qv AS qva, qb.qv AS qvb, unnest(range(1, len(qa.qv) + 1)) AS i
       |  FROM plist p
       |  JOIN assign b ON b.list_id = p.list_id AND b.vec_id != p.va
       |  JOIN q qa ON qa.vec_id = p.va
       |  JOIN q qb ON qb.vec_id = b.vec_id),
       |dots AS MATERIALIZED (SELECT la, va, lb, vb, CAST(SUM(qva[i] * qvb[i]) AS BIGINT) AS dot
       |  FROM pex GROUP BY 1, 2, 3, 4),
       |cs AS (SELECT d.la, d.va, d.lb,
       |    CAST(round(1e6 * (CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)))) AS BIGINT) AS cos6
       |  FROM dots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb),
       |per AS (SELECT la, va,
       |    MAX(CASE WHEN la != lb THEN cos6 END) AS hn6,
       |    MIN(CASE WHEN la = lb THEN cos6 END) AS hp6
       |  FROM cs GROUP BY 1, 2)
       |SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_anchors,
       |  CAST(SUM(hn6) AS DOUBLE) / 1e6 / COUNT(*) AS mean_hard_neg_cos,
       |  CAST(SUM(hp6 - hn6) AS DOUBLE) / 1e6 / COUNT(*) AS mean_margin,
       |  CAST(SUM(CASE WHEN hn6 + $hnMargin6 > hp6 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
       |FROM per WHERE hn6 IS NOT NULL AND hp6 IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- linear_attribution: multi-touch credit over the click window ----

  val laWindowUs = 3600000000L // 1 hour

  /** Multi-touch LINEAR attribution — the equal-split companion of
    * `last_touch_attribution` (which gives the newest click
    * everything): each purchase's value splits equally across ALL of the
    * user's clicks in the prior hour, credits aggregated by
    * click hour-of-day. The per-(purchase, click) credit is the exact
    * integer floor((1e6·value)/n_clicks) — floor on BOTH engines (not
    * `div`/`//`, whose truncate-vs-floor semantics diverge on negative
    * refund rows), sums exact, the sub-cent remainder dropped. One
    * user-keyed interval self-join (the `interval_join` shape), two
    * keyed aggregates; the report frame is 24 rows.
    */
  def linearAttributionQ(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        expr("unix_micros(ts)").as("cus"), hour(col("ts")).as("click_hour"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        expr("unix_micros(ts)").as("pus"),
        expr("CAST(round(1e6 * value) AS BIGINT)").as("v6"))
    val touched = purch.join(clicks, Seq("user_id"))
      .filter(col("cus") <= col("pus") && col("cus") > col("pus") - laWindowUs)
    val counted = touched
      .withColumn("n_clicks", count(lit(1)).over(Window.partitionBy(col("p_id"))))
      // FLOOR division on both engines (Spark `div` truncates toward
      // zero, DuckDB `//` floors — they diverge on negative refunds;
      // |v6| << 2^53 so the double path is the exact floor)
      .select(col("click_hour"),
        expr("CAST(FLOOR(CAST(v6 AS DOUBLE) / n_clicks) AS BIGINT)").as("credit6"))
    counted.groupBy(col("click_hour"))
      .agg(count(lit(1)).as("n_credits"),
        (sum(col("credit6")).cast("double") / lit(1e6)).as("credited_value"))
      .orderBy(col("click_hour"))
  }

  val linearAttributionSql: String =
    s"""WITH clicks AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus,
       |    EXTRACT(hour FROM ts) AS click_hour
       |  FROM events WHERE event_type = 'click'),
       |purch AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS pus,
       |    CAST(round(1e6 * value) AS BIGINT) AS v6
       |  FROM events WHERE event_type = 'purchase'),
       |touched AS MATERIALIZED (SELECT p.p_id, p.v6, c.click_hour
       |  FROM purch p JOIN clicks c ON p.user_id = c.user_id
       |  WHERE c.cus <= p.pus AND c.cus > p.pus - $laWindowUs),
       |counted AS (SELECT click_hour,
       |    CAST(FLOOR(CAST(v6 AS DOUBLE) / (COUNT(*) OVER (PARTITION BY p_id))) AS BIGINT) AS credit6
       |  FROM touched)
       |SELECT CAST(click_hour AS INT) AS click_hour,
       |  CAST(COUNT(*) AS BIGINT) AS n_credits,
       |  CAST(SUM(credit6) AS DOUBLE) / 1e6 AS credited_value
       |FROM counted GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- dedup_saturation: novelty curve over corpus growth ----

  /** Dedup saturation curve — "how much of each next data slice is
    * actually NEW": docs in doc_id (arrival) order split into 10
    * deciles by the distributed rank (no global-sort window), each
    * exact-duplicate fingerprint attributed to the FIRST decile it
    * appears in, cumulative unique counts and per-decile novelty
    * rates reported. The planning curve behind "is scraping more of
    * this source still worth it" — `heaps_law_fit` fits type growth,
    * this measures document-level novelty against the dedup family's
    * own fingerprints. One scan + fingerprint groupBy + a 10-row
    * rollup.
    */
  def dedupSaturationQ(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.operators.TextAnalysis
      .fingerprint(Tables(spark, dir, "documents"))
    val dec = graft.operators.Layout
      .rankedNtile(fp, Seq(col("doc_id")), 10, "decile")
    val perDec = dec.groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
    val firsts = dec.groupBy(col("fingerprint"))
      .agg(min(col("decile")).as("first_decile"))
      .groupBy(col("first_decile")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDec
      .join(firsts, col("decile") === col("first_decile"), "left_outer")
      .select(col("decile"), col("n_docs"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      // 10-row frame: documented bounded unpartitioned window
      .withColumn("cum_unique", sum(col("n_new")).over(w))
      .withColumn("novelty_rate",
        col("n_new").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("decile"))
  }

  val dedupSaturationSql: String =
    """WITH fp AS MATERIALIZED (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
      |    NTILE(10) OVER (ORDER BY doc_id) AS decile
      |  FROM documents),
      |pd AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs FROM fp GROUP BY 1),
      |fd AS (SELECT first_decile, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
      |    SELECT fingerprint, MIN(decile) AS first_decile FROM fp GROUP BY 1)
      |  GROUP BY 1)
      |SELECT pd.decile, pd.n_docs, COALESCE(fd.n_new, 0) AS n_new,
      |  CAST(SUM(COALESCE(fd.n_new, 0)) OVER (ORDER BY pd.decile
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_unique,
      |  CAST(COALESCE(fd.n_new, 0) AS DOUBLE) / CAST(pd.n_docs AS DOUBLE) AS novelty_rate
      |FROM pd LEFT JOIN fd ON fd.first_decile = pd.decile
      |ORDER BY pd.decile""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dp_join_enum" -> (dpJoinEnumQ _),
    "em_mixture" -> (emMixtureQ _),
    "hard_negatives" -> (hardNegativesQ _),
    "linear_attribution" -> (linearAttributionQ _),
    "dedup_saturation" -> (dedupSaturationQ _))

  val oracleSql: Map[String, String] = Map(
    "dp_join_enum" -> dpJoinEnumSql,
    "em_mixture" -> emMixtureSql,
    "hard_negatives" -> hardNegativesSql,
    "linear_attribution" -> linearAttributionSql,
    "dedup_saturation" -> dedupSaturationSql)
}
