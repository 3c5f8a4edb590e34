package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Metrics

/** Round-11 wave: the factorized-column estimation leg — the one
  * reference estimation mechanism with no exercised counterpart until
  * now. The reference bit-slices a high-cardinality column's dictionary
  * code into subcolumns (scardina/common.py:137-196, threshold
  * `dist_size > 2^fact_threshold`) and, during progressive sampling,
  * evaluates predicates over the ORIGINAL column by combining per-slice
  * factor masks (scardina/estimators.py:796 _update_factor_masks, used
  * at :251-315): IN-lists AND a per-literal equality mask per sampled
  * slice; the final estimate is the mass that survives every slice.
  *
  * Re-expressed Spark-first and deterministic (no Monte-Carlo noise, so
  * the rows hash-gate):
  *
  *  - `fact_est` — the slice-INDEPENDENCE estimate: est = Σ_{qualifying
  *    codes} Π_i P_i(slice_i(code)) · |T|, i.e. the model treats the
  *    subcolumns as independent and the predicate mask picks the
  *    surviving slice tuples (code ↔ slice-tuple is a bijection because
  *    the slices partition the code's bits). Per-code contributions are
  *    exact-integer slice-marginal products (≤ n^k < 2^53) divided by
  *    n^(k−1) and 2^-20-quantized before the sum, so the estimate is a
  *    defined grid value identical on both engines.
  *  - `fact_progressive` — the reference's mask-narrowing schedule:
  *    subcolumns are consumed most-significant-first (the reference
  *    samples descending scol order and masks the final slice's upper
  *    range, estimators.py:251-294); after j steps the surviving mass is
  *    Σ counts over the distinct j-slice PREFIXES of the qualifying
  *    codes — an upper bound that narrows monotonically and lands
  *    EXACTLY on the true cardinality at the last step (all bits
  *    consumed ⇒ prefix = code). Wave23Spec asserts both properties:
  *    the factored chain reproduces the unfactored truth, and each step
  *    only narrows.
  *
  * Scale shape: ONE keyed aggregate over the data table produces the
  * (value, code, count) frame; every downstream frame (slice marginals,
  * prefix counts, qualifying masks) is dictionary-sized, so at 100 TB
  * the estimator costs one scan + broadcast-sized algebra, exactly like
  * the reference's stats-table build.
  */
object QueriesWave23 extends QueryModule {

  /** fact_threshold = 6 bits (common.py:138): o_custkey's dictionary
    * (ndv ≈ 1.5k·sf·100) factorizes into ≥2 subcolumns at every test
    * scale — 2 slices at sf0.001/sf0.01, 3 at sf0.1.
    */
  val factThreshold = 6

  /** Workload: IN / range predicates over the high-ndv o_custkey —
    * rendered identically on both engines (`v` = the dictionary value).
    */
  val factSpecs: Seq[(String, String)] = Seq(
    ("fp01", "v <= 100"),
    ("fp02", "v BETWEEN 40 AND 200"),
    ("fp03", "v IN (7, 21, 40, 99, 150)"),
    ("fp04", "v > 120"))

  /** (value, code, row-count) for orders.o_custkey — the single
    * data-table scan every factorized frame derives from. Codes follow
    * the house dictionary (0=MASK, 1=NULL reserved; values from 2).
    */
  private def custCodeCounts(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave23:custCodeCounts") {
      val o = Tables(spark, dir, "orders")
      val counts = o.groupBy(col("o_custkey").as("v"))
        .agg(count(lit(1)).as("cnt"))
      counts.join(
        operators.Encoding.dictionary(o, "o_custkey")
          .withColumnRenamed("o_custkey", "v"), "v")
    }

  /** One-row geometry frame (mirrors common.py:142-149 / the SQL in
    * factorizeSql): ds = max code + 1, bl = ds.bit_length(),
    * k = ceil(bl / threshold), widths split evenly with the remainder
    * on the low slices; n_rows rides along for the denominators.
    */
  private def factGeom(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave23:factGeom") {
      custCodeCounts(spark, dir)
        .agg((max(col("code")) + lit(1)).cast("bigint").as("__ds"),
          sum(col("cnt")).cast("bigint").as("n_rows"))
        .select(col("n_rows"),
          length(bin(col("__ds"))).cast("int").as("bl"))
        .select(col("n_rows"), col("bl"),
          ceil(col("bl").cast("double") / lit(factThreshold))
            .cast("int").as("k"))
        .select(col("n_rows"), col("bl"), col("k"),
          floor(col("bl").cast("double") / col("k")).cast("int").as("base"))
        .withColumn("rem", (col("bl") - col("base") * col("k")).cast("int"))
    }

  /** Long-form (v, code, cnt, fact_idx, scol_code) slices of the
    * dictionary — Encoding.factorize over the code-count frame (the
    * dictionary holds every code, so dist_size matches the data's).
    */
  private def dictSlices(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave23:dictSlices")(
      operators.Encoding.factorize(
        custCodeCounts(spark, dir), "code", Seq("v", "code", "cnt"),
        factThreshold))

  /** Per-subcolumn marginal counts Σ cnt over codes sharing a slice
    * value — the factored model's per-scol distribution.
    */
  private def sliceMarginals(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave23:sliceMarginals")(
      dictSlices(spark, dir)
        .groupBy(col("fact_idx"), col("scol_code"))
        .agg(sum(col("cnt")).as("mcnt")))

  /** Qualifying (query_id, v, code, cnt) rows per spec — the factor
    * mask's domain side, evaluated on the VALUE domain like the
    * reference discretizes predicate literals (common.py:198).
    */
  private def qualCodes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave23:qualCodes") {
      val cc = custCodeCounts(spark, dir)
      factSpecs.map { case (id, pred) =>
        cc.filter(expr(pred)).select(lit(id).as("query_id"),
          col("v"), col("code"), col("cnt"))
      }.reduce(_.unionAll(_))
    }

  /** n^(k−1) as an exact double (n² ≤ 2^53 at every test scale; beyond
    * that both engines round the identical multiply identically).
    * Supports k ≤ 5 — 30 dictionary bits, ndv ≈ 10^9.
    */
  private def denCol(k: Column, n: Column): Column = {
    val nd = n.cast("double")
    when(k === 1, lit(1.0))
      .when(k === 2, nd)
      .when(k === 3, nd * nd)
      .when(k === 4, nd * nd * nd)
      .when(k === 5, nd * nd * nd * nd)
  }

  /** est / card / q-error of the slice-independence model per spec. */
  def factEstQ(spark: SparkSession, dir: String): DataFrame = {
    val slices = dictSlices(spark, dir)
    val qual = qualCodes(spark, dir)
    val marg = sliceMarginals(spark, dir)
    val geom = factGeom(spark, dir)
    val prods = qual
      .join(slices.select(col("code"), col("fact_idx"), col("scol_code")),
        "code")
      .join(broadcast(marg), Seq("fact_idx", "scol_code"))
      .groupBy(col("query_id"), col("code"))
      // exact integer Π over ≤5 slice marginals in DECIMAL(38,0) — n^5
      // at ndv ≈ 10^9 is ~10^31, far past BIGINT/2^53 but inside 38
      // digits; multiplication is order-free, so collect_list's order
      // is moot. The oracle computes the same product in HUGEINT; both
      // engines then round the identical exact integer to double once.
      .agg(aggregate(collect_list(col("mcnt").cast("decimal(38,0)")),
        lit(1L).cast("decimal(38,0)"),
        (acc, x) => (acc * x).cast("decimal(38,0)")).as("prod"))
    val est = prods
      .crossJoin(broadcast(geom))
      // 2^-20 fixed-point quantization of each code's contribution
      // (exact double ops: prod and n^(k−1) are exact, one correctly-
      // rounded divide, ×2^20 is an exponent shift, floor exact) —
      // the olsMoments discipline, so the sum is engine-portable
      .select(col("query_id"),
        floor(col("prod").cast("double") / denCol(col("k"), col("n_rows"))
          * lit(1048576.0)).cast("long").as("q20"))
      .groupBy(col("query_id"))
      .agg((sum(col("q20")).cast("double") / lit(1048576.0)).as("est"))
    val card = qual.groupBy(col("query_id"))
      .agg(sum(col("cnt")).cast("bigint").as("card"))
    est.join(card, "query_id")
      .crossJoin(broadcast(geom.select(col("k").as("n_scols"))))
      .select(col("query_id"), col("n_scols"),
        col("est"), col("card"),
        Metrics.qError(col("est"), col("card").cast("double")).as("q_err"))
      .orderBy(col("query_id"))
  }

  /** Progressive mask narrowing: step j consumes the j most-significant
    * subcolumns; surviving mass = Σ counts over distinct qualifying
    * j-prefixes (prefix = code >> offset of the lowest consumed slice).
    * Monotone non-increasing; step k is the exact cardinality.
    */
  def factProgressiveQ(spark: SparkSession, dir: String): DataFrame = {
    val cc = custCodeCounts(spark, dir)
    val qual = qualCodes(spark, dir)
    val geom = factGeom(spark, dir)
    // (j, shift): shift = offset of slice (k−j) = base·(k−j) + min(k−j, rem)
    val steps = Memo(spark, dir, "wave23:factSteps")(
      geom
        .withColumn("j", explode(sequence(lit(1), col("k"))))
        .select(col("j"),
          (col("base") * (col("k") - col("j")) +
            least(col("k") - col("j"), col("rem"))).cast("int").as("shift")))
    val prefCounts = Memo(spark, dir, "wave23:factPrefCounts")(
      cc.crossJoin(broadcast(steps))
        .groupBy(col("j"), expr("shiftright(code, shift)").as("p"))
        .agg(sum(col("cnt")).as("pcnt")))
    qual
      .crossJoin(broadcast(steps))
      .select(col("query_id"), col("j"),
        expr("shiftright(code, shift)").as("p"))
      .distinct()
      .join(broadcast(prefCounts), Seq("j", "p"))
      .groupBy(col("query_id"), col("j").as("step"))
      .agg(sum(col("pcnt")).cast("double").as("est"))
      .orderBy(col("query_id"), col("step"))
  }

  // ---- oracle SQL (generic over scale: geometry derived in-query) ----

  /** Shared CTE prelude: dictionary codes, per-code counts, geometry,
    * slices, marginals, qualifying codes — the oracle twin of the memo
    * chain, MATERIALIZED where referenced more than once.
    */
  private val factCtes: String = {
    val qualArms = factSpecs.map { case (id, pred) =>
      s"SELECT '$id' AS query_id, v, code, cnt FROM cc WHERE $pred"
    }.mkString("\nUNION ALL\n")
    s"""enc AS (SELECT o_custkey AS v,
       |    CAST(1 + DENSE_RANK() OVER (ORDER BY o_custkey) AS INTEGER) AS code
       |  FROM orders),
       |cc AS MATERIALIZED (SELECT v, code, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM enc GROUP BY 1, 2),
       |geom AS MATERIALIZED (SELECT n_rows, bl,
       |    CAST(CEIL(bl / $factThreshold.0) AS INT) AS k,
       |    CAST(FLOOR(bl * 1.0 / CAST(CEIL(bl / $factThreshold.0) AS INT)) AS INT) AS base,
       |    bl - CAST(FLOOR(bl * 1.0 / CAST(CEIL(bl / $factThreshold.0) AS INT)) AS INT)
       |      * CAST(CEIL(bl / $factThreshold.0) AS INT) AS rem
       |  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
       |          CAST(LENGTH(bin(MAX(code) + 1)) AS INT) AS bl
       |        FROM cc)),
       |slices AS MATERIALIZED (
       |  SELECT v, code, cnt, CAST(fact_idx AS INT) AS fact_idx,
       |    CAST(((code >> (base * fact_idx + LEAST(fact_idx, rem)))
       |      % (1 << (base + CASE WHEN fact_idx < rem THEN 1 ELSE 0 END)))
       |      + 1 AS INT) AS scol_code
       |  FROM (SELECT cc.*, geom.base, geom.rem,
       |          UNNEST(range(0, CAST(geom.k AS BIGINT))) AS fact_idx
       |        FROM cc, geom)),
       |marg AS MATERIALIZED (SELECT fact_idx, scol_code,
       |    CAST(SUM(cnt) AS BIGINT) AS mcnt
       |  FROM slices GROUP BY 1, 2),
       |qual AS MATERIALIZED (
       |$qualArms
       |)""".stripMargin
  }

  val factEstSql: String = {
    // exact HUGEINT product over the ≤5 slice marginals (product() would
    // accumulate in DOUBLE and round past 2^53 — n^3 at sf1 already
    // exceeds it); slice 0 always exists, higher slices default to 1
    val prodExpr = (0 until 5).map {
      case 0 => "CAST(MAX(CASE WHEN s.fact_idx = 0 THEN m.mcnt END) AS HUGEINT)"
      case i => s"COALESCE(MAX(CASE WHEN s.fact_idx = $i THEN m.mcnt END), 1)"
    }.mkString(" * ")
    s"""WITH $factCtes,
       |prods AS (SELECT q.query_id, q.code,
       |    $prodExpr AS prod
       |  FROM qual q
       |  JOIN slices s ON s.code = q.code
       |  JOIN marg m ON m.fact_idx = s.fact_idx AND m.scol_code = s.scol_code
       |  GROUP BY 1, 2),
       |den AS (SELECT CASE k WHEN 1 THEN 1.0
       |    WHEN 2 THEN CAST(n_rows AS DOUBLE)
       |    WHEN 3 THEN CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
       |    WHEN 4 THEN CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
       |    WHEN 5 THEN CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
       |    END AS den, k FROM geom),
       |e AS (SELECT query_id,
       |    CAST(SUM(CAST(FLOOR(CAST(prod AS DOUBLE) / den * 1048576.0) AS BIGINT))
       |      AS DOUBLE) / 1048576.0 AS est
       |  FROM prods, den GROUP BY 1),
       |c AS (SELECT query_id, CAST(SUM(cnt) AS BIGINT) AS card
       |  FROM qual GROUP BY 1)
       |SELECT e.query_id, geom.k AS n_scols, e.est, c.card,
       |  (SELECT ${Metrics.qErrorSql("est", "cardd")} FROM (SELECT e.est AS est, CAST(c.card AS DOUBLE) AS cardd)) AS q_err
       |FROM e JOIN c ON c.query_id = e.query_id, geom
       |ORDER BY e.query_id""".stripMargin
  }

  val factProgressiveSql: String =
    s"""WITH $factCtes,
       |steps AS MATERIALIZED (SELECT CAST(j AS INT) AS j,
       |    CAST(base * (k - j) + LEAST(k - j, rem) AS INT) AS shift
       |  FROM (SELECT geom.*, UNNEST(range(1, CAST(k AS BIGINT) + 1)) AS j
       |        FROM geom)),
       |pc AS MATERIALIZED (SELECT s.j, cc.code >> s.shift AS p,
       |    CAST(SUM(cc.cnt) AS BIGINT) AS pcnt
       |  FROM cc, steps s GROUP BY 1, 2),
       |qp AS (SELECT DISTINCT q.query_id, s.j, q.code >> s.shift AS p
       |  FROM qual q, steps s)
       |SELECT qp.query_id, qp.j AS step,
       |  CAST(SUM(pc.pcnt) AS DOUBLE) AS est
       |FROM qp JOIN pc ON pc.j = qp.j AND pc.p = qp.p
       |GROUP BY 1, 2
       |ORDER BY query_id, step""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fact_est" -> (factEstQ _),
    "fact_progressive" -> (factProgressiveQ _))

  val oracleSql: Map[String, String] = Map(
    "fact_est" -> factEstSql,
    "fact_progressive" -> factProgressiveSql)
}
