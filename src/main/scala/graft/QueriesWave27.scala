package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-11 wave 27: the out-of-sample discipline the model-bearing
  * queries still owed — a held-out perplexity audit of the corpus LM
  * (train/test by seeded split, add-one smoothing so unseen events
  * price in), rank-stability of top-k reports across time (rank-biased
  * overlap), and the unequal-variance one-way test (Welch's ANOVA)
  * completing the classical-test family. House portability rules
  * throughout.
  */
object QueriesWave27 extends QueryModule {

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  // ---- heldout_perplexity: train/test generalization of the char LM ----

  val hoRate = 4L // 1-in-4 docs held out

  /** Held-out perplexity of the char-bigram LM — the OUT-OF-SAMPLE
    * audit `lm_perplexity` (resubstitution) can't give: the model a
    * curation pipeline trusts must price UNSEEN text, so the corpus
    * splits 3:1 by md5(doc_id), the LM trains on the train side with
    * add-one (Laplace) smoothing over the train char vocabulary
    * (unseen test bigrams get mass instead of −∞), and both sides are
    * scored under the SAME smoothed model — the train/test NLL gap is
    * the generalization number. Every ln is DECIMAL(38,6)-quantized;
    * NLL sums are exact decimal; the model (≤|Σ|² rows) broadcasts
    * onto the bigram stream. One bigram scan end to end.
    */
  def heldoutPerplexityQ(spark: SparkSession, dir: String): DataFrame = {
    val big = Memo(spark, dir, "wave27:hoBigrams")(
      QueriesCorpus.lmBigrams(spark, dir)
        .withColumn("is_test",
          md5Long(concat(lit("ho:"), col("doc_id").cast("string"))) % hoRate === 0L))
    val bc = big.filter(!col("is_test"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val cc = bc.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("c2")).as("c1n"))
    val vf = bc.select(substring(col("bg"), 1, 1).as("ch"))
      .unionAll(bc.select(substring(col("bg"), 2, 1).as("ch")))
      .agg(count_distinct(col("ch")).as("v"))
    // smoothed -ln p for every bigram in EITHER split: unseen bigram
    // -> c2=0; unseen first char -> c1n=0; both price to ln((0+1)/(0+V))
    val scored = big
      .join(bc, Seq("bg"), "left_outer")
      .join(cc, substring(col("bg"), 1, 1) === col("c1"), "left_outer")
      .crossJoin(broadcast(vf))
      .select(col("is_test"),
        (-log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1n"), lit(0L)) + col("v")).cast("double")))
          .cast("decimal(38,6)").as("nl"))
    val docs = big.select(col("doc_id"), col("is_test")).distinct()
      .groupBy(col("is_test")).agg(count(lit(1)).as("nd"))
    scored.groupBy(col("is_test"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nl")).cast("decimal(38,6)").as("__s"))
      .join(docs, "is_test")
      .select(col("is_test"), col("nd").as("n_docs"), col("n_bigrams"),
        (col("__s").cast("double") / col("n_bigrams").cast("double")).as("mean_nll"))
      .crossJoin(broadcast(vf))
      .select(col("is_test"), col("n_docs"), col("n_bigrams"),
        col("mean_nll"), col("v").as("vocab_chars"))
      .orderBy(col("is_test"))
  }

  val heldoutPerplexitySql: String =
    s"""WITH big AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('ho:' || CAST(doc_id AS VARCHAR)), 1, 13))
       |      AS BIGINT) % $hoRate = 0 AS is_test,
       |    substr(t, CAST(i AS INT), 2) AS bg
       |  FROM (SELECT doc_id, t, unnest(range(1, strlen(t))) AS i
       |        FROM (SELECT doc_id, lower(text) AS t FROM documents
       |              WHERE strlen(lower(text)) >= 2))),
       |bc AS MATERIALIZED (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2
       |  FROM big WHERE NOT is_test GROUP BY 1),
       |cc AS (SELECT substr(bg, 1, 1) AS c1, CAST(SUM(c2) AS BIGINT) AS c1n
       |  FROM bc GROUP BY 1),
       |vf AS (SELECT CAST(COUNT(DISTINCT ch) AS BIGINT) AS v FROM (
       |  SELECT substr(bg, 1, 1) AS ch FROM bc
       |  UNION ALL SELECT substr(bg, 2, 1) FROM bc)),
       |scored AS (SELECT big.is_test,
       |    CAST(-ln(CAST(COALESCE(bc.c2, 0) + 1 AS DOUBLE)
       |      / CAST(COALESCE(cc.c1n, 0) + vf.v AS DOUBLE)) AS DECIMAL(38,6)) AS nl
       |  FROM big
       |  LEFT JOIN bc USING (bg)
       |  LEFT JOIN cc ON substr(big.bg, 1, 1) = cc.c1, vf),
       |docs AS (SELECT is_test, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
       |  FROM big GROUP BY 1)
       |SELECT s.is_test, d.nd AS n_docs, s.n_bigrams,
       |  CAST(s.s AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE) AS mean_nll,
       |  vf.v AS vocab_chars
       |FROM (SELECT is_test, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(nl) AS DECIMAL(38,6)) AS s
       |  FROM scored GROUP BY 1) s
       |JOIN docs d USING (is_test), vf
       |ORDER BY s.is_test""".stripMargin

  // ---- topk_rbo: rank-biased overlap of period-over-period top-k ----

  val rboK = 10
  val rboP = 0.9

  /** p^(d−1) weights as exact decimal literals — 9^k/10^k has a
    * k-digit decimal expansion, so both engines parse the identical
    * nearest double (no runtime pow).
    */
  private val rboW: Seq[BigDecimal] =
    (0 until rboK).map(k => BigDecimal(9).pow(k) / BigDecimal(10).pow(k))

  /** Rank-biased overlap (Webber et al. 2010, truncated at k=10,
    * p=0.9) between the top-10 most-active users of the first and
    * second halves of the event span — the rank-STABILITY audit for
    * every top-k report the stack emits (`topk_events`,
    * `mg_heavy_hitters`): a leaderboard that reshuffles every period
    * is noise, not signal. Each half's top-10 is a TakeOrdered cut
    * (count desc, user_id) ranked on a constant 10-row frame; the
    * depth-d overlaps are 10 conditional sums; the RBO sum is an
    * unrolled fixed-order expression with compile-time p-power
    * literals. The half boundary is the exact integer midpoint of the
    * event-time span.
    */
  def topkRboQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
    // exact integer midpoint (div, not /: fractional-cast rounding
    // differs between engines)
    val mid = e.agg(min(col("us")).as("__mn"), max(col("us")).as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("mid"))
    val halves = e.crossJoin(broadcast(mid))
      .select(col("user_id"), (col("us") < col("mid")).as("h1"))
    def top(first: Boolean, rname: String): DataFrame =
      halves.filter(col("h1") === first)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id")).limit(rboK)
        .withColumn(rname, row_number().over(
          Window.orderBy(col("cnt").desc, col("user_id"))))
        .select(col("user_id"), col(rname))
    val joined = top(first = true, "ra")
      .join(top(first = false, "rb"), Seq("user_id"), "full_outer")
    val aggs = (1 to rboK).map(d =>
      sum(when(col("ra") <= d && col("rb") <= d, 1L).otherwise(0L)).as(s"x$d")) ++
      Seq(sum(when(col("ra").isNotNull && col("rb").isNotNull, 1L).otherwise(0L))
        .as("overlap_k"))
    val xs = joined.agg(aggs.head, aggs.tail: _*)
    val rboExpr = (1 to rboK)
      .map(d => s"${rboW(d - 1)} * CAST(x$d AS DOUBLE) / $d.0")
      .mkString(" + ")
    // (1-p) = 0.1 EXACTLY as a short decimal literal (a 17-digit
    // 1.0-0.9 rendering would hit DuckDB's off-by-an-ulp wide-decimal
    // conversion)
    xs.selectExpr("overlap_k", s"0.1 * ($rboExpr) AS rbo")
      .withColumn("k", lit(rboK))
      .select(col("k"), col("overlap_k"), col("rbo"))
  }

  val topkRboSql: String = {
    val xsels = (1 to rboK).map(d =>
      s"CAST(SUM(CASE WHEN ra <= $d AND rb <= $d THEN 1 ELSE 0 END) AS BIGINT) AS x$d")
      .mkString(",\n    ")
    val rboExpr = (1 to rboK)
      .map(d => s"${rboW(d - 1)} * CAST(x$d AS DOUBLE) / $d.0")
      .mkString(" + ")
    s"""WITH e AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS us FROM events),
       |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM e),
       |a AS (SELECT user_id, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INT) AS ra
       |  FROM (SELECT user_id, COUNT(*) AS cnt FROM e, mid WHERE us < mid
       |        GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT $rboK)),
       |b AS (SELECT user_id, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rb
       |  FROM (SELECT user_id, COUNT(*) AS cnt FROM e, mid WHERE us >= mid
       |        GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT $rboK)),
       |j AS (SELECT a.ra, b.rb,
       |    (a.ra IS NOT NULL AND b.rb IS NOT NULL) AS both_in
       |  FROM a FULL OUTER JOIN b USING (user_id)),
       |xs AS (SELECT
       |    $xsels,
       |    CAST(SUM(CASE WHEN both_in THEN 1 ELSE 0 END) AS BIGINT) AS overlap_k
       |  FROM j)
       |SELECT $rboK AS k, overlap_k,
       |  0.1 * ($rboExpr) AS rbo
       |FROM xs""".stripMargin
  }

  // ---- welch_anova: unequal-variance one-way test across groups ----

  /** Welch's one-way ANOVA of order value across order priorities —
    * the unequal-variance completion of the classical-test family
    * (`anova_oneway` assumes homoscedasticity; Welch is what you run
    * when `col_skew_profile` says the groups don't share a variance).
    * Scale discipline: values map to the unit range (x−mn)/(mx−mn) —
    * Welch's F is scale-invariant, and on [0,1] the weights w = n/s²
    * are O(n), so the per-group terms quantize safely (W and the
    * numerator on the 1e-6 grid, the O(1/n) h-terms on the 1e-12
    * grid) before the group-bounded sums. Unit values ride a 1e-9
    * integer grid so the group moments are exact decimals; groups
    * with zero variance drop by an exact integer test, identically
    * on both engines. Reports F*, df1, and the Welch–Satterthwaite
    * df2.
    */
  def welchAnovaQ(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables(spark, dir, "orders")
      .agg(min(col("o_totalprice")).cast("double").as("mn"),
        max(col("o_totalprice")).cast("double").as("mx"))
    val g = Memo(spark, dir, "wave27:welchGroups")(
      Tables(spark, dir, "orders").crossJoin(broadcast(st))
        .select(col("o_orderpriority").as("grp"),
          expr("CAST(round(1e9 * ((o_totalprice - mn) / (mx - mn))) AS BIGINT)")
            .as("x9"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_j"), sum(dec(col("x9"))).as("t_j"),
          sum(dec(col("x9")) * dec(col("x9"))).as("s_j")))
    val terms = g
      .filter(col("n_j") >= 2 &&
        dec(col("n_j")) * col("s_j") - col("t_j") * col("t_j") > 0)
      .withColumn("m", col("t_j").cast("double") /
        (col("n_j").cast("double") * lit(1e9)))
      .withColumn("s2",
        (dec(col("n_j")) * col("s_j") - col("t_j") * col("t_j")).cast("double") /
          (col("n_j").cast("double") * (col("n_j") - 1).cast("double") * lit(1e18)))
      .withColumn("w", col("n_j").cast("double") / col("s2"))
    val tot = terms.agg(count(lit(1)).as("k"), sum(col("n_j")).as("n"),
      sum(col("w").cast("decimal(38,6)")).as("ww"),
      sum((col("w") * col("m")).cast("decimal(38,6)")).as("wm"))
    val second = terms.crossJoin(broadcast(tot))
      .withColumn("xw", col("wm").cast("double") / col("ww").cast("double"))
      .agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum((col("w") * (col("m") - col("xw")) * (col("m") - col("xw")))
          .cast("decimal(38,6)")).as("num"),
        sum(((lit(1.0) - col("w") / col("ww").cast("double")) *
          (lit(1.0) - col("w") / col("ww").cast("double")) /
          (col("n_j") - 1).cast("double")).cast("decimal(38,12)")).as("hh"))
    second.select(col("k"), col("n"),
      ((col("num").cast("double") / (col("k") - 1).cast("double")) /
        (lit(1.0) + (lit(2.0) * (col("k") - 2).cast("double") /
          (col("k") * col("k") - 1).cast("double")) * col("hh").cast("double")))
        .as("f_stat"),
      (col("k") - 1).cast("long").as("df1"),
      when(col("hh").cast("double") > 0,
        (col("k") * col("k") - 1).cast("double") /
          (lit(3.0) * col("hh").cast("double"))).as("df2"))
  }

  val welchAnovaSql: String =
    """WITH st AS (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn,
      |    CAST(MAX(o_totalprice) AS DOUBLE) AS mx FROM orders),
      |g AS MATERIALIZED (SELECT o_orderpriority AS grp,
      |    CAST(COUNT(*) AS BIGINT) AS n_j,
      |    CAST(SUM(CAST(x9 AS HUGEINT)) AS HUGEINT) AS t_j,
      |    CAST(SUM(CAST(x9 AS HUGEINT) * x9) AS HUGEINT) AS s_j
      |  FROM (SELECT o_orderpriority,
      |      CAST(round(1e9 * ((o_totalprice - mn) / (mx - mn))) AS BIGINT) AS x9
      |    FROM orders, st)
      |  GROUP BY 1),
      |terms AS MATERIALIZED (SELECT n_j,
      |    CAST(t_j AS DOUBLE) / (CAST(n_j AS DOUBLE) * 1e9) AS m,
      |    CAST(n_j AS DOUBLE)
      |      / (CAST(CAST(n_j AS HUGEINT) * s_j - t_j * t_j AS DOUBLE)
      |        / (CAST(n_j AS DOUBLE) * CAST(n_j - 1 AS DOUBLE) * 1e18)) AS w
      |  FROM g
      |  WHERE n_j >= 2 AND CAST(n_j AS HUGEINT) * s_j - t_j * t_j > 0),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_j) AS BIGINT) AS n,
      |    CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS ww,
      |    CAST(SUM(CAST(w * m AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS wm
      |  FROM terms),
      |sec AS (SELECT MAX(k) AS k, MAX(n) AS n,
      |    CAST(SUM(CAST(w * (m - xw) * (m - xw) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS num,
      |    CAST(SUM(CAST((1.0 - w / CAST(ww AS DOUBLE)) * (1.0 - w / CAST(ww AS DOUBLE))
      |      / CAST(n_j - 1 AS DOUBLE) AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS hh
      |  FROM (SELECT terms.*, tot.k, tot.n, tot.ww,
      |      CAST(wm AS DOUBLE) / CAST(ww AS DOUBLE) AS xw
      |    FROM terms, tot))
      |SELECT k, n,
      |  (CAST(num AS DOUBLE) / CAST(k - 1 AS DOUBLE))
      |    / (1.0 + (2.0 * CAST(k - 2 AS DOUBLE) / CAST(k * k - 1 AS DOUBLE))
      |      * CAST(hh AS DOUBLE)) AS f_stat,
      |  CAST(k - 1 AS BIGINT) AS df1,
      |  CASE WHEN CAST(hh AS DOUBLE) > 0 THEN
      |    CAST(k * k - 1 AS DOUBLE) / (3.0 * CAST(hh AS DOUBLE)) END AS df2
      |FROM sec""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "heldout_perplexity" -> (heldoutPerplexityQ _),
    "topk_rbo" -> (topkRboQ _),
    "welch_anova" -> (welchAnovaQ _))

  val oracleSql: Map[String, String] = Map(
    "heldout_perplexity" -> heldoutPerplexitySql,
    "topk_rbo" -> topkRboSql,
    "welch_anova" -> welchAnovaSql)
}
