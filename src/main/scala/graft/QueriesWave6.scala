package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 wave: optimizer-side estimators that consume DISTRIBUTIONS
  * rather than scalar stats (bucketed-histogram and KMV-degree-sketch
  * join-size estimation — the two classic refinements over System-R's
  * flat ndv formula that `join_card_est` audits), plus
  * monitoring/training-pipeline operators: PSI distribution drift,
  * daily autocorrelation, Poisson-bootstrap confidence intervals,
  * a mutual-kNN graph, seeded negative sampling, and an additive
  * seasonal decomposition. Everything stays on the repo's portable
  * grids (integer cents, 1e-6 fixed point, 2^52 md5 uniforms,
  * truncating integer division) so the DuckDB oracle hash-matches.
  */
object QueriesWave6 extends QueryModule {

  private val usPerDay = 86400000000L

  // ---- hist_join_est: per-bucket histogram join-size estimator ----

  /** Same audited edges as join_card_est (QueriesEstimators.jceEdges):
    * filters belong to the query; histogram stats come from the
    * unfiltered tables, as a catalog would supply them.
    */
  val histJoinBuckets = 16

  /** Histogram-refined join-size estimate: instead of one global
    * |A'|·|B'| / max(ndv) (the System-R flat formula `join_card_est`
    * audits), bucket the join-key domain into 16 equi-width bins over
    * the fact side's catalog [min, max] and apply the containment
    * formula PER BUCKET: Σ_b n_a(b)·n_b(b) / max(ndv_a(b), ndv_b(b)).
    * This is the estimator every serious optimizer (Postgres, SQL
    * Server) actually runs — it survives key-range skew that the flat
    * formula averages away. Four tiny ≤16-row aggregates per edge plus
    * the truth join; integer arithmetic (truncating div) to the final
    * presentation double.
    */
  def histJoinEstQ(spark: SparkSession, dir: String): DataFrame =
    QueriesEstimators.jceEdges.map { case (label, ft, ff, fk, dt, df, dk) =>
      val f = Tables(spark, dir, ft)
      val d = Tables(spark, dir, dt)
      val bounds = f.agg(min(col(fk)).as("lo"), max(col(fk)).as("hi"))
      def bkt(k: String): Column =
        expr(s"least(greatest((($k - lo) * $histJoinBuckets) div (hi - lo + 1), 0), ${histJoinBuckets - 1})")
      // ndv + filtered count per bucket in ONE groupBy per side (guide
      // §2.3: one scan computes both) — the old four legs scanned each
      // side twice and joined four per-bucket frames. Semantics are
      // identical: a filtered bucket (na/nb > 0) always exists in its
      // side's unfiltered histogram, so the old left-join coalesce
      // never fired; filtering na > 0 && nb > 0 reproduces the inner
      // join of the filtered legs exactly.
      val fstats = f.crossJoin(broadcast(bounds))
        .groupBy(bkt(fk).as("b"))
        .agg(countDistinct(col(fk)).as("da"),
          count(when(expr(ff), lit(1))).as("na"))
      val dstats = d.crossJoin(broadcast(bounds))
        .groupBy(bkt(dk).as("b"))
        .agg(countDistinct(col(dk)).as("db"),
          count(when(expr(df), lit(1))).as("nb"))
      val est = fstats.filter(col("na") > 0)
        .join(dstats.filter(col("nb") > 0), Seq("b"))
        .select(expr("(na * nb) div greatest(da, db, 1)").as("e"))
        .agg(coalesce(sum(col("e")), lit(0L)).as("est"))
      val actual = f.filter(expr(ff))
        .join(d.filter(expr(df)), col(fk) === col(dk))
        .agg(count(lit(1)).as("actual"))
      est.crossJoin(actual)
        .select(lit(label).as("edge"), col("est"), col("actual"),
          (greatest(col("est"), col("actual")).cast("double") /
            greatest(least(col("est"), col("actual")), lit(1L))).as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("edge"))

  val histJoinEstSql: String = {
    val arms = QueriesEstimators.jceEdges.map { case (label, ft, ff, fk, dt, df, dk) =>
      val B = histJoinBuckets
      s"""SELECT '$label' AS edge,
         |  (WITH bounds AS (SELECT MIN($fk) AS lo, MAX($fk) AS hi FROM $ft),
         |   da AS (SELECT LEAST(GREATEST((($fk - lo) * $B) // (hi - lo + 1), 0), ${B - 1}) AS b,
         |            COUNT(DISTINCT $fk) AS da FROM $ft, bounds GROUP BY 1),
         |   na AS (SELECT LEAST(GREATEST((($fk - lo) * $B) // (hi - lo + 1), 0), ${B - 1}) AS b,
         |            COUNT(*) AS na FROM $ft, bounds WHERE $ff GROUP BY 1),
         |   db AS (SELECT LEAST(GREATEST((($dk - lo) * $B) // (hi - lo + 1), 0), ${B - 1}) AS b,
         |            COUNT(DISTINCT $dk) AS db FROM $dt, bounds GROUP BY 1),
         |   nb AS (SELECT LEAST(GREATEST((($dk - lo) * $B) // (hi - lo + 1), 0), ${B - 1}) AS b,
         |            COUNT(*) AS nb FROM $dt, bounds WHERE $df GROUP BY 1)
         |   SELECT COALESCE(SUM((na.na * nb.nb) // GREATEST(COALESCE(da.da, 1), COALESCE(db.db, 1), 1)), 0)
         |   FROM na JOIN nb USING (b)
         |   LEFT JOIN da ON da.b = na.b LEFT JOIN db ON db.b = na.b) AS est,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ft JOIN $dt ON $fk = $dk
         |   WHERE ($ff) AND ($df)) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |$arms)
       |SELECT edge, CAST(est AS BIGINT) AS est, actual,
       |  CAST(GREATEST(est, actual) AS DOUBLE) / GREATEST(LEAST(est, actual), 1) AS q_err
       |FROM s ORDER BY edge""".stripMargin
  }

  // ---- kmv_join_est: KMV degree-sketch join-size estimator ----

  /** (label, table A, key A, table B, key B) — the third edge is a
    * deliberately non-FK many-to-many user join, where both sides carry
    * real degrees and the flat formula is at its worst.
    */
  val kjeEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem-orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem-part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("events_user-orders_cust", "events", "user_id", "orders", "o_custkey"))

  val kjeK = 128

  /** KMV degree-sketch join-size estimate: |A ⋈ B| = Σ_k d_A(k)·d_B(k)
    * exactly; the sketch estimates the sum by evaluating it only on the
    * K smallest-hashed join keys and scaling by the sampled key-domain
    * fraction u_(K) — est = Σ_{h(k) < h_(K)} d_A(k)·d_B(k) / u_(K),
    * the mergeable bottom-k discipline (`kmv_ndv`'s plan shape: the
    * shuffle after partial aggregation carries at most K hashed keys
    * per partition via TakeOrdered, never the key domain). When the
    * domain has fewer than K keys, the "estimate" is the exact sum.
    * The degree frames double as ground truth: Σ d_A·d_B IS the join
    * cardinality, so the audit adds no physical join.
    */
  /** Per-key join-degree frame for one audited edge, materialized once
    * per session: (k, da, db, g = da·db, h = 52-bit md5). Feeds the KMV
    * sketch (TakeOrdered + threshold filter), the CMS sketch
    * (`cms_join_est`), AND the exact ground truth Σg — which IS the join
    * cardinality, so no audit ever runs a physical join.
    */
  private[graft] def kjeDeg(spark: SparkSession, dir: String,
      label: String, ta: String, ka: String, tb: String, kb: String): DataFrame = {
    val da = Tables(spark, dir, ta).groupBy(col(ka).cast("long").as("k"))
      .agg(count(lit(1)).as("da"))
    val db = Tables(spark, dir, tb).groupBy(col(kb).cast("long").as("k"))
      .agg(count(lit(1)).as("db"))
    Memo(spark, dir, s"wave6:kjeDeg:$label")(
      da.join(db, Seq("k"), "full_outer")
        .select(col("k"),
          coalesce(col("da"), lit(0L)).as("da"),
          coalesce(col("db"), lit(0L)).as("db"),
          (coalesce(col("da"), lit(0L)) * coalesce(col("db"), lit(0L))).as("g"),
          conv(substring(md5(concat(lit(s"kje:$label:"), col("k").cast("string"))), 1, 13), 16, 10)
            .cast("long").as("h")))
  }

  /** SQL twin of `kjeDeg`: a `deg_<name> AS (...)` CTE. */
  private[graft] def kjeDegCte(label: String, ta: String, ka: String,
      tb: String, kb: String): String = {
    val n = cteName(label)
    s"""deg_$n AS (
       |  SELECT COALESCE(a.k, b.k) AS k, COALESCE(a.da, 0) AS da, COALESCE(b.db, 0) AS db,
       |    COALESCE(a.da, 0) * COALESCE(b.db, 0) AS g,
       |    CAST(('0x' || substr(md5('kje:$label:' || CAST(COALESCE(a.k, b.k) AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM (SELECT CAST($ka AS BIGINT) AS k, COUNT(*) AS da FROM $ta GROUP BY 1) a
       |  FULL OUTER JOIN (SELECT CAST($kb AS BIGINT) AS k, COUNT(*) AS db FROM $tb GROUP BY 1) b
       |    ON a.k = b.k)""".stripMargin
  }

  def kmvJoinEstQ(spark: SparkSession, dir: String): DataFrame =
    kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val deg = kjeDeg(spark, dir, label, ta, ka, tb, kb)
      val lim = deg.orderBy(col("h"), col("k")).limit(kjeK)
      val hk = lim.agg(max(col("h")).as("hk"), count(lit(1)).as("m"),
        sum(col("g")).as("s_all"))
      val part = lim.crossJoin(broadcast(hk.select(col("hk").as("__hk"))))
        .filter(col("h") < col("__hk"))
        .agg(coalesce(sum(col("g")), lit(0L)).as("s_in"))
      val actual = deg.agg(sum(col("g")).as("actual"))
      hk.crossJoin(part).crossJoin(actual)
        .select(lit(label).as("edge"), col("m"),
          when(col("m") < kjeK, col("s_all").cast("double"))
            .otherwise(col("s_in").cast("double") /
              (col("hk").cast("double") / lit(4503599627370496.0)))
            .as("est"),
          col("actual"))
        .select(col("edge"), col("m"), col("est"), col("actual"),
          (greatest(col("est"), col("actual").cast("double")) /
            greatest(least(col("est"), col("actual").cast("double")), lit(1.0))).as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("edge"))

  private[graft] def cteName(label: String): String = label.replaceAll("[^A-Za-z0-9]", "_")

  val kmvJoinEstSql: String = {
    val arms = kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = cteName(label)
      s"""SELECT '$label' AS edge, hk.m,
         |  CASE WHEN hk.m < $kjeK THEN CAST(hk.s_all AS DOUBLE)
         |       ELSE CAST(p.s_in AS DOUBLE) / (CAST(hk.hk AS DOUBLE) / 4503599627370496.0) END AS est,
         |  (SELECT CAST(COALESCE(SUM(g), 0) AS BIGINT) FROM deg_$n) AS actual
         |FROM (SELECT MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS m, SUM(g) AS s_all
         |      FROM lim_$n) hk,
         |  (SELECT COALESCE(SUM(g), 0) AS s_in FROM lim_$n
         |   WHERE h < (SELECT MAX(h) FROM lim_$n)) p""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ctes = kjeEdges.map { case (label, ta, ka, tb, kb) =>
      val n = cteName(label)
      s"""${kjeDegCte(label, ta, ka, tb, kb)},
         |lim_$n AS (SELECT * FROM deg_$n ORDER BY h, k LIMIT $kjeK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ctes,
       |s AS (
       |$arms)
       |SELECT edge, m, est, actual,
       |  GREATEST(est, CAST(actual AS DOUBLE)) / GREATEST(LEAST(est, CAST(actual AS DOUBLE)), 1.0) AS q_err
       |FROM s ORDER BY edge""".stripMargin
  }

  // ---- psi_drift: population stability index between sources ----

  val psiBins = 10

  /** Population Stability Index between every pair of document sources
    * over the doc-length distribution — the standard "has my corpus mix
    * shifted" monitor (PSI < 0.1 stable, > 0.25 shifted). 10 equi-width
    * bins over the global catalog [min, max]; Laplace-smoothed (+1 per
    * bin) so empty bins stay finite. Engine-exact: each ln term is
    * computed on an exact integer ratio and quantized to the 1e-6 grid,
    * then PSI is assembled as a pure-integer sum — psi_q =
    * Σ (A·Nb − B·Na)·L where L = round(1e6·ln(A·Nb / (B·Na))); the
    * presentation double divides by Na·Nb·1e6 once. One documents scan;
    * everything after the (source, bin) aggregate is ≤ sources²·bins
    * rows.
    */
  def psiDriftQ(spark: SparkSession, dir: String): DataFrame = {
    // the (source × bin) grid feeds BOTH sides of the pair self-join —
    // materialize it once so documents is scanned once per session, not
    // once per plan reference
    val grid = Memo(spark, dir, "wave6:psiGrid") {
      val docs = Tables(spark, dir, "documents")
      val bounds = docs.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
      val cnt = docs.crossJoin(broadcast(bounds))
        .groupBy(col("source"),
          expr(s"least(greatest(((n_chars - lo) * $psiBins) div (hi - lo + 1), 0), ${psiBins - 1})").as("bin"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      tot.crossJoin(spark.range(psiBins.toLong).select(col("id").as("bin")))
        .join(cnt, Seq("source", "bin"), "left")
        .select(col("source"), col("bin"), coalesce(col("c"), lit(0L)).as("c"), col("n"))
    }
    val pairs = grid.select(col("source").as("source_a"), col("bin"),
        (col("c") + 1L).as("ca"), (col("n") + lit(psiBins.toLong)).as("na"))
      .join(grid.select(col("source").as("source_b"), col("bin"),
        (col("c") + 1L).as("cb"), (col("n") + lit(psiBins.toLong)).as("nb")), Seq("bin"))
      .filter(col("source_a") < col("source_b"))
    pairs
      .withColumn("l",
        expr("CAST(floor(ln(CAST(ca * nb AS DOUBLE) / CAST(cb * na AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum((col("ca") * col("nb") - col("cb") * col("na")) * col("l")).as("psi_q"),
        max(col("na") * col("nb")).as("__d"))
      .select(col("source_a"), col("source_b"), col("psi_q"),
        (col("psi_q").cast("double") / (col("__d").cast("double") * 1e6)).as("psi"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val psiDriftSql: String =
    s"""WITH bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents),
       |cnt AS (SELECT source,
       |    LEAST(GREATEST(((n_chars - lo) * $psiBins) // (hi - lo + 1), 0), ${psiBins - 1}) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM documents, bounds GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
       |grid AS (SELECT t.source, b.bin, COALESCE(c.c, 0) AS c, t.n
       |  FROM tot t CROSS JOIN (SELECT unnest(range(0, $psiBins)) AS bin) b
       |  LEFT JOIN cnt c ON c.source = t.source AND c.bin = b.bin),
       |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
       |    a.c + 1 AS ca, a.n + $psiBins AS na, b.c + 1 AS cb, b.n + $psiBins AS nb
       |  FROM grid a JOIN grid b ON a.bin = b.bin AND a.source < b.source)
       |SELECT source_a, source_b,
       |  CAST(SUM((ca * nb - cb * na) *
       |    CAST(floor(ln(CAST(ca * nb AS DOUBLE) / CAST(cb * na AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS psi_q,
       |  CAST(SUM((ca * nb - cb * na) *
       |    CAST(floor(ln(CAST(ca * nb AS DOUBLE) / CAST(cb * na AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) /
       |    (CAST(MAX(na * nb) AS DOUBLE) * 1e6) AS psi
       |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- autocorr: lag-k autocorrelation of the daily event series ----

  val acfMaxLag = 7

  /** Lag-1..7 Pearson autocorrelation of the daily event-count series —
    * the periodicity probe a pipeline runs before trusting any
    * day-over-day comparison. The series reduces to one row per
    * observed day (calendar-bounded), so lag alignment is a self-join
    * on day_us + k·86400e6 over a tiny frame — never a window over raw
    * events. All moments are exact BIGINTs; r = (nΣxy − ΣxΣy) /
    * √((nΣx²−(Σx)²)·(nΣy²−(Σy)²)) is assembled with one multiply, one
    * sqrt, one divide so both engines round identically.
    */
  def autocorrQ(spark: SparkSession, dir: String): DataFrame = {
    // both lag-join sides read the same calendar-bounded series — one
    // events scan per session, not two per plan
    val daily = SharedFrames.dailyEvents(spark, dir)
    val lags = spark.range(1L, acfMaxLag + 1L).select(col("id").as("lag"))
    daily.select(col("day_us"), col("n").as("x")).crossJoin(lags)
      .join(daily.select(col("day_us").as("__bd"), col("n").as("y")),
        col("__bd") === col("day_us") + col("lag") * lit(usPerDay))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx")).as("dx"),
        (col("n_pairs") * col("syy") - col("sy") * col("sy")).as("dy"))
      .select(col("lag"), col("n_pairs"), col("num"), col("dx"), col("dy"),
        (col("num").cast("double") /
          sqrt(col("dx").cast("double") * col("dy").cast("double"))).as("r"))
      .orderBy(col("lag"))
  }

  val autocorrSql: String =
    s"""WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
       |p AS (SELECT l.lag, a.n AS x, b.n AS y
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest(range(1, ${acfMaxLag + 1})) AS lag) l
       |  JOIN daily b ON b.day_us = a.day_us + l.lag * $usPerDay),
       |m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       |  CAST(n_pairs * sxy - sx * sy AS BIGINT) AS num,
       |  CAST(n_pairs * sxx - sx * sx AS BIGINT) AS dx,
       |  CAST(n_pairs * syy - sy * sy AS BIGINT) AS dy,
       |  CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
       |    sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * CAST(n_pairs * syy - sy * sy AS DOUBLE)) AS r
       |FROM m ORDER BY lag""".stripMargin

  // ---- bootstrap_ci: Poisson-bootstrap confidence intervals ----

  val bootstrapR: Int = PoissonGrid.bootstrapR

  private[graft] def poisCaseSqlExpr(h: String): String =
    PoissonGrid.poisCaseSqlExpr(h)

  /** Per-priority mean order value with a 95% bootstrap confidence
    * interval — the error bars a sampled 100 TB aggregate must carry.
    * Poisson(1) bootstrap (the only bootstrap that works distributed:
    * each row draws its replicate multiplicities independently, no
    * global resample pass), R = 32 replicates materialized as one
    * row-explode, seeded by md5(replicate, orderkey) so every engine
    * redraws the identical weights. CI bounds are the nearest-rank
    * 2.5%/97.5% over 32 replicate means — rank 1 and rank 32, i.e.
    * MIN/MAX, so no window is needed at all; means stay integer cents
    * via truncating division. One orders scan + a 5·R-row aggregate.
    */
  def bootstrapCiQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val reps = spark.range(bootstrapR.toLong).select(col("id").as("r"))
    val w = o.crossJoin(reps)
      .withColumn("h",
        conv(substring(md5(concat(lit("boot:"), col("r").cast("string"), lit(":"),
          col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("long"))
      .withColumn("w", expr(poisCaseSqlExpr("h")).cast("long"))
    val repMeans = w.groupBy(col("priority"), col("r"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("cents")).as("swc"))
      .select(col("priority"),
        expr("swc div greatest(sw, 1)").as("mean_r"))
    val point = o.groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .select(col("priority"), col("n"), expr("sc div n").as("mean_c"))
    point.join(
        repMeans.groupBy(col("priority"))
          .agg(min(col("mean_r")).as("lo_c"), max(col("mean_r")).as("hi_c")),
        Seq("priority"))
      .orderBy(col("priority"))
  }

  val bootstrapCiSql: String =
    s"""WITH o AS (SELECT o_orderpriority AS priority, o_orderkey,
       |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
       |w AS (SELECT priority, r.r, cents,
       |    ${poisCaseSqlExpr(s"CAST(('0x' || substr(md5('boot:' || CAST(r.r AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)")} AS w
       |  FROM o CROSS JOIN (SELECT unnest(range(0, $bootstrapR)) AS r) r),
       |rm AS (SELECT priority, r, CAST(SUM(w * cents) // GREATEST(SUM(w), 1) AS BIGINT) AS mean_r
       |  FROM w GROUP BY 1, 2),
       |pt AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_c FROM o GROUP BY 1)
       |SELECT pt.priority, pt.n, pt.mean_c,
       |  CAST(MIN(rm.mean_r) AS BIGINT) AS lo_c, CAST(MAX(rm.mean_r) AS BIGINT) AS hi_c
       |FROM pt JOIN rm ON rm.priority = pt.priority
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ---- knn_graph: mutual-kNN graph over embeddings ----

  val knnK = 3

  /** Mutual-kNN graph over the embedding cloud — the neighborhood
    * structure semantic clustering, label propagation, and kNN-based
    * outlier pruning all start from. Candidate pairs stay WITHIN a
    * label partition (the cluster-bounded discipline of semantic_dedup:
    * all-pairs work bounded by partition size, never corpus size — at
    * 100 TB the label is the IVF list id); per-node top-3 by cosine on
    * quantized integer dots, tie-broken by neighbor id; an edge
    * survives only if BOTH endpoints rank each other (the mutual
    * filter that kills hub artifacts). Emitted once per unordered pair
    * with the a→b orientation's cosine.
    */
  /** (vec_id, label, qv, nn): 1e-6-quantized embedding vectors with
    * their integer self-dots — the shared within-label neighbor frame
    * (knn_graph here, lid_estimate in Wave 24).
    */
  private[graft] def knnQuantized(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Memo(spark, dir, "wave6:knnQ")(
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"), graft.operators.Similarity.quantExpr.as("qv"))
        .withColumn("nn", expr("quantized_dot(qv, qv)")))
  }

  /** (label, va, vb, cos): ALL ordered within-label pairs with their
    * exact cosine — the quadratic (label-bounded, never corpus-bounded)
    * neighbor frame that both knn_graph and lid_estimate rank. One
    * memoized materialization serves both; the payload vectors are
    * dropped BEFORE caching, so the cached frame is pair-rows only
    * (the same candidate-bounded discipline as text:lshCands — at
    * 100 TB the label is the IVF list id and the pair count is
    * Σ|list|², an index-build artifact, not a corpus cross product).
    */
  private[graft] def labelPairCos(spark: SparkSession, dir: String): DataFrame = {
    val q = knnQuantized(spark, dir)
    Memo(spark, dir, "wave6:labelPairCos")(
      q.select(col("label"), col("vec_id").as("va"), col("qv").as("qa"), col("nn").as("na"))
        .join(q.select(col("label"), col("vec_id").as("vb"), col("qv").as("qb"), col("nn").as("nb")),
          Seq("label"))
        .filter(col("va") =!= col("vb"))
        .select(col("label"), col("va"), col("vb"),
          (expr("quantized_dot(qa, qb)").cast("double") /
            sqrt(col("na").cast("double")) / sqrt(col("nb").cast("double"))).as("cos")))
  }

  /** Per-node top-[[knnK]] neighbor lists (label, va, vb, cos) — the
    * kNN index artifact, memoized like the LSH candidate tables. The
    * ranking runs as a bounded top-k AGGREGATE (TopKPairs) instead of
    * `row_number() <= k`: WindowGroupLimit bounds that window's shuffle
    * but still fully sorts every input partition of the quadratic pair
    * frame by (va, cos, vb) — the dominant cost at x10 scale (6.7 s
    * exec). The aggregate keeps a ≤ k sorted buffer per node with
    * map-side partial aggregation: no input-sized sort, no input-sized
    * shuffle. Selection/tie-break (cos desc, vb asc) is identical.
    */
  private[graft] def knnTop(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKPairs(knnK, true))
    Memo(spark, dir, "wave6:knnTop")(
      labelPairCos(spark, dir)
        .groupBy(col("label"), col("va"))
        .agg(topk(col("cos"), col("vb")).as("__top"))
        .select(col("label"), col("va"), explode(col("__top")).as("__t"))
        .select(col("label"), col("va"), col("__t._2").as("vb"), col("__t._1").as("cos")))
  }

  def knnGraphQ(spark: SparkSession, dir: String): DataFrame = {
    val topk = knnTop(spark, dir)
    val fwd = topk.filter(col("va") < col("vb"))
    val rev = topk.filter(col("va") > col("vb"))
      .select(col("vb").as("va"), col("va").as("vb"))
    fwd.join(rev, Seq("va", "vb"), "leftsemi")
      .select(col("label"), col("va").as("a"), col("vb").as("b"), col("cos"))
      .orderBy(col("a"), col("b"))
  }

  /** Oracle twin of [[knnQuantized]]: `q` (1e-6-quantized vectors) +
    * `ex`/`norms` (integer self-dots) — the one place the
    * quantization grid is written on the SQL side (lid_estimate and
    * hard_negatives reuse it verbatim).
    */
  private[graft] val knnQuantCte: String =
    """q AS (SELECT vec_id, label,
      |    list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |ex AS (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i FROM q),
      |norms AS MATERIALIZED (SELECT vec_id, CAST(SUM(qv[i] * qv[i]) AS BIGINT) AS nn FROM ex GROUP BY 1)""".stripMargin

  val knnGraphSql: String =
    s"""WITH $knnQuantCte,
       |pex AS (SELECT a.label, a.vec_id AS va, b.vec_id AS vb, a.qv AS qa, b.qv AS qb,
       |    unnest(range(1, len(a.qv) + 1)) AS i
       |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id != b.vec_id),
       |dots AS (SELECT label, va, vb, CAST(SUM(qa[i] * qb[i]) AS BIGINT) AS dot
       |  FROM pex GROUP BY 1, 2, 3),
       |cs AS (SELECT d.label, d.va, d.vb,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE)) / sqrt(CAST(nb.nn AS DOUBLE)) AS cos
       |  FROM dots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb),
       |topk AS (SELECT label, va, vb, cos FROM (
       |    SELECT label, va, vb, cos,
       |      ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rnk
       |    FROM cs) WHERE rnk <= $knnK)
       |SELECT f.label, f.va AS a, f.vb AS b, f.cos
       |FROM topk f
       |WHERE f.va < f.vb
       |  AND EXISTS (SELECT 1 FROM topk r WHERE r.va = f.vb AND r.vb = f.va)
       |ORDER BY a, b""".stripMargin

  // ---- negative_sampling: seeded negatives for recommender training ----

  val negK = 3

  /** Seeded negative sampling for (customer → brand) training pairs:
    * positives are the brands each customer actually bought; each
    * positive-bearing customer draws 3 negatives uniformly from the
    * non-purchased brands by md5 ranking — the contrastive-training
    * data layout (one positive set + k seeded negatives per user).
    * The candidate space is customers × a broadcast 25-row brand
    * dimension with the positives removed by anti-join, then a
    * per-customer window picks the 3 smallest hashes: one shuffle
    * keyed by the training key, reproducible across engines, shards,
    * and epochs (reseed = change the salt).
    */
  def negativeSamplingQ(spark: SparkSession, dir: String): DataFrame = {
    val pos = Memo(spark, dir, "wave6:posPairs")(
      Tables(spark, dir, "orders").select(col("o_custkey").as("custkey"), col("o_orderkey"))
        .join(Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables(spark, dir, "part").select(col("p_partkey"), col("p_brand").as("brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("custkey"), col("brand")).distinct())
    val brands = Tables(spark, dir, "part").select(col("p_brand").as("brand")).distinct()
    val users = pos.select(col("custkey")).distinct()
    users.crossJoin(broadcast(brands))
      .join(pos, Seq("custkey", "brand"), "left_anti")
      .withColumn("h", md5(concat(lit("neg:"), col("custkey").cast("string"),
        lit(":"), col("brand"))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("custkey")).orderBy(col("h"), col("brand"))))
      .filter(col("rnk") <= negK)
      .select(col("custkey"), col("brand"), col("rnk"))
      .orderBy(col("custkey"), col("rnk"))
  }

  val negativeSamplingSql: String =
    s"""WITH pos AS (SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  JOIN part p ON p.p_partkey = l.l_partkey),
       |cand AS (SELECT u.custkey, b.brand,
       |    md5('neg:' || CAST(u.custkey AS VARCHAR) || ':' || b.brand) AS h
       |  FROM (SELECT DISTINCT custkey FROM pos) u
       |  CROSS JOIN (SELECT DISTINCT p_brand AS brand FROM part) b
       |  WHERE NOT EXISTS (SELECT 1 FROM pos p
       |                    WHERE p.custkey = u.custkey AND p.brand = b.brand))
       |SELECT custkey, brand, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT custkey, brand,
       |    ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY h, brand) AS rnk
       |  FROM cand) WHERE rnk <= $negK
       |ORDER BY custkey, rnk""".stripMargin

  // ---- seasonal_decompose: trend + weekday effect + residual ----

  /** Additive seasonal decomposition of daily order revenue:
    * trend = 7-day centered moving average, weekday effect = mean
    * detrended residual per ISO weekday, residual = the rest — the
    * classic pre-forecasting split. The moving average is NOT a global
    * window: each daily row fans out to the 7 target days it
    * contributes to and re-aggregates keyed by day (an offset-explode,
    * the sliding_dau discipline), so the plan has no single-partition
    * sort even though the frame is calendar-bounded. Days with an
    * incomplete ±3 neighborhood (series edges / calendar gaps) drop
    * out of the decomposition, in both engines. Integer cents with
    * truncating (sign-split) division throughout.
    */
  def seasonalDecomposeQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = Memo(spark, dir, "wave6:dailyRev")(
      Tables(spark, dir, "orders")
        .groupBy(expr("unix_micros(date_trunc('DAY', o_orderdate))").as("day_us"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("rev_c")))
    // The whole decomposition rides two windows over the CALENDAR-SIZED
    // daily memo (one row per day — the unpartitioned trend window is
    // bounded by the calendar, see WindowAuditSpec). The old plan
    // exploded daily ×7 into a crossJoin + regroup for the trend, then
    // recomputed the detrended join for BOTH the dow-effect aggregate
    // and the final projection. A ±3-day RANGE frame sums exactly the
    // same present-day terms (m counts rows in range, filter m == 7
    // unchanged), and the dow effect is the same sums via a window
    // partitioned by dow — identical integer algebra throughout.
    import org.apache.spark.sql.expressions.Window
    val w7 = Window.orderBy(col("day_us"))
      .rangeBetween(-3L * usPerDay, 3L * usPerDay)
    val det = daily
      .withColumn("s", sum(col("rev_c")).over(w7))
      .withColumn("m", count(lit(1)).over(w7))
      .filter(col("m") === 7)
      .select(col("day_us"), col("rev_c"), expr("s div 7").as("trend_c"),
        (col("rev_c") - expr("s div 7")).as("det_c"),
        expr("weekday(timestamp_micros(day_us)) + 1").as("dow"))
    val dw = Window.partitionBy(col("dow"))
    det
      .withColumn("__es", sum(col("det_c")).over(dw))
      .withColumn("__en", count(lit(1)).over(dw))
      .select(expr("timestamp_micros(day_us)").as("day"), col("rev_c"),
        col("trend_c"), col("dow"),
        expr("(CASE WHEN __es < 0 THEN -1 ELSE 1 END) * (abs(__es) div __en)").as("eff_c"),
        (col("det_c") -
          expr("(CASE WHEN __es < 0 THEN -1 ELSE 1 END) * (abs(__es) div __en)")).as("resid_c"))
      .orderBy(col("day"))
  }

  val seasonalDecomposeSql: String =
    s"""WITH daily AS (SELECT epoch_us(date_trunc('day', o_orderdate)) AS day_us,
       |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
       |  FROM orders GROUP BY 1),
       |trend AS (SELECT t_us, CAST(s // 7 AS BIGINT) AS trend_c FROM (
       |    SELECT day_us + o.off * $usPerDay AS t_us,
       |      CAST(SUM(rev_c) AS BIGINT) AS s, COUNT(*) AS m
       |    FROM daily CROSS JOIN (SELECT unnest(range(-3, 4)) AS off) o
       |    GROUP BY 1) WHERE m = 7),
       |det AS (SELECT day_us, rev_c, trend_c, rev_c - trend_c AS det_c,
       |    isodow(make_timestamp(day_us)) AS dow
       |  FROM daily JOIN trend ON day_us = t_us),
       |eff AS (SELECT dow,
       |    (CASE WHEN SUM(det_c) < 0 THEN -1 ELSE 1 END) * (abs(SUM(det_c)) // COUNT(*)) AS eff_c
       |  FROM det GROUP BY 1)
       |SELECT make_timestamp(d.day_us) AS day, d.rev_c, d.trend_c,
       |  CAST(d.dow AS INT) AS dow, CAST(e.eff_c AS BIGINT) AS eff_c,
       |  CAST(d.det_c - e.eff_c AS BIGINT) AS resid_c
       |FROM det d JOIN eff e ON e.dow = d.dow
       |ORDER BY day""".stripMargin

  // ---- source_temp_mix: temperature-reweighted corpus mix planner ----

  val tempMixBudget = 1000000L

  /** Temperature-reweighted source sampling plan (the multilingual /
    * multi-source mix trick: sample source i ∝ n_i^α with α < 1 so
    * small sources are upweighted; α = 1/2 here, so the weight is a
    * correctly-rounded sqrt both engines agree on bit-for-bit).
    * Weights are quantized to integers s_i = round(1e6·√n_i) and the
    * 1M-char epoch budget is allocated by LARGEST-REMAINDER rounding:
    * base_i = B·s_i div S, the leftover B − Σ base_i handed out by
    * descending (B·s_i mod S, source) — so the plan is exactly
    * budget-exhausting and integer-deterministic, never a float share
    * that sums to 0.9999. One documents scan; everything after the
    * per-source aggregate is ≤|sources| rows.
    */
  def sourceTempMixQ(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("s_q", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
    val tot = per.agg(sum(col("s_q")).as("ss"), count(lit(1)).as("k"))
    val base = per.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($tempMixBudget * s_q) div ss"))
      .withColumn("frac", expr(s"($tempMixBudget * s_q) % ss"))
    val rem = base.agg((lit(tempMixBudget) - sum(col("base"))).as("r"))
    base.crossJoin(broadcast(rem))
      // global window, but over the ≤|sources| post-aggregate rows — the
      // remainder handout is a catalog-sized step, like mcv's top-k rank
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("frac").desc, col("source"))))
      .select(col("source"), col("n_docs"), col("s_q"),
        (col("s_q").cast("double") / col("ss").cast("double")).as("share"),
        (col("base") + when(col("rnk") <= col("r"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col("source"))
  }

  val sourceTempMixSql: String =
    s"""WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS s_q
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(SUM(s_q) AS BIGINT) AS ss FROM per),
       |base AS (SELECT source, n_docs, s_q, ss,
       |    ($tempMixBudget * s_q) // ss AS base, ($tempMixBudget * s_q) % ss AS frac
       |  FROM per, tot),
       |rem AS (SELECT $tempMixBudget - CAST(SUM(base) AS BIGINT) AS r FROM base)
       |SELECT source, n_docs, s_q,
       |  CAST(s_q AS DOUBLE) / CAST(ss AS DOUBLE) AS share,
       |  CAST(base + (CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, source) <= r
       |               THEN 1 ELSE 0 END) AS BIGINT) AS alloc
       |FROM base, rem ORDER BY source""".stripMargin

  // ---- cross_corr: lead-lag correlation between click and purchase series ----

  /** Lead-lag cross-correlation between the daily click and purchase
    * series (lag −7..7: negative = purchases lead clicks): the
    * does-marketing-convert-and-when probe. Same discipline as
    * `autocorr` — the raw stream collapses to one calendar-bounded row
    * per day FIRST (conditional counts, one scan, memoized), lags are a
    * self-join on epoch-micro day keys, moments are exact BIGINTs, and
    * r is assembled with one multiply/sqrt/divide.
    */
  def crossCorrQ(spark: SparkSession, dir: String): DataFrame = {
    val daily = Memo(spark, dir, "wave6:dailyByType")(
      Tables(spark, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('DAY', ts))").as("day_us"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases")))
    val lags = spark.range(-acfMaxLag.toLong, acfMaxLag + 1L).select(col("id").as("lag"))
    daily.select(col("day_us"), col("clicks").as("x")).crossJoin(lags)
      .join(daily.select(col("day_us").as("__bd"), col("purchases").as("y")),
        col("__bd") === col("day_us") + col("lag") * lit(usPerDay))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx")).as("dx"),
        (col("n_pairs") * col("syy") - col("sy") * col("sy")).as("dy"))
      .select(col("lag"), col("n_pairs"), col("num"), col("dx"), col("dy"),
        (col("num").cast("double") /
          sqrt(col("dx").cast("double") * col("dy").cast("double"))).as("r"))
      .orderBy(col("lag"))
  }

  val crossCorrSql: String =
    s"""WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
       |  FROM events GROUP BY 1),
       |p AS (SELECT l.lag, a.clicks AS x, b.purchases AS y
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest(range(-$acfMaxLag, ${acfMaxLag + 1})) AS lag) l
       |  JOIN daily b ON b.day_us = a.day_us + l.lag * $usPerDay),
       |m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY 1)
       |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       |  CAST(n_pairs * sxy - sx * sy AS BIGINT) AS num,
       |  CAST(n_pairs * sxx - sx * sx AS BIGINT) AS dx,
       |  CAST(n_pairs * syy - sy * sy AS BIGINT) AS dy,
       |  CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
       |    sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) * CAST(n_pairs * syy - sy * sy AS DOUBLE)) AS r
       |FROM m ORDER BY lag""".stripMargin

  // ---- gini_index: order-concentration Gini per market segment ----

  /** Gini coefficient of per-customer order counts per market segment —
    * the is-demand-concentrated audit (0 = every customer orders
    * equally, →1 = a few whales). NEVER ranks individual customers:
    * the per-customer counts collapse to a (segment, count) → multiplicity
    * frame first (≤ tens of distinct counts per segment), and the
    * rank-sum term Σ i·x_(i) is reconstructed exactly from value-group
    * algebra — ranks of a value block span (C, C+m], so their sum is
    * m·C + m(m+1)/2 with C the exclusive cumulative multiplicity. The
    * only window runs over that tiny value-indexed frame, partitioned
    * by segment. Gini = (2T − (n+1)·S) / (n·S), integer numerator,
    * one presentation double. Customers with zero orders count.
    */
  def giniIndexQ(spark: SparkSession, dir: String): DataFrame = {
    val cnts = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      .join(Tables(spark, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("segment"), coalesce(col("cnt"), lit(0L)).as("v"))
      .groupBy(col("segment"), col("v")).agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(col("segment")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cnts
      .withColumn("cprev", coalesce(sum(col("m")).over(w), lit(0L)))
      .groupBy(col("segment"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("v")).as("s"),
        sum(expr("v * (m * cprev + (m * (m + 1)) div 2)")).as("t"))
      .select(col("segment"), col("n"), col("s"),
        (lit(2L) * col("t") - (col("n") + 1L) * col("s")).as("gini_num"),
        ((lit(2L) * col("t") - (col("n") + 1L) * col("s")).cast("double") /
          (col("n") * col("s")).cast("double")).as("gini"))
      .orderBy(col("segment"))
  }

  val giniIndexSql: String =
    """WITH pc AS (SELECT c.c_mktsegment AS segment,
      |    COALESCE(o.cnt, 0) AS v
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1) o
      |    ON o.o_custkey = c.c_custkey),
      |vm AS (SELECT segment, v, CAST(COUNT(*) AS BIGINT) AS m FROM pc GROUP BY 1, 2),
      |cm AS (SELECT segment, v, m,
      |    COALESCE(SUM(m) OVER (PARTITION BY segment ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
      |  FROM vm),
      |agg AS (SELECT segment, CAST(SUM(m) AS BIGINT) AS n,
      |    CAST(SUM(m * v) AS BIGINT) AS s,
      |    CAST(SUM(v * (m * cprev + m * (m + 1) // 2)) AS BIGINT) AS t
      |  FROM cm GROUP BY 1)
      |SELECT segment, n, s,
      |  CAST(2 * t - (n + 1) * s AS BIGINT) AS gini_num,
      |  CAST(2 * t - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
      |FROM agg ORDER BY segment""".stripMargin

  // ---- aspect_bucket_pack: aspect-ratio bucketed batch packing ----

  /** (bucket label, ratio numerator, ratio denominator) ladder — the
    * fixed aspect grid a diffusion/vision trainer resizes into.
    */
  val aspectLadder: Seq[(String, Long, Long)] = Seq(
    ("1:2", 1L, 2L), ("3:4", 3L, 4L), ("1:1", 1L, 1L),
    ("4:3", 4L, 3L), ("2:1", 2L, 1L))
  val aspectBatch = 8
  val aspectShards = 4

  /** Aspect-ratio bucketing + fixed-size batch packing for image
    * payloads — the multimodal counterpart of `seq_pack`: a vision
    * trainer can only batch same-shape tensors, so each image goes to
    * its nearest aspect bucket (argmin |w·hr − h·wr| over the ladder,
    * pure integer cross-multiplication, ties to the squarer bucket)
    * and batches of 8 are formed in seeded md5 order WITHIN
    * (bucket, shard): the md5 shard key bounds every packing window by
    * shard size, so batch forming is embarrassingly parallel and
    * batches never cross shards — exactly how a 1000-executor job
    * forms batches without a global sequence. Trailing partial batches
    * (slot count < 8) are per-shard, the accepted cost of
    * coordination-free packing.
    */
  def aspectBucketPackQ(spark: SparkSession, dir: String): DataFrame = {
    val imgs = graft.operators.Multimodal.withPayload(Tables(spark, dir, "documents"))
      .filter(col("mime") === "image/png")
      .select(col("doc_id"), col("width"), col("height"))
    val ladder = {
      import spark.implicits._
      aspectLadder.zipWithIndex
        .map { case ((b, wr, hr), i) => (b, wr, hr, i) }
        .toDF("bucket", "wr", "hr", "idx")
    }
    val bucketed = imgs.crossJoin(broadcast(ladder))
      .groupBy(col("doc_id"), col("width"), col("height"))
      .agg(min_by(col("bucket"),
        struct(abs(col("width") * col("hr") - col("height") * col("wr")), col("idx")))
        .as("bucket"))
      .withColumn("h",
        conv(substring(md5(concat(lit("ab:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
          .cast("long"))
      .withColumn("shard", (col("h") % aspectShards).cast("int"))
    bucketed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bucket"), col("shard")).orderBy(col("h"), col("doc_id"))))
      .select(col("doc_id"), col("width"), col("height"), col("bucket"), col("shard"),
        expr(s"(rn - 1) div $aspectBatch").as("batch"),
        expr(s"(rn - 1) % $aspectBatch").as("slot"))
      .orderBy(col("doc_id"))
  }

  val aspectBucketPackSql: String = {
    val ladderRows = aspectLadder.zipWithIndex
      .map { case ((b, wr, hr), i) => s"('$b', $wr, $hr, $i)" }.mkString(", ")
    s"""WITH imgs AS (SELECT doc_id,
       |    16 + n_chars % 64 AS width,
       |    16 + CAST(floor(n_chars / 64.0) AS BIGINT) % 64 AS height
       |  FROM documents WHERE doc_id % 3 = 0),
       |ladder(bucket, wr, hr, idx) AS (VALUES $ladderRows),
       |assigned AS (SELECT doc_id, width, height, bucket FROM (
       |    SELECT i.doc_id, i.width, i.height, l.bucket,
       |      ROW_NUMBER() OVER (PARTITION BY i.doc_id
       |        ORDER BY abs(i.width * l.hr - i.height * l.wr), l.idx) AS r
       |    FROM imgs i CROSS JOIN ladder l) WHERE r = 1),
       |sharded AS (SELECT doc_id, width, height, bucket,
       |    CAST(('0x' || substr(md5('ab:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
       |  FROM assigned)
       |SELECT doc_id, width, height, bucket,
       |  CAST(h % $aspectShards AS INT) AS shard,
       |  CAST((rn - 1) // $aspectBatch AS BIGINT) AS batch,
       |  CAST((rn - 1) % $aspectBatch AS BIGINT) AS slot
       |FROM (SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY bucket, h % $aspectShards ORDER BY h, doc_id) AS rn
       |  FROM sharded)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- dup_rate_by_source: per-source near-dup contamination report ----

  /** Which source is polluted: per source, the share of documents that
    * participate in at least one verified MinHash near-dup pair — the
    * first chart on every curation dashboard. A pure consumer of the
    * session's memoized verified-pair frame: one explode of the pair
    * list to its member docs, one semi-join, one per-source aggregate —
    * no corpus-sized similarity work re-runs.
    */
  def dupRateBySourceQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = QueriesText.lshPairs(spark, dir)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    Tables(spark, dir, "documents").select(col("doc_id"), col("source"))
      .join(members.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double")).as("dup_rate"))
      .orderBy(col("source"))
  }

  lazy val dupRateBySourceSql: String =
    s"""WITH ${QueriesText.lshPairsCtes},
       |members AS (SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b FROM pairs))
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(m.doc_id) AS BIGINT) AS n_dup_docs,
       |  CAST(COUNT(m.doc_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
       |FROM documents d LEFT JOIN members m ON m.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- k_anon_audit: k-anonymity audit over quasi-identifiers ----

  val kAnonK = 5L

  /** k-anonymity audit (Sweeney's k=5 bar) over the customer table's
    * quasi-identifier tuple (nation, market segment, balance sign):
    * any QI combination shared by fewer than k rows re-identifies its
    * members, so the release gate needs the violating combos and the
    * exposure headcount. One keyed aggregate over the QI tuple, then a
    * ≤\|combos\|-row report: every violating combo with its size, plus
    * a single summary row (combo = '__TOTAL__') carrying min group
    * size, violating-combo count, and exposed-row count — the
    * suppress-or-generalize decision input. The same plan is the
    * l-diversity/t-closeness scaffold: swap the aggregate.
    */
  def kAnonAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val groups = Tables(spark, dir, "customer")
      .groupBy(concat_ws("|", col("c_nationkey").cast("string"), col("c_mktsegment"),
        when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos"))).as("combo"))
      .agg(count(lit(1)).as("n"))
    val viol = groups.filter(col("n") < kAnonK)
    val summary = groups.agg(
      min(col("n")).as("__minn"),
      sum(when(col("n") < kAnonK, 1L).otherwise(0L)).as("__nv"),
      sum(when(col("n") < kAnonK, col("n")).otherwise(0L)).as("__ne"))
      .select(lit("__TOTAL__").as("combo"), col("__minn").as("n"),
        col("__nv").as("n_violating"), col("__ne").as("n_exposed"))
    viol.select(col("combo"), col("n"), lit(null).cast("long").as("n_violating"),
        lit(null).cast("long").as("n_exposed"))
      .unionAll(summary)
      .orderBy(col("combo"))
  }

  val kAnonAuditSql: String =
    s"""WITH g AS (SELECT
       |    CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment || '|' ||
       |      (CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END) AS combo,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM customer GROUP BY 1)
       |SELECT combo, n, CAST(NULL AS BIGINT) AS n_violating, CAST(NULL AS BIGINT) AS n_exposed
       |FROM g WHERE n < $kAnonK
       |UNION ALL
       |SELECT '__TOTAL__' AS combo, CAST(MIN(n) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN n < $kAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       |  CAST(SUM(CASE WHEN n < $kAnonK THEN n ELSE 0 END) AS BIGINT) AS n_exposed
       |FROM g
       |ORDER BY combo""".stripMargin

  // ---- prefix_sim_join: exact-threshold similarity join (PPJoin family) ----

  /** Jaccard threshold τ = 3/5: all comparisons are integer
    * cross-multiplications against this rational, never a float τ.
    */
  val psjTauNum = 3L
  val psjTauDen = 5L

  /** Prefix-filtered EXACT similarity join (the PPJoin/AllPairs
    * discipline, Bayardo et al. 2007 / Xiao et al. 2008): two documents
    * with 3-shingle Jaccard ≥ τ MUST share a shingle in their
    * rare-first prefixes of length |s| − ⌈τ|s|⌉ + 1, so candidacy is an
    * equi-join on prefix shingles — ZERO false negatives over the WHOLE
    * corpus, the exact-recall complement of the MinHash band join
    * (whose P≈J³² miss profile `ngram_jaccard` documents; same
    * 3-shingle unit, so the two operators answer the same question
    * with opposite recall/cost trade-offs). No global token ranking
    * exists anywhere: the "rare-first" total order is the (df, shingle)
    * tuple itself, so the only window ranks shingles WITHIN each
    * document. Candidates pass the τ-size filter (5·min ≥ 3·max)
    * before either side's set ships; verification is one
    * array_intersect with the τ-test as a pure-integer compare
    * (8·inter ≥ 3·(na+nb)). Reuses the session's memoized 3-shingle
    * set frame — no re-shingling. The filter's effectiveness rides on
    * shingle-df sparsity (real corpora: df ≪ n); a corpus whose
    * shingle vocabulary saturates degrades toward the verify join, the
    * published algorithm's own profile.
    */
  def prefixSimJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val arrs = Memo(spark, dir, "wave6:psjArrs")(
      QueriesText.shArr3(spark, dir)
        .select(col("doc_id"), col("sh"), size(col("sh")).as("n")))
    val toks = arrs.select(col("doc_id"), col("n"), explode(col("sh")).as("tok"))
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefix = toks.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      // p = s − ⌈τs⌉ + 1 with ⌈3s/5⌉ = (3s + 4) div 5
      .filter(col("rn") <= col("n") - expr(s"(${psjTauNum} * n + ${psjTauDen - 1}) div $psjTauDen") + 1)
      .select(col("doc_id"), col("n"), col("tok"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("n").as("na"), col("tok"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("tok")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(psjTauDen) * least(col("na"), col("nb")) >=
        lit(psjTauNum) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verified pairs memoized (the lshPairs discipline): the prefix
    // pipeline — token df, per-doc rank, prefix self-join, verify —
    // runs once per session; every later action reads the bounded
    // similar-pair frame
    Memo(spark, dir, "wave6:psjPairs")(
      cand
        .join(arrs.select(col("doc_id").as("doc_a"), col("sh").as("sha"), col("n").as("na")), "doc_a")
        .join(arrs.select(col("doc_id").as("doc_b"), col("sh").as("shb"), col("n").as("nb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .filter(lit(psjTauDen + psjTauNum) * col("inter") >=
          lit(psjTauNum) * (col("na") + col("nb")))
        .select(col("doc_a"), col("doc_b"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val prefixSimJoinSql: String =
    s"""WITH ${QueriesText.wordsCte},
       |sets AS (SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |  FROM w),
       |arrs AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n FROM sets),
       |toks AS (SELECT doc_id, n, unnest(sh) AS tok FROM arrs),
       |dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY 1),
       |pref AS (SELECT doc_id, n, tok FROM (
       |    SELECT t.doc_id, t.n, t.tok,
       |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
       |    FROM toks t JOIN dfreq d ON d.tok = t.tok)
       |  WHERE rn <= n - ($psjTauNum * n + ${psjTauDen - 1}) // $psjTauDen + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  WHERE $psjTauDen * LEAST(a.n, b.n) >= $psjTauNum * GREATEST(a.n, b.n)),
       |ver AS (SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter, a.n AS na, b.n AS nb
       |  FROM cand c
       |  JOIN arrs a ON a.doc_id = c.doc_a
       |  JOIN arrs b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
       |FROM ver WHERE ${psjTauDen + psjTauNum} * inter >= $psjTauNum * (na + nb)
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prefix_sim_join" -> (prefixSimJoinQ _),
    "k_anon_audit" -> (kAnonAuditQ _),
    "aspect_bucket_pack" -> (aspectBucketPackQ _),
    "dup_rate_by_source" -> (dupRateBySourceQ _),
    "source_temp_mix" -> (sourceTempMixQ _),
    "cross_corr" -> (crossCorrQ _),
    "gini_index" -> (giniIndexQ _),
    "hist_join_est" -> (histJoinEstQ _),
    "kmv_join_est" -> (kmvJoinEstQ _),
    "psi_drift" -> (psiDriftQ _),
    "autocorr" -> (autocorrQ _),
    "bootstrap_ci" -> (bootstrapCiQ _),
    "knn_graph" -> (knnGraphQ _),
    "negative_sampling" -> (negativeSamplingQ _),
    "seasonal_decompose" -> (seasonalDecomposeQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "prefix_sim_join" -> prefixSimJoinSql,
    "k_anon_audit" -> kAnonAuditSql,
    "aspect_bucket_pack" -> aspectBucketPackSql,
    "dup_rate_by_source" -> dupRateBySourceSql,
    "source_temp_mix" -> sourceTempMixSql,
    "cross_corr" -> crossCorrSql,
    "gini_index" -> giniIndexSql,
    "hist_join_est" -> histJoinEstSql,
    "kmv_join_est" -> kmvJoinEstSql,
    "psi_drift" -> psiDriftSql,
    "autocorr" -> autocorrSql,
    "bootstrap_ci" -> bootstrapCiSql,
    "knn_graph" -> knnGraphSql,
    "negative_sampling" -> negativeSamplingSql,
    "seasonal_decompose" -> seasonalDecomposeSql
  )
}

/** Shared Poisson(1)-bootstrap grid — its own object (no references
  * into the query objects) so `QueriesWave6` and `QueriesEstimators`
  * can both use it without an object-initialization cycle.
  */
object PoissonGrid {

  val bootstrapR = 32

  /** Integer thresholds t_k = floor(P[Pois(1) ≤ k] · 2^52): the Poisson
    * draw becomes a pure BIGINT compare against the 52-bit md5 hash, so
    * both engines make bit-identical draws with no double parsing in
    * the hot path.
    */
  val poisThresholds: Seq[Long] = {
    val fact = Array(1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0, 40320.0)
    val e1 = math.exp(-1.0)
    fact.indices.map { k =>
      val cdf = (0 to k).map(j => e1 / fact(j)).sum
      (cdf * 4503599627370496.0).toLong
    }
  }

  def poisCaseSqlExpr(h: String): String =
    poisThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $h < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${poisThresholds.size} END")
}
