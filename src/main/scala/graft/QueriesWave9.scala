package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 second wave: richness/total estimators off the shared
  * Bernoulli sample (Chao1, Horvitz–Thompson), a Neyman sampling-
  * allocation plan, a Heaps-law vocabulary-growth fit, a measured
  * LSH-recall audit against the exact-recall prefix join, a
  * deterministic multi-epoch shuffle plan, and k-core membership on
  * the trade graph. Same portable-grid discipline as every wave.
  */
object QueriesWave9 extends QueryModule {

  // ---- chao1_est: Chao1 richness estimator from the shared sample ----

  /** Chao1 species-richness estimator (Chao 1984, bias-corrected form):
    * est = d + f₁(f₁−1)/(2(f₂+1)) over the SAME memoized 1-in-16
    * Bernoulli sample profile `gee_est` reads — the abundance-based
    * rung of the NDV ladder (GEE scales the singleton count; Chao1
    * infers the unseen mass from the singleton/doubleton ratio, the
    * ecology-lineage estimator database samplers borrowed). One tiny
    * aggregate per column over the session sample memo; exact NDV for
    * the q-error rides the scans the hll/kmv family already audits.
    */
  def chao1EstQ(spark: SparkSession, dir: String): DataFrame =
    QueriesStats.hllCols.map { case (t, c) =>
      val agg = QueriesWave8.geeSample(spark, dir, t, c).agg(
        count(lit(1)).as("d_sample"),
        coalesce(sum(when(col("m") === 1L, 1L).otherwise(0L)), lit(0L)).as("f1"),
        coalesce(sum(when(col("m") === 2L, 1L).otherwise(0L)), lit(0L)).as("f2"))
      val exact = Tables(spark, dir, t).agg(count_distinct(col(c)).as("exact_ndv"))
      agg.crossJoin(broadcast(exact))
        .withColumn("chao1_est",
          col("d_sample").cast("double") +
            (col("f1") * (col("f1") - 1)).cast("double") /
              (lit(2L) * (col("f2") + 1)).cast("double"))
        .select(lit(s"$t.$c").as("col_name"), col("d_sample"), col("f1"), col("f2"),
          col("chao1_est"), col("exact_ndv"),
          (greatest(col("chao1_est"), col("exact_ndv").cast("double")) /
            greatest(least(col("chao1_est"), col("exact_ndv").cast("double")), lit(1.0)))
            .as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("col_name"))

  val chao1EstSql: String =
    QueriesStats.hllCols.map { case (t, c) =>
      s"""SELECT '$t.$c' AS col_name, d_sample, f1, f2,
         |  CAST(d_sample AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
         |    / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1_est,
         |  exact_ndv,
         |  GREATEST(CAST(d_sample AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
         |      / CAST(2 * (f2 + 1) AS DOUBLE), CAST(exact_ndv AS DOUBLE))
         |    / GREATEST(LEAST(CAST(d_sample AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
         |      / CAST(2 * (f2 + 1) AS DOUBLE), CAST(exact_ndv AS DOUBLE)), 1.0) AS q_err
         |FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS d_sample,
         |    CAST(COALESCE(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
         |    CAST(COALESCE(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2
         |  FROM ${QueriesWave8.geeSampleSub(t, c)}),
         |  (SELECT CAST(COUNT(DISTINCT $c) AS BIGINT) AS exact_ndv FROM $t)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- ht_total_est: Horvitz–Thompson total from the row sample ----

  /** (measure label, table, cents expression) audited by the HT total. */
  val htMeasures: Seq[(String, String, String)] = Seq(
    ("lineitem.l_extendedprice", "lineitem",
      "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    ("orders.o_totalprice", "orders",
      "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))

  /** Horvitz–Thompson total estimator from the deterministic 1-in-16
    * Bernoulli row sample: T̂ = Σ_sample x/π = 16·Σ_sample x — the
    * design-unbiased SUM companion to `sample_est`'s COUNT (π is the
    * literal inclusion probability, so the estimate is an exact
    * integer in cents). Audited on the two monetary totals with the
    * exact totals' signed relative error; the sample is a pushed-down
    * per-row md5 filter, the truth one aggregate the engine would run
    * anyway.
    */
  def htTotalEstQ(spark: SparkSession, dir: String): DataFrame =
    htMeasures.map { case (label, t, centsExpr) =>
      val rk = concat_ws(":",
        Tables.pks(t).map(k =>
          if (k == "l_quantity") col(k).cast("long").cast("string")
          else col(k).cast("string")): _*)
      val u = conv(substring(md5(concat(lit(s"ht:$label:"), rk)), 1, 13), 16, 10)
        .cast("long")
      val base = Tables(spark, dir, t).withColumn("__c", expr(centsExpr))
      // sample leg + truth leg in ONE conditional aggregate over one
      // scan (guide §2.3/§1.2: don't pay two passes for values one
      // pass computes) — the old shape scanned the table twice and
      // crossJoined two 1-row aggregates; results are identical
      // (count-of-non-null ≡ count over the filtered rows, conditional
      // sum ≡ sum over the filtered rows).
      val cond = u % QueriesWave8.geeRate === 0L
      base
        .agg(
          count(when(cond, lit(1))).as("n_sample"),
          (coalesce(sum(when(cond, col("__c"))), lit(0L)) *
            QueriesWave8.geeRate).as("est_cents"),
          sum(col("__c")).as("actual_cents"))
        .select(lit(label).as("measure"), col("n_sample"), col("est_cents"),
          col("actual_cents"),
          ((col("est_cents") - col("actual_cents")).cast("double") /
            col("actual_cents").cast("double")).as("rel_err"))
    }.reduce(_.unionAll(_)).orderBy(col("measure"))

  val htTotalEstSql: String =
    htMeasures.map { case (label, t, centsExpr) =>
      val rk = Tables.pks(t).map(k =>
        if (k == "l_quantity") s"CAST(CAST($k AS BIGINT) AS VARCHAR)"
        else s"CAST($k AS VARCHAR)").mkString(" || ':' || ")
      s"""SELECT '$label' AS measure, s.n_sample, s.est_cents, tr.actual_cents,
         |  CAST(s.est_cents - tr.actual_cents AS DOUBLE)
         |    / CAST(tr.actual_cents AS DOUBLE) AS rel_err
         |FROM (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
         |    CAST(COALESCE(SUM($centsExpr), 0) * ${QueriesWave8.geeRate} AS BIGINT) AS est_cents
         |  FROM $t
         |  WHERE CAST(('0x' || substr(md5('ht:$label:' || $rk), 1, 13)) AS BIGINT) % ${QueriesWave8.geeRate} = 0) s,
         |  (SELECT CAST(SUM($centsExpr) AS BIGINT) AS actual_cents FROM $t) tr""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY measure")

  // ---- neyman_alloc: optimal stratified-sampling allocation plan ----

  val neymanBudget = 1000L

  /** Neyman allocation plan (Neyman 1934) for a 1,000-row stratified
    * sample of customer balances by nation: n_h ∝ N_h·σ_h minimizes
    * the stratified estimator's variance — the pre-flight that turns
    * `stratified_sample` from proportional to optimal. Exact
    * discipline: N_h·σ_h = √(N_h·Σx² − S²) exactly, so the weight is
    * ONE quantized √ per stratum (radicand DECIMAL(38,0)/HUGEINT);
    * floor allocations by integer division, then largest-remainder
    * top-up (rank window over the ≤ #nations plan frame) so the
    * allocations sum to the budget EXACTLY — a plan a 1000-executor
    * sampler can follow with zero coordination.
    */
  def neymanAllocQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val strata = Tables(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nationkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n_h"),
        (count(lit(1)).cast("decimal(38,0)") *
          sum(col("x").cast("decimal(38,0)") * col("x")) -
          sum(col("x")).cast("decimal(38,0)") * sum(col("x"))).as("v"))
      .withColumn("w", expr("CAST(round(sqrt(CAST(v AS DOUBLE))) AS BIGINT)"))
    val tot = strata.agg(sum(col("w")).as("tw"))
    val floored = strata.crossJoin(broadcast(tot))
      .withColumn("alloc0", expr(s"($neymanBudget * w) div tw"))
      .withColumn("rem", lit(neymanBudget) * col("w") - col("alloc0") * col("tw"))
    val deficit = floored.agg((lit(neymanBudget) - sum(col("alloc0"))).as("def"))
    floored.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("nationkey"))))
      .select(col("nationkey"), col("n_h"),
        (col("w").cast("double") / col("n_h")).as("sd_cents"),
        (col("alloc0") + when(col("rk") <= col("def"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col("nationkey"))
  }

  val neymanAllocSql: String =
    s"""WITH strata AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_h,
       |    CAST(round(sqrt(CAST(COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
       |      - CAST(SUM(x) AS HUGEINT) * SUM(x) AS DOUBLE))) AS BIGINT) AS w
       |  FROM (SELECT c_nationkey, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x
       |        FROM customer)
       |  GROUP BY 1),
       |tot AS (SELECT SUM(w) AS tw FROM strata),
       |fl AS (SELECT nationkey, n_h, w, tw,
       |    ($neymanBudget * w) // tw AS alloc0,
       |    $neymanBudget * w - (($neymanBudget * w) // tw) * tw AS rem
       |  FROM strata, tot),
       |d AS (SELECT $neymanBudget - SUM(alloc0) AS def FROM fl),
       |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, nationkey) AS rk FROM fl)
       |SELECT nationkey, n_h, CAST(w AS DOUBLE) / n_h AS sd_cents,
       |  CAST(alloc0 + CASE WHEN rk <= d.def THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM rk, d ORDER BY nationkey""".stripMargin

  // ---- heaps_law_fit: vocabulary-growth exponent ----

  /** Heaps-law fit V = K·N^β over the per-source (tokens, vocabulary)
    * points: ln V = ln K + β·ln N by closed-form least squares on the
    * ≤ #sources frame — the vocabulary-growth exponent that predicts
    * how much NEW vocabulary another 10× of corpus buys (β≈0.5 for
    * natural text; β→0 means the source's vocabulary has saturated,
    * a curation red flag). Companion to `zipf_fit` (the two laws are
    * duals). Both lns quantize to the 1e-6 grid; all moment sums are
    * exact BIGINT; the slope is one division of exact integers and
    * the intercept derives from the materialized slope with an
    * identical expression in both engines. Input is the session
    * `srcWordCounts` vocabulary memo — no new corpus work.
    */
  def heapsLawFitQ(spark: SparkSession, dir: String): DataFrame = {
    val pts = QueriesWave8.srcWordCounts(spark, dir)
      .groupBy(col("source"))
      .agg(sum(col("a")).as("nn"), count(lit(1)).as("vv"))
      .select(
        expr("CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT)").as("x6"),
        expr("CAST(round(ln(CAST(vv AS DOUBLE)) * 1e6) AS BIGINT)").as("y6"))
    pts.agg(count(lit(1)).as("n_sources"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"), sum(col("x6") * col("x6")).as("sxx"))
      .withColumn("beta",
        (col("n_sources") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_sources") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("n_sources"), col("beta"),
        ((col("sy").cast("double") / col("n_sources") -
          col("beta") * (col("sx").cast("double") / col("n_sources"))) / 1e6)
          .as("ln_k"))
  }

  val heapsLawFitSql: String =
    s"""WITH ${QueriesWave8.srcWordCountsCte},
       |pts AS (SELECT CAST(round(ln(CAST(SUM(a) AS DOUBLE)) * 1e6) AS BIGINT) AS x6,
       |    CAST(round(ln(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT) AS y6
       |  FROM swc GROUP BY source),
       |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    SUM(x6) AS sx, SUM(y6) AS sy, SUM(x6 * y6) AS sxy, SUM(x6 * x6) AS sxx
       |  FROM pts),
       |b AS (SELECT n_sources, sx, sy,
       |    CAST(n_sources * sxy - sx * sy AS DOUBLE)
       |      / CAST(n_sources * sxx - sx * sx AS DOUBLE) AS beta
       |  FROM mo)
       |SELECT n_sources, beta,
       |  (CAST(sy AS DOUBLE) / n_sources - beta * (CAST(sx AS DOUBLE) / n_sources)) / 1e6 AS ln_k
       |FROM b""".stripMargin

  // ---- lsh_recall_audit: measured band-join recall vs exact pairs ----

  /** MEASURED recall of the MinHash band join against ground truth:
    * the exact τ=0.6 similar-pair set comes from `prefix_sim_join`'s
    * zero-false-negative prefix filter (same 3-shingle unit, same
    * memoized pair frame), the candidate set from the session's
    * signature-collapsed band join — so the audit closes the loop
    * `lsh_tuning` only PREDICTS (expected recall from measured
    * similarities vs banding curves). One pair-keyed join between two
    * bounded memoized frames; at 100 TB the truth leg costs what the
    * prefix join already paid, nothing rescans. The `ann_recall`
    * discipline applied to the dedup stack.
    */
  def lshRecallAuditQ(spark: SparkSession, dir: String): DataFrame = {
    val exact = QueriesWave6.prefixSimJoinQ(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    // the band join recomputes per consumer otherwise — three aggregates
    // read it here, so pin the collapsed candidate pairs once
    val cand = SharedFrames.lshCand(spark, dir)
    val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    Memo(spark, dir, "wave9:lshRecallRow") {
      import exact.sparkSession.implicits._
      exact.agg(count(lit(1)).as("n_true"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          when(col("n_true") === 0, lit(1.0))
            .otherwise(col("n_hit").cast("double") / col("n_true")).as("recall"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .toDF("n_true", "n_cand", "n_hit", "recall")
    }
  }

  val lshRecallAuditSql: String =
    s"""WITH ${QueriesText.candCtes},
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |allint AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ex AS (SELECT i.doc_a, i.doc_b FROM allint i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |  WHERE ${QueriesWave6.psjTauDen + QueriesWave6.psjTauNum} * i.inter
       |    >= ${QueriesWave6.psjTauNum} * (sa.n + sb.n)),
       |hit AS (SELECT e.doc_a FROM ex e
       |  JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_true,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
       |  CASE WHEN (SELECT COUNT(*) FROM ex) = 0 THEN 1.0
       |       ELSE CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
       |         / (SELECT COUNT(*) FROM ex) END AS recall""".stripMargin

  // ---- epoch_shuffle_plan: deterministic multi-epoch shard rotation ----

  val epochCount = 4
  val epochShards = 8

  /** Multi-epoch shuffle plan: per training epoch e, every doc lands in
    * shard md5("ep:e:doc") % 8 — a DIFFERENT pseudorandom partition
    * each epoch (the "reshuffle between epochs" trainers need) that any
    * executor computes locally from (e, doc_id): zero coordination,
    * zero stored permutations, reproducible across reruns. Output per
    * (epoch, shard): doc count + char load, with per-epoch max/min
    * spread (window over the 32-row plan frame) — the balance audit
    * proving each epoch's rotation stays even. `shard_plan`'s
    * discipline rotated across epochs.
    */
  def epochShufflePlanQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(epochCount - 1))).as("epoch"))
      .withColumn("shard",
        expr(s"CAST(CAST(conv(substring(md5(concat('ep:', CAST(epoch AS STRING), ':', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % $epochShards AS INT)"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("max_chars",
        max(col("n_chars")).over(Window.partitionBy(col("epoch"))))
      .withColumn("min_chars",
        min(col("n_chars")).over(Window.partitionBy(col("epoch"))))
      .select(col("epoch"), col("shard"), col("n_docs"), col("n_chars"),
        col("max_chars"), col("min_chars"),
        (col("max_chars").cast("double") / col("min_chars")).as("spread"))
      .orderBy(col("epoch"), col("shard"))
  }

  val epochShufflePlanSql: String =
    s"""WITH ex AS (SELECT d.doc_id, d.n_chars, e.epoch
       |  FROM documents d, (SELECT UNNEST(range(0, $epochCount)) AS epoch) e),
       |cell AS (SELECT epoch,
       |    CAST(CAST(('0x' || substr(md5('ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $epochShards AS INT) AS shard,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |  FROM ex GROUP BY 1, 2)
       |SELECT epoch, shard, n_docs, n_chars,
       |  MAX(n_chars) OVER (PARTITION BY epoch) AS max_chars,
       |  MIN(n_chars) OVER (PARTITION BY epoch) AS min_chars,
       |  CAST(MAX(n_chars) OVER (PARTITION BY epoch) AS DOUBLE)
       |    / MIN(n_chars) OVER (PARTITION BY epoch) AS spread
       |FROM cell ORDER BY epoch, shard""".stripMargin

  // ---- kcore_membership: k-core decomposition membership ----

  val kcoreK = 3
  val kcoreRounds = 6

  /** k-core membership (k=3) on the undirected customer↔supplier
    * nation trade graph: iteratively peel nodes with fewer than k
    * neighbors among survivors until stable — the densest-region
    * primitive community/influence pipelines run after PageRank/SALSA
    * scoring. The graph is the session's memoized ≤25-node edge frame,
    * so 6 peel rounds are 6 tiny memoized joins (`nation_pagerank`'s
    * unrolled-iteration discipline); the spec asserts rounds 5 and 6
    * agree, i.e. the unroll REACHED the fixpoint — on a bounded node
    * set the peel count is bounded by |V|, and the invariant test is
    * the guard that the budget suffices. Output: every node, its
    * membership, and its degree within the surviving core.
    */
  /** The undirected nation trade graph (deduped symmetric edge list,
    * self-loops dropped) — shared by kcore_membership and Wave22's
    * label propagation; the directed weighted edges are the session's
    * `graph:nationEdges` memo. */
  private[graft] def nationUndirected(spark: SparkSession, dir: String): DataFrame = {
    val e = SharedFrames.nationEdges(spark, dir)
    Memo(spark, dir, "wave9:nationUndirected")(
      e.select(col("u").cast("long").as("a"), col("v").cast("long").as("b"))
        .unionAll(e.select(col("v").cast("long").as("a"), col("u").cast("long").as("b")))
        .filter(col("a") =!= col("b")).distinct())
  }

  /** The same graph as engine-portable CTEs (`e`, `und`) for oracles. */
  private[graft] val nationUndCte: String =
    """e AS (
      |  SELECT c.c_nationkey AS u, s.s_nationkey AS v
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |und AS (SELECT DISTINCT a, b FROM (
      |  SELECT CAST(u AS BIGINT) AS a, CAST(v AS BIGINT) AS b FROM e
      |  UNION ALL SELECT CAST(v AS BIGINT), CAST(u AS BIGINT) FROM e)
      |  WHERE a != b)""".stripMargin

  def kcoreMembershipQ(spark: SparkSession, dir: String): DataFrame = {
    val und = nationUndirected(spark, dir)
    val a0 = Memo(spark, dir, "wave9:kcoreA0")(und.select(col("a").as("node")).distinct())
    // Literal checkpoint PER ROUND (the kcoreFinal discipline applied to
    // each iteration): every round references the previous one twice
    // (a-side and b-side survivor joins), so a lazy unroll doubles the
    // logical plan per round — 2^6 copies of the 4-table edge lineage.
    // Execution was fine (memoized), but the driver paid minutes of CPU
    // just stringifying that tree for the SQL-execution event. The
    // active set is the ≤25-row nation node set, so collecting each
    // round to a LocalRelation keeps every downstream plan flat.
    def peel(active: DataFrame, round: Int): DataFrame =
      Memo(spark, dir, s"wave9:kcoreA$round") {
        import spark.implicits._
        und
          .join(broadcast(active.select(col("node").as("a"))), "a")
          .join(broadcast(active.select(col("node").as("b"))), "b")
          .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= kcoreK)
          .select(col("node"))
          .as[Long].collect().toSeq.toDF("node")
      }
    val rounds = (1 to kcoreRounds).scanLeft(a0)((acc, r) => peel(acc, r))
    val fin = rounds.last
    val deg = und
      .join(broadcast(fin.select(col("node").as("a"))), "a")
      .join(broadcast(fin.select(col("node").as("b"))), "b")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
    // Literal checkpoint (the salsa/kmeansCentroids discipline): the
    // result is ≤|V| bounded rows, but its lazy plan nests 6 peel
    // rounds of cached lineage — the driver pays seconds of
    // REPLANNING per action over that tree even with every cache hot
    // (52s/query at sf0.1 before this). Collect once per session.
    Memo(spark, dir, "wave9:kcoreFinal") {
      import spark.implicits._
      a0
        .join(broadcast(fin.withColumn("in_kcore", lit(true))), Seq("node"), "left_outer")
        .join(broadcast(deg), Seq("node"), "left_outer")
        .select(col("node").as("nationkey"),
          coalesce(col("in_kcore"), lit(false)).as("in_kcore"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"))
        .as[(Long, Boolean, Long)].collect().toSeq
        .toDF("nationkey", "in_kcore", "core_deg")
    }.orderBy(col("nationkey"))
  }

  /** Last two peel rounds, for the spec's fixpoint assertion — building
    * the query populates every round's memo, so these reads hit cache.
    */
  private[graft] def kcoreLastRounds(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    kcoreMembershipQ(spark, dir) // constructing the plan populates the round memos
    (Memo(spark, dir, s"wave9:kcoreA${kcoreRounds - 1}")(sys.error("memo must exist")),
      Memo(spark, dir, s"wave9:kcoreA$kcoreRounds")(sys.error("memo must exist")))
  }

  val kcoreMembershipSql: String = {
    // AS MATERIALIZED is load-bearing: each a$r references a$p TWICE, and
    // DuckDB inlines plain CTEs, so 6 peel rounds expand to 2^6 copies of
    // the 4-table `und` lineage (320 s at sf0.01 → 0.05 s materialized).
    // The oracle-side twin of the Spark-side literal-checkpoint fix.
    val peels = (1 to kcoreRounds).map { r =>
      val p = r - 1
      s"""a$r AS MATERIALIZED (SELECT e.a AS node FROM und e
         |  JOIN a$p x ON x.node = e.a
         |  JOIN a$p y ON y.node = e.b
         |  GROUP BY 1 HAVING COUNT(*) >= $kcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $nationUndCte,
       |a0 AS (SELECT DISTINCT a AS node FROM und),
       |$peels,
       |deg AS (SELECT e.a AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM und e
       |  JOIN a$kcoreRounds x ON x.node = e.a
       |  JOIN a$kcoreRounds y ON y.node = e.b
       |  GROUP BY 1)
       |SELECT a0.node AS nationkey,
       |  a$kcoreRounds.node IS NOT NULL AS in_kcore,
       |  COALESCE(deg.core_deg, 0) AS core_deg
       |FROM a0
       |LEFT JOIN a$kcoreRounds ON a$kcoreRounds.node = a0.node
       |LEFT JOIN deg ON deg.node = a0.node
       |ORDER BY nationkey""".stripMargin
  }

  // ---- prop_ztest_pairs: two-proportion z-tests between sources ----

  val ztestCrit = 1.959964 // Φ⁻¹(0.975), driver-quantized literal

  /** Two-proportion z-test for every source pair on the curation pass
    * rate (`doc_filter`'s kept flag): z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂))
    * with the pooled p̂ — the A/B screen for "do these two sources
    * really differ in quality, or is it sample noise", run pairwise so
    * a drifting source stands out against EVERY peer, not just the
    * mean. Exact discipline: the difference is the exact rational
    * (k₁n₂−k₂n₁)/(n₁n₂), the pooled standard error is ONE quantized √
    * per pair, and the pair frame is ≤ #sources² — the per-source
    * (n, k) table is a memoized one-scan aggregate, so at 100 TB the
    * pairwise stage touches a 20-row frame.
    */
  def propZtestPairsQ(spark: SparkSession, dir: String): DataFrame = {
    val rates = SharedFrames.srcPassRates(spark, dir)
    val a = rates.select(col("source").as("src_a"), col("n").as("n1"), col("k").as("k1"))
    val b = rates.select(col("source").as("src_b"), col("n").as("n2"), col("k").as("k2"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("diff",
        (col("k1") * col("n2") - col("k2") * col("n1")).cast("double") /
          (col("n1") * col("n2")).cast("double"))
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(
          |  CAST((k1 + k2) * (n1 + n2 - k1 - k2) AS DOUBLE) * (n1 + n2)
          |  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * n1 * n2))) AS BIGINT)""".stripMargin))
      .select(col("src_a"), col("src_b"),
        (col("k1").cast("double") / col("n1")).as("p1"),
        (col("k2").cast("double") / col("n2")).as("p2"),
        (col("diff") * 1e6 / col("se6")).as("z"))
      .withColumn("significant", abs(col("z")) >= ztestCrit)
      .orderBy(col("src_a"), col("src_b"))
  }

  val propZtestPairsSql: String = {
    import graft.operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |kept AS (
       |  SELECT w.doc_id, d.source,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id)),
       |rates AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM kept GROUP BY 1),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
       |    a.n AS n1, a.k AS k1, b.n AS n2, b.k AS k2
       |  FROM rates a JOIN rates b ON a.source < b.source),
       |z AS (SELECT src_a, src_b,
       |    CAST(k1 AS DOUBLE) / n1 AS p1, CAST(k2 AS DOUBLE) / n2 AS p2,
       |    (CAST(k1 * n2 - k2 * n1 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)) * 1e6
       |      / CAST(round(1e6 * sqrt(
       |          CAST((k1 + k2) * (n1 + n2 - k1 - k2) AS DOUBLE) * (n1 + n2)
       |          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * n1 * n2))) AS BIGINT) AS z
       |  FROM pairs)
       |SELECT src_a, src_b, p1, p2, z, abs(z) >= $ztestCrit AS significant
       |FROM z ORDER BY src_a, src_b""".stripMargin
  }

  // ---- burstiness_fano: overdispersion of the daily event series ----

  /** Fano factor (variance/mean of daily counts — 1 for a Poisson
    * process, >1 overdispersed) and the Goh–Barabási burstiness
    * B = (σ−μ)/(σ+μ) ∈ (−1, 1) per event type — the "is this traffic
    * machine-regular or bursty" diagnostic that decides watermark and
    * capacity headroom (complements `interarrival_stats`' gap moments
    * with count-process dispersion). Daily per-type aggregate first
    * (calendar-bounded), variance as exact integers nΣx²−T², ONE
    * quantized √ per type; Fano is a pure integer ratio. */
  def burstinessFanoQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts))").as("day_us"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("t"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("s6", expr(
        "CAST(round(1e6 * sqrt(CAST(n_days * sxx - t * t AS DOUBLE)) / n_days) AS BIGINT)"))
      .select(col("event_type"), col("n_days"),
        (col("t").cast("double") / col("n_days")).as("mean_daily"),
        ((col("n_days") * col("sxx") - col("t") * col("t")).cast("double") /
          (col("n_days") * col("t")).cast("double")).as("fano"),
        ((col("s6").cast("double") / 1e6 - col("t").cast("double") / col("n_days")) /
          (col("s6").cast("double") / 1e6 + col("t").cast("double") / col("n_days")))
          .as("burstiness"))
      .orderBy(col("event_type"))

  val burstinessFanoSql: String =
    """WITH daily AS (SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    SUM(x) AS t, SUM(x * x) AS sxx
      |  FROM daily GROUP BY 1),
      |s AS (SELECT *,
      |    CAST(round(1e6 * sqrt(CAST(n_days * sxx - t * t AS DOUBLE)) / n_days) AS BIGINT) AS s6
      |  FROM m)
      |SELECT event_type, n_days,
      |  CAST(t AS DOUBLE) / n_days AS mean_daily,
      |  CAST(n_days * sxx - t * t AS DOUBLE) / CAST(n_days * t AS DOUBLE) AS fano,
      |  (CAST(s6 AS DOUBLE) / 1e6 - CAST(t AS DOUBLE) / n_days)
      |    / (CAST(s6 AS DOUBLE) / 1e6 + CAST(t AS DOUBLE) / n_days) AS burstiness
      |FROM s ORDER BY event_type""".stripMargin

  // ---- page_hinkley: online drift alarm on the daily series ----

  /** Page–Hinkley drift detector over the daily event-count series:
    * m_t = Σ_{i≤t}(x_i − x̄), M_t = min_{s≤t} m_s, PH_t = m_t − M_t,
    * alarm when PH_t exceeds λ — the ONLINE mean-shift alarm whose
    * running-minimum reference resets after dips, unlike
    * `cusum_changepoint`'s offline argmax locator (same integer
    * scaling: n·m_t = n·prefix_t − t·T is BIGINT-exact, the running
    * min is a prefix window over the ≤ #days frame). λ = T/12 — one
    * "average month" of signal — keeps the threshold data-scaled and
    * integer-exact (alarm ⟺ 12·n·PH > n·T·… cross-multiplied). Output
    * per day: count, scaled PH statistic, alarm flag, plus the first
    * alarm day marker. */
  def pageHinkleyQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = SharedFrames.dailyEvents(spark, dir)
    val tot = daily.agg(count(lit(1)).as("nn"), sum(col("n")).as("t"))
    val w = Window.orderBy(col("day_us"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("pre", sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("m", col("nn") * col("pre") - col("rk") * col("t"))
      .withColumn("mmin", min(col("m")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ph", col("m") - col("mmin"))
      .withColumn("alarm", lit(12L) * col("ph") > col("nn") * col("t"))
    val first = cum.filter(col("alarm"))
      .agg(min(col("day_us")).as("__fa"))
    cum.crossJoin(broadcast(first))
      .select((col("day_us") / 1000000L).cast("long").as("day_s"),
        col("n"), col("ph"), col("alarm"),
        (col("day_us") === col("__fa")).as("first_alarm"))
      .orderBy(col("day_s"))
  }

  val pageHinkleySql: String =
    """WITH daily AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, SUM(n) AS t FROM daily),
      |cum AS (SELECT day_us, n,
      |    tot.nn * SUM(n) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING)
      |      - (ROW_NUMBER() OVER (ORDER BY day_us)) * tot.t AS m,
      |    tot.nn, tot.t
      |  FROM daily, tot),
      |ph AS (SELECT day_us, n, nn, t,
      |    m - MIN(m) OVER (ORDER BY day_us ROWS UNBOUNDED PRECEDING) AS ph
      |  FROM cum),
      |fa AS (SELECT MIN(day_us) AS f FROM ph WHERE 12 * ph > nn * t)
      |SELECT day_us // 1000000 AS day_s, n, CAST(ph AS BIGINT) AS ph,
      |  12 * ph > nn * t AS alarm, day_us = fa.f AS first_alarm
      |FROM ph, fa ORDER BY day_s""".stripMargin

  // ---- registry ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prop_ztest_pairs" -> (propZtestPairsQ _),
    "burstiness_fano" -> (burstinessFanoQ _),
    "page_hinkley" -> (pageHinkleyQ _),
    "chao1_est" -> (chao1EstQ _),
    "ht_total_est" -> (htTotalEstQ _),
    "neyman_alloc" -> (neymanAllocQ _),
    "heaps_law_fit" -> (heapsLawFitQ _),
    "lsh_recall_audit" -> (lshRecallAuditQ _),
    "epoch_shuffle_plan" -> (epochShufflePlanQ _),
    "kcore_membership" -> (kcoreMembershipQ _)
  )

  def oracleSql: Map[String, String] = Map(
    "prop_ztest_pairs" -> propZtestPairsSql,
    "burstiness_fano" -> burstinessFanoSql,
    "page_hinkley" -> pageHinkleySql,
    "chao1_est" -> chao1EstSql,
    "ht_total_est" -> htTotalEstSql,
    "neyman_alloc" -> neymanAllocSql,
    "heaps_law_fit" -> heapsLawFitSql,
    "lsh_recall_audit" -> lshRecallAuditSql,
    "epoch_shuffle_plan" -> epochShufflePlanSql,
    "kcore_membership" -> kcoreMembershipSql
  )
}
