package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 wave: multiple-testing control over the pairwise source
  * screens (Benjamini–Hochberg), plus scale-planning and analytics
  * operators in the same portable-grid discipline as every wave.
  */
object QueriesWave22 extends QueryModule {

  // ---- bh_fdr: Benjamini–Hochberg FDR over the source-pair z-tests ----

  /** FDR level for the BH step-up procedure, as an exact ppb integer so
    * the rejection rule `p9 · m ≤ rank · bhAlphaPpb` compares BIGINTs. */
  val bhAlphaPpb = 50000000L // α = 0.05 in parts-per-billion

  /** Benjamini–Hochberg FDR control over `prop_ztest_pairs`' pairwise
    * source screen — the missing piece of any dashboard that runs
    * #sources² significance tests at once: per-comparison α=0.05 at
    * 190 pairs expects ~10 false flags, so the pairwise drift screen
    * NEEDS multiple-testing control before anyone acts on it. Two-sided
    * p from each pair's z via the Abramowitz–Stegun 7.1.26 erf
    * polynomial (p = poly(t)·exp(−z²/2), t = 1/(1+0.3275911·|z|/√2) —
    * one libm exp per pair, the repo's one-quantized-libm-call
    * discipline), pinned to the 1e-9 grid; the step-up rule is then
    * EXACT integer arithmetic: reject ranks ≤ k* where k* = max{i :
    * p9_(i)·m ≤ i·α·1e9}. The pair frame is ≤ #sources² rows (the
    * per-source rates are the memoized one-scan aggregate), so the
    * ranking window is source-bounded — at 100 TB this stage touches a
    * ~200-row frame.
    */
  def bhFdrQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = QueriesWave9.propZtestPairsQ(spark, dir)
      .select(col("src_a"), col("src_b"), col("z"))
      .withColumn("p9", expr(
        s"""CAST(round(1e9 * ${NormalDist.erfcTailPoly("abs(z)")}
           | * exp(-(z * z) / 2.0)) AS BIGINT)""".stripMargin))
    // source-bounded frame (≤ #sources² rows): documented unpartitioned
    // windows, on the WindowAuditSpec allowlist
    val wRank = Window.orderBy(col("p9"), col("src_a"), col("src_b"))
    val ranked = z
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("bh_ok", col("p9") * col("m") <= col("rnk") * bhAlphaPpb)
    ranked
      .withColumn("kstar", max(when(col("bh_ok"), col("rnk"))).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("src_a"), col("src_b"), col("z"), col("p9"),
        col("rnk").cast("bigint").as("rnk"), col("m"), col("bh_ok"),
        (col("kstar").isNotNull && col("rnk") <= col("kstar")).as("rejected"))
      .orderBy(col("rnk"))
  }

  val bhFdrSql: String =
    s"""WITH zt AS (${QueriesWave9.propZtestPairsSql}),
       |p AS (SELECT src_a, src_b, z,
       |    CAST(round(1e9 * ${NormalDist.erfcTailPoly("abs(z)")}
       |      * exp(-(z * z) / 2.0)) AS BIGINT) AS p9
       |  FROM zt),
       |rk AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY p9, src_a, src_b) AS BIGINT) AS rnk,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m
       |  FROM p),
       |bh AS (SELECT *, p9 * m <= rnk * $bhAlphaPpb AS bh_ok FROM rk),
       |ks AS (SELECT MAX(CASE WHEN bh_ok THEN rnk END) AS kstar FROM bh)
       |SELECT src_a, src_b, z, p9, rnk, m, bh_ok,
       |  (kstar IS NOT NULL AND rnk <= kstar) AS rejected
       |FROM bh, ks ORDER BY rnk""".stripMargin

  // ---- label_propagation: synchronous LPA communities on the trade graph ----

  val lpaRounds = 4

  /** Label-propagation communities (Raghavan et al. 2007) on the
    * undirected nation trade graph — the cheap community detector that
    * complements the centrality family (`nation_pagerank`, `salsa`) and
    * the density family (`kcore_membership`): every node starts as its
    * own label; each synchronous round it adopts its neighbors' most
    * frequent label, ties to the SMALLEST label (what makes classically
    * random LPA deterministic and oracle-replayable). Fixed
    * [[lpaRounds]] rounds, each a broadcast join + two keyed aggregates
    * over the memoized edge frame, literal-checkpointed per round (the
    * kcore discipline — each round reads the previous one, so
    * checkpointing keeps every plan flat AND bounded). At 100 TB the
    * graph build is the one heavy aggregate; the rounds touch a
    * ≤|V|²-edge nation frame.
    */
  /** Final-round LPA label frame (node, lbl) — each round is a
    * literal-checkpointed ≤25-row memo. Shared by the community query
    * and the modularity eval so neither depends on the other having
    * populated the session memo as a side effect.
    */
  private def lpaFinal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = QueriesWave9.nationUndirected(spark, dir)
    val l0 = Memo(spark, dir, "wave22:lpa0")(
      und.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
    def round(prev: DataFrame, r: Int): DataFrame =
      Memo(spark, dir, s"wave22:lpa$r") {
        und
          .join(broadcast(prev.select(col("node").as("b"), col("lbl"))), "b")
          .select(col("a").as("node"), col("lbl"))
          .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(min_by(col("lbl"), struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
          .as[(Long, Long)].collect().toSeq.toDF("node", "lbl")
      }
    (1 to lpaRounds).foldLeft(l0)(round)
  }

  def labelPropagationQ(spark: SparkSession, dir: String): DataFrame = {
    val fin = lpaFinal(spark, dir)
    val sizes = fin.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    fin.join(broadcast(sizes), "lbl")
      .select(col("node").as("nationkey"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("nationkey"))
  }

  /** The graph + unrolled LPA rounds as portable CTEs (`e`, `und`,
    * `lab0`…`lab{lpaRounds}`) — shared by the community query and the
    * modularity eval. */
  private val lpaCtes: String = {
    val rounds = (1 to lpaRounds).map { r =>
      val p = r - 1
      s"""lab$r AS (SELECT node, lbl FROM (
         |  SELECT node, lbl, ROW_NUMBER() OVER (
         |      PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |  FROM (SELECT e.a AS node, l.lbl, COUNT(*) AS c
         |        FROM und e JOIN lab$p l ON l.node = e.b GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${QueriesWave9.nationUndCte},
       |lab0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und),
       |$rounds""".stripMargin
  }

  val labelPropagationSql: String =
    s"""WITH $lpaCtes,
       |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
       |  FROM lab$lpaRounds GROUP BY 1)
       |SELECT f.node AS nationkey, f.lbl AS community, sz.community_size
       |FROM lab$lpaRounds f JOIN sz ON sz.lbl = f.lbl
       |ORDER BY nationkey""".stripMargin

  // ---- graph_modularity: Newman modularity of the LPA partition ----

  /** Newman modularity of the `label_propagation` partition — the
    * eval-of-the-detector rung for the community family (what
    * `ann_recall` is to the ANN stack and `lsh_recall_audit` to the
    * dedup stack): per community, Q_c = L_c/m − (d_c/2m)², computed as
    * the exact integer numerator (4·m·L_c − d_c²)/(4m²) with ONE double
    * division per community row. L_c counts the symmetric edge list's
    * within-community entries (÷2 exact), d_c sums member degrees; a
    * partition that beats the degree-preserving null model sums to
    * Q > 0 — a broken detector (labels scrambled) drives Q to ≤ 0.
    * Everything runs on the memoized nation edge frame and the
    * literal-checkpointed final labels.
    */
  def graphModularityQ(spark: SparkSession, dir: String): DataFrame = {
    val und = QueriesWave9.nationUndirected(spark, dir)
    val lab = lpaFinal(spark, dir)
    val m2 = und.agg(count(lit(1)).as("__m2")) // = 2m (symmetric entries)
    val within = und
      .join(broadcast(lab.select(col("node").as("a"), col("lbl"))), "a")
      .join(broadcast(lab.select(col("node").as("b"), col("lbl").as("__lb"))), "b")
      .filter(col("lbl") === col("__lb"))
      .groupBy(col("lbl")).agg(count(lit(1)).as("__w2")) // = 2·L_c
    val degs = und
      .join(broadcast(lab.select(col("node").as("a"), col("lbl"))), "a")
      .groupBy(col("lbl")).agg(count(lit(1)).as("__d")) // = d_c
    lab.groupBy(col("lbl")).agg(count(lit(1)).as("n_nodes"))
      .join(broadcast(within), Seq("lbl"), "left_outer")
      .join(broadcast(degs), Seq("lbl"), "left_outer")
      .crossJoin(broadcast(m2))
      .select(col("lbl").as("community"), col("n_nodes"),
        expr("COALESCE(__w2, 0L) div 2").as("internal_edges"),
        coalesce(col("__d"), lit(0L)).as("degree_sum"),
        // (4mL_c − d_c²)/(4m²) with 2m = __m2: (__m2·__w2 − __d²)/__m2²
        ((col("__m2") * coalesce(col("__w2"), lit(0L)) -
          coalesce(col("__d"), lit(0L)) * coalesce(col("__d"), lit(0L)))
          .cast("double") /
          (col("__m2") * col("__m2")).cast("double")).as("q_contrib"))
      .orderBy(col("community"))
  }

  val graphModularitySql: String =
    s"""WITH $lpaCtes,
       |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM und),
       |w2 AS (SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS w2
       |  FROM und e JOIN lab$lpaRounds la ON la.node = e.a
       |  JOIN lab$lpaRounds lb ON lb.node = e.b
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |dg AS (SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS d
       |  FROM und e JOIN lab$lpaRounds la ON la.node = e.a GROUP BY 1),
       |nn AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM lab$lpaRounds GROUP BY 1)
       |SELECT nn.lbl AS community, nn.n_nodes,
       |  CAST(COALESCE(w2.w2, 0) // 2 AS BIGINT) AS internal_edges,
       |  CAST(COALESCE(dg.d, 0) AS BIGINT) AS degree_sum,
       |  CAST(m2.m2 * COALESCE(w2.w2, 0)
       |    - COALESCE(dg.d, 0) * COALESCE(dg.d, 0) AS DOUBLE)
       |    / CAST(m2.m2 * m2.m2 AS DOUBLE) AS q_contrib
       |FROM nn
       |LEFT JOIN w2 ON w2.lbl = nn.lbl
       |LEFT JOIN dg ON dg.lbl = nn.lbl, m2
       |ORDER BY community""".stripMargin

  // ---- mg_heavy_hitters: mergeable Misra–Gries summary + error audit ----

  val mgK = 8      // counters per summary
  val mgParts = 8  // md5 shards standing in for executor-local summaries

  /** Mergeable Misra–Gries heavy-hitters (Agarwal et al., SIGMOD'12
    * mergeable summaries) over event users — the DETERMINISTIC-bound
    * complement of `cms_freq` (probabilistic overcount) and `dp_topk`
    * (noised): each md5 shard's exact per-user counts compress to
    * [[mgK]] counters by subtracting the (k+1)-th largest count s_p and
    * clipping (the order-free equivalent of streaming MG), shard
    * summaries merge by summing surviving counters. Every step is
    * auditable: estimates only UNDERCOUNT, and the total undercount is
    * ≤ Σ_p s_p — both gates checked against the exact global counts.
    * Scale: per-shard top-(k+1) runs through [[graft.operators.Layout
    * .groupedTopK]] (no shard ever funnels its users through one
    * task); the merge touches ≤ shards × k rows. The md5 shard is the
    * reproducible stand-in for executor-local summaries — the merge
    * algebra is identical.
    */
  def mgHeavyHittersQ(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(spark, dir, "events")
      .select(col("user_id"),
        (conv(substring(md5(concat(lit("mg:"), col("user_id").cast("string"))),
          1, 13), 16, 10).cast("long") % mgParts).as("__p"))
      .groupBy(col("__p"), col("user_id")).agg(count(lit(1)).as("c"))
    val top = graft.operators.Layout.groupedTopK(
      cnt, Seq("__p"), Seq(col("c").desc, col("user_id")), mgK + 1, "rnk")
    val s = top.filter(col("rnk") === mgK + 1).select(col("__p"), col("c").as("__s"))
    val kept = top.filter(col("rnk") <= mgK)
      .join(broadcast(s), Seq("__p"), "left_outer")
      .withColumn("est", col("c") - coalesce(col("__s"), lit(0L)))
      .filter(col("est") > 0)
    val sTot = s.agg(coalesce(sum(col("__s")), lit(0L)).as("err_bound"))
    val hh = kept.groupBy(col("user_id")).agg(sum(col("est")).as("est"))
      .orderBy(col("est").desc, col("user_id")).limit(mgK)
    val truth = Tables(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("true_count"))
    hh.join(truth, "user_id").crossJoin(broadcast(sTot))
      .select(col("user_id"), col("est"), col("true_count"), col("err_bound"),
        (col("est") <= col("true_count")).as("under_ok"),
        (col("true_count") - col("est") <= col("err_bound")).as("bound_ok"))
      .orderBy(col("est").desc, col("user_id"))
  }

  val mgHeavyHittersSql: String =
    s"""WITH pc AS (SELECT
       |    CAST(('0x' || substr(md5('mg:' || CAST(user_id AS VARCHAR)), 1, 13))
       |      AS BIGINT) % $mgParts AS p,
       |    user_id, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |rk AS (SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY p ORDER BY c DESC, user_id) AS rnk FROM pc),
       |s AS (SELECT p, c AS s FROM rk WHERE rnk = ${mgK + 1}),
       |kept AS (SELECT r.user_id, r.c - COALESCE(s.s, 0) AS est
       |  FROM rk r LEFT JOIN s ON s.p = r.p
       |  WHERE r.rnk <= $mgK AND r.c - COALESCE(s.s, 0) > 0),
       |stot AS (SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS err_bound FROM s),
       |hh AS (SELECT user_id, CAST(SUM(est) AS BIGINT) AS est FROM kept
       |  GROUP BY 1 ORDER BY est DESC, user_id LIMIT $mgK),
       |tr AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
       |  FROM events GROUP BY 1)
       |SELECT h.user_id, h.est, t.true_count, st.err_bound,
       |  h.est <= t.true_count AS under_ok,
       |  t.true_count - h.est <= st.err_bound AS bound_ok
       |FROM hh h JOIN tr t USING (user_id), stot st
       |ORDER BY est DESC, user_id""".stripMargin

  // ---- diff_in_diff: two-group two-period causal contrast ----

  /** Difference-in-differences on per-user activity: outcome = each
    * user's pre/post event counts around the stream midpoint (the
    * shared `cupedXY` scan), groups = the deterministic md5 50/50
    * assignment (`train_split`'s discipline). DiD on two periods
    * reduces EXACTLY to a two-sample test on the per-user differences
    * d_u = post − pre, so the estimate is (d̄_T − d̄_C) and the Welch SE
    * comes from exact integer moments of d per group — parallel-trends
    * bias cancels in d̄_C, which is what the plain post-period contrast
    * (`cuped_adjust` improves, `srm_check` guards) cannot claim. One
    * quantized √; significance at the same driver-quantized z as
    * `prop_ztest_pairs`. At 100 TB: one user-keyed aggregate, then a
    * 2-row frame.
    */
  def diffInDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val d = QueriesWave18.cupedXY(spark, dir)
      .withColumn("t",
        conv(substring(md5(concat(lit("did:"), col("user_id").cast("string"))),
          1, 13), 16, 10).cast("long") % 2 === 0)
      .select(col("t"), col("x"), col("y"), (col("y") - col("x")).as("d"))
    def side(f: Column, c: Column) = sum(when(f, c).otherwise(lit(0L)))
    val m = d.agg(
      sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
      sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
      side(col("t"), col("x")).as("sxt"), side(col("t"), col("y")).as("syt"),
      side(!col("t"), col("x")).as("sxc"), side(!col("t"), col("y")).as("syc"),
      side(col("t"), col("d")).as("sdt"), side(!col("t"), col("d")).as("sdc"),
      side(col("t"), col("d") * col("d")).as("qdt"),
      side(!col("t"), col("d") * col("d")).as("qdc"))
    m
      .withColumn("did",
        col("sdt").cast("double") / col("nt") -
          col("sdc").cast("double") / col("nc"))
      .withColumn("se6", expr(
        """CAST(round(1e6 * sqrt(
          |  CAST(nt * qdt - sdt * sdt AS DOUBLE)
          |    / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
          |  + CAST(nc * qdc - sdc * sdc AS DOUBLE)
          |    / (CAST(nc AS DOUBLE) * (nc - 1) * nc))) AS BIGINT)""".stripMargin))
      .select(col("nt").as("n_treat"), col("nc").as("n_ctrl"),
        (col("sxt").cast("double") / col("nt")).as("pre_mean_treat"),
        (col("syt").cast("double") / col("nt")).as("post_mean_treat"),
        (col("sxc").cast("double") / col("nc")).as("pre_mean_ctrl"),
        (col("syc").cast("double") / col("nc")).as("post_mean_ctrl"),
        // nullif: on degenerate data (se6 = 0) Spark's Divide returns
        // NULL while DuckDB yields Inf/NaN — pin both engines to NULL
        col("did"), (col("did") * 1e6 / expr("nullif(se6, 0)")).as("t_stat"))
      .withColumn("significant", abs(col("t_stat")) >= QueriesWave9.ztestCrit)
  }

  val diffInDiffSql: String =
    s"""WITH ${QueriesWave18.cupedXYCte},
       |g AS (SELECT
       |    CAST(('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 13))
       |      AS BIGINT) % 2 = 0 AS t,
       |    x, y, y - x AS d
       |  FROM xy),
       |m AS (SELECT
       |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |    CAST(SUM(CASE WHEN t THEN x ELSE 0 END) AS BIGINT) AS sxt,
       |    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS syt,
       |    CAST(SUM(CASE WHEN NOT t THEN x ELSE 0 END) AS BIGINT) AS sxc,
       |    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS syc,
       |    CAST(SUM(CASE WHEN t THEN d ELSE 0 END) AS BIGINT) AS sdt,
       |    CAST(SUM(CASE WHEN NOT t THEN d ELSE 0 END) AS BIGINT) AS sdc,
       |    CAST(SUM(CASE WHEN t THEN d * d ELSE 0 END) AS BIGINT) AS qdt,
       |    CAST(SUM(CASE WHEN NOT t THEN d * d ELSE 0 END) AS BIGINT) AS qdc
       |  FROM g),
       |e AS (SELECT *,
       |    CAST(sdt AS DOUBLE) / nt - CAST(sdc AS DOUBLE) / nc AS did,
       |    CAST(round(1e6 * sqrt(
       |      CAST(nt * qdt - sdt * sdt AS DOUBLE)
       |        / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
       |      + CAST(nc * qdc - sdc * sdc AS DOUBLE)
       |        / (CAST(nc AS DOUBLE) * (nc - 1) * nc))) AS BIGINT) AS se6
       |  FROM m)
       |SELECT nt AS n_treat, nc AS n_ctrl,
       |  CAST(sxt AS DOUBLE) / nt AS pre_mean_treat,
       |  CAST(syt AS DOUBLE) / nt AS post_mean_treat,
       |  CAST(sxc AS DOUBLE) / nc AS pre_mean_ctrl,
       |  CAST(syc AS DOUBLE) / nc AS post_mean_ctrl,
       |  did, did * 1e6 / nullif(se6, 0) AS t_stat,
       |  abs(did * 1e6 / nullif(se6, 0)) >= ${QueriesWave9.ztestCrit} AS significant
       |FROM e""".stripMargin

  // ---- rendezvous_shard: HRW routing + balance/minimal-move audit ----

  val hrwShards = 8

  /** Highest-random-weight routing argmax as a pure codegen'd
    * expression — one transform over the shard grid per row, NO
    * shuffle, no explode: any executor routes any key locally (the
    * property that makes HRW the coordination-free shard router). */
  private def hrwArgmax(nShards: Int): String =
    s"""array_max(transform(sequence(0, ${nShards - 1}),
       |  sh -> struct(CAST(conv(substring(md5(concat(
       |    'hrw:', CAST(sh AS STRING), ':', CAST(doc_id AS STRING))),
       |    1, 13), 16, 10) AS BIGINT) AS h, sh))).sh""".stripMargin

  /** Rendezvous (highest-random-weight) sharding of the corpus, with
    * the two audits that justify choosing it over `mod`: per-shard
    * BALANCE (count and share under [[hrwShards]] shards) and the
    * MINIMAL-MOVEMENT property on scale-out — under HRW, adding shard
    * S+1 moves a key iff the new shard's weight beats all S old ones
    * (expected share 1/(S+1)); under `hash mod S` almost every key
    * moves. n_move counts each current shard's keys that the S+1-shard
    * assignment routes to the new shard — by construction the ONLY
    * moves — so move_share per shard is directly comparable to the
    * 1/(S+1) ideal. Routing is a map-side expression (argmax over the
    * md5 weights, ties to the larger shard id in both engines); the
    * audit is one keyed aggregate.
    */
  def rendezvousShardQ(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: the audit aggregates to a shard-bounded frame,
    // and the total is derived from that frame, never a second scan
    val grouped = Memo(spark, dir, "wave22:hrwGrouped")(
      Tables(spark, dir, "documents")
        .select(col("doc_id"))
        .withColumn("shard", expr(hrwArgmax(hrwShards)))
        .withColumn("__s9", expr(hrwArgmax(hrwShards + 1)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__s9") === hrwShards, 1L).otherwise(0L)).as("n_move")))
    val tot = grouped.agg(sum(col("n_docs")).as("__n"))
    grouped
      .crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"),
        (col("n_docs").cast("double") / col("__n")).as("share"),
        col("n_move"),
        (col("n_move").cast("double") / col("n_docs")).as("move_share"))
      .orderBy(col("shard"))
  }

  val rendezvousShardSql: String = {
    // single line: a stripMargin here would eat the first '|' of a
    // line-leading '||' concat operator
    def hSql(alias: String) =
      s"CAST(('0x' || substr(md5('hrw:' || CAST($alias.s AS VARCHAR) || " +
        s"':' || CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT)"
    s"""WITH grid AS (SELECT CAST(range AS INT) AS s FROM range(${hrwShards + 1})),
       |h AS (SELECT d.doc_id, g.s, ${hSql("g")} AS h
       |  FROM documents d, grid g),
       |a8 AS (SELECT doc_id, s AS shard FROM (
       |  SELECT doc_id, s, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
       |  FROM h WHERE s < $hrwShards) WHERE rn = 1),
       |a9 AS (SELECT doc_id, s AS s9 FROM (
       |  SELECT doc_id, s, ROW_NUMBER() OVER (
       |      PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
       |  FROM h) WHERE rn = 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
       |SELECT a8.shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS DOUBLE) / tot.n AS share,
       |  CAST(SUM(CASE WHEN a9.s9 = $hrwShards THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_move,
       |  CAST(SUM(CASE WHEN a9.s9 = $hrwShards THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS move_share
       |FROM a8 JOIN a9 USING (doc_id), tot
       |GROUP BY a8.shard, tot.n ORDER BY shard""".stripMargin
  }

  // ---- deletion_vector_plan: rewrite-vs-DV planning per file ----

  /** Rewrite a file when at least this share of its rows is deleted
    * (the standard lakehouse DV-vs-rewrite threshold shape). */
  val dvRewriteShare = 0.2

  /** Deletion-vector vs rewrite planning over the corpus's file layout
    * — the delete-path companion of `compaction_plan` (same next-fit
    * bins = files): deletes are the docs curation rejects
    * (`doc_filter`'s kept=false), and per file the plan compares the
    * deleted share against [[dvRewriteShare]] — REWRITE the file (pay
    * its bytes once, reclaim space) above the threshold, attach a
    * deletion vector (pay n_del positions, defer IO) below it, KEEP
    * untouched files as-is. Output per file: counts, decision, and the
    * two costs the planner trades (bytes_rewritten vs dv_entries).
    * One window + two keyed aggregates; at 100 TB this is metadata
    * math over the file manifest, which is the point.
    */
  def deletionVectorPlanQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        coalesce(sum(col("n_chars")).over(w), lit(0L)).as("__cum"))
      .select(col("source"), col("doc_id"), col("n_chars"),
        (col("__cum") / QueriesAnalytics.compactionTarget).cast("long").as("bin_id"))
      .join(graft.operators.Corpus.docFilter(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("kept")), "doc_id")
    binned.groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_bytes"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_del"))
      .withColumn("del_share",
        col("n_del").cast("double") / col("n_docs").cast("double"))
      .withColumn("action",
        when(col("n_del") === 0, "KEEP")
          .when(col("del_share") >= dvRewriteShare, "REWRITE")
          .otherwise("DV"))
      .select(col("source"), col("bin_id"), col("n_docs"), col("n_bytes"),
        col("n_del"), col("del_share"), col("action"),
        when(col("action") === "REWRITE", col("n_bytes")).otherwise(lit(0L))
          .as("bytes_rewritten"),
        when(col("action") === "DV", col("n_del")).otherwise(lit(0L))
          .as("dv_entries"))
      .orderBy(col("source"), col("bin_id"))
  }

  val deletionVectorPlanSql: String = {
    import graft.operators.TextAnalysis.{emailPat, phonePat}
    s"""WITH ${QueriesText.wordsCte},
       |kept AS (
       |  SELECT w.doc_id,
       |    (len(ws) >= 30 AND (${QueriesText.stopRatioSqlExpr}) >= 0.02
       |     AND (${QueriesText.avgWordLenSqlExpr}) BETWEEN 3.0 AND 10.0
       |     AND (len(regexp_extract_all(d.text, '$emailPat'))
       |       + len(regexp_extract_all(d.text, '$phonePat'))) = 0) AS kept
       |  FROM w JOIN documents d USING (doc_id)),
       |o AS (SELECT source, doc_id, n_chars,
       |  COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM documents),
       |f AS (SELECT o.source,
       |    CAST(o.cum // ${QueriesAnalytics.compactionTarget} AS BIGINT) AS bin_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(o.n_chars) AS BIGINT) AS n_bytes,
       |    CAST(SUM(CASE WHEN NOT k.kept THEN 1 ELSE 0 END) AS BIGINT) AS n_del
       |  FROM o JOIN kept k USING (doc_id) GROUP BY 1, 2),
       |p AS (SELECT *, CAST(n_del AS DOUBLE) / CAST(n_docs AS DOUBLE) AS del_share,
       |    CASE WHEN n_del = 0 THEN 'KEEP'
       |         WHEN CAST(n_del AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |           >= $dvRewriteShare THEN 'REWRITE'
       |         ELSE 'DV' END AS action
       |  FROM f)
       |SELECT source, bin_id, n_docs, n_bytes, n_del, del_share, action,
       |  CAST(CASE WHEN action = 'REWRITE' THEN n_bytes ELSE 0 END AS BIGINT)
       |    AS bytes_rewritten,
       |  CAST(CASE WHEN action = 'DV' THEN n_del ELSE 0 END AS BIGINT)
       |    AS dv_entries
       |FROM p ORDER BY source, bin_id""".stripMargin
  }

  // ---- group_sequential: O'Brien–Fleming interim monitoring ----

  val gstLooks = 5
  /** Two-sided O'Brien–Fleming final-look critical value for K=5 looks
    * at overall α=0.05 (standard tabulated constant, driver-quantized
    * like [[QueriesWave9.ztestCrit]]); look-k boundary = c·√(K/k). */
  val gstCObf = 2.0403
  /** Per-look boundaries, pinned to the 1e-6 grid at config time so
    * both engines compare against identical literals. */
  val gstBounds: Seq[Double] = (1 to gstLooks).map(k =>
    math.round(1e6 * gstCObf * math.sqrt(gstLooks.toDouble / k)) / 1e6)

  /** Group-sequential interim monitoring (O'Brien–Fleming boundaries)
    * of the md5 A/B split on event volume — the A/B-platform standard
    * for "peek K times without inflating α" that `sprt_audit` (Wald's
    * per-observation SPRT) and the fixed-horizon tests can't give:
    * K equal calendar looks, at each the cumulative balance statistic
    * z_k = (n_T − n_C)/√(n_T + n_C) against the boundary c·√(K/k) —
    * early looks need overwhelming evidence, the final look spends
    * almost the full α. Counts are one keyed aggregate over
    * calendar-sliced looks (look id = exact integer floor over the
    * span), cumulated over the K-row look frame; one quantized √ per
    * look. `crossed` per look and the monitor's running verdict are
    * both emitted.
    */
  def groupSequentialQ(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts)").as("__us"))
    val span = ev.agg(min(col("__us")).as("d0"), max(col("__us")).as("d1"))
    val looks = ev.crossJoin(broadcast(span))
      .select(
        expr(s"CAST(1 + ((__us - d0) * $gstLooks) div (d1 - d0 + 1) AS INT)")
          .as("look"),
        (conv(substring(md5(concat(lit("gst:"), col("user_id").cast("string"))),
          1, 13), 16, 10).cast("long") % 2 === 0).as("t"))
      .groupBy(col("look"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("dt"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("dc"))
    // K-row look frame: cumulative window is config-bounded (allowlist)
    val wCum = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bounds = coalesce(gstBounds.zipWithIndex
      .map { case (b, i) => when(col("look") === i + 1, lit(b)) }: _*)
    looks
      .withColumn("n_treat", sum(col("dt")).over(wCum))
      .withColumn("n_ctrl", sum(col("dc")).over(wCum))
      .withColumn("se6", expr(
        "CAST(round(1e6 * sqrt(CAST(n_treat + n_ctrl AS DOUBLE))) AS BIGINT)"))
      .withColumn("z",
        (col("n_treat") - col("n_ctrl")).cast("double") * 1e6 /
          expr("nullif(se6, 0)"))
      .withColumn("boundary", bounds)
      .withColumn("crossed", abs(col("z")) >= col("boundary"))
      .withColumn("rejected_by_now",
        max(col("crossed")).over(wCum))
      .select(col("look"), col("n_treat"), col("n_ctrl"), col("z"),
        col("boundary"), col("crossed"), col("rejected_by_now"))
      .orderBy(col("look"))
  }

  val groupSequentialSql: String = {
    val boundsCase = gstBounds.zipWithIndex
      .map { case (b, i) => s"WHEN look = ${i + 1} THEN $b" }
      .mkString("CASE ", " ", " END")
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       |span AS (SELECT MIN(us) AS d0, MAX(us) AS d1 FROM ev),
       |lk AS (SELECT
       |    CAST(1 + ((us - d0) * $gstLooks) // (d1 - d0 + 1) AS INT) AS look,
       |    CAST(('0x' || substr(md5('gst:' || CAST(user_id AS VARCHAR)), 1, 13))
       |      AS BIGINT) % 2 = 0 AS t
       |  FROM ev, span),
       |g AS (SELECT look,
       |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS dt,
       |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS dc
       |  FROM lk GROUP BY 1),
       |c AS (SELECT look,
       |    CAST(SUM(dt) OVER (ORDER BY look
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_treat,
       |    CAST(SUM(dc) OVER (ORDER BY look
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ctrl
       |  FROM g),
       |z AS (SELECT *,
       |    CAST(n_treat - n_ctrl AS DOUBLE) * 1e6
       |      / nullif(CAST(round(1e6 * sqrt(CAST(n_treat + n_ctrl AS DOUBLE)))
       |          AS BIGINT), 0)
       |      AS z,
       |    $boundsCase AS boundary
       |  FROM c),
       |x AS (SELECT *, abs(z) >= boundary AS crossed FROM z)
       |SELECT look, n_treat, n_ctrl, z, boundary, crossed,
       |  MAX(crossed) OVER (ORDER BY look
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rejected_by_now
       |FROM x ORDER BY look""".stripMargin
  }

  // ---- jackknife_variance: delete-one-source jackknife SE ----

  /** Delete-one-GROUP jackknife for the corpus mean quality score —
    * the resampling family's third member next to `bootstrap_ci`
    * (with-replacement rows) and `ratio_metric_ci` (delta method):
    * deleting whole SOURCES prices the between-source clustering that
    * row-level resampling understates, which is the right SE when
    * corpora arrive source-at-a-time. Leave-one-out means θ̂₍ᵢ₎ =
    * (S1−s1ᵢ)/(N−nᵢ) come from the shared per-source moment memo,
    * pinned to the 1e-6 grid per group; then SE²_jack = (g−1)(gΣt² −
    * (Σt)²)/g² stays EXACT integer algebra until one final √ — no
    * cross-group float accumulation, so both engines hash-match. At
    * 100 TB: one memoized keyed aggregate, then a ≤ #sources frame.
    */
  def jackknifeVarianceQ(spark: SparkSession, dir: String): DataFrame = {
    val mom = QueriesWave20.srcScoreMoments(spark, dir)
    val tot = mom.agg(sum(col("n")).as("nn"), sum(col("s1")).as("ss"),
      count(lit(1)).as("g"))
    // a single-source corpus has no leave-one-out set (nn = n → 0/0);
    // the jackknife is undefined there, so degenerate rows are dropped
    // rather than NaN-ing the statistic (the mmd_drift discipline)
    val t6 = mom.crossJoin(broadcast(tot))
      .filter(col("nn") > col("n"))
      .select(col("g"), col("nn"), col("ss"),
        expr("CAST(round(1e6 * (CAST(ss - s1 AS DOUBLE) / (nn - n))) AS BIGINT)")
          .as("t6"))
    t6.groupBy(col("g"), col("nn"), col("ss"))
      .agg(sum(col("t6").cast("decimal(38,0)")).as("st"),
        sum(col("t6").cast("decimal(38,0)") * col("t6")).as("qt"))
      .withColumn("se6", expr(
        """CAST(round(sqrt(CAST((g - 1) * (g * qt - st * st) AS DOUBLE)) / g)
          | AS BIGINT)""".stripMargin))
      .select(col("g").as("n_sources"), col("nn").as("n_docs"),
        (col("ss").cast("double") / col("nn") / 1e3).as("theta"),
        (col("se6").cast("double") / 1e6 / 1e3).as("se_jack"),
        ((col("ss").cast("double") / col("nn") -
          lit(QueriesWave9.ztestCrit) * col("se6").cast("double") / 1e6) / 1e3)
          .as("ci_lo"),
        ((col("ss").cast("double") / col("nn") +
          lit(QueriesWave9.ztestCrit) * col("se6").cast("double") / 1e6) / 1e3)
          .as("ci_hi"))
  }

  val jackknifeVarianceSql: String =
    s"""WITH ${QueriesWave20.srcScoreMomentsCte},
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s1) AS BIGINT) AS ss,
       |    CAST(COUNT(*) AS BIGINT) AS g FROM mom),
       |t AS (SELECT g, nn, ss,
       |    CAST(round(1e6 * (CAST(ss - s1 AS DOUBLE) / (nn - n))) AS BIGINT) AS t6
       |  FROM mom, tot WHERE nn > n),
       |m AS (SELECT g, nn, ss, CAST(SUM(CAST(t6 AS HUGEINT)) AS HUGEINT) AS st,
       |    CAST(SUM(CAST(t6 AS HUGEINT) * t6) AS HUGEINT) AS qt
       |  FROM t GROUP BY 1, 2, 3),
       |s AS (SELECT *,
       |    CAST(round(sqrt(CAST((g - 1) * (g * qt - st * st) AS DOUBLE)) / g)
       |      AS BIGINT) AS se6
       |  FROM m)
       |SELECT g AS n_sources, nn AS n_docs,
       |  CAST(ss AS DOUBLE) / nn / 1e3 AS theta,
       |  CAST(se6 AS DOUBLE) / 1e6 / 1e3 AS se_jack,
       |  (CAST(ss AS DOUBLE) / nn - ${QueriesWave9.ztestCrit}
       |    * CAST(se6 AS DOUBLE) / 1e6) / 1e3 AS ci_lo,
       |  (CAST(ss AS DOUBLE) / nn + ${QueriesWave9.ztestCrit}
       |    * CAST(se6 AS DOUBLE) / 1e6) / 1e3 AS ci_hi
       |FROM s""".stripMargin

  // ---- capture_recapture: Lincoln–Petersen (Chapman) population estimate ----

  val crRate = 16L

  /** Capture–recapture estimate of the distinct-user population from
    * two INDEPENDENT deterministic event samples (Chapman's
    * bias-corrected Lincoln–Petersen): users "marked" by sample A
    * (1-in-[[crRate]] md5 on event_id, salt crA), "recaptured" when
    * also seen in sample B (independent salt crB) — N̂ =
    * (n₁+1)(n₂+1)/(m+1) − 1 in exact integer div. The two-SAMPLE
    * design rung of the NDV ladder (`hll_ndv`/`kmv_ndv` sketch one
    * pass, `chao1_est` infers from abundance, this infers from overlap
    * — the ecology method that needs no per-item sketch state at all,
    * only two cheap sample scans). Audited with the exact NDV q-error
    * like every estimator row.
    */
  def captureRecaptureQ(spark: SparkSession, dir: String): DataFrame = {
    def samp(salt: String) = Tables(spark, dir, "events")
      .filter(conv(substring(md5(concat(lit(salt), col("event_id").cast("string"))),
        1, 13), 16, 10).cast("long") % crRate === 0L)
      .select(col("user_id")).distinct()
    val a = samp("crA:")
    val b = samp("crB:")
    val n1 = a.agg(count(lit(1)).as("n1"))
    val n2 = b.agg(count(lit(1)).as("n2"))
    val m = a.join(b, "user_id").agg(count(lit(1)).as("m"))
    val truth = Tables(spark, dir, "events")
      .agg(count_distinct(col("user_id")).as("true_ndv"))
    n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
      .withColumn("est",
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1"))
      .select(col("n1"), col("n2"), col("m"), col("est"), col("true_ndv"),
        (greatest(col("est"), col("true_ndv")).cast("double") /
          greatest(least(col("est"), col("true_ndv")), lit(1L)).cast("double"))
          .as("q_err"))
  }

  val captureRecaptureSql: String = {
    def samp(salt: String) =
      s"""SELECT DISTINCT user_id FROM events
         |  WHERE CAST(('0x' || substr(md5('$salt' || CAST(event_id AS VARCHAR)),
         |    1, 13)) AS BIGINT) % $crRate = 0""".stripMargin
    s"""WITH a AS (${samp("crA:")}),
       |b AS (${samp("crB:")}),
       |c AS (SELECT
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n1,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n2,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (user_id)) AS m,
       |    (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS true_ndv),
       |e AS (SELECT *, (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS est FROM c)
       |SELECT n1, n2, m, CAST(est AS BIGINT) AS est, true_ndv,
       |  CAST(GREATEST(est, true_ndv) AS DOUBLE)
       |    / CAST(GREATEST(LEAST(est, true_ndv), 1) AS DOUBLE) AS q_err
       |FROM e""".stripMargin
  }

  // ---- covariate_balance: standardized mean differences across the arms ----

  /** |SMD| below this = balanced (the epidemiology/experimentation
    * convention). */
  val smdThreshold = 0.1

  /** Covariate balance check for the md5 A/B assignment: standardized
    * mean difference SMD = (x̄_T − x̄_C)/√((s²_T + s²_C)/2) per
    * per-user covariate (event count, total value in cents, distinct
    * event types) — the health check that says the ARMS are comparable
    * BEFORE reading the outcome, where `srm_check` only says the split
    * RATIO is right. One user-keyed aggregate builds the covariates;
    * per-arm moments are exact integers; one quantized √ per
    * covariate row; |SMD| < 0.1 flags balanced.
    */
  def covariateBalanceQ(spark: SparkSession, dir: String): DataFrame = {
    val u = Memo(spark, dir, "wave22:userCovariates")(
      Tables(spark, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("value_cents"),
          count_distinct(col("event_type")).as("n_types"))
        .withColumn("t",
          conv(substring(md5(concat(lit("did:"), col("user_id").cast("string"))),
            1, 13), 16, 10).cast("long") % 2 === 0))
    Seq("n_events", "value_cents", "n_types").map { cov =>
      val x = col(cov)
      u.agg(
        sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("t"), x).otherwise(0L)).as("st"),
        sum(when(!col("t"), x).otherwise(0L)).as("sc"),
        sum(when(col("t"), x * x).otherwise(0L)).as("qt"),
        sum(when(!col("t"), x * x).otherwise(0L)).as("qc"))
        .withColumn("sd6", expr(
          """CAST(round(1e6 * sqrt((
            |  CAST(nt * qt - st * st AS DOUBLE) / (CAST(nt AS DOUBLE) * (nt - 1))
            |  + CAST(nc * qc - sc * sc AS DOUBLE) / (CAST(nc AS DOUBLE) * (nc - 1))
            |) / 2.0)) AS BIGINT)""".stripMargin))
        .select(lit(cov).as("covariate"), col("nt").as("n_treat"),
          col("nc").as("n_ctrl"),
          (col("st").cast("double") / col("nt")).as("mean_treat"),
          (col("sc").cast("double") / col("nc")).as("mean_ctrl"),
          // zero-variance covariate -> SMD undefined -> NULL (both engines)
          ((col("st").cast("double") / col("nt") -
            col("sc").cast("double") / col("nc")) * 1e6 /
            expr("nullif(sd6, 0)")).as("smd"))
        .withColumn("balanced",
          coalesce(abs(col("smd")) < smdThreshold,
            col("mean_treat") === col("mean_ctrl")))
    }.reduce(_.unionAll(_)).orderBy(col("covariate"))
  }

  val covariateBalanceSql: String = {
    val covs = Seq(
      ("n_events", "CAST(COUNT(*) AS BIGINT)"),
      ("value_cents", "CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"),
      ("n_types", "CAST(COUNT(DISTINCT event_type) AS BIGINT)"))
    val uCte =
      s"""u AS (SELECT user_id,
         |    ${covs.map { case (n, e) => s"$e AS $n" }.mkString(", ")},
         |    CAST(('0x' || substr(md5('did:' || CAST(user_id AS VARCHAR)), 1, 13))
         |      AS BIGINT) % 2 = 0 AS t
         |  FROM events GROUP BY user_id)""".stripMargin
    val arms = covs.map { case (cov, _) =>
      s"""SELECT '$cov' AS covariate, nt AS n_treat, nc AS n_ctrl,
         |  CAST(st AS DOUBLE) / nt AS mean_treat,
         |  CAST(sc AS DOUBLE) / nc AS mean_ctrl,
         |  (CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc) * 1e6
         |    / nullif(sd6, 0) AS smd,
         |  COALESCE(abs((CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc) * 1e6
         |    / nullif(sd6, 0)) < $smdThreshold,
         |    CAST(st AS DOUBLE) / nt = CAST(sc AS DOUBLE) / nc) AS balanced
         |FROM (SELECT *,
         |  CAST(round(1e6 * sqrt((
         |    CAST(nt * qt - st * st AS DOUBLE) / (CAST(nt AS DOUBLE) * (nt - 1))
         |    + CAST(nc * qc - sc * sc AS DOUBLE) / (CAST(nc AS DOUBLE) * (nc - 1))
         |  ) / 2.0)) AS BIGINT) AS sd6
         |  FROM (SELECT
         |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |    CAST(SUM(CASE WHEN t THEN $cov ELSE 0 END) AS BIGINT) AS st,
         |    CAST(SUM(CASE WHEN NOT t THEN $cov ELSE 0 END) AS BIGINT) AS sc,
         |    CAST(SUM(CASE WHEN t THEN $cov * $cov ELSE 0 END) AS BIGINT) AS qt,
         |    CAST(SUM(CASE WHEN NOT t THEN $cov * $cov ELSE 0 END) AS BIGINT) AS qc
         |  FROM u))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $uCte\n$arms\nORDER BY covariate"
  }

  // ---- dedup_transitivity: wedge-closure audit of the similar-pair set ----

  /** Transitivity audit of the exact τ-similar pair set
    * (`prefix_sim_join`'s zero-false-negative pairs): count wedges
    * a~m~c and how many close (a~c also similar). The closure rate is
    * the number that says whether single-link cluster collapse
    * (`dup_clusters`) is safe — low closure means connected components
    * chain together documents that are NOT pairwise similar, i.e.
    * cluster-collapse over-merges and `dedup_keep_best` deletes
    * non-duplicates. Wedge enumeration joins the bounded verified-pair
    * frame with itself through the shared middle doc (cluster-bounded
    * at scale — pairs are already banded/blocked); the closure check is
    * one more pair-keyed semi-join.
    */
  def dedupTransitivityQ(spark: SparkSession, dir: String): DataFrame = {
    val p = Memo(spark, dir, "wave22:psjPairs")(
      QueriesWave6.prefixSimJoinQ(spark, dir).select(col("doc_a"), col("doc_b")))
    val sym = p.unionAll(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val wedges = sym.select(col("doc_a").as("x"), col("doc_b").as("m"))
      .join(sym.select(col("doc_a").as("m"), col("doc_b").as("y")), "m")
      .filter(col("x") < col("y"))
      .select(col("x"), col("y")).distinct()
    val closed = wedges.join(
      p.select(col("doc_a").as("x"), col("doc_b").as("y")), Seq("x", "y"),
      "left_semi")
    Memo(spark, dir, "wave22:transRow") {
      import spark.implicits._
      p.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
        .crossJoin(closed.agg(count(lit(1)).as("n_closed")))
        .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
          when(col("n_wedges") === 0, lit(1.0))
            .otherwise(col("n_closed").cast("double") / col("n_wedges"))
            .as("closure_rate"))
        .as[(Long, Long, Long, Double)].collect().toSeq
        .toDF("n_pairs", "n_wedges", "n_closed", "closure_rate")
    }
  }

  val dedupTransitivitySql: String =
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
       |sym AS (SELECT doc_a, doc_b FROM ex
       |  UNION ALL SELECT doc_b, doc_a FROM ex),
       |wdg AS (SELECT DISTINCT s1.doc_a AS x, s2.doc_b AS y
       |  FROM sym s1 JOIN sym s2 ON s1.doc_b = s2.doc_a
       |  WHERE s1.doc_a < s2.doc_b),
       |cl AS (SELECT g.x FROM wdg g
       |  JOIN ex ON ex.doc_a = g.x AND ex.doc_b = g.y)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_pairs,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wdg) AS n_wedges,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS n_closed,
       |  CASE WHEN (SELECT COUNT(*) FROM wdg) = 0 THEN 1.0
       |    ELSE CAST((SELECT COUNT(*) FROM cl) AS DOUBLE)
       |      / (SELECT COUNT(*) FROM wdg) END AS closure_rate""".stripMargin

  // ---- median_ci: distribution-free order-statistic CI for the median ----

  /** Exact median of event value (cents grid) with the DISTRIBUTION-FREE
    * 95% confidence interval from binomial order statistics: ranks
    * (n ± z√n)/2 bracket the median with ~95% coverage for ANY
    * distribution — the CI the quantile family (`col_quantiles`,
    * `sample_quantiles`) reports point values without. All three order
    * statistics are found by `rankLocate`'s bucket-locate (three
    * bounded passes each, no global sort at any scale); the half-width
    * is ONE quantized √; ranks are exact integer div, clamped to
    * [1, n]. Oracle replays by plain ORDER BY row_number — the sorted
    * multiset's r-th element is the same value bucket-locate finds.
    */
  def medianCiQ(spark: SparkSession, dir: String): DataFrame = {
    val v = Memo(spark, dir, "w22:medianCents")(
      Tables(spark, dir, "events")
        .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c")))
    // the 1024-bucket rank histogram is query-independent (the ranks
    // join in after it) — memoized, the three order statistics cost
    // ONE located-bucket scan instead of three full passes, and n
    // rides the histogram's count instead of a fourth scan (§2.4)
    val hist = Memo(spark, dir, "w22:medianHist")(
      QueriesWave8.rankHist(v, "c"))
    val h = "CAST(round(1.959964 * sqrt(CAST(__p AS DOUBLE))) AS BIGINT)"
    // one multi-rank bucket-locate serves all three order statistics —
    // three separate locates would rescan the events 9 times
    val ord = QueriesWave8.rankLocateMultiFrom(v, hist, "c", Seq(
      ("med", "(__p + 1) div 2"),
      ("lo", s"greatest((__p - $h) div 2, 1L)"),
      ("hi", s"least((__p + $h) div 2 + 1, __p)")))
    val wide = ord.groupBy().agg(
      max(when(col("name") === "med", col("value"))).as("med_c"),
      max(when(col("name") === "lo", col("value"))).as("lo_c"),
      max(when(col("name") === "hi", col("value"))).as("hi_c"))
    hist.filter(col("__b") === 0L).select(col("__p").as("n"))
      .crossJoin(broadcast(wide))
      .select(col("n"),
        (col("med_c").cast("double") / 100.0).as("median"),
        (col("lo_c").cast("double") / 100.0).as("ci_lo"),
        (col("hi_c").cast("double") / 100.0).as("ci_hi"))
  }

  val medianCiSql: String =
    """WITH v AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      |r AS (SELECT n,
      |    GREATEST((n - CAST(round(1.959964 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
      |      // 2, 1) AS rlo,
      |    (n + 1) // 2 AS rmed,
      |    LEAST((n + CAST(round(1.959964 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
      |      // 2 + 1, n) AS rhi
      |  FROM n),
      |o AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM v)
      |SELECT r.n,
      |  CAST(m.c AS DOUBLE) / 100.0 AS median,
      |  CAST(l.c AS DOUBLE) / 100.0 AS ci_lo,
      |  CAST(h.c AS DOUBLE) / 100.0 AS ci_hi
      |FROM r
      |JOIN o m ON m.rn = r.rmed
      |JOIN o l ON l.rn = r.rlo
      |JOIN o h ON h.rn = r.rhi""".stripMargin

  // ---- funnel_wilson_ci: Wilson intervals on the funnel conversions ----

  /** Wilson 95% score intervals for the `window_funnel` stage
    * conversions (view→click, click→purchase) — the uncertainty the
    * funnel's point rates omit, in the interval form that stays inside
    * [0, 1] and behaves at small counts where the Wald interval
    * collapses (the experimentation-platform standard for rate CIs).
    * Counts come from the same two-pass funnel; per transition ONE
    * quantized √ in the score-interval halfwidth; everything else is
    * exact rationals evaluated with identical expression text in both
    * engines.
    */
  def funnelWilsonCiQ(spark: SparkSession, dir: String): DataFrame = {
    val f = QueriesWave7.windowFunnelQ(spark, dir)
      .select(col("u_view"), col("u_click"), col("u_purchase"))
    val steps = f.select(lit("view_to_click").as("step"),
      col("u_view").as("n"), col("u_click").as("k"))
      .unionAll(f.select(lit("click_to_purchase").as("step"),
        col("u_click").as("n"), col("u_purchase").as("k")))
    val z = QueriesWave9.ztestCrit
    val z2 = z * z
    steps
      // nz: a zero-count stage (empty events) pins rate/CI to NULL on
      // BOTH engines — raw /0 is NULL in Spark but Inf/NaN in DuckDB
      .withColumn("nz", expr("nullif(n, 0)"))
      .withColumn("s6", expr(
        s"""CAST(round(1e6 * sqrt(((CAST(k AS DOUBLE) / nz)
           | * (1.0 - CAST(k AS DOUBLE) / nz) + $z2 / (4.0 * nz)) / nz))
           | AS BIGINT)""".stripMargin))
      .select(col("step"), col("n"), col("k"),
        (col("k").cast("double") / col("nz")).as("rate"),
        // endpoints pinned to the 1e-9 grid (mixed double chains can
        // associate differently per engine in the last ulp), then
        // clamped to [0, rate] / [rate, 1]: the exact score interval
        // always brackets p̂ and stays inside [0,1], but the quantized
        // √ can break the k=0 cancellation by ~1e-6
        greatest(lit(0.0), least(col("k").cast("double") / col("nz"),
          round((((col("k").cast("double") / col("nz")) +
            lit(z2) / (lit(2.0) * col("nz")) - lit(z) * col("s6") / 1e6) /
            (lit(1.0) + lit(z2) / col("nz"))) * 1e9) / 1e9)).as("ci_lo"),
        least(lit(1.0), greatest(col("k").cast("double") / col("nz"),
          round((((col("k").cast("double") / col("nz")) +
            lit(z2) / (lit(2.0) * col("nz")) + lit(z) * col("s6") / 1e6) /
            (lit(1.0) + lit(z2) / col("nz"))) * 1e9) / 1e9)).as("ci_hi"))
      .orderBy(col("step"))
  }

  val funnelWilsonCiSql: String = {
    val z = QueriesWave9.ztestCrit
    val z2 = z * z
    s"""WITH f AS (${QueriesWave7.windowFunnelSql}),
       |s AS (SELECT 'view_to_click' AS step, u_view AS n, u_click AS k FROM f
       |  UNION ALL
       |  SELECT 'click_to_purchase' AS step, u_click AS n, u_purchase AS k FROM f),
       |w AS (SELECT *, nullif(n, 0) AS nz,
       |    CAST(round(1e6 * sqrt(((CAST(k AS DOUBLE) / nullif(n, 0))
       |      * (1.0 - CAST(k AS DOUBLE) / nullif(n, 0))
       |      + $z2 / (4.0 * nullif(n, 0))) / nullif(n, 0)))
       |      AS BIGINT) AS s6
       |  FROM s)
       |SELECT step, n, k, CAST(k AS DOUBLE) / nz AS rate,
       |  GREATEST(0.0, LEAST(CAST(k AS DOUBLE) / nz,
       |    round((((CAST(k AS DOUBLE) / nz) + $z2 / (2.0 * nz) - $z * s6 / 1e6)
       |      / (1.0 + $z2 / nz)) * 1e9) / 1e9)) AS ci_lo,
       |  LEAST(1.0, GREATEST(CAST(k AS DOUBLE) / nz,
       |    round((((CAST(k AS DOUBLE) / nz) + $z2 / (2.0 * nz) + $z * s6 / 1e6)
       |      / (1.0 + $z2 / nz)) * 1e9) / 1e9)) AS ci_hi
       |FROM w ORDER BY step""".stripMargin
  }

  // ---- dedup_savings_sweep: reclaimable bytes per similarity threshold ----

  val savingsTaus: Seq[Int] = Seq(600, 700, 800, 900) // τ × 1000

  /** Storage-savings sweep over the dedup threshold: for each τ, the
    * verified near-dup pairs at jaccard ≥ τ (the session's `lshPairs`
    * frame — already banded, never all-pairs) are resolved by the
    * deterministic greedy smaller-id-wins policy (a doc is removed iff
    * some smaller-id doc is τ-similar to it), and the sweep reports
    * pairs, removed docs, removed chars, and the corpus share — the
    * capacity-planning table that says what tightening or loosening τ
    * BUYS, before anyone re-runs the pipeline (`lsh_tuning` predicts
    * recall per banding; this prices the outcome). One pair frame scan
    * per τ over the bounded verified pairs + one doc-keyed join.
    */
  def dedupSavingsSweepQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = QueriesText.lshPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val chars = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    // ONE pass over the pair frame and ONE doc-keyed join serve every
    // τ arm: a loser's fate at threshold τ depends only on its MAX
    // jaccard against any smaller-id doc, so conditional sums over
    // (loser, max jaccard) give all four arms' counts at once
    val wide = Memo(spark, dir, "wave22:savingsWide") {
      val perLoser = pairs
        .groupBy(greatest(col("doc_a"), col("doc_b")).as("doc_id"))
        .agg(max(col("jaccard")).as("__mj"))
        .join(chars, "doc_id")
      // coalesce to 0: on an empty pair frame (no duplicates in the
      // corpus) the global sums return NULL while the oracle's scalar
      // COUNT/COALESCE subqueries return 0 — pin both engines to zeros
      val pCols = savingsTaus.map(t =>
        coalesce(sum(when(col("jaccard") >= t / 1000.0, 1L).otherwise(0L)),
          lit(0L)).as(s"p$t"))
      val pairArms = pairs.agg(pCols.head, pCols.tail: _*)
      val lCols = savingsTaus.flatMap(t => Seq(
        coalesce(sum(when(col("__mj") >= t / 1000.0, 1L).otherwise(0L)),
          lit(0L)).as(s"r$t"),
        coalesce(sum(when(col("__mj") >= t / 1000.0, col("n_chars"))
          .otherwise(0L)), lit(0L)).as(s"c$t")))
      val loserArms = perLoser.agg(lCols.head, lCols.tail: _*)
      val tot = chars.agg(sum(col("n_chars")).as("__tc"))
      pairArms.crossJoin(loserArms).crossJoin(tot)
    }
    savingsTaus.map { t =>
      wide.select(lit(t).as("tau1000"),
        col(s"p$t").as("n_pairs"), col(s"r$t").as("n_removed"),
        col(s"c$t").as("chars_removed"),
        (col(s"c$t").cast("double") / col("__tc")).as("corpus_share"))
    }.reduce(_.unionAll(_)).orderBy(col("tau1000"))
  }

  val dedupSavingsSweepSql: String = {
    val arms = savingsTaus.map { t =>
      s"""SELECT $t AS tau1000,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lp
         |    WHERE jaccard >= $t / 1000.0) AS n_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         |    SELECT DISTINCT GREATEST(doc_a, doc_b) AS doc_id FROM lp
         |    WHERE jaccard >= $t / 1000.0)) AS n_removed,
         |  (SELECT CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) FROM (
         |    SELECT DISTINCT GREATEST(doc_a, doc_b) AS doc_id FROM lp
         |    WHERE jaccard >= $t / 1000.0) r JOIN documents d USING (doc_id))
         |    AS chars_removed,
         |  CAST((SELECT COALESCE(SUM(d.n_chars), 0) FROM (
         |    SELECT DISTINCT GREATEST(doc_a, doc_b) AS doc_id FROM lp
         |    WHERE jaccard >= $t / 1000.0) r JOIN documents d USING (doc_id))
         |    AS DOUBLE) / (SELECT SUM(n_chars) FROM documents) AS corpus_share""".stripMargin
    }.mkString("\nUNION ALL\n")
    // MATERIALIZED: lp is referenced 16× across the τ arms — inlined,
    // DuckDB re-ran the whole banded-LSH pipeline per reference
    s"""WITH lp AS MATERIALIZED (${QueriesText.minhashLshDupSql})
       |$arms
       |ORDER BY tau1000""".stripMargin
  }

  // ---- negbin_fit: negative-binomial fit of the daily count process ----

  /** Method-of-moments negative-binomial fit of each event type's daily
    * count series — the MODEL the overdispersion `burstiness_fano`
    * detects calls for (Poisson when σ²≈μ, NB(r, p) with r = μ²/(σ²−μ),
    * p = μ/σ² when σ²>μ): the distribution capacity planners actually
    * sample arrival days from. Daily aggregate first (calendar-bounded);
    * mean/variance stay exact integer moments; the overdispersion
    * verdict is the EXACT integer comparison n·Σx²−T² > T(n−1) (no
    * float in the gate); r and p are emitted only for overdispersed
    * types (NULL otherwise, identically in both engines — the NB
    * moment fit is undefined at σ²≤μ).
    */
  def negbinFitQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('DAY', ts))").as("__day"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("t"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("mean_daily", col("t").cast("double") / col("n_days"))
      .withColumn("var_daily",
        (col("n_days") * col("sxx") - col("t") * col("t")).cast("double") /
          (col("n_days").cast("double") * (col("n_days") - 1)))
      .withColumn("overdispersed",
        col("n_days") * col("sxx") - col("t") * col("t") >
          col("t") * (col("n_days") - 1))
      .select(col("event_type"), col("n_days"), col("mean_daily"),
        col("var_daily"), col("overdispersed"),
        when(col("overdispersed"),
          col("mean_daily") * col("mean_daily") /
            (col("var_daily") - col("mean_daily"))).as("nb_r"),
        when(col("overdispersed"),
          col("mean_daily") / col("var_daily")).as("nb_p"))
      .orderBy(col("event_type"))

  val negbinFitSql: String =
    """WITH d AS (SELECT event_type,
      |    epoch_us(date_trunc('DAY', ts)) AS day_us,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(x) AS BIGINT) AS t, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM d GROUP BY 1),
      |s AS (SELECT *,
      |    CAST(t AS DOUBLE) / n_days AS mean_daily,
      |    CAST(n_days * sxx - t * t AS DOUBLE)
      |      / (CAST(n_days AS DOUBLE) * (n_days - 1)) AS var_daily,
      |    n_days * sxx - t * t > t * (n_days - 1) AS overdispersed
      |  FROM m)
      |SELECT event_type, n_days, mean_daily, var_daily, overdispersed,
      |  CASE WHEN overdispersed
      |    THEN mean_daily * mean_daily / (var_daily - mean_daily) END AS nb_r,
      |  CASE WHEN overdispersed THEN mean_daily / var_daily END AS nb_p
      |FROM s ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "negbin_fit" -> (negbinFitQ _),
    "median_ci" -> (medianCiQ _),
    "funnel_wilson_ci" -> (funnelWilsonCiQ _),
    "dedup_savings_sweep" -> (dedupSavingsSweepQ _),
    "jackknife_variance" -> (jackknifeVarianceQ _),
    "capture_recapture" -> (captureRecaptureQ _),
    "covariate_balance" -> (covariateBalanceQ _),
    "dedup_transitivity" -> (dedupTransitivityQ _),
    "group_sequential" -> (groupSequentialQ _),
    "bh_fdr" -> (bhFdrQ _),
    "label_propagation" -> (labelPropagationQ _),
    "graph_modularity" -> (graphModularityQ _),
    "mg_heavy_hitters" -> (mgHeavyHittersQ _),
    "diff_in_diff" -> (diffInDiffQ _),
    "rendezvous_shard" -> (rendezvousShardQ _),
    "deletion_vector_plan" -> (deletionVectorPlanQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "negbin_fit" -> negbinFitSql,
    "median_ci" -> medianCiSql,
    "funnel_wilson_ci" -> funnelWilsonCiSql,
    "dedup_savings_sweep" -> dedupSavingsSweepSql,
    "jackknife_variance" -> jackknifeVarianceSql,
    "capture_recapture" -> captureRecaptureSql,
    "covariate_balance" -> covariateBalanceSql,
    "dedup_transitivity" -> dedupTransitivitySql,
    "group_sequential" -> groupSequentialSql,
    "bh_fdr" -> bhFdrSql,
    "label_propagation" -> labelPropagationSql,
    "graph_modularity" -> graphModularitySql,
    "mg_heavy_hitters" -> mgHeavyHittersSql,
    "diff_in_diff" -> diffInDiffSql,
    "rendezvous_shard" -> rendezvousShardSql,
    "deletion_vector_plan" -> deletionVectorPlanSql
  )
}
