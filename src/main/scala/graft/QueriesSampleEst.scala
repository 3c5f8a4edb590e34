package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fanouts, JoinSample, Metrics}
import graft.query.{CardBenchmark, Predicate, PredicateSql, PseudoSql}

/** Sampling-based estimation (SURVEY.md §2 rows 12/14): the weighted
  * join sample, the sample-based cardinality estimator + bootstrap CI,
  * the progressive-sampling estimator, and the encoded training batch
  * the learned models consume. Split from QueriesEstimators along the
  * family boundary its doc headers delineate — a pure move, no logic
  * change (EntrySpec pins the query-key triple through the refactor).
  *
  * Every oracle SQL string is generated from the same specs the Spark
  * plans execute, so the two sides cannot drift.
  */
object QueriesSampleEst extends QueryModule {

  // ---- rows 12/14: weighted join sample + sample-based estimator ----

  /** customer ← orders ← lineitem chain, rooted at customer. */
  private[graft] val chain = Subschema(
    "chain", "customer",
    Seq(
      FkEdge("customer", "c_custkey", "orders", "o_custkey"),
      FkEdge("orders", "o_orderkey", "lineitem", "l_orderkey")))

  val sampleN = 2000L
  val sampleSeed = 42L

  /** md5-hex → 52-bit uniform, SQL side (mirrors JoinSample.uniform
    * operation-for-operation: first 13 hex digits → BIGINT → /2^52).
    */
  private def uSql(mix: String): String =
    s"CAST(CAST(('0x' || substr(md5($mix), 1, 13)) AS BIGINT) AS DOUBLE) / 4503599627370496.0"

  private val coveredTables = Set("customer", "orders", "lineitem")

  private lazy val coveredSpecs: Seq[(String, graft.query.ParsedQuery)] =
    CardBenchmark.specs.flatMap { case (id, sql) =>
      val q = PseudoSql.parse(sql)
      if (q.tables.forall(coveredTables)) Some((id, q)) else None
    }

  /** Predicate columns per table across the covered specs — carried
    * through the oracle's sample CTEs so sample_est evaluates on the
    * PICKED rows (re-joining by key would be wrong: the synthetic
    * lineitem's (l_orderkey, l_linenumber) is not unique).
    */
  private lazy val sampPredCols: Map[String, Seq[String]] =
    coveredSpecs
      .flatMap(_._2.predicates)
      .map(p => (CardBenchmark.tableOf(p.col), p.col.split('.').last))
      .distinct
      .groupBy(_._1)
      .map { case (t, cs) => (t, cs.map(_._2)) }

  private def carry(t: String, alias: String): String =
    sampPredCols.getOrElse(t, Nil).map(c => s", $alias$c").mkString

  /** The whole weighted-sample pipeline as a DuckDB CTE chain ending in
    * `samp` — weights, expected-copies root draw, and one inverse-CDF
    * window pick per edge, mirroring JoinSample.sample exactly (same
    * md5-seeded uniforms, same clamp, same row-identity pick order from
    * Tables.pks). The sampling OPERATOR is correctness-gated, not just
    * its downstream consumers.
    */
  private lazy val sampleCtes: String = {
    val seed = sampleSeed
    val e1 = chain.edges(0).joinLabel
    val e2 = chain.edges(1).joinLabel
    val lpk = Tables.pks("lineitem").map(c => s"$c NULLS FIRST").mkString(", ")
    val cC = carry("customer", "")
    val cCc = carry("customer", "c.")
    val cO = carry("orders", "")
    val cOo = carry("orders", "o.")
    val cOp = carry("orders", "p.")
    // l_quantity doubles as a pick-order column; dedupe the carry list
    val cLextra = sampPredCols.getOrElse("lineitem", Nil)
      .filterNot(Tables.pks("lineitem").contains)
    s"""lw AS (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
       |ow AS (SELECT o.o_orderkey, o.o_custkey$cOo, CAST(COALESCE(lw.cnt, 1) AS BIGINT) AS cw
       |       FROM orders o LEFT JOIN lw ON o.o_orderkey = lw.l_orderkey),
       |cwt AS (SELECT c.c_custkey$cCc, CAST(COALESCE(x.w, 1) AS BIGINT) AS weight
       |        FROM customer c LEFT JOIN (SELECT o_custkey, SUM(cw) AS w FROM ow GROUP BY 1) x
       |          ON c.c_custkey = x.o_custkey),
       |tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM cwt),
       |root AS (SELECT c_custkey$cC,
       |           $sampleN.0 * CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE) AS e,
       |           ${uSql(s"'$seed:' || CAST(c_custkey AS VARCHAR)")} AS u
       |         FROM cwt, tw),
       |drawn AS (SELECT c_custkey$cC,
       |            md5('$seed:' || CAST(c_custkey AS VARCHAR) || ':' || CAST(copy AS VARCHAR)) AS slot
       |          FROM (SELECT c_custkey$cC,
       |                  unnest(range(1, CAST(FLOOR(e) AS BIGINT)
       |                    + (CASE WHEN u < e - FLOOR(e) THEN 1 ELSE 0 END) + 1)) AS copy
       |                FROM root)),
       |cand1 AS (SELECT d.slot, d.c_custkey${carry("customer", "d.")}, o.o_orderkey$cOo, o.cw
       |          FROM drawn d LEFT JOIN ow o ON d.c_custkey = o.o_custkey),
       |win1 AS (SELECT slot, c_custkey$cC, o_orderkey$cO, cw,
       |           SUM(cw) OVER (PARTITION BY slot ORDER BY o_orderkey NULLS FIRST ROWS UNBOUNDED PRECEDING) AS cum,
       |           SUM(cw) OVER (PARTITION BY slot) AS ws
       |         FROM cand1),
       |pick1 AS (SELECT slot, c_custkey$cC, o_orderkey$cO FROM (
       |            SELECT win1.*,
       |              LEAST(CAST(FLOOR(${uSql(s"'$e1:' || slot")} * CAST(ws AS DOUBLE)) AS BIGINT), ws - 1) AS t
       |            FROM win1) z
       |          WHERE o_orderkey IS NULL OR (t >= cum - cw AND t < cum)),
       |cand2 AS (SELECT p.slot, p.c_custkey${carry("customer", "p.")}, p.o_orderkey$cOp,
       |            l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_quantity${cLextra.map(c => s", l.$c").mkString},
       |            CASE WHEN l.l_orderkey IS NULL THEN NULL ELSE CAST(1 AS BIGINT) END AS cw
       |          FROM pick1 p LEFT JOIN lineitem l ON p.o_orderkey = l.l_orderkey),
       |win2 AS (SELECT cand2.*,
       |           SUM(cw) OVER (PARTITION BY slot ORDER BY $lpk ROWS UNBOUNDED PRECEDING) AS cum,
       |           SUM(cw) OVER (PARTITION BY slot) AS ws
       |         FROM cand2),
       |samp AS (SELECT slot, c_custkey$cC, o_orderkey$cO,
       |           l_orderkey, l_linenumber, l_quantity${cLextra.map(c => s", $c").mkString},
       |           o_orderkey IS NOT NULL AS in_orders, l_orderkey IS NOT NULL AS in_lineitem
       |         FROM (
       |            SELECT win2.*,
       |              LEAST(CAST(FLOOR(${uSql(s"'$e2:' || slot")} * CAST(ws AS DOUBLE)) AS BIGINT), ws - 1) AS t
       |            FROM win2) z
       |          WHERE l_orderkey IS NULL OR (t >= cum - cw AND t < cum))""".stripMargin
  }

  val joinSampleSql: String =
    s"""WITH $sampleCtes
       |SELECT slot, c_custkey, o_orderkey, l_orderkey, l_linenumber, in_orders, in_lineitem
       |FROM samp ORDER BY slot""".stripMargin

  val sampleEstSql: String = {
    val arms = coveredSpecs.map { case (id, q) =>
      val flags = q.tables.filterNot(_ == "customer").map {
        case "orders"   => "in_orders"
        case "lineitem" => "in_lineitem"
      }
      val preds = q.predicates.map(p => PredicateSql.render(p.copy(col = p.col.split('.').last)))
      val sat = (preds ++ flags).mkString(" AND ")
      s"SELECT '$id' AS query_id," +
        s" CAST(tw AS DOUBLE) * (CAST((SELECT SUM(CASE WHEN $sat THEN 1 ELSE 0 END) FROM samp) AS DOUBLE)" +
        s" / (SELECT CAST(COUNT(*) AS DOUBLE) FROM samp)) AS est FROM tw"
    }
    s"""WITH $sampleCtes
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY query_id""".stripMargin
  }

  /** The seeded chain sample, materialized once per (session, dir) and
    * shared by join_sample and sample_est.
    */
  private def chainSample(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "chainSample")(
      JoinSample.sample(
        chain, "customer", "c_custkey", Fanouts.loader(spark, dir), sampleN, sampleSeed))

  def joinSampleQ(spark: SparkSession, dir: String): DataFrame =
    chainSample(spark, dir)
      .select(
        col("__slot__").as("slot"),
        col("c_custkey"), col("o_orderkey"), col("l_orderkey"), col("l_linenumber"),
        col("__in__:orders").as("in_orders"),
        col("__in__:lineitem").as("in_lineitem"))
      .orderBy(col("slot"))

  /** Sample-based estimator (progressive-sampling analogue): for each
    * benchmark query whose tables lie inside the sampled subschema,
    * est = W × (sample rows satisfying preds ∧ required __in__ flags)
    *         / (total sample rows).
    */
  def sampleEstQ(spark: SparkSession, dir: String): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    val covered = Set("customer", "orders", "lineitem")
    val sample = chainSample(spark, dir)
    val w = JoinSample.totalWeight(chain, "customer", load)
      .select(col("total_weight").cast("double"))
    val specs = CardBenchmark.specs.filter { case (_, sql) =>
      PseudoSql.parse(sql).tables.forall(covered)
    }
    // ONE aggregation pass computes every spec's satisfied-count: the
    // old per-spec agg ran |specs| separate 3-stage jobs over the same
    // cached sample (pure per-stage scheduling latency — the sample is
    // ~2000 rows), then unioned the 1-row results. Each __k_i is the
    // identical sum(when(sat_i, ...)) expression; the per-spec estimate
    // rows are re-expanded from the single result row by an explode.
    val sats = specs.map { case (id, sql) =>
      val q = PseudoSql.parse(sql)
      val need = q.tables.filterNot(_ == "customer")
      val flags = need.map(t => col(s"__in__:$t"))
      val sat = (Predicate.conjunction(
        q.predicates.map(p => p.copy(col = p.col.split('.').last))) +: flags)
        .reduce(_ && _)
      (id, sat)
    }
    val aggCols = count(lit(1)).cast("double").as("__n") +:
      sats.zipWithIndex.map { case ((_, sat), i) =>
        sum(when(sat, 1L).otherwise(0L)).cast("double").as(s"__k$i")
      }
    sample
      .agg(aggCols.head, aggCols.tail: _*)
      .crossJoin(broadcast(w))
      .select(explode(array(sats.zipWithIndex.map { case ((id, _), i) =>
        struct(
          lit(id).as("query_id"),
          (col("total_weight") * (col(s"__k$i") / col("__n"))).as("est"))
      }: _*)).as("__r"))
      .select(col("__r.query_id"), col("__r.est"))
      .orderBy(col("query_id"))
  }

  // ---- row 12c: bootstrap CI around the sampling estimator ----

  /** Poisson-bootstrap confidence interval around `sample_est`: the
    * sampling estimator finally carries the error bars a sampled
    * estimate must ship with. Each of the 2,000 sample slots draws 32
    * replicate multiplicities independently (integer Poisson thresholds
    * against 52-bit md5 hashes — the `bootstrap_ci` discipline, no
    * global resample pass, bit-identical across engines and shards);
    * replicate r's estimate is W·(Σ m·1{sat} / Σ m) and the CI is the
    * nearest-rank min/max over replicates. The replicated frame is a
    * session memo (slots × 32 rows, sample-sized not data-sized) shared
    * by every spec's aggregation; wide replicate-vs-spec work never
    * touches the base tables.
    */
  def sampleEstCiQ(spark: SparkSession, dir: String): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    val sample = chainSample(spark, dir)
    val w = JoinSample.totalWeight(chain, "customer", load)
      .select(col("total_weight").cast("double"))
    val reps = spark.range(PoissonGrid.bootstrapR.toLong).select(col("id").as("r"))
    val repl = Memo(spark, dir, "sampleCiRepl")(
      sample.crossJoin(reps)
        .withColumn("__h",
          conv(substring(md5(concat(lit("sci:"), col("r").cast("string"), lit(":"),
            col("__slot__"))), 1, 13), 16, 10).cast("long"))
        .withColumn("m", expr(PoissonGrid.poisCaseSqlExpr("__h")).cast("long")))
    def satOf(q: graft.query.ParsedQuery) = {
      val flags = q.tables.filterNot(_ == "customer").map(t => col(s"__in__:$t"))
      (Predicate.conjunction(
        q.predicates.map(p => p.copy(col = p.col.split('.').last))) +: flags)
        .reduce(_ && _)
    }
    def cn(id: String) = id.replaceAll("[^A-Za-z0-9]", "_")
    // ONE pass over the replicated frame computes every spec's replicate
    // hit-counts as parallel columns, one pass over the sample the point
    // estimates — per-spec output rows are tiny selects over a memoized
    // one-row frame, not 2·|specs| separate jobs
    val wide = Memo(spark, dir, "sampleCiWide") {
      val repAggs = coveredSpecs.map { case (id, q) =>
        sum(when(satOf(q), col("m")).otherwise(0L)).cast("double").as(s"k_${cn(id)}")
      } :+ sum(col("m")).cast("double").as("__n")
      val bounds = repl.groupBy(col("r"))
        .agg(repAggs.head, repAggs.tail: _*)
        .crossJoin(broadcast(w))
        .select(coveredSpecs.map { case (id, _) =>
          (col("total_weight") * (col(s"k_${cn(id)}") / greatest(col("__n"), lit(1.0))))
            .as(s"e_${cn(id)}")
        }: _*)
      val bAggs = coveredSpecs.flatMap { case (id, _) =>
        Seq(min(col(s"e_${cn(id)}")).as(s"lo_${cn(id)}"),
          max(col(s"e_${cn(id)}")).as(s"hi_${cn(id)}"))
      }
      val pAggs = coveredSpecs.map { case (id, q) =>
        sum(when(satOf(q), 1L).otherwise(0L)).cast("double").as(s"k_${cn(id)}")
      } :+ count(lit(1)).cast("double").as("__n")
      val points = sample.agg(pAggs.head, pAggs.tail: _*)
        .crossJoin(broadcast(w))
        .select(coveredSpecs.map { case (id, _) =>
          (col("total_weight") * (col(s"k_${cn(id)}") / col("__n"))).as(s"est_${cn(id)}")
        }: _*)
      points.crossJoin(bounds.agg(bAggs.head, bAggs.tail: _*))
    }
    coveredSpecs
      .map { case (id, _) =>
        wide.select(lit(id).as("query_id"),
          col(s"est_${cn(id)}").as("est"),
          col(s"lo_${cn(id)}").as("lo"), col(s"hi_${cn(id)}").as("hi"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("query_id"))
  }

  val sampleEstCiSql: String = {
    val r = PoissonGrid.bootstrapR
    val hash = "CAST(('0x' || substr(md5('sci:' || CAST(reps.r AS VARCHAR) || ':' || slot), 1, 13)) AS BIGINT)"
    val arms = coveredSpecs.map { case (id, q) =>
      val flags = q.tables.filterNot(_ == "customer").map {
        case "orders"   => "in_orders"
        case "lineitem" => "in_lineitem"
      }
      val preds = q.predicates.map(p => PredicateSql.render(p.copy(col = p.col.split('.').last)))
      val sat = (preds ++ flags).mkString(" AND ")
      s"""SELECT '$id' AS query_id,
         |  CAST(tw AS DOUBLE) * (CAST((SELECT SUM(CASE WHEN $sat THEN 1 ELSE 0 END) FROM samp) AS DOUBLE)
         |    / (SELECT CAST(COUNT(*) AS DOUBLE) FROM samp)) AS est,
         |  (SELECT MIN(CAST(tw AS DOUBLE) * (k / GREATEST(n, 1.0))) FROM
         |    (SELECT r, CAST(SUM(CASE WHEN $sat THEN m ELSE 0 END) AS DOUBLE) AS k,
         |            CAST(SUM(m) AS DOUBLE) AS n FROM repl GROUP BY r)) AS lo,
         |  (SELECT MAX(CAST(tw AS DOUBLE) * (k / GREATEST(n, 1.0))) FROM
         |    (SELECT r, CAST(SUM(CASE WHEN $sat THEN m ELSE 0 END) AS DOUBLE) AS k,
         |            CAST(SUM(m) AS DOUBLE) AS n FROM repl GROUP BY r)) AS hi
         |FROM tw""".stripMargin
    }
    s"""WITH $sampleCtes,
       |repl AS (SELECT samp.*, reps.r,
       |    ${PoissonGrid.poisCaseSqlExpr(hash)} AS m
       |  FROM samp CROSS JOIN (SELECT unnest(range(0, $r)) AS r) reps)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY query_id""".stripMargin
  }

  // ---- row 12b: progressive-sampling estimator (estimators.py:913) ----

  /** Per-stage sampling budget: each conditional selectivity is estimated
    * from at most this many survivors, re-drawn per stage.
    */
  val progBudget = 256

  /** Progressive-sampling cardinality estimation — the reference's
    * ProgressiveSamplingUR architecture (scardina/estimators.py:913)
    * re-expressed over the seeded join sample: predicates are consumed
    * ONE AT A TIME; stage i draws a fresh budget of `progBudget` rows
    * (deterministic md5('prog:i:'||slot) order — SQL-reproducible
    * randomness) from the rows surviving predicates 1..i−1 and estimates
    * the conditional selectivity P(pᵢ | p₁..pᵢ₋₁) from that draw; the
    * estimate is W × P(flags) × Π conditionals. Unlike sample_est's
    * single-pass conjunction, each factor conditions on the previous
    * draws exactly as the reference's per-column progressive loop does.
    * Everything runs on the memoized 2000-row sample — per spec the whole
    * chain is tiny crossJoined 1-row aggregates, one job each.
    */
  def progressiveEstQ(spark: SparkSession, dir: String): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    val sample = chainSample(spark, dir)
    val w = JoinSample.totalWeight(chain, "customer", load)
      .select(col("total_weight").cast("double"))
    val tot = sample.agg(count(lit(1)).cast("double").as("__n"))
    coveredSpecs
      .map { case (id, q) =>
        // One pass per spec: stage i's "draw" = rank among the rows
        // surviving predicates 1..i−1 ordered by the stage hash — the
        // window formulation of ORDER BY hash LIMIT budget (identical
        // picks: md5 per slot is unique), so the k per-stage
        // sort+limit+agg jobs collapse into one plan branch with k
        // window functions over the tiny cached sample.
        val flags = q.tables.filterNot(_ == "customer").map(t => col(s"__in__:$t"))
        val s0 = flags.foldLeft(sample)(_ filter _)
        val preds = q.predicates
          .map(p => Predicate.conjunction(Seq(p.copy(col = p.col.split('.').last))))
        var survive = lit(true)
        val annotated = preds.zipWithIndex
          .foldLeft(s0) { case (df, (cond, i0)) =>
            val i = i0 + 1
            val rn = row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(survive)
                .orderBy(md5(concat(lit(s"prog:$i:"), col("__slot__")))))
            val out = df
              .withColumn(s"__surv$i", survive)
              .withColumn(s"__rn$i", rn)
              .withColumn(s"__sat$i", cond)
            survive = survive && cond
            out
          }
        val fracs = preds.indices.map { i0 =>
          val i = i0 + 1
          val in = col(s"__surv$i") && col(s"__rn$i") <= progBudget
          val m = sum(when(in, 1L).otherwise(0L))
          val k = sum(when(in && col(s"__sat$i"), 1L).otherwise(0L))
          when(m === 0, lit(0.0)).otherwise(k.cast("double") / m.cast("double")).as(s"__f$i")
        }
        val agged = annotated.agg(
          count(lit(1)).cast("double").as("__n0"), fracs: _*)
        val fprod = preds.indices
          .map(i0 => col(s"__f${i0 + 1}"))
          .foldLeft(col("__f0"))(_ * _)
        agged
          .crossJoin(tot).crossJoin(w)
          .withColumn("__f0", col("__n0") / col("__n"))
          .select(lit(id).as("query_id"), (col("total_weight") * fprod).as("est"))
      }
      .reduce(_.unionAll(_))
      .join(QueriesEstimators.bothsAll(spark, dir).select(col("query_id"), col("__card")), Seq("query_id"))
      .select(col("query_id"), col("est"), Metrics.qError(col("est"), col("__card")).as("q_err"))
      .orderBy(col("query_id"))
  }

  val progressiveEstSql: String = {
    val perSpec = coveredSpecs.map { case (id, q) =>
      val flags = q.tables.filterNot(_ == "customer").map {
        case "orders"   => "in_orders"
        case "lineitem" => "in_lineitem"
      }
      val flagConj = if (flags.isEmpty) "TRUE" else flags.mkString(" AND ")
      val preds = q.predicates
        .map(p => PredicateSql.render(p.copy(col = p.col.split('.').last)))
      val stageCtes = preds.zipWithIndex.map { case (pred, i0) =>
        val i = i0 + 1
        s"""p${i}_$id AS (SELECT * FROM s${i0}_$id ORDER BY md5('prog:$i:' || slot) LIMIT $progBudget),
           |g${i}_$id AS (SELECT CASE WHEN COUNT(*) = 0 THEN 0.0
           |  ELSE CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) END AS f
           |  FROM p${i}_$id),
           |s${i}_$id AS (SELECT * FROM s${i0}_$id WHERE $pred)""".stripMargin
      }
      val ctes =
        (s"""s0_$id AS (SELECT * FROM samp WHERE $flagConj),
            |f0_$id AS (SELECT CAST((SELECT COUNT(*) FROM s0_$id) AS DOUBLE) /
            |  CAST((SELECT COUNT(*) FROM samp) AS DOUBLE) AS f)""".stripMargin +: stageCtes)
          .mkString(",\n")
      val fprod = preds.indices
        .map(i0 => s"g${i0 + 1}_$id.f")
        .foldLeft(s"f0_$id.f")((acc, g) => s"($acc * $g)")
      val from = (s"f0_$id" +: preds.indices.map(i0 => s"g${i0 + 1}_$id")).mkString(", ")
      val tru = s"CAST((${CardBenchmark.specs.toMap.apply(id)}) AS DOUBLE)"
      val arm =
        s"SELECT query_id, e AS est, ${Metrics.qErrorSql("e", "t")} AS q_err FROM" +
          s" (SELECT '$id' AS query_id, CAST(tw AS DOUBLE) * $fprod AS e, $tru AS t" +
          s" FROM tw, $from) z"
      (ctes, arm)
    }
    s"""WITH $sampleCtes,
       |${perSpec.map(_._1).mkString(",\n")}
       |${perSpec.map(_._2).mkString("\nUNION ALL\n")}
       |ORDER BY query_id""".stripMargin
  }

  // ---- row 14b: encoded training batch (the reference pipeline's end product) ----

  /** The reference's training-data generation END-TO-END: weighted join
    * sample → dictionary discretization (0=MASK, 1=NULL reserved; padded
    * slots encode to the NULL token) → per-edge fanout column forced to 1
    * on padded rows — one row per sample slot, exactly the matrix
    * datasets.py:_prepare_data + common.py:discretize_values feed the
    * autoencoder. Dictionaries come from the BASE tables (not the
    * sample), are tiny, and broadcast onto the sample; the whole batch is
    * sample-sized, never base-table-sized.
    */
  def trainingBatchQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Encoding
    val sample = chainSample(spark, dir)
    def dict(t: String, c: String) =
      broadcast(
        Encoding.dictionary(Tables(spark, dir, t), c)
          .withColumnRenamed(c, s"__v_$c")
          .withColumnRenamed("code", s"__code_$c"))
    val fan = Fanouts
      .fkCount(Tables(spark, dir, "lineitem"), "l_orderkey")
      .withColumnRenamed("l_orderkey", "__fan_key")
      .withColumnRenamed("cnt", "__fan")
    sample
      .join(dict("customer", "c_mktsegment"),
        col("c_mktsegment") === col("__v_c_mktsegment"), "left")
      .join(dict("orders", "o_orderstatus"),
        col("o_orderstatus") === col("__v_o_orderstatus"), "left")
      .join(dict("lineitem", "l_returnflag"),
        col("l_returnflag") === col("__v_l_returnflag"), "left")
      .join(broadcast(fan), col("o_orderkey") === col("__fan_key"), "left")
      .select(
        col("__slot__").as("slot"),
        coalesce(col("__code_c_mktsegment"), lit(1)).cast("int").as("c_code"),
        coalesce(col("__code_o_orderstatus"), lit(1)).cast("int").as("o_code"),
        coalesce(col("__code_l_returnflag"), lit(1)).cast("int").as("l_code"),
        when(!col("__in__:orders"), lit(1L))
          .otherwise(coalesce(col("__fan"), lit(1L)))
          .cast("bigint").as("lo_fanout"),
        col("__in__:orders").as("in_orders"),
        col("__in__:lineitem").as("in_lineitem"))
      .orderBy(col("slot"))
  }

  /** Dictionary CTE: code = 1-based rank of the sorted distinct non-null
    * values + 1 (i.e. the reference's index+2). `lw` (lineitem counts per
    * order) is reused straight from the sample CTE chain.
    */
  private def dictCte(name: String, t: String, c: String): String =
    s"$name AS (SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v) + 1 AS INTEGER) AS code" +
      s" FROM (SELECT DISTINCT $c AS v FROM $t WHERE $c IS NOT NULL))"

  val trainingBatchSql: String =
    s"""WITH $sampleCtes,
       |${dictCte("dict_c", "customer", "c_mktsegment")},
       |${dictCte("dict_o", "orders", "o_orderstatus")},
       |${dictCte("dict_l", "lineitem", "l_returnflag")}
       |SELECT s.slot,
       |  CAST(COALESCE(dc.code, 1) AS INTEGER) AS c_code,
       |  CAST(COALESCE(dd.code, 1) AS INTEGER) AS o_code,
       |  CAST(COALESCE(dl.code, 1) AS INTEGER) AS l_code,
       |  CAST(CASE WHEN NOT s.in_orders THEN 1 ELSE COALESCE(lw.cnt, 1) END AS BIGINT) AS lo_fanout,
       |  s.in_orders, s.in_lineitem
       |FROM samp s
       |LEFT JOIN dict_c dc ON s.c_mktsegment = dc.v
       |LEFT JOIN dict_o dd ON s.o_orderstatus = dd.v
       |LEFT JOIN dict_l dl ON s.l_returnflag = dl.v
       |LEFT JOIN lw ON s.o_orderkey = lw.l_orderkey
       |ORDER BY slot""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_sample" -> (joinSampleQ _),
    "sample_est" -> (sampleEstQ _),
    "sample_est_ci" -> (sampleEstCiQ _),
    "progressive_est" -> (progressiveEstQ _),
    "training_batch" -> (trainingBatchQ _)
  )

  /** join_sample and sample_est are fully SQL-checked: the sampling's
    * md5-seeded uniforms and integer inverse-CDF picks are reproduced in
    * DuckDB CTEs, so even the stochastic operator hash-matches.
    */
  val oracleSql: Map[String, String] = Map(
    "join_sample" -> joinSampleSql,
    "sample_est" -> sampleEstSql,
    "sample_est_ci" -> sampleEstCiSql,
    "progressive_est" -> progressiveEstSql,
    "training_batch" -> trainingBatchSql
  )
}
