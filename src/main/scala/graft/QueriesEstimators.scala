package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fanouts, JoinSample, Metrics}
import graft.query.{CardBenchmark, Engine, ParsedQuery, Predicate, PredicateSql}

/** Query surface + estimators (SURVEY.md §2 rows 9-14).
  *
  * Every oracle SQL string here is *generated* from the same specs the
  * Spark plans execute (CardBenchmark.specs / the predicate suite), so the
  * two sides cannot drift. Floating-point expressions are built with
  * identical operation order on both sides — IEEE doubles then match
  * bit-for-bit.
  */
object QueriesEstimators extends QueryModule {

  // ---- row 9: predicate op suite (estimators.py:94-116 OPS) ----

  /** (pred_id, table, predicate) covering every supported operator. */
  val predSuite: Seq[(String, String, Predicate)] = Seq(
    ("p01_eq", "lineitem", Predicate("l_returnflag", "=", "R")),
    ("p02_ne", "orders", Predicate("o_orderstatus", "!=", "O")),
    ("p03_lt", "lineitem", Predicate("l_quantity", "<", 10L)),
    ("p04_le", "lineitem", Predicate("l_quantity", "<=", 10L)),
    ("p05_gt", "orders", Predicate("o_totalprice", ">", 300000L)),
    ("p06_ge", "lineitem", Predicate("l_quantity", ">=", 45L)),
    ("p07_between", "lineitem", Predicate("l_discount", "BETWEEN", Seq(0.02, 0.06))),
    ("p08_in", "orders", Predicate("o_orderpriority", "IN", Seq("1-URGENT", "5-LOW"))),
    ("p09_like", "orders", Predicate("o_orderpriority", "LIKE", "%HIGH%")),
    ("p10_notlike", "part", Predicate("p_type", "NOT LIKE", "PROMO%")),
    ("p11_isnull", "lineitem", Predicate("l_shipdate", "IS", null)),
    ("p12_isnotnull", "customer", Predicate("c_mktsegment", "IS NOT", null))
  )

  def predEvalQ(spark: SparkSession, dir: String): DataFrame =
    predSuite
      .groupBy(_._2)
      .map { case (t, preds) =>
        // one conditional-aggregation scan per TABLE (not per predicate),
        // unpivoted back to (pred_id, cnt) rows
        val aggs = preds.map { case (id, _, p) =>
          sum(when(p.toColumn, 1L).otherwise(0L)).as(id)
        }
        val entries = preds.flatMap { case (id, _, _) => Seq(lit(id), col(id)) }
        Tables(spark, dir, t)
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(map(entries: _*)))
          .select(col("key").as("pred_id"), col("value").as("cnt"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("pred_id"))

  val predEvalSql: String =
    predSuite
      .map { case (id, table, p) =>
        s"SELECT '$id' AS pred_id, COUNT(*) AS cnt FROM $table WHERE ${PredicateSql.render(p)}"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY pred_id")

  // ---- rows 10/11/13: true cardinalities, naive estimates, q-error ----

  // Every Spark-side estimator arm scores a plain workload — a list of
  // (query_id, ParsedQuery) — through ONE estimate rule ([[product]]):
  // est = start × Π factors, multiplied left to right. Each factor is
  // keyed by what it measures (a table's predicate or conjunction, a
  // join key's degree, a conjunction over a join shape), so a workload
  // of any size costs one conditional aggregation per table or join
  // shape plus one join of its (query_id, pos, key) rows against the
  // factors, never a column or a CASE arm per query. The registered
  // entries score CardBenchmark.parsed; their arm frames are memoized
  // per (session, sf dir), exactly as a real engine materializes its
  // stats once and serves every estimate from them.

  private def bare(p: Predicate): Predicate = p.copy(col = p.col.split('.').last)

  /** Rows matching a conjunction, as a double; the empty conjunction is
    * the plain row count. */
  private def conjCount(ps: Seq[Predicate]): Column =
    if (ps.isEmpty) count(lit(1)).cast("double")
    else sum(when(Predicate.conjunction(ps), 1L).otherwise(0L)).cast("double")

  private def noFactors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Double)].toDF("key", "f")
  }

  /** A join shape: tables and join edges, each sorted, so a shape reached
    * from several queries or CIN factors is traversed once. A single
    * table is the shape with no edges. */
  private def shapeOf(tables: Seq[String], joins: Seq[(String, String)]): ParsedQuery =
    ParsedQuery(tables.distinct.sorted,
      joins.map { case (a, b) => if (a <= b) (a, b) else (b, a) }.distinct.sorted, Seq.empty)

  /** Key of the count of rows of `shape` matching `ps`. */
  private def countKey(shape: ParsedQuery, ps: Seq[Predicate]): String =
    shape.tables.mkString(",") + "|" +
      shape.joins.map { case (a, b) => s"$a=$b" }.mkString(",") + "|" +
      ps.map(PredicateSql.render).mkString(" AND ")

  /** Key of the count of rows of table `t` matching `ps`. */
  private def tableKey(t: String, ps: Seq[Predicate]): String = countKey(shapeOf(Seq(t), Nil), ps)

  /** Key of a ratio factor: count `num` over count `den`. */
  private def ratioKey(num: String, den: String): String = s"$num / $den"

  /** Key of a selectivity: rows of `t` matching `ps` over its row count. */
  private def selKey(t: String, ps: Seq[Predicate]): String =
    ratioKey(tableKey(t, ps), tableKey(t, Nil))

  /** Key of one predicate's selectivity (naive, ebo, the stats models'
    * LIKE fallback): its table and rendered SQL, as in the oracle's
    * `est_pf` CTE ([[predIdx]]). */
  private def predKey(p: Predicate): String =
    selKey(CardBenchmark.tableOf(p.col), Seq(bare(p)))

  /** Conditional counts over join shapes: ONE traversal per distinct
    * shape yields every requested count over it — the join-only count
    * for the empty conjunction, else the rows satisfying the conjunction
    * (row-local predicates commute with inner joins, so that is the
    * filtered join's count). */
  private def shapeCounts(spark: SparkSession, dir: String,
      requests: Seq[(ParsedQuery, Seq[Predicate])]): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    requests.groupBy(_._1).toSeq.sortBy(r => countKey(r._1, Nil))
      .map { case (shape, rs) =>
        val counts = rs.map(_._2).distinct.map(ps =>
          struct(lit(countKey(shape, ps)).as("key"), conjCount(ps).as("f")))
        Engine.plan(shape, load)
          .agg(array(counts: _*).as("__kf"))
          .select(explode(col("__kf")).as("__kf"))
          .select(col("__kf.key"), col("__kf.f"))
      }
      .reduce(_.unionAll(_))
  }

  /** Every single-table count the arms read, from one aggregation per
    * table: its row count, each predicate alone, each query's
    * conjunction on it, and the pessimistic root's conjunction. naive,
    * ebo, joint, pess and the LIKE fallback all read this one frame. */
  private def tableCounts(spark: SparkSession, dir: String,
      queries: Seq[(String, ParsedQuery)]): DataFrame =
    shapeCounts(spark, dir, queries.flatMap { case (_, q) =>
      val root = q.tables.head
      ((root, tableConj(q).toMap.getOrElse(root, Seq.empty)) +: tableConj(q)) ++
        q.predicates.map(p => (CardBenchmark.tableOf(p.col), Seq(bare(p))))
    }.flatMap { case (t, ps) => Seq((t, Seq.empty[Predicate]), (t, ps)) }
      .map { case (t, ps) => (shapeOf(Seq(t), Nil), ps) })

  /** Ratio factors `num / den` over a counts frame. */
  private def ratios(counts: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    pairs.distinct.map { case (n, d) => (ratioKey(n, d), n, d) }
      .toDF("key", "__nk", "__dk")
      .join(counts.select(col("key").as("__nk"), col("f").as("__n")), Seq("__nk"))
      .join(counts.select(col("key").as("__dk"), col("f").as("__d")), Seq("__dk"))
      .select(col("key"), (col("__n") / col("__d")).as("f"))
  }

  /** Every join-shape count truth and CIN read, from one traversal per
    * distinct shape: each query's join-only and full-conjunction counts,
    * and each CIN factor's conditional count and boundary-table count.
    * [[boths]] and the cin arm read this one frame. */
  private def joinCounts(spark: SparkSession, dir: String,
      queries: Seq[(String, ParsedQuery)]): DataFrame =
    shapeCounts(spark, dir, queries.flatMap { case (_, q) =>
      val s = shapeOf(q.tables, q.joins)
      Seq((s, Seq.empty[Predicate]), (s, q.predicates.map(bare))) ++
        cinDecompose(q).flatMap(f => (cinShape(f), f.preds) +:
          f.denom.map(d => (shapeOf(Seq(d), Nil), Seq.empty[Predicate])).toSeq)
    })

  /** (query_id, __j, __card) for a workload: each query's join-only count
    * and true cardinality, both read from [[joinCounts]]. */
  private[graft] def boths(spark: SparkSession, dir: String,
      queries: Seq[(String, ParsedQuery)]): DataFrame = {
    import spark.implicits._
    val counts = joinCounts(spark, dir, queries)
    queries
      .map { case (id, q) =>
        val s = shapeOf(q.tables, q.joins)
        (id, countKey(s, Nil), countKey(s, q.predicates.map(bare)))
      }
      .toDF("query_id", "__jk", "__ck")
      .join(counts.select(col("key").as("__jk"), col("f").as("__j")), Seq("__jk"))
      .join(counts.select(col("key").as("__ck"), col("f").as("__card")), Seq("__ck"))
      .select(col("query_id"), col("__j"), col("__card"))
  }

  def trueCardQ(spark: SparkSession, dir: String): DataFrame =
    // served from the persisted boths_all frame — the join traversals
    // only run inside its checkpoint build. __card is an exact count
    // cast double (< 2^53), so the cast back is lossless.
    bothsAll(spark, dir)
      .select(col("query_id"), col("__card").cast("bigint").as("card"))
      .orderBy(col("query_id"))

  /** All specs' (query_id, join size, true card) as ONE 10-row cached
    * frame — the base every registered estimator arm joins, and the
    * workload's ground-truth side. Warehouse-persisted ([[Checkpoint]])
    * keyed by the CONTENT-sensitive fingerprint of every table the
    * workload scans: rebuilding costs one traversal per join shape per
    * session (~7 s of the r13 warm pass), and the content term in the
    * key keeps this persisted TRUTH independent of count-preserving
    * data edits (the gate must never validate a model against stale
    * ground truth).
    */
  private[graft] def bothsAll(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "bothsAll")(
      Checkpoint(spark, dir, "boths_all")(
        Checkpoint.tableFingerprint(spark, dir, modelEstsFpTables: _*))(
        boths(spark, dir, CardBenchmark.parsed)))

  /** The one estimate rule of every arm. `plan` lists each query's factor
    * keys in multiplication order and `factors` holds one (key, f) row
    * per key. Each query's factors are joined in and ordered by position
    * (groupBy plus a sorted array, no window), then `est` turns that
    * array<double> into the estimate next to the query's `base` row
    * (query_id, __j, __card). Output: (query_id, est, __card). A key
    * missing from `factors` leaves a NULL factor, so the estimate reads
    * NULL instead of silently dropping the factor.
    */
  private def product(base: DataFrame, plan: Seq[(String, Seq[String])], factors: DataFrame)(
      est: Column => Column): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val ordered = plan
      .flatMap { case (id, ks) => ks.zipWithIndex.map { case (k, pos) => (id, pos, k) } }
      .toDF("query_id", "pos", "key")
      .join(factors, Seq("key"), "left")
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("f")))).getField("f").as("__fs"))
    base.join(ordered, Seq("query_id"), "left")
      .select(col("query_id"),
        est(coalesce(col("__fs"), typedLit(Seq.empty[Double]))).as("est"), col("__card"))
  }

  /** start × f_1 × f_2 × …, left to right. */
  private def foldFrom(start: Column)(fs: Column): Column =
    aggregate(fs, start, (acc, f) => acc * f)

  /** f_1 op f_2 op …, left to right from the first element. */
  private def foldFirstWith(op: (Column, Column) => Column)(fs: Column): Column =
    aggregate(slice(fs, lit(2), size(fs)), element_at(fs, 1), op)

  /** f_1 × f_2 × …, left to right: the arms whose start is their first
    * factor. */
  private def foldFirst(fs: Column): Column = foldFirstWith(_ * _)(fs)

  /** One estimator arm over a workload: (query_id, est, __card), with
    * `base` the workload's (query_id, __j, __card) rows ([[boths]], or
    * the persisted [[bothsAll]] for the specs). Builds plans only:
    * nothing here is memoized, persisted or executed.
    */
  private[graft] def armEst(spark: SparkSession, dir: String, model: String,
      queries: Seq[(String, ParsedQuery)], base: DataFrame): DataFrame = {
    val preds = queries.flatMap(_._2.predicates)
    lazy val counts = tableCounts(spark, dir, queries)
    def sels(tps: Seq[(String, Seq[Predicate])]): DataFrame =
      ratios(counts, tps.map { case (t, ps) => (tableKey(t, ps), tableKey(t, Nil)) })
    def predSels(ps: Seq[Predicate]): DataFrame =
      sels(ps.map(p => (CardBenchmark.tableOf(p.col), Seq(bare(p)))))
    def predPlan = queries.map { case (id, q) => id -> q.predicates.map(predKey) }
    model match {
      case "naive" =>
        product(base, predPlan, predSels(preds))(foldFrom(col("__j")))
      case "ebo" =>
        for ((id, q) <- queries if q.predicates.size > 3)
          throw new IllegalArgumentException(
            s"ebo supports ≤3 predicates: query $id has ${q.predicates.size}")
        product(base, predPlan, predSels(preds))(fs => col("__j") * eboDamped(fs))
      case "hist" | "mcv" =>
        val (likes, modeled) = preds.partition(p => Set("LIKE", "NOT LIKE")(p.op.toUpperCase))
        val factors = statsFactors(eqViaMcv = model == "mcv")(spark, dir, modeled)
          .unionAll(predSels(likes))
        product(base, predPlan, factors)(foldFrom(col("__j")))
      case "joint" =>
        product(base,
          queries.map { case (id, q) => id -> tableConj(q).map { case (t, ps) => selKey(t, ps) } },
          sels(queries.flatMap(q => tableConj(q._2))))(foldFrom(col("__j")))
      case "pess" =>
        val plan = queries.map { case (id, q) =>
          val (root, children) = joinTree(q)
          id -> (tableKey(root, tableConj(q).toMap.getOrElse(root, Seq.empty)) +:
            children.map(degreeKey))
        }
        val degrees = degreeFactors(spark, dir, queries.flatMap(q => joinTree(q._2)._2))
        product(base, plan, counts.unionAll(degrees))(foldFirst)
      case "cin" =>
        cinEst(spark, dir, queries, base)
    }
  }

  /** One registered arm over the benchmark specs, memoized per (session,
    * sf dir): joint and pess are served from here, and ols's features
    * read the naive arm. The other model_ests models are served from
    * their checkpoint ([[estFrame]]).
    */
  private def rawEstFrame(spark: SparkSession, dir: String, model: String): DataFrame =
    if (model == "ols") olsEstFrame(spark, dir)
    else Memo(spark, dir, s"est:$model")(
      armEst(spark, dir, model, CardBenchmark.parsed, bothsAll(spark, dir)))

  /** (query_id, est, __card) for every spec under one model: SERVED
    * from the warehouse-persisted six-model frame ([[modelEstFrame]])
    * — one parquet footer read per session covers all six estimator
    * arms, so a warm session never re-runs an arm's stats scans. */
  private def estFrame(spark: SparkSession, dir: String, model: String): DataFrame =
    Memo(spark, dir, s"served:$model") {
      modelEstFrame(spark, dir)
        .filter(col("model") === model)
        .select(col("query_id"), col("est"), col("__card"))
    }

  /** A served model's registered entry: (query_id, est) by query_id. */
  private def servedEst(spark: SparkSession, dir: String, model: String): DataFrame =
    estFrame(spark, dir, model).select(col("query_id"), col("est")).orderBy(col("query_id"))

  val trueCardSql: String =
    CardBenchmark.specs
      .map { case (id, sql) =>
        s"SELECT '$id' AS query_id, CAST(($sql) AS BIGINT) AS card"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Join-only SQL (predicates stripped) for a parsed spec. */
  private def joinOnlySql(q: ParsedQuery): String = {
    val from = q.tables.mkString(", ")
    if (q.joins.isEmpty) s"SELECT COUNT(*) FROM $from"
    else {
      val conds = q.joins.map { case (a, b) => s"$a = $b" }.mkString(" AND ")
      s"SELECT COUNT(*) FROM $from WHERE $conds"
    }
  }

  /** Every distinct (table, rendered predicate) in the workload → a
    * stable index into the oracle's `est_pf` CTE. Keyed by the rendered
    * SQL so the naive/ebo/stats-LIKE factors of DIFFERENT queries that
    * test the same predicate share one count.
    */
  private lazy val predIdx: Map[(String, String), Int] =
    CardBenchmark.parsed
      .flatMap(_._2.predicates)
      .map(p => (CardBenchmark.tableOf(p.col),
        PredicateSql.render(p.copy(col = p.col.split('.').last))))
      .distinct.zipWithIndex.toMap

  /** Oracle refs into the shared prelude ([[estCtesPrelude]]): per-spec
    * join-only count / true card, per-table row count, per-predicate
    * match count. Each is an exact integer cast to DOUBLE — the same
    * value the previous inline subqueries produced, so every downstream
    * IEEE expression is bit-identical; only the evaluation COUNT drops
    * (round 10: the six-model oracles re-ran the same scans hundreds of
    * times — q_error_models alone cost 33 s at sf0.01).
    */
  private def joRef(id: String): String =
    s"(SELECT j FROM est_jo WHERE query_id = '$id')"
  private def tcRef(id: String): String =
    s"(SELECT t FROM est_tc WHERE query_id = '$id')"
  private def nRef(t: String): String = s"(SELECT n FROM est_n_$t)"
  private def pfRef(t: String, rendered: String): String =
    s"(SELECT m FROM est_pf WHERE i = ${predIdx((t, rendered))})"

  /** The shared materialized-CTE prelude every estimator-family oracle
    * prepends (`WITH $estCtesPrelude ...`): per-table counts, the
    * per-predicate match counts, per-spec join-only counts and true
    * cards, and the stats-model nn/ndv/min-max/histogram/MCV tables.
    * MATERIALIZED is load-bearing — DuckDB inlines plain CTEs per
    * reference, and round 10's six-model oracles re-derived these scans
    * hundreds of times (q_error_models 33 s, calib_est_bias 27 s,
    * hist_est 13 s at sf0.01; all sub-second with the prelude).
    */
  private lazy val estCtesPrelude: String = {
    val tables = CardBenchmark.parsed
      .flatMap(_._2.predicates).map(p => CardBenchmark.tableOf(p.col))
      .distinct.sorted
    val nCtes = tables.map(t =>
      s"est_n_$t AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM $t)")
    val pfArms = predIdx.toSeq.sortBy(_._2).map { case ((t, r), i) =>
      s"SELECT $i AS i, CAST((SELECT COUNT(*) FROM $t WHERE $r) AS DOUBLE) AS m"
    }
    val pfCte = s"est_pf AS MATERIALIZED (\n${pfArms.mkString("\nUNION ALL\n")})"
    val joArms = CardBenchmark.parsed.map { case (id, q) =>
      s"SELECT '$id' AS query_id, CAST((${joinOnlySql(q)}) AS DOUBLE) AS j"
    }
    val joCte = s"est_jo AS MATERIALIZED (\n${joArms.mkString("\nUNION ALL\n")})"
    val tcArms = CardBenchmark.specs.map { case (id, sql) =>
      s"SELECT '$id' AS query_id, CAST(($sql) AS DOUBLE) AS t"
    }
    val tcCte = s"est_tc AS MATERIALIZED (\n${tcArms.mkString("\nUNION ALL\n")})"
    (nCtes ++ Seq(pfCte, joCte, tcCte) ++ StatsSql.statCtes).mkString(",\n")
  }

  /** Independence-assumption estimator: |J⋈-only| × Π per-table pred
    * selectivities (the classic baseline the reference's learned models
    * are measured against; selectivities from exact per-table counts).
    * Same product, same left-to-right order as the oracle SQL.
    */
  def naiveEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "naive")

  /** Exact-count selectivity factors (the naive model's SQL side) —
    * references into the shared prelude; same exact-integer doubles,
    * same division pairing as the previous inline subqueries.
    */
  private def naiveFactorsSql(q: ParsedQuery): Seq[String] =
    q.predicates.map { p =>
      val t = CardBenchmark.tableOf(p.col)
      val r = PredicateSql.render(p.copy(col = p.col.split('.').last))
      s"(${pfRef(t, r)} / ${nRef(t)})"
    }

  val naiveEstSql: String =
    CardBenchmark.parsed
      .map { case (id, q) =>
        s"SELECT '$id' AS query_id, ${naiveEstExprSql(id, q)} AS est"
      }
      .mkString(s"WITH $estCtesPrelude\n", "\nUNION ALL\n", "\nORDER BY query_id")

  /** Exponential-backoff estimator (the SQL Server 2014+ correction to
    * the independence assumption): selectivities sorted most-selective
    * first, the k-th factor dampened to s^(1/2^k) — s·√s₂·⁴√s₃. For ≤3
    * predicates the runtime sort is a closed least/greatest/sum-residual
    * form over the query's ordered selectivities, the SAME fixed-order
    * expression in Spark and the oracle (sqrt is IEEE-correctly-rounded
    * in both), so the estimate is bit-exact without sorting; a query
    * with more predicates is rejected by name.
    */
  private def eboDamped(fs: Column): Column = {
    val Seq(s1, s2, s3) = (1 to 3).map(i => try_element_at(fs, lit(i)))
    val mn = least(s1, s2, s3)
    val mx = greatest(s1, s2, s3)
    val md = s1 + s2 + s3 - mn - mx
    when(size(fs) === 1, s1)
      .when(size(fs) === 2, least(s1, s2) * sqrt(greatest(s1, s2)))
      .when(size(fs) === 3, mn * sqrt(md) * sqrt(sqrt(mx)))
      .otherwise(lit(1.0))
  }

  def eboEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "ebo")

  /** [[eboDamped]]'s closed form over the selectivity expressions `ss`. */
  private def eboDampedSql(ss: Seq[String]): String = ss match {
    case Seq(a) => a
    case Seq(a, b) => s"least($a, $b) * sqrt(greatest($a, $b))"
    case Seq(a, b, c) =>
      s"least($a, $b, $c) * sqrt($a + $b + $c - least($a, $b, $c) - greatest($a, $b, $c)) * sqrt(sqrt(greatest($a, $b, $c)))"
    case other => throw new IllegalArgumentException(s"${other.size} preds")
  }

  val eboEstSql: String =
    CardBenchmark.parsed
      .map { case (id, q) =>
        val sels = naiveFactorsSql(q).zipWithIndex.map { case (s, i) => s"$s AS s${i + 1}" }
        val damped = eboDampedSql(sels.indices.map(i => s"s${i + 1}"))
        s"SELECT '$id' AS query_id, __j * ($damped) AS est FROM " +
          s"(SELECT ${joRef(id)} AS __j, ${sels.mkString(", ")})"
      }
      .mkString(s"WITH $estCtesPrelude\n", "\nUNION ALL\n", "\nORDER BY query_id")

  /** q-error of the naive estimator vs truth (calc_q_err semantics,
    * reference: scardina/run.py:60-67).
    *
    * Single-pass formulation: instead of running the predicate-free join
    * (for the estimate's base) AND the filtered join (for the true card)
    * separately, each join shape is traversed ONCE and both counts come
    * out of the same aggregation ([[shapeCounts]]) — count(*) and the
    * conditional count of rows satisfying the conjunction (row-local
    * predicates commute with inner joins, so this equals the
    * filtered-join count the oracle computes).
    */
  def qErrorQ(spark: SparkSession, dir: String): DataFrame =
    estFrame(spark, dir, "naive")
      .select(
        col("query_id"),
        Metrics.qError(col("est"), col("__card")).as("q_err"))
      .orderBy(col("query_id"))

  val qErrorSql: String =
    s"""WITH est AS (
       |$naiveEstSql
       |), tru AS (
       |$trueCardSql
       |)
       |SELECT est.query_id,
       |  ${Metrics.qErrorSql("est.est", "CAST(tru.card AS DOUBLE)")} AS q_err
       |FROM est JOIN tru ON est.query_id = tru.query_id
       |ORDER BY est.query_id""".stripMargin

  // ---- row 11d: per-table joint (conjunction-exact) estimator ----

  /** A query's predicates grouped by table (bare column names), tables
    * sorted for a deterministic factor order shared with the oracle.
    * The joint model's factor for each group is the table's rows
    * satisfying the CONJUNCTION over its row count — the per-table-exact
    * selectivity model (cross-table independence only). It captures the
    * intra-table correlation that the naive/hist/mcv per-predicate
    * models miss, which is exactly the gap the reference's learned
    * densities close.
    */
  private def tableConj(q: ParsedQuery): Seq[(String, Seq[Predicate])] =
    q.predicates
      .map(p => (CardBenchmark.tableOf(p.col), bare(p)))
      .groupBy(_._1)
      .map { case (t, ps) => (t, ps.map(_._2)) }
      .toSeq.sortBy(_._1)

  def jointEstQ(spark: SparkSession, dir: String): DataFrame =
    rawEstFrame(spark, dir, "joint")
      .select(col("query_id"), col("est"))
      .orderBy(col("query_id"))

  val jointEstSql: String =
    CardBenchmark.parsed
      .map { case (id, q) =>
        val j = s"CAST((${joinOnlySql(q)}) AS DOUBLE)"
        val factors = tableConj(q).map { case (t, ps) =>
          val conj = ps.map(PredicateSql.render).mkString(" AND ")
          s"(CAST((SELECT COUNT(*) FROM $t WHERE $conj) AS DOUBLE)" +
            s" / CAST((SELECT COUNT(*) FROM $t) AS DOUBLE))"
        }
        s"SELECT '$id' AS query_id, ${(j +: factors).mkString(" * ")} AS est"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- row 11f: pessimistic (degree-bound) estimator ----

  /** A query's join tree oriented away from its FROM-list root: the root
    * and the join-key column on the child side of every edge, in edge
    * order.
    */
  private def joinTree(q: ParsedQuery): (String, Seq[(String, String)]) = {
    val root = q.tables.head
    var covered = Set(root)
    var remaining = q.joins
    val children = scala.collection.mutable.ListBuffer[(String, String)]()
    while (remaining.nonEmpty) {
      val (ready, later) = remaining.partition { case (a, b) =>
        covered(a.split('.').head) || covered(b.split('.').head)
      }
      require(ready.nonEmpty, s"disconnected join graph in ${q.tables}")
      ready.foreach { case (a, b) =>
        val (ta, ca) = (a.split('.').head, a.split('.').last)
        val (tb, cb) = (b.split('.').head, b.split('.').last)
        val (ct, cc) = if (covered(ta)) (tb, cb) else (ta, ca)
        children += ((ct, cc))
        covered ++= Set(ta, tb)
      }
      remaining = later
    }
    (root, children.toSeq)
  }

  private def degreeKey(tc: (String, String)): String = s"${tc._1}.${tc._2}"

  /** (table, join-key column) → the key's maximum degree: every column's
    * values in one keyed union, then one two-level aggregation. */
  private def degreeFactors(spark: SparkSession, dir: String,
      cols: Seq[(String, String)]): DataFrame =
    cols.distinct.sorted
      .map { case tc @ (t, c) =>
        Tables(spark, dir, t).select(lit(degreeKey(tc)).as("key"), col(c).cast("string").as("v"))
      }
      .reduceOption(_.unionAll(_))
      .map(_.groupBy(col("key"), col("v")).agg(count(lit(1)).as("__c"))
        .groupBy(col("key")).agg(max(col("__c")).cast("double").as("f")))
      .getOrElse(noFactors(spark))

  /** Pessimistic cardinality estimator: upper-bounds each spec by
    * (root rows passing the root table's own predicates) × Π over tree
    * edges of the child join key's maximum degree — the classic
    * degree-based join bound (the guarantee-style counterpoint to the
    * reference's learned point estimates; cf. bound-based estimation in
    * the pessimistic-cardinality literature). `bound_holds` asserts
    * est ≥ true on every spec — the oracle re-derives both sides.
    */
  def pessEstQ(spark: SparkSession, dir: String): DataFrame =
    rawEstFrame(spark, dir, "pess")
      .select(
        col("query_id"), col("est"), col("__card").as("card"),
        (col("est") >= col("__card")).as("bound_holds"))
      .orderBy(col("query_id"))

  val pessEstSql: String =
    CardBenchmark.parsed
      .map { case (id, q) =>
        val (root, children) = joinTree(q)
        val rootConj = tableConj(q).toMap.get(root)
          .map(ps => ps.map(PredicateSql.render).mkString(" AND "))
        val rootCnt = rootConj match {
          case Some(w) => s"CAST((SELECT COUNT(*) FROM $root WHERE $w) AS DOUBLE)"
          case None    => s"CAST((SELECT COUNT(*) FROM $root) AS DOUBLE)"
        }
        val factors = children.map { case (t, c) =>
          s"CAST((SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM $t GROUP BY $c)) AS DOUBLE)"
        }
        val est = (rootCnt +: factors).mkString(" * ")
        val card = s"CAST((${CardBenchmark.specs.toMap.apply(id)}) AS DOUBLE)"
        s"SELECT '$id' AS query_id, $est AS est, $card AS card, $est >= $card AS bound_holds"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- row 11e: CIN-combine estimator (the reference's estimation architecture) ----

  /** One multiplicative factor of a CIN estimate: the inner join of
    * `tables` along `edges`, filtered by `preds` (a conditional count over
    * one join-shape traversal); non-root factors are divided by the row
    * count of the subschema-boundary table `denom` — the deterministic
    * analogue of the reference's join fanout scaling
    * (estimators.py:1418-1426 `cards *= fo`).
    */
  private final case class CinFactor(
      tables: Seq[String], edges: Seq[FkEdge],
      preds: Seq[Predicate], denom: Option[String])

  /** Decompose a query into CIN factors, mirroring
    * ProgressiveSamplingCIN._estimate_over_models
    * (estimators.py:1040-1426): query join edges are grouped by their
    * home subschema (each FK edge belongs to the subschema centered on
    * its FK table — schema.py's closed in-neighborhood partitioning);
    * the root group is the one whose subschema covers the most query
    * tables (hyperedge-size rule, estimators.py:1284-1287; name
    * tie-break for determinism); remaining groups attach BFS-style via
    * their single shared boundary table, and each table's predicates are
    * consumed by the first group covering it
    * (_extract_matched_predicates_by_tables / rest_of_preds).
    *
    * The estimate Π count(J_g ⋉ preds_g) / count(boundary_g) is
    * conjunction-EXACT within each subschema and independent across
    * them — precisely the bias/variance profile of the reference's
    * per-subschema density models combined with fanout scaling.
    */
  private def cinDecompose(q: ParsedQuery): Seq[CinFactor] = {
    val stripped = q.predicates.map(p => p.copy(col = p.col.split('.').last))
    def split(qc: String): (String, String) = {
      val Array(t, c) = qc.split('.'); (t, c)
    }
    var predsLeft = stripped
    def takePreds(ts: Seq[String]): Seq[Predicate] = {
      val (mine, rest) =
        predsLeft.partition(p => ts.contains(CardBenchmark.tableOf(p.col)))
      predsLeft = rest
      mine
    }
    if (q.joins.isEmpty)
      return Seq(CinFactor(q.tables.sorted, Seq.empty, takePreds(q.tables), None))

    val qEdges = q.joins.map { case (a, b) =>
      val ((at, ac), (bt, bc)) = (split(a), split(b))
      SchemaGraph.tpch.edges
        .find(e =>
          (e.pkTable == at && e.pkCol == ac && e.fkTable == bt && e.fkCol == bc) ||
            (e.pkTable == bt && e.pkCol == bc && e.fkTable == at && e.fkCol == ac))
        .getOrElse(throw new IllegalArgumentException(s"join $a=$b is not a schema edge"))
    }
    def tablesOf(es: Seq[FkEdge]): Seq[String] =
      es.flatMap(e => Seq(e.pkTable, e.fkTable)).distinct.sorted
    val queryTables = q.tables.toSet
    val coverage: Map[String, Int] = SchemaGraph.tpch.cinSubschemas
      .map(s => s.center -> s.tables.count(queryTables)).toMap
    val groups = qEdges.groupBy(_.fkTable).toSeq
      .sortBy { case (center, _) => (-coverage(center), center) }

    val out = scala.collection.mutable.ListBuffer[CinFactor]()
    val rootTs = tablesOf(groups.head._2)
    out += CinFactor(rootTs, groups.head._2, takePreds(rootTs), None)
    var covered = rootTs.toSet
    val remaining = scala.collection.mutable.ListBuffer(groups.tail: _*)
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere { case (_, es) => tablesOf(es).exists(covered) }
      require(idx >= 0, s"disconnected CIN groups in ${q.tables}")
      val (_, es) = remaining.remove(idx)
      val ts = tablesOf(es)
      val commons = ts.filter(covered)
      require(commons.size == 1, s"non-tree CIN boundary: $commons")
      out += CinFactor(ts, es, takePreds(ts), Some(commons.head))
      covered ++= ts
    }
    out.toSeq
  }

  /** The join shape a CIN factor counts over. */
  private def cinShape(f: CinFactor): ParsedQuery =
    shapeOf(f.tables, f.edges.map(e => (s"${e.pkTable}.${e.pkCol}", s"${e.fkTable}.${e.fkCol}")))

  /** CIN over a workload: every factor's conditional count comes from
    * [[joinCounts]] (one traversal per distinct join SHAPE, boundary
    * tables riding along as plain counts), and a non-root factor is its
    * count over its boundary table's count. est = root count × Π
    * (boundary count / boundary-table count).
    */
  private def cinEst(spark: SparkSession, dir: String,
      queries: Seq[(String, ParsedQuery)], base: DataFrame): DataFrame = {
    def boundaryKey(d: String): String = tableKey(d, Nil)
    val plan = queries.map { case (id, q) => id -> cinDecompose(q) }
    val counts = joinCounts(spark, dir, queries)
    def key(f: CinFactor): String = {
      val num = countKey(cinShape(f), f.preds)
      f.denom.fold(num)(d => ratioKey(num, boundaryKey(d)))
    }
    val boundary = ratios(counts, plan.flatMap(_._2).flatMap(f =>
      f.denom.map(d => (countKey(cinShape(f), f.preds), boundaryKey(d)))))
    product(base, plan.map { case (id, fs) => id -> fs.map(key) }, counts.unionAll(boundary))(
      foldFirst)
  }

  private def cinFactorSql(f: CinFactor): String = {
    val conds = f.edges.map(e => s"${e.pkTable}.${e.pkCol} = ${e.fkTable}.${e.fkCol}") ++
      f.preds.map(PredicateSql.render)
    val where = if (conds.isEmpty) "" else " WHERE " + conds.mkString(" AND ")
    s"CAST((SELECT COUNT(*) FROM ${f.tables.mkString(", ")}$where) AS DOUBLE)"
  }

  /** Full est expression for one spec — same factor order and same
    * (num / den) association as [[cinEst]], so doubles match
    * bit-for-bit.
    */
  private def cinEstExprSql(q: ParsedQuery): String = {
    val fs = cinDecompose(q)
    fs.tail.foldLeft(cinFactorSql(fs.head)) { (acc, f) =>
      s"$acc * (${cinFactorSql(f)} /" +
        s" CAST((SELECT COUNT(*) FROM ${f.denom.get}) AS DOUBLE))"
    }
  }

  def cinEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "cin")

  val cinEstSql: String =
    CardBenchmark.parsed
      .map { case (id, q) =>
        s"SELECT '$id' AS query_id, ${cinEstExprSql(q)} AS est"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")

  // ---- row 11b: histogram/ndv-driven estimator (stats, not exact counts) ----

  /** Predicate selectivity model used by hist_est:
    * equality → 1/ndv, != → 1−1/ndv, IN(k) → k/ndv, range ops → 10-bucket
    * equi-width histogram with linear interpolation in boundary buckets,
    * LIKE/NOT LIKE → exact-match fallback (no stats model for patterns).
    * All arithmetic is a fixed-order scalar expression over one stats row,
    * so Spark and the oracle agree bit-for-bit.
    */
  private object HistModel {
    val bins = 10
    val negInf: Double = -1e308
    val posInf: Double = 1e308

    /** Numeric accessor for a column in histogram space (timestamps →
      * epoch micros; both engines produce identical integers).
      */
    def sparkNum(c: String): org.apache.spark.sql.Column =
      // NTZ → LTZ cast is identity under the UTC session TZ, matching
      // DuckDB's epoch_us on the naive timestamp.
      if (c == "l_shipdate") expr(s"CAST(unix_micros(CAST($c AS TIMESTAMP)) AS DOUBLE)")
      else col(c).cast("double")
    def sqlNum(c: String): String =
      if (c == "l_shipdate") s"CAST(epoch_us($c) AS DOUBLE)"
      else s"CAST($c AS DOUBLE)"

    /** (lo, hi) interval in histogram space for a range predicate. */
    def interval(p: Predicate): (Double, Double) = {
      def num(v: Any): Double = v match {
        case s: String => // timestamp literal (only l_shipdate in specs)
          java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.toEpochMilli * 1000.0
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(s"$other")
      }
      p.op.toUpperCase match {
        case "<" | "<=" => (negInf, num(p.value))
        case ">" | ">=" => (num(p.value), posInf)
        case "BETWEEN" =>
          val Seq(lo, hi) = p.value.asInstanceOf[Seq[Any]]
          (num(lo), num(hi))
        case other => throw new IllegalArgumentException(other)
      }
    }

    def isRange(p: Predicate): Boolean =
      Set("<", "<=", ">", ">=", "BETWEEN")(p.op.toUpperCase)
  }

  /** MCV (most-common-values) equality model shared by mcv_est's Spark
    * plan and oracle SQL: top-k values by (count DESC, value ASC) with
    * exact frequencies; non-MCV equality mass spread uniformly over the
    * remaining ndv−k values (the Postgres stats model). k is small so
    * the workload exercises both the MCV hit and the uniform tail.
    */
  private object McvModel {
    val k = 3
    def isEq(p: Predicate): Boolean = Set("=", "!=", "<>", "IN")(p.op.toUpperCase)
    /** Literals needing a per-value MCV frequency, in SQL order. */
    def eqLiterals(p: Predicate): Seq[Any] = p.op.toUpperCase match {
      case "IN" => p.value.asInstanceOf[Seq[Any]]
      case _    => Seq(p.value)
    }
  }

  /** Stats-model estimator scaffolding shared by hist_est and mcv_est:
    * |J⋈-only| × Π model-based selectivities. Range predicates use the
    * 10-bucket equi-width histogram in both; the equality family is
    * 1/ndv (hist_est, System-R) or MCV frequencies + uniform tail
    * (mcv_est, Postgres). Two scans per table (min/max pass, then
    * conditional bucket counts + ndv/nn), plus — for mcv — one tiny
    * TakeOrdered top-k per equality column. Each table's stats land in
    * one row, unpivoted to one row per (table, column); each distinct
    * predicate is a (key, column, op, literals) row joined to its
    * column's stats, and its selectivity is ONE expression over that row
    * ([[modelSel]]), so the plan does not grow with the workload. Keyed
    * like [[predKey]]; LIKE predicates have no stats model and read
    * their exact count ratio from [[tableCounts]].
    */
  private def statsFactors(eqViaMcv: Boolean)(
      spark: SparkSession, dir: String, preds: Seq[Predicate]): DataFrame = {
    import HistModel._
    import spark.implicits._
    val modeled = preds.map(bare).distinctBy(predKey)
    if (modeled.isEmpty) return noFactors(spark)
    val colStats = modeled
      .groupBy(p => CardBenchmark.tableOf(p.col)).toSeq.sortBy(_._1)
      .map { case (t, ps) =>
        val df = Tables(spark, dir, t)
        val myHist = ps.filter(isRange).map(_.col).distinct
        val myEq = ps.filter(McvModel.isEq).map(_.col).distinct
        // pass 1: row count + min/max per histogram column, one scan
        val firstAggs = count(lit(1)).as(s"__N_$t") +: myHist.flatMap { c =>
          Seq(min(sparkNum(c)).as(s"__mn_$c"), max(sparkNum(c)).as(s"__mx_$c"))
        }
        val withMm = df.agg(firstAggs.head, firstAggs.tail: _*)
        // pass 2: bucket counts + ndv and non-null counts (the MCV
        // tail's), pass 1's constants carried through; hist and mcv plan
        // the same two passes, so one action computing both scans once
        val aggs2 =
          myHist.flatMap { c =>
            (0 until bins).map { b =>
              sum(when(
                least(
                  floor((sparkNum(c) - col(s"__mn_$c")) * lit(bins.toDouble) /
                    (col(s"__mx_$c") - col(s"__mn_$c"))),
                  lit((bins - 1).toLong)) === b, 1L).otherwise(0L))
                .as(s"__h_${c}_$b")
            }
          } ++
            myEq.flatMap { c =>
              Seq(count_distinct(col(c)).cast("double").as(s"__ndv_$c"),
                count(col(c)).cast("double").as(s"__nn_$c"))
            }
        val stats =
          if (aggs2.isEmpty) withMm
          else df.crossJoin(broadcast(withMm))
            .agg(aggs2.head, aggs2.tail ++ withMm.columns.map(c => first(col(c)).as(c)): _*)
        val perCol = (myHist ++ myEq).distinct.map { c =>
          val (h, e) = (myHist.contains(c), myEq.contains(c))
          def stat(name: String, tpe: String, has: Boolean): Column =
            (if (has) col(name) else lit(null).cast(tpe))
          struct(lit(t).as("t"), lit(c).as("col"), col(s"__N_$t").cast("double").as("n"),
            stat(s"__mn_$c", "double", h).as("mn"), stat(s"__mx_$c", "double", h).as("mx"),
            (if (h) array((0 until bins).map(b => col(s"__h_${c}_$b")): _*)
             else lit(null).cast("array<bigint>")).as("h"),
            stat(s"__ndv_$c", "double", e).as("ndv"), stat(s"__nn_$c", "double", e).as("nn"))
        }
        stats.select(explode(array(perCol: _*)).as("__s")).select(col("__s.*"))
      }
      .reduce(_.unionAll(_))
    // MCV frames: per equality column, a 1-row agg over the tiny
    // TakeOrdered top-k — Σf plus a map from each workload literal to its
    // frequency (null when the literal is not among the MCVs).
    val withMcv =
      if (!eqViaMcv) colStats
      else colStats.join(
        modeled.filter(McvModel.isEq).groupBy(p => (CardBenchmark.tableOf(p.col), p.col))
          .toSeq.sortBy(_._1)
          .map { case ((t, c), ps) =>
            val freqs = ps.flatMap(McvModel.eqLiterals).distinctBy(PredicateSql.renderValue)
              .flatMap(v => Seq(lit(PredicateSql.renderValue(v)),
                max(when(col("v") === lit(v), col("f"))).cast("double")))
            Tables(spark, dir, t)
              .select(col(c).as("v")).filter(col("v").isNotNull)
              .groupBy("v").agg(count(lit(1)).as("f"))
              .orderBy(col("f").desc, col("v").asc).limit(McvModel.k)
              .agg(sum(col("f")).cast("double").as("sumF"), map(freqs: _*).as("mcv"))
              .select(lit(t).as("t"), lit(c).as("col"), col("sumF"), col("mcv"))
          }
          .reduce(_.unionAll(_)),
        Seq("t", "col"), "left")
    val predRows = modeled.map { p =>
      val (lo, hi) =
        if (isRange(p)) interval(p)
        else if (McvModel.isEq(p)) (0.0, 0.0)
        else throw new IllegalArgumentException(s"no stats model for ${p.op}: $p")
      val lits = if (McvModel.isEq(p)) McvModel.eqLiterals(p).map(PredicateSql.renderValue) else Nil
      (predKey(p), CardBenchmark.tableOf(p.col), p.col, p.op.toUpperCase, lo, hi, lits)
    }.toDF("key", "t", "col", "op", "lo", "hi", "lits")
    predRows.join(withMcv, Seq("t", "col"))
      .select(col("key"), modelSel(eqViaMcv).as("f"))
  }

  /** Selectivity of one predicate row (op, lo, hi, lits) joined to its
    * column's stats (n, mn, mx, h, ndv, nn, sumF, mcv): the same
    * fixed-order expressions as the oracle's [[StatsSql.selSql]].
    */
  private def modelSel(eqViaMcv: Boolean): Column = {
    import HistModel._
    val (n, ndv, op) = (col("n"), col("ndv"), col("op"))
    val k = lit(McvModel.k.toDouble)
    // MCV equality: exact MCV frequency, else uniform share of the
    // non-MCV mass — 0 when every distinct value is an MCV.
    def mcvSel(v: Column): Column =
      coalesce(
        try_element_at(col("mcv"), v),
        when(ndv > k, (col("nn") - col("sumF")) / (ndv - k)).otherwise(lit(0.0))) / n
    val first = element_at(col("lits"), 1)
    val w = (col("mx") - col("mn")) / lit(bins.toDouble)
    val range = (0 until bins).map { b =>
      val lb = col("mn") + lit(b.toDouble) * w
      val ub = col("mn") + lit((b + 1).toDouble) * w
      val frac = greatest(lit(0.0),
        least(lit(1.0), (least(ub, col("hi")) - greatest(lb, col("lo"))) / w))
      element_at(col("h"), b + 1).cast("double") * frac
    }.reduce(_ + _) / n
    val eq =
      if (eqViaMcv)
        when(op === "=", mcvSel(first))
          .when(op.isin("!=", "<>"), lit(1.0) - mcvSel(first))
          .when(op === "IN", foldFirstWith(_ + _)(transform(col("lits"), mcvSel _)))
      else
        when(op === "=", lit(1.0) / ndv)
          .when(op.isin("!=", "<>"), lit(1.0) - lit(1.0) / ndv)
          .when(op === "IN", size(col("lits")).cast("double") / ndv)
    eq.otherwise(range)
  }

  def histEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "hist")

  def mcvEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "mcv")

  /** Oracle-SQL generators for the stats models — shared by
    * hist_est/mcv_est and the per-model q-error query.
    */
  private object StatsSql {
    import HistModel._

    val eqCols: Seq[(String, String)] = CardBenchmark.parsed
      .flatMap(_._2.predicates)
      .collect {
        case p if McvModel.isEq(p) =>
          (CardBenchmark.tableOf(p.col), p.col.split('.').last)
      }
      .distinct

    /** mcv_<col> CTE list (the MCV model's WITH prefix). MATERIALIZED:
      * each mcv_<col> is referenced once per equality literal per spec
      * per model arm — inlined, DuckDB re-ran the scan+sort per
      * reference.
      */
    val mcvCtes: String = eqCols
      .map { case (t, c) =>
        s"mcv_$c AS MATERIALIZED (SELECT $c AS v, COUNT(*) AS f FROM $t WHERE $c IS NOT NULL" +
          s" GROUP BY $c ORDER BY f DESC, v ASC LIMIT ${McvModel.k})"
      }
      .mkString(",\n")

    /** All (table, bare col) pairs under an equality-family stats
      * predicate (need nn/ndv) and under a range predicate (need
      * mn/mx + the bin histogram) — drives the shared-prelude CTEs.
      */
    private lazy val predsFlat: Seq[(String, Predicate)] =
      CardBenchmark.parsed.flatMap(_._2.predicates).map(p0 =>
        (CardBenchmark.tableOf(p0.col), p0.copy(col = p0.col.split('.').last)))
    private val eqOps = Set("=", "!=", "<>", "IN")
    private val likeOps = Set("LIKE", "NOT LIKE")
    lazy val eqStatCols: Seq[(String, String)] = predsFlat
      .collect { case (t, p) if eqOps(p.op.toUpperCase) => (t, p.col) }.distinct
    lazy val rangeStatCols: Seq[(String, String)] = predsFlat
      .collect { case (t, p)
        if !eqOps(p.op.toUpperCase) && !likeOps(p.op.toUpperCase) => (t, p.col) }
      .distinct

    /** Stats CTE fragments for [[estCtesPrelude]]: one scan per needed
      * (table, col) stat instead of one per REFERENCE. Values are exact
      * integer counts / exact MIN-MAX cast to DOUBLE — identical to the
      * inline subqueries they replace.
      */
    lazy val statCtes: Seq[String] = {
      val st = eqStatCols.map { case (t, c) =>
        s"est_st_${t}_$c AS MATERIALIZED (SELECT CAST(COUNT($c) AS DOUBLE) AS nn," +
          s" CAST(COUNT(DISTINCT $c) AS DOUBLE) AS ndv FROM $t)"
      }
      val mm = rangeStatCols.map { case (t, c) =>
        s"est_mm_${t}_$c AS MATERIALIZED (SELECT MIN(${sqlNum(c)}) AS mn," +
          s" MAX(${sqlNum(c)}) AS mx FROM $t)"
      }
      val hb = rangeStatCols.map { case (t, c) =>
        // no NULL filter: FLOOR(NULL)=NULL and LEAST ignores NULLs in
        // BOTH engines, so NULL rows land in bin 9 here exactly as they
        // do in Spark's stats row (and as the previous inline SUM(CASE)
        // counted them) — filtering them out would diverge on any
        // future nullable range column
        s"est_hb_${t}_$c AS MATERIALIZED (SELECT" +
          s" LEAST(CAST(FLOOR((${sqlNum(c)} - s.mn) * $bins.0 / (s.mx - s.mn)) AS BIGINT), ${bins - 1}) AS b," +
          s" CAST(COUNT(*) AS DOUBLE) AS f, s.mn AS mn, ((s.mx - s.mn) / $bins.0) AS w" +
          s" FROM $t, est_mm_${t}_$c s" +
          s" GROUP BY 1, s.mn, s.mx)"
      }
      val mcvs = eqCols.map { case (_, c) =>
        s"est_mcvs_$c AS MATERIALIZED (SELECT CAST(SUM(f) AS DOUBLE) AS sumf FROM mcv_$c)"
      }
      st ++ mm ++ hb ++ Seq(mcvCtes) ++ mcvs
    }

    def nSql(t: String): String = nRef(t)
    def ndvSql(t: String, c: String): String =
      s"(SELECT ndv FROM est_st_${t}_$c)"
    def mcvSelSql(v: Any, c: String, t: String): String = {
      val f = s"CAST((SELECT MAX(CASE WHEN v = ${PredicateSql.renderValue(v)} THEN f END) FROM mcv_$c) AS DOUBLE)"
      val nn = s"(SELECT nn FROM est_st_${t}_$c)"
      val sumF = s"(SELECT sumf FROM est_mcvs_$c)"
      val ndv = ndvSql(t, c)
      s"(COALESCE($f, CASE WHEN $ndv > ${McvModel.k}.0" +
        s" THEN (($nn - $sumF) / ($ndv - ${McvModel.k}.0)) ELSE 0.0 END) / ${nSql(t)})"
    }

    def selSql(eqViaMcv: Boolean)(p: Predicate, t: String): String =
      p.op.toUpperCase match {
        case "=" =>
          if (eqViaMcv) mcvSelSql(p.value, p.col, t)
          else s"(1.0 / ${ndvSql(t, p.col)})"
        case "!=" | "<>" =>
          if (eqViaMcv) s"(1.0 - ${mcvSelSql(p.value, p.col, t)})"
          else s"(1.0 - 1.0 / ${ndvSql(t, p.col)})"
        case "IN" =>
          if (eqViaMcv) {
            val sels = McvModel.eqLiterals(p).map(v => mcvSelSql(v, p.col, t))
            s"(${sels.mkString(" + ")})"
          } else s"(${p.value.asInstanceOf[Seq[Any]].size}.0 / ${ndvSql(t, p.col)})"
        case "LIKE" | "NOT LIKE" =>
          s"(${pfRef(t, PredicateSql.render(p))} / ${nSql(t)})"
        case _ =>
          // ONE ordered-aggregate reference instead of 10 per-bin CTE
          // refs × 3 min/max refs: DuckDB's binder clones a CTE's
          // definition per REFERENCE, and the per-bin fanout made the
          // six-model oracles superlinear in planning (measured: 60
          // UNION arms → 7 s at sf0.01, all planning). ORDER BY b
          // reproduces Spark's fixed bin-0..9 summation order; bins
          // absent from the CTE contribute an exact 0.0 term, which
          // leaves every non-negative partial sum bit-identical.
          val (lo, hi) = interval(p)
          val c = p.col
          val lb = s"(mn + CAST(b AS DOUBLE) * w)"
          val ub = s"(mn + (CAST(b AS DOUBLE) + 1.0) * w)"
          val frac = s"GREATEST(0.0, LEAST(1.0, (LEAST($ub, $hi) - GREATEST($lb, $lo)) / w))"
          s"((SELECT SUM(f * $frac ORDER BY b) FROM est_hb_${t}_$c) / ${nSql(t)})"
      }

    /** Factor list (selectivities) for one query under a model. */
    def factors(eqViaMcv: Boolean)(q: ParsedQuery): Seq[String] =
      q.predicates.map { p =>
        selSql(eqViaMcv)(
          p.copy(col = p.col.split('.').last), CardBenchmark.tableOf(p.col))
      }
  }

  private def statsEstSql(eqViaMcv: Boolean): String = {
    val body = CardBenchmark.parsed
      .map { case (id, q) =>
        s"SELECT '$id' AS query_id, ${(joRef(id) +: StatsSql.factors(eqViaMcv)(q)).mkString(" * ")} AS est"
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY query_id")
    s"WITH $estCtesPrelude\n$body"
  }

  val histEstSql: String = statsEstSql(eqViaMcv = false)
  val mcvEstSql: String = statsEstSql(eqViaMcv = true)

  /** Quantile summary of the q-errors — the reference's reported metric
    * (run.py:967-973: quantiles [0.5 0.9 0.95 0.99 1.0], interpolation
    * "nearest", i.e. value at round-half-even(q·(n−1))).
    */
  def qErrorQuantilesQ(spark: SparkSession, dir: String): DataFrame =
    Metrics.quantilesNearest(qErrorQ(spark, dir), "q_err")

  val qErrorQuantilesSql: String = {
    val arms = Metrics.quantiles
      .map(q =>
        s"SELECT $q AS quantile, q_err AS value FROM ranked WHERE rn = CAST(roundbankers($q * (n - 1), 0) AS BIGINT) + 1")
      .mkString("\nUNION ALL\n")
    s"""WITH qe AS MATERIALIZED (
       |$qErrorSql
       |),
       |ranked AS MATERIALIZED (SELECT q_err, ROW_NUMBER() OVER (ORDER BY q_err) AS rn, COUNT(*) OVER () AS n FROM qe)
       |$arms
       |ORDER BY quantile""".stripMargin
  }

  // ---- row 13c: per-model q-error (the reference's eval_batch shape) ----

  /** Fingerprint tables of the six-model est frame: every table the
    * card-benchmark workload scans (stats inputs + true cards). */
  private[graft] val modelEstsFpTables =
    Seq("customer", "lineitem", "nation", "orders", "part", "region", "supplier")

  /** model_store accessor: the loaded six-model est frame (a bounded
    * warehouse artifact by contract). */
  private[graft] def modelEstsArtifact(spark: SparkSession, dir: String): DataFrame =
    modelEstFrame(spark, dir)

  /** All six models' (model, query_id, est, __card) rows — the
    * reference's per-estimator evaluation output (run.py eval_batch) —
    * as a session LITERAL checkpoint (bounded: 6 models × the spec list
    * ≈ 60 rows). The arms themselves are memoized, but their plans carry
    * the factor joins and the normal-equation algebra — per-ACTION
    * canonicalization of those trees cost ~0.15–0.35 s per arm on a
    * warm pass, dominating every query that unions the six arms
    * (q_error_models, q_error_model_quantiles, ensemble_est,
    * calib_est_bias). Collapsing the bounded result to a
    * LocalTableScan (the kcore/mmr_rerank literal-checkpoint
    * discipline) makes every later action on those queries plan-flat;
    * values are the identical doubles, so the oracle hashes are
    * unchanged.
    */
  private def modelEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "modelEstsLit") {
      // Warehouse-persisted like the trained joints it sits beside:
      // the frame is a deterministic, fingerprint-keyed product of the
      // workload tables (≈ 60 rows), but rebuilding it costs six
      // estimator arms' stats scans + normal-equation algebra per
      // session (~15 s of the driver's r12 warm pass). One parquet
      // footer read ever after; a regenerated dataset re-derives.
      Checkpoint(spark, dir, "model_ests")(
        Checkpoint.tableFingerprint(spark, dir, modelEstsFpTables: _*)) {
        import spark.implicits._
        // one action for the six arms: their count and stats frames are
        // planned alike, so each table or join shape is scanned once
        Seq("cin", "ebo", "hist", "mcv", "naive")
          .map(model => model -> armEst(spark, dir, model, CardBenchmark.parsed, bothsAll(spark, dir)))
          .:+("ols" -> olsEstFrame(spark, dir))
          .map { case (model, est) =>
            est.select(lit(model).as("model"), col("query_id"), col("est"), col("__card"))
          }
          .reduce(_.unionAll(_))
          .as[(String, String, Double, Double)].collect().toSeq
          .toDF("model", "query_id", "est", "__card")
      }
    }

  def qErrorModelsQ(spark: SparkSession, dir: String): DataFrame =
    modelEstFrame(spark, dir)
      .select(col("model"), col("query_id"),
        Metrics.qError(col("est"), col("__card")).as("q_err"))
      .orderBy(col("model"), col("query_id"))

  /** Each model maps (id, parsed query) → its full est expression; the
    * stats models are |J| × Π selectivities, cin is its own factor
    * product (no |J| base). Shared by q_error_models and calib_est_bias.
    */
  private lazy val modelSqlEst: Seq[(String, (String, ParsedQuery) => String)] = Seq(
      "cin" -> ((_: String, q: ParsedQuery) => cinEstExprSql(q)),
      "hist" -> ((id: String, q: ParsedQuery) =>
        (joRef(id) +: StatsSql.factors(eqViaMcv = false)(q)).mkString(" * ")),
      "mcv" -> ((id: String, q: ParsedQuery) =>
        (joRef(id) +: StatsSql.factors(eqViaMcv = true)(q)).mkString(" * ")),
      "naive" -> (naiveEstExprSql _),
      // Same closed sorted form as eboEstSql; the selectivity subqueries
      // are repeated inline (DuckDB CSEs them) — the VALUE is identical
      // to the bound-once form, which is all parity needs.
      "ebo" -> ((id: String, q: ParsedQuery) =>
        s"${joRef(id)} * (${eboDampedSql(naiveFactorsSql(q))})"),
      "ols" -> ((id: String, _: ParsedQuery) =>
        s"(SELECT $olsEstExprSql FROM olsfeat, olsm WHERE olsfeat.query_id = '$id')"))

  val qErrorModelsSql: String = {
    val arms = for {
      (model, estOf) <- modelSqlEst
      (id, q) <- CardBenchmark.parsed
    } yield {
      val est = estOf(id, q)
      // est is a large generated expression: bind it (and tru) once in a
      // derived table so the CASE references are cheap.
      s"SELECT model, query_id, ${Metrics.qErrorSql("e", "t")} AS q_err FROM" +
        s" (SELECT '$model' AS model, '$id' AS query_id, ($est) AS e, ${tcRef(id)} AS t) AS s"
    }
    s"WITH $estCtesPrelude,\n$olsCtes\n${arms.mkString("\nUNION ALL\n")}\nORDER BY model, query_id"
  }

  // ---- row 13e: per-model signed calibration bias ----

  /** Signed calibration bias per model: mean ln(est/true) over the
    * workload. q-error is magnitude-only; this is the direction — a
    * systematically negative bias (under-estimation) breaks join-order
    * choices differently than a positive one. Specs where the model
    * estimates 0 (possible for the MCV zero tail) are excluded and
    * surfaced in n_used. Each ln term is DECIMAL(38,6)-quantized before
    * the sum, the house portable-ln discipline; everything reuses the
    * memoized per-model est frames — no new scans.
    */
  def calibEstBiasQ(spark: SparkSession, dir: String): DataFrame =
    modelEstFrame(spark, dir)
      .filter(col("est") > 0 && col("__card") > 0)
      .select(col("model"),
        expr("CAST(ln(est / __card) AS DECIMAL(38,6))").as("lb"))
      .groupBy(col("model"))
      .agg(count(lit(1)).as("n_used"),
        (sum(col("lb")).cast("decimal(38,6)").cast("double") / count(lit(1)))
          .as("bias_nats"))
      .orderBy(col("model"))

  val calibEstBiasSql: String = {
    val arms = modelSqlEst.map { case (model, estOf) =>
      val rows = CardBenchmark.parsed.map { case (id, q) =>
        s"SELECT (${estOf(id, q)}) AS e, ${tcRef(id)} AS t"
      }.mkString("\nUNION ALL\n")
      s"""SELECT '$model' AS model, CAST(COUNT(*) AS BIGINT) AS n_used,
         |  CAST(CAST(SUM(CAST(ln(e / t) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE)
         |    / COUNT(*) AS bias_nats
         |FROM ($rows) WHERE e > 0 AND t > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $estCtesPrelude,\n$olsCtes\n$arms\nORDER BY model"
  }

  // ---- row 13d: per-model q-error quantiles (run.py:967-973 per estimator) ----

  def qErrorModelQuantilesQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Metrics
      .quantilesNearestBy(qErrorModelsQ(spark, dir), "model", "q_err")

  val qErrorModelQuantilesSql: String = {
    val arms = Metrics.quantiles
      .map(q =>
        s"SELECT model, $q AS quantile, q_err AS value FROM ranked" +
          s" WHERE rn = CAST(roundbankers($q * (n - 1), 0) AS BIGINT) + 1")
      .mkString("\nUNION ALL\n")
    // MATERIALIZED: each quantile arm references `ranked`; without it
    // DuckDB inlines (and recomputes) the whole per-model q-error body
    // once per arm.
    s"""WITH qe AS MATERIALIZED (
       |$qErrorModelsSql
       |),
       |ranked AS MATERIALIZED (SELECT model, q_err,
       |    ROW_NUMBER() OVER (PARTITION BY model ORDER BY q_err) AS rn,
       |    COUNT(*) OVER (PARTITION BY model) AS n
       |  FROM qe)
       |$arms
       |ORDER BY model, quantile""".stripMargin
  }

  // ---- row 11g: trained (OLS) cardinality model (models.py:276 NAR analogue) ----

  /** Training features per workload spec: x1 = the naive (independence)
    * estimate, x2 = the predicate-free join size, y = true cardinality.
    * The learned model is a least-squares correction OVER the closed-form
    * estimator — the reference's "train a model on the workload, predict
    * card" loop (scardina/models.py:276) re-expressed with features the
    * SQL oracle can reproduce exactly.
    */
  private[graft] def olsFeats(spark: SparkSession, dir: String): DataFrame =
    // raw: reachable from rawEstFrame("ols") inside the model_ests build
    Memo(spark, dir, "olsFeats")(
      rawEstFrame(spark, dir, "naive")
        .select(col("query_id"), col("est").as("x1"), col("__card").as("y"))
        .join(
          bothsAll(spark, dir).select(col("query_id"), col("__j").as("x2")),
          Seq("query_id")))

  /** Exact moments for the 3×3 normal equations, in 1/64-granularity
    * fixed point: term → floor(term·64) as BIGINT → exact associative
    * integer sum → ONE double division by 64. All three steps are
    * binary-exact and engine-portable (×64 is an exponent shift, floor
    * and BIGINT sums are exact) — unlike a DECIMAL(38,6) cast, whose
    * double→decimal rounding goes through the shortest string repr on
    * the JVM but the exact binary value in DuckDB and disagrees on
    * boundary terms. This is the "exact-integer OLS" discipline: the
    * model is DEFINED over the quantized moments, so both engines solve
    * the identical system.
    */
  private def olsMoments(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "olsMoments") {
      def d(e: Column): Column =
        sum(floor(e * lit(64.0)).cast("bigint")).cast("double") / lit(64.0)
      olsFeats(spark, dir).agg(
        count(lit(1)).cast("double").as("mn"),
        d(col("x1")).as("sx1"),
        d(col("x2")).as("sx2"),
        d(col("y")).as("sy"),
        d(col("x1") * col("x1")).as("s11"),
        d(col("x1") * col("x2")).as("s12"),
        d(col("x2") * col("x2")).as("s22"),
        d(col("x1") * col("y")).as("s1y"),
        d(col("x2") * col("y")).as("s2y"))
    }

  /** 3×3 determinant as a SQL string — the SAME string is `expr()`d on
    * the Spark side and embedded in the oracle, so both engines evaluate
    * one identical IEEE expression tree (normal-equation solves involve
    * only +,-,*,/ — exactly the portable subset).
    */
  private def det3(r: Seq[Seq[String]]): String = {
    val Seq(Seq(a, b, c), Seq(d, e, f), Seq(g, h, i)) = r
    s"(($a)*(($e)*($i)-($f)*($h)) - ($b)*(($d)*($i)-($f)*($g)) + ($c)*(($d)*($h)-($e)*($g)))"
  }

  /** β via Cramer's rule over [[olsMoments]]; prediction clamped to ≥ 1
    * row (a cardinality below one is never useful and keeps q-error
    * finite). References columns x1/x2 (features) and the moment names.
    */
  // lazy: qErrorModelsSql initializes earlier in this object and pulls it in
  private lazy val olsEstExprSql: String = {
    val detA = det3(Seq(Seq("mn", "sx1", "sx2"), Seq("sx1", "s11", "s12"), Seq("sx2", "s12", "s22")))
    val det0 = det3(Seq(Seq("sy", "sx1", "sx2"), Seq("s1y", "s11", "s12"), Seq("s2y", "s12", "s22")))
    val det1 = det3(Seq(Seq("mn", "sy", "sx2"), Seq("sx1", "s1y", "s12"), Seq("sx2", "s2y", "s22")))
    val det2 = det3(Seq(Seq("mn", "sx1", "sy"), Seq("sx1", "s11", "s1y"), Seq("sx2", "s12", "s2y")))
    s"GREATEST((($det0)/($detA)) + (($det1)/($detA))*x1 + (($det2)/($detA))*x2, 1.0)"
  }

  private def olsEstFrame(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "est:ols")(
      olsFeats(spark, dir)
        .crossJoin(broadcast(olsMoments(spark, dir)))
        .select(col("query_id"), expr(olsEstExprSql).as("est"), col("y").as("__card")))

  def olsEstQ(spark: SparkSession, dir: String): DataFrame = servedEst(spark, dir, "ols")

  private def naiveEstExprSql(id: String, q: ParsedQuery): String =
    (joRef(id) +: naiveFactorsSql(q)).mkString(" * ")

  /** olsfeat/olsm CTE pair shared by ols_est and the q_error_models ols
    * arm.
    */
  private lazy val olsCtes: String = {
    val feats = CardBenchmark.parsed
      .map { case (id, q) =>
        s"SELECT '$id' AS query_id, (${naiveEstExprSql(id, q)}) AS x1," +
          s" ${joRef(id)} AS x2, ${tcRef(id)} AS y"
      }
      .mkString("\nUNION ALL\n")
    s"""olsfeat AS MATERIALIZED (
       |$feats
       |),
       |olsm AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS mn,
       |  CAST(SUM(CAST(FLOOR(x1 * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS sx1,
       |  CAST(SUM(CAST(FLOOR(x2 * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS sx2,
       |  CAST(SUM(CAST(FLOOR(y * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS sy,
       |  CAST(SUM(CAST(FLOOR(x1 * x1 * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS s11,
       |  CAST(SUM(CAST(FLOOR(x1 * x2 * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS s12,
       |  CAST(SUM(CAST(FLOOR(x2 * x2 * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS s22,
       |  CAST(SUM(CAST(FLOOR(x1 * y * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS s1y,
       |  CAST(SUM(CAST(FLOOR(x2 * y * 64.0) AS BIGINT)) AS DOUBLE) / 64.0 AS s2y
       |FROM olsfeat)""".stripMargin
  }

  val olsEstSql: String =
    s"""WITH $estCtesPrelude,
       |$olsCtes
       |SELECT query_id, ($olsEstExprSql) AS est
       |FROM olsfeat, olsm
       |ORDER BY query_id""".stripMargin

  // ---- row 13e: ensemble_est — median-of-models estimator ----

  /** Median ensemble over the six closed-form/trained estimators
    * (cin, ebo, hist, mcv, naive, ols) — the standard "no single
    * estimator wins everywhere" hedge, per spec: sort the six
    * estimates (ties broken by model name), average ranks 3 and 4
    * explicitly (both engines do the identical IEEE add-and-halve —
    * no interpolation-convention drift), report est + q-error. All
    * inputs are the session's memoized est frames; the ensemble adds
    * one 6-rows-per-spec window, zero data scans.
    */
  def ensembleEstQ(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("est"), col("model"))
    modelEstFrame(spark, dir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn").isin(3, 4))
      .groupBy(col("query_id"))
      .agg((sum(col("est")) / 2.0).as("est"), max(col("__card")).as("__t"))
      .select(col("query_id"), col("est"), Metrics.qError(col("est"), col("__t")).as("q_err"))
      .orderBy(col("query_id"))
  }

  val ensembleEstSql: String = {
    val arms = for {
      (model, estOf) <- modelSqlEst
      (id, q) <- CardBenchmark.parsed
    } yield s"SELECT '$model' AS model, '$id' AS query_id, (${estOf(id, q)}) AS e"
    val tru = CardBenchmark.parsed
      .map { case (id, _) =>
        s"SELECT '$id' AS query_id, ${tcRef(id)} AS t"
      }
      .mkString("\nUNION ALL\n")
    s"""WITH $estCtesPrelude,
       |$olsCtes,
       |arms AS (
       |${arms.mkString("\nUNION ALL\n")}
       |),
       |tru AS (
       |$tru
       |),
       |mid AS (SELECT query_id, e FROM (
       |  SELECT query_id, e,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY e, model) AS rn
       |  FROM arms) WHERE rn IN (3, 4)),
       |med AS (SELECT query_id, SUM(e) / 2.0 AS est FROM mid GROUP BY 1)
       |SELECT m.query_id, m.est, ${Metrics.qErrorSql("m.est", "tru.t")} AS q_err
       |FROM med m JOIN tru ON m.query_id = tru.query_id
       |ORDER BY m.query_id""".stripMargin
  }

  // ---- join_card_est: System-R join-size estimate vs ground truth ----

  /** (edge label, fact table, fact filter, fact key, dim table,
    * dim filter, dim key) — filters apply to the query; ndv stats come
    * from the UNFILTERED tables, exactly as an optimizer's catalog
    * would supply them.
    */
  val jceEdges: Seq[(String, String, String, String, String, String, String)] = Seq(
    ("orders_hi-customer", "orders", "o_totalprice > 150000", "o_custkey",
      "customer", "TRUE", "c_custkey"),
    ("lineitem_q30-orders_urgent", "lineitem", "l_quantity > 30", "l_orderkey",
      "orders", "o_orderpriority = '1-URGENT'", "o_orderkey"),
    ("lineitem_disc-part_big", "lineitem", "l_discount > 0.05", "l_partkey",
      "part", "p_size > 25", "p_partkey"))

  /** The System-R join-size formula |A'|·|B'| / max(ndv_A, ndv_B) —
    * filtered inputs, catalog (unfiltered) ndvs, independence assumed —
    * audited against the true join count per FK edge, with the q-error
    * alongside. This is the estimator an optimizer actually runs before
    * picking a join order; the audit says how wrong independence is on
    * this data. All integer arithmetic (div), one presentation double.
    */
  def joinCardEstQ(spark: SparkSession, dir: String): DataFrame =
    jceEdges.map { case (label, ft, ff, fk, dt, df, dk) =>
      val f = Tables(spark, dir, ft)
      val d = Tables(spark, dir, dt)
      val na = f.filter(expr(ff)).agg(count(lit(1)).as("na"))
      val nb = d.filter(expr(df)).agg(count(lit(1)).as("nb"))
      val da = f.agg(greatest(countDistinct(col(fk)), lit(1L)).as("da"))
      val db = d.agg(greatest(countDistinct(col(dk)), lit(1L)).as("db"))
      val actual = f.filter(expr(ff))
        .join(d.filter(expr(df)), col(fk) === col(dk))
        .agg(count(lit(1)).as("actual"))
      na.crossJoin(nb).crossJoin(da).crossJoin(db).crossJoin(actual)
        .select(lit(label).as("edge"), col("na"), col("nb"),
          expr("(na * nb) div greatest(da, db)").as("est"), col("actual"))
        .select(col("edge"), col("na"), col("nb"), col("est"), col("actual"),
          (greatest(col("est"), col("actual")).cast("double") /
            greatest(least(col("est"), col("actual")), lit(1L))).as("q_err"))
    }.reduce(_.unionAll(_)).orderBy(col("edge"))

  val joinCardEstSql: String = {
    val arms = jceEdges.map { case (label, ft, ff, fk, dt, df, dk) =>
      s"""SELECT '$label' AS edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ft WHERE $ff) AS na,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $dt WHERE $df) AS nb,
         |  (SELECT CAST(GREATEST(COUNT(DISTINCT $fk),1) AS BIGINT) FROM $ft) AS da,
         |  (SELECT CAST(GREATEST(COUNT(DISTINCT $dk),1) AS BIGINT) FROM $dt) AS db,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ft JOIN $dt ON $fk = $dk
         |   WHERE ($ff) AND ($df)) AS actual""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |$arms)
       |SELECT edge, na, nb, CAST((na * nb) // GREATEST(da, db) AS BIGINT) AS est, actual,
       |  CAST(GREATEST((na * nb) // GREATEST(da, db), actual) AS DOUBLE) /
       |    GREATEST(LEAST((na * nb) // GREATEST(da, db), actual), 1) AS q_err
       |FROM s ORDER BY edge""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_card_est" -> (joinCardEstQ _),
    "pred_eval" -> (predEvalQ _),
    "true_card" -> (trueCardQ _),
    "naive_est" -> (naiveEstQ _),
    "ebo_est" -> (eboEstQ _),
    "calib_est_bias" -> (calibEstBiasQ _),
    "hist_est" -> (histEstQ _),
    "mcv_est" -> (mcvEstQ _),
    "joint_est" -> (jointEstQ _),
    "pess_est" -> (pessEstQ _),
    "cin_est" -> (cinEstQ _),
    "q_error" -> (qErrorQ _),
    "q_error_quantiles" -> (qErrorQuantilesQ _),
    "q_error_models" -> (qErrorModelsQ _),
    "q_error_model_quantiles" -> (qErrorModelQuantilesQ _),
    "ols_est" -> (olsEstQ _),
    "ensemble_est" -> (ensembleEstQ _)
  )

  /** join_sample and sample_est are fully SQL-checked: the sampling's
    * md5-seeded uniforms and integer inverse-CDF picks are reproduced in
    * DuckDB CTEs, so even the stochastic operator hash-matches.
    */
  val oracleSql: Map[String, String] = Map(
    "join_card_est" -> joinCardEstSql,
    "pred_eval" -> predEvalSql,
    "true_card" -> trueCardSql,
    "naive_est" -> naiveEstSql,
    "ebo_est" -> eboEstSql,
    "calib_est_bias" -> calibEstBiasSql,
    "hist_est" -> histEstSql,
    "mcv_est" -> mcvEstSql,
    "joint_est" -> jointEstSql,
    "pess_est" -> pessEstSql,
    "cin_est" -> cinEstSql,
    "q_error" -> qErrorSql,
    "q_error_quantiles" -> qErrorQuantilesSql,
    "q_error_models" -> qErrorModelsSql,
    "q_error_model_quantiles" -> qErrorModelQuantilesSql,
    "ols_est" -> olsEstSql,
    "ensemble_est" -> ensembleEstSql
  )
}
