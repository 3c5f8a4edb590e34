package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H-shape relational workload rows (SURVEY.md §2 rows 110-117),
  * adapted to the TESTDATA schema (no partsupp / commitdate / phone
  * columns — each query keeps its plan SHAPE and swaps the predicate to
  * columns that exist). All money math follows the repo's exact-cents
  * discipline: `floor(x*100+0.5)` BIGINT cents aggregated exactly, with
  * division only in presentation columns, so the DuckDB oracle
  * hash-matches bit-for-bit.
  *
  * Scale notes are per-query; the common ones: `nation`/`region` are
  * ≤25/5 rows at any scale factor (broadcast by construction), while
  * `customer`/`part`/`supplier` grow with SF — those joins are left as
  * keyed shuffle joins (AQE may still broadcast them when a filter makes
  * the build side small).
  */
object QueriesRelational extends QueryModule {

  private def cents(c: org.apache.spark.sql.Column) =
    expr(s"CAST(floor(${c.toString} * 100 + 0.5) AS BIGINT)")

  /** Exact revenue cents-pair product, same grid as q5_revenue. */
  private val revCents =
    expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
      "CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)")

  // ---- row 110: q4 — EXISTS semi-join, count by priority ----

  /** TPC-H q4 shape: orders placed in 1995 with at least one line shipped
    * >90 days after the order date, counted by priority. The EXISTS is a
    * left-semi join carrying the non-equi ship-lag predicate alongside
    * the key equality, so each order is counted once no matter how many
    * late lines it has — no distinct, no fact-side blow-up. One orderkey
    * shuffle; the 1-year filter prunes the orders scan before it.
    */
  def q4PriorityQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .join(
        Tables(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  val q4PrioritySql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 111: q7 — nation-pair trade volume ----

  /** TPC-H q7 shape: shipping volume between two nations by year, both
    * directions. The two tiny nation dims broadcast onto the customer
    * and supplier joins; the nation filter lands INSIDE those broadcast
    * joins, so non-participating customers/suppliers drop before the
    * fact shuffles. Two fact shuffles (orderkey, then custkey) — the
    * canonical q7 plan.
    */
  def q7TradeVolumeQ(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables(spark, dir, "nation")
      .filter(col("n_name").isin("NATION_1", "NATION_2"))
    val cust = Tables(spark, dir, "customer")
      .join(broadcast(n1.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), Seq("c_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    val supp = Tables(spark, dir, "supplier")
      .join(broadcast(n1.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), Seq("s_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables(spark, dir, "lineitem")
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("n_items"),
        (sum(revCents).cast("double") / 10000.0).as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7TradeVolumeSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS volume
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year, l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE ns.n_name IN ('NATION_1', 'NATION_2')
      |    AND nc.n_name IN ('NATION_1', 'NATION_2')
      |    AND ns.n_name <> nc.n_name)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---- row 112: q8 — market share ratio per year ----

  /** TPC-H q8 shape: NATION_2's share of PROMO-part revenue sold into
    * ASIA-region customers, by year. Numerator and denominator are the
    * SAME exact-cents aggregate split by a supplier-nation flag, so one
    * plan computes both (a conditional sum, not two scans); the share is
    * a presentation-only division of two exact BIGINTs. Part filter
    * broadcasts (PROMO is ~1/6 of parts — at 100 TB this join is the
    * scale risk, and AQE demotes it to shuffle when the build side
    * outgrows the threshold).
    */
  def q8MarketShareQ(spark: SparkSession, dir: String): DataFrame = {
    val promo = Tables(spark, dir, "part")
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val asiaCust = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")
        .join(broadcast(Tables(spark, dir, "region")
          .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nationkey"))), Seq("c_nationkey"))
      .select(col("c_custkey"))
    val suppNation = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        Seq("s_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === "NATION_2").as("is_target"))
    Tables(spark, dir, "lineitem")
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("l_shipdate")).as("o_year"))
      .agg(
        sum(when(col("is_target"), revCents).otherwise(lit(0L))).as("target_c"),
        sum(revCents).as("total_c"))
      .select(col("o_year"),
        (col("target_c").cast("double") / col("total_c").cast("double")).as("mkt_share"),
        (col("total_c").cast("double") / 10000.0).as("total_volume"))
      .orderBy(col("o_year"))
  }

  val q8MarketShareSql: String =
    """WITH scoped AS (
      |  SELECT CAST(year(l_shipdate) AS INT) AS o_year,
      |    (n_name = 'NATION_2') AS is_target,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |      CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT) AS rc
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE EXISTS (SELECT 1 FROM customer
      |                JOIN nation cn ON c_nationkey = cn.n_nationkey
      |                JOIN region ON cn.n_regionkey = r_regionkey
      |                WHERE c_custkey = o_custkey AND r_name = 'ASIA'))
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN is_target THEN rc ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(rc) AS DOUBLE) AS mkt_share,
      |  CAST(SUM(rc) AS DOUBLE) / 10000.0 AS total_volume
      |FROM scoped GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 113: q10 — top returned-revenue customers ----

  /** TPC-H q10 shape: top-20 customers by returned-item revenue in a
    * 2-quarter window. Revenue ranks on the exact BIGINT cents (kept in
    * the output), with custkey as the total-order tie-break, so the
    * LIMIT boundary is deterministic in both engines. Orderkey shuffle →
    * custkey shuffle → 20-row top-k (Spark's TakeOrdered, never a full
    * sort of the aggregate).
    */
  def q10ReturnsQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(Tables(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(revCents).as("revenue_c"), count(lit(1)).as("n_items"))
      .join(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")), Seq("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue_c"), col("n_items"),
        (col("revenue_c").cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue_c").desc, col("c_custkey"))
      .limit(20)

  val q10ReturnsSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |      CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-01-01'
      |GROUP BY 1, 2, 3 ORDER BY revenue_c DESC, c_custkey LIMIT 20""".stripMargin

  // ---- row 114: q14 — promo revenue share per month ----

  /** TPC-H q14 shape: monthly share of revenue from PROMO-type parts.
    * One conditional-sum scan of lineitem with the 2-column part dim
    * broadcast onto it; the share divides two exact BIGINT cents sums.
    */
  def q14PromoShareQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .join(broadcast(Tables(spark, dir, "part")
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(
        sum(when(col("is_promo"), revCents).otherwise(lit(0L))).as("promo_c"),
        sum(revCents).as("total_c"))
      .select(col("month"),
        (col("promo_c").cast("double") * 100.0 / col("total_c").cast("double"))
          .as("promo_share"),
        (col("total_c").cast("double") / 10000.0).as("total_revenue"))
      .orderBy(col("month"))

  val q14PromoShareSql: String =
    """SELECT date_trunc('month', l_shipdate) AS month,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
      |        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |        CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE) * 100.0 /
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS promo_share,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 115: q16 — supplier variety per part attribute ----

  /** TPC-H q16 shape: distinct suppliers per (brand, type, size) over
    * parts actually traded, excluding one brand and any supplier with a
    * negative balance (the "complaints" analogue). The fact scan reduces
    * to DISTINCT (partkey, suppkey) FIRST — the count-distinct then runs
    * on the bounded pair set, not the raw fact table — and the excluded
    * suppliers leave via a broadcast anti-join on that reduced set.
    */
  def q16SupplierVarietyQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(Tables(spark, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(Tables(spark, dir, "part")
        .filter(col("p_brand") =!= "Brand#5")
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  val q16SupplierVarietySql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, 1, 2, 3""".stripMargin

  // ---- row 116: q17 — small-quantity revenue vs per-part average ----

  /** TPC-H q17 shape: revenue impact of lines whose quantity is below
    * 20% of their part's average, for one brand. The correlated-AVG
    * subquery becomes a per-part (sum, count) aggregate joined back to
    * the same filtered fact slice; the avg comparison cross-multiplies
    * to integers (5·qty·cnt < sum_qty — quantities are integral), so no
    * division ever happens in the predicate. The brand filter broadcasts
    * into BOTH passes, bounding them to ~1/25 of the fact table.
    */
  def q17SmallQtyQ(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables(spark, dir, "part")
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    val li = Tables(spark, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        col("l_quantity").cast("bigint").as("qty"),
        cents(col("l_extendedprice")).as("ep_c"))
    val stats = li.groupBy(col("l_partkey").as("sp_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(broadcast(stats), col("l_partkey") === col("sp_partkey"))
      .filter(col("qty") * lit(5L) * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        (sum(col("ep_c")).cast("double") / 100.0 / 7.0).as("avg_yearly"))
  }

  val q17SmallQtySql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#1'),
      |stats AS (SELECT l_partkey AS sp_partkey, SUM(qty) AS sum_qty,
      |    CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
      |  CAST(SUM(ep_c) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
      |FROM li JOIN stats ON l_partkey = sp_partkey
      |WHERE qty * 5 * cnt < sum_qty""".stripMargin

  // ---- row 117: q22 — above-average idle-customer balances ----

  /** TPC-H q22 shape: customers with above-average positive balance and
    * no recent orders, grouped by nation. The scalar AVG comparison
    * cross-multiplies (bal_c · n_pos > sum_pos_c) against a broadcast
    * 1-row aggregate — exact integers, no division; the "no recent
    * orders" is an anti-join against the date-pruned orders scan.
    */
  def q22IdleBalanceQ(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_c"))
    val posAvg = cust.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_pos_c"), count(lit(1)).as("n_pos"))
    cust
      .crossJoin(broadcast(posAvg))
      .filter(col("bal_c") * col("n_pos") > col("sum_pos_c"))
      .join(Tables(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        (sum(col("bal_c")).cast("double") / 100.0).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  val q22IdleBalanceSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      |  FROM customer),
      |pos AS (SELECT SUM(bal_c) AS sum_pos_c, CAST(COUNT(*) AS BIGINT) AS n_pos
      |        FROM cust WHERE bal_c > 0)
      |SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |  CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS total_bal
      |FROM cust, pos
      |WHERE bal_c * n_pos > sum_pos_c
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 127: q21 — sole late supplier per multi-supplier order ----

  /** TPC-H q21 shape: suppliers who were the ONLY late shipper in a
    * multi-supplier order, counted and top-10 ranked. The classic
    * EXISTS + NOT-EXISTS pair over the same fact table collapses into
    * two keyed aggregations — per-(order, supplier) lateness, then
    * per-order supplier/late-supplier counts joined back — so the fact
    * table is scanned ONCE and never self-joined row-to-row. Rank on
    * (count DESC, suppkey) makes the LIMIT engine-deterministic.
    */
  def soleLateSupplierQ(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
    // Memoized: the per-(order, supplier) lateness frame feeds both its
    // own filter leg and the per-order rollup — one fact scan, not two.
    val perSupp = Memo(spark, dir, "rel:soleLatePerSupp")(
      l.groupBy(col("ok"), col("sk"))
        .agg(max(when(col("late"), lit(1L)).otherwise(lit(0L))).as("sl")))
    // Per-order rollup as count/sum windows PARTITIONED by ok riding
    // one shuffle of the memoized per-(order, supplier) frame — the old
    // groupBy(ok) aggregate joined back onto perSupp shuffled the frame
    // twice (agg + join probe) and sort-merged the result. Identical
    // integer counts per order either way.
    val ow = org.apache.spark.sql.expressions.Window.partitionBy(col("ok"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(ow))
      .withColumn("n_late", sum(col("sl")).over(ow))
      .filter(col("sl") === 1 && col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("sk").as("s_suppkey"))
      .agg(count(lit(1)).as("n_orders"))
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))), Seq("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_orders"))
      .orderBy(col("n_orders").desc, col("s_suppkey"))
      .limit(10)
  }

  val soleLateSupplierSql: String =
    """WITH l AS (
      |  SELECT l_orderkey AS ok, l_suppkey AS sk,
      |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |per_supp AS (SELECT ok, sk, MAX(CASE WHEN late THEN 1 ELSE 0 END) AS sl
      |             FROM l GROUP BY 1, 2),
      |per_order AS (SELECT ok, CAST(COUNT(*) AS BIGINT) AS n_supp,
      |                CAST(SUM(sl) AS BIGINT) AS n_late
      |              FROM per_supp GROUP BY 1)
      |SELECT sk AS s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM per_supp JOIN per_order USING (ok)
      |JOIN supplier ON sk = s_suppkey
      |WHERE sl = 1 AND n_supp > 1 AND n_late = 1
      |GROUP BY 1, 2 ORDER BY n_orders DESC, s_suppkey LIMIT 10""".stripMargin

  // ---- row 131: q6 — forecast-revenue single-scan aggregate ----

  /** TPC-H q6 shape: one predicate-heavy scan, no join, one global sum.
    * The whole query is a parquet scan with every filter pushed down
    * (date range, discount band, quantity cap) + a partial/final agg —
    * the canonical "filters must reach the scan" probe. Revenue is the
    * exact cents × pct integer grid; ONE double division at the end.
    */
  def q6ForecastRevenueQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg((sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")).cast("double") / 10000.0)
        .as("revenue"))

  val q6ForecastRevenueSql: String =
    """SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |                CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |         / 10000.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---- row 132: q9 — product-line profit by nation and year ----

  /** TPC-H q9 shape (no partsupp in the testdata: supply cost ≈ the
    * part's retail price × quantity). The p_name LIKE filter prunes
    * part BEFORE its join (broadcast after filter); nation broadcasts
    * onto supplier; the fact shuffles once per join key, profit stays
    * in exact integer cents until presentation.
    */
  def q9ProfitQ(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("cost_c"))
    val s = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))), Seq("s_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables(spark, dir, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(((sum(revCents) - lit(10000L) *
        sum(col("cost_c") * expr("CAST(floor(l_quantity + 0.5) AS BIGINT)")))
        .cast("double") / 10000.0).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProfitSql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |           CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) -
      |       10000 * SUM(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) *
      |                   CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 10000.0 AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  // ---- row 133: q12 — late-shipment priority split ----

  /** TPC-H q12 shape (no shipmode/commitdate columns: the mode becomes
    * l_linestatus, "committed late" becomes shipped >30 days after the
    * order date). The non-equi lateness predicate rides INSIDE the join
    * condition with the key equality, so non-late lines never reach the
    * aggregation; the date window prunes the fact scan.
    */
  def q12PrioritySplitQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("l_linestatus"))

  val q12PrioritySplitSql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders
      |  ON l_orderkey = o_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- row 134: q15 — top supplier by quarterly revenue ----

  /** TPC-H q15 shape: the revenue "view" is built once and memoized; the
    * scalar MAX broadcasts back onto it (exact integer cents, so the
    * max-equality join cannot drift), then the surviving supplier(s)
    * attach names. No window, no second fact scan.
    */
  def q15TopSupplierQ(spark: SparkSession, dir: String): DataFrame = {
    val rev = Memo(spark, dir, "rel:q15rev")(
      Tables(spark, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revCents).as("rev_c")))
    rev
      .crossJoin(broadcast(rev.agg(max(col("rev_c")).as("max_c"))))
      .filter(col("rev_c") === col("max_c"))
      .join(broadcast(Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_c").cast("double") / 10000.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |        CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS rev_c
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(rev_c AS DOUBLE) / 10000.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_c = (SELECT MAX(rev_c) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---- row 135: q18 — large-volume orders ----

  /** TPC-H q18 shape: the HAVING SUM(qty) aggregation runs FIRST on the
    * slim (orderkey, qty) projection — one fact shuffle on the join key
    * it already needs — and only qualifying orders (a tiny set) join
    * customer and orders. Quantities are integral by data contract;
    * summed as BIGINT so the threshold is exact. Rank on (qty DESC,
    * orderkey) makes the LIMIT deterministic.
    */
  def q18BigOrdersQ(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("q")).as("sum_qty"))
      .filter(col("sum_qty") > 150L)
    big
      .join(Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer").select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18BigOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY 1 HAVING sum_qty > 150)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate, sum_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin

  // ---- row 136: q19 — disjunctive brand/size/quantity revenue ----

  /** TPC-H q19 shape: an OR of three (brand, size-band, quantity-band)
    * conjunct groups across the part join. The shared part of every
    * disjunct (size ≥ 1) would push to the part scan; the per-brand
    * residuals evaluate inside the join — exactly how an engine should
    * execute a disjunctive join predicate without unioning three scans.
    */
  def q19DisjunctiveRevQ(spark: SparkSession, dir: String): DataFrame = {
    val arm = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand &&
        col("p_size") >= 1 && col("p_size") <= szHi &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey") &&
          (arm("Brand#12", 5, 1, 11) || arm("Brand#23", 10, 10, 20) ||
            arm("Brand#34", 15, 20, 30)))
      .agg((sum(revCents).cast("double") / 10000.0).as("revenue"))
  }

  val q19DisjunctiveRevSql: String =
    """SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
      |                CAST(floor((1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
      |         / 10000.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q6_forecast_revenue" -> (q6ForecastRevenueQ _),
    "q9_profit_by_nation" -> (q9ProfitQ _),
    "q12_priority_split" -> (q12PrioritySplitQ _),
    "q15_top_supplier" -> (q15TopSupplierQ _),
    "q18_big_orders" -> (q18BigOrdersQ _),
    "q19_disjunctive_rev" -> (q19DisjunctiveRevQ _),
    "q4_priority_exists" -> (q4PriorityQ _),
    "q7_trade_volume" -> (q7TradeVolumeQ _),
    "q8_market_share" -> (q8MarketShareQ _),
    "q10_returns" -> (q10ReturnsQ _),
    "q14_promo_share" -> (q14PromoShareQ _),
    "q16_supplier_variety" -> (q16SupplierVarietyQ _),
    "q17_small_qty" -> (q17SmallQtyQ _),
    "q22_idle_balance" -> (q22IdleBalanceQ _),
    "sole_late_supplier" -> (soleLateSupplierQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "q6_forecast_revenue" -> q6ForecastRevenueSql,
    "q9_profit_by_nation" -> q9ProfitSql,
    "q12_priority_split" -> q12PrioritySplitSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q18_big_orders" -> q18BigOrdersSql,
    "q19_disjunctive_rev" -> q19DisjunctiveRevSql,
    "q4_priority_exists" -> q4PrioritySql,
    "q7_trade_volume" -> q7TradeVolumeSql,
    "q8_market_share" -> q8MarketShareSql,
    "q10_returns" -> q10ReturnsSql,
    "q14_promo_share" -> q14PromoShareSql,
    "q16_supplier_variety" -> q16SupplierVarietySql,
    "q17_small_qty" -> q17SmallQtySql,
    "q22_idle_balance" -> q22IdleBalanceSql,
    "sole_late_supplier" -> soleLateSupplierSql
  )
}
