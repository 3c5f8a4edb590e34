package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Encoding, Fanouts}

/** Core queries: the reference's data-prep pipeline re-expressed as
  * declarative DataFrame plans (SURVEY.md §2 rows 1-8).
  *
  * Oracle-parity conventions (driver hashes values after sorting columns
  * by name): every computed column is aliased identically here and in the
  * SQL; double-summing aggregates go through DECIMAL(38,6) so the result
  * is exact and independent of partition/accumulation order, then cast
  * back to double.
  */
object QueriesCore extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,6)")

  /** TPC-H Q1-style flagship aggregation. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** FK value counts (datasets.py:113). */
  def fkCountQ(spark: SparkSession, dir: String): DataFrame =
    Fanouts
      .fkCount(Tables(spark, dir, "orders"), "o_custkey")
      .orderBy(col("o_custkey"))

  val fkCountSql: String =
    "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey ORDER BY o_custkey"

  /** Fanout outer-joined onto the PK table, missing → 1. */
  def adjFanoutQ(spark: SparkSession, dir: String): DataFrame =
    Fanouts
      .adjFanout(
        Tables(spark, dir, "customer"), "c_custkey",
        Tables(spark, dir, "orders"), "o_custkey",
        "adj_fanout")
      .select(col("c_custkey"), col("adj_fanout"))
      .orderBy(col("c_custkey"))

  val adjFanoutSql: String =
    """SELECT c.c_custkey, COALESCE(f.cnt, 1) AS adj_fanout
      |FROM customer c
      |LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) f
      |  ON c.c_custkey = f.o_custkey
      |ORDER BY c.c_custkey""".stripMargin

  /** Bottom-up weight over customer←orders←lineitem rooted at customer
    * (datasets.py:296-357): weight(customer) = Σ over its orders of
    * (lineitem count per order, missing → 1), missing orders → 1.
    */
  def fanoutWeightQ(spark: SparkSession, dir: String): DataFrame = {
    val chain = Subschema(
      "chain", "customer",
      Seq(
        FkEdge("customer", "c_custkey", "orders", "o_custkey"),
        FkEdge("orders", "o_orderkey", "lineitem", "l_orderkey"))
    )
    Fanouts
      .weighted(chain, "customer", Fanouts.loader(spark, dir))
      .select(col("c_custkey"), col("__weight__").as("weight"))
      .orderBy(col("c_custkey"))
  }

  val fanoutWeightSql: String =
    """SELECT c.c_custkey,
      |  CAST(COALESCE(ow.w, 1) AS BIGINT) AS weight
      |FROM customer c
      |LEFT JOIN (
      |  SELECT o.o_custkey, SUM(COALESCE(lw.cnt, 1)) AS w
      |  FROM orders o
      |  LEFT JOIN (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey) lw
      |    ON o.o_orderkey = lw.l_orderkey
      |  GROUP BY o.o_custkey) ow
      |  ON c.c_custkey = ow.o_custkey
      |ORDER BY c.c_custkey""".stripMargin

  /** Universal-relation size: the reference's OTHER partitioning mode
    * (UR = one padded full outer join of the whole schema vs per-table
    * CIN subschemas; scardina/schema.py builds either). Each table joins
    * exactly once along a spanning tree of the FK graph — nation/region
    * enter via the customer path, matching the join-each-table-once UR
    * construction. Full joins can't broadcast; this is a chain of
    * sort-merge joins, each co-partitioned on its key — one shuffle per
    * edge, the unavoidable minimum for padded joins.
    */
  /** Universal-relation size by aggregation algebra, not by building the
    * join: every hop of the reference's UR spanning tree lands on a
    * unique-PK side, so each chained full join preserves existing rows
    * 1:1 and only ADDS the dim rows whose key no upstream row carries —
    * ur = |lineitem| + Σ unreferenced-dim counts. Each addend is a tiny
    * anti-join against a distinct-FK frame; the 7-table outer-join
    * shuffle the naive plan pays (the whole UR!) never happens. The
    * oracle still counts the literal FULL JOIN chain — equality is the
    * correctness statement. (Spec cross-checks the algebra against the
    * materialized join, including padding in both directions.)
    */
  def urSizeQ(spark: SparkSession, dir: String): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    def adds(dim: String, dimKey: String, src: DataFrame, srcKey: String, a: String) =
      load(dim)
        .join(
          src.select(col(srcKey)).filter(col(srcKey).isNotNull).distinct(),
          col(dimKey) === col(srcKey), "left_anti")
        .agg(count(lit(1)).as(a))
    val li = load("lineitem")
    val o = load("orders")
    val c = load("customer")
    val n = load("nation")
    // The three fact-side distinct-FK sets ride ONE exploded lineitem
    // scan (same single-pass edge algebra as subschemaSizeFast,
    // including the aggregate-not-anti-join shape: the optimizer splits
    // an anti-join through the dim union into one join per branch,
    // re-duplicating the lineitem scan). A (edge, key) group with
    // min(__pk) = 0 has an FK occurrence; summing __pk over min = 1
    // groups counts exactly the dim rows with no FK match, NULL dim
    // keys always counted — the per-edge anti-join count.
    val liFk = li
      .select(posexplode(array(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))))
      .select(col("pos").as("__e"), col("col").as("__k"), lit(0L).as("__pk"))
      .filter(col("__k").isNotNull)
    val liDims = load("orders").select(lit(0).as("__e"), col("o_orderkey").as("__k"), lit(1L).as("__pk"))
      .unionAll(load("part").select(lit(1).as("__e"), col("p_partkey").as("__k"), lit(1L).as("__pk")))
      .unionAll(load("supplier").select(lit(2).as("__e"), col("s_suppkey").as("__k"), lit(1L).as("__pk")))
    val liAdds = liFk.unionAll(liDims)
      .groupBy(col("__e"), col("__k"))
      .agg(sum(col("__pk")).as("__pks"), min(col("__pk")).as("__anyfk"))
      .agg(
        coalesce(sum(when(col("__e") === 0 && col("__anyfk") === 1L, col("__pks"))), lit(0L)).as("__a1"),
        coalesce(sum(when(col("__e") === 1 && col("__anyfk") === 1L, col("__pks"))), lit(0L)).as("__a5"),
        coalesce(sum(when(col("__e") === 2 && col("__anyfk") === 1L, col("__pks"))), lit(0L)).as("__a6"))
    li.agg(count(lit(1)).as("__base"))
      .crossJoin(liAdds)
      .crossJoin(adds("customer", "c_custkey", o, "o_custkey", "__a2"))
      .crossJoin(adds("nation", "n_nationkey", c, "c_nationkey", "__a3"))
      .crossJoin(adds("region", "r_regionkey", n, "n_regionkey", "__a4"))
      .select(
        lit("ur").as("name"),
        (col("__base") + col("__a1") + col("__a2") + col("__a3") +
          col("__a4") + col("__a5") + col("__a6")).as("size"))
  }

  val urSizeSql: String =
    """SELECT 'ur' AS name, COUNT(*) AS size
      |FROM lineitem
      |FULL JOIN orders ON l_orderkey = o_orderkey
      |FULL JOIN customer ON o_custkey = c_custkey
      |FULL JOIN nation ON c_nationkey = n_nationkey
      |FULL JOIN region ON n_regionkey = r_regionkey
      |FULL JOIN part ON l_partkey = p_partkey
      |FULL JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

  /** Full-outer-join sizes of every CIN subschema (schema.py:85-183),
    * through the add-only count algebra where the subschema shape allows
    * (all five do: FK center → unique-PK dims) — see urSizeQ.
    */
  def subschemaSizesQ(spark: SparkSession, dir: String): DataFrame = {
    val load = Fanouts.loader(spark, dir)
    SchemaGraph.tpch.cinSubschemas
      .map(sub =>
        Fanouts.subschemaSizeFast(sub, load)
          .getOrElse(Fanouts.subschemaSize(sub, load))
          .select(lit(sub.name).as("name"), col("size")))
      .reduce(_.unionAll(_))
      .orderBy(col("name"))
  }

  val subschemaSizesSql: String =
    """SELECT 'customer:c_nationkey=nation.n_nationkey' AS name, COUNT(*) AS size
      |  FROM customer FULL JOIN nation ON c_nationkey = n_nationkey
      |UNION ALL
      |SELECT 'lineitem:l_orderkey=orders.o_orderkey:l_partkey=part.p_partkey:l_suppkey=supplier.s_suppkey', COUNT(*)
      |  FROM lineitem
      |  FULL JOIN orders ON l_orderkey = o_orderkey
      |  FULL JOIN part ON l_partkey = p_partkey
      |  FULL JOIN supplier ON l_suppkey = s_suppkey
      |UNION ALL
      |SELECT 'nation:n_regionkey=region.r_regionkey', COUNT(*)
      |  FROM nation FULL JOIN region ON n_regionkey = r_regionkey
      |UNION ALL
      |SELECT 'orders:o_custkey=customer.c_custkey', COUNT(*)
      |  FROM orders FULL JOIN customer ON o_custkey = c_custkey
      |UNION ALL
      |SELECT 'supplier:s_nationkey=nation.n_nationkey', COUNT(*)
      |  FROM supplier FULL JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY name""".stripMargin

  /** Sorted distinct non-null values for representative columns. */
  def distinctValsQ(spark: SparkSession, dir: String): DataFrame = {
    def one(t: String, c: String) =
      Encoding
        .distinctVals(Tables(spark, dir, t), c)
        .select(lit(s"$t.$c").as("col_name"), col(c).cast("string").as("val"))
    one("lineitem", "l_returnflag")
      .unionAll(one("orders", "o_orderpriority"))
      .unionAll(one("customer", "c_mktsegment"))
      .orderBy(col("col_name"), col("val"))
  }

  val distinctValsSql: String =
    """SELECT 'lineitem.l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS val
      |  FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 2
      |UNION ALL
      |SELECT 'orders.o_orderpriority', CAST(o_orderpriority AS VARCHAR)
      |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 2
      |UNION ALL
      |SELECT 'customer.c_mktsegment', CAST(c_mktsegment AS VARCHAR)
      |  FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 2
      |ORDER BY col_name, val""".stripMargin

  /** Dictionary codes with the reference's 0=MASK / 1=NULL reservation. */
  def dictEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val enc1 = Encoding.dictEncode(o, "o_orderpriority", "pr_code")
    val enc2 = Encoding.dictEncode(enc1, "o_orderstatus", "st_code")
    enc2.select(col("o_orderkey"), col("pr_code"), col("st_code"))
      .orderBy(col("o_orderkey"))
  }

  val dictEncodeSql: String =
    """SELECT o_orderkey,
      |  CAST(1 + DENSE_RANK() OVER (ORDER BY o_orderpriority) AS INTEGER) AS pr_code,
      |  CAST(1 + DENSE_RANK() OVER (ORDER BY o_orderstatus) AS INTEGER) AS st_code
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Bit-sliced factorization of the l_partkey dictionary code
    * (common.py:137-196), long format, threshold = 6 bits.
    */
  def factorizeQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val enc = Encoding.dictEncode(li, "l_partkey", "code")
    Encoding
      .factorize(enc, "code", Seq("l_orderkey", "l_linenumber"), threshold = 6)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("fact_idx"))
  }

  val factorizeSql: String =
    """WITH enc AS (
      |  SELECT l_orderkey, l_linenumber,
      |         1 + DENSE_RANK() OVER (ORDER BY l_partkey) AS code
      |  FROM lineitem
      |), sz AS (
      |  SELECT MAX(code) + 1 AS ds, LENGTH(bin(MAX(code) + 1)) AS bl,
      |         CAST(CEIL(LENGTH(bin(MAX(code) + 1)) / 6.0) AS INT) AS n
      |  FROM enc
      |), ex AS (
      |  SELECT enc.l_orderkey, enc.l_linenumber, enc.code, sz.bl, sz.n,
      |         UNNEST(range(0, CAST(sz.n AS BIGINT))) AS fact_idx
      |  FROM enc, sz
      |), geom AS (
      |  SELECT l_orderkey, l_linenumber, code, fact_idx,
      |         CAST(FLOOR(bl * 1.0 / n) AS INT) AS base,
      |         bl - CAST(FLOOR(bl * 1.0 / n) AS INT) * n AS rem
      |  FROM ex
      |)
      |SELECT l_orderkey, l_linenumber, CAST(fact_idx AS INT) AS fact_idx,
      |  CAST(CAST(FLOOR(code / POWER(2, base * fact_idx + LEAST(fact_idx, rem))) AS BIGINT)
      |       % CAST(POWER(2, base + CASE WHEN fact_idx < rem THEN 1 ELSE 0 END) AS BIGINT)
      |       + 1 AS INT) AS scol_code
      |FROM geom
      |ORDER BY l_orderkey, l_linenumber, fact_idx""".stripMargin

  /** Skewed fact⋈dim join through the salted replicate plan
    * (operators.Skew.saltedJoin) — the oracle is the PLAIN join + agg:
    * salting must not change a single row.
    */
  def skewJoinQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew
      .saltedJoin(
        Tables(spark, dir, "lineitem"), Tables(spark, dir, "part"),
        "l_partkey", "p_partkey", buckets = 32)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("p_brand"))

  val skewJoinSql: String =
    """SELECT p_brand, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  val zorderBits = 16
  val zorderBucketShift = 16

  /** Z-order layout summary of lineitem over (l_partkey, l_suppkey):
    * per z-bucket row counts and min/max key ranges — the file-level
    * stats a z-sorted writer would give a pruning reader.
    */
  def zorderLayoutQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Layout
      .zorderSummary(
        Tables(spark, dir, "lineitem"), "l_partkey", "l_suppkey",
        zorderBits, zorderBucketShift)
      .orderBy(col("bucket"))

  val zorderLayoutSql: String = {
    val z = graft.operators.Layout.zValueSql("l_partkey", "l_suppkey", zorderBits)
    s"""WITH z AS (SELECT l_partkey, l_suppkey, CAST($z AS BIGINT) AS z FROM lineitem)
       |SELECT z >> $zorderBucketShift AS bucket, COUNT(*) AS cnt,
       |  MIN(l_partkey) AS min_l_partkey, MAX(l_partkey) AS max_l_partkey,
       |  MIN(l_suppkey) AS min_l_suppkey, MAX(l_suppkey) AS max_l_suppkey,
       |  MIN(z) AS z_lo, MAX(z) AS z_hi
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- zone_map_prune: layout-vs-pruning effectiveness simulation ----

  val zmFiles = 64
  val zmLo = 100000.0
  val zmHi = 200000.0

  /** Zone-map pruning effectiveness under three write layouts: orders
    * range-bucketed into 64 "files" by custkey, by order date, and by
    * total price (equal-width on the sort key — the arithmetic analogue
    * of a range-partitioned writer, ONE scan per layout and no global
    * sort). Per-file min/max of o_totalprice then the fraction of files
    * a [100k, 200k] price predicate can skip: ~0 for the unrelated
    * layouts, nearly all files for the price-clustered one. This is the
    * measurement behind "sort your data by the filter column".
    */
  def zoneMapPruneQ(spark: SparkSession, dir: String): DataFrame = {
    // one materialized slim projection instead of four parquet scans
    // (bounds frame + three layout passes)
    val o = Memo(spark, dir, "core:zmOrders")(
      Tables(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice")))
    val b = o.agg(
      min(col("o_custkey")).as("mn_c"), max(col("o_custkey")).as("mx_c"),
      min(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")).as("mn_d"),
      max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")).as("mx_d"),
      min(col("o_totalprice")).as("mn_p"), max(col("o_totalprice")).as("mx_p"))
    val w = o.crossJoin(broadcast(b)).select(
      col("o_totalprice").as("p"),
      expr(s"((o_custkey - mn_c) * $zmFiles) div (mx_c - mn_c + 1)").as("f_cust"),
      expr(s"((unix_micros(CAST(o_orderdate AS TIMESTAMP)) - mn_d) * $zmFiles) div (mx_d - mn_d + 1)").as("f_date"),
      least(floor((col("o_totalprice") - col("mn_p")) * lit(zmFiles.toDouble) /
        (col("mx_p") - col("mn_p"))).cast("bigint"), lit(zmFiles - 1L)).as("f_price"))
    val z = Seq(("by_custkey", "f_cust"), ("by_date", "f_date"), ("by_price", "f_price"))
      .map { case (name, f) =>
        w.groupBy(col(f).as("f"))
          .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
          .select(lit(name).as("layout"), col("mn"), col("mx"))
      }
      .reduce(_.unionAll(_))
    z.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("mx") < zmLo || col("mn") > zmHi, 1L).otherwise(0L)).as("n_skipped"))
      .withColumn("skip_frac", col("n_skipped").cast("double") / col("n_files"))
      .orderBy(col("layout"))
  }

  val zoneMapPruneSql: String =
    s"""WITH b AS (SELECT MIN(o_custkey) AS mn_c, MAX(o_custkey) AS mx_c,
       |    MIN(epoch_us(o_orderdate)) AS mn_d, MAX(epoch_us(o_orderdate)) AS mx_d,
       |    MIN(o_totalprice) AS mn_p, MAX(o_totalprice) AS mx_p FROM orders),
       |w AS (SELECT o_totalprice AS p,
       |    ((o_custkey - mn_c) * $zmFiles) // (mx_c - mn_c + 1) AS f_cust,
       |    ((epoch_us(o_orderdate) - mn_d) * $zmFiles) // (mx_d - mn_d + 1) AS f_date,
       |    LEAST(CAST(FLOOR((o_totalprice - mn_p) * $zmFiles.0 / (mx_p - mn_p)) AS BIGINT), ${zmFiles - 1}) AS f_price
       |  FROM orders, b),
       |z AS (SELECT 'by_custkey' AS layout, f_cust AS f, MIN(p) AS mn, MAX(p) AS mx FROM w GROUP BY 2
       |  UNION ALL SELECT 'by_date', f_date, MIN(p), MAX(p) FROM w GROUP BY 2
       |  UNION ALL SELECT 'by_price', f_price, MIN(p), MAX(p) FROM w GROUP BY 2)
       |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(CASE WHEN mx < $zmLo OR mn > $zmHi THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
       |  CAST(SUM(CASE WHEN mx < $zmLo OR mn > $zmHi THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS skip_frac
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- shuffle_skew_audit: hash-partition balance diagnostic ----

  val ssaParts = 32

  /** The pre-flight skew diagnostic for a shuffle on l_orderkey: rows,
    * distinct keys, and the hottest single key per hash partition (md5
    * bucketing stands in for Spark's Murmur3 — same balance profile,
    * portable to the oracle). Per-key counts first, so the partition
    * rollup never rescans the fact table and hot keys are visible
    * before they melt an executor.
    */
  def shuffleSkewAuditQ(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      .withColumn("pid",
        conv(substring(md5(concat(lit("part:"), col("l_orderkey").cast("string"))), 1, 13), 16, 10)
          .cast("long") % ssaParts)
      .groupBy(col("pid"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_rows"))
      .orderBy(col("pid"))

  val shuffleSkewAuditSql: String =
    s"""WITH k AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
       |           FROM lineitem GROUP BY 1),
       |p AS (SELECT cnt,
       |        CAST(('0x'||substr(md5('part:'||CAST(l_orderkey AS VARCHAR)),1,13)) AS BIGINT) % $ssaParts AS pid
       |      FROM k)
       |SELECT pid, CAST(SUM(cnt) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(MAX(cnt) AS BIGINT) AS max_key_rows
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zone_map_prune" -> (zoneMapPruneQ _),
    "shuffle_skew_audit" -> (shuffleSkewAuditQ _),
    "q1_agg" -> (q1Agg _),
    "skew_join" -> (skewJoinQ _),
    "zorder_layout" -> (zorderLayoutQ _),
    "fk_count" -> (fkCountQ _),
    "adj_fanout" -> (adjFanoutQ _),
    "fanout_weight" -> (fanoutWeightQ _),
    "subschema_sizes" -> (subschemaSizesQ _),
    "ur_size" -> (urSizeQ _),
    "distinct_vals" -> (distinctValsQ _),
    "dict_encode" -> (dictEncodeQ _),
    "factorize" -> (factorizeQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "zone_map_prune" -> zoneMapPruneSql,
    "shuffle_skew_audit" -> shuffleSkewAuditSql,
    "q1_agg" -> q1AggSql,
    "skew_join" -> skewJoinSql,
    "zorder_layout" -> zorderLayoutSql,
    "fk_count" -> fkCountSql,
    "adj_fanout" -> adjFanoutSql,
    "fanout_weight" -> fanoutWeightSql,
    "subschema_sizes" -> subschemaSizesSql,
    "ur_size" -> urSizeSql,
    "distinct_vals" -> distinctValsSql,
    "dict_encode" -> dictEncodeSql,
    "factorize" -> factorizeSql
  )
}
