package graft.query

/** The JOB-light-style cardinality benchmark over the TESTDATA schema
  * (reference: scardina/run.py:796-917 runs such a workload file; ops
  * drawn from estimators.py:94 OPS). Each entry's SQL is simultaneously
  * (a) input to `PseudoSql.parse` → the Spark plan, and (b) directly
  * runnable ANSI SQL for the DuckDB oracle — one string, zero drift.
  */
object CardBenchmark {

  /** (query_id, restricted conjunctive SQL). Predicates are chosen to be
    * non-empty at every test scale factor so q-error is finite.
    */
  val specs: Seq[(String, String)] = Seq(
    "b01" -> ("SELECT COUNT(*) FROM lineitem" +
      " WHERE l_quantity > 30 AND l_returnflag = 'R'"),
    "b02" -> ("SELECT COUNT(*) FROM orders" +
      " WHERE o_orderstatus IN ('F', 'O') AND o_totalprice > 250000"),
    "b03" -> ("SELECT COUNT(*) FROM lineitem, orders" +
      " WHERE lineitem.l_orderkey = orders.o_orderkey" +
      " AND o_orderpriority = '1-URGENT' AND l_discount BETWEEN 0.02 AND 0.08"),
    "b04" -> ("SELECT COUNT(*) FROM orders, customer" +
      " WHERE orders.o_custkey = customer.c_custkey" +
      " AND c_mktsegment = 'BUILDING' AND o_totalprice > 150000"),
    "b05" -> ("SELECT COUNT(*) FROM lineitem, part" +
      " WHERE lineitem.l_partkey = part.p_partkey" +
      " AND p_size <= 20 AND l_quantity < 25"),
    "b06" -> ("SELECT COUNT(*) FROM lineitem, part, supplier" +
      " WHERE lineitem.l_partkey = part.p_partkey" +
      " AND lineitem.l_suppkey = supplier.s_suppkey" +
      " AND p_type != 'PROMO' AND s_nationkey < 12"),
    "b07" -> ("SELECT COUNT(*) FROM lineitem, orders, customer" +
      " WHERE lineitem.l_orderkey = orders.o_orderkey" +
      " AND orders.o_custkey = customer.c_custkey" +
      " AND l_returnflag = 'A' AND c_mktsegment = 'FURNITURE'"),
    "b08" -> ("SELECT COUNT(*) FROM customer, nation, region" +
      " WHERE customer.c_nationkey = nation.n_nationkey" +
      " AND nation.n_regionkey = region.r_regionkey" +
      " AND r_name = 'ASIA' AND c_acctbal > 0"),
    "b09" -> ("SELECT COUNT(*) FROM lineitem, orders, customer, nation" +
      " WHERE lineitem.l_orderkey = orders.o_orderkey" +
      " AND orders.o_custkey = customer.c_custkey" +
      " AND customer.c_nationkey = nation.n_nationkey" +
      " AND n_regionkey = 2 AND o_orderpriority LIKE '1%'" +
      " AND l_shipdate <= '1997-12-31'"),
    "b10" -> ("SELECT COUNT(*) FROM lineitem, orders, part" +
      " WHERE lineitem.l_orderkey = orders.o_orderkey" +
      " AND lineitem.l_partkey = part.p_partkey" +
      " AND p_brand NOT LIKE 'Brand#1%' AND o_orderstatus = 'O'" +
      " AND l_tax < 0.05")
  )

  /** [[specs]] parsed once, in spec order — the list every estimator
    * arm, sampler and oracle generator reads.
    */
  lazy val parsed: Seq[(String, ParsedQuery)] =
    specs.map { case (id, sql) => (id, PseudoSql.parse(sql)) }

  /** Map an unqualified TPC-H-ish column to its table by prefix — the
    * schema's single-letter prefixes are unambiguous by construction.
    */
  def tableOf(column: String): String = {
    val c = column.split('.').last
    c.takeWhile(_ != '_') match {
      case "l" => "lineitem"
      case "o" => "orders"
      case "c" => "customer"
      case "p" => "part"
      case "s" => "supplier"
      case "n" => "nation"
      case "r" => "region"
      case other => throw new IllegalArgumentException(s"unknown prefix $other for $column")
    }
  }
}
