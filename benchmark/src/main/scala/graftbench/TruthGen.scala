package graftbench

import graft.SchemaGraph

/** Seeded generator of restricted conjunctive `COUNT(*)` queries: the
  * true-cardinality probes a query-driven estimator is trained on.
  *
  * Table sets are the connected sets of 1–4 tables along
  * `SchemaGraph.tpch` edges (30 of them), each visited `perSet` times so every run
  * has the same mix of join shapes. A fixed draw picks each query's 1–4
  * predicates and their ops; the seed picks their literals, so seeds
  * differ in selectivity, not in shape. Literals come from per-column value
  * pools drawn from the dataset. `IS [NOT] NULL` goes to a column that
  * holds NULLs when the table set has one. Each query is one SQL string
  * that both `PseudoSql` and DuckDB accept.
  */
object TruthGen {
  final case class Query(id: String, sql: String, tables: Seq[String], ops: Seq[String])

  /** Column domain: "num", "str" or "ts", whether the column holds NULLs,
    * and sample values as SQL text (numbers bare, strings and dates
    * unquoted). */
  final case class Pool(kind: String, nullable: Boolean, values: IndexedSeq[String])

  val ops: Seq[String] = Seq("=", "!=", "<>", "<", "<=", ">", ">=", "IN",
    "BETWEEN", "LIKE", "NOT LIKE", "IS NULL", "IS NOT NULL")

  private def allowed(kind: String): Set[String] = kind match {
    case "num" => ops.toSet - "LIKE" - "NOT LIKE"
    case "str" => ops.toSet - "BETWEEN"
    case _ => Set("=", "!=", "<>", "<", "<=", ">", ">=", "BETWEEN", "IS NULL", "IS NOT NULL")
  }

  /** Reads `table<TAB>column<TAB>kind<TAB>nullable<TAB>value` lines. */
  def readPools(path: String): Map[(String, String), Pool] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split('\t')).toSeq
      .groupBy(a => (a(0), a(1)))
      .map { case (k, rows) =>
        k -> Pool(rows.head(2), rows.head(3) == "1", rows.map(_(4)).toIndexedSeq)
      }
    finally src.close()
  }

  /** Connected table sets of size 1..maxSize, in a fixed order. A set in
    * which one table is the key side of two of its joins (customer and
    * supplier through nation) is left out: that is a many-to-many join,
    * and its count runs to billions of rows. */
  def connectedSets(g: SchemaGraph, maxSize: Int): Seq[Seq[String]] = {
    val order = g.tables.zipWithIndex.toMap
    def neighbours(t: String): Seq[String] = g.edges.collect {
      case e if e.pkTable == t => e.fkTable
      case e if e.fkTable == t => e.pkTable
    }
    var level: Set[Set[String]] = g.tables.map(Set(_)).toSet
    var all = level
    for (_ <- 2 to maxSize) {
      level = for (s <- level; t <- s; n <- neighbours(t) if !s(n)) yield s + n
      all ++= level
    }
    def manyToMany(s: Set[String]): Boolean =
      g.edges.filter(e => s(e.pkTable) && s(e.fkTable)).groupBy(_.pkTable).exists(_._2.size > 1)
    all.filterNot(manyToMany).toSeq.map(_.toSeq.sortBy(order))
      .sortBy(s => (s.size, s.map(order).mkString(",")))
  }

  private def quote(kind: String, v: String): String =
    if (kind == "num") v else "'" + v.replace("'", "''") + "'"

  private def likePattern(rnd: scala.util.Random, v: String): String = {
    val k = 1 + rnd.nextInt(math.max(1, math.min(4, v.length)))
    rnd.nextInt(4) match {
      case 0 => v.take(k) + "%"
      case 1 => "%" + v.takeRight(k)
      case 2 =>
        val i = rnd.nextInt(math.max(1, v.length - k + 1))
        "%" + v.slice(i, i + k) + "%"
      case _ =>
        val i = rnd.nextInt(v.length)
        v.updated(i, '_')
    }
  }

  private val ShapeSeed = 20210620L

  def generate(seed: Long, pools: Map[(String, String), Pool], perSet: Int): Seq[Query] = {
    val g = SchemaGraph.tpch
    // the query shapes (predicate count, columns, ops) come from a fixed
    // draw, the literals from the seed: every seed has the same mix of
    // shapes, so seeds differ in selectivities, not in the kind of work
    val rnd = new scala.util.Random(ShapeSeed)
    val lit = new scala.util.Random(seed)
    val sets = connectedSets(g, 4)
    var opCursor = 0
    val out = for (rep <- 0 until perSet; (tables, si) <- sets.zipWithIndex) yield {
      // a connected set of at most 4 tables induces a tree of edges
      val joins = g.edges.filter(e => tables.contains(e.pkTable) && tables.contains(e.fkTable))
        .map(e => s"${e.fkTable}.${e.fkCol} = ${e.pkTable}.${e.pkCol}")
      val cols = pools.keys.filter(k => tables.contains(k._1)).toSeq.sorted
      val withNulls = cols.filter(pools(_).nullable)
      val nPreds = 1 + rnd.nextInt(4)
      val preds = (0 until nPreds).map { _ =>
        val picked = cols(rnd.nextInt(cols.size))
        val ok = allowed(pools(picked).kind)
        // walk the op list so every op recurs across the workload
        val start = opCursor
        while (!ok(ops(opCursor % ops.size)) && opCursor - start < ops.size) opCursor += 1
        val op = ops(opCursor % ops.size)
        opCursor += 1 + rnd.nextInt(2)
        val (t, c) =
          if (op.startsWith("IS") && withNulls.nonEmpty) withNulls(rnd.nextInt(withNulls.size))
          else picked
        val pool = pools((t, c))
        def v(): String = pool.values(lit.nextInt(pool.values.size))
        val sql = op match {
          case "IN" => s"$c IN (${Seq.fill(2 + lit.nextInt(3))(v()).distinct.map(quote(pool.kind, _)).mkString(", ")})"
          case "BETWEEN" =>
            val (x, y) = (v(), v())
            val inOrder = if (pool.kind == "num") BigDecimal(x) <= BigDecimal(y) else x <= y
            val (lo, hi) = if (inOrder) (x, y) else (y, x)
            s"$c BETWEEN ${quote(pool.kind, lo)} AND ${quote(pool.kind, hi)}"
          case "LIKE" | "NOT LIKE" => s"$c $op ${quote("str", likePattern(lit, v()))}"
          case "IS NULL" | "IS NOT NULL" => s"$c $op"
          case _ => s"$c $op ${quote(pool.kind, v())}"
        }
        (op, sql)
      }
      val where = (joins ++ preds.map(_._2)).mkString(" AND ")
      Query(f"t$rep%02d_$si%02d", s"SELECT COUNT(*) FROM ${tables.mkString(", ")} WHERE $where",
        tables, preds.map(_._1))
    }
    out
  }

}
