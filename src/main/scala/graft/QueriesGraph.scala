package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-shaped analytics over the relational tables (SURVEY.md §2 rows
  * 99-100): exact triangle counting on the co-purchase graph and an
  * unrolled PageRank over the customer-nation → supplier-nation trade
  * graph. Both follow the repo's portable-exactness discipline so the
  * DuckDB oracle hash-matches: integer counts everywhere, and PageRank
  * mass on the 2^-20 fixed-point grid (floor-quantized after every
  * multiply, so double rounding can never diverge across engines).
  */
object QueriesGraph extends QueryModule {

  // ---- row 99: degree-ordered exact triangle counting ----

  /** Exact triangle count over the undirected co-purchase graph (parts
    * that share an order). Edges are directed low→high by (degree, id)
    * before the path join — the classic distributed-triangle trick that
    * bounds per-node out-degree by O(sqrt(E)) and keeps the path
    * intermediate at O(E^1.5) instead of sum(deg²) on the raw graph
    * (max out-degree 73 vs raw max degree in the hundreds at sf0.001).
    * Edge generation is a per-order self-join, bounded by TPC-H's ~7
    * items/order fan-out, so it stays linear in the table.
    */
  def triangleCountQ(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = Memo(spark, dir, "graph:copurchaseEdges")(
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct())
    val d = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("c"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // de is referenced three times (both path legs + the closing
    // edge probe) — materialize it so the degree joins run once.
    // The degree table is |V|-sized and the directed edge list is
    // 2-longs-per-edge — both broadcastable well past this scale (de is
    // ~16 B/edge; fine to ~100 M edges on a 4 GB executor). Broadcasting
    // de into both the wedge join and the closing-edge probe keeps the
    // O(E^1.5) path intermediate entirely partition-local: zero shuffle
    // of the 83 M wedge rows at sf0.1. For graphs whose edge list
    // outgrows a broadcast, drop the hints and AQE falls back to
    // sort-merge — the algorithm is unchanged.
    val de = Memo(spark, dir, "graph:directedEdges")(e
      .join(broadcast(d.select(col("x").as("u"), col("c").as("du"))), Seq("u"))
      .join(broadcast(d.select(col("x").as("v"), col("c").as("dv"))), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst")))
    // Adjacency-intersection counting: for each directed edge (u,v) the
    // triangles closed through it are |N+(u) ∩ N+(v)| — each triangle
    // is counted exactly once, at its unique two-out-edge apex. The
    // wedge set (83 M rows at sf0.1) never materializes: one pass over
    // the E-row edge list against a broadcast |V|-row adjacency table
    // whose arrays the degree ordering caps at O(sqrt(E)) (≤97 here).
    // For graphs whose adjacency outgrows a broadcast, drop the hints
    // and the same plan runs as two shuffle joins.
    val adj = Memo(spark, dir, "graph:triAdj")(
      de.groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    val tri = de
      .join(broadcast(adj.select(col("src").as("s1"), col("nbrs").as("nu"))),
        col("src") === col("s1"))
      .join(broadcast(adj.select(col("src").as("s2"), col("nbrs").as("nv"))),
        col("dst") === col("s2"), "left")
      .select(size(array_intersect(col("nu"),
        coalesce(col("nv"), array().cast("array<bigint>")))).as("t"))
      .agg(sum(col("t")).cast("bigint").as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
  }

  val triangleCountSql: String =
    """WITH e AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |d AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
      |de AS (SELECT CASE WHEN (du.c < dv.c) OR (du.c = dv.c AND u < v) THEN u ELSE v END AS src,
      |              CASE WHEN (du.c < dv.c) OR (du.c = dv.c AND u < v) THEN v ELSE u END AS dst
      |       FROM e JOIN d du ON du.x = e.u JOIN d dv ON dv.x = e.v)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM de a JOIN de b ON a.src = b.src AND a.dst <> b.dst
      |   JOIN de c ON c.src = a.dst AND c.dst = b.dst) AS n_triangles""".stripMargin

  // ---- row 100: fixed-point PageRank on the nation trade graph ----

  val prIters = 5
  val prGrid = 1048576.0 // 2^20

  /** 5 unrolled PageRank iterations (d = 0.85) over the nation-level
    * trade graph: an edge customer-nation → supplier-nation weighted by
    * lineitem count. The graph is aggregated to ≤25 nodes before any
    * iteration, so each step is a broadcast join over a frame that fits
    * in a single task — the heavy work is the one edge-building join
    * pipeline. All rank mass lives on the 2^-20 grid as BIGINTs;
    * per-edge transition probabilities are floor-quantized once, and
    * every contribution product is floor-quantized before the sum, so
    * aggregation order cannot change a single bit.
    */
  def nationPagerankQ(spark: SparkSession, dir: String): DataFrame = {
    // The aggregated edge frame feeds nodes/p/r0, each referenced by
    // every unrolled iteration — memoize it or the 4-table join
    // pipeline re-executes once per reference (~11×).
    val e = SharedFrames.nationEdges(spark, dir)
    // nodes and p are ≤|V|²-row frames referenced by every unrolled
    // iteration — memoized so the iterations read a cached handful of
    // rows instead of re-deriving the frame per reference.
    val nodes = Memo(spark, dir, "graph:prNodes")(
      e.select(col("u").as("nk")).union(e.select(col("v").as("nk")))
        .distinct()
        .crossJoin(
          e.select(col("u").as("nk")).union(e.select(col("v").as("nk")))
            .agg(countDistinct(col("nk")).as("nn"))))
    val p = Memo(spark, dir, "graph:prP")(
      e.withColumn("od", sum(col("w")).over(Window.partitionBy(col("u"))))
        .select(col("u"), col("v"),
          floor(col("w").cast("double") * lit(prGrid) / col("od")).cast("bigint").as("pg")))
    val r0 = nodes.select(col("nk"), col("nn"),
      floor(lit(prGrid) / col("nn")).cast("bigint").as("rg"))
    // Every frame in the loop is ≤|V|² rows: broadcast both join sides
    // so the five iterations plan as local hash joins with zero
    // exchanges between them, instead of 10 tiny 32-partition shuffles
    // whose per-stage latency dominates the query.
    val rFinal = (1 to prIters).foldLeft(r0) { (r, it) =>
      // Memoized per iterate: the next iteration references this rank
      // frame twice (contrib join + dangling-node pad) — cached, the
      // unrolled chain stays linear instead of re-deriving every
      // earlier step per reference.
      Memo(spark, dir, s"graph:prR$it") {
        val contrib = broadcast(r).join(p, r("nk") === p("u"))
          .groupBy(col("v").as("nk2"))
          .agg(sum(floor(col("rg").cast("double") * col("pg") / lit(prGrid)).cast("bigint")).as("s"))
        nodes.join(broadcast(contrib), col("nk") === col("nk2"), "left")
          .select(col("nk"), col("nn"),
            (floor(lit(0.15) * lit(prGrid) / col("nn")).cast("bigint") +
              floor(lit(0.85) * coalesce(col("s"), lit(0L))).cast("bigint")).as("rg"))
      }
    }
    rFinal
      .select(col("nk").as("nationkey"), col("rg").as("rank_grid"),
        (col("rg").cast("double") / lit(prGrid)).as("pagerank"))
      .orderBy(col("rank_grid").desc, col("nationkey"))
  }

  val nationPagerankSql: String = {
    val base =
      """WITH e AS (
        |  SELECT c.c_nationkey AS u, s.s_nationkey AS v, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |nodes AS (SELECT nk, nn FROM
        |  (SELECT DISTINCT u AS nk FROM e UNION SELECT DISTINCT v FROM e) t
        |  CROSS JOIN (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS nn FROM
        |    (SELECT u AS x FROM e UNION SELECT v FROM e))),
        |p AS (SELECT u, v, CAST(FLOOR(CAST(w AS DOUBLE) * 1048576.0 / od) AS BIGINT) AS pg
        |      FROM (SELECT u, v, w, SUM(w) OVER (PARTITION BY u) AS od FROM e)),
        |r0 AS (SELECT nk, nn, CAST(FLOOR(1048576.0 / nn) AS BIGINT) AS rg FROM nodes)""".stripMargin
    val iters = (1 to prIters).map { k =>
      val j = k - 1
      s"""r$k AS (
         |  SELECT nodes.nk, nodes.nn,
         |    CAST(FLOOR(0.15 * 1048576.0 / nodes.nn) AS BIGINT)
         |      + CAST(FLOOR(0.85 * COALESCE(c.s, 0)) AS BIGINT) AS rg
         |  FROM nodes LEFT JOIN (
         |    SELECT v AS nk2, CAST(SUM(CAST(FLOOR(CAST(rg AS DOUBLE) * pg / 1048576.0) AS BIGINT)) AS BIGINT) AS s
         |    FROM r$j JOIN p ON r$j.nk = p.u GROUP BY 1) c ON nodes.nk = c.nk2)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT nk AS nationkey, rg AS rank_grid, CAST(rg AS DOUBLE) / 1048576.0 AS pagerank
       |FROM r$prIters ORDER BY rank_grid DESC, nationkey""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "triangle_count" -> (triangleCountQ _),
    "nation_pagerank" -> (nationPagerankQ _)
  )

  val oracleSql: Map[String, String] = Map(
    "triangle_count" -> triangleCountSql,
    "nation_pagerank" -> nationPagerankSql
  )
}
