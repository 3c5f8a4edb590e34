package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** Memo's one serving mode: the build is persisted and consumers read
  * its cache entry's InMemoryRelation leaf — the same rows behind a
  * one-node plan, with the lineage kept and the subtree still visible
  * to the plan guards.
  */
class MemoServingSpec extends SparkSpec {

  /** A deliberately deep frame: 120 unrolled projections over tiny
    * data, like the pagerank iterates. */
  private def deepFrame(): DataFrame = {
    import spark.implicits._
    var df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    (1 to 120).foreach { i =>
      df = df.select(col("id"), (col("v") * 1.0 + i - i).as("v"))
    }
    df
  }

  private def analyzedNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a deep memo is served as a <=3-node plan with identical rows") {
    assert(analyzedNodes(deepFrame()) > 100)
    val served = Memo(spark, "memo-serving-spec", "deep")(deepFrame())
    assert(analyzedNodes(served) <= 3, s"got ${analyzedNodes(served)} nodes")
    assert(rows(served) == rows(deepFrame()))
  }

  test("a self-join of an ordered memo plans and runs") {
    import spark.implicits._
    val served = Memo(spark, "memo-serving-spec", "ordered")(
      (1L to 20L).toDF("id").withColumn("v", col("id") * 10).orderBy(col("id")))
    val lag = served.join(served.select(col("id").as("prev"), col("v").as("pv")),
      col("prev") === col("id") - 1)
    assert(lag.count() == 19)
    assert(lag.filter(col("v") - col("pv") =!= 10).isEmpty)
  }

  test("served rows recompute from lineage once the cache entry is dropped") {
    val base = deepFrame()
    val served = Memo(spark, "memo-serving-spec", "dropped")(base)
    val before = rows(served)
    base.unpersist(blocking = true) // clears the entry the leaf reads
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(rows(served) == before)
  }

  test("the executed plan exposes the memo subtree through cachedPlan") {
    import spark.implicits._
    // AQE off for the build too: an AdaptiveSparkPlanExec cached plan is
    // a traversal leaf
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      val served = Memo(spark, "memo-serving-spec", "agg")(
        Seq((1, 2L), (1, 3L), (2, 4L)).toDF("k", "x")
          .groupBy(col("k")).agg(sum(col("x")).as("s")))
      served.filter(col("s") > 0).queryExecution.executedPlan
        .collect { case s: InMemoryTableScanExec => s }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.size == 1)
    assert(scans.head.relation.cachedPlan.collect { case a: HashAggregateExec => a }.nonEmpty)
  }
}
