package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The memos more than one query reads, each tag with its one builder:
  * a shared frame's plan cannot depend on which consumer builds it
  * first. Memos read by a single query stay inline at that query.
  */
object SharedFrames {

  /** (day_us, x): orders revenue per day in integer cents. */
  def dailyOrdersRev(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave7:dailyOrdersRev")(
      Tables(spark, dir, "orders")
        .groupBy(expr("unix_micros(date_trunc('DAY', o_orderdate))").as("day_us"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("x")))

  /** (day_us, n): events per day. */
  def dailyEvents(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave6:dailyEvents")(
      Tables(spark, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('DAY', ts))").as("day_us"))
        .agg(count(lit(1)).as("n")))

  /** (u, v, w): lineitems per (customer nation, supplier nation). */
  def nationEdges(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "graph:nationEdges")(
      Tables(spark, dir, "lineitem")
        .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("c_nationkey").as("u"), col("s_nationkey").as("v"))
        .agg(count(lit(1)).as("w")))

  /** (source, n, k): documents per source and how many pass the
    * doc-filter gate. */
  def srcPassRates(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave9:srcPassRates")(
      operators.Corpus.docFilter(Tables(spark, dir, "documents"))
        .join(Tables(spark, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("k")))

  /** (doc_a, doc_b): the collapsed minhash-LSH candidate pairs. */
  def lshCand(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave9:lshCand")(
      QueriesText.lshCands(spark, dir).select(col("doc_a"), col("doc_b")))

  /** (segment, day_us, score): the level-1 binary-segmentation cut of
    * the daily revenue series. */
  def binsegL1(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "wave16:binsegL1")(
      QueriesWave16.argmaxCusum(dailyOrdersRev(spark, dir), lit("all")))

  /** (vec_id, m, code): product-quantization codes of every embedding. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    Memo(spark, dir, "pqCodes")(
      operators.Similarity.pqEncode(Tables(spark, dir, "embeddings"),
        QueriesText.pqCentPred, QueriesText.pqNSub))
}
