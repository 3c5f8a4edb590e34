package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, classic}

/** A frame whose logical plan is the cache entry's `InMemoryRelation`
  * leaf for an already-persisted `df`: consumers analyze one node, and
  * the cached RDD keeps its lineage. Lives under org.apache.spark.sql
  * because `classic.Dataset.ofRows` is private[sql].
  */
object CachedLeaf {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val r = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .getOrElse(throw new IllegalStateException("frame is not persisted"))
      .cachedRepresentation
    // the entry may be shared by a canonically equal plan with other
    // column names: serve df's own output, as the cache substitution
    // does. Ordering is dropped because newInstance (a self-join) keeps
    // its old attribute ids and canonicalization then fails; physical
    // ordering still comes from InMemoryTableScanExec's cached plan.
    val leaf = r.withOutput(df.queryExecution.analyzed.output)
      .copy(outputOrdering = Nil)
    leaf.statsOfPlanToCache = r.statsOfPlanToCache
    classic.Dataset.ofRows(spark, leaf)
  }
}
