package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-level memo of materialized intermediate frames shared across
  * queries — stats tables, verified near-dup pairs, minhash signatures.
  * Keyed by (session, sf dir, tag): a frame is built and cached once per
  * session and served to every consumer as a single cached-relation
  * leaf, the way an engine materializes its statistics and signature
  * tables once rather than per query. Tags read by more than one query
  * are defined once, in [[SharedFrames]].
  */
object Memo {
  private val frames =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()

  /** Opt-in (Bench sets it): force-materialize each memo at build time
    * and record its wall seconds, so the untimed warm pass attributes
    * its cost PER MEMO instead of to whichever query touches the frame
    * first. Off by default — tests and library callers keep the lazy
    * persist (planning must not execute). */
  @volatile var eagerTiming: Boolean = false

  /** (dir, tag) → build wall seconds, recorded when [[eagerTiming]] is
    * on. Bench dumps it into BENCH_DETAIL.json. */
  val buildSecs =
    scala.collection.concurrent.TrieMap[(String, String), Double]()

  /** Per-key build locks: concurrent callers (the parallel warm pass)
    * must not run the same build twice — a duplicated build wastes a
    * full materialization and registers a duplicate cache entry. Lock
    * objects are created race-safely via putIfAbsent. Keyed by
    * (dir, tag) only — NOT by session — so retired sessions are not
    * strongly retained through the lock map (cross-session contention
    * on the same (dir, tag) is both rare and harmless). */
  private val locks =
    scala.collection.concurrent.TrieMap[(String, String), Object]()

  /** Persist the build and serve its cache entry's leaf: consumers
    * analyze one node instead of the memo's whole tree (r14, sf0.1:
    * counting the cached 25-row final pagerank iterate re-paid 1.03 s
    * of analysis per count over its unrolled lineage, vs 0.10 s for a
    * shallow memo). Rows, caching and lineage are unchanged, and the
    * plan guards still reach the subtree through
    * `InMemoryTableScanExec.relation.cachedPlan`. Lazy: planning a
    * consumer must not execute the build.
    */
  private def served(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CachedLeaf(persisted(df))

  /** Job-group id for a memo build's jobs (NUL-separated: dirs and
    * tags never contain NUL, so Bench can split it back losslessly). */
  def cpuGroup(dir: String, tag: String): String =
    s"graft-memo\u0000$dir\u0000$tag"

  def apply(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val key = (spark, dir, tag)
    frames.get(key).getOrElse {
      val lockKey = (dir, tag)
      locks.putIfAbsent(lockKey, new Object)
      locks(lockKey).synchronized {
        frames.getOrElseUpdate(key, {
          if (eagerTiming) {
            // Tag this build's jobs with a job group so Bench's
            // listener can sum the tasks' CPU time per memo: under
            // the concurrent warm pass the WALL entry in buildSecs
            // includes co-running queries' interference (upper
            // bound), while the task-CPU sum is interference-free.
            // Job groups are thread-local; restore what the caller
            // had (nested memo builds restore correctly too).
            val sc = spark.sparkContext
            val prevG = sc.getLocalProperty("spark.jobGroup.id")
            val prevD = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(cpuGroup(dir, tag), s"memo build: $tag")
            val t0 = System.nanoTime()
            try {
              val df = served(build)
              df.count()
              buildSecs.put((dir, tag), (System.nanoTime() - t0) / 1e9)
              df
            } finally {
              sc.setLocalProperty("spark.jobGroup.id", prevG)
              sc.setLocalProperty("spark.job.description", prevD)
            }
          } else served(build)
        })
      }
    }
  }

  /** Idempotent cache: two memo tags (or a memo and an operator-level
    * persist) can resolve to canonically identical plans — re-caching
    * would log "Asked to cache already cached data" and register a
    * duplicate cache entry. Reuse the existing one instead.
    */
  def persisted(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(level)
    else df
}
