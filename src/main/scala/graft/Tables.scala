package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import scala.collection.concurrent.TrieMap

/** Parquet table loader for the TESTDATA.md layout: one parquet per table
  * under an sf directory. At cluster scale the same API points at a
  * partitioned table root; nothing here assumes single-file inputs.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Per-table unique row-identity columns — the deterministic candidate
    * ORDER for sampling picks. NOTE: the synthetic TESTDATA lineitem does
    * NOT enforce the TPC-H (l_orderkey, l_linenumber) PK; the 5-column
    * prefix below is verified unique at every test scale factor (and
    * orderable identically in Spark and DuckDB — no double→string casts,
    * doubles participate only in comparisons).
    */
  val pks: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )

  /** One cached read: the served frame and its raw parquet schema. */
  private final case class Read(frame: java.lang.ref.WeakReference[DataFrame], raw: StructType)

  /** Session-level read cache for every parquet input: the base tables
    * served by [[apply]] and the model-store artifacts served by
    * [[Checkpoint]]. The cached object is the unexecuted READ PLAN; no
    * data or results are cached, and every action still computes from
    * the parquet files.
    *
    * Each entry holds the served frame WEAKLY and the raw parquet
    * schema (before `fixups`) STRONGLY. A DataFrame references its
    * session, so a strong frame would pin retired sessions through the
    * weak session key; a StructType references nothing. While the frame
    * is live, every caller gets that same object. Once GC has collected
    * it (in practice between almost every pair of ops), the next call
    * re-reads with the remembered schema: a file listing and a fresh
    * relation, but no schema-inference Spark job.
    *
    * Caveat (same as any cached read relation): a process that
    * OVERWRITES a cached path under a live session must use a fresh
    * session or drop the entry with [[forget]] (Checkpoint does on
    * rebuild). Every test writes each dataset once into a fresh temp
    * dir, and TESTDATA is read-only.
    */
  private val reads = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Read]]())

  private def sessionReads(spark: SparkSession): TrieMap[String, Read] =
    reads.computeIfAbsent(spark, _ => TrieMap[String, Read]())

  /** `spark.read.parquet(path)` passed through `fixups`, served from the
    * session's read cache (see [[reads]]). */
  def parquet(spark: SparkSession, path: String)(fixups: DataFrame => DataFrame): DataFrame = {
    val m = sessionReads(spark)
    val cached = m.get(path)
    cached.flatMap(r => Option(r.frame.get)).getOrElse {
      val read = cached.fold(spark.read)(r => spark.read.schema(r.raw)).parquet(path)
      val df = fixups(read)
      m.put(path, Read(new java.lang.ref.WeakReference(df), read.schema))
      df
    }
  }

  /** Drops `path` from the session's read cache, so the next read
    * infers the schema of whatever is there now. */
  private[graft] def forget(spark: SparkSession, path: String): Unit =
    sessionReads(spark).remove(path)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")(timestampFixups(name))

  private def timestampFixups(name: String)(df: DataFrame): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) in parquet, which Spark reads only as
    // a nanos LONG (spark.sql.legacy.parquet.nanosAsLong=true, set by our
    // session builders). Truncate to micros — the same floor DuckDB's
    // ns→us conversion applies — so both engines see identical instants.
    val nanosFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df
    // Newer testdata writes timestamps as TIMESTAMP_NTZ. Our sessions pin
    // spark.sql.session.timeZone=UTC, so casting NTZ → TIMESTAMP keeps the
    // exact instant (and unix_micros etc. resolve); DuckDB reads the same
    // parquet natively, so the oracle sees identical values.
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(nanosFixed) {
      (acc, f) => acc.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }
}
