package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main and the test suite run
  * on. Settings that restate a Spark 4.1 default (AQE, skew joins,
  * partition coalescing) are not set; any SQL conf can still be changed
  * at runtime with `spark.conf.set`.
  */
object GraftSession {

  /** In-memory groups per partition before an object-hash aggregate
    * falls back to sort (Spark's default is 128). The bounded top-k
    * aggregates (TopKPairs) keep <= k-entry buffers per group, and at
    * 128 groups they fall back to the input-sized per-partition sort
    * they replace; 128k groups x ~100 B is ~13 MB per partition. The
    * threshold is session-wide: it covers EVERY object-hash aggregate,
    * including the `collect_list`/`collect_set` rewrites (event-type
    * pairs, Adamic-Adar) whose per-group buffers are bounded by key
    * degree, not by k. On skewed data those can outgrow memory instead
    * of degrading to sort; lower it with `spark.conf.set` on
    * memory-constrained executors.
    */
  val objectHashAggGroups = 131072

  /** `SPARK_GRAFT_CPUS` when set, else the machine's processors. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC session
    * time, parquet nanosecond timestamps read as longs (TESTDATA's
    * layout), graft's Catalyst extensions and no UI.
    */
  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        objectHashAggGroups.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
