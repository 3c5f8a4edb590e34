package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** A group of registered queries: each name maps to its Spark plan and,
  * where the operator is SQL-expressible, to its DuckDB oracle SQL. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
  def name: String = getClass.getSimpleName.stripSuffix("$")
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QueriesCore.q1Agg(spark, "/root/testdata/sf0.001")

  val modules: Seq[QueryModule] = Seq(
    QueriesCore, QueriesEstimators, QueriesSampleEst, QueriesNar,
    QueriesStats, QueriesText, QueriesStreaming, QueriesCorpus,
    QueriesAnalytics, QueriesGraph, QueriesRelational, QueriesPipeline,
    QueriesWave6, QueriesWave7, QueriesWave8, QueriesWave9, QueriesWave10,
    QueriesWave11, QueriesWave12, QueriesWave13, QueriesWave14,
    QueriesWave15, QueriesWave16, QueriesWave17, QueriesWave18,
    QueriesWave19, QueriesWave20, QueriesWave21, QueriesWave22,
    QueriesWave23, QueriesWave24, QueriesWave25, QueriesWave26,
    QueriesWave27, QueriesWave28, QueriesWave29, QueriesWave30,
    QueriesParity)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(modules.map(m => m.name -> m.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    merged(modules.map(m => m.name -> m.oracleSql))

  /** Union of named maps; a key defined by two of them is an error
    * naming both, never a silent shadow. */
  private[graft] def merged[V](named: Seq[(String, Map[String, V])]): Map[String, V] =
    named.foldLeft(Map.empty[String, (String, V)]) { case (acc, (owner, m)) =>
      m.foldLeft(acc) { case (a, (k, v)) =>
        a.get(k).foreach { case (first, _) =>
          throw new IllegalStateException(
            s"query key '$k' is defined in both $first and $owner")
        }
        a.updated(k, (owner, v))
      }
    }.map { case (k, (_, v)) => k -> v }
}
