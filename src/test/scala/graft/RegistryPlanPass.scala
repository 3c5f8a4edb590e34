package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable
import org.apache.spark.GraftListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One planning pass over every registered query, shared by the specs
  * that check the registry as a whole: `EntrySpec` reads the entries
  * that failed to resolve or plan, `PlanSizeAuditSpec` reads the plan
  * sizes. Building and planning all entries takes most of a minute, so
  * it runs once per test JVM and scale factor, on first use by either
  * spec.
  *
  * Each entry's executed plan is forced (analysis and planning errors
  * surface without executing the query) and its analyzed plan's nodes
  * are counted. A listener registered for the pass also counts the
  * analyzed plan of every action fired while constructing the frames
  * (memo builds), where an exponential lineage hides once the returned
  * frame is a collapsed LocalRelation.
  *
  * The memo namespace is aliased (`/./`) so the pass sees cold builds
  * regardless of suite ordering; Checkpoint keys by basename, so
  * warehouse-backed trainers still serve without retraining.
  */
object RegistryPlanPass {

  /** Per-plan node bound. Healthy plans here top out under 600 nodes
    * (measured at sf0.001: rfm_segments 598, markov_stationary 306,
    * progressive_est 204; the largest construction-time action plans 57
    * nodes); one more doubling of an exponential unroll blows straight
    * past this, so the bound catches regressions with wide margin on
    * both sides.
    */
  val bound = 8000

  /** Node count with a hard traversal cap, so a hypothetical
    * deep-exponential tree fails the assert in bounded time instead of
    * hanging the count itself. Descends into subquery plans.
    */
  def nodeCount(plan: LogicalPlan, cap: Int = bound * 4): Int = {
    val stack = mutable.Stack[LogicalPlan](plan)
    var n = 0
    while (stack.nonEmpty && n < cap) {
      val p = stack.pop()
      n += 1
      stack.pushAll(p.children)
      stack.pushAll(p.subqueries)
    }
    n
  }

  /** @param failures  "name: message" for each entry that did not
    *                  resolve and plan, in name order
    * @param sizes     analyzed-plan node count of each entry that did
    * @param maxAction largest analyzed plan of a construction-time
    *                  action, and that action's name
    */
  final case class Result(failures: Seq[String], sizes: Seq[(String, Int)],
      maxAction: (Int, String))

  private val results = mutable.Map.empty[String, Result]

  /** The pass over the registry at scale-factor directory `sf`. */
  def apply(spark: SparkSession, sf: String): Result =
    synchronized(results.getOrElseUpdate(sf, run(spark, sf)))

  private def run(spark: SparkSession, sf: String): Result = {
    val coldSf = sf.replaceAll("(sf[0-9.]+)$", "./$1") // fresh Memo keys
    val maxSeen = new AtomicInteger(0)
    val worst = new AtomicReference[String]("")
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val n = nodeCount(qe.analyzed)
        if (n > maxSeen.getAndAccumulate(n, math.max)) worst.set(funcName)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val planned = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (try {
          val qe = fn(spark, coldSf).queryExecution
          qe.executedPlan
          Right(nodeCount(qe.analyzed))
        } catch {
          case e: Throwable =>
            Left(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
        })
      }
      // drain the (async) execution-listener bus before reading the max
      // — a fixed sleep can under-read maxSeen on a loaded machine and
      // silently pass an exponential-lineage regression
      GraftListenerBusDrain.drain(spark.sparkContext, 60000)
      Result(planned.collect { case (_, Left(failure)) => failure },
        planned.collect { case (name, Right(n)) => name -> n },
        (maxSeen.get(), worst.get()))
    } finally spark.listenerManager.unregister(listener)
  }
}
