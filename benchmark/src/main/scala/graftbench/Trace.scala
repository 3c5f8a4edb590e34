package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the records the harness writes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Span and event recorder for the traced run. Everything stays in
  * memory and is written once, after the timed phase.
  *
  * Spans form the tree run → op → layer call → Spark job → stage. The
  * harness records the first three levels around its own calls into
  * the program; the Spark listener records jobs, stages and tasks, and
  * the query-execution listener records each executed plan's shape.
  * Every Spark event carries the op id that was current when the
  * listener bus delivered it (the harness drains the bus after every
  * op), and jobs also carry the op's job group. `storeRoot` is the
  * model store's directory: plan records count the scans of it. */
final class Trace(storeRoot: String) {
  private val records = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong(0)
  @volatile var currentOp: Long = 0L

  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds (fractional) of a `System.nanoTime` reading,
    * on the same clock as Spark's listener timestamps. */
  def ms(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(Json.obj(("k" -> kind) +: fields))

  def span(id: Long, parent: Long, op: Long, layer: String, name: String,
      t0: Long, t1: Long, attrs: (String, Any)*): Unit =
    emit("span", Seq("id" -> id, "parent" -> parent, "op" -> op,
      "layer" -> layer, "name" -> name, "t0" -> ms(t0), "t1" -> ms(t1)) ++ attrs: _*)

  def lines: Iterator[String] = {
    import scala.jdk.CollectionConverters._
    records.iterator().asScala
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit("job_start", "op" -> currentOp, "job" -> e.jobId, "t" -> e.time,
        "group" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull,
        "stages" -> e.stageIds)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job_end", "op" -> currentOp, "job" -> e.jobId, "t" -> e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      def sum(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      emit("stage", "op" -> currentOp, "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(),
        "t0" -> s.submissionTime.getOrElse(0L),
        "t1" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "run_ms" -> sum(_.executorRunTime), "cpu_ns" -> sum(_.executorCpuTime),
        "gc_ms" -> sum(_.jvmGCTime), "input_b" -> sum(_.inputMetrics.bytesRead),
        "shuffle_read_b" -> sum(_.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> sum(_.shuffleWriteMetrics.bytesWritten),
        "spill_b" -> sum(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      emit("task", "op" -> currentOp, "stage" -> e.stageId,
        "launch" -> e.taskInfo.launchTime, "finish" -> e.taskInfo.finishTime,
        "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
        "peak_b" -> m.map(_.peakExecutionMemory).getOrElse(0L))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      emit("stage_submit", "op" -> currentOp, "stage" -> e.stageInfo.stageId,
        "t" -> e.stageInfo.submissionTime.getOrElse(0L))
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = Trace.physicalNodes(qe.executedPlan)
      def n(p: SparkPlan => Boolean) = nodes.count(p)
      emit("plan", "op" -> currentOp, "func" -> funcName,
        "dur_s" -> durationNs / 1e9,
        "shuffles" -> n(_.isInstanceOf[ShuffleExchangeLike]),
        "broadcasts" -> n(_.isInstanceOf[BroadcastExchangeLike]),
        "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
        "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
        "mem_scans" -> n(_.isInstanceOf[InMemoryTableScanExec]),
        "file_scans" -> n(_.isInstanceOf[FileSourceScanExec]),
        "store_scans" -> Trace.storeScans(qe.executedPlan, storeRoot))
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

object Trace {
  /** Every node of a final physical plan: AQE wrappers and query stages
    * are opened, subquery plans included, cached relations are leaves. */
  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case s: QueryStageExec => physicalNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(physicalNodes)
  }

  /** File scans of the model store under `root`, also those inside
    * cached relations (an artifact read once and then served by a memo). */
  def storeScans(p: SparkPlan, root: String): Int = physicalNodes(p).map {
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root))) 1 else 0
    case m: InMemoryTableScanExec => storeScans(m.relation.cachedPlan, root)
    case _ => 0
  }.sum
}
