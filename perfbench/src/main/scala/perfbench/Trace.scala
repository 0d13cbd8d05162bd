package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counts from Spark's listener bus. A span reads them before
  * and after its body (with the bus drained) and keeps the difference.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val names = Seq("jobs", "stages", "tasks", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "task_gc_ms", "plan_ms", "rows_scored")
  private val adders = names.map(_ -> new LongAdder).toMap
  private def add(k: String, v: Long): Unit = adders(k).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("task_gc_ms", m.jvmGCTime)
    }
  }

  /** Planning time from the query's own phase tracker, and the rows the
    * search scored: the output of the join that pairs each stored vector
    * with its query vector and its datapoint's similarity method.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
    add("rows_scored", collectWithSubqueries(qe.executedPlan) {
      case j: BaseJoinExec if scoringJoin(j) => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scoringJoin(p: SparkPlan): Boolean = {
    val out = p.output.map(_.name).toSet
    out("query_vec") && out("similaritymethod")
  }

  def snapshot(): Map[String, Long] = adders.map { case (k, a) => k -> a.sum() }
}

final case class Span(id: Int, parent: Int, name: String, request: Long,
    startNs: Long, endNs: Long, counts: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
  def apply(k: String): Long = counts.getOrElse(k, 0L)
}

/** Spans around each call into an engine layer. Off, a span is the bare
  * call. On, it drains the listener bus on both sides of the call and
  * records name, start, end, parent span, request id and the counter
  * deltas. Spans stay in memory until [[json]] writes them out at exit.
  * The time spent draining and bookkeeping is summed as the tracer's own
  * overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new SparkCounters
  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var overheadNs = 0L

  private def settled(): Map[String, Long] = {
    ListenerBridge.drain(spark.sparkContext, 30000L)
    counters.snapshot()
  }

  def span[T](name: String, request: Long)(body: => T): T =
    if (!enabled) body
    else {
      val o0 = System.nanoTime()
      val c0 = settled()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      overheadNs += t0 - o0
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = settled()
        stack = stack.tail
        spans += Span(id, parent, name, request, t0, t1,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) })
        overheadNs += System.nanoTime() - t1
      }
    }

  /** Renames the span that closed last, for calls whose kind is known
    * only from their result (a cache hit or miss). */
  def relabelLast(name: String): Unit =
    if (spans.nonEmpty) spans(spans.size - 1) = spans.last.copy(name = name)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def json: String = spans.map { s =>
    val counts = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","request":${s.request},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
