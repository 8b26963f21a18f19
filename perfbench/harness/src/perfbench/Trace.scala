package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed interval at a layer boundary. `parent` indexes the enclosing
  * span (-1 at the root); `op` is the id of the op that caused it (-1 for
  * set-up work).
  */
final case class Span(name: String, op: Int, parent: Int, startNs: Long,
  endNs: Long)

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory and written out when the run ends. When off, `span` only runs
  * its body, so untraced runs pay one branch per call.
  */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.length
      spans += Span(name, op, stack.headOption.getOrElse(-1),
        System.nanoTime(), 0L)
      stack = idx :: stack
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Plan, then run: `spark.plan` forces the executed plan, `spark.exec`
    * runs the collect on that same plan, so planning is not timed twice.
    */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    if (on) span("spark.plan")(df.queryExecution.executedPlan)
    span("spark.exec")(df.collect())
  }
}

/** Engine-boundary counters per op. Each op's jobs carry the local
  * property [[OpListener.Key]]; the listener maps jobs and stages back to
  * the op.
  */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, records = 0L
    var runMs, shuffleWrite, shuffleRead, spill = 0L
    val jobSpans = ArrayBuffer.empty[(Long, Long)]
  }
  val byOp = new ConcurrentHashMap[Int, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

  private def acc(op: Int) = byOp.computeIfAbsent(op, _ => new Acc)

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      e.stageIds.foreach(stageOp.put(_, op))
      jobStart.put(e.jobId, (op, e.time))
      acc(op).synchronized { acc(op).jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      acc(op).synchronized { acc(op).jobSpans += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      acc(op).synchronized { acc(op).stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val a = acc(op)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.records += m.inputMetrics.recordsRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Wall time inside `[t0, t1]` (epoch ms) covered by no job of `op`. */
  def driverOnlyMs(op: Int, t0: Long, t1: Long): Long = {
    val spans = Option(byOp.get(op)).map(_.jobSpans.toSeq).getOrElse(Nil)
      .map { case (a, b) => (a max t0, b min t1) }.filter(s => s._2 > s._1)
      .sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    spans.foreach { case (a, b) => cur match {
      case Some((s, e)) if a <= e => cur = Some((s, e max b))
      case _ =>
        cur.foreach { case (s, e) => covered += e - s }
        cur = Some((a, b))
    }}
    cur.foreach { case (s, e) => covered += e - s }
    (t1 - t0) - covered
  }

  def counters(op: Int): Map[String, Long] =
    Option(byOp.get(op)).map { a => Map(
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "records" -> a.records, "run_ms" -> a.runMs,
      "shuffle_write_bytes" -> a.shuffleWrite,
      "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill)
    }.getOrElse(Map.empty)
}

object OpListener {
  val Key = "perfbench.op"
}

object PlanStats {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.exchange.Exchange

  private object Helper extends AdaptiveSparkPlanHelper

  /** Exchange nodes in an executed plan, subqueries included. */
  def exchanges(plan: SparkPlan): Int =
    Helper.collectWithSubqueries(plan) { case e: Exchange => e }.size

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }

  /** Cumulative GC time of the JVM, in ms (driver and, in local mode,
    * executors share it).
    */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
