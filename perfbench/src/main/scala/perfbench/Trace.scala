package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed call. Spans of one operation share `op`; `parent` is the
  * span that issued the call (0 for an operation's root span). */
final case class Span(
    id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span store; written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Start an operation of `kind`; the returned context times its calls. */
  def op(kind: String): OpTrace = new OpTrace(this, ids.getAndIncrement(), kind)
  private[perfbench] def nextId(): Long = ids.getAndIncrement()

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by layer, over spans not named in `skip`. */
  def selfMsByLayer(skip: Set[String] = Set.empty): Map[String, Double] = {
    val s = all
    val children = s.groupBy(_.parent)
    s.filterNot(sp => skip(sp.name)).map { sp =>
      val covered = children.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
          val a1 = math.max(a, end)
          if (b > a1) (tot + (b - a1), b) else (tot, end)
        }._1
      sp.layer -> ((sp.endNs - sp.startNs - covered) / 1e6)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Append the spans as JSON lines, tagged with the loop they came from. */
  def dump(path: java.nio.file.Path, loop: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"loop":"$loop","id":${s.id},"parent":${s.parent},"op":${s.op},""")
        .append(s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

/** The span context of one operation. `call` records a child span around
  * one public call; with `counted`, the Spark jobs the call submits from
  * this thread are charged to the operation's runtime counters. */
final class OpTrace(tracer: Tracer, val opId: Long, val kind: String) {
  private val rootId = tracer.nextId()
  private val rootStart = System.nanoTime()

  def call[T](name: String, counted: Boolean = false)(f: => T): T = {
    val sc = SparkSession.active.sparkContext
    sc.setLocalProperty(SparkCounters.SpanKey, name)
    if (counted) sc.setLocalProperty(SparkCounters.CountKey, "1")
    val t0 = System.nanoTime()
    try f
    finally {
      tracer.spans.add(Span(tracer.nextId(), rootId, opId, name, t0, System.nanoTime()))
      sc.setLocalProperty(SparkCounters.SpanKey, null)
      sc.setLocalProperty(SparkCounters.CountKey, null)
    }
  }

  def finish(): Unit =
    tracer.spans.add(Span(rootId, 0L, opId, s"op.$kind", rootStart, System.nanoTime()))
}

/** Spark runtime counters per span name, from a listener the benchmark
  * attaches (jobs, stages, tasks, shuffle bytes, executor run time, GC and
  * spill). Only jobs submitted inside a counted call are charged. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, runMs, gcMs, spill = 0L
  }
  private val bySpan = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private def acc(k: String) = bySpan.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p != null && p.getProperty(SparkCounters.CountKey) == "1") {
      val k = Option(p.getProperty(SparkCounters.SpanKey)).getOrElse("?")
      acc(k).jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, k))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(k => acc(k).stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Totals over the given span names (all counted spans when empty). */
  def totals(sc: SparkContext, spans: Set[String] = Set.empty): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val sel = bySpan.asScala.collect { case (k, a) if spans.isEmpty || spans(k) => a }
    def sum(f: Acc => Long) = sel.map(f).sum.toDouble
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "shuffle_read_bytes" -> sum(_.shuffleRead), "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "executor_run_ms" -> sum(_.runMs), "gc_ms" -> sum(_.gcMs), "spill_bytes" -> sum(_.spill))
  }
}

object SparkCounters {
  val SpanKey = "perfbench.span"
  val CountKey = "perfbench.count"
}

/** Captures every executed query plan, so plan metrics of work that runs
  * inside a library call (checkpoints, loops) can be read afterwards. */
final class PlanCapture extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[QueryExecution]()
  /** Capture is off until a workload that reads captured plans asks. */
  @volatile var capturing = false
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (capturing) q.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Plans executed since the previous call. */
  def drain(sc: SparkContext): Seq[SparkPlan] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    Iterator.continually(q.poll()).takeWhile(_ != null).map(_.executedPlan).toSeq
  }
}

/** SQL metrics read from executed physical plans. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(paths: Seq[String], rows: Long, files: Long, partitions: Long)

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  def scans(plan: SparkPlan): Seq[Scan] = collect(plan) {
    case s: FileSourceScanExec =>
      Scan(s.relation.location.rootPaths.map(_.toString), metric(s, "numOutputRows"),
        metric(s, "numFiles"), metric(s, "numPartitions"))
  }

  /** Output rows of the LSH band self-joins (equi-joins keyed on `band`). */
  def bandJoinRows(plan: SparkPlan): Long = {
    def banded(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name == "band"))
    collect(plan) {
      case j: SortMergeJoinExec if banded(j.leftKeys) => metric(j, "numOutputRows")
      case j: ShuffledHashJoinExec if banded(j.leftKeys) => metric(j, "numOutputRows")
      case j: BroadcastHashJoinExec if banded(j.leftKeys) => metric(j, "numOutputRows")
    }.sum
  }
}

/** Everything a traced run attaches to the session. */
final class TraceKit(val spark: SparkSession) {
  /** The tracer of the loop running now; each loop gets a fresh one. */
  var tracer = new Tracer
  val counters = new SparkCounters
  val plans = new PlanCapture
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(plans)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
  }
}
