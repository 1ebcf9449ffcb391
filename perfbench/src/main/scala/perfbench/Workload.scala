package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

final case class Env(spark: SparkSession, seed: Long, nproc: Int)

/** One completed operation. */
final case class Sample(kind: String, ms: Double, startNs: Long, endNs: Long)

/** Thread-safe record of a loop: latencies of operations that succeeded
  * with a correct answer, and the count of those that did not. */
final class Outcome {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val messages = new ConcurrentLinkedQueue[String]()

  /** Time `timed`, then check its result outside the timed interval:
    * `check` returns None for a correct answer or an error message. An
    * operation that throws or answers wrongly is counted as failed and
    * leaves no latency sample. */
  def run[T](kind: String)(timed: => T)(check: T => Option[String]): Unit = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Right(timed) catch { case e: Throwable => Left(describe(kind, e)) }
    val t1 = System.nanoTime()
    val err = r.fold(Some(_), v => try check(v) catch { case e: Throwable => Some(describe(kind, e)) })
    err match {
      case None => samples.add(Sample(kind, (t1 - t0) / 1e6, t0, t1))
      case Some(m) => fail(m)
    }
  }
  /** An untimed correctness check made after a loop. */
  def check(f: => Option[String]): Unit = {
    attempted.incrementAndGet()
    (try f catch { case e: Throwable => Some(describe("check", e)) }).foreach(fail)
  }
  private def describe(kind: String, e: Throwable) =
    s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (messages.size < 20) messages.add(msg.take(400))
  }
  def failures: Seq[String] = messages.asScala.toSeq
  def all: Seq[Sample] = samples.asScala.toSeq
}

/** `rows`: rows acknowledged (ingest) or documents processed (curate). */
final case class LoopResult(outcome: Outcome, elapsedS: Double, rows: Double) {
  def samples: Seq[Sample] = outcome.all
  def byKind: Map[String, Seq[Double]] = samples.groupBy(_.kind).map { case (k, v) => k -> v.map(_.ms) }
}

object Loop {
  /** Closed loop: each client issues its next operation when the previous
    * one returns, until `seconds` pass or `maxOps` operations started.
    * Returns the wall time until the last client finished. */
  def closed(clients: Int, seconds: Double, maxOps: Long)(op: (Int, Int) => Unit): Double = {
    val started = new AtomicLong()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        try {
          var i = 0
          while (System.nanoTime() < deadline && started.incrementAndGet() <= maxOps) {
            op(c, i); i += 1
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (System.nanoTime() - t0) / 1e9
  }
}

/** A data set plus the server in front of it, built by a workload. */
trait Fixture {
  def dir: Path
  def close(): Unit
}

trait Workload {
  type Fx <: Fixture
  def name: String
  /** Generate the inputs and bring the system to the state the timed
    * loop starts from. `small` builds the reduced fixture a traced run of
    * another workload uses to take this workload's layer metrics. */
  def build(env: Env, dir: Path, small: Boolean): Fx
  /** Untimed operations that load classes and compile code paths. */
  def warmup(fx: Fx): Unit
  /** The workload's operations; with a trace kit each operation gets a
    * span (and, where the operation is a pipeline run, a span per call). */
  def loop(fx: Fx, seconds: Double, maxOps: Long, kit: Option[TraceKit]): LoopResult
  /** Issue each operation kind as its chain of public calls, one span per
    * call, from one client; returns the number of operations issued. A
    * workload whose traced loop already issues chains returns 0. */
  def chainPass(fx: Fx, kit: TraceKit, out: Outcome): Int = 0
  /** Checks made after the loop (the state the writes left behind). */
  def verify(fx: Fx, r: LoopResult): Unit = ()
  /** Stored bytes per stored row of the fixture. */
  def storedBytesPerRow(fx: Fx, r: LoopResult): Double
  /** Per-layer metrics of this workload's layers (traced runs only). */
  def layers(fx: Fx, r: LoopResult, kit: TraceKit): Map[String, Double]
  /** Span names whose Spark jobs are an operation's own work. */
  def countedSpans: Set[String]
}
