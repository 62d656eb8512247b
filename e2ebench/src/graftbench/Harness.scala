package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, latency, and whether it succeeded
  * (did not throw and passed its output check). */
final case class Op(kind: String, ms: Double, var ok: Boolean, traced: Boolean)

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** State shared by a run: the session, the seed, the ops recorded so far,
  * and the tracer while a traced cycle runs. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val tiny: Boolean, val slots: Int) {
  val ops = ArrayBuffer.empty[Op]
  var tracer: Tracer = null
  private var heapPeak = 0.0

  def traced: Boolean = tracer != null

  /** A span around a call into a layer; a no-op on untraced cycles. */
  def span[T](name: String)(body: => T): T =
    if (tracer == null) body else tracer.span(name)(body)

  /** Times `body` as one op of `kind`; `check` then runs untimed and
    * decides whether the op succeeded. A throwing op counts as failed.
    * Returns the recorded op so a later check can fail it. */
  def op[T](kind: String)(body: => T)(check: T => Boolean): Op = {
    val t0 = System.nanoTime()
    val r = try Right(span(kind)(body)) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = r match {
      case Right(v) => try check(v) catch { case e: Exception => report(kind, e); false }
      case Left(e) => report(kind, e); false
    }
    val o = Op(kind, ms, ok, traced)
    ops += o
    o
  }

  private def report(kind: String, e: Exception): Unit =
    System.err.println(s"op $kind failed: $e")

  /** Live heap after a full collection, sampled between cycles (outside
    * every timed op): the sum of the heap pools' JMX collection usage. The
    * second collection runs after Spark's ContextCleaner has dropped the
    * blocks whose last references the first one freed. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeak = math.max(heapPeak, used / 1048576.0)
  }
  def heapPeakMb: Double = heapPeak

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A closed loop over a fixed op sequence: one client thread issues the
  * next op only after the previous one returns. */
trait Workload {
  /** Fixed op cycles per run. The count depends only on the requested
    * run length, never on how fast the ops go. */
  def cycles(seconds: Int): Int
  /** Input generation and seeding; repeated to sample set-up time. */
  def prepare(): Unit
  /** Untimed ops that fill caches and build reference outputs. */
  def warmup(): Unit
  def runCycle(): Unit
  /** The kind of op whose latency is the workload's `op_p50_ms`. */
  def primary: String
  /** Input rows one primary op consumes. */
  def rowsPerOp: Double
  /** Metrics of the workload's own layers, from the traced cycles' spans
    * (the engine layers under them are added by [[Layers.engine]]). */
  def layers(roots: Seq[Span]): Seq[Metric]
  /** Output digests the checks compared against, for pinning. */
  def digests: Map[String, String] = Map.empty
}

object Layers {
  def opMedian(ops: Seq[Span], f: Span => Double): Double = Stats.median(ops.map(f))
  def childMs(op: Span, name: String): Double = op.find(name).map(_.ms).sum
  val MB = 1048576.0

  /** Catalyst, codegen and scheduler metrics per op (medians over ops). */
  def engine(ops: Seq[Span], slots: Int): Seq[Metric] = {
    def m(name: String, unit: String)(f: (Span, Counters) => Double) =
      Metric(name, opMedian(ops, s => f(s, s.total)), unit)
    Seq(
      m("catalyst.analysis_ms", "ms")((_, c) => c.analysisMs.toDouble),
      m("catalyst.optimization_ms", "ms")((_, c) => c.optimizationMs.toDouble),
      m("catalyst.planning_ms", "ms")((_, c) => c.planningMs.toDouble),
      m("codegen.compiles", "count")((_, c) => c.compiles.toDouble),
      m("codegen.compile_ms", "ms")((_, c) => c.compileMs),
      m("spark.jobs", "count")((_, c) => c.jobs.toDouble),
      m("spark.stages", "count")((_, c) => c.stages.toDouble),
      m("spark.tasks", "count")((_, c) => c.tasks.toDouble),
      m("spark.task_s", "s")((_, c) => c.taskMs / 1000.0),
      m("spark.slot_busy_share", "share")((s, c) => c.taskMs / (s.ms * slots)),
      m("spark.shuffle_write_mb", "MB")((_, c) => c.shuffleWriteB / MB),
      m("spark.spill_mb", "MB")((_, c) => c.spillB / MB))
  }
}
