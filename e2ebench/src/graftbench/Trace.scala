package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one span, excluding its child spans. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, shuffleReadB, shuffleWriteB, spillB, inputB = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compiles = 0L
  var compileMs = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; shuffleReadB += o.shuffleReadB
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB; inputB += o.inputB
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; compiles += o.compiles; compileMs += o.compileMs
  }

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
    s""""cpu_ms":${cpuNs / 1e6},"shuffle_read_b":$shuffleReadB,""" +
    s""""shuffle_write_b":$shuffleWriteB,"spill_b":$spillB,"input_b":$inputB,""" +
    s""""analysis_ms":$analysisMs,"optimization_ms":$optimizationMs,""" +
    s""""planning_ms":$planningMs,"compiles":$compiles,"compile_ms":$compileMs"""
}

final class Span(val id: Int, val name: String, val parent: Span) {
  var startNs = 0L
  var endNs = 0L
  val self = new Counters
  val children = ArrayBuffer.empty[Span]

  def ms: Double = (endNs - startNs) / 1e6
  def selfMs: Double = ms - children.map(_.ms).sum
  /** Counters of this span and every span below it. */
  def total: Counters = {
    val c = new Counters
    c.add(self)
    children.foreach(ch => c.add(ch.total))
    c
  }
  /** This span and its descendants named `n`. */
  def find(n: String): Seq[Span] =
    (if (name == n) Seq(this) else Nil) ++ children.flatMap(_.find(n))
}

/** Records a span around each call into a layer, and attributes Spark
  * work to the innermost open span from three sources: a SparkListener
  * (jobs, stages, task time, shuffle, spill, input), a
  * QueryExecutionListener (Catalyst phase times) and CodegenMetrics
  * (compile count and time).
  *
  * Attribution needs no sleeps: at every span boundary the listener bus
  * is drained before the innermost span changes, so each event is
  * credited to the span that was open when it was posted. Every span
  * also sets its own Spark job group. Spans stay in memory and are
  * written out by [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  val roots = ArrayBuffer.empty[Span]
  private val all = ArrayBuffer.empty[Span]
  @volatile private var current: Span = null
  private var enabled = true

  private def cur(f: Counters => Unit): Unit = {
    val s = current
    if (s != null) f(s.self)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = cur(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = cur(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = cur { c =>
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = cur { c =>
      val ph = qe.tracker.phases
      c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planning)

  // CodegenMetrics keeps compile times in a reservoir of this many
  // samples; below it the sample sum is exact
  private val Reservoir = 1028
  private var lastCompiles = 0L
  private var lastCompileMs = 0.0
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    (h.getCount, if (h.getCount <= Reservoir) snap.getValues.sum.toDouble
                 else h.getCount * snap.getMean)
  }
  locally { val (n, t) = codegen(); lastCompiles = n; lastCompileMs = t }

  /** Credits everything posted so far to the open span, then makes `next`
    * the open span. */
  private def switchTo(next: Span): Unit = {
    ListenerBusAccess.drain(sc)
    val (n, t) = codegen()
    cur { c => c.compiles += n - lastCompiles; c.compileMs += t - lastCompileMs }
    lastCompiles = n; lastCompileMs = t
    current = next
    if (next == null) sc.clearJobGroup()
    else sc.setJobGroup(s"$runId/${next.id}", next.name, interruptOnCancel = false)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = current
    val s = new Span(all.size, name, parent)
    all += s
    if (parent == null) roots += s else parent.children += s
    switchTo(s)
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      switchTo(parent)
    }
  }

  /** Writes one JSON line per span: name, start, end, parent, run id and
    * the span's own counters. */
  def write(path: Path): Unit = {
    val lines = all.map { s =>
      val parent = if (s.parent == null) "null" else s.parent.id.toString
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":$parent,""" +
      s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
      s""""self_ms":${s.selfMs},${s.self.json}}"""
    }
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def close(): Unit = {
    enabled = false
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planning)
  }
}
