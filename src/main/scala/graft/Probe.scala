package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only diagnostic: runs each named query twice through
  * [[Harness.run]] and prints both wall times plus run 2's (steady-state)
  * JOB, STAGE and TASK counts — the evidence for "this query's slowness is
  * scheduling structure, not data movement". The `noop` sink computes
  * every column, so projections `.count()` would prune (e.g. a reassembled
  * text column) are honestly paid. Cores and fixtures follow the env
  * contract, so 8-vs-32-core runs are one env flip:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe <count|noop> q_a q_b ..."` */
object Probe {
  def main(args: Array[String]): Unit = {
    val sink = args.toSeq match {
      case "count" +: _ +: _ => Harness.Sink.Count
      case "noop" +: _ +: _  => Harness.Sink.Noop
      case _ => println("usage: graft.Probe <count|noop> <query> [query...]"); return
    }
    val names = Harness.select(args.toSeq.tail)
    val (cpus, dir) = (Harness.cpus, Harness.sfDir)
    val spark = Harness.session(cpus)
    val jobs, stages, tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    // listener events are async: draining the bus before the reset and
    // after run 2 keeps every event on the run that caused it
    def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

    println("| query | sink | cpus | run1 s | run2 s | jobs(r2) | stages(r2) | tasks(r2) |")
    println("|---|---|---:|---:|---:|---:|---:|---:|")
    for (n <- names) {
      val row = Harness.run(spark, n, dir, sink).flatMap { r1 =>
        drain(); Seq(jobs, stages, tasks).foreach(_.set(0L))
        Harness.run(spark, n, dir, sink).map { r2 =>
          drain()
          f"| $n | ${args.head} | $cpus | ${r1.seconds}%.2f | ${r2.seconds}%.2f | " +
            s"${jobs.get} | ${stages.get} | ${tasks.get} |"
        }
      }
      println(row.fold(m => s"| $n | ERROR $m |", identity))
    }
    spark.stop()
  }
}
