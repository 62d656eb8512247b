package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev-only diagnostics, one per mode, each over [[Harness.run]]:
  *
  *  - `count|noop q...` runs each named query twice and prints both wall
  *    times plus run 2's (steady-state) JOB, STAGE and TASK counts — the
  *    evidence for "this query's slowness is scheduling structure, not
  *    data movement". The `noop` sink computes every column, so
  *    projections `.count()` would prune (e.g. a reassembled text column)
  *    are honestly paid.
  *  - `plans [q...]` prints, for each named query (all of them for none),
  *    the canonical text of every plan one run executes
  *    ([[PlanText.ofRun]]): its eager jobs in order, then the final
  *    write. The broadcast threshold and AQE are the session's, set by
  *    `-Dspark.sql.*` on the JVM. With AQE off two dumps of one commit
  *    are equal, so a diff of two commits' dumps is a plan-neutrality
  *    check (`scripts/plan_neutrality.sh`); an adaptive final plan also
  *    records which stage finished first.
  *
  * Cores and fixtures follow the env contract, so 8-vs-32-core runs are
  * one env flip: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.Probe count q_a"` */
object Probe {
  def main(args: Array[String]): Unit = {
    val mode: (SparkSession, Seq[String]) => Unit = args.toSeq match {
      case "plans" +: _      => plans
      case "count" +: _ +: _ => times(Harness.Sink.Count, "count")
      case "noop" +: _ +: _  => times(Harness.Sink.Noop, "noop")
      case _ =>
        println("usage: graft.Probe <count|noop> <query> [query...] | plans [query...]"); return
    }
    val names = Harness.select(args.toSeq.tail)
    val spark = Harness.session(Harness.cpus)
    try mode(spark, names) finally spark.stop()
  }

  private def plans(spark: SparkSession, names: Seq[String]): Unit =
    for (n <- names) {
      val (run, plans) = PlanText.ofRun(spark, n, Harness.sfDir)
      println(s"===== $n")
      run.left.foreach(m => println(s"ERROR $m"))
      for ((action, text) <- plans) println(s"----- $action\n$text")
    }

  private def times(sink: Harness.Sink, label: String)(spark: SparkSession, names: Seq[String]): Unit = {
    val (cpus, dir) = (Harness.cpus, Harness.sfDir)
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
          f"| $n | $label | $cpus | ${r1.seconds}%.2f | ${r2.seconds}%.2f | " +
            s"${jobs.get} | ${stages.get} | ${tasks.get} |"
        }
      }
      println(row.fold(m => s"| $n | ERROR $m |", identity))
    }
  }
}
