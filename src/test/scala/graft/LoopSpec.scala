package graft

import graft.operators.{DedupOps, Loop}
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The loop-state module's guarantees: a cut's metrics come from the
  * cut's own eager job (no probe job), empty frames yield zero metrics
  * without hanging, both connected-components loops accept an empty
  * pair list, and no source file cuts lineage on its own. */
class LoopSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBusAccess.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** 100 rows through a shuffle, the shape of a loop round. */
  private def round: DataFrame =
    spark.range(0, 300, 1, 4).groupBy((col("id") % 100).as("id"))
      .agg(count(lit(1)).as("n"))

  /** Fails the test instead of blocking the suite if `body` never returns. */
  private def bounded[A](body: => A): A = Await.result(Future(body), 2.minutes)

  test("cutLineage with metrics: right counts from the cut's own job, no extra job") {
    val (plain, plainJobs) = jobsOf(Loop.cutLineage(round))
    val ((cut, m), observedJobs) = jobsOf(bounded(Loop.cutLineage(round,
      count(lit(1)), count(when(col("id") % 3 === 0, 1)), sum("n"))))
    assert(m.getLong(0) == 100L && m.getLong(1) == 34L && m.getLong(2) == 300L)
    assert(observedJobs == plainJobs, s"observed cut $observedJobs jobs, plain cut $plainJobs")
    assert(cut.collect().toSet == plain.collect().toSet)
  }

  test("cutLineage with metrics: an empty frame gives zero counts and does not hang") {
    for (empty <- Seq(round.where(col("n") > 10), Seq.empty[(Long, Long)].toDF("id", "n"))) {
      val (cut, m) = bounded(Loop.cutLineage(empty,
        count(lit(1)), count(when(col("n") > 0, 1))))
      assert(m.getLong(0) == 0L && m.getLong(1) == 0L)
      assert(cut.isEmpty)
    }
  }

  test("connectedComponents and connectedComponentsStar: an empty pair list has no labels") {
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(bounded(DedupOps.connectedComponents(none, maxIter = 3)).isEmpty)
    assert(bounded(DedupOps.connectedComponentsStar(none, maxIter = 3)).isEmpty)
  }

  test("no source file outside Loop and ScaleProbe checkpoints or sets a checkpoint dir") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val banned = Seq(".localCheckpoint(", ".checkpoint(", "setCheckpointDir")
    val offenders = for {
      f <- files(root) if f.getName.endsWith(".scala")
      if !Set("Loop.scala", "ScaleProbe.scala").contains(f.getName)
      (line, no) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${no + 1}: $b"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
