package graft

import graft.operators.{DedupOps, Loop}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit.MINUTES
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
  * without hanging, two cuts in flight at once read their own metrics,
  * both connected-components loops accept an empty pair list, a scope
  * releases its pins even when it throws, and no source file cuts
  * lineage or pins a frame on its own. */
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

  test("cutLineage with metrics: two cuts in flight at once on two threads read their own counts") {
    // every metric cut observes under Loop's one fixed name; each cut's
    // first task waits on a shared latch until the other cut's task has
    // started, so both jobs are in flight together
    LoopSpec.gate = new CountDownLatch(2)
    val meet = udf { (id: Long) =>
      if (id == 0L) { LoopSpec.gate.countDown(); LoopSpec.gate.await(1, MINUTES) }
      true
    }
    def cut(n: Long) = Future(Loop.cutLineage(
      spark.range(0, n, 1, 1).toDF().where(meet(col("id"))), count(lit(1)), sum("id")))
    val (a, b) = (cut(100), cut(250))
    val ((_, ma), (_, mb)) = bounded((Await.result(a, 2.minutes), Await.result(b, 2.minutes)))
    assert(LoopSpec.gate.getCount == 0L, "the two cuts never ran at the same time")
    assert(ma.getLong(0) == 100L && ma.getLong(1) == 4950L, s"first cut read $ma")
    assert(mb.getLong(0) == 250L && mb.getLong(1) == 31125L, s"second cut read $mb")
  }

  test("connectedComponents and connectedComponentsStar: an empty pair list has no labels") {
    val none = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(bounded(DedupOps.connectedComponents(none, maxIter = 3)).isEmpty)
    assert(bounded(DedupOps.connectedComponentsStar(none, maxIter = 3)).isEmpty)
  }

  test("a scope that throws still releases its pins: no cache entry, no persistent RDD") {
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val df = spark.range(0, 1234, 1, 4).select((col("id") * 7).as("x"))
    val e = intercept[IllegalStateException] {
      Loop.scoped {
        assert(Loop.pinnedPersist(df).count() == 1234)
        assert(df.storageLevel.isValid, "the pin should be cached before the throw")
        throw new IllegalStateException("boom inside the scope")
      }
    }
    assert(e.getMessage == "boom inside the scope")
    assert(!df.storageLevel.isValid, "the throwing scope left its cache entry")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- base).isEmpty,
      "the throwing scope left a persistent RDD")
  }

  /** `file:line: call` for every line of `src/main/scala` outside the
    * `exempt` files that contains a `banned` call; with `codeOnly`,
    * whole-line comments are skipped. A line of a file `allowed` names
    * passes if it holds that file's fragment. */
  private def sourceCalls(banned: Seq[String], exempt: Set[String],
      codeOnly: Boolean = false, allowed: Map[String, String] = Map.empty): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def comment(line: String): Boolean =
      Seq("//", "/*", "*").exists(line.trim.startsWith)
    for {
      f <- files(root) if f.getName.endsWith(".scala") && !exempt.contains(f.getName)
      (line, no) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if !(codeOnly && comment(line)) && !allowed.get(f.getName).exists(line.contains)
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${no + 1}: $b"
  }

  test("no source file outside Loop and ScaleProbe checkpoints or sets a checkpoint dir") {
    val offenders = sourceCalls(Seq(".localCheckpoint(", ".checkpoint(", "setCheckpointDir"),
      Set("Loop.scala", "ScaleProbe.scala"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no source file outside Loop persists, caches or unpersists a frame") {
    // every pin goes through Loop.pinnedPersist and is released by its
    // scope or the default-handle drain. The one exception: the
    // dashboard's base view lives for the dashboard session, and its
    // caller owns it and unpersists it at refresh.
    val offenders = sourceCalls(Seq(".persist(", ".cache()", ".unpersist("),
      Set("Loop.scala"), codeOnly = true, allowed = Map("Dashboard.scala" -> "view.cache()"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

object LoopSpec {
  /** The latch the two-thread cut test's tasks meet on: tasks run in
    * this JVM's executor threads, and a latch captured in the closure
    * would be a serialized copy per task. */
  @volatile var gate = new CountDownLatch(0)
}
