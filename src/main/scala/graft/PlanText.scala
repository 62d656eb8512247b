package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Plan capture and plan text in ONE place: every plan a run executes
  * ([[captured]]) and the one canonical form two builds of a query are
  * compared in ([[canonical]]). `graft.Probe plans`, the plan-neutrality
  * script and the spec gates all read plans through here. */
object PlanText {

  /** What differs between two builds of one unchanged query, each rule
    * with the text it stands for:
    *  - expression ids (`col#123L`), keeping the `#` after the name;
    *  - exchange plan ids (`plan_id=42`);
    *  - lambda-variable suffixes (`lambda x_17`), a per-JVM counter;
    *  - `CollectMetrics` names: an unnamed `Observation` is a fresh UUID,
    *    and a name is a label, not a plan shape;
    *  - the per-JVM artifact root (`graft_artifacts<N>`) and the artifact
    *    hash after it, which the plan printer cuts at a length that moves
    *    with N's digit count;
    *  - JVM lambda class names of typed operators (`$$Lambda/0x…`);
    *  - object identity hashes (`Foo$$anon$1@23b7342d`). */
  private val rules: Seq[(String, String)] = Seq(
    "#\\d+L?" -> "#",
    "plan_id=\\d+" -> "plan_id=",
    "lambda (\\w+?)_\\d+" -> "lambda $1_",
    "CollectMetrics [^,]+," -> "CollectMetrics <name>,",
    "graft_artifacts\\d+(/[0-9a-f]*)?" -> "graft_artifacts",
    "\\$\\$Lambda[$\\w]*(/0x[0-9a-f]+)?" -> "\\$\\$Lambda",
    "(?<=[\\w$])@[0-9a-f]{1,8}\\b" -> "@")

  def canonical(text: String): String =
    rules.foldLeft(text) { case (t, (from, to)) => t.replaceAll(from, to) }

  /** One run of registry query `name` over `dir` through the `noop` sink
    * (every column of every row is computed) with the canonical text of
    * every plan it executed: the eager jobs in order, then the final
    * write, each with its action name. */
  def ofRun(spark: SparkSession, name: String, dir: String)
      : (Either[String, Harness.Run], Seq[(String, String)]) = {
    val (run, executed) = captured(spark)(Harness.run(spark, name, dir, Harness.Sink.Noop))
    (run, executed.map { case (action, qe) =>
      action -> canonical(Try(qe.executedPlan.toString).fold(Harness.failure, identity))
    })
  }

  /** `body`'s result plus every plan it executed, in completion order,
    * each with its action name: the eager jobs run while a frame is built
    * (checkpoints, collects, artifact writes) and the final action alike.
    * The listener bus is drained before and after, so every plan lands
    * on the body that ran it. */
  def captured[T](spark: SparkSession)(body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(action -> qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(action -> qe)
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      ListenerBusAccess.drain(spark.sparkContext)
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
