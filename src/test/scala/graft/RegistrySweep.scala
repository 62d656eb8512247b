package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Window}
import org.apache.spark.sql.internal.SQLConf
import scala.util.Try

/** The spec suite's ONE build of every registry query: sf0.001, the
  * shared session, [[Harness.run]] with the count sink. `RegistrySpec`'s
  * throws/empty/leak sweep and `PlanAuditSpec`'s Cartesian, window and
  * join-hint gates and single-query plan audits all read the same
  * [[records]]. The sink records the final frame's plans before the
  * count, while the query's pins still hold, so cached subtrees plan as
  * they run; [[PlanText.captured]] adds every plan the build executed,
  * eager jobs (checkpoints, collects, artifact writes) included. */
object RegistrySweep {

  /** One build of one query.
    *  - `plan`: the final frame's physical plan as AQE first plans it;
    *  - `cartesian` / `windows`: whether any plan of the build, eager or
    *    final, has a CartesianProduct, and its partitionless windows;
    *  - `hinted`: some join of the final frame carries a hint;
    *  - `replans`: the final frame re-planned with AQE off at the default
    *    broadcast threshold and at 1 KB, canonical, taken for hinted
    *    queries and hints-off rebuilds only. */
  final case class Record(
      run: Either[String, Harness.Run],
      leaked: Boolean,
      plan: String,
      cartesian: Boolean,
      windows: Seq[String],
      hinted: Boolean,
      replans: Seq[String])

  private lazy val spark = SparkSpec.session
  private val DisableHints = "spark.sql.optimizer.disableHints"

  lazy val records: Map[String, Record] = {
    // other suites share the session and may hold caches legitimately;
    // start from a clean slate so a leak names the query that made it
    spark.sharedState.cacheManager.clearCache()
    logged("builds")(Harness.select(Nil).sorted.map(n => n -> build(n)).toMap)
  }

  /** [[Record.replans]] of every hinted query rebuilt with join hints off
    * (hints are dropped at analysis, so the hint-free form is rebuilt),
    * under the shared build's session conf and re-planned the same way. */
  lazy val hintsOffReplans: Map[String, Seq[String]] =
    logged("hints-off rebuilds")(records.keys.toSeq.sorted.filter(records(_).hinted)
      .map(n => n -> build(n, hintsOff = true).replans).toMap)

  private def logged[K, V](what: String)(body: => Map[K, V]): Map[K, V] = {
    val t0 = System.nanoTime()
    val out = body
    println(f"registry sweep: ${out.size} $what in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    out
  }

  private def build(name: String, hintsOff: Boolean = false): Record = {
    val cm = spark.sharedState.cacheManager
    var last = Record(Left("sink never ran"), false, "", false, Nil, false, Nil)
    val sink: Harness.Sink = df => {
      val qe = df.queryExecution
      val hinted = qe.optimizedPlan.exists {
        case j: Join => j.hint != JoinHint.NONE
        case _ => false
      }
      last = last.copy(plan = qe.executedPlan.toString, windows = partitionless(qe.optimizedPlan),
        hinted = hinted, replans = if (hinted || hintsOff) replans(df) else Nil)
      if (hintsOff) None else Harness.Sink.Count(df) // a rebuild is only re-planned
    }
    val (run, executed) = SparkSpec.withConf(DisableHints -> hintsOff.toString) {
      PlanText.captured(spark)(Harness.run(spark, name, SparkSpec.sf, sink))
    }
    val leaked = !cm.isEmpty
    if (leaked) cm.clearCache() // one leak must not cascade into every later name
    val eager = executed.map(_._2)
    val plans = last.plan +: eager.flatMap(qe => Try(qe.executedPlan.toString).toOption)
    last.copy(run = run, leaked = leaked,
      cartesian = plans.exists(_.contains("CartesianProduct")),
      windows = (last.windows ++ eager.flatMap(qe =>
        Try(partitionless(qe.optimizedPlan)).getOrElse(Nil))).distinct)
  }

  private def partitionless(plan: LogicalPlan): Seq[String] =
    plan.collect { case w: Window if w.partitionSpec.isEmpty => w.toString }

  /** AQE off, so the initial plan is the plan; hints as analysis left
    * them. Planned before the pins are released, so cached frames still
    * match. */
  private def replans(df: DataFrame): Seq[String] =
    Seq(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.defaultValueString, "1024").map { threshold =>
      SparkSpec.withConf("spark.sql.adaptive.enabled" -> "false", DisableHints -> "false",
          SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> threshold) {
        PlanText.canonical(
          spark.sessionState.executePlan(df.queryExecution.analyzed).executedPlan.toString)
      }
    }
}
