package graft

import graft.plans.{GroupTopKRewrite, GroupTopKStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The transparent rewrite: row_number()<=k window filters become the
  * heap operator with no source change — and the conservative guards
  * that keep it from firing where semantics would differ. */
class GroupTopKRewriteSpec extends SparkSpec {

  private def windowTopK(k: Int): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, sf).select("event_type", "event_id", "value")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  /** Runs `body` with graft's top-k hooks installed (`on`) or removed,
    * then restores the session's own hooks. The shared session arrives
    * with them installed (Harness.session calls GraftRuntime.ensure), so
    * a baseline must remove them to run the plain window plan. */
  private def withTopK[T](on: Boolean)(body: => T): T = {
    val (savedOpt, savedStrat) =
      (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    try {
      val opt = savedOpt.filterNot(_ == GroupTopKRewrite)
      val strat = savedStrat.filterNot(_ == GroupTopKStrategy)
      spark.experimental.extraOptimizations = if (on) opt :+ GroupTopKRewrite else opt
      spark.experimental.extraStrategies = if (on) strat :+ GroupTopKStrategy else strat
      body
    } finally {
      spark.experimental.extraOptimizations = savedOpt
      spark.experimental.extraStrategies = savedStrat
    }
  }

  test("the idiom rewrites to TopKPerGroup and returns identical rows") {
    val baseline = withTopK(on = false) {
      val plan = windowTopK(5).queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerGroup"), s"baseline must run the window:\n$plan")
      windowTopK(5).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    }
    withTopK(on = true) {
      val accel = windowTopK(5)
      val plan = accel.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup"), s"rewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"window operator survived:\n$plan")
      val got = accel.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == baseline)
    }
  }

  test("guards: rank(), rn kept in output, and global top-k do NOT rewrite") {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    val ev = Tables.events(spark, sf).select("event_type", "event_id", "value")

    // rank() admits ties past k — different semantics, must not fire
    val ranked = ev.withColumn("rn", rank().over(w))
      .where(col("rn") <= 3).drop("rn")
    // rn observable downstream — must not fire
    val rnKept = ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    // empty partition spec — TakeOrderedAndProject territory, must not fire
    val global = ev.withColumn("rn",
      row_number().over(Window.orderBy(col("value").desc, col("event_id"))))
      .where(col("rn") <= 3).drop("rn")

    // the rule meets plans post-optimization (extraOptimizations run
    // after the main batches, e.g. after projects collapse and Spark's
    // own InferWindowGroupLimit fires) — test it on that shape
    for ((df, label) <- Seq((ranked, "rank"), (rnKept, "rn-kept"), (global, "global"))) {
      val rewritten = GroupTopKRewrite(df.queryExecution.optimizedPlan)
      assert(rewritten.collect { case t: graft.plans.TopKPerGroup => t }.isEmpty,
        s"$label should not rewrite:\n$rewritten")
    }
    // sanity: the positive shape DOES rewrite at the pure-rule level, and
    // swallows the WindowGroupLimit Spark had inserted below
    // (hooks removed, so the plan reaching the rule is not yet rewritten)
    val positive = withTopK(on = false) {
      GroupTopKRewrite(windowTopK(3).queryExecution.optimizedPlan)
    }
    assert(positive.collect { case t: graft.plans.TopKPerGroup => t }.nonEmpty)
    assert(positive.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit => w
    }.isEmpty, s"stale WindowGroupLimit survived:\n$positive")
  }

  test("the argmax idiom rn = 1 rewrites; rn = 2 (exactly-rank-2) does not") {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id"))
    val ev = Tables.events(spark, sf).select("event_type", "event_id", "value")
    def exactRank(n: Int): DataFrame = ev
      .withColumn("rn", row_number().over(w)).where(col("rn") === n).drop("rn")

    val argmax = withTopK(on = false) {
      GroupTopKRewrite(exactRank(1).queryExecution.optimizedPlan)
    }
    assert(argmax.collect { case t: graft.plans.TopKPerGroup => t }.nonEmpty,
      s"rn = 1 should rewrite (it means top-1):\n$argmax")
    // rn = 2 selects the SECOND row per group, not the top two — a heap
    // top-2 would return different rows; the guard must refuse
    val rank2 = GroupTopKRewrite(exactRank(2).queryExecution.optimizedPlan)
    assert(rank2.collect { case t: graft.plans.TopKPerGroup => t }.isEmpty,
      s"rn = 2 must not rewrite:\n$rank2")

    // end-to-end: rewritten argmax returns exactly the baseline rows
    val baseline = withTopK(on = false) {
      exactRank(1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    }
    withTopK(on = true) {
      val accel = exactRank(1)
      assert(accel.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      val got = accel.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == baseline)
    }
  }
}
