package graft

import org.apache.spark.sql.functions._

/** Runtime row-level filtering: with a selective filter on one join
  * side, Spark can inject a bloom filter built from that side into the
  * other side's SCAN, pruning fact rows before the shuffle — the
  * optimizer-native version of `q_bloom_decontaminate`'s hand-built
  * bloom. At 100 TB this is a first-order lever, so pin that the engine's
  * sessions can actually produce the plan (thresholds tuned here because
  * fixture tables are tiny).
  */
class RuntimeFilterSpec extends SparkSpec {

  test("a selective dim filter injects a bloom runtime filter into the fact side") {
    SparkSpec.withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the creation side must be a SELECTIVE FILTER OVER A SCAN (an
      // aggregate-derived filter does not qualify for injection)
      val fact = Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val dim = Tables.customer(spark, sf)
        .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
      val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter") ||
        plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and it must not change results
      val expected = fact.join(dim.hint("broadcast"),
        col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    }
  }
}
