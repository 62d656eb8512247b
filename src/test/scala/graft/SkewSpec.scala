package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // hot key with many distinct values + a cold tail — the shape whose
  // per-key distinct state straggles a reducer
  private lazy val skewed = spark.range(0, 10000).select(lit("hot").as("k"), col("id").as("v"))
    .unionByName(spark.range(0, 50).select(concat(lit("cold"), col("id")).as("k"), (col("id") % 7).as("v")))
    .unionByName(spark.range(0, 100).select(lit("hot").as("k"), (col("id") % 100).as("v"))) // dup values
    .repartition(8)

  test("saltedDistinctCount equals plain countDistinct") {
    val plain = skewed.groupBy("k").agg(countDistinct("v").as("n"))
      .orderBy("k").as[(String, Long)].collect()
    val salted = Skew.saltedDistinctCount(skewed, Seq("k"), "v", 16)
      .orderBy("k").as[(String, Long)].collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join equals plain join") {
    val dim = Seq(("hot", "H"), ("cold1", "C1")).toDF("k", "label")
    val plain = skewed.join(dim, "k").groupBy("k", "label")
      .agg(count(lit(1)).as("n")).orderBy("k")
      .as[(String, String, Long)].collect()
    val (big, small, cols) = Skew.saltedJoinSides(skewed, dim, "k", 8)
    val salted = big.join(small, cols).groupBy("k", "label")
      .agg(count(lit(1)).as("n")).orderBy("k")
      .as[(String, String, Long)].collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("salted join spreads a physically-clustered hot key over many salts") {
    // one physical partition = the worst case for a partition-id salt
    // (every row would land in a single salt bucket and one reducer)
    val clustered = skewed.where(col("k") === "hot").coalesce(1)
    val (big, _, _) = Skew.saltedJoinSides(clustered, Seq(("hot", "H")).toDF("k", "label"), "k", 8)
    val saltsUsed = big.select(countDistinct("__salt")).head().getLong(0)
    assert(saltsUsed == 8, s"row-hash salt must use all 8 buckets, used $saltsUsed")
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    // force the skew machinery visible at toy scale: no broadcast, tiny
    // skew thresholds, so the "hot" partition qualifies as skewed
    SparkSpec.withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val big = spark.range(0, 20000)
        .select(when(col("id") % 100 =!= 0, "hot").otherwise(concat(lit("c"), col("id"))).as("k"),
          col("id").as("v"))
      val dim = Seq(("hot", "H"), ("c0", "C")).toDF("k", "label")
      // collect() and plan-read must target the SAME Dataset object —
      // .as/.orderBy each derive a new QueryExecution, and only the
      // executed one carries AQE's re-planned (isFinalPlan=true) tree
      val joined = big.join(dim, "k").groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label").as[(String, Long)]
      val rows = joined.collect()
      assert(rows.toSeq == Seq(("C", 1L), ("H", 19800L)))
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the hot partition skewed; plan:\n$finalPlan")
    }
  }

  test("GraftFunctions.registerAll exposes wkt_centroid and dot_product to SQL") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT wkt_centroid('POINT (3 4)').lat AS lat, " +
        "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp, " +
        "dot_product(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 3.0D)) AS dp_null")
      .head()
    assert(r.getDouble(0) == 4.0 && r.getDouble(1) == 11.0)
    assert(r.isNullAt(2)) // null element poisons the product
    // hyperplane_sigs takes its shape as literals (plan-time constants)
    val hs = spark.sql(
      "SELECT hyperplane_sigs(array(1.0D, -2.0D, 0.5D), 3, 12) AS s").head()
    assert(hs.getSeq[Long](0).length == 3 &&
      hs.getSeq[Long](0).forall(v => v >= 0 && v < (1L << 12)))
    val err = intercept[Exception](
      spark.sql("SELECT hyperplane_sigs(array(1.0D), 1 + 2, 12)").head())
    val messages = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("integer literal")), messages.toString)
  }
}
