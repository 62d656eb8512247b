package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends ReleasesPins {

  test("approx_count_distinct is within 10% of the exact count") {
    val exact = SparkEntry.queries("q_distinct_agg")(spark, sf)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1, n / 10), s"$k: $n vs ${approx(k)}")
    }
  }

  test("cube emits all four grouping combinations with correct markers") {
    val df = SparkEntry.queries("q_cube_grouping")(spark, sf)
    val markers = df.select("g_et", "g_u").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(markers == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    // grand total row counts everything
    val total = df.where(col("g_et") === 1 && col("g_u") === 1).head().getAs[Long]("n")
    assert(total == Tables.events(spark, sf).count())
  }
}
