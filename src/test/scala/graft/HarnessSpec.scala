package graft

import graft.operators.{GlobalOrder, Loop}
import org.apache.spark.sql.functions._

/** The shared run path's guarantees: a failing query is reported, not
  * thrown, and still releases its pins; a run releases only the pins it
  * took; the JSON escaper covers every control char; unknown query names
  * are rejected before anything runs. */
class HarnessSpec extends SparkSpec {

  test("a query that throws inside run comes back as failure text and leaves no pinned cache") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    // the sink pins the query's frame the way GlobalOrder's operators do,
    // then fails mid-action
    val pinThenThrow: Harness.Sink = df => {
      Loop.pinnedPersist(df)
      df.count()
      assert(!cm.isEmpty, "the pinned frame should be cached before the throw")
      throw new IllegalStateException("boom mid-query")
    }
    val result = Harness.run(spark, "q_daily_trend", sf, pinThenThrow)
    assert(result == Left("IllegalStateException: boom mid-query"))
    assert(cm.isEmpty, "run must release the failed query's pins")
  }

  test("a run releases only its own pins: a ranked projection pinned outside any scope stays cached") {
    // the pin lands on the default handle, as a caller on another thread
    // that runs a GlobalOrder query outside Harness.run would leave it
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val outside = GlobalOrder.withGlobalRowNumber(
      spark.range(2500).select(col("id"), (col("id") * 2654435761L % 101).as("v")),
      Seq(col("v").asc, col("id").asc), "pos")
    try {
      assert(outside.count() == 2500)
      val mine = spark.sparkContext.getPersistentRDDs.keySet -- base
      assert(mine.nonEmpty, "expected the outside ranked projection to be cached")
      // q_global_order pins its own ranked projection and releases it
      assert(Harness.run(spark, "q_global_order", sf, Harness.Sink.Count).isRight)
      assert(mine.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
        "Harness.run unpersisted a ranked projection it did not pin")
    } finally GlobalOrder.release(blocking = true)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- base).isEmpty)
  }

  test("jsonString escapes quote, backslash and every control char below 0x20") {
    for (c <- 0 until 0x20)
      assert(Harness.jsonString(c.toChar.toString) == "\"\\u%04x\"".format(c),
        s"char 0x${c.toHexString}")
    assert(Harness.jsonString("a\"b\\c") == "\"a\\\"b\\\\c\"")
    assert(Harness.jsonString("été ok") == "\"été ok\"")
  }

  test("select rejects an unknown query name and keeps known ones") {
    val e = intercept[IllegalArgumentException](Harness.select(Seq("q_daily_trend", "q_typo")))
    assert(e.getMessage.contains("q_typo") && !e.getMessage.contains("q_daily_trend"))
    assert(Harness.select(Seq("q_daily_trend")) == Seq("q_daily_trend"))
    assert(Harness.select(Nil).toSet == SparkEntry.queries.keySet)
  }
}
