package graft

import graft.streaming.AnomalyMonitor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class AnomalyMonitorSpec extends SparkSpec {
  import spark.implicits._

  /** Prequential expectation computed independently in plain Scala from
    * the batch daily counts: day i scored against days 0..i-1. */
  private def expected(counts: Seq[(String, Long)]): Seq[(String, Option[Double])] = {
    var (n, s1, s2) = (0L, 0L, 0L)
    counts.sortBy(_._1).map { case (day, c) =>
      val z =
        if (n < 2) None
        else {
          val mean = s1 / n.toDouble
          val varS = (s2 - s1 * (s1 / n.toDouble)) / (n - 1).toDouble
          if (varS <= 0) None
          else Some(math.rint((c - mean) / math.sqrt(varS) * 1000) / 1000)
        }
      n += 1; s1 += c; s2 += c * c
      day -> z
    }
  }

  test("batch mode: every type's days emit once, in order, with the prequential z") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
      .as[AnomalyMonitor.Ev]
    val got = AnomalyMonitor.scores(ev).collect()

    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

    assert(got.length == daily.length, "one emission per (type, day)")
    for ((etype, rows) <- daily.groupBy(_._1)) {
      val exp = expected(rows.map(r => (r._2, r._3)).toSeq)
      val g = got.filter(_.event_type == etype).sortBy(_.day)
      assert(g.map(_.day).toSeq == exp.map(_._1), s"$etype day order")
      for ((score, (day, z)) <- g.zip(exp)) {
        assert(score.z == z, s"$etype $day: got ${score.z}, want $z")
        assert(score.is_anomaly == z.exists(v => math.abs(v) > 2.0), s"$etype $day")
      }
      // counts match the batch aggregate
      val byDay = rows.map(r => r._2 -> r._3).toMap
      g.foreach(s => assert(s.n == byDay(s.day), s"$etype ${s.day} count"))
    }
  }

  test("a day's count spans micro-batches and emits exactly once, after the watermark closes it") {
    val dir = tempDir("graft-anomaly")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("event_type STRING, ts TIMESTAMP").parquet(src)
        .withWatermark("ts", "1 hour")
        .as[AnomalyMonitor.Ev]
      val q = AnomalyMonitor.scores(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def evDf(rows: Seq[(String, String)]) =
      rows.toDF("event_type", "s")
        .select(col("event_type"), col("s").cast("timestamp").as("ts"))
    def readOut() = spark.read
      .schema("event_type STRING, day STRING, n LONG, z DOUBLE, is_anomaly BOOLEAN")
      .parquet(out).collect()

    // batch 1: two events on Jan 1, max ts 23:00 → watermark 22:00 —
    // Jan 1 is NOT closed, nothing may emit
    evDf(Seq(("view", "2024-01-01 10:00:00"), ("view", "2024-01-01 23:00:00")))
      .write.mode("append").parquet(src)
    runOnce()
    assert(readOut().isEmpty, "day emitted before the watermark closed it")

    // batch 2: one MORE Jan-1 event (admissible: above the 22:00
    // watermark) plus a Jan-3 event pushing the watermark past Jan 1's
    // end → Jan 1 emits exactly once with the cross-batch count of 3
    evDf(Seq(("view", "2024-01-01 23:30:00"), ("view", "2024-01-03 12:00:00")))
      .write.mode("append").parquet(src)
    runOnce()
    val after2 = readOut()
    assert(after2.length == 1, s"expected exactly Jan 1, got ${after2.toSeq}")
    assert(after2.head.getString(1) == "2024-01-01")
    assert(after2.head.getLong(2) == 3L, "cross-batch count")

    // batch 3: nothing new for Jan 1; far event closes Jan 3 → Jan 1 is
    // not re-emitted (exactly-once per day), Jan 3 emits with its count
    evDf(Seq(("view", "2024-01-05 12:00:00"))).write.mode("append").parquet(src)
    runOnce()
    val after3 = readOut().sortBy(_.getString(1))
    assert(after3.map(_.getString(1)).toSeq == Seq("2024-01-01", "2024-01-03"))
    assert(after3.last.getLong(2) == 1L)
  }
}
