package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming windowed aggregation with watermark (SURVEY §2.7): the same
  * window expressions the batch queries use, under readStream — verifying
  * the engine's batch/streaming semantic parity for time windows. */
class StreamingWindowSpec extends SparkSpec {
  import spark.implicits._

  test("tumbling-window counts over a file stream equal the batch result") {
    val dir = tempDir("graft-swin")
    val src = s"$dir/src"
    val rows = Seq(
      (1L, "2024-01-01 00:10:00", 1.0), (2L, "2024-01-01 00:50:00", 2.0),
      (3L, "2024-01-01 01:10:00", 3.0), (4L, "2024-01-01 02:05:00", 4.0),
      (5L, "2024-01-01 02:55:00", 5.0))
      .toDF("event_id", "s", "value")
      .select(col("event_id"), col("s").cast("timestamp").as("ts"), col("value"))
    rows.write.mode("append").parquet(src)

    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, value DOUBLE").parquet(src)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("swin")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.sql(
      "SELECT window.start AS w, n, v FROM swin ORDER BY w")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    val batch = rows.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("window.start").as("w"), col("n"), col("v")).orderBy("w")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.length == 3) // hours 0,1,2
  }
}
