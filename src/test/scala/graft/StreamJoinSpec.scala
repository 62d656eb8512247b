package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-stream event-time interval join (SURVEY §2.7 notes the
  * reference has none — north-star scope): clicks attribute to the
  * impression they followed within 30 minutes. Watermarks on BOTH sides
  * bound the join state: an impression's state evicts once the click
  * watermark passes its upper attribution bound, so state is
  * O(events within the horizon), not O(stream) — the property that keeps
  * a stream-stream join alive at 100 TB/day. The batch analogue of this
  * plan shape is oracled as q_range_join. */
class StreamJoinSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static join: each micro-batch enriches against the CURRENT dim table") {
    // the slowly-changing-dimension enrichment shape: the static side
    // binds at (re)start, so a dim overwrite is picked up by the next
    // AvailableNow run against the SAME checkpoint — already-processed
    // batches keep their old enrichment (no retroactive rewrite)
    val dir = tempDir("graft-ssjoin")
    val (src, out, chk, dimDir) = (s"$dir/src", s"$dir/out", s"$dir/chk", s"$dir/dim")

    Seq((1L, "bronze"), (2L, "silver")).toDF("user_id", "tier")
      .write.parquet(dimDir)

    def runBatch(events: Seq[(Long, Long)]): Unit = {
      events.toDF("event_id", "user_id")
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("event_id LONG, user_id LONG").parquet(src)
      val dim = spark.read.parquet(dimDir)
      val q = stream.join(dim, Seq("user_id"), "left")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runBatch(Seq((100L, 1L), (101L, 2L)))
    // dim changes between micro-batches: user 2 promoted, user 3 appears
    Seq((1L, "bronze"), (2L, "gold"), (3L, "silver")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimDir)
    runBatch(Seq((102L, 2L), (103L, 3L), (104L, 99L)))

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(got(100L) == "bronze")
    assert(got(101L) == "silver", "batch 1 must see the OLD dim")
    assert(got(102L) == "gold", "batch 2 must see the overwritten dim")
    assert(got(103L) == "silver")
    assert(got(104L) == null, "unmatched events survive the left join")
  }

  test("clicks join impressions within the attribution window, batch parity") {
    val dir = tempDir("graft-sjoin")
    val (impSrc, clkSrc, out, chk) = (s"$dir/imp", s"$dir/clk", s"$dir/out", s"$dir/chk")

    def ts(c: String) = col(c).cast("timestamp")
    val imps = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 02:00:00"),
      (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "s").select(col("user_id"), ts("s").as("imp_ts"))
    val clks = Seq(
      (1L, "2024-01-01 00:10:00"),  // attributes to imp 00:00
      (1L, "2024-01-01 02:20:00"),  // attributes to imp 02:00
      (1L, "2024-01-01 01:00:00"),  // outside both 30-min windows → no match
      (2L, "2024-01-01 00:29:00"),  // attributes to imp 00:00 (user 2)
      (3L, "2024-01-01 00:10:00"))  // no impression at all
      .toDF("user_id", "s").select(col("user_id").as("clk_user"), ts("s").as("clk_ts"))
    imps.write.mode("append").parquet(impSrc)
    clks.write.mode("append").parquet(clkSrc)

    val impStream = spark.readStream.schema("user_id LONG, imp_ts TIMESTAMP")
      .parquet(impSrc).withWatermark("imp_ts", "1 hour")
    val clkStream = spark.readStream.schema("clk_user LONG, clk_ts TIMESTAMP")
      .parquet(clkSrc).withWatermark("clk_ts", "1 hour")
    val joined = impStream.join(clkStream,
      col("user_id") === col("clk_user") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.read.parquet(out)
      .select(col("user_id"), col("imp_ts").cast("string"), col("clk_ts").cast("string"))
      .as[(Long, String, String)].collect().sorted.toSeq
    // identical join as one batch plan — streaming must agree exactly
    val batch = imps.join(clks,
      col("user_id") === col("clk_user") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("imp_ts").cast("string"), col("clk_ts").cast("string"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(got == batch && got.size == 3)
  }
}
