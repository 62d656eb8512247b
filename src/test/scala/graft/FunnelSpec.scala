package graft

import java.time.Instant

import graft.streaming.Funnel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def evDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("user_id", "s", "event_type")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"),
        col("event_type"))

  private def inst(s: String): Instant = Instant.parse(s.replace(' ', 'T') + "Z")

  test("batch mode equals q_funnel on the fixture: same final stage, same stage timestamps") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("event_type"))
      .as[Funnel.Ev]
    val advances = Funnel.stages(ev).collect()
    val byUser = advances.groupBy(_.user_id)
    val oracle = SparkEntry.queries("q_funnel")(spark, sf).collect()
    assert(oracle.nonEmpty)
    oracle.foreach { r =>
      val user = r.getLong(0)
      val got = byUser.getOrElse(user, Array.empty)
      val expectStage = r.getString(4)
      val gotStage =
        if (got.exists(_.stage == "purchase")) "purchase"
        else if (got.exists(_.stage == "click")) "click"
        else if (got.exists(_.stage == "view")) "view"
        else "none"
      assert(gotStage == expectStage, s"user $user")
      // every reached stage's timestamp matches the batch query's column
      for ((stage, idx) <- Seq(("view", 1), ("click", 2), ("purchase", 3)))
        got.find(_.stage == stage).foreach { adv =>
          assert(adv.at == r.getAs[java.time.LocalDateTime](idx)
            .toInstant(java.time.ZoneOffset.UTC), s"user $user $stage")
        }
    }
  }

  test("a late click with an earlier timestamp wins the click stage across micro-batches") {
    val dir = tempDir("graft-funnel")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_type STRING").parquet(src)
        .withWatermark("ts", "1 hour")
        .as[Funnel.Ev]
      val q = Funnel.stages(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: view@10:00 and click@12:00. Watermark reaches 11:00 → only
    // the view is final; the click stays buffered (it would be WRONG to
    // emit it: an earlier click may still arrive)
    evDf(Seq((1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 12:00:00", "click")))
      .write.mode("append").parquet(src)
    runOnce()
    val after1 = spark.read.schema("user_id LONG, stage STRING, at TIMESTAMP")
      .parquet(out).collect()
    assert(after1.map(_.getString(1)).toSeq == Seq("view"))

    // run 2: a LATE click@11:30 (strictly above the persisted 11:00
    // watermark → admissible; AT the watermark Spark's late-row filter
    // drops it) plus a purchase@13:00 and a far event pushing the
    // watermark to 19:00 — everything below 19:00 finalizes, folded in
    // ts order: the 11:30 click wins the stage over the first-arrived
    // 12:00 one, the purchase follows it
    evDf(Seq((1L, "2024-01-01 11:30:00", "click"),
      (1L, "2024-01-01 13:00:00", "purchase"),
      (2L, "2024-01-01 20:00:00", "view")))
      .write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.schema("user_id LONG, stage STRING, at TIMESTAMP")
      .parquet(out).where(col("user_id") === 1)
      .orderBy("at").collect()
      .map(r => (r.getString(1), r.getTimestamp(2).toInstant))
    assert(got.toSeq == Seq(
      ("view", inst("2024-01-01 10:00:00")),
      ("click", inst("2024-01-01 11:30:00")),
      ("purchase", inst("2024-01-01 13:00:00"))))

    // run 3: more events for the completed user must NOT re-emit stages
    // (the completed state is a tombstone, not removed)
    evDf(Seq((1L, "2024-01-01 21:00:00", "view"),
      (2L, "2024-01-02 09:00:00", "view")))
      .write.mode("append").parquet(src)
    runOnce()
    val finalRows = spark.read.schema("user_id LONG, stage STRING, at TIMESTAMP")
      .parquet(out).where(col("user_id") === 1).collect()
    assert(finalRows.length == 3, s"duplicate stage emissions: ${finalRows.toSeq}")
  }
}
