package graft

import java.time.Instant

import graft.streaming.Sessionize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def evDf(rows: Seq[(Long, String, Double)]) =
    rows.toDF("user_id", "s", "value")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"), col("value"))

  // "2024-01-01 10:00:00" (UTC wall clock, matching the UTC session TZ)
  private def inst(s: String): Instant = Instant.parse(s.replace(' ', 'T') + "Z")
  private def us(s: String): Long = inst(s).toEpochMilli * 1000L

  test("stateful sessionization across two streaming runs closes gapped sessions") {
    val dir = tempDir("graft-sess")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE").parquet(src)
        .withWatermark("ts", "10 minutes")
        .as[Sessionize.Ev]
      val q = Sessionize.sessions(stream, gapMs = 60 * 60 * 1000L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: two events 10 min apart → one open session (nothing emitted)
    evDf(Seq((1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:10:00", 2.0)))
      .write.mode("append").parquet(src)
    runOnce()

    // run 2: event 5 h later → closes the first session, opens another
    evDf(Seq((1L, "2024-01-01 05:00:00", 7.0)))
      .write.mode("append").parquet(src)
    runOnce()

    val sessions = spark.read.parquet(out)
      .orderBy("session_start")
      .as[Sessionize.Session].collect()
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.user_id == 1L && s.n == 2 && s.total == 3.0)
    assert(s.session_start == inst("2024-01-01 00:00:00"))
    assert(s.session_end == inst("2024-01-01 01:10:00")) // last + 1h gap
  }

  test("two disjoint late events across micro-batches merge; watermark finalizes sessions") {
    import org.apache.spark.sql.streaming.GroupState
    // drive updateGroup directly across simulated micro-batches
    val gap = 60 * 60 * 1000L
    var held: Option[Sessionize.OpenSessions] = None
    var wm = 0L
    var timedOut = false
    val state = new GroupState[Sessionize.OpenSessions] {
      override def exists: Boolean = held.isDefined
      override def get: Sessionize.OpenSessions = held.get
      override def getOption: Option[Sessionize.OpenSessions] = held
      override def update(s: Sessionize.OpenSessions): Unit = held = Some(s)
      override def remove(): Unit = held = None
      override def hasTimedOut: Boolean = timedOut
      override def setTimeoutDuration(d: Long): Unit = ()
      override def setTimeoutDuration(d: String): Unit = ()
      override def setTimeoutTimestamp(t: Long): Unit =
        assert(t > wm, "timeout must be clamped above the watermark")
      override def setTimeoutTimestamp(t: Long, additional: String): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
      override def setTimeoutTimestamp(t: java.sql.Date, additional: String): Unit = ()
      override def getCurrentWatermarkMs(): Long = wm
      override def getCurrentProcessingTimeMs(): Long = 0L
    }
    def ev(s: String, v: Double) = Sessionize.Ev(1L, inst(s), v)
    // batch 1: open session 10:00–10:30
    val out1 = Sessionize.updateGroup(gap)(1L,
      Iterator(ev("2024-01-01 10:00:00", 1.0), ev("2024-01-01 10:30:00", 2.0)), state)
    assert(out1.isEmpty && held.get.sessions.map(_.n) == Seq(2L))
    // batch 2: late overlapping event 09:45 (within gap of start) → start lowers
    assert(Sessionize.updateGroup(gap)(1L, Iterator(ev("2024-01-01 09:45:00", 1.0)), state).isEmpty)
    assert(held.get.sessions.map(s => (s.startUs, s.n)) == Seq((us("2024-01-01 09:45:00"), 3L)))
    // batch 3: disjoint late event 06:00 → held OPEN (not emitted): a later
    // overlapping late event must still be able to merge with it
    assert(Sessionize.updateGroup(gap)(1L, Iterator(ev("2024-01-01 06:00:00", 9.0)), state).isEmpty)
    assert(held.get.sessions.size == 2)
    // batch 4: second late event 06:30 overlaps the first → one session of
    // two events, exactly what session_window would build (the old
    // single-open-session design emitted 06:00 alone and then 06:30 alone)
    assert(Sessionize.updateGroup(gap)(1L, Iterator(ev("2024-01-01 06:30:00", 1.0)), state).isEmpty)
    assert(held.get.sessions.map(s => (s.startUs, s.lastUs, s.n)) ==
      Seq((us("2024-01-01 06:00:00"), us("2024-01-01 06:30:00"), 2L),
        (us("2024-01-01 09:45:00"), us("2024-01-01 10:30:00"), 3L)))
    // watermark passes 06:30+gap → timeout finalizes ONLY the late session
    wm = us("2024-01-01 08:00:00") / 1000L; timedOut = true
    val out5 = Sessionize.updateGroup(gap)(1L, Iterator.empty, state).toSeq
    assert(out5.map(s => (s.session_start, s.session_end, s.n, s.total)) ==
      Seq((inst("2024-01-01 06:00:00"), inst("2024-01-01 07:30:00"), 2L, 10.0)))
    assert(held.get.sessions.map(_.n) == Seq(3L))
  }

  test("batch mode equals the built-in session_window row for row") {
    val events = evDf(Seq(
      (1L, "2024-01-01 00:00:00", 1.0), (1L, "2024-01-01 00:30:00", 2.0),
      (1L, "2024-01-01 03:00:00", 4.0),
      (2L, "2024-01-01 00:00:00", 8.0))).as[Sessionize.Ev]
    // batch input is complete, so every session is final and emitted
    val got = Sessionize.sessions(events, 60 * 60 * 1000L)
      .orderBy("user_id", "session_start")
      .collect().map(s => (s.user_id, s.session_start, s.session_end, s.n, s.total))
    val viaBuiltin = events.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("user_id"), col("w.start").as("s"), col("w.end").as("e"), col("n"), col("total"))
      .orderBy("user_id", "s")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant, r.getTimestamp(2).toInstant,
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == viaBuiltin.toSeq && got.length == 3)
  }
}
