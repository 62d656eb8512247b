package graft

import java.nio.file.Files

import graft.operators.CoreQueries
import graft.sources.PagedXmlSource
import graft.streaming.IncrementalUpsert
import org.apache.spark.sql.functions._

/** One row flattened from the XML feed, typed for the stream encoder. */
final case class RawIncident(
    situation_id: String, deviation_id: String, message: String,
    county_no: Option[Int], start_time: String, end_time: String,
    modified_time: String)

/** The full reference dataflow composed end-to-end, streaming-first:
  * file-arrival XML (the feed drop directory) → StAX flatten → normalize
  * (UTC parse, synthetic key) → watermarked latest-wins versioned upsert
  * ([[IncrementalUpsert.runVersioned]]) → dashboard KPIs over the
  * published snapshot — across two separate runs sharing one checkpoint
  * (the daily-cron restart), with a late UPDATE to an already-published
  * key in the second run. Each piece has its own spec; this proves they
  * compose.
  */
class StreamEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val nowTs = lit("2024-06-01 00:00:00").cast("timestamp")

  /** One feed document: a Situation with (id, message, start, end|null). */
  private def situationXml(modified: String,
      devs: Seq[(String, String, String, String)]): String = {
    val sb = new StringBuilder("<RESPONSE><RESULT><Situation><Id>sit1</Id>")
    sb.append(s"<ModifiedTime>$modified</ModifiedTime>")
    sb.append(s"<PublicationTime>$modified</PublicationTime>")
    for ((id, msg, start, end) <- devs) {
      sb.append("<Deviation>")
      sb.append(s"<DeviationId>$id</DeviationId><Message>$msg</Message>")
      sb.append("<CountyNo>1</CountyNo>")
      sb.append(s"<StartTime>$start</StartTime>")
      if (end != null) sb.append(s"<EndTime>$end</EndTime>")
      sb.append("</Deviation>")
    }
    sb.append("</Situation></RESULT></RESPONSE>")
    sb.toString
  }

  /** The file-arrival → StAX flatten → normalize stream, shared by the
    * restart test and the kill-and-resume test. `oneFilePerBatch` caps
    * the source at one file per micro-batch so a run over n files takes
    * n batches — the granularity the crash-injection test needs to kill
    * BETWEEN and INSIDE batches deterministically. */
  private def normalizedStream(srcDir: String,
      oneFilePerBatch: Boolean = false): org.apache.spark.sql.DataFrame = {
    val reader = spark.readStream.option("wholetext", "true")
    (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1") else reader)
      .text(srcDir).as[String]
      .flatMap(doc => PagedXmlSource.parseString(doc).map(m => RawIncident(
        m("situation_id").asInstanceOf[String],
        m("deviation_id").asInstanceOf[String],
        m("message").asInstanceOf[String],
        Option(m("county_no").asInstanceOf[Integer]).map(_.intValue),
        m("start_time").asInstanceOf[String],
        m("end_time").asInstanceOf[String],
        m("modified_time").asInstanceOf[String])))
      .toDF()
      .withColumn("incident_id", coalesce(col("deviation_id"),
        concat_ws(":", col("situation_id"), col("start_time"))))
      .withColumn("start_ts", to_timestamp(col("start_time")))
      .withColumn("end_ts", to_timestamp(col("end_time")))
      .withColumn("modified_ts", to_timestamp(col("modified_time")))
      .select("incident_id", "message", "county_no",
        "start_ts", "end_ts", "modified_ts")
  }

  /** Ingest everything currently in `srcDir` not yet seen by `chk`:
    * wholetext file stream → flatten → normalize → versioned upsert. */
  private def runOnce(srcDir: String, root: String, chk: String): Unit =
    IncrementalUpsert.runVersioned(normalizedStream(srcDir), root, chk,
      Seq("incident_id"), "modified_ts", "modified_ts")
      .awaitTermination()

  test("XML file arrival → normalize → versioned upsert → dashboard KPIs, late update across restart") {
    val dir = tempDir("graft-e2e")
    val src = s"$dir/feed"
    val root = s"$dir/table"
    val chk = s"$dir/chk"
    Files.createDirectories(java.nio.file.Path.of(src))

    // run 1: d1 ongoing (open-ended), d2 upcoming
    Files.writeString(java.nio.file.Path.of(s"$src/batch1.xml"),
      situationXml("2024-05-31T00:00:00Z", Seq(
        ("d1", "Roadwork on E4", "2024-05-30T00:00:00Z", null),
        ("d2", "Bridge closure", "2024-07-01T00:00:00Z", null))))
    runOnce(src, root, chk)
    val v1 = Snapshots.latestVersion(spark, root).get

    // run 2 (fresh query, same checkpoint = the daily-cron restart):
    // a LATE UPDATE to d1 plus a new ongoing d3; only the new file is read
    Files.writeString(java.nio.file.Path.of(s"$src/batch2.xml"),
      situationXml("2024-05-31T12:00:00Z", Seq(
        ("d1", "UPDATED roadwork on E4", "2024-05-30T00:00:00Z", null),
        ("d3", "Accident", "2024-05-25T00:00:00Z", "2024-06-05T00:00:00Z"))))
    runOnce(src, root, chk)
    val v2 = Snapshots.latestVersion(spark, root).get
    assert(v2 > v1, s"second run did not publish a new version ($v1 → $v2)")

    // latest-wins merge: the update overwrote d1, d2/d3 coexist
    val latest = Snapshots.readLatest(spark, root)
    assert(latest.count() == 3)
    assert(latest.where(col("incident_id") === "d1")
      .head().getAs[String]("message") == "UPDATED roadwork on E4")
    // time travel: the pre-update snapshot still serves the original row
    val before = Snapshots.readVersion(spark, root, v1)
    assert(before.count() == 2)
    assert(before.where(col("incident_id") === "d1")
      .head().getAs[String]("message") == "Roadwork on E4")

    // dashboard over the published snapshot: status vs pinned "now",
    // expired rows dropped, county dim joined, KPI row
    val dim = Seq((1, "Stockholms län")).toDF("county_no", "county_name")
    val view = Dashboard.baseView(spark,
      latest
        .join(broadcast(dim), Seq("county_no"), "left")
        .withColumn("status",
          CoreQueries.statusOf(col("start_ts"), col("end_ts"), nowTs))
        .where(col("status").isNotNull),
      sinceLit = None)
    try {
      val (ongoing, upcoming, total) = Dashboard.kpis(view)
      assert((ongoing, upcoming, total) == ((2L, 1L, 3L)),
        s"KPIs: ongoing=$ongoing upcoming=$upcoming total=$total")
      val counties = Dashboard.countyCounts(view).collect()
      assert(counties.length == 1 &&
        counties(0).getString(0) == "Stockholms län" && counties(0).getLong(1) == 3)
    } finally view.unpersist(blocking = true) // the view's owner drops it
  }

  /** Crash-recovery law behind T3's "exactly-once-ish": a run killed
    * mid-stream — at BOTH failure points a real crash can hit — resumes
    * from the checkpoint and converges to exactly the uninterrupted
    * run's table content.
    *   1. crash BEFORE the sink write of a batch (batch read but neither
    *      merged nor committed) → the restart re-reads and merges it;
    *   2. crash AFTER the sink write but BEFORE the checkpoint commit
    *      (the merge landed, the offset log doesn't know) → the restart
    *      REPLAYS the batch, and the latest-wins merge's content
    *      idempotency makes the replay a no-op on table content.
    * Same wiring as [[IncrementalUpsert.runVersioned]] (watermark →
    * dropDuplicates → foreachBatch merge), with a fault hook around the
    * merge — the hook is the only difference from production. */
  test("kill-and-resume: crashed runs resume from the checkpoint and equal the uninterrupted run") {
    val dir = tempDir("graft-crash")
    val src = s"$dir/feed"
    Files.createDirectories(java.nio.file.Path.of(src))
    // three files = three micro-batches under maxFilesPerTrigger=1, with
    // strictly increasing mtimes so the file source's batch order (and
    // therefore which batch each crash hits) is deterministic; f3
    // UPDATES d1, so the cross-batch merge path is exercised
    val files = Seq(
      "f1.xml" -> situationXml("2024-05-31T00:00:00Z", Seq(
        ("d1", "Roadwork on E4", "2024-05-30T00:00:00Z", null))),
      "f2.xml" -> situationXml("2024-05-31T01:00:00Z", Seq(
        ("d2", "Bridge closure", "2024-07-01T00:00:00Z", null))),
      "f3.xml" -> situationXml("2024-05-31T02:00:00Z", Seq(
        ("d1", "UPDATED roadwork on E4", "2024-05-30T00:00:00Z", null),
        ("d3", "Accident", "2024-05-25T00:00:00Z", "2024-06-05T00:00:00Z"))))
    val t0 = System.currentTimeMillis() - 60000
    files.zipWithIndex.foreach { case ((name, xml), i) =>
      val p = java.nio.file.Path.of(s"$src/$name")
      Files.writeString(p, xml)
      assert(p.toFile.setLastModified(t0 + i * 10000))
    }

    def attempt(root: String, chk: String,
        hook: (Long, Boolean) => Unit): Unit =
      normalizedStream(src, oneFilePerBatch = true)
        .withWatermark("modified_ts", "30 days")
        .dropDuplicates(Seq("incident_id", "modified_ts"))
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          hook(id, true) // crash point 1: before the sink write
          IncrementalUpsert.mergeBatchVersioned(batch.sparkSession, batch,
            root, Seq("incident_id"), "modified_ts")
          hook(id, false) // crash point 2: after the sink, before commit
          ()
        }
        .start().awaitTermination()

    // control: the uninterrupted run, own target + checkpoint
    attempt(s"$dir/ctrl_table", s"$dir/ctrl_chk", (_, _) => ())

    // crashy run: kill before batch 1's merge, then after batch 2's
    // merge-but-before-commit, then let the third attempt finish
    val root = s"$dir/table"; val chk = s"$dir/chk"
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      attempt(root, chk, (id, before) =>
        if (id == 1 && before) throw new RuntimeException("injected: pre-sink crash"))
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      attempt(root, chk, (id, before) =>
        if (id == 2 && !before) throw new RuntimeException("injected: post-sink pre-commit crash"))
    }
    attempt(root, chk, (_, _) => ())

    val got = Snapshots.readLatest(spark, root)
      .select("incident_id", "message").collect().map(_.toSeq).toSet
    val want = Snapshots.readLatest(spark, s"$dir/ctrl_table")
      .select("incident_id", "message").collect().map(_.toSeq).toSet
    assert(got == want,
      s"recovered table diverged from the uninterrupted run: $got vs $want")
    assert(got.size == 3 && got.contains(Seq("d1", "UPDATED roadwork on E4")))
  }
}
