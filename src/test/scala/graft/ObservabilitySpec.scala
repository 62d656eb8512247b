package graft

import scala.collection.mutable

import graft.observability.RunReport
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.sql.functions._

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  private def statusDf = Seq("PÅGÅR", "PÅGÅR", "KOMMANDE", "PÅGÅR").toDF("status")

  test("report counts statuses in one pass and notifies start/done") {
    val msgs = mutable.ArrayBuffer.empty[String]
    val r = RunReport.report(statusDf, "status", notify = msgs += _)
    assert(r.rows == 4)
    assert(r.statusCounts == Map("PÅGÅR" -> 3, "KOMMANDE" -> 1))
    assert(r.anomaly.isEmpty)
    assert(msgs.head == "run started" && msgs.last.startsWith("run done: 4 rows"))
  }

  test("anomaly bounds: too few / too many / zero rows") {
    assert(RunReport.report(statusDf, "status", expectMin = 10).anomaly
      .exists(_.contains("expected min")))
    assert(RunReport.report(statusDf, "status", expectMax = 2).anomaly
      .exists(_.contains("expected max")))
    assert(RunReport.report(statusDf.limit(0), "status").anomaly
      .exists(_.contains("zero")))
  }

  test("MetricsListener captures completed actions") {
    val l = new RunReport.MetricsListener
    spark.listenerManager.register(l)
    try {
      Seq(1, 2, 3).toDF("x").count()
      ListenerBusAccess.drain(spark.sparkContext) // listener events are async
      assert(l.snapshot.exists { case (name, secs, ok) => ok && secs >= 0 })
    } finally spark.listenerManager.unregister(l)
  }

  test("KpiAggregator matches the built-in conditional counts") {
    val ds = statusDf.as[String]
    val kpi = ds.select(graft.functions.KpiAggregator.byStatus.toColumn).head()
    assert(kpi == graft.functions.KpiAggregator.Kpi(3, 1, 4))
  }

  test("Slack payload is byte-identical to the reference notifier's json.dumps") {
    // goldens generated by running the reference's own payload logic
    // (src/utils/notifier.py:27-31,44-63: message assembly + json.dumps
    // with default ensure_ascii/separators) under CPython — every level's
    // emoji (incl. the astral 🚨 as a surrogate pair), both ping forms,
    // embedded quotes/newlines, and the unknown-level fallback
    val goldens = Seq(
      ("run started", "info", false, None,
        "{\"text\": \"\\u2139\\ufe0f run started\", \"mrkdwn\": true}"),
      ("rows 0 < expected min 100", "warning", false, None,
        "{\"text\": \"\\u26a0\\ufe0f rows 0 < expected min 100\", \"mrkdwn\": true}"),
      ("ETL \"daily\" failed: timeout\nretrying", "error", true, Some("U123ABC"),
        "{\"text\": \"\\ud83d\\udea8 <!here> <@U123ABC> ETL \\\"daily\\\" failed: timeout\\nretrying\", \"mrkdwn\": true}"),
      ("run done: 12345 rows in 8.1 s", "success", false, None,
        "{\"text\": \"\\u2705 run done: 12345 rows in 8.1 s\", \"mrkdwn\": true}"),
      ("unknown level falls back", "debug", false, None,
        "{\"text\": \"\\u2139\\ufe0f unknown level falls back\", \"mrkdwn\": true}"))
    for ((text, level, ping, user, want) <- goldens) {
      val got = graft.observability.SlackNotifier.payload(text, level, ping, user)
      assert(got == want, s"payload($text, $level) drifted:\n got $got\nwant $want")
    }
  }
}
