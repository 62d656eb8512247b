package graftbench

import graft.Dashboard
import graft.Dashboard.Filters
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A dashboard user session over a published incident table: by default
  * one built by the same generator (about 70k rows in the 30-day scan
  * window), or `published`, a table the ingest workload wrote. A cycle is
  * one refresh (re-read the table and rebuild the cached base view, as
  * the reference's 300 s cache TTL forces) followed by a fixed script of
  * eight interactions; each interaction changes the filters and redraws
  * all six charts. Read-only: no XML, no writes. */
final class DashboardSession(ctx: Ctx, published: Option[String] = None) extends Workload {
  import ctx.spark

  private val perDay = if (ctx.tiny) 200 else 2334
  private val lay = Gen.Layout(perDay, firstDay = -30)
  private val table =
    published.getOrElse(ctx.dir("dashboard").resolve("incidents").toString)
  private val since = expr(s"TIMESTAMP_NTZ '${Gen.nowOf(-30)}'")

  private val day = (d: Int) => Gen.nowOf(d).take(10)
  private val Script: Seq[Filters] = Seq(
    Filters(),
    Filters(statuses = Seq("PÅGÅR")),
    Filters(counties = Seq("Stockholms län", "Västra Götalands län")),
    Filters(freeText = Some("olycka")),
    Filters(tsFrom = Some(day(-10)), tsUntil = Some(day(-3))),
    Filters(road = Some("e6"), geoOnly = true),
    Filters(statuses = Seq("KOMMANDE"), freeText = Some("vägarbete")),
    Filters(counties = Seq("Skåne län"), geoOnly = true))

  def cycles(seconds: Int): Int = math.max(1, seconds / 12)
  def primary = "dashboard.interaction"
  def rowsPerOp: Double = baseRows.toDouble

  private var baseRows = 0L
  private var base: DataFrame = null
  private var expected: Seq[Seq[Any]] = Nil

  def prepare(): Unit =
    if (published.isEmpty)
      Gen.history(spark, ctx.seed, lay, -30, 0).write.mode("overwrite").parquet(table)

  /** The six charts of one interaction, collected into plain values. */
  private def interact(view: DataFrame, f: Filters): Seq[Any] = {
    val df = Dashboard.applyFilters(view, f)
    def pairs(d: DataFrame, key: Row => String) =
      d.collect().map(r => (key(r), r.getLong(1))).toSeq
    Seq(
      ctx.span("dashboard.kpis")(Dashboard.kpis(df)),
      ctx.span("dashboard.county")(pairs(Dashboard.countyCounts(df), _.getString(0))),
      ctx.span("dashboard.trend")(pairs(Dashboard.dailyTrend(df), _.get(0).toString.take(10))),
      ctx.span("dashboard.histogram")(pairs(Dashboard.typeHistogram(df), _.getString(0))),
      ctx.span("dashboard.table")(
        Dashboard.tableView(df, "start_ts", ascending = false, 200).collect().toSeq),
      ctx.span("dashboard.map") {
        val pts = Dashboard.mapPoints(df, approxMissing = true)
        (Dashboard.viewport(pts).head().toSeq, pts.count())
      })
  }

  private def refresh(): Long = {
    if (base != null) base.unpersist(blocking = true)
    base = Dashboard.baseView(spark, spark.read.parquet(table), Some(since))
    base.count()
  }

  /** Reference results from [[Oracle]] over the collected base view, then
    * one cached interaction to warm the JIT and the planner. */
  def warmup(): Unit = {
    baseRows = refresh()
    val rows = base.collect().toSeq
    expected = Script.map(Oracle.interact(rows, _))
    interact(base, Script.head)
  }

  /** Drops the cached base view. */
  def release(): Unit = if (base != null) { base.unpersist(blocking = true); base = null }

  private var cacheMb = Seq.empty[Double]

  def runCycle(): Unit = {
    ctx.op("dashboard.refresh")(refresh())(_ == baseRows)
    if (ctx.traced) cacheMb :+= spark.sparkContext.getRDDStorageInfo
      .map(_.memSize.toDouble).sum / Layers.MB
    Script.zip(expected).foreach { case (f, want) =>
      ctx.op(primary)(interact(base, f))(sameResult(_, want))
    }
  }

  private def sameResult(got: Seq[Any], want: Seq[Any]): Boolean = {
    val ok = got == want
    if (!ok) System.err.println(s"dashboard result mismatch: $got != $want")
    ok
  }

  def layers(roots: Seq[Span]): Seq[Metric] = {
    val ops = roots.filter(_.name == primary)
    val refreshes = roots.filter(_.name == "dashboard.refresh")
    val charts = Seq("kpis", "county", "trend", "histogram", "table", "map").map { c =>
      Metric(s"dashboard.${c}_ms", Layers.opMedian(ops, Layers.childMs(_, s"dashboard.$c")), "ms")
    }
    Seq(
      Metric("dashboard.refresh_ms", Stats.median(refreshes.map(_.ms)), "ms"),
      Metric("dashboard.cache_mb", Stats.median(cacheMb), "MB"),
      Metric("dashboard.input_mb", Layers.opMedian(ops, _.total.inputB / Layers.MB), "MB")
    ) ++ charts
  }
}

/** The dashboard's filters and six charts in plain Scala over collected
  * rows: an output check that shares no plan with the engine. */
object Oracle {
  private def s(r: Row, c: String): String = r.getAs[String](c)
  private def d(r: Row, c: String): Option[Double] =
    if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
  private def ts(r: Row, c: String): java.time.LocalDateTime =
    r.getAs[java.time.LocalDateTime](c)
  private def has(v: String, needle: String): Boolean =
    v != null && v.toLowerCase.contains(needle.toLowerCase)

  def filter(rows: Seq[Row], f: Filters): Seq[Row] = {
    def day(v: String) = java.time.LocalDate.parse(v).atStartOfDay
    rows.filter { r =>
      (f.statuses.isEmpty || f.statuses.contains(s(r, "status"))) &&
      (f.counties.isEmpty || f.counties.contains(s(r, "county_display"))) &&
      f.tsFrom.forall(v => ts(r, "start_ts") != null && !ts(r, "start_ts").isBefore(day(v))) &&
      f.tsUntil.forall(v => ts(r, "start_ts") != null && ts(r, "start_ts").isBefore(day(v))) &&
      f.freeText.forall(q => Seq("message", "location_descriptor", "road_number")
        .exists(c => has(s(r, c), q))) &&
      f.road.forall(q => has(s(r, "road_number"), q)) &&
      (!f.geoOnly || (d(r, "latitude").isDefined && d(r, "longitude").isDefined))
    }
  }

  private def counts(rows: Seq[Row], key: Row => String): Seq[(String, Long)] =
    rows.groupBy(key).map { case (k, v) => (k, v.size.toLong) }.toSeq

  private def zoom(span: Double): Int =
    if (span <= 0.08) 11 else if (span <= 0.25) 9 else if (span <= 0.6) 7
    else if (span <= 1.2) 6 else if (span <= 3.0) 5 else 4

  def interact(base: Seq[Row], f: Filters): Seq[Any] = {
    val rows = filter(base, f)
    val byCount = Ordering.by[(String, Long), (Long, String)](p => (-p._2, p._1))
    val centers = Dashboard.CountyCenters.map(c => c._1 -> (c._2, c._3)).toMap
    val pts = rows.flatMap { r =>
      val c = centers.get(s(r, "county_display"))
      for (lat <- d(r, "latitude").orElse(c.map(_._1));
           lon <- d(r, "longitude").orElse(c.map(_._2))) yield (lat, lon)
    }
    val viewport: Seq[Any] =
      if (pts.isEmpty) Seq(null, null, null, 4)
      else {
        val (la, lo) = (pts.map(_._1), pts.map(_._2))
        val span = math.max(la.max - la.min, lo.max - lo.min)
        Seq((la.min + la.max) / 2, (lo.min + lo.max) / 2, span, zoom(span))
      }
    val status = rows.groupBy(r => s(r, "status")).map { case (k, v) => k -> v.size.toLong }
    Seq(
      (status.getOrElse("PÅGÅR", 0L), status.getOrElse("KOMMANDE", 0L), rows.size.toLong),
      counts(rows, s(_, "county_display")).sorted(byCount).take(10),
      counts(rows, ts(_, "start_ts").toString.take(10)).sortBy(_._1),
      counts(rows, s(_, "message_type")).sorted(byCount),
      rows.sortBy(r => (ts(r, "start_ts"), s(r, "incident_id")))(
        Ordering.Tuple2(Ordering[java.time.LocalDateTime].reverse, Ordering.String)).take(200),
      (viewport, pts.size.toLong))
  }
}
