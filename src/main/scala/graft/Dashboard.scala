package graft

import graft.operators.CoreQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's second dataflow program: the interactive dashboard
  * (SURVEY §3.3, src/app/streamlit_app.py) — one cached base scan, a
  * conjunctive filter chain, and independent chart queries over the shared
  * filtered view. Each chart is its own action; the cache (S8,
  * `st.cache_data` in the reference) makes the scan cost per interaction
  * amortized, exactly like `df.cache()` here.
  */
object Dashboard {

  /** Conjunctive dashboard filters (reference
    * src/app/streamlit_app.py:229-251; all optional, applied in order
    * F2→F7). */
  final case class Filters(
      statuses: Seq[String] = Nil,
      counties: Seq[String] = Nil,
      tsFrom: Option[String] = None,
      tsUntil: Option[String] = None,
      freeText: Option[String] = None,
      road: Option[String] = None,
      geoOnly: Boolean = false)

  /** Base view: predicate scan + casts + display coalesce, cached (S8)
    * for the session: the caller owns the view and unpersists it at
    * refresh. `sinceLit` mirrors the 30-day window of the reference scan
    * (src/app/streamlit_app.py:154-167). */
  def baseView(spark: SparkSession, incidents: DataFrame, sinceLit: Option[Column]): DataFrame = {
    val scanned = sinceLit.fold(incidents)(c => incidents.where(col("start_ts") >= c))
    val sources = Seq("county_display", "county_name")
      .filter(scanned.columns.contains).map(col) :+ lit("Okänt län")
    val view = scanned.withColumn("county_display", coalesce(sources: _*))
    view.cache()
  }

  /** F2–F7 as one conjunctive predicate chain. */
  def applyFilters(df: DataFrame, f: Filters): DataFrame = {
    var out = df
    if (f.statuses.nonEmpty) out = out.where(col("status").isin(f.statuses: _*))
    if (f.counties.nonEmpty) out = out.where(col("county_display").isin(f.counties: _*))
    // lit() + try_to_timestamp, not string interpolation into expr():
    // filter values are user input — interpolation would allow expression
    // injection. An unparseable date yields NULL, and the isNull arm
    // treats it as "filter unset" rather than silently matching nothing.
    def tsBound(v: String, cmp: Column => Column): Column = {
      val parsed = try_to_timestamp(lit(v)).cast("timestamp_ntz")
      parsed.isNull || cmp(parsed)
    }
    f.tsFrom.foreach(a => out = out.where(tsBound(a, col("start_ts") >= _)))
    f.tsUntil.foreach(b => out = out.where(tsBound(b, col("start_ts") < _)))
    f.freeText.foreach { q =>
      out = out.where(CoreQueries.textSearch(
        Seq(col("message"), col("location_descriptor"), col("road_number")), q))
    }
    f.road.foreach(r => out = out.where(
      coalesce(lower(col("road_number")).contains(r.toLowerCase), lit(false))))
    if (f.geoOnly)
      out = out.where(col("latitude").isNotNull && col("longitude").isNotNull)
    out
  }

  /** A1 KPI row: (ongoing, upcoming, total) in one pass. */
  def kpis(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(
      count(when(col("status") === "PÅGÅR", 1)).as("ongoing"),
      count(when(col("status") === "KOMMANDE", 1)).as("upcoming"),
      count(lit(1)).as("total")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A2+O4 county bar chart: counts desc, optional top-k. */
  def countyCounts(df: DataFrame, topK: Option[Int] = Some(10)): DataFrame = {
    val counts = df.groupBy("county_display").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("county_display"))
    topK.fold(counts)(counts.limit)
  }

  /** County centroids for coordinate imputation (reference COUNTY_CENTER,
    * src/app/streamlit_app.py:141-146). */
  val CountyCenters: Seq[(String, Double, Double)] = Seq(
    ("Stockholms län", 59.334, 18.063),
    ("Uppsala län", 59.858, 17.638),
    ("Skåne län", 55.604, 13.003),
    ("Västra Götalands län", 57.708, 11.974))

  /** Map projection (F7 + column pruning): points with coordinates. With
    * `approxMissing` (the reference's default-on checkbox,
    * src/app/streamlit_app.py:392-400), rows missing a coordinate are
    * back-filled from the broadcast county-center dim before the
    * not-null filter; counties outside the dim stay NULL and drop. */
  def mapPoints(df: DataFrame, approxMissing: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val filled =
      if (!approxMissing) df
      else df
        .join(broadcast(CountyCenters.toDF("county_display", "__c_lat", "__c_lon")),
          Seq("county_display"), "left")
        .withColumn("latitude", coalesce(col("latitude"), col("__c_lat")))
        .withColumn("longitude", coalesce(col("longitude"), col("__c_lon")))
        .drop("__c_lat", "__c_lon")
    filled.where(col("latitude").isNotNull && col("longitude").isNotNull)
      .select("incident_id", "latitude", "longitude", "county_display", "status")
  }

  /** Map viewport from the focused points: center + the reference's
    * span→zoom threshold ladder (src/app/streamlit_app.py:424-430). */
  def viewport(points: DataFrame): DataFrame =
    points.agg(
      min("latitude").as("lat_min"), max("latitude").as("lat_max"),
      min("longitude").as("lon_min"), max("longitude").as("lon_max"))
      .select(
        ((col("lat_min") + col("lat_max")) / 2).as("lat_center"),
        ((col("lon_min") + col("lon_max")) / 2).as("lon_center"),
        greatest(col("lat_max") - col("lat_min"),
          col("lon_max") - col("lon_min")).as("span"))
      .withColumn("zoom", CoreQueries.zoomOf(col("span")))

  /** O3 sorted + limited table view. */
  def tableView(df: DataFrame, sortCol: String, ascending: Boolean, maxRows: Int): DataFrame = {
    val key = if (ascending) col(sortCol).asc else col(sortCol).desc
    df.orderBy(key, col("incident_id")).limit(maxRows)
  }

  /** A3 daily trend. */
  def dailyTrend(df: DataFrame): DataFrame =
    df.groupBy(date_trunc("day", col("start_ts")).as("day"))
      .agg(count(lit(1)).as("n")).orderBy("day")

  /** A4 message-type histogram. */
  def typeHistogram(df: DataFrame): DataFrame =
    df.groupBy("message_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("message_type"))
}
