package graft

import graft.functions.WktCentroid
import graft.operators.CoreQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's primary ETL (SURVEY §3.1, src/cli.py:29-105) as one
  * declarative composition over this library's operators:
  *
  *   paged source → synth key (P7) → timestamp normalize (P2) → status
  *   derive + expired drop (P3/F8) → WKT → lat/lon (P4) → county map
  *   lookup (P5) → composite dedup (D1) → latest-wins dedup (D2) →
  *   status rank column → keyed upsert (S6)
  *
  * Everything is a single logical plan per stage — Catalyst fuses the
  * scalar stages into one WholeStageCodegen pass over the scan, and only
  * the two dedups shuffle. No stage sorts: the upsert re-shuffles by key,
  * so a global order here would be thrown away; the ranked sort (O1) is
  * the dashboard's table view and `q_ranked_sort`'s.
  */
object Pipeline {

  /** Swedish county code → name (public administrative data; the
    * reference embeds the same 21-entry lookup, src/trv/transform.py:11-16).
    */
  val countyNames: Map[Int, String] = Map(
    1 -> "Stockholms län", 3 -> "Uppsala län", 4 -> "Södermanlands län",
    5 -> "Östergötlands län", 6 -> "Jönköpings län", 7 -> "Kronobergs län",
    8 -> "Kalmar län", 9 -> "Gotlands län", 10 -> "Blekinge län",
    12 -> "Skåne län", 13 -> "Hallands län", 14 -> "Västra Götalands län",
    17 -> "Värmlands län", 18 -> "Örebro län", 19 -> "Västmanlands län",
    20 -> "Dalarnas län", 21 -> "Gävleborgs län", 22 -> "Västernorrlands län",
    23 -> "Jämtlands län", 24 -> "Västerbottens län", 25 -> "Norrbottens län")

  /** ISO-8601 'Z' string → timestamp_ntz (UTC), invalid → NULL
    * (reference src/trv/transform.py:18-23). */
  def normalizeTs(c: Column): Column =
    try_to_timestamp(regexp_replace(c, "Z$", "")).cast("timestamp_ntz")

  /** Normalize flattened incident rows (reference
    * src/trv/transform.py:49-137). `nowLit` must be pinned by the caller
    * for deterministic status derivation. */
  def normalizeIncidents(spark: SparkSession, raw: DataFrame, nowLit: Column): DataFrame = {
    WktCentroid.register(spark)
    val keyed = raw
      // P7 synthetic key
      .withColumn("incident_id",
        coalesce(col("deviation_id"),
          concat_ws(":", col("situation_id"), col("start_time"))))
      // P2/P8 normalize
      .withColumn("start_ts", normalizeTs(col("start_time")))
      .withColumn("end_ts", normalizeTs(col("end_time")))
      .withColumn("modified_ts", normalizeTs(col("modified_time")))
      // P3 status + F8 expired drop
      .withColumn("status", CoreQueries.statusOf(col("start_ts"), col("end_ts"), nowLit))
      .where(col("status").isNotNull)
      // F1 non-empty message guard
      .where(length(trim(coalesce(col("message"), lit("")))) > 0)
      // P4 geometry → centroid (full WKT incl. lines/polygons)
      .withColumn("geo", WktCentroid.column(col("wkt")))
      .withColumn("latitude", col("geo.lat"))
      .withColumn("longitude", col("geo.lon"))
      .drop("geo")
    // P5 county lookup with display fallback: a literal map, so a
    // 21-entry table costs no join (a missing or NULL key gives NULL).
    // Published order: county_no first, the names after longitude.
    val withCounty = keyed
      .select(col("county_no") +: keyed.columns.toSeq.filter(_ != "county_no").map(col) :+
        element_at(typedLit(countyNames), col("county_no")).as("county_name"): _*)
      .withColumn("county_display",
        coalesce(col("county_name"), lit("Okänt län")))
    // D1 composite dedup (order pinned), then D2 latest-wins by key
    val d1 = CoreQueries.latestWins(withCounty,
      Seq("message", "location_descriptor", "start_time", "end_time"),
      Seq(col("modified_ts").asc, col("incident_id").asc))
    val d2 = CoreQueries.latestWins(d1,
      Seq("incident_id"), Seq(col("modified_ts").desc))
    // O1's rank key, part of the published schema
    d2.withColumn("status_rank",
      when(col("status") === "PÅGÅR", 0)
        .when(col("status") === "KOMMANDE", 1).otherwise(9))
  }

  /** Full ingest: paged XML source → normalize → latest-wins upsert into a
    * parquet target (reference §3.1 extract/transform/load). Idempotent:
    * re-running the same window leaves the target unchanged. */
  def runIngest(spark: SparkSession, xmlPath: String, targetDir: String,
      nowLit: Column, pageSize: Int = 500,
      maxPages: Int = Int.MaxValue): DataFrame = {
    // maxPages defaults to unlimited here: the connector's page cap is an
    // API-client safety valve (reference max_pages=20), but an ingest
    // that silently truncates its window would corrupt the target
    val raw = spark.read.format("graft.sources.PagedXmlSource")
      .option("path", xmlPath).option("pageSize", pageSize.toString)
      .option("maxPages", maxPages.toString).load()
    val normalized = normalizeIncidents(spark, raw, nowLit)
    // both reads go through the declared schema: no inference job
    val merged = AtomicPublish.readIfExists(spark, targetDir, Some(normalized.schema)) match {
      case Some(t) => CoreQueries.upsert(t, normalized, Seq("incident_id"))
      case None => normalized
    }
    AtomicPublish.overwrite(merged, targetDir)
    spark.read.schema(merged.schema).parquet(targetDir)
  }
}
