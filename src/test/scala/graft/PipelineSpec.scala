package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def now = expr("TIMESTAMP_NTZ '2024-01-10 00:00:00'")

  private lazy val xmlPath: String = {
    val xml =
      """<RESPONSE><RESULT>
        |<Situation><Id>s1</Id>
        |  <ModifiedTime>2024-01-09T10:00:00Z</ModifiedTime>
        |  <PublicationTime>2024-01-09T10:00:00Z</PublicationTime>
        |  <Deviation><DeviationId>d1</DeviationId><Message>Ongoing roadwork</Message>
        |    <MessageType>Vägarbete</MessageType><LocationDescriptor>E4 north</LocationDescriptor>
        |    <RoadNumber>E4</RoadNumber><CountyNo>1</CountyNo>
        |    <StartTime>2024-01-09T00:00:00Z</StartTime>
        |    <WGS84>POINT (18.06 59.33)</WGS84></Deviation>
        |  <Deviation><DeviationId>d2</DeviationId><Message>Future closure</Message>
        |    <MessageType>Avstängning</MessageType><LocationDescriptor>E6 south</LocationDescriptor>
        |    <RoadNumber>E6</RoadNumber><CountyNo>99</CountyNo>
        |    <StartTime>2024-01-20T00:00:00Z</StartTime>
        |    <WGS84>LINESTRING (11 57, 12 58)</WGS84></Deviation>
        |  <Deviation><DeviationId>d3</DeviationId><Message>Expired incident</Message>
        |    <MessageType>Olycka</MessageType><LocationDescriptor>Old</LocationDescriptor>
        |    <RoadNumber>E4</RoadNumber><CountyNo>1</CountyNo>
        |    <StartTime>2024-01-01T00:00:00Z</StartTime>
        |    <EndTime>2024-01-02T00:00:00Z</EndTime>
        |    <WGS84>POINT (17 59)</WGS84></Deviation>
        |  <Deviation><DeviationId>d4</DeviationId><Message>   </Message>
        |    <MessageType>Olycka</MessageType><LocationDescriptor>Blank msg</LocationDescriptor>
        |    <RoadNumber>E4</RoadNumber><CountyNo>1</CountyNo>
        |    <StartTime>2024-01-09T00:00:00Z</StartTime>
        |    <WGS84>POINT (17 59)</WGS84></Deviation>
        |  <Deviation><Message>No id incident</Message>
        |    <MessageType>Olycka</MessageType><LocationDescriptor>Somewhere</LocationDescriptor>
        |    <RoadNumber>E18</RoadNumber><CountyNo>3</CountyNo>
        |    <StartTime>2024-01-09T05:00:00Z</StartTime>
        |    <WGS84>bad wkt here</WGS84></Deviation>
        |</Situation>
        |</RESULT></RESPONSE>""".stripMargin
    val p = Paths.get(tempDir("graft-pipe"), "feed.xml")
    Files.writeString(p, xml)
    p.toString
  }

  test("end-to-end ingest: flatten, normalize, status, geo, dedup, upsert") {
    val dir = tempDir("graft-pipe-tgt") + "/tgt"
    val out = Pipeline.runIngest(spark, xmlPath, dir, now, pageSize = 3)
      .orderBy("incident_id")

    val rows = out.select("incident_id", "status", "county_display",
      "latitude", "longitude").collect()
    val byId = rows.map(r => r.getString(0) -> r).toMap

    // d3 (expired) and d4 (blank message) are dropped
    assert(!byId.contains("d3") && !byId.contains("d4"))
    // d1 ongoing, known county, POINT centroid (lat=y)
    assert(byId("d1").getString(1) == "PÅGÅR")
    assert(byId("d1").getString(2) == "Stockholms län")
    assert(byId("d1").getDouble(3) == 59.33 && byId("d1").getDouble(4) == 18.06)
    // d2 future, unknown county falls back, LINESTRING centroid
    assert(byId("d2").getString(1) == "KOMMANDE")
    assert(byId("d2").getString(2) == "Okänt län")
    assert(byId("d2").getDouble(3) == 57.5 && byId("d2").getDouble(4) == 11.5)
    // the id-less deviation got a synthetic key, bad WKT fell back to
    // first-two-numbers — none here, so NULL coords
    val synth = byId.keys.find(_.startsWith("s1:")).get
    assert(synth == "s1:2024-01-09T05:00:00Z")
    assert(byId(synth).isNullAt(3))
  }

  test("re-running the same window is idempotent; updates overwrite by key") {
    val dir = tempDir("graft-pipe-tgt2") + "/tgt"
    val first = Pipeline.runIngest(spark, xmlPath, dir, now).collect()
    val second = Pipeline.runIngest(spark, xmlPath, dir, now).collect()
    assert(first.map(_.getString(first.head.fieldIndex("incident_id"))).sorted.toSeq ==
      second.map(_.getString(second.head.fieldIndex("incident_id"))).sorted.toSeq)
  }

  /** `n` source rows of `PagedXmlSource`'s schema, every id and message
    * distinct. Start times and WKT points come in pairs, so a dictionary
    * would compress them. `county` gives each row's CountyNo. */
  private def rawRows(n: Int, county: Column): DataFrame = {
    val ts = "date_format(timestamp_seconds(1704067200 + id div 2), \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
    spark.range(n).select(
      concat(lit("s"), col("id")).as("situation_id"),
      concat(lit("d"), col("id")).as("deviation_id"),
      concat(lit("message "), col("id")).as("message"),
      when(col("id") % 2 === 0, "Olycka").otherwise("Vägarbete").as("message_type"),
      lit("E4 north").as("location_descriptor"), lit("E4").as("road_number"),
      county.cast("int").as("county_no"),
      expr(ts).as("start_time"), lit(null).cast("string").as("end_time"),
      expr(ts).as("modified_time"), expr(ts).as("publication_time"),
      format_string("POINT (%.4f %.4f)", lit(11) + (col("id") / 2).cast("int") * 0.0001,
        lit(57) + (col("id") / 2).cast("int") * 0.0001).as("wkt"))
  }

  test("county lookup: an unknown and a missing CountyNo both give Okänt län") {
    val county = when(col("id") === 0, 1).when(col("id") === 1, 99)
    val out = Pipeline.normalizeIncidents(spark, rawRows(3, county), now)
    val byId = out.select("incident_id", "county_no", "county_name", "county_display")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(byId("d0").getString(2) == "Stockholms län")
    assert(byId("d0").getString(3) == "Stockholms län")
    assert(byId("d1").getInt(1) == 99 && byId("d1").isNullAt(2))
    assert(byId("d1").getString(3) == "Okänt län")
    assert(byId("d2").isNullAt(1) && byId("d2").isNullAt(2))
    assert(byId("d2").getString(3) == "Okänt län")
    // published order: county_no first, the two names right after longitude
    val cols = out.columns.toSeq
    assert(cols.head == "county_no")
    assert(cols.slice(cols.indexOf("longitude"), cols.indexOf("longitude") + 3) ==
      Seq("longitude", "county_name", "county_display"))
  }

  test("published parts: near-unique columns are plain, categorical ones keep dictionaries") {
    val dir = tempDir("graft-pipe-enc") + "/tgt"
    AtomicPublish.overwrite(
      Pipeline.normalizeIncidents(spark, rawRows(20000, col("id") % 25), now), dir)
    val (fs, root) = AtomicPublish.fsFor(spark, dir)
    val chunks = fs.listStatus(root).map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .toSeq.flatMap { part =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, fs.getConf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
          .map(c => c.getPath.toDotString -> c.hasDictionaryPage)
        finally reader.close()
      }
    assert(chunks.nonEmpty)
    def dictionary(c: String): Seq[Boolean] = chunks.collect { case (`c`, d) => d }
    for (c <- Seq("incident_id", "wkt", "start_ts"))
      assert(dictionary(c).nonEmpty && !dictionary(c).exists(identity), s"$c has a dictionary page")
    for (c <- Seq("status", "county_display"))
      assert(dictionary(c).nonEmpty && dictionary(c).forall(identity), s"$c has no dictionary page")
  }

  test("a target written without status_rank reads back with NULL there") {
    val dir = tempDir("graft-pipe-evolve") + "/tgt"
    val first = Pipeline.runIngest(spark, xmlPath, dir, now)
    // an older table: no status_rank, and keys the feed does not update
    AtomicPublish.overwrite(first.drop("status_rank")
      .withColumn("incident_id", concat(lit("old:"), col("incident_id"))), dir)
    val out = Pipeline.runIngest(spark, xmlPath, dir, now)
    assert(out.columns.toSeq == first.columns.toSeq)
    val rows = out.select("incident_id", "status_rank").collect()
    val (old, fresh) = rows.partition(_.getString(0).startsWith("old:"))
    assert(old.nonEmpty && old.forall(_.isNullAt(1)))
    assert(fresh.nonEmpty && !fresh.exists(_.isNullAt(1)))
  }

  test("a target holding a column the feed does not produce fails the run") {
    val dir = tempDir("graft-pipe-extra") + "/tgt"
    val first = Pipeline.runIngest(spark, xmlPath, dir, now)
    AtomicPublish.overwrite(first.withColumn("legacy_flag", lit(true)), dir)
    val e = intercept[IllegalArgumentException](Pipeline.runIngest(spark, xmlPath, dir, now))
    assert(e.getMessage.contains("legacy_flag"), e.getMessage)
    // the failed run published nothing: the table still has the column
    assert(spark.read.parquet(dir).columns.contains("legacy_flag"))
  }
}
