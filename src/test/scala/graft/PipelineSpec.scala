package graft

import java.nio.file.{Files, Paths}

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
}
