package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

class XmlSourceSpec extends SparkSpec {

  private lazy val xmlPath: String = {
    val sb = new StringBuilder("<RESPONSE><RESULT>")
    for (s <- 1 to 5) {
      sb.append(s"<Situation><Id>sit$s</Id>")
      sb.append(s"<ModifiedTime>2024-01-0${s}T00:00:00Z</ModifiedTime>")
      sb.append(s"<PublicationTime>2024-01-0${s}T00:00:00Z</PublicationTime>")
      for (d <- 1 to 5) {
        sb.append("<Deviation>")
        sb.append(s"<DeviationId>sit$s:d$d</DeviationId>")
        sb.append(s"<Message>Incident $s-$d</Message>")
        sb.append("<MessageType>Olycka</MessageType>")
        sb.append(s"<LocationDescriptor>Plats $d</LocationDescriptor>")
        sb.append(s"<RoadNumber>E$d</RoadNumber>")
        sb.append(s"<CountyNo>${d % 3 + 1}</CountyNo>")
        sb.append(s"<StartTime>2024-01-0${s}T0$d:00:00Z</StartTime>")
        sb.append(s"<WGS84>POINT (1$d.5 6$d.25)</WGS84>")
        sb.append("</Deviation>")
      }
      sb.append("</Situation>")
    }
    sb.append("</RESULT></RESPONSE>")
    val p = Paths.get(tempDir("graft-situations"), "feed.xml")
    Files.writeString(p, sb.toString)
    p.toString
  }

  private def read = spark.read.format("graft.sources.PagedXmlSource")
    .option("path", xmlPath).option("pageSize", "10")

  test("flattens Situation→Deviation to one row each, inheriting parent fields") {
    val df = read.load()
    assert(df.count() == 25)
    val r = df.where(col("deviation_id") === "sit3:d2")
      .select("situation_id", "modified_time", "message", "county_no").head()
    assert(r.getString(0) == "sit3")
    assert(r.getString(1) == "2024-01-03T00:00:00Z")
    assert(r.getString(2) == "Incident 3-2")
    assert(r.getInt(3) == 3)
  }

  test("pages become input partitions") {
    assert(read.load().rdd.getNumPartitions == 3) // 25 rows / pageSize 10
  }

  test("time-range filters push into the source and re-partition the scan") {
    val df = read.load()
      .where(col("modified_time") > "2024-01-03T12:00:00Z")
    assert(df.count() == 10) // situations 4,5 → 2×5 deviations
    // filtered page count shrinks: 10 rows / 10 per page = 1 partition
    assert(df.rdd.getNumPartitions == 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("GreaterThan"),
      s"expected pushed filter in plan:\n$plan")
  }

  test("column pruning reaches the reader") {
    val df = read.load().select("deviation_id", "wkt")
    assert(df.schema.fieldNames.toSeq == Seq("deviation_id", "wkt"))
    assert(df.where(col("wkt").startsWith("POINT")).count() == 25)
  }

  test("non-time filters are evaluated by Spark, not lost") {
    val df = read.load().where(col("message_type") === "Olycka")
    assert(df.count() == 25)
    assert(read.load().where(col("message_type") === "nope").count() == 0)
  }

  test("maxPages caps the scan like the reference pagination limit") {
    val df = spark.read.format("graft.sources.PagedXmlSource")
      .option("path", xmlPath).option("pageSize", "10").option("maxPages", "2")
      .load()
    assert(df.count() == 20) // 2 pages × 10
  }

  test("LIMIT pushes into the source and shrinks the planned pages") {
    val df = read.load().limit(7)
    assert(df.count() == 7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"), s"limit not pushed:\n$plan")
    // 7 rows at pageSize 10 need one page, not three
    val scanParts = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }
    assert(scanParts.contains(1), s"expected 1 planned page, got $scanParts")
  }

  test("ORDER BY + LIMIT pushes as server-side top-N; Spark re-sorts the survivors") {
    val df = read.load()
      .orderBy(col("start_time").desc, col("deviation_id"))
      .limit(3).select("deviation_id", "start_time")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: [start_time DESC"), s"top-N not pushed:\n$plan")
    // both sort keys are schema fields, so the source's top-3 under the
    // full order must equal the unpushed formulation exactly
    val expected = read.load().collect()
      .map(r => (r.getAs[String]("start_time"), r.getAs[String]("deviation_id")))
      .sortBy(identity)(Ordering.Tuple2(Ordering.String.reverse, Ordering.String))
      .take(3).map(_._2).toSeq
    val got = df.collect().map(_.getString(0)).toSeq
    assert(got == expected)
  }

  test("OFFSET pushes into the source (bare pagination); sorted pagination folds into top-N") {
    // bare offset: Spark delegates the skip to the source entirely
    val df = read.load().offset(5).limit(4).select("deviation_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedOffset: 5"), s"offset not pushed:\n$plan")
    val expected = read.load().collect().map(_.getAs[String]("deviation_id"))
      .slice(5, 9).toSeq // parse order — the source's deterministic order
    assert(df.collect().map(_.getString(0)).toSeq == expected)

    // sorted pagination: Spark instead pushes top-N with limit = o + l
    // and keeps the exact offset — pin that contract too
    val sorted = read.load().orderBy(col("deviation_id"))
      .offset(5).limit(4).select("deviation_id")
    val sPlan = sorted.queryExecution.executedPlan.toString
    assert(sPlan.contains("PushedTopN: [deviation_id ASC") &&
      sPlan.contains("PushedLimit: 9"), s"top-N+offset contract changed:\n$sPlan")
    val sExpected = read.load().collect().map(_.getAs[String]("deviation_id"))
      .sorted.slice(5, 9).toSeq
    assert(sorted.collect().map(_.getString(0)).toSeq == sExpected)
  }

  test("pushed top-N orders strings by UTF-8 bytes — Spark's order — beyond the BMP") {
    // U+FF61 sorts AFTER U+10000 under UTF-16 `String.compareTo` (code
    // unit 0xFF61 > surrogate 0xD800) but BEFORE it in UTF-8 byte order
    // (EF BD A1 < F0 90 80 80), which is the order Spark's UTF8String
    // uses. Under pushed TopN the source truncates to its OWN top-N, so
    // an ordering mismatch SELECTS the wrong rows — with limit 2 below,
    // a UTF-16 comparator keeps {AB, A+U+10000} while Spark's order
    // wants {AB, A U+FF61}: a wrong SET, which no post-sort can repair.
    val msgs = Seq("A｡", "A" + new String(Character.toChars(0x10000)), "AB", "Å")
    val sb = new StringBuilder("<RESPONSE><RESULT>")
    sb.append("<Situation><Id>sit1</Id>")
    sb.append("<ModifiedTime>2024-01-01T00:00:00Z</ModifiedTime>")
    sb.append("<PublicationTime>2024-01-01T00:00:00Z</PublicationTime>")
    for ((m, i) <- msgs.zipWithIndex) {
      sb.append("<Deviation>")
      sb.append(s"<DeviationId>d$i</DeviationId>")
      sb.append(s"<Message>$m</Message>")
      sb.append(s"<StartTime>2024-01-01T0$i:00:00Z</StartTime>")
      sb.append("</Deviation>")
    }
    sb.append("</Situation></RESULT></RESPONSE>")
    val p = Paths.get(tempDir("graft-utf8-topn"), "feed.xml")
    Files.writeString(p, sb.toString)
    val src = spark.read.format("paged-xml").option("path", p.toString)

    val df = src.load().orderBy(col("message")).limit(2).select("message")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: [message ASC"), s"top-N not pushed:\n$plan")
    // expected = Spark's own global sort over the un-truncated scan
    val expected = src.load().select("message").orderBy(col("message"))
      .collect().map(_.getString(0)).take(2).toSeq
    assert(df.collect().map(_.getString(0)).toSeq == expected,
      "source top-N order diverges from Spark's string order")
  }

  test("short name 'paged-xml' resolves via DataSourceRegister") {
    val df = spark.read.format("paged-xml").option("path", xmlPath).load()
    assert(df.count() == 25)
  }

  test("grouped count/min/max push completely into the source: no Spark aggregate") {
    val df = read.load()
      .groupBy("message_type")
      .agg(count(lit(1)).as("n"), min("start_time").as("first_start"),
        max("start_time").as("last_start"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"aggregate was not completely pushed:\n$plan")
    assert(plan.contains("PushedAggregates"), s"scan does not report pushdown:\n$plan")
    val r = df.collect()
    assert(r.length == 1 && r(0).getString(0) == "Olycka" && r(0).getLong(1) == 25)
    assert(r(0).getString(2) == "2024-01-01T01:00:00Z")
    assert(r(0).getString(3) == "2024-01-05T05:00:00Z")
  }

  test("global count(*) composes with a pushed time filter") {
    val df = read.load()
      .where(col("modified_time") > "2024-01-03T12:00:00Z")
      .agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"aggregate was not completely pushed:\n$plan")
    assert(df.head().getLong(0) == 10)
  }

  test("aggregates Spark can't push (avg on county_no) still compute correctly") {
    val df = read.load().groupBy("message_type").agg(avg("county_no").as("a"))
    // partial pushdown of avg is declined by the source → Spark aggregates
    assert(df.head().getDouble(1) == 11.0 / 5) // counties 2,3,1,2,3 per situation
  }
}
