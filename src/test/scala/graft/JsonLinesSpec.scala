package graft

import java.nio.file.Files

import graft.sources.JsonLines
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class JsonLinesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  test("malformed lines quarantine with their raw text; clean lines parse") {
    val dir = tempDir("graft-jsonl")
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta"}""",
      """{"doc_id": "not-a-number", "text": "gamma"}""", // field type violation
      """{"doc_id": 3, "text": "unterminated""", // invalid JSON
      """not json at all""")
    Files.writeString(java.nio.file.Path.of(s"$dir/part.jsonl"),
      lines.mkString("\n"))

    val (clean, quarantine) = JsonLines.readWithQuarantine(spark, dir, schema)
    val cleanRows = clean.orderBy("doc_id").collect()
    assert(cleanRows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(cleanRows.map(_.getString(1)).toSeq == Seq("alpha", "beta"))

    val q = quarantine.collect().map(_.getString(0))
    assert(q.length == 3, s"expected 3 quarantined lines, got ${q.toSeq}")
    // the raw text survives verbatim for audit/repair
    assert(q.contains("""not json at all"""))
    assert(q.exists(_.contains("not-a-number")))
  }

  test("null-struct lines (blank, literal null) quarantine instead of becoming all-null rows") {
    val dir = tempDir("graft-jsonl-null")
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      "", // blank line → from_json yields a NULL struct, not a corrupt record
      "null", // literal JSON null → same
      """{"doc_id": 2, "text": "beta"}""")
    Files.writeString(java.nio.file.Path.of(s"$dir/part.jsonl"),
      lines.mkString("\n"))

    val (clean, quarantine) = JsonLines.readWithQuarantine(spark, dir, schema)
    val cleanRows = clean.orderBy("doc_id").collect()
    assert(cleanRows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // no all-null row slipped through
    assert(clean.where(col("doc_id").isNull && col("text").isNull).isEmpty)
    assert(quarantine.collect().map(_.getString(0)).sorted.toSeq == Seq("", "null"))
  }

  test("round-trip: documents fixture → JSONL → identical frame, zero quarantine") {
    val dir = tempDir("graft-jsonl-rt")
    val docs = Tables.documents(spark, sf)
    JsonLines.write(docs, s"$dir/docs")
    val (back, quarantine) = JsonLines.readWithQuarantine(
      spark, s"$dir/docs", docs.schema)
    assert(quarantine.isEmpty)
    assert(back.count() == docs.count())
    // exact content equality both directions
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }
}
