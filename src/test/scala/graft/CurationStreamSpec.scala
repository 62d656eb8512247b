package graft

import java.nio.file.{Files, Path}

import graft.streaming.CurationStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The continuous-curation loop end-to-end: JSONL file arrivals →
  * per-batch dedup against the persistent LSH index → batch-keyed
  * survivor + index appends — across separate runs sharing a checkpoint
  * (the daily-cron restart), with cross-batch duplicates arriving after
  * their originals were accepted.
  */
class CurationStreamSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def writeDocs(dir: String, name: String, docs: Seq[(Long, String)]): Unit =
    Files.writeString(Path.of(s"$dir/$name"),
      docs.map { case (id, t) => s"""{"doc_id": $id, "text": "$t"}""" }
        .mkString("", "\n", "\n"))

  private def drain(src: String, index: String, accepted: String, chk: String): Unit =
    CurationStream.run(
      spark.readStream.schema(docSchema).json(src),
      index, accepted, chk).awaitTermination()

  test("JSONL arrivals → incremental dedup against the growing index across restarts") {
    val dir = tempDir("graft-curation")
    val src = s"$dir/feed"
    val index = s"$dir/index"
    val accepted = s"$dir/accepted"
    val chk = s"$dir/chk"
    Files.createDirectories(Path.of(src))

    // run 1: two distinct docs plus an in-batch exact duplicate
    writeDocs(src, "b1.jsonl", Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // in-batch dup of 1 → drops
      (3L, "one two three four five")))
    drain(src, index, accepted, chk)
    val a1 = CurationStream.readAccepted(spark, accepted, docSchema)
    assert(a1.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == Seq(1L, 3L))

    // run 2 (fresh query, same checkpoint): a cross-batch duplicate of an
    // ACCEPTED doc (must hit the index, not re-scan the corpus), a
    // duplicate of a DROPPED doc (its keeper is indexed → still drops),
    // and one genuinely new doc
    writeDocs(src, "b2.jsonl", Seq(
      (10L, "alpha beta gamma delta epsilon"), // dup of accepted 1 → drops
      (11L, "one two three four five"),        // dup of accepted 3 → drops
      (12L, "lorem ipsum dolor sit amet")))    // new → accepted
    drain(src, index, accepted, chk)
    val a2 = CurationStream.readAccepted(spark, accepted, docSchema)
    assert(a2.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == Seq(1L, 3L, 12L))

    // run 3: nothing new arrived → no new batch directories, same corpus
    drain(src, index, accepted, chk)
    val a3 = CurationStream.readAccepted(spark, accepted, docSchema)
    assert(a3.count() == 3)

    // the index holds buckets for exactly the accepted docs
    val idx = CurationStream.readIndex(spark, index)
    assert(idx.select("doc_id").distinct()
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq == Seq(1L, 3L, 12L))
  }
}
