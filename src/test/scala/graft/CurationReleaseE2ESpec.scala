package graft

import java.nio.file.{Files, Path}

import graft.streaming.CurationStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full north-star pipeline composed end-to-end: streaming document
  * arrivals → incremental dedup against the persistent LSH index
  * (CurationStream) → atomic versioned snapshot publication (Snapshots)
  * → release accounting (the q_manifest shape) over the published
  * corpus — with time travel proving an already-shipped release is
  * immutable while curation keeps ingesting.
  *
  * CurationStreamSpec covers the streaming loop in isolation and
  * SnapshotsSpec the publication protocol; what THIS spec pins is the
  * composition seam: the accepted corpus is publishable as-is, each
  * release's manifest is computed from its own pinned version, and a
  * later release never perturbs an earlier one's accounting.
  */
class CurationReleaseE2ESpec extends SparkSpec {

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

  /** The q_manifest accounting shape over a released corpus: doc count,
    * token total, and the order-free modular content checksum. */
  private def manifest(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
      (sum((conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long")
        % 1000000007L).cast("decimal(38,0)")) % 1000000007L)
        .cast("long").as("checksum")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("stream → dedup → publish → manifest, with immutable earlier releases") {
    val dir = tempDir("graft-release-e2e")
    val src = s"$dir/feed"; val index = s"$dir/index"
    val accepted = s"$dir/accepted"; val chk = s"$dir/chk"
    val releases = s"$dir/releases"
    Files.createDirectories(Path.of(src))

    // day 1: three docs, one in-batch duplicate → 2 survivors; release v1
    writeDocs(src, "day1.jsonl", Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // in-batch dup → drops
      (3L, "one two three four five")))
    drain(src, index, accepted, chk)
    val v1 = Snapshots.publish(
      CurationStream.readAccepted(spark, accepted, docSchema), releases)
    val m1 = manifest(Snapshots.readVersion(spark, releases, v1))
    assert(m1._1 == 2, s"release v$v1 should hold the 2 survivors, got $m1")
    assert(m1._2 == 10) // two 5-token docs

    // day 2: a cross-day duplicate (caught by the index, not a rescan)
    // and one new doc → 3 accepted total; release v2
    writeDocs(src, "day2.jsonl", Seq(
      (10L, "one two three four five"),     // dup of released 3 → drops
      (11L, "lorem ipsum dolor sit amet"))) // new → accepted
    drain(src, index, accepted, chk)
    val v2 = Snapshots.publish(
      CurationStream.readAccepted(spark, accepted, docSchema), releases)
    val m2 = manifest(Snapshots.readLatest(spark, releases))
    assert(v2 > v1)
    assert(m2._1 == 3 && m2._2 == 15)

    // the shipped v1 is bit-immutable: same manifest, checksum included,
    // after v2 was published from the grown corpus
    assert(manifest(Snapshots.readVersion(spark, releases, v1)) == m1)
    // and the two releases genuinely differ in content
    assert(m2._3 != m1._3)
  }
}
