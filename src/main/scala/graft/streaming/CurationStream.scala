package graft.streaming

import graft.operators.{DedupOps, Loop}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Continuous corpus curation: the streaming composition of
  * [[DedupOps.dedupAgainstIndex]]. Each micro-batch of documents dedups
  * against the PERSISTENT LSH index accumulated by every prior batch,
  * then appends its survivors — and their index buckets — so later
  * batches dedup against them in turn. This is the shape a 100 TB
  * ingestion pipeline actually runs: the established corpus is touched
  * only through its skinny (doc_id, band, bucket) index; per-batch cost
  * is independent of corpus age.
  *
  * Exactly-once-ish like [[IncrementalUpsert]]: both writes land under a
  * `batch=<id>` directory in overwrite mode, so a batch replayed after a
  * crash overwrites itself instead of double-appending (mirrors the
  * reference's idempotent daily upsert, `/root/reference/src/app/
  * etl_runner.py` rerun semantics, generalized to curation).
  */
object CurationStream {

  val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", StringType, nullable = false)))

  /** All index buckets accepted so far (empty frame before first batch). */
  def readIndex(s: SparkSession, indexRoot: String): DataFrame = {
    val dir = new java.io.File(indexRoot)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getPath)
    if (parts.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], IndexSchema)
    else s.read.schema(IndexSchema).parquet(parts.toIndexedSeq: _*)
  }

  /** Everything accepted so far (empty frame with `schema` before that). */
  def readAccepted(s: SparkSession, acceptedRoot: String, schema: StructType): DataFrame = {
    val dir = new java.io.File(acceptedRoot)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getPath)
    if (parts.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).parquet(parts.toIndexedSeq: _*)
  }

  /** Start the curation stream over `docs` (must have doc_id, text).
    * AvailableNow: drains what has arrived, then stops — the daily-cron
    * trigger; rerunning with the same checkpoint resumes incrementally. */
  def run(docs: DataFrame, indexRoot: String, acceptedRoot: String,
      checkpoint: String, k: Int = 4, rowsPerBand: Int = 2): StreamingQuery =
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // one pin scope per micro-batch: the dedup's own pins and the
        // survivors (read by the write and the index build) are all
        // released when the batch ends, so a long-running stream holds
        // no cache between triggers
        Loop.scoped {
          val survivors = Loop.pinnedPersist(DedupOps.dedupAgainstIndex(
            batch, readIndex(s, indexRoot), "doc_id", k, rowsPerBand))
          survivors.write.mode("overwrite")
            .parquet(s"$acceptedRoot/batch=$id")
          DedupOps.lshBuckets(
              DedupOps.minhashSignature(survivors, "doc_id", "text", k,
                shingleN = 3), "doc_id", k, rowsPerBand)
            .write.mode("overwrite")
            .parquet(s"$indexRoot/batch=$id")
        }
      }
      .start()
}
