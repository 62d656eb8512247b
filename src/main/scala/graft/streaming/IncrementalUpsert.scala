package graft.streaming

import graft.operators.CoreQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental ingest semantics of the reference (SURVEY §2.7): a
  * lookback-window source re-fetches overlapping pages; updated records
  * (same key, newer modified time) must overwrite; re-runs must be
  * idempotent (reference upsert src/trv/load_sqlite.py:43-62, pagination
  * dedup src/trv/endpoints.py:177-202).
  *
  * Spark mapping: Structured Streaming micro-batches with an event-time
  * watermark bounding dedup state, `dropDuplicates` on the key within the
  * stream, and a `foreachBatch` latest-wins merge into the target table.
  * The merge itself is the batch `CoreQueries.upsert`, with the
  * micro-batch's own latest-wins dedup folded into its one window (one
  * shuffle on the key) — identical semantics batch and streaming, so the
  * batch oracle covers the merge logic and the streaming test covers the
  * plumbing.
  */
object IncrementalUpsert {

  /** Latest-wins merge of one micro-batch into a parquet target.
    * Idempotent: replaying a batch yields the same target. For real
    * deployments the target would be a MERGE-capable table; on plain
    * parquet we recompute deterministically (SURVEY §7 hard-parts note).
    */
  def mergeBatch(batch: DataFrame, targetDir: String, keys: Seq[String],
      versionCol: String): Unit =
    graft.AtomicPublish.upsert(batch, targetDir, keys, Seq(col(versionCol).desc))

  /** Wire a streaming DataFrame into the watermark → dropDuplicates →
    * foreachBatch-merge pipeline. `eventTimeCol` bounds the dedup state
    * (reference's de-facto retention horizon is its 30-day scan window).
    */
  def run(stream: DataFrame, targetDir: String, checkpointDir: String,
      keys: Seq[String], eventTimeCol: String, versionCol: String,
      watermark: String = "30 days"): StreamingQuery = {
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ versionCol)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, targetDir, keys, versionCol)
      }
      .start()
  }

  /** Latest-wins merge of one micro-batch published as a NEW
    * [[graft.Snapshots]] version (reads the previous latest, merges,
    * publishes). Content-idempotent: replaying a batch appends a version
    * whose CONTENT equals the previous latest — readers pinned to any
    * version are unaffected, `readLatest` sees the same rows. */
  def mergeBatchVersioned(spark: SparkSession, batch: DataFrame, root: String,
      keys: Seq[String], versionCol: String): Long = {
    val target = graft.Snapshots.latestVersion(spark, root)
      .map(graft.Snapshots.readVersion(spark, root, _))
    graft.Snapshots.publish(
      CoreQueries.upsertInto(target, batch, keys, Seq(col(versionCol).desc)), root)
  }

  /** [[run]] with versioned publication: every micro-batch becomes a
    * time-travelable snapshot version, so downstream consumers can pin
    * the exact table state any batch produced (the "train on the corpus
    * snapshot the eval ran against" requirement, now fed by a stream). */
  def runVersioned(stream: DataFrame, root: String, checkpointDir: String,
      keys: Seq[String], eventTimeCol: String, versionCol: String,
      watermark: String = "30 days"): StreamingQuery = {
    stream
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys :+ versionCol)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatchVersioned(batch.sparkSession, batch, root, keys, versionCol)
        ()
      }
      .start()
  }
}
