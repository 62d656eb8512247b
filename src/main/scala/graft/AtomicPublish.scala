package graft

import scala.jdk.CollectionConverters._

import graft.operators.CoreQueries
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-safe table publication. A plain `mode("overwrite")` onto the
  * directory being read deletes the old files before committing new ones —
  * a mid-write crash loses the published table (the reference's SQLite
  * upsert was transactional, src/trv/load_sqlite.py:43-62). Writing to a
  * sibling temp dir and swapping via rename keeps a complete table on
  * disk at every instant, and lets the plan read the old target while
  * writing the new one (no lineage break / memory pin needed).
  *
  * All filesystem traffic goes through Hadoop's [[FileSystem]] resolved
  * from the target URI, so the same code publishes to local disk, HDFS,
  * or any `FileSystem`-backed store. On HDFS the two renames are atomic
  * metadata ops; on object stores whose connector implements rename as
  * copy+delete the window is wider but the ordering invariant below still
  * guarantees a complete table exists at either the target or the backup.
  */
object AtomicPublish {

  // shared with Snapshots — the one place FS resolution is spelled
  private[graft] def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val conf: Configuration = spark.sparkContext.hadoopConfiguration
    (p.getFileSystem(conf), p)
  }

  /** The first parquet part directly in `p`, if `p` exists. `listStatus`
    * is only called behind `exists` (it throws on a missing path; some
    * local implementations return null-like empties). */
  private def firstPart(fs: FileSystem, p: Path): Option[Path] =
    if (!fs.exists(p)) None
    else Option(fs.listStatus(p)).flatMap(_.map(_.getPath).find(_.getName.endsWith(".parquet")))

  /** Read the current target if a published table exists (recovers from a
    * crash between the two renames by falling back to the backup).
    *
    * With a declared `schema` the read runs no schema-inference job:
    * columns the table lacks come back as typed NULLs, and a table column
    * the schema lacks fails here rather than being silently dropped. The
    * check reads one part's footer in this JVM and runs no Spark job. */
  def readIfExists(spark: SparkSession, targetDir: String,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val (fs, target) = fsFor(spark, targetDir)
    Seq(target, new Path(targetDir + ".bak")).iterator
      .flatMap(dir => firstPart(fs, dir).map(dir -> _)).nextOption()
      .map { case (dir, part) =>
        schema.fold(spark.read.parquet(dir.toString)) { s =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, fs.getConf))
          val cols = try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName)
            finally reader.close()
          val extra = cols.filterNot(s.fieldNames.contains)
          require(extra.isEmpty, s"$dir holds columns the declared schema lacks: " +
            extra.mkString(", "))
          spark.read.schema(s).parquet(dir.toString)
        }
      }
  }

  /** Latest-wins upsert of `updates` on `keys` into the table at
    * `targetDir` ([[graft.operators.CoreQueries.upsertInto]]), published
    * by [[overwrite]]. A non-empty `order` dedups `updates` by key inside
    * the merge window; with no table yet, `updates` so deduped is the
    * table. The target is read through `updates`' schema
    * ([[readIfExists]]): no inference job, and a target column `updates`
    * lacks fails the merge. Returns the published schema. */
  def upsert(updates: DataFrame, targetDir: String, keys: Seq[String],
      order: Seq[Column] = Nil): StructType = {
    val merged = CoreQueries.upsertInto(
      readIfExists(updates.sparkSession, targetDir, Some(updates.schema)), updates, keys, order)
    overwrite(merged, targetDir)
    merged.schema
  }

  /** Write `df` as the new content of `targetDir`: tmp write → backup
    * swap → cleanup. `df` may read from the current target (or the
    * backup, on a recovery re-run). Ordering invariant: at every instant
    * either `targetDir` or `targetDir.bak` holds a complete table — in
    * particular, on a recovery run (no target, only .bak) the new table
    * is published BEFORE the backup is deleted.
    *
    * Encoding fits each column (Dremel, VLDB 2020): the dictionary page is
    * capped at 16 KB. A categorical column (status, county, message type:
    * at most ~100 distinct values) stays well under the cap and keeps its
    * dictionary; a near-unique one (ids, timestamps, coordinates, WKT)
    * passes it within its first page and falls back to plain there, rather
    * than building a full dictionary that parquet would then discard. */
  def overwrite(df: DataFrame, targetDir: String): Unit = {
    val spark = df.sparkSession
    val (fs, target) = fsFor(spark, targetDir)
    val tmp = new Path(targetDir + ".tmp")
    val bak = new Path(targetDir + ".bak")
    fs.delete(tmp, true)
    df.write.mode("overwrite").option("parquet.dictionary.page.size", 16 * 1024)
      .parquet(tmp.toString)
    if (fs.exists(target)) {
      fs.delete(bak, true)
      require(fs.rename(target, bak), s"could not stage backup of $targetDir")
    }
    require(fs.rename(tmp, target), s"could not publish $targetDir")
    fs.delete(bak, true)
  }
}
