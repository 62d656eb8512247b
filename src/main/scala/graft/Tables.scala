package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated fixtures (TESTDATA.md).
  *
  * Mirrors the reference's fixed, explicit schemas (reference
  * src/trv/load_sqlite.py:6-25 — schema is declared, never inferred); on
  * parquet the footer IS the schema, so we read directly and keep the
  * loader as the single place a table name is spelled.
  */
object Tables {
  /** r15 optimization (guide §5 "the driver should do almost no data
    * work" / §6 file-listing caches): every `spark.read.parquet` call
    * re-lists the path and re-reads a parquet footer ON THE DRIVER
    * before any job runs. A 539-query bench session calls these loaders
    * thousands of times against ten immutable fixture paths, so the
    * unevaluated DataFrame (the PLAN — never any result data) is
    * memoized per (session, dir, table). Every action still scans the
    * parquet from disk; only the driver-side listing + footer read is
    * deduplicated. Keyed by session so a fresh session re-lists (the
    * fixtures are immutable within a session by the harness contract —
    * ScaleProbe writes its scaled tables BEFORE first reading them). */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Growth bound: a JVM that churns sessions (spec suites) keeps
    * inserting fresh keys whose values pin stopped sessions' plans. A
    * load that misses first drops the entries of every session whose
    * SparkContext has stopped, so live sessions keep their plans and
    * concurrent misses only ever remove dead entries. */
  private def memoized(key: (SparkSession, String, String),
      read: => DataFrame): DataFrame =
    Option(memo.get(key)).getOrElse {
      memo.keySet.removeIf(_._1.sparkContext.isStopped)
      memo.computeIfAbsent(key, _ => read)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memoized((spark, dir, name), spark.read.parquet(s"$dir/$name.parquet"))

  /** `events.ts` has shipped in two physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — [PARQUET_TYPE_ILLEGAL] — so with the legacy conf
    * it surfaces as a nanos-epoch BIGINT) and plain TIMESTAMP(MICROS)
    * (surfaces as TimestampType directly). Branch on the read type so
    * either generation normalizes to the same `timestamp_ntz` column
    * the oracle side sees via `CAST(ts AS TIMESTAMP)`.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame =
    memoized((spark, dir, "events#normalized"), loadEventsUncached(spark, dir))

  private def loadEventsUncached(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    val tsCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-epoch long: integer `div`, NOT `/` — ns-epoch values
        // exceed double's 2^53 exact range, so float division would be
        // off by ±1µs
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _ => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", tsCol)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
