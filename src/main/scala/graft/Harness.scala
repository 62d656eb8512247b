package graft

import graft.operators.Loop
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one run path graft's mains and specs share: the session, the
  * environment contract (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_BENCH_OUT` — the only variables the mains read), the
  * query-name selector and the timed, pin-scoped query run. */
object Harness {
  val DefaultCpus = 4
  val FixtureRoot = "/root/testdata"

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(DefaultCpus)(_.trim.toInt)
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$FixtureRoot/sf0.1")
  def benchOut: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")

  /** The local session every main and spec runs on. AQE is left at Spark
    * 4.1's default (on). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // older events.parquet generations carried TIMESTAMP(NANOS) — the
      // conf must be set at session build time; harmless for the current
      // TIMESTAMP(MICROS) fixtures (Tables.events branches on read type)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftRuntime.ensure(spark)
    spark
  }

  /** The registry names to run, in registry order: all of them for no
    * names, else exactly the given ones. Any name the registry does not
    * declare fails here, before a session is started, so a typo can never
    * time or dump nothing and still look like a clean run. */
  def select(names: Seq[String]): Seq[String] = {
    val registry = SparkEntry.queries
    val unknown = names.distinct.filterNot(registry.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    val all = registry.keys.toSeq
    if (names.isEmpty) all else all.filter(names.toSet)
  }

  /** Where a run sends a query's rows. `Count` returns the row count
    * (`.count()` lets the optimizer prune unread columns); `Noop` computes
    * every column of every row and discards it; `Parquet` writes one file
    * under `path`. */
  type Sink = DataFrame => Option[Long]
  object Sink {
    val Count: Sink = df => Some(df.count())
    val Noop: Sink = df => { df.write.format("noop").mode("overwrite").save(); None }
    def Parquet(path: String): Sink =
      df => { df.coalesce(1).write.mode("overwrite").parquet(path); None }
  }

  /** One successful run: wall seconds and, for the count sink, rows. */
  final case class Run(seconds: Double, rows: Option[Long])

  /** Wall seconds of `body` with its result, or the failure text of what
    * it threw: a failure is reported, never allowed to kill a sweep. */
  def time[T](body: => T): Either[String, (Double, T)] = {
    val t0 = System.nanoTime()
    try {
      val result = body
      Right(((System.nanoTime() - t0) / 1e9, result))
    } catch { case t: Throwable => Left(failure(t)) }
  }

  /** Runs registry query `name` over `dir` into `sink`, timing DataFrame
    * construction plus the sink's action (the lookup is outside), in its
    * own [[Loop.scoped]] pin scope. The scope's blocking release runs
    * untimed and drops only this run's pins: a long sweep cannot
    * accumulate MEMORY_AND_DISK blocks, one run's async block removal
    * cannot add noise to the next run's span, and a run on another thread
    * keeps its pins. */
  def run(spark: SparkSession, name: String, dir: String, sink: Sink): Either[String, Run] = {
    val query = SparkEntry.queries(name)
    Loop.scoped(time(sink(query(spark, dir)))).map { case (s, rows) => Run(s, rows) }
  }

  /** The min-of-2 protocol: run 1 absorbs janino codegen, JIT and
    * parquet-footer warm-up, and min-of-2 is robust to transient GC
    * pauses. A failed run 1 is not repeated. */
  def runTwice(spark: SparkSession, name: String, dir: String, sink: Sink): List[Either[String, Run]] = {
    val first = run(spark, name, dir, sink)
    if (first.isLeft) List(first) else List(first, run(spark, name, dir, sink))
  }

  /** `Class: message`, the message cut to 200 chars. */
  def failure(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}"

  /** JSON string literal: escapes `"` and `\`, and writes every control
    * char below 0x20 as a four-hex-digit unicode escape — a tab or CR in
    * oracle SQL or an error message would otherwise make a consumer's
    * json.load fail. */
  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
