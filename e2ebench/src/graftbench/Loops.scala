package graftbench

import graft.SparkEntry
import graft.operators.GlobalOrder

/** The hand-written fixed-point queries of the registry, one from each
  * loop family, over registry-shaped fixtures. An op is one pass over
  * the list: each query is built through `SparkEntry.queries`,
  * collected, and its pinned projections released with
  * `GlobalOrder.release(blocking = true)`. Job-bound work: no source,
  * publish or dashboard code runs here. */
final class Loops(ctx: Ctx, pinned: Map[String, String]) extends Workload {
  import ctx.spark

  /** The cheapest query of each loop family: connected components,
    * PageRank, k-core, Katz walk counts, greedy coverage. */
  val Queries: Seq[String] = Seq("q_dup_clusters", "q_ppr", "q_kcore", "q_katz",
    "q_greedy_coverage")

  private val fixtures = ctx.dir("loops").resolve("fixtures").toString
  private val (docs, orders) = if (ctx.tiny) (100, 1500) else (300, 6000)

  def cycles(seconds: Int): Int = math.max(1, seconds / 8)
  def primary = "loops.pass"
  private var inputRows = 0.0
  def rowsPerOp: Double = inputRows

  def prepare(): Unit = {
    def save(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      df.write.mode("overwrite").parquet(s"$fixtures/$name.parquet")
      spark.read.parquet(s"$fixtures/$name.parquet").count()
    }
    inputRows = (save(Gen.documents(spark, ctx.seed, docs), "documents") +
      save(Gen.lineitem(spark, ctx.seed, orders, parts = orders / 7), "lineitem")).toDouble
  }

  private var expected = pinned
  override def digests: Map[String, String] = expected
  private val blocks = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** One query: collected rows' digest. */
  private def query(q: String): String = ctx.span(s"loops.$q") {
    val rows = SparkEntry.queries(q)(spark, fixtures).collect().toSeq
    ctx.span("release") {
      val before = spark.sparkContext.getPersistentRDDs.size
      GlobalOrder.release(blocking = true)
      if (ctx.traced) blocks += (before - spark.sparkContext.getPersistentRDDs.size).toDouble
    }
    Digest.rows(rows)
  }

  /** One untimed pass: builds the co-purchase artifact, compiles every
    * query's classes, and supplies the reference digests for seeds
    * without pinned ones. */
  def warmup(): Unit = {
    val got = Queries.map(q => q -> query(q)).toMap
    if (expected.isEmpty) expected = got
    else if (got != expected) System.err.println(s"loops warm-up digests $got != pinned $expected")
  }

  def runCycle(): Unit =
    ctx.op(primary)(Queries.map(q => q -> query(q)).toMap) { got =>
      val bad = Queries.filter(q => !expected.get(q).contains(got(q)))
      bad.foreach(q => System.err.println(s"loops $q digest ${got(q)} != ${expected.get(q)}"))
      bad.isEmpty
    }

  def layers(roots: Seq[Span]): Seq[Metric] = {
    val ops = roots.filter(_.name == primary)
    val perQuery = Queries.flatMap { q =>
      Seq(Metric(s"loops.${q}_ms", Layers.opMedian(ops, Layers.childMs(_, s"loops.$q")), "ms"),
        Metric(s"loops.${q}_jobs", Layers.opMedian(ops,
          _.find(s"loops.$q").map(_.total.jobs.toDouble).sum), "count"))
    }
    val passBlocks = blocks.grouped(Queries.size).map(_.sum).toSeq
    perQuery ++ Seq(
      Metric("loops.jobs_per_pass", Layers.opMedian(ops, _.total.jobs.toDouble), "count"),
      Metric("release.ms", Layers.opMedian(ops, Layers.childMs(_, "release")), "ms"),
      Metric("release.blocks", Stats.median(passBlocks), "count"))
  }
}
