package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic input generator. Every value is a pure function of
  * (seed, row index, salt), so the same seed gives the same files on any
  * machine and row generation can run inside Spark tasks.
  *
  * Incident feeds are shaped like the reference's paged traffic API:
  * Situation → Deviation nesting, ~2% of deviations without a
  * DeviationId, ~10% LINESTRING and ~10% missing WKT, an unknown
  * CountyNo, ~1/3 open EndTime, ~2% duplicate reports and ~1% blank
  * messages, and a 3-day lookback so consecutive daily feeds overlap by
  * about two thirds.
  */
object Gen {

  /** splitmix64 finalizer over (seed, index, salt). */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, i: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, i, salt), n.toLong).toInt
  def chance(seed: Long, i: Long, salt: Long, pct: Double): Boolean =
    uniform(seed, i, salt, 10000) < pct * 100

  /** Day 0 of every cycle; history days are negative. */
  val Epoch: Long = java.time.Instant.parse("2025-03-01T00:00:00Z").getEpochSecond
  val DaySec: Long = 86400L
  val Lookback = 3
  /** Daily cron time: feeds are fetched and ingested at 06:00 UTC. */
  val CronSec: Long = 6 * 3600L

  def iso(epochSec: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochSecond(epochSec))
  /** `now` of the ingest run on `day`, as a Spark literal. */
  def nowOf(day: Int): String =
    iso(Epoch + day * DaySec + CronSec).stripSuffix("Z").replace('T', ' ')

  // ---- incidents ---------------------------------------------------------

  val Known: Array[Int] = graft.Pipeline.countyNames.keys.toArray.sorted
  val UnknownCounty = 99
  val Types = Array("Vägarbete", "Olycka", "Hinder", "Trafikmeddelande",
    "Restriktion", "Färjor")
  val Roads = Array("E4", "E6", "E18", "E20", "E22", "E45", "Väg 40",
    "Väg 50", "Väg 70", "Väg 90")
  val Places = Array("norr", "söder", "öst", "väst", "trafikplats",
    "bro", "tunnel", "korsning", "rastplats", "infart")
  val Verbs = Array("Vägarbete pågår", "Olycka med personbil",
    "Nedfallet träd", "Fordon i vägbanan", "Körfält avstängt",
    "Halka", "Begränsad framkomlighet", "Färjan inställd")

  /** Two deviations per situation; `perDay` incidents are created per day,
    * so incident `i` belongs to day `floor(i / perDay) + firstDay`. */
  final case class Layout(perDay: Int, firstDay: Int) {
    def day(i: Long): Int = (i / perDay).toInt + firstDay
    def first(day: Int): Long = (day - firstDay).toLong * perDay
  }

  /** One deviation as the feed of `feedDay` reports it: the situation's
    * ModifiedTime advances with every feed that carries it. Returns the
    * source row in [[graft.sources.PagedXmlSource.schema]] order. */
  def incident(seed: Long, lay: Layout, i: Long, feedDay: Int): Array[Any] = {
    // a duplicate report copies every descriptive field of its
    // predecessor under its own id (composite dedup D1 drops it)
    val src = if (i % lay.perDay != 0 && chance(seed, i, 1, 2.0)) i - 1 else i
    val sit = i / 2
    val day = lay.day(i)
    val sitCreated = Epoch + day * DaySec + uniform(seed, sit, 2, 86400)
    val srcCreated = Epoch + lay.day(src) * DaySec + uniform(seed, src / 2, 2, 86400)
    val planned = chance(seed, src, 3, 10.0)
    // the two deviations of a situation start in different ten-minute
    // slots, so id-less ones still get distinct synthetic keys
    val start = srcCreated + (src % 2) * 600 + uniform(seed, src, 18, 600) +
      (if (planned) (2 + uniform(seed, src, 4, 4)) * DaySec else 0L)
    val open = chance(seed, src, 5, 33.0)
    val end = start + 3600L * (1 + uniform(seed, src, 6, 96))
    val modified = math.min(sitCreated + (feedDay - day) * 6 * 3600L + uniform(seed, sit, 7, 3600),
      Epoch + feedDay * DaySec + CronSec - 60)
    val countyPick = uniform(seed, src, 8, 100)
    val county = if (countyPick < 3) UnknownCounty else Known(countyPick % Known.length)
    val road = Roads(uniform(seed, src, 9, Roads.length))
    val msg =
      if (chance(seed, src, 10, 1.0)) "   "
      else s"${Verbs(uniform(seed, src, 11, Verbs.length))} på $road"
    val lon = 12.0 + uniform(seed, src, 12, 800000) / 100000.0
    val lat = 55.5 + uniform(seed, src, 13, 1200000) / 100000.0
    val shape = uniform(seed, src, 14, 10)
    val wkt: String =
      if (shape == 0) null
      else if (shape == 1) f"LINESTRING ($lon%.5f $lat%.5f, ${lon + 0.02}%.5f ${lat + 0.01}%.5f)"
      else f"POINT ($lon%.5f $lat%.5f)"
    Array[Any](
      s"SE_STA_TRISSID_1_$sit",
      if (chance(seed, i, 15, 2.0)) null else s"SE_STA_TRISSID_1_${sit}_$i",
      msg,
      Types(uniform(seed, src, 16, Types.length)),
      s"$road ${Places(uniform(seed, src, 17, Places.length))}",
      road,
      county,
      iso(start),
      if (open) null else iso(end),
      iso(modified),
      iso(modified),
      wkt)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Writes the feed fetched on `feedDay`: every incident created in the
    * `Lookback` days before it. Returns the number of deviations. */
  def writeFeed(seed: Long, lay: Layout, feedDay: Int, path: Path): Int = {
    val lo = lay.first(feedDay - Lookback)
    val hi = lay.first(feedDay)
    val sb = new java.lang.StringBuilder(1 << 20)
    sb.append("<RESPONSE><RESULT>\n")
    var i = lo
    while (i < hi) {
      val a = incident(seed, lay, i, feedDay)
      if (i % 2 == 0 || i == lo) {
        if (i != lo) sb.append("</Situation>\n")
        sb.append("<Situation><Id>").append(a(0)).append("</Id>")
          .append("<ModifiedTime>").append(a(9)).append("</ModifiedTime>")
          .append("<PublicationTime>").append(a(10)).append("</PublicationTime>\n")
      }
      sb.append("<Deviation>")
      def tag(name: String, v: Any): Unit =
        if (v != null) sb.append('<').append(name).append('>')
          .append(esc(v.toString)).append("</").append(name).append('>')
      tag("DeviationId", a(1)); tag("Message", a(2)); tag("MessageType", a(3))
      tag("LocationDescriptor", a(4)); tag("RoadNumber", a(5)); tag("CountyNo", a(6))
      tag("StartTime", a(7)); tag("EndTime", a(8)); tag("WGS84", a(11))
      sb.append("</Deviation>\n")
      i += 1
    }
    if (hi > lo) sb.append("</Situation>\n")
    sb.append("</RESULT></RESPONSE>\n")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    (hi - lo).toInt
  }

  /** Normalized rows of every incident created in [fromDay, toDay), each
    * as the first daily feed after its creation published it — the table
    * a month of daily ingests leaves behind, loaded in one pass without
    * the XML round trip. */
  def history(spark: SparkSession, seed: Long, lay: Layout, fromDay: Int,
      toDay: Int): DataFrame = {
    val lo = lay.first(fromDay)
    val hi = lay.first(toDay)
    val rows = spark.range(lo, hi, 1, 2).rdd.map { i =>
      val feedDay = math.min(lay.day(i) + 1, toDay)
      Row.fromSeq(incident(seed, lay, i, feedDay).toSeq :+ nowOf(feedDay))
    }
    val raw = spark.createDataFrame(rows,
      graft.sources.PagedXmlSource.schema.add("ingest_now", StringType))
    graft.Pipeline.normalizeIncidents(spark, raw,
      col("ingest_now").cast("timestamp_ntz")).drop("ingest_now")
  }

  // ---- registry fixtures for the loop queries ------------------------------

  /** Near-duplicate families among documents 0..19 (what the shingle-share
    * queries read): a family of size n is a chain whose neighbours share
    * one planted passage. Sizes are fixed, so loop round counts do not
    * depend on the seed. */
  val Families: Seq[Int] = Seq(6, 5, 4, 3, 2)
  private val Vocab = 2000

  private def words(seed: Long, key: Long, salt: Long, n: Int): Seq[String] =
    (0 until n).map(k => "w" + uniform(seed, key * 131 + k, salt, Vocab))

  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val famOf = Families.zipWithIndex.flatMap { case (size, f) => Seq.fill(size)(f) }
    val starts = Families.scanLeft(0)(_ + _)
    val rows = (0 until n).map { d =>
      val body = words(seed, d, 20, 30 + uniform(seed, d, 21, 30))
      val text =
        if (d < famOf.size) {
          val f = famOf(d)
          val pos = d - starts(f)
          // passage k links chain members k and k+1
          val links = Seq(pos - 1, pos).filter(k => k >= 0 && k < Families(f) - 1)
          (body ++ links.flatMap(k => words(seed, 1000000L + f * 100 + k, 22, 8))).mkString(" ")
        } else body.mkString(" ")
      Row(d.toLong, text, if (d % 5 == 0) "sv" else "en", s"src${d % 7}", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** TPC-H-shaped lineitem: `orders` orders of 1..7 lines over `parts`
    * parts (the co-purchase graph the k-core and Katz queries read). The
    * seed relabels parts but leaves the graph's shape alone, so the loop
    * round counts are the same for every seed. */
  def lineitem(spark: SparkSession, seed: Long, orders: Int, parts: Int): DataFrame = {
    val s = seed
    val shift = java.lang.Long.remainderUnsigned(mix(seed, 0, 36), parts.toLong)
    spark.range(0, orders, 1, 2)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pmod(xxhash64(col("id"), lit(30)), lit(7L)) + 1)
          .cast("int"))).as("l_linenumber"))
      .select(
        col("l_orderkey"),
        (pmod(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(31)),
          lit(parts.toLong)) + shift, lit(parts.toLong)) + 1).as("l_partkey"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(s), lit(32)),
          lit(100L)) + 1).as("l_suppkey"),
        col("l_linenumber"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(s), lit(33)),
          lit(50L)) + 1).cast("double").as("l_quantity"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(s), lit(34)),
          lit(100000L)) / 10.0).as("l_extendedprice"),
        lit(0.05).as("l_discount"), lit(0.02).as("l_tax"),
        lit("N").as("l_returnflag"), lit("O").as("l_linestatus"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp_ntz") +
          make_dt_interval(pmod(xxhash64(col("l_orderkey"), lit(s), lit(35)), lit(365L))
            .cast("int"))).as("l_shipdate"))
  }
}
