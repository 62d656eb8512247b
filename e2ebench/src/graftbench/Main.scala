package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one line, `GRAFTBENCH {...}`,
  * holding the op counts, the metrics and the run-quality record.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * work (scratch dir), out (where spans and the run record go), slots
  * (Spark's local[k]), scale (full|tiny), launched-ms (epoch ms at which
  * the launcher started this process), and optionally pinned-ingest /
  * pinned-loops (`query=md5,...`) with the digests pinned for this seed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = Files.createDirectories(Path.of(a("work")))
    val out = Files.createDirectories(Path.of(a("out")))
    val slots = a("slots").toInt
    val tiny = a.getOrElse("scale", "full") == "tiny"

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // a loops pass generates ~300 distinct classes; at the default of
      // 100 cached classes every pass recompiled all of them, which made
      // passes ~40% slower and their times swing ±10% run to run
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1000.0

    val ctx = new Ctx(spark, seed, work, tiny, slots)
    val w: Workload = name match {
      case "ingest" => new Ingest(ctx, a.get("pinned-ingest"))
      case "dashboard" => new DashboardSession(ctx)
      case "loops" => new Loops(ctx, a.get("pinned-loops").toSeq
        .flatMap(_.split(",")).map(_.split("=")).map(kv => kv(0) -> kv(1)).toMap)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start, input generation and seeding, warm-up
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val prepS = timed(w.prepare())
    val warmS = timed(w.warmup())
    val setupS = sessionS + prepS + warmS

    val quality0 = Quality.sample(spark)
    val cycles = w.cycles(seconds)
    def runCycles(): Unit = (1 to cycles).foreach { _ => w.runCycle(); ctx.sampleHeap() }
    runCycles()
    val tracer = if (trace) {
      val t = new Tracer(spark, s"$name-$seed")
      ctx.tracer = t
      runCycles()
      ctx.tracer = null
      t.close()
      t.write(out.resolve(s"spans-$name-seed$seed.jsonl"))
      Some(t)
    } else None
    val quality1 = Quality.sample(spark)

    val primary = ctx.ops.filter(o => o.kind == w.primary && o.ok)
    val plain = primary.filterNot(_.traced).map(_.ms)
    val opsPerS = plain.size / (plain.sum / 1000.0)
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(plain), "ms"),
      Metric("ops_per_s", opsPerS, "1/s"),
      Metric("rows_per_s", w.rowsPerOp * opsPerS, "rows/s"),
      Metric("heap_peak_mb", ctx.heapPeakMb, "MB"))
    val perLayer = tracer.toSeq.flatMap { t =>
      val tracedP50 = Stats.median(primary.filter(_.traced).map(_.ms))
      w.layers(t.roots.toSeq) ++
        Layers.engine(t.roots.filter(_.name == w.primary).toSeq, slots) ++ Seq(
        Metric("trace.op_p50_ms", tracedP50, "ms"),
        Metric("trace.overhead_share", tracedP50 / Stats.median(plain) - 1, "share"))
    }
    val failed = ctx.ops.count(!_.ok)

    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val metrics = (endToEnd ++ perLayer).map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    val opMs = ctx.ops.groupBy(o => (o.kind, o.traced)).toSeq.sortBy(_._1).map {
      case ((kind, traced), os) =>
        s""""${if (traced) "traced " else ""}$kind":[${os.map(_.ms.round).mkString(",")}]"""
    }.mkString(",")
    val digests = w.digests.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString(",")
    val record =
      s"""{"workload":"$name","seed":$seed,"trace":${if (trace) 1 else 0},""" +
      s""""attempted":${ctx.ops.size},"failed":$failed,""" +
      s""""fail_ratio":${failed.toDouble / ctx.ops.size},"cycles":$cycles,"op_ms":{$opMs},""" +
      s""""setup":{"session_s":$sessionS,"prepare_s":$prepS,""" +
      s""""warmup_s":$warmS},""" +
      s""""quality":${Quality.json(quality0, quality1, slots)},""" +
      s""""digests":{$digests},""" +
      s""""metrics":{$metrics}}"""
    Files.write(out.resolve(s"run-$name-seed$seed-trace${if (trace) 1 else 0}.json"),
      record.getBytes(StandardCharsets.UTF_8))
    println("GRAFTBENCH " + record)
    spark.stop()
  }
}

/** Box weather around the timed region. Recorded with every run, never
  * used to gate a result. */
object Quality {
  final case class Sample(stealS: Double, probeS: Double, load1: Double)

  /** Host CPU steal so far, in seconds (the `steal` column of /proc/stat). */
  private def steal(): Double = {
    val f = Path.of("/proc/stat")
    if (!Files.exists(f)) return 0.0
    val cpu = Files.readAllLines(f).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  private def load1(): Double = {
    val f = Path.of("/proc/loadavg")
    if (Files.exists(f)) Files.readString(f).trim.split("\\s+")(0).toDouble else 0.0
  }

  /** The engine-independent probe of graft.Bench: a hash-mix sum over a
    * 10M-row range; median of three. */
  private def probe(spark: SparkSession): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(10000000L)
      .selectExpr("sum(cast(id as double) * 2654435761.0) as s", "count(*) as n").collect()
    (System.nanoTime() - t0) / 1e9
  })

  def sample(spark: SparkSession): Sample = Sample(steal(), probe(spark), load1())

  def json(a: Sample, b: Sample, slots: Int): String =
    s"""{"steal_s":${b.stealS - a.stealS},"probe_before_s":${a.probeS},""" +
    s""""probe_after_s":${b.probeS},"load1_before":${a.load1},"load1_after":${b.load1},""" +
    s""""nproc":${Runtime.getRuntime.availableProcessors},"master":"local[$slots]"}"""
}
