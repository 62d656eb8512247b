package graft

import graft.Harness.jsonString

/** Benchmark main. Prints the full JSON record on one line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *  "runs":{...},"errors":[...],"calibration":{...}}
  * followed by ONE compact summary line (total / ok / errors / worst-5 /
  * calibration). The driver's output capture has truncated the full line
  * mid-stream two rounds running while preserving the stream's tail, so
  * the compact line — printed last — is the always-recoverable record.
  *
  * Trust properties (a benchmark that can't prove itself is noise):
  *  - a throwing query is EXCLUDED from the total and reported in
  *    "errors" with its message — failures can never make the bench
  *    look faster;
  *  - "runs" carries every raw run time (not just the min), so a reader
  *    can see variance per query instead of trusting a point estimate;
  *  - "calibration" runs a fixed constant-cost probe (sum over a 10M-row
  *    range) before and after the query sweep. Engine changes cannot
  *    affect it, so any drift between rounds or between before/after is
  *    ambient box load, visible in the artifact itself.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional args = local-iteration subset (none = the whole registry)
    val names = Harness.select(args.toSeq)
    val sfDir = Harness.sfDir
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)

    // Fixed-cost probe: a hash-mix sum over spark.range(10M), in DOUBLE
    // space so the fold cannot overflow under ANSI mode (the long-space
    // variant sums to ~1.3e23 and threw ARITHMETIC_OVERFLOW, killing the
    // round-4 bench before it timed anything). Independent of every engine
    // code path under test; its time is a pure function of box weather.
    // Isolated exactly like a query: a probe failure is REPORTED in the
    // calibration object, never allowed to zero the artifact.
    def calibrateOnce(): Either[String, Double] =
      Harness.time {
        spark.range(10000000L)
          .selectExpr("sum(cast(id as double) * 2654435761.0) as s", "count(*) as n")
          .collect()
      }.map(_._1)
    def round3(d: Double): Double = math.rint(d * 1000) / 1000

    // five samples per calibration point (was min-of-2): the probe feeds
    // total_normalized, and a min over two loaded samples swung the r13
    // normalized figures 219–306 s across same-day runs. Returns ALL
    // valid samples; the consumer below uses the MEDIAN (robust both to
    // loaded outliers above and to transient turbo/cache dips below —
    // an r14 min-of-5 run caught a 0.109 s dip that overstated the box
    // 35% against the 0.148 s reference) and also reports the min for
    // continuity with the pre-r14 rows. Samples at or below clock
    // resolution are discarded (a zero/near-zero reading would turn the
    // normalization into Infinity/garbage instead of null).
    def calibrate(): (List[Double], Option[String]) = {
      val (errs, runs) = List.fill(5)(calibrateOnce()).partitionMap(identity)
      (runs.filter(_ > 1e-3), errs.headOption)
    }
    def median(xs: List[Double]): Option[Double] = {
      if (xs.isEmpty) None
      else {
        val s = xs.sorted
        Some(if (s.size % 2 == 1) s(s.size / 2)
             else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
      }
    }

    // warm the JVM once so the "before" calibration isn't a JIT outlier
    calibrateOnce()
    val (calibBeforeRuns, calibBeforeErr) = calibrate()

    // steady state: min-of-2 over the count sink; (name, ok runs, failure)
    val results: Seq[(String, List[Double], Option[String])] = names.map { name =>
      val (errs, runs) = Harness.runTwice(spark, name, sfDir, Harness.Sink.Count).partitionMap(identity)
      (name, runs.map(r => round3(r.seconds)), errs.headOption)
    }

    val (calibAfterRuns, calibAfterErr) = calibrate()
    val calibBefore = median(calibBeforeRuns)
    val calibAfter = median(calibAfterRuns)

    val ok = results.collect { case (n, runs, None) => n -> runs.min }
    val total = round3(ok.map(_._2).sum)
    def jsonObject(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jsonObject(ok)
    val runsJson = jsonObject(results.map { case (k, runs, _) => k -> runs.mkString("[", ",", "]") })
    val errsJson = results
      .collect { case (n, _, Some(m)) => s"""{"query":${jsonString(n)},"error":${jsonString(m)}}""" }
      .mkString("[", ",", "]")
    def calibVal(v: Option[Double]): String = v.map(d => round3(d).toString).getOrElse("null")
    val calibErrs = (calibBeforeErr.toList ++ calibAfterErr.toList).map(jsonString)
    // cross-round normalization: ambient box load swung the r12 driver
    // total 1.4× vs the same-commit uncontended rerun. The probe is a
    // pure function of box weather, so total × (PROBE_REF / probe) re-
    // expresses the total at a fixed reference box speed — round-over-
    // round deltas compare normalized totals, not raw ones. TWO
    // estimator FAMILIES are emitted, each normalized against a
    // reference pinned under ITS OWN estimator (the r14 verdict flagged
    // that dividing a median-family measurement by the min-family
    // 0.148 s pin deflates the result ~2×; the families are not
    // interchangeable):
    //  - total_normalized_min: min of all valid samples vs the r11
    //    min-family pin 0.148 s — continuity with every pre-r15 row;
    //  - total_normalized_median (also emitted as the primary
    //    total_normalized): median of all valid samples vs the r15
    //    median-family pin 0.153 s — three back-to-back quiet-box
    //    (load 0.15) calibration-only runs read medians
    //    0.134/0.153/0.165 and the pin is their median (pinning run
    //    recorded in BENCH.md r15). The median is the stable middle:
    //    min-of-N drifts downward into transient turbo/cache dips
    //    (an r14 run caught a 0.109 s dip, overstating the box 35%)
    //    while any loaded sample only pushes the median up slightly.
    val ProbeRefMin = 0.148
    val ProbeRefMedian = 0.153
    val allProbes = calibBeforeRuns ++ calibAfterRuns
    val probeMeasured = median(allProbes)
    val probeMin = allProbes.sorted.headOption
    val totalNormJson = probeMeasured
      .map(p => round3(total * (ProbeRefMedian / p)).toString).getOrElse("null")
    val totalNormMinJson = probeMin
      .map(p => round3(total * (ProbeRefMin / p)).toString).getOrElse("null")
    val calibJson =
      s"""{"probe":"range10M_sum_double","before_sec":${calibVal(calibBefore)},""" +
      s""""after_sec":${calibVal(calibAfter)},"probe_used_sec":${calibVal(probeMeasured)},""" +
      s""""probe_min_sec":${calibVal(probeMin)},"probe_ref_median_sec":$ProbeRefMedian,""" +
      s""""probe_ref_min_sec":$ProbeRefMin,""" +
      s""""probe_errors":${calibErrs.mkString("[", ",", "]")}}"""

    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,""" +
      s""""total_normalized":$totalNormJson,""" +
      s""""total_normalized_median":$totalNormJson,"total_normalized_min":$totalNormMinJson,""" +
      s""""queries":$qs,"sf":${jsonString(sfDir)},""" +
      s""""ok_count":${ok.size},"error_count":${results.size - ok.size},""" +
      s""""errors":$errsJson,"runs":$runsJson,"calibration":$calibJson}"""
    println(fullLine)
    // capture-proof record: the driver's stdout capture has truncated the
    // full line three rounds running, so ALSO write it to a repo file that
    // gets committed at round close — BENCH_r* analysis can then always
    // read a complete per-query map regardless of capture behavior.
    // r16 (verdict item 6): a cpus-stamped copy is ALWAYS written beside
    // the default/overridden path, so the driver's low-core scaling sweep
    // can never shadow the headline run in the committed artifact — each
    // run config keeps its own file, and the JSON itself carries "cpus".
    try {
      val payload = (fullLine + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = java.nio.file.Paths.get(Harness.benchOut)
      java.nio.file.Files.write(out, payload)
      java.nio.file.Files.write(out.resolveSibling(s"bench_latest_c$cpus.json"), payload)
    } catch { case _: Throwable => () } // never let the file write kill the bench
    // compact tail-survivor: everything a grader needs if the full line
    // is truncated again (worst-5 = the slowest five, where any perf
    // regression worth chasing will appear)
    val worst5 = jsonObject(ok.sortBy(-_._2).take(5))
    println(
      s"""{"metric":"total_compact","value":$total,"unit":"sec","cpus":$cpus,""" +
      s""""total_normalized":$totalNormJson,"total_normalized_min":$totalNormMinJson,""" +
      s""""sf":${jsonString(sfDir)},""" +
      s""""ok_count":${ok.size},"error_count":${results.size - ok.size},""" +
      s""""worst5":$worst5,"calibration":$calibJson}""")
    spark.stop()
  }
}
