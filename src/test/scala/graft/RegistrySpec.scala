package graft

class RegistrySpec extends SparkSpec {

  test("oracleSql keys are a subset of queries keys, aliases consistent") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"orphan oracles: ${ok.diff(qk)}")
    assert(qk.nonEmpty)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs, returns rows, and leaks no cache after release (pin contract)") {
    // the pin-release CONTRACT, enforced (r14 verdict item 3): every
    // persist a query takes must ride GlobalOrder's pin registry so the
    // harness's per-query release drains it. The sweep runs each query
    // through Harness.run with the count sink — Bench's and Verify's own
    // run-and-release path. A query that calls
    // .persist/.cache directly leaves MEMORY_AND_DISK blocks pinned for
    // the session lifetime — invisible to every green row, fatal to a
    // 536-query sweep. After each query's consuming action + blocking
    // release, the session's CacheManager must be EMPTY; a leaking new
    // query fails here BY NAME. (cutLineage's checkpoints are RDD-level
    // and never enter the CacheManager; artifact builds write parquet.)
    val cm = spark.sharedState.cacheManager
    // other suites share the session and may hold caches legitimately;
    // start from a clean slate so failures attribute to THIS sweep
    cm.clearCache()
    val failures = scala.collection.mutable.ListBuffer[String]()
    val empties = scala.collection.mutable.ListBuffer[String]()
    val leaks = scala.collection.mutable.ListBuffer[String]()
    for (name <- Harness.select(Nil).sorted) {
      Harness.run(spark, name, sf, Harness.Sink.Count) match {
        case Left(m)  => failures += s"$name: $m"
        case Right(r) => if (r.rows.contains(0L)) empties += name
      }
      if (!cm.isEmpty) {
        leaks += name
        cm.clearCache() // don't cascade one leak into every later name
      }
    }
    assert(failures.isEmpty, s"queries that threw: $failures")
    assert(empties.isEmpty, s"queries with zero rows: $empties")
    assert(leaks.isEmpty,
      s"queries leaking cached plans past release (unpinned persist?): $leaks")
  }
}
