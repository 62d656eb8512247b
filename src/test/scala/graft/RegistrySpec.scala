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
    // harness's per-query release drains it. RegistrySweep runs each
    // query once through Harness.run with the count sink — Bench's and
    // Verify's own run-and-release path. A query that calls
    // .persist/.cache directly leaves MEMORY_AND_DISK blocks pinned for
    // the session lifetime — invisible to every green row, fatal to a
    // whole-registry sweep. After each query's consuming action +
    // blocking release, the session's CacheManager must be EMPTY; a
    // leaking new query fails here BY NAME. (cutLineage's checkpoints are
    // RDD-level and never enter the CacheManager; artifact builds write
    // parquet.)
    val records = RegistrySweep.records.toSeq.sortBy(_._1)
    val failures = records.flatMap { case (name, r) => r.run.left.toOption.map(m => s"$name: $m") }
    val empties = records.collect { case (name, r) if r.run.exists(_.rows.contains(0L)) => name }
    val leaks = records.collect { case (name, r) if r.leaked => name }
    assert(failures.isEmpty, s"queries that threw: $failures")
    assert(empties.isEmpty, s"queries with zero rows: $empties")
    assert(leaks.isEmpty,
      s"queries leaking cached plans past release (unpinned persist?): $leaks")
  }
}
