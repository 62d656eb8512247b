package graft

/** Dev-only scratch main.
  *
  *  - `runMain graft.Scratch` — smoke: entry() row count + a plan print of
  *    a representative query set at sf0.001.
  *  - `runMain graft.Scratch q_name [q_name2 ...]` — formatted physical
  *    plan of each named query.
  *
  * Earlier rounds accumulated one-off `*-probe` branches here; each has
  * since been promoted to a proper spec (AtomicPublishSpec, SessionizeSpec,
  * DedupSpec, DashboardSpec, XmlSourceSpec, PipelineSpec, ObservabilitySpec,
  * SkewSpec, CodegenParitySpec), so the probes are gone — specs, not
  * scratch branches, are where behavior is pinned.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) Harness.select(args.toSeq)
      else Seq("q_pushdown_scan", "q_topk_groups", "q_dim_lookup", "q_upsert_latest")
    val spark = Harness.session(Harness.cpus)
    println(s"entry() rows = ${SparkEntry.entry(spark).count()}")
    for (n <- names) {
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, s"${Harness.FixtureRoot}/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
