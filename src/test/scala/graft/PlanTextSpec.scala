package graft

/** Canonical plan text: the rules strip exactly what differs between two
  * builds, and two builds of the queries whose raw plans differed print
  * the same canonical plans. */
class PlanTextSpec extends SparkSpec {

  test("canonical strips per-build ids and keeps the column name's # and the artifact prefix") {
    val raw = "Project [id#12L, lambda x_17#30] CollectMetrics " +
      "0f8fad5b-d9cb-469f-a165-70867728950e, [plan_id=42] " +
      "InMemoryFileIndex[file:/tmp/graft_artifacts8812345678901234567/5d41402abc4b2a7" +
      " MapElements graft.Foo$$$Lambda/0x00007f1c3c5a1234@5e2f1a0b, graft.Kpi$$anon$1@23b7342d"
    assert(PlanText.canonical(raw) ==
      "Project [id#, lambda x_#] CollectMetrics <name>, [plan_id=] " +
      "InMemoryFileIndex[file:/tmp/graft_artifacts MapElements graft.Foo$$$Lambda@, graft.Kpi$$anon$1@")
  }

  test("two builds of q_dup_clusters, q_rfm and q_bigram_lm print equal canonical plans") {
    // AQE off: an adaptive final plan also records which stage finished
    // first (a broadcast's build side flips with it), so plans are
    // compared as Catalyst chose them. One warm-up run first: the first
    // build of an artifact's consumer also runs the artifact's build,
    // which later builds only read.
    for (name <- Seq("q_dup_clusters", "q_rfm", "q_bigram_lm"))
      SparkSpec.withConf("spark.sql.adaptive.enabled" -> "false") {
        PlanText.ofRun(spark, name, sf)
        val (first, a) = PlanText.ofRun(spark, name, sf)
        val (second, b) = PlanText.ofRun(spark, name, sf)
        assert(first.isRight && second.isRight, s"$name failed: $first / $second")
        assert(a.nonEmpty, s"$name captured no plan")
        assert(a == b, s"$name printed ${a.size} and ${b.size} plans on two builds, differing in:\n" +
          a.zip(b).filter { case (x, y) => x != y }.map { case (x, y) => s"$x\n  vs\n$y" }.mkString("\n"))
      }
  }
}
