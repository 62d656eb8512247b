package graft

import org.apache.spark.sql.functions._

/** Invariant checks for the behavioral-analytics queries — value-level
  * equality is the oracle gate's job; these assert the structural
  * properties (interval tiling, stage ordering, cohort conservation) the
  * oracle can't express. */
class BehavioralSpec extends ReleasesPins {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_scd2: versions are consecutive, intervals tile, states actually change") {
    val rows = run("q_scd2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getAs[java.time.LocalDateTime](3),
        Option(r.getAs[java.time.LocalDateTime](4)), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, hist0) =>
      val hist = hist0.sortBy(_._2)
      assert(hist.map(_._2).toSeq == (1 to hist.length), s"user $user versions")
      hist.sliding(2).foreach {
        case Array(a, b) =>
          // interval tiling: this row's valid_to is the next row's valid_from
          assert(a._5.contains(b._4), s"user $user v${a._2} gap")
          // a change row must change state
          assert(a._3 != b._3, s"user $user v${a._2} repeated state")
        case _ =>
      }
      // exactly one open (current) interval per user, and it is the last
      assert(hist.count(_._6) == 1 && hist.last._6, s"user $user current flag")
    }
  }

  test("q_funnel: stage timestamps are strictly ordered and match the stage label") {
    val rows = run("q_funnel").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = Option(r.getAs[java.time.LocalDateTime](1))
      val c = Option(r.getAs[java.time.LocalDateTime](2))
      val p = Option(r.getAs[java.time.LocalDateTime](3))
      val stage = r.getString(4)
      // a later stage implies all earlier stages, strictly in order
      if (p.isDefined) assert(c.isDefined && p.get.isAfter(c.get))
      if (c.isDefined) assert(v.isDefined && c.get.isAfter(v.get))
      val expected =
        if (p.isDefined) "purchase" else if (c.isDefined) "click"
        else if (v.isDefined) "view" else "none"
      assert(stage == expected, s"user ${r.getLong(0)}")
    }
  }

  test("q_cohort_retention: offset-0 cells conserve the full user population") {
    val out = run("q_cohort_retention")
    val atZero = out.where(col("week_offset") === 0)
      .agg(sum("n_users")).collect()(0).getLong(0)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    // every user is active in their own cohort week by construction
    assert(atZero == users)
    assert(out.where(col("week_offset") < 0).isEmpty)
  }

  test("bloom decontamination verdicts equal the exact gram-join verdicts") {
    val bloom = run("q_bloom_decontaminate").select("doc_id", "verdict")
    val exact = run("q_decontaminate").select("doc_id", "verdict")
    // bloom has no false negatives, and the exact confirm removes its
    // false positives — end to end the verdicts must be identical
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
  }
}
