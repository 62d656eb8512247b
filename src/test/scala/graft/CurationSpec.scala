package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Invariant checks for the curation stages over the sf0.001 fixture —
  * value-level equality is the oracle gate's job; these assert the
  * properties the oracle can't express (budget bounds, rate caps,
  * planted-contamination recall). */
class CurationSpec extends ReleasesPins {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_decontaminate: benchmark docs are excluded, verdict tracks hits") {
    val rows = run("q_decontaminate").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 97 != 0))
    assert(rows.forall { r =>
      val drop = r.getString(2) == "drop"
      (r.getLong(1) > 0) == drop
    })
  }

  test("q_quality_filter: verdict is exactly the conjunction of its signals") {
    val rows = run("q_quality_filter").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, stop, rep) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      val expect = nTok >= 30 && nTok <= 500 && stop >= 1 && rep <= 0.2
      assert((r.getString(5) == "keep") == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("q_domain_mix: every surviving domain lands at or under its cap") {
    val out = run("q_domain_mix")
    val total = Tables.documents(spark, sf).count()
    val cap = 0.04 * total
    val perSrc = out.groupBy("source").agg(count(lit(1)).as("kept")).collect()
    assert(perSrc.nonEmpty)
    perSrc.foreach { r =>
      // md5 buckets are uniform, not exact quotas: allow sampling noise
      // around the cap (binomial sd ≈ √cap) but catch a broken threshold
      assert(r.getLong(1) <= cap + 4 * math.sqrt(cap) + 1,
        s"source ${r.getString(0)} kept ${r.getLong(1)} vs cap $cap")
    }
  }

  test("q_weighted_sample: saturated docs always kept, keep-rate grows with length") {
    val out = run("q_weighted_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val all = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // rate 1.0 (n_chars ≥ 400) must ALWAYS keep — the '0'+hex-cut
    // comparison saturates at cut '1000'
    all.filter(_._2 >= 400).foreach { case (id, _) =>
      assert(out.contains(id), s"saturated doc $id dropped")
    }
    // keep-rate is monotone in length at the population level
    val (long, short) = all.partition(_._2 >= 300)
    def rate(xs: Array[(Long, Long)]) =
      xs.count(x => out.contains(x._1)).toDouble / xs.length
    assert(rate(long) > rate(short), s"${rate(long)} !> ${rate(short)}")
  }

  test("q_seq_pack: offsets are contiguous per shard and bins respect the budget") {
    val rows = run("q_seq_pack").collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getInt(2), r.getLong(3), r.getInt(4)))
    rows.groupBy(_._1).foreach { case (_, docs) =>
      val ordered = docs.sortBy(_._2)
      // each doc starts exactly where the previous one ended
      ordered.sliding(2).foreach {
        case Array((_, _, n1, o1, _), (_, _, _, o2, _)) => assert(o2 == o1 + n1)
        case _ =>
      }
      // bin is the budget-quotient of the start offset
      ordered.foreach { case (_, _, _, off, bin) =>
        assert(bin == (off / Curation.PackBudget).toInt)
      }
    }
  }
}
