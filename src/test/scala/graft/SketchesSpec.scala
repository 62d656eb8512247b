package graft

import org.apache.spark.sql.functions._
import graft.functions.SketchProbe

/** Behavioral invariants for the sketch gates (operators.Sketches) and the
  * native cms_estimate probe expression — the oracle rows pin the bound
  * booleans; these pin the probe's mechanics on known-count inputs.
  */
class SketchesSpec extends ReleasesPins {

  import spark.implicits._

  test("cms_estimate: exact on a collision-free long input, never undercounts") {
    // 100 distinct keys, key k appearing k times — far below the 2/ε=2000
    // counter width, so estimates should be exact, and the CMS contract
    // (no undercount) must hold regardless
    val rows = (1 to 100).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")
    val sk = rows.agg(expr("count_min_sketch(k, 0.001d, 0.999d, 42)").as("sk"))
    val probed = (1 to 100).map(_.toLong).toDF("k")
      .crossJoin(broadcast(sk))
      .select($"k", SketchProbe.cmsEstimate($"sk", $"k").as("est"))
      .collect()
    for (r <- probed) {
      assert(r.getLong(1) >= r.getLong(0), s"undercount at ${r.getLong(0)}")
      assert(r.getLong(1) == r.getLong(0),
        s"collision on an uncrowded sketch: key ${r.getLong(0)} -> ${r.getLong(1)}")
    }
  }

  test("cms_estimate: string keys hash consistently with the aggregate") {
    val rows = Seq("a", "a", "a", "b", "b", "zzz").toDF("s")
    val sk = rows.agg(expr("count_min_sketch(s, 0.01d, 0.99d, 7)").as("sk"))
    val est = Seq("a", "b", "zzz", "absent").toDF("s")
      .crossJoin(broadcast(sk))
      .select($"s", SketchProbe.cmsEstimate($"sk", $"s").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") >= 3 && est("b") >= 2 && est("zzz") >= 1)
    // absent keys may overcount but on a near-empty sketch stay 0
    assert(est("absent") == 0)
  }

  test("cms_estimate: NULL sketch or NULL key yields NULL") {
    val r = Seq((Option.empty[Array[Byte]], Option.empty[Long]))
      .toDF("sk", "k")
      .select(SketchProbe.cmsEstimate($"sk", $"k").as("est"))
      .collect()
    assert(r.head.isNullAt(0))
  }

  test("sketch gates hold at sf0.001 (booleans all true, no empty groups)") {
    for (name <- Seq("q_hll_gate", "q_cms_topk", "q_quantile_gate", "q_ss_topk")) {
      val rows = SparkEntry.queries(name)(spark, sf).collect()
      assert(rows.nonEmpty, s"$name empty")
      val boolIdx = rows.head.schema.fields.zipWithIndex
        .filter(_._1.dataType.typeName == "boolean").map(_._2)
      assert(boolIdx.nonEmpty, s"$name has no gate booleans")
      for (r <- rows; i <- boolIdx)
        assert(r.getBoolean(i), s"$name row $r violates its bound")
    }
  }
}
