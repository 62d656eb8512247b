package graft

import graft.functions.{BpeEncode, CosineSim, DotProduct, HyperplaneSigs, MinHashSlices, NfcNormalize, RollingHash, WktCentroid, WordNGrams}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session wiring for graft's native expressions.
  *
  * Two entry points with identical results:
  *  - `GraftFunctions.registerAll(spark)` on a live session;
  *  - `SparkSession.builder().withExtensions(new GraftExtensions)` at
  *    build time (also usable via the
  *    `spark.sql.extensions=graft.GraftExtensions` conf on a cluster).
  */
object GraftFunctions {
  /** SQL call sites pass band/bit counts as literals (the expression
    * embeds them at plan time — they size generated code, not row data). */
  private def litInt(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Every native expression graft exposes to SQL (name, class, builder):
    * the one list both entry points register. */
  private[graft] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("wkt_centroid", classOf[WktCentroid], e => WktCentroid(e.head)),
    ("dot_product", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("rolling_hash", classOf[RollingHash], e => RollingHash(e.head)),
    ("cosine_sim", classOf[CosineSim], e => CosineSim(e(0), e(1))),
    ("hyperplane_sigs", classOf[HyperplaneSigs],
      e => HyperplaneSigs(e(0), litInt(e(1), "bands"), litInt(e(2), "bits"))),
    ("nfc_normalize", classOf[NfcNormalize], e => NfcNormalize(e.head)),
    ("minhash_slices", classOf[MinHashSlices],
      e => MinHashSlices(e(0), litInt(e(1), "k"), litInt(e(2), "shingleN"))),
    ("word_ngrams", classOf[WordNGrams], e => WordNGrams(e(0), litInt(e(1), "n"))),
    ("bpe_encode", classOf[BpeEncode], e => BpeEncode(e(0), e(1))))

  def registerAll(spark: SparkSession): Unit = builders.foreach { case (name, _, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: heap-based top-k per group (graft.plans) —
    // the rewrite turns row_number()<=k window filters into the operator
    // transparently; the strategy plans it
    e.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.GroupTopKRewrite)
    GraftFunctions.builders.foreach { case (name, cls, build) =>
      e.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
  }
}
