package graft

import graft.functions.ArrayMath
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Interpreted-vs-codegen parity for the custom expressions. Dropping
  * CodegenFallback created two implementations of each (`nullSafeEval` vs
  * `doGenCode`); every other suite runs with whole-stage codegen on, so
  * without this spec the interpreted path would be dead code that could
  * silently drift (null-element poisoning, float→double widening,
  * min-length ragged semantics). Each generated input set is evaluated
  * with codegen forced ON (CODEGEN_ONLY) and OFF (NO_CODEGEN +
  * wholeStage=false) and must match bit-for-bit. */
class CodegenParitySpec extends SparkSpec {

  private def withCodegen[T](on: Boolean)(body: => T): T =
    SparkSpec.withConf("spark.sql.codegen.wholeStage" -> on.toString,
      "spark.sql.codegen.factoryMode" -> (if (on) "CODEGEN_ONLY" else "NO_CODEGEN"))(body)

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(1234L + i)))

  // arrays with ragged lengths, null elements, empties, and null arrays
  private val arrGen: Gen[Seq[Any]] = Gen.frequency(
    9 -> Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(-100, 100).map(v => Float.box(v / 7.0f)),
      1 -> Gen.const(null)))),
    1 -> Gen.const(null))

  private def bits(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  test("dot_product: codegen and interpreted paths agree bit-for-bit") {
    for (mixed <- Seq(false, true)) {
      val rows = samples(Gen.zip(arrGen, arrGen), 40)
        .map { case (a, b) => Row(a, if (b == null) null else b) }
      val bType = if (mixed) DoubleType else FloatType
      val schema = StructType(Seq(
        StructField("a", ArrayType(FloatType, containsNull = true)),
        StructField("b", ArrayType(bType, containsNull = true))))
      val cast = if (mixed) (s: Seq[Any]) =>
        s.map(v => if (v == null) null else Double.box(v.asInstanceOf[Float].toDouble))
      else identity[Seq[Any]] _
      val data = rows.map(r => Row(r.get(0),
        Option(r.getSeq[Any](1)).map(cast).orNull))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2), schema)
      def run(on: Boolean): Seq[Any] = withCodegen(on) {
        df.select(ArrayMath.dotProduct(col("a"), col("b")).as("d"))
          .collect().map(r => bits(r.get(0))).toSeq
      }
      assert(run(true) == run(false), s"mixed=$mixed")
    }
  }

  test("cosine_sim: codegen and interpreted paths agree bit-for-bit") {
    val rows = samples(Gen.zip(arrGen, arrGen), 40)
      .map { case (a, b) => Row(a, b) }
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def run(on: Boolean): Seq[Any] = withCodegen(on) {
      df.select(ArrayMath.cosineSim(col("a"), col("b")).as("c"))
        .collect().map(r => bits(r.get(0))).toSeq
    }
    assert(run(true) == run(false))
  }

  test("cosine_sim equals the composed dot/(norm·norm) form on equal-length inputs") {
    val pairGen = Gen.choose(1, 8).flatMap { n =>
      val elems = Gen.listOfN(n, Gen.choose(-100, 100).map(_ / 7.0))
      Gen.zip(elems, elems)
    }
    val rows = samples(pairGen, 50).map { case (a, b) => Row(a, b) }
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val composed = df.select(
      (ArrayMath.dotProduct(col("a"), col("b")) /
        (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x)) *
          sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x)))).as("c"))
      .collect().map(r => bits(r.get(0))).toSeq
    val native = df.select(ArrayMath.cosineSim(col("a"), col("b")).as("c"))
      .collect().map(r => bits(r.get(0))).toSeq
    assert(native == composed)
  }

  test("hyperplane_sigs: codegen and interpreted paths agree on generated vectors") {
    val rows = samples(arrGen, 40).map(Row(_))
    val schema = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def run(on: Boolean): Seq[Any] = withCodegen(on) {
      df.select(ArrayMath.hyperplaneSigs(col("v"), 5, 17).as("s"))
        .collect().map(r => Option(r.getSeq[Long](0)).map(_.toList).orNull).toSeq
    }
    assert(run(true) == run(false))
  }

  test("nfc_normalize: codegen and interpreted paths agree; NFC law holds") {
    val strGen: Gen[String] = Gen.frequency(
      6 -> Gen.listOf(Gen.frequency[String](
        5 -> Gen.alphaNumChar.map(_.toString),
        // decomposed sequences NFC must compose
        2 -> Gen.oneOf("e\u0301", "a\u030a", "o\u0308", "n\u0303"),
        // precomposed forms NFC must leave alone
        2 -> Gen.oneOf("\u00e9", "\u00e5", "\u00f6", "\u00f1", "\u20ac"),
        1 -> Gen.const("\u0301"))).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.const(null))
    val rows = samples(strGen, 60).map(Row(_))
    val schema = StructType(Seq(StructField("s", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    graft.functions.NfcNormalize.register(spark)
    def run(on: Boolean): Seq[Any] = withCodegen(on) {
      df.selectExpr("nfc_normalize(s) AS n").collect().map(_.get(0)).toSeq
    }
    val codegen = run(true)
    assert(codegen == run(false))
    // idempotence + agreement with the JDK normalizer
    codegen.zip(rows.map(_.get(0))).foreach {
      case (null, raw) => assert(raw == null)
      case (norm: String, raw: String) =>
        assert(java.text.Normalizer.isNormalized(norm, java.text.Normalizer.Form.NFC))
        assert(norm == java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC))
      case other => fail(s"unexpected $other")
    }
  }

  test("rolling_hash: codegen and interpreted paths agree on generated strings") {
    val strGen: Gen[String] = Gen.frequency(
      8 -> Gen.listOf(Gen.frequency(
        6 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '\t', 'å', 'ö', '€'),
        1 -> Gen.choose('\u0000', '\u07ff'))).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.const(null))
    val rows = samples(strGen, 60).map(Row(_))
    val schema = StructType(Seq(StructField("s", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    def run(on: Boolean): Seq[Any] = withCodegen(on) {
      df.select(ArrayMath.rollingHash(col("s")).as("h")).collect().map(_.get(0)).toSeq
    }
    assert(run(true) == run(false))
  }
}
