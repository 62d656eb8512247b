package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Fixture-drift tripwire. Two of the first six rounds were zeroed by the
  * driver regenerating `/root/testdata` with a different physical shape
  * than the code assumed (ANSI-overflowing value ranges in r4; `events.ts`
  * switching TIMESTAMP(NANOS) → TIMESTAMP(MICROS) in r5/r6). Run this
  * FIRST each round: it prints every table's actual schema next to the
  * expected logical shape and exits non-zero on drift, so a fixture change
  * is a one-command diagnosis instead of 86 identical query failures.
  *
  * "Expected" is deliberately logical, not physical: column names and a
  * set of acceptable Spark read types per column. Physical re-encodings
  * the loaders already normalize (ns-vs-µs timestamps, int32-vs-int64
  * keys) are accepted; a renamed/dropped column or a genuinely new type
  * is drift.
  *
  * Usage: runMain graft.FixtureCheck [sfDir ...]
  * (defaults to all three driver SF dirs that exist)
  */
object FixtureCheck {

  /** table -> (column -> acceptable read types) in expected column order */
  val expected: Seq[(String, Seq[(String, Set[DataType])])] = {
    val ints: Set[DataType] = Set(IntegerType, LongType)
    val ts: Set[DataType] =
      Set(TimestampType, TimestampNTZType, LongType) // LongType = legacy nanosAsLong
    Seq(
      "region" -> Seq("r_regionkey" -> ints, "r_name" -> Set(StringType)),
      "nation" -> Seq("n_nationkey" -> ints, "n_name" -> Set(StringType),
        "n_regionkey" -> ints),
      "customer" -> Seq("c_custkey" -> ints, "c_name" -> Set(StringType),
        "c_nationkey" -> ints, "c_acctbal" -> Set(DoubleType),
        "c_mktsegment" -> Set(StringType)),
      "supplier" -> Seq("s_suppkey" -> ints, "s_name" -> Set(StringType),
        "s_nationkey" -> ints, "s_acctbal" -> Set(DoubleType)),
      "part" -> Seq("p_partkey" -> ints, "p_name" -> Set(StringType),
        "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
        "p_size" -> ints, "p_retailprice" -> Set(DoubleType)),
      "orders" -> Seq("o_orderkey" -> ints, "o_custkey" -> ints,
        "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
        "o_orderdate" -> ts, "o_orderpriority" -> Set(StringType)),
      "lineitem" -> Seq("l_orderkey" -> ints, "l_partkey" -> ints,
        "l_suppkey" -> ints, "l_linenumber" -> ints,
        "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
        "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
        "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
        "l_shipdate" -> ts),
      "events" -> Seq("event_id" -> ints, "ts" -> ts, "user_id" -> ints,
        "event_type" -> Set(StringType), "value" -> Set(DoubleType),
        "props" -> Set(StringType)),
      "documents" -> Seq("doc_id" -> ints, "text" -> Set(StringType),
        "lang" -> Set(StringType), "source" -> Set(StringType),
        "n_chars" -> ints),
      "embeddings" -> Seq("vec_id" -> ints,
        "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, false),
          ArrayType(DoubleType), ArrayType(DoubleType, false)),
        "label" -> ints)
    )
  }

  /** `table`'s schema as read from `dir`, or why it is unreadable. */
  private def readSchema(spark: SparkSession, dir: String, table: String): Either[String, StructType] =
    try Right(spark.read.parquet(s"$dir/$table.parquet").schema)
    catch { case e: Exception => Left(e.getMessage.linesIterator.next()) }

  /** Returns drift messages (empty = clean) for one SF dir. */
  def check(spark: SparkSession, dir: String): Seq[String] =
    expected.flatMap { case (table, cols) =>
      readSchema(spark, dir, table) match {
        case Left(err) => Seq(s"$dir/$table: unreadable — $err")
        case Right(actual) =>
          val actualByName = actual.fields.map(f => f.name -> f.dataType).toMap
          val missing = cols.collect {
            case (name, _) if !actualByName.contains(name) =>
              s"$dir/$table: expected column `$name` is missing"
          }
          val mismatched = cols.collect {
            case (name, ok) if actualByName.get(name).exists(t => !ok(t)) =>
              s"$dir/$table.$name: read type ${actualByName(name).simpleString}" +
                s" not in {${ok.map(_.simpleString).mkString(", ")}}"
          }
          val extra = actual.fieldNames.toSeq.diff(cols.map(_._1)).map { name =>
            s"$dir/$table: unexpected new column `$name`" +
              s" (${actualByName(name).simpleString})"
          }
          missing ++ mismatched ++ extra
      }
    }

  /** The loader-level assertion: events must come out of Tables.events as
    * a non-empty frame whose `ts` is TimestampNTZType — i.e. whatever the
    * fixture's physical encoding, the normalization held. */
  def checkEventsLoader(spark: SparkSession, dir: String): Seq[String] = {
    try {
      val ev = Tables.events(spark, dir)
      val tsType = ev.schema("ts").dataType
      val typeErr =
        if (tsType == TimestampNTZType) Nil
        else Seq(s"$dir: Tables.events ts is ${tsType.simpleString}, " +
          "expected timestamp_ntz")
      val n = ev.filter(ev.col("ts").isNotNull).count()
      val rowErr =
        if (n > 0) Nil else Seq(s"$dir: Tables.events has no non-null ts rows")
      typeErr ++ rowErr
    } catch {
      case e: Exception =>
        Seq(s"$dir: Tables.events failed — ${e.getMessage.linesIterator.next()}")
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("sf0.001", "sf0.01", "sf0.1").map(s"${Harness.FixtureRoot}/" + _)
        .filter(d => new java.io.File(d).exists())
    val spark = Harness.session(Harness.cpus)
    dirs.foreach { d =>
      println(s"== $d ==")
      expected.foreach { case (table, _) =>
        val schema = readSchema(spark, d, table).fold("UNREADABLE: " + _, _.simpleString)
        println(f"  $table%-12s $schema")
      }
    }
    val drift = dirs.flatMap(d => check(spark, d) ++ checkEventsLoader(spark, d))
    spark.stop()
    if (drift.isEmpty) println(s"FIXTURES OK (${dirs.size} dirs)")
    else {
      println(s"FIXTURE DRIFT (${drift.size}):")
      drift.foreach(m => println(s"  $m"))
      sys.exit(1)
    }
  }
}
