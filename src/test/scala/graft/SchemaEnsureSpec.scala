package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class SchemaEnsureSpec extends SparkSpec {
  import spark.implicits._

  private val v1 = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val v2 = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType))) // additive evolution

  test("ensure creates an empty typed table once and is idempotent") {
    val dir = tempDir("graft-ddl") + "/t"
    assert(SchemaEnsure.ensure(spark, dir, v1))      // created
    assert(!SchemaEnsure.ensure(spark, dir, v1))     // second run: no-op
    val df = SchemaEnsure.read(spark, dir, v1)
    assert(df.schema == v1 && df.count() == 0)
  }

  test("read through an evolved schema back-fills new columns with typed NULLs") {
    val dir = tempDir("graft-ddl") + "/t"
    SchemaEnsure.ensure(spark, dir, v1)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.mode("append").parquet(dir)
    val evolved = SchemaEnsure.read(spark, dir, v2).orderBy("id").collect()
    assert(evolved.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(evolved.forall(_.isNullAt(2))) // score: declared later, typed NULL
    // dropped-from-declaration column is pruned
    assert(SchemaEnsure.read(spark, dir, StructType(v1.take(1))).columns.toSeq == Seq("id"))
  }

  test("ensure is a no-op on a PARTITIONED table (parts live in subdirectories)") {
    val dir = tempDir("graft-ddl") + "/t"
    Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("id", "name", "day")
      .write.partitionBy("day").parquet(dir)
    // no *.parquet directly under dir — only day=*/part-*.parquet; ensure
    // must still see the table and NOT overwrite it with an empty one
    assert(!SchemaEnsure.ensure(spark, dir, v1))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("conform projects writers onto the declared layout") {
    val messy = Seq(("7", 0.5, "x", 99)).toDF("id", "score", "name", "extra")
    val got = SchemaEnsure.conform(messy, v2)
    assert(got.columns.toSeq == Seq("id", "name", "score"))
    assert(got.schema.fields.map(_.dataType).toSeq == v2.fields.map(_.dataType).toSeq)
    val r: Row = got.head()
    assert(r.getLong(0) == 7L && r.getString(1) == "x" && r.getDouble(2) == 0.5)
    // declared-but-absent column back-fills as typed NULL
    val partial = SchemaEnsure.conform(Seq(Tuple1(1L)).toDF("id"), v2).head()
    assert(partial.isNullAt(1) && partial.isNullAt(2))
  }

  test("retry: transient failures back off and succeed; fatal ones propagate") {
    var calls = 0
    val got = sources.Retry.withBackoff(5, 1L) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("flaky transport")
      "page-1"
    }
    assert(got == "page-1" && calls == 3)
    // exhausting attempts rethrows the transient error
    var n = 0
    intercept[java.io.IOException] {
      sources.Retry.withBackoff(2, 1L) { n += 1; throw new java.io.IOException("down") }
    }
    assert(n == 2)
    // non-transient errors never retry
    var m = 0
    intercept[IllegalArgumentException] {
      sources.Retry.withBackoff(5, 1L) { m += 1; throw new IllegalArgumentException("bug") }
    }
    assert(m == 1)
  }
}
