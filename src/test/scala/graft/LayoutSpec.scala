package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // a crashed previous run can leave the managed location without the
    // catalog entry — remove it too
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"spark-warehouse/$name"))
  }

  test("bucketed co-keyed join runs with zero Exchange in the plan") {
    dropTable("ev_bucketed_a")
    dropTable("ev_bucketed_b")
    val ev = Tables.events(spark, sf)
    Layout.writeBucketed(ev.select("event_id", "user_id", "value"),
      "ev_bucketed_a", 8, Seq("user_id"))
    Layout.writeBucketed(ev.select("user_id", "event_type"),
      "ev_bucketed_b", 8, Seq("user_id"))
    // at fixture size the planner rightly prefers broadcast; disable it
    // to surface the bucketed sort-merge path a large-large join would use
    SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("ev_bucketed_a")
        .join(spark.table("ev_bucketed_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scan:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("bucketed aggregation on the bucket key also skips the shuffle") {
    val agg = spark.table("ev_bucketed_a").groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
    assert(agg.count() == 15)
  }

  test("daily partitioning prunes directories via PartitionFilters") {
    val dir = tempDir("graft-layout") + "/ev"
    Layout.writeDailyPartitioned(Tables.events(spark, sf), "ts", dir)
    val narrow = Layout.readDays(spark, dir, "2024-01-10", "2024-01-12")
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_date"),
      s"expected partition filters:\n$plan")
    // row counts agree with the unpartitioned range filter
    val expected = Tables.events(spark, sf)
      .where(col("ts") >= lit("2024-01-10").cast("timestamp_ntz")
        && col("ts") < lit("2024-01-12").cast("timestamp_ntz")).count()
    assert(narrow.count() == expected)
  }

  test("interleave_bits: known Morton codes and bit-layout invariants") {
    import functions.ZOrder
    // hand-computed: x=3 (bits 11), y=5 (bits 101) → z = 101011₂... laid
    // out x0@0 y0@1 x1@2 y1@3 x2@4 y2@5 = 1+2+4+0+0+32 = 39
    assert(ZOrder.morton(3, 5) == 39L)
    assert(ZOrder.morton(0, 0) == 0L)
    assert(ZOrder.morton(1, 0) == 1L)
    assert(ZOrder.morton(0, 1) == 2L)
    assert(ZOrder.morton(Int.MaxValue, Int.MaxValue) == 0x3fffffffffffffffL)
    // quadrant monotonicity: doubling the grid cell of both coordinates
    // can only raise the key (prefix property of the interleave)
    for (x <- 0 to 16; y <- 0 to 16)
      assert(ZOrder.morton(x, y) < ZOrder.morton(x + 17, y + 17))
  }

  test("interleave_bits: negative input yields NULL, codegen matches eval") {
    import spark.implicits._
    val df = Seq((3, 5), (-1, 5), (5, -1), (7, 11)).toDF("x", "y")
      .select(functions.ZOrder.interleaveBits(col("x"), col("y")).as("z"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(39L), None, None,
      Some(functions.ZOrder.morton(7, 11))))
  }

  test("z-ordered write clusters both dimensions: a 2-D box touches few z-runs") {
    import spark.implicits._
    // 64×64 grid, one point per cell, written z-ordered. An 8×8 box query
    // over a row-major sort touches 8 widely-spaced runs of 8; over the
    // z-order it touches O(box) contiguous key space. Measure run count
    // of matching rows in file order.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x, y)).toDF("x", "y")
    val dir = tempDir("graft-z")
    Layout.writeZOrdered(grid, "x", "y", s"$dir/z")
    grid.orderBy("x", "y").write.parquet(s"$dir/rowmajor")
    def runs(path: String): Long = {
      val rows = spark.read.parquet(path)
        .select(monotonically_increasing_id().as("pos"), col("x"), col("y"))
        .where(col("x").between(24, 31) && col("y").between(24, 31))
        .orderBy("pos").select("pos").as[Long].collect()
      1L + rows.toSeq.sliding(2).count { case Seq(a, b) => b != a + 1; case _ => false }
    }
    val zRuns = runs(s"$dir/z")
    val rmRuns = runs(s"$dir/rowmajor")
    // row-major: 8 separated stripes; z-order: the 8×8 box at a 8-aligned
    // corner is ONE contiguous z-range
    assert(zRuns < rmRuns, s"z=$zRuns rowmajor=$rmRuns")
    assert(zRuns <= 4, s"expected near-contiguous z-range, got $zRuns runs")
  }

  test("compact: bin-packs a fragmented table atomically, content unchanged") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-compact") + "/t"
    // a streaming-sink-shaped mess: 32 tiny files
    spark.range(10000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(32).write.parquet(dir)
    val beforeSum = spark.read.parquet(dir).agg(sum("v")).head().getLong(0)
    val (before, after) = operators.Layout.compact(spark, dir, targetBytes = 1L << 20)
    assert(before == 32, s"expected the fragmented layout, saw $before files")
    assert(after < before && after <= 2, s"compaction left $after files")
    // content identical, and no leftover .tmp/.bak from the atomic swap
    assert(spark.read.parquet(dir).agg(sum("v")).head().getLong(0) == beforeSum)
    assert(spark.read.parquet(dir).count() == 10000)
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(n => n.endsWith(".tmp") || n.endsWith(".bak")),
      s"swap debris left behind: ${parent.mkString(",")}")
  }
}
