package graft

import graft.operators.{GlobalOrder, Loop}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed global-ordering primitive must reproduce the
  * single-partition window semantics exactly — on ragged sizes, ties in
  * the value column (broken by the unique key), and n < k. */
class GlobalOrderSpec extends ReleasesPins {
  import spark.implicits._

  test("withGlobalRowNumber equals the single-partition row_number window") {
    for (n <- Seq(0, 1, 3, 97, 1000)) {
      val df = spark.range(n.toLong).select(col("id"),
        (col("id") * 2654435761L % 101).as("v")) // many ties
      val got = GlobalOrder.withGlobalRowNumber(
          df, Seq(col("v").desc, col("id").asc), "pos")
        .select("id", "pos")
      val want = df.select(col("id"),
        row_number().over(Window.orderBy(col("v").desc, col("id").asc))
          .cast("long").as("pos"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"n=$n")
    }
  }

  test("ntileFrom matches ntile() for every (n, k) shape incl. n < k") {
    for (n <- Seq(1, 2, 3, 4, 5, 7, 8, 97, 400); k <- Seq(1, 2, 3, 4, 10)) {
      val df = spark.range(n.toLong).toDF("id")
      val got = df
        .select(col("id"), GlobalOrder.ntileFrom(
          col("id") + 1, lit(n.toLong), k).as("t"))
      val want = df.select(col("id"),
        ntile(k).over(Window.orderBy("id")).as("t"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"n=$n k=$k")
    }
  }

  test("withRunningTotal equals the single-partition cumulative-sum window") {
    for (n <- Seq(0, 1, 3, 97, 1000)) {
      val df = spark.range(n.toLong).select(col("id"),
        (col("id") * 2654435761L % 101).as("v"), // many order ties
        (col("id") % 13 + 1).as("w"))
      val got = GlobalOrder.withRunningTotal(
          df, Seq(col("v").desc, col("id").asc), col("w"), "cum")
        .select("id", "cum")
      val want = df.select(col("id"),
        sum("w").over(Window.orderBy(col("v").desc, col("id").asc)
          .rowsBetween(Window.unboundedPreceding, 0)).cast("long").as("cum"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"n=$n")
    }
  }

  test("release() leaves no pinned blocks after a GlobalOrder query completes") {
    // the ranked projection is persisted for cross-job boundary
    // consistency; after the consuming action the harness must be able
    // to drop it — otherwise a 300+-query session accumulates unbounded
    // MEMORY_AND_DISK blocks (the round-8 lesson: pinned blocks starve
    // hash-agg execution memory at scale)
    GlobalOrder.release() // clean slate in case earlier tests pinned
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = spark.range(5000).select(col("id"),
      (col("id") * 2654435761L % 101).as("v"))
    val out = GlobalOrder.withRunningTotal(
      GlobalOrder.withGlobalRowNumber(df, Seq(col("v").asc, col("id").asc), "pos"),
      Seq(col("v").asc, col("id").asc), col("pos"), "cum")
    out.count() // the consuming action — blocks are pinned while it runs
    val pinnedNow = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinnedNow.nonEmpty, "expected the ranked projections to be cached")
    GlobalOrder.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"${after.size} GlobalOrder block(s) still pinned after release()")
    // idempotent on an empty registry
    GlobalOrder.release()
  }

  test("scoped handles: releasing one caller's pins leaves the other's cached") {
    // nested scopes, each with its own ranked projection: the inner
    // scope's release must not unpersist the outer scope's projection
    // (the process-global release() trap scopes exist to close), and the
    // default-handle release() must not reach scoped pins at all
    GlobalOrder.release()
    def persistent() = spark.sparkContext.getPersistentRDDs.keySet
    val base = persistent()
    // distinct inputs per scope: Spark's CacheManager dedups persist()
    // by logical plan, so identical frames would share one cache entry
    // regardless of any handle discipline
    def ranked(n: Long) = {
      val df = spark.range(n).select(col("id"),
        (col("id") * 2654435761L % 101).as("v"))
      GlobalOrder.withGlobalRowNumber(
        df, Seq(col("v").asc, col("id").asc), "pos")
    }
    val outA = Loop.scoped {
      val outA = ranked(3000); outA.count()
      val afterA = persistent() -- base
      val bOnly = Loop.scoped {
        val outB = ranked(4000); outB.count()
        val bOnly = persistent() -- base -- afterA
        assert(afterA.nonEmpty && bOnly.nonEmpty,
          "expected each scope to pin its own projection")
        // the default-handle release must not touch either scope's pins
        GlobalOrder.release(blocking = true)
        assert((persistent() -- base) == afterA ++ bOnly)
        bOnly
      }
      val left = persistent() -- base
      assert((left & bOnly).isEmpty, "the inner scope's pins survived its release")
      assert(afterA.subsetOf(left),
        "the inner scope's release unpersisted the outer scope's projection")
      assert(outA.count() == 3000) // A's frame still valid, no recompute race
      outA
    }
    assert((persistent() -- base).isEmpty, "the outer scope's pins survived its release")
    assert(outA.count() == 3000) // released frames re-derive correctly
  }

  test("withGlobalNtile equals the global ntile window under a total order") {
    val df = spark.range(500).select(col("id"),
      (col("id") * 1103515245L % 37).as("v"))
    val got = GlobalOrder.withGlobalNtile(
        df, Seq(col("v").asc, col("id").asc), 4, "q")
      .select("id", "q")
    val want = df.select(col("id"),
      ntile(4).over(Window.orderBy(col("v").asc, col("id").asc)).as("q"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("withGlobalNtiles matches one ntile window per dimension in one pass") {
    // three dimensions with heavy value ties (the boundary-key formula
    // must disambiguate through the tiebreak), one descending via key
    // negation — the q_rfm shape
    val df = spark.range(997).select(col("id"),
      (col("id") * 1103515245L % 37).as("a"),
      (col("id") * 2654435761L % 11).as("b"),
      (col("id") * 40503L % 5).as("c"))
    val got = GlobalOrder.withGlobalNtiles(df,
        Seq((col("a"), "qa"), (-col("b"), "qb"), (col("c"), "qc")),
        col("id"), 4)
      .select("id", "qa", "qb", "qc")
    val want = df.select(col("id"),
      ntile(4).over(Window.orderBy(col("a").asc, col("id").asc)).as("qa"),
      ntile(4).over(Window.orderBy(col("b").desc, col("id").asc)).as("qb"),
      ntile(4).over(Window.orderBy(col("c").asc, col("id").asc)).as("qc"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("withGlobalNtiles handles n < k (one-row-per-tile edge case)") {
    val df = spark.range(2).select(col("id"), (col("id") * 7L).as("v"))
    val got = GlobalOrder.withGlobalNtiles(df,
        Seq((col("v"), "q")), col("id"), 4)
      .select("id", "q")
    val want = df.select(col("id"),
      ntile(4).over(Window.orderBy(col("v").asc, col("id").asc)).as("q"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("withGlobalNtiles fails loudly on a null sort key instead of mis-tiling") {
    val df = spark.range(8).select(col("id"),
      when(col("id") === 3, lit(null).cast("long"))
        .otherwise(col("id") * 7L).as("v"))
    val e = intercept[Exception] {
      GlobalOrder.withGlobalNtiles(df, Seq((col("v"), "q")), col("id"), 4)
        .count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("non-null"),
      s"null-key failure does not explain the contract:\n$msgs")
  }
}
