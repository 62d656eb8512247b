package graft

import org.apache.spark.sql.types.TimestampNTZType

/** Tripwire against driver-side fixture regeneration (r4: ANSI-overflowing
  * values; r5/r6: events.ts NANOS → MICROS). Fails loudly, with the drift
  * spelled out, if `/root/testdata` no longer matches the logical shape the
  * loaders normalize — so a fixture change surfaces as ONE red spec naming
  * the table/column, not 86 identical analysis errors. */
class FixtureDriftSpec extends SparkSpec {

  test("fixture schemas match the expected logical shape (sf0.001)") {
    val drift = FixtureCheck.check(spark, sf)
    assert(drift.isEmpty, s"\nFIXTURE DRIFT:\n${drift.mkString("\n")}")
  }

  test("FixtureCheck actually detects drift (negative case)") {
    // a tripwire that can't fire is decoration: write a deliberately
    // drifted events table (ts as STRING, props dropped, extra column)
    // and assert every drift class is named
    val dir = tempDir("graft_drift")
    try {
      spark.read.parquet(s"$sf/events.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("ts"), "yyyy-MM-dd"))
        .withColumn("surprise", org.apache.spark.sql.functions.lit(1))
        .drop("props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // the other nine tables are absent → unreadable counts as drift too
      val drift = FixtureCheck.check(spark, dir)
      assert(drift.exists(_.contains("events.ts")), drift.mkString("\n"))
      assert(drift.exists(_.contains("`props` is missing")), drift.mkString("\n"))
      assert(drift.exists(_.contains("`surprise`")), drift.mkString("\n"))
      assert(drift.exists(_.contains("unreadable")), drift.mkString("\n"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("embeddings vec_id is unique") {
    // q_dim_corr's map-side moment build equals its oracle's vec_id
    // self-join ONLY while vec_id is unique per row (r15 advice item 2)
    // — duplicate ids would make the two silently diverge instead of
    // failing loudly, so pin the precondition itself
    val e = Tables.embeddings(spark, sf)
    assert(e.count() == e.select("vec_id").distinct().count(),
      "duplicate vec_id rows in the embeddings fixture — q_dim_corr's " +
        "per-row moment build no longer matches its self-join oracle")
  }

  test("raw embeddings fixture has no cosine >= 0.95 pair") {
    // q_modal_dedup_agreement's hash-equality against an exact all-pairs
    // oracle holds only because injected exact copies are the SOLE sim ≥
    // 0.95 families — a fixture regeneration that ships natural near-dups
    // would silently turn that identity gate into a recall-dependent
    // comparison. Gate the precondition itself: exhaustive pair check
    // (n=500 → 125k pairs, trivial at fixture scale).
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf).select(
      col("vec_id"),
      graft.functions.Similarity.asDouble(col("embedding")).as("ed"))
    val hot = e.select(col("vec_id").as("id1"), col("ed").as("e1"))
      .join(e.select(col("vec_id").as("id2"), col("ed").as("e2")),
        col("id1") < col("id2"))
      .where(round(graft.functions.Similarity.dot(col("e1"), col("e2")), 4) >= 0.95)
      .count()
    assert(hot == 0L,
      s"$hot raw fixture pairs at cosine >= 0.95 — q_modal_dedup_agreement's " +
        "identity-oracle precondition no longer holds")
  }

  test("verification embeddings fixtures hold exactly 500 vectors (adaptiveBits pin)") {
    // The q_knn_graph_adaptive / q_knn_degree_adaptive / q_knn_label_purity
    // oracles hardcode adaptiveBits(500): the SQL CTE bakes in the band
    // width the Spark build derives from the live row count. If a fixture
    // regeneration changed the embedding count, the Spark side would
    // silently build a different signature width and the parity check
    // would fail as an opaque hash mismatch. Fail HERE with the real
    // cause instead, for both the spec fixture (sf0.001) and the driver's
    // verification fixture (sf0.01).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val n = Tables.embeddings(spark, dir).count()
      assert(n == 500L,
        s"$dir/embeddings.parquet has $n rows, not the 500 the " +
          "adaptive-kNN oracles pin via adaptiveBits(500) — regenerate the " +
          "oracle SQL (Similarity.scala knnAdaptiveOracleSql call sites) " +
          "to match the new count")
    }
  }

  test("Tables.events normalizes real fixture ts to timestamp_ntz") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampNTZType)
    // and analysis+execution actually work on the real file — this is the
    // exact surface that silently broke for two rounds
    val n = ev.filter(ev.col("ts").isNotNull).count()
    assert(n > 0L, "events fixture has no non-null ts rows")
    // both the min and max must land in the documented 2024 range — a
    // unit-confusion bug (ns read as µs) would throw the dates off by ~50k×
    val mm = ev.selectExpr("min(ts)", "max(ts)").head()
    val (lo, hi) =
      (mm.getAs[java.time.LocalDateTime](0), mm.getAs[java.time.LocalDateTime](1))
    assert(lo.getYear >= 2020 && hi.getYear <= 2030,
      s"events ts range [$lo, $hi] outside plausible fixture epoch")
  }
}
