package graft

import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft-snapshots") + "/t"

  test("publish increments versions; latest and pinned reads see the right data") {
    val root = freshRoot()
    assert(Snapshots.versions(spark, root).isEmpty)
    val v1 = Snapshots.publish(Seq(1, 2, 3).toDF("x"), root)
    val v2 = Snapshots.publish(Seq(4, 5).toDF("x"), root)
    assert((v1, v2) == (1L, 2L))
    assert(Snapshots.latestVersion(spark, root).contains(2L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().sorted.toSeq == Seq(4, 5))
    // time travel: v1 is still exactly what was published
    assert(Snapshots.readVersion(spark, root, 1).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("a new snapshot may be derived from the one it supersedes") {
    val root = freshRoot()
    Snapshots.publish(Seq(10, 20).toDF("x"), root)
    val derived = Snapshots.readLatest(spark, root)
      .withColumn("x", col("x") + 1)
    val v2 = Snapshots.publish(derived, root)
    assert(v2 == 2L)
    assert(Snapshots.readLatest(spark, root).as[Int].collect().sorted.toSeq == Seq(11, 21))
  }

  test("crash between version commit and pointer flip: orphan is superseded, not resurrected") {
    val root = freshRoot()
    Snapshots.publish(Seq(1).toDF("x"), root)
    // simulate the torn publish: a complete v_00002 exists but _latest
    // still says 1
    Seq(99).toDF("x").write.parquet(s"$root/v_00002")
    assert(Snapshots.latestVersion(spark, root).contains(1L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(1))
    // the next publish must NOT reuse or clobber the orphan's number
    val v3 = Snapshots.publish(Seq(7).toDF("x"), root)
    assert(v3 == 3L)
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(7))
    assert(Snapshots.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("crash-leftover .tmp and .claim artifacts never break or resurrect anything") {
    val root = freshRoot()
    Snapshots.publish(Seq(1).toDF("x"), root)
    // simulate a publisher that died mid-write (tmp) and one that died
    // right after claiming (claim)
    Seq(99).toDF("x").write.parquet(s"$root/v_00002.tmp")
    val (fs, _) = AtomicPublish.fsFor(spark, root)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/v_00003.claim"), false).close()
    assert(Snapshots.versions(spark, root) == Seq(1L))
    assert(Snapshots.latestVersion(spark, root).contains(1L))
    // next publish skips the claimed number and commits cleanly
    val v = Snapshots.publish(Seq(7).toDF("x"), root)
    assert(v == 4L)
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(7))
  }

  test("schema evolution across versions: old snapshots read through the new declaration") {
    import org.apache.spark.sql.types._
    val root = freshRoot()
    Snapshots.publish(Seq((1L, "a")).toDF("id", "name"), root)
    // the declaration grows a column; new versions carry it, old ones
    // must read back with typed NULLs — pinned reproducible reads can't
    // break just because the table evolved
    val v2Schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    Snapshots.publish(
      SchemaEnsure.conform(Seq((2L, "b", 0.5)).toDF("id", "name", "score"), v2Schema),
      root)
    val old = SchemaEnsure.read(spark, s"$root/v_00001", v2Schema)
    assert(old.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    val r = old.collect()(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "a" && r.isNullAt(2))
    val latest = Snapshots.readLatest(spark, root).collect()(0)
    assert(latest.getDouble(2) == 0.5)
  }

  test("legacy one-line _latest pointer files still resolve (and reserve their target)") {
    val root = freshRoot()
    Seq(1).toDF("x").write.parquet(s"$root/v_00001")
    Seq(2).toDF("x").write.parquet(s"$root/v_00002")
    val (fs, _) = AtomicPublish.fsFor(spark, root)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/_latest"), true)
    out.write("2".getBytes("UTF-8")); out.close()
    assert(Snapshots.latestVersion(spark, root).contains(2L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(2))
    // expire must protect the legacy pointer's target
    assert(Snapshots.expire(spark, root, keep = 1) == Seq(1L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(2))
    // the next publish supersedes the legacy pointer with a marker
    val v = Snapshots.publish(Seq(3).toDF("x"), root)
    assert(v == 3L && Snapshots.latestVersion(spark, root).contains(3L))
  }

  test("expire keeps the newest versions and never the current pointer target") {
    val root = freshRoot()
    (1 to 4).foreach(i => Snapshots.publish(Seq(i).toDF("x"), root))
    val removed = Snapshots.expire(spark, root, keep = 2)
    assert(removed == Seq(1L, 2L))
    assert(Snapshots.versions(spark, root) == Seq(3L, 4L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(4))
    // keep=1 still refuses to delete what _latest points at
    val removed2 = Snapshots.expire(spark, root, keep = 1)
    assert(removed2 == Seq(3L))
    assert(Snapshots.readLatest(spark, root).as[Int].collect().toSeq == Seq(4))
  }
}
