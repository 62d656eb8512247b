package graft

import org.apache.hadoop.fs.Path

class AtomicPublishSpec extends SparkSpec {
  import spark.implicits._

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("overwrite keeps a readable table through crash points, incl. recovery runs") {
    val dir = tempDir("graft-pub") + "/t"
    val hfs = fs(dir)
    AtomicPublish.overwrite(Seq(1, 2).toDF("x"), dir)
    assert(AtomicPublish.readIfExists(spark, dir).get.count() == 2)

    // simulate crash between target→bak and tmp→target through the same
    // Hadoop FileSystem API the publisher uses: only .bak exists
    assert(hfs.rename(new Path(dir), new Path(dir + ".bak")))
    assert(AtomicPublish.readIfExists(spark, dir).get.count() == 2) // bak fallback

    // recovery run must publish the new table BEFORE deleting the backup;
    // afterwards target exists, bak is gone
    AtomicPublish.overwrite(Seq(1, 2, 3).toDF("x"), dir)
    assert(hfs.exists(new Path(dir)) && !hfs.exists(new Path(dir + ".bak")))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("readIfExists: absent path and parquet-less directory both yield None") {
    val base = tempDir("graft-pub")
    assert(AtomicPublish.readIfExists(spark, base + "/missing").isEmpty)
    val empty = base + "/empty"
    fs(empty).mkdirs(new Path(empty)) // exists, but holds no parquet parts
    assert(AtomicPublish.readIfExists(spark, empty).isEmpty)
  }

  test("a stale tmp dir from a crashed write does not poison the next publish") {
    val dir = tempDir("graft-pub") + "/t"
    val hfs = fs(dir)
    hfs.mkdirs(new Path(dir + ".tmp")) // leftover from a crash mid-write
    AtomicPublish.overwrite(Seq(4, 5).toDF("x"), dir)
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(!hfs.exists(new Path(dir + ".tmp")))
  }
}
