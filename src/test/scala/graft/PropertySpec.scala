package graft

import graft.operators.CoreQueries
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5 property tests: dedup idempotence, upsert replay safety,
  * status trichotomy — ScalaCheck generators sampled over fixed seeds
  * (each case runs Spark jobs, so a handful of seeded samples beats
  * hundreds of tiny ones). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Int, String)]] =
    Gen.listOfN(30, for {
      k <- Gen.choose(0L, 5L)
      v <- Gen.choose(0, 100)
      tag <- Gen.oneOf("a", "b", "c")
    } yield (k, v, tag))

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("dedup idempotence: dedup(dedup(x)) == dedup(x), one row per key") {
    for (rows <- samples(rowsGen, 5) if rows.nonEmpty) {
      val df = rows.toDF("k", "v", "tag")
      val order = Seq(col("v").desc, col("tag").desc)
      val once = CoreQueries.latestWins(df, Seq("k"), order)
        .orderBy("k", "v", "tag").collect().toSeq
      val twice = CoreQueries.latestWins(
        CoreQueries.latestWins(df, Seq("k"), order), Seq("k"), order)
        .orderBy("k", "v", "tag").collect().toSeq
      assert(once == twice)
      assert(once.map(_.getLong(0)).distinct.size == once.size)
    }
  }

  test("upsert replay is a no-op and update rows always win") {
    for ((t, u) <- samples(Gen.zip(rowsGen, rowsGen), 5)) {
      val order = Seq(col("v").desc, col("tag").desc)
      val target = CoreQueries.latestWins(t.toDF("k", "v", "tag"), Seq("k"), order)
      val updates = CoreQueries.latestWins(u.toDF("k", "v", "tag"), Seq("k"), order)
      val once = CoreQueries.upsert(target, updates, Seq("k"))
        .orderBy("k", "v", "tag").collect().toSeq
      val replay = CoreQueries.upsert(
        CoreQueries.upsert(target, updates, Seq("k")), updates, Seq("k"))
        .orderBy("k", "v", "tag").collect().toSeq
      assert(once == replay)
      val updMap = updates.collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
      once.foreach { r =>
        updMap.get(r.getLong(0)).foreach { upd =>
          assert((r.getInt(1), r.getString(2)) == upd)
        }
      }
    }
  }

  test("one-window merge: an ordered upsert equals the upsert of the deduped batch") {
    val keys = Seq("k")
    val order = Seq(col("v").desc, col("tag").desc)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.orderBy("k", "v", "tag").collect().toSeq
    for (((t, u), i) <- samples(Gen.zip(rowsGen, rowsGen), 5).zipWithIndex) {
      // 30 rows over 6 keys: every batch holds several versions of a key
      assert(u.groupBy(_._1).values.exists(_.size > 1))
      val target = CoreQueries.latestWins(t.toDF("k", "v", "tag"), keys, order)
      val updates = u.toDF("k", "v", "tag")
      val deduped = CoreQueries.latestWins(updates, keys, order)
      assert(sorted(CoreQueries.upsert(target, updates, keys, order)) ==
        sorted(CoreQueries.upsert(target, deduped, keys)), s"sample $i")
      // no target: the batch deduped by the same order
      assert(sorted(CoreQueries.upsertInto(None, updates, keys, order)) == sorted(deduped),
        s"sample $i")
      val dir = tempDir("graft-prop-upsert") + "/tgt"
      AtomicPublish.upsert(updates, dir, keys, order)
      assert(sorted(spark.read.parquet(dir)) == sorted(deduped), s"sample $i")
    }
  }

  test("status trichotomy: every (start, end) maps to exactly one disposition") {
    val pairGen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 100L), Gen.option(Gen.choose(0L, 100L))))
    for (pairs <- samples(pairGen, 5) if pairs.nonEmpty) {
      val now = expr("TIMESTAMP_NTZ '2024-01-01 00:00:50'")
      val base = expr("TIMESTAMP_NTZ '2024-01-01 00:00:00'")
      val df = pairs.toDF("s_off", "e_off").select(
        (base + expr("make_interval(0, 0, 0, 0, 0, 0, s_off)")).as("s"),
        when(col("e_off").isNotNull,
          base + expr("make_interval(0, 0, 0, 0, 0, 0, e_off)")).as("e"))
      val got = df.select(col("s"), col("e"),
        CoreQueries.statusOf(col("s"), col("e"), now).as("st")).collect()
      val nowT = java.time.LocalDateTime.parse("2024-01-01T00:00:50")
      got.foreach { r =>
        val s = r.getAs[java.time.LocalDateTime]("s")
        val e = Option(r.getAs[java.time.LocalDateTime]("e"))
        val expected =
          if (s.isAfter(nowT)) "KOMMANDE"
          else if (e.isEmpty || e.get.isAfter(nowT)) "PÅGÅR"
          else null
        assert(r.getAs[String]("st") == expected, s"s=$s e=$e")
      }
    }
  }

  test("as-of joins match a brute-force reference on generated event/version sets") {
    import graft.operators.AsofJoin
    val evGen: Gen[(List[(Long, Int)], List[(Long, Int, String)])] = for {
      left <- Gen.listOfN(25, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0, 50)))
      right0 <- Gen.listOfN(10, for {
        k <- Gen.choose(0L, 3L); t <- Gen.choose(0, 50)
        p <- Gen.oneOf("x", "y", "z")
      } yield (k, t, p))
    } yield (left, right0.distinctBy(r => (r._1, r._2))) // unique (key, ts)
    for (((left, right), i) <- samples(evGen, 6).zipWithIndex if right.nonEmpty) {
      val l = left.zipWithIndex
        .map { case ((k, t), id) => (id.toLong, k, t) }
      val lDf = l.toDF("id", "k", "t")
        .select(col("id"), col("k"),
          expr("timestamp_micros(CAST(t AS BIGINT) * 1000000)").as("ts"))
      val rDf = right.toDF("k", "vt", "p")
        .select(col("k"),
          expr("timestamp_micros(CAST(vt AS BIGINT) * 1000000)").as("v_ts"),
          col("p"))
      def brute(cmp: (Int, Int) => Boolean, pick: Seq[(Long, Int, String)] => Option[String])
          (k: Long, t: Int): Option[String] =
        pick(right.filter(r => r._1 == k && cmp(r._2, t)))
      val backExpect = l.map { case (id, k, t) =>
        id -> brute((vt, t0) => vt <= t0,
          rs => if (rs.isEmpty) None else Some(rs.maxBy(_._2)._3))(k, t)
      }.toMap
      val fwdExpect = l.map { case (id, k, t) =>
        id -> brute((vt, t0) => vt >= t0,
          rs => if (rs.isEmpty) None else Some(rs.minBy(_._2)._3))(k, t)
      }.toMap
      val back = AsofJoin.asofJoin(lDf, rDf, Seq("k"), "ts", "v_ts", Seq("p"))
        .select("id", "p").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val fwd = AsofJoin.asofJoinForward(lDf, rDf, Seq("k"), "ts", "v_ts", Seq("p"))
        .select("id", "p").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(back == backExpect, s"sample $i backward")
      assert(fwd == fwdExpect, s"sample $i forward")
    }
  }
}
