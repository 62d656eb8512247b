package graft

import graft.streaming.TopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("fold: deterministic eviction, total conservation, exact below capacity") {
    val s1 = TopK.fold(TopK.Summary(Nil, 0L), Seq(1L, 1L, 2L, 3L), capacity = 8)
    assert(s1.total == 4)
    assert(s1.counters.map(c => c.item -> (c.est, c.err)).toMap ==
      Map(1L -> (2L, 0L), 2L -> (1L, 0L), 3L -> (1L, 0L)))
    // force eviction: capacity 2, min (est, item) counter is evicted and
    // its estimate is inherited as the newcomer's error
    val s2 = TopK.fold(TopK.Summary(Nil, 0L), Seq(1L, 1L, 2L, 9L), capacity = 2)
    val byItem = s2.counters.map(c => c.item -> c).toMap
    assert(!byItem.contains(2L) && byItem(9L).est == 2L && byItem(9L).err == 1L)
    assert(s2.total == 4)
  }

  test("batch parity: capacity >= distinct items equals the exact group count") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type").as("group"), col("user_id").as("item"))
      .as[TopK.Item]
    val exact = ev.groupBy("group", "item").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val hh = TopK.heavyHitters(ev, capacity = 1000).collect()
    assert(hh.nonEmpty)
    for (h <- hh) {
      assert(h.est == exact((h.group, h.item)), s"${h.group}/${h.item}")
      assert(h.err == 0L)
    }
    assert(hh.length == exact.size, "capacity >= distinct must monitor every item")
  }

  test("space-saving bounds hold across micro-batches under eviction") {
    val dir = tempDir("graft-topk")
    val (src, chk) = (s"$dir/src", s"$dir/chk")
    val capacity = 8

    // skewed stream: item i in group g appears ~ i² times, split into
    // three files run as three micro-batches so state crosses batches
    val rnd = new scala.util.Random(7)
    val all = for {
      g <- Seq("a", "b")
      i <- 1 to 20
      _ <- 1 to i * i / 2 + 1
    } yield (g, i.toLong, rnd.nextInt(3))
    val latest = scala.collection.mutable.Map[(String, Long), TopK.HeavyHitter]()
    for (b <- 0 to 2) {
      // drip one more file into the SAME source dir per run — the shared
      // checkpoint makes each run a fresh micro-batch over the new file
      all.filter(_._3 == b).map(t => (t._1, t._2)).toDF("group", "item")
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema("group STRING, item LONG").parquet(src)
        .as[TopK.Item]
      val q = TopK.heavyHitters(stream, capacity)
        .writeStream.outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[TopK.HeavyHitter], _: Long) =>
          df.collect().foreach(h => latest((h.group, h.item)) = h)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val trueCounts = all.groupBy(t => (t._1, t._2)).view.mapValues(_.size.toLong).toMap
    val perGroupN = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // the final emission for each group carries the full summary; check
    // bounds against true frequencies
    val finalRows = latest.values.groupBy(_.group).map { case (g, rows) =>
      val maxTotal = rows.map(_.stream_total).max
      g -> rows.filter(_.stream_total == maxTotal)
    }
    for ((g, rows) <- finalRows) {
      assert(rows.nonEmpty && rows.size <= capacity)
      for (h <- rows) {
        val truth = trueCounts((g, h.item))
        assert(h.est >= truth, s"undercount $g/${h.item}: ${h.est} < $truth")
        assert(h.est - h.err <= truth,
          s"overcount beyond error bound $g/${h.item}")
      }
      // coverage: anything heavier than N/capacity must be monitored
      val monitored = rows.map(_.item).toSet
      for ((item, n) <- trueCounts if item._1 == g && n > perGroupN(g) / capacity)
        assert(monitored.contains(item._2),
          s"heavy item $item (n=$n > ${perGroupN(g)}/$capacity) unmonitored")
    }
  }
}
