package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming windowed profiles == batch aggregation of the same data —
  * the incremental-maintenance guarantee the commutative/associative
  * moment merge buys (SURVEY.md §2.11). Out-of-order delivery across
  * micro-batches exercises state merge, not just append. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed moments over MemoryStream equal batch computation") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "key", "value")
    val agg = StreamingProfile.windowedMoments(
      df, "ts", "key", "value", "10 minutes", "5 minutes")

    val q = agg.writeStream.format("memory")
      .queryName("stream_moments_test").outputMode("complete").start()
    try {
      // batch 1: in-order
      input.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "a", 10.0))
      q.processAllAvailable()
      // batch 2: late + second key — merges into existing window state
      input.addData((ts(3), "a", 3.0), (ts(14), "b", 7.0), (ts(4), "b", 4.0))
      q.processAllAvailable()

      val got = spark.table("stream_moments_test")
        .orderBy("window_start", "key")
        .select("key", "n", "mean", "var_pop", "min", "max")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq

      val all = Seq(
        (ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(11), "a", 10.0),
        (ts(3), "a", 3.0), (ts(14), "b", 7.0), (ts(4), "b", 4.0))
      val want = all.groupBy(t => (t._1.getTime / 600000, t._2)).toSeq
        .sortBy(_._1)
        .map { case ((_, k), rows) =>
          val vs = rows.map(_._3)
          val mean = vs.sum / vs.size
          val varPop = vs.map(v => (v - mean) * (v - mean)).sum / vs.size
          (k, vs.size.toLong, mean, varPop, vs.min, vs.max)
        }
      assert(got.size == want.size)
      got.zip(want).foreach { case (g, w) =>
        assert(g._1 == w._1 && g._2 == w._2)
        assert(math.abs(g._3 - w._3) < 1e-9)
        assert(math.abs(g._4 - w._4) < 1e-9)
        assert(g._5 == w._5 && g._6 == w._6)
      }
    } finally q.stop()
  }

  test("windowedMoments append mode with watermark emits finalized windows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingProfile.windowedMoments(
      input.toDF().toDF("ts", "key", "value"),
      "ts", "key", "value", "10 minutes", "1 minutes")
    val q = agg.writeStream.format("memory")
      .queryName("stream_append_test").outputMode("append").start()
    try {
      input.addData((ts(1), "a", 1.0), (ts(5), "a", 5.0))
      q.processAllAvailable()
      // advance watermark far past the first window -> it finalizes
      input.addData((ts(59), "a", 9.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 12:00:00"), "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("stream_append_test").collect()
      assert(rows.exists(r => r.getAs[Long]("n") == 2L),
        "first window should have been finalized with both events")
    } finally q.stop()
  }

  test("watermark-bounded dedup: dups inside the delay drop, state evicts past it") {
    // The q41 operator's actual contract, under controlled batches:
    // a key's state lives until watermark > firstEventTime + delay;
    // duplicates inside that horizon are dropped, and the same key
    // arriving after eviction is re-emitted (bounded state means
    // bounded memory, not forever-dedup).
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("sec", "key")
      .withColumn("ets", timestamp_seconds(col("sec")))
      .withWatermark("ets", "100 seconds")
      .dropDuplicatesWithinWatermark("key")
    val q = df.writeStream.format("memory")
      .queryName("wm_dedup_test").outputMode("append").start()
    try {
      // batch 1: first "a" at t=1000 (state expires once wm > 1100)
      input.addData((1000L, "a"), (1010L, "a"), (1000L, "b"))
      q.processAllAvailable()
      // batch 2: wm = 1010-100 = 910; dup "a" within horizon -> dropped
      input.addData((1050L, "a"), (1150L, "c"))
      q.processAllAvailable()
      // batch 3: wm = 1150-100 = 1050 < 1100, "a" still held -> dropped
      input.addData((1090L, "a"), (1300L, "d"))
      q.processAllAvailable()
      // batch 4: wm = 1300-100 = 1200 > 1100 -> "a" state evicted;
      // a fresh "a" re-emits
      input.addData((1400L, "a"))
      q.processAllAvailable()

      val got = spark.table("wm_dedup_test")
        .select("sec", "key").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1000L, "a"), (1000L, "b"), (1150L, "c"),
        (1300L, "d"), (1400L, "a")),
        s"unexpected emissions: $got")
    } finally q.stop()
  }

  test("q105: stream quantile sketch matches batch windows, ranks in bound") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.ExtendedQueries.streamQuantiles(spark, sfDir).collect()
    assert(got.nonEmpty)
    // every window's sketch quantile passed the exact-rank gate
    assert(got.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      got.filterNot(r => r.getBoolean(3) && r.getBoolean(4)).mkString(";"))
    // windows and counts equal the batch grouping exactly
    val ev = graft.queries.QueryUtil.table(spark, sfDir, "events")
    val batch = ev.groupBy(
        graft.queries.QueryUtil.eventHourEpoch(ev).as("h"), col("event_type"))
      .agg(count(col("value")).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      == batch)
  }
}
