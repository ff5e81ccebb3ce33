package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import scala.util.Random

/** Space-Saving batch Aggregator: exact-regime equality with plain
  * groupBy counts, overflow-regime guarantees (heavy hitters present,
  * counts within [true, true + err]), and merge-order robustness. */
class TopKAggregateSpec extends SparkSpec {

  private def trueCounts(xs: Seq[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (v, g) => v -> g.size.toLong }

  test("exact regime: capacity above the domain reproduces exact counts, err 0") {
    val s = spark
    import s.implicits._
    val rnd = new Random(11)
    val xs = Seq.fill(8000)(s"v${rnd.nextInt(50)}")
    val agg = udaf(TopKAggregate.topKAgg(10, 256), Encoders.STRING)
    val got = xs.toDF("x").agg(agg(col("x")).as("top"))
      .select(explode(col("top")).as("e"))
      .select("e.value", "e.cnt", "e.err", "e.rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val want = trueCounts(xs).toSeq.sortBy { case (v, c) => (-c, v) }
      .take(10).zipWithIndex
      .map { case ((v, c), i) => (v, c, 0L, i + 1) }
    assert(got.toSeq == want)
  }

  test("overflow regime: heavy hitters survive, counts within [true, true+err]") {
    val rnd = new Random(12)
    // zipfy stream: a few heavy values + a long tail, capacity 16 << 200 distinct
    val xs = Seq.fill(5000)(
      if (rnd.nextInt(10) < 6) s"hot${rnd.nextInt(4)}" else s"tail${rnd.nextInt(200)}")
    val capacity = 16
    val truth = trueCounts(xs)
    val n = xs.size.toLong
    // drive the sketch through reduce+merge exactly as Spark would:
    // partition the stream, sketch each partition, merge
    val parts = xs.grouped(617).toSeq
    val sketches = parts.map(p => p.foldLeft(Map.empty: TopKAggregate.Counters) {
      (s, v) => TopKAggregate.updateSketch(s, v, 1L, capacity)
    })
    val merged = sketches.reduce(TopKAggregate.mergeSketches(_, _, capacity))
    assert(merged.size <= capacity)
    // any value with true freq > N/capacity must be present
    truth.filter { case (_, c) => c > n / capacity }.keys.foreach { hot =>
      assert(merged.contains(hot), s"heavy hitter $hot evicted")
    }
    // reported counts bound the truth: true <= cnt <= true + err
    merged.foreach { case (v, (c, e)) =>
      val t = truth(v)
      assert(c >= t && c <= t + e, s"$v: reported $c err $e true $t")
    }
  }

  test("merge order does not break the bounds (associativity smoke)") {
    val rnd = new Random(13)
    val xs = Seq.fill(2000)(s"v${rnd.nextInt(40)}")
    val capacity = 12
    val truth = trueCounts(xs)
    val parts = xs.grouped(173).toSeq
    val sketches = parts.map(p => p.foldLeft(Map.empty: TopKAggregate.Counters) {
      (s, v) => TopKAggregate.updateSketch(s, v, 1L, capacity)
    })
    for (order <- Seq(sketches, sketches.reverse, rnd.shuffle(sketches))) {
      val m = order.reduce(TopKAggregate.mergeSketches(_, _, capacity))
      m.foreach { case (v, (c, e)) =>
        val t = truth(v)
        assert(c >= t && c <= t + e, s"$v: $c/$e vs $t")
      }
    }
  }

  test("q67 shape: per-event-type top users equal exact SQL at gate capacity") {
    val got = graft.queries.ScaleQueries.batchTopK(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.nonEmpty && got.forall(_._4 == 0L), "gate must run exact (err 0)")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val want = ev.groupBy(col("event_type"), col("user_id").cast("string").as("uid"))
      .count()
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(desc("count"), asc("uid"))))
      .filter(col("rank") <= graft.queries.ScaleQueries.BatchTopK)
      .orderBy("event_type", "rank")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), 0L, r.getInt(3)))
    assert(got.toSeq == want.toSeq)
  }
}
