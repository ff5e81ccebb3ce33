package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

class StreamingTopKSpec extends SparkSpec {

  test("space-saving sketch: exact within capacity, bounded error beyond") {
    // within capacity: exact counts
    var sk: graft.operators.TopKAggregate.Counters = Map.empty
    Seq("a", "b", "a", "c", "a", "b").foreach { v =>
      sk = graft.operators.TopKAggregate.updateSketch(sk, v, 1L, capacity = 8)
    }
    assert(sk("a") == (3L, 0L) && sk("b") == (2L, 0L) && sk("c") == (1L, 0L))
    // overflow: heavy hitter survives, error bounds recorded
    var s2: graft.operators.TopKAggregate.Counters = Map.empty
    val stream = Seq.fill(50)("hot") ++ (1 to 30).map(i => s"cold$i")
    stream.foreach(v => s2 = graft.operators.TopKAggregate.updateSketch(s2, v, 1L, capacity = 4))
    assert(s2.size <= 4)
    val (hotC, hotE) = s2("hot")
    assert(hotC >= 50L && hotC - hotE <= 50L)
  }

  test("streaming top-K over MemoryStream finds heavy hitters across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("key", "value")
    val q = StreamingTopK.topK(df, "key", "value", k = 3, capacity = 16)
      .writeStream.format("memory").queryName("topk_test")
      .outputMode("update").start()
    try {
      input.addData(Seq.fill(10)(("k1", "x")) ++ Seq.fill(5)(("k1", "y")) ++
        Seq(("k1", "z"), ("k2", "only")): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(7)(("k1", "y")) ++ Seq.fill(2)(("k1", "w")): _*)
      q.processAllAvailable()

      // last update for k1: y (12) > x (10) > w (2)
      val rows = spark.table("topk_test").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(4)))
      val k1Last = rows.filter(t => t._1 == "k1" && t._2 == "y").map(_._3).max
      assert(k1Last == 12L, s"y should reach 12, rows=${rows.toSeq}")
      val lastBatch = rows.filter(t => t._1 == "k1")
        .groupBy(_._2).map { case (v, ts) => v -> ts.map(_._3).max }
      assert(lastBatch("y") > lastBatch("x"))
      assert(rows.exists(t => t._1 == "k2" && t._2 == "only" && t._3 == 1L))
    } finally q.stop()
  }
}
