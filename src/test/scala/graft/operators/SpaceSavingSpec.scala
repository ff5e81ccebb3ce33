package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.{StreamingTopK, TopKRow}

/** The one Space-Saving sketch behind every heavy-hitter caller: null
  * values are skipped by the batch aggregator, the Misra-Gries view and
  * the stream; the Misra-Gries counters are the sketch's lower bounds;
  * and the stream's sketch state resumes from its checkpoint. */
class SpaceSavingSpec extends SparkSpec {

  test("null values are not counted: batch aggregator and Misra-Gries view") {
    val s = spark
    import s.implicits._
    // capacity 2: the third distinct value would force an eviction
    val df = spark.sparkContext
      .parallelize(Seq("x", null, "y", null, "x", "y"), 1).toDF("v")
    val agg = udaf(TopKAggregate.topKAgg(3, 2), Encoders.STRING)
    val got = df.agg(agg(col("v")).as("top"))
      .select(explode(col("top")).as("e"))
      .select("e.value", "e.cnt", "e.err", "e.rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq(("x", 2L, 0L, 1), ("y", 2L, 0L, 2)))
    assert(MisraGries.candidates(df, "v", 2) == Map("x" -> 2L, "y" -> 2L))
  }

  test("null values are not counted: stream top-K with count ties") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = StreamingTopK.topK(input.toDF().toDF("key", "value"), "key", "value",
      k = 3, capacity = 16)
      .writeStream.format("memory").queryName("topk_nulls")
      .outputMode("update").start()
    try {
      input.addData(("k", "a"), ("k", null), ("k", "b"), ("k", null),
        ("k", "a"), ("k", "b"), ("only_null", null))
      q.processAllAvailable()
      val rows = spark.table("topk_nulls").as[TopKRow].collect().toSeq
      assert(rows == Seq(TopKRow("k", "a", 2L, 0L, 1), TopKRow("k", "b", 2L, 0L, 2)))
    } finally q.stop()
  }

  // 3 heavy keys (1200/900/600 of N=3000) over a 300-key tail
  private def fixture(): Seq[String] =
    Seq.fill(1200)("hot1") ++ Seq.fill(900)("hot2") ++ Seq.fill(600)("hot3") ++
      (0 until 300).map(i => s"tail$i")

  test("Misra-Gries counters are the Space-Saving lower bounds cnt - err") {
    val s = spark
    import s.implicits._
    val data = fixture()
    // one partition: no merge order is involved
    val df = spark.sparkContext.parallelize(data, 1).toDF("hkey")
    for (k <- Seq(4, 16)) {
      val sketch = data.foldLeft(Map.empty: TopKAggregate.Counters) {
        (sk, v) => TopKAggregate.updateSketch(sk, v, 1L, k)
      }
      val want = sketch.collect { case (v, (c, e)) if c - e > 0 => v -> (c - e) }
      assert(MisraGries.candidates(df, "hkey", k) == want, s"k=$k")
    }
  }

  test("stream top-K resumes its sketch state from the checkpoint") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_topk_restart_").toFile
    val inDir = new java.io.File(root, "in")
    inDir.mkdirs()
    val checkpoint = new java.io.File(root, "checkpoint").getPath
    val rnd = new scala.util.Random(17)
    def writeFile(i: Int): Unit = {
      val lines = Seq.fill(200)(s"k${rnd.nextInt(2)},v${rnd.nextInt(10)}")
      Files.write(new java.io.File(inDir, f"part$i%02d.csv").toPath,
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val emitted = ArrayBuffer.empty[(Long, TopKRow)]
    val sink: (Dataset[TopKRow], Long) => Unit =
      (batch, batchId) => emitted ++= batch.collect().map(batchId -> _)
    // exact regime: capacity and k above the 10-value domain
    def run(): Unit = {
      val src = spark.readStream.schema("key STRING, value STRING")
        .option("maxFilesPerTrigger", 1).csv(inDir.getPath)
      val q = StreamingTopK.topK(src, "key", "value", k = 16, capacity = 64)
        .writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink).start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      (0 until 2).foreach(writeFile)
      run()
      (2 until 4).foreach(writeFile)
      run() // restarts from the same checkpoint, mid-input
      assert(emitted.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L))
      val last = emitted.groupBy { case (_, r) => (r.key, r.value) }
        .map { case (kv, rs) => kv -> rs.maxBy(_._1)._2 }
      val want = spark.read.schema("key STRING, value STRING").csv(inDir.getPath)
        .groupBy("key", "value").count().as[(String, String, Long)]
        .collect().map { case (k, v, c) => (k, v) -> c }.toMap
      assert(last.keySet == want.keySet)
      last.foreach { case (kv, r) =>
        assert(r.cnt == want(kv) && r.err == 0L, s"$kv: $r vs ${want(kv)}")
      }
    } finally graft.sources.IndexStore.deleteRecursively(root)
  }
}
