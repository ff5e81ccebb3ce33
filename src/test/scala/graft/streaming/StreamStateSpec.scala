package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.queries.QueryUtil

/** The state partitions of a stream: a stream session sizes them to the
  * cluster's task slots (at most [[QueryUtil.StreamStatePartitions]]),
  * a checkpoint keeps the count it was written with, and
  * `windowedMoments` resumes its state from the checkpoint mid-input.
  * [[QueryUtil.drain]], the finite replay of the library, reads back
  * only its own run and leaves no stream running. */
class StreamStateSpec extends SparkSpec {

  private val schema = "ts_s LONG, key STRING, tag STRING, value DOUBLE"

  /** A directory of CSV event files, written one at a time. */
  private final class Input(root: File) {
    val dir = new File(root, "in")
    dir.mkdirs()
    private val rnd = new scala.util.Random(23)
    def write(i: Int): Unit = {
      // one hour of events (2024-01-01 10:00 UTC on), ten 6-minute windows
      val lines = Seq.fill(300) {
        val ts = 1704103200L + rnd.nextInt(3600)
        s"$ts,k${rnd.nextInt(5)},t${rnd.nextInt(7)},${rnd.nextInt(100000) / 100.0}"
      }
      Files.write(new File(dir, f"part$i%02d.csv").toPath,
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    def events(s: SparkSession): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1).csv(dir.getPath)
        .withColumn("ts", timestamp_seconds(col("ts_s")))
    def batch: DataFrame =
      spark.read.schema(schema).csv(dir.getPath).withColumn("ts", timestamp_seconds(col("ts_s")))
  }

  // a one-day watermark: no event is late, so the stream must equal batch
  private def moments(events: DataFrame): DataFrame =
    StreamingProfile.windowedMoments(events, "ts", "key", "value", "6 minutes", "1 day")

  /** Start `df` in update mode, drain it, stop it: the state partitions
    * its last trigger reports, and every emitted row with its batch id.
    * The sink reads every partition, as a `foreachBatch` sink must, or
    * the state commit fails. */
  private def drain[T](df: Dataset[T], checkpoint: String): (Int, Seq[(Long, T)]) = {
    val emitted = ArrayBuffer.empty[(Long, T)]
    val q = df.writeStream.outputMode("update").option("checkpointLocation", checkpoint)
      .foreachBatch((b: Dataset[T], id: Long) => { emitted ++= b.collect().map(id -> _); () })
      .start()
    try {
      q.processAllAvailable()
      (q.lastProgress.stateOperators.head.numShufflePartitions.toInt, emitted.toSeq)
    } finally q.stop()
  }

  private def withInput[T](body: (Input, File) => T): T = {
    val root = Files.createTempDirectory("graft_stream_state_").toFile
    try body(new Input(root), root)
    finally graft.sources.IndexStore.deleteRecursively(root)
  }

  test("stream state partitions follow the cluster: min(8, defaultParallelism)") {
    val want = math.min(QueryUtil.StreamStatePartitions, spark.sparkContext.defaultParallelism)
    assert(want == 4, "the test session is local[4]")
    withInput { (in, root) =>
      (0 until 2).foreach(in.write)
      QueryUtil.withStreamStatePartitions(spark) { s =>
        val (m, _) = drain(moments(in.events(s)), new File(root, "moments").getPath)
        val (t, _) = drain(StreamingTopK.topK(in.events(s), "key", "tag", k = 3, capacity = 16),
          new File(root, "topk").getPath)
        assert((m, t) == (want, want))
      }
    }
  }

  test("drain: two replays under one sink name each return only their own rows") {
    val s0 = spark
    import s0.implicits._
    withInput { (_, root) =>
      QueryUtil.withStreamStatePartitions(spark) { s =>
        for ((values, i) <- Seq(Seq(1L, 2L, 3L), Seq(10L, 20L)).zipWithIndex) {
          val path = new File(root, s"table$i").getPath
          values.toDF("v").write.parquet(path)
          val got = QueryUtil.drain(QueryUtil.streamParquet(s, path), "drain_spec_result", "append")
          assert(got.as[Long].collect().sorted.toSeq == values)
          assert(s.streams.active.isEmpty && spark.streams.active.isEmpty)
        }
      }
    }
  }

  test("windowedMoments keeps its checkpoint's state partitions and resumes mid-input") {
    // restart at the count the checkpoint was written with (8 from an
    // explicit session, then the stream session's own) and at the stream
    // session's count on both sides
    val eight = spark.newSession()
    eight.conf.set("spark.sql.shuffle.partitions", "8")
    val pooled = QueryUtil.withStreamStatePartitions(spark)(identity)
    for ((first, written) <- Seq(eight -> 8, pooled -> QueryUtil.streamStatePartitions(spark)))
      withInput { (in, root) =>
        val checkpoint = new File(root, "checkpoint").getPath
        (0 until 2).foreach(in.write)
        val (before, early) = drain(moments(in.events(first)), checkpoint)
        assert(before == written)
        (2 until 4).foreach(in.write)
        val (resumed, late) = QueryUtil.withStreamStatePartitions(spark) { s =>
          drain(moments(in.events(s)), checkpoint)
        }
        assert(resumed == written, s"the checkpoint was written with $written")
        val emitted = early ++ late
        // one trigger per file, each updating some window
        assert(emitted.map(_._1).distinct.size == 4)

        def key(r: Row) = (r.getTimestamp(0).getTime, r.getString(1))
        val last = emitted.groupBy { case (_, r) => key(r) }
          .map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
        val want = moments(in.batch).collect().map(r => key(r) -> r).toMap
        assert(last.keySet == want.keySet && want.size > 20)
        def close(a: Double, b: Double) =
          a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        for ((k, w) <- want; g = last(k)) {
          // n, sum_cents, sum_cents2, min, max exactly; mean, var_pop,
          // skew_pop, kurt_pop within 1e-9
          assert(Seq(2, 4, 5, 9, 10).forall(i => w.get(i) == g.get(i)), s"$k: $w vs $g")
          assert(Seq(3, 6, 7, 8).forall(i => close(w.getDouble(i), g.getDouble(i))), s"$k: $w vs $g")
        }
      }
  }
}
