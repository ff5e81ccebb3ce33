package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.profile.{ProfileRunner, TableProfile}
import graft.streaming.{StreamingProfile, StreamingTopK, TopKRow}

/** What one timed loop did. `latMs` holds one latency per operation
  * (a report, a profile request, a stream trigger), by operation kind. */
final class Loop {
  val latMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def add(kind: String, ms: Double): Unit = latMs.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
  def all: Seq[Double] = latMs.values.flatten.toSeq
  /** The median latency of each kind, averaged over the kinds: pooling
    * two kinds of equal count would put the median between them. */
  def p50: Double = latMs.values.map(l => Stats.median(l.toSeq)).sum / latMs.size
  var rows = 0L
  var wallS = 0.0
  var attempted = 0
  var failed = 0
}

/** A workload: seeded inputs, a warm-up, a timed loop and a check. */
trait Workload {
  val TopKSize = 20

  /** Writes the inputs (not part of set-up time). */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  /** Opens the inputs and warms the program up (part of set-up time). */
  def prepare(spark: SparkSession): Unit
  /** Runs operations for about `seconds`. */
  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Loop
  /** Computes what the outputs must equal (not timed; runs after the
    * first set-up, so it also warms the JVM the same way in every run). */
  def reference(spark: SparkSession): Unit
  /** Checks the loop's outputs; returns the number of wrong operations. */
  def check(spark: SparkSession, loop: Loop): Int
  /** Tables the traced run probes layer by layer, opened in `spark`. */
  def probeTables(spark: SparkSession): Seq[(String, DataFrame)]
  /** Readable metric lines under the names the workload is known by. */
  def describe(loop: Loop): Seq[String]

  protected def timed[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.within(name)(body)._1)

  protected def log(msg: String): Unit = Console.err.println(s"[perfbench] $msg")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** profile_mixed_large: `ProfileRunner.report` over one wide table. */
final class LargeTable extends Workload {
  private var path = ""
  private var df: DataFrame = _
  private val reports = ArrayBuffer.empty[String]

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    path = Gen.writeLarge(spark, seed, dir)

  def prepare(spark: SparkSession): Unit = {
    df = spark.read.parquet(path)
    ProfileRunner.report(df, TopKSize)
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Loop = {
    val loop = new Loop
    reports.clear()
    val t0 = System.nanoTime()
    while (loop.attempted < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      loop.attempted += 1
      try {
        reports += timed(tracer, "ProfileRunner.report")(ProfileRunner.report(df, TopKSize))
        loop.add("report", (System.nanoTime() - s) / 1e6)
        loop.rows += Gen.LargeRows
      } catch { case e: Exception => loop.failed += 1; log(s"report failed: $e") }
    }
    loop.wallS = (System.nanoTime() - t0) / 1e9
    loop
  }

  private var expected: Checks.LargeExpected = _

  def reference(spark: SparkSession): Unit =
    expected = new Checks.LargeExpected(spark.read.parquet(path), TopKSize)

  def check(spark: SparkSession, loop: Loop): Int =
    reports.count { r =>
      val problems = expected.problems(r)
      problems.take(5).foreach(p => log(s"check: $p"))
      problems.nonEmpty
    }

  def probeTables(spark: SparkSession): Seq[(String, DataFrame)] =
    Seq("large" -> spark.read.parquet(path))

  def describe(loop: Loop): Seq[String] = Seq(
    f"profile_wall_s = ${loop.p50 / 1000}%.4f s " +
      f"(median of ${loop.all.size} reports; ${Gen.LargeRows} rows x ${Gen.largeSchema.size} columns)")
}

/** profile_small_concurrent: 4 clients in a closed loop, each calling
  * `ProfileRunner.profile` on pool tables in a seeded order. */
final class SmallConcurrent(seed: Long, clients: Int) extends Workload {
  private var pool = Seq.empty[(String, Int, String)]
  private var dfs = IndexedSeq.empty[DataFrame]
  private val results = new ConcurrentLinkedQueue[(Int, TableProfile)]()

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    pool = Gen.writeSmallPool(spark, seed, dir)

  def prepare(spark: SparkSession): Unit = {
    dfs = pool.map { case (_, _, p) => spark.read.parquet(p) }.toIndexedSeq
    // one profile of each schema's smallest table
    Gen.smallSchemas.indices.foreach(s => ProfileRunner.profile(dfs(s * Gen.SmallSizes.size), TopKSize))
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Loop = {
    val loop = new Loop
    results.clear()
    val order = Gen.drawOrder(seed, pool.size, 100)
    val next = new AtomicInteger(0)
    val lats = new ConcurrentLinkedQueue[Double]()
    val rows = new AtomicLong(0)
    val failed = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // draw whole permutations of the pool, so every table is profiled
    // equally often: after the deadline, only finish the current one
    def take(): Int = next.synchronized {
      val i = next.get
      if (System.nanoTime() >= deadline && i % pool.size == 0) -1 else next.getAndIncrement()
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = take()
        while (i >= 0) {
          val t = order(i % order.length)
          val s = System.nanoTime()
          try {
            val tp = timed(tracer, "ProfileRunner.profile")(ProfileRunner.profile(dfs(t), TopKSize))
            lats.add((System.nanoTime() - s) / 1e6)
            rows.addAndGet(pool(t)._2)
            results.add((t, tp))
          } catch { case e: Exception => failed.incrementAndGet(); log(s"profile failed: $e") }
          i = take()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    loop.wallS = (System.nanoTime() - t0) / 1e9
    lats.asScala.foreach(loop.add("profile", _))
    loop.rows = rows.get
    loop.failed = failed.get
    loop.attempted = next.get
    loop
  }

  private var sequential = IndexedSeq.empty[TableProfile]

  /** Each pool table profiled alone, one after the other. */
  def reference(spark: SparkSession): Unit =
    sequential = pool.map { case (_, _, p) =>
      ProfileRunner.profile(spark.read.parquet(p), TopKSize) }.toIndexedSeq

  def check(spark: SparkSession, loop: Loop): Int = {
    val wrong = results.asScala.count { case (t, tp) => !Checks.sameProfile(tp, sequential(t)) }
    if (wrong > 0) log(s"check: $wrong concurrent profiles differ from the sequential ones")
    wrong
  }

  def probeTables(spark: SparkSession): Seq[(String, DataFrame)] =
    Gen.smallSchemas.indices.map { s =>
      val i = s * Gen.SmallSizes.size + Gen.SmallSizes.size - 1
      pool(i)._1 + "_" + pool(i)._2 -> spark.read.parquet(pool(i)._3)
    }

  def describe(loop: Loop): Seq[String] = {
    val l = loop.all
    Seq(f"profiles_per_s = ${l.size / loop.wallS}%.4f 1/s ($clients clients, closed loop)",
      f"profile_latency_p50_ms = ${Stats.pct(l, 50)}%.2f ms (${l.size} requests)",
      f"profile_latency_p90_ms = ${Stats.pct(l, 90)}%.2f ms (${l.size} requests, " +
        s"${l.count(_ > Stats.pct(l, 90))} beyond it)")
  }
}

/** stream_windowed_profile: `StreamingProfile.windowedMoments`, then
  * `StreamingTopK.topK`, each reading one file per trigger. */
final class WindowedStream(ckptRoot: String) extends Workload {
  val Window = "5 minutes"
  val Watermark = "10 minutes"
  val TopKeys = 10
  val Capacity = 64

  private var path = ""
  private var rounds = 0
  private val streamedMoments = ArrayBuffer.empty[Map[(Long, String), Row]]
  private val streamedTopK = ArrayBuffer.empty[Map[String, Seq[TopKRow]]]

  def generate(spark: SparkSession, seed: Long, dir: String): Unit =
    path = Gen.writeStream(spark, seed, dir, "stream", Gen.StreamFiles, Gen.StreamEventsPerFile)

  /** Uses an existing stream directory instead of generating one. */
  def use(dir: String): Unit = path = dir

  /** Warm-up: one round over the first two files. */
  def prepare(spark: SparkSession): Unit = round(spark, path, None, "batch-00[01].parquet")

  /** One traced round over the current input (a layer probe). */
  def probeRound(spark: SparkSession, tracer: Tracer): Unit = round(spark, path, Some(tracer))

  /** Streaming-layer metrics from the progress the tracer saw, per
    * query: medians over data triggers, state size after the last one,
    * and shuffle bytes per round. */
  def metricsFrom(t: Tracer): Seq[(String, Double, String)] =
    Seq("stream_moments" -> "StreamingProfile.windowedMoments",
        "stream_topk" -> "StreamingTopK.topK").flatMap { case (q, spanName) =>
      val ps = t.progress.get(q).toSeq.flatMap(_.asScala.map(_.progress))
        .filter(_.numInputRows > 0)
      def d(k: String) = Stats.median(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        ps.lastOption.toSeq.flatMap(_.stateOperators).map(f).sum.toDouble
      def perTrigger(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        ps.map(_.stateOperators.map(f).sum.toDouble).sum / math.max(1, ps.size)
      val spans = t.spans.asScala.filter(_.name == spanName).toSeq
      val shuffle = spans.flatMap(s => t.jobsUnder(s.id)).map(_.shuffleWriteBytes).sum
      Seq(
        (s"$q.add_batch_ms_p50", d("addBatch"), "ms"),
        (s"$q.wal_commit_ms_p50", d("walCommit"), "ms"),
        (s"$q.commit_offsets_ms_p50", d("commitOffsets"), "ms"),
        (s"$q.query_planning_ms_p50", d("queryPlanning"), "ms"),
        (s"$q.state_rows_total", state(_.numRowsTotal), "count"),
        (s"$q.state_memory_bytes", state(_.memoryUsedBytes), "bytes"),
        (s"$q.state_update_ms", perTrigger(_.allUpdatesTimeMs), "ms"),
        (s"$q.state_commit_ms", perTrigger(_.commitTimeMs), "ms"),
        (s"$q.shuffle_write_bytes", shuffle.toDouble / math.max(1, spans.size), "bytes"))
    }

  private def source(s: SparkSession, dir: String, files: String): DataFrame =
    s.readStream.schema(Gen.streamSchema).option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", files).parquet(dir)

  /** One round: both queries over the files of `dir` matching `files`,
    * one after the other. Returns the progress of both, in order. */
  def round(spark: SparkSession, dir: String, tracer: Option[Tracer],
      files: String = "*.parquet"): Seq[StreamingQueryProgress] =
    graft.queries.QueryUtil.withStreamStatePartitions(spark) { s =>
      rounds += 1
      val moments = scala.collection.mutable.Map.empty[(Long, String), Row]
      val q1 = timed(tracer, "StreamingProfile.windowedMoments") {
        val q = StreamingProfile.windowedMoments(source(s, dir, files), "event_ts", "key", "value",
            Window, Watermark)
          .writeStream.queryName("stream_moments").outputMode("update")
          .option("checkpointLocation", s"$ckptRoot/r$rounds-moments")
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, _: Long) =>
            b.collect().foreach(r => moments((r.getTimestamp(0).getTime, r.getString(1))) = r))
          .start()
        graft.queries.QueryUtil.awaitOrFail(q)
        q
      }
      val top = scala.collection.mutable.Map.empty[String, Seq[TopKRow]]
      val q2 = timed(tracer, "StreamingTopK.topK") {
        val q = StreamingTopK.topK(source(s, dir, files), "key", "tag", TopKeys, Capacity)
          .writeStream.queryName("stream_topk").outputMode("update")
          .option("checkpointLocation", s"$ckptRoot/r$rounds-topk")
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: org.apache.spark.sql.Dataset[TopKRow], _: Long) =>
            b.collect().groupBy(_.key).foreach { case (k, rs) => top(k) = rs.toSeq })
          .start()
        graft.queries.QueryUtil.awaitOrFail(q)
        q
      }
      if (files == "*.parquet") { streamedMoments += moments.toMap; streamedTopK += top.toMap }
      FileTree.delete(new java.io.File(s"$ckptRoot/r$rounds-moments"))
      FileTree.delete(new java.io.File(s"$ckptRoot/r$rounds-topk"))
      q1.recentProgress.toSeq ++ q2.recentProgress.toSeq
    }

  def run(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Loop = {
    val loop = new Loop
    streamedMoments.clear(); streamedTopK.clear()
    val t0 = System.nanoTime()
    while (loop.wallS == 0.0 || loop.wallS < seconds) {
      val triggers = try round(spark, path, tracer).filter(_.numInputRows > 0) catch {
        case e: Exception =>
          log(s"stream round failed: $e"); loop.failed += Gen.StreamFiles * 2; Nil
      }
      loop.attempted += Gen.StreamFiles * 2
      triggers.foreach { p =>
        loop.add(p.name, p.durationMs.get("triggerExecution").doubleValue)
        loop.rows += p.numInputRows
      }
      loop.wallS = (System.nanoTime() - t0) / 1e9
    }
    loop
  }

  private var batch = Seq.empty[Row]
  private var exact = Map.empty[(String, String), Long]

  /** Batch windowed moments and exact (key, tag) counts over all files. */
  def reference(spark: SparkSession): Unit = {
    val events = spark.read.schema(Gen.streamSchema).parquet(path)
    batch = StreamingProfile.windowedMoments(events, "event_ts", "key", "value",
      Window, Watermark).collect().toSeq
    exact = events.groupBy("key", "tag").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  def check(spark: SparkSession, loop: Loop): Int = {
    val wrongRounds = streamedMoments.zip(streamedTopK).count { case (m, t) =>
      val problems = Checks.streamMoments(batch, m) ++ Checks.streamTopK(exact, t, TopKeys)
      problems.foreach(p => log(s"check: $p"))
      problems.nonEmpty
    }
    wrongRounds * Gen.StreamFiles * 2
  }

  def probeTables(spark: SparkSession): Seq[(String, DataFrame)] =
    Seq("stream_events" -> spark.read.schema(Gen.streamSchema).parquet(path))

  def describe(loop: Loop): Seq[String] = {
    val l = loop.all
    Seq(f"stream_events_per_s = ${loop.rows / loop.wallS}%.1f 1/s " +
        s"(${loop.rows} events over both queries, ${streamedMoments.size} rounds)",
      f"stream_batch_p50_ms = ${Stats.pct(l, 50)}%.2f ms (${l.size} triggers, pooled; per query: " +
        loop.latMs.map { case (q, x) => f"$q ${Stats.median(x.toSeq)}%.1f" }.mkString(", ") + ")",
      f"stream_batch_p90_ms = ${Stats.pct(l, 90)}%.2f ms (${l.size} triggers, " +
        s"${l.count(_ > Stats.pct(l, 90))} beyond it)")
  }
}
