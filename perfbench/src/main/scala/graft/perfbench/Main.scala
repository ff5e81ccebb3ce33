package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.PatternMask
import graft.profile.{NumericProfiler, ProfileRunner, TopK, TypeCensus}

/** Benchmark entry point. One JVM runs one workload:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir>
  * }}}
  *
  * It generates the seeded inputs, sets up (SparkSession + warm-up,
  * repeated [[SetupReps]] times; the median is `setup_s`; the untimed
  * reference results are computed after the first), runs the timed
  * loop, checks the outputs, and writes `result.json` into the work
  * dir. With `--trace 1` it instead runs the loop untraced and
  * traced for half the time each, probes every layer, and reports the
  * per-layer metrics. Readable lines go to stdout; Spark logs to stderr.
  */
object Main {
  val Cores = 4
  val ShufflePartitions = 4
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, dir: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("dir"))
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "profile_mixed_large" => new LargeTable
    case "profile_small_concurrent" => new SmallConcurrent(a.seed, Cores)
    case "stream_windowed_profile" => new WindowedStream(s"${a.dir}/ckpt")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a)
    val dataDir = s"${a.dir}/data"
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark = session(Cores, a.dir)
    val g0 = System.nanoTime()
    w.generate(spark, a.seed, dataDir)
    val genS = (System.nanoTime() - g0) / 1e9
    w.prepare(spark)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3 - genS)
    val r0 = System.nanoTime()
    w.reference(spark)
    val refS = (System.nanoTime() - r0) / 1e9
    if (!a.trace) (2 to SetupReps).foreach { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(Cores, a.dir)
      w.prepare(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }

    println(s"env: workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}" +
      s" nproc=${Runtime.getRuntime.availableProcessors} master=local[$Cores]" +
      s" spark.sql.shuffle.partitions=$ShufflePartitions" +
      s" stream.state.partitions=${graft.queries.QueryUtil.StreamStatePartitions}" +
      f" loadavg_start=$loadStart%.2f java.io.tmpdir=${System.getProperty("java.io.tmpdir")}" +
      s" spark.local.dir=${spark.conf.get("spark.local.dir")} checkpoint.dir=${a.dir}/ckpt" +
      f" generate_s=$genS%.2f reference_s=$refS%.2f max_heap_mb=${Runtime.getRuntime.maxMemory >> 20}" +
      f" calibration_ms=${calibrationMs()}%.1f")

    val (loop, metrics) =
      if (!a.trace) {
        val loop = w.run(spark, a.seconds, None)
        loop.failed += w.check(spark, loop)
        w.describe(loop).foreach(println)
        (loop, Seq(
          ("setup_s", Stats.median(setups.toSeq), "s"),
          ("latency_p50_ms", loop.p50, "ms"),
          ("rows_per_s", loop.rows / loop.wallS, "1/s")))
      } else traced(a, w, spark, dataDir)
    spark.stop()
    println(f"error_rate = ${loop.failed.toDouble / math.max(1, loop.attempted)}%.6f " +
      s"(${loop.failed} of ${loop.attempted} operations failed or wrong)")
    println(f"samples: ${loop.all.size} operations in ${loop.wallS}%.2f s")
    println(s"setup_s samples: ${setups.map(s => f"$s%.3f").mkString(", ")}")
    metrics.foreach { case (k, v, u) => println(f"$k = $v%.6g $u") }
    writeResult(a, loop, metrics)
  }

  /** Best of 5 timings of a fixed single-threaded integer loop: a gauge
    * of how fast this host ran during the run, for reading results. */
  private def calibrationMs(): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var h = 0L; var i = 0
    while (i < 50000000) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
    if (h == 42) println("") // keep the loop
    (System.nanoTime() - t0) / 1e6
  }.min

  private def writeResult(a: Args, loop: Loop, metrics: Seq[(String, Double, String)]): Unit = {
    val (attempted, failed) = (loop.attempted, loop.failed)
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.dir, "result.json"), json)
  }

  // ---- traced run ---------------------------------------------------------

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def traced(a: Args, w: Workload, spark0: SparkSession, dataDir: String)
      : (Loop, Seq[(String, Double, String)]) = {
    var spark = spark0
    val half = a.seconds / 2
    // streaming layers are probed on the workload's own stream, else on a small one
    val stream = w match {
      case s: WindowedStream => s
      case _ =>
        val s = new WindowedStream(s"${a.dir}/ckpt")
        s.use(Gen.writeStream(spark, a.seed, dataDir, "stream_probe", 4, 10000))
        s
    }
    w.prepare(spark) // as warm as the traced loop that follows
    val plain = w.run(spark, half, None)
    plain.failed += w.check(spark, plain)

    val tracer = new Tracer(spark)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    tracer.start()
    val loop = w.run(spark, half, Some(tracer))
    tracer.drain()
    val loopSpans = tracer.spans.asScala.toSeq
    val phasesInLoop = tracer.phases.size

    // layer probes: each public entry point on the workload's tables
    val probe = new Probes(spark, tracer)
    val tables = w.probeTables(spark)
    tables.foreach { case (name, df) => probe.table(name, df) }
    if (stream ne w) tracer.within("probe stream")(stream.probeRound(spark, tracer))
    tracer.stop()
    val gcS = (gcMs - gc0) / 1e3
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    loop.failed += w.check(spark, loop) + plain.failed
    loop.attempted += plain.attempted

    // scaling: ProfileRunner.profile over the probe tables at local[1]
    val t4 = probe.sum("profile_runner_call")
    spark.stop()
    spark = session(1, a.dir)
    val tables1 = w.probeTables(spark)
    val t1s = System.nanoTime()
    tables1.foreach { case (_, df) => ProfileRunner.profile(df) }
    val t1 = (System.nanoTime() - t1s) / 1e9
    spark.stop()

    // end-to-end, traced vs untraced
    val p50Plain = plain.p50
    val p50Traced = loop.p50
    println(f"tracing overhead: latency_p50_ms traced $p50Traced%.2f - untraced $p50Plain%.2f" +
      f" = ${p50Traced - p50Plain}%.2f ms; rows_per_s traced ${loop.rows / loop.wallS}%.1f" +
      f" vs untraced ${plain.rows / plain.wallS}%.1f")
    w.describe(plain).foreach(l => println("untraced " + l))

    // ProfileRunner requests: from the loop when it calls the runner,
    // else from the probe's runner call
    val requests = loopSpans.filter(s => s.parent == 0L && s.name.startsWith("ProfileRunner."))
    val (reqs, phaseSlice) =
      if (requests.nonEmpty) (requests, tracer.phases.asScala.take(phasesInLoop).toSeq)
      else (probe.spansNamed("profile_runner_call"), probe.phasesOf("profile_runner_call"))
    val reqJobs = reqs.map(r => r -> tracer.jobsUnder(r.id))
    val nReq = math.max(1, reqs.size).toDouble
    def perReq(f: JobStats => Double): Double = reqJobs.map(_._2.map(f).sum).sum / nReq
    val selfS = reqJobs.map { case (r, js) =>
      (r.endMs - r.startMs - covered(js.map(j => (j.submitMs, j.endMs)))) / 1e3 }.sum / nReq
    val allJobs = reqJobs.flatMap(_._2)
    def phase(k: String) = phaseSlice.map(_.getOrElse(k, 0L).toDouble).sum / nReq

    java.nio.file.Files.write(java.nio.file.Paths.get(a.dir, "spans.jsonl"), tracer.spanLines.toSeq.asJava)
    println(s"spans: ${tracer.spans.size}")
    (loop, probe.metrics ++ stream.metricsFrom(tracer) ++ Seq(
      ("profile_runner.jobs", perReq(_ => 1.0), "count"),
      ("profile_runner.stages", perReq(_.stages.toDouble), "count"),
      ("profile_runner.tasks", perReq(_.tasks.toDouble), "count"),
      ("profile_runner.self_s", selfS, "s"),
      ("planning.analysis_ms", phase("analysis"), "ms"),
      ("planning.optimization_ms", phase("optimization"), "ms"),
      ("planning.planning_ms", phase("planning"), "ms"),
      ("scheduler.job_queue_ms", Stats.median(allJobs.filter(_.firstTaskMs < Long.MaxValue)
        .map(j => (j.firstTaskMs - j.submitMs).toDouble)), "ms"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapMb, "MB"),
      ("scaling.profile_speedup_4v1", t1 / t4, "ratio"),
      ("tracing.overhead_ms", p50Traced - p50Plain, "ms")))
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}

/** Times each layer's public entry points, one call at a time, and
  * reads the Spark work charged to each call from the [[Tracer]]. */
final class Probes(spark: SparkSession, tracer: Tracer) {
  private val calls = mutable.ArrayBuffer.empty[(String, Span, Seq[Map[String, Long]])]

  /** Runs `body` once to warm it up (a new plan shape pays its code
    * generation on the first call), then again as span `name`. */
  private def call(name: String)(body: => Unit): Unit = {
    body
    tracer.drain()
    val before = tracer.phases.size
    val (_, span) = tracer.within(name)(body)
    tracer.drain()
    calls += ((name, span, tracer.phases.asScala.drop(before).toSeq))
  }

  def spansNamed(name: String): Seq[Span] = calls.collect { case (`name`, s, _) => s }.toSeq
  def phasesOf(name: String): Seq[Map[String, Long]] = calls.filter(_._1 == name).flatMap(_._3).toSeq
  def sum(name: String): Double = spansNamed(name).map(s => (s.endMs - s.startMs) / 1e3).sum
  private def jobs(name: String): Seq[JobStats] = spansNamed(name).flatMap(s => tracer.jobsUnder(s.id))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** aggregate columns `NumericProfiler` builds for the probed tables */
  private var aggColumns = 0

  def table(name: String, df: DataFrame): Unit = {
    tracer.within(s"probe $name") {
      val fields = df.schema.fields.toSeq
      val strCols = fields.filter(_.dataType == StringType).map(_.name)
      call("scan")(noop(df))
      call("numeric_profiler")(NumericProfiler.profile(df))
      call("moments")(df.agg(count(lit(1)), fields.flatMap(f =>
        NumericProfiler.numericValue(f.name, f.dataType).toSeq.flatMap(x =>
          Seq(count(x), min(x), max(x), avg(x), var_pop(x), skewness(x), kurtosis(x)))): _*).collect())
      call("render_length")(df.agg(count(lit(1)), fields.flatMap(f =>
        NumericProfiler.renderLength(f.name, f.dataType).toSeq.flatMap(x =>
          Seq(min(x), max(x), avg(x)))): _*).collect())
      call("type_census")(df.agg(count(lit(1)),
        strCols.flatMap(c => TypeCensus.censusAggs(c, s"${c}_")): _*).collect())
      call("pattern_mask")(noop(df.select(strCols.map(c =>
        PatternMask.pattern_mask(col(c)).as(c)): _*)))
      call("topk_values")(TopK.topKValuesAll(df, strCols, 20).collect())
      call("topk_patterns")(TopK.topKPatternsAll(df, strCols, 20).collect())
      call("profile_runner_call")(ProfileRunner.profile(df))
      aggColumns += 2 + fields.zipWithIndex.map { case (f, i) => NumericProfiler.aggsFor(i, f).size }.sum
    }
  }

  /** max / mean of per-task shuffle-read records, worst stage */
  private def skew(js: Seq[JobStats]): Double = {
    val per = js.flatMap(_.shuffleReadRecords.values).filter(_.nonEmpty)
    if (per.isEmpty) 1.0
    else per.map(rs => rs.max.toDouble / math.max(1e-9, rs.sum.toDouble / rs.size)).max
  }

  def metrics: Seq[(String, Double, String)] = {
    def t(n: String) = (s"$n.time_s", sum(n), "s")
    val np = jobs("numeric_profiler"); val tv = jobs("topk_values"); val tp = jobs("topk_patterns")
    val sc = jobs("scan")
    Seq(t("scan"), ("scan.bytes_read", sc.map(_.bytesRead).sum.toDouble, "bytes"),
      ("scan.records_read", sc.map(_.recordsRead).sum.toDouble, "count"),
      ("scan.tasks", sc.map(_.tasks).sum.toDouble, "count"),
      t("numeric_profiler"),
      ("numeric_profiler.task_cpu_s", np.map(_.cpuNs).sum / 1e9, "s"),
      ("numeric_profiler.gc_s", np.map(_.gcMs).sum / 1e3, "s"),
      ("numeric_profiler.tasks", np.map(_.tasks).sum.toDouble, "count"),
      ("numeric_profiler.agg_columns", aggColumns.toDouble, "count"),
      ("numeric_profiler.peak_exec_mem_bytes", np.map(_.peakExecMem).foldLeft(0L)(_ max _).toDouble, "bytes"),
      t("moments"), t("render_length"), t("type_census"), t("pattern_mask"),
      t("topk_values"),
      ("topk_values.shuffle_write_bytes", tv.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("topk_values.shuffle_records", tv.map(_.shuffleWriteRecords).sum.toDouble, "count"),
      ("topk_values.partition_skew", skew(tv), "ratio"),
      ("topk_values.spill_bytes", tv.map(_.spillBytes).sum.toDouble, "bytes"),
      t("topk_patterns"),
      ("topk_patterns.shuffle_write_bytes", tp.map(_.shuffleWriteBytes).sum.toDouble, "bytes"),
      ("topk_patterns.shuffle_records", tp.map(_.shuffleWriteRecords).sum.toDouble, "count"))
  }
}
