package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // pre-JVM-work load reading: the contention stamp must capture the
    // MACHINE's state, not this process's own session-startup + warmup
    // burst (32 threads push the 1-min load past 2 on a quiet box)
    def loadAvg(): Seq[Double] =
      try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Store economics must be visible (and controllable): the graft_*
    // index stores persist across JVMs keyed by corpus fingerprint, so
    // a run inherits warm stores from any earlier run — fine for the
    // steady-serve semantics of the stored-index queries, but a
    // SCALING comparison (32- vs 8-core runs back to back) must not
    // read cache warmth as parallelism. SPARK_GRAFT_CLEAR_STORES=1
    // deletes every graft_* store before anything runs, so both runs
    // of a scaling pair pay identical store economics; either way the
    // run stamps how many stores it inherited and prints/records each
    // build it pays (IndexStore.buildLog + the "stores" JSON field).
    val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
    System.err.println(s"[bench] java.io.tmpdir = $storeRoot")
    def graftStores(root: java.io.File): Seq[java.io.File] =
      Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
        .sortBy(_.getName)
    if (sys.env.get("SPARK_GRAFT_CLEAR_STORES").exists(_ == "1")) {
      // build.sbt picks the tmpdir (/dev/shm or /tmp) by free space at
      // project load, so stores built under the other root are
      // stranded there: sweep both roots, not just this run's.
      val roots = (storeRoot +: Seq("/dev/shm", "/tmp").map(new java.io.File(_))).distinct
      roots.flatMap(graftStores).foreach(graft.sources.IndexStore.deleteRecursively)
      System.err.println(s"[bench] cleared graft_* stores under ${roots.mkString(", ")} (SPARK_GRAFT_CLEAR_STORES=1)")
    }
    val preWarmStores = graftStores(storeRoot)
    System.err.println(s"[bench] ${preWarmStores.size} graft_* stores pre-existing (warm) under $storeRoot")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // one-file-per-bucket sorted scans (BucketedTables.writeBucketed
      // guarantees the layout); lets bucketed merge joins skip the Sort
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // 64 MB broadcast threshold: see Verify.scala — the dedup verify
      // joins' per-doc array tables are ~12 MB at sf0.1, just over the
      // 10 MB default; the strategy choice stays size-governed.
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // JIT/codegen warmup on tiny sf0.001 queries (untimed): without it
    // the first timed query absorbs ~3-4 s of JVM warmup that belongs
    // to the process, not the operator (standard bench hygiene —
    // measure steady state, not cold start). The media queries warm
    // separately: the imageio/codec classes load nowhere else, and
    // cold-loading them inside a timed rep reads 2-3 s high (the
    // documented q72/q99 warmup trap).
    // Derive the warmup dir from the bench SF dir (smallest sibling SF,
    // else the SF dir itself) — a hardcoded path would silently no-op
    // on any machine without it and re-absorb the 2-3 s codec cold-load
    // into the first timed media rep.
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    try { SparkEntry.entry(spark).count(); spark.catalog.clearCache() }
    catch { case e: Throwable =>
      System.err.println(s"[bench] WARMUP SKIPPED (entry): ${e.getMessage}") }
    // q30/q118 additionally warm the Structured Streaming machinery
    // (micro-batch planner, HDFS state store provider, the stateful
    // flatMapGroups path): the ~14 streaming gates each pay query
    // start/stop, but the CLASS-LOAD share of that cost belongs to the
    // process and would otherwise land on the first timed streaming rep.
    Seq("q55_media_decode", "q72_jpeg_roundtrip", "q99_gif_frames",
        "q30_events_stream", "q118_stream_heavy_hitters").foreach { q =>
      try { SparkEntry.queries(q)(spark, warmDir).count(); spark.catalog.clearCache() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] WARMUP SKIPPED ($q @ $warmDir): ${e.getMessage}") }
    }
    // Store first-build warmup — at the TIMED SF dir, because the
    // persisted stores are keyed by corpus generation: the first
    // consumer of a store pays its one-time build (q232's CDC overlay
    // ~13 s, q313's graph backbone ~4 s), a cost that belongs to the
    // corpus generation, not to whichever query happens to run first.
    // Building them untimed here makes every timed rep measure the
    // steady serve path (min-of-2 already hid most of this, but a
    // store rebuilt mid-run still showed as >2x rep variance).
    Seq("q232_stream_upsert", "q313_recursive_reach").foreach { q =>
      try { SparkEntry.queries(q)(spark, sfDir).count(); spark.catalog.clearCache() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] STORE WARMUP SKIPPED ($q): ${e.getMessage}") }
    }
    // Speed canary: a fixed small reference query (q18, a plain
    // broadcast join + agg) timed warm after the JVM warmups. Known
    // good on this machine: ~0.5 s at sf0.1. The canary catches the
    // failure mode the load stamp CANNOT: hypervisor-level degradation
    // at zero load (observed 2026-08-15: q18 warm at 1.4-3.6 s with
    // loadavg < 0.5, whole board uniformly ~2x — such totals must not
    // set an anchor even though "contended" stays false).
    val canary = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try SparkEntry.queries("q18_join_revenue_nation")(spark, sfDir).count()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    // 1.6x the known-good q18 warm time (~0.5 s). Calibration note: a
    // 2026-08-15 run with canary 1.33 s still read uniformly ~1.7x the
    // healthy anchor — the first threshold (1.5) let it pass, so the
    // gate sits just above healthy-run jitter instead.
    val degraded = canary >= 0.8
    if (degraded)
      System.err.println(f"[bench] DEGRADED MACHINE: canary q18 = $canary%.2f s (known-good ~0.5)")
    // sorted order + cache clearing between queries: per-query persists
    // (dedup postings etc.) are internal scratch state; letting them
    // accumulate distorts later queries' memory and GC
    //
    // min-of-2 reps per query: this shared VM has documented multi-minute
    // stalls (round-2 driver bench recorded 143.6 s for a query that
    // re-times at 2.6 s in isolation). One stall can only poison one rep,
    // so the min is a contention-robust point estimate of steady-state
    // cost; a clean full run stays ~2 min.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q72,q99 times just those
    // queries (comma-separated name prefixes). Unset = the full board;
    // the driver never sets it, so recorded artifacts are always full.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // contention self-diagnosis: this VM has documented multi-minute
    // whole-system stalls. Load ≥ 2 BEFORE this process did any work
    // means another workload shared the machine and the totals read
    // high; the per-rep times show WHICH reps a stall hit (uniform
    // inflation across CPU-heavy queries = contention signature, not a
    // plan regression).
    val results = SparkEntry.queries.toSeq.filter(q => selected(q._1))
      .sortBy(_._1).map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable =>
                    Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, err)
      }
      val err = runs.flatMap(_._2).headOption
      val dt = runs.filter(_._2.isEmpty).map(_._1) match {
        case ok if ok.nonEmpty => ok.min
        case _ => runs.map(_._1).min
      }
      // incremental stderr progress: a timeout still leaves per-query evidence
      System.err.println(f"[bench] $name%-24s $dt%8.2f s${err.map(" ERR " + _).getOrElse("")}")
      (name, dt, err, runs.map(_._1))
    }
    val loadEnd = loadAvg()
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, _, rts) =>
      "\"" + k + "\":[" + rts.map(t => f"$t%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    def loadJson(l: Seq[Double]) = l.mkString("[", ",", "]")
    // machine-readable contention verdict: load >= 2 at the START means
    // another workload shared the machine — the totals read high and
    // MUST NOT set a performance baseline (per-rep times show which reps
    // a stall hit). START only: the bench's own 32 threads push the END
    // load to ~10 on a perfectly quiet box, so the end value can only
    // diagnose, never convict. Self-stamped so no artifact consumer has
    // to reconstruct the run's load after the fact.
    val contended = loadStart.take(2).exists(_ >= 2.0)
    // Store build accounting: every graft_* store THIS run built (name
    // → seconds, from IndexStore.buildLog) plus the count it inherited
    // warm. An all-warm run shows builds:{} — its numbers are
    // steady-serve; a cold run shows exactly which firsts it paid and
    // where (the rep_times show which rep absorbed each).
    import scala.jdk.CollectionConverters._
    val builds = graft.sources.IndexStore.buildLog.asScala.toSeq.sortBy(_._1)
    builds.foreach { case (n, s) =>
      System.err.println(f"[bench] store built this run: $n ${s.doubleValue}%.2f s") }
    val storesJson = builds
      .map { case (n, s) => "\"" + esc(n) + "\":" + f"${s.doubleValue}%.2f" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","contended":$contended,"canary_sec":${f"$canary%.3f"},"degraded":$degraded,"loadavg_start":${loadJson(loadStart)},"loadavg_end":${loadJson(loadEnd)},"stores_prewarmed":${preWarmStores.size},"store_builds":$storesJson,"rep_times":$repsJson}"""
    println(json)
    // Also persist to a file: sbt prefixes stdout with [info], which broke
    // the driver's JSON parse in rounds 1 and 2 ("parsed": null). A bare
    // file is unambiguous.
    val out = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    // And append the same line (timestamped) to a committed history:
    // the round driver's BENCH_rNN.json keeps only a 2,000-char tail,
    // so ~55 of the per-query times survive per round in ITS artifacts
    // — this file preserves every query's time for round-over-round
    // diffing. Append-only; ~50 KB per full-surface run.
    val hist = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "BENCH_HISTORY.jsonl")
    if (hist.nonEmpty) {
      val stamped = s"""{"at":"${java.time.Instant.now()}",""" + json.drop(1) + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(hist),
        stamped.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}
