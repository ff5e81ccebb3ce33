package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Shared helpers for the driver-facing query surface.
  *
  * Conventions that make the DuckDB oracle hash-compare deterministic
  * (see SURVEY.md §7.3):
  *  - every floating aggregate is rounded to a fixed scale in BOTH
  *    engines (sum-of-double differences are ~1e-12 relative; rounding
  *    removes them);
  *  - money-like sums go through DECIMAL(18,2) so they are exact and
  *    order-independent, then back to DOUBLE for a stable type;
  *  - every query output has an explicit total ORDER BY;
  *  - aggregate/computed columns are aliased identically in both engines.
  *
  * It also holds the stream policy every finite streaming query shares:
  * the state partitions of a stream session
  * ([[withStreamStatePartitions]]) and the one replay path
  * ([[streamParquet]] + [[drain]], fail-loud through [[awaitOrFail]]).
  */
object QueryUtil {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact order-independent sum of a money-valued double expression.
    *
    * Per-row quantization must be a pure IEEE-deterministic function of
    * the double so Spark and the DuckDB oracle agree bit-for-bit:
    * `floor(x*100)` is (decimal casts round the *shortest string repr*
    * in the JVM but the *true binary value* in DuckDB — they disagree on
    * .xx5-straddling doubles). The cent sum is an exact integer; the
    * final /100 is a single deterministic IEEE division. */
  def moneySum(c: Column): Column =
    (sum(floor(c * lit(100d)).cast("long")).cast("double") / lit(100d))

  /** DuckDB rendering of [[moneySum]]. */
  def moneySumSql(expr: String): String =
    s"(sum(floor(($expr) * 100)::BIGINT)::DOUBLE / 100)"

  def r6(c: Column): Column = round(c, 6)

  /** Exact 6-decimal half-up mean of a CENT sum: `round(cents/(100·n),
    * 6)` computed wholly in integer space — `(2·cents·10⁴ + n) div
    * (2·n)` micro-units, then ONE exact double division. Money-valued
    * means land on the .5e-6 edge constantly (cents/n is a terminating
    * decimal), and there float rounding is engine-specific twice over:
    * the engines' sums differ by an ulp, and Spark's `round` rounds
    * the SHORTEST-STRING decimal of the double (BigDecimal.valueOf)
    * while DuckDB rounds its true binary value. Integer arithmetic has
    * no edge. Columns must be LONG; micro-unit magnitudes stay exact
    * (< 2⁵³) for cent sums up to ~10¹⁴. */
  def centMean6(centsCol: String, nCol: String): Column =
    // `1e6` (not `1000000.0`): a decimal literal would make the whole
    // division DECIMAL(30,9); the oracle side is ::DOUBLE, and the
    // driver's hash gate compares output TYPES, not just values.
    expr(s"((2 * $centsCol * 10000 + $nCol) div (2 * $nCol)) / 1e6")

  /** DuckDB rendering of [[centMean6]]. */
  def centMean6Sql(cents: String, n: String): String =
    s"(((2 * ($cents) * 10000 + ($n)) // (2 * ($n)))::DOUBLE / 1000000.0)"

  /** DuckDB accessor for the `i1`-th (1-based) BYTE of a hex-encoded
    * blob expression `hexExpr` (e.g. `hex(encode(text))`), as an INT in
    * 0..255. Byte-safe replacement for `ord(substring(text, i, 1))`,
    * which indexes CHARACTERS and returns CODEPOINTS — on non-ASCII
    * text the two diverge from the Spark side's `cast(text AS binary)`
    * byte view. DuckDB `hex` emits uppercase digits. */
  def byteAtSql(hexExpr: String, i1: String): String =
    s"(16*(strpos('0123456789ABCDEF', substring($hexExpr, (2*($i1)-1)::INT, 1))-1)" +
      s" + (strpos('0123456789ABCDEF', substring($hexExpr, (2*($i1))::INT, 1))-1))"

  /** A literal comparable with a parquet timestamp column regardless of
    * whether Spark mapped it to TIMESTAMP or TIMESTAMP_NTZ. */
  def tsLit(df: DataFrame, colName: String, value: String): Column =
    lit(value).cast(df.schema(colName).dataType)

  // ---- schema-driven event-time access --------------------------------
  //
  // The events fixture has shipped `ts` as BOTH parquet TIMESTAMP(NANOS)
  // (which Spark reads as a LONG of epoch nanos under
  // spark.sql.legacy.parquet.nanosAsLong) and plain timestamp[us] (which
  // Spark 4 maps to TIMESTAMP_NTZ for isAdjustedToUTC=false files, or
  // TIMESTAMP for UTC-adjusted ones). Any real deployment faces the same
  // drift: event-time arithmetic must dispatch on the SCHEMA, never
  // assume a physical type. These helpers are that dispatch; every
  // query/stream touching `ts` goes through them. The DuckDB oracle side
  // (`epoch_us(ts::TIMESTAMP)`) is type-proof already.

  /** SQL expression string for `ts` as exact epoch MICROS (long).
    *
    *  - long epoch-nanos → `(ts - pmod(ts, 1000)) div 1000`: FLOOR
    *    division in exact integer math (`div` truncates toward zero;
    *    the pmod form floors, matching DuckDB for pre-1970 instants;
    *    nanos exceed double's 53-bit mantissa so no double detour);
    *  - TIMESTAMP → `unix_micros(ts)` (micros are the storage type);
    *  - TIMESTAMP_NTZ → `unix_micros(cast(ts as timestamp))`: the naive
    *    wall time interpreted in the session zone. Every graft entry
    *    point (Verify/Bench/ProfileMain/tests) pins
    *    spark.sql.session.timeZone=UTC, which makes this the
    *    naive-as-UTC epoch — exactly DuckDB's `epoch_us(ts)`.
    */
  def eventTsUsExpr(schema: StructType, c: String): String =
    schema(c).dataType match {
      case LongType         => s"(($c - pmod($c, 1000)) div 1000)"
      case TimestampType    => s"unix_micros($c)"
      case TimestampNTZType => s"unix_micros(cast($c as timestamp))"
      case dt => throw new IllegalArgumentException(
        s"event-time column `$c` has unsupported type ${dt.simpleString}" +
          " (expected epoch-nanos LONG, TIMESTAMP, or TIMESTAMP_NTZ)")
    }

  /** `ts` as exact epoch micros (LONG column), whatever type the
    * parquet carries. */
  def eventTsUs(df: DataFrame, c: String = "ts"): Column =
    expr(eventTsUsExpr(df.schema, c))

  /** `ts` as a TIMESTAMP column (micros precision, floor from nanos). */
  def eventTs(df: DataFrame, c: String = "ts"): Column =
    expr(s"timestamp_micros(${eventTsUsExpr(df.schema, c)})")

  /** `ts` floored to the hour, as epoch SECONDS (long) — the
    * engine-neutral hashable window key of q19. */
  def eventHourEpoch(df: DataFrame, c: String = "ts"): Column = {
    val us = eventTsUsExpr(df.schema, c)
    expr(s"((($us) - pmod($us, 3600000000)) div 3600000000) * 3600")
  }

  /** The events table with an exact epoch-micros `ts_us` LONG column. */
  def eventsTsUs(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.withColumn("ts_us", eventTsUs(ev))
  }

  /** The events table with a micros-precision TIMESTAMP `event_ts`. */
  def eventsEventTs(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.withColumn("event_ts", eventTs(ev))
  }

  /** Upper bound on the state partitions of a stream session (see
    * [[streamStatePartitions]]).
    *
    * Stateful operators allocate `spark.sql.shuffle.partitions` state
    * stores per operator (a stream-stream join spins FOUR per
    * partition), and every micro-batch pays store open/commit/snapshot
    * per partition — a fixed cost independent of data volume. State
    * partitioning is therefore capped by STATE VOLUME, not raised with
    * CPU count: the bench corpus carries KB-scale state, where 8
    * partitions cuts the q46 join from ~8 s to ~2.6 s warm; a 100 TB
    * deployment sizes this up (it is pinned per-query into the
    * checkpoint on first start, exactly like a production job picks it
    * at deploy time). */
  val StreamStatePartitions = 8

  /** State partitions of every stream session of `spark`:
    * `min(`[[StreamStatePartitions]]`, defaultParallelism)`, so one
    * trigger's state stage runs in at most one wave of tasks. Each store
    * commits four files per batch (delta, checksum and a `.crc` of each;
    * on the local file system that forks ~20 `chmod`/`readlink`
    * processes per store), so a store costs the same whether it holds
    * one row or a hundred, and more stores than task slots add a wave to
    * every trigger. Spark pins the count into a checkpoint's offset log:
    * a checkpoint resumes at the count it was written with. */
  def streamStatePartitions(spark: SparkSession): Int =
    math.min(StreamStatePartitions, spark.sparkContext.defaultParallelism)

  /** One POOLED streaming child session per parent session, lazily
    * created (see [[withStreamStatePartitions]]). Pooling — instead of
    * a fresh `newSession` per streaming query — amortizes the
    * session-scoped streaming machinery (StreamingQueryManager,
    * listener bus, state-store coordinator registration) across the
    * ~17 gated streaming queries: that setup is a per-SESSION cost the
    * per-call variant paid on every invocation. One entry per parent
    * session — a handful per JVM at most (harness mains hold one). */
  private val streamSessionPool =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** Run `body` (typically: build + start + await a streaming query)
    * against an ISOLATED child session (`newSession`: own SQLConf and
    * temp views, shared SparkContext/state) whose
    * `spark.sql.shuffle.partitions` = [[streamStatePartitions]]. The
    * conf is read at query START and recorded in the checkpoint, so it
    * must span planning; results never depend on it. A child session —
    * not set/restore on the shared session — because two overlapping
    * wraps on one session can interleave (B reads A's override as
    * "old") and leak the override to concurrent batch planning. The
    * child is POOLED per parent ([[streamSessionPool]]): every gated
    * streaming query wants the identical conf override, so sharing one
    * warmed child is safe (memory-sink temp views are per-query-named
    * and re-created defensively at each call site). */
  def withStreamStatePartitions[T](spark: SparkSession)(body: SparkSession => T): T = {
    val s = streamSessionPool.computeIfAbsent(spark, { p =>
      val c = p.newSession()
      c.conf.set("spark.sql.shuffle.partitions", streamStatePartitions(p).toString)
      c
    })
    body(s)
  }

  // ---- finite-stream replay -------------------------------------------
  //
  // Every finite streaming query of the library (the gated streaming
  // queries and `ProfileMain --stream`) replays parquet that has already
  // landed, runs to completion and reads its result back: a finite
  // replay is the same query as the unbounded one, run until it has
  // consumed what is there. [[streamParquet]] is the replay source and
  // [[drain]] the run; together they are the one replay path.

  /** `path` replayed as a stream, with the schema of its batch read.
    * File streaming sources take a directory, so a parquet FILE becomes
    * its directory plus a `pathGlobFilter` on its name (the one table
    * among the others of a data directory); a directory is read as
    * is. */
  def streamParquet(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.readStream.schema(spark.read.parquet(path).schema)
    val f = new java.io.File(path).getAbsoluteFile
    if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
    else reader.parquet(path)
  }

  /** Runs `stream` to completion into the memory sink `name` (an
    * `AvailableNow` trigger consumes what has arrived, then stops) and
    * returns the sink's table.
    *
    * The view `name` is dropped first. A memory sink registers its
    * table as a temp view of the session, and the pooled stream session
    * keeps the view of an earlier run under the same name; dropped, a
    * run that fails before its sink registers leaves the name absent,
    * never bound to the earlier run's rows. Dropping an absent view is
    * a no-op.
    *
    * Fail-loud contract ([[awaitOrFail]]): a replay that does not drain
    * in [[StreamDrainTimeoutMs]] is stopped and throws, never read as a
    * partial sink. */
  def drain(stream: Dataset[_], name: String, outputMode: String): DataFrame = {
    val spark = stream.sparkSession
    spark.catalog.dropTempView(name)
    awaitOrFail(stream.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start())
    spark.table(name)
  }

  /** Streaming-gate drain timeout (ms): generous against contended
    * environments (the driver has run 10× slower than steady under
    * hypervisor load), small enough that a hung query fails the round
    * visibly instead of wedging the whole Verify run. */
  val StreamDrainTimeoutMs = 300000L

  /** Await a finite streaming replay's termination and FAIL LOUDLY on
    * timeout. Every gate used to `awaitTermination(300000)` and fall
    * through to reading the memory sink — on a timeout that reads a
    * PARTIAL result and turns an environment hang into a silent
    * hash-level red (the round-11 verdict flagged exactly this seam on
    * q281's shared child session). A timeout now stops the query and
    * throws, so the driver's gate records an honest error row instead
    * of comparing truncated output. */
  def awaitOrFail(q: StreamingQuery): Unit =
    if (!q.awaitTermination(StreamDrainTimeoutMs)) {
      try q.stop() catch { case _: Throwable => () }
      throw new IllegalStateException(
        s"streaming query '${q.name}' did not drain in " +
          s"${StreamDrainTimeoutMs / 1000} s — refusing to read a " +
          "possibly-partial memory sink")
    }

  /** Frees the blocks of a `localCheckpoint`ed DataFrame: its plan is a
    * `LogicalRDD` over the checkpointed RDD, which otherwise lingers
    * until the context cleaner collects it. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
