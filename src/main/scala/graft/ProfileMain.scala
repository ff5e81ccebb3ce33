package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.QueryUtil

/** CLI twin of the reference's entry point (jar/ProfileJob.java:78-162,
  * `ProfileJob.main`) — profile a table and print the full report, so
  * a user of the reference can point this at their data and get the
  * same statistics surface from one command:
  *
  * {{{
  *   sbt "runMain graft.ProfileMain <path> [topK]"
  *   sbt "runMain graft.ProfileMain --stream <dir> <tsCol> <keyCol> <valueCol> [window] [watermark]"
  * }}}
  *
  * Batch: the path dispatches on extension — `.csv` (header + inferred
  * schema), `.json`/`.jsonl`, else parquet. The reference's
  * ParameterTool args map to plain CLI args; its in-memory demo
  * generator corresponds to ProfileSpec's fixture (FIXTURES.md), and
  * the report format matches StatsPojo.toString (print bug #1 fixed,
  * documented).
  *
  * `--stream` runs the same profile algebra UNBOUNDED:
  * [[QueryUtil.streamParquet]] replays `<dir>` (a parquet directory, or
  * one parquet file among others) into
  * [[graft.streaming.StreamingProfile.windowedMoments]] (the Pébay
  * moments kernel as incremental streaming state, watermark bounding
  * it), and [[QueryUtil.drain]] runs it with an AvailableNow trigger,
  * so the CLI terminates after cataloging what has arrived — pointed at
  * a growing directory with a continuous trigger the identical plan
  * runs forever. It is the replay path of every gated streaming query.
  * The event-time column dispatches on its physical type exactly like
  * the query surface (epoch-nanos long / TIMESTAMP / TIMESTAMP_NTZ via
  * [[QueryUtil.eventTs]]).
  */
object ProfileMain {

  /** The `--stream` pipeline, as a testable value: windowed per-key
    * moments of the parquet at `dir` (a directory or a file), computed
    * INCREMENTALLY by a real streaming query ([[QueryUtil.drain]]:
    * memory sink, AvailableNow, fail-loud on timeout), returned as the
    * final result table ordered by window and key. Equal, row for row,
    * to the batch windowedMoments of the same data — the merge algebra
    * is what the spec pins. */
  def streamProfile(
      spark0: SparkSession, dir: String, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    QueryUtil.withStreamStatePartitions(spark0) { spark =>
      val src = QueryUtil.streamParquet(spark, dir)
      val moments = graft.streaming.StreamingProfile.windowedMoments(
        src.withColumn("__event_ts", QueryUtil.eventTs(src, tsCol)),
        "__event_ts", keyCol, valueCol, windowLen, watermark)
      QueryUtil.drain(moments, "profile_stream_result", "complete")
        .orderBy(col("window_start"), col(keyCol))
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ProfileMain <path> [topK] | --stream <dir> <tsCol> <keyCol> <valueCol> [window] [watermark]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args(0) == "--stream") {
      require(args.length >= 5,
        "usage: ProfileMain --stream <dir> <tsCol> <keyCol> <valueCol> [window] [watermark]")
      val windowLen = if (args.length > 5) args(5) else "1 hour"
      val watermark = if (args.length > 6) args(6) else "10 minutes"
      val out = streamProfile(spark, args(1), args(2), args(3), args(4),
        windowLen, watermark)
      out.show(1000, truncate = false)
    } else {
      val path = args(0)
      val topK = if (args.length > 1) args(1).toInt else 20
      val df =
        if (path.endsWith(".csv"))
          spark.read.option("header", "true").option("inferSchema", "true").csv(path)
        else if (path.endsWith(".json") || path.endsWith(".jsonl"))
          spark.read.json(path)
        else spark.read.parquet(path)
      println(graft.profile.ProfileRunner.report(df, topK))
    }
    spark.stop()
  }
}
