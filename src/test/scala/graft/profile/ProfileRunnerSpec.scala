package graft.profile

import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, CountDownLatch, ExecutionException, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestShims
import org.apache.spark.sql.types.{StringType, StructField}
import graft.SparkSpec

/** [[ProfileRunner.profile]] runs its numeric and top-K queries at the
  * same time: the result equals running them one after the other, every
  * job is tagged with its request and layer, and one query's failure
  * cancels the other. Also the inputs that must profile: ±Infinity,
  * repeated column names and tables with no columns. */
class ProfileRunnerSpec extends SparkSpec {

  /** The two queries one after the other on the caller's thread, stitched
    * on the driver by column name. */
  private def sequential(df: DataFrame, k: Int = 20): TableProfile = {
    val base = NumericProfiler.profile(df)
    val strCols = df.schema.fields.collect { case StructField(n, _: StringType, _, _) => n }.toSeq
    val tops =
      if (strCols.isEmpty) Map.empty[(String, String), Seq[(String, Long)]]
      else TopK.topKAll(df, strCols, k).collect().toSeq
        .groupBy(r => (r.getString(0), r.getString(1)))
        .view.mapValues(_.sortBy(_.getInt(4)).map(r => (r.getString(2), r.getLong(3)))).toMap
    base.copy(columns = base.columns.map { cp =>
      cp.copy(
        topValues = tops.getOrElse((TopK.Value, cp.name), Nil),
        topPatterns = tops.getOrElse((TopK.Pattern, cp.name), Nil))
    })
  }

  private val layers = Set(ProfileRunner.NumericTag, ProfileRunner.TopKTag)

  /** One started job: its id, job tags and description. */
  private final case class Job(id: Int, tags: Set[String], description: String) {
    def layer: Set[String] = tags.intersect(layers)
    def request: Set[String] = tags.filter(t => t.startsWith("graft-profile-") && !layers(t))
  }

  /** Run `body`; the jobs it started and how each ended. */
  private def withJobs[T](body: => T): (Either[Throwable, T], Seq[Job], Map[Int, JobResult]) = {
    val sc = spark.sparkContext
    TestShims.drainListenerBus(sc)
    val started = new ConcurrentLinkedQueue[Job]()
    val ended = TrieMap.empty[Int, JobResult]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        started.add(Job(e.jobId, prop("spark.job.tags").toSeq.flatMap(_.split(",")).toSet,
          prop("spark.job.description").orNull))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended(e.jobId) = e.jobResult
    }
    sc.addSparkListener(listener)
    try {
      val out = try Right(body) catch { case e: Throwable => Left(e) }
      TestShims.drainListenerBus(sc)
      (out, started.asScala.toSeq, ended.toMap)
    } finally sc.removeSparkListener(listener)
  }

  test("profile equals the numeric and top-K queries run one after the other") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "reference demo" -> ProfileSpec.referenceRows(2000).toDF("col1", "col2", "col3"),
      "no string columns" -> Seq((1, 2.5), (2, -1.0), (3, 4.0)).toDF("i", "d"),
      "empty, string columns" -> Seq.empty[(String, Int)].toDF("s", "n"),
      "all-null string column" -> Seq[(String, Int)]((null, 1), (null, 2)).toDF("s", "n"))
    cases.foreach { case (name, df) =>
      val got = ProfileRunner.profile(df)
      assert(got == sequential(df), name)
      if (name != "reference demo") assert(got.columns.forall(_.topValues.isEmpty), name)
    }
    val demo = ProfileRunner.profile(cases.head._2)
    assert(demo.columns(1).topValues.head._1 == "3" && demo.columns(1).topPatterns.nonEmpty)
  }

  test("every job of a profile carries its request tag and exactly one layer tag") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val df = ProfileSpec.referenceRows(1000).toDF("col1", "col2", "col3")
    val runs = Seq.fill(2)(withJobs(ProfileRunner.profile(df)))
    runs.foreach { case (out, jobs, _) =>
      assert(out.isRight, out)
      assert(jobs.nonEmpty)
      assert(jobs.map(_.request).distinct.size == 1 && jobs.head.request.size == 1, jobs)
      jobs.foreach { j =>
        assert(j.layer.size == 1, j)
        assert(j.description == s"ProfileRunner.profile ${j.layer.head}", j)
      }
      assert(jobs.flatMap(_.layer).toSet == layers, jobs)
    }
    assert(runs(0)._2.head.request != runs(1)._2.head.request, "one request tag per call")
    assert(sc.getJobTags().isEmpty, sc.getJobTags())
    assert(sc.getLocalProperty("spark.job.description") == null)

    // no string columns: the numeric query alone
    val (out, jobs, _) = withJobs(ProfileRunner.profile(Seq((1, 2.5)).toDF("i", "d")))
    assert(out.isRight && jobs.nonEmpty, out)
    assert(jobs.forall(_.layer == Set(ProfileRunner.NumericTag)), jobs)
    assert(sc.getJobTags().isEmpty, sc.getJobTags())
  }

  test("a failed query throws Spark's own error and leaves no job running") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_profile_runner").toFile
    val path = new java.io.File(dir, "t.parquet").getPath
    try {
      Seq(("a", 1), ("b", 2), ("a", 3)).toDF("s", "n").write.parquet(path)
      val df = spark.read.parquet(path)
      graft.sources.IndexStore.deleteRecursively(new java.io.File(path))
      val e = intercept[SparkException](ProfileRunner.profile(df))
      assert(!e.isInstanceOf[ExecutionException] && !e.isInstanceOf[CompletionException], e)
      assert(e.getMessage.contains("FILE_NOT_EXIST"), e)
      TestShims.drainListenerBus(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    } finally graft.sources.IndexStore.deleteRecursively(dir)
  }

  test("a failed numeric query cancels the running top-K query and throws its own error") {
    // the top-K query reads only `s` and sleeps on every row; the numeric
    // query also reads `n` and fails on its first row. One partition: each
    // query's scan is one task, so neither waits for a core
    val slow = udf { (i: Long) => Thread.sleep(20); i.toString }
    val df = spark.range(0, 200, 1, 1).select(slow(col("id")).as("s"),
      when(col("id") >= 0, raise_error(lit("numeric query failed"))).otherwise(lit(1)).as("n"))
    val (out, jobs, ended) = withJobs(ProfileRunner.profile(df))
    val e = out.left.getOrElse(fail("the profile did not fail"))
    assert(e.getMessage.contains("numeric query failed"), e)
    val topK = jobs.filter(_.layer == Set(ProfileRunner.TopKTag))
    assert(topK.nonEmpty && topK.forall(j => ended.get(j.id).exists(_.isInstanceOf[JobFailed])),
      s"$topK ended ${topK.map(j => ended.get(j.id))}")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a top-K query failing after the numeric query succeeded throws its own error") {
    // the string column's UDF throws only inside top-K tasks, and only once
    // the numeric query's job has ended, so the numeric query succeeds first
    val sc = spark.sparkContext
    ProfileRunnerSpec.numericEnded = new CountDownLatch(1)
    val numericJobs = TrieMap.empty[Int, Unit]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(ProfileRunner.NumericTag))) numericJobs(e.jobId) = ()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (numericJobs.contains(e.jobId)) ProfileRunnerSpec.numericEnded.countDown()
    }
    val failInTopK = udf { (i: Long) =>
      val tags = Option(TaskContext.get.getLocalProperty("spark.job.tags")).getOrElse("")
      if (tags.split(",").contains(ProfileRunner.TopKTag)) {
        ProfileRunnerSpec.numericEnded.await(60, TimeUnit.SECONDS)
        throw new IllegalStateException("top-K query failed")
      }
      i.toString
    }
    val df = spark.range(0, 10, 1, 1).select(failInTopK(col("id")).as("s"), col("id").as("n"))
    sc.addSparkListener(listener)
    val (out, jobs, ended) =
      try withJobs(ProfileRunner.profile(df)) finally sc.removeSparkListener(listener)
    val e = out.left.getOrElse(fail("the profile did not fail"))
    assert(e.isInstanceOf[SparkException], e)
    assert(!e.isInstanceOf[ExecutionException] && !e.isInstanceOf[CompletionException], e)
    assert(e.getMessage.contains("top-K query failed"), e)
    val numeric = jobs.filter(_.layer == Set(ProfileRunner.NumericTag))
    assert(numeric.nonEmpty && numeric.forall(j => ended.get(j.id).contains(JobSucceeded)),
      s"$numeric ended ${numeric.map(j => ended.get(j.id))}")
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getJobTags().isEmpty, sc.getJobTags())
  }

  test("±Infinity in double and float columns profiles and renders as Infinity") {
    val s = spark
    import s.implicits._
    val (inf, finf) = (Double.PositiveInfinity, Float.PositiveInfinity)
    val df = Seq((inf, finf), (-inf, -finf), (1.5, 1.5f), (Double.NaN, Float.NaN)).toDF("d", "f")
    val tp = ProfileRunner.profile(df)
    tp.columns.foreach { cp =>
      // "Infinity", "-Infinity", "1.5", "" (NaN)
      assert((cp.minLength, cp.maxLength, cp.avgLength) == (Some(0L), Some(9L), Some(5.0)), cp)
      assert(cp.moments.n == 4 && cp.moments.min == -inf, cp)
    }
    assert(ValueRender.doubleAsStr(-inf) == "-Infinity" && ValueRender.floatAsStr(finf) == "Infinity")
    val report = ProfileRunner.report(Seq(Double.NaN, inf, 1.0).toDF("d"))
    assert(report.contains("Max length: 8"), report)
  }

  test("columns with the same name get their own statistics and top-K lists") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", "y", 1), ("x", "z", 2), ("x", null, 3)).toDF("a", "a", "n")
    val tp = ProfileRunner.profile(df)
    assert(tp.columns.map(_.name) == Seq("a", "a", "n"))
    val Seq(a0, a1, _) = tp.columns
    assert(a0.nullValues == 0 && a1.nullValues == 1)
    assert(a0.topValues == Seq("x" -> 3L) && a1.topValues == Seq("y" -> 1L, "z" -> 1L))
    assert(a0.topPatterns == Seq("a" -> 3L) && a1.topPatterns == Seq("a" -> 2L))
    // each equals its data profiled alone
    assert(a0 == ProfileRunner.profile(Seq("x", "x", "x").toDF("a")).columns.head)
    assert(a1 == ProfileRunner.profile(Seq("y", "z", null).toDF("a")).columns.head)
    assert("Column 'a' \\(string\\)".r.findAllIn(ProfileRunner.report(df)).size == 2)
  }

  test("a table with no columns profiles: its rows count and are complete") {
    for ((df, rows) <- Seq(spark.range(3).select() -> 3L, spark.emptyDataFrame -> 0L)) {
      val tp = ProfileRunner.profile(df)
      assert((tp.rowCount, tp.completeRecords, tp.columns.isEmpty) == (rows, rows, true), tp)
      val report = ProfileRunner.report(df)
      assert(report.startsWith(s"Rows: $rows\nComplete records: $rows\n"), report)
    }
  }
}

object ProfileRunnerSpec {
  /** Opened when the numeric query's job of the top-K failure test ends;
    * a static field, as the task closure reaches it without serializing it. */
  @volatile var numericEnded = new CountDownLatch(0)
}
