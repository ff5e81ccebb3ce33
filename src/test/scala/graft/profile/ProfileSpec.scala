package graft.profile

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{GetTimestamp, Lower, ParseToTimestamp, RLike}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.StringType
import graft.SparkSpec
import graft.functions.PatternMask
import graft.streaming.StreamingProfile

object ProfileSpec {

  /** The reference's demo generator, reproduced exactly:
    * every 3rd row (true,"3",1); else every 7th (true,"7",1); else every
    * 11th (null,"ABCDEF00X30A333Y",i); else (true, ""+i, i). i in 1..n.
    * (i%3 wins ties — see SURVEY.md §5.1.) */
  def referenceRows(n: Int): Seq[(java.lang.Boolean, String, Integer)] =
    (1 to n).map { i =>
      if (i % 3 == 0) (java.lang.Boolean.TRUE, "3", Integer.valueOf(1))
      else if (i % 7 == 0) (java.lang.Boolean.TRUE, "7", Integer.valueOf(1))
      else if (i % 11 == 0) (null: java.lang.Boolean, "ABCDEF00X30A333Y", Integer.valueOf(i))
      else (java.lang.Boolean.TRUE, "" + i, Integer.valueOf(i))
    }
}

/** Whole-table profiler vs hand-checkable data + reference-parity
  * fixture (the demo generator from jar/ProfileJob.java:44-65). */
class ProfileSpec extends SparkSpec {
  import ProfileSpec.referenceRows

  test("reference demo fixture: profile matches directly-computed stats") {
    val s = spark
    import s.implicits._
    val n = 10000
    val rows = referenceRows(n)
    val df = rows.toDF("col1", "col2", "col3")
    val tp = ProfileRunner.profile(df)

    assert(tp.rowCount == n)
    val nulls1 = rows.count(_._1 == null)
    assert(tp.columns(0).nullValues == nulls1)
    // completeness: rows where col1 is null are incomplete, others complete
    assert(tp.completeRecords == n - nulls1)

    val c3 = tp.columns(2)
    val vals = rows.map(_._3.toDouble)
    assert(c3.moments.n == n)
    assert(math.abs(c3.moments.mean - vals.sum / n) < 1e-9 * vals.sum / n)
    assert(c3.moments.min == 1.0 && c3.moments.max == vals.max)

    val c2 = tp.columns(1)
    assert(c2.census.isDefined)
    val cs = c2.census.get
    // int census counts every parseable int (all except the marker string)
    assert(cs.intValues == rows.count(_._2 != "ABCDEF00X30A333Y"))
    assert(cs.dateValues == 0L)
    // boolean census counts only literal "true" (reference F5 quirk)
    assert(cs.booleanValues == 0L)

    // top values: "3" dominates (every 3rd row), then "7"
    assert(c2.topValues.head._1 == "3")
    assert(c2.topValues.head._2 == rows.count(_._2 == "3"))
  }

  test("single-pass plan: exactly one scan for the whole profile") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val aggCols = Seq(count(lit(1)).as("row_count")) ++
      df.schema.fields.zipWithIndex.flatMap { case (f, i) =>
        NumericProfiler.aggsFor(i, f)
      }
    val plan = df.agg(aggCols.head, aggCols.tail: _*)
      .queryExecution.executedPlan.toString
    val scans = "FileScan|Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      "global aggregate should not hash-shuffle row data")
  }

  /** Inputs the kernel must agree with the reference fold on: a real
    * column and the edge cases of one window. */
  private def kernelCases: Seq[(String, Seq[Option[Double]])] = {
    val quantity = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_quantity").cast("double")).collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    Seq(
      "l_quantity" -> quantity,
      "empty" -> Seq.empty,
      "all_null" -> Seq(None, None, None),
      "single" -> Seq(Some(4.25)),
      "constant" -> Seq.fill(5)(Some(0.1)),
      "with_nan" -> Seq(Some(3.0), Some(Double.NaN), None, Some(-1.5)),
      "skewed" -> Seq(1.0, 1.0, 1.0, 2.0, 10.0, 30.0).map(Some(_)))
  }

  /** n exactly; M2, M3, M4 within 1e-9 of n·σ^k (both NaN also agree). */
  private def assertMoments(what: String, got: Moments, want: Moments): Unit = {
    assert(got.n == want.n, s"$what: n ${got.n} vs ${want.n}")
    Seq((2, got.m2, want.m2), (3, got.m3, want.m3), (4, got.m4, want.m4)).foreach {
      case (k, g, w) =>
        val scale = want.n * math.pow(DerivedStats.variancePop(want), k / 2.0)
        assert((g.isNaN && w.isNaN) || g == w || math.abs(g - w) <= 1e-9 * scale,
          s"$what: m$k $g vs $w")
    }
  }

  /** `windowedMoments` over a MemoryStream, each case one key of one
    * window, rows alternating between two micro-batches so the state
    * merges; the final row per key. */
  private def streamed(cases: Seq[(String, Seq[Option[Double]])]): Map[String, Row] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Option[Double])]
    val sink = "kernel_moments_test"
    val q = StreamingProfile.windowedMoments(input.toDF().toDF("ts", "key", "value"),
        "ts", "key", "value", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      val rows = cases.flatMap { case (k, vs) =>
        vs.zipWithIndex.map { case (v, i) =>
          (Timestamp.valueOf(f"2024-01-01 10:0${i % 10}%d:00"), k, v)
        }
      }
      val (a, b) = rows.zipWithIndex.partition(_._2 % 2 == 0)
      input.addData(a.map(_._1)); q.processAllAvailable()
      input.addData(b.map(_._1)); q.processAllAvailable()
      spark.table(sink).collect().map(r => r.getAs[String]("key") -> r).toMap
    } finally q.stop()
  }

  private def rowMoments(r: Row): Moments = {
    def d(c: String) = if (r.isNullAt(r.fieldIndex(c))) Double.NaN else r.getAs[Double](c)
    Moments(r.getAs[Long]("n"), d("mean"), d("m2"), d("m3"), d("m4"), d("min"), d("max"))
  }

  test("moments kernel agrees with the reference fold, batch and streamed") {
    val s = spark
    import s.implicits._
    val cases = kernelCases
    val stream = streamed(cases)
    cases.foreach { case (name, vs) =>
      val want = Moments.of(vs.flatten)
      val batch = NumericProfiler.profile(vs.toDF("v")).columns.head.moments
      assertMoments(s"profile $name", batch, want)
      if (vs.isEmpty) assert(!stream.contains(name), "an empty window emits no row")
      else assertMoments(s"stream $name", rowMoments(stream(name)), want)
    }
    // min/max follow Spark's ordering (NaN above every number) in both
    // profilers, where the reference fold lets NaN win both
    val withNan = rowMoments(stream("with_nan"))
    val batchNan = NumericProfiler.profile(cases.toMap.apply("with_nan").toDF("v"))
      .columns.head.moments
    Seq(withNan, batchNan).foreach { m =>
      assert(m.min == -1.5 && m.max.isNaN, s"NaN ordering: $m")
    }
    assert(Moments.of(Seq(3.0, Double.NaN)).min.isNaN)
  }

  test("streamed var_pop, skew_pop and kurt_pop equal DerivedStats of the moments") {
    def same(a: Double, b: Double) =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-12 * math.abs(b)
    val stream = streamed(kernelCases)
    assert(stream.size == kernelCases.size - 1)
    stream.foreach { case (name, r) =>
      val m = rowMoments(r)
      Seq("var_pop" -> DerivedStats.variancePop(m), "skew_pop" -> DerivedStats.skewnessPop(m),
          "kurt_pop" -> DerivedStats.kurtosisPop(m)).foreach { case (c, want) =>
        assert(same(r.getAs[Double](c), want), s"$name: $c ${r.getAs[Double](c)} vs $want")
      }
    }
    // the guards: n = 0 gives a NaN variance, M2 = 0 zero skew and kurtosis
    assert(stream("all_null").getAs[Double]("var_pop").isNaN)
    Seq("all_null", "single", "constant").foreach { k =>
      assert(stream(k).getAs[Double]("skew_pop") == 0.0 && stream(k).getAs[Double]("kurt_pop") == 0.0)
    }
  }

  test("one moments kernel: both profilers plan HashAggregate, no object or sort aggregate") {
    def assertHashOnly(what: String, plan: String): Unit = {
      assert(plan.contains("HashAggregate"), s"$what: no HashAggregate\n$plan")
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
        s"$what: object or sort aggregate\n$plan")
    }
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    assertHashOnly("NumericProfiler.profile",
      NumericProfiler.aggregate(df).queryExecution.executedPlan.toString)

    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingProfile.windowedMoments(input.toDF().toDF("ts", "key", "value"),
        "ts", "key", "value", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("kernel_plan_test").outputMode("update").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:01:00"), "a", 1.0))
      q.processAllAvailable()
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(q.explain())
      assertHashOnly("windowedMoments", out.toString("UTF-8"))
    } finally q.stop()
  }

  /** Both top-K lists by driver replay: a plain `groupBy` per column
    * counts the values, pattern counts fold `PatternMask.mask` over
    * those, ranked by (cnt desc, key asc). Rows (kind, col_name, key,
    * cnt, rank), sorted by kind, column and rank. */
  private def replayTopK(df: DataFrame, cols: Seq[String], k: Int) =
    cols.flatMap { c =>
      val vc = df.filter(col(c).isNotNull).groupBy(col(c)).count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val pc = vc.groupMapReduce(v => PatternMask.mask(v._1))(_._2)(_ + _).toSeq
      def ranked(kind: String, m: Seq[(String, Long)]) =
        m.sortBy { case (v, n) => (-n, v) }.take(k).zipWithIndex
          .map { case ((v, n), i) => (kind, c, v, n, i + 1) }
      ranked(TopK.Value, vc) ++ ranked(TopK.Pattern, pc)
    }.sortBy(t => (t._1, t._2, t._5))

  test("topKAll equals a driver replay of both top-K lists; the views keep their columns") {
    val s = spark
    import s.implicits._
    // ties at the k = 1 boundary (values x/y/X/Q, patterns a/A), nulls,
    // blank strings, accented values that share a pattern
    val a = Seq("x", "y", "X", "Q").flatMap(Seq.fill(3)(_)) ++
      Seq("Zé", "Zé", "Ze", "", "", " ", "\t", null, null, "café 1")
    val b = Seq("É1", "É1", "E1", "E1", "12-3", "ab", "ab", "Ab", "", null, " ",
      "ñ/ü:.'", null, "#x", "Ü", "U", "u", "ü")
    val df = a.zipAll(b, null, null).toDF("a", "b")
    val cols = Seq("a", "b")
    for (k <- Seq(1, 20)) {
      val want = replayTopK(df, cols, k)
      val got = TopK.topKAll(df, cols, k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getInt(4)))
        .toSeq.sortBy(t => (t._1, t._2, t._5))
      assert(got == want, s"k = $k")
      for ((kind, view) <- Seq(TopK.Value -> TopK.topKValuesAll(df, cols, k),
          TopK.Pattern -> TopK.topKPatternsAll(df, cols, k))) {
        assert(view.columns.toSeq == Seq("col_name", kind, "cnt", "rank"))
        val rows = view.collect().map(r =>
          (kind, r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
        assert(rows.toSeq.sortBy(t => (t._2, t._5)) == want.filter(_._1 == kind), s"$kind, k = $k")
      }
    }
  }

  test("topKAll plans one scan and one row-level aggregate exchange") {
    val df = spark.read.parquet(s"$sfDir/customer.parquet")
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    val q = TopK.topKAll(df, strCols, 20)
    q.collect()
    val plan = q.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = helper.collect(plan) { case s: FileSourceScanExec => s }
    // partition keys of each exchange: (kind, col_name, key) feeds the
    // aggregate, (kind, col_name) the window
    val keys = helper.collect(plan) { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
        case p => Set(p.toString)
      }
    }
    assert(scans.size == 1, s"expected 1 scan, got ${scans.size}:\n$plan")
    assert(keys.count(_ == Set("kind", "col_name", "key")) == 1 && keys.size == 2,
      s"expected one aggregate and one window exchange, got $keys:\n$plan")
  }

  test("value render parity quirks (CastUtils conventions)") {
    val s = spark
    import s.implicits._
    assert(ValueRender.doubleAsStr(0.0) == "0E0") // Calcite 0 -> "0E0"
    // a boolean renders as "true" (4) or "false" (5)
    val b = ProfileRunner.profile(Seq(true, false, true).toDF("b")).columns.head
    assert((b.minLength, b.maxLength) == (Some(4L), Some(5L)), b)
  }

  test("golden: rendered report on the reference demo fixture") {
    // SURVEY §5.2 item 4: the full rendered report (StatsPojo.toString,
    // StatsPojo.java:442-504, with the :449 numeric-values print bug
    // fixed — documented in ColumnProfile.report) is golden-filed so
    // any formatting or derived-stat drift is caught verbatim.
    // Regenerate deliberately with GRAFT_REGEN_GOLDEN=1 sbt test.
    val s = spark
    import s.implicits._
    val df = referenceRows(1000).toDF("col1", "col2", "col3")
    val got = ProfileRunner.report(df)
    val golden = java.nio.file.Paths.get("src/test/resources/reference_report.golden")
    if (sys.env.contains("GRAFT_REGEN_GOLDEN")) {
      java.nio.file.Files.createDirectories(golden.getParent)
      java.nio.file.Files.write(golden, got.getBytes("UTF-8"))
    }
    val want = new String(java.nio.file.Files.readAllBytes(golden), "UTF-8")
    assert(got == want, "rendered report drifted from golden file " +
      "(regenerate deliberately with GRAFT_REGEN_GOLDEN=1)")
  }

  test("scott bin width with skew correction (jar/ProfileJob.java:146-162)") {
    val m = Moments.of((1 to 1000).map(_.toDouble))
    val (w, reliable) = DerivedStats.scottBinWidth(m, 1000)
    assert(reliable)
    // symmetric data: plain scott rule, no correction
    val sigma = DerivedStats.stddevPop(m)
    assert(math.abs(w - math.floor(3.49 * sigma * math.pow(1000, -1.0 / 3))) < 1e-9)
  }

  // ---- the census kernel ----------------------------------------------

  /** The Spark SQL census predicates as they were spliced into the
    * profile aggregate before the kernel, built from [[TypeCensus]]'s
    * constants with the regex backslashes escaped for the SQL literal:
    * per counter, `eligible AND predicate` over column `c`. */
  private def sqlCensus(c: String): Seq[String] = {
    def rx(r: String) = s"regexp_like($c, '${r.replace("\\", "\\\\")}')"
    val dec = s"try_cast($c as decimal(38,0))"
    val dates = TypeCensus.dateShapes.map { case (shape, fmts, _) =>
      val parses = fmts.map(f => s"try_to_timestamp($c, '$f') IS NOT NULL").mkString(" OR ")
      s"(${rx(shape)} AND ($parses))"
    }.mkString("(", " OR ", ")")
    Seq(s"(lower($c) = 'true')",
      s"(${rx(TypeCensus.intRegex)} AND $dec BETWEEN ${Int.MinValue} AND ${Int.MaxValue})",
      s"(${rx(TypeCensus.intRegex)} AND $dec BETWEEN ${Long.MinValue} AND ${Long.MaxValue})",
      s"(${rx(TypeCensus.floatRegex)})", s"(${rx(TypeCensus.floatRegex)})", dates)
      .map(p => s"($c IS NOT NULL AND trim($c) <> '') AND $p")
  }

  /** Edge values, date-shaped strings with invalid days and months, and
    * seeded fuzz over the characters the census grammars use. */
  private def censusInputs: Seq[String] = {
    val edges = Seq(null, "", " ", "   ", "\t", "\n", "true", "TRUE", "tRuE", " true", "true ",
      "false", "truee", "1", "-1", "+1", "-", "+", "0", "-0", "123\n", "123\r\n", "123 ",
      "\n123", " 123", "123 ", "１２３", "٣", "00000000000000000000000000000000000000000123",
      "1" + "0" * 38, "1" + "0" * 37, "1.5", ".5", "5.", "1e5", "1E+5", "1e-5", "1.5f", "2D",
      "NaN", "Infinity", "-Infinity", "+NaN", "nan", "inf", "1e", "e5", ".", "..5", "1..5",
      "C19", "u001234", "x5", "12a45", "1,5", "0x1F", "2024-02-29", "2023-02-29", "2024-13-01",
      "2024-00-10", "2024-01-32", "20240229", "20231301", "2024/02/29", "29/02/2024",
      "02/29/2024", "13/13/2024", "31-12-1999", "12-31-1999", "2024-01-01\n", "20240101 ",
      "2024-01-01 ", " 2024-01-01", "2024-01-01\r\n", "2024-01-01\u2028", "20240101\u0085",
      "31/12/1999\r", "123\u2028", "2024-1-1", "99999999", "00000000", "0001-01-01",
      "9999-12-31") ++
      Seq(Int.MinValue, Int.MaxValue).flatMap(b => Seq(BigInt(b) - 1, BigInt(b), BigInt(b) + 1)).map(_.toString) ++
      Seq(Long.MinValue, Long.MaxValue).flatMap(b => Seq(BigInt(b) - 1, BigInt(b), BigInt(b) + 1)).map(_.toString)
    val rnd = new scala.util.Random(20261018L)
    val shapes = Seq("%04d-%02d-%02d", "%04d%02d%02d", "%04d/%02d/%02d", "%02d/%02d/%04d",
      "%02d-%02d-%04d")
    val dates = (1 to 3000).map { i =>
      val (y, m, d) = (rnd.nextInt(10000), rnd.nextInt(15), rnd.nextInt(34))
      val f = shapes(i % shapes.size)
      if (f.startsWith("%04d")) f.format(y, m, d) else f.format(d, m, y)
    }
    val alphabet = "0123456789+-.eEfFdD/ \n".toSeq.map(_.toString) ++ Seq("tRuE", "NaN", "x")
    val fuzz = (1 to 20000).map { _ =>
      Seq.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    edges ++ dates ++ fuzz
  }

  test("census kernel equals the SQL census predicates, value by value") {
    val s = spark
    import s.implicits._
    val inputs = censusInputs
    val conf = spark.conf
    for ((zone, policy) <- Seq("UTC" -> "CORRECTED", "America/Los_Angeles" -> "CORRECTED",
        "Asia/Kolkata" -> "LEGACY")) {
      val saved = Seq("spark.sql.session.timeZone", "spark.sql.legacy.timeParserPolicy")
        .map(k => k -> conf.getOption(k))
      conf.set("spark.sql.session.timeZone", zone)
      conf.set("spark.sql.legacy.timeParserPolicy", policy)
      try {
        val df = inputs.zipWithIndex.toDF("s", "id").repartition(4)
        val bits = sqlCensus("s").map(p => when(expr(p), 1).otherwise(0))
        val kernel = TypeCensus.censusAggs("s")
        val masks = df.select(col("id"), col("s"),
          SqlShims.column(CensusMask(SqlShims.expression(col("s")))).as("mask"),
          bits.zipWithIndex.map { case (b, i) => shiftleft(b, i) }.reduce(_ bitwiseOR _).as("sql"))
        val bad = masks.filter(col("mask") =!= col("sql")).collect()
        assert(bad.isEmpty, s"$zone/$policy: ${bad.length} mismatches, e.g. " +
          bad.take(5).map(r => s"'${r.getString(1)}' kernel ${r.getInt(2)} sql ${r.getInt(3)}")
            .mkString(", "))
        // the aggregate form sums the same bits
        val sums = df.agg(kernel.head, kernel.tail: _*).head()
        val want = sqlCensus("s").map(p => sum(when(expr(p), 1L).otherwise(0L)))
        assert(sums.toSeq == df.agg(want.head, want.tail: _*).head().toSeq, s"$zone/$policy")
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("census: letters are not float digits; decimal literals are") {
    val s = spark
    import s.implicits._
    def census(vs: Seq[String]) = NumericProfiler.profile(vs.toDF("v")).columns.head.census.get
    val letters = census(Seq("C19", "u001234", "x5", "12a45"))
    assert(letters.floatValues == 0 && letters.doubleValues == 0, letters)
    val decimals = census(Seq("1.5", ".5", "5.", "1e5", "NaN"))
    assert(decimals.floatValues == 5 && decimals.doubleValues == 5, decimals)
  }

  test("the profile aggregate plans one census kernel per string column and no SQL census") {
    val df = spark.read.parquet(s"$sfDir/customer.parquet")
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSet
    assert(strCols.nonEmpty)
    val agg = NumericProfiler.aggregate(df)
    val exprs = agg.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e => e
    }))
    val kernels = exprs.collect { case m: CensusMask => m.child }
    assert(kernels.flatMap(_.references.map(_.name)).toSet == strCols &&
      kernels.map(_.canonicalized).distinct.size == strCols.size, kernels)
    val sqlCensusParts = exprs.collect {
      case e @ (_: RLike | _: GetTimestamp | _: ParseToTimestamp | _: Lower) => e
    }
    assert(sqlCensusParts.isEmpty, sqlCensusParts)
    // codegen evaluates each kernel once per row, not once per counter
    agg.collect()
    val code = org.apache.spark.sql.execution.debug.codegenString(agg.queryExecution.executedPlan)
    assert("\\.mask\\(".r.findAllIn(code).size == strCols.size, code)
  }

  test("profiles columns named with spaces, dots, backticks and non-ASCII letters") {
    val s = spark
    import s.implicits._
    val rows = Seq(("3", 1), ("x.y", 2), ("", 3), (null, 4), ("2024-01-31", 5), ("3", 6))
    def stats(tp: TableProfile) = tp.columns.map(_.copy(name = ""))
    val plain = ProfileRunner.profile(rows.toDF("plain", "plain_n"))
    val failures = Seq("a b", "a.b", "a`b", "ünï").flatMap { name =>
      scala.util.Try {
        val df = rows.toDF(name, s"${name}_n")
        val tp = ProfileRunner.profile(df)
        assert(tp.columns.map(_.name) == Seq(name, s"${name}_n"))
        assert(tp.copy(columns = stats(tp)) == plain.copy(columns = stats(plain)))
        assert(ProfileRunner.report(df).contains(name))
      }.failed.toOption.map(e => s"'$name': ${e.toString.linesIterator.next()}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a collated string column profiles as the same data in a plain string") {
    val s = spark
    import s.implicits._
    val vs = Seq("a", "A", "a", "TRUE", "true", " ", "", null, "12", "B1", "b1", "2024-01-31")
    val plain = vs.toDF("v")
    val lcase = plain.select(col("v").cast(StringType("UTF8_LCASE")).as("v"))
    assert(lcase.schema.head.dataType != StringType)
    val want = ProfileRunner.profile(plain).columns.head
    val got = ProfileRunner.profile(lcase).columns.head
    assert(got.dataType == "string collate UTF8_LCASE")
    assert(got.copy(dataType = want.dataType) == want)
    assert(got.census.isDefined && got.topValues.nonEmpty)
  }

  test("q02's projection of the profile aggregate equals Spark's built-in moments, nulls included") {
    val s = spark
    import s.implicits._
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    val rows: Seq[(Option[Double], Option[Double], Option[Double], Option[Double], Option[Double])] =
      Seq(
        (None, Some(3.25), Some(0.1), Some(1.5), Some(1.0)),
        (None, None, Some(0.1), Some(2.0), Some(nan)),
        (None, None, Some(0.1), Some(4.25), Some(inf)),
        (None, None, Some(0.1), Some(8.0), Some(-inf)),
        (None, None, Some(0.1), Some(16.5), Some(2.0)),
        (None, None, Some(0.1), Some(7.75), None),
        (None, None, Some(0.1), Some(-3.0), Some(5.0)))
    val names = Seq("all_null", "one_value", "constant", "regular", "nan_inf")
    val df = rows.toDF(names: _*)
    val got = graft.queries.ProfileQueries.numericStats(df).collect()
    assert(got.map(_.getString(0)).toSeq == names.sorted)
    // the parent q02's aggregates: Spark's built-in moments, skewness
    // and kurtosis zeroed at zero variance, kurtosis raised by 3
    def builtIn(c: String) = {
      val dc = col(c)
      df.agg(count(lit(1)), count(dc), min(dc), max(dc), avg(dc), var_pop(dc),
        var_samp(dc), stddev_pop(dc),
        when(var_pop(dc) === 0d, 0d).otherwise(skewness(dc)),
        when(var_pop(dc) === 0d, 0d).otherwise(kurtosis(dc) + lit(3d))).head()
    }
    // exact: same bits, or both null
    def exact(a: Any, b: Any) = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
      case (x, y) => x == y
    }
    val metrics = graft.queries.ProfileQueries.numericMetrics
    got.foreach { r =>
      val want = builtIn(r.getString(0))
      metrics.zipWithIndex.foreach { case (m, i) =>
        val (g, w) = (r.get(i + 1), want.get(i))
        val ok = exact(g, w) || (m == "skew_pop" && ((g, w) match {
          // Spark divides by sqrt(m2³), the kernel by pow(m2, 1.5)
          case (x: Double, y: Double) => math.abs(x - y) <= math.ulp(y)
          case _ => false
        }))
        assert(ok, s"${r.getString(0)}.$m: $g vs built-in $w")
      }
    }
    val byName = got.map(r => r.getString(0) -> r).toMap
    assert(byName("all_null").isNullAt(metrics.indexOf("var_pop") + 1))
    assert(byName("one_value").isNullAt(metrics.indexOf("var_samp") + 1))
    assert(byName("one_value").getDouble(metrics.indexOf("kurt_pop") + 1) == 0.0)
  }
}
