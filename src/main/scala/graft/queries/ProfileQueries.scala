package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.profile.{MomentsAgg, NumericProfiler, TopK, TypeCensus}
import QueryUtil._

/** The descriptive-statistics query surface (the reference's core
  * capability), each with a DuckDB oracle built from the same constants.
  * The profile queries are projections of the library's aggregates
  * ([[NumericProfiler.aggregate]], [[TopK]], [[TypeCensus]]), so the
  * oracle checks the kernels the profiler runs.
  */
object ProfileQueries {

  // ---- long format of the profile aggregate --------------------------

  /** One `(col_name, metrics…)` row per column of `names`, ordered by
    * name: `stack` unpivots the one-row [[NumericProfiler.aggregate]]
    * `agg`, column i's cells being `cells(i)` in `metrics` order.
    * Catalyst prunes the aggregates no cell reads. */
  private def unpivot(agg: DataFrame, names: Seq[String], metrics: Seq[String])(
      cells: Int => Seq[Column]): DataFrame = {
    val args = names.zipWithIndex.flatMap { case (c, i) => lit(c) +: cells(i) }
    agg.select(stack((lit(names.size) +: args): _*).as("col_name" +: metrics))
      .orderBy("col_name")
  }

  /** Column i's [[MomentsAgg.derived]] moments, null where Spark's
    * built-in aggregates are null: `var_samp` below two values, the
    * others below one (the library reports NaN or 0 there). */
  private def momentCells(i: Int): Map[String, Column] = {
    val n = col(s"c${i}_moments.n")
    MomentsAgg.derived(n, col(s"c${i}_moments")).map { case (k, v) =>
      k -> when(n > (if (k == "var_samp") 1L else 0L), v)
    }
  }

  // ---- q02: single-pass numeric profile of lineitem ------------------

  val profileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val numericMetrics = Seq("n_rows", "n", "vmin", "vmax", "vavg",
    "var_pop", "var_samp", "stddev_pop", "skew_pop", "kurt_pop")

  /** q02's statistics of every (numeric) column of `df`, unrounded: one
    * scan, one global aggregate for ALL columns, then unpivot to long
    * format driver-free (SURVEY.md §3.2's one-pass design vs the
    * reference's O(cols) rescans). */
  def numericStats(df: DataFrame): DataFrame =
    unpivot(NumericProfiler.aggregate(df), df.columns.toSeq, numericMetrics) { i =>
      val p = s"c${i}_"
      val m = momentCells(i)
      Seq(col("row_count"), col(s"${p}moments.n"), col(s"${p}min"), col(s"${p}max"),
        col(s"${p}avg"), m("var_pop"), m("var_samp"), m("stddev_pop"),
        m("skew_pop"), m("kurt_pop"))
    }

  def profileNumeric(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val stats = numericStats(li.select(profileCols.map(col): _*))
    stats.select(stats.schema.fields.map { f =>
      if (f.dataType == DoubleType) r6(col(f.name)).as(f.name) else col(f.name)
    }: _*)
  }

  def profileNumericSql: String = {
    val selects = profileCols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n,
         |  round(min($c::DOUBLE), 6) AS vmin, round(max($c::DOUBLE), 6) AS vmax,
         |  round(avg($c::DOUBLE), 6) AS vavg,
         |  round(var_pop($c::DOUBLE), 6) AS var_pop,
         |  round(var_samp($c::DOUBLE), 6) AS var_samp,
         |  round(stddev_pop($c::DOUBLE), 6) AS stddev_pop,
         |  round(CASE WHEN var_pop($c::DOUBLE) = 0 THEN 0
         |    ELSE (sum(power($c::DOUBLE - mu, 3)) / count($c)) / power(var_pop($c::DOUBLE), 1.5) END, 6) AS skew_pop,
         |  round(CASE WHEN var_pop($c::DOUBLE) = 0 THEN 0
         |    ELSE (sum(power($c::DOUBLE - mu, 4)) / count($c)) / power(var_pop($c::DOUBLE), 2) END, 6) AS kurt_pop
         |FROM lineitem, (SELECT avg($c::DOUBLE) AS mu FROM lineitem)""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- q03: mixed-type whole-table profile of orders -----------------

  /** Full-surface single-pass profile over a mixed-type table: null /
    * empty tallies, epoch-day numeric stats for dates and timestamps,
    * and length stats for strings. */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "orders")
    // Date/timestamp columns profile as epoch DAYS here (not the
    // library's reference-parity epoch millis), projected in front of
    // the kernel: day counts are exact small integers, so sums of
    // squares stay inside the double's 53 exact bits and var/stddev are
    // bit-identical across engines — epoch-millis second moments
    // (~1e23) are not. FLOOR division (not `div`, which truncates
    // toward zero): DuckDB's // floors, so pre-1970 epochs would
    // otherwise be one day off between engine and oracle. (x - pmod(x,
    // d)) is the largest multiple of d ≤ x, exact in long arithmetic —
    // no double-precision detour for ~1e12 millis.
    val input = df.select(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DateType | TimestampType | TimestampNTZType =>
          val m = s"unix_millis(cast(`${f.name}` as timestamp))"
          expr(s"($m - pmod($m, 86400000)) div 86400000").cast("double").as(f.name)
        case _ => NumericProfiler.column(f.name)
      }
    }: _*)
    val metrics = Seq("n_rows", "nonnull", "empty", "n", "vmin", "vmax",
      "vavg", "stddev_pop", "len_min", "len_max", "len_avg")
    unpivot(NumericProfiler.aggregate(input), df.columns.toSeq, metrics) { i =>
      val p = s"c${i}_"
      val dt = input.schema(i).dataType
      val (numeric, string) = (dt.isInstanceOf[NumericType], dt.isInstanceOf[StringType])
      def cell(on: Boolean, name: String, otherwise: Column): Column =
        if (on) col(p + name) else otherwise
      val (nullL, nullD) = (lit(null).cast(LongType), lit(null).cast(DoubleType))
      Seq(col("row_count"), col(s"${p}nonnull"),
        cell(string, "empty", lit(0L)), cell(numeric, "moments.n", lit(0L)),
        r6(cell(numeric, "min", nullD)), r6(cell(numeric, "max", nullD)),
        r6(cell(numeric, "avg", nullD)),
        r6(if (numeric) momentCells(i)("stddev_pop") else nullD),
        cell(string, "len_min", nullL), cell(string, "len_max", nullL),
        r6(cell(string, "len_avg", nullD)))
    }
  }

  def profileOrdersSql: String = {
    // (name, numeric SQL expr or null, is string)
    val cols = Seq(
      ("o_orderkey", Some("o_orderkey::DOUBLE"), false),
      ("o_custkey", Some("o_custkey::DOUBLE"), false),
      ("o_orderstatus", None, true),
      ("o_totalprice", Some("o_totalprice::DOUBLE"), false),
      ("o_orderdate", Some("(epoch_ms(o_orderdate) // 86400000)::DOUBLE"), false),
      ("o_orderpriority", None, true))
    val selects = cols.map { case (name, numOpt, isStr) =>
      val num = numOpt.getOrElse("NULL::DOUBLE")
      val empty =
        if (isStr) s"sum(CASE WHEN trim($name) = '' THEN 1 ELSE 0 END)::BIGINT"
        else "0::BIGINT"
      val lenMin = if (isStr) s"min(length($name))::BIGINT" else "NULL::BIGINT"
      val lenMax = if (isStr) s"max(length($name))::BIGINT" else "NULL::BIGINT"
      val lenAvg = if (isStr) s"round(avg(length($name)), 6)" else "NULL::DOUBLE"
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  count($name) AS nonnull, $empty AS empty, count($num) AS n,
         |  round(min($num), 6) AS vmin, round(max($num), 6) AS vmax,
         |  round(avg($num), 6) AS vavg,
         |  round(stddev_pop($num), 6) AS stddev_pop,
         |  $lenMin AS len_min, $lenMax AS len_max, $lenAvg AS len_avg
         |FROM orders""".stripMargin
    }
    selects.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- q04: whole-row completeness -----------------------------------

  def completeRecords(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "orders")
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(when(NumericProfiler.completePredicate(df.schema), 1L).otherwise(0L))
        .as("complete_records"))
  }

  val completeRecordsSql: String = {
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    val allCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val pred = allCols.map { c =>
      if (strCols.contains(c)) s"($c IS NOT NULL AND trim($c) <> '')"
      else s"($c IS NOT NULL)"
    }.mkString(" AND ")
    s"SELECT count(*) AS n_rows, sum(CASE WHEN $pred THEN 1 ELSE 0 END)::BIGINT AS complete_records FROM orders"
  }

  // ---- q05: length stats ---------------------------------------------

  val lengthCols = Seq("p_name", "p_brand", "p_type")

  def lengthStats(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "part").select(lengthCols.map(col): _*)
    unpivot(NumericProfiler.aggregate(df), lengthCols, Seq("len_min", "len_max", "len_avg")) {
      i => Seq(col(s"c${i}_len_min"), col(s"c${i}_len_max"), r6(col(s"c${i}_len_avg")))
    }
  }

  val lengthStatsSql: String =
    lengthCols.map { c =>
      s"""SELECT '$c' AS col_name, min(length($c))::BIGINT AS len_min,
         |  max(length($c))::BIGINT AS len_max,
         |  round(avg(length($c)), 6) AS len_avg FROM part""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---- q06: string type census ---------------------------------------

  /** Census over a digit-bearing derived string (the numeric payload of
    * events.props JSON) and a never-numeric string (documents.lang). */
  def typeCensus(spark: SparkSession, dir: String): DataFrame = {
    val census = TypeCensus.censusAggs("s")
    val ev = table(spark, dir, "events")
      .withColumn("s", regexp_extract(col("props"), "[0-9]+", 0))
    val evAgg = ev.agg(census.head, census.tail: _*)
      .withColumn("col_name", lit("props_num"))
    val docs = table(spark, dir, "documents").withColumn("s", col("lang"))
    val docAgg = docs.agg(census.head, census.tail: _*)
      .withColumn("col_name", lit("lang"))
    evAgg.unionByName(docAgg)
      .select(("col_name" +: TypeCensus.counterNames).map(col): _*)
      .orderBy("col_name")
  }

  val typeCensusSql: String = {
    val ev = TypeCensus.sqlCensusAggs("s").mkString(",\n  ")
    s"""SELECT 'props_num' AS col_name, $ev
       |FROM (SELECT regexp_extract(props, '[0-9]+') AS s FROM events)
       |UNION ALL
       |SELECT 'lang' AS col_name, $ev
       |FROM (SELECT lang AS s FROM documents)
       |ORDER BY col_name""".stripMargin
  }

  // ---- q07/q08: top-K values & patterns ------------------------------
  // The trailing limit is a no-op on the k ranked rows; it orders them
  // with TakeOrderedAndProject instead of a range-partitioned global sort.

  def topValues(spark: SparkSession, dir: String): DataFrame =
    TopK.topKValuesAll(table(spark, dir, "part"), Seq("p_brand"), 20)
      .select("value", "cnt").orderBy(desc("cnt"), asc("value")).limit(20)

  val topValuesSql: String =
    """SELECT p_brand AS value, count(*) AS cnt FROM part
      |WHERE p_brand IS NOT NULL
      |GROUP BY p_brand ORDER BY cnt DESC, value ASC LIMIT 20""".stripMargin

  def topPatterns(spark: SparkSession, dir: String): DataFrame =
    TopK.topKPatternsAll(table(spark, dir, "customer"), Seq("c_name"), 20)
      .select("pattern", "cnt").orderBy(desc("cnt"), asc("pattern")).limit(20)

  /** DuckDB mirror of the reference mask (StringStatsTuple.java:24-46):
    * chained global regex replaces after strip_accents. Order matters:
    * letters first, then digits, then blanks, then the catch-all. */
  val topPatternsSql: String =
    """SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |  strip_accents(c_name), '[a-z]', 'a', 'g'), '[A-Z]', 'A', 'g'),
      |  '[0-9]', '#', 'g'), '[ \t]', 'b', 'g'), '[^aA#b/:.''-]', '?', 'g') AS pattern,
      |  count(*) AS cnt
      |FROM customer WHERE c_name IS NOT NULL
      |GROUP BY 1 ORDER BY cnt DESC, pattern ASC LIMIT 20""".stripMargin

  // ---- q177: dependency discovery (FDs + inclusion dependencies) ------

  /** The data-profiling capability the reference's stats surface stops
    * short of — dependency DISCOVERY (the Metanome family: functional
    * dependencies for key/normalization analysis, inclusion
    * dependencies for foreign-key discovery): for a candidate list,
    * FD confidence = Σ_groups max-value-count / n (1000‰ ⇔ the
    * determinant functionally determines the dependent), IND coverage
    * = |distinct A ∩ B| / |distinct A| (1000‰ ⇔ A ⊆ B, a foreign-key
    * candidate). All exact integer counting; the fixture exercises
    * both verdicts (the key-FD and the lineitem→orders IND hold, the
    * nation→segment FD and the customer→orders reverse IND honestly
    * do not).
    *
    * Scale shape: each FD is one two-level aggregate (value counts →
    * per-determinant max, map-side combined); each IND is two distinct
    * sets and one semi-join on the candidate column — no raw-row
    * shuffles beyond the distinct. */
  def dependencyAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val orders = table(spark, dir, "orders")
    val li = table(spark, dir, "lineitem")

    def fd(df: DataFrame, name: String, det: String, dep: String): DataFrame = {
      val counts = df.groupBy(col(det).as("k"), col(dep).as("v"))
        .agg(count(lit(1)).as("c"))
      val perK = counts.groupBy("k")
        .agg(max(col("c")).as("mx"), sum(col("c")).as("n"))
      perK.agg(count(lit(1)).as("n_lhs"),
          sum(col("mx")).as("kept"), sum(col("n")).as("n"))
        .select(lit("fd").as("kind"), lit(name).as("dependency"),
          col("n_lhs"), expr("(1000 * kept) div n").as("conf_pm"),
          (expr("(1000 * kept) div n") === 1000).as("holds"))
    }
    def ind(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
        name: String): DataFrame = {
      val da = a.select(col(aCol).as("k")).filter(col("k").isNotNull).distinct()
      val db = b.select(col(bCol).as("k")).filter(col("k").isNotNull).distinct()
      val hit = da.join(db, Seq("k"), "left_semi")
      da.agg(count(lit(1)).as("n_lhs")).crossJoin(
          hit.agg(count(lit(1)).as("covered")))
        .select(lit("ind").as("kind"), lit(name).as("dependency"),
          col("n_lhs"), expr("(1000 * covered) div n_lhs").as("conf_pm"),
          (col("covered") === col("n_lhs")).as("holds"))
    }
    fd(cust, "customer: custkey -> mktsegment", "c_custkey", "c_mktsegment")
      .unionByName(fd(cust, "customer: nationkey -> mktsegment",
        "c_nationkey", "c_mktsegment"))
      .unionByName(fd(orders, "orders: custkey -> orderpriority",
        "o_custkey", "o_orderpriority"))
      .unionByName(ind(orders, "o_custkey", cust, "c_custkey",
        "orders.custkey in customer.custkey"))
      .unionByName(ind(cust, "c_custkey", orders, "o_custkey",
        "customer.custkey in orders.custkey"))
      .unionByName(ind(li, "l_orderkey", orders, "o_orderkey",
        "lineitem.orderkey in orders.orderkey"))
      .orderBy("kind", "dependency")
  }

  val dependencyAuditSql: String = {
    def fd(tbl: String, name: String, det: String, dep: String): String =
      s"""SELECT 'fd' AS kind, '$name' AS dependency,
         |  count(*)::BIGINT AS n_lhs,
         |  ((1000 * sum(mx)) // sum(n))::BIGINT AS conf_pm,
         |  (1000 * sum(mx)) // sum(n) = 1000 AS holds
         |FROM (
         |  SELECT k, max(c) AS mx, sum(c) AS n FROM (
         |    SELECT $det AS k, $dep AS v, count(*) AS c
         |    FROM $tbl GROUP BY 1, 2) GROUP BY k)""".stripMargin
    def ind(ta: String, ca: String, tb: String, cb: String, name: String): String =
      s"""SELECT 'ind' AS kind, '$name' AS dependency,
         |  (SELECT count(DISTINCT $ca) FROM $ta WHERE $ca IS NOT NULL
         |    )::BIGINT AS n_lhs,
         |  ((1000 * count(*)) // (SELECT count(DISTINCT $ca) FROM $ta
         |    WHERE $ca IS NOT NULL))::BIGINT AS conf_pm,
         |  count(*) = (SELECT count(DISTINCT $ca) FROM $ta
         |    WHERE $ca IS NOT NULL) AS holds
         |FROM (SELECT DISTINCT $ca AS k FROM $ta WHERE $ca IS NOT NULL) a
         |WHERE EXISTS (SELECT 1 FROM $tb b WHERE b.$cb = a.k)""".stripMargin
    Seq(
      fd("customer", "customer: custkey -> mktsegment", "c_custkey",
        "c_mktsegment"),
      fd("customer", "customer: nationkey -> mktsegment", "c_nationkey",
        "c_mktsegment"),
      fd("orders", "orders: custkey -> orderpriority", "o_custkey",
        "o_orderpriority"),
      ind("orders", "o_custkey", "customer", "c_custkey",
        "orders.custkey in customer.custkey"),
      ind("customer", "c_custkey", "orders", "o_custkey",
        "customer.custkey in orders.custkey"),
      ind("lineitem", "l_orderkey", "orders", "o_orderkey",
        "lineitem.orderkey in orders.orderkey"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY kind, dependency")
  }

  // ---- q178: per-column uniqueness / entropy profile -------------------

  /** Columns profiled (orders). */
  val UeCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_orderpriority")

  /** The column-shape census a profiler adds beside the reference's
    * numeric stats — per column: distinct count, uniqueness per-mille,
    * Shannon entropy of the VALUE distribution in integer micronats
    * (q158's per-row quantization discipline: one fixed-shape double
    * expression + one ln per distinct value), and the candidate-key
    * verdict (distinct == rows). Entropy separates "uniform id"
    * (≈ ln n) from "5-value enum" (≈ ln 5) at a glance — the signal
    * schema-inference and key-discovery tools rank columns by.
    *
    * Scale shape: one value-count aggregate per column (map-side
    * combined, value domain ≤ rows); the entropy fold runs over the
    * distinct-value table. Columns stack into one output via a union
    * of per-column pipelines over ONE cached scan each. */
  def uniquenessEntropy(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val n = o.count()
    UeCols.map { c =>
      val counts = o.groupBy(col(c).cast("string").as("v"))
        .agg(count(lit(1)).as("cnt"))
      counts.agg(count(lit(1)).as("n_distinct"),
          sum(expr(s"cast(round(1000000 * ((cast(cnt as double) / cast(${n}L as double))" +
            s" * ln(cast(${n}L as double) / cast(cnt as double)))) as long)"))
            .as("h_micronats"))
        .select(lit(c).as("column_name"), lit(n).as("n_rows"),
          col("n_distinct"),
          expr(s"(1000 * n_distinct) div ${n}L").as("uniqueness_pm"),
          col("h_micronats"),
          (col("n_distinct") === n).as("candidate_key"))
    }.reduce(_ unionByName _).orderBy("column_name")
  }

  val uniquenessEntropySql: String = {
    val per = UeCols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  (SELECT count(*) FROM orders)::BIGINT AS n_rows,
         |  count(*)::BIGINT AS n_distinct,
         |  ((1000 * count(*)) // (SELECT count(*) FROM orders))::BIGINT
         |    AS uniqueness_pm,
         |  sum(round(1000000 * ((cnt::DOUBLE / (SELECT count(*) FROM orders)::DOUBLE)
         |    * ln((SELECT count(*) FROM orders)::DOUBLE / cnt::DOUBLE))))::BIGINT
         |    AS h_micronats,
         |  count(*) = (SELECT count(*) FROM orders) AS candidate_key
         |FROM (SELECT $c::VARCHAR AS v, count(*) AS cnt
         |      FROM orders GROUP BY 1)""".stripMargin
    }
    per.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY column_name")
  }

  // ---- q181: Benford first-digit audit ---------------------------------

  /** Benford's-law first-significant-digit audit over order totals —
    * the classic fabricated-data / unit-mixup / truncated-extract
    * screen an ingest pipeline runs before trusting a new money or
    * count column: natural multi-scale amounts put digit d first with
    * probability log₁₀(1+1/d); a uniform generator (TPC-H prices) or a
    * capped/scaled column departs wildly, and the per-digit χ²
    * contribution says WHERE. Per digit: observed count, Benford
    * expectation, and the χ² term, both in integer micro-units via one
    * fixed-shape double expression (the q178/q180 quantization
    * discipline — `ln` agrees cross-engine, `round` half-away agrees,
    * every other step is integer).
    *
    * Scale shape: digit extraction is a per-row projection (leading
    * char of the exact integer cent rendering — no float log10, which
    * straddles engines at powers of ten); one map-side-combinable
    * groupBy over a 9-value domain; the expectation/χ² arithmetic runs
    * on the 9-row result (the window total is over ≤9 rows, not data).
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val expd = "(cast(n_total as double) * " +
      "(ln(1.0 + 1.0 / cast(digit as double)) / ln(10.0)))"
    o.select(expr("cast(substring(cast(cast(floor(o_totalprice * 100) as" +
        " bigint) as string), 1, 1) as bigint)").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .withColumn("n_total", sum(col("n_obs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit"), col("n_obs"),
        expr(s"cast(round(1000000 * $expd) as bigint)").as("exp_micro"),
        expr("cast(round(1000000 * (((cast(n_obs as double) - " + expd +
          s") * (cast(n_obs as double) - $expd)) / $expd)) as bigint)")
          .as("chi2_micro"))
      .orderBy("digit")
  }

  val benfordAuditSql: String = {
    val expd = "(CAST(n_total AS DOUBLE) * " +
      "(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))"
    s"""WITH g AS (
       |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    count(*)::BIGINT AS n_obs
       |  FROM orders GROUP BY 1
       |), t AS (
       |  SELECT digit, n_obs, CAST(sum(n_obs) OVER () AS BIGINT) AS n_total
       |  FROM g
       |)
       |SELECT digit, n_obs,
       |  CAST(round(1000000 * $expd) AS BIGINT) AS exp_micro,
       |  CAST(round(1000000 * (((CAST(n_obs AS DOUBLE) - $expd)
       |    * (CAST(n_obs AS DOUBLE) - $expd)) / $expd)) AS BIGINT)
       |    AS chi2_micro
       |FROM t ORDER BY digit""".stripMargin
  }
}
