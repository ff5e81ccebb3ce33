package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryUtil._

/** Behavioral / time-series analytics over the events and orders
  * tables: ordered funnel conversion, cohort retention, and rolling
  * window aggregates — the product-analytics surface of the engine.
  *
  * Time arithmetic is integer epoch math on [[QueryUtil.eventTsUs]]
  * (schema-driven, engine-neutral) — never calendar functions whose
  * week/era conventions differ between engines.
  */
object SeriesQueries {

  // ---- q91: ordered funnel conversion --------------------------------

  /** Strictly-ordered three-stage funnel over each user's event
    * stream: first `view`, then the first `click` AFTER it, then the
    * first `purchase` after that. Per stage: users reaching it and the
    * conversion rate from the previous stage.
    *
    * Implementation is three chained per-user conditional MIN
    * aggregates — each stage joins the previous stage's (user,
    * first-ts) table and aggregates again. All three shuffles hash on
    * `user_id`, so a real cluster reuses the exchange
    * (ReusedExchange / co-partitioned joins); nothing holds a user's
    * full event list in memory, which is what makes this shape safe
    * for users with millions of events — the sort-the-array-per-user
    * formulation is not. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    def firstOf(tpe: String, after: Option[DataFrame]): DataFrame = {
      val base = ev.filter(col("event_type") === tpe)
      val scoped = after match {
        case None => base.select(col("user_id"), col("ts_us"))
        case Some(prev) => base.join(prev, "user_id")
          .filter(col("ts_us") > col("prev_ts"))
          .select(col("user_id"), col("ts_us"))
      }
      scoped.groupBy("user_id").agg(min("ts_us").as("prev_ts"))
    }
    val s1 = firstOf("view", None)
    val s2 = firstOf("click", Some(s1))
    val s3 = firstOf("purchase", Some(s2))
    val counts = Seq(("1_view", s1), ("2_click", s2), ("3_purchase", s3))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }
      .reduce(_ unionByName _)
    val w = Window.orderBy("stage")
    counts
      .withColumn("prev_n", lag("n_users", 1).over(w))
      .select(col("stage"), col("n_users"),
        r6(when(col("prev_n").isNull, 1d)
          .otherwise(col("n_users").cast("double") / col("prev_n")))
          .as("conversion"))
      .orderBy("stage")
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts_us) AS t FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts_us > s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts_us) AS t FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t GROUP BY 1),
      |c AS (
      |  SELECT '1_view' AS stage, count(*)::BIGINT AS n_users FROM s1
      |  UNION ALL SELECT '2_click', count(*)::BIGINT FROM s2
      |  UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM s3)
      |SELECT stage, n_users,
      |  round(CASE WHEN lag(n_users) OVER (ORDER BY stage) IS NULL THEN 1.0
      |    ELSE n_users::DOUBLE / lag(n_users) OVER (ORDER BY stage) END, 6)
      |    AS conversion
      |FROM c ORDER BY stage""".stripMargin

  // ---- q92: cohort retention -----------------------------------------

  val RetentionMaxWeeks = 8
  private val WeekUs = 7L * 86400L * 1000000L

  /** Weekly cohort retention: users cohorted by the integer epoch-week
    * of their FIRST event of any type, then counted once per
    * (cohort, offset) for each later week they were active, offsets
    * 0..[[RetentionMaxWeeks]].
    *
    * Two aggregates: per-user first-ts (one shuffle on user), then a
    * distinct-collapse on (cohort, offset, user) — the distinct is the
    * retention semantic (active-week, not event count) and partial
    * aggregation collapses each user's events map-side. Integer
    * epoch-week arithmetic, not `date_trunc('week', …)`, because week
    * epochs are engine conventions (ISO Monday vs epoch-aligned) —
    * `ts div weekMicros` is the same number everywhere. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"), expr(s"ts_us div $WeekUs").as("week"))
    val first = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.join(first, "user_id")
      .withColumn("week_offset", col("week") - col("cohort_week"))
      .filter(col("week_offset") <= RetentionMaxWeeks)
      .select(col("cohort_week"), col("week_offset"), col("user_id"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val cohortRetentionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) // $WeekUs AS week
       |  FROM events),
       |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
       |SELECT cohort_week, week - cohort_week AS week_offset,
       |  count(DISTINCT e.user_id)::BIGINT AS n_users
       |FROM e JOIN f USING (user_id)
       |WHERE week - cohort_week <= $RetentionMaxWeeks
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q98: per-group OLS regression ---------------------------------

  /** Per-event-type ordinary-least-squares trend of `value` over time
    * (is the metric drifting up or down, and how linearly?): slope,
    * intercept, and R² from the five classical moment sums — computed
    * in EXACT integer space so the gate is hash-stable:
    *
    *  - x = epoch-hour index, centered by the GLOBAL minimum hour
    *    (one cheap pre-aggregate): x ≤ series span in hours, so the
    *    `n·Σx² − (Σx)²` cancellation that destroys float precision on
    *    raw epoch values never bites;
    *  - y = cent-quantized value (exact long);
    *  - all five sums are exact int64 aggregates (order-independent,
    *    any partitioning); the closed-form slope/intercept/R² then
    *    evaluates in doubles with THE SAME operation order as the
    *    oracle SQL — deterministic IEEE on both engines.
    *
    * One scan, one aggregate; the x-offset pre-pass is an O(1)-output
    * aggregate. The reference's descriptive-stats surface extended to
    * bivariate: this is `corr` (q27) upgraded to the full regression
    * line. */
  def groupRegression(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val xh = expr("ts_us div 3600000000")
    val minXh = ev.agg(min(xh)).first().getLong(0)
    val prepared = ev.select(col("event_type"),
      (xh - lit(minXh)).as("x"),
      floor(col("value") * lit(100d)).cast("long").as("y"))
    val agg = prepared.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum(expr("x * x")).as("sxx"),
      sum("y").as("sy"), sum(expr("y * y")).as("syy"),
      sum(expr("x * y")).as("sxy"))
    val n = col("n").cast("double")
    val (sx, sxx, sy, syy, sxy) = (col("sx").cast("double"),
      col("sxx").cast("double"), col("sy").cast("double"),
      col("syy").cast("double"), col("sxy").cast("double"))
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val slopeC = num / den
    agg.select(col("event_type"), col("n"),
        r6(slopeC / lit(100d)).as("slope_per_hour"),
        r6(((sy - slopeC * sx) / n) / lit(100d)).as("intercept"),
        r6((num * num) / (den * (n * syy - sy * sy))).as("r2"))
      .orderBy("event_type")
  }

  val groupRegressionSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts::TIMESTAMP) // 3600000000 AS xh,
      |    floor(value * 100)::BIGINT AS y
      |  FROM events),
      |m AS (SELECT min(xh) AS x0 FROM e),
      |p AS (SELECT event_type, xh - x0 AS x, y FROM e CROSS JOIN m),
      |a AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |    sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
      |    sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS syy,
      |    sum(x * y)::BIGINT AS sxy
      |  FROM p GROUP BY 1)
      |SELECT event_type, n,
      |  round(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) / 100, 6)
      |    AS slope_per_hour,
      |  round(((sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      |      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
      |    / n::DOUBLE) / 100, 6) AS intercept,
      |  round(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      |      * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE))
      |    / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
      |      * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS r2
      |FROM a ORDER BY event_type""".stripMargin

  // ---- q93: rolling window aggregates --------------------------------

  val RollingDays = 7
  private val DayUs = 86400L * 1000000L

  /** Daily revenue series with a [[RollingDays]]-day RANGE-frame moving
    * average and an exact running total: the monitoring dashboard
    * query. The raw table collapses to one row per day FIRST (one
    * scan + one shuffle); the windows then run over the bounded daily
    * series — a few thousand rows for a decade — so the unpartitioned
    * ordered window is a deliberate, safe choice (a per-year partition
    * would break frames at year boundaries for nothing). The RANGE
    * frame (not ROWS) makes calendar gaps correct: a missing day still
    * ages out of the 7-day window.
    *
    * Exactness: daily revenue is cent-quantized ([[QueryUtil.moneySum]]),
    * the running total sums exact cent BIGINTs in the window (order-
    * independent), and only the final projection returns to DOUBLE. */
  def rollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day")).agg(
      sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("cents"),
      count(lit(1)).as("n_orders"))
    val wAvg = Window.orderBy("day").rangeBetween(-(RollingDays - 1), 0)
    val wCum = Window.orderBy("day").rangeBetween(Window.unboundedPreceding, 0)
    // moving average from the EXACT windowed cent sum and day count —
    // never avg() over per-row doubles, whose summation order is an
    // engine convention
    daily.select(
        col("day"), col("n_orders"),
        (col("cents").cast("double") / 100d).as("revenue"),
        r6(sum(col("cents")).over(wAvg).cast("double") /
          (count(lit(1)).over(wAvg) * 100).cast("double")).as("avg_7d"),
        (sum(col("cents")).over(wCum).cast("double") / 100d).as("cum_revenue"))
      .orderBy("day")
  }

  val rollingRevenueSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT) AS cents,
       |    count(*)::BIGINT AS n_orders
       |  FROM orders GROUP BY 1)
       |SELECT day, n_orders,
       |  (cents::DOUBLE / 100) AS revenue,
       |  round(sum(cents) OVER (ORDER BY day
       |      RANGE BETWEEN ${RollingDays - 1} PRECEDING AND CURRENT ROW)::DOUBLE
       |    / (count(*) OVER (ORDER BY day
       |      RANGE BETWEEN ${RollingDays - 1} PRECEDING AND CURRENT ROW) * 100)::DOUBLE,
       |    6) AS avg_7d,
       |  (sum(cents) OVER (ORDER BY day
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / 100)
       |    AS cum_revenue
       |FROM daily ORDER BY day""".stripMargin

  // ---- q104: frequent session sequences (contiguous trigrams) --------

  /** Session gap in micros — same 12 h the q37 `session_window` uses. */
  val SeqGapUs = 43200000000L
  val SeqTopK = 20

  /** Top-[[SeqTopK]] contiguous event-type trigrams within user
    * sessions — the sequence-mining counterpart of the q91 funnel
    * (free-form path discovery vs a fixed stage order). Sessionize by
    * the lag/cumsum construction, form trigrams with `lead` guarded to
    * stay inside one session, count globally.
    *
    * Every window shares PARTITION BY user_id with the same ordering,
    * so Catalyst plans ONE exchange + ONE sort for the whole stack;
    * per-user state is bounded by that user's events; the trigram
    * count is an ordinary map-side-combined aggregate. Ordered by
    * (count desc, trigram asc) so the top-K cutoff is engine-stable. */
  def frequentSequences(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val sess = ev
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts_us") - col("prev") > SeqGapUs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(w))
    sess
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("s3", lead(col("sess"), 2).over(w))
      .filter(col("s3") === col("sess")) // 3 events inside one session
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("seq3"))
      .groupBy("seq3")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("seq3"))
      .limit(SeqTopK)
  }

  val frequentSequencesSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us
       |  FROM events),
       |l AS (
       |  SELECT user_id, event_id, event_type, us,
       |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM e),
       |m AS (
       |  SELECT *, CASE WHEN prev IS NULL OR us - prev > $SeqGapUs
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM l),
       |s AS (
       |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
       |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM m),
       |t AS (
       |  SELECT sess,
       |    event_type AS t1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t3,
       |    lead(sess, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS s3
       |  FROM s)
       |SELECT t1 || '>' || t2 || '>' || t3 AS seq3, count(*)::BIGINT AS n
       |FROM t WHERE s3 = sess
       |GROUP BY 1
       |ORDER BY n DESC, seq3 ASC
       |LIMIT $SeqTopK""".stripMargin

  // ---- q117: Holt linear trend forecast ------------------------------

  /** Forecast horizon (days past the last observation). Smoothing is
    * α = 0.2, β = 0.1, fixed in the integer recurrence below. */
  val HoltH = 7

  /** Holt double-exponential smoothing over the daily revenue series
    * (the q93 series: exact cent sums per epoch day), plus an
    * [[HoltH]]-day linear forecast — level/trend state entirely in
    * INTEGER cents via truncating division (Scala `Long./` == DuckDB
    * integer `//`, both toward zero — measured: `-7 // 2 = -3` —
    * which matters because the trend goes negative):
    * `l_t = (2·y_t + 8·(l+b)) div 10`,
    * `b_t = ((l_t − l) + 9·b) div 10` — bit-identical to the
    * oracle's recursive CTE, no float ever enters the state.
    *
    * Scale shape: the corpus collapses to the bounded calendar series
    * in one scan+shuffle (≈ 2.4k rows for the TPC-H date span at ANY
    * corpus size — the q93 argument); the inherently sequential
    * recurrence then folds on the driver over that bounded series, the
    * same bounded-driver-state trade as ExactQuantile's range stats.
    * Gap days are treated as consecutive observations (revenue series
    * here has none; a gapped deployment would densify first). */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("cents"))
      .orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(daily.nonEmpty)
    val out = Seq.newBuilder[(Long, Option[Long], Long, Long, Boolean)]
    var l = daily.head._2
    var b = 0L
    out += ((daily.head._1, Some(daily.head._2), l, b, false))
    daily.tail.foreach { case (d, y) =>
      val lNew = (2 * y + 8 * (l + b)) / 10
      val bNew = ((lNew - l) + 9 * b) / 10
      l = lNew; b = bNew
      out += ((d, Some(y), l, b, false))
    }
    val lastDay = daily.last._1
    (1 to HoltH).foreach(h =>
      out += ((lastDay + h, None, l + h * b, b, true)))
    out.result().toDF("day", "y_cents", "level", "trend", "forecast")
      .orderBy("day")
  }

  val holtForecastSql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS cents
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT row_number() OVER (ORDER BY day) AS rn, day, cents AS y
       |  FROM daily),
       |h AS (
       |  SELECT rn, day, y, y AS l, 0::BIGINT AS b FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, d.y,
       |    (2 * d.y + 8 * (h.l + h.b)) // 10,
       |    (((2 * d.y + 8 * (h.l + h.b)) // 10 - h.l) + 9 * h.b) // 10
       |  FROM h JOIN d ON d.rn = h.rn + 1),
       |tail AS (SELECT day, l, b FROM h ORDER BY rn DESC LIMIT 1),
       |f AS (
       |  SELECT tail.day + g.g AS day, NULL::BIGINT AS y,
       |    (tail.l + g.g * tail.b)::BIGINT AS l, tail.b, TRUE AS forecast
       |  FROM tail CROSS JOIN
       |    (SELECT unnest(generate_series(1, $HoltH)) AS g) g)
       |SELECT day, y AS y_cents, l AS level, b AS trend, FALSE AS forecast
       |FROM h
       |UNION ALL SELECT day, y, l, b, forecast FROM f
       |ORDER BY day""".stripMargin

  // ---- q134: next-event Markov transition matrix ---------------------

  /** First-order Markov transition estimation over per-user event
    * streams — the behavioral prior behind next-event-prediction
    * training data and session simulators: order each user's events by
    * time ((ts, event_id) — a TOTAL order, same-timestamp ties broken
    * deterministically), count adjacent (prev → next) type transitions,
    * and report the row-stochastic matrix in exact integer per-mille
    * alongside the raw counts (`div` floors, so rows sum to ≤ 1000 —
    * the report carries counts precisely so the exact distribution is
    * recoverable).
    *
    * Scale shape: ONE hash shuffle on user_id + per-partition sort
    * (the lag window's requirement — exactly a sessionization pass);
    * transition counting collapses map-side to the ≤|types|² matrix.
    * No self-join: the lag window IS the adjacency. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val tr = eventsTsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
    tr.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum("n").over(Window.partitionBy("prev_type")))
      .withColumn("p_pm", expr("(1000 * n) div row_total"))
      .orderBy("prev_type", "next_type")
  }

  val markovTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_type
      |  FROM events),
      |tr AS (
      |  SELECT lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type,
      |    event_type AS next_type
      |  FROM e),
      |c AS (
      |  SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM tr WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |  sum(n) OVER (PARTITION BY prev_type)::BIGINT AS row_total,
      |  ((1000 * n) // sum(n) OVER (PARTITION BY prev_type))::BIGINT AS p_pm
      |FROM c ORDER BY prev_type, next_type""".stripMargin

  // ---- q139: inter-arrival gap quantiles -------------------------------

  val GapQs = Seq(0.5, 0.95)

  /** Per-type event-cadence profile — the ops-side "how often does this
    * signal fire per user?" distribution that sets streaming watermark
    * delays and sessionization gaps from DATA instead of folklore:
    * within each (user, event_type) stream ordered by the (ts,
    * event_id) total order, the gap to the previous same-type event,
    * then EXACT p50/p95 of the gap distribution per type
    * ([[graft.operators.ExactQuantile.groupedQuantiles]] — bounded
    * counters, matches `quantile_cont` bit-exactly) alongside the
    * exact integer mean. Quantiles report as integer NANOSECONDS —
    * the one quantization that is EXACT here: `quantile_cont` over
    * integer micros interpolates at fraction j/20 (p95 = 19(n−1)/20
    * mod 1; p50 at halves), so the true quantile is a multiple of
    * 0.05 µs = 50 ns, and `round(q·1000)` lands on that integer in
    * both engines whatever their frac-arithmetic ulps (measured
    * ~10⁻⁴ µs ≪ the 25 ns boundary distance). Any DECIMAL rounding
    * (r6 in µs or s) straddles .5 boundaries SYSTEMATICALLY on these
    * terminating-decimal values — measured flipping at two SFs.
    *
    * Scale shape: one hash shuffle on (user, type) + partition sort
    * for the lag, then the grouped-quantile operator's counter-bounded
    * scans over the ≤\|types\| groups (broadcast range table — 10⁴
    * groups plan like 5, the q69 machinery). */
  def interArrivalGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    val gaps = eventsTsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), (col("ts_us") - col("prev_us")).as("gap_us"))
    val counts = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_us").as("sum_gap_us"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val qs = graft.operators.ExactQuantile.groupedQuantiles(
      gaps.select(col("event_type"), col("gap_us").cast("double").as("gap_us")),
      "event_type", "gap_us", GapQs)
    val rows = qs.toSeq.map { case (g, s) =>
      val t = g.asInstanceOf[String]
      (t, counts(t)._1, counts(t)._2 / counts(t)._1,
        math.round(s(0) * 1000d), math.round(s(1) * 1000d))
    }
    import spark.implicits._
    rows.toDF("event_type", "n_gaps", "mean_gap_us", "p50_ns", "p95_ns")
      .orderBy("event_type")
  }

  val interArrivalGapsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_type
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    ts_us - lag(ts_us) OVER (
      |      PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS gap
      |  FROM e),
      |v AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL)
      |SELECT event_type, count(*)::BIGINT AS n_gaps,
      |  (sum(gap) // count(*))::BIGINT AS mean_gap_us,
      |  round(quantile_cont(gap::DOUBLE, 0.5) * 1000)::BIGINT AS p50_ns,
      |  round(quantile_cont(gap::DOUBLE, 0.95) * 1000)::BIGINT AS p95_ns
      |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q126: time-decayed engagement scoring ---------------------------

  /** Decay reference instant: 2024-01-31T00:00:00Z (epoch micros) — the
    * "as of" of the feature snapshot, one day past the fixture's last
    * event. A production run stamps the snapshot time here. */
  val DecayRefUs = 1706659200000000L
  /** Half-life bucket: one week of micros. */
  val DecayWeekUs = 7L * 86400000000L
  /** Oldest bucket (clamp): events ≥ [[DecayMaxWeeks]] weeks old all
    * carry weight 1 — bounds the shift so cent sums stay far from long
    * overflow at ANY corpus size (weight ≤ 2⁸; 10⁸ events × 2⁸ × 10⁵
    * cents ≈ 2.5·10¹⁵ ≪ 2⁶³). */
  val DecayMaxWeeks = 8L
  val DecayTopK = 20

  /** Recency-weighted user engagement — the freshness weighting every
    * feature store applies before training on behavioral signals: each
    * event's cent value decays by half per week of age, and the score
    * is Σ cents · 2^(maxAge − age) in EXACT integer math (power-of-two
    * half-life, so no float ever enters the fold; the scale factor
    * 2^[[DecayMaxWeeks]] is constant across a snapshot and cancels in
    * any downstream normalization). Report = top-[[DecayTopK]] users
    * by decayed score with raw totals alongside.
    *
    * Scale shape: one scan, one map-side-combined per-user aggregate,
    * head via TakeOrderedAndProject — the q67 batch-top-K shape. The
    * decay weight is a pure projection of `ts`, so the aggregate stays
    * in whole-stage codegen. */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"),
        floor(col("value") * 100d).cast("long").as("cents"),
        expr(s"least(($DecayRefUs - ts_us) div $DecayWeekUs, $DecayMaxWeeks)")
          .as("age_w"))
    ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents_total"),
        sum(col("cents") *
          expr(s"shiftleft(1L, cast($DecayMaxWeeks - age_w as int))"))
          .as("decayed_score"))
      .orderBy(col("decayed_score").desc, col("user_id"))
      .limit(DecayTopK)
  }

  // ---- q141: streaming decayed engagement ----------------------------

  /** q126's freshness scoring with events arriving as a STREAM — the
    * feature-store online path: per-user state is three longs (count,
    * cent sum, decayed sum) folded by an ordinary streaming aggregate
    * (map-side partials absorb hot users before the state shuffle);
    * the decay weight is a pure projection of event time against the
    * frozen snapshot instant [[DecayRefUs]], so a row's contribution
    * is INDEPENDENT of arrival order — exactly what makes the decayed
    * sum streamable without reprocessing (contrast sliding-window
    * recency, which must evict). The top-K head runs batch-side on
    * the state table. Gate = q126's oracle VERBATIM. */
  def streamDecayedEngagement(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
      val ev = streamParquet(spark, s"$dir/events.parquet")
      val src = ev.select(col("user_id"),
          floor(col("value") * 100d).cast("long").as("cents"),
          expr(s"least(($DecayRefUs - ${eventTsUsExpr(ev.schema, "ts")}) " +
            s"div $DecayWeekUs, $DecayMaxWeeks)").as("age_w"))
      val state = src.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("cents_total"),
          sum(col("cents") *
            expr(s"shiftleft(1L, cast($DecayMaxWeeks - age_w as int))"))
            .as("decayed_score"))
      drain(state, "stream_decay_state", "complete")
        .orderBy(col("decayed_score").desc, col("user_id"))
        .limit(DecayTopK)
    }

  /** Identical oracle to q126 — the streamed fold must land on the
    * batch scores exactly. */
  def streamDecayedEngagementSql: String = decayedEngagementSql

  val decayedEngagementSql: String =
    s"""WITH e AS (
       |  SELECT user_id, floor(value * 100)::BIGINT AS cents,
       |    least(($DecayRefUs - epoch_us(ts::TIMESTAMP)) // $DecayWeekUs,
       |      $DecayMaxWeeks) AS age_w
       |  FROM events)
       |SELECT user_id, count(*)::BIGINT AS n_events,
       |  sum(cents)::BIGINT AS cents_total,
       |  sum(cents * (1::BIGINT << ($DecayMaxWeeks - age_w)::INT))::BIGINT
       |    AS decayed_score
       |FROM e GROUP BY user_id
       |ORDER BY decayed_score DESC, user_id
       |LIMIT $DecayTopK""".stripMargin

  // ---- q160: event-lateness / watermark-sizing audit -------------------

  /** Arrival-order displacement for the "delayed" cohort. */
  val LateShift = 100L
  /** Every `% LateMod` event arrives late. */
  val LateMod = 13L

  /** The audit that sizes `withWatermark` delays from DATA instead of
    * folklore: per event type, order events by ARRIVAL and measure each
    * event's lateness = running max of event time seen so far − its own
    * event time (exactly the quantity a watermark must cover to avoid
    * dropping the row). The fixture's arrival order equals event-time
    * order (lateness identically 0), so — the q79/q90 convention — a
    * deterministic reordering overlay makes the audit provably
    * exercise its math: every [[LateMod]]th event arrives [[LateShift]]
    * sequence positions late (`arr = event_id + shift`, ties broken by
    * event_id). Lateness quantiles report on q139's exact ×1000
    * nanosecond grid (p95's interpolation fractions are multiples of
    * 1/20, so the grid is ulp-proof in both engines).
    *
    * Scale shape: one hash shuffle on event_type + per-partition sort
    * (the running-max window); quantiles ride the bounded-memory
    * grouped [[graft.operators.ExactQuantile]], never a per-group
    * buffer. Per-type (not global) lateness is the deployable shape —
    * watermarks are per-stream, and a global arrival order would be a
    * single-partition window. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("arr", "event_id")
    val late = eventsTsUs(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts_us"))
      .withColumn("arr",
        col("event_id") + when(pmod(col("event_id"), lit(LateMod)) === 0,
          lit(LateShift)).otherwise(lit(0L)))
      .withColumn("late_us",
        max(col("ts_us")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - col("ts_us"))
    val counts = late.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val qs = graft.operators.ExactQuantile.groupedQuantiles(
      late.select(col("event_type"), col("late_us").cast("double").as("late_us")),
      "event_type", "late_us", GapQs)
    import spark.implicits._
    qs.toSeq.map { case (g, s) =>
      val t = g.asInstanceOf[String]
      val (n, nl, mx) = counts(t)
      (t, n, nl, math.round(s(0) * 1000d), math.round(s(1) * 1000d), mx * 1000L)
    }.toDF("event_type", "n_events", "n_late", "p50_late_ns", "p95_late_ns",
        "max_late_ns")
      .orderBy("event_type")
  }

  val latenessAuditSql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us,
       |    event_id + CASE WHEN event_id % $LateMod = 0
       |      THEN $LateShift ELSE 0 END AS arr
       |  FROM events),
       |l AS (
       |  SELECT event_type,
       |    max(ts_us) OVER (PARTITION BY event_type ORDER BY arr, event_id
       |      ROWS UNBOUNDED PRECEDING) - ts_us AS late_us
       |  FROM e)
       |SELECT event_type, count(*)::BIGINT AS n_events,
       |  sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
       |  round(quantile_cont(late_us::DOUBLE, 0.5) * 1000)::BIGINT AS p50_late_ns,
       |  round(quantile_cont(late_us::DOUBLE, 0.95) * 1000)::BIGINT AS p95_late_ns,
       |  (max(late_us) * 1000)::BIGINT AS max_late_ns
       |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q161: CUSUM changepoint detection -------------------------------

  /** Sustained-shift boost: every day with `day % 97 < 10` doubles —
    * ten-day incident runs the detector must accumulate over. */
  val CusumBurstMod = 97L
  val CusumBurstLen = 10L

  /** Tabular CUSUM changepoint detection over daily revenue — the
    * sustained-shift complement to q90's pointwise MAD detector (a 20%
    * drift below the MAD threshold never fires q90; CUSUM integrates
    * it): S⁺ₜ = max(0, S⁺ₜ₋₁ + yₜ − μ − k), S⁻ₜ = max(0, S⁻ₜ₋₁ + μ −
    * yₜ − k), alarm when either crosses h; allowance k = μ div 2 (half
    * the ×2-burst shift magnitude) and threshold h = 6·MAD (the
    * integer mean absolute deviation — h must scale with the NOISE,
    * not the level: a μ-scaled h alarms on every day of this sparse
    * series; 6·MAD measured 19/21 alarms inside burst windows at
    * sf0.001 and 142/144 at sf0.01) — ENTIRELY in integer cents (μ,
    * MAD floored), so the recurrence is bit-identical in any engine. A deterministic ×2 burst overlay
    * ([[CusumBurstMod]]) makes alarms provably fire. Sequential by
    * nature: the fold runs over the BOUNDED daily series driver-side
    * (q117's trade — the corpus-scale work is the one daily aggregate);
    * the oracle replays the recurrence as a recursive CTE with every
    * arithmetic column pinned ::BIGINT (the q117 HUGEINT lesson).
    *
    * Scale shape: one scan → per-day cent aggregate (bounded by the
    * calendar); driver state = two longs. */
  def cusumChangepoints(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("c"))
      .withColumn("y", col("c") * when(pmod(col("day"), lit(CusumBurstMod))
        < CusumBurstLen, 2L).otherwise(1L))
      .orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    require(daily.nonEmpty)
    val n = daily.length.toLong
    val mu = daily.map(_._2).sum / n
    val mad = daily.map(d => math.abs(d._2 - mu)).sum / n
    val k = mu / 2
    val h = 6L * mad
    var (sp, sn) = (0L, 0L)
    val rows = daily.map { case (d, y) =>
      sp = math.max(0L, sp + y - mu - k)
      sn = math.max(0L, sn + mu - y - k)
      (d, y, sp, sn, sp > h || sn > h)
    }
    import spark.implicits._
    rows.toSeq.toDF("day", "y_cents", "s_pos", "s_neg", "alarm")
      .orderBy("day")
  }

  val cusumChangepointsSql: String =
    s"""WITH RECURSIVE daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS c
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT row_number() OVER (ORDER BY day) AS rn, day,
       |    (c * CASE WHEN day % $CusumBurstMod < $CusumBurstLen
       |       THEN 2 ELSE 1 END)::BIGINT AS y
       |  FROM daily),
       |p AS (
       |  SELECT ((SELECT sum(y) FROM d) // (SELECT count(*) FROM d))::BIGINT AS mu,
       |    (SELECT count(*) FROM d)::BIGINT AS n),
       |md AS (
       |  SELECT ((SELECT sum(abs(y - p.mu)) FROM d) // p.n)::BIGINT AS mad, p.mu
       |  FROM p),
       |kh AS (SELECT mu, (mu // 2)::BIGINT AS k, (6 * mad)::BIGINT AS h FROM md),
       |c AS (
       |  SELECT d.rn, d.day, d.y,
       |    greatest(0, d.y - kh.mu - kh.k)::BIGINT AS sp,
       |    greatest(0, kh.mu - d.y - kh.k)::BIGINT AS sn
       |  FROM d CROSS JOIN kh WHERE d.rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.day, d.y,
       |    greatest(0, c.sp + d.y - kh.mu - kh.k)::BIGINT,
       |    greatest(0, c.sn + kh.mu - d.y - kh.k)::BIGINT
       |  FROM c JOIN d ON d.rn = c.rn + 1 CROSS JOIN kh)
       |SELECT c.day, c.y AS y_cents, c.sp AS s_pos, c.sn AS s_neg,
       |  (c.sp > kh.h OR c.sn > kh.h) AS alarm
       |FROM c CROSS JOIN kh ORDER BY c.day""".stripMargin

  // ---- q162: Holt-Winters triple smoothing (weekly seasonality) --------

  /** Seasonal period (weekly pattern over the daily series). */
  val HwPeriod = 7

  /** Holt-Winters additive triple smoothing over daily revenue — q117's
    * level+trend recurrence extended with the weekly seasonal the
    * retail-shaped series actually has: α=0.2, β=0.1, γ=0.3 in integer
    * tenths, every step truncating integer division on exact cents
    *   Lₜ = (2(yₜ − sₜ₋₇) + 8(Lₜ₋₁ + bₜ₋₁)) div 10
    *   bₜ = ((Lₜ − Lₜ₋₁) + 9bₜ₋₁) div 10
    *   sₜ = (3(yₜ − Lₜ) + 7sₜ₋₇) div 10
    * initialized from the first week (L₀ = week-1 mean, sᵢ = yᵢ − L₀,
    * b₀ = 0), plus a 7-day out-of-sample forecast L + h·b + s.
    * Sequential by nature — the fold runs over the BOUNDED daily
    * series driver-side (q117's trade; corpus-scale work is the one
    * daily aggregate). The oracle replays the recurrence as a
    * recursive CTE carrying the last [[HwPeriod]] seasonals as a SHIFT
    * REGISTER of columns (a recursive CTE sees only the previous row,
    * so the 7-lag rides along), every arithmetic column ::BIGINT.
    *
    * Scale shape: one scan → per-day cent aggregate; driver state =
    * level, trend, and 7 seasonals. */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("c"))
      .orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(daily.length > 2 * HwPeriod)
    val l0 = daily.take(HwPeriod).map(_._2).sum / HwPeriod
    val seas = Array.tabulate(HwPeriod)(i => daily(i)._2 - l0)
    var (l, b) = (l0, 0L)
    val out = Seq.newBuilder[(Long, Option[Long], Long, Long, Long, Boolean)]
    daily.drop(HwPeriod).foreach { case (d, y) =>
      val sOld = seas(0)
      val lNew = (2 * (y - sOld) + 8 * (l + b)) / 10
      val bNew = ((lNew - l) + 9 * b) / 10
      val sNew = (3 * (y - lNew) + 7 * sOld) / 10
      l = lNew; b = bNew
      System.arraycopy(seas, 1, seas, 0, HwPeriod - 1)
      seas(HwPeriod - 1) = sNew
      out += ((d, Some(y), l, b, sNew, false))
    }
    val lastDay = daily.last._1
    (1 to HwPeriod).foreach { h =>
      out += ((lastDay + h, None, l + h * b, b, seas(h - 1), true))
    }
    import spark.implicits._
    out.result().toDF("day", "y_cents", "level", "trend", "seasonal", "forecast")
      .orderBy("day")
  }

  val holtWintersSql: String = {
    val sCols = (1 to HwPeriod).map(i => s"s$i").mkString(", ")
    val shift = (1 to HwPeriod - 1).map(i => s"h.s${i + 1}").mkString(", ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS c
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT row_number() OVER (ORDER BY day) AS rn, day, c AS y
       |  FROM daily),
       |init AS (
       |  SELECT ((SELECT sum(y) FROM d WHERE rn <= $HwPeriod) // $HwPeriod
       |    )::BIGINT AS l0),
       |seed AS (
       |  SELECT $HwPeriod::BIGINT AS rn,
       |    (SELECT day FROM d WHERE rn = $HwPeriod) AS day,
       |    NULL::BIGINT AS y, init.l0 AS l, 0::BIGINT AS b,
       |    ${(1 to HwPeriod).map(i =>
              s"((SELECT y FROM d WHERE rn = $i) - init.l0)::BIGINT AS s$i")
              .mkString(",\n    ")}
       |  FROM init),
       |h AS (
       |  SELECT rn, day, y, l, b, $sCols, NULL::BIGINT AS s_out FROM seed
       |  UNION ALL
       |  SELECT d.rn, d.day, d.y,
       |    ((2 * (d.y - h.s1) + 8 * (h.l + h.b)) // 10)::BIGINT,
       |    ((((2 * (d.y - h.s1) + 8 * (h.l + h.b)) // 10) - h.l) + 9 * h.b
       |      ) // 10,
       |    $shift,
       |    ((3 * (d.y - ((2 * (d.y - h.s1) + 8 * (h.l + h.b)) // 10))
       |      + 7 * h.s1) // 10)::BIGINT,
       |    ((3 * (d.y - ((2 * (d.y - h.s1) + 8 * (h.l + h.b)) // 10))
       |      + 7 * h.s1) // 10)::BIGINT
       |  FROM h JOIN d ON d.rn = h.rn + 1),
       |tail AS (
       |  SELECT day, l, b, $sCols FROM h ORDER BY rn DESC LIMIT 1),
       |f AS (
       |  SELECT tail.day + g.g AS day, NULL::BIGINT AS y,
       |    (tail.l + g.g * tail.b)::BIGINT AS l, tail.b AS b,
       |    (CASE g.g ${(1 to HwPeriod).map(i =>
              s"WHEN $i THEN tail.s$i").mkString(" ")} END)::BIGINT AS s_out,
       |    TRUE AS forecast
       |  FROM tail CROSS JOIN
       |    (SELECT unnest(generate_series(1, $HwPeriod)) AS g) g)
       |SELECT day, y AS y_cents, l AS level, b AS trend, s_out AS seasonal,
       |  FALSE AS forecast
       |FROM h WHERE rn > $HwPeriod
       |UNION ALL SELECT day, y, l, b, s_out, forecast FROM f
       |ORDER BY day""".stripMargin
  }

  // ---- q175: Theil-Sen robust trend -----------------------------------

  /** Robust trend estimation over daily revenue — the median of all
    * pairwise slopes (Theil-Sen), which a single corrupted day cannot
    * move (OLS q98 has breakdown point 0; Theil-Sen survives 29%
    * outliers): slopes quantize to integer micro-cents/day
    * (`(10⁶·Δy) div Δd`), the median rides the bounded-memory
    * [[graft.operators.ExactQuantile]], and because the median of
    * integers interpolates at most at .5, reporting ×2 is EXACT
    * (q139's grid trick). Kendall-style direction counts ride along.
    *
    * Scale shape: the pair set is the CALENDAR squared — bounded by
    * time span, not data volume (a decade is 13M pairs) — built as a
    * self-join of the per-day aggregate; the corpus contributes one
    * daily rollup scan. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day"))
      .agg(sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("y"))
    // renamed right side, not aliases: a self-join through .as() can
    // silently resolve both "a.day" and "b.day" to one attribute
    val right = daily.select(col("day").as("day2"), col("y").as("y2"))
    // greatest(...,1) is the identity on every REAL pair (day2 > day
    // by the join condition); it exists because the BNLJ's generated
    // consume path evaluates this projection before the condition
    // under ANSI mode, and a phantom day2 == day pair must not throw
    // eager (graft.Scratch.eager): the slope set is read by two
    // separate actions (direction counts + the quantile operator) and
    // is calendar-bounded (a decade is 13M longs), so caching it is
    // cheaper than re-running the day×day BNLJ per action
    val pairs = graft.Scratch.eager(
      daily.join(right, col("day") < col("day2"))
        .select(expr("(1000000 * (y2 - y)) div greatest(day2 - day, 1)")
          .as("slope_micro")))
    val stats = pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("slope_micro") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("slope_micro") < 0, 1L).otherwise(0L)).as("n_neg"))
      .collect().head
    val med = graft.operators.ExactQuantile.quantiles(
      pairs.select(col("slope_micro").cast("double").as("s")), "s", Seq(0.5))
      .head
    val nDays = daily.count()
    pairs.unpersist(blocking = false)
    import spark.implicits._
    Seq((nDays, stats.getLong(0), stats.getLong(1), stats.getLong(2),
      math.round(med * 2d)))
      .toDF("n_days", "n_pairs", "n_pos", "n_neg", "med_slope_micro_x2")
  }

  val theilSenSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS y
       |  FROM orders GROUP BY 1),
       |p AS (
       |  SELECT ((1000000 * (b.y - a.y)) // (b.day - a.day))::BIGINT
       |    AS slope_micro
       |  FROM daily a JOIN daily b ON a.day < b.day)
       |SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
       |  count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |  sum(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
       |  round(quantile_cont(slope_micro::DOUBLE, 0.5) * 2)::BIGINT
       |    AS med_slope_micro_x2
       |FROM p""".stripMargin

  // ---- q179: feed freshness / staleness audit --------------------------

  /** Staleness alarm threshold (hours behind the snapshot instant). */
  val StaleHours = 48L

  /** The feed-freshness dashboard every ingest pipeline keeps — per
    * event stream: last event time against the pinned snapshot instant
    * ([[DecayRefUs]], the q126 convention), staleness in whole hours
    * (exact integer div of the microsecond gap), event counts over the
    * trailing 24 h and 7 days, and the [[StaleHours]] alarm. A feed
    * whose tail silently stopped shows up here before any downstream
    * metric moves.
    *
    * Scale shape: one scan, one per-type aggregate — max/conditional
    * sums, all map-side combinable. */
  def freshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    ev.groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        max(col("ts_us")).as("last_ts_us"),
        sum(when(col("ts_us") >= DecayRefUs - 86400000000L, 1L).otherwise(0L))
          .as("n_last_24h"),
        sum(when(col("ts_us") >= DecayRefUs - 7L * 86400000000L, 1L)
          .otherwise(0L)).as("n_last_7d"))
      .withColumn("staleness_hours",
        expr(s"(${DecayRefUs}L - last_ts_us) div 3600000000"))
      .withColumn("stale", col("staleness_hours") >= StaleHours)
      .orderBy("event_type")
  }

  val freshnessAuditSql: String =
    s"""WITH e AS (
       |  SELECT event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events)
       |SELECT event_type, count(*)::BIGINT AS n_events,
       |  max(ts_us)::BIGINT AS last_ts_us,
       |  sum(CASE WHEN ts_us >= $DecayRefUs - 86400000000 THEN 1 ELSE 0 END
       |    )::BIGINT AS n_last_24h,
       |  sum(CASE WHEN ts_us >= $DecayRefUs - 7 * 86400000000 THEN 1 ELSE 0
       |    END)::BIGINT AS n_last_7d,
       |  (($DecayRefUs - max(ts_us)) // 3600000000)::BIGINT AS staleness_hours,
       |  ($DecayRefUs - max(ts_us)) // 3600000000 >= $StaleHours AS stale
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q196: lead-lag cross-correlation --------------------------------

  /** The two daily series whose lead-lag structure the audit probes —
    * does click activity LEAD purchases, and by how many days? */
  val XcorrLead = "click"
  val XcorrFollow = "purchase"
  val XcorrMaxLag = 3L

  /** Lead-lag cross-correlation between two event-type daily series:
    * Pearson r between clicks on day t and purchases on day t+lag, for
    * every lag in ±[[XcorrMaxLag]] — the standard causal-precedence
    * probe (marketing attribution, leading-indicator discovery) that
    * none of the single-series detectors (q90 MAD, q161 CUSUM, q175
    * Theil-Sen) can see. Inner join on the shifted day, so each lag
    * correlates only days where BOTH series have observations; n_days
    * reports that support.
    *
    * Scale shape: raw events collapse to the (day, type) aggregate in
    * one scan; the lag fan-out and shifted self-join run over the
    * bounded daily series (time span × 2 rows), which AQE
    * broadcast-joins. `corr` is Spark's one-pass mergeable co-moment
    * aggregate (the q27 convention), rounded to 6dp in both engines. */
  def lagCrossCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsTsUs(spark, dir)
      .filter(col("event_type").isin(XcorrLead, XcorrFollow))
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val x = daily.filter(col("event_type") === XcorrLead)
      .select(col("day"), col("n").cast("double").as("x"))
    val y = daily.filter(col("event_type") === XcorrFollow)
      .select(col("day").as("y_day"), col("n").cast("double").as("y"))
    val lags = spark.range(-XcorrMaxLag, XcorrMaxLag + 1)
      .select(col("id").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, col("y_day") === col("day") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"), r6(corr(col("x"), col("y"))).as("xcorr"))
      .orderBy("lag")
  }

  val lagCrossCorrSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(ts::TIMESTAMP) // $DayUs AS day, event_type,
       |    count(*) AS n
       |  FROM events
       |  WHERE event_type IN ('$XcorrLead', '$XcorrFollow')
       |  GROUP BY 1, 2),
       |x AS (SELECT day, n::DOUBLE AS x FROM daily
       |      WHERE event_type = '$XcorrLead'),
       |y AS (SELECT day, n::DOUBLE AS y FROM daily
       |      WHERE event_type = '$XcorrFollow'),
       |lags AS (SELECT unnest(generate_series(-$XcorrMaxLag, $XcorrMaxLag))
       |           AS lag)
       |SELECT lag, count(*)::BIGINT AS n_days, round(corr(x.x, y.y), 6) AS xcorr
       |FROM x CROSS JOIN lags JOIN y ON y.day = x.day + lag
       |GROUP BY lag ORDER BY lag""".stripMargin

  // ---- q199: classical seasonal decomposition --------------------------

  /** Classical additive seasonal decomposition of daily revenue —
    * statsmodels' `seasonal_decompose` / the first pass of STL:
    * `trend` = centered 7-day moving average (defined only where the
    * full window exists), `seasonal` = per-day-of-week mean of the
    * detrended series, `residual` = the rest. The decomposition every
    * forecasting pipeline runs before modeling; q162's Holt-Winters
    * FITS a seasonal model, this DESCRIBES the series model-free.
    *
    * Exactness discipline (the q93 convention): daily revenue is
    * cent-quantized, the centered window and the ×7-scaled detrended
    * series (`7·cents − Σwindow`) stay integer, the per-dow seasonal
    * numerator/denominator stay integer, and only the final projection
    * divides in DOUBLE, rounded to 6dp from identical expression
    * trees in both engines.
    *
    * Scale shape: raw orders collapse to one row per day in one scan;
    * the ordered window runs over that bounded daily series (q93's
    * documented single-partition concession — ~years × 365 rows); the
    * seasonal means are a 7-row aggregate joined back by broadcast. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day")).agg(
      sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("cents"))
    val w = Window.orderBy("day").rangeBetween(-3, 3)
    val full = daily.select(col("day"), col("cents"),
        sum(col("cents")).over(w).as("t7"), count(lit(1)).over(w).as("cnt"))
      .filter(col("cnt") === 7)
      .withColumn("dow", col("day") % 7)
      .withColumn("d7", lit(7) * col("cents") - col("t7"))
    val seas = full.groupBy("dow")
      .agg(sum(col("d7")).as("s7"), count(lit(1)).as("n"))
    full.join(broadcast(seas), Seq("dow"))
      .select(col("day"), col("dow"),
        (col("cents").cast("double") / 100d).as("revenue"),
        r6(col("t7").cast("double") / 700d).as("trend"),
        r6(col("s7").cast("double") / (col("n") * 700).cast("double"))
          .as("seasonal"),
        r6(col("cents").cast("double") / 100d -
          col("t7").cast("double") / 700d -
          col("s7").cast("double") / (col("n") * 700).cast("double"))
          .as("residual"))
      .orderBy("day")
  }

  val seasonalDecomposeSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |t AS (
       |  SELECT day, cents,
       |    sum(cents) OVER (ORDER BY day
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
       |    count(*) OVER (ORDER BY day
       |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt
       |  FROM daily),
       |f AS (
       |  SELECT day, cents, t7, day % 7 AS dow, 7*cents - t7 AS d7
       |  FROM t WHERE cnt = 7),
       |seas AS (SELECT dow, sum(d7) AS s7, count(*)::BIGINT AS n
       |         FROM f GROUP BY dow)
       |SELECT day, dow, (cents::DOUBLE / 100) AS revenue,
       |  round(t7::DOUBLE / 700, 6) AS trend,
       |  round(s7::DOUBLE / (n * 700)::DOUBLE, 6) AS seasonal,
       |  round(cents::DOUBLE / 100 - t7::DOUBLE / 700
       |    - s7::DOUBLE / (n * 700)::DOUBLE, 6) AS residual
       |FROM f JOIN seas USING (dow) ORDER BY day""".stripMargin

  // ---- q243: Spearman rank co-movement between event-type series -------

  /** Which event-type DAILY SERIES co-move, monotonically? — the
    * robust counterpart to q196's Pearson lead-lag: Spearman's ρ is
    * rank-based, so a scraper spike or a fat-tailed campaign day
    * cannot manufacture (or hide) a correlation the way it can with
    * raw-count Pearson. All type pairs over the complete day grid
    * (absent days count as 0 — a day one type went silent IS signal).
    *
    * Exactness discipline: ties take AVERAGE ranks, kept integer by
    * the doubled-rank trick `dr = 2·rank_min + ties − 1` (twice the
    * average rank); `Σ dr = n(n+1)` regardless of ties, so the
    * centered `c = dr − (n+1)` sums to EXACTLY zero per series and
    * Spearman reduces to `ρ = Σcxcy / √(Σcx²·Σcy²)` in pure integers.
    * The root would break exactness, so the reported statistic is the
    * signed square `sign(Σcxcy)·(1000·(Σcxcy)²) div (Σcx²·Σcy²)` in
    * floor per-mille (the sign peeled explicitly — the q239 signed
    * floor-div convention), with the three raw sums alongside so any
    * consumer can rebuild float ρ. |c| ≤ n keeps every term under
    * 1000·n⁶, int64-safe to n ≈ 450 days; beyond a year-and-change,
    * bucket by week (documented bound, same shape).
    *
    * Scale shape: one scan collapses events to (type, day) counts
    * with map-side combine; the grid, rank windows, and T²-pair join
    * all run over the bounded (types × days) table — never over raw
    * events. */
  def spearmanComovement(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsTsUs(spark, dir)
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy(col("event_type").as("t"), col("day"))
      .agg(count(lit(1)).as("x"))
    // both grid sides are domain-bounded (|types| and |days|); the
    // hint states it declaratively (and satisfies PlanSpec's
    // quadratic-creep sweep)
    val grid = daily.select("t").distinct()
      .crossJoin(broadcast(daily.select("day").distinct()))
      .join(daily, Seq("t", "day"), "left")
      .na.fill(0L, Seq("x"))
    // centered doubled average-rank: 2·rank + ties − (n + 2); Σ c = 0
    val c = (lit(2L) * rank().over(Window.partitionBy("t").orderBy("x"))
      + count(lit(1)).over(Window.partitionBy("t", "x"))
      - count(lit(1)).over(Window.partitionBy("t")) - lit(2L))
      .cast("long")
    val ranked = grid.select(col("t"), col("day"), c.as("c"))
    val a = ranked.select(col("t").as("type_a"), col("day"),
      col("c").as("ca"))
    val b = ranked.select(col("t").as("type_b"),
      col("day").as("day_b"), col("c").as("cb"))
    a.join(b, col("day") === col("day_b") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_days"),
        sum(col("ca") * col("cb")).as("s_xy"),
        sum(col("ca") * col("ca")).as("s_xx"),
        sum(col("cb") * col("cb")).as("s_yy"))
      .withColumn("rho2_signed_permille",
        expr("""CASE WHEN s_xy >= 0
                THEN (1000 * s_xy * s_xy) div greatest(s_xx * s_yy, 1)
                ELSE -((1000 * s_xy * s_xy) div greatest(s_xx * s_yy, 1))
                END"""))
      .orderBy("type_a", "type_b")
  }

  val spearmanComovementSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS t, epoch_us(ts::TIMESTAMP) // $DayUs AS day,
       |    count(*)::BIGINT AS x
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT ty.t, d.day, coalesce(daily.x, 0)::BIGINT AS x
       |  FROM (SELECT DISTINCT t FROM daily) ty
       |  CROSS JOIN (SELECT DISTINCT day FROM daily) d
       |  LEFT JOIN daily ON daily.t = ty.t AND daily.day = d.day),
       |ranked AS (
       |  SELECT t, day,
       |    (2 * rank() OVER (PARTITION BY t ORDER BY x)
       |     + count(*) OVER (PARTITION BY t, x)
       |     - count(*) OVER (PARTITION BY t) - 2)::BIGINT AS c
       |  FROM grid)
       |SELECT a.t AS type_a, b.t AS type_b, count(*)::BIGINT AS n_days,
       |  sum(a.c * b.c)::BIGINT AS s_xy,
       |  sum(a.c * a.c)::BIGINT AS s_xx,
       |  sum(b.c * b.c)::BIGINT AS s_yy,
       |  (CASE WHEN sum(a.c * b.c) >= 0
       |    THEN (1000 * sum(a.c * b.c) * sum(a.c * b.c))
       |      // greatest(sum(a.c * a.c) * sum(b.c * b.c), 1)
       |    ELSE -((1000 * sum(a.c * b.c) * sum(a.c * b.c))
       |      // greatest(sum(a.c * a.c) * sum(b.c * b.c), 1))
       |   END)::BIGINT AS rho2_signed_permille
       |FROM ranked a JOIN ranked b ON a.day = b.day AND a.t < b.t
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q255: Wald-Wolfowitz runs test ------------------------------------

  /** z²₀.₀₅ gate in milli (1.96² · 1000). */
  val RunsCritMilli = 3841L

  /** Are daily revenue MOVES random, or do up-days cluster? — the
    * Wald-Wolfowitz runs test, the nonparametric randomness check
    * that needs no moment assumptions at all: count maximal runs of
    * same-sign day-over-day deltas and compare against what a random
    * shuffle of the same up/down multiset would produce. q245 hears
    * autocorrelation in the VALUES; this hears structure in nothing
    * but the SIGNS — it fires on regime-switching patterns whose
    * linear autocorrelation is zero. Zero deltas are dropped (the
    * standard treatment, documented).
    *
    * Entirely exact until the last division:
    * `z² = (R·n − n − 2ab)²·(n−1) / (2ab·(2ab − n))` — E[R] and
    * Var[R] are rationals whose denominators cancel by
    * cross-multiplication, so the only floor is the final milli
    * quantization of a non-negative ratio. Int64 bound: the numerator
    * is `1000·d²·(n−1)` with `d = R·n − n − 2ab`; on the
    * calendar-bounded TPC-H daily series it measures ≈ 2.6·10¹⁸
    * (3.5× headroom) — a decade-plus horizon should bucket by week
    * (documented fallback, same shape).
    *
    * Scale shape: orders collapse to the bounded daily series in one
    * scan; the delta/run windows run over that series (the q93
    * documented bounded-window concession); the test is a one-row
    * aggregate. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val day = expr(s"unix_micros(cast(o_orderdate as timestamp)) div $DayUs")
    val daily = o.groupBy(day.as("day")).agg(
      sum(floor(col("o_totalprice") * lit(100d)).cast("long")).as("cents"))
    val w = Window.orderBy("day")
    val signs = daily
      .withColumn("delta", col("cents") - lag("cents", 1).over(w))
      .filter(col("delta").isNotNull && col("delta") =!= 0L)
      .withColumn("up", col("delta") > 0L)
      .withColumn("flip",
        when(lag("up", 1).over(Window.orderBy("day")).isNull, 1L)
          .when(lag("up", 1).over(Window.orderBy("day")) =!= col("up"), 1L)
          .otherwise(0L))
    signs.agg(
        count(lit(1)).as("n"),
        sum(when(col("up"), 1L).otherwise(0L)).as("n_up"),
        sum(when(col("up"), 0L).otherwise(1L)).as("n_down"),
        sum("flip").as("runs"))
      .withColumn("z2_milli",
        expr("""(1000 * (runs * n - n - 2 * n_up * n_down)
                     * (runs * n - n - 2 * n_up * n_down) * (n - 1))
                div greatest(2 * n_up * n_down
                     * (2 * n_up * n_down - n), 1)"""))
      .withColumn("random_rejected", col("z2_milli") > RunsCritMilli)
  }

  val runsTestSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(o_orderdate::TIMESTAMP) // $DayUs AS day,
       |    sum(floor(o_totalprice * 100)::BIGINT) AS cents
       |  FROM orders GROUP BY 1),
       |d AS (
       |  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS delta
       |  FROM daily),
       |s AS (
       |  SELECT day, delta > 0 AS up FROM d
       |  WHERE delta IS NOT NULL AND delta <> 0),
       |f AS (
       |  SELECT up,
       |    CASE WHEN lag(up) OVER (ORDER BY day) IS NULL THEN 1
       |         WHEN lag(up) OVER (ORDER BY day) <> up THEN 1
       |         ELSE 0 END AS flip
       |  FROM s),
       |agg AS (
       |  SELECT count(*)::BIGINT AS n,
       |    sum(CASE WHEN up THEN 1 ELSE 0 END)::BIGINT AS n_up,
       |    sum(CASE WHEN up THEN 0 ELSE 1 END)::BIGINT AS n_down,
       |    sum(flip)::BIGINT AS runs
       |  FROM f)
       |SELECT n, n_up, n_down, runs,
       |  ((1000 * (runs * n - n - 2 * n_up * n_down)
       |         * (runs * n - n - 2 * n_up * n_down) * (n - 1))
       |    // greatest(2 * n_up * n_down * (2 * n_up * n_down - n), 1)
       |    )::BIGINT AS z2_milli,
       |  ((1000 * (runs * n - n - 2 * n_up * n_down)
       |         * (runs * n - n - 2 * n_up * n_down) * (n - 1))
       |    // greatest(2 * n_up * n_down * (2 * n_up * n_down - n), 1))
       |    > $RunsCritMilli AS random_rejected
       |FROM agg""".stripMargin

  // ---- q245: Ljung-Box white-noise audit --------------------------------

  /** Autocorrelation horizon probed by the Ljung-Box statistic. */
  val LbMaxLag = 7L

  /** χ²₀.₉₅ critical values (milli) for df = 1..7 — the standard
    * Ljung-Box rejection table. */
  val LbCritMilli = Seq(3841L, 5991L, 7815L, 9488L, 11070L, 12592L, 14067L)

  /** Is a daily series WHITE NOISE, or does it carry structure an
    * anomaly detector should model first? — the Ljung-Box portmanteau
    * test every forecasting pipeline runs on residuals, here over each
    * event type's daily count series (dense day grid, silent days are
    * zeros). q196 measures ONE cross-correlation; this sweeps a
    * series' own autocorrelations ρ₁..ρ_h and accumulates
    * `Q = n(n+2)·Σ ρ_k²/(n−k)` against the χ² table.
    *
    * Exactness discipline: the series is centered on the FLOOR-DIV
    * milli mean (`y_t = 1000·x_t − (1000·Σx) div n` — a documented
    * definition, exact integers thereafter); each ρ_k is a signed
    * floor per-mille of the integer autocovariance ratio (sign peeled
    * — the q239 convention; |ρ| ≤ 1000 by Cauchy-Schwarz), and each
    * Q-term a second floor division — the same two-stage quantization
    * q240's ECDF uses, identical expression trees in both engines.
    * Bounds: |y| ≤ 1000·max(x), so A_k stays int64 for any daily
    * series with n·max(x)² ≤ 9·10¹² — years of days at 10⁵
    * events/day.
    *
    * Scale shape: one scan → (type, day) counts with map-side
    * combine; the dense grid, the h-lag fan-out self-join, and the
    * cumulative window all run over the bounded (types × days) table
    * with a broadcast lag list. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val daily = eventsTsUs(spark, dir)
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy(col("event_type").as("t"), col("day"))
      .agg(count(lit(1)).as("x"))
    val bounds = daily.agg(min("day"), max("day")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val n = hi - lo + 1
    val grid = daily.select("t").distinct()
      .crossJoin(spark.range(lo, hi + 1).select(col("id").as("day")))
      .join(daily, Seq("t", "day"), "left")
      .na.fill(0L, Seq("x"))
    val stats = grid.groupBy("t")
      .agg(expr(s"(1000 * sum(x)) div $n").as("mean_milli"))
    val y = grid.join(broadcast(stats), Seq("t"))
      .select(col("t"), col("day"),
        (lit(1000L) * col("x") - col("mean_milli")).as("y"))
    val a0 = y.groupBy("t").agg(sum(col("y") * col("y")).as("a0"))
    val lags = spark.range(1L, LbMaxLag + 1).select(col("id").as("lag"))
    val b = y.select(col("t").as("tb"), col("day").as("day_b"),
      col("y").as("yb"))
    val crit = LbCritMilli.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN ${c}L" }
      .mkString("CASE lag ", " ", " END")
    y.crossJoin(broadcast(lags))
      .join(b, col("tb") === col("t") && col("day_b") === col("day") + col("lag"))
      .groupBy("t", "lag").agg(sum(col("y") * col("yb")).as("ak"))
      .join(broadcast(a0), Seq("t"))
      .withColumn("rho_milli",
        expr("""CASE WHEN ak >= 0 THEN (1000 * ak) div greatest(a0, 1)
                ELSE -((1000 * (-ak)) div greatest(a0, 1)) END"""))
      .withColumn("q_term",
        expr(s"($n * ${n + 2} * rho_milli * rho_milli) div (1000 * ($n - lag))"))
      .withColumn("q_cum_milli",
        sum("q_term").over(Window.partitionBy("t").orderBy("lag")))
      .select(col("t").as("event_type"), col("lag"), lit(n).as("n_days"),
        col("ak").as("autocov_scaled"), col("rho_milli"),
        col("q_cum_milli"), expr(crit).cast("long").as("crit_milli"))
      .withColumn("white_noise_rejected", col("q_cum_milli") > col("crit_milli"))
      .orderBy("event_type", "lag")
  }

  val ljungBoxSql: String = {
    val crit = LbCritMilli.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }
      .mkString("CASE lag ", " ", " END")
    s"""WITH daily AS (
       |  SELECT event_type AS t, epoch_us(ts::TIMESTAMP) // $DayUs AS day,
       |    count(*)::BIGINT AS x
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT min(day) AS lo, max(day) AS hi,
       |    (max(day) - min(day) + 1)::BIGINT AS n
       |  FROM daily),
       |grid AS (
       |  SELECT ty.t, d.day, coalesce(daily.x, 0)::BIGINT AS x
       |  FROM (SELECT DISTINCT t FROM daily) ty
       |  CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS day
       |              FROM bounds) d
       |  LEFT JOIN daily ON daily.t = ty.t AND daily.day = d.day),
       |stats AS (
       |  SELECT t, (1000 * sum(x)) // (SELECT n FROM bounds) AS mean_milli
       |  FROM grid GROUP BY 1),
       |yv AS (
       |  SELECT grid.t, day, (1000 * x - mean_milli)::BIGINT AS y
       |  FROM grid JOIN stats USING (t)),
       |a0 AS (SELECT t, sum(y * y)::BIGINT AS a0 FROM yv GROUP BY 1),
       |lags AS (SELECT unnest(generate_series(1, $LbMaxLag)) AS lag),
       |ak AS (
       |  SELECT a.t, lags.lag, sum(a.y * b.y)::BIGINT AS ak
       |  FROM yv a CROSS JOIN lags
       |  JOIN yv b ON b.t = a.t AND b.day = a.day + lags.lag
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT ak.t, lag, ak, a0, (SELECT n FROM bounds) AS n,
       |    (CASE WHEN ak >= 0 THEN (1000 * ak) // greatest(a0, 1)
       |          ELSE -((1000 * (-ak)) // greatest(a0, 1)) END)::BIGINT
       |      AS rho_milli
       |  FROM ak JOIN a0 USING (t)),
       |q AS (
       |  SELECT t, lag, n, ak, rho_milli,
       |    (sum((n * (n + 2) * rho_milli * rho_milli)
       |         // (1000 * (n - lag)))
       |       OVER (PARTITION BY t ORDER BY lag))::BIGINT AS q_cum_milli
       |  FROM r)
       |SELECT t AS event_type, lag::BIGINT AS lag, n AS n_days,
       |  ak AS autocov_scaled, rho_milli, q_cum_milli,
       |  ($crit)::BIGINT AS crit_milli,
       |  q_cum_milli > ($crit) AS white_noise_rejected
       |FROM q ORDER BY 1, 2""".stripMargin
  }

  // ---- q277: Nelson-Aalen conversion hazard --------------------------------

  /** HOW LONG until a signed-up user converts — and does the risk
    * concentrate early or drip? The survival-analysis question every
    * funnel table (q91) flattens away, answered with the Nelson-Aalen
    * cumulative-hazard estimator — chosen over Kaplan-Meier
    * deliberately: KM is a cumulative PRODUCT (not integer-expressible
    * without logs), NA is a cumulative SUM `H(t) = Σ_{t_i ≤ t}
    * d_i/n_i`, which stays in exact integer micro units. Cohort: users
    * whose first `signup` event is their entry; death = first
    * `purchase` on or after entry; survivors are right-CENSORED at the
    * corpus horizon (the estimator's whole point — dropping them would
    * bias risk upward). Per conversion day: the risk set, deaths,
    * micro hazard `(10⁶·d_t) div n_t`, and the running cumulative
    * hazard (term-wise floor — deterministic in both engines,
    * documented like every micro sum here).
    *
    * Scale shape: one events scan → per-user (entry, death) via
    * conditional aggregation; durations collapse to ≤ horizon-days
    * rows; risk sets come from one cumulative window over that
    * bounded table. */
  def conversionHazard(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_us div 86400000000").as("day"))
    val horizon = ev.agg(max("day")).head.getLong(0)
    val entries = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("day").as("entry"))
    // first purchase ON OR AFTER entry — a purchase predating signup
    // must not convert the user (hence the entry join, not a bare
    // per-user min over all purchases)
    val deaths = ev.filter(col("event_type") === "purchase")
      .join(entries, Seq("user_id"))
      .filter(col("day") >= col("entry"))
      .groupBy("user_id").agg(min("day").as("purch"))
    val per = entries.join(deaths, Seq("user_id"), "left")
      .select(
        coalesce(col("purch") - col("entry"),
          lit(horizon) - col("entry")).as("dur"),
        col("purch").isNotNull.as("converted"))
    val durs = per.groupBy("dur")
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("deaths"))
    val w = Window.orderBy("dur")
    durs
      .withColumn("n_at_risk",
        sum("n_all").over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)))
      .withColumn("hazard_micro",
        expr("(1000000 * deaths) div n_at_risk"))
      .withColumn("cum_hazard_micro",
        sum("hazard_micro").over(w))
      .filter(col("deaths") > 0)
      .select(col("dur").as("day"), col("n_at_risk"), col("deaths"),
        col("hazard_micro"), col("cum_hazard_micro"))
      .orderBy("day")
  }

  val conversionHazardSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    epoch_us(ts::TIMESTAMP) // 86400000000 AS day
       |  FROM events),
       |h AS (SELECT max(day)::BIGINT AS horizon FROM ev),
       |entries AS (
       |  SELECT user_id, min(day) AS entry FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |deaths AS (
       |  SELECT e.user_id, min(e.day) AS purch
       |  FROM ev e JOIN entries n USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.day >= n.entry
       |  GROUP BY 1),
       |per AS (
       |  SELECT coalesce(d.purch - n.entry, horizon - n.entry) AS dur,
       |    d.purch IS NOT NULL AS converted
       |  FROM entries n LEFT JOIN deaths d USING (user_id), h),
       |durs AS (
       |  SELECT dur, count(*)::BIGINT AS n_all,
       |    sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS deaths
       |  FROM per GROUP BY 1),
       |risk AS (
       |  SELECT dur, deaths,
       |    sum(n_all) OVER (ORDER BY dur
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |      ::BIGINT AS n_at_risk
       |  FROM durs),
       |hz AS (
       |  SELECT dur, n_at_risk, deaths,
       |    ((1000000 * deaths) // n_at_risk)::BIGINT AS hazard_micro,
       |    sum((1000000 * deaths) // n_at_risk) OVER (ORDER BY dur)
       |      ::BIGINT AS cum_hazard_micro
       |  FROM risk)
       |SELECT dur AS day, n_at_risk, deaths, hazard_micro,
       |  cum_hazard_micro
       |FROM hz WHERE deaths > 0 ORDER BY day""".stripMargin

  // ---- q308: Markov next-event prediction accuracy ------------------------

  /** Does the q134 transition matrix actually PREDICT? — the
    * backtest every "next-event model" needs before anyone trusts its
    * probabilities: per current type, the argmax next type (min type
    * name on count ties — a total order), scored against every
    * consecutive (user-ordered) event pair. Publishes per-type rows —
    * the prediction, support, hits, accuracy, and the baseline the
    * model must beat: that type's share of all transitions (predicting
    * the global majority class). Model accuracy below baseline means
    * the chain carries no sequence signal for that type.
    *
    * Scale shape: q134's — one user-keyed window builds adjacency, the
    * matrix is a <= |types|^2 broadcast, scoring is one more pass of
    * the same pairs. */
  def markovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val tr = eventsTsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
    val counts = tr.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy("prev_type")
      .orderBy(desc("n"), asc("next_type"))
    val predicted = counts
      .withColumn("rn", row_number().over(byFrom))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"))
    val global = tr.groupBy(col("next_type"))
      .agg(count(lit(1)).as("gn"))
    val globalTop = global
      .orderBy(desc("gn"), asc("next_type")).limit(1)
      .select(col("next_type").as("majority_next"), col("gn"))
    val tot = tr.agg(count(lit(1)).as("n_all"))
    tr.join(broadcast(predicted), Seq("prev_type"))
      .groupBy("prev_type", "predicted_next")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("next_type") === col("predicted_next"), 1L)
          .otherwise(0L)).as("n_correct"))
      .crossJoin(broadcast(globalTop)).crossJoin(broadcast(tot))
      .select(col("prev_type"), col("predicted_next"), col("n_pairs"),
        col("n_correct"),
        expr("(1000 * n_correct) div n_pairs").as("accuracy_pm"),
        col("majority_next"),
        expr("(1000 * gn) div n_all").as("baseline_pm"))
      .orderBy("prev_type")
  }

  val markovAccuracySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
      |    event_type
      |  FROM events),
      |tr AS (
      |  SELECT prev_type, next_type FROM (
      |    SELECT lag(event_type) OVER (
      |        PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type,
      |      event_type AS next_type
      |    FROM e)
      |  WHERE prev_type IS NOT NULL),
      |c AS (
      |  SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM tr GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev_type, next_type AS predicted_next FROM (
      |    SELECT prev_type, next_type,
      |      row_number() OVER (PARTITION BY prev_type
      |        ORDER BY n DESC, next_type) AS rn
      |    FROM c)
      |  WHERE rn = 1),
      |g AS (
      |  SELECT next_type AS majority_next, count(*)::BIGINT AS gn
      |  FROM tr GROUP BY 1 ORDER BY gn DESC, majority_next LIMIT 1),
      |t AS (SELECT count(*)::BIGINT AS n_all FROM tr)
      |SELECT tr.prev_type, pred.predicted_next,
      |  count(*)::BIGINT AS n_pairs,
      |  sum(CASE WHEN tr.next_type = pred.predicted_next THEN 1 ELSE 0
      |    END)::BIGINT AS n_correct,
      |  ((1000 * sum(CASE WHEN tr.next_type = pred.predicted_next
      |    THEN 1 ELSE 0 END)) // count(*))::BIGINT AS accuracy_pm,
      |  g.majority_next,
      |  ((1000 * g.gn) // t.n_all)::BIGINT AS baseline_pm
      |FROM tr JOIN pred USING (prev_type), g, t
      |GROUP BY tr.prev_type, pred.predicted_next, g.majority_next,
      |  g.gn, t.n_all
      |ORDER BY tr.prev_type""".stripMargin

  // ---- q319: Kaplan-Meier survival (product-limit) -------------------------

  /** The product-limit estimator the q277 doc deliberately deferred
    * ("KM is a cumulative PRODUCT — not integer-expressible without
    * logs"), made integer-exact after all: the survival curve S(t) =
    * Π_{t_i ≤ t} (n_i - d_i)/n_i is a SEQUENTIAL recurrence in micro
    * units — `s_k = (s_{k-1} · (n_k - d_k)) div n_k`, seeded at 10⁶ —
    * whose every step is one exact integer multiply (≤ 10⁶·n < 2⁶³)
    * and one floor division, identical in both engines. No log, no
    * libm, no float product order to agree on. Same cohort as q277
    * (entry = first `signup`, death = first `purchase` on/after entry,
    * right-censored at the corpus horizon), so the two estimators
    * publish the same risk sets and the curves cross-check:
    * 1 − S(t) ≈ 1 − exp(−H(t)). Alongside S(t): Greenwood's variance
    * accumulator Σ d/(n(n-d)) in nano units — the standard CI input —
    * which is a plain cumulative SUM.
    *
    * Scale shape: identical to q277 — one events scan collapses to
    * per-user (dur, converted), then to ≤ horizon-days duration cells.
    * Only the cells (bounded by the corpus day span, thousands at
    * most) visit the driver for the sequential product — the same
    * bounded-collect contract as ExactQuantile; the oracle runs the
    * identical recurrence as a recursive CTE over the same cells. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_us div 86400000000").as("day"))
    val horizon = ev.agg(max("day")).head.getLong(0)
    val entries = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("day").as("entry"))
    val deaths = ev.filter(col("event_type") === "purchase")
      .join(entries, Seq("user_id"))
      .filter(col("day") >= col("entry"))
      .groupBy("user_id").agg(min("day").as("purch"))
    val per = entries.join(deaths, Seq("user_id"), "left")
      .select(
        coalesce(col("purch") - col("entry"),
          lit(horizon) - col("entry")).as("dur"),
        col("purch").isNotNull.as("converted"))
    val w = Window.orderBy("dur")
    val cells = per.groupBy("dur")
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("deaths"))
      .withColumn("n_at_risk",
        sum("n_all").over(w.rowsBetween(Window.currentRow,
          Window.unboundedFollowing)))
      .select("dur", "n_at_risk", "deaths")
      .orderBy("dur")
      .collect()
    var surv = 1000000L
    var gwNano = 0L
    val out = cells.iterator.map { r =>
      val (dur, n, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      surv = (surv * (n - d)) / n
      if (d > 0 && n > d) gwNano += (1000000000L * d) / (n * (n - d))
      (dur, n, d, surv, gwNano)
    }.filter(_._3 > 0).toSeq
    out.toDF("day", "n_at_risk", "deaths", "surv_micro", "greenwood_nano")
      .orderBy("day")
  }

  val kaplanMeierSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, event_type,
       |    epoch_us(ts::TIMESTAMP) // 86400000000 AS day
       |  FROM events),
       |h AS (SELECT max(day)::BIGINT AS horizon FROM ev),
       |entries AS (
       |  SELECT user_id, min(day) AS entry FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |deaths AS (
       |  SELECT e.user_id, min(e.day) AS purch
       |  FROM ev e JOIN entries n USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.day >= n.entry
       |  GROUP BY 1),
       |per AS (
       |  SELECT coalesce(d.purch - n.entry, horizon - n.entry) AS dur,
       |    d.purch IS NOT NULL AS converted
       |  FROM entries n LEFT JOIN deaths d USING (user_id), h),
       |cells AS MATERIALIZED (
       |  SELECT dur, deaths, n_at_risk,
       |    row_number() OVER (ORDER BY dur) AS rn
       |  FROM (
       |    SELECT dur,
       |      sum(CASE WHEN converted THEN 1 ELSE 0 END)::BIGINT AS deaths,
       |      sum(count(*)) OVER (ORDER BY dur
       |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |        ::BIGINT AS n_at_risk
       |    FROM per GROUP BY dur)),
       |km AS (
       |  SELECT rn, dur, n_at_risk, deaths,
       |    ((1000000 * (n_at_risk - deaths)) // n_at_risk)::BIGINT AS surv,
       |    (CASE WHEN deaths > 0 AND n_at_risk > deaths
       |      THEN (1000000000 * deaths) // (n_at_risk * (n_at_risk - deaths))
       |      ELSE 0 END)::BIGINT AS gw
       |  FROM cells WHERE rn = 1
       |  UNION ALL
       |  SELECT c.rn, c.dur, c.n_at_risk, c.deaths,
       |    ((km.surv * (c.n_at_risk - c.deaths)) // c.n_at_risk)::BIGINT,
       |    (km.gw + CASE WHEN c.deaths > 0 AND c.n_at_risk > c.deaths
       |      THEN (1000000000 * c.deaths)
       |        // (c.n_at_risk * (c.n_at_risk - c.deaths))
       |      ELSE 0 END)::BIGINT
       |  FROM km JOIN cells c ON c.rn = km.rn + 1)
       |SELECT dur AS day, n_at_risk, deaths, surv AS surv_micro,
       |  gw AS greenwood_nano
       |FROM km WHERE deaths > 0 ORDER BY day""".stripMargin
}
