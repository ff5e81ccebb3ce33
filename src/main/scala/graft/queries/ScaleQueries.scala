package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RangeJoin, SaltedAgg, Sampling}
import graft.text.TextStats
import QueryUtil._

/** Round-3 scale-pattern surface: the operators a 100 TB training-data
  * pipeline leans on that no earlier query exercised — banded range
  * joins (q42), deterministic hash sampling/splitting (q43), corpus
  * TF-IDF (q44), salted skew-proof distinct aggregation (q45), and the
  * streaming twin of the range join (q46). Each is a thin composition
  * over a reusable operator in `graft.operators` / `graft.text`, and
  * each carries a DuckDB oracle.
  */
object ScaleQueries {

  // ---- q42: banded range join ----------------------------------------

  /** 24 h in micros — the attribution window AND the band width (the
    * band width equals the window span so the left explode factor is
    * exactly 2; see [[graft.operators.RangeJoin]]). */
  val RangeWindowUs: Long = 86400000000L

  /** Click-to-purchase attribution: for every purchase, the count and
    * money sum of the same user's clicks in the preceding 24 h.
    * Candidates come from an equi-join on (user, time-band) — never a
    * nested loop (plan-asserted) — then per-purchase aggregation and a
    * left join back so zero-click purchases survive with 0s. */
  def rangeJoinActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("purchase_ts_us"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts_us").as("click_ts_us"),
        col("value").as("click_value"))
    val pairs = RangeJoin.bucketedInner(purchases, clicks,
      leftKey = "user_id", rightKey = "c_user_id",
      leftTs = "purchase_ts_us", rightTs = "click_ts_us",
      lowUs = -RangeWindowUs, highUs = 0L)
    val perPurchase = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks_24h"),
        moneySum(col("click_value")).as("click_value_24h"))
    purchases.join(perPurchase, Seq("event_id"), "left")
      .select(col("user_id"), col("purchase_ts_us"), col("event_id"),
        coalesce(col("n_clicks_24h"), lit(0L)).as("n_clicks_24h"),
        coalesce(col("click_value_24h"), lit(0d)).as("click_value_24h"))
      .orderBy("user_id", "purchase_ts_us")
  }

  val rangeJoinActivitySql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us, event_id
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS click_ts_us, value
       |  FROM events WHERE event_type = 'click')
       |SELECT p.user_id AS user_id, p.purchase_ts_us, p.event_id,
       |  count(c.click_ts_us)::BIGINT AS n_clicks_24h,
       |  coalesce(sum(floor(c.value * 100)::BIGINT)::DOUBLE / 100, 0) AS click_value_24h
       |FROM p LEFT JOIN c ON p.user_id = c.user_id
       |  AND c.click_ts_us > p.purchase_ts_us - $RangeWindowUs
       |  AND c.click_ts_us <= p.purchase_ts_us
       |GROUP BY p.user_id, p.purchase_ts_us, p.event_id
       |ORDER BY user_id, purchase_ts_us""".stripMargin

  // ---- q43: deterministic stratified sample + split ------------------

  /** Training-mix rates: downsample dominant English, boost Chinese,
    * default for the rest — plus an independent 80% train split. */
  val SampleRates: Map[String, Double] = Map("en" -> 0.10, "zh" -> 0.50)
  val DefaultRate: Double = 0.25
  val TrainFraction: Double = 0.80

  /** Per-language census of the deterministic stratified sample: row
    * counts, an id checksum (proves exact membership, not just
    * cardinality), the train-split count, and character mass. Pure
    * projection + one aggregation — no shuffle before the groupBy. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Sampling.stratifiedDeterministic(
        docs, col("doc_id"), col("lang"), SampleRates, DefaultRate)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_checksum"),
        sum(when(Sampling.isTrain(col("doc_id"), TrainFraction), 1L)
          .otherwise(0L)).as("n_train"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  val stratifiedSampleSql: String = {
    val caseArms = SampleRates.toSeq.sorted
      .map { case (k, r) => s"WHEN '$k' THEN '${Sampling.thresholdHex(r)}'" }
      .mkString(" ")
    s"""WITH s AS (
       |  SELECT lang, doc_id, n_chars,
       |    substr(md5(doc_id::VARCHAR || ':sample'), 1, 4) AS b,
       |    substr(md5(doc_id::VARCHAR || ':split'), 1, 4) AS sb
       |  FROM documents)
       |SELECT lang,
       |  count(*)::BIGINT AS n_sampled,
       |  sum(doc_id)::BIGINT AS id_checksum,
       |  sum(CASE WHEN sb < '${Sampling.thresholdHex(TrainFraction)}'
       |           THEN 1 ELSE 0 END)::BIGINT AS n_train,
       |  sum(n_chars)::BIGINT AS sum_chars
       |FROM s
       |WHERE b < CASE lang $caseArms
       |          ELSE '${Sampling.thresholdHex(DefaultRate)}' END
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---- q44: corpus TF-IDF top terms ----------------------------------

  val TfidfTopK = 20
  val MinTermLen = 3

  /** Top-[[TfidfTopK]] corpus terms by tf·idf (idf = ln(N/df)). One
    * explode + one aggregation; tf and df ride the same groupBy (df as
    * a distinct-count — at 100 TB the [[SaltedAgg]] shard trick applies
    * to it unchanged). Ordered by the ROUNDED score so the cutoff is
    * engine-stable. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val nDocs = docs.count().toDouble // one O(1)-result scalar job
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= MinTermLen &&
        !col("term").isInCollection(TextStats.stopwords))
      .groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs) / col("df")), 6))
      .orderBy(desc("tfidf"), asc("term"))
      .limit(TfidfTopK)
  }

  val tfidfTermsSql: String = {
    val stop = TextStats.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM documents),
       |f AS (
       |  SELECT term, count(*)::BIGINT AS tf,
       |         count(DISTINCT doc_id)::BIGINT AS df
       |  FROM t
       |  WHERE length(term) >= $MinTermLen AND term NOT IN ($stop)
       |  GROUP BY term)
       |SELECT term, tf, df,
       |  round(tf * ln((SELECT count(*) FROM documents)::DOUBLE / df), 6) AS tfidf
       |FROM f
       |ORDER BY tfidf DESC, term
       |LIMIT $TfidfTopK""".stripMargin
  }

  // ---- q45: salted skew-proof distinct count -------------------------

  val NSalts = 16

  /** Per-event-type activity rollup where the distinct-user count runs
    * through [[SaltedAgg.distinctCount]] — event_type has ~5 values, so
    * WITHOUT salting five reducers would each swallow a fifth of the
    * distinct-user universe; the shards bound final-phase fan-in at
    * [[NSalts]] longs per key. Result is exactly count(DISTINCT). */
  def saltedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val nd = SaltedAgg.distinctCount(
      ev, Seq("event_type"), "user_id", NSalts, "nd_users")
    val base = ev.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      moneySum(col("value")).as("sum_value"))
    base.join(nd, Seq("event_type")).orderBy("event_type")
  }

  val saltedDistinctSql: String =
    s"""SELECT event_type,
       |  count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value,
       |  count(DISTINCT user_id)::BIGINT AS nd_users
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  // ---- q46: stream-stream range join ---------------------------------

  /** The q42 window as a watermarked stream-stream interval join —
    * purchases and clicks as two streams, joined on user within the
    * trailing 24 h. The watermark + time-bound condition let Spark
    * evict buffered rows once the other side's watermark passes the
    * window, so state is bounded by (watermark + 24 h) of data per
    * side, not the whole stream. Emits the raw attribution pairs
    * (append mode); the batch oracle is the same join in SQL. */
  def streamRangeJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    // two sources of one table: each side of the join reads its own
    def src = {
      val ev = streamParquet(spark, s"$dir/events.parquet")
      ev.withColumn("event_ts", eventTs(ev))
    }
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_ts").as("p_ts"), col("event_id"))
      .withWatermark("p_ts", "1 minute")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", "1 minute")
    val pairs = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 24 HOURS") &&
        col("c_ts") <= col("p_ts"))
    val out = pairs
      .select(col("user_id"), unix_micros(col("p_ts")).as("purchase_ts_us"),
        col("event_id"), unix_micros(col("c_ts")).as("click_ts_us"),
        col("click_value"))
    // (user_id, ts) is unique per side, so this ORDER BY is total
    drain(out, "stream_range_join_result", "append")
      .orderBy("user_id", "purchase_ts_us", "click_ts_us")
    }

  val streamRangeJoinSql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us, event_id
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS click_ts_us, value AS click_value
       |  FROM events WHERE event_type = 'click')
       |SELECT p.user_id AS user_id, p.purchase_ts_us, p.event_id,
       |       c.click_ts_us, c.click_value
       |FROM p JOIN c ON p.user_id = c.user_id
       |  AND c.click_ts_us > p.purchase_ts_us - $RangeWindowUs
       |  AND c.click_ts_us <= p.purchase_ts_us
       |ORDER BY user_id, purchase_ts_us, click_ts_us""".stripMargin

  // ---- q47: date-partitioned source + partition pruning --------------

  val PruneLo = "2024-01-10"
  val PruneHi = "2024-01-12"

  /** Events re-laid-out date-partitioned (write-once per dir, like the
    * q39 bucketed layout), then a 3-day window aggregated over it. The
    * date filter never touches row data: it prunes whole partition
    * directories at plan time (PlanSpec asserts the scan's
    * PartitionFilters + partition count), which at 100 TB with daily
    * partitions makes this query read ~0.1% of the corpus. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = ensurePartitionedEvents(spark, dir)
    spark.read.parquet(path)
      .filter(col("event_date").between(
        lit(PruneLo).cast("date"), lit(PruneHi).cast("date")))
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .select(col("event_date").cast("string").as("event_date"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("event_date", "event_type")
  }

  /** Date-partitioned copy of events for `dir`, written once per JVM
    * (modeling the real workload: partitioning is an ingest-time
    * layout decision, not per-query work). The cache tag fingerprints
    * the SOURCE file's length+mtime, not just its path — regenerating
    * events.parquet under the same path across JVM runs invalidates
    * the copy instead of silently serving the stale layout. */
  private def ensurePartitionedEvents(
      spark: SparkSession, dir: String): String = synchronized {
    val src = new java.io.File(s"$dir/events.parquet")
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$dir:${src.length}:${src.lastModified}"))
    val path = s"${sys.props("java.io.tmpdir")}/graft_part_events_$tag"
    if (!new java.io.File(path, "_SUCCESS").exists) {
      val ev0 = table(spark, dir, "events")
      val ev = ev0.withColumn("event_date", to_date(eventTs(ev0)))
      graft.sources.PartitionedTables.writePartitioned(ev, path, "event_date")
    }
    path
  }

  // ---- q315: dynamic partition pruning ------------------------------------

  /** Busiest-purchase-date dim size. */
  val DppTopDates = 3

  /** DYNAMIC partition pruning — the runtime half of q47's story: the
    * date set is not a literal (it is the top-[[DppTopDates]] busiest
    * purchase dates, computed from the data), so static pruning is
    * impossible — yet the scan still skips partitions, because Spark
    * plants a dynamic-pruning subquery on the fact's partition column
    * fed by the broadcast dim at RUNTIME (PlanSpec-style assertion in
    * IngestAndRankSpec: `dynamicpruning` in the scan). At 100 TB this
    * is the difference between "join filters after reading everything"
    * and "the dim's result prunes directories before the fact scan" —
    * the mechanism star-schema dashboards live on. */
  def dynamicPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val path = ensurePartitionedEvents(spark, dir)
    val fact = spark.read.parquet(path)
    val ev0 = table(spark, dir, "events")
    val dim = ev0.filter(col("event_type") === "purchase")
      .groupBy(to_date(eventTs(ev0)).as("event_date"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("event_date"))
      .limit(DppTopDates)
      .select("event_date")
    fact.join(broadcast(dim), Seq("event_date"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val dynamicPartitionPruneSql: String =
    s"""WITH d AS (
       |  SELECT ts::DATE AS event_date, count(*) AS n
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY 1 ORDER BY n DESC, event_date LIMIT $DppTopDates)
       |SELECT event_type, count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value
       |FROM events JOIN d ON events.ts::DATE = d.event_date
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  val partitionPruneSql: String =
    s"""SELECT ts::DATE::VARCHAR AS event_date, event_type,
       |  count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value
       |FROM events
       |WHERE ts::DATE BETWEEN '$PruneLo' AND '$PruneHi'
       |GROUP BY 1, 2
       |ORDER BY event_date, event_type""".stripMargin

  // ---- q48: mergeable HLL sketch cube --------------------------------

  /** Relative-error bound the q48/q59 gates assert on HLL estimates,
    * and the q59 sketch precision that makes the bound a ≥3σ claim
    * (the library-default rsd 0.05 breached 5% on one sf0.01 window;
    * a bound must be derived from configured precision, not hoped).
    * Both q48 and q59 use DataSketches `hll_sketch_agg` at
    * [[StreamDistinctLgK]]=12 (rse = 1.04/√4096 ≈ 1.63%, so 5% ≈
    * 3.1σ): A/B-measured ~2× cheaper per row in the streaming state
    * path than HLL++ at the equivalent rsd 0.015, with better observed
    * error (1.4% max at sf0.1). */
  val HllRelErr = 0.05
  val StreamDistinctLgK = 12

  /** Per-day HLL sketches of the distinct-user set, then a union-merge
    * across the days — the pre-aggregated "sketch cube" pattern: any
    * day-range's distinct count is answered by merging that range's
    * sketches (KB each) instead of rescanning raw data. The merge is
    * exactly the associative-commutative accumulator shape the
    * reference builds its moments on, applied to cardinality.
    *
    * The merged estimate is engine-specific, so the output carries the
    * accuracy claim hash-matchably: exact day/event/user counts plus a
    * boolean asserting the union-merged estimate landed within
    * [[HllRelErr]] of the exact distinct-user count; the oracle
    * recomputes the exact side and literal TRUE. The exact
    * countDistinct exists only to materialize the claim for the gate. */
  def hllCube(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = table(spark, dir, "events")
    val ev = ev0.withColumn("event_date", to_date(eventTs(ev0)))
    val daily = ev.groupBy("event_date").agg(
      hll_sketch_agg(col("user_id")).as("sk"),
      count(lit(1)).as("n_events"))
    val cube = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("n_events")).as("n_events"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("nd_users_est"))
    val exact = ev.agg(countDistinct(col("user_id")).as("nd_users"))
    cube.crossJoin(exact).select(
      col("n_days"), col("n_events"), col("nd_users"),
      (abs(col("nd_users_est").cast("double") - col("nd_users").cast("double"))
        <= lit(HllRelErr) * col("nd_users").cast("double")).as("within_bound"))
  }

  val hllCubeSql: String =
    """SELECT count(DISTINCT ts::DATE) AS n_days,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS nd_users,
      |  TRUE AS within_bound
      |FROM events""".stripMargin

  // ---- q49: stream-static broadcast enrichment -----------------------

  /** The canonical streaming-enrichment shape: an event stream joined
    * to a static dimension (customer→nation, broadcast per
    * micro-batch — the dim never shuffles the stream), then a running
    * per-nation rollup. State is one row per nation (complete mode);
    * the stream side is never buffered for the join. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val src = streamParquet(spark, s"$dir/events.parquet")
    val dim = broadcast(
      table(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(table(spark, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("nation")))
    val rollup = src.join(dim, src("user_id") === dim("c_custkey"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
    drain(rollup, "stream_enrich_result", "complete").orderBy("nation")
    }

  val streamEnrichSql: String =
    s"""SELECT n_name AS nation,
       |  count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value
       |FROM events
       |JOIN customer ON user_id = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY nation""".stripMargin

  // ---- q50: per-group exact quantiles --------------------------------

  /** Exact interpolated per-group quartiles (order-priority strata of
    * order totals) — the grouped form of q20. Runs the bounded-memory
    * [[groupQuantilesScalable]] plan (round 5; PlanSpec sweeps the
    * surface for `percentile` nodes). The one-scan grouped
    * `percentile` form survives as [[groupQuantilesOneScan]], a
    * spec-side cross-check only. */
  def groupQuantiles(spark: SparkSession, dir: String): DataFrame =
    groupQuantilesScalable(spark, dir)

  /** SPEC-SIDE CROSS-CHECK ONLY (ExactQuantileSpec): the one-scan
    * grouped `percentile` formulation q50 ran through round 4. Memory
    * caveat as the old q20: exact `percentile` buffers each GROUP's
    * values — O(group rows) per buffer, unusable at scale. */
  def groupQuantilesOneScan(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        r6(expr("percentile(o_totalprice, 0.25)")).as("q1"),
        r6(expr("percentile(o_totalprice, 0.5)")).as("q2"),
        r6(expr("percentile(o_totalprice, 0.75)")).as("q3"))
      .orderBy("o_orderpriority")
  }

  val groupQuantilesSql: String =
    """SELECT o_orderpriority,
      |  count(*)::BIGINT AS n_orders,
      |  round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
      |  round(quantile_cont(o_totalprice, 0.5), 6) AS q2,
      |  round(quantile_cont(o_totalprice, 0.75), 6) AS q3
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q69: grouped bounded-memory exact quantiles --------------------

  /** q50's semantics from the bounded-memory grouped
    * [[graft.operators.ExactQuantile]] — retires the LAST exact-
    * percentile memory caveat: per-task state is `buckets` counters
    * per active (group, range), never a group's value set, and the
    * same oracle as q50 gates bit-exactness against `quantile_cont`.
    * The per-group counts ride the operator's first stats pass, so
    * the whole query is the operator's ~4 scans and a driver-side
    * assembly of a 5-row result. */
  def groupQuantilesScalable(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val vals = o.select(col("o_orderpriority"), col("o_totalprice"))
    val counts = vals.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qs = graft.operators.ExactQuantile.groupedQuantiles(
      vals, "o_orderpriority", "o_totalprice", Seq(0.25, 0.5, 0.75))
    val rows = qs.toSeq.map { case (g, s) =>
      (g.asInstanceOf[String], counts(g.asInstanceOf[String]), s(0), s(1), s(2))
    }
    import spark.implicits._
    // Round in the Column layer (half-up, matching the oracle's
    // round(…, 6)) — JVM math.rint is half-even and would flip the hash
    // gate on a quantile landing exactly on a .5e-6 boundary.
    rows.toDF("o_orderpriority", "n_orders", "q1", "q2", "q3")
      .select(col("o_orderpriority"), col("n_orders"),
        r6(col("q1")).as("q1"), r6(col("q2")).as("q2"), r6(col("q3")).as("q3"))
      .orderBy("o_orderpriority")
  }

  /** Same oracle as q50 — the grouped operator must reproduce DuckDB
    * `quantile_cont` exactly per group. */
  val groupQuantilesScalableSql: String = groupQuantilesSql

  // ---- q51: salted skew join -----------------------------------------

  val SkewJoinSalts = 8

  /** Market-segment rollup of events through
    * [[SaltedAgg.skewJoin]] — events are extremely skewed on user_id
    * (~150 keys over the whole table), and the query models the case
    * where the build side cannot broadcast (forced SMJ, as q39): the
    * salt from the unique event_id spreads each hot user's rows over
    * [[SkewJoinSalts]] reducers while the replicated build side pays
    * 8× its (small) size. Result is exactly the plain inner join. */
  def skewJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.operators.SaltedAgg.skewJoin(
        ev.hint("merge"), cust,
        probeKey = "user_id", buildKey = "c_custkey",
        saltFrom = "event_id", nSalts = SkewJoinSalts)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val skewJoinRollupSql: String =
    s"""SELECT c_mktsegment,
       |  count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ---- q52: deterministic per-key cap --------------------------------

  val PerKeyCap = 5

  /** Per-user event cap: keep at most [[PerKeyCap]] events per user,
    * chosen by md5-of-id rank — the "at most K documents per domain /
    * K events per user" downsampling every training mix needs, made
    * reproducible (same kept set on every run and engine, unlike
    * `ORDER BY rand()`). One hash shuffle + per-key sort; rank-limit
    * pushdown (WindowGroupLimit) keeps only K rows per key ahead of
    * the full window sort at scale. */
  def perKeyCap(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(md5(col("event_id").cast("string")))
    ev.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= PerKeyCap)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("event_id")).as("id_checksum"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("user_id")
  }

  val perKeyCapSql: String =
    s"""WITH r AS (
       |  SELECT user_id, event_id, value,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY md5(event_id::VARCHAR)) AS rn
       |  FROM events)
       |SELECT user_id, count(*)::BIGINT AS n_kept,
       |  sum(event_id)::BIGINT AS id_checksum,
       |  ${moneySumSql("value")} AS sum_value
       |FROM r WHERE rn <= $PerKeyCap
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  // ---- q53: streaming sessionization ---------------------------------

  /** q37's `session_window` run incrementally under Structured
    * Streaming: state is the set of OPEN sessions per user (merged on
    * overlap), and append mode emits a session once the watermark
    * passes its close (last event + gap). The stream result is
    * therefore exactly the batch sessions that are CLOSED at the final
    * watermark — the open tail (110 sessions at sf0.01) is correctly
    * withheld, not lost; the oracle encodes the same horizon. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val ev = streamParquet(spark, s"$dir/events.parquet")
    val sessions = ev
      .withColumn("event_ts", eventTs(ev))
      .withWatermark("event_ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("event_ts"), AnalyticsQueries.SessionGap))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
    drain(sessions, "stream_sessions_result", "append")
      .orderBy("user_id", "session_start_us")
    }

  /** q37's oracle restricted to sessions closed at the final watermark
    * (max event time): last event + gap <= horizon. */
  val streamSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, value,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 12 HOUR
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts, value,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM m),
      |g AS (
      |  SELECT user_id,
      |    epoch_us(min(ts)::TIMESTAMP) AS session_start_us,
      |    count(*) AS n_events,
      |    (sum(floor(value * 100)::BIGINT)::DOUBLE / 100) AS sum_value,
      |    max(ts) AS last_ts
      |  FROM s GROUP BY user_id, sess)
      |SELECT user_id, session_start_us, n_events, sum_value
      |FROM g
      |WHERE last_ts + INTERVAL 12 HOUR <= (SELECT max(ts) FROM events)
      |ORDER BY user_id, session_start_us""".stripMargin

  // ---- q54: per-label embedding centroids ----------------------------

  val CentroidDims = 8

  /** Per-label centroid coordinates (first [[CentroidDims]] of the 64
    * dims) — the cluster-statistics op of an embedding pipeline. One
    * aggregation over a projection of `element_at`s: no explode, no
    * shuffle of the vectors themselves, partial aggregation map-side;
    * at 100 TB this is a pure scan + 10-row result. (The full-width
    * centroid is the same plan with 64 projections or a fold over
    * `posexplode`; the gated query keeps the oracle readable.) */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val em = table(spark, dir, "embeddings")
    val coords = (1 to CentroidDims).map(k =>
      r6(avg(element_at(col("embedding"), k).cast("double"))).as(s"c$k"))
    em.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), coords: _*)
      .orderBy("label")
  }

  // ---- q56: dedup clusters (connected components) --------------------

  /** Near-dup PAIRS collapsed into duplicate CLUSTERS via
    * [[graft.operators.ConnectedComponents]] — per cluster: the
    * canonical representative (min doc_id, the doc a dedup pass
    * keeps), member count, and an id checksum proving exact
    * membership. Pairs alone under-dedup (a~b, b~c must collapse to
    * one kept doc); this is the step that fixes it.
    *
    * The pair-input form: a real pipeline computes near-dup pairs
    * ONCE (q10) and feeds them here, rather than re-running the
    * detector inside the clustering step. */
  def dedupClustersFrom(pairs: DataFrame): DataFrame =
    graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b", partitions = 8)
      .groupBy(col("comp").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("id_checksum"))
      .orderBy("cluster_rep")

  /** Standalone q56: runs the q10 MinHash detector exactly once —
    * the pair list is persisted and materialized BEFORE component
    * propagation (the edge list's plan references the pairs twice via
    * the direction union, and each propagation round re-reads it), and
    * all MinHash scratch (postings + pairs) is released as soon as
    * propagation finishes, which is safe because
    * [[graft.operators.ConnectedComponents.components]] is eager: the
    * labels it returns are checkpoint-decoupled from the input plan.
    * The oracle runs the identical minhash pipeline in SQL and
    * resolves components with a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // pairs come from the persisted pair store (one detector run per
    // corpus generation, shared with q10/q240/q263/q264/q265/q270/
    // q280) — the store IS the materialization, so no persist needed
    // for CC's repeated reads
    val pairs = PipelineQueries.storedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    dedupClustersFrom(pairs)
  }

  /** q10's full SQL pipeline as a CTE, then min-label reachability via
    * a recursive CTE (feasible for the oracle's graph sizes; the
    * Spark side is the iterative distributed form). */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (
       |${PipelineQueries.dedupMinhashSql}
       |),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r FROM reach JOIN und u ON u.a = reach.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT comp AS cluster_rep, count(*)::BIGINT AS n_members,
       |  sum(id)::BIGINT AS id_checksum
       |FROM comp
       |GROUP BY comp
       |ORDER BY cluster_rep""".stripMargin

  // ---- q264: dedup yield report ----------------------------------------

  /** What does dedup actually BUY? — the savings card a pipeline
    * owner reads before scheduling the dedup pass: q10's near-dup
    * pairs collapsed to q56's clusters (keep-min-id policy), then the
    * removed members joined back to their token and character masses.
    * One row: how many documents, tokens, and characters a
    * dedup-and-keep-canonical pass deletes, as exact counts and floor
    * per-mille of the corpus — the number that justifies (or kills)
    * the compute spent on q10.
    *
    * Scale shape: the MinHash detector runs once (q56's persist
    * discipline); components over the pair graph (∝ collisions);
    * the yield arithmetic is one corpus stats scan + a semi-join of
    * the removed ids against it. */
  def dedupYield(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // pair-store read (shared detector run, see ensurePairStore)
    val pairs = PipelineQueries.storedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val nPairs = pairs.count()
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b", partitions = 8)
    val stats = docs.select(col("doc_id"),
      size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("toks"),
      length(col("text")).cast("long").as("chars"))
    val tot = stats.agg(count(lit(1)).as("n_docs"),
      sum("toks").as("total_tokens"), sum("chars").as("total_chars"))
    val cl = comp.agg(countDistinct("comp").as("n_clusters"),
      sum(when(col("id") =!= col("comp"), 1L).otherwise(0L))
        .as("docs_removed"))
    val rm = comp.filter(col("id") =!= col("comp"))
      .join(stats, col("id") === col("doc_id"))
      .agg(coalesce(sum("toks"), lit(0L)).as("tokens_removed"),
        coalesce(sum("chars"), lit(0L)).as("chars_removed"))
    val out = tot.crossJoin(broadcast(cl)).crossJoin(broadcast(rm))
      .withColumn("n_dup_pairs", lit(nPairs))
      .select(col("n_docs"), col("n_dup_pairs"), col("n_clusters"),
        col("docs_removed"), col("tokens_removed"), col("chars_removed"),
        expr("(1000 * tokens_removed) div total_tokens")
          .as("token_savings_permille"),
        expr("(1000 * chars_removed) div total_chars")
          .as("char_savings_permille"))
    out.localCheckpoint(true)
  }

  val dedupYieldSql: String =
    s"""WITH RECURSIVE pairs AS (
       |${PipelineQueries.dedupMinhashSql}
       |),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r FROM reach JOIN und u ON u.a = reach.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |stats AS (
       |  SELECT doc_id,
       |    len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT
       |      AS toks,
       |    length(text)::BIGINT AS chars
       |  FROM documents),
       |tot AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS tt,
       |    sum(chars)::BIGINT AS tc
       |  FROM stats),
       |np AS (SELECT count(*)::BIGINT AS n_dup_pairs FROM pairs),
       |cl AS (
       |  SELECT count(DISTINCT comp)::BIGINT AS n_clusters,
       |    sum(CASE WHEN id <> comp THEN 1 ELSE 0 END)::BIGINT
       |      AS docs_removed
       |  FROM comp),
       |rm AS (
       |  SELECT coalesce(sum(s.toks), 0)::BIGINT AS tokens_removed,
       |    coalesce(sum(s.chars), 0)::BIGINT AS chars_removed
       |  FROM comp JOIN stats s ON s.doc_id = comp.id
       |  WHERE comp.id <> comp.comp)
       |SELECT n_docs, n_dup_pairs, n_clusters, docs_removed,
       |  tokens_removed, chars_removed,
       |  ((1000 * tokens_removed) // tt)::BIGINT AS token_savings_permille,
       |  ((1000 * chars_removed) // tc)::BIGINT AS char_savings_permille
       |FROM tot, np, cl, rm""".stripMargin

  // ---- q265: per-source duplicate attribution ---------------------------

  /** WHICH feed is duplicating, and against whom? — the curator's
    * first question after q264's yield card: per source, how many of
    * its documents a keep-canonical pass removes (its own dup rate),
    * and whether its near-dup pairs stay INSIDE the feed (a
    * re-crawling feed) or span feeds (mirrored content — a licensing
    * or provenance problem, not a crawler bug). Same detector run,
    * q56's cluster policy, exact integer counts and floor per-mille
    * rates.
    *
    * Pair attribution: a within-source pair counts once for its
    * source; a cross-source pair counts once for EACH side (the
    * question is per-feed exposure, so both feeds carry it).
    *
    * Scale shape: detector once (q56 persist discipline), components
    * ∝ collisions, then two bounded joins of pair endpoints and
    * removed ids against the doc→source map. */
  def dupAttribution(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // pair-store read (shared detector run, see ensurePairStore)
    val pairs = PipelineQueries.storedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b", partitions = 8)
    val src = docs.select(col("doc_id"), col("source"))
    val per = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val removed = comp.filter(col("id") =!= col("comp"))
      .join(src, col("id") === col("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("docs_removed"))
    val sa = src.toDF("doc_a", "src_a")
    val sb = src.toDF("doc_b", "src_b")
    val typed = pairs.join(sa, "doc_a").join(sb, "doc_b")
    val within = typed.filter(col("src_a") === col("src_b"))
      .groupBy(col("src_a").as("source"))
      .agg(count(lit(1)).as("within_pairs"))
    val cross = typed.filter(col("src_a") =!= col("src_b"))
      .select(explode(array(col("src_a"), col("src_b"))).as("source"))
      .groupBy("source").agg(count(lit(1)).as("cross_pairs"))
    val out = per
      .join(removed, Seq("source"), "left")
      .join(within, Seq("source"), "left")
      .join(cross, Seq("source"), "left")
      .na.fill(0L, Seq("docs_removed", "within_pairs", "cross_pairs"))
      .withColumn("dup_rate_pm", expr("(1000 * docs_removed) div n_docs"))
      .orderBy("source")
    out.localCheckpoint(true)
  }

  val dupAttributionSql: String =
    s"""WITH RECURSIVE pairs AS (
       |${PipelineQueries.dedupMinhashSql}
       |),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r FROM reach JOIN und u ON u.a = reach.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |src AS (SELECT doc_id, source FROM documents),
       |per AS (SELECT source, count(*)::BIGINT AS n_docs FROM src GROUP BY 1),
       |removed AS (
       |  SELECT s.source, count(*)::BIGINT AS docs_removed
       |  FROM comp JOIN src s ON s.doc_id = comp.id
       |  WHERE comp.id <> comp.comp GROUP BY 1),
       |typed AS (
       |  SELECT sa.source AS src_a, sb.source AS src_b
       |  FROM pairs
       |  JOIN src sa ON sa.doc_id = pairs.doc_a
       |  JOIN src sb ON sb.doc_id = pairs.doc_b),
       |w AS (
       |  SELECT src_a AS source, count(*)::BIGINT AS within_pairs
       |  FROM typed WHERE src_a = src_b GROUP BY 1),
       |x AS (
       |  SELECT source, count(*)::BIGINT AS cross_pairs FROM (
       |    SELECT src_a AS source FROM typed WHERE src_a <> src_b
       |    UNION ALL
       |    SELECT src_b AS source FROM typed WHERE src_a <> src_b)
       |  GROUP BY 1)
       |SELECT per.source, per.n_docs,
       |  coalesce(removed.docs_removed, 0)::BIGINT AS docs_removed,
       |  coalesce(w.within_pairs, 0)::BIGINT AS within_pairs,
       |  coalesce(x.cross_pairs, 0)::BIGINT AS cross_pairs,
       |  ((1000 * coalesce(removed.docs_removed, 0)) // per.n_docs)::BIGINT
       |    AS dup_rate_pm
       |FROM per
       |LEFT JOIN removed USING (source)
       |LEFT JOIN w USING (source)
       |LEFT JOIN x USING (source)
       |ORDER BY per.source""".stripMargin

  // ---- q212: cluster maintenance on append (stored labels + delta) ----

  /** q56's duplicate clusters maintained INCREMENTALLY from a stored
    * label table instead of recomputed from scratch — the clustering
    * counterpart of q184: base cluster labels live AT REST (CC over
    * the base shard's near-dup pairs, bucketed by id), a crawl delta
    * contributes only its q184-style stored-index screen pairs, and
    * the merge is CC over (label star edges ∪ delta-touching pairs).
    *
    * Why that merge is exact: each base component is contracted to a
    * star `(id → comp)` whose endpoints include every base pair-node,
    * so CC(stars ∪ delta pairs) has the same connectivity — and the
    * same min-id representatives — as CC(base pairs ∪ delta pairs),
    * which is CC over the FULL corpus pair set (pair candidacy and
    * verification are pair-local, the q81 argument). The oracle is
    * therefore q56's full-recompute SQL VERBATIM.
    *
    * Work at append time: the delta screen (∝ delta + collisions,
    * never corpus) + CC over |labels| + |delta pairs| edges — and the
    * star edges converge in O(1) propagation rounds where the raw
    * base pair graph needs O(diameter). Base documents are never
    * re-read (delta predicate on every documents scan), base pairs
    * never re-detected: the MinHash detector runs only inside the
    * store builds. StoredIndexSpec pins equality with q56, the
    * delta-only scans, the label store read, and that the store holds
    * base-side ids only. */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersFrom(incrementalClusterEdges(spark, dir))

  /** The LAZY merged edge list (label stars ∪ delta screen pairs) —
    * the plan [[incrementalClusters]] feeds to the eager CC loop,
    * exposed so StoredIndexSpec can assert its scans (the CC result's
    * own plan is checkpoint-decoupled from the inputs). */
  private[graft] def incrementalClusterEdges(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val labels = spark.table(ensureClusterStore(spark, dir))
    val index = spark.table(PipelineQueries.ensureDedupIndex(spark, dir))
    val deltaPairs = graft.dedup.MinHashLSH.incrementalFromIndexResult(
        index, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", PipelineQueries.MinhashThreshold)
      .df.select(col("doc_a"), col("doc_b"))
    labels.select(col("id").as("doc_a"), col("comp").as("doc_b"))
      .unionByName(deltaPairs)
  }

  val incrementalClustersSql: String = dedupClustersSql

  /** Stored base cluster labels: CC over the base shard's near-dup
    * pairs, one (id, comp) row per base pair-node, bucketed by id —
    * [[graft.sources.IndexStore]] lifecycle exactly as
    * [[PipelineQueries.ensureDedupIndex]]. The MinHash detection over
    * base text happens HERE, once per store generation, never at
    * query time. Returns the catalog table name. */
  def ensureClusterStore(spark: SparkSession, dir: String): String =
    ScaleQueries.synchronized {
      import graft.sources.{BucketedTables, IndexStore}
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"cluster_idx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_cluster_idx_${dirTag}_$fpTag")
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val minhash = graft.dedup.MinHashLSH.nearDuplicatesResult(
            table(spark, dir, "documents").filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", PipelineQueries.MinhashThreshold)
          val pairs = minhash.df.select(col("doc_a"), col("doc_b")).persist()
          pairs.count() // exactly one MinHash evaluation (q56's discipline)
          val labels = graft.operators.ConnectedComponents
            .components(pairs, "doc_a", "doc_b", partitions = 8)
          pairs.unpersist(blocking = false)
          minhash.release()
          val stagingName = s"${name}_staging"
          BucketedTables.writeBucketed(labels, stagingName, staging.getPath, "id", 8)
          spark.sql(s"DROP TABLE IF EXISTS $stagingName")
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("comp",
            org.apache.spark.sql.types.LongType)))
        IndexStore.registerBucketed(spark, name, dest.getPath, schema, "id", 8)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_cluster_idx_${dirTag}_", dest.getName,
          s"cluster_idx_${dirTag}_", name)
      }
      name
    }

  // ---- q57: benchmark decontamination --------------------------------

  /** Long n-grams so shared fingerprints mean real passage overlap,
    * not common words (8-grams flag 100% of this corpus; 24-char
    * spans ≈ 4-5 words flag ~5%). */
  val DecontamGram = 24
  val DecontamModP = 4
  /** Stand-in eval set: every 19th doc. */
  val BenchMod = 19

  /** Eval-set decontamination — the anti-join every training pipeline
    * runs before a data release: drop any candidate document sharing a
    * sampled long-n-gram fingerprint with the benchmark set. Shape:
    * corpus grams are mod-p downsampled at the scan (4× volume cut
    * before any shuffle), the benchmark fingerprint set is tiny (eval
    * sets are KBs against a 100 TB corpus) and BROADCASTS into the
    * semi-join, and the final membership test is a left-anti join by
    * id. No shuffle ever carries the corpus text.
    *
    * The persisted fingerprint table (two consumers: bench + candidate
    * sides) rides inside the returned [[graft.CachedResult]] — library
    * callers `release()` after their final action; the Bench/Verify
    * harnesses clear the cache between queries. */
  def decontaminateResult(spark: SparkSession, dir: String): graft.CachedResult = {
    val docs = table(spark, dir, "documents")
    val fp = graft.Partitioning.spread(docs, col("doc_id"))
      .select(col("doc_id").as("id"),
        explode(graft.text.Hashing.charNgrams(col("text"), DecontamGram)).as("gram"))
      .select(col("id"), graft.text.Hashing.x31(col("gram")).as("h"))
      .filter(col("h") % DecontamModP === 0)
      .distinct()
      .persist()
    val bench = fp.filter(col("id") % BenchMod === 0).select("h").distinct()
    val contaminated = fp.filter(col("id") % BenchMod =!= 0)
      .join(broadcast(bench), Seq("h"))
      .select(col("id").as("doc_id")).distinct()
    val out = docs.filter(col("doc_id") % BenchMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
    graft.CachedResult(out, Seq(fp))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateResult(spark, dir).df

  val decontaminateSql: String = {
    import graft.text.Hashing
    s"""WITH fp AS (
       |  SELECT DISTINCT id, h FROM (
       |    SELECT doc_id AS id, ${Hashing.x31Sql("gram")} AS h
       |    FROM (SELECT doc_id,
       |            unnest(${Hashing.charNgramsSql("text", DecontamGram)}) AS gram
       |          FROM documents))
       |  WHERE h % $DecontamModP = 0),
       |bench AS (SELECT DISTINCT h FROM fp WHERE id % $BenchMod = 0),
       |cont AS (
       |  SELECT DISTINCT id FROM fp
       |  WHERE id % $BenchMod <> 0 AND h IN (SELECT h FROM bench))
       |SELECT lang, count(*)::BIGINT AS n_kept,
       |  sum(doc_id)::BIGINT AS id_checksum
       |FROM documents
       |WHERE doc_id % $BenchMod <> 0
       |  AND doc_id NOT IN (SELECT id FROM cont)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---- q203: decontamination against a STORED eval-fp index ----------

  /** q57's decontamination with the EVAL-SUITE side served from DISK —
    * the operational shape: benchmark suites are fixed and tiny while
    * training batches arrive forever, so the bench fingerprint set
    * (distinct sampled [[DecontamGram]]-char h60s of the bench split)
    * is computed ONCE, persisted under the
    * [[graft.sources.IndexStore]] lifecycle, and every screening run
    * reads ONLY training text — the bench documents are never
    * re-fingerprinted (StoredIndexSpec pins that on the plan: every
    * documents scan carries the not-bench predicate; plus q203 ≡ q57
    * row-for-row). The stored set broadcasts into the semi-join
    * exactly as q57's in-flight one does; work per run ∝ the batch
    * being screened. Oracle: q57's SQL verbatim. */
  def decontaminateStored(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val benchFp = spark.read.parquet(ensureBenchFpIndex(spark, dir))
    val train = docs.filter(col("doc_id") % BenchMod =!= 0)
    val fp = graft.Partitioning.spread(train, col("doc_id"))
      .select(col("doc_id").as("id"),
        explode(graft.text.Hashing.charNgrams(col("text"), DecontamGram)).as("gram"))
      .select(col("id"), graft.text.Hashing.x31(col("gram")).as("h"))
      .filter(col("h") % DecontamModP === 0)
      .distinct()
    val contaminated = fp.join(broadcast(benchFp), Seq("h"))
      .select(col("id").as("doc_id")).distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
  }

  /** Same oracle as q57 — the stored bench side must change nothing. */
  val decontaminateStoredSql: String = decontaminateSql

  /** Write-once persisted benchmark fingerprint set: one `h` column,
    * the distinct mod-p-sampled long-n-gram hashes of the bench split.
    * KBs per eval suite at any corpus scale — the 100 TB story is that
    * THIS is the side that persists while training shards stream
    * through. Returns the store root path. */
  def ensureBenchFpIndex(spark: SparkSession, dir: String): String =
    ScaleQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_bench_fp_${dirTag}_$fpTag")
      IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
        val bench = table(spark, dir, "documents")
          .filter(col("doc_id") % BenchMod === 0)
        graft.Partitioning.spread(bench, col("doc_id"))
          .select(explode(
            graft.text.Hashing.charNgrams(col("text"), DecontamGram)).as("gram"))
          .select(graft.text.Hashing.x31(col("gram")).as("h"))
          .filter(col("h") % DecontamModP === 0)
          .distinct()
          .coalesce(1).write.mode("overwrite").parquet(staging.getPath)
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_bench_fp_${dirTag}_", dest.getName,
        // no catalog entries for the fp store; prefix matches nothing
        s"graft_bench_fp_${dirTag}_", dest.getName)
      dest.getPath
    }

  // ---- q205: LM quality filter from a STORED reference model ---------

  /** Reference slice for the n-gram model: every 13th doc (disjoint
    * role from [[BenchMod]]'s eval split — a curated "clean" sample). */
  val LmRefMod = 13
  /** Familiarity cap per bigram: frequent-bigram credit saturates so a
    * single stop-bigram cannot dominate a document's score. */
  val LmFamCap = 100L

  /** KenLM-style corpus quality filtering stripped to INTEGER-exact
    * signals, served from a persisted reference n-gram model: a vocab
    * + bigram-count model is built ONCE from the reference slice and
    * stored ([[ensureLmRefModel]]); each scoring run reads only the
    * candidate documents and joins the broadcast model. Per doc:
    * token/bigram totals, OOV tokens (absent from the stored vocab),
    * novel bigrams (absent from the stored bigram table), a capped
    * familiarity score Σ min(c2, [[LmFamCap]]) — the linear-space
    * stand-in for log-prob that stays hash-exact (FP log-sums are
    * engine- and order-dependent; integer counts are not, the
    * q93/q199 exactness discipline) — and the novelty rate in
    * per-mille (integer div). Scale shape: the model is KBs-per-GB
    * (distinct n-grams of a fixed reference), broadcast into two
    * explode→join→agg passes over the candidates; no shuffle carries
    * text. StoredIndexSpec pins the not-ref predicate on every
    * documents scan (the reference is never re-tokenized at scoring)
    * and the model-store read. */
  def lmQualityStored(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureLmRefModel(spark, dir)
    val vocab = spark.read.parquet(s"$root/vocab")
    val bigCounts = spark.read.parquet(s"$root/bigrams")
    val base = table(spark, dir, "documents")
      .filter(col("doc_id") % LmRefMod =!= 0)
      .select(col("doc_id"), lmTokens(col("text")).as("toks"))
      .withColumn("bigs", lmBigrams(col("toks")))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        size(col("bigs")).cast("long").as("n_bigrams"),
        col("toks"), col("bigs"))
    val oov = base.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("oov"))
    val bigAgg = base.select(col("doc_id"), explode(col("bigs")).as("big"))
      .join(broadcast(bigCounts), Seq("big"), "left_outer")
      .groupBy("doc_id")
      .agg(sum(when(col("c2").isNull, 1L).otherwise(0L)).as("novel"),
        sum(coalesce(least(col("c2"), lit(LmFamCap)), lit(0L))).as("fam"))
    base.select("doc_id", "n_tokens", "n_bigrams")
      .join(oov, Seq("doc_id"), "left_outer")
      .join(bigAgg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("oov"), lit(0L)).as("n_oov"),
        col("n_bigrams"),
        coalesce(col("novel"), lit(0L)).as("n_novel"),
        coalesce(col("fam"), lit(0L)).as("fam_score"),
        expr("1000 * coalesce(novel, 0) div greatest(n_bigrams, 1)")
          .as("novelty_pm"))
      .orderBy("doc_id")
  }

  /** The oracle rebuilds the identical model in SQL — vocabulary and
    * bigram counts of the reference slice — and scores with the same
    * integer arithmetic. */
  val lmQualityStoredSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                t -> len(t) >= 1) AS t
       |  FROM documents),
       |big AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 2
       |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |    ELSE [] END AS b, t
       |  FROM tok),
       |vocab AS (
       |  SELECT DISTINCT tok FROM (
       |    SELECT unnest(t) AS tok FROM tok WHERE doc_id % $LmRefMod = 0)),
       |refbig AS (
       |  SELECT bg, count(*)::BIGINT AS c2 FROM (
       |    SELECT unnest(b) AS bg FROM big WHERE doc_id % $LmRefMod = 0)
       |  GROUP BY 1),
       |cand AS (SELECT * FROM big WHERE doc_id % $LmRefMod <> 0),
       |oov AS (
       |  SELECT c.doc_id, count(*) FILTER (WHERE v.tok IS NULL)::BIGINT AS n_oov
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM cand) c
       |  LEFT JOIN vocab v USING (tok)
       |  GROUP BY 1),
       |ba AS (
       |  SELECT c.doc_id,
       |    count(*) FILTER (WHERE r.c2 IS NULL)::BIGINT AS n_novel,
       |    coalesce(sum(least(r.c2, $LmFamCap)), 0)::BIGINT AS fam_score
       |  FROM (SELECT doc_id, unnest(b) AS bg FROM cand) c
       |  LEFT JOIN refbig r USING (bg)
       |  GROUP BY 1)
       |SELECT c.doc_id, len(c.t)::BIGINT AS n_tokens,
       |  coalesce(o.n_oov, 0)::BIGINT AS n_oov,
       |  len(c.b)::BIGINT AS n_bigrams,
       |  coalesce(ba.n_novel, 0)::BIGINT AS n_novel,
       |  coalesce(ba.fam_score, 0)::BIGINT AS fam_score,
       |  (1000 * coalesce(ba.n_novel, 0) // greatest(len(c.b), 1))::BIGINT
       |    AS novelty_pm
       |FROM cand c
       |LEFT JOIN oov o USING (doc_id)
       |LEFT JOIN ba USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Non-empty lowercase alpha tokens, compacted (parity with DuckDB's
    * `list_filter(string_split_regex(...))`). */
  private def lmTokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(text), "[^a-z]+"), t => length(t) >= 1)

  /** Adjacent-token bigrams over the COMPACT token array. Guarded:
    * Spark's `sequence(1, 0)` steps DOWNWARD, so the <2-token case
    * must short-circuit to an empty array. */
  private def lmBigrams(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Write-once persisted reference n-gram model: `vocab/` (tok) +
    * `bigrams/` (big, c2), built from the [[LmRefMod]] slice under the
    * [[graft.sources.IndexStore]] lifecycle. Returns the store root. */
  def ensureLmRefModel(spark: SparkSession, dir: String): String =
    ScaleQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_lm_ref_${dirTag}_$fpTag")
      def valid(root: java.io.File): Boolean =
        IndexStore.hasSuccess(new java.io.File(root, "vocab")) &&
          IndexStore.hasSuccess(new java.io.File(root, "bigrams"))
      IndexStore.publish(dest, valid) { staging =>
        val ref = table(spark, dir, "documents")
          .filter(col("doc_id") % LmRefMod === 0)
          .select(col("doc_id"), lmTokens(col("text")).as("toks"))
        ref.select(explode(col("toks")).as("tok")).distinct()
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/vocab")
        ref.select(explode(lmBigrams(col("toks"))).as("big"))
          .groupBy("big").agg(count(lit(1)).as("c2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/bigrams")
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_lm_ref_${dirTag}_", dest.getName,
        // no catalog entries for the LM store; prefix matches nothing
        s"graft_lm_ref_${dirTag}_", dest.getName)
      dest.getPath
    }

  // ---- q209: release gate composed from BOTH quality stores ----------

  /** Novelty ceiling for release: docs above this per-mille novel-
    * bigram rate (≈ the reference-model p90) drop for quality. */
  val ReleaseNoveltyMax = 200L

  /** The corpus release gate run the way production runs it — EVERY
    * screening input served from a store: candidates (neither the
    * eval split nor the reference slice) are checked against the
    * q203 bench-fingerprint store (contamination) and scored against
    * the q205 reference n-gram store (bigram novelty). Candidate
    * text is read only on the candidate side — two derivation scans
    * (char-ngram fingerprints; token bigrams), both pruned by the
    * split predicates, and no shuffle ever carries text. Per-language manifest: kept /
    * dropped-contaminated / dropped-quality counts (contamination
    * takes precedence — a contaminated doc never counts as a quality
    * drop) and the kept id-checksum. All integers; work ∝ candidate
    * text; both stores broadcast. StoredIndexSpec pins that every
    * documents scan carries BOTH not-eval and not-ref predicates and
    * that both stores are read — the composition never re-derives
    * either store's contents. */
  def releaseGate(spark: SparkSession, dir: String): DataFrame = {
    val benchFp = spark.read.parquet(ensureBenchFpIndex(spark, dir))
    val lmRoot = ensureLmRefModel(spark, dir)
    val bigCounts = spark.read.parquet(s"$lmRoot/bigrams")
    val cand = table(spark, dir, "documents")
      .filter(col("doc_id") % BenchMod =!= 0 && col("doc_id") % LmRefMod =!= 0)
    val fp = graft.Partitioning.spread(cand, col("doc_id"))
      .select(col("doc_id").as("id"),
        explode(graft.text.Hashing.charNgrams(col("text"), DecontamGram)).as("gram"))
      .select(col("id"), graft.text.Hashing.x31(col("gram")).as("h"))
      .filter(col("h") % DecontamModP === 0)
      .distinct()
    val contaminated = fp.join(broadcast(benchFp), Seq("h"))
      .select(col("id").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    val novelty = cand
      .select(col("doc_id"), lmBigrams(lmTokens(col("text"))).as("bigs"))
      .select(col("doc_id"), size(col("bigs")).cast("long").as("n_bigrams"),
        explode_outer(col("bigs")).as("big"))
      .join(broadcast(bigCounts), Seq("big"), "left_outer")
      .groupBy("doc_id", "n_bigrams")
      .agg(sum(when(col("big").isNotNull && col("c2").isNull, 1L)
        .otherwise(0L)).as("n_novel"))
      .select(col("doc_id"),
        expr("1000 * n_novel div greatest(n_bigrams, 1)").as("novelty_pm"))
    cand.select(col("doc_id"), col("lang"))
      .join(contaminated, Seq("doc_id"), "left_outer")
      .join(novelty, Seq("doc_id"), "left_outer")
      .withColumn("verdict",
        when(coalesce(col("contaminated"), lit(false)), "dropped_contaminated")
          .when(coalesce(col("novelty_pm"), lit(0L)) > ReleaseNoveltyMax,
            "dropped_quality")
          .otherwise("kept"))
      .groupBy("lang")
      .agg(
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("verdict") === "dropped_contaminated", 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(when(col("verdict") === "dropped_quality", 1L).otherwise(0L))
          .as("n_quality_dropped"),
        sum(when(col("verdict") === "kept", col("doc_id")).otherwise(0L))
          .as("kept_checksum"))
      .orderBy("lang")
  }

  /** The oracle re-derives both stores' contents in SQL and applies
    * the identical precedence + thresholds. */
  val releaseGateSql: String = {
    import graft.text.Hashing
    s"""WITH fp AS (
       |  SELECT DISTINCT id, h FROM (
       |    SELECT doc_id AS id, ${Hashing.x31Sql("gram")} AS h
       |    FROM (SELECT doc_id,
       |            unnest(${Hashing.charNgramsSql("text", DecontamGram)}) AS gram
       |          FROM documents))
       |  WHERE h % $DecontamModP = 0),
       |bench AS (SELECT DISTINCT h FROM fp WHERE id % $BenchMod = 0),
       |cand AS (SELECT doc_id, lang, text FROM documents
       |         WHERE doc_id % $BenchMod <> 0 AND doc_id % $LmRefMod <> 0),
       |cont AS (
       |  SELECT DISTINCT id AS doc_id FROM fp
       |  WHERE id % $BenchMod <> 0 AND id % $LmRefMod <> 0
       |    AND h IN (SELECT h FROM bench)),
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                t -> len(t) >= 1) AS t
       |  FROM documents),
       |big AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 2
       |    THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
       |    ELSE [] END AS b
       |  FROM tok),
       |refbig AS (
       |  SELECT bg, count(*)::BIGINT AS c2 FROM (
       |    SELECT unnest(b) AS bg FROM big WHERE doc_id % $LmRefMod = 0)
       |  GROUP BY 1),
       |nov AS (
       |  SELECT c.doc_id,
       |    1000 * count(*) FILTER (WHERE r.c2 IS NULL AND c.bg IS NOT NULL)
       |      // greatest(any_value(c.nb), 1) AS novelty_pm
       |  FROM (SELECT doc_id, len(b) AS nb, unnest(
       |          CASE WHEN len(b) = 0 THEN [NULL] ELSE b END) AS bg
       |        FROM big
       |        WHERE doc_id % $BenchMod <> 0 AND doc_id % $LmRefMod <> 0) c
       |  LEFT JOIN refbig r USING (bg)
       |  GROUP BY c.doc_id),
       |verdicts AS (
       |  SELECT cand.doc_id, cand.lang,
       |    CASE WHEN cont.doc_id IS NOT NULL THEN 'dropped_contaminated'
       |         WHEN coalesce(nov.novelty_pm, 0) > $ReleaseNoveltyMax
       |           THEN 'dropped_quality'
       |         ELSE 'kept' END AS verdict
       |  FROM cand LEFT JOIN cont USING (doc_id) LEFT JOIN nov USING (doc_id))
       |SELECT lang,
       |  count(*) FILTER (WHERE verdict = 'kept')::BIGINT AS n_kept,
       |  count(*) FILTER (WHERE verdict = 'dropped_contaminated')::BIGINT
       |    AS n_contaminated,
       |  count(*) FILTER (WHERE verdict = 'dropped_quality')::BIGINT
       |    AS n_quality_dropped,
       |  coalesce(sum(doc_id) FILTER (WHERE verdict = 'kept'), 0)::BIGINT
       |    AS kept_checksum
       |FROM verdicts
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---- q58: end-to-end training-mix materialization ------------------

  val MixMinQuality = 0.5

  /** The composed release pipeline: quality-filter (Gopher-style
    * score ≥ [[MixMinQuality]]) → deterministic stratified language
    * mix ([[SampleRates]]) → per-(lang, source) manifest with counts,
    * character mass, and mean quality. Every stage is a projection or
    * filter until the single final aggregation — the whole mix
    * materializes in one scan of the corpus. */
  def trainingMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val scored = docs
      .withColumn("q", TextStats.qualityScore(col("text")))
      .filter(col("q") >= MixMinQuality)
    Sampling.stratifiedDeterministic(
        scored, col("doc_id"), col("lang"), SampleRates, DefaultRate)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        r6(avg(col("q"))).as("mean_quality"))
      .orderBy("lang", "source")
  }

  val trainingMixSql: String = {
    val caseArms = SampleRates.toSeq.sorted
      .map { case (k, r) => s"WHEN '$k' THEN '${Sampling.thresholdHex(r)}'" }
      .mkString(" ")
    s"""WITH scored AS (
       |  SELECT lang, source, doc_id, n_chars,
       |    ${TextStats.qualityScoreSql("text")} AS q
       |  FROM documents)
       |SELECT lang, source, count(*)::BIGINT AS n_docs,
       |  sum(n_chars)::BIGINT AS sum_chars,
       |  round(avg(q), 6) AS mean_quality
       |FROM scored
       |WHERE q >= $MixMinQuality
       |  AND substr(md5(doc_id::VARCHAR || ':sample'), 1, 4) <
       |      CASE lang $caseArms ELSE '${Sampling.thresholdHex(DefaultRate)}' END
       |GROUP BY lang, source
       |ORDER BY lang, source""".stripMargin
  }

  // ---- q60: resample + forward fill ----------------------------------

  /** 2024-01-01T00:00:00Z in epoch micros; the events table spans
    * January 2024 (TESTDATA.md). */
  val JanStartUs = 1704067200000000L
  val DayUs = 86400000000L
  val JanDays = 31

  /** Time-series regularization: a daily grid per user, forward-filled
    * with the user's most recent event at or before each grid point —
    * the resample→fill step that turns irregular event streams into
    * model-ready regular series. The grid is an explode over a
    * 31-element sequence (no join to build it), and the fill is the
    * [[graft.operators.AsofJoin]] union+running-window shape: ONE hash
    * shuffle of (grid ∪ events), no per-pair work, any grid density.
    * Days before a user's first event stay NULL (left-outer). DuckDB's
    * native ASOF LEFT JOIN is the oracle. */
  def resampleFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("value"))
    val grid = ev.select("user_id").distinct()
      .select(col("user_id"),
        explode(sequence(lit(0L), lit(JanDays - 1L))).as("i"))
      .select(col("user_id"),
        (lit(JanStartUs) + col("i") * lit(DayUs)).as("ts_us"))
    graft.operators.AsofJoin.backward(
        grid, ev,
        key = "user_id", ts = "ts_us",
        leftCols = Seq("user_id", "ts_us"),
        rightPayload = Seq("ts_us" -> "last_ts_us", "value" -> "last_value"))
      .withColumnRenamed("ts_us", "day_us")
      .orderBy("user_id", "day_us")
  }

  val resampleFillSql: String =
    s"""WITH days AS (
       |  SELECT unnest(generate_series(
       |    TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31',
       |    INTERVAL 1 DAY)) AS d),
       |users AS (SELECT DISTINCT user_id FROM events),
       |grid AS (
       |  SELECT user_id, epoch_us(d) AS day_us FROM users CROSS JOIN days),
       |e AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ets, value FROM events)
       |SELECT g.user_id AS user_id, g.day_us, e.ets AS last_ts_us,
       |       e.value AS last_value
       |FROM grid g ASOF LEFT JOIN e
       |  ON g.user_id = e.user_id AND e.ets <= g.day_us
       |ORDER BY user_id, day_us""".stripMargin

  // ---- q61: forward as-of join ---------------------------------------

  /** For each purchase, the user's NEXT click at or after it
    * ([[graft.operators.AsofJoin.forward]] — the mirrored direction of
    * q38; same union + running-window single-shuffle shape). The click
    * side passes `event_id` as the tie-break so equal-(user, ts) click
    * rows resolve deterministically (lowest event_id wins) instead of
    * sort-order-dependently — (user_id, ts_us) happens to be unique in
    * this corpus, but the operator contract shouldn't lean on that.
    * DuckDB has no forward ASOF, so the oracle is the correlated
    * ORDER-BY-LIMIT-1 formulation with the same tie-break. */
  def forwardAsof(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("value"),
        col("event_id").as("click_event_id"))
    graft.operators.AsofJoin.forward(
        purchases, clicks,
        key = "user_id", ts = "ts_us",
        leftCols = Seq("user_id", "ts_us", "event_id", "purchase_value"),
        rightPayload = Seq("ts_us" -> "next_click_ts_us",
          "value" -> "next_click_value"),
        tieBreak = Some("click_event_id"))
      .withColumnRenamed("ts_us", "purchase_ts_us")
      .orderBy("user_id", "purchase_ts_us")
  }

  val forwardAsofSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us,
      |         event_id, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS click_ts_us,
      |         value AS click_value, event_id AS click_event_id
      |  FROM events WHERE event_type = 'click')
      |SELECT p.user_id AS user_id, p.purchase_ts_us, p.event_id,
      |       p.purchase_value,
      |  (SELECT c.click_ts_us FROM c
      |   WHERE c.user_id = p.user_id AND c.click_ts_us >= p.purchase_ts_us
      |   ORDER BY c.click_ts_us, c.click_event_id LIMIT 1) AS next_click_ts_us,
      |  (SELECT c.click_value FROM c
      |   WHERE c.user_id = p.user_id AND c.click_ts_us >= p.purchase_ts_us
      |   ORDER BY c.click_ts_us, c.click_event_id LIMIT 1) AS next_click_value
      |FROM p
      |ORDER BY user_id, purchase_ts_us""".stripMargin

  // ---- q84: forward as-of on the NATIVE operator ---------------------

  /** q61's direction on the native physical operator
    * ([[graft.operators.AsofJoin.forwardNative]] →
    * [[graft.plans.AsofJoinExec]] with `forward = true`), over a
    * DIFFERENT event pair than q38/q61/q83 — for each signup, the
    * user's first view at or after it — so the native exec is
    * oracle-checked on a second data shape (different key skew and
    * left/right cardinality ratio than the purchase/click slice).
    * (user_id, ts_us) is unique per event type in this corpus, so no
    * tie-break is needed; the native tie contract (physically-first
    * wins forward) is spec-pinned on crafted data in AsofNativeSpec. */
  def forwardAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("value"))
    graft.operators.AsofJoin.forwardNative(
        signups, views,
        key = "user_id", ts = "ts_us",
        leftCols = Seq("user_id", "ts_us", "event_id"),
        rightPayload = Seq("ts_us" -> "next_view_ts_us",
          "value" -> "next_view_value"))
      .withColumnRenamed("ts_us", "signup_ts_us")
      .orderBy("user_id", "signup_ts_us")
  }

  val forwardAsofNativeSql: String =
    """WITH s AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS signup_ts_us, event_id
      |  FROM events WHERE event_type = 'signup'),
      |v AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS view_ts_us,
      |         value AS view_value
      |  FROM events WHERE event_type = 'view')
      |SELECT s.user_id AS user_id, s.signup_ts_us, s.event_id,
      |  (SELECT v.view_ts_us FROM v
      |   WHERE v.user_id = s.user_id AND v.view_ts_us >= s.signup_ts_us
      |   ORDER BY v.view_ts_us LIMIT 1) AS next_view_ts_us,
      |  (SELECT v.view_value FROM v
      |   WHERE v.user_id = s.user_id AND v.view_ts_us >= s.signup_ts_us
      |   ORDER BY v.view_ts_us LIMIT 1) AS next_view_value
      |FROM s
      |ORDER BY user_id, signup_ts_us""".stripMargin

  // ---- q62: pivot (wide-format rollup) -------------------------------

  /** The event types, pinned explicitly: `pivot` with an explicit
    * value list skips the extra distinct-values JOB Spark otherwise
    * runs to discover columns, and makes the output schema static —
    * both mandatory at scale (a schema that depends on the data is a
    * schema that changes under you). */
  val PivotEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Daily wide-format activity matrix: one row per day, one count
    * column per event type (`groupBy.pivot.count`). Absent cells are
    * 0, not NULL (pivot yields NULL for empty cells; the coalesce is
    * part of the contract). One scan, one shuffle — the pivot is just
    * an aggregation with a CASE per pinned value. */
  def eventPivot(spark: SparkSession, dir: String): DataFrame = {
    val ev0 = table(spark, dir, "events")
    val ev = ev0.withColumn("event_date", to_date(eventTs(ev0)))
    ev.groupBy(col("event_date").cast("string").as("event_date"))
      .pivot("event_type", PivotEventTypes)
      .agg(count(lit(1)))
      .select(col("event_date") +:
        PivotEventTypes.map(v => coalesce(col(v), lit(0L)).as(s"n_$v")): _*)
      .orderBy("event_date")
  }

  val eventPivotSql: String = {
    val cells = PivotEventTypes.map(v =>
      s"count(*) FILTER (WHERE event_type = '$v')::BIGINT AS n_$v").mkString(",\n  ")
    s"""SELECT ts::DATE::VARCHAR AS event_date,
       |  $cells
       |FROM events
       |GROUP BY 1
       |ORDER BY event_date""".stripMargin
  }

  // ---- q64: n-gram containment (quote detection) ---------------------

  /** 12-char grams (~2 words): the same selectivity lesson as q12's
    * n=9 and q57's n=24 — prefix filtering prunes only when grams are
    * rare, and on this small-vocabulary corpus 8-grams are so shared
    * that the inverted index admitted 45% of ALL ordered pairs as
    * candidates (11.4M at sf0.1; 12-grams: 1.0M, same verified pairs
    * from n≥10 up, q64 6.6 s → ~1.5 s). Quotes shorter than ~12 chars
    * are below detection interest anyway. */
  val ContainGram = 12
  val ContainThreshold = 0.6

  /** Asymmetric containment join over the documents corpus —
    * [[graft.dedup.NgramJaccard.containmentPairsResult]] at τ=0.6 on
    * [[ContainGram]]-grams: ordered (quoted, quoting) pairs symmetric
    * Jaccard (q12) cannot see when the quoting doc is much larger.
    * Oracle is the brute-force all-pairs SQL, so the prefix+size
    * pruning is also recall-asserted exact. */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.NgramJaccard.containmentPairsResult(
        table(spark, dir, "documents"), "doc_id", "text",
        ContainGram, ContainThreshold)
      .df.orderBy("doc_a", "doc_b")

  val ngramContainmentSql: String = {
    import graft.text.Hashing
    s"""WITH sets AS (
       |  SELECT doc_id AS id,
       |         ${Hashing.charNgramsSql("text", ContainGram)} AS sh
       |  FROM documents)
       |SELECT a.id AS doc_a, b.id AS doc_b,
       |  round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6)
       |    AS containment
       |FROM sets a JOIN sets b ON a.id <> b.id
       |WHERE len(a.sh) > 0
       |  AND len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh)
       |      >= $ContainThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q63: BM25 retrieval scoring -----------------------------------

  val Bm25Query = Seq("hash", "join", "stream")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** Okapi BM25 ranking of the corpus against a keyword query — the
    * retrieval-scoring counterpart of q44's corpus TF-IDF. Corpus
    * statistics (N, avgdl) are two scalar jobs; per-term df is a
    * 3-row broadcast; the per-doc work is one token explode + two
    * aggregations. Ranked by the ROUNDED score for an engine-stable
    * cutoff (same contract as q44). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val n = docs.count().toDouble
    val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= MinTermLen)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val avgdl = dl.agg(avg(col("dl"))).head().getDouble(0)
    val tf = toks.filter(col("term").isInCollection(Bm25Query))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term")
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = col("tf") + lit(Bm25K1) *
      (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / lit(avgdl))
    tf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .withColumn("s", idf * col("tf") * lit(Bm25K1 + 1) / norm)
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(Bm25TopK)
  }

  val bm25Sql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM documents),
       |ft AS (SELECT doc_id, term FROM toks WHERE length(term) >= $MinTermLen),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM ft GROUP BY doc_id),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT avg(dl) FROM dl) AS avgdl),
       |tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ft
       |  WHERE term IN ($terms) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term)
       |SELECT tf.doc_id AS doc_id,
       |  round(sum(
       |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |      * tf * ${Bm25K1 + 1} / (tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl / avgdl))
       |  ), 6) AS bm25
       |FROM tf
       |JOIN df USING (term)
       |JOIN dl USING (doc_id)
       |CROSS JOIN stats
       |GROUP BY tf.doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // ---- q59: streaming windowed approx-distinct (sketch as state) -----

  /** Daily distinct-user estimate over the event stream —
    * `approx_count_distinct` (HLL++) as STREAMING state: per-window
    * state is one sketch (KB), not the user set, so the same query
    * holds on an unbounded stream where exact distinct state grows
    * without limit. Complete mode + event-time windows.
    *
    * The per-window estimates are engine-specific, so the output
    * carries the accuracy claim hash-matchably: for each day, the
    * stream's exact event count, the exact (batch-computed) distinct
    * count, and a boolean asserting the STREAMING estimate landed
    * within [[HllRelErr]] of it. The oracle recomputes the exact side
    * per day and literal TRUE — so a stream that dropped a window, an
    * event, or drifted past the bound all fail the hash. */
  def streamWindowDistinct(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val src = streamParquet(spark, s"$dir/events.parquet")
    val perDay = src
      .withColumn("event_ts", eventTs(src))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 day"))
      .agg(hll_sketch_estimate(
          hll_sketch_agg(col("user_id"), lit(StreamDistinctLgK))).as("nd_users_est"),
        count(lit(1)).as("n_events"))
      .select(unix_seconds(col("window.start")).as("day_epoch"),
        col("nd_users_est"), col("n_events"))
    val streamed = drain(perDay, "stream_window_distinct_result", "complete")
    // gate-only exact side, trimmed: the arithmetic day bucket equals
    // window('1 day').start for epoch-aligned days and skips the window
    // struct machinery — this side exists only to materialize the
    // within_bound claim (at 100 TB one ships the estimates alone)
    val ev = table(spark, dir, "events")
    val exact = ev
      .groupBy(((eventTsUs(ev) - pmod(eventTsUs(ev), lit(86400000000L)))
        .divide(lit(1000000L))).cast("long").as("day_epoch"))
      .agg(countDistinct(col("user_id")).as("nd_users"))
    streamed.join(exact, "day_epoch")
      .select(col("day_epoch"), col("n_events"), col("nd_users"),
        (abs(col("nd_users_est").cast("double") - col("nd_users").cast("double"))
          <= lit(HllRelErr) * col("nd_users").cast("double")).as("within_bound"))
      .orderBy("day_epoch")
    }

  val streamWindowDistinctSql: String =
    """SELECT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS nd_users,
      |  TRUE AS within_bound
      |FROM events GROUP BY 1 ORDER BY day_epoch""".stripMargin

  // ---- q331: streaming KMV distinct sketch (deterministic estimate) --

  /** q59's windowed distinct question answered by the KMV bottom-k
    * sketch ([[graft.operators.KmvSketch]], k = [[AnalyticsQueries
    * .KmvK]]) instead of HLL — and the gate gets STRONGER for it: HLL
    * internals are engine-specific, so q59 can only hash-match a
    * within-bound boolean; KMV's bottom-k set is a deterministic,
    * idempotent lattice join over md5-derived hashes, so the streamed
    * per-window ESTIMATE itself is bit-reproducible under any
    * batching/partitioning/replay and rides the cross-engine hash
    * gate, err_pm included (the oracle recomputes the same bottom-k
    * arithmetic in SQL). State per window: k longs. */
  def streamKmv(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val raw = streamParquet(spark, s"$dir/events.parquet")
    val src = raw
      .withColumn("event_ts", eventTs(raw))
      .withWatermark("event_ts", "1 hour")
      .withColumn("h",
        expr("cast(conv(substring(md5(concat(cast(user_id as string), " +
          "':kmv')), 1, 8), 16, 10) as bigint)"))
    val bk = udaf(graft.operators.KmvSketch.bottomKAgg(AnalyticsQueries.KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val k = AnalyticsQueries.KmvK
    val perDay = src
      .groupBy(window(col("event_ts"), "1 day"))
      .agg(bk(col("h")).as("bk"), count(lit(1)).as("n_events"))
      .select(unix_seconds(col("window.start")).as("day_epoch"),
        col("n_events"),
        expr(s"CASE WHEN size(bk) >= $k THEN " +
          s"(${k - 1} * 4294967296) div element_at(bk, $k) " +
          "ELSE cast(size(bk) as bigint) END").as("est_kmv"),
        (size(col("bk")) < k).as("exact_regime"))
    val streamed = drain(perDay, "stream_kmv_result", "complete")
    val ev = table(spark, dir, "events")
    val exact = ev
      .groupBy(((eventTsUs(ev) - pmod(eventTsUs(ev), lit(86400000000L)))
        .divide(lit(1000000L))).cast("long").as("day_epoch"))
      .agg(countDistinct(col("user_id")).as("nd_users"))
    streamed.join(exact, "day_epoch")
      .select(col("day_epoch"), col("n_events"), col("nd_users"),
        col("est_kmv"), col("exact_regime"),
        expr("(1000 * abs(est_kmv - nd_users)) div nd_users").as("err_pm"))
      .orderBy("day_epoch")
    }

  val streamKmvSql: String = {
    val k = AnalyticsQueries.KmvK
    val h32 = (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1) * ${1L << (4 * (8 - i))}")
      .mkString(" + ")
    s"""WITH hs AS (
       |  SELECT DISTINCT day_epoch, ($h32)::BIGINT AS h FROM (
       |    SELECT DISTINCT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
       |      md5(user_id::VARCHAR || ':kmv') AS m
       |    FROM events)),
       |kth AS (
       |  SELECT day_epoch, h AS hk, rn, cnt FROM (
       |    SELECT day_epoch, h,
       |      row_number() OVER (PARTITION BY day_epoch ORDER BY h) AS rn,
       |      count(*) OVER (PARTITION BY day_epoch) AS cnt
       |    FROM hs)
       |  WHERE rn = $k OR (cnt < $k AND rn = 1)),
       |est AS (
       |  SELECT day_epoch,
       |    (CASE WHEN cnt >= $k THEN (${k - 1} * 4294967296) // hk
       |     ELSE cnt END)::BIGINT AS est_kmv,
       |    cnt < $k AS exact_regime
       |  FROM kth),
       |ex AS (
       |  SELECT epoch(date_trunc('day', ts))::BIGINT AS day_epoch,
       |    count(*)::BIGINT AS n_events,
       |    count(DISTINCT user_id)::BIGINT AS nd_users
       |  FROM events GROUP BY 1)
       |SELECT ex.day_epoch, ex.n_events, ex.nd_users, est.est_kmv,
       |  est.exact_regime,
       |  ((1000 * abs(est.est_kmv - ex.nd_users)) // ex.nd_users)::BIGINT
       |    AS err_pm
       |FROM ex JOIN est USING (day_epoch)
       |ORDER BY day_epoch""".stripMargin
  }

  // ---- q55: real media encode→decode round trip ----------------------

  /** Documents encoded into REAL containers (24-bit BMP / PCM WAV /
    * raw; [[graft.multimodal.Multimodal.encodedMedia]]) and decoded
    * back by [[graft.multimodal.Multimodal.decodeMedia]] — an actual
    * byte-level parse, not the q26 stub. The oracle recomputes every
    * container size and geometry from first principles (BMP = 54-byte
    * header + rows, WAV = 44-byte header + samples), so a decoder that
    * misparsed any header field fails the gate; pixel/sample fidelity
    * is asserted in DecodeSpec (encode→decode round-trip). */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val enc = graft.multimodal.Multimodal.encodedMedia(docs, "doc_id", "text")
    graft.multimodal.Multimodal.decodeMedia(enc).toDF()
      .select(col("media_id"), col("fmt"), col("n_bytes"),
        col("w"), col("h"), col("n_samples"))
      .orderBy("media_id")
  }

  val mediaDecodeSql: String = {
    val (bw, bmax, wmax) =
      (graft.multimodal.Multimodal.BmpWidth,
        graft.multimodal.Multimodal.BmpMaxBytes,
        graft.multimodal.Multimodal.WavMaxSamples)
    val rows = s"greatest(1, ceil(least(octet_length(encode(text)), $bmax) / $bw.0))::BIGINT"
    s"""SELECT doc_id AS media_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'raw' END AS fmt,
       |  (CASE doc_id % 3
       |    WHEN 0 THEN 54 + $rows * ${bw * 3}
       |    WHEN 1 THEN 44 + 2 * least(octet_length(encode(text)), $wmax)
       |    ELSE octet_length(encode(text)) END)::BIGINT AS n_bytes,
       |  (CASE doc_id % 3 WHEN 0 THEN $bw ELSE 0 END)::BIGINT AS w,
       |  (CASE doc_id % 3 WHEN 0 THEN $rows ELSE 0 END)::BIGINT AS h,
       |  (CASE doc_id % 3 WHEN 1 THEN least(octet_length(encode(text)), $wmax)
       |   ELSE 0 END)::BIGINT AS n_samples
       |FROM documents
       |ORDER BY media_id""".stripMargin
  }

  // ---- q324: G.711 μ-law WAV round trip (companded audio) ------------

  val MuLawMaxSamples = 400
  val MuLawSampleRate = 8000 // the G.711 telephony rate

  /** encode(pcm(b)) ∘ decode as a pure function of the source BYTE —
    * the composite 256-entry table computed ONCE from the Scala codec
    * and inlined into the oracle (shared-constants discipline): the
    * oracle never re-implements the compander, it looks the round
    * trip up. pcm(b) = (b − 128)·256 spans the 16-bit range. */
  val MuLawRoundTrip: IndexedSeq[Int] =
    (0 until 256).map { b =>
      graft.multimodal.MediaCodec.muLawDecode(
        graft.multimodal.MediaCodec.muLawEncode(
          (((b & 0xff) - 128) * 256).toShort)).toInt
    }

  /** Telephony-grade audio through a REAL companded container: each
    * doc's bytes become 16-bit PCM, G.711 μ-law-compressed into a
    * format-7 WAV (extended fmt chunk + fact chunk — the stricter
    * chunk grammar wild G.711 files carry), then decoded back by an
    * honest chunk-walking parser and summarized (sample count,
    * container bytes, Σ|pcm|, max|pcm|). Extends the codec family
    * beyond q55's uncompressed PCM with the one audio CODEC the JVM
    * needs no native library for — μ-law is pure integer, so the
    * decode is bit-exact and ORACLE-CHECKABLE: the oracle recomputes
    * container geometry from first principles and the sample stats
    * via the [[MuLawRoundTrip]] table over the raw text bytes. A
    * decoder that misparsed the extended fmt, skipped `fact` wrong,
    * or got one compander bit wrong fails the hash.
    *
    * Scale shape: embarrassingly per-row (mapPartitions batch shape,
    * q55's); nothing shuffles until the final orderBy-for-gate. */
  def mulawRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.MediaCodec
    table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8").take(MuLawMaxSamples)
        val pcm = bytes.map(b => (((b & 0xff) - 128) * 256).toShort)
        val wav = MediaCodec.encodeWavMuLaw(
          MuLawSampleRate, pcm.map(MediaCodec.muLawEncode))
        val (rate, decoded) = MediaCodec.decodeWavMuLaw(wav)
        require(rate == MuLawSampleRate, "rate round-trip")
        (id, decoded.length.toLong, wav.length.toLong,
          decoded.map(s => math.abs(s.toInt).toLong).sum,
          decoded.foldLeft(0L)((m, s) => math.max(m, math.abs(s.toInt))))
      }
      .toDF("media_id", "n_samples", "n_bytes", "sum_abs", "max_abs")
      .orderBy("media_id")
  }

  val mulawRoundtripSql: String = {
    val tab = MuLawRoundTrip.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    least(octet_length(encode(text)), $MuLawMaxSamples) AS n,
       |    hex(encode(text)) AS hx
       |  FROM documents),
       |tab AS MATERIALIZED (
       |  SELECT unnest(range(0, 256))::BIGINT AS b,
       |         unnest([$tab])::BIGINT AS pcm),
       |u AS (
       |  SELECT d.doc_id, ${byteAtSql("d.hx", "s.i")}::BIGINT AS byte
       |  FROM d, unnest(generate_series(1, d.n)) AS s(i))
       |SELECT d.doc_id AS media_id, d.n::BIGINT AS n_samples,
       |  (58 + d.n)::BIGINT AS n_bytes,
       |  sum(abs(t.pcm))::BIGINT AS sum_abs,
       |  max(abs(t.pcm))::BIGINT AS max_abs
       |FROM d JOIN u USING (doc_id) JOIN tab t ON t.b = u.byte
       |GROUP BY d.doc_id, d.n
       |ORDER BY media_id""".stripMargin
  }

  // ---- q66: PNG encode→decode round trip (compressed container) ------

  /** Documents encoded as REAL non-interlaced PNGs (RGB even ids,
    * RGBA odd — [[graft.multimodal.Multimodal.encodedPng]]) and parsed
    * back through the full chunk/CRC/DEFLATE/unfilter path. The oracle
    * recomputes geometry from first principles AND the pixel-content
    * sum from the raw text bytes — so a decoder that misread a header,
    * dropped a chunk, or mis-unfiltered a single byte fails the hash.
    * This retires the "compressed formats stubbed" caveat for the one
    * compressed container the JDK can honestly support. */
  def pngDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val enc = graft.multimodal.Multimodal.encodedPng(docs, "doc_id", "text")
    graft.multimodal.Multimodal.decodePngFeatures(enc).toDF()
      .orderBy("media_id")
  }

  val pngDecodeSql: String = {
    val (w, cap) = (graft.multimodal.Multimodal.PngWidth,
      graft.multimodal.Multimodal.PngMaxBytes)
    s"""WITH d AS (
       |  SELECT doc_id, (3 + doc_id % 2)::BIGINT AS ch,
       |         least(octet_length(encode(text)), $cap) AS len,
       |         hex(encode(text)) AS hx
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, ch, len, hx,
       |         greatest(1, ceil(len / ($w * ch)::DOUBLE))::BIGINT AS h
       |  FROM d)
       |SELECT doc_id AS media_id, $w::BIGINT AS w, h, ch AS channels,
       |  (h * $w * ch)::BIGINT AS pix_bytes,
       |  coalesce(list_sum(list_transform(range(1, len + 1),
       |    i -> ${byteAtSql("hx", "i")})), 0)::BIGINT AS pix_sum
       |FROM g ORDER BY media_id""".stripMargin
  }

  // ---- q67: batch bounded-state top-K (Space-Saving Aggregator) ------

  val BatchTopK = 5
  /** Above the distinct user count at gate/bench SF → the sketch runs
    * EXACT (errors 0), which is what makes q67 oracle-checkable; at
    * larger domains the same query returns bounded-error heavy
    * hitters from the same fixed-size state (TopKAggregateSpec). */
  val BatchTopKCapacity = 4096

  /** Top users per event type via the Space-Saving `Aggregator`
    * ([[graft.operators.TopKAggregate]]) — bounded partial state
    * regardless of the value domain, vs q07's exact one-row-per-
    * distinct-value intermediate. The err column rides through the
    * gate and must be exactly 0 (literal in the oracle): proof the
    * sketch ran in its exact regime, not a lucky ranking. */
  def batchTopK(spark: SparkSession, dir: String): DataFrame = {
    val agg = udaf(graft.operators.TopKAggregate
      .topKAgg(BatchTopK, BatchTopKCapacity), org.apache.spark.sql.Encoders.STRING)
    table(spark, dir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type").agg(agg(col("uid")).as("top"))
      .select(col("event_type"), explode(col("top")).as("e"))
      .select(col("event_type"), col("e.value").as("user_id"),
        col("e.cnt").as("cnt"), col("e.err").as("err"), col("e.rank").as("rank"))
      .orderBy("event_type", "rank")
  }

  val batchTopKSql: String =
    s"""WITH c AS (
       |  SELECT event_type, user_id::VARCHAR AS user_id, count(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rank
       |  FROM c)
       |SELECT event_type, user_id, cnt, 0::BIGINT AS err, rank::INT AS rank
       |FROM r WHERE rank <= $BatchTopK
       |ORDER BY event_type, rank""".stripMargin

  // ---- q70: real media resize / frame-sample -------------------------

  /** q55's containers pushed through REAL pixel/sample transforms —
    * BMP nearest-neighbor ×2 downscale, WAV ×4 decimation
    * ([[graft.multimodal.Multimodal.resampleMedia]]): the oracle
    * recomputes the resized image's mean gray and the decimated
    * audio's RMS from the source text bytes from first principles, so
    * any error in decode, pixel selection, or sample selection fails
    * the hash. Signals are derived from exact integer sums in the
    * Column layer (rounding conventions are engine-shared there;
    * JVM rint is not). */
  def mediaResample(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val enc = graft.multimodal.Multimodal.encodedMedia(docs, "doc_id", "text")
    graft.multimodal.Multimodal.resampleMedia(enc).toDF()
      .select(col("media_id"), col("fmt"), col("out_w"), col("out_h"),
        col("out_samples"),
        r6(when(col("fmt") === "bmp",
            col("sum_gray").cast("double") / (col("out_w") * col("out_h")))
          .when(col("fmt") === "wav",
            sqrt(col("sum_sq").cast("double") / col("out_samples")))
          .otherwise(lit(0d))).as("sig"))
      .orderBy("media_id")
  }

  val mediaResampleSql: String = {
    val (bmax, wmax) = (graft.multimodal.Multimodal.BmpMaxBytes,
      graft.multimodal.Multimodal.WavMaxSamples)
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    least(octet_length(encode(text)), $bmax) AS len_b,
       |    least(octet_length(encode(text)), $wmax) AS len_w
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, hx, len_b, len_w,
       |    ceil(greatest(1, ceil(len_b / 16.0)) / 2.0)::BIGINT AS h2,
       |    ceil(len_w / 4.0)::BIGINT AS n2
       |  FROM d)
       |SELECT doc_id AS media_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'raw' END AS fmt,
       |  (CASE doc_id % 3 WHEN 0 THEN 8 ELSE 0 END)::BIGINT AS out_w,
       |  (CASE doc_id % 3 WHEN 0 THEN h2 ELSE 0 END)::BIGINT AS out_h,
       |  (CASE doc_id % 3 WHEN 1 THEN n2 ELSE 0 END)::BIGINT AS out_samples,
       |  round(CASE doc_id % 3
       |    WHEN 0 THEN
       |      list_sum(list_transform(range(0, 8 * h2),
       |        k -> CASE WHEN (2*(k//8))*16 + 2*(k%8) < len_b
       |             THEN ${byteAtSql("hx", "(2*(k//8))*16 + 2*(k%8) + 1")}
       |             ELSE 0 END))::DOUBLE / (8 * h2)
       |    WHEN 1 THEN
       |      sqrt(list_sum(list_transform(range(0, n2),
       |        k -> pow((${byteAtSql("hx", "4*k + 1")} - 128) * 256, 2)))::DOUBLE / n2)
       |    ELSE 0 END, 6) AS sig
       |FROM g ORDER BY media_id""".stripMargin
  }

  // ---- q72: JPEG lossy round trip (JDK imageio) ----------------------

  /** Documents through a REAL lossy JPEG round trip
    * ([[graft.multimodal.Multimodal.jpegRoundTrip]]): encode at
    * quality 0.95 via the JDK's bundled codec, decode with ImageIO,
    * gate exact geometry + source mean hash-exactly and the decoded
    * mean as a within-bound boolean — per-pixel JPEG output is a
    * quantizer property, not a recomputable fact, so the accuracy
    * claim rides the gate instead (the q22/q48 pattern). This shrinks
    * the honest-stub surface to codecs the JVM genuinely lacks
    * (H.264 etc.). */
  def jpegDecode(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    graft.multimodal.Multimodal.jpegRoundTrip(docs, "doc_id", "text").toDF()
      .select(col("media_id"), col("w"), col("h"),
        r6(col("src_sum").cast("double") / (col("w") * col("h"))).as("src_mean"),
        col("mean_ok"))
      .orderBy("media_id")
  }

  val jpegDecodeSql: String = {
    val (w, cap) = (graft.multimodal.Multimodal.JpegWidth,
      graft.multimodal.Multimodal.JpegMaxBytes)
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         least(octet_length(encode(text)), $cap) AS len
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, hx, len,
       |         greatest(1, ceil(len / $w.0))::BIGINT AS h
       |  FROM d)
       |SELECT doc_id AS media_id, $w::BIGINT AS w, h,
       |  round(coalesce(list_sum(list_transform(range(1, len + 1),
       |    i -> ${byteAtSql("hx", "i")})), 0)::DOUBLE / ($w * h), 6) AS src_mean,
       |  TRUE AS mean_ok
       |FROM g ORDER BY media_id""".stripMargin
  }

  // ---- q99: multi-frame GIF frame extraction + sampling --------------

  /** Documents through the REAL multi-frame pipeline
    * ([[graft.multimodal.Multimodal.gifFrameSample]]): bytes → up to 4
    * 16×8 frames → a genuine animated GIF (JDK imageio writer) → full
    * decode → every-2nd-frame sample. The gray-palette round trip is
    * lossless, so frame counts and BOTH pixel sums are recomputed by
    * the oracle from the source bytes — any encoder/decoder/sampler
    * drift fails the hash; `lossless` additionally pins frame-exact
    * decode equality. Frame-sampling for video-shaped media, on the
    * one multi-frame container the JVM actually ships. */
  def gifFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    graft.multimodal.Multimodal.gifFrameSample(docs, "doc_id", "text").toDF()
      .orderBy("media_id")
  }

  val gifFramesSql: String = {
    val fb = graft.multimodal.Multimodal.GifFrameBytes
    val (w, h) = (graft.multimodal.Multimodal.GifFrameW,
      graft.multimodal.Multimodal.GifFrameH)
    val cap = fb * graft.multimodal.Multimodal.GifMaxFrames
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         least(octet_length(encode(text)), $cap) AS len
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, hx, len,
       |         greatest(1, ceil(len / $fb.0))::BIGINT AS nf
       |  FROM d)
       |SELECT doc_id AS media_id, $w::BIGINT AS w, $h::BIGINT AS h,
       |  nf AS n_frames, ((nf + 1) // 2)::BIGINT AS n_sampled,
       |  coalesce(list_sum(list_transform(range(0, len::INT),
       |    k -> CASE WHEN (k // $fb) % 2 = 0
       |         THEN ${byteAtSql("hx", "k + 1")} ELSE 0 END)), 0)::BIGINT
       |    AS sampled_sum,
       |  coalesce(list_sum(list_transform(range(1, len::INT + 1),
       |    i -> ${byteAtSql("hx", "i")})), 0)::BIGINT AS all_sum,
       |  TRUE AS lossless
       |FROM g ORDER BY media_id""".stripMargin
  }

  // ---- q186: MJPEG-in-AVI video frame extraction + sampling ----------

  /** Documents through a REAL video container
    * ([[graft.multimodal.Multimodal.aviFrameSample]]): bytes → up to 4
    * 16×8 frames → per-frame baseline JPEG → a hand-rolled RIFF/AVI
    * MJPEG container → full container parse → per-frame decode →
    * every-2nd-frame sample. Source frame sums are exact and
    * oracle-recomputed from the bytes (the q99 construction);
    * `container_ok` pins the RIFF round trip (framing, geometry, fps,
    * frame count, byte-exact chunk payloads) and `mean_ok` carries the
    * per-frame lossy-JPEG bound (the q72 construction). This retires
    * the "video containers are an honest stub" line: the container is
    * real; only non-JPEG video CODECS (H.264 …) stay out of JVM
    * reach. */
  def aviFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    graft.multimodal.Multimodal.aviFrameSample(
        graft.Partitioning.spread(docs, col("doc_id")), "doc_id", "text")
      .toDF()
      .orderBy("media_id")
  }

  val aviFramesSql: String = {
    val fb = graft.multimodal.Multimodal.AviFrameBytes
    val (w, h) = (graft.multimodal.Multimodal.AviFrameW,
      graft.multimodal.Multimodal.AviFrameH)
    val cap = fb * graft.multimodal.Multimodal.AviMaxFrames
    s"""WITH d AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         least(octet_length(encode(text)), $cap) AS len
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, hx, len,
       |         greatest(1, ceil(len / $fb.0))::BIGINT AS nf
       |  FROM d)
       |SELECT doc_id AS media_id, $w::BIGINT AS w, $h::BIGINT AS h,
       |  nf AS n_frames, ((nf + 1) // 2)::BIGINT AS n_sampled,
       |  coalesce(list_sum(list_transform(range(0, len::INT),
       |    k -> CASE WHEN (k // $fb) % 2 = 0
       |         THEN ${byteAtSql("hx", "k + 1")} ELSE 0 END)), 0)::BIGINT
       |    AS src_sampled_sum,
       |  coalesce(list_sum(list_transform(range(1, len::INT + 1),
       |    i -> ${byteAtSql("hx", "i")})), 0)::BIGINT AS src_all_sum,
       |  TRUE AS container_ok,
       |  TRUE AS mean_ok
       |FROM g ORDER BY media_id""".stripMargin
  }

  // ---- q189: HLL sketch store AT REST (mergeable distinct counts) ----

  /** Re-aggregation tolerance for the q189 gate: Datasketches HLL at
    * the default lgK=12 carries ~1.6% relative standard error; 50‰ is
    * ≥3σ (and on this corpus's cardinalities the sketch is still in
    * its exact sparse regime, so the realized error is 0). */
  val SketchErrBudgetPm = 50L

  /** The sketch sibling of the q184/q185/q188 index-at-rest story —
    * distinct-count maintenance WITHOUT raw-history re-scans: per
    * (event_type, day) HLL sketches (Datasketches, the binary-column
    * `hll_sketch_agg` family) are built once and PERSISTED (the
    * [[graft.sources.IndexStore]] lifecycle: content fingerprint,
    * staging+rename publish, superseded-generation cleanup); the
    * dashboard question "distinct users per type, all time" then
    * merges |days|×|types| KB-sized sketches (`hll_union_agg`) instead
    * of scanning history. At 100 TB each daily build touches ONE day's
    * partition and appends |types| rows; the merge is catalog-sized.
    *
    * Gate (the q22 pattern for approximate operators): exact distinct
    * counts hash-match the oracle; `merged_eq_direct` pins the ALGEBRA
    * — HLL register state is order- and grouping-independent, so the
    * union of stored per-day sketches must estimate IDENTICALLY to a
    * direct one-shot sketch over the raw stream (a torn sketch binary,
    * a lossy parquet round trip, or a bad union all break the
    * equality); `err_ok` bounds the estimate against the exact count
    * ([[SketchErrBudgetPm]]). */
  def sketchStore(spark: SparkSession, dir: String): DataFrame = {
    val stored = spark.read.parquet(ensureSketchStore(spark, dir))
    val merged = stored.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_stored"))
    val ev = QueryUtil.eventsTsUs(spark, dir)
    val raw = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"))
    raw.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (col("est_stored") === col("est_direct")).as("merged_eq_direct"),
        (abs(col("est_stored") - col("n_exact")) * 1000 <=
          col("n_exact") * SketchErrBudgetPm).as("err_ok"))
      .orderBy("event_type")
  }

  val sketchStoreSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_exact,
      |  TRUE AS merged_eq_direct, TRUE AS err_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Write-once persisted sketch table: one HLL sketch per
    * (event_type, day) — the incremental unit a daily job appends.
    * Same store lifecycle as q184/q185 ([[graft.sources.IndexStore]]).
    * Returns the store path. */
  def ensureSketchStore(spark: SparkSession, dir: String): String = {
    import graft.sources.IndexStore
    ScaleQueries.synchronized {
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/events.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_hll_store_${dirTag}_$fpTag")
      IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
        QueryUtil.eventsTsUs(spark, dir)
          .withColumn("day_num", expr("ts_us div 86400000000"))
          .groupBy("event_type", "day_num")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .write.mode("overwrite").parquet(staging.getPath)
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_hll_store_${dirTag}_", dest.getName,
        s"graft_hll_store_${dirTag}_", dest.getName)
      dest.getPath
    }
  }

  // ---- q73: Bloom-pruned fact join (shuffle-volume cut) --------------

  val BloomFpp = 0.01

  /** Events joined to the BUILDING-segment customers through
    * [[graft.operators.BloomPrune.prunedJoin]] — the q51 regime (fact
    * side forced SMJ, dim not broadcastable as rows) with the join's
    * selectivity harvested BEFORE the shuffle: a Bloom filter of the
    * ~20%-of-customers dim keys prunes the event scan in pure codegen,
    * so the exchange carries only rows that might match. The result is
    * EXACTLY the plain join (no false negatives; false positives die
    * in the join), so the plain-join oracle gates it hash-exactly;
    * PlanSpec asserts the probe sits under the scan, before the
    * exchange. */
  def bloomPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val cust = table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"))
    graft.operators.BloomPrune.prunedJoin(
        ev.hint("merge"), cust, factKey = "user_id", dimKey = "c_custkey",
        fpp = BloomFpp)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("c_nationkey")
  }

  val bloomPrunedJoinSql: String =
    s"""SELECT c_nationkey,
       |  count(*)::BIGINT AS n_events,
       |  ${moneySumSql("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  // ---- q74: z-order layout + min/max data skipping -------------------

  val ZFiles = 16
  val ZPartLo = 40L; val ZPartHi = 119L
  val ZSuppLo = 2L; val ZSuppHi = 5L

  /** Lineitem re-laid-out on the (l_partkey, l_suppkey) Morton curve
    * (write-once per dir, like q39/q47), then a conjunctive range
    * predicate over BOTH keys answered through the file-level
    * [min,max] skipping index: the driver drops every file whose
    * rectangle can't intersect the predicate before any data (or
    * parquet footer) is read, and the surviving files still run the
    * exact row predicate. Sorting by either key alone would cluster
    * only that key — the z layout makes per-file ranges selective on
    * both at once (ZOrderSpec asserts each single-dimension filter
    * skips files here and that a linear layout skips none on its
    * secondary dimension). Result is provably the plain filter's, so
    * the full-scan oracle gates it hash-exact. */
  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val stats = ensureZorderedLineitem(spark, dir)
    graft.sources.ZOrderLayout
      .skippingScan(spark, stats, "l_partkey", "l_suppkey",
        ZPartLo, ZPartHi, ZSuppLo, ZSuppHi)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Z-ordered lineitem layout + stats index for `dir`, built once per
    * JVM (ingest-time work; the q47 mtime+length fingerprint rule). */
  private val zStatsCache =
    scala.collection.mutable.Map.empty[String, Seq[graft.sources.ZOrderLayout.FileStats]]

  private def ensureZorderedLineitem(
      spark: SparkSession, dir: String): Seq[graft.sources.ZOrderLayout.FileStats] =
    synchronized {
      val src = new java.io.File(s"$dir/lineitem.parquet")
      val tag = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(
          s"$dir:${src.length}:${src.lastModified}:$ZFiles"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_zorder_lineitem_$tag"
      zStatsCache.getOrElseUpdate(path, {
        val Z = graft.sources.ZOrderLayout
        if (new java.io.File(path, "_SUCCESS").exists)
          Z.collectStats(spark, path, "l_partkey", "l_suppkey")
        else
          Z.writeZOrdered(table(spark, dir, "lineitem")
              .select("l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice"),
            path, "l_partkey", "l_suppkey", ZFiles)
      })
    }

  val zorderScanSql: String =
    s"""SELECT l_returnflag,
       |  count(*)::BIGINT AS n_rows,
       |  ${moneySumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE l_partkey BETWEEN $ZPartLo AND $ZPartHi
       |  AND l_suppkey BETWEEN $ZSuppLo AND $ZSuppHi
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q328: Hilbert-curve layout + min/max data skipping -------------

  /** q74's skipping scan over the HILBERT layout
    * ([[graft.sources.HilbertCurve]], native codegen expression) —
    * the locality-preserving curve the production optimizers moved to:
    * Morton's quadrant seams let one contiguous key-range file cover
    * two distant rectangles; Hilbert's strict cell adjacency keeps
    * per-file bounding rectangles tight, so the same [min,max] index
    * prunes at least as hard (HilbertSpec quantifies rectangle area
    * vs the z layout on this corpus; the skipped-file counts ride
    * there too). Same predicate, same full-scan oracle — the gate
    * proves the layout NEVER affects results, only cost. */
  def hilbertScan(spark: SparkSession, dir: String): DataFrame = {
    val stats = ensureHilbertLineitem(spark, dir)
    graft.sources.ZOrderLayout
      .skippingScan(spark, stats, "l_partkey", "l_suppkey",
        ZPartLo, ZPartHi, ZSuppLo, ZSuppHi)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val hStatsCache =
    scala.collection.mutable.Map.empty[String, Seq[graft.sources.ZOrderLayout.FileStats]]

  private[queries] def ensureHilbertLineitem(
      spark: SparkSession, dir: String): Seq[graft.sources.ZOrderLayout.FileStats] =
    synchronized {
      val src = new java.io.File(s"$dir/lineitem.parquet")
      val tag = java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(
          s"$dir:${src.length}:${src.lastModified}:hilbert:$ZFiles"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_hilbert_lineitem_$tag"
      hStatsCache.getOrElseUpdate(path, {
        val Z = graft.sources.ZOrderLayout
        if (new java.io.File(path, "_SUCCESS").exists)
          Z.collectStats(spark, path, "l_partkey", "l_suppkey")
        else
          Z.writeHilbertOrdered(table(spark, dir, "lineitem")
              .select("l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice"),
            path, "l_partkey", "l_suppkey", ZFiles)
      })
    }

  /** Identical oracle to q74 — the layout must never change results. */
  def hilbertScanSql: String = zorderScanSql

  // ---- q75: deterministic weighted sample (A-ES top-K) ---------------

  val WeightedSampleK = 200
  val WeightedSampleSalt = "wsample"

  /** Weighted sample WITHOUT replacement of the corpus, inclusion
    * probability ∝ document length: rank by the deterministic A-ES
    * priority `u^(1/w)` ([[graft.operators.Sampling.weightedPriority]])
    * and keep the top K. The whole selection is a projection plus one
    * TakeOrderedAndProject — no shuffle of non-winners, reproducible
    * bit-for-bit on any engine (the oracle recomputes the identical
    * priorities from the same md5 primitive and must select the same
    * docs in the same order). The training-mix use: upweight long/rare
    * documents in a size-bounded sample instead of uniform keep/drop. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        graft.operators.Sampling
          .weightedPriority(col("doc_id"), col("n_chars"), WeightedSampleSalt)
          .as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(WeightedSampleK)
  }

  val weightedSampleSql: String = {
    val pri = graft.operators.Sampling
      .weightedPrioritySql("doc_id", "n_chars", WeightedSampleSalt)
    s"""SELECT doc_id, lang, n_chars, $pri AS priority
       |FROM documents
       |ORDER BY priority DESC, doc_id
       |LIMIT $WeightedSampleK""".stripMargin
  }

  // ---- q85: edit-distance k=2 fuzzy self-join (SymSpell) -------------

  /** Customer names at Levenshtein distance ≤ 2 — the k=2 rung of the
    * deletion-neighborhood family ([[graft.dedup.EditDistanceJoin
    * .selfJoinEd2]]: 2-deletion neighborhoods, ~L²/2 variants/string,
    * perfect recall by the SymSpell intersection guarantee, exact
    * bounded-`levenshtein` verify). Same brute-force oracle shape as
    * q76 at the wider radius — which now also admits same-length
    * SHIFT pairs (one insert + one delete, e.g. `…012` vs `…123`),
    * so the gate exercises more than the 2-substitution slice.
    *
    * The gate runs on the `c_custkey % 3 = 0` slice: on SEQUENTIAL
    * zero-padded ids, radius 2 links every pair of numbers differing
    * in ≤ 2 digit positions — a truth set that grows ~quadratically
    * with corpus density (4.08 M pairs over the full sf0.1 customer
    * table — answer-size cost, not algorithm cost). The slice keeps
    * the gated query's runtime ∝ index work while the operator itself
    * is slice-free; the oracle applies the identical filter. */
  def fuzzyJoinK2(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.EditDistanceJoin
      .selfJoinEd2(
        table(spark, dir, "customer").filter(col("c_custkey") % 3 === 0),
        "c_custkey", "c_name")
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .orderBy("id_a", "id_b")

  val fuzzyJoinK2Sql: String =
    """SELECT a.c_custkey::BIGINT AS id_a, b.c_custkey::BIGINT AS id_b
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      | AND levenshtein(a.c_name, b.c_name) <= 2
      |WHERE a.c_custkey % 3 = 0 AND b.c_custkey % 3 = 0
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q76: edit-distance fuzzy self-join (FastSS) -------------------

  /** Customer names at Levenshtein distance ≤ 1 — record linkage via
    * [[graft.dedup.EditDistanceJoin]]'s deletion-neighborhood index
    * (O(n·L) candidates, never the O(n²) pair scan the brute-force
    * oracle runs). The digit-dense `Customer#%09d` names make a dense
    * truth set: every pair of numbers differing in one digit. */
  def fuzzyNameJoin(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.EditDistanceJoin
      .selfJoinEd1(table(spark, dir, "customer"), "c_custkey", "c_name")
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .orderBy("id_a", "id_b")

  val fuzzyNameJoinSql: String =
    """SELECT a.c_custkey::BIGINT AS id_a, b.c_custkey::BIGINT AS id_b
      |FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      | AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q77: repetition signals (Gopher-style quality filters) --------

  /** A doc is "repetitive" when its top word exceeds 12% of all words
    * — compared in exact integer arithmetic (25·T > 3·W) so the flag
    * can never straddle a float rounding seam cross-engine. */
  val RepTopWordNum = 25; val RepTopWordDen = 3

  /** Per-language repetition profile of the corpus — the Gopher-class
    * quality signals (Rae et al. 2021 §A1.1: duplicate-word fraction,
    * top-word fraction, top-bigram fraction) that catch boilerplate
    * and degenerate generations before training. Word stats are one
    * explode + two aggregations; bigrams ride an exploded position
    * sequence with `element_at` (pure codegen — no HOF lambda, no
    * UDF). Docs with one word carry zero bigrams via the left join.
    * At 100 TB this composes into the q58 quality→mix pass: all
    * signals are per-doc aggregates of one tokenization. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val wc = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("c"))
    val ws = wc.groupBy("doc_id", "lang").agg(
      sum("c").as("W"), count(lit(1)).as("D"), max("c").as("T"))
    val bg = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("d"), col("w"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("w"), col("d")),
        element_at(col("w"), col("d") + 1)).as("bigram"))
    val bs = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("NB"), max("c").as("TB"))
    ws.join(bs, Seq("doc_id"), "left").na.fill(0L, Seq("NB", "TB"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        r6(avg((col("W") - col("D")).cast("double") / col("W")))
          .as("dup_word_frac"),
        r6(avg(col("T").cast("double") / col("W"))).as("top_word_frac"),
        r6(avg(when(col("NB") === 0, lit(0d))
          .otherwise(col("TB").cast("double") / col("NB"))))
          .as("top_bigram_frac"),
        sum(when(col("T") * RepTopWordNum > col("W") * RepTopWordDen, 1L)
          .otherwise(0L)).as("n_repetitive"))
      .orderBy("lang")
  }

  val repetitionSignalsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
       |), wc AS (
       |  SELECT doc_id, lang, unnest(w) AS word FROM t
       |), wcc AS (
       |  SELECT doc_id, lang, word, count(*) AS c FROM wc GROUP BY 1, 2, 3
       |), ws AS (
       |  SELECT doc_id, lang, sum(c) AS W, count(*) AS D, max(c) AS T
       |  FROM wcc GROUP BY 1, 2
       |), bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(w)),
       |      i -> w[i] || ' ' || w[i + 1])) AS bigram
       |  FROM t
       |), bcc AS (
       |  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
       |), bs AS (
       |  SELECT doc_id, sum(c) AS NB, max(c) AS TB FROM bcc GROUP BY 1
       |)
       |SELECT lang,
       |  count(*)::BIGINT AS n_docs,
       |  round(avg((W - D)::DOUBLE / W), 6) AS dup_word_frac,
       |  round(avg(T::DOUBLE / W), 6) AS top_word_frac,
       |  round(avg(CASE WHEN coalesce(NB, 0) = 0 THEN 0.0
       |    ELSE coalesce(TB, 0)::DOUBLE / NB END), 6) AS top_bigram_frac,
       |  sum(CASE WHEN T * $RepTopWordNum > W * $RepTopWordDen
       |    THEN 1 ELSE 0 END)::BIGINT AS n_repetitive
       |FROM ws LEFT JOIN bs USING (doc_id)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---- q78: equi-depth histogram (ExactQuantile reuse) ---------------

  val EquiDepthBuckets = 10

  /** Equi-depth (equal-count) histogram of event values: decile
    * boundaries from the bounded-memory [[graft.operators.ExactQuantile]]
    * (the q65 plan — never `percentile`'s O(rows) buffer, never a
    * global `ntile` sort), then bucket assignment as a pure codegen
    * when-chain over the boundary literals and one aggregation.
    * Equi-WIDTH histograms (q23/q33) mislead on skewed data — the
    * optimizer/monitoring shape at 100 TB is equi-depth, and this is
    * its scale-true construction: boundaries cost a handful of
    * counter-bounded scans, assignment is one more.
    *
    * Boundaries are rounded to 6 decimals on BOTH engines before the
    * compare (the q65 gate proves the rounded quantiles agree), so
    * bucket membership can never straddle an interpolation ulp. */
  def equiDepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val ps = (1 until EquiDepthBuckets).map(_.toDouble / EquiDepthBuckets)
    val qs = graft.operators.ExactQuantile.quantiles(ev, "value", ps)
      .map(q => BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bucket = qs.foldLeft(lit(1)) { (acc, t) =>
      acc + when(col("value") > lit(t), 1).otherwise(0)
    }
    ev.groupBy(bucket.cast("long").as("bucket")).agg(
        count(lit(1)).as("n_rows"),
        r6(min(col("value"))).as("min_v"),
        r6(max(col("value"))).as("max_v"),
        moneySum(col("value")).as("sum_value"))
      .orderBy("bucket")
  }

  val equiDepthHistogramSql: String = {
    val ps = (1 until EquiDepthBuckets)
      .map(i => (i.toDouble / EquiDepthBuckets).toString).mkString(",")
    s"""WITH b AS (
       |  SELECT list_transform(quantile_cont(value, [$ps]),
       |    t -> round(t, 6)) AS qs
       |  FROM events
       |)
       |SELECT (1 + list_sum(list_transform(b.qs,
       |    t -> CASE WHEN e.value > t THEN 1 ELSE 0 END)))::BIGINT AS bucket,
       |  count(*)::BIGINT AS n_rows,
       |  round(min(e.value), 6) AS min_v,
       |  round(max(e.value), 6) AS max_v,
       |  ${moneySumSql("e.value")} AS sum_value
       |FROM events e CROSS JOIN b
       |GROUP BY 1
       |ORDER BY bucket""".stripMargin
  }

  // ---- q71: deterministic training order (epoch shuffle) -------------

  val ShuffleEpoch = 1
  val ShuffleHead = 200

  /** The first [[ShuffleHead]] documents of epoch-[[ShuffleEpoch]]
    * training order ([[graft.operators.Sampling.shuffleKey]]) — the
    * reproducible corpus shuffle every SGD data loader needs. The
    * ORDER ITSELF is the deliverable and the gate: the driver compares
    * rows in sequence, so any permutation drift between engines fails
    * the hash. The sort+limit plans as TakeOrderedAndProject
    * (distributed partial top-K), not a global sort. */
  def trainingOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        graft.operators.Sampling.shuffleKey(col("doc_id"), ShuffleEpoch)
          .as("shuffle_key"))
      .orderBy("shuffle_key")
      .limit(ShuffleHead)
  }

  val trainingOrderSql: String =
    s"""SELECT doc_id, lang, n_chars,
       |  md5(doc_id::VARCHAR || ':epoch:$ShuffleEpoch') AS shuffle_key
       |FROM documents
       |ORDER BY shuffle_key
       |LIMIT $ShuffleHead""".stripMargin

  val labelCentroidsSql: String = {
    val coords = (1 to CentroidDims)
      .map(k => s"round(avg(embedding[$k]::DOUBLE), 6) AS c$k").mkString(",\n  ")
    s"""SELECT label, count(*)::BIGINT AS n_vecs,
       |  $coords
       |FROM embeddings
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  // ---- q250: silhouette audit of the label clustering ------------------

  /** Is the label partition of embedding space COHERENT? — simplified
    * (centroid-based) silhouette, the standard clustering-quality
    * number: per vector, `s = (b − a)/max(a, b)` where `a` is the
    * squared distance to its OWN label centroid and `b` the minimum
    * over other labels' centroids; s < 0 means the vector sits closer
    * to a foreign centroid (misassigned). q54 publishes the centroids;
    * this grades them. The true silhouette needs all O(n²) pair
    * distances — the centroid form is the documented scalable variant
    * (O(n·L)) and the one sklearn users mean by "fast silhouette".
    *
    * Exactness discipline: coordinates are quantized ONCE to integer
    * micro-units (`floor(x·10⁶)` — float→double is exact, one IEEE
    * multiply, identical in both engines); centroids are
    * sign-peel-truncated integer means (the q239 convention), squared
    * distances exact int64 sums (|x| < 1 ⇒ per-dim (2·10⁶)², ×64 dims
    * ≈ 2.6·10¹¹ per vector-centroid pair), and s a floor per-mille
    * with the sign peeled — `max(a,b)` is `b` exactly when `s ≥ 0`.
    *
    * Scale shape: dimension-long explode (n·d rows, map-side combine)
    * → L·d centroid table (broadcast) → per-vector distances to L
    * centroids in one pass; per-label aggregate out. No O(n²)
    * anywhere. */
  def silhouetteAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        floor(col("x").cast("double") * lit(1e6)).cast("long").as("xm"))
    val cent = v.groupBy(col("label").as("label_c"), col("i"))
      .agg(sum("xm").as("sm"), count(lit(1)).as("nl"))
      .select(col("label_c"), col("i"),
        expr("""CASE WHEN sm >= 0 THEN sm div nl
                ELSE -((-sm) div nl) END""").as("cm"))
    val d2 = v.join(broadcast(cent), Seq("i"))
      .groupBy("vec_id", "label", "label_c")
      .agg(sum((col("xm") - col("cm")) * (col("xm") - col("cm"))).as("d2"))
    val ab = d2.groupBy("vec_id", "label").agg(
      max(when(col("label_c") === col("label"), col("d2"))).as("a"),
      min(when(col("label_c") =!= col("label"), col("d2"))).as("b"))
    val s = ab.select(col("label"),
      expr("""CASE WHEN b >= a THEN (1000 * (b - a)) div greatest(b, 1)
              ELSE -((1000 * (a - b)) div greatest(a, 1)) END""").as("sp"))
    s.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("sp").as("ssum"),
        sum(when(col("sp") < 0, 1L).otherwise(0L)).as("n_misassigned"))
      .select(col("label"), col("n_vecs"),
        expr("""CASE WHEN ssum >= 0 THEN ssum div n_vecs
                ELSE -((-ssum) div n_vecs) END""")
          .as("mean_silhouette_permille"),
        col("n_misassigned"))
      .orderBy("label")
  }

  val silhouetteAuditSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, label, i,
       |    floor(embedding[i]::DOUBLE * 1e6)::BIGINT AS xm
       |  FROM embeddings,
       |    unnest(generate_series(1, len(embedding))) AS s(i)),
       |cent AS (
       |  SELECT label AS label_c, i,
       |    (CASE WHEN sum(xm) >= 0 THEN sum(xm) // count(*)
       |          ELSE -((-sum(xm)) // count(*)) END)::BIGINT AS cm
       |  FROM v GROUP BY 1, 2),
       |d AS (
       |  SELECT v.vec_id, v.label, cent.label_c,
       |    sum((v.xm - cent.cm) * (v.xm - cent.cm))::BIGINT AS d2
       |  FROM v JOIN cent USING (i) GROUP BY 1, 2, 3),
       |ab AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN label_c = label THEN d2 END)::BIGINT AS a,
       |    min(CASE WHEN label_c <> label THEN d2 END)::BIGINT AS b
       |  FROM d GROUP BY 1, 2),
       |s AS (
       |  SELECT label,
       |    (CASE WHEN b >= a THEN (1000 * (b - a)) // greatest(b, 1)
       |          ELSE -((1000 * (a - b)) // greatest(a, 1)) END)::BIGINT AS sp
       |  FROM ab)
       |SELECT label, count(*)::BIGINT AS n_vecs,
       |  (CASE WHEN sum(sp) >= 0 THEN sum(sp) // count(*)
       |        ELSE -((-sum(sp)) // count(*)) END)::BIGINT
       |    AS mean_silhouette_permille,
       |  sum(CASE WHEN sp < 0 THEN 1 ELSE 0 END)::BIGINT AS n_misassigned
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q103: count-min-sketch point-frequency estimates --------------

  val CmsEps = 0.002   // est ≤ exact + eps·N with prob ≥ CmsConf
  val CmsConf = 0.99
  val CmsSeed = 42
  val CmsProbes = 12

  /** Point-frequency estimation from a mergeable count-min sketch
    * (Cormode & Muthukrishnan 2005, Spark's built-in
    * `count_min_sketch` aggregate): ONE map-side-combined aggregate
    * reduces the events stream to a ~KB-sized counter grid; any key's
    * frequency is then answerable without ever materializing the
    * per-user groupBy table. At [[CmsEps]] the width (~1000 counters)
    * is BELOW the distinct-user count, so collisions are real and the
    * estimate genuinely approximate.
    *
    * Gate shape (the q22/q48 convention): per probe key, the exact
    * count rides the row and the sketch's guarantee rides a boolean —
    * `exact ≤ est ≤ exact + eps·N` (CMS never underestimates; the
    * oracle pins the boolean TRUE). The probe set is the
    * [[CmsProbes]] smallest distinct user ids — deterministic in both
    * engines. The spec additionally pins mergeability: per-day
    * sketches union into the same estimates as the global sketch. */
  def cmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val skBytes = ev.agg(count_min_sketch(col("user_id"),
        lit(CmsEps), lit(CmsConf), lit(CmsSeed)).as("sk"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val bound = math.ceil(CmsEps * cms.totalCount()).toLong

    val probes = ev.select("user_id").distinct()
      .orderBy("user_id").limit(CmsProbes).collect().map(_.getLong(0))
    val est = probes.map(u => u -> cms.estimateCount(u)).toMap
    val estDf = spark.createDataFrame(
      probes.toSeq.map(u => (u, est(u)))).toDF("user_id", "est")

    ev.join(broadcast(estDf), Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), first(col("est")).as("e"))
      .select(col("user_id"), col("n_events"),
        (col("e") >= col("n_events") &&
          col("e") <= col("n_events") + lit(bound)).as("est_ok"))
      .orderBy("user_id")
  }

  val cmsFreqSql: String =
    s"""WITH p AS (
       |  SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT $CmsProbes)
       |SELECT e.user_id, count(*)::BIGINT AS n_events, TRUE AS est_ok
       |FROM events e JOIN p USING (user_id)
       |GROUP BY e.user_id
       |ORDER BY e.user_id""".stripMargin

  // ---- q322: AMS tug-of-war second-moment sketch ----------------------

  /** Sketch rows. Median-of-16 gives the classic (ε, δ) trade; kept
    * REPRODUCIBLY odd-free so the integer lower-mid/upper-mid average
    * is the documented median convention. */
  val AmsRows = 16

  /** The second frequency moment F₂ = Σ_k c_k² — the self-join size
    * of the key (q112's question) and the repeat-concentration of a
    * corpus — estimated by the Alon-Matias-Szegedy tug-of-war sketch
    * (AMS 1996): per sketch row r, every occurrence of key k adds
    * sign_r(k) ∈ {−1, +1} to ONE counter; E[S_r²] = F₂ exactly, and
    * the median of [[AmsRows]] squares concentrates. State is 16
    * longs TOTAL, vs the per-key table exact F₂ needs — the whole
    * point at an unbounded key domain.
    *
    * Determinism: sign_r(k) is the parity of the first hex digit of
    * `md5(k || ':ams:' || r)` — the engine-shared hash family every
    * deterministic sampler here uses (q43/q106); no RNG state. The
    * median of 16 squares is `(s₈ + s₉) div 2` on the sorted order —
    * a pinned convention, not an engine's quantile choice. The exact
    * F₂ rides the output row with the relative error in permille —
    * the accuracy claim made hash-checkable (q22/q59/q103
    * convention).
    *
    * Scale shape: the ×[[AmsRows]] explode feeds a 16-GROUP map-side-
    * combined aggregate (each partition emits 16 partial sums — the
    * textbook mergeable-sketch shape); the exact side is one
    * per-key count (gate-only — at 100 TB one ships the estimate).
    * No collect beyond the 16-row sketch. */
  def amsF2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, dir, "orders")
    val rs = (1 to AmsRows).map(lit(_))
    val signs = ev.select(col("o_custkey"),
        explode(array(rs: _*)).as("r"))
      .withColumn("sign", when(
        expr("instr('13579bdf', substring(md5(concat(" +
          "cast(o_custkey as string), ':ams:', cast(r as string))), 1, 1)) > 0"),
        lit(1L)).otherwise(lit(-1L)))
      .groupBy("r").agg(sum("sign").as("s"))
      .withColumn("s2", col("s") * col("s"))
    val w = Window.orderBy("s2", "r")
    val med = signs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === AmsRows / 2 || col("rn") === AmsRows / 2 + 1)
      .agg(expr("sum(s2) div 2").as("est_f2"))
    val exact = ev.groupBy("o_custkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
    med.crossJoin(exact)
      .select(lit(AmsRows.toLong).as("sketch_rows"),
        col("est_f2"), col("exact_f2"),
        expr("(1000 * abs(est_f2 - exact_f2)) div exact_f2").as("err_pm"))
  }

  val amsF2Sql: String =
    s"""WITH signs AS (
       |  SELECT r, sum(CASE WHEN strpos('13579bdf', substring(
       |      md5(o_custkey::VARCHAR || ':ams:' || r::VARCHAR), 1, 1)) > 0
       |    THEN 1 ELSE -1 END)::BIGINT AS s
       |  FROM orders CROSS JOIN (
       |    SELECT unnest(range(1, ${AmsRows + 1}))::BIGINT AS r)
       |  GROUP BY r),
       |sq AS (
       |  SELECT s * s AS s2, row_number() OVER (ORDER BY s * s, r) AS rn
       |  FROM signs),
       |med AS (
       |  SELECT (sum(s2) // 2)::BIGINT AS est_f2 FROM sq
       |  WHERE rn IN (${AmsRows / 2}, ${AmsRows / 2 + 1})),
       |exact AS (
       |  SELECT sum(c * c)::BIGINT AS exact_f2 FROM (
       |    SELECT count(*)::BIGINT AS c FROM orders GROUP BY o_custkey))
       |SELECT ${AmsRows}::BIGINT AS sketch_rows, est_f2, exact_f2,
       |  ((1000 * abs(est_f2 - exact_f2)) // exact_f2)::BIGINT AS err_pm
       |FROM med CROSS JOIN exact""".stripMargin

  // ---- q106: temperature-based mixture sampling (alpha = 0.5) --------

  /** Target corpus fraction after resampling. */
  val TempBudgetDen = 2 // Budget = 1/2

  /** Temperature-based language rebalancing — the multilingual
    * pretraining sampler (mT5/UniMax lineage): sample language `l`
    * with probability ∝ n_l^α (α = 0.5), so dominant languages are
    * downweighted and tail languages upweighted relative to natural
    * frequency, at a total budget of 1/[[TempBudgetDen]] of the
    * corpus.
    *
    * Engine-exactness: the weight is the INTEGER sqrt
    * (`floor(sqrt(n_l))` — `sqrt` is IEEE-correctly-rounded in both
    * engines and never floors across an integer except at perfect
    * squares, where it is exact), so the per-language threshold
    * `min(65536, (65536·N·w_l) div (TempBudgetDen·S·n_l))` with
    * `S = Σ w` is PURE integer arithmetic — no float ever crosses an
    * engine boundary. Selection reuses the 16-bit md5 bucket of
    * [[graft.operators.Sampling]], with the threshold rendered to the
    * same 4-hex-digit string in-engine (`format_string`/`printf`
    * '%04x'). One count aggregate + one broadcast of ≤|langs| rows +
    * one filtered scan — the corpus never reshuffles. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val counts = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
    val tot = counts.agg(sum("n_docs"), sum("w")).head
    val (n, s) = (tot.getLong(0), tot.getLong(1))
    val thr = least(lit(65536L),
      expr(s"(65536 * ${n}L * w) div ($TempBudgetDen * ${s}L * n_docs)"))
    val withThr = counts.withColumn("thr", thr)
      .withColumn("thr_hex", when(col("thr") >= 65536L, lit("g000"))
        .otherwise(format_string("%04x", col("thr"))))
    docs.join(broadcast(withThr), Seq("lang"))
      .withColumn("sampled",
        graft.operators.Sampling.bucket(col("doc_id"), "temp") < col("thr_hex"))
      .groupBy("lang")
      .agg(
        first(col("n_docs")).as("n_docs"),
        first(col("w")).as("w"),
        first(col("thr")).as("thr"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("doc_id")).otherwise(0L)).as("id_checksum"))
      .orderBy("lang")
  }

  val temperatureMixSql: String =
    s"""WITH c AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    floor(sqrt(count(*)))::BIGINT AS w
       |  FROM documents GROUP BY lang),
       |t AS (SELECT sum(n_docs)::BIGINT AS n, sum(w)::BIGINT AS s FROM c),
       |r AS (
       |  SELECT lang, n_docs, w,
       |    least(65536, (65536 * t.n * w) // ($TempBudgetDen * t.s * n_docs))
       |      ::BIGINT AS thr
       |  FROM c, t),
       |d AS (
       |  SELECT d.lang, d.doc_id, r.n_docs, r.w, r.thr,
       |    substr(md5(d.doc_id::VARCHAR || ':temp'), 1, 4) <
       |      (CASE WHEN r.thr >= 65536 THEN 'g000'
       |            ELSE printf('%04x', r.thr) END) AS sampled
       |  FROM documents d JOIN r USING (lang))
       |SELECT lang, any_value(n_docs) AS n_docs, any_value(w) AS w,
       |  any_value(thr) AS thr,
       |  sum(CASE WHEN sampled THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
       |  sum(CASE WHEN sampled THEN doc_id ELSE 0 END)::BIGINT AS id_checksum
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q112: sketch-based join-size estimation -----------------------

  /** Sketch depth / width. Width 1024 puts real collision mass in the
    * estimate (150–1500 distinct users share 1024 buckets) while the
    * ε = e/w ≈ 0.27% bound still holds with room. */
  val JszDepth = 3
  val JszWidth = 1024L

  /** Will this self-join explode? — join-output-cardinality estimation
    * from count-min sketches (Cormode & Muthukrishnan 2005 §4.2: the
    * inner product of two CMS rows over-estimates the true join size,
    * and the min over rows is within ε·N₁·N₂ w.h.p.). The planner-side
    * question it answers at 100 TB: predict `|events ⋈ events ON
    * user_id|` — the shuffle-explosion number — from two KB-scale
    * sketches WITHOUT running the join or building the per-key
    * distribution. The sketch grid is hand-rolled (md5-derived bucket
    * per depth row) so the identical grid is expressible in the SQL
    * oracle; per (row, bucket) counts collapse map-side, the estimate
    * is `min_i Σ_b cnt_i(b)²`, and the exact answer (for the gate
    * only) is `Σ_u n_u²` from one user-keyed aggregate. All integer;
    * `overestimates` (CMS inner products never under-estimate) and
    * `within_bound` (min row ≤ exact + ε·N²) ride as pinned booleans;
    * `err_pm` records the real measured overestimate. */
  def joinSizeSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events").select("user_id")
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * n")).as("exact_pairs"),
        count(lit(1)).as("n_users"), sum("n").as("n_events"))
    def bucket(i: Int) =
      expr(s"conv(substring(md5(concat(cast(user_id as string), ':jsz$i')), 1, 4), 16, 10)")
        .cast("long") % JszWidth
    val est = ev
      .select((0 until JszDepth).map(i => bucket(i).as(s"b$i")) : _*)
      .select(expr(s"stack($JszDepth, ${(0 until JszDepth)
        .map(i => s"$i, b$i").mkString(", ")})"))
      .toDF("i", "b")
      .groupBy("i", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("i").agg(sum(expr("cnt * cnt")).as("est"))
      .agg(min("est").as("est_pairs"))
    exact.crossJoin(est)
      .select(col("n_events"), col("n_users"), col("exact_pairs"),
        col("est_pairs"),
        (col("est_pairs") >= col("exact_pairs")).as("overestimates"),
        // ε = e/w with the e≈2.7183 numerator in exact integer form
        // (27183 div 10000): bound = exact + eps·N²
        (col("est_pairs") <= col("exact_pairs") +
          expr(s"(27183 * n_events * n_events) div (10000 * $JszWidth)"))
          .as("within_bound"),
        expr("(1000 * (est_pairs - exact_pairs)) div exact_pairs").as("err_pm"))
  }

  val joinSizeSketchSql: String = {
    val rows = (0 until JszDepth).map(i =>
      s"""SELECT $i AS i,
         |  ('0x' || substr(md5(user_id::VARCHAR || ':jsz$i'), 1, 4))::BIGINT
         |    % $JszWidth AS b
         |FROM events""".stripMargin).mkString("\nUNION ALL ")
    s"""WITH ex AS (
       |  SELECT sum(n * n)::BIGINT AS exact_pairs, count(*)::BIGINT AS n_users,
       |    sum(n)::BIGINT AS n_events
       |  FROM (SELECT count(*)::BIGINT AS n FROM events GROUP BY user_id)),
       |g AS ($rows),
       |c AS (SELECT i, b, count(*)::BIGINT AS cnt FROM g GROUP BY i, b),
       |e AS (SELECT min(est)::BIGINT AS est_pairs FROM
       |  (SELECT i, sum(cnt * cnt)::BIGINT AS est FROM c GROUP BY i))
       |SELECT n_events, n_users, exact_pairs, est_pairs,
       |  est_pairs >= exact_pairs AS overestimates,
       |  est_pairs <= exact_pairs
       |    + (27183 * n_events * n_events) // (10000 * $JszWidth)
       |    AS within_bound,
       |  ((1000 * (est_pairs - exact_pairs)) // exact_pairs)::BIGINT AS err_pm
       |FROM ex CROSS JOIN e""".stripMargin
  }

  // ---- q115: Misra-Gries heavy hitters -------------------------------

  /** Counter budget. N/16 puts the threshold between the hot keys and
    * the long tail of [[mgKey]] at every SF. */
  val MgK = 16

  /** Deterministic power-law key over events: 70% of rows land on the
    * 5 event types, the rest spread over per-user subkeys — the
    * hot-domain/long-tail shape a crawl shard shows (the corpus itself
    * is uniform everywhere, so the skew is synthesized, q90-style). */
  def mgKey = when(col("user_id") % 10 < 7, col("event_type"))
    .otherwise(concat(col("event_type"), lit(":"), col("user_id")))
  def mgKeySql: String =
    "CASE WHEN user_id % 10 < 7 THEN event_type " +
      "ELSE event_type || ':' || user_id::VARCHAR END"

  /** Heavy hitters over the skewed key via
    * [[graft.operators.MisraGries]] — ONE pass builds the ≤[[MgK]]-
    * counter summary (mergeable map-side, driver-sized result), whose
    * guarantee "contains every key with count > N/k, each count within
    * N/k of truth" the gate then pins: the output rows are the TRUE
    * heavy hitters (candidates ∩ exact counts > N/k — deterministic
    * even though near-threshold candidate membership is merge-order-
    * dependent), `in_candidates` and `mg_within_bound` ride as pinned
    * TRUE booleans. The exact-count side exists for the gate; a
    * production use reads the summary alone. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MisraGries
    import spark.implicits._
    val keyed = table(spark, dir, "events").select(mgKey.as("hkey"))
    val cands = MisraGries.candidates(keyed, "hkey", MgK)
    heavyHitterGate(keyed, cands.toSeq.toDF("hkey", "mg_count"))
  }

  /** q115/q118's gate tail: the TRUE heavy hitters of `keyed.hkey`
    * (exact count > N/[[MgK]]) left-joined to the summary's
    * `(hkey, mg_count)` candidates, with the ⊇ guarantee and the
    * count error band pinned as booleans. */
  private def heavyHitterGate(keyed: DataFrame, cands: DataFrame): DataFrame = {
    val n = keyed.count()
    val thr = n / MgK
    keyed.groupBy("hkey").agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > thr)
      .join(broadcast(cands), Seq("hkey"), "left")
      .select(col("hkey"), col("n_events"),
        lit(n).as("n_total"), lit(thr).as("threshold"),
        col("mg_count").isNotNull.as("in_candidates"),
        (col("mg_count").isNotNull &&
          col("mg_count") >= col("n_events") - thr &&
          col("mg_count") <= col("n_events")).as("mg_within_bound"))
      .drop("mg_count")
      .orderBy("hkey")
  }

  val heavyHittersSql: String =
    s"""WITH k AS (SELECT $mgKeySql AS hkey FROM events),
       |t AS (SELECT count(*)::BIGINT AS n FROM k)
       |SELECT hkey, count(*)::BIGINT AS n_events,
       |  t.n AS n_total, (t.n // $MgK)::BIGINT AS threshold,
       |  TRUE AS in_candidates, TRUE AS mg_within_bound
       |FROM k CROSS JOIN t
       |GROUP BY hkey, t.n
       |HAVING count(*) > t.n // $MgK
       |ORDER BY hkey""".stripMargin

  // ---- q118: streaming heavy hitters ---------------------------------

  /** q115's Misra-Gries summary computed as STRUCTURED-STREAMING state:
    * the Space-Saving aggregate behind [[graft.operators.MisraGries]]
    * rides a global streaming aggregate (complete mode, AvailableNow),
    * so per-stream state is the ≤[[MgK]]-counter summary itself —
    * never the per-key count table a naive streaming groupBy would
    * hold, which is the whole point when keys are unbounded (the q97
    * "state = the report" pattern, with a custom mergeable sketch
    * instead of built-in sums). The gate is q115's:
    * the sketch's deterministic guarantees pinned against batch exact
    * counts, so the stream and batch paths must agree exactly. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
      import graft.operators.MisraGries
      val summary = streamParquet(spark, s"$dir/events.parquet")
        .select(MisraGries.entries(mgKey, MgK).as("cands"))
      val cands = drain(summary, "stream_mg_result", "complete")
        .select(explode(col("cands")).as("e"))
        .select(col("e.hkey").as("hkey"), col("e.mg_count").as("mg_count"))
      heavyHitterGate(
        table(spark, dir, "events").select(mgKey.as("hkey")), cands)
    }

  /** Identical oracle to q115 — stream state must reproduce the same
    * deterministic heavy set and guarantees. */
  val streamHeavyHittersSql: String = heavyHittersSql

  // ---- q148: embedding covariance (PCA/whitening prep) ----------------

  /** Quantization for covariance sums: `floor(x·10⁴)` keeps every
    * component in ±~10⁴, so the worst term `n·Σq₁q₂` stays far under
    * 2⁶³ even at 100× the bench corpus (magnitude ≈ n²·10⁸); floor —
    * not round — because floor of a double is engine-unambiguous. */
  val CovQuant = 10000d

  /** The d×d covariance matrix of the embedding corpus — the input to
    * PCA whitening (the preprocessing step semantic-dedup and
    * compression pipelines run before clustering, cf. SemDeDup) and
    * the dimension-health audit (a dead dimension shows as a zero
    * variance row). Everything is EXACT integer arithmetic on
    * [[CovQuant]]-quantized components: the gate emits the raw
    * integer numerator `n·Σq₁q₂ − Σq₁·Σq₂` (= n²·cov) per (d1 ≤ d2)
    * pair — no float ever crosses the engine boundary.
    *
    * Scale shape: one explode to (vec, dim, q) — d=64 is a FIXED
    * fanout — then the pair sums come from a self-join co-partitioned
    * on vec_id (one exchange per side, map-side-combined aggregate:
    * work = n·d²/2, linear in the corpus) and the per-dim sums join
    * back as a broadcast (d rows — bounded by the model, not the
    * corpus, so the hint is safe at any scale). */
  def embCovariance(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        floor(col("x").cast("double") * lit(CovQuant)).cast("long").as("q"))
    val s = e.groupBy("d").agg(sum("q").as("sq"))
    val p = e.as("a").join(e.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.d") <= col("b.d"))
      .groupBy(col("a.d").as("d1"), col("b.d").as("d2"))
      .agg(count(lit(1)).as("n"), sum(expr("a.q * b.q")).as("s12"))
    p.join(broadcast(s.select(col("d").as("d1"), col("sq").as("sq1"))), "d1")
      .join(broadcast(s.select(col("d").as("d2"), col("sq").as("sq2"))), "d2")
      .select(col("d1"), col("d2"), col("n"),
        expr("n * s12 - sq1 * sq2").as("cov_num"))
      .orderBy("d1", "d2")
  }

  val embCovarianceSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, (i - 1)::BIGINT AS d,
       |    floor(embedding[i]::DOUBLE * $CovQuant)::BIGINT AS q
       |  FROM e0),
       |s AS (SELECT d, sum(q)::BIGINT AS sq FROM e GROUP BY d),
       |p AS (
       |  SELECT a.d AS d1, b.d AS d2, count(*)::BIGINT AS n,
       |    sum(a.q * b.q)::BIGINT AS s12
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2)
       |SELECT d1, d2, p.n, (p.n * s12 - s1.sq * s2.sq)::BIGINT AS cov_num
       |FROM p JOIN s s1 ON s1.d = p.d1 JOIN s s2 ON s2.d = p.d2
       |ORDER BY d1, d2""".stripMargin

  // ---- q149: PCA first component (integer power iteration) -----------

  /** Power-iteration rounds — enough for a clear dominant direction on
    * this spectrum; the gate claim is deterministic equality of the
    * ITERATE, not an eigen-residual bound. */
  val PcaIters = 16

  /** The leading principal component of the embedding corpus by POWER
    * ITERATION in exact integer arithmetic — the PageRank quantization
    * trick applied to PCA: the q148 covariance numerators (pre-scaled
    * `div 10⁶` so a matrix-vector product stays far inside int64) are
    * MODEL-BOUNDED d×d driver state; each round computes `w = C·v`
    * exactly and renormalizes to max-component ±10⁶ via
    * `(w·1000) div max(1, max|w| div 1000)` — every step truncating
    * integer division, bit-identical in any engine (DivSemanticsSpec
    * pins the negative-operand agreement, which matters: eigenvector
    * components go negative). Output: the final direction (d, v_q)
    * plus its Rayleigh-quotient share of total variance in per-mille
    * (`dominance_pm`) — the "how much does one axis explain" health
    * number that decides whether whitening is worth running.
    *
    * Scale shape: the corpus-scale work IS q148 (one scan + one
    * self-join aggregate); the iteration runs on d² longs. The oracle
    * replays all [[PcaIters]] rounds as generated SQL CTEs (the
    * PageRank.iterationSql pattern) on top of q148's oracle CTEs. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val tri = embCovariance(spark, dir).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(3)))
    val d = tri.map(_._1._2).max + 1
    val c = Array.ofDim[Long](d, d)
    tri.foreach { case ((i, j), num) =>
      val s = num / 1000000L // truncating div == DuckDB `//` (DivSemanticsSpec)
      c(i)(j) = s; c(j)(i) = s
    }
    var v = Array.fill(d)(1000000L)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(math.abs).max
      v = w.map(x => (x * 1000L) / math.max(1L, m / 1000L))
    }
    val v3 = v.map(_ / 1000L)
    val inner = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v3(j)).sum)
    val lamNum = (0 until d).map(i => v3(i) * inner(i)).sum
    val lamDen = v3.map(x => x * x).sum
    val trace = (0 until d).map(i => c(i)(i)).sum
    val dom = (1000L * (lamNum / math.max(1L, lamDen))) / math.max(1L, trace)
    import spark.implicits._
    v.zipWithIndex.map { case (vq, i) => (i.toLong, vq, dom) }.toSeq
      .toDF("d", "v_q", "dominance_pm")
      .orderBy("d")
  }

  val pcaPowerSql: String = {
    // one round: w{t} = C'·v{t-1}; v{t} = (w·1000) // max(1, max|w|//1000)
    def iter(t: Int): String =
      s"""w$t AS MATERIALIZED (
         |  SELECT c.d1 AS d, sum(c.c * v${t - 1}.v)::BIGINT AS w
         |  FROM cfull c JOIN v${t - 1} ON v${t - 1}.d = c.d2 GROUP BY 1),
         |m$t AS (SELECT greatest(1, max(abs(w)) // 1000)::BIGINT AS m FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT d, ((w * 1000) // m)::BIGINT AS v FROM w$t CROSS JOIN m$t)"""
        .stripMargin
    val covBody = embCovarianceSql
      .stripPrefix("WITH ").split("\nSELECT d1, d2,")(0)
    val iters = (1 to PcaIters).map(iter).mkString(",\n")
    s"""WITH $covBody,
       |cn AS MATERIALIZED (
       |  SELECT d1, d2, ((p.n * s12 - s1.sq * s2.sq) // 1000000)::BIGINT AS c
       |  FROM p JOIN s s1 ON s1.d = p.d1 JOIN s s2 ON s2.d = p.d2),
       |cfull AS MATERIALIZED (
       |  SELECT d1, d2, c FROM cn
       |  UNION ALL SELECT d2, d1, c FROM cn WHERE d1 <> d2),
       |v0 AS (SELECT DISTINCT d1 AS d, 1000000::BIGINT AS v FROM cfull),
       |$iters,
       |vf AS (SELECT d, (v // 1000)::BIGINT AS v3 FROM v$PcaIters),
       |inn AS (
       |  SELECT c.d1 AS d, sum(c.c * vf.v3)::BIGINT AS i FROM cfull c
       |  JOIN vf ON vf.d = c.d2 GROUP BY 1),
       |lam AS (
       |  SELECT (sum(vf.v3 * inn.i) // greatest(1, (SELECT sum(v3 * v3) FROM vf)))::BIGINT AS l
       |  FROM vf JOIN inn ON vf.d = inn.d),
       |tr AS (SELECT sum(c)::BIGINT AS t FROM cn WHERE d1 = d2),
       |dom AS (SELECT ((1000 * lam.l) // greatest(1, tr.t))::BIGINT AS dom
       |        FROM lam CROSS JOIN tr)
       |SELECT v.d, v.v AS v_q, dom.dom AS dominance_pm
       |FROM v$PcaIters v CROSS JOIN dom
       |ORDER BY v.d""".stripMargin
  }

  // ---- q165: multi-touch attribution (exact value split) --------------

  /** Linear multi-touch revenue attribution over the q42 window — the
    * marketing-analytics allocation that must CONSERVE money exactly:
    * each purchase's cents split equally across the same user's clicks
    * in the preceding 24 h, integer `div` share per click with the
    * REMAINDER assigned to the earliest click ((ts, event_id) total
    * order), so Σ attributed + unattributed ≡ Σ purchase cents to the
    * cent — floats would leak fractions, pro-rata rounding would leak
    * cents; the oracle equality IS the conservation proof. Clicks roll
    * up by hour-of-day (the "channel" axis of this fixture); purchases
    * with no window click land in channel −1 (unattributed) at full
    * value.
    *
    * Scale shape: candidate pairs ride the q42 banded equi-join (never
    * a nested loop); the per-purchase fan-in (count + earliest click)
    * and the share join are both keyed by purchase id — co-partitioned
    * hash joins, payload never duplicated; the channel rollup is a
    * 25-row aggregate. */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts"),
        col("event_id").as("p_id"),
        floor(col("value") * lit(100d)).cast("long").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"),
        col("event_id").as("c_id"))
    val pairs = RangeJoin.bucketedInner(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user",
        leftTs = "p_ts", rightTs = "c_ts",
        lowUs = -RangeWindowUs, highUs = 0L)
      .select(col("p_id"), col("cents"), col("c_ts"), col("c_id"))
    // one shuffle on p_id serves the row_number, the fan-in count, and
    // the share computation (window functions share the partitioning)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("p_id").orderBy("c_ts", "c_id")
    val attributed = pairs
      .withColumn("rn", row_number().over(wp))
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("p_id")))
      .withColumn("share", expr("cents div n"))
      .withColumn("attr", col("share") +
        when(col("rn") === 1, col("cents") - col("n") * col("share"))
          .otherwise(0L))
      .groupBy(expr("(c_ts div 3600000000) % 24").as("channel_hour"))
      .agg(count(lit(1)).as("n_touches"), sum(col("attr")).as("cents_attr"))
    val unattributed = purchases
      .join(pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), sum(col("cents")).as("cents_attr"))
      .select(lit(-1L).as("channel_hour"), col("n_touches"),
        coalesce(col("cents_attr"), lit(0L)).as("cents_attr"))
    attributed.unionByName(unattributed).orderBy("channel_hour")
  }

  val multiTouchAttributionSql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS p_ts, event_id AS p_id,
       |    floor(value * 100)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS c_ts, event_id AS c_id
       |  FROM events WHERE event_type = 'click'),
       |pr AS (
       |  SELECT p.p_id, p.cents, c.c_ts, c.c_id
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.c_ts > p.p_ts - $RangeWindowUs AND c.c_ts <= p.p_ts),
       |rk AS (
       |  SELECT p_id, cents, c_ts,
       |    row_number() OVER (PARTITION BY p_id ORDER BY c_ts, c_id) AS rn,
       |    count(*) OVER (PARTITION BY p_id)::BIGINT AS n
       |  FROM pr),
       |a AS (
       |  SELECT ((c_ts // 3600000000) % 24)::BIGINT AS channel_hour,
       |    ((cents // n)
       |      + CASE WHEN rn = 1 THEN cents - n * (cents // n) ELSE 0 END
       |    )::BIGINT AS attr
       |  FROM rk)
       |SELECT channel_hour, count(*)::BIGINT AS n_touches,
       |  sum(attr)::BIGINT AS cents_attr
       |FROM a GROUP BY channel_hour
       |UNION ALL
       |SELECT -1::BIGINT, count(*)::BIGINT,
       |  coalesce(sum(cents), 0)::BIGINT
       |FROM p WHERE p_id NOT IN (SELECT p_id FROM pr)
       |ORDER BY channel_hour""".stripMargin

  // ---- q173: PCA second component (deflation) -------------------------

  /** The second principal direction by DEFLATION — the step that turns
    * q149's single component into a basis: C₂ = C − λ·v₁v₁ᵀ/(v₁ᵀv₁)
    * removes the dominant direction, and power iteration on C₂
    * converges to the runner-up. Every step stays in the q149 integer
    * recipe (truncating `div`, max-component ±10⁶ renormalization), so
    * the deflated matrix, all 16 second-stage iterates, the
    * Rayleigh share of v₂ against the ORIGINAL covariance, and the
    * v₁·v₂ orthogonality check (per-mille of the norm product, floored
    * integer sqrt — exact below 2⁵³) are bit-reproducible anywhere.
    * The oracle replays the ENTIRE two-stage recurrence — covariance,
    * 16 rounds to v₁, λ, deflation, 16 more rounds to v₂ — as
    * generated MATERIALIZED CTEs (the q149/q159 discipline).
    *
    * Scale shape: corpus-scale work is exactly q148's one scan +
    * self-join; both iterations run on d² longs of driver state. */
  def pca2(spark: SparkSession, dir: String): DataFrame = {
    val tri = embCovariance(spark, dir).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(3)))
    val d = tri.map(_._1._2).max + 1
    val c = Array.ofDim[Long](d, d)
    tri.foreach { case ((i, j), num) =>
      val sc = num / 1000000L
      c(i)(j) = sc; c(j)(i) = sc
    }
    def iterate(m: Array[Array[Long]]): Array[Long] = {
      var v = Array.fill(d)(1000000L)
      for (_ <- 1 to PcaIters) {
        val w = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
        val mx = w.map(math.abs).max
        v = w.map(x => (x * 1000L) / math.max(1L, mx / 1000L))
      }
      v
    }
    val v1 = iterate(c)
    val v13 = v1.map(_ / 1000L)
    val inn1 = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v13(j)).sum)
    val lden = v13.map(x => x * x).sum
    val lam = (0 until d).map(i => v13(i) * inn1(i)).sum / math.max(1L, lden)
    val c2 = Array.tabulate(d, d)((i, j) =>
      c(i)(j) - (lam * v13(i) * v13(j)) / math.max(1L, lden))
    val v2 = iterate(c2)
    val v23 = v2.map(_ / 1000L)
    // Rayleigh of v2 against the ORIGINAL covariance + trace share
    val inn2 = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v23(j)).sum)
    val l2den = v23.map(x => x * x).sum
    val lam2 = (0 until d).map(i => v23(i) * inn2(i)).sum / math.max(1L, l2den)
    val trace = (0 until d).map(i => c(i)(i)).sum
    val dom2 = (1000L * lam2) / math.max(1L, trace)
    // orthogonality: |v1_3 . v2_3| over the floored norm product
    val dot = math.abs((0 until d).map(i => v13(i) * v23(i)).sum)
    val den = math.floor(math.sqrt(lden.toDouble * l2den.toDouble)).toLong
    val ortho = (1000L * dot) / math.max(1L, den)
    import spark.implicits._
    v2.zipWithIndex.map { case (vq, i) => (i.toLong, vq, dom2, ortho) }.toSeq
      .toDF("d", "v2_q", "dominance2_pm", "ortho_pm")
      .orderBy("d")
  }

  val pca2Sql: String = {
    def iter(t: Int, pre: String, mat: String): String =
      s"""${pre}w$t AS MATERIALIZED (
         |  SELECT c.d1 AS d, sum(c.c * ${pre}v${t - 1}.v)::BIGINT AS w
         |  FROM $mat c JOIN ${pre}v${t - 1} ON ${pre}v${t - 1}.d = c.d2 GROUP BY 1),
         |${pre}m$t AS (SELECT greatest(1, max(abs(w)) // 1000)::BIGINT AS m FROM ${pre}w$t),
         |${pre}v$t AS MATERIALIZED (
         |  SELECT d, ((w * 1000) // m)::BIGINT AS v FROM ${pre}w$t CROSS JOIN ${pre}m$t)"""
        .stripMargin
    val covBody = embCovarianceSql
      .stripPrefix("WITH ").split("\nSELECT d1, d2,")(0)
    val it1 = (1 to PcaIters).map(t => iter(t, "", "cfull")).mkString(",\n")
    val it2 = (1 to PcaIters).map(t => iter(t, "u", "c2full")).mkString(",\n")
    s"""WITH $covBody,
       |cn AS MATERIALIZED (
       |  SELECT d1, d2, ((p.n * s12 - s1.sq * s2.sq) // 1000000)::BIGINT AS c
       |  FROM p JOIN s s1 ON s1.d = p.d1 JOIN s s2 ON s2.d = p.d2),
       |cfull AS MATERIALIZED (
       |  SELECT d1, d2, c FROM cn
       |  UNION ALL SELECT d2, d1, c FROM cn WHERE d1 <> d2),
       |v0 AS (SELECT DISTINCT d1 AS d, 1000000::BIGINT AS v FROM cfull),
       |$it1,
       |vf AS MATERIALIZED (SELECT d, (v // 1000)::BIGINT AS v3 FROM v$PcaIters),
       |inn AS (
       |  SELECT c.d1 AS d, sum(c.c * vf.v3)::BIGINT AS i FROM cfull c
       |  JOIN vf ON vf.d = c.d2 GROUP BY 1),
       |lden AS (SELECT greatest(1, sum(v3 * v3))::BIGINT AS ld FROM vf),
       |lam AS (
       |  SELECT (sum(vf.v3 * inn.i) // min(lden.ld))::BIGINT AS l
       |  FROM vf JOIN inn ON vf.d = inn.d CROSS JOIN lden),
       |c2full AS MATERIALIZED (
       |  SELECT c.d1, c.d2,
       |    (c.c - ((lam.l * a.v3 * b.v3) // lden.ld))::BIGINT AS c
       |  FROM cfull c JOIN vf a ON a.d = c.d1 JOIN vf b ON b.d = c.d2
       |  CROSS JOIN lam CROSS JOIN lden),
       |uv0 AS (SELECT DISTINCT d1 AS d, 1000000::BIGINT AS v FROM c2full),
       |$it2,
       |v2f AS MATERIALIZED (SELECT d, (v // 1000)::BIGINT AS v3 FROM uv$PcaIters),
       |inn2 AS (
       |  SELECT c.d1 AS d, sum(c.c * v2f.v3)::BIGINT AS i FROM cfull c
       |  JOIN v2f ON v2f.d = c.d2 GROUP BY 1),
       |l2den AS (SELECT greatest(1, sum(v3 * v3))::BIGINT AS ld FROM v2f),
       |lam2 AS (
       |  SELECT (sum(v2f.v3 * inn2.i) // min(l2den.ld))::BIGINT AS l
       |  FROM v2f JOIN inn2 ON v2f.d = inn2.d CROSS JOIN l2den),
       |tr AS (SELECT greatest(1, sum(c))::BIGINT AS t FROM cn WHERE d1 = d2),
       |dm AS (SELECT ((1000 * lam2.l) // tr.t)::BIGINT AS dom
       |       FROM lam2 CROSS JOIN tr),
       |dt AS (
       |  SELECT abs(sum(vf.v3 * v2f.v3))::BIGINT AS dot
       |  FROM vf JOIN v2f ON v2f.d = vf.d),
       |ort AS (
       |  SELECT ((1000 * dt.dot) // greatest(1,
       |    floor(sqrt(lden.ld::DOUBLE * l2den.ld::DOUBLE))::BIGINT))::BIGINT
       |    AS o
       |  FROM dt CROSS JOIN lden CROSS JOIN l2den)
       |SELECT v.d, v.v AS v2_q, dm.dom AS dominance2_pm, ort.o AS ortho_pm
       |FROM uv$PcaIters v CROSS JOIN dm CROSS JOIN ort
       |ORDER BY v.d""".stripMargin
  }

  // ---- q150: reciprocal-rank fusion (hybrid retrieval) ----------------

  /** RRF rank-discount constant (Cormack & Clarke SIGIR'09's k=60). */
  val RrfK = 60
  /** Candidates kept per retriever before fusion. */
  val RrfTopK = 20
  /** Dense-side query: the embedding of this vec_id (the corpus shares
    * one id space — embeddings.vec_id IS documents.doc_id). */
  val RrfDenseQuery = 0L

  /** Hybrid retrieval by reciprocal-rank fusion — the standard way a
    * RAG/data-curation stack combines a lexical ranker (q63's BM25)
    * with a dense ranker (q13's cosine machinery) WITHOUT comparable
    * scores: each retriever contributes only its RANK, fused as
    * Σ 1/(k + rank) (Cormack & Clarke, SIGIR'09). Computed here in
    * exact integer micro-units (`10⁶ div (k + rank)`), so the fused
    * score, tie-break, and final ordering are pure functions of the two
    * rank lists — hash-exact in any engine (float scores never cross
    * the fusion boundary; ranks come from each list's own deterministic
    * (score desc, id) total order, the q63/q13 contracts).
    *
    * Scale shape: each retriever is its own corpus-scan pipeline ending
    * in a TakeOrderedAndProject cut to [[RrfTopK]] rows; the fusion is
    * a full-outer join of two k-row tables + a k-row window — driver
    * never touches corpus-sized data, and adding a third retriever adds
    * one scan and one k-row join, nothing quadratic anywhere. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sparse = bm25(spark, dir) // (doc_id, bm25 r6) — already top-RrfTopK
      .select(col("doc_id"), row_number()
        .over(w.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long").as("bm25_rank"))
    val emb = table(spark, dir, "embeddings")
    val dense = graft.similarity.CosineKnn.topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") === RrfDenseQuery), RrfTopK)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("dense_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("bm25_rank", "dense_rank"))
      // ≤ 2·RrfTopK rows from here on — the unpartitioned window is the
      // q91/q131 bounded-input regime, not a corpus window
      .withColumn("rrf_micro", expr(
        s"CASE WHEN bm25_rank > 0 THEN 1000000 div ($RrfK + bm25_rank) ELSE 0 END" +
        s" + CASE WHEN dense_rank > 0 THEN 1000000 div ($RrfK + dense_rank) ELSE 0 END"))
      .withColumn("fused_rank", row_number()
        .over(w.orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .select(col("fused_rank"), col("doc_id"), col("rrf_micro"),
        col("bm25_rank"), col("dense_rank"))
      .orderBy("fused_rank")
  }

  val rrfFusionSql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM documents),
       |ft AS (SELECT doc_id, term FROM toks WHERE length(term) >= $MinTermLen),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM ft GROUP BY doc_id),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT avg(dl) FROM dl) AS avgdl),
       |tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ft
       |  WHERE term IN ($terms) GROUP BY doc_id, term),
       |idf AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term),
       |bm AS (
       |  SELECT tf.doc_id AS doc_id,
       |    round(sum(
       |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |        * tf * ${Bm25K1 + 1} / (tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl / avgdl))
       |    ), 6) AS bm25
       |  FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT $RrfTopK),
       |sp AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS bm25_rank
       |  FROM bm),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |qv AS (SELECT e FROM v WHERE vec_id = $RrfDenseQuery),
       |cs AS (
       |  SELECT v.vec_id AS doc_id, list_cosine_similarity(qv.e, v.e) AS cos
       |  FROM qv, v WHERE v.vec_id <> $RrfDenseQuery),
       |dn AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT AS dense_rank
       |  FROM cs ORDER BY cos DESC, doc_id LIMIT $RrfTopK),
       |f AS (
       |  SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
       |    coalesce(bm25_rank, 0)::BIGINT AS bm25_rank,
       |    coalesce(dense_rank, 0)::BIGINT AS dense_rank
       |  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id),
       |r AS (
       |  SELECT doc_id, bm25_rank, dense_rank,
       |    ((CASE WHEN bm25_rank > 0 THEN 1000000 // ($RrfK + bm25_rank) ELSE 0 END)
       |     + (CASE WHEN dense_rank > 0 THEN 1000000 // ($RrfK + dense_rank) ELSE 0 END)
       |    )::BIGINT AS rrf_micro
       |  FROM f)
       |SELECT row_number() OVER (ORDER BY rrf_micro DESC, doc_id)::BIGINT AS fused_rank,
       |  doc_id, rrf_micro, bm25_rank, dense_rank
       |FROM r ORDER BY fused_rank""".stripMargin
  }

  // ---- q182: sampled-estimator accuracy harness ------------------------

  /** Sampling rate denominator: keep rows whose 60-bit content hash
    * ≡ 0 (mod 10) — a deterministic 10% sample. */
  val SampleRate = 10L

  /** Error budget the audit row carries: 100‰ = 10%. */
  val SampleErrBudgetPm = 100L

  /** The approximate-query-processing control loop: estimate per-group
    * revenue from a DETERMINISTIC 10% hash sample (Horvitz-Thompson:
    * sampled cent sum × 10), and put the estimate NEXT TO the exact
    * answer with its realized per-mille error — the harness that tells
    * a 100 TB deployment whether sampled dashboards are safe for a
    * given group granularity before it turns the full scan off. The
    * sample membership is a pure function of the row key (md5 → 60-bit
    * int, mod [[SampleRate]]), so the estimate is reproducible across
    * engines, runs, and partitionings — no RNG state anywhere.
    *
    * Scale shape: ONE scan computes both sides simultaneously (the
    * exact sum and the conditional sampled sum ride the same map-side-
    * combinable aggregate), so the harness costs what the exact query
    * costs — the POINT is to measure, then switch to sample-only scans
    * (a 10× read cut) once the realized error clears the budget. All
    * comparison arithmetic is exact integer cents / per-mille. */
  def sampleAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    li.select(col("l_returnflag"), col("l_linestatus"),
        floor(col("l_extendedprice") * lit(100d)).cast("long").as("cents"),
        expr("cast(conv(substring(md5(concat(cast(l_orderkey as string)," +
          " ':', cast(l_linenumber as string))), 1, 15), 16, 10) as bigint)" +
          s" % $SampleRate").as("bucket"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("bucket") === 0L, lit(1L)).otherwise(lit(0L)))
          .as("n_sampled"),
        sum(col("cents")).as("exact_cents"),
        (sum(when(col("bucket") === 0L, col("cents")).otherwise(lit(0L)))
          * SampleRate).as("est_cents"))
      .withColumn("err_pm",
        expr("(1000 * abs(est_cents - exact_cents)) div greatest(exact_cents, 1L)"))
      .withColumn("within_budget", col("err_pm") <= SampleErrBudgetPm)
      .orderBy("l_returnflag", "l_linestatus")
  }

  val sampleAccuracySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  count(*)::BIGINT AS n_rows,
       |  sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
       |  sum(cents)::BIGINT AS exact_cents,
       |  (sum(CASE WHEN bucket = 0 THEN cents ELSE 0 END) * $SampleRate)::BIGINT
       |    AS est_cents,
       |  ((1000 * abs((sum(CASE WHEN bucket = 0 THEN cents ELSE 0 END) * $SampleRate)
       |      - sum(cents))) // greatest(sum(cents), 1))::BIGINT AS err_pm,
       |  ((1000 * abs((sum(CASE WHEN bucket = 0 THEN cents ELSE 0 END) * $SampleRate)
       |      - sum(cents))) // greatest(sum(cents), 1)) <= $SampleErrBudgetPm
       |    AS within_budget
       |FROM (
       |  SELECT l_returnflag, l_linestatus,
       |    floor(l_extendedprice * 100)::BIGINT AS cents,
       |    ('0x' || substring(md5(l_orderkey::VARCHAR || ':' ||
       |      l_linenumber::VARCHAR), 1, 15))::BIGINT % $SampleRate AS bucket
       |  FROM lineitem)
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q183: hash-partition skew planner -------------------------------

  /** Partition count the planner simulates (the bench session's
    * shuffle parallelism). */
  val SkewPlanParts = 32L

  /** Alarm threshold: a partition carrying > 2× the mean load. */
  val SkewAlarmPm = 2000L

  /** The pre-shuffle skew diagnosis a 100 TB job runs BEFORE picking a
    * join/aggregation key: simulate hash partitioning (same md5→60-bit
    * discipline as q43/q107 — engine-stable, unlike Spark's internal
    * murmur3) of the event stream under two candidate keys — `user_id`
    * (high-cardinality, expected balanced) and `event_type` (enum,
    * pathological) — and report per-partition row load, key count, and
    * load as ‰ of the mean, with the >2× alarm ([[SkewAlarmPm]]) that
    * says "salt this key" (q45/q51 are the remedies this audit
    * dispatches to). The contrast between the two key columns in one
    * output is the planner's decision table.
    *
    * Scale shape: one map-side-combinable groupBy per candidate key —
    * the aggregate output is ≤ [[SkewPlanParts]] rows per key, so the
    * window total is over a constant-size table. Key cardinality per
    * partition comes from the same shuffle (count distinct inside the
    * partition group); nothing quadratic, nothing collected. */
  def skewPlanner(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    def loads(keyExpr: String, label: String): DataFrame =
      ev.select(
          expr(s"cast(conv(substring(md5($keyExpr), 1, 15), 16, 10) as" +
            s" bigint) % $SkewPlanParts").as("partition_id"),
          expr(keyExpr).as("k"))
        .groupBy("partition_id")
        .agg(count(lit(1)).as("load_rows"), countDistinct(col("k")).as("n_keys"))
        .withColumn("total", sum(col("load_rows")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(lit(label).as("key_col"), col("partition_id"),
          col("load_rows"), col("n_keys"),
          expr(s"(1000 * load_rows * $SkewPlanParts) div total")
            .as("load_pm_of_mean"),
          (expr(s"(1000 * load_rows * $SkewPlanParts) div total")
            > SkewAlarmPm).as("skew_alarm"))
    loads("cast(user_id as string)", "user_id")
      .unionByName(loads("event_type", "event_type"))
      .orderBy("key_col", "partition_id")
  }

  val skewPlannerSql: String = {
    def one(keyExpr: String, label: String) =
      s"""SELECT '$label' AS key_col, partition_id,
         |  count(*)::BIGINT AS load_rows,
         |  count(DISTINCT k)::BIGINT AS n_keys,
         |  ((1000 * count(*) * $SkewPlanParts) //
         |    CAST(sum(count(*)) OVER () AS BIGINT))::BIGINT AS load_pm_of_mean,
         |  ((1000 * count(*) * $SkewPlanParts) //
         |    CAST(sum(count(*)) OVER () AS BIGINT)) > $SkewAlarmPm AS skew_alarm
         |FROM (
         |  SELECT ('0x' || substring(md5($keyExpr), 1, 15))::BIGINT
         |      % $SkewPlanParts AS partition_id,
         |    $keyExpr AS k
         |  FROM events)
         |GROUP BY partition_id""".stripMargin
    Seq(one("user_id::VARCHAR", "user_id"), one("event_type", "event_type"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY key_col, partition_id")
  }

  // ---- q288: Markov removal-effect attribution ------------------------------

  /** Power-iteration depth for the absorption probability. The chain
    * decays as (1 − per-step absorption)^t, and at milli resolution
    * the integer fixpoint needs ≈ ln(1000)/−ln(r) rounds — 256 covers
    * decay rates past 0.97 with margin (the spec asserts 256 ≡ 257,
    * i.e. the fixpoint is REACHED, not hoped for; the recursion is a
    * ≤ 36-row table per level, so depth is nearly free). */
  val MarkovIters = 256

  /** Markov ATTRIBUTION (the removal-effect model behind data-driven
    * attribution tools): q165's position rules split credit by
    * where a touch sits; this asks the counterfactual — how much
    * conversion DISAPPEARS if a channel vanishes? Each user's events
    * up to their first purchase form a journey
    * `start → ch … ch → conv|null`; first-order transition
    * probabilities (floor milli) define an absorbing chain; the
    * conversion probability from `start` is computed by integer
    * power iteration (`p' = (Σ T·p + T_conv·1000) div 1000`,
    * [[MarkovIters]] rounds, monotone nondecreasing), and channel c's
    * removal effect re-runs it on the chain with every transition
    * touching c dropped (the standard semantics: original
    * probabilities, paths through c simply die). Output per channel:
    * full and removed conversion per-mille, the removal effect, and
    * the normalized attribution share.
    *
    * Scale shape: the corpus-sized work is ONE windowed scan building
    * (from, to) transition counts; the chain itself is bounded by the
    * event-type enum (≤ 6×6 rows — collected like every ≤ k² table
    * here) and the iteration is driver arithmetic on it. The oracle
    * replays the identical integer recursion as a recursive CTE over
    * (variant, state, t). */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame =
    markovAttributionIters(spark, dir, MarkovIters)

  /** Iteration-count-parametrized body ([[MarkovIters]] in the gated
    * query; the convergence spec runs it at 16 and 17 and asserts
    * equality — the fixpoint claim, tested rather than hoped). */
  private[queries] def markovAttributionIters(
      spark: SparkSession, dir: String, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val seq0 = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("prn", min(when(col("event_type") === "purchase",
        col("rn"))).over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)))
      .filter(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state",
        when(col("event_type") === "purchase", "conv")
          .otherwise(col("event_type")))
    val trans = seq0
      .withColumn("from",
        coalesce(lag("state", 1).over(w), lit("start")))
      .select(col("from"), col("state").as("to"))
      .unionByName(seq0
        .withColumn("lrn", max("rn").over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("rn") === col("lrn") && col("state") =!= "conv")
        .select(col("state").as("from"), lit("null").as("to")))
      .groupBy("from", "to").agg(count(lit(1)).as("cnt"))
    val rows = trans.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outMass = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tMilli = rows.map { case (f, t, c) =>
      (f, t) -> 1000L * c / outMass(f) }.toMap
    val channels = rows.map(_._1).filter(s => s != "start").distinct.sorted
    def converge(excluded: Option[String], iters: Int): Long = {
      val keep = tMilli.filter { case ((f, t), _) =>
        !excluded.contains(f) && !excluded.contains(t) }
      val states = ("start" +: channels).filterNot(excluded.contains)
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          val flow = states.map(c =>
            keep.getOrElse((s, c), 0L) * p(c)).sum +
            keep.getOrElse((s, "conv"), 0L) * 1000L
          s -> flow / 1000L
        }.toMap
      }
      p("start")
    }
    val pFull = converge(None, iters)
    val effects = channels.map { c =>
      val pRem = converge(Some(c), iters)
      val eff = 1000L - 1000L * pRem / math.max(pFull, 1L)
      (c, pRem, eff)
    }
    val effSum = math.max(effects.map(_._3).sum, 1L)
    val out = effects.map { case (c, pRem, eff) =>
      (c, pFull, pRem, eff, 1000L * eff / effSum)
    }
    spark.createDataFrame(out)
      .toDF("channel", "p_conv_pm", "p_removed_pm", "removal_effect_pm",
        "attribution_pm")
      .orderBy("channel")
  }

  val markovAttributionSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
       |    event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS rn
       |  FROM events),
       |pr AS (
       |  SELECT user_id, min(rn) AS prn FROM ev
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS (
       |  SELECT e.user_id, e.rn,
       |    CASE WHEN e.event_type = 'purchase' THEN 'conv'
       |         ELSE e.event_type END AS state
       |  FROM ev e LEFT JOIN pr USING (user_id)
       |  WHERE pr.prn IS NULL OR e.rn <= pr.prn),
       |trans AS (
       |  SELECT coalesce(lag(state) OVER (PARTITION BY user_id
       |      ORDER BY rn), 'start') AS f, state AS t
       |  FROM kept
       |  UNION ALL
       |  SELECT state AS f, 'null' AS t FROM (
       |    SELECT state, rn, max(rn) OVER (PARTITION BY user_id) AS lrn
       |    FROM kept)
       |  WHERE rn = lrn AND state <> 'conv'),
       |cnt AS (SELECT f, t, count(*)::BIGINT AS c FROM trans GROUP BY 1, 2),
       |om AS (SELECT f, sum(c)::BIGINT AS m FROM cnt GROUP BY 1),
       |tm AS (
       |  SELECT cnt.f, cnt.t, (1000 * cnt.c) // om.m AS p
       |  FROM cnt JOIN om USING (f)),
       |ch AS (
       |  SELECT DISTINCT f AS channel FROM cnt WHERE f <> 'start'),
       |variants AS (
       |  SELECT 'full' AS variant, NULL::VARCHAR AS removed
       |  UNION ALL SELECT channel, channel FROM ch),
       |states AS MATERIALIZED (
       |  SELECT v.variant, s.s FROM variants v,
       |    (SELECT 'start' AS s UNION ALL SELECT channel FROM ch
       |     UNION ALL SELECT 'conv' UNION ALL SELECT 'null') s
       |  WHERE v.removed IS NULL OR s.s <> v.removed),
       |vt AS MATERIALIZED (
       |  -- filtered chain + absorbing self-loops (conv stays 1000,
       |  -- null stays 0) + zero self-loops so every state keeps a
       |  -- group row: lets the recursion reference itself ONCE
       |  SELECT v.variant, tm.f, tm.t, tm.p
       |  FROM variants v JOIN tm
       |    ON (v.removed IS NULL
       |        OR (tm.f <> v.removed AND tm.t <> v.removed))
       |  UNION ALL
       |  SELECT variant, 'conv', 'conv', 1000 FROM variants
       |  UNION ALL
       |  SELECT variant, 'null', 'null', 1000 FROM variants
       |  UNION ALL
       |  SELECT variant, s, s, 0 FROM states),
       |it(variant, s, t, p) AS (
       |  SELECT variant, s, 0,
       |    CASE WHEN s = 'conv' THEN 1000 ELSE 0 END::BIGINT
       |  FROM states
       |  UNION ALL
       |  SELECT vt.variant, vt.f, i.t + 1,
       |    (sum(vt.p * i.p) // 1000)::BIGINT
       |  FROM it i JOIN vt ON vt.variant = i.variant AND vt.t = i.s
       |  WHERE i.t < $MarkovIters
       |  GROUP BY vt.variant, vt.f, i.t),
       |fin AS (
       |  SELECT variant, p FROM it
       |  WHERE s = 'start' AND t = $MarkovIters),
       |pf AS (SELECT p AS p_full FROM fin WHERE variant = 'full'),
       |eff AS (
       |  SELECT f.variant AS channel, pf.p_full AS p_conv_pm,
       |    f.p AS p_removed_pm,
       |    (1000 - (1000 * f.p) // greatest(pf.p_full, 1))::BIGINT
       |      AS removal_effect_pm
       |  FROM fin f, pf WHERE f.variant <> 'full')
       |SELECT channel, p_conv_pm::BIGINT AS p_conv_pm,
       |  p_removed_pm::BIGINT AS p_removed_pm, removal_effect_pm,
       |  ((1000 * removal_effect_pm) // greatest(
       |    (SELECT sum(removal_effect_pm) FROM eff), 1))::BIGINT
       |    AS attribution_pm
       |FROM eff ORDER BY channel""".stripMargin

  // ---- q281: transformWithState spend milestones ---------------------------

  /** Lifetime-spend milestones (cents) the alert stream fires on. */
  val MilestoneThresholds = Seq(30000L, 80000L)

  /** q281's sentinel offset: the watermark delay must exceed the
    * corpus's whole event-time span (30 days — so NO real row can ever
    * be late-dropped, whatever order a multi-batch replay delivers
    * files in), and the sentinel must sit farther out than the delay so
    * the final watermark still seals every real event. 45-day delay,
    * 90-day sentinel: final watermark = max_ts + 45 d > every real
    * timer (max_ts + 1 ms); in-flight watermark ≤ max_ts − 45 d <
    * min_ts, so nothing real is ever late. */
  val MilestoneFlushUs: Long = 90L * 86400000000L
  private val MilestoneDelay = "45 days"

  /** Spark 4's `transformWithState` — the arbitrary-stateful-processing
    * API that supersedes `flatMapGroupsWithState` (typed state handles,
    * per-state TTL, timers) — driving a per-user LIFETIME spend
    * accumulator ([[graft.streaming.SpendMilestones]]): one
    * `ValueState[Long]` per user, one alert row the instant the running
    * total first crosses each [[MilestoneThresholds]] tier. The state
    * is one long per user FOREVER (bounded by the user universe, not
    * stream length) — the shape windowed aggregation cannot express
    * and the new API exists for.
    *
    * Runs on a dedicated child session: `transformWithState` requires
    * the RocksDB state-store provider, and setting that on the shared
    * pooled streaming session would silently switch every other
    * streaming gate's provider mid-round. The batch oracle is the
    * per-user cumulative sum's first-crossing rows. Determinism is
    * ARRIVAL-ORDER-INDEPENDENT (the round-10 flake fix): the processor
    * only buffers on input and folds watermark-sealed prefixes in
    * event-time order at timer expiry ([[graft.streaming
    * .SpendMilestones]]), and the [[MilestoneDelay]]/[[MilestoneFlushUs]]
    * contract guarantees no real row is late and every timer fires —
    * so stream ≡ batch however the replay batches (spec-pinned by
    * MilestoneReplaySpec's shuffled 1/2/3-batch replays). */
  def streamMilestones(spark: SparkSession, dir: String): DataFrame = {
    val s = twsSession(spark, "q281_milestones")
    val staged = ensureSentinelEvents(s, dir, MilestoneFlushUs)
    streamMilestonesFrom(s, staged, maxFilesPerTrigger = 0)
  }

  /** The q281 pipeline over an already-staged (sentinel-bearing) events
    * directory — factored out so the replay spec can drive the SAME
    * plan over multi-file shuffled stagings with `maxFilesPerTrigger`
    * forcing batch boundaries. `maxFilesPerTrigger = 0` means unset. */
  def streamMilestonesFrom(s: SparkSession, staged: String,
      maxFilesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders => Enc}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{MilestoneHit, SpendEvent, SpendMilestones}
    val schema = s.read.parquet(staged).schema
    val reader = s.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val ev = reader.parquet(staged)
      .filter(col("event_type") === "purchase")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", MilestoneDelay)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as(Enc.product[SpendEvent])
    implicit val hitEnc: org.apache.spark.sql.Encoder[MilestoneHit] =
      Enc.product[MilestoneHit]
    val hits = ev.groupByKey(_.user_id)(Enc.scalaLong)
      .transformWithState(new SpendMilestones(MilestoneThresholds),
        TimeMode.EventTime(), OutputMode.Append())
    drain(hits, "stream_milestones_result", "append")
      .orderBy("user_id", "threshold_cents")
  }

  /** Dedicated `transformWithState` child sessions (RocksDB provider),
    * pooled per (parent, GATE) — not per parent: the driver's Verify
    * runs 4 queries concurrently, and q281/q285/q297/q309 used to
    * share ONE child session (one StreamingQueryManager, one memory
    * -sink catalog, one state-store coordinator registration) while
    * all four streamed at once. Nothing in that sharing is documented
    * unsafe, but q281's driver-gate red was environment-specific to
    * exactly that concurrency shape, so each gate now gets its own
    * child: per-query isolation costs one lightweight `newSession`
    * per gate per JVM and removes the seam wholesale. */
  private val twsSessionPool = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), SparkSession]()

  private def twsSession(spark: SparkSession, gate: String): SparkSession =
    twsSessionPool.computeIfAbsent((spark, gate), { _ =>
      val c = spark.newSession()
      c.conf.set("spark.sql.shuffle.partitions",
        QueryUtil.streamStatePartitions(spark).toString)
      c.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      c
    })

  // ---- q285: event-time timer follow-up reports ----------------------------

  /** Follow-up window: 7 days (whole milliseconds, as timers need). */
  val FollowupWindowUs: Long = 7L * 86400000000L

  /** EVENT-TIME TIMERS on `transformWithState`
    * ([[graft.streaming.FollowupTimers]]) — q281 exercised typed value
    * state; this exercises the API's other half: every purchase
    * schedules a timer at `ts + 7 days`, and when the event-time
    * WATERMARK passes it the processor emits that purchase's
    * follow-up report (how many purchases the user made inside the
    * window). The watermark is what makes the deferred answer SOUND —
    * a timer fires only once the window provably closed, so the count
    * is complete no matter how the replay batches. Same staged
    * sentinel source as q267 (one write-once copy, far-future flush
    * rows) so every real timer fires before the finite replay stops;
    * the oracle is the batch self-join over the same window. */
  def streamTimers(spark: SparkSession, dir: String): DataFrame = {
    val s = twsSession(spark, "q285_timers")
    import org.apache.spark.sql.{Encoders => Enc}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{FollowupReport, FollowupTimers, PurchaseTick}
    val ev = streamParquet(s, ensureOuterStreamEvents(s, dir))
      .filter(col("event_type") === "purchase")
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "1 minute")
      .select(col("user_id"), col("ts_us"))
      .as(Enc.product[PurchaseTick])
    implicit val repEnc: org.apache.spark.sql.Encoder[FollowupReport] =
      Enc.product[FollowupReport]
    val reports = ev.groupByKey(_.user_id)(Enc.scalaLong)
      .transformWithState(new FollowupTimers(FollowupWindowUs),
        TimeMode.EventTime(), OutputMode.Append())
    drain(reports, "stream_timers_result", "append")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "purchase_ts_us")
  }

  val streamTimersSql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us
       |  FROM events WHERE event_type = 'purchase')
       |SELECT a.user_id AS user_id, a.ts_us AS purchase_ts_us,
       |  count(b.ts_us)::BIGINT AS followups
       |FROM p a LEFT JOIN p b
       |  ON b.user_id = a.user_id AND b.ts_us > a.ts_us
       |  AND b.ts_us <= a.ts_us + $FollowupWindowUs
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---- q297: MapState per-type engagement rollup ---------------------------

  /** MAP STATE on `transformWithState`
    * ([[graft.streaming.SpendByType]]) — the state-shape cell q281
    * (ValueState) and q285 (ListState + timers) leave open: one
    * `MapState[event_type → Tally]` per user accumulating the lifetime
    * engagement profile (per-type counts + spend), updated ONE map
    * entry per event. Emission is exactly-once per user at a fixed
    * far-future event-time timer only the flush sentinel can seal;
    * the fold is commutative (counts/sums), so the result is
    * arrival-order- and batch-boundary-independent by construction —
    * the q281 lesson applied from the start. Same staged
    * sentinel copy and 45-day-delay contract as q281; oracle is the
    * plain per-(user, type) batch GROUP BY. */
  def streamTypeRollup(spark: SparkSession, dir: String): DataFrame = {
    val s = twsSession(spark, "q297_type_rollup")
    import org.apache.spark.sql.{Encoders => Enc}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{SpendByType, TypedEvent, TypeTotal}
    val staged = ensureSentinelEvents(s, dir, MilestoneFlushUs)
    val maxAll = s.read.parquet(staged).agg(max("ts_us")).head.getLong(0)
    // flush 1 day past the last REAL event: above every real row, below
    // the sentinel-driven final watermark (maxReal + 45 d), unreachable
    // by any real-data watermark (≤ maxReal − 45 d)
    val flushAtMs = (maxAll - MilestoneFlushUs + 86400000000L) / 1000
    val ev = streamParquet(s, staged)
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", MilestoneDelay)
      .select(col("user_id"), col("ts_us"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as(Enc.product[TypedEvent])
    implicit val outEnc: org.apache.spark.sql.Encoder[TypeTotal] =
      Enc.product[TypeTotal]
    val rolled = ev.groupByKey(_.user_id)(Enc.scalaLong)
      .transformWithState(new SpendByType(flushAtMs),
        TimeMode.EventTime(), OutputMode.Append())
    drain(rolled, "stream_type_rollup_result", "append")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "event_type")
  }

  val streamTypeRollupSql: String =
    """SELECT user_id, event_type, count(*)::BIGINT AS n_events,
      |  sum(floor(value * 100)::BIGINT)::BIGINT AS cents
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // ---- q309: chained stateful streaming (dedup -> windowed agg) -----------

  /** Staged copy of the events table with a planted EXACT DUPLICATE of
    * every 7th event (same event_id — the at-least-once-delivery
    * shape) plus the far-future flush sentinel, write-once per (dir,
    * fingerprint) like every staged stream source here. */
  private def ensureDupedStreamEvents(spark: SparkSession,
      dir: String): String = synchronized {
    val src = new java.io.File(s"$dir/events.parquet")
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$dir:${src.length}:${src.lastModified}:duped"))
    val path = s"${sys.props("java.io.tmpdir")}/graft_duped_events_$tag"
    if (!new java.io.File(path, "_SUCCESS").exists) {
      val ev = eventsTsUs(spark, dir)
        .select("event_id", "ts_us", "user_id", "event_type", "value")
      val maxTs = ev.agg(max("ts_us")).head.getLong(0)
      val dups = ev.filter(col("event_id") % 7 === 0)
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"), lit(maxTs + OuterFlushUs).as("ts_us"),
        lit(-1L).as("user_id"), lit("purchase").as("event_type"),
        lit(0d).as("value"))
      ev.unionByName(dups).unionByName(sentinel)
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
    path
  }

  /** CHAINED STATEFUL OPERATORS in one streaming query — the engine
    * capability none of the single-operator streaming gates touch:
    * `dropDuplicatesWithinWatermark` (state: ids inside the watermark
    * horizon) feeding an event-time windowed aggregate (state: open
    * windows) in the SAME query, with the watermark propagating
    * through the dedup into the window operator. The staged source
    * plants an exact duplicate of every 7th event (the at-least-once
    * redelivery a real ingest sees), so the gate proves BOTH stages:
    * daily counts equal the CLEAN batch aggregate exactly — every
    * planted duplicate was absorbed by stage 1, every window flushed
    * complete by stage 2 when the sentinel sealed it. Append mode:
    * a window only emits once the watermark proves it closed. */
  def streamChained(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val src = streamParquet(spark, ensureDupedStreamEvents(spark, dir))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
      .withWatermark("event_ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
      .filter(col("user_id") =!= -1L)
    val agg = src
      .groupBy(window(col("event_ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    drain(agg.select(unix_micros(col("window.start")).as("day_start_us"),
        col("n_events"), col("sum_cents")), "stream_chained_result", "append")
      .orderBy("day_start_us")
    }

  val streamChainedSql: String =
    """SELECT epoch_us(date_trunc('day', ts)::TIMESTAMP) AS day_start_us,
      |  count(*)::BIGINT AS n_events,
      |  sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val streamMilestonesSql: String = {
    val ths = MilestoneThresholds.map(t => s"($t)").mkString(", ")
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
       |    floor(value * 100)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, ts_us, event_id, cents,
       |    sum(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
       |      AS cum
       |  FROM p)
       |SELECT user_id, t.th::BIGINT AS threshold_cents, ts_us, event_id,
       |  cum::BIGINT AS cum_cents
       |FROM c, (VALUES $ths) t(th)
       |WHERE cum >= t.th AND cum - cents < t.th
       |ORDER BY user_id, threshold_cents""".stripMargin
  }

  // ---- q274: k-means clustering in integer micro space ---------------------

  val KmClusters = 8
  val KmRounds = 2

  /** UNSUPERVISED structure of the embedding corpus — Lloyd's k-means
    * ([[graft.similarity.KMeansMicro]]: k = [[KmClusters]] seeded by
    * the k smallest vec_ids, [[KmRounds]] full rounds, exact integer
    * micro arithmetic) with the per-cluster report card: member count,
    * exact inertia against the shipped centroids, and LABEL PURITY —
    * the dominant q-label's per-mille share, which measures how well
    * the unsupervised partition rediscovers the labels q250 graded
    * (purity ≈ 1000/L means the clustering ignores them; near 1000
    * means label structure dominates embedding space). This is the
    * cluster-pool builder semantic dedup (q86) and IVF training (q25)
    * consume.
    *
    * Scale/exactness contract on the operator scaladoc; everything
    * here is bounded joins of the final assignment against the label
    * column. */
  def kmeansMicro(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(spark, dir, "embeddings")
    val a = graft.similarity.KMeansMicro.assign(
      emb, "vec_id", "embedding", KmClusters, KmRounds)
    val stats = a.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), sum("d2").as("inertia"))
    val lab = a.join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), Seq("vec_id"))
      .groupBy("cid", "label").agg(count(lit(1)).as("c"))
    val top = lab.withColumn("rn", row_number().over(
        Window.partitionBy("cid").orderBy(col("c").desc, col("label"))))
      .filter(col("rn") === 1)
    stats.join(top, Seq("cid"))
      .select(col("cid"), col("n_vecs"), col("inertia"),
        expr("inertia div n_vecs").as("mean_d2"),
        col("label").as("top_label"),
        expr("(1000 * c) div n_vecs").as("purity_pm"))
      .orderBy("cid")
  }

  val kmeansMicroSql: String = {
    import graft.similarity.KMeansMicro
    s"""WITH v AS (
       |  SELECT vec_id, i,
       |    floor(embedding[i]::DOUBLE * 1e6)::BIGINT AS xm
       |  FROM embeddings,
       |    unnest(generate_series(1, len(embedding))) AS s(i)),
       |seeds AS (
       |  SELECT vec_id AS cid FROM embeddings ORDER BY vec_id
       |  LIMIT $KmClusters),
       |c0 AS (
       |  SELECT s.cid, v.i, v.xm AS cm
       |  FROM seeds s JOIN v ON v.vec_id = s.cid),
       |a1 AS (${KMeansMicro.assignSql("c0")}),
       |c1 AS (${KMeansMicro.updateSql("a1")}),
       |a2 AS (${KMeansMicro.assignSql("c1")}),
       |c2 AS (${KMeansMicro.updateSql("a2")}),
       |af AS (${KMeansMicro.assignSql("c2")}),
       |stats AS (
       |  SELECT cid, count(*)::BIGINT AS n_vecs, sum(d2)::BIGINT AS inertia
       |  FROM af GROUP BY 1),
       |lab AS (
       |  SELECT af.cid, e.label::BIGINT AS label, count(*)::BIGINT AS c
       |  FROM af JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |top AS (
       |  SELECT cid, label, c FROM (
       |    SELECT cid, label, c, row_number() OVER (
       |      PARTITION BY cid ORDER BY c DESC, label) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT s.cid, s.n_vecs, s.inertia,
       |  (s.inertia // s.n_vecs)::BIGINT AS mean_d2,
       |  t.label AS top_label,
       |  ((1000 * t.c) // s.n_vecs)::BIGINT AS purity_pm
       |FROM stats s JOIN top t USING (cid)
       |ORDER BY cid""".stripMargin
  }

  // ---- q272: feed-level mirror detection ----------------------------------

  /** Shingle width for the feed-level profiles (q10's k). */
  val MirrorShingleK = 3

  /** Containment above this per-mille flags a mirror pair. */
  val MirrorSuspectPm = 500L

  /** Which FEEDS mirror each other? — q265 attributes document-level
    * near-dup pairs to feeds after the fact; this asks the coarser
    * question a crawl planner answers FIRST, at feed granularity:
    * treat each source's distinct word-shingle set as its content
    * profile and publish exact Jaccard and containment for every
    * source pair. High containment with asymmetric sizes is the
    * re-host signature (a small feed living inside a big one) that
    * per-document detection only discovers pair by pair; deciding it
    * at feed level can drop a whole feed before paying per-document
    * dedup compute on it.
    *
    * Exact integers: set sizes and intersections are counts; Jaccard
    * `1000·∩ div (|A|+|B|−∩)` and containment `1000·∩ div min(|A|,|B|)`
    * floor per-mille. Zero-overlap pairs stay in the table (complete
    * G²/2 grid) — absence of overlap is a finding too.
    *
    * Planted fixture (the q237/q79 convention — a gate must
    * DISCRIMINATE, and this synthetic corpus has no natural mirror):
    * a virtual feed `zz_mirror` re-hosting every src1 document rides
    * the audit — a pure function of the data the oracle regenerates
    * identically — so the suspect flag provably fires on the true
    * mirror (containment 1000) and on nothing else.
    *
    * Scale shape: one corpus scan → distinct (source, shingle)
    * postings (map-side combined, bounded by G·V); the intersection
    * self-join fans out per shingle by (feeds carrying it choose 2)
    * ≤ G²/2 — bounded by the FEED count squared, never the corpus;
    * the final grid is G²/2 rows. */
  def sourceMirror(spark: SparkSession, dir: String): DataFrame = {
    // the posting table feeds two consumers (sizes + intersections) —
    // persist it or pay the corpus shingle scan twice. The narrow
    // pre-shingle repartition exists for the BENCH corpus, one tiny
    // single-row-group parquet file: without it the shingle explode
    // runs as one task (measured 3.3 s of the query's wall); a real
    // multi-file corpus already scans wide and AQE would elide the
    // exchange.
    val base = table(spark, dir, "documents").select("source", "text")
    val docs = base.unionByName(
      base.filter(col("source") === "src1")
        .select(lit("zz_mirror").as("source"), col("text")))
    val sh = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), explode(graft.text.Hashing.wordShingles(
        lower(trim(col("text"))), MirrorShingleK)).as("sh"))
      .distinct()
      .persist()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    // intersections WITHOUT a posting self-join: group each shingle's
    // carrier set (≤ G sources, sorted) and emit its pairs from one
    // row — the per-shingle pair explosion then collapses under
    // map-side combine into ≤ G²/2 keys per partition instead of
    // shuffling a Σ(k choose 2)-row join product (measured 9.7 s →
    // ~1 s at sf0.1; same exact semantics, carrier sets are distinct
    // postings either way)
    val inter = sh.groupBy("sh")
      .agg(sort_array(collect_set("source")).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
           transform(slice(ss, i + 2, size(ss)),
             y -> struct(x AS src_a, y AS src_b))))""")).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    val grid = sizes.toDF("src_a", "sz_a")
      .join(sizes.toDF("src_b", "sz_b"), col("src_a") < col("src_b"))
    val out = grid.join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter"))
      .select(col("src_a"), col("src_b"), col("sz_a"), col("sz_b"),
        col("inter"),
        expr("(1000 * inter) div (sz_a + sz_b - inter)").as("jaccard_pm"),
        expr("(1000 * inter) div least(sz_a, sz_b)").as("containment_pm"))
      .withColumn("mirror_suspect", col("containment_pm") > MirrorSuspectPm)
      .orderBy("src_a", "src_b")
    val result = out.localCheckpoint(true)
    sh.unpersist(blocking = false)
    result
  }

  val sourceMirrorSql: String = {
    import graft.text.Hashing
    s"""WITH docs AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'zz_mirror' AS source, text FROM documents
       |  WHERE source = 'src1'),
       |tok AS (
       |  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM docs),
       |sh AS (
       |  SELECT DISTINCT source, sh FROM tok,
       |    unnest(${Hashing.wordShinglesSql("w", MirrorShingleK)}) AS t(sh)),
       |sizes AS (SELECT source, count(*)::BIGINT AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    count(*)::BIGINT AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT sa.source AS src_a, sb.source AS src_b,
       |  sa.sz AS sz_a, sb.sz AS sz_b,
       |  coalesce(i.inter, 0)::BIGINT AS inter,
       |  ((1000 * coalesce(i.inter, 0))
       |    // (sa.sz + sb.sz - coalesce(i.inter, 0)))::BIGINT AS jaccard_pm,
       |  ((1000 * coalesce(i.inter, 0))
       |    // least(sa.sz, sb.sz))::BIGINT AS containment_pm,
       |  ((1000 * coalesce(i.inter, 0)) // least(sa.sz, sb.sz))
       |    > $MirrorSuspectPm AS mirror_suspect
       |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
       |LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ---- q271: zone-map skipping audit --------------------------------------

  /** Zones the audit simulates (≈ files/row-groups of a rewrite). */
  val ZoneCount = 100L

  /** The q47-style probe predicate: a ~90-day ship-date slice. */
  val ZoneLo = "1996-06-01"
  val ZoneHi = "1996-08-30"

  /** Would a time-sorted rewrite of `lineitem` let min/max zone maps
    * (parquet row-group stats, Delta/Iceberg file stats) skip the scan
    * down to the predicate's slice — and how badly does the default
    * hash layout read by comparison? The audit simulates both layouts
    * over the SAME rows: `sorted` assigns equal-count zones by
    * `ntile(`[[ZoneCount]]`)` over (l_shipdate, key) — what a
    * sort-by-time rewrite produces — and `hash` assigns the q183
    * md5→60-bit bucket of the row key — what unclustered ingest
    * produces. Per layout it computes every zone's [min, max]
    * ship-date envelope and asks which zones the [[ZoneLo]]..[[ZoneHi]]
    * predicate can PROVE empty (`max < lo ∨ min > hi` — exactly the
    * data-skipping test every lakehouse scanner runs). One row per
    * layout: zones and rows scanned vs skipped, in counts and floor
    * per-mille. The sorted layout should skip ~96% of zones; the hash
    * layout ~0% — the number that justifies paying the rewrite sort.
    *
    * The global ntile sort is the simulated REWRITE cost, not scan
    * cost (a real rewrite pays one range-partitioned sort, exactly
    * like q74's z-order build); everything downstream is a
    * [[ZoneCount]]-row aggregate. */
  def zonemapAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").as("d"))
    val zoned = li
      .withColumn("zone_sorted",
        ntile(ZoneCount.toInt).over(
          Window.orderBy(col("d"), col("l_orderkey"), col("l_linenumber"))))
      .withColumn("zone_hash",
        expr(s"cast(conv(substring(md5(cast(l_orderkey as string) || '#' ||" +
          s" cast(l_linenumber as string)), 1, 15), 16, 10) as bigint)" +
          s" % $ZoneCount"))
    def audit(zoneCol: String, name: String) = zoned
      .groupBy(col(zoneCol).as("zone"))
      .agg(count(lit(1)).as("rows"), min("d").as("lo"), max("d").as("hi"))
      .agg(count(lit(1)).as("n_zones"),
        sum(when(col("hi") < lit(ZoneLo).cast("date") ||
          col("lo") > lit(ZoneHi).cast("date"), 1L).otherwise(0L))
          .as("zones_skipped"),
        sum(when(col("hi") < lit(ZoneLo).cast("date") ||
          col("lo") > lit(ZoneHi).cast("date"), 0L).otherwise(col("rows")))
          .as("rows_scanned"),
        sum("rows").as("rows_total"))
      .select(lit(name).as("layout"), col("n_zones"), col("zones_skipped"),
        col("rows_scanned"), col("rows_total"),
        expr("(1000 * zones_skipped) div n_zones").as("zone_skip_pm"),
        expr("(1000 * rows_scanned) div rows_total").as("scan_pm"))
    audit("zone_sorted", "sorted").unionByName(audit("zone_hash", "hash"))
      .orderBy("layout")
  }

  val zonemapAuditSql: String = {
    def one(zoneExpr: String, name: String) =
      s"""SELECT '$name' AS layout, count(*)::BIGINT AS n_zones,
         |  sum(CASE WHEN hi < DATE '$ZoneLo' OR lo > DATE '$ZoneHi'
         |    THEN 1 ELSE 0 END)::BIGINT AS zones_skipped,
         |  sum(CASE WHEN hi < DATE '$ZoneLo' OR lo > DATE '$ZoneHi'
         |    THEN 0 ELSE rows END)::BIGINT AS rows_scanned,
         |  sum(rows)::BIGINT AS rows_total,
         |  ((1000 * sum(CASE WHEN hi < DATE '$ZoneLo' OR lo > DATE '$ZoneHi'
         |    THEN 1 ELSE 0 END)) // count(*))::BIGINT AS zone_skip_pm,
         |  ((1000 * sum(CASE WHEN hi < DATE '$ZoneLo' OR lo > DATE '$ZoneHi'
         |    THEN 0 ELSE rows END)) // sum(rows))::BIGINT AS scan_pm
         |FROM (
         |  SELECT $zoneExpr AS zone, count(*)::BIGINT AS rows,
         |    min(d) AS lo, max(d) AS hi
         |  FROM zoned GROUP BY 1)""".stripMargin
    s"""WITH zoned AS (
       |  SELECT l_orderkey, l_linenumber, l_shipdate::DATE AS d,
       |    ntile($ZoneCount) OVER (
       |      ORDER BY l_shipdate::DATE, l_orderkey, l_linenumber)
       |      AS zone_sorted,
       |    ('0x' || substring(md5(l_orderkey::VARCHAR || '#' ||
       |      l_linenumber::VARCHAR), 1, 15))::BIGINT % $ZoneCount
       |      AS zone_hash
       |  FROM lineitem)
       |SELECT * FROM (
       |${one("zone_sorted", "sorted")}
       |UNION ALL
       |${one("zone_hash", "hash")})
       |ORDER BY layout""".stripMargin
  }

  // ---- q270: modularity audit of the near-dup graph ----------------------

  /** How much of the near-dup GRAPH STRUCTURE does each partition
    * scheme explain? — Newman modularity
    * `Q = Σ_p [e_p/m − (d_p/2m)²]` of two partitions of the q10 pair
    * graph: the connected components themselves (q56's clusters — the
    * upper bound, every edge internal by construction, so Q measures
    * pure cluster-size concentration) and the SOURCE partition (are
    * near-dups a within-feed phenomenon a per-feed crawler fix would
    * kill, or cross-feed mirroring that no single feed owns? — the
    * graph-structural sequel to q265's pair attribution). A source
    * modularity near the component ceiling says feed identity explains
    * the duplication; near zero says the mirrors span feeds.
    *
    * Integer-exact: the sum telescopes to one fused ratio
    * `Q = (4m·Σe_p − Σd_p²) / (4m²)`, published as a micro-unit
    * truncating division (numerator CAN go negative for a bad
    * partition; Spark `div` and DuckDB `//` both truncate toward
    * zero — DivSemanticsSpec pins it). Micro scaling keeps the
    * numerator ≤ 10⁶·4m² well inside Long for any m this side of
    * 10⁶ edges per partition-block; at larger m the same audit runs
    * per block.
    *
    * Scale shape: detector once (q56 persist discipline), components
    * ∝ collisions; degrees are one explode+groupBy over the pair
    * table; each scheme's Σe and Σd² are label-keyed aggregates of
    * those bounded tables. */
  def dedupModularity(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // pair-store read (shared detector run, see ensurePairStore)
    val pairs = PipelineQueries.storedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val m = pairs.count()
    val comp = graft.operators.ConnectedComponents
      .components(pairs, "doc_a", "doc_b", partitions = 8)
    val src = docs.select(col("doc_id"), col("source"))
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    def schemeRow(label: DataFrame, name: String, within: DataFrame) = {
      // label: (id, part); within: one row (we BIGINT)
      val d2 = deg.join(label, Seq("id"))
        .groupBy("part").agg(sum("deg").as("dp"))
        .agg(count(lit(1)).as("n_parts"), sum(expr("dp * dp")).as("d2"))
      within.crossJoin(broadcast(d2))
        .select(lit(name).as("scheme"), lit(m).as("n_edges"),
          col("n_parts"), col("we").as("within_edges"),
          expr(s"(1000000 * (4 * $m * we - d2)) div (4 * $m * $m)")
            .as("modularity_micro"))
    }
    val compLabel = comp.select(col("id"), col("comp").as("part"))
    val compWithin = pairs.agg(count(lit(1)).as("we"))
    val srcLabel = src.select(col("doc_id").as("id"), col("source").as("part"))
    val sa = src.toDF("doc_a", "src_a")
    val sb = src.toDF("doc_b", "src_b")
    val srcWithin = pairs.join(sa, "doc_a").join(sb, "doc_b")
      .agg(sum(when(col("src_a") === col("src_b"), 1L).otherwise(0L))
        .as("we"))
    val out = schemeRow(compLabel, "component", compWithin)
      .unionByName(schemeRow(srcLabel, "source", srcWithin))
      .orderBy("scheme")
    out.localCheckpoint(true)
  }

  val dedupModularitySql: String =
    s"""WITH RECURSIVE pairs AS (
       |${PipelineQueries.dedupMinhashSql}
       |),
       |und AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT u.b AS id, reach.r FROM reach JOIN und u ON u.a = reach.id),
       |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |m AS (SELECT count(*)::BIGINT AS m FROM pairs),
       |deg AS (SELECT a AS id, count(*)::BIGINT AS deg FROM und GROUP BY a),
       |compd AS (
       |  SELECT count(*)::BIGINT AS n_parts, sum(dp * dp)::BIGINT AS d2
       |  FROM (SELECT c.comp, sum(d.deg)::BIGINT AS dp
       |        FROM deg d JOIN comp c USING (id) GROUP BY c.comp)),
       |srcd AS (
       |  SELECT count(*)::BIGINT AS n_parts, sum(dp * dp)::BIGINT AS d2
       |  FROM (SELECT s.source, sum(d.deg)::BIGINT AS dp
       |        FROM deg d JOIN documents s ON s.doc_id = d.id
       |        GROUP BY s.source)),
       |srcw AS (
       |  SELECT sum(CASE WHEN sa.source = sb.source THEN 1 ELSE 0 END
       |    )::BIGINT AS we
       |  FROM pairs p
       |  JOIN documents sa ON sa.doc_id = p.doc_a
       |  JOIN documents sb ON sb.doc_id = p.doc_b)
       |SELECT * FROM (
       |  SELECT 'component' AS scheme, m.m AS n_edges, compd.n_parts,
       |    m.m AS within_edges,
       |    ((1000000 * (4 * m.m * m.m - compd.d2)) // (4 * m.m * m.m)
       |      )::BIGINT AS modularity_micro
       |  FROM m, compd
       |  UNION ALL
       |  SELECT 'source' AS scheme, m.m AS n_edges, srcd.n_parts,
       |    srcw.we AS within_edges,
       |    ((1000000 * (4 * m.m * srcw.we - srcd.d2)) // (4 * m.m * m.m)
       |      )::BIGINT AS modularity_micro
       |  FROM m, srcd, srcw)
       |ORDER BY scheme""".stripMargin

  // ---- q267: stream-stream LEFT OUTER join ------------------------------

  /** Far-future offset (micros) of the watermark-flush sentinel rows the
    * staged stream copy appends past the real data: 30 days, far beyond
    * the 1-minute watermark delay plus the 24 h join window. */
  val OuterFlushUs: Long = 30L * 86400000000L

  /** Staged copy of the events table with one sentinel 'click' and one
    * sentinel 'purchase' row (user_id = -1) [[OuterFlushUs]] past the
    * real max event time, written once per (dir, source-file
    * fingerprint) under java.io.tmpdir — same write-once discipline as
    * the q47 partitioned layout. The sentinels exist ONLY to advance
    * both sides' event-time watermarks past every real row when a
    * FINITE replay ends, so the outer join's null-padded results all
    * flush before the query stops; a production stream never needs
    * them (new data keeps the watermark moving — this is the standard
    * finite-replay trick, not an engine workaround). */
  private def ensureOuterStreamEvents(
      spark: SparkSession, dir: String): String =
    ensureSentinelEvents(spark, dir, OuterFlushUs)

  /** Generalized [[ensureOuterStreamEvents]]: the sentinel offset is a
    * parameter so gates with different watermark-delay contracts (q281
    * needs delay > the corpus's whole event-time span, hence a sentinel
    * farther out than [[OuterFlushUs]]) get their own staged copy; the
    * offset participates in the path tag so two gates never share a
    * mismatched layout. */
  private def ensureSentinelEvents(spark: SparkSession, dir: String,
      flushUs: Long): String = synchronized {
    val src = new java.io.File(s"$dir/events.parquet")
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$dir:${src.length}:${src.lastModified}:$flushUs"))
    val path = s"${sys.props("java.io.tmpdir")}/graft_outer_events_$tag"
    if (!new java.io.File(path, "_SUCCESS").exists) {
      val ev = eventsTsUs(spark, dir)
        .select("event_id", "ts_us", "user_id", "event_type", "value")
      val maxTs = ev.agg(max("ts_us")).head.getLong(0)
      val sentinels = spark.range(2).select(
        lit(-1L).as("event_id"),
        lit(maxTs + flushUs).as("ts_us"),
        lit(-1L).as("user_id"),
        when(col("id") === 0L, "click").otherwise("purchase")
          .as("event_type"),
        lit(0d).as("value"))
      ev.unionByName(sentinels).coalesce(1).write.mode("overwrite")
        .parquet(path)
    }
    path
  }

  /** The q46 attribution join with LEFT OUTER semantics — every
    * purchase emits, null-padded when the trailing 24 h held no click.
    * This is the genuinely different streaming capability: an inner
    * stream-stream join emits matches as they arrive, but an outer join
    * must PROVE the absence of a match before it can emit the null row,
    * and the only sound proof is watermark passage — a purchase at t
    * flushes null-padded once the click side's watermark passes t (no
    * click with c_ts ≤ t can still arrive). State stays bounded by
    * (watermark delay + 24 h) of rows per side, identical to q46; the
    * outer rows ride the same eviction that cleans that state.
    *
    * Determinism on a finite replay: the staged source appends
    * [[ensureOuterStreamEvents]]'s sentinel rows so the final watermark
    * provably passes every real purchase — without them, purchases in
    * the last (delay) of the stream would sit in state forever and the
    * result would depend on where the replay happened to end. With
    * them, the stream result equals the batch LEFT JOIN exactly, which
    * is what the oracle runs. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val staged = ensureOuterStreamEvents(spark, dir)
    def src = streamParquet(spark, staged)
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_ts").as("p_ts"), col("event_id"))
      .withWatermark("p_ts", "1 minute")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", "1 minute")
    val pairs = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 24 HOURS") &&
        col("c_ts") <= col("p_ts"),
      "leftOuter")
    val out = pairs
      .select(col("user_id"), unix_micros(col("p_ts")).as("purchase_ts_us"),
        col("event_id"), unix_micros(col("c_ts")).as("click_ts_us"),
        col("click_value"))
    // (user_id, ts) is unique per side → total order; sentinel rows out
    drain(out, "stream_outer_join_result", "append")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("purchase_ts_us"),
        col("click_ts_us").asc_nulls_first)
    }

  val streamOuterJoinSql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us, event_id
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS click_ts_us, value AS click_value
       |  FROM events WHERE event_type = 'click')
       |SELECT p.user_id AS user_id, p.purchase_ts_us, p.event_id,
       |       c.click_ts_us, c.click_value
       |FROM p LEFT JOIN c ON p.user_id = c.user_id
       |  AND c.click_ts_us > p.purchase_ts_us - $RangeWindowUs
       |  AND c.click_ts_us <= p.purchase_ts_us
       |ORDER BY user_id, purchase_ts_us, click_ts_us NULLS FIRST""".stripMargin

  // ---- q327: stream-stream LEFT SEMI join ------------------------------

  /** q267's interval join in its EXISTENCE form — "purchases preceded
    * by a click within 24 h", emitted ONCE per purchase regardless of
    * how many clicks matched: the streaming semi join. Worth its own
    * gate because the state/emission contract differs from both inner
    * and outer: a purchase emits on its FIRST match (no click columns
    * ever leave the operator, no duplicate emission on later
    * matches), and unmatched purchases are dropped at watermark
    * eviction rather than null-padded. Same staged sentinel corpus as
    * q267 (`ensureOuterStreamEvents` — amortized), same watermark
    * discipline, so the two gates isolate exactly the join-type
    * semantics. Oracle: EXISTS over the clean batch table.
    *
    * Scale shape: state ∝ in-window rows per side (identical to
    * q267); emission dedup is the operator's own, not a downstream
    * distinct. */
  def streamSemiJoin(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val staged = ensureOuterStreamEvents(spark, dir)
    def src = streamParquet(spark, staged)
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_ts").as("p_ts"), col("event_id"))
      .withWatermark("p_ts", "1 minute")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_ts").as("c_ts"))
      .withWatermark("c_ts", "1 minute")
    val matched = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 24 HOURS") &&
        col("c_ts") <= col("p_ts"),
      "leftSemi")
    drain(matched.select(col("user_id"),
        unix_micros(col("p_ts")).as("purchase_ts_us"), col("event_id")),
        "stream_semi_join_result", "append")
      .filter(col("user_id") =!= -1L)
      .orderBy(col("user_id"), col("purchase_ts_us"), col("event_id"))
    }

  val streamSemiJoinSql: String =
    s"""WITH p AS (
       |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS purchase_ts_us, event_id
       |  FROM events WHERE event_type = 'purchase')
       |SELECT p.user_id, p.purchase_ts_us, p.event_id
       |FROM p
       |WHERE EXISTS (
       |  SELECT 1 FROM events c
       |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
       |    AND epoch_us(c.ts::TIMESTAMP) > p.purchase_ts_us - $RangeWindowUs
       |    AND epoch_us(c.ts::TIMESTAMP) <= p.purchase_ts_us)
       |ORDER BY user_id, purchase_ts_us, event_id""".stripMargin
}
