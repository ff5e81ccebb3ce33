package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{SnapshotDiff, Validation}
import QueryUtil._

/** Data-quality operators over the warehouse tables: declarative
  * validation suites, keyed snapshot reconciliation, distribution-drift
  * detection (PSI), and robust rate-anomaly detection — the monitoring
  * layer a 100 TB ingest pipeline runs beside every load.
  *
  * Oracle conventions as everywhere (SURVEY §7.3): fixed-scale
  * rounding, identical aliases, explicit total ORDER BY; every
  * synthetic mutation (diff deltas, drift shifts, rate spikes) is a
  * single-IEEE-op function of the data so DuckDB reproduces it
  * bit-for-bit.
  */
object QualityQueries {

  // ---- q87: declarative validation suite -----------------------------

  val PriceLo = 0.0
  val PriceHi = 450000.0
  val StatusDomain = Seq("F", "O", "P")
  val PriorityDomain = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")

  /** Seven-constraint suite over `orders` (+ `customer` as the FK
    * dimension), compiled by [[graft.operators.Validation]] into one
    * aggregate scan (5 row checks + the uniqueness distinct) and one
    * broadcast anti-join. Two constraints FAIL on this data by design
    * (the price range cap and the 3-value priority domain) so the
    * report exercises both verdicts. */
  def validationSuite(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val cust = table(spark, dir, "customer")
    Validation.validate(o,
      rowChecks = Seq(
        Validation.notNull("o_custkey"),
        Validation.notNull("o_orderdate"),
        Validation.inRange("o_totalprice", PriceLo, PriceHi),
        Validation.inSet("o_orderstatus", StatusDomain),
        Validation.inSet("o_orderpriority", PriorityDomain)),
      uniqueChecks = Seq(Validation.UniqueCheck("o_orderkey")),
      fkChecks = Seq(Validation.FkCheck("o_custkey", cust, "c_custkey")))
  }

  val validationSuiteSql: String = {
    val status = StatusDomain.map(s => s"'$s'").mkString(", ")
    val prio = PriorityDomain.map(s => s"'$s'").mkString(", ")
    s"""WITH agg AS (
       |  SELECT
       |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_cust,
       |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_date,
       |    sum(CASE WHEN o_totalprice IS NOT NULL
       |             AND (o_totalprice < $PriceLo OR o_totalprice > $PriceHi)
       |        THEN 1 ELSE 0 END)::BIGINT AS v_range,
       |    sum(CASE WHEN o_orderstatus IS NOT NULL
       |             AND o_orderstatus NOT IN ($status)
       |        THEN 1 ELSE 0 END)::BIGINT AS v_set_status,
       |    sum(CASE WHEN o_orderpriority IS NOT NULL
       |             AND o_orderpriority NOT IN ($prio)
       |        THEN 1 ELSE 0 END)::BIGINT AS v_set_prio,
       |    (count(o_orderkey) - count(DISTINCT o_orderkey))::BIGINT AS v_unique
       |  FROM orders),
       |fk AS (
       |  SELECT count(*)::BIGINT AS v FROM orders o
       |  WHERE o_custkey IS NOT NULL AND NOT EXISTS (
       |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
       |SELECT check_name, violations, violations = 0 AS passed FROM (
       |  SELECT 'not_null:o_custkey' AS check_name, v_nn_cust AS violations FROM agg
       |  UNION ALL SELECT 'not_null:o_orderdate', v_nn_date FROM agg
       |  UNION ALL SELECT 'range:o_totalprice', v_range FROM agg
       |  UNION ALL SELECT 'set:o_orderstatus', v_set_status FROM agg
       |  UNION ALL SELECT 'set:o_orderpriority', v_set_prio FROM agg
       |  UNION ALL SELECT 'unique:o_orderkey', v_unique FROM agg
       |  UNION ALL SELECT 'fk:o_custkey', v FROM fk)
       |ORDER BY check_name""".stripMargin
  }

  // ---- q88: snapshot diff (CDC reconciliation) -----------------------

  val DiffAddedMod = 103   // keys missing from base  → "added" in current
  val DiffRemovedMod = 101 // keys missing from current → "removed"
  val DiffChangedMod = 97  // keys price-bumped in current → "changed"
  val DiffPriceBump = 1.5

  /** Digest over the engine-deterministic renderings only: strings and
    * a cent-quantized BIGINT for the price — never a raw double→string
    * cast (whose text form is engine-specific). */
  private def orderDigest: Column = SnapshotDiff.rowDigest(Seq(
    col("o_orderstatus"), col("o_orderpriority"),
    floor(col("o_totalprice") * lit(100d)).cast("long")))

  /** Two deterministic snapshots derived from `orders` — base drops the
    * `%$DiffAddedMod` keys (so current "adds" them), current drops the
    * `%$DiffRemovedMod` keys and bumps the `%$DiffChangedMod` prices —
    * reconciled by [[SnapshotDiff.summarize]]: digests shuffle, payloads
    * don't. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val base = o.filter(col("o_orderkey") % DiffAddedMod =!= 0)
    val current = o.filter(col("o_orderkey") % DiffRemovedMod =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % DiffChangedMod === 0,
          col("o_totalprice") + lit(DiffPriceBump))
        .otherwise(col("o_totalprice")))
    SnapshotDiff.summarize(base, current, "o_orderkey", orderDigest)
  }

  val snapshotDiffSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS key,
       |    md5(concat_ws('|', o_orderstatus, o_orderpriority,
       |      floor(o_totalprice * 100)::BIGINT)) AS d
       |  FROM orders WHERE o_orderkey % $DiffAddedMod <> 0),
       |cur AS (
       |  SELECT o_orderkey AS key,
       |    md5(concat_ws('|', o_orderstatus, o_orderpriority,
       |      floor((CASE WHEN o_orderkey % $DiffChangedMod = 0
       |             THEN o_totalprice + $DiffPriceBump
       |             ELSE o_totalprice END) * 100)::BIGINT)) AS d
       |  FROM orders WHERE o_orderkey % $DiffRemovedMod <> 0),
       |j AS (
       |  SELECT coalesce(base.key, cur.key) AS key,
       |    CASE WHEN base.d IS NULL THEN 'added'
       |         WHEN cur.d IS NULL THEN 'removed'
       |         WHEN base.d <> cur.d THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM base FULL OUTER JOIN cur ON base.key = cur.key)
       |SELECT status, count(*)::BIGINT AS n_rows,
       |  min(key) AS min_key, max(key) AS max_key
       |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ---- q89: distribution drift (PSI) ---------------------------------

  val DriftBuckets = 10
  val DriftScaleMod = 4    // every 4th key's price scaled ×1.2 in current
  val DriftScale = 1.2
  val DriftDropMod = 5     // every 5th 1-URGENT row dropped in current

  /** Population-stability-index drift report between a reference
    * snapshot (`orders` as-is) and a deterministically shifted current
    * one: a CONTINUOUS feature (`o_totalprice`, binned by the
    * reference's exact deciles from
    * [[graft.operators.ExactQuantile]] — the q78 equi-depth
    * construction, bounded memory at any scale) and a CATEGORICAL one
    * (`o_orderpriority`, categories as-is). One row per (feature,
    * bucket) with both sides' counts, fractions, and the signed PSI
    * term `(q−p)·ln(q/p)`; Σ psi_term per feature is the headline PSI
    * (> 0.1 = drifting, > 0.25 = severe, the industry convention).
    *
    * Scale: both sides are tagged and unioned BEFORE one aggregation,
    * so each side is scanned once and partial aggregation collapses to
    * the ~15 bucket rows map-side; the decile boundaries cost
    * ExactQuantile's counter-bounded scans. The window totals run over
    * the 15-row aggregate, not the data. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val ref = o
    val cur = o
      .filter(!(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % DriftDropMod === 0))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % DriftScaleMod === 0,
          col("o_totalprice") * lit(DriftScale))
        .otherwise(col("o_totalprice")))

    val ps = (1 until DriftBuckets).map(_.toDouble / DriftBuckets)
    val qs = graft.operators.ExactQuantile.quantiles(ref, "o_totalprice", ps)
      .map(q => BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val contBucket = qs.foldLeft(lit(1)) { (acc, t) =>
      acc + when(col("o_totalprice") > lit(t), 1).otherwise(0)
    }

    def tagged(df: DataFrame, isRef: Int): DataFrame =
      df.select(
          lit("o_totalprice").as("feature"),
          format_string("d%02d", contBucket).as("bucket"),
          lit(isRef.toLong).as("r"), lit(1L - isRef).as("c"))
        .unionByName(df.select(
          lit("o_orderpriority").as("feature"),
          col("o_orderpriority").as("bucket"),
          lit(isRef.toLong).as("r"), lit(1L - isRef).as("c")))

    val g = tagged(ref, 1).unionByName(tagged(cur, 0))
      .groupBy("feature", "bucket")
      .agg(sum("r").as("n_ref"), sum("c").as("n_cur"))
    val w = Window.partitionBy("feature")
    val pRef = col("n_ref").cast("double") / sum("n_ref").over(w)
    val pCur = col("n_cur").cast("double") / sum("n_cur").over(w)
    g.select(col("feature"), col("bucket"), col("n_ref"), col("n_cur"),
        r6(pRef).as("p_ref"), r6(pCur).as("p_cur"),
        r6((pCur - pRef) * log(pCur / pRef)).as("psi_term"))
      .orderBy("feature", "bucket")
  }

  val psiDriftSql: String = {
    val ps = (1 until DriftBuckets)
      .map(i => (i.toDouble / DriftBuckets).toString).mkString(",")
    val curPrice = s"CASE WHEN o_orderkey % $DriftScaleMod = 0 " +
      s"THEN o_totalprice * $DriftScale ELSE o_totalprice END"
    def bucketOf(p: String) =
      s"printf('d%02d', (1 + list_sum(list_transform(b.qs, " +
        s"q -> CASE WHEN $p > q THEN 1 ELSE 0 END)))::INT)"
    s"""WITH b AS (
       |  SELECT list_transform(quantile_cont(o_totalprice, [$ps]),
       |    t -> round(t, 6)) AS qs
       |  FROM orders),
       |ref AS (SELECT o_totalprice AS p, o_orderpriority AS pr FROM orders),
       |cur AS (
       |  SELECT $curPrice AS p, o_orderpriority AS pr FROM orders
       |  WHERE NOT (o_orderpriority = '1-URGENT'
       |             AND o_orderkey % $DriftDropMod = 0)),
       |t AS (
       |  SELECT 'o_totalprice' AS feature, ${bucketOf("ref.p")} AS bucket,
       |    1 AS r, 0 AS c FROM ref CROSS JOIN b
       |  UNION ALL SELECT 'o_totalprice', ${bucketOf("cur.p")}, 0, 1
       |    FROM cur CROSS JOIN b
       |  UNION ALL SELECT 'o_orderpriority', pr, 1, 0 FROM ref
       |  UNION ALL SELECT 'o_orderpriority', pr, 0, 1 FROM cur),
       |g AS (
       |  SELECT feature, bucket, sum(r)::BIGINT AS n_ref,
       |    sum(c)::BIGINT AS n_cur
       |  FROM t GROUP BY 1, 2)
       |SELECT feature, bucket, n_ref, n_cur,
       |  round(n_ref::DOUBLE / sum(n_ref) OVER (PARTITION BY feature), 6) AS p_ref,
       |  round(n_cur::DOUBLE / sum(n_cur) OVER (PARTITION BY feature), 6) AS p_cur,
       |  round((n_cur::DOUBLE / sum(n_cur) OVER (PARTITION BY feature)
       |         - n_ref::DOUBLE / sum(n_ref) OVER (PARTITION BY feature))
       |    * ln((n_cur::DOUBLE / sum(n_cur) OVER (PARTITION BY feature))
       |         / (n_ref::DOUBLE / sum(n_ref) OVER (PARTITION BY feature))), 6)
       |    AS psi_term
       |FROM g ORDER BY feature, bucket""".stripMargin
  }

  // ---- q137: streaming drift monitor (PSI as stream state) -----------

  /** q89's PSI drift report with the CURRENT snapshot arriving as a
    * STREAM — the production drift monitor: the reference deciles and
    * counts are computed batch-side ONCE (the frozen baseline every
    * monitor pins at deploy time), the live side folds into a
    * streaming aggregate whose keyed state is exactly the per-(feature,
    * bucket) count table — ~15 rows TOTAL whatever the stream volume,
    * the "state = the report" pattern (q97/q118/q125); the PSI math
    * then runs over the joined 15-row frames. Gate = q89's oracle
    * VERBATIM: the stream must land on the identical drift report.
    *
    * Note the ordering contract this encodes: bucket BOUNDARIES come
    * from the frozen reference (never the stream), so the monitor's
    * bins are stable across micro-batches — the property that makes
    * PSI values comparable over time. */
  def streamPsiDrift(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
      val o = table(spark, dir, "orders")
      val ps = (1 until DriftBuckets).map(_.toDouble / DriftBuckets)
      val qs = graft.operators.ExactQuantile.quantiles(o, "o_totalprice", ps)
        .map(q => BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      def contBucket(price: org.apache.spark.sql.Column) =
        qs.foldLeft(lit(1)) { (acc, t) =>
          acc + when(price > lit(t), 1).otherwise(0)
        }
      def tagged(df: DataFrame): DataFrame =
        df.select(lit("o_totalprice").as("feature"),
            format_string("d%02d", contBucket(col("o_totalprice"))).as("bucket"))
          .unionByName(df.select(lit("o_orderpriority").as("feature"),
            col("o_orderpriority").as("bucket")))
      // frozen reference side (batch)
      val ref = tagged(o).groupBy("feature", "bucket")
        .agg(count(lit(1)).as("n_ref"))
      // live side: the deterministically shifted current snapshot, as a
      // stream; state = the (feature, bucket) count table
      val cur = streamParquet(spark, s"$dir/orders.parquet")
        .filter(!(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderkey") % DriftDropMod === 0))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % DriftScaleMod === 0,
            col("o_totalprice") * lit(DriftScale))
          .otherwise(col("o_totalprice")))
      val curCounts = drain(tagged(cur).groupBy("feature", "bucket")
        .agg(count(lit(1)).as("n_cur")), "stream_psi_cur", "complete")
      val g = ref.join(curCounts, Seq("feature", "bucket"), "full_outer")
        .select(col("feature"), col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      val w = Window.partitionBy("feature")
      val pRef = col("n_ref").cast("double") / sum("n_ref").over(w)
      val pCur = col("n_cur").cast("double") / sum("n_cur").over(w)
      g.select(col("feature"), col("bucket"), col("n_ref"), col("n_cur"),
          r6(pRef).as("p_ref"), r6(pCur).as("p_cur"),
          r6((pCur - pRef) * log(pCur / pRef)).as("psi_term"))
        .orderBy("feature", "bucket")
    }

  /** Identical oracle to q89 — the streamed monitor must reproduce the
    * batch drift report exactly. */
  def streamPsiDriftSql: String = psiDriftSql

  // ---- q90: robust rate-anomaly detection (median + MAD) -------------

  val SpikeEvery = 50   // every 50th hour's count spiked …
  val SpikeFactor = 5   // … ×5 (the injected incident)
  val MadZ = 3.5        // |0.6745·(x−med)/mad| > 3.5 → anomalous
  val MadScale = 0.6745

  /** Hourly event-rate anomaly detection per event type, on the robust
    * median/MAD z-score (outlier-proof where mean/stddev is not — the
    * spike itself would inflate a stddev-based threshold). A
    * deterministic ×[[SpikeFactor]] spike is injected every
    * [[SpikeEvery]]th hour so the detector provably fires.
    *
    * Scale: raw events collapse to the (type, hour) aggregate in one
    * scan — the series table is bounded by time span × type domain, so
    * it is persisted and the two grouped-median passes
    * ([[graft.operators.ExactQuantile.groupedQuantiles]]: bounded
    * memory, never a per-group value buffer) run over the tiny
    * aggregate, not the raw events. `mad = 0` degenerates to
    * "anomalous iff ≠ median" (the standard fallback). The persisted
    * scratch is released by the harness cache clear, as q10/q68. */
  def rateAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    anomalyReport(spark, ev
      .groupBy(col("event_type"), eventHourEpoch(ev).as("hr"))
      .agg(count(lit(1)).as("n")))
  }

  /** q90's detector body, from the (event_type, hr, n) hourly series —
    * shared with the q157 streaming twin, whose hourly table arrives
    * from streaming state instead of a batch aggregate. */
  private[queries] def anomalyReport(
      spark: SparkSession, hourlyCounts: DataFrame): DataFrame = {
    import spark.implicits._
    val hourly = hourlyCounts
      .withColumn("cnt",
        (col("n") * when(expr(s"pmod(hr div 3600, $SpikeEvery) = 0"),
          SpikeFactor).otherwise(1)).cast("double"))
      .drop("n")
      .persist()

    val med = graft.operators.ExactQuantile
      .groupedQuantiles(hourly, "event_type", "cnt", Seq(0.5))
      .toSeq.map { case (g, s) => (g.asInstanceOf[String], s.head) }
      .toDF("event_type", "med")
    val dev = hourly.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cnt") - col("med")))
    val mad = graft.operators.ExactQuantile
      .groupedQuantiles(dev, "event_type", "dev", Seq(0.5))
      .toSeq.map { case (g, s) => (g.asInstanceOf[String], s.head) }
      .toDF("event_type", "mad")

    dev.join(broadcast(mad), "event_type")
      .withColumn("anom",
        when(col("mad") === 0d, col("cnt") =!= col("med"))
          .otherwise(lit(MadScale) * col("dev") / col("mad") > MadZ))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        r6(min(col("med"))).as("median"),
        r6(min(col("mad"))).as("mad"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy("event_type")
  }

  // ---- q157: streaming rate-anomaly monitor ---------------------------

  /** q90's robust anomaly detector with the hourly series arriving as a
    * STREAM — the monitoring deployment shape: the per-(type, hour)
    * count table is an ordinary streaming aggregate whose keyed state
    * IS the bounded series (time span × type domain — the
    * q97/q118/q137 "state = the report" pattern; an unbounded
    * deployment adds a watermark to retire closed hours), and the
    * median/MAD thresholds + anomaly flags run batch-side over that
    * state table. The oracle is [[rateAnomaliesSql]] VERBATIM — the
    * stream must land on the identical anomaly report, so a dropped
    * event, a mis-bucketed hour, or threshold drift all fail the
    * hash. */
  def streamRateAnomalies(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
      val src = streamParquet(spark, s"$dir/events.parquet")
      val hourly = src
        .groupBy(col("event_type"), eventHourEpoch(src).as("hr"))
        .agg(count(lit(1)).as("n"))
      anomalyReport(spark, drain(hourly, "stream_rate_hourly", "complete"))
    }

  def streamRateAnomaliesSql: String = rateAnomaliesSql

  // ---- q97: streaming validation -------------------------------------

  val StreamValueHi = 400.0
  val StreamTypeDomain = Seq("click", "purchase", "signup", "view")

  /** The q87 validation suite's row-local checks run AS A STREAM —
    * constraint violation counts as a global streaming aggregate over
    * the events file stream (complete mode, AvailableNow). This is
    * validation-at-ingest: the same `Validation.RowCheck` compilation
    * (each check one `sum(when(...))` in ONE aggregate), the same
    * bounded state (one long per check — streaming state is the report
    * itself), no second batch pass over landed data. Two checks fail
    * by design (the 400-cap on `value` and the 4-value type domain —
    * `error` rows violate it); `user_id` nulls pass at zero.
    * QualityQueriesSpec pins stream == batch compilation. */
  def streamValidation(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
      val src = streamParquet(spark, s"$dir/events.parquet")
      val checks = streamChecks
      val aggs = checks.map(rc =>
        sum(when(rc.violation, lit(1L)).otherwise(lit(0L))).as(rc.name))
      val entries = checks.map(rc =>
        struct(lit(rc.name).as("check_name"),
          coalesce(col(s"`${rc.name}`"), lit(0L)).as("violations")))
      val report = src.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(entries: _*)).as("e"))
        .select(col("e.check_name"), col("e.violations"),
          (col("e.violations") === 0L).as("passed"))
      drain(report, "stream_validation_result", "complete").orderBy("check_name")
    }

  /** Shared by the streaming query and the spec's batch twin. */
  private[queries] def streamChecks: Seq[Validation.RowCheck] = Seq(
    Validation.notNull("user_id"),
    Validation.inRange("value", 0.0, StreamValueHi),
    Validation.inSet("event_type", StreamTypeDomain))

  val streamValidationSql: String = {
    val types = StreamTypeDomain.map(s => s"'$s'").mkString(", ")
    s"""WITH agg AS (
       |  SELECT
       |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn,
       |    sum(CASE WHEN value IS NOT NULL
       |             AND (value < 0.0 OR value > $StreamValueHi)
       |        THEN 1 ELSE 0 END)::BIGINT AS v_range,
       |    sum(CASE WHEN event_type IS NOT NULL
       |             AND event_type NOT IN ($types)
       |        THEN 1 ELSE 0 END)::BIGINT AS v_set
       |  FROM events)
       |SELECT check_name, violations, violations = 0 AS passed FROM (
       |  SELECT 'not_null:user_id' AS check_name, v_nn AS violations FROM agg
       |  UNION ALL SELECT 'range:value', v_range FROM agg
       |  UNION ALL SELECT 'set:event_type', v_set FROM agg)
       |ORDER BY check_name""".stripMargin
  }

  val rateAnomaliesSql: String =
    s"""WITH h AS (
       |  SELECT event_type, epoch(date_trunc('hour', ts))::BIGINT AS hr,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |h2 AS (
       |  SELECT event_type, hr,
       |    (n * CASE WHEN (hr // 3600) % $SpikeEvery = 0
       |         THEN $SpikeFactor ELSE 1 END)::DOUBLE AS cnt
       |  FROM h),
       |m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
       |      FROM h2 GROUP BY 1),
       |d AS (SELECT h2.event_type, cnt, med, abs(cnt - med) AS dev
       |      FROM h2 JOIN m USING (event_type)),
       |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
       |       FROM d GROUP BY 1)
       |SELECT d.event_type, count(*)::BIGINT AS n_hours,
       |  round(min(med), 6) AS median, round(min(mad), 6) AS mad,
       |  sum(CASE WHEN CASE WHEN mad = 0 THEN cnt <> med
       |           ELSE ($MadScale * dev) / mad > $MadZ END
       |      THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
       |FROM d JOIN md USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q132: deletion-request cascade audit (right-to-be-forgotten) --

  /** Deterministic deletion cohort: every `% 37` customer key. */
  val ForgetMod = 37

  /** GDPR-style delete propagation across the referential chain
    * customer → orders → lineitem, with the audit every compliance
    * pipeline must produce: per table, rows before / purged / after,
    * and a RESIDUAL count (rows still referencing a deleted ancestor —
    * pinned 0; a nonzero residual is the "we missed a foreign key"
    * finding), plus the exact key checksum of the purged set so the
    * purge is re-derivable.
    *
    * Scale shape: the cascade is key-only — deletion keys project to
    * (key) before any join, each level purges via one semi/anti join
    * on its foreign key (AQE broadcasts the request list when small,
    * co-partitioned hash otherwise), and payloads never move. The
    * residual audit reuses the same semi-join shape against the
    * post-purge tables. */
  def forgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer").select(col("c_custkey"))
    val orders = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = table(spark, dir, "lineitem").select(col("l_orderkey"))
    val delCust = cust.filter(col("c_custkey") % ForgetMod === 0)
    val delOrders = orders.join(delCust,
      orders("o_custkey") === delCust("c_custkey"), "semi")
    val liPurged = li.join(delOrders,
      li("l_orderkey") === delOrders("o_orderkey"), "semi")
    val ordersAfter = orders.join(delCust,
      orders("o_custkey") === delCust("c_custkey"), "anti")
    val liAfter = li.join(delOrders,
      li("l_orderkey") === delOrders("o_orderkey"), "anti")
    def row(tbl: String, before: DataFrame, purged: DataFrame,
        after: DataFrame, residual: DataFrame, keyCol: String): DataFrame =
      before.agg(count(lit(1)).as("rows_before"))
        .crossJoin(purged.agg(count(lit(1)).as("rows_purged"),
          coalesce(sum(col(keyCol)), lit(0L)).as("purged_key_checksum")))
        .crossJoin(after.agg(count(lit(1)).as("rows_after")))
        .crossJoin(residual.agg(count(lit(1)).as("residual_rows")))
        .select(lit(tbl).as("table_name"), col("rows_before"),
          col("rows_purged"), col("rows_after"), col("residual_rows"),
          col("purged_key_checksum"))
    row("customer", cust, delCust, cust.join(delCust, Seq("c_custkey"), "anti"),
        cust.join(delCust, Seq("c_custkey"), "anti")
          .filter(col("c_custkey") % ForgetMod === 0), "c_custkey")
      .unionByName(row("orders", orders, delOrders, ordersAfter,
        ordersAfter.join(delCust,
          ordersAfter("o_custkey") === delCust("c_custkey"), "semi"),
        "o_orderkey"))
      .unionByName(row("lineitem", li, liPurged, liAfter,
        liAfter.join(delOrders,
          liAfter("l_orderkey") === delOrders("o_orderkey"), "semi"),
        "l_orderkey"))
      .orderBy("table_name")
  }

  val forgetAuditSql: String =
    s"""WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % $ForgetMod = 0),
       |delo AS (SELECT o_orderkey, o_custkey FROM orders
       |         WHERE o_custkey IN (SELECT c_custkey FROM delc)),
       |dell AS (SELECT l_orderkey FROM lineitem
       |         WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
       |ca AS (SELECT c_custkey FROM customer
       |       WHERE c_custkey NOT IN (SELECT c_custkey FROM delc)),
       |oa AS (SELECT o_orderkey, o_custkey FROM orders
       |       WHERE o_custkey NOT IN (SELECT c_custkey FROM delc)),
       |la AS (SELECT l_orderkey FROM lineitem
       |       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo)),
       |u AS (
       |  SELECT 'customer' AS table_name,
       |    (SELECT count(*) FROM customer)::BIGINT AS rows_before,
       |    (SELECT count(*) FROM delc)::BIGINT AS rows_purged,
       |    (SELECT count(*) FROM ca)::BIGINT AS rows_after,
       |    (SELECT count(*) FROM ca WHERE c_custkey % $ForgetMod = 0)::BIGINT
       |      AS residual_rows,
       |    (SELECT coalesce(sum(c_custkey), 0) FROM delc)::BIGINT
       |      AS purged_key_checksum
       |  UNION ALL
       |  SELECT 'orders',
       |    (SELECT count(*) FROM orders)::BIGINT,
       |    (SELECT count(*) FROM delo)::BIGINT,
       |    (SELECT count(*) FROM oa)::BIGINT,
       |    (SELECT count(*) FROM oa
       |     WHERE o_custkey IN (SELECT c_custkey FROM delc))::BIGINT,
       |    (SELECT coalesce(sum(o_orderkey), 0) FROM delo)::BIGINT
       |  UNION ALL
       |  SELECT 'lineitem',
       |    (SELECT count(*) FROM lineitem)::BIGINT,
       |    (SELECT count(*) FROM dell)::BIGINT,
       |    (SELECT count(*) FROM la)::BIGINT,
       |    (SELECT count(*) FROM la
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM delo))::BIGINT,
       |    (SELECT coalesce(sum(l_orderkey), 0) FROM dell)::BIGINT)
       |SELECT * FROM u ORDER BY table_name""".stripMargin

  // ---- q129: CUPED variance-reduced experiment readout ---------------

  /** Pre/post boundary: 2024-01-15T00:00:00Z epoch micros (weeks 1-2
    * are the pre-period covariate window). */
  val CupedSplitUs = 1705276800000000L

  /** CUPED experiment analysis (Deng et al. WSDM 2013) — the
    * variance-reduction every experimentation platform applies before
    * reading an A/B test: per user, metric Y = post-period cent spend,
    * covariate X = PRE-period cent spend (unaffected by treatment by
    * construction); θ = cov(X,Y)/var(X) pooled across arms, and the
    * adjusted metric Ŷ = Y − θ·(X − X̄) strips the between-user
    * variance X explains. Assignment is the deterministic identity
    * hash every platform uses (md5 bucket of user_id — never row
    * order). Moment sums are exact DECIMAL(38,0) integers (cent
    * products overflow a long at warehouse scale); θ and the adjusted
    * means take ONE double division each at the end, rounded to the
    * engine-neutral 6 decimals (q27's convention). The readout also
    * pins the variance-reduction ratio the method exists for:
    * `var_reduction_pm` = 1000·(1 − var(Ŷ)/var(Y)) pooled.
    *
    * Scale shape: one scan → per-user aggregate (map-side combined) →
    * one 5-long-moment global aggregate (a few hundred bytes however
    * many users) broadcast back into the per-arm rollup. Nothing
    * user-level ever reaches the driver. */
  def cupedReadout(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"),
        floor(col("value") * 100d).cast("long").as("cents"),
        (col("ts_us") < CupedSplitUs).as("pre"))
    val users = ev.groupBy("user_id")
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        when(substring(md5(concat(col("user_id").cast("string"), lit(":exp"))), 1, 1)
          .between("0", "7"), "A").otherwise("B"))
    val d38 = "decimal(38,0)"
    val g = users.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("x") * col("y")).cast(d38)).as("sxy"),
      sum((col("y") * col("y")).cast(d38)).as("syy"))
    val theta = expr(
      "cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)")
    val meanX = expr("cast(sx as double) / cast(n as double)")
    // pooled var(Ŷ)/var(Y) = 1 − cov²/(varX·varY) (= 1 − r²): exact
    // decimal moments, two double casts, one division
    val varRed = expr(
      """1000.0 * (cast(n * sxy - sx * sy as double)
        |          * cast(n * sxy - sx * sy as double))
        |  / (cast(n * sxx - sx * sx as double)
        |     * cast(n * syy - sy * sy as double))""".stripMargin)
    val gg = g.select(theta.as("theta"), meanX.as("mean_x"),
      floor(varRed).cast("long").as("var_reduction_pm"))
    users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x_cents"),
        sum(col("y")).as("sum_y_cents"))
      .crossJoin(gg)
      .select(col("variant"), col("n_users"),
        col("sum_x_cents"), col("sum_y_cents"),
        round(lit(1000000d) * col("theta")).cast("long").as("theta_micro"),
        r6(col("sum_y_cents") / col("n_users") / 100d).as("mean_y"),
        r6(col("sum_y_cents") / col("n_users") / 100d -
          col("theta") * (col("sum_x_cents") / col("n_users") / 100d -
            col("mean_x") / 100d)).as("mean_y_adj"),
        col("var_reduction_pm"))
      .orderBy("variant")
  }

  val cupedReadoutSql: String =
    s"""WITH e AS (
       |  SELECT user_id, floor(value * 100)::BIGINT AS cents,
       |    epoch_us(ts::TIMESTAMP) < $CupedSplitUs AS pre
       |  FROM events),
       |u AS (
       |  SELECT user_id,
       |    sum(CASE WHEN pre THEN cents ELSE 0 END)::BIGINT AS x,
       |    sum(CASE WHEN NOT pre THEN cents ELSE 0 END)::BIGINT AS y,
       |    CASE WHEN substring(md5(user_id::VARCHAR || ':exp'), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'A' ELSE 'B' END AS variant
       |  FROM e GROUP BY user_id),
       |g AS (
       |  SELECT count(*)::DECIMAL(38,0) AS n,
       |    sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(38,0)) AS sy,
       |    sum((x * x)::DECIMAL(38,0)) AS sxx,
       |    sum((x * y)::DECIMAL(38,0)) AS sxy,
       |    sum((y * y)::DECIMAL(38,0)) AS syy
       |  FROM u),
       |gg AS (
       |  SELECT
       |    (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS theta,
       |    sx::DOUBLE / n::DOUBLE AS mean_x,
       |    floor(1000.0 * ((n * sxy - sx * sy)::DOUBLE
       |                    * (n * sxy - sx * sy)::DOUBLE)
       |      / ((n * sxx - sx * sx)::DOUBLE
       |         * (n * syy - sy * sy)::DOUBLE))::BIGINT AS var_reduction_pm
       |  FROM g)
       |SELECT variant, count(*)::BIGINT AS n_users,
       |  sum(x)::BIGINT AS sum_x_cents, sum(y)::BIGINT AS sum_y_cents,
       |  round(1000000.0 * gg.theta)::BIGINT AS theta_micro,
       |  round(sum(y)::DOUBLE / count(*) / 100.0, 6) AS mean_y,
       |  round(sum(y)::DOUBLE / count(*) / 100.0
       |    - gg.theta * (sum(x)::DOUBLE / count(*) / 100.0
       |                  - gg.mean_x / 100.0), 6) AS mean_y_adj,
       |  gg.var_reduction_pm
       |FROM u CROSS JOIN gg
       |GROUP BY variant, gg.theta, gg.mean_x, gg.var_reduction_pm
       |ORDER BY variant""".stripMargin

  // ---- q147: deterministic Poisson bootstrap CI ----------------------

  /** Bootstrap replicas. */
  val BootB = 32
  /** Poisson(1) inverse-CDF thresholds in MILLIONTHS: u < t(k) ⇒
    * weight k (cumulative e⁻¹·Σ1/i!, truncated at 4 — P(X≥5) ≈ 0.37%).
    * Integer thresholds make the draw exact in both engines. */
  val BootPoisson: Seq[Long] = Seq(367879L, 735759L, 919699L, 981012L)

  /** Error bars for a pipeline metric without distributional
    * assumptions — the POISSON BOOTSTRAP (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): resampling
    * with replacement is impossible distributed (it needs global
    * coordination), but each row's multiplicity in replica b is
    * ~Poisson(1) independently, so every replica is ONE weighted
    * aggregate. Here the draw is DETERMINISTIC: the multiplicity of
    * event i in replica b inverts the Poisson CDF ([[BootPoisson]], in
    * exact millionths) at `h60(event_id:b) mod 10⁶` — reproducible
    * across engines, partitionings, and reruns, no RNG state.
    * Replica means are exact integer cents (`div`); the 90% interval
    * is the 2nd/31st of the [[BootB]] sorted replica means.
    *
    * Scale shape: one scan explodes ×[[BootB]] (a projection), one
    * shuffle to the (type, b) grid — 5·32 cells of two longs — then
    * the CI picks ranks inside a per-type 32-element sorted array.
    * At 100 TB the explode factor is the only cost knob (the Google
    * paper's regime: B=32 replicas of map-side-combinable sums). */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Hashing
    val w = BootPoisson.zipWithIndex.foldRight(lit(4L): Column) {
      case ((t, k), e) => when(col("u") < t, k.toLong).otherwise(e)
    }
    val reps = table(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * lit(100d)).cast("long").as("cents"))
      .withColumn("b", explode(expr(s"sequence(1L, ${BootB}L)")))
      .withColumn("u",
        Hashing.h60(concat(col("event_id"), lit(":"), col("b"))) % 1000000L)
      .withColumn("w", w)
      .groupBy("event_type", "b")
      .agg(sum(expr("w * cents")).as("wc"), sum("w").as("wn"))
      .select(col("event_type"), col("b"), expr("wc div wn").as("m"))
    val full = table(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        expr("sum(cast(floor(value * 100) as bigint)) div count(1)")
          .as("mean_cents"))
    reps.groupBy("event_type")
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .select(col("event_type"),
        element_at(col("ms"), 2).as("boot_lo_cents"),
        element_at(col("ms"), BootB - 1).as("boot_hi_cents"))
      .join(full, "event_type")
      .select(col("event_type"), col("n_events"), col("mean_cents"),
        col("boot_lo_cents"), col("boot_hi_cents"))
      .orderBy("event_type")
  }

  val bootstrapCiSql: String = {
    import graft.text.Hashing
    val wSql = BootPoisson.zipWithIndex.foldRight("4") {
      case ((t, k), e) => s"CASE WHEN u < $t THEN $k ELSE $e END"
    }
    s"""WITH x AS (
       |  SELECT event_type, event_id, floor(value * 100)::BIGINT AS cents,
       |    unnest(generate_series(1, $BootB)) AS b
       |  FROM events),
       |u AS (
       |  SELECT event_type, b, cents,
       |    ${Hashing.h60Sql("event_id::VARCHAR || ':' || b::VARCHAR")} % 1000000
       |      AS u
       |  FROM x),
       |r AS (
       |  SELECT event_type, b,
       |    (sum(($wSql) * cents) // sum($wSql))::BIGINT AS m
       |  FROM u GROUP BY event_type, b),
       |ci AS (
       |  SELECT event_type, list_sort(list(m)) AS ms FROM r GROUP BY event_type),
       |f AS (
       |  SELECT event_type, count(*)::BIGINT AS n_events,
       |    (sum(floor(value * 100)::BIGINT) // count(*))::BIGINT AS mean_cents
       |  FROM events GROUP BY event_type)
       |SELECT f.event_type, n_events, mean_cents,
       |  ms[2]::BIGINT AS boot_lo_cents, ms[${BootB - 1}]::BIGINT AS boot_hi_cents
       |FROM f JOIN ci ON f.event_type = ci.event_type
       |ORDER BY 1""".stripMargin
  }

  // ---- q176: k-anonymity / l-diversity audit --------------------------

  /** Anonymity threshold (a class smaller than K re-identifies). */
  val AnonK = 5L
  /** Diversity threshold (fewer than L sensitive values ⇒ homogeneity
    * attack). */
  val AnonL = 3L

  /** The privacy-release audit that must pass BEFORE a dataset ships
    * (Sweeney's k-anonymity + Machanavajjhala's l-diversity, the
    * compliance sibling of q132's deletion cascade): quasi-identifier
    * = (nation, market segment), sensitive attribute = account-balance
    * band; per equivalence class the audit needs only (size, distinct
    * sensitive values), and the report is the release decision — rows
    * in classes below [[AnonK]], classes below [[AnonL]] diversity,
    * and the worst class sizes. All exact integer counting.
    *
    * Scale shape: one scan → (QI, sensitive) aggregate → class
    * rollup; the report is one row however large the table. */
  def anonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer").select(
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal / 1000) as long)").as("band"))
    val classes = c.groupBy("nation", "seg")
      .agg(count(lit(1)).as("n"), countDistinct(col("band")).as("l"))
    classes.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("n")).as("min_class_size"),
        sum(when(col("n") < AnonK, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("n") < AnonK, col("n")).otherwise(0L)).as("rows_at_risk"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < AnonL, 1L).otherwise(0L)).as("classes_below_l"))
      .withColumn("k_anonymous", col("classes_below_k") === 0)
      .withColumn("l_diverse", col("classes_below_l") === 0)
  }

  val anonymityAuditSql: String =
    s"""WITH c AS (
       |  SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS seg,
       |    floor(c_acctbal / 1000)::BIGINT AS band
       |  FROM customer),
       |cl AS (
       |  SELECT nation, seg, count(*)::BIGINT AS n,
       |    count(DISTINCT band)::BIGINT AS l
       |  FROM c GROUP BY nation, seg)
       |SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
       |  min(n)::BIGINT AS min_class_size,
       |  sum(CASE WHEN n < $AnonK THEN 1 ELSE 0 END)::BIGINT AS classes_below_k,
       |  sum(CASE WHEN n < $AnonK THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
       |  min(l)::BIGINT AS min_l,
       |  sum(CASE WHEN l < $AnonL THEN 1 ELSE 0 END)::BIGINT AS classes_below_l,
       |  sum(CASE WHEN n < $AnonK THEN 1 ELSE 0 END) = 0 AS k_anonymous,
       |  sum(CASE WHEN l < $AnonL THEN 1 ELSE 0 END) = 0 AS l_diverse
       |FROM cl""".stripMargin

  // ---- q223: t-closeness audit ----------------------------------------

  /** t-closeness bound in per-mille (a class whose sensitive
    * distribution sits further than t from the global one leaks via
    * skewness even when k-anonymous AND l-diverse). */
  val TcloseT = 300L

  /** t-closeness (Li, Li, Venkatasubramanian ICDE'07) — the audit
    * q176's k-anonymity + l-diversity cannot replace: a class can be
    * large and diverse yet still leak because its sensitive
    * DISTRIBUTION differs from the table's (skewness attack). Per
    * equivalence class (nation, segment) over the account-balance
    * band, two exact integer distances to the global distribution:
    * variational (TVD, `Σ|p−q|/2`) and ordinal Earth-Mover's (the
    * paper's choice for ordered attributes,
    * `Σᵢ|CumPᵢ−CumQᵢ|/(m−1)`), both in per-mille via the
    * cross-multiplied form `|cnt_cb·N − cnt_b·n_c|` — no float ever
    * exists, so the oracle is hash-exact.
    *
    * Scale shape: one scan → (class, band) counts; the audit grid is
    * classes × bands — dimension-sized however large the fact table —
    * with global band counts and totals BROADCAST onto it; cumulative
    * sums run per class over the tiny band axis. (The cross-multiplied
    * integers bound at |classes·N·n_c| ≈ 2⁶³ for N ≈ 3·10⁹ per class —
    * beyond that the same query runs with per-mille pre-rounding.) */
  def tclosenessAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = table(spark, dir, "customer").select(
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal / 1000) as long)").as("band"))
    val cb = c.groupBy("nation", "seg", "band")
      .agg(count(lit(1)).as("cnt_cb"))
    val cls = cb.groupBy("nation", "seg").agg(sum("cnt_cb").as("n_c"))
    val gb = c.groupBy("band").agg(count(lit(1)).as("cnt_b"))
    val tot = gb.agg(sum("cnt_b").as("nn"), count(lit(1)).as("m"))
    val byBand = Window.partitionBy("nation", "seg").orderBy("band")
    val grid = cls
      .crossJoin(broadcast(gb))
      .join(cb, Seq("nation", "seg", "band"), "left")
      .na.fill(0L, Seq("cnt_cb"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_cb", sum("cnt_cb").over(byBand))
      .withColumn("cum_b", sum("cnt_b").over(byBand))
    val per = grid.groupBy("nation", "seg", "n_c", "nn", "m").agg(
      sum(abs(col("cnt_cb") * col("nn") - col("cnt_b") * col("n_c")))
        .as("tvd_num"),
      sum(abs(col("cum_cb") * col("nn") - col("cum_b") * col("n_c")))
        .as("emd_num"))
    per
      .select(col("nation"), col("seg"), col("n_c").as("n"),
        expr("(1000 * tvd_num) div (2 * n_c * nn)").as("tvd_permille"),
        expr("(1000 * emd_num) div (greatest(m - 1, 1) * n_c * nn)")
          .as("emd_permille"))
      .withColumn("pass",
        col("tvd_permille") <= TcloseT && col("emd_permille") <= TcloseT)
      .orderBy("nation", "seg")
  }

  val tclosenessAuditSql: String =
    s"""WITH c AS (
       |  SELECT c_nationkey::BIGINT AS nation, c_mktsegment AS seg,
       |    floor(c_acctbal / 1000)::BIGINT AS band
       |  FROM customer),
       |cb AS (
       |  SELECT nation, seg, band, count(*)::BIGINT AS cnt_cb
       |  FROM c GROUP BY 1, 2, 3),
       |cls AS (
       |  SELECT nation, seg, sum(cnt_cb)::BIGINT AS n_c
       |  FROM cb GROUP BY 1, 2),
       |gb AS (SELECT band, count(*)::BIGINT AS cnt_b FROM c GROUP BY 1),
       |tot AS (
       |  SELECT sum(cnt_b)::BIGINT AS nn, count(*)::BIGINT AS m FROM gb),
       |grid AS (
       |  SELECT cls.nation, cls.seg, cls.n_c, gb.band, gb.cnt_b,
       |    coalesce(cb.cnt_cb, 0)::BIGINT AS cnt_cb, tot.nn, tot.m
       |  FROM cls CROSS JOIN gb CROSS JOIN tot
       |  LEFT JOIN cb ON cb.nation = cls.nation AND cb.seg = cls.seg
       |    AND cb.band = gb.band),
       |cum AS (
       |  SELECT *,
       |    sum(cnt_cb) OVER (PARTITION BY nation, seg ORDER BY band)
       |      AS cum_cb,
       |    sum(cnt_b) OVER (PARTITION BY nation, seg ORDER BY band)
       |      AS cum_b
       |  FROM grid),
       |per AS (
       |  SELECT nation, seg, n_c, nn, m,
       |    sum(abs(cnt_cb * nn - cnt_b * n_c))::BIGINT AS tvd_num,
       |    sum(abs(cum_cb * nn - cum_b * n_c))::BIGINT AS emd_num
       |  FROM cum GROUP BY 1, 2, 3, 4, 5)
       |SELECT nation, seg, n_c AS n,
       |  ((1000 * tvd_num) // (2 * n_c * nn))::BIGINT AS tvd_permille,
       |  ((1000 * emd_num) // (greatest(m - 1, 1) * n_c * nn))::BIGINT
       |    AS emd_permille,
       |  (((1000 * tvd_num) // (2 * n_c * nn)) <= $TcloseT AND
       |   ((1000 * emd_num) // (greatest(m - 1, 1) * n_c * nn)) <= $TcloseT)
       |    AS pass
       |FROM per ORDER BY nation, seg""".stripMargin

  // ---- q225: two-sample Kolmogorov-Smirnov drift test ------------------

  /** `c(α)²·10⁴` for α = 0.05 (`c = √(ln(2/α)/2)`, c² = 1.8444):
    * the classic large-sample KS critical value. */
  val KsC2E4 = 18444L

  /** Pairwise exact two-sample KS test across event types on the
    * value distribution — the DISTRIBUTION-SHAPE drift detector the
    * family still lacked: PSI (q89/q137) and JSD (q180) need a
    * binning; KS is binning-free, `D = max_x |F_a(x) − F_b(x)|`,
    * computed EXACTLY on the pooled value grid in cross-multiplied
    * integers (`|cum_a·n_b − cum_b·n_a|` — no ratio ever forms). The
    * decision gate is the α=0.05 large-sample test at per-mille
    * resolution (`d_permille²·n_a·n_b > c²·10⁶·(n_a+n_b)/10⁴` — a
    * deterministic function of the floored statistic, documented as
    * such), so both engines agree bit-for-bit.
    *
    * Scale shape: one scan → (group, value) counts; pair expansion
    * joins against the BROADCAST group-pair table (G(G−1)/2 rows — a
    * dimension however big the fact table); the cumulative runs per
    * pair over the pooled distinct-value axis, partitioned by pair.
    * Cross-multiplied integers bound at n_a·n_b < 2⁶³ (n ≈ 3·10⁹ per
    * group); beyond that the same query runs on pre-quantized
    * per-mille ECDFs. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = table(spark, dir, "events")
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(
        sum(when(col("g") === col("src_a"), col("c")).otherwise(0L))
          .as("ca"),
        sum(when(col("g") === col("src_b"), col("c")).otherwise(0L))
          .as("cb"))
    val byV = Window.partitionBy("src_a", "src_b").orderBy("v")
    val d = pv
      .withColumn("cum_a", sum("ca").over(byV))
      .withColumn("cum_b", sum("cb").over(byV))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .as("dnum"))
    d.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        expr("(1000 * dnum) div (n_a * n_b)").as("d_permille"))
      .withColumn("reject",
        col("d_permille") * col("d_permille") * col("n_a") * col("n_b") >
          lit(KsC2E4 * 100L) * (col("n_a") + col("n_b")))
      .orderBy("src_a", "src_b")
  }

  val ksDriftSql: String =
    s"""WITH vals AS (
       |  SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
       |  FROM tot a JOIN tot b ON a.g < b.g),
       |pv AS (
       |  SELECT src_a, src_b, n_a, n_b, v,
       |    sum(CASE WHEN vals.g = src_a THEN c ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN vals.g = src_b THEN c ELSE 0 END)::BIGINT AS cb
       |  FROM pairs JOIN vals ON vals.g = src_a OR vals.g = src_b
       |  GROUP BY 1, 2, 3, 4, 5),
       |cum AS (
       |  SELECT src_a, src_b, n_a, n_b,
       |    sum(ca) OVER (PARTITION BY src_a, src_b ORDER BY v) AS cum_a,
       |    sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v) AS cum_b
       |  FROM pv),
       |d AS (
       |  SELECT src_a, src_b, n_a, n_b,
       |    max(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS dnum
       |  FROM cum GROUP BY 1, 2, 3, 4)
       |SELECT src_a, src_b, n_a, n_b,
       |  ((1000 * dnum) // (n_a * n_b))::BIGINT AS d_permille,
       |  (((1000 * dnum) // (n_a * n_b)) * ((1000 * dnum) // (n_a * n_b))
       |     * n_a * n_b > ${KsC2E4 * 100L} * (n_a + n_b)) AS reject
       |FROM d ORDER BY src_a, src_b""".stripMargin

  // ---- q239: mutual information (lang ↔ source) -------------------------

  /** How MUCH does language depend on source — the effect-size q230's
    * χ² only gates on: mutual information `Σ p·ln(p/(p_r·p_c))` in
    * integer MICRONATS (the NgramLM quantization contract: each cell
    * term is `round(10⁶·(ln(o·N) − ln(r·c)))` of INTEGER inputs, then
    * count-weighted and floor-divided by N — order-independent,
    * engine-exact under the same ≥10⁻⁴-from-boundary argument), plus
    * both marginal entropies and Theil's uncertainty coefficient
    * `U = MI/H(lang)` in per-mille: the "% of language uncertainty
    * the source explains" number a mixing plan actually uses.
    *
    * Scale: identical to q230 — one scan to the L×S cell table, then
    * marginal arithmetic; `o·N < 2⁵³` keeps the doubles exact to
    * ~10⁸ docs per cell. */
  def mutualInformation(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rm = cells.groupBy("lang").agg(sum("o").as("r"))
    val cm = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val mi = cells.join(broadcast(rm), "lang").join(broadcast(cm), "source")
      .crossJoin(broadcast(tot))
      .select((col("o") *
        round(lit(1e6) * (log(col("o") * col("n")) -
          log(col("r") * col("c")))).cast("long")).as("wt"))
      .agg(sum("wt").as("minum"))
    def entropy(m: org.apache.spark.sql.DataFrame, cnt: String) =
      m.crossJoin(broadcast(tot))
        .select((col(cnt) * round(lit(1e6) *
          (log(col("n")) - log(col(cnt)))).cast("long")).as("wt"))
        .agg(sum("wt").as("hnum"))
    val hl = entropy(rm, "r").withColumnRenamed("hnum", "hl")
    val hs = entropy(cm, "c").withColumnRenamed("hnum", "hs")
    tot.crossJoin(broadcast(mi)).crossJoin(broadcast(hl))
      .crossJoin(broadcast(hs))
      .select(col("n"),
        // near-independence can quantize MI a hair below zero; peel the
        // sign so truncating `div` and flooring `//` agree (q238's rule)
        expr("""CASE WHEN minum >= 0 THEN minum div n
                ELSE -((-minum) div n) END""").as("mi_micronats"),
        expr("hl div n").as("h_lang_micronats"),
        expr("hs div n").as("h_source_micronats"))
      .withColumn("u_lang_permille",
        expr("""CASE WHEN mi_micronats >= 0
                THEN (1000 * mi_micronats) div h_lang_micronats
                ELSE -((1000 * -mi_micronats) div h_lang_micronats) END"""))
  }

  val mutualInformationSql: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2),
       |rm AS (SELECT lang, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
       |cm AS (SELECT source, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
       |tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
       |mi AS (
       |  SELECT sum(o * round(1e6 * (ln(o * n) - ln(r * c)))::BIGINT)::BIGINT
       |    AS minum
       |  FROM cells JOIN rm USING (lang) JOIN cm USING (source), tot),
       |hl AS (
       |  SELECT sum(r * round(1e6 * (ln(n) - ln(r)))::BIGINT)::BIGINT AS hl
       |  FROM rm, tot),
       |hs AS (
       |  SELECT sum(c * round(1e6 * (ln(n) - ln(c)))::BIGINT)::BIGINT AS hs
       |  FROM cm, tot)
       |SELECT n,
       |  (CASE WHEN minum >= 0 THEN minum // n
       |        ELSE -((-minum) // n) END)::BIGINT AS mi_micronats,
       |  (hl // n)::BIGINT AS h_lang_micronats,
       |  (hs // n)::BIGINT AS h_source_micronats,
       |  (CASE WHEN minum >= 0
       |        THEN (1000 * (minum // n)) // (hl // n)
       |        ELSE -((1000 * ((-minum) // n)) // (hl // n))
       |   END)::BIGINT AS u_lang_permille
       |FROM tot, mi, hl, hs""".stripMargin

  // ---- q242: burstiness (variance-to-mean) audit ------------------------

  /** Overdispersion threshold in per-mille (Poisson ⇒ VMR ≈ 1000). */
  val BurstyVmrPermille = 1200L

  /** Index-of-dispersion audit over per-(user, day) event counts —
    * the burstiness question behind every rate-limit and
    * anomaly-threshold choice: Poisson arrivals have VMR = Var/mean
    * ≈ 1; campaign traffic, retries, and scrapers are OVERDISPERSED.
    * Counts are integers, so the statistic is exact:
    * `VMR‰ = 1000·(n·Σx² − (Σx)²) div ((n−1)·Σx)` — the numerator is
    * non-negative by Cauchy-Schwarz, no signed-division caveat. Cells
    * are ACTIVE user-days only (a zero-inflated variant would join
    * the user×day grid — documented choice, identical in SQL).
    *
    * Scale shape: one scan → (type, user, day) counts (map-side
    * combine), then a per-type 3-sum aggregate — G rows out. */
  def dispersionAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val cells = ev.select(col("event_type").as("g"), col("user_id"),
        expr(s"(${eventTsUsExpr(ev.schema, "ts")}) div 86400000000")
          .as("day"))
      .groupBy("g", "user_id", "day").agg(count(lit(1)).as("x"))
    cells.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("g").as("event_type"), col("n"),
        col("sx").as("total_events"),
        expr("(1000 * sx) div n").as("mean_milli"),
        expr("(1000 * (n * sxx - sx * sx)) div (greatest(n - 1, 1) * sx)")
          .as("vmr_permille"))
      .withColumn("bursty", col("vmr_permille") > BurstyVmrPermille)
      .orderBy("event_type")
  }

  val dispersionAuditSql: String =
    s"""WITH cells AS (
       |  SELECT event_type AS g, user_id,
       |    epoch(date_trunc('day', ts))::BIGINT AS day,
       |    count(*)::BIGINT AS x
       |  FROM events GROUP BY 1, 2, 3),
       |per AS (
       |  SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
       |    sum(x * x)::BIGINT AS sxx
       |  FROM cells GROUP BY 1)
       |SELECT g AS event_type, n, sx AS total_events,
       |  ((1000 * sx) // n)::BIGINT AS mean_milli,
       |  ((1000 * (n * sxx - sx * sx))
       |    // (greatest(n - 1, 1) * sx))::BIGINT AS vmr_permille,
       |  ((1000 * (n * sxx - sx * sx))
       |    // (greatest(n - 1, 1) * sx)) > $BurstyVmrPermille AS bursty
       |FROM per ORDER BY event_type""".stripMargin

  // ---- q238: Cohen's kappa (labeler agreement) --------------------------

  /** Chance-corrected agreement between the langid heuristic's
    * prediction and the labeled language — Cohen's κ, the
    * inter-annotator metric every labeling pipeline reports before
    * trusting a weak labeler (raw accuracy flatters any skewed label
    * distribution; κ subtracts the agreement chance would produce).
    * Exact rational arithmetic:
    * `κ = (N·Σdiag − Σᵢrᵢcᵢ) / (N² − Σᵢrᵢcᵢ)` reported in
    * floor-milli units, plus the raw-accuracy and chance terms so the
    * correction is auditable. One row however large the corpus.
    *
    * Scale shape: q15's confusion matrix is the only corpus-sized
    * work (one scan, argmax projection, (lang, pred) aggregate);
    * everything here is marginal arithmetic over the L×L cells.
    * (`N²` terms bound exactness at N ≤ 3·10⁹ docs; beyond, pre-scale
    * the marginals.) */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val docs = table(spark, dir, "documents")
    val toks = graft.Partitioning.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sums = TextStats.langMarkerSums(col("tok"))
      .map { case (lang, c) => c.as(s"sc_$lang") }
    val scored = toks.groupBy("doc_id", "lang").agg(sums.head, sums.tail: _*)
    val cells = scored.select(col("lang"),
        TextStats.langIdFromScores(
          TextStats.langMarkers.map { case (l, _) => l -> col(s"sc_$l") })
          .as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("o"))
    val rm = cells.groupBy("lang").agg(sum("o").as("r"))
    val cm = cells.groupBy("pred").agg(sum("o").as("c"))
    val chance = rm.join(cm, col("lang") === col("pred"))
      .agg(sum(col("r") * col("c")).as("rc"))
    val agree = cells.filter(col("lang") === col("pred"))
      .agg(coalesce(sum(col("o")), lit(0L)).as("diag"))
    val tot = cells.agg(sum(col("o")).as("n"))
    tot.crossJoin(broadcast(agree)).crossJoin(broadcast(chance))
      .select(col("n"), col("diag"),
        expr("(1000 * diag) div n").as("accuracy_milli"),
        expr("(1000 * rc) div (n * n)").as("chance_milli"),
        // symmetric truncation on a possibly-negative numerator (a
        // worse-than-chance labeler): Spark `div` truncates while
        // DuckDB `//` floors, so the sign is peeled off explicitly and
        // both engines divide non-negatives only
        expr("""CASE WHEN n * diag - rc >= 0
                THEN (1000 * (n * diag - rc)) div (n * n - rc)
                ELSE -((1000 * (rc - n * diag)) div (n * n - rc)) END""")
          .as("kappa_milli"))
  }

  val cohensKappaSql: String = {
    import graft.text.TextStats
    s"""WITH cells AS (
       |  SELECT lang, ${TextStats.langIdSql("text")} AS pred,
       |    count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2),
       |rm AS (SELECT lang, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
       |cm AS (SELECT pred, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
       |ch AS (
       |  SELECT sum(r * c)::BIGINT AS rc
       |  FROM rm JOIN cm ON rm.lang = cm.pred),
       |ag AS (
       |  SELECT coalesce(sum(o), 0)::BIGINT AS diag
       |  FROM cells WHERE lang = pred),
       |tot AS (SELECT sum(o)::BIGINT AS n FROM cells)
       |SELECT n, diag,
       |  ((1000 * diag) // n)::BIGINT AS accuracy_milli,
       |  ((1000 * rc) // (n * n))::BIGINT AS chance_milli,
       |  (CASE WHEN n * diag - rc >= 0
       |        THEN (1000 * (n * diag - rc)) // (n * n - rc)
       |        ELSE -((1000 * (rc - n * diag)) // (n * n - rc))
       |   END)::BIGINT AS kappa_milli
       |FROM tot, ag, ch""".stripMargin
  }

  // ---- q262: Cochran's Q across three weak labelers -----------------------

  /** χ²₀.₉₅ critical value for df = 2, milli. */
  val CochranCritMilli = 5991L

  /** Do the three cheap "is it English?" detectors differ in accuracy
    * AT ALL? — Cochran's Q, the k-labeler generalization of q252's
    * McNemar (running 3 pairwise McNemars would need a multiplicity
    * correction; Q is the one omnibus gate to run first). Labelers:
    * the q15 marker-argmax, the q252 stopword threshold, and a
    * recall-heavy "any en marker present" detector; the outcome bit is
    * agreement with the gold lang column.
    *
    * Exact: `Q = (k−1)·Σ_j(k·G_j − T)² / (k·(k·ΣL_i − ΣL_i²))` — per
    * -labeler correct counts G_j, per-document agreement counts L_i,
    * all integers, one floor milli division (denominator zero only if
    * every document is unanimous — guarded, flagged by Q = 0).
    *
    * Scale shape: one token scan → per-doc marker sums + stopword
    * count (map-side combine) → three bits per doc → one aggregate
    * over G_j moments and L_i moments. */
  def cochranQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val toks = graft.Partitioning.spread(
        table(spark, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sums = TextStats.langMarkerSums(col("tok"))
      .map { case (lang, c) => c.as(s"sc_$lang") } ++ Seq(
      count(lit(1)).as("n_tok"),
      sum(when(col("tok").isInCollection(TextStats.stopwords), 1L)
        .otherwise(0L)).as("n_stop"))
    val scored = toks.groupBy("doc_id", "lang").agg(sums.head, sums.tail: _*)
    val bits = scored.select(
      when((TextStats.langIdFromScores(
        TextStats.langMarkers.map { case (l, _) => l -> col(s"sc_$l") })
        === "en") === (col("lang") === "en"), 1L).otherwise(0L).as("x1"),
      when((expr("(1000 * n_stop) div n_tok") >= McNemarBPm)
        === (col("lang") === "en"), 1L).otherwise(0L).as("x2"),
      when((col("sc_en") >= 1L) === (col("lang") === "en"), 1L)
        .otherwise(0L).as("x3"))
      .withColumn("l", col("x1") + col("x2") + col("x3"))
    bits.agg(count(lit(1)).as("n_docs"),
        sum("x1").as("g_argmax"), sum("x2").as("g_stopword"),
        sum("x3").as("g_marker"),
        sum("l").as("sl"), sum(col("l") * col("l")).as("sll"))
      .withColumn("q_milli",
        expr("""(1000 * 2 * ((3 * g_argmax - sl) * (3 * g_argmax - sl)
                 + (3 * g_stopword - sl) * (3 * g_stopword - sl)
                 + (3 * g_marker - sl) * (3 * g_marker - sl)))
                div greatest(3 * (3 * sl - sll), 1)"""))
      .withColumn("reject", col("q_milli") > CochranCritMilli)
  }

  // lazy: McNemarBPm is defined later in this object; a strict val here
  // would capture its uninitialized 0 during object init
  lazy val cochranQSql: String = {
    import graft.text.TextStats
    val stop = TextStats.stopwords.map(s => s"'$s'").mkString(", ")
    val en = TextStats.langMarkers.toMap.apply("en")
      .map(m => s"'$m'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang, count(*)::BIGINT AS n_tok,
       |    sum(CASE WHEN tok IN ($stop) THEN 1 ELSE 0 END)::BIGINT
       |      AS n_stop,
       |    sum(CASE WHEN tok IN ($en) THEN 1 ELSE 0 END)::BIGINT AS sc_en
       |  FROM t GROUP BY 1, 2),
       |bits AS (
       |  SELECT
       |    CASE WHEN (${TextStats.langIdSql("doc.text")} = 'en')
       |              = (d.lang = 'en') THEN 1 ELSE 0 END AS x1,
       |    CASE WHEN ((1000 * d.n_stop) // d.n_tok >= $McNemarBPm)
       |              = (d.lang = 'en') THEN 1 ELSE 0 END AS x2,
       |    CASE WHEN (d.sc_en >= 1) = (d.lang = 'en') THEN 1 ELSE 0 END
       |      AS x3
       |  FROM d JOIN documents doc USING (doc_id)),
       |agg AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    sum(x1)::BIGINT AS g_argmax, sum(x2)::BIGINT AS g_stopword,
       |    sum(x3)::BIGINT AS g_marker,
       |    sum(x1 + x2 + x3)::BIGINT AS sl,
       |    sum((x1 + x2 + x3) * (x1 + x2 + x3))::BIGINT AS sll
       |  FROM bits)
       |SELECT n_docs, g_argmax, g_stopword, g_marker, sl, sll,
       |  ((1000 * 2 * ((3 * g_argmax - sl) * (3 * g_argmax - sl)
       |     + (3 * g_stopword - sl) * (3 * g_stopword - sl)
       |     + (3 * g_marker - sl) * (3 * g_marker - sl)))
       |    // greatest(3 * (3 * sl - sll), 1))::BIGINT AS q_milli,
       |  ((1000 * 2 * ((3 * g_argmax - sl) * (3 * g_argmax - sl)
       |     + (3 * g_stopword - sl) * (3 * g_stopword - sl)
       |     + (3 * g_marker - sl) * (3 * g_marker - sl)))
       |    // greatest(3 * (3 * sl - sll), 1)) > $CochranCritMilli
       |    AS reject
       |FROM agg""".stripMargin
  }

  // ---- q260: two-proportion power / sample-size audit --------------------

  /** `(z₀.₀₂₅ + z₀.₂)² · 10⁶ = (1.96 + 0.8416)²·10⁶` — the 80%-power,
    * two-sided-5% design constant. */
  val PowerZ2Micro = 7848961L

  /** Is the data ENOUGH to call the difference? — the power audit
    * behind every "source A looks worse than source B" claim: for
    * each source pair, the minimum per-group sample size to detect
    * the OBSERVED en-rate difference at 80% power / two-sided 5%
    * (`n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/(p₁−p₂)²`), against what the
    * pair actually has. An underpowered "difference" is noise wearing
    * a costume; this table says which dashboard gaps are real
    * questions and which need more data.
    *
    * Exactness: rates floor per-mille, variances and squared diffs in
    * micro, the design constant micro — `n_required` is one ceiling
    * division of non-negative integers
    * (`⌈Z²·V_micro / (10⁶·d²_micro)⌉`); zero observed difference
    * emits `n_required = 0` with `diff_zero` raised rather than a
    * division blow-up.
    *
    * Scale shape: one scan → G per-source rows; the pair fan-out is
    * G(G−1)/2 on the bounded source table. */
  def powerAudit(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
      .withColumn("p", expr("(1000 * k) div n"))
    val b = per.select(col("source").as("source_b"), col("n").as("n_b"),
      col("p").as("p_b"))
    per.select(col("source").as("source_a"), col("n").as("n_a"),
        col("p").as("p_a"))
      .join(b, col("source_a") < col("source_b"))
      .withColumn("v_micro", expr("p_a * (1000 - p_a) + p_b * (1000 - p_b)"))
      .withColumn("d2_micro",
        expr("(p_a - p_b) * (p_a - p_b)"))
      .withColumn("n_required",
        expr(s"""CASE WHEN d2_micro = 0 THEN 0
                 ELSE ($PowerZ2Micro * v_micro + 1000000 * d2_micro - 1)
                      div (1000000 * d2_micro) END"""))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("p_a").as("p_a_pm"), col("p_b").as("p_b_pm"),
        (col("p_a") - col("p_b")).as("diff_pm"), col("n_required"),
        (col("d2_micro") === 0L).as("diff_zero"),
        expr("d2_micro <> 0 AND least(n_a, n_b) >= " +
          s"($PowerZ2Micro * v_micro + 1000000 * d2_micro - 1) " +
          "div (1000000 * d2_micro)").as("powered"))
      .orderBy("source_a", "source_b")
  }

  val powerAuditSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*)::BIGINT AS n,
       |    ((1000 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))
       |      // count(*))::BIGINT AS p
       |  FROM documents GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    a.n AS n_a, b.n AS n_b, a.p AS p_a, b.p AS p_b,
       |    (a.p * (1000 - a.p) + b.p * (1000 - b.p))::BIGINT AS v_micro,
       |    ((a.p - b.p) * (a.p - b.p))::BIGINT AS d2_micro
       |  FROM per a JOIN per b ON a.source < b.source)
       |SELECT source_a, source_b, n_a, n_b, p_a AS p_a_pm, p_b AS p_b_pm,
       |  (p_a - p_b)::BIGINT AS diff_pm,
       |  (CASE WHEN d2_micro = 0 THEN 0
       |   ELSE ($PowerZ2Micro * v_micro + 1000000 * d2_micro - 1)
       |        // (1000000 * d2_micro) END)::BIGINT AS n_required,
       |  d2_micro = 0 AS diff_zero,
       |  d2_micro <> 0 AND least(n_a, n_b) >=
       |    ($PowerZ2Micro * v_micro + 1000000 * d2_micro - 1)
       |      // (1000000 * d2_micro) AS powered
       |FROM pairs ORDER BY source_a, source_b""".stripMargin

  // ---- q259: empirical-Bayes shrinkage of per-source rates ---------------

  /** Small sources have NOISY rates — a 40-doc feed at 55% en looks
    * different from a 4000-doc feed at 55% — and every per-source
    * dashboard ranks raw rates anyway. Beta-binomial empirical Bayes
    * fixes it: estimate the prior from the BETWEEN-source spread
    * (method of moments: `M = p̄(1−p̄)/s² − 1`, `a = p̄M`,
    * `b = (1−p̄)M`) and shrink each source toward the grand rate in
    * proportion to its size: `p̃ = (k + a)/(n + a + b)` — the
    * James-Stein move for rates.
    *
    * Quantization discipline: per-source rates floor per-mille, the
    * unweighted prior mean per-mille, the spread `s²` micro
    * (divisor S−1), M/a/b milli (documented two-stage floors, sign
    * handled by construction: if the moment estimate degenerates —
    * `s² = 0` or M ≤ 0, i.e. sources overdispersed beyond a binomial
    * — shrinkage is DISABLED (a = b = 0 ⇒ p̃ = raw) and the emitted
    * `prior_valid` flag says so rather than shipping a negative
    * pseudo-count.
    *
    * Scale shape: one scan → per-source (n, k); prior estimation and
    * shrinkage are G-row arithmetic with a broadcast 1-row prior. */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
      .withColumn("p_pm", expr("(1000 * k) div n"))
    val prior = per.agg(count(lit(1)).as("s"),
        sum("p_pm").as("sp"), sum(col("p_pm") * col("p_pm")).as("spp"))
      .select(col("s"),
        expr("sp div s").as("pbar_pm"),
        expr("""(s * spp - sp * sp) div (s * greatest(s - 1, 1))""")
          .as("s2_micro"))
      .withColumn("m_milli",
        expr("""CASE WHEN s2_micro > 0
                THEN (1000 * pbar_pm * (1000 - pbar_pm)) div s2_micro - 1000
                ELSE -1 END"""))
      .withColumn("prior_valid", col("m_milli") > 0L)
      .withColumn("a_milli",
        expr("CASE WHEN m_milli > 0 THEN (pbar_pm * m_milli) div 1000 " +
          "ELSE 0 END"))
      .withColumn("b_milli",
        expr("CASE WHEN m_milli > 0 " +
          "THEN ((1000 - pbar_pm) * m_milli) div 1000 ELSE 0 END"))
    per.crossJoin(broadcast(prior))
      .select(col("source"), col("n"), col("k"), col("p_pm").as("raw_pm"),
        expr("""(1000 * (1000 * k + a_milli))
                div (1000 * n + a_milli + b_milli)""").as("shrunk_pm"),
        col("pbar_pm"), col("a_milli"), col("b_milli"), col("prior_valid"))
      .orderBy("source")
  }

  val ebShrinkageSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*)::BIGINT AS n,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS k,
       |    ((1000 * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END))
       |      // count(*))::BIGINT AS p_pm
       |  FROM documents GROUP BY 1),
       |pr0 AS (
       |  SELECT count(*)::BIGINT AS s, sum(p_pm)::BIGINT AS sp,
       |    sum(p_pm * p_pm)::BIGINT AS spp
       |  FROM per),
       |pr1 AS (
       |  SELECT s, (sp // s)::BIGINT AS pbar_pm,
       |    ((s * spp - sp * sp) // (s * greatest(s - 1, 1)))::BIGINT
       |      AS s2_micro
       |  FROM pr0),
       |pr AS (
       |  SELECT s, pbar_pm, s2_micro,
       |    (CASE WHEN s2_micro > 0
       |      THEN (1000 * pbar_pm * (1000 - pbar_pm)) // s2_micro - 1000
       |      ELSE -1 END)::BIGINT AS m_milli
       |  FROM pr1),
       |pp AS (
       |  SELECT pbar_pm, m_milli > 0 AS prior_valid,
       |    (CASE WHEN m_milli > 0 THEN (pbar_pm * m_milli) // 1000
       |     ELSE 0 END)::BIGINT AS a_milli,
       |    (CASE WHEN m_milli > 0
       |     THEN ((1000 - pbar_pm) * m_milli) // 1000
       |     ELSE 0 END)::BIGINT AS b_milli
       |  FROM pr)
       |SELECT source, n, k, p_pm AS raw_pm,
       |  ((1000 * (1000 * k + a_milli))
       |    // (1000 * n + a_milli + b_milli))::BIGINT AS shrunk_pm,
       |  pbar_pm, a_milli, b_milli, prior_valid
       |FROM per CROSS JOIN pp ORDER BY source""".stripMargin

  // ---- q258: chi-square cell drill-down + Cramér's V ---------------------

  /** |standardized residual| > 2 flags a cell as driving the
    * dependence (the usual ±2σ reading); squared per-mille: 4·10³. */
  val ResidualFlagMilli = 4000L

  /** WHICH cells drive q230's rejection, and HOW BIG is the effect? —
    * the analyst's two follow-ups to any significant χ²: the per-cell
    * standardized residuals `(o − e)/√e` (which lang×source
    * combinations are over/under-represented) and Cramér's V (is the
    * dependence large or just detectable at this n). Residuals keep
    * the q239 root-avoidance form — signed squares
    * `sign(o·n − r·c)·(1000·(o·n − r·c)²) div (r·c·n)` in milli, so a
    * cell flags when the value exceeds [[ResidualFlagMilli]] (±2σ);
    * V² = χ²/(n·min(L−1, S−1)) is one more floor per-mille on
    * integers q230 already publishes.
    *
    * Scale shape: one scan → L×S cells; the full L×S grid (zero
    * cells included — an EMPTY cell can be the most informative
    * residual) and all arithmetic run on the bounded cell table. */
  def chi2CellDrilldown(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rm = cells.groupBy("lang").agg(sum("o").as("r"))
    val cm = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val lCount = cells.select("lang").distinct().count()
    val sCount = cells.select("source").distinct().count()
    val minDim = math.max(math.min(lCount - 1, sCount - 1), 1L)
    val grid = rm.crossJoin(broadcast(cm))
      .join(cells, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
      .withColumn("e_milli", expr("(1000 * r * c) div n"))
      .withColumn("res2_signed_milli",
        expr("""CASE WHEN o * n - r * c >= 0
                THEN (1000 * (o * n - r * c) * (o * n - r * c))
                     div (r * c * n)
                ELSE -((1000 * (o * n - r * c) * (o * n - r * c))
                       div (r * c * n)) END"""))
    val v2 = grid.agg(sum(abs(col("res2_signed_milli"))).as("chi2_milli"),
        max("n").as("nn"))
      .select(expr(s"chi2_milli div (nn * ${minDim}L)")
        .as("cramer_v2_permille"))
    grid.crossJoin(broadcast(v2))
      .select(col("lang"), col("source"), col("o"), col("e_milli"),
        col("res2_signed_milli"),
        (abs(col("res2_signed_milli")) > ResidualFlagMilli).as("flagged"),
        col("cramer_v2_permille"))
      .orderBy("lang", "source")
  }

  val chi2CellDrilldownSql: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2),
       |rm AS (SELECT lang, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
       |cm AS (SELECT source, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
       |tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
       |dims AS (
       |  SELECT greatest(least((SELECT count(*) FROM rm) - 1,
       |    (SELECT count(*) FROM cm) - 1), 1)::BIGINT AS mindim),
       |grid AS (
       |  SELECT rm.lang, cm.source, coalesce(cells.o, 0)::BIGINT AS o,
       |    rm.r, cm.c, tot.n,
       |    ((1000 * rm.r * cm.c) // tot.n)::BIGINT AS e_milli,
       |    (CASE WHEN coalesce(cells.o, 0) * tot.n - rm.r * cm.c >= 0
       |      THEN (1000 * (coalesce(cells.o, 0) * tot.n - rm.r * cm.c)
       |            * (coalesce(cells.o, 0) * tot.n - rm.r * cm.c))
       |        // (rm.r * cm.c * tot.n)
       |      ELSE -((1000 * (coalesce(cells.o, 0) * tot.n - rm.r * cm.c)
       |              * (coalesce(cells.o, 0) * tot.n - rm.r * cm.c))
       |        // (rm.r * cm.c * tot.n)) END)::BIGINT AS res2_signed_milli
       |  FROM rm CROSS JOIN cm
       |  LEFT JOIN cells ON cells.lang = rm.lang AND cells.source = cm.source
       |  CROSS JOIN tot),
       |v AS (
       |  SELECT (sum(abs(res2_signed_milli))
       |    // (max(n) * (SELECT mindim FROM dims)))::BIGINT
       |    AS cramer_v2_permille
       |  FROM grid)
       |SELECT lang, source, o, e_milli, res2_signed_milli,
       |  abs(res2_signed_milli) > $ResidualFlagMilli AS flagged,
       |  cramer_v2_permille
       |FROM grid CROSS JOIN v
       |ORDER BY lang, source""".stripMargin

  // ---- q252: McNemar paired-labeler test --------------------------------

  /** Stopword-ratio threshold (per-mille) for the weak "en" detector
    * McNemar pits against the langid heuristic. */
  val McNemarBPm = 60L

  /** χ²₀.₉₅ critical value for df = 1, milli. */
  val McNemarCritMilli = 3841L

  /** Is the langid heuristic SIGNIFICANTLY better than a dumb
    * stopword-threshold detector on the SAME documents? — McNemar's
    * test, the paired comparison q238's κ cannot make (κ grades one
    * labeler against gold; comparing two labelers by their separate
    * accuracies ignores that they err on the same rows). Only the
    * DISCORDANT pairs carry information: b = langid right/threshold
    * wrong, c = the reverse; `χ² = (|b−c|−1)²/(b+c)` with continuity
    * correction against χ²₁.
    *
    * Exact: b, c are counts; the statistic one floor milli division
    * of non-negatives. Labeler A is q15/q238's marker-score argmax,
    * labeler B is `stopword‰ ≥ [[McNemarBPm]]`, gold is the lang
    * column — all integer-exact per document.
    *
    * Scale shape: one token scan → per-doc marker sums + stopword
    * count (map-side combine), then a 4-cell aggregate. */
  def mcnemarTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val toks = graft.Partitioning.spread(
        table(spark, dir, "documents"), col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sums = TextStats.langMarkerSums(col("tok"))
      .map { case (lang, c) => c.as(s"sc_$lang") } ++ Seq(
      count(lit(1)).as("n_tok"),
      sum(when(col("tok").isInCollection(TextStats.stopwords), 1L)
        .otherwise(0L)).as("n_stop"))
    val scored = toks.groupBy("doc_id", "lang").agg(sums.head, sums.tail: _*)
    val flags = scored.select(
      (col("lang") === "en").as("gold"),
      (TextStats.langIdFromScores(
        TextStats.langMarkers.map { case (l, _) => l -> col(s"sc_$l") })
        === "en").as("pa"),
      (expr("(1000 * n_stop) div n_tok") >= McNemarBPm).as("pb"))
    flags.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pa") === col("gold"), 1L).otherwise(0L)).as("a_correct"),
        sum(when(col("pb") === col("gold"), 1L).otherwise(0L)).as("b_correct"),
        sum(when(col("pa") === col("gold") && col("pb") =!= col("gold"), 1L)
          .otherwise(0L)).as("n10"),
        sum(when(col("pa") =!= col("gold") && col("pb") === col("gold"), 1L)
          .otherwise(0L)).as("n01"))
      .withColumn("chi2_milli",
        expr("""(1000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1))
                div greatest(n10 + n01, 1)"""))
      .withColumn("reject", col("chi2_milli") > McNemarCritMilli)
  }

  val mcnemarTestSql: String = {
    import graft.text.TextStats
    val stop = TextStats.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, lang, count(*)::BIGINT AS n_tok,
       |    sum(CASE WHEN tok IN ($stop) THEN 1 ELSE 0 END)::BIGINT AS n_stop
       |  FROM t GROUP BY 1, 2),
       |f AS (
       |  SELECT (d.lang = 'en') AS gold,
       |    (${TextStats.langIdSql("doc.text")} = 'en') AS pa,
       |    ((1000 * d.n_stop) // d.n_tok >= $McNemarBPm) AS pb
       |  FROM d JOIN documents doc USING (doc_id)),
       |m AS (
       |  SELECT count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN pa = gold THEN 1 ELSE 0 END)::BIGINT AS a_correct,
       |    sum(CASE WHEN pb = gold THEN 1 ELSE 0 END)::BIGINT AS b_correct,
       |    sum(CASE WHEN pa = gold AND pb <> gold THEN 1 ELSE 0 END)::BIGINT
       |      AS n10,
       |    sum(CASE WHEN pa <> gold AND pb = gold THEN 1 ELSE 0 END)::BIGINT
       |      AS n01
       |  FROM f)
       |SELECT n_docs, a_correct, b_correct, n10, n01,
       |  ((1000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1))
       |    // greatest(n10 + n01, 1))::BIGINT AS chi2_milli,
       |  ((1000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1))
       |    // greatest(n10 + n01, 1)) > $McNemarCritMilli AS reject
       |FROM m""".stripMargin
  }

  // ---- q253: Kendall tau-b length-bias audit of BM25 ---------------------

  /** Is the BM25 ranking secretly a LENGTH ranking? — the classic
    * retrieval bias the b parameter exists to suppress: Kendall τ-b
    * between serve order and document length over the top-k. A strong
    * positive τ means long documents float regardless of term
    * relevance (b too low); strong negative means over-penalized
    * (b too high). q244 grades the order against relevance; this
    * checks WHAT the order is actually keyed on.
    *
    * Exact by enumeration: positions are unique, so only length ties
    * reduce the denominator; C, D, and tie counts come from the
    * k(k−1)/2 pair table (k = [[graft.queries.ScaleQueries.Bm25TopK]]
    * — bounded, the documented 2k-row tail of the ranking pipeline).
    * τ-b's square root is avoided the q243 way: signed
    * `τ² = sign(C−D)·(C−D)²/(n₀(n₀−n_ties))` in floor per-mille, with
    * τ-a = (C−D)/n₀ alongside (sign peeled).
    *
    * Scale shape: ranking + per-doc length are the corpus-sized
    * stages (one scan each, shared with q63); the pair join runs on
    * k rows. */
  def kendallLengthBias(spark: SparkSession, dir: String): DataFrame = {
    import ScaleQueries.{MinTermLen, Bm25TopK}
    val ranked = ScaleQueries.bm25(spark, dir)
      .withColumn("pos", row_number()
        .over(Window.orderBy(desc("bm25"), asc("doc_id"))).cast("long"))
    val dl = table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) >= MinTermLen)
      .groupBy("doc_id").agg(count(lit(1)).as("y"))
    val pts = ranked.join(dl, Seq("doc_id")).select("pos", "y")
    val b = pts.select(col("pos").as("pos_b"), col("y").as("y_b"))
    pts.join(b, col("pos") < col("pos_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("y") < col("y_b"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("y") > col("y_b"), 1L).otherwise(0L)).as("discordant"),
        sum(when(col("y") === col("y_b"), 1L).otherwise(0L)).as("ties_y"))
      .select(lit(Bm25TopK.toLong).as("k"), col("n_pairs"),
        col("concordant"), col("discordant"), col("ties_y"),
        expr("""CASE WHEN concordant >= discordant
                THEN (1000 * (concordant - discordant)) div n_pairs
                ELSE -((1000 * (discordant - concordant)) div n_pairs)
                END""").as("tau_a_milli"),
        expr("""CASE WHEN concordant >= discordant
                THEN (1000 * (concordant - discordant)
                      * (concordant - discordant))
                     div greatest(n_pairs * (n_pairs - ties_y), 1)
                ELSE -((1000 * (concordant - discordant)
                        * (concordant - discordant))
                       div greatest(n_pairs * (n_pairs - ties_y), 1))
                END""").as("tau2_signed_permille"))
  }

  val kendallLengthBiasSql: String = {
    import ScaleQueries.{Bm25Query, Bm25K1, Bm25B, Bm25TopK, MinTermLen}
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM documents),
       |ft AS (SELECT doc_id, term FROM toks
       |       WHERE length(term) >= $MinTermLen),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS y FROM ft GROUP BY doc_id),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT avg(y) FROM dl) AS avgdl),
       |tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ft
       |  WHERE term IN ($terms) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
       |       FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id AS doc_id,
       |    round(sum(
       |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |        * tf * ${Bm25K1 + 1}
       |        / (tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * y / avgdl))
       |    ), 6) AS bm25
       |  FROM tf
       |  JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY tf.doc_id),
       |ranked AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS pos
       |  FROM scored ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
       |pts AS (SELECT pos, y FROM ranked JOIN dl USING (doc_id)),
       |pairs AS (
       |  SELECT count(*)::BIGINT AS n_pairs,
       |    sum(CASE WHEN a.y < b.y THEN 1 ELSE 0 END)::BIGINT AS concordant,
       |    sum(CASE WHEN a.y > b.y THEN 1 ELSE 0 END)::BIGINT AS discordant,
       |    sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)::BIGINT AS ties_y
       |  FROM pts a JOIN pts b ON a.pos < b.pos)
       |SELECT ${Bm25TopK}::BIGINT AS k, n_pairs, concordant, discordant,
       |  ties_y,
       |  (CASE WHEN concordant >= discordant
       |    THEN (1000 * (concordant - discordant)) // n_pairs
       |    ELSE -((1000 * (discordant - concordant)) // n_pairs)
       |   END)::BIGINT AS tau_a_milli,
       |  (CASE WHEN concordant >= discordant
       |    THEN (1000 * (concordant - discordant) * (concordant - discordant))
       |      // greatest(n_pairs * (n_pairs - ties_y), 1)
       |    ELSE -((1000 * (concordant - discordant)
       |            * (concordant - discordant))
       |      // greatest(n_pairs * (n_pairs - ties_y), 1))
       |   END)::BIGINT AS tau2_signed_permille
       |FROM pairs""".stripMargin
  }

  // ---- q235: Mann-Whitney U location test ------------------------------

  /** `z²_{0.05}·10⁶ = 1.9600²·10⁶` for the large-sample normal gate. */
  val MwZ2E6 = 3841600L

  /** Pairwise exact Mann-Whitney U across event types — the LOCATION
    * sibling of q225's KS (KS sees any shape difference; U asks the
    * sharper "does one group stochastically dominate?"): doubled to
    * stay integer under ties, `U₂ = 2·#{x>y} + #{x=y}` computed from
    * pooled value counts (`Σ_v c_a(v)·(2·cum_b(v⁻) + c_b(v))` — one
    * cumulative pass, no rank midpoints, no float). Effect size is
    * the common-language `U₂/(n_a·n_b)` in per-mille of 2000 (1000 =
    * no effect); the α=0.05 normal gate evaluates on the per-mille
    * floored deviation (documented definition, both engines
    * bit-identical; ties uncorrected — conservative).
    *
    * Scale: q225's economics — (group, value) counts, broadcast pair
    * table, per-pair cumulative over the pooled distinct-value
    * axis. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = table(spark, dir, "events")
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(
        sum(when(col("g") === col("src_a"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("src_b"), col("c")).otherwise(0L)).as("cb"))
    val byV = Window.partitionBy("src_a", "src_b").orderBy("v")
    val u = pv
      .withColumn("cumb",
        sum("cb").over(byV.rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(0L, Seq("cumb"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("u2"))
    u.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("u2"),
        expr("(1000 * u2) div (n_a * n_b)").as("effect_permille"),
        expr("(1000 * abs(u2 - n_a * n_b)) div (n_a * n_b)").as("dev_pm"))
      .withColumn("reject",
        lit(3L) * col("dev_pm") * col("dev_pm") * col("n_a") * col("n_b") >
          lit(MwZ2E6) * (col("n_a") + col("n_b") + 1))
      .drop("dev_pm")
      .orderBy("src_a", "src_b")
  }

  val mannWhitneySql: String =
    s"""WITH vals AS (
       |  SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
       |  FROM tot a JOIN tot b ON a.g < b.g),
       |pv AS (
       |  SELECT src_a, src_b, n_a, n_b, v,
       |    sum(CASE WHEN vals.g = src_a THEN c ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN vals.g = src_b THEN c ELSE 0 END)::BIGINT AS cb
       |  FROM pairs JOIN vals ON vals.g = src_a OR vals.g = src_b
       |  GROUP BY 1, 2, 3, 4, 5),
       |cum AS (
       |  SELECT src_a, src_b, n_a, n_b, ca, cb,
       |    coalesce(sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |  FROM pv),
       |u AS (
       |  SELECT src_a, src_b, n_a, n_b,
       |    sum(ca * (2 * cumb + cb))::BIGINT AS u2
       |  FROM cum GROUP BY 1, 2, 3, 4)
       |SELECT src_a, src_b, n_a, n_b, u2,
       |  ((1000 * u2) // (n_a * n_b))::BIGINT AS effect_permille,
       |  (3 * ((1000 * abs(u2 - n_a * n_b)) // (n_a * n_b))
       |     * ((1000 * abs(u2 - n_a * n_b)) // (n_a * n_b))
       |     * n_a * n_b > $MwZ2E6 * (n_a + n_b + 1)) AS reject
       |FROM u ORDER BY src_a, src_b""".stripMargin

  // ---- q227: MAD robust outlier audit ---------------------------------

  /** `3 · 1.4826 · 10⁴` — the classic "3 sigma-equivalents" MAD fence
    * (1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD consistent for the normal σ). */
  val MadK3E4 = 44478L

  /** Robust per-group outlier detection by MEDIAN ABSOLUTE DEVIATION —
    * the estimator the family's winsorize (q95, percentile clamps) and
    * IQR fences (q20) don't cover: median and MAD have 50% breakdown,
    * so the fence itself cannot be dragged by the outliers it hunts.
    * Everything is exact integer cents with an EXPLICIT median rule —
    * the LOWER median, `min{v : #(x ≤ v) ≥ ⌈n/2⌉}` — written out as
    * cumulative counts in both engines rather than trusting any
    * `median()` builtin's tie/interpolation semantics; the fence is
    * `10⁴·|x − med| > `[[MadK3E4]]`·MAD`, float-free.
    *
    * Scale shape: two median passes (values, then absolute
    * deviations), each a groupBy to per-(group, value) counts — the
    * only shuffles ∝ distinct values — followed by a cumulative window
    * over the DISTINCT-VALUE axis per group, never over rows. A
    * 100 TB run with unbounded distinct values swaps the exact
    * cumulative for [[graft.operators.ExactQuantile]]'s bounded-memory
    * range walk; the fence logic is unchanged. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = table(spark, dir, "events").select(
      col("event_type").as("g"),
      expr("cast(floor(value * 100) as long)").as("v"))
    val vc = e.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val tg = vc.groupBy("g").agg(sum("c").as("n"))
    def lowerMedian(counts: DataFrame, valCol: String, outCol: String)
        : DataFrame = {
      val byV = Window.partitionBy("g").orderBy(valCol)
      counts.withColumn("cc", sum("c").over(byV))
        .join(tg, "g")
        .filter(col("cc") >= expr("(n + 1) div 2"))
        .groupBy("g").agg(min(col(valCol)).as(outCol))
    }
    val med = lowerMedian(vc, "v", "med")
    val dv = vc.join(med, "g")
      .groupBy(col("g"), abs(col("v") - col("med")).as("d"))
      .agg(sum("c").as("c"))
    val mad = lowerMedian(dv, "d", "mad")
    val out = vc.join(med, "g").join(mad, "g")
      .groupBy("g")
      .agg(sum(when(
        abs(col("v") - col("med")) * 10000L > lit(MadK3E4) * col("mad"),
        col("c")).otherwise(0L)).as("n_outliers"))
    tg.join(med, "g").join(mad, "g").join(out, "g")
      .select(col("g").as("event_type"), col("n"),
        col("med").as("median_cents"), col("mad").as("mad_cents"),
        col("n_outliers"),
        expr("(1000 * n_outliers) div n").as("outlier_permille"))
      .orderBy("event_type")
  }

  val madOutliersSql: String =
    s"""WITH e AS (
       |  SELECT event_type AS g, (floor(value * 100))::BIGINT AS v
       |  FROM events),
       |vc AS (SELECT g, v, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
       |tg AS (SELECT g, sum(c)::BIGINT AS n FROM vc GROUP BY 1),
       |cumv AS (
       |  SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cc
       |  FROM vc),
       |med AS (
       |  SELECT cumv.g, min(v)::BIGINT AS med
       |  FROM cumv JOIN tg USING (g)
       |  WHERE cc >= (n + 1) // 2 GROUP BY 1),
       |dv AS (
       |  SELECT vc.g, abs(v - med) AS d, sum(c)::BIGINT AS c
       |  FROM vc JOIN med USING (g) GROUP BY 1, 2),
       |cumd AS (
       |  SELECT g, d, sum(c) OVER (PARTITION BY g ORDER BY d) AS cc
       |  FROM dv),
       |mad AS (
       |  SELECT cumd.g, min(d)::BIGINT AS mad
       |  FROM cumd JOIN tg USING (g)
       |  WHERE cc >= (n + 1) // 2 GROUP BY 1),
       |outc AS (
       |  SELECT vc.g,
       |    sum(CASE WHEN abs(v - med) * 10000 > $MadK3E4 * mad
       |             THEN c ELSE 0 END)::BIGINT AS n_outliers
       |  FROM vc JOIN med USING (g) JOIN mad USING (g) GROUP BY 1)
       |SELECT tg.g AS event_type, n, med AS median_cents,
       |  mad AS mad_cents, n_outliers,
       |  ((1000 * n_outliers) // n)::BIGINT AS outlier_permille
       |FROM tg JOIN med USING (g) JOIN mad USING (g) JOIN outc USING (g)
       |ORDER BY event_type""".stripMargin

  // ---- q230: chi-square independence audit (lang x source) ------------

  /** `χ²_{0.05, df=76}·10³` — 5 langs × 20 sources is fixed by the
    * corpus generator, so df = 4·19 = 76 is a constant of the audit,
    * and the α=0.05 critical value 97.351 ships as an integer. */
  val Chi2Crit76Milli = 97351L

  /** Pearson χ² independence test between document language and
    * source — the stratification audit behind every mixing decision
    * (q58/q131 weight (source, lang) cells; this test says whether
    * language even DEPENDS on source, or the grid is noise). The
    * statistic is exact cross-multiplied integers per cell:
    * `Σ 1000·(O·N − R·C)² div (R·C·N)` over the FULL r×c grid
    * including structurally-empty cells (O = 0 still contributes its
    * expected mass — dropping such cells is the classic bug), with
    * per-cell milli-flooring as the documented definition. Bound:
    * `(O·N)² < 2⁶³/10³` holds to ~10⁸ docs; beyond, pre-scale counts.
    *
    * Scale shape: one scan → (lang, source) counts; everything after
    * is marginal-sized (r+c rows) cross-joined back onto the r×c
    * grid — dimension arithmetic however large the corpus. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = table(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rm = cells.groupBy("lang").agg(sum("o").as("r"))
    val cm = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum(col("o")).as("n"), count(lit(1)).as("n_cells"))
    val grid = rm.crossJoin(broadcast(cm))
      .join(cells, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(tot))
    grid
      .select(col("lang"), col("source"), col("o"), col("r"), col("c"),
        col("n"),
        expr("(1000 * (o * n - r * c) * (o * n - r * c)) div (r * c * n)")
          .as("cell_milli"))
      .agg(
        max(col("n")).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        ((countDistinct(col("lang")) - 1) *
          (countDistinct(col("source")) - 1)).as("df"),
        sum(col("cell_milli")).as("chi2_milli"))
      .withColumn("reject", col("chi2_milli") > Chi2Crit76Milli)
  }

  val chi2IndependenceSql: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2),
       |rm AS (SELECT lang, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
       |cm AS (SELECT source, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
       |tot AS (SELECT sum(o)::BIGINT AS n FROM cells),
       |grid AS (
       |  SELECT rm.lang, cm.source, coalesce(cells.o, 0)::BIGINT AS o,
       |    rm.r, cm.c, tot.n
       |  FROM rm CROSS JOIN cm CROSS JOIN tot
       |  LEFT JOIN cells ON cells.lang = rm.lang
       |    AND cells.source = cm.source)
       |SELECT max(n)::BIGINT AS n_docs,
       |  count(DISTINCT lang)::BIGINT AS n_langs,
       |  count(DISTINCT source)::BIGINT AS n_sources,
       |  ((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1))::BIGINT
       |    AS df,
       |  sum((1000 * (o * n - r * c) * (o * n - r * c)) // (r * c * n))::BIGINT
       |    AS chi2_milli,
       |  sum((1000 * (o * n - r * c) * (o * n - r * c)) // (r * c * n))
       |    > $Chi2Crit76Milli AS reject
       |FROM grid""".stripMargin

  // ---- q244: NDCG@k audit of the BM25 ranking ---------------------------

  /** Does the BM25 ranking put the RIGHT documents first? — NDCG@k,
    * the standard graded-relevance ranking metric, over q63's ranking
    * with relevance graded by exact query-term coverage (rel = how
    * many of the query's terms the document actually contains,
    * 0..|Q|; gain = 2^rel − 1). q240 judged a pointwise signal (AUC);
    * this judges the ORDER a retrieval system serves — a top-heavy
    * metric a recall number cannot see.
    *
    * Exactness discipline: gains and per-position cumulative sums are
    * pure integers; the only irrational ingredient, the position
    * discount 1/log₂(pos+1), is quantized ONCE to micro-units by the
    * q239 convention (`round(1e6 / log2(pos+1))` — identical IEEE
    * expression in both engines, positions 1..k so k fixed values),
    * after which DCG/IDCG are exact integer dot products and NDCG is
    * a floor per-mille ratio of non-negatives (no signed-div caveat).
    * IDCG ranks the WHOLE corpus by relevance (tie-broken by doc_id),
    * not just the retrieved set — an engine that retrieves nothing
    * relevant scores 0, not 1000.
    *
    * Scale shape: relevance grading is one corpus scan with a
    * broadcast-size term list and map-side distinct; everything after
    * — ranking join, ideal top-k, cumulative windows — runs over 2·k
    * rows on the driver-visible scale (the documented single-partition
    * window over k = $Bm25TopK rows). */
  def ndcgAudit(spark: SparkSession, dir: String): DataFrame = {
    import ScaleQueries.{Bm25Query, Bm25TopK, MinTermLen}
    val k = Bm25TopK
    val ranked = ScaleQueries.bm25(spark, dir)
      .withColumn("pos", row_number()
        .over(Window.orderBy(desc("bm25"), asc("doc_id"))).cast("long"))
    val rel = table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), "[^a-z]+")))
          .as("term"))
      .filter(length(col("term")) >= MinTermLen &&
        col("term").isInCollection(Bm25Query))
      .groupBy("doc_id").agg(count(lit(1)).as("rel"))
    val disc = round(lit(1e6) / log2(col("pos") + lit(1))).cast("long")
    val gains = ranked.join(rel, Seq("doc_id"), "left")
      .select(col("pos"), col("doc_id"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .withColumn("gain",
        expr("cast(shiftleft(1L, cast(rel as int)) - 1L as long)"))
      .withColumn("disc_micro", disc)
    val ideal = rel
      .withColumn("pos", row_number()
        .over(Window.orderBy(desc("rel"), asc("doc_id"))).cast("long"))
      .filter(col("pos") <= k)
      .select(col("pos"),
        (expr("cast(shiftleft(1L, cast(rel as int)) - 1L as long)") * disc)
          .as("ic"))
    val w = Window.orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gains.join(ideal, Seq("pos"), "left")
      .select(col("pos"), col("doc_id"), col("rel"), col("gain"),
        col("disc_micro"),
        sum(col("gain") * col("disc_micro")).over(w).as("dcg_micro"),
        sum(coalesce(col("ic"), lit(0L))).over(w).as("idcg_micro"))
      .withColumn("ndcg_permille",
        expr("(1000 * dcg_micro) div greatest(idcg_micro, 1)"))
      .orderBy("pos")
  }

  // ---- q248: Kruskal-Wallis k-sample location test -----------------------

  /** χ²₀.₉₅ critical value (milli) for df = 19 — the fixtures' 20
    * sources. A different source cardinality needs this table
    * extended; the emitted `df` column makes the assumption
    * auditable. */
  val KwCritDf19Milli = 30144L

  /** Do document lengths differ BY SOURCE? — Kruskal-Wallis, the
    * k-sample generalization of q235's Mann-Whitney: one omnibus
    * rank test across all 20 sources instead of 190 pairwise tests
    * (which would need a multiplicity correction q235 doesn't carry).
    * The length distribution is the first thing a mixing plan
    * equalizes, so a significant H here means per-source length
    * normalization must precede any quality comparison.
    *
    * Rank arithmetic is VALUE-GROUPED, never row-windowed: with ~90
    * distinct lengths, min-rank and tie counts come from a cumulative
    * window over the V-row value table (the q240 ECDF shape), so no
    * N-sized single-partition window exists at any scale. Doubled
    * average ranks (`dr = 2·cum − c + 1`) keep ties integer; `H =
    * 3/(N(N+1))·Σ S_i²/n_i − 3(N+1)` on doubled sums, quantized by
    * the documented two-stage floors (inner `S_i² div n_i`, outer
    * per-mille); the tie correction `C = 1 − Σ(t³−t)/(N³−N)` is
    * applied micro-quantized with the sign peeled. Int64-safe to
    * N ≈ 10⁵ docs (Σ(S_i² div n_i) ≤ 4N³); beyond that the sums
    * widen to decimal(38,0) — the q135 convention.
    *
    * Scale shape: one scan → (source, length) cells with map-side
    * combine; everything after runs on V-row and k-row tables. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("x"))
    val cells = d.groupBy("source", "x").agg(count(lit(1)).as("m"))
    val vc = cells.groupBy("x").agg(sum("m").as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("x")))
      .withColumn("dr", lit(2L) * col("cum") - col("c") + 1L)
    val per = cells.join(vc.select("x", "dr"), Seq("x"))
      .groupBy("source")
      .agg(sum(col("m") * col("dr")).as("s_i"), sum("m").as("n_i"))
    val ties = vc.agg(
      sum(col("c") * col("c") * col("c") - col("c")).as("tsum"),
      sum("c").as("n"))
    per.agg(count(lit(1)).as("k"),
        sum(expr("(s_i * s_i) div n_i")).as("ssum"))
      .crossJoin(broadcast(ties))
      .select(col("n").as("n_docs"), col("k").as("k_sources"),
        (col("k") - 1L).as("df"),
        expr("(3000 * ssum) div (n * (n + 1)) - 3000 * (n + 1)")
          .as("h_milli"),
        expr("1000000 - (1000000 * tsum) div (n*n*n - n)")
          .as("tie_correction_micro"))
      .withColumn("h_corrected_milli",
        expr("""CASE WHEN h_milli >= 0
                THEN (h_milli * 1000000) div tie_correction_micro
                ELSE -(((-h_milli) * 1000000) div tie_correction_micro)
                END"""))
      .withColumn("crit_milli", lit(KwCritDf19Milli))
      .withColumn("reject",
        col("df") === 19L && col("h_corrected_milli") > KwCritDf19Milli)
  }

  val kruskalWallisSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS x
       |  FROM documents),
       |cells AS (
       |  SELECT source, x, count(*)::BIGINT AS m FROM d GROUP BY 1, 2),
       |vc AS (
       |  SELECT x, sum(m)::BIGINT AS c,
       |    (2 * sum(sum(m)) OVER (ORDER BY x) - sum(m) + 1)::BIGINT AS dr
       |  FROM cells GROUP BY x),
       |per AS (
       |  SELECT source, sum(cells.m * vc.dr)::BIGINT AS s_i,
       |    sum(cells.m)::BIGINT AS n_i
       |  FROM cells JOIN vc USING (x) GROUP BY 1),
       |ties AS (
       |  SELECT sum(c * c * c - c)::BIGINT AS tsum, sum(c)::BIGINT AS n
       |  FROM vc),
       |agg AS (
       |  SELECT count(*)::BIGINT AS k,
       |    sum((s_i * s_i) // n_i)::BIGINT AS ssum
       |  FROM per),
       |h AS (
       |  SELECT n, k, (k - 1)::BIGINT AS df,
       |    ((3000 * ssum) // (n * (n + 1)) - 3000 * (n + 1))::BIGINT
       |      AS h_milli,
       |    (1000000 - (1000000 * tsum) // (n*n*n - n))::BIGINT
       |      AS tie_correction_micro
       |  FROM agg, ties)
       |SELECT n AS n_docs, k AS k_sources, df, h_milli,
       |  tie_correction_micro,
       |  (CASE WHEN h_milli >= 0
       |        THEN (h_milli * 1000000) // tie_correction_micro
       |        ELSE -(((-h_milli) * 1000000) // tie_correction_micro)
       |   END)::BIGINT AS h_corrected_milli,
       |  ${KwCritDf19Milli}::BIGINT AS crit_milli,
       |  df = 19 AND (CASE WHEN h_milli >= 0
       |        THEN (h_milli * 1000000) // tie_correction_micro
       |        ELSE -(((-h_milli) * 1000000) // tie_correction_micro)
       |   END) > $KwCritDf19Milli AS reject
       |FROM h""".stripMargin

  val ndcgAuditSql: String = {
    import ScaleQueries.{Bm25Query, Bm25K1, Bm25B, Bm25TopK, MinTermLen}
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
       |  FROM documents),
       |ft AS (SELECT doc_id, term FROM toks
       |       WHERE length(term) >= $MinTermLen),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM ft GROUP BY doc_id),
       |stats AS (
       |  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |         (SELECT avg(dl) FROM dl) AS avgdl),
       |tf AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS tf FROM ft
       |  WHERE term IN ($terms) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
       |       FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id AS doc_id,
       |    round(sum(
       |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |        * tf * ${Bm25K1 + 1}
       |        / (tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl / avgdl))
       |    ), 6) AS bm25
       |  FROM tf
       |  JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  GROUP BY tf.doc_id),
       |ranked AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS pos
       |  FROM scored ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
       |rel AS (
       |  SELECT doc_id, count(DISTINCT term)::BIGINT AS rel
       |  FROM ft WHERE term IN ($terms) GROUP BY 1),
       |gains AS (
       |  SELECT r.pos, r.doc_id, coalesce(rel.rel, 0)::BIGINT AS rel,
       |    ((1::BIGINT << coalesce(rel.rel, 0)) - 1)::BIGINT AS gain,
       |    round(1e6 / log2(r.pos + 1))::BIGINT AS disc_micro
       |  FROM ranked r LEFT JOIN rel USING (doc_id)),
       |ideal AS (
       |  SELECT row_number() OVER (ORDER BY rel DESC, doc_id)::BIGINT AS pos,
       |    ((1::BIGINT << rel) - 1)::BIGINT AS igain
       |  FROM rel ORDER BY rel DESC, doc_id LIMIT $Bm25TopK),
       |icontrib AS (
       |  SELECT pos,
       |    (igain * round(1e6 / log2(pos + 1))::BIGINT)::BIGINT AS ic
       |  FROM ideal)
       |SELECT g.pos, g.doc_id, g.rel, g.gain, g.disc_micro,
       |  (sum(g.gain * g.disc_micro) OVER w)::BIGINT AS dcg_micro,
       |  (sum(coalesce(ic, 0)) OVER w)::BIGINT AS idcg_micro,
       |  ((1000 * (sum(g.gain * g.disc_micro) OVER w))
       |    // greatest((sum(coalesce(ic, 0)) OVER w), 1))::BIGINT
       |    AS ndcg_permille
       |FROM gains g LEFT JOIN icontrib USING (pos)
       |WINDOW w AS (ORDER BY g.pos
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY g.pos""".stripMargin
  }

  // ---- q290: Stouffer stratified meta-analysis ------------------------------

  /** `z_{0.05}` in milli for the combined two-sided gate. */
  val StoufferCritMilli = 1960L

  /** Combine evidence ACROSS strata instead of pooling rows — the
    * Stouffer meta-analysis every "stratify and combine" instruction
    * in this repo's rank tests points at (q273's scaladoc promises it;
    * this is the operator). Question: do English documents have a
    * different type-token ratio than non-English ones — tested WITHIN
    * each source (so feed-level composition differences can't
    * masquerade as a language effect, the classic Simpson trap of
    * pooling), then combined: per source with both classes, the exact
    * doubled Mann-Whitney U₂ (q235 machinery, partitioned by source),
    * a per-stratum normal score `z_milli = 1000·(U₂ − n_a·n_b) div
    * ⌊√(n_a·n_b·(N+1)/3)⌋` (Var(U₂) = n_a·n_b·(N+1)/3; ties
    * uncorrected — conservative), and `Z = Σz/√k` as
    * `(1000·Σz_milli) div ⌊√(10⁶·k)⌋`. Every radicand < 2⁵² (q261
    * floor-sqrt determinism); signed divisions truncate identically
    * in both engines.
    *
    * Scale shape: one scan → (source, value, class) counts; one
    * bounded window per stratum; the combination is arithmetic over
    * k ≤ feed-count rows. */
  def stoufferCombined(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
      .select(col("source"), (col("lang") === "en").as("en"),
        split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("source"), col("en"),
        expr("(1000 * size(array_distinct(w))) div size(w)").as("v"))
    val vals = base.groupBy("source", "v")
      .agg(sum(when(col("en"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("en"), 1L).otherwise(0L)).as("cb"))
    val tot = vals.groupBy("source")
      .agg(sum("ca").as("na"), sum("cb").as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
    val byV = Window.partitionBy("source").orderBy("v")
    val u = vals
      .join(tot, Seq("source"))
      .withColumn("cumb", coalesce(sum("cb").over(
        byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("source", "na", "nb")
      .agg(sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("u2"))
      .select(col("source"), col("na"), col("nb"), col("u2"),
        expr("""(1000 * (u2 - na * nb)) div greatest(
                cast(floor(sqrt(cast(na * nb * (na + nb + 1) as double)
                  / 3.0)) as bigint), 1)""").as("z_milli"))
    u.agg(count(lit(1)).as("k_strata"),
        sum(expr("na + nb")).as("n_docs"),
        sum("z_milli").as("sum_z_milli"))
      .select(col("k_strata"), col("n_docs"), col("sum_z_milli"),
        expr("""CASE WHEN sum_z_milli >= 0
                THEN (1000 * sum_z_milli) div
                  cast(floor(sqrt(cast(1000000 * k_strata as double)))
                    as bigint)
                ELSE -((1000 * -sum_z_milli) div
                  cast(floor(sqrt(cast(1000000 * k_strata as double)))
                    as bigint)) END""").as("stouffer_z_milli"))
      .withColumn("reject",
        abs(col("stouffer_z_milli")) > StoufferCritMilli)
  }

  val stoufferCombinedSql: String =
    s"""WITH base AS (
       |  SELECT source, lang = 'en' AS en,
       |    ((1000 * len(list_distinct(w))) // len(w))::BIGINT AS v
       |  FROM (SELECT source, lang,
       |          string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents)),
       |vals AS (
       |  SELECT source, v,
       |    sum(CASE WHEN en THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN NOT en THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM base GROUP BY 1, 2),
       |tot AS (
       |  SELECT source, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
       |  FROM vals GROUP BY 1
       |  HAVING sum(ca) > 0 AND sum(cb) > 0),
       |u AS (
       |  SELECT source, na, nb,
       |    sum(ca * (2 * cumb + cb))::BIGINT AS u2
       |  FROM (
       |    SELECT v.source, t.na, t.nb, v.ca, v.cb,
       |      coalesce(sum(v.cb) OVER (PARTITION BY v.source ORDER BY v.v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS cumb
       |    FROM vals v JOIN tot t USING (source))
       |  GROUP BY 1, 2, 3),
       |z AS (
       |  SELECT source, na, nb,
       |    ((1000 * (u2 - na * nb)) // greatest(
       |      floor(sqrt((na * nb * (na + nb + 1))::DOUBLE / 3.0))::BIGINT,
       |      1))::BIGINT AS z_milli
       |  FROM u),
       |agg AS (
       |  SELECT count(*)::BIGINT AS k_strata,
       |    sum(na + nb)::BIGINT AS n_docs,
       |    sum(z_milli)::BIGINT AS sum_z_milli
       |  FROM z)
       |SELECT k_strata, n_docs, sum_z_milli,
       |  (CASE WHEN sum_z_milli >= 0
       |        THEN (1000 * sum_z_milli) //
       |          floor(sqrt((1000000 * k_strata)::DOUBLE))::BIGINT
       |        ELSE -((1000 * -sum_z_milli) //
       |          floor(sqrt((1000000 * k_strata)::DOUBLE))::BIGINT)
       |   END)::BIGINT AS stouffer_z_milli,
       |  abs(CASE WHEN sum_z_milli >= 0
       |        THEN (1000 * sum_z_milli) //
       |          floor(sqrt((1000000 * k_strata)::DOUBLE))::BIGINT
       |        ELSE -((1000 * -sum_z_milli) //
       |          floor(sqrt((1000000 * k_strata)::DOUBLE))::BIGINT)
       |   END) > $StoufferCritMilli AS reject
       |FROM agg""".stripMargin

  // ---- q284: information-gain feature selection ----------------------------

  /** WHICH cheap features are worth a classifier's budget? — the
    * feature-selection table every quality/langid model starts from:
    * per candidate doc feature (length bin, stopword-rate decile,
    * type-token-ratio decile, symbol-rate decile), the mutual
    * information with the `lang = 'en'` label in the q239 micronat
    * contract, the information-gain ratio `MI / H(label)` in floor
    * per-mille, and the rank. The symbol-rate feature is constant on
    * this corpus — its MI is EXACTLY zero, which is the point: the
    * table must demonstrably reject a useless feature, not just score
    * the good ones.
    *
    * Exactness: every feature is an integer bin (floor arithmetic on
    * counts); each MI is the q239 sum `Σ o·round(10⁶·(ln(o·n) −
    * ln(r·c)))` with the sign-peel division (near-independence can
    * quantize a hair below zero). Scale shape: ONE corpus scan
    * projects all four bins + the label; each feature then collapses
    * to a ≤ bins×2 cell table — four bounded aggregates, constant
    * work after the scan. */
  def featureSelection(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "documents")
      .select(col("lang"), col("n_chars"), lower(trim(col("text"))).as("t"))
      .select(
        (col("lang") === "en").as("y"),
        expr("least(n_chars div 150, 3)").as("len_bin"),
        expr("""least(((1000 * (length(t) -
          length(regexp_replace(t, '[a-z ]', '')))) div length(t))
          div 100, 9)""").as("sym_bin"),
        split(col("t"), "\\s+").as("w"))
      .withColumn("ntok", size(col("w")).cast("long"))
      .withColumn("nstop",
        size(filter(col("w"), w =>
          w.isin(graft.text.TextStats.stopwords: _*))).cast("long"))
      .withColumn("ndist", size(array_distinct(col("w"))).cast("long"))
      .select(col("y"), col("len_bin"), col("sym_bin"),
        expr("least(((1000 * nstop) div ntok) div 100, 9)").as("stop_bin"),
        expr("least(((1000 * ndist) div ntok) div 100, 9)").as("ttr_bin"))
    val cached = base.persist()
    val n = cached.count()
    val hLabel = {
      val rm = cached.groupBy("y").agg(count(lit(1)).as("r"))
      rm.select((col("r") *
          round(lit(1e6) * (log(lit(n.toDouble)) - log(col("r"))))
            .cast("long")).as("wt"))
        .agg(sum("wt").as("hnum")).head.getLong(0) / n
    }
    def mi(bin: String): DataFrame = {
      val cells = cached.groupBy(col(bin).as("b"), col("y"))
        .agg(count(lit(1)).as("o"))
      val rm = cells.groupBy("b").agg(sum("o").as("r"))
      val cm = cells.groupBy("y").agg(sum("o").as("c"))
      cells.join(broadcast(rm), "b").join(broadcast(cm), "y")
        .select((col("o") *
          round(lit(1e6) * (log(col("o") * lit(n)) -
            log(col("r") * col("c")))).cast("long")).as("wt"))
        .agg(coalesce(sum("wt"), lit(0L)).as("minum"))
        .select(lit(bin).as("feature"),
          expr(s"""CASE WHEN minum >= 0 THEN minum div ${n}L
                   ELSE -((-minum) div ${n}L) END""").as("mi_micronats"))
    }
    val all = Seq("len_bin", "stop_bin", "ttr_bin", "sym_bin")
      .map(mi).reduce(_ unionByName _)
    val out = all
      .withColumn("h_label_micronats", lit(hLabel))
      .withColumn("ig_ratio_pm",
        expr("""CASE WHEN mi_micronats >= 0
                THEN (1000 * mi_micronats) div h_label_micronats
                ELSE -((1000 * -mi_micronats) div h_label_micronats)
                END"""))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("mi_micronats").desc, col("feature"))))
      .orderBy("rank")
      .localCheckpoint(true)
    cached.unpersist(blocking = false)
    out
  }

  val featureSelectionSql: String = {
    val stop = graft.text.TextStats.stopwords.map(s => s"'$s'")
      .mkString(", ")
    def miCte(bin: String) =
      s"""mi_$bin AS (
         |  SELECT '$bin' AS feature,
         |    coalesce(sum(o * round(1e6 * (ln(o * n.n) - ln(r.r * c.c)))
         |      ::BIGINT), 0)::BIGINT AS minum
         |  FROM (SELECT $bin AS b, y, count(*)::BIGINT AS o
         |        FROM base GROUP BY 1, 2) cells
         |  JOIN (SELECT $bin AS b, count(*)::BIGINT AS r
         |        FROM base GROUP BY 1) r USING (b)
         |  JOIN (SELECT y, count(*)::BIGINT AS c
         |        FROM base GROUP BY 1) c USING (y), n)""".stripMargin
    s"""WITH raw AS (
       |  SELECT lang = 'en' AS y, n_chars, lower(trim(text)) AS t,
       |    string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents),
       |base AS (
       |  SELECT y,
       |    least(n_chars // 150, 3) AS len_bin,
       |    least(((1000 * (length(t) -
       |      length(regexp_replace(t, '[a-z ]', '', 'g')))) // length(t))
       |      // 100, 9) AS sym_bin,
       |    least(((1000 * len(list_filter(w, x -> x IN ($stop))))
       |      // len(w)) // 100, 9) AS stop_bin,
       |    least(((1000 * len(list_distinct(w))) // len(w)) // 100, 9)
       |      AS ttr_bin
       |  FROM raw),
       |n AS (SELECT count(*)::BIGINT AS n FROM base),
       |h AS (
       |  SELECT (sum(r * round(1e6 * (ln(n.n) - ln(r)))::BIGINT)
       |    // max(n.n))::BIGINT AS h_label
       |  FROM (SELECT y, count(*)::BIGINT AS r FROM base GROUP BY 1), n),
       |${miCte("len_bin")},
       |${miCte("stop_bin")},
       |${miCte("ttr_bin")},
       |${miCte("sym_bin")},
       |allmi AS (
       |  SELECT feature,
       |    (CASE WHEN minum >= 0 THEN minum // n.n
       |          ELSE -((-minum) // n.n) END)::BIGINT AS mi_micronats
       |  FROM (SELECT * FROM mi_len_bin UNION ALL SELECT * FROM mi_stop_bin
       |        UNION ALL SELECT * FROM mi_ttr_bin
       |        UNION ALL SELECT * FROM mi_sym_bin), n)
       |SELECT feature, mi_micronats, h.h_label AS h_label_micronats,
       |  (CASE WHEN mi_micronats >= 0
       |        THEN (1000 * mi_micronats) // h.h_label
       |        ELSE -((1000 * -mi_micronats) // h.h_label) END)::BIGINT
       |    AS ig_ratio_pm,
       |  row_number() OVER (ORDER BY mi_micronats DESC, feature)::INTEGER
       |    AS rank
       |FROM allmi, h
       |ORDER BY rank""".stripMargin
  }

  // ---- q273: Jonckheere-Terpstra ordered-trend test ------------------------

  /** Ordered length-bin edges (chars): bins 1..4 are <150, <300,
    * <450, ≥450 — fixed thresholds, not quantiles, so the grouping is
    * engine-independent at every SF. */
  val JtBinEdges = Seq(150L, 300L, 450L)

  /** `z²_{0.05}` in MILLI (3.8416 → 3842, rounded UP: conservative). */
  val JtZ2Milli = 3842L

  /** Does lexical diversity DECLINE as documents grow? — the
    * Jonckheere-Terpstra test, the ordered-alternative sharpening of
    * Kruskal-Wallis (q248): K-W asks "do the length bins differ at
    * all?"; JT asks the directional question the curve actually poses
    * — is there a MONOTONE trend of type-token ratio across the
    * a-priori-ordered bins? (TTR mechanically falls with length —
    * Heaps' law, q151 — so a corpus where it does NOT is synthetic or
    * template-stuffed; this is a generator-fingerprint audit.) The
    * statistic is the sum of pairwise Mann-Whitney counts over every
    * ordered bin pair (i < j), `J = Σ #{x_i < x_j}`, kept integer by
    * q235's doubling convention (`J₂ = Σ_v c_j(v)·(2·cum_i(v⁻) +
    * c_i(v))` per pair, from (bin, value) count tables — no rank
    * midpoints, no floats). The α=0.05 normal gate evaluates
    * `(J₂−E₂)² > (`[[JtZ2Milli]]`·V) div 18000` with `E₂ = Σ n_i·n_j`
    * and `V = N²(2N+3) − Σ n_g²(2n_g+3)` (= 72·Var(J); J₂ = 2J makes
    * the 18), ties uncorrected — conservative, like q235. The div
    * form is EXACTLY the real-division gate for integer LHS (`d² > q
    * ⟺ d² > ⌊q⌋`) and keeps both sides inside int64 far longer than
    * the naive `18000·d²` scaling (which wrapped at N ≈ 6.7·10³):
    * |J₂−E₂| ≤ N²/2 caps the LHS at N⁴/4 and [[JtZ2Milli]]·V at
    * ~7.7·10³·N³, so the gate holds to N ≈ 7·10⁴ documents; a larger
    * corpus runs the audit per stratum and Stouffer-combines, exactly
    * like every rank test here.
    *
    * Scale shape: one scan → per-doc (bin, TTR-milli) → (bin, value)
    * counts (map-side combined, ≤ 4·1001 rows); the pair machinery is
    * q235's — broadcast bin-pair grid, one cumulative window over the
    * pooled value axis, constant-size aggregates after. */
  def jonckheereTrend(spark: SparkSession, dir: String): DataFrame = {
    val words = split(lower(trim(col("text"))), "\\s+")
    // TTR parts in a first projection so the milli expression stays
    // readable:
    val base = table(spark, dir, "documents")
      .select(col("n_chars"),
        size(array_distinct(words)).cast("long").as("ttr_d"),
        size(words).cast("long").as("ttr_t"))
      .select(
        (lit(1L) + JtBinEdges.map(e =>
          when(col("n_chars") >= e, 1L).otherwise(0L)).reduce(_ + _))
          .as("g"),
        expr("(1000 * ttr_d) div ttr_t").as("v"))
    val vals = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("g_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("g_b"), col("n").as("n_b")),
        col("g_a") > col("g_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("g_a") || col("g") === col("g_b"))
      .groupBy("g_a", "g_b", "v")
      .agg(
        sum(when(col("g") === col("g_a"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("g_b"), col("c")).otherwise(0L)).as("cb"))
    val byV = Window.partitionBy("g_a", "g_b").orderBy("v")
    val j2 = pv
      .withColumn("cumb",
        sum("cb").over(byV.rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(0L, Seq("cumb"))
      .agg(sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("jt2"))
    val e2 = pairs.agg(sum(expr("n_a * n_b")).as("mean2"))
    val vparts = tot.agg(sum("n").as("nn"),
      sum(expr("n * n * (2 * n + 3)")).as("within"))
      .select((expr("nn * nn * (2 * nn + 3)") - col("within")).as("v72"),
        col("nn").as("n_docs"))
    j2.crossJoin(broadcast(e2)).crossJoin(broadcast(vparts))
      .select(col("n_docs"), lit(JtBinEdges.size + 1L).as("n_groups"),
        col("jt2"), col("mean2"), col("v72"),
        when(col("jt2") > col("mean2"), "increasing")
          .when(col("jt2") < col("mean2"), "decreasing")
          .otherwise("none").as("direction"),
        ((col("jt2") - col("mean2")) * (col("jt2") - col("mean2"))
          > expr(s"($JtZ2Milli * v72) div 18000")).as("reject"))
  }

  val jonckheereTrendSql: String = {
    val binExpr = "1 + " + JtBinEdges.map(e =>
      s"(CASE WHEN n_chars >= $e THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH base AS (
       |  SELECT ($binExpr)::BIGINT AS g,
       |    ((1000 * len(list_distinct(w))) // len(w))::BIGINT AS v
       |  FROM (SELECT n_chars,
       |          string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents)),
       |vals AS (SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS g_a, a.n AS n_a, b.g AS g_b, b.n AS n_b
       |  FROM tot a JOIN tot b ON a.g > b.g),
       |pv AS (
       |  SELECT p.g_a, p.g_b, v.v,
       |    sum(CASE WHEN v.g = p.g_a THEN v.c ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN v.g = p.g_b THEN v.c ELSE 0 END)::BIGINT AS cb
       |  FROM vals v JOIN pairs p ON v.g = p.g_a OR v.g = p.g_b
       |  GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT sum(ca * (2 * cumb + cb))::BIGINT AS jt2 FROM (
       |    SELECT ca, cb, coalesce(sum(cb) OVER (
       |      PARTITION BY g_a, g_b ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |    FROM pv)),
       |e AS (SELECT sum(n_a * n_b)::BIGINT AS mean2 FROM pairs),
       |vp AS (
       |  SELECT sum(n)::BIGINT AS n_docs,
       |    (sum(n) * sum(n) * (2 * sum(n) + 3)
       |      - sum(n * n * (2 * n + 3)))::BIGINT AS v72
       |  FROM tot)
       |SELECT vp.n_docs, ${JtBinEdges.size + 1}::BIGINT AS n_groups,
       |  j.jt2, e.mean2, vp.v72,
       |  CASE WHEN j.jt2 > e.mean2 THEN 'increasing'
       |       WHEN j.jt2 < e.mean2 THEN 'decreasing'
       |       ELSE 'none' END AS direction,
       |  18000 * (j.jt2 - e.mean2) * (j.jt2 - e.mean2)
       |    > $JtZ2Milli * vp.v72 AS reject
       |FROM j, e, vp""".stripMargin
  }

  // ---- q293: Page's trend test over matched daily blocks -------------------

  /** The a-priori channel ORDER under test (j = 1, 2, 3): the
    * hypothesis that daily volume rises purchase → view → click (the
    * standard funnel-width ordering). Page's test only means anything
    * with the order fixed BEFORE looking — hence a named constant, not
    * a data-driven sort. */
  val PageOrder = Seq("purchase", "view", "click")

  /** Page's L test (Page 1963) — the ORDERED sibling of q269's
    * Friedman: Friedman asks "do the channels differ at all?" within
    * matched day blocks; Page asks the sharper directional question —
    * do their ranks follow the [[PageOrder]] funnel ordering? —
    * exactly as q273's Jonckheere sharpens q248's Kruskal-Wallis for
    * independent samples. Statistic `L = Σ_j j·R_j` over the same
    * doubled average ranks as q269 (integer under ties);
    * `E[L₂] = n·k(k+1)²/2`, `Var(L₂) = n·k²(k+1)²(k−1)/36`, and the
    * α = 0.05 two-sided gate evaluates
    * `36000·(L₂−E₂)² > 3842·n·k²(k+1)²(k−1)` — all integer, both
    * engines truncate alike. Same scale shape as q269: one scan →
    * (day, channel) counts, 3-row ranking windows, constant-size
    * arithmetic. */
  def pageTrend(spark: SparkSession, dir: String): DataFrame = {
    val k = PageOrder.size.toLong
    val evRaw = table(spark, dir, "events")
    val ev = evRaw
      .filter(col("event_type").isin(PageOrder: _*))
      .select(to_date(eventTs(evRaw)).as("d"), col("event_type"))
    val counts = ev.groupBy("d", "event_type").agg(count(lit(1)).as("n"))
    val grid = ev.select("d").distinct()
      .select(col("d"),
        explode(array(PageOrder.map(lit): _*)).as("event_type"))
    val jCol = coalesce(PageOrder.zipWithIndex
      .map { case (t, i) => when(col("event_type") === t, (i + 1).toLong) }
      : _*)
    val cells = grid.join(counts, Seq("d", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("r1", rank().over(Window.partitionBy("d").orderBy("n")))
      .withColumn("t", count(lit(1)).over(Window.partitionBy("d", "n")))
      .withColumn("dr", lit(2L) * col("r1") + col("t") - 1L)
      .withColumn("j", jCol)
    val l2 = cells.agg(sum(expr("j * dr")).as("l2"))
    val nDf = cells.select("d").distinct().agg(count(lit(1)).as("nb"))
    l2.crossJoin(broadcast(nDf))
      .select(col("nb").as("n_blocks"), col("l2"),
        expr(s"nb * $k * ${(k + 1) * (k + 1)} div 2").as("mean2"))
      .select(col("n_blocks"), col("l2"), col("mean2"),
        when(col("l2") > col("mean2"), "with_order")
          .when(col("l2") < col("mean2"), "against_order")
          .otherwise("none").as("direction"),
        (lit(36000L) * (col("l2") - col("mean2"))
          * (col("l2") - col("mean2"))
          > lit(3842L) * col("n_blocks") * lit(k * k)
            * lit((k + 1) * (k + 1)) * lit(k - 1)).as("reject"))
  }

  val pageTrendSql: String = {
    val k = PageOrder.size.toLong
    val types = PageOrder.map(t => s"'$t'").mkString(", ")
    val jExpr = "CASE event_type " + PageOrder.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN ${i + 1}" }
      .mkString(" ") + " END"
    s"""WITH ev AS (
       |  SELECT ts::DATE AS d, event_type FROM events
       |  WHERE event_type IN ($types)),
       |counts AS (
       |  SELECT d, event_type, count(*)::BIGINT AS n
       |  FROM ev GROUP BY 1, 2),
       |grid AS (
       |  SELECT d, t.event_type
       |  FROM (SELECT DISTINCT d FROM ev),
       |    (VALUES ${PageOrder.map(t => s"('$t')").mkString(", ")})
       |      t(event_type)),
       |cells AS (
       |  SELECT g.d, g.event_type, coalesce(c.n, 0) AS n
       |  FROM grid g LEFT JOIN counts c USING (d, event_type)),
       |ranked AS (
       |  SELECT d, event_type, n,
       |    2 * rank() OVER (PARTITION BY d ORDER BY n)
       |      + count(*) OVER (PARTITION BY d, n) - 1 AS dr,
       |    ($jExpr)::BIGINT AS j
       |  FROM cells),
       |agg AS (
       |  SELECT sum(j * dr)::BIGINT AS l2,
       |    count(DISTINCT d)::BIGINT AS nb
       |  FROM ranked)
       |SELECT nb AS n_blocks, l2,
       |  (nb * $k * ${(k + 1) * (k + 1)} // 2)::BIGINT AS mean2,
       |  CASE WHEN l2 > nb * $k * ${(k + 1) * (k + 1)} // 2
       |         THEN 'with_order'
       |       WHEN l2 < nb * $k * ${(k + 1) * (k + 1)} // 2
       |         THEN 'against_order'
       |       ELSE 'none' END AS direction,
       |  36000 * (l2 - nb * $k * ${(k + 1) * (k + 1)} // 2)
       |    * (l2 - nb * $k * ${(k + 1) * (k + 1)} // 2)
       |    > 3842 * nb * ${k * k} * ${(k + 1) * (k + 1)} * ${k - 1}
       |    AS reject
       |FROM agg""".stripMargin
  }

  // ---- q269: Friedman test over matched daily blocks ----------------------

  /** The three matched treatments whose daily volumes the Friedman test
    * compares (a fixed list, like q262's labelers). */
  val FriedmanTypes = Seq("click", "view", "purchase")

  /** χ²₂ critical value at α = 0.05, in milli. */
  val FriedmanCritMilli = 5991L

  /** Do the engagement channels move TOGETHER or does one dominate
    * day after day? — Friedman's matched-blocks rank test, the
    * non-parametric two-way ANOVA: each DAY is a block, the k = 3
    * channels ([[FriedmanTypes]]) are ranked within it by daily event
    * count, and the statistic asks whether the rank sums diverge more
    * than chance. Kruskal-Wallis (q248) compares independent samples;
    * Friedman is its matched twin — it removes the day effect (a slow
    * news day lowers ALL channels), exactly what Cochran's Q (q262)
    * does for binary outcomes. Ranks use the average-rank tie
    * convention kept integer by DOUBLING (a mid-rank like 1.5 becomes
    * 3): within a block `dr = 2·rank + (t − 1)` where `rank` is the
    * min-rank and `t` the tie count, so every block's doubled ranks
    * sum to k(k+1) regardless of ties. The statistic
    * `χ² = 12/(nk(k+1))·ΣR_j² − 3n(k+1)` becomes, in doubled-rank
    * milli form, `(3000·ΣR'² − 3000·n²·k·(k+1)²) div (n·k·(k+1))`,
    * and the tie-adjusted variant divides by
    * `C = 1 − Σ(t³−t)/(nk(k²−1))` as one fused integer ratio — every
    * step floor arithmetic on non-negative values, bit-identical in
    * both engines. Missing (day, channel) cells read as count 0 via a
    * days×channels grid so blocks stay complete at every SF.
    *
    * Scale shape: one events scan → (day, channel) counts with
    * map-side combine; ranking windows run on 3 rows per block; the
    * assembly is arithmetic over one n_days·k-row table. */
  def friedmanTest(spark: SparkSession, dir: String): DataFrame = {
    val k = FriedmanTypes.size.toLong
    val evRaw = table(spark, dir, "events")
    val ev = evRaw
      .filter(col("event_type").isin(FriedmanTypes: _*))
      .select(to_date(eventTs(evRaw)).as("d"), col("event_type"))
    val counts = ev.groupBy("d", "event_type").agg(count(lit(1)).as("n"))
    val grid = ev.select("d").distinct()
      .select(col("d"),
        explode(array(FriedmanTypes.map(lit): _*)).as("event_type"))
    val cells = grid.join(counts, Seq("d", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("r1", rank().over(Window.partitionBy("d").orderBy("n")))
      .withColumn("t", count(lit(1)).over(Window.partitionBy("d", "n")))
      .withColumn("dr", lit(2L) * col("r1") + col("t") - 1L)
    val rankSums = cells.groupBy("event_type").agg(sum("dr").as("rs"))
    val s2 = rankSums.agg(sum(expr("rs * rs")).as("s2"),
      count(lit(1)).as("kk"))
    val blocks = cells.groupBy("d", "n").agg(count(lit(1)).as("tt"))
      .agg(sum(expr("tt * tt * tt - tt")).as("tie_term"))
    val nDf = cells.select("d").distinct().agg(count(lit(1)).as("nb"))
    rankSums
      .groupBy()
      .pivot("event_type", FriedmanTypes)
      .agg(first("rs"))
      .select(FriedmanTypes.map(t => col(t).as(s"rs_$t")): _*)
      .crossJoin(broadcast(s2)).crossJoin(broadcast(blocks))
      .crossJoin(broadcast(nDf))
      .select(Seq(col("nb").as("n_blocks")) ++
        FriedmanTypes.map(t => col(s"rs_$t")) ++ Seq(
          col("tie_term"),
          expr(s"(3000 * s2 - 3000 * nb * nb * $k * ${(k + 1) * (k + 1)})" +
            s" div (nb * $k * ${k + 1})").as("friedman_milli"),
          expr(s"((3000 * s2 - 3000 * nb * nb * $k * ${(k + 1) * (k + 1)})" +
            s" * nb * $k * ${k * k - 1}) div ((nb * $k * ${k + 1})" +
            s" * greatest(nb * $k * ${k * k - 1} - tie_term, 1))")
            .as("friedman_adj_milli")): _*)
      .withColumn("significant",
        col("friedman_adj_milli") > FriedmanCritMilli)
  }

  lazy val friedmanTestSql: String = {
    val k = FriedmanTypes.size.toLong
    val types = FriedmanTypes.map(t => s"('$t')").mkString(", ")
    val rsCols = FriedmanTypes.map(t =>
      s"sum(CASE WHEN event_type = '$t' THEN dr ELSE 0 END)::BIGINT AS rs_$t")
      .mkString(",\n|    ")
    s"""WITH ev AS (
       |  SELECT ts::DATE AS d, event_type FROM events
       |  WHERE event_type IN (${FriedmanTypes.map(t => s"'$t'").mkString(", ")})),
       |counts AS (
       |  SELECT d, event_type, count(*)::BIGINT AS n
       |  FROM ev GROUP BY 1, 2),
       |grid AS (
       |  SELECT d, t.event_type
       |  FROM (SELECT DISTINCT d FROM ev), (VALUES $types) t(event_type)),
       |cells AS (
       |  SELECT g.d, g.event_type, coalesce(c.n, 0) AS n
       |  FROM grid g LEFT JOIN counts c USING (d, event_type)),
       |ranked AS (
       |  SELECT d, event_type, n,
       |    2 * rank() OVER (PARTITION BY d ORDER BY n)
       |      + count(*) OVER (PARTITION BY d, n) - 1 AS dr
       |  FROM cells),
       |rs AS (
       |  SELECT $rsCols FROM ranked),
       |s2 AS (
       |  SELECT sum(rs * rs)::BIGINT AS s2 FROM (
       |    SELECT event_type, sum(dr)::BIGINT AS rs
       |    FROM ranked GROUP BY event_type)),
       |ties AS (
       |  SELECT sum(tt * tt * tt - tt)::BIGINT AS tie_term FROM (
       |    SELECT d, n, count(*)::BIGINT AS tt FROM cells GROUP BY d, n)),
       |nb AS (SELECT count(DISTINCT d)::BIGINT AS nb FROM cells)
       |SELECT nb.nb AS n_blocks,
       |  ${FriedmanTypes.map(t => s"rs.rs_$t").mkString(", ")}, ties.tie_term,
       |  ((3000 * s2.s2 - 3000 * nb.nb * nb.nb * $k * ${(k + 1) * (k + 1)})
       |    // (nb.nb * $k * ${k + 1}))::BIGINT AS friedman_milli,
       |  (((3000 * s2.s2 - 3000 * nb.nb * nb.nb * $k * ${(k + 1) * (k + 1)})
       |      * nb.nb * $k * ${k * k - 1})
       |    // ((nb.nb * $k * ${k + 1})
       |      * greatest(nb.nb * $k * ${k * k - 1} - ties.tie_term, 1))
       |    )::BIGINT AS friedman_adj_milli,
       |  (((3000 * s2.s2 - 3000 * nb.nb * nb.nb * $k * ${(k + 1) * (k + 1)})
       |      * nb.nb * $k * ${k * k - 1})
       |    // ((nb.nb * $k * ${k + 1})
       |      * greatest(nb.nb * $k * ${k * k - 1} - ties.tie_term, 1))
       |    ) > $FriedmanCritMilli AS significant
       |FROM rs, s2, ties, nb""".stripMargin
  }

  // ---- q298: Wald sequential probability ratio test ---------------------

  /** SPRT hypotheses on the purchase share: H0 p=0.25 vs H1 p=0.35. */
  val SprtP0Pm = 250L
  val SprtP1Pm = 350L
  /** Per-event milli-nat LLR increments, `round(1000·ln(p1/p0))` and
    * `round(1000·ln((1−p1)/(1−p0)))` — fixed INTEGER constants, so the
    * walk is exact and engine-identical. */
  val SprtUpMilli = 336L
  val SprtDownMilli = -143L
  /** Decision bounds at α = β = 0.05: ±`round(1000·ln(19))`. */
  val SprtBoundMilli = 2944L

  /** Wald's SPRT (1945) over the event stream — SEQUENTIAL hypothesis
    * testing, the cell the fixed-sample tests (q235/q248/q273) leave
    * open: instead of fixing n and then testing, the log-likelihood
    * ratio walks one increment per event in event-time order and the
    * test DECIDES the moment the walk leaves (−A, A) — the
    * early-stopping monitor an experimentation pipeline runs while
    * data arrives (is the purchase share 0.25 or 0.35? stop collecting
    * as soon as the evidence suffices). Publishes the audit: totals,
    * the final walk value, and the first decision crossing (when, at
    * what evidence).
    *
    * Integer discipline: increments and bounds are fixed milli-nat
    * constants, the walk a pure integer cumulative sum. The running
    * total uses [[graft.operators.PrefixSum]] (two-phase bucket scan,
    * day buckets) — NOT a single-partition global window — so the
    * monitor scales with the stream; first-crossing extraction is a
    * TakeOrdered(1). At 100 TB the same walk runs per experiment key;
    * this gate is the single-experiment form. */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir)
      .select(col("ts_us"), col("event_id"),
        when(col("event_type") === "purchase", lit(SprtUpMilli))
          .otherwise(lit(SprtDownMilli)).as("inc"))
      .withColumn("ok", struct(col("ts_us"), col("event_id")))
    val walk0 = graft.operators.PrefixSum.withPrefixSum(
      ev, "ok", "inc", expr("ts_us div 86400000000"), cumCol = "llr")
    val walk = graft.operators.PrefixSum.withPrefixSum(
      walk0.withColumn("one", lit(1L)), "ok", "one",
      expr("ts_us div 86400000000"), cumCol = "n")
    val tot = walk.agg(count(lit(1)).as("n_events"),
      sum(when(col("inc") === SprtUpMilli, 1L).otherwise(0L))
        .as("n_purchases"),
      sum("inc").as("final_llr_milli"))
    val firstCross = walk
      .filter(col("llr") >= SprtBoundMilli || col("llr") <= -SprtBoundMilli)
      .orderBy("n").limit(1)
      .select(col("n").as("decided_at_n"),
        col("llr").as("llr_at_decision_milli"))
    tot.join(firstCross, lit(true), "left")
      .select(col("n_events"), col("n_purchases"), col("final_llr_milli"),
        when(col("llr_at_decision_milli") >= SprtBoundMilli, "accept_h1")
          .when(col("llr_at_decision_milli") <= -SprtBoundMilli,
            "accept_h0")
          .otherwise("continue").as("verdict"),
        coalesce(col("decided_at_n"), lit(0L)).as("decided_at_n"),
        coalesce(col("llr_at_decision_milli"), lit(0L))
          .as("llr_at_decision_milli"))
  }

  val sprtMonitorSql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
       |    CASE WHEN event_type = 'purchase' THEN $SprtUpMilli
       |         ELSE $SprtDownMilli END AS inc
       |  FROM events),
       |w AS (
       |  SELECT inc,
       |    row_number() OVER (ORDER BY ts_us, event_id) AS n,
       |    sum(inc) OVER (ORDER BY ts_us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS llr
       |  FROM e),
       |c AS (
       |  SELECT n, llr FROM w
       |  WHERE llr >= $SprtBoundMilli OR llr <= -$SprtBoundMilli
       |  ORDER BY n LIMIT 1),
       |t AS (
       |  SELECT count(*)::BIGINT AS n_events,
       |    sum(CASE WHEN inc = $SprtUpMilli THEN 1 ELSE 0 END)::BIGINT
       |      AS n_purchases,
       |    sum(inc)::BIGINT AS final_llr_milli
       |  FROM w)
       |SELECT t.n_events, t.n_purchases, t.final_llr_milli,
       |  CASE WHEN c.llr >= $SprtBoundMilli THEN 'accept_h1'
       |       WHEN c.llr <= -$SprtBoundMilli THEN 'accept_h0'
       |       ELSE 'continue' END AS verdict,
       |  coalesce(c.n, 0)::BIGINT AS decided_at_n,
       |  coalesce(c.llr, 0)::BIGINT AS llr_at_decision_milli
       |FROM t LEFT JOIN c ON TRUE""".stripMargin

  // ---- q301: Cliff's delta effect size -----------------------------------

  /** Romano et al. magnitude thresholds on |delta| (permille). */
  val CliffSmallPm = 147L
  val CliffMediumPm = 330L
  val CliffLargePm = 474L

  /** Cliff's delta — the EFFECT SIZE the q235 significance gate
    * doesn't report: `delta = (#(a>b) - #(a<b)) / (n_a*n_b)`, the
    * probability a random A-value exceeds a random B-value minus the
    * reverse, for every event-type pair. A rank test on 10^5 rows
    * rejects on trivial differences; delta says whether the
    * difference MATTERS (the standard Romano bands label it). Strict
    * greater/less counts come from the same (value, count) cumulative
    * as q235 — `gt = sum ca*cumb(v-)`, `lt = sum ca*(n_b - cumb(v-) -
    * cb)`, ties by difference — all exact integers; the signed
    * per-mille uses the q239 sign-peel so Spark's truncating `div`
    * and DuckDB's flooring `//` agree on negatives.
    *
    * Scale shape: identical to q235 — (group, value) counts with
    * map-side combine, one bounded cumulative window per pair,
    * constant-size output. */
  def cliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = table(spark, dir, "events")
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(
        sum(when(col("g") === col("src_a"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("src_b"), col("c")).otherwise(0L)).as("cb"))
    val byV = Window.partitionBy("src_a", "src_b").orderBy("v")
    pv.withColumn("cumb",
        sum("cb").over(byV.rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(0L, Seq("cumb"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(
        sum(col("ca") * col("cumb")).as("gt"),
        sum(col("ca") * (col("n_b") - col("cumb") - col("cb"))).as("lt"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("gt"), col("lt"),
        (col("n_a") * col("n_b") - col("gt") - col("lt")).as("ties"),
        expr("""CASE WHEN gt >= lt
                THEN (1000 * (gt - lt)) div (n_a * n_b)
                ELSE -((1000 * (lt - gt)) div (n_a * n_b)) END""")
          .as("delta_pm"))
      .withColumn("magnitude",
        when(abs(col("delta_pm")) < CliffSmallPm, "negligible")
          .when(abs(col("delta_pm")) < CliffMediumPm, "small")
          .when(abs(col("delta_pm")) < CliffLargePm, "medium")
          .otherwise("large"))
      .orderBy("src_a", "src_b")
  }

  val cliffsDeltaSql: String =
    s"""WITH vals AS (
       |  SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
       |  FROM tot a JOIN tot b ON a.g < b.g),
       |pv AS (
       |  SELECT src_a, src_b, n_a, n_b, v,
       |    sum(CASE WHEN vals.g = src_a THEN c ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN vals.g = src_b THEN c ELSE 0 END)::BIGINT AS cb
       |  FROM pairs JOIN vals ON vals.g = src_a OR vals.g = src_b
       |  GROUP BY 1, 2, 3, 4, 5),
       |cum AS (
       |  SELECT src_a, src_b, n_a, n_b, ca, cb,
       |    coalesce(sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |  FROM pv),
       |d AS (
       |  SELECT src_a, src_b, n_a, n_b,
       |    sum(ca * cumb)::BIGINT AS gt,
       |    sum(ca * (n_b - cumb - cb))::BIGINT AS lt
       |  FROM cum GROUP BY 1, 2, 3, 4)
       |SELECT src_a, src_b, n_a, n_b, gt, lt,
       |  (n_a * n_b - gt - lt)::BIGINT AS ties,
       |  (CASE WHEN gt >= lt THEN (1000 * (gt - lt)) // (n_a * n_b)
       |        ELSE -((1000 * (lt - gt)) // (n_a * n_b)) END)::BIGINT
       |    AS delta_pm,
       |  CASE WHEN abs(CASE WHEN gt >= lt
       |          THEN (1000 * (gt - lt)) // (n_a * n_b)
       |          ELSE -((1000 * (lt - gt)) // (n_a * n_b)) END)
       |        < $CliffSmallPm THEN 'negligible'
       |       WHEN abs(CASE WHEN gt >= lt
       |          THEN (1000 * (gt - lt)) // (n_a * n_b)
       |          ELSE -((1000 * (lt - gt)) // (n_a * n_b)) END)
       |        < $CliffMediumPm THEN 'small'
       |       WHEN abs(CASE WHEN gt >= lt
       |          THEN (1000 * (gt - lt)) // (n_a * n_b)
       |          ELSE -((1000 * (lt - gt)) // (n_a * n_b)) END)
       |        < $CliffLargePm THEN 'medium'
       |       ELSE 'large' END AS magnitude
       |FROM d ORDER BY src_a, src_b""".stripMargin

  // ---- q303: capture-recapture population estimate -----------------------

  /** Chapman's nearly-unbiased capture-recapture estimator pointed at
    * the user universe: treat the month's first half as capture 1 and
    * the second half as capture 2; the overlap (users seen in both)
    * estimates the TOTAL population "N-hat = (n1+1)(n2+1)/(m+1) - 1" —
    * the coverage question a crawl planner asks about any population
    * it can only sample (how many users/domains/entities exist beyond
    * what we've seen?). The gate runs it where truth is KNOWN (the
    * distinct user count), publishing the estimator's signed error —
    * the calibration check you run before trusting it where truth
    * isn't. The halfway point derives from the data (min+max over 2),
    * so the query is corpus-portable; all counts are semi-join
    * distincts, the estimate one integer expression (q239 sign-peel
    * for the error). */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsTsUs(spark, dir).select("user_id", "ts_us")
    val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid))
    val c1 = tagged.filter(col("ts_us") < col("mid"))
      .select("user_id").distinct()
    val c2 = tagged.filter(col("ts_us") >= col("mid"))
      .select("user_id").distinct()
    val n1 = c1.agg(count(lit(1)).as("n1"))
    val n2 = c2.agg(count(lit(1)).as("n2"))
    val m = c1.join(c2, Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("m"))
    val truth = ev.select("user_id").distinct()
      .agg(count(lit(1)).as("n_true"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
      .crossJoin(broadcast(truth))
      .withColumn("n_est",
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
      .select(col("n1"), col("n2"), col("m"), col("n_est"), col("n_true"),
        expr("""CASE WHEN n_est >= n_true
                THEN (1000 * (n_est - n_true)) div n_true
                ELSE -((1000 * (n_true - n_est)) div n_true) END""")
          .as("err_pm"))
  }

  val captureRecaptureSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
      |mid AS (
      |  SELECT ((min(ts_us) + max(ts_us)) // 2)::BIGINT AS mid FROM e),
      |c1 AS (SELECT DISTINCT user_id FROM e, mid WHERE ts_us < mid),
      |c2 AS (SELECT DISTINCT user_id FROM e, mid WHERE ts_us >= mid),
      |s AS (
      |  SELECT (SELECT count(*) FROM c1)::BIGINT AS n1,
      |    (SELECT count(*) FROM c2)::BIGINT AS n2,
      |    (SELECT count(*) FROM c1 WHERE user_id IN
      |      (SELECT user_id FROM c2))::BIGINT AS m,
      |    (SELECT count(DISTINCT user_id) FROM e)::BIGINT AS n_true)
      |SELECT n1, n2, m,
      |  (((n1 + 1) * (n2 + 1)) // (m + 1) - 1)::BIGINT AS n_est, n_true,
      |  (CASE WHEN ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 >= n_true
      |    THEN (1000 * (((n1 + 1) * (n2 + 1)) // (m + 1) - 1 - n_true))
      |      // n_true
      |    ELSE -((1000 * (n_true - (((n1 + 1) * (n2 + 1)) // (m + 1) - 1)))
      |      // n_true) END)::BIGINT AS err_pm
      |FROM s""".stripMargin

  // ---- q306: Wasserstein-1 distribution shift ----------------------------

  /** Earth-mover distance (Wasserstein-1) between per-source document
    * LENGTH distributions — the MAGNITUDE complement of the shift
    * family: KS (q225) reports the largest CDF gap, PSI (q89) a
    * binned divergence, JSD a probability distance; W1 is the only
    * one in the UNITS OF THE VARIABLE ("feed A's docs are ~N
    * characters longer-distributed than B's") and the right loss for
    * re-weighting decisions. In 1-D it is exact and integer:
    * `W1 = integral |F_A - F_B| dv = sum_cells |cumA*nB - cumB*nA| *
    * gap / (nA*nB)`, published milli-scaled with truncating division.
    *
    * Scale shape: q235's economics verbatim — (source, value) counts
    * map-side combined, one bounded cumulative window per source
    * pair, constant-size output (G^2/2 rows). */
  def wassersteinShift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = table(spark, dir, "documents")
      .groupBy(col("source").as("g"), col("n_chars").cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(
        sum(when(col("g") === col("src_a"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("src_b"), col("c")).otherwise(0L)).as("cb"))
    val byV = Window.partitionBy("src_a", "src_b").orderBy("v")
    pv
      .withColumn("cuma", sum("ca").over(
        byV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumb", sum("cb").over(
        byV.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", lead("v", 1).over(
        Window.partitionBy("src_a", "src_b").orderBy("v")) - col("v"))
      .filter(col("gap").isNotNull) // at the top cell both CDFs are 1
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum(abs(col("cuma") * col("n_b") - col("cumb") * col("n_a"))
        * col("gap")).as("area"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        expr("(1000 * area) div (n_a * n_b)").as("w1_milli_chars"))
      .orderBy("src_a", "src_b")
  }

  val wassersteinShiftSql: String =
    """WITH vals AS (
      |  SELECT source AS g, n_chars::BIGINT AS v, count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
      |pairs AS (
      |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
      |  FROM tot a JOIN tot b ON a.g < b.g),
      |pv AS (
      |  SELECT src_a, src_b, n_a, n_b, v,
      |    sum(CASE WHEN vals.g = src_a THEN c ELSE 0 END)::BIGINT AS ca,
      |    sum(CASE WHEN vals.g = src_b THEN c ELSE 0 END)::BIGINT AS cb
      |  FROM pairs JOIN vals ON vals.g = src_a OR vals.g = src_b
      |  GROUP BY 1, 2, 3, 4, 5),
      |cum AS (
      |  SELECT src_a, src_b, n_a, n_b,
      |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
      |    lead(v) OVER w - v AS gap
      |  FROM pv
      |  WINDOW w AS (PARTITION BY src_a, src_b ORDER BY v
      |    ROWS UNBOUNDED PRECEDING))
      |SELECT src_a, src_b, n_a, n_b,
      |  ((1000 * sum(abs(cuma * n_b - cumb * n_a) * gap))
      |    // (n_a * n_b))::BIGINT AS w1_milli_chars
      |FROM cum WHERE gap IS NOT NULL
      |GROUP BY 1, 2, 3, 4
      |ORDER BY src_a, src_b""".stripMargin

  // ---- q307: Benjamini-Hochberg FDR across the pair-test family ----------

  /** Milli-z² BH critical values at FDR alpha = 0.05 over m = 10
    * tests: `1000 * (inv_Phi(1 - (k*alpha/m)/2))^2` for rank k = 1..10
    * — fixed literals shared verbatim by both engines (the q235
    * convention: criticals are constants, never computed at query
    * time). */
  val BhCritZ2Milli: Seq[Long] = Seq(7879L, 6635L, 5916L, 5412L,
    5024L, 4709L, 4445L, 4218L, 4019L, 3841L)

  /** Multiple-testing control — the correction every audit SUITE here
    * implicitly needs once it runs many tests at once: Benjamini-
    * Hochberg over the 10 Mann-Whitney event-type-pair tests (q235's
    * family, a FIXED m = 10 grid). Per pair the milli-z²
    * `(3·dev² ·n_a·n_b) div ((n_a+n_b+1)·1000)`; BH sorts descending,
    * finds the largest rank k whose z² clears [[BhCritZ2Milli]](k),
    * and rejects ranks 1..k — the step-up rule that bounds the
    * expected share of FALSE discoveries at 5% where per-test gates
    * (q235's raw reject) bound only each test alone. Published per
    * pair: statistic, rank, the rank's critical, raw vs BH verdicts —
    * the table showing which raw rejections survive correction.
    *
    * Determinism: floor-milli statistics with (z², pair-name) total
    * tie order; the step-up cutoff is a max over a 10-row table.
    * Scale: q235's economics; everything after the per-pair counts is
    * a 10-row computation. */
  def bhFdr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = table(spark, dir, "events")
      .groupBy(col("event_type").as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("c"))
    val tot = vals.groupBy("g").agg(sum("c").as("n"))
    val pairs = tot.select(col("g").as("src_a"), col("n").as("n_a"))
      .join(tot.select(col("g").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val pv = vals.join(broadcast(pairs),
        col("g") === col("src_a") || col("g") === col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b", "v")
      .agg(
        sum(when(col("g") === col("src_a"), col("c")).otherwise(0L)).as("ca"),
        sum(when(col("g") === col("src_b"), col("c")).otherwise(0L)).as("cb"))
    val byV = Window.partitionBy("src_a", "src_b").orderBy("v")
    val u = pv
      .withColumn("cumb",
        sum("cb").over(byV.rowsBetween(Window.unboundedPreceding, -1)))
      .na.fill(0L, Seq("cumb"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("u2"))
      .withColumn("dev_pm",
        expr("(1000 * abs(u2 - n_a * n_b)) div (n_a * n_b)"))
      .withColumn("z2_milli",
        expr("(3 * dev_pm * dev_pm * n_a * n_b)" +
          " div ((n_a + n_b + 1) * 1000)"))
    import spark.implicits._
    val crit = BhCritZ2Milli.zipWithIndex
      .map { case (c, i) => (i + 1L, c) }
      .toDF("rank", "crit_z2_milli")
    val ranked = u
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("z2_milli"), asc("src_a"), asc("src_b"))))
      .join(broadcast(crit), Seq("rank"))
    val cutoff = ranked
      .filter(col("z2_milli") >= col("crit_z2_milli"))
      .agg(coalesce(max("rank"), lit(0L)).as("k"))
    ranked.crossJoin(broadcast(cutoff))
      .select(col("src_a"), col("src_b"), col("z2_milli"),
        col("rank").cast("long").as("rank"), col("crit_z2_milli"),
        // raw per-test gate at alpha = .05 = BH's rank-m critical
        (col("z2_milli") >= lit(BhCritZ2Milli.last)).as("raw_reject"),
        (col("rank") <= col("k")).as("bh_reject"))
      .orderBy("rank")
  }

  val bhFdrSql: String = {
    val critRows = BhCritZ2Milli.zipWithIndex
      .map { case (c, i) => s"(${i + 1}, $c)" }.mkString(", ")
    s"""WITH vals AS (
       |  SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c)::BIGINT AS n FROM vals GROUP BY 1),
       |pairs AS (
       |  SELECT a.g AS src_a, a.n AS n_a, b.g AS src_b, b.n AS n_b
       |  FROM tot a JOIN tot b ON a.g < b.g),
       |pv AS (
       |  SELECT src_a, src_b, n_a, n_b, v,
       |    sum(CASE WHEN vals.g = src_a THEN c ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN vals.g = src_b THEN c ELSE 0 END)::BIGINT AS cb
       |  FROM pairs JOIN vals ON vals.g = src_a OR vals.g = src_b
       |  GROUP BY 1, 2, 3, 4, 5),
       |cum AS (
       |  SELECT src_a, src_b, n_a, n_b, ca, cb,
       |    coalesce(sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |  FROM pv),
       |u AS (
       |  SELECT src_a, src_b, n_a, n_b,
       |    sum(ca * (2 * cumb + cb))::BIGINT AS u2
       |  FROM cum GROUP BY 1, 2, 3, 4),
       |z AS (
       |  SELECT src_a, src_b,
       |    (3 * ((1000 * abs(u2 - n_a * n_b)) // (n_a * n_b))
       |       * ((1000 * abs(u2 - n_a * n_b)) // (n_a * n_b))
       |       * n_a * n_b) // ((n_a + n_b + 1) * 1000) AS z2_milli
       |  FROM u),
       |r AS (
       |  SELECT src_a, src_b, z2_milli,
       |    row_number() OVER (ORDER BY z2_milli DESC, src_a, src_b)
       |      AS rank
       |  FROM z),
       |crit(rank, crit_z2_milli) AS (VALUES $critRows),
       |rc AS (SELECT r.*, crit.crit_z2_milli FROM r JOIN crit USING (rank)),
       |k AS (
       |  SELECT coalesce(max(rank), 0) AS k FROM rc
       |  WHERE z2_milli >= crit_z2_milli)
       |SELECT src_a, src_b, z2_milli, rank::BIGINT AS rank,
       |  crit_z2_milli::BIGINT AS crit_z2_milli,
       |  z2_milli >= ${BhCritZ2Milli.last} AS raw_reject,
       |  rank <= k.k AS bh_reject
       |FROM rc, k ORDER BY rank""".stripMargin
  }

  // ---- q311: rank-biased overlap of two source rankings -------------------

  /** Suffix weight table `CW(d) = round(1e6 * sum_{j>=d}
    * (1-p)*p^(j-1)/j)`, p = 0.9, depth 20 — fixed literals (the BH
    * convention), which makes RBO a pure integer lookup-sum:
    * an item at ranks (ra, rb) contributes to every overlap depth
    * d >= max(ra, rb), so its total weight is exactly CW(max(ra,rb)). */
  val RboSuffixMicro: Seq[Long] = Seq(251483L, 151483L, 106483L, 79483L,
    61258L, 48136L, 38295L, 30703L, 24724L, 19941L, 16067L, 12897L,
    10282L, 8109L, 6294L, 4769L, 3482L, 2392L, 1465L, 675L)

  /** Rank-biased overlap (Webber et al. 2010) between two rankings of
    * the sources — by total token mass vs by total quality mass: the
    * top-weighted ranking-similarity measure IR evaluation uses where
    * Kendall/Spearman (q243/q253) weight every position equally (a
    * swap at rank 1 should matter more than at rank 20; p = 0.9 makes
    * the top ~10 carry ~90% of the weight). Identity telescopes to
    * `sum_d (1-p)p^(d-1) = 1 - p^20` (~878,423 micro — the spec pins
    * it), so the published micro value reads as a share of that
    * ceiling. Exact integers end to end: both rankings are
    * sum-ordered with source tie-break, and the RBO is one join +
    * [[RboSuffixMicro]] lookup-sum.
    *
    * Scale: per-source sums (map-side combined), two bounded sorts of
    * G rows, one G-row join. */
  def rboRankings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = table(spark, dir, "documents")
      .groupBy("source")
      .agg(
        sum(size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
          .as("tok"),
        sum(round(graft.text.TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long")).as("qual"))
    val ra = per.withColumn("ra", row_number().over(
      Window.orderBy(desc("tok"), asc("source")))).select("source", "ra")
    val rb = per.withColumn("rb", row_number().over(
      Window.orderBy(desc("qual"), asc("source")))).select("source", "rb")
    import spark.implicits._
    val cw = RboSuffixMicro.zipWithIndex
      .map { case (w, i) => (i + 1L, w) }.toDF("d", "cw")
    // LEFT join the depth-20 weight table (coalesce 0 beyond it): a
    // source landing past rank 20 in either ranking contributes zero
    // RBO weight but still COUNTS — n_sources/n_same_rank audit every
    // source, and the _d20_ column name carries the truncation depth
    // so the cap is explicit, never silent.
    val contrib = ra.join(rb, Seq("source"))
      .withColumn("d", greatest(col("ra"), col("rb")))
      .join(broadcast(cw), Seq("d"), "left")
    contrib.agg(
        count(lit(1)).as("n_sources"),
        sum(coalesce(col("cw"), lit(0L))).as("rbo_d20_micro"),
        sum(when(col("ra") === col("rb"), 1L).otherwise(0L))
          .as("n_same_rank"))
      .select(col("n_sources"), col("rbo_d20_micro"), col("n_same_rank"),
        lit(878423L).as("identity_micro"),
        expr("(1000 * rbo_d20_micro) div 878423").as("rbo_share_pm"))
  }

  val rboRankingsSql: String = {
    val cwRows = RboSuffixMicro.zipWithIndex
      .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
    s"""WITH per AS (
       |  SELECT source,
       |    sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT
       |      AS tok,
       |    sum(round(${graft.text.TextStats.qualityScoreSql("text")}
       |      * 1e6)::BIGINT)::BIGINT AS qual
       |  FROM documents GROUP BY source),
       |ra AS (
       |  SELECT source, row_number() OVER (ORDER BY tok DESC, source)
       |    AS ra FROM per),
       |rb AS (
       |  SELECT source, row_number() OVER (ORDER BY qual DESC, source)
       |    AS rb FROM per),
       |cw(d, w) AS (VALUES $cwRows),
       |c AS (
       |  SELECT greatest(ra.ra, rb.rb) AS d, ra.ra, rb.rb
       |  FROM ra JOIN rb USING (source))
       |SELECT count(*)::BIGINT AS n_sources,
       |  sum(coalesce(cw.w, 0))::BIGINT AS rbo_d20_micro,
       |  sum(CASE WHEN c.ra = c.rb THEN 1 ELSE 0 END)::BIGINT
       |    AS n_same_rank,
       |  878423::BIGINT AS identity_micro,
       |  ((1000 * sum(coalesce(cw.w, 0))) // 878423)::BIGINT
       |    AS rbo_share_pm
       |FROM c LEFT JOIN cw ON cw.d = c.d""".stripMargin
  }

  // ---- q329: Welch's unequal-variance t-test -------------------------------

  /** The parametric two-sample location test the rank battery
    * (q235/q248/q269) deliberately sidesteps — included because it is
    * what every experimentation platform actually reports, in Welch's
    * unequal-variance form (never pooled-variance Student: equal
    * variances is an assumption the data must earn). Click vs purchase
    * event values: means in exact integer micro units; the t statistic
    * and Welch–Satterthwaite df from a PINNED chain of IEEE ops over
    * exact integer inputs (each +,−,×,÷,√ is correctly rounded, so
    * identical operands in identical order are bit-identical
    * cross-engine — the q239 discipline), then FLOOR to micro (floor
    * of an identical double is unambiguous; `round`'s
    * shortest-decimal-vs-binary tie behavior is the documented
    * cross-engine seam, so it never touches a float here).
    *
    * Overflow bound: Σcents² stays under 2⁶³ for |value| ≤ ~10³ out to
    * ~10¹² rows — past that the same three sums run in DECIMAL(38,0).
    * Scale shape: ONE conditional-aggregate pass over events (three
    * exact integer sums per group), then a two-row stitch. */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        floor(col("value") * lit(100d)).cast("long").as("cents"))
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents") * col("cents")).as("q"))
    val a = g.filter(col("event_type") === "click")
      .select(col("n").as("n1"), col("s").as("s1"), col("q").as("q1"))
    val b = g.filter(col("event_type") === "purchase")
      .select(col("n").as("n2"), col("s").as("s2"), col("q").as("q2"))
    val args = ("cast(n1 as double)", "cast(s1 as double)", "cast(q1 as double)",
      "cast(n2 as double)", "cast(s2 as double)", "cast(q2 as double)")
    // both sides are one-row aggregate stitches; the hint states it
    // for the condition-free-join sweep (and the planner)
    a.crossJoin(broadcast(b)).select(
      col("n1"), col("n2"),
      expr("((2 * s1 * 10000 + n1) div (2 * n1))").as("mean1_micro"),
      expr("((2 * s2 * 10000 + n2) div (2 * n2))").as("mean2_micro"),
      expr(welchTExpr(args._1, args._2, args._3, args._4, args._5, args._6))
        .as("t_micro"),
      expr(welchDfExpr(args._1, args._2, args._3, args._4, args._5, args._6))
        .as("df_floor"))
      .withColumn("reject_95", abs(col("t_micro")) >= lit(1960000L))
  }

  /** Per-group `v/n` from the exact (n, Σcents, Σcents²) sums — the
    * building block both pinned expressions share verbatim. */
  private def welchTerm(n: String, s: String, q: String): String =
    s"((($q - $s * $s / $n) / ($n - 1)) / $n)"

  /** The t statistic as ONE op-chain string interpolated into BOTH
    * engines, so every intermediate double is identical. Means /100
    * (cents→currency) and se² /10000 keep t in the usual units. */
  private def welchTExpr(n1: String, s1: String, q1: String,
      n2: String, s2: String, q2: String): String =
    s"cast(floor(1000000 * (($s1 / $n1 - $s2 / $n2) / 100)" +
      s" / sqrt((${welchTerm(n1, s1, q1)} + ${welchTerm(n2, s2, q2)})" +
      " / 10000)) as bigint)"

  /** Welch–Satterthwaite effective df, floored — same pinned-chain
    * rule. */
  private def welchDfExpr(n1: String, s1: String, q1: String,
      n2: String, s2: String, q2: String): String = {
    val t1 = welchTerm(n1, s1, q1); val t2 = welchTerm(n2, s2, q2)
    s"cast(floor(($t1 + $t2) * ($t1 + $t2)" +
      s" / ($t1 * $t1 / ($n1 - 1) + $t2 * $t2 / ($n2 - 1))) as bigint)"
  }

  val welchTTestSql: String = {
    val (n1, s1, q1) = ("g1.n::DOUBLE", "g1.s::DOUBLE", "g1.q::DOUBLE")
    val (n2, s2, q2) = ("g2.n::DOUBLE", "g2.s::DOUBLE", "g2.q::DOUBLE")
    val se2 = s"(${welchTerm(n1, s1, q1)} + ${welchTerm(n2, s2, q2)})"
    val t1 = welchTerm(n1, s1, q1); val t2 = welchTerm(n2, s2, q2)
    val tExpr = s"floor(1000000 * (($s1 / $n1 - $s2 / $n2) / 100)" +
      s" / sqrt($se2 / 10000))::BIGINT"
    s"""WITH g AS (
       |  SELECT event_type, count(*)::BIGINT AS n,
       |    sum(floor(value * 100)::BIGINT)::BIGINT AS s,
       |    sum(floor(value * 100)::BIGINT * floor(value * 100)::BIGINT)
       |      ::BIGINT AS q
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |g1 AS (SELECT * FROM g WHERE event_type = 'click'),
       |g2 AS (SELECT * FROM g WHERE event_type = 'purchase')
       |SELECT g1.n AS n1, g2.n AS n2,
       |  ((2 * g1.s * 10000 + g1.n) // (2 * g1.n))::BIGINT AS mean1_micro,
       |  ((2 * g2.s * 10000 + g2.n) // (2 * g2.n))::BIGINT AS mean2_micro,
       |  $tExpr AS t_micro,
       |  floor(($t1 + $t2) * ($t1 + $t2)
       |    / ($t1 * $t1 / ($n1 - 1) + $t2 * $t2 / ($n2 - 1)))::BIGINT
       |    AS df_floor,
       |  abs($tExpr) >= 1960000 AS reject_95
       |FROM g1 CROSS JOIN g2""".stripMargin
  }
}
