package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PatternMask
import graft.profile.{DerivedStats, Moments, TableProfile}
import graft.streaming.TopKRow

/** Correctness checks against plain Spark SQL. Each returns the list of
  * problems found (empty = correct). All run outside the timed region. */
object Checks {

  def close(a: Double, b: Double, rel: Double, abs: Double = 0.0): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= abs + rel * math.max(math.abs(a), math.abs(b))

  /** Moments agree: counts and extremes exactly, the rest within `rel`. */
  def momentsClose(a: Moments, b: Moments, rel: Double): Boolean =
    a.n == b.n && close(a.min, b.min, 0) && close(a.max, b.max, 0) &&
      close(a.mean, b.mean, rel, rel * math.sqrt(math.abs(DerivedStats.variancePop(a)))) &&
      close(a.m2, b.m2, rel) &&
      close(DerivedStats.skewnessPop(a), DerivedStats.skewnessPop(b), rel, rel) &&
      close(DerivedStats.kurtosisPop(a), DerivedStats.kurtosisPop(b), rel)

  /** Two profiles of one table agree (floating-point moments within a
    * tight tolerance, everything else exactly). */
  def sameProfile(a: TableProfile, b: TableProfile): Boolean =
    a.rowCount == b.rowCount && a.completeRecords == b.completeRecords &&
      a.columns.size == b.columns.size &&
      a.columns.zip(b.columns).forall { case (x, y) =>
        x.copy(moments = Moments.zero, avgLength = None) ==
          y.copy(moments = Moments.zero, avgLength = None) &&
          momentsClose(x.moments, y.moments, 1e-9) &&
          x.avgLength.isDefined == y.avgLength.isDefined &&
          x.avgLength.zip(y.avgLength).forall { case (p, q) => close(p, q, 1e-12) }
      }

  /** The double a profiler should see for a column, if it is numeric:
    * numbers as such, dates and timestamps as epoch milliseconds. */
  private def asDouble(f: StructField): Option[Column] = f.dataType match {
    case _: NumericType => Some(col(f.name).cast(DoubleType))
    case TimestampType => Some(unix_millis(col(f.name)).cast(DoubleType))
    case DateType => Some(unix_millis(col(f.name).cast(TimestampType)).cast(DoubleType))
    case _ => None
  }

  /** Expected large-table report contents, from plain SQL: counts,
    * completeness, top-K values and patterns (one `groupBy` per string
    * column, ranked on the driver by count desc, value asc), and moments
    * from a two-pass computation. `problems(report)` lists where a
    * `ProfileRunner.report` text disagrees. */
  final class LargeExpected(df: DataFrame, k: Int) {
    private val fields = df.schema.fields.toSeq

    private val counts = {
      val complete = fields.map { f =>
        val nn = col(f.name).isNotNull
        if (f.dataType == StringType) nn && length(trim(col(f.name))) > 0 else nn
      }.reduce(_ && _)
      df.agg(count(lit(1)), (sum(when(complete, 1L).otherwise(0L)) +: fields.flatMap { f =>
        Seq(count(col(f.name)), sum(when(length(trim(col(f.name))) === 0, 1L).otherwise(0L)))
      }): _*).head()
    }
    val rows: Long = counts.getLong(0)
    private val completeRecords = counts.getLong(1)
    private def nulls(i: Int) = rows - counts.getLong(2 + 2 * i)
    private def blanks(i: Int) =
      if (fields(i).dataType == StringType) counts.getLong(3 + 2 * i) else 0L

    private def ranked(m: Iterable[(String, Long)]): String =
      m.toSeq.sortBy { case (v, c) => (-c, v) }.take(k)
        .map { case (v, c) => s"$v=$c" }.mkString(", ")

    /** column -> (top values line, top patterns line) */
    private val tops: Map[String, (String, String)] =
      fields.filter(_.dataType == StringType).map { f =>
        val vc = df.filter(col(f.name).isNotNull).groupBy(col(f.name)).count().collect()
          .map(r => (r.getString(0), r.getLong(1)))
        val pc = vc.groupMapReduce(v => PatternMask.mask(v._1))(_._2)(_ + _)
        f.name -> (s"Top-$k values: ${ranked(vc)}", s"Top-$k patterns: ${ranked(pc)}")
      }.toMap

    /** column -> moments of its double view, by two passes */
    private val moments: Map[String, Moments] = {
      val numeric = fields.flatMap(f => asDouble(f).map(f.name -> _))
      val pass1 = df.agg(count(lit(1)), numeric.flatMap { case (_, x) =>
        Seq(count(x), avg(x), min(x), max(x)) }: _*).head()
      def d(r: Row, j: Int) = if (r.isNullAt(j)) 0.0 else r.getDouble(j)
      val means = numeric.indices.map(i => d(pass1, 2 + 4 * i))
      val pass2 = df.agg(count(lit(1)), numeric.zip(means).flatMap { case ((_, x), m) =>
        Seq(2, 3, 4).map(p => sum(pow(x - lit(m), p.toDouble))) }: _*).head()
      numeric.zipWithIndex.map { case ((name, _), i) =>
        val n = pass1.getLong(1 + 4 * i)
        name -> (if (n == 0) Moments.zero
          else Moments(n, means(i), d(pass2, 1 + 3 * i), d(pass2, 2 + 3 * i),
            d(pass2, 3 + 3 * i), d(pass1, 3 + 4 * i), d(pass1, 4 + 4 * i)))
      }.toMap
    }

    def problems(report: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      def expect(what: String, ok: Boolean): Unit = if (!ok) out += what
      val lines = report.split("\n").toSeq
      expect("row count line", lines.contains(s"Rows: $rows"))
      expect("complete records line", lines.contains(s"Complete records: $completeRecords"))
      // column blocks: "Column 'name' (type)" then "  key: value" lines
      val blocks = mutable.LinkedHashMap.empty[String, mutable.Map[String, String]]
      var cur: mutable.Map[String, String] = null
      lines.foreach { l =>
        if (l.startsWith("Column '")) {
          cur = mutable.Map.empty; blocks(l.drop(8).takeWhile(_ != '\'')) = cur
        } else if (l.startsWith("  ") && cur != null) {
          val i = l.indexOf(": ")
          if (i > 0) cur(l.substring(2, i)) = l.substring(i + 2)
        }
      }
      expect(s"columns ${blocks.keys.mkString(",")}", blocks.keys.toSeq == fields.map(_.name))
      fields.zipWithIndex.foreach { case (f, i) =>
        val b = blocks.getOrElse(f.name, mutable.Map.empty[String, String])
        def is(key: String, want: Any): Unit =
          expect(s"${f.name}: $key ${b.get(key)} != $want", b.get(key).contains(want.toString))
        is("Row count", rows); is("Null values", nulls(i)); is("Empty strings", blanks(i))
        val m = moments.getOrElse(f.name, Moments.zero)
        is("Numeric values", m.n)
        if (m.n > 0) {
          def num(key: String) = b.get(key).map(_.toDouble).getOrElse(Double.NaN)
          val rel = 1e-6
          expect(s"${f.name}: min/max", num("Min") == m.min && num("Max") == m.max)
          expect(s"${f.name}: mean ${num("Mean")} vs ${m.mean}",
            close(num("Mean"), m.mean, rel, rel * math.sqrt(DerivedStats.variancePop(m))))
          expect(s"${f.name}: variance", close(num("Population variance"), DerivedStats.variancePop(m), rel))
          expect(s"${f.name}: skewness", close(num("Population skewness"), DerivedStats.skewnessPop(m), rel, rel))
          expect(s"${f.name}: kurtosis", close(num("Population kurtosis"), DerivedStats.kurtosisPop(m), rel))
        }
        tops.get(f.name).foreach { case (values, patterns) =>
          expect(s"${f.name}: top values", lines.contains("  " + values))
          expect(s"${f.name}: top patterns", lines.contains("  " + patterns))
        }
      }
      out.result()
    }
  }

  /** Final streaming windowed moments vs the batch computation. */
  def streamMoments(batch: Seq[Row], streamed: Map[(Long, String), Row]): Seq[String] = {
    val want = batch.map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r).toMap
    val problems = Seq.newBuilder[String]
    if (want.keySet != streamed.keySet)
      problems += s"window/key sets differ: ${want.size} batch vs ${streamed.size} streamed"
    for ((k, w) <- want; s <- streamed.get(k)) {
      // n, sum_cents, sum_cents2 exactly; mean, var_pop, skew_pop,
      // kurt_pop within 1e-9; min, max exactly
      val exact = Seq(2, 4, 5, 9, 10).forall(i => w.get(i) == s.get(i))
      val approx = Seq(3, 6, 7, 8).forall(i => close(w.getDouble(i), s.getDouble(i), 1e-9, 1e-9))
      if (!exact || !approx) problems += s"window $k: batch $w vs streamed $s"
    }
    problems.result().take(5)
  }

  /** Space-Saving output vs exact counts: per key, ranks 1..min(k,
    * distinct), counts non-increasing, and true <= cnt <= true + err. */
  def streamTopK(exact: Map[(String, String), Long], streamed: Map[String, Seq[TopKRow]],
      k: Int): Seq[String] = {
    val distinct = exact.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val problems = Seq.newBuilder[String]
    if (distinct.keySet != streamed.keySet)
      problems += s"key sets differ: ${distinct.size} batch vs ${streamed.size} streamed"
    for ((key, rows) <- streamed) {
      val sorted = rows.sortBy(_.rank)
      if (sorted.map(_.rank) != (1 to math.min(k, distinct.getOrElse(key, 0))))
        problems += s"key $key: ranks ${sorted.map(_.rank)}"
      if (sorted.map(_.cnt) != sorted.map(_.cnt).sorted.reverse)
        problems += s"key $key: counts not ordered"
      sorted.foreach { r =>
        val t = exact.getOrElse((key, r.value), 0L)
        if (r.cnt < t || r.cnt > t + r.err)
          problems += s"key $key value ${r.value}: true $t, reported ${r.cnt} (err ${r.err})"
      }
    }
    problems.result().take(5)
  }
}
