package graft.profile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField}

/** Facade reproducing the reference's whole job
  * (jar/ProfileJob.java:78-162) Spark-first:
  *
  *   job 1 — [[NumericProfiler.profile]]: every column's basic stats +
  *           lengths + census + completeness, one scan, zero shuffles.
  *   job 2 — [[TopK.topKAll]]: all string columns' top-K values AND
  *           patterns, one scan, one aggregation, collected once.
  *
  * vs the reference's 1 + #columns source passes and per-column
  * parallelism-1 sort stages. Histogram bin width (Scott's rule with the
  * reference's skew correction, jar/ProfileJob.java:146-162) is derived
  * driver-side per numeric column.
  */
object ProfileRunner {

  def profile(df: DataFrame, topK: Int = 20): TableProfile = {
    val base = NumericProfiler.profile(df)
    val strCols = df.schema.fields.collect { case StructField(n, _: StringType, _, _) => n }.toSeq
    if (strCols.isEmpty) base
    else {
      val tops = TopK.topKAll(df, strCols, topK).collect()
        .groupBy(r => (r.getAs[String]("kind"), r.getAs[String]("col_name")))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt"))).toSeq)
        .toMap
      def top(kind: String, c: String) = tops.getOrElse((kind, c), Nil)
      base.copy(columns = base.columns.map { cp =>
        cp.copy(
          topValues = top(TopK.Value, cp.name),
          topPatterns = top(TopK.Pattern, cp.name))
      })
    }
  }

  def report(df: DataFrame, topK: Int = 20): String = {
    val tp = profile(df, topK)
    // column order (not Map iteration order): matches the reference's
    // print loop and keeps the rendering golden-file stable
    val widths = tp.columns.filter(_.moments.n > 0).map { cp =>
      val (w, ok) = DerivedStats.scottBinWidth(cp.moments, cp.rowCount)
      // reference parity: scottBinWidth flags unreliable only for
      // POSITIVE skew > 3 (jar/ProfileJob.java:146-162), so the
      // message must not imply absolute-value semantics
      s"BinWidth for column ${cp.name} = $w${if (ok) "" else " (UNRELIABLE: skew > 3)"}"
    }.mkString("\n")
    tp.report(topK) + "\n" + widths + "\n"
  }
}
