package graft.profile

import java.util.UUID
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicReference

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.{StringType, StructField}

/** Facade reproducing the reference's whole job
  * (jar/ProfileJob.java:78-162) Spark-first, as two independent queries
  * run at the same time:
  *
  *   numeric — [[NumericProfiler.profile]] on the caller's thread: every
  *             column's basic stats + lengths + census + completeness,
  *             one scan, zero shuffles.
  *   top-K   — [[TopK.topKAll]] on a pooled daemon thread, when the
  *             table has string columns: their top-K values AND
  *             patterns, one scan, one aggregation, collected once.
  *
  * Neither reads the other's output (as the reference's basic-stats and
  * top-K passes are independent jobs of one dataflow), so each one's
  * planning, code generation and jobs overlap the other's. The pooled
  * thread carries the caller's SparkContext local properties (job group,
  * tags, scheduler pool). Every job of a profile carries the request's
  * tag (`graft-profile-<uuid>`), one layer tag ([[NumericTag]] or
  * [[TopKTag]]) and a description naming the layer. When one query
  * fails, the request's other jobs are cancelled and waited for, then
  * the first error is thrown as is.
  *
  * Columns are profiled by position, as the reference addresses them,
  * so repeated names profile; each [[ColumnProfile]] keeps its input
  * name. Histogram bin width (Scott's rule with the reference's skew
  * correction, jar/ProfileJob.java:146-162) is derived driver-side per
  * numeric column.
  */
object ProfileRunner {

  val NumericTag = "graft-profile-numeric"
  val TopKTag = "graft-profile-topk"

  private lazy val pool = SqlShims.daemonCachedPool("graft-profile")

  def profile(df: DataFrame, topK: Int = 20): TableProfile = {
    val fields = df.schema.fields
    val names = fields.indices.map(i => s"c$i")
    val byPosition = df.toDF(names: _*)
    val strCols = names.zip(fields).collect { case (n, StructField(_, _: StringType, _, _)) => n }
    val sc = df.sparkSession.sparkContext
    val request = s"graft-profile-${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]
    def tagged[T](layer: String)(body: => T): T = {
      val description = sc.getLocalProperty("spark.job.description")
      sc.addJobTags(Set(request, layer))
      sc.setJobDescription(s"ProfileRunner.profile $layer")
      try body
      catch { case e: Throwable =>
        failure.compareAndSet(null, e)
        sc.cancelJobsWithTag(request, s"$layer query of the same profile failed")
        throw e
      } finally {
        sc.removeJobTags(Set(request, layer))
        sc.setJobDescription(description)
      }
    }
    val tops = Option.when(strCols.nonEmpty)(
      SqlShims.withThreadLocalCaptured(df.sparkSession, pool)(
        tagged(TopKTag)(TopK.topKAll(byPosition, strCols, topK).collect())))
    val base = Try(tagged(NumericTag)(NumericProfiler.profile(byPosition)))
    // wait for the top-K query whatever the numeric one did: it may fail
    // after the numeric one succeeded, or still be planning when the
    // numeric one failed
    tops.foreach(f => while (!f.isDone) {
      if (base.isFailure) sc.cancelJobsWithTag(request, s"$NumericTag query of the same profile failed")
      Try(f.get(10, TimeUnit.MILLISECONDS))
    })
    Option(failure.get).foreach(e => throw e)

    val top = tops.fold(Array.empty[Row])(_.join())
      .groupBy(r => (r.getAs[String]("kind"), r.getAs[String]("col_name")))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt"))).toSeq)
      .toMap.withDefaultValue(Nil)
    base.get.copy(columns = base.get.columns.zipWithIndex.map { case (cp, i) =>
      cp.copy(
        name = fields(i).name,
        topValues = top((TopK.Value, names(i))),
        topPatterns = top((TopK.Pattern, names(i))))
    })
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
