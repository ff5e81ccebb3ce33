package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `request` groups the spans of one request (one
  * profile, one layer probe, one streaming query). Times are epoch ms
  * (Spark's listener clock), so harness spans and Spark job/stage spans
  * share one time base. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startMs: Long, endMs: Long)

/** Task metrics summed per Spark job. */
final class JobStats {
  var stages = 0; var tasks = 0
  var cpuNs = 0L; var gcMs = 0L
  var bytesRead = 0L; var recordsRead = 0L; var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L
  var spillBytes = 0L; var peakExecMem = 0L
  var submitMs = 0L; var firstTaskMs = Long.MaxValue; var endMs = 0L
  var request = 0L
  /** stage id -> per-task shuffle-read record counts */
  val shuffleReadRecords = TrieMap.empty[Int, List[Long]]
}

/** Spans plus the listeners that attribute Spark work to them. A caller
  * marks its thread with [[within]]; Spark copies the thread's local
  * properties into every job it starts, so each job, and each task of
  * it, is charged to the span that was open on the calling thread. A
  * streaming query's thread inherits the properties of the thread that
  * started it, so its micro-batch jobs are charged to that span. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = TrieMap.empty[Int, (Long, JobStats)] // job id -> (span, stats)
  private val stageJob = TrieMap.empty[Int, Int]
  /** planning phase durations (analysis/optimization/planning) per query */
  val phases = new ConcurrentLinkedQueue[Map[String, Long]]()
  /** query name -> progress events, in order */
  val progress = TrieMap.empty[String, ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]]

  private val SpanProp = "perfbench.span"
  private val RequestProp = "perfbench.request"

  def newId(): Long = ids.incrementAndGet()

  /** Run `body` as span `name`, charging Spark jobs started on this
    * thread to it. The span nests under the span open on this thread,
    * if any, and shares its request; otherwise it starts a request whose
    * id is its own. */
  def within[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val id = newId()
    val prev = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(RequestProp))
    val parent = Option(prev._1).map(_.toLong).getOrElse(0L)
    val req = Option(prev._2).map(_.toLong).getOrElse(id)
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(RequestProp, req.toString)
    val t0 = System.currentTimeMillis()
    try {
      val out = body
      val s = Span(id, parent, req, name, t0, System.currentTimeMillis())
      spans.add(s)
      (out, s)
    } finally {
      sc.setLocalProperty(SpanProp, prev._1)
      sc.setLocalProperty(RequestProp, prev._2)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .map(_.toLong).getOrElse(0L)
      val st = new JobStats
      st.submitMs = e.time
      st.stages = e.stageInfos.size
      st.request = prop(RequestProp)
      jobs(e.jobId) = (prop(SpanProp), st)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { case (_, st) =>
        st.synchronized { st.firstTaskMs = math.min(st.firstTaskMs, e.taskInfo.launchTime) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); (_, st) <- jobs.get(j); m <- Option(e.taskMetrics))
        st.synchronized {
          st.tasks += 1
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.bytesRead += m.inputMetrics.bytesRead
          st.recordsRead += m.inputMetrics.recordsRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
          val rr = m.shuffleReadMetrics.recordsRead
          if (m.shuffleReadMetrics.totalBlocksFetched > 0)
            st.shuffleReadRecords(e.stageId) =
              rr :: st.shuffleReadRecords.getOrElse(e.stageId, Nil)
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { case (span, st) =>
        st.endMs = e.time
        spans.add(Span(newId(), span, st.request, s"job ${e.jobId}", st.submitMs, e.time))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.getOrElseUpdate(e.progress.name, new ConcurrentLinkedQueue()).add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // streaming queries run in the program's pooled streaming session,
  // whose query manager has its own listeners
  private def streamSession = graft.queries.QueryUtil.withStreamStatePartitions(spark)(identity)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    streamSession.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    streamSession.streams.removeListener(streamListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark)

  /** Jobs charged to any of the given spans. */
  def jobsOf(spanIds: Set[Long]): Seq[JobStats] =
    jobs.values.collect { case (s, st) if spanIds(s) => st }.toSeq

  /** Jobs charged to a span or any span nested under it. */
  def jobsUnder(root: Long): Seq[JobStats] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def walk(id: Long): Set[Long] =
      children.getOrElse(id, Nil).map(_.id).flatMap(walk).toSet + id
    jobsOf(walk(root))
  }

  /** Spans as JSON lines. */
  def spanLines: Iterator[String] = spans.asScala.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
      s""""name":"${Json.esc(s.name)}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
