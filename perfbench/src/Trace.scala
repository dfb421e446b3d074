package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so benchmark spans and job/stage
  * spans nest on one axis. `parent` is 0 for a root.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** A finished job as the benchmark's listener saw it. */
final case class JobRec(jobId: Int, start: Double, end: Double, span: Long,
    streamQuery: String, streamBatch: Long, stages: Seq[Int])

/** A finished stage with its accumulated task metrics. */
final case class StageRec(stageId: Int, start: Double, end: Double,
    tasks: Int, cpuMs: Double, gcMs: Double, inputB: Double,
    shuffleReadB: Double, shuffleWriteB: Double, spillB: Double)

/** Span recorder plus the benchmark's own Spark listeners.
  *
  * Spans are kept in memory and written out once, after the run. With
  * tracing off, [[span]] only runs its body and no listener is added, so
  * an untraced run measures the engine alone.
  *
  * Jobs are attributed to the benchmark span that launched them through
  * the `perfbench.span` local property, which [[span]] sets on the
  * calling thread; Spark copies local properties to every job the
  * thread starts, including broadcast and subquery jobs.
  */
final class Tracer(val on: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  /** (start, analysis+optimization+planning ms) per finished query
    * execution. The listener's query-execution ids are not the ids jobs
    * carry, so callers attribute a plan to the span whose interval holds
    * its start.
    */
  val plans = new ConcurrentLinkedQueue[(Double, Double)]()

  def add(s: Span): Unit = if (on) spans.add(s)
  def newId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span; jobs it launches carry the span's id. */
  def span[T](spark: SparkSession, kind: String, name: String, parent: Long)(
      body: Long => T): T = {
    if (!on) return body(0L)
    val id = newId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    try body(id)
    finally {
      spans.add(Span(id, parent, kind, name, t0, now()))
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def install(spark: SparkSession): Unit = if (on) {
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        jobStarts.put(e.jobId, JobRec(e.jobId, e.time.toDouble, e.time.toDouble,
          prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
          prop("sql.streaming.queryId").getOrElse(""),
          prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) stages.add(StageRec(si.stageId,
          si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
          si.numTasks, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          m.inputMetrics.bytesRead.toDouble, m.shuffleReadMetrics.totalBytesRead.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty)
          plans.add(ph.map(_.startTimeMs).min.toDouble -> ph.map(_.durationMs.toDouble).sum)
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  /** Jobs and stages as child spans of the benchmark span that launched
    * them (or of `parentOf(job)` when the caller attributes them itself,
    * as the streaming workloads do by time).
    */
  def jobStageSpans(parentOf: JobRec => Long): Seq[Span] = {
    val st = stages.asScala.map(s => s.stageId -> s).toMap
    jobs.asScala.toSeq.flatMap { j =>
      val jid = newId()
      val p = parentOf(j)
      Span(jid, p, "job", s"job ${j.jobId}", j.start, j.end) +:
        j.stages.flatMap(st.get).filter(_.end > 0).map(s =>
          Span(newId(), jid, "stage", s"stage ${s.stageId}", s.start, s.end))
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far, so the records above are complete.
    */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals, in ms. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per span kind: each span's duration minus the part of its
    * interval covered by its children.
    */
  def selfMsByKind(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map { s =>
        val cover = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        math.max(0.0, s.ms - unionMs(cover))
      }.sum
    }
  }

  def writeSpans(path: String, all: Seq[Span]): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end}""" +
        s.attrs.map { case (k, v) => s""","${k}":${Json.num(v)}""" }.mkString + "}\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
