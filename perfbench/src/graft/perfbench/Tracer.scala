package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one traced benchmark run.
  *
  * The client thread opens `request`, `construct` and `execute` spans around
  * its calls into the program. Before each construct/execute call it sets
  * the local property [[SpanKey]] to that span's id; Spark copies local
  * properties into every job it starts from that thread (and threads it
  * spawns), so the listener below reads the owning span back from
  * `SparkListenerJobStart.properties`. Stages and tasks hang off their job.
  * Catalyst phase times come from the `QueryPlanningTracker` of each
  * finished action, delivered to a `QueryExecutionListener`; the phases
  * carry epoch timestamps, which place them inside a span.
  *
  * Nothing is aggregated here: every record is written out at exit and
  * `perfbench/layers.py` computes the per-layer metrics.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  // Spark stamps events in epoch milliseconds, spans use nanoTime
  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def msToNs(ms: Long): Long = nano0 + (ms - epoch0Ms) * 1000000L

  private val nextSpan = new AtomicLong(1L)
  private val spans = ArrayBuffer.empty[Span] // client thread only
  private val gauges = ArrayBuffer.empty[String] // client thread only

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, owner, msToNs(e.time), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = msToNs(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      // the owning job is the newest running job that lists this stage
      val job = jobs.values.asScala.filter(j => j.end == 0L && j.stageIds.contains(id))
        .toSeq.sortBy(-_.id).headOption.map(_.id).getOrElse(-1)
      val st = stages.computeIfAbsent(id, _ => Stage(id, job))
      st.start = msToNs(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { st =>
        st.end = msToNs(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stages.computeIfAbsent(e.stageId, id => Stage(id, -1))
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.inputBytes += m.inputMetrics.bytesRead
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private def addPhases(func: String, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def f(k: String): String = ph.get(k).map { p =>
      s"""{"start":${msToNs(p.startTimeMs)},"end":${msToNs(p.endTimeMs)}}"""
    }.getOrElse("null")
    phases.add(s"""{"type":"phase","func":${Json.str(func)},""" +
      s""""analysis":${f("analysis")},"optimization":${f("optimization")},""" +
      s""""planning":${f("planning")}}""")
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Open a span; `owner` marks it as the span Spark jobs started from this
    * thread belong to until the next owner is set.
    */
  def begin(name: String, parent: Span, request: Long, row: String, owner: Boolean): Span = {
    val s = Span(nextSpan.getAndIncrement(), if (parent == null) 0L else parent.id, name,
      request, row, System.nanoTime())
    spans += s
    if (owner) spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def end(s: Span): Unit = s.end = System.nanoTime()

  /** Record the Catalyst phases of the frame a construct call returned: the
    * evaluating action re-analyzes nothing, so the frame's own tracker holds
    * the analysis the request paid.
    */
  def frame(df: org.apache.spark.sql.DataFrame): Unit = addPhases("frame", df.queryExecution)

  def release(): Unit = spark.sparkContext.setLocalProperty(SpanKey, null)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

  def gauge(request: Long, fields: (String, Long)*): Unit =
    gauges += fields.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"type":"gauge","request":$request,""", ",", "}")

  def write(path: String): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try {
      spans.foreach { s =>
        w.write(s"""{"type":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          s""""request":${s.request},"row":${Json.str(s.row)},"start":${s.start},"end":${s.end}}""")
        w.newLine()
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.write(s"""{"type":"job","id":${j.id},"owner":${Json.str(j.owner)},""" +
          s""""start":${j.start},"end":${j.end}}""")
        w.newLine()
      }
      stages.values.asScala.toSeq.sortBy(_.id).foreach { st =>
        w.write(s"""{"type":"stage","id":${st.id},"job":${st.job},"start":${st.start},""" +
          s""""end":${st.end},"tasks":${st.tasks},"run_ms":${st.runMs},"cpu_ns":${st.cpuNs},""" +
          s""""input_bytes":${st.inputBytes},"shuffle_read_bytes":${st.shuffleRead},""" +
          s""""shuffle_write_bytes":${st.shuffleWrite},"spill_bytes":${st.spill},""" +
          s""""peak_exec_mem_bytes":${st.peakMem}}""")
        w.newLine()
      }
      phases.asScala.foreach { p => w.write(p); w.newLine() }
      gauges.foreach { g => w.write(g); w.newLine() }
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, request: Long, row: String,
      start: Long) {
    @volatile var end: Long = 0L
  }

  final case class Job(id: Int, owner: String, start: Long, stageIds: Seq[Int]) {
    @volatile var end: Long = 0L
  }

  final case class Stage(id: Int, job: Int) {
    @volatile var start: Long = 0L
    @volatile var end: Long = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
  }
}
