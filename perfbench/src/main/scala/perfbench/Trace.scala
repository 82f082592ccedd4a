package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the trace. Times are nanoseconds on the
  * harness clock (`System.nanoTime`); `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val client: Int, val pass: Int, val start: Long) {
  @volatile var end: Long = -1L
  private val attrs = new ConcurrentHashMap[String, java.lang.Double]()

  def add(key: String, v: Double): Unit = {
    attrs.merge(key, v, (a: java.lang.Double, b: java.lang.Double) => a + b)
    ()
  }
  def attributes: Map[String, Double] =
    attrs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}

/** In-memory span store. Spans are appended as they open and written out
  * once at the end of the run; nothing is flushed while timing. */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val store = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  // listener events carry epoch milliseconds; this maps them onto nanoTime
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def open(kind: String, name: String, parent: Option[Span], client: Int,
      pass: Int, start: Long = System.nanoTime()): Span = {
    val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), kind,
      name, client, pass, start)
    store.add(s)
    byId.put(s.id, s)
    s
  }

  /** Child of `parent` with the parent's client and pass. */
  def child(parent: Span, kind: String, name: String,
      start: Long = System.nanoTime()): Span =
    open(kind, name, Some(parent), parent.client, parent.pass, start)

  def close(s: Span, end: Long = System.nanoTime()): Unit = s.end = end

  def get(id: Long): Option[Span] = Option(byId.get(id))

  /** The span named by the local property [[Tracer.SpanKey]], if any. */
  def fromProperty(v: String): Option[Span] =
    Option(v).flatMap(x => x.toLongOption).flatMap(get)

  def spans: Seq[Span] = store.asScala.toSeq
}

object Tracer {
  /** Spark local property naming the span whose work the calling thread
    * is doing. Jobs inherit it (and stream threads copy it from their
    * creator), which is how Spark-side events find their query. */
  val SpanKey = "perfbench.span"

  /** The span the current thread works for: a task reads it from its
    * TaskContext, a driver thread from the SparkContext thread locals. */
  def currentSpanProperty(): String =
    Option(TaskContext.get()).map(_.getLocalProperty(SpanKey))
      .orElse(org.apache.spark.PerfbenchBridge.activeLocalProperty(SpanKey))
      .orNull
}

/** Jobs, stages and task metrics, parented by the [[Tracer.SpanKey]]
  * property of the job that ran them, and the planning time of each SQL
  * execution, found through the span of its jobs. */
final class JobListener(t: Tracer) extends SparkListener {
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stageTotals = new ConcurrentHashMap[(Int, Int), Array[Double]]()
  private val executionSpan = new ConcurrentHashMap[Long, Span]()

  // task metric slots summed per stage attempt
  private val Fields = Array("tasks", "task_cpu_s", "task_run_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "sched_wait_s")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => t.fromProperty(p.getProperty(Tracer.SpanKey))).foreach { p =>
      val job = t.child(p, "job", s"job ${e.jobId}", t.fromEpochMs(e.time))
      jobSpans.put(e.jobId, job)
      e.stageIds.foreach(stageJob.put(_, job))
      props.flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).foreach(executionSpan.putIfAbsent(_, p))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.remove(e.jobId)).foreach(t.close(_, t.fromEpochMs(e.time)))

  // analysis + optimization + physical planning of each executed plan, from
  // its QueryExecution.tracker, added to the span that ran it
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      for {
        s <- Option(executionSpan.remove(end.executionId))
        qe <- org.apache.spark.sql.PerfbenchSqlBridge.queryExecution(end)
      } s.add("plan_s", PlanPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3)
    case _ =>
  }
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val acc = stageTotals.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new Array[Double](Fields.length))
      val mb = 1024.0 * 1024.0
      acc(0) += 1
      acc(1) += m.executorCpuTime / 1e9
      acc(2) += m.executorRunTime / 1e3
      acc(3) += m.shuffleReadMetrics.totalBytesRead / mb
      acc(4) += m.shuffleWriteMetrics.bytesWritten / mb
      acc(5) += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
      acc(6) += waitSec(e)
    }

  // stage submit -> task launch; the submission time is on the stage info,
  // which the task event does not carry, so it is looked up lazily
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    if (stageJob.containsKey(i.stageId))
      i.submissionTime.foreach(ms => submitted.put((i.stageId, i.attemptNumber()), ms))
  }
  private def waitSec(e: SparkListenerTaskEnd): Double =
    Option(submitted.get((e.stageId, e.stageAttemptId)))
      .map(s => math.max(0L, e.taskInfo.launchTime - s) / 1e3).getOrElse(0.0)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stageJob.get(i.stageId)).foreach { job =>
      val start = i.submissionTime.map(t.fromEpochMs).getOrElse(job.start)
      val s = t.child(job, "stage", s"stage ${i.stageId}.${i.attemptNumber()}", start)
      Option(stageTotals.remove((i.stageId, i.attemptNumber()))).foreach { acc =>
        Fields.indices.foreach(k => s.add(Fields(k), acc(k)))
      }
      submitted.remove((i.stageId, i.attemptNumber()))
      t.close(s, i.completionTime.map(t.fromEpochMs).getOrElse(System.nanoTime()))
    }
  }
}

/** One span per microbatch, under the span that started the stream. The
  * started event is delivered synchronously on the stream's own thread,
  * which copied its creator's local properties. */
final class StreamListener(t: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val owner = new ConcurrentHashMap[java.util.UUID, Span]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    t.fromProperty(Tracer.currentSpanProperty()).foreach(owner.put(e.runId, _))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Option(owner.get(p.runId)).foreach { parent =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val start = t.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val b = t.child(parent, "batch", s"batch ${p.batchId}", start)
      b.add("batch_s", d.getOrElse("triggerExecution", 0.0))
      b.add("plan_s", d.getOrElse("queryPlanning", 0.0))
      b.add("wal_s", d.getOrElse("walCommit", 0.0))
      b.add("commit_s", d.getOrElse("commitOffsets", 0.0))
      b.add("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      b.add("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      t.close(b, start + (d.getOrElse("triggerExecution", 0.0) * 1e9).toLong)
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    owner.remove(e.runId)
    ()
  }
}

/** Counts Janino compilations and their time from the code generator's
  * own "Code generated in N ms" log line, on the span of the compiling
  * thread. Attached to that one logger, non-additive, so nothing prints. */
final class CodegenAppender(t: Tracer) extends
    org.apache.logging.log4j.core.appender.AbstractAppender(
      "perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  private val Pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  @volatile var enabled = false

  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (enabled) e.getMessage.getFormattedMessage match {
      case Pattern(ms) =>
        t.fromProperty(Tracer.currentSpanProperty()).foreach { s =>
          s.add("codegen_compiles", 1)
          s.add("codegen_s", ms.toDouble / 1e3)
        }
      case _ =>
    }
}

object CodegenAppender {
  val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  def install(t: Tracer): CodegenAppender = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val app = new CodegenAppender(t)
    app.start()
    conf.addAppender(app)
    val lc = new LoggerConfig(LoggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    conf.addLogger(LoggerName, lc)
    ctx.updateLoggers()
    app
  }
}

/** Attaches the listeners for a traced pass and detaches them after it. */
final class TraceSession(spark: SparkSession, t: Tracer) {
  private val codegen = CodegenAppender.install(t)
  private var attached: Option[(JobListener, StreamListener)] = None

  def attach(): Unit = if (attached.isEmpty) {
    val jobs = new JobListener(t)
    val streams = new StreamListener(t)
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    codegen.enabled = true
    attached = Some((jobs, streams))
  }

  /** Waits until every event of the pass is delivered, then detaches. */
  def detach(): Unit = attached.foreach { case (jobs, streams) =>
    codegen.enabled = false
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    attached = None
  }
}
