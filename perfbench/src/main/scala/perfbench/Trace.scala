package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds (fractional for the
  * benchmark's own spans, whole for Spark's job events). `counts` holds
  * whatever the boundary measured: jobs, bytes, rows. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double,
                      counts: Map[String, Double] = Map.empty,
                      tags: Map[String, String] = Map.empty) {
  def duration: Double = end - start
}

object Span {
  val NoParent: Long = -1L

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = curB max b
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time: the span's duration minus the part of it its children
    * cover (overlapping children count once). */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.duration - covered(children.map(c => (c.start, c.end)), span.start, span.end)
}

/** In-memory span store. The benchmark opens its own spans from one caller
  * thread; Spark job spans arrive from the listener bus. Nothing is written
  * until the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val open = mutable.Stack.empty[Long]
  // epoch ms = nanoTime / 1e6 + offset; gives sub-ms span bounds on the
  // same clock as Spark's event times.
  private val offsetMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  def current: Long = synchronized(open.headOption.getOrElse(Span.NoParent))

  /** Run `body` inside a span; `body` gets the span's id. */
  def span[T](kind: String, name: String)(body: Long => T): T = {
    val id = newId()
    val parent = current
    synchronized(open.push(id))
    val t0 = nowMs
    try {
      val r = body(id)
      add(Span(id, parent, kind, name, t0, nowMs))
      r
    } catch {
      case e: Throwable =>
        add(Span(id, parent, kind, name, t0, nowMs, tags = Map("error" -> e.toString)))
        throw e
    } finally synchronized(open.pop())
  }

  def children(id: Long): Seq[Span] = all.filter(_.parent == id)

  def toJson: String = Json.arr(all.sortBy(_.start).map { s =>
    Json.obj(Seq("id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
      "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
      "counts" -> Json.obj(s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "tags" -> Json.obj(s.tags.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })))
  })
}

/** Spark job observer: turns each job into a `spark.job` span whose parent
  * is the benchmark span that launched it. The caller tags its thread with
  * [[JobListener.SpanProperty]]; jobs of a streaming micro-batch run on the
  * query's own thread and are matched through `batchParent`, keyed by the
  * query run's id and the batch id, instead. */
final class JobListener(tracer: Tracer, batchParent: (String, Long) => Long) extends SparkListener {
  import JobListener._

  private final class Job(val id: Int, val start: Long, val parent: Long,
                          val execId: Option[Long]) {
    var stages = 0
    var tasks = 0
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val sinkOfExec = mutable.Map.empty[Long, String]
  @volatile var callbackNanos = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(body) finally callbackNanos += System.nanoTime() - t0
  }

  private def prop(p: Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val parent = prop(e.properties, SpanProperty).map(_.toLong)
      .orElse(for (run <- prop(e.properties, StreamRunProperty);
                   b <- prop(e.properties, "streaming.sql.batchId")) yield batchParent(run, b.toLong))
      .getOrElse(Span.NoParent)
    val exec = prop(e.properties, "spark.sql.execution.id").map(_.toLong)
    jobs(e.jobId) = new Job(e.jobId, e.time, parent, exec)
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    jobOfStage.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (jid <- jobOfStage.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.c("task_ms") += m.executorRunTime
      j.c("cpu_ns") += m.executorCpuTime
      j.c("input_bytes") += m.inputMetrics.bytesRead
      j.c("output_bytes") += m.outputMetrics.bytesWritten
      j.c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      j.c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      j.c("spill_bytes") += m.diskBytesSpilled + m.memoryBytesSpilled
      j.c("gc_ms") += m.jvmGCTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.remove(e.jobId).foreach { j =>
      val sink = j.execId.flatMap(sinkOfExec.get).getOrElse("other")
      tracer.add(Span(tracer.newId(), j.parent, "spark.job", s"job ${j.id}",
        j.start.toDouble, e.time.toDouble,
        j.c.toMap ++ Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble),
        Map("sink" -> sink, "result" -> (if (e.jobResult == JobSucceeded) "ok" else "failed"))))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      sinkOf(s.physicalPlanDescription).foreach(sinkOfExec(s.executionId) = _)
    }
    case _ =>
  }
}

object JobListener {
  /** Local property carrying the id of the benchmark span a job belongs to. */
  val SpanProperty = "perfbench.span"

  /** The job group, which the stream runtime sets to the query's run id. */
  val StreamRunProperty = "spark.jobGroup.id"

  // The insert's target path, in the simple or the formatted plan text.
  private val Insert = """InsertIntoHadoopFsRelationCommand\s+([^\s(][^\s,]*),""".r
  private val InsertFormatted = """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments:\s*([^\s,]+),""".r

  /** The table a plan writes, named by the last path component of its
    * insert command's target ("raw_zone", "workflow", "dead_letter"). */
  def sinkOf(plan: String): Option[String] =
    Insert.findFirstMatchIn(plan).orElse(InsertFormatted.findFirstMatchIn(plan))
      .map(_.group(1).stripSuffix("/").split('/').last)
}

/** Streaming progress observer: one `micro_batch` span per progress event,
  * with the engine's own duration breakdown as counts. Batch ids restart
  * at 0 in every query run, so spans are keyed by (run id, batch id). */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  private val batches = mutable.Map.empty[(String, Long), Long]
  @volatile var callbackNanos = 0L

  /** The span id assigned to a batch, allocated on first use so that jobs
    * seen before the batch's progress event find the same parent. */
  def spanOf(runId: String, batchId: Long): Long =
    synchronized(batches.getOrElseUpdate((runId, batchId), tracer.newId()))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue
    val counts = mutable.Map.empty[String, Double]
    p.durationMs.forEach((k, v) => counts(s"${k}_ms") = v.doubleValue)
    counts("input_rows") = p.numInputRows.toDouble
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    tracer.add(Span(spanOf(p.runId.toString, p.batchId), tracer.current, "micro_batch", s"batch ${p.batchId}",
      start, end, counts.toMap, Map("run_id" -> p.runId.toString, "batch_id" -> p.batchId.toString)))
    callbackNanos += System.nanoTime() - t0
  }
}
