package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: its arguments, its scratch
  * directory, the optional tracer, and the results it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
                val traced: Boolean, val work: File) {
  val tracer = new Tracer
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String, String)]
  private val lines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var jobs: Option[JobListener] = None
  private var progress: Option[ProgressListener] = None

  /** Records a metric. `label` names the same value where the workload's
    * own vocabulary differs (`op_s_p50` is `batch_poll_s_p50` on
    * `ingest_batch`); it is printed next to the metric, not stored twice. */
  def put(name: String, value: Double, unit: String, label: String = ""): Unit =
    metrics(name) = (value, unit, label)
  def value(name: String): Double = metrics(name)._1
  def note(line: String): Unit = { lines += line; Console.err.println(s"[perfbench] $line") }

  /** Record one failed operation with its reason. */
  def fail(what: String): Unit = { failed += 1; note(s"FAILED: $what") }

  def dir(name: String): File = new File(work, name)

  /** Sessions.get() timed as the `session` layer's start. */
  def session(): SparkSession = {
    val t0 = System.nanoTime()
    val spark = graft.Sessions.get()
    put("session.start_s", (System.nanoTime() - t0) / 1e9, "s")
    if (traced) {
      val p = new ProgressListener(tracer)
      val j = new JobListener(tracer, p.spanOf)
      spark.sparkContext.addSparkListener(j)
      spark.streams.addListener(p)
      jobs = Some(j); progress = Some(p)
    }
    spark
  }

  /** Runs `body` with its Spark jobs attributed to span `id`. */
  def tagged[T](spark: SparkSession, id: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobListener.SpanProperty, id.toString)
    try body finally sc.setLocalProperty(JobListener.SpanProperty, null)
  }

  def listenerSeconds: Double =
    (jobs.map(_.callbackNanos).sum + progress.map(_.callbackNanos).sum) / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set size in MB (Linux), else the committed heap. */
  def rssPeakMb: Double = {
    val status = new File("/proc/self/status")
    val hwm = if (status.exists())
      scala.io.Source.fromFile(status).getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
    else None
    hwm.getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
  }

  def resultJson: String = Json.obj(Seq(
    "workload" -> Json.str(workload),
    "seed" -> Json.num(seed.toDouble),
    "trace" -> Json.num(if (traced) 1 else 0),
    "correct" -> (failed == 0 && attempted > 0).toString,
    "attempted" -> Json.num(attempted.toDouble),
    "failed" -> Json.num(failed.toDouble),
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u, l)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u), "label" -> Json.str(l)))
    }),
    "lines" -> Json.arr(lines.toSeq.map(Json.str))))
}

/** Spark job totals of a set of `spark.job` spans; `jobS` is the wall time
  * during which at least one of the jobs ran. */
final case class JobTotals(jobs: Int, stages: Double, tasks: Double, taskS: Double,
                           cpuS: Double, inputBytes: Double, shuffleBytes: Double,
                           spillBytes: Double, outputBytes: Double, jobS: Double)

object JobTotals {
  def of(jobSpans: Seq[Span]): JobTotals = {
    def sum(k: String) = jobSpans.map(_.counts.getOrElse(k, 0.0)).sum
    JobTotals(jobSpans.size, sum("stages"), sum("tasks"), sum("task_ms") / 1e3,
      sum("cpu_ns") / 1e9, sum("input_bytes"), sum("shuffle_write_bytes"),
      sum("spill_bytes"), sum("output_bytes"),
      Span.covered(jobSpans.map(s => (s.start, s.end)), Double.MinValue, Double.MaxValue) / 1e3)
  }
}

/** The layer metrics every workload reports under one name, so that each
  * holds a measured value on every workload: one "op" is a `runBatch` poll
  * in `ingest_batch` and one round of the catalog in `ops_catalog`. Values
  * are medians over the timed ops. */
object Layers {
  def putWork(r: Run, ops: Seq[JobTotals], selfS: Seq[Double]): Unit = {
    def med(f: JobTotals => Double) = Stats.median(ops.map(f))
    r.put("work.jobs_per_op", med(_.jobs.toDouble), "count")
    r.put("work.stages_per_op", med(_.stages), "count")
    r.put("work.tasks_per_op", med(_.tasks), "count")
    r.put("work.task_s_per_op", med(_.taskS), "s")
    r.put("work.cpu_s_per_op", med(_.cpuS), "s")
    r.put("work.job_s_per_op", med(_.jobS), "s")
    r.put("work.driver_s_per_op", Stats.median(selfS), "s")
    r.put("work.input_bytes_per_op", med(_.inputBytes), "bytes")
    r.put("work.shuffle_bytes_per_op", med(_.shuffleBytes), "bytes")
    r.put("work.spill_bytes_per_op", med(_.spillBytes), "bytes")
    r.put("work.output_bytes_per_op", med(_.outputBytes), "bytes")
  }
}
