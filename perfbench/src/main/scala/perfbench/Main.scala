package perfbench

import java.io.File
import java.nio.file.Files

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result json> [--trace-out <spans json>]
  *
  * Writes every metric the workload measured, the operation counts and the
  * failure lines to `--out`; with `--trace 1` also the spans to
  * `--trace-out`, once, after the run. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ingest_batch" -> IngestBatch.run,
    "ingest_stream" -> IngestStream.run,
    "ops_catalog" -> OpsCatalog.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val r = new Run(workload, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", new File(opt("work")))
    r.work.mkdirs()
    try body(r)
    finally {
      if (r.traced) {
        r.put("trace.listener_s", r.listenerSeconds, "s")
        r.put("trace.spans", r.tracer.all.size.toDouble, "count")
        opts.get("trace-out").foreach(p => Files.writeString(new File(p).toPath, r.tracer.toJson))
      }
      Files.writeString(new File(opt("out")).toPath, r.resultJson)
      org.apache.spark.sql.SparkSession.getActiveSession.orElse(
        org.apache.spark.sql.SparkSession.getDefaultSession).foreach(_.stop())
    }
  }
}
