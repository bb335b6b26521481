package perfbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ingestion.MetadataPipeline
import graft.ingestion.model.IngestionConfig

/** `ingest_stream`: one generator thread lands seeded ZIPs at a fixed rate
  * into the input directory of `MetadataPipeline.runStream` (open loop).
  * Each ZIP is timed from when it was due to the end of the micro-batch
  * that committed it, so a stalled consumer shows as latency, never as a
  * slower generator. */
object IngestStream {
  val Rate = 20.0 // ZIPs per second, well below one core's capacity
  val DropSize = 20 // the generator plans ZIPs one drop per second
  val WarmupSeconds = 40
  val Interval = "500 milliseconds" // shorter than one micro-batch
  val DrainSeconds = 60

  /** One landed ZIP: when it was due and when it reached the directory. */
  final case class Landed(zip: Zip, dueMs: Double, landedMs: Double)

  /** Lands `zips` at `rate` per second from `t0Ms`, on its own thread. */
  final class Generator(dir: File, zips: IndexedSeq[Zip], rate: Double, t0Ms: Double, clock: () => Double) {
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Landed]()
    @volatile private var stopped = false
    private val thread = new Thread(() => {
      var i = 0
      while (i < zips.size && !stopped) {
        val due = t0Ms + i * 1000.0 / rate
        val wait = due - clock()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Corpus.land(dir, Seq(zips(i)))
        landed.add(Landed(zips(i), due, clock()))
        i += 1
      }
    }, "perfbench-generator")
    thread.setDaemon(true)
    def start(): Unit = thread.start()
    def stop(): Unit = { stopped = true; thread.join() }
    def join(): Unit = thread.join()
    def records: Seq[Landed] = { val b = mutable.ArrayBuffer.empty[Landed]; landed.forEach(b += _); b.toSeq }
  }

  /** Open-loop latency of each landed ZIP: the end time of the batch that
    * took it minus its due time; None while no batch has taken it. */
  def latencies(landed: Seq[Landed], batchOfFile: Map[String, Long],
                batchEndMs: Map[Long, Double]): Seq[(Landed, Option[Double])] =
    landed.map(l => l -> batchOfFile.get(l.zip.name).flatMap(batchEndMs.get).map(_ - l.dueMs))

  /** Most ZIPs due but not yet committed, taken just before each batch
    * commit, where the backlog peaks. */
  def backlogMax(lat: Seq[(Landed, Option[Double])], batchEndMs: Iterable[Double]): Int =
    batchEndMs.map { t =>
      lat.count { case (l, done) => l.dueMs <= t && done.forall(d => l.dueMs + d >= t) }
    }.maxOption.getOrElse(0)

  /** file name → batch id, from the file source's own log in the checkpoint
    * (`sources/0/<batchId>` and its compactions). */
  def batchOfFile(checkpoint: File): Map[String, Long] = {
    val dir = new File(checkpoint, "sources/0")
    val Path = """"path"\s*:\s*"([^"]+)"""".r
    val Batch = """"batchId"\s*:\s*(\d+)""".r
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.getName.head.isDigit).flatMap { f =>
      scala.io.Source.fromFile(f).getLines().drop(1).flatMap { line =>
        for (p <- Path.findFirstMatchIn(line); b <- Batch.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toList
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  private def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue

  /** Runs a query over `cfg` fed at [[Rate]] for `seconds`, then waits until
    * every landed file has been taken by a committed batch. Returns what
    * landed, the progress of each batch, the checkpoint and the run id. */
  private def feed(r: Run, spark: SparkSession, cfg: IngestionConfig, corpus: Corpus,
                   seconds: Int): (Seq[Landed], Map[Long, StreamingQueryProgress], File, String) = {
    val zips = (0 until (seconds * Rate / DropSize).ceil.toInt).flatMap(_ => corpus.drop(DropSize))
      .take((seconds * Rate).toInt)
    new File(cfg.inputDir).mkdirs()
    val q: StreamingQuery = MetadataPipeline.runStream(spark, cfg, Trigger.ProcessingTime(Interval))
    val progress = mutable.Map.empty[Long, StreamingQueryProgress]
    def collect(): Unit = q.recentProgress.foreach(p => progress(p.batchId) = p)
    val gen = new Generator(new File(cfg.inputDir), zips.toIndexedSeq, Rate, r.tracer.nowMs + 1000, () => r.tracer.nowMs)
    val checkpoint = new File(cfg.warehouseDir, "_checkpoint")
    try {
      gen.start()
      while (gen.landed.size < zips.size && q.isActive) { collect(); Thread.sleep(200) }
      gen.join()
      val deadline = System.nanoTime() + DrainSeconds * 1000000000L
      def taken = { val b = batchOfFile(checkpoint); zips.count(z => b.get(z.name).exists(progress.contains)) }
      while (q.isActive && taken < zips.size && System.nanoTime() < deadline) { collect(); Thread.sleep(200) }
      collect()
    } finally {
      gen.stop()
      q.stop()
    }
    q.exception.foreach(e => r.fail(s"stream query failed: $e"))
    (gen.records, progress.toMap, checkpoint, q.runId.toString)
  }

  def run(r: Run): Unit = {
    val warm = IngestionConfig(r.dir("warmup/in").getPath, r.dir("warmup/wh").getPath)
    val cfg = IngestionConfig(r.dir("timed/in").getPath, r.dir("timed/wh").getPath)
    val warmCorpus = new Corpus(r.seed ^ 0x5eedL, redropLag = 10)
    val corpus = new Corpus(r.seed, redropLag = 10)
    val spark = r.session()
    IngestBatch.seedPublished(spark, warmCorpus, warm)
    IngestBatch.seedPublished(spark, corpus, cfg)

    val w0 = System.nanoTime()
    feed(r, spark, warm, warmCorpus, WarmupSeconds)
    r.put("session.warmup_s", (System.nanoTime() - w0) / 1e9, "s")

    val gc0 = r.gcSeconds
    val (landed, progress, checkpoint, runId) = r.tracer.span("workload", r.workload) { _ =>
      feed(r, spark, cfg, corpus, r.seconds)
    }
    val gcS = r.gcSeconds - gc0
    r.attempted += landed.size

    IngestBatch.checkInto(r, spark, cfg, Seq(landed.map(_.zip)))

    val ends = progress.map { case (b, p) => b -> endMs(p) }
    val fileBatch = batchOfFile(checkpoint)
    val lat = latencies(landed, fileBatch, ends)
    lat.collect { case (l, None) => l }.foreach(l => r.fail(s"${l.zip.name} was never taken by a batch"))
    val samples = lat.flatMap(_._2).map(_ / 1e3)
    if (samples.isEmpty) return
    r.put("setup_s", r.value("session.start_s") + r.value("session.warmup_s"), "s")
    r.put("op_s_p50", Stats.median(samples), "s", label = "stream_commit_s_p50")
    Stats.percentile(samples, 99) match {
      case Some(v) => r.put("stream_commit_s_p99", v, "s")
      case None => r.note(s"stream_commit_s_p99 not reported: ${samples.size} samples leave fewer than ${Stats.MinBeyond} beyond p99")
    }
    r.put("stream_zips", samples.size.toDouble, "count")
    r.put("streaming.backlog_max", backlogMax(lat, ends.values).toDouble, "count")
    r.put("streaming.generator_late_s_max", landed.map(l => l.landedMs - l.dueMs).max / 1e3, "s")
    r.put("jvm.gc_s", gcS, "s")
    r.put("jvm.rss_peak_mb", r.rssPeakMb, "MB")

    if (r.traced) {
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      val spans = r.tracer.all
      val zipsIn = landed.flatMap(l => fileBatch.get(l.zip.name)).groupBy(identity)
        .map { case (b, v) => b -> v.size.toDouble }
      // Only the timed query's batches: the warm-up query numbers its own from 0 too.
      val batches = spans.filter(s => s.kind == "micro_batch" && s.tags.get("run_id").contains(runId) &&
        s.counts.getOrElse("input_rows", 0.0) > 0 && zipsIn.contains(s.tags("batch_id").toLong))
      def med(f: Span => Double) = if (batches.isEmpty) 0.0 else Stats.median(batches.map(f))
      def ms(k: String)(s: Span) = s.counts.getOrElse(s"${k}_ms", 0.0) / 1e3
      val jobs = spans.filter(_.kind == "spark.job").groupBy(_.parent)
      r.put("streaming.batches", batches.size.toDouble, "count")
      r.put("streaming.zips_per_batch_p50", med(s => zipsIn(s.tags("batch_id").toLong)), "count")
      r.put("streaming.trigger_s_p50", med(ms("triggerExecution")), "s")
      r.put("streaming.add_batch_s_p50", med(ms("addBatch")), "s")
      r.put("streaming.latest_offset_s_p50", med(ms("latestOffset")), "s")
      r.put("streaming.query_planning_s_p50", med(ms("queryPlanning")), "s")
      r.put("streaming.wal_commit_s_p50", med(ms("walCommit")), "s")
      r.put("streaming.commit_offsets_s_p50", med(ms("commitOffsets")), "s")
      r.put("streaming.jobs_per_batch", med(s => jobs.getOrElse(s.id, Nil).size.toDouble), "count")
      r.put("streaming.input_rows_ratio",
        med(s => s.counts("input_rows") / zipsIn(s.tags("batch_id").toLong)), "ratio")
      val per = batches.map(b => JobTotals.of(jobs.getOrElse(b.id, Nil)))
      if (per.nonEmpty) Layers.putWork(r, per, batches.map(b => Span.selfTime(b, jobs.getOrElse(b.id, Nil)) / 1e3))
    }
  }
}
