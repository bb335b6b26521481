package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingestion.MetadataPipeline
import graft.ingestion.model.{ErrorCode, IngestionConfig, SkipGate, Zone}

/** `ingest_batch`: successive `MetadataPipeline.runBatch` polls over one
  * input directory, one closed-loop caller. Each poll first lands a seeded
  * drop; processed ZIPs stay in the directory and failed ones are retried,
  * so every poll also re-gates all earlier drops. */
object IngestBatch {
  /** ZIPs per drop and polls per phase. The timed window holds one poll per
    * [[SecondsPerPoll]] of `--seconds`, at least [[MinPolls]]. Warm-up
    * drops are half size: they run every code path of a poll twice, and
    * keep a run within the benchmark's time budget. */
  val DropSize = 500
  val WarmupDropSize = 250
  val WarmupPolls = 2
  val MinPolls = 3
  val SecondsPerPoll = 7

  def polls(seconds: Int): Int = (seconds / SecondsPerPoll).max(MinPolls)

  private val SkipGates = Seq(SkipGate.AlreadyUploaded, SkipGate.WorkflowExists,
    SkipGate.IsbnFolderExists, SkipGate.DuplicateInBatch)
  private val DeadLetterCodes = Seq(ErrorCode.MissingIsbn, ErrorCode.MissingBookMetadata,
    ErrorCode.InvalidGenre, ErrorCode.ExtractZip)
  private def short(code: String) = code.stripPrefix("METADATA_INGESTION_").toLowerCase

  def run(r: Run): Unit = {
    val warmCorpus = new Corpus(r.seed ^ 0x5eedL)
    val corpus = new Corpus(r.seed)
    val warm = IngestionConfig(r.dir("warmup/in").getPath, r.dir("warmup/wh").getPath)
    val cfg = IngestionConfig(r.dir("timed/in").getPath, r.dir("timed/wh").getPath)

    val spark = r.session()
    seedPublished(spark, warmCorpus, warm)
    seedPublished(spark, corpus, cfg)

    val w0 = System.nanoTime()
    (1 to WarmupPolls).foreach { _ =>
      Corpus.land(new File(warm.inputDir), warmCorpus.drop(WarmupDropSize))
      MetadataPipeline.runBatch(spark, warm)
    }
    r.put("session.warmup_s", (System.nanoTime() - w0) / 1e9, "s")

    val gc0 = r.gcSeconds
    val drops = mutable.ArrayBuffer.empty[IndexedSeq[Zip]]
    val pollS = mutable.ArrayBuffer.empty[Double]
    val pollSpans = mutable.ArrayBuffer.empty[(Long, Double)] // span id, bytes scanned
    val observedSkips = mutable.Map.empty[String, Long].withDefaultValue(0L)
    r.tracer.span("workload", r.workload) { _ =>
      (0 until polls(r.seconds)).foreach { p =>
        val drop = corpus.drop(DropSize)
        drops += drop
        Corpus.land(new File(cfg.inputDir), drop)
        r.attempted += 1 + drop.size
        if (r.traced) observeSkips(r, spark, cfg, drops.toSeq, observedSkips)
        val t0 = System.nanoTime()
        try {
          r.tracer.span("poll", s"poll $p") { id =>
            pollSpans += id -> drops.map(_.map(_.bytes.length.toDouble).sum).sum
            r.tagged(spark, id)(MetadataPipeline.runBatch(spark, cfg))
          }
          pollS += (System.nanoTime() - t0) / 1e9
        } catch { case e: Exception => r.fail(s"poll $p threw $e") }
      }
    }
    val gcS = r.gcSeconds - gc0

    checkInto(r, spark, cfg, drops.toSeq)
    if (pollS.isEmpty) return

    r.note(pollS.map(x => f"$x%.2f").mkString("poll times (s): ", " ", ""))
    val offered = drops.map(_.size).sum.toDouble
    r.put("setup_s", r.value("session.start_s") + r.value("session.warmup_s"), "s")
    r.put("op_s_p50", Stats.median(pollS.toSeq), "s", label = "batch_poll_s_p50")
    r.put("ingest_zips_per_s", offered / pollS.sum, "ZIPs/s")
    r.put("batch_polls", pollS.size.toDouble, "count")
    r.put("jvm.gc_s", gcS, "s")
    r.put("jvm.rss_peak_mb", r.rssPeakMb, "MB")

    if (r.traced) {
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      val per = pollSpans.toSeq.map { case (id, scanned) =>
        val jobs = r.tracer.children(id).filter(_.kind == "spark.job")
        val poll = r.tracer.all.find(_.id == id).get
        (JobTotals.of(jobs), scanned, Span.selfTime(poll, jobs) / 1e3,
          jobs.groupBy(_.tags.getOrElse("sink", "other")).map { case (k, v) => k -> JobTotals.of(v).jobS })
      }
      def med(f: ((JobTotals, Double, Double, Map[String, Double])) => Double) = Stats.median(per.map(f))
      Layers.putWork(r, per.map(_._1), per.map(_._3))
      r.put("ingestion.jobs_per_poll", med(_._1.jobs.toDouble), "count")
      r.put("ingestion.stages_per_poll", med(_._1.stages), "count")
      r.put("ingestion.task_s", med(_._1.taskS), "s")
      r.put("ingestion.cpu_s", med(_._1.cpuS), "s")
      r.put("ingestion.input_bytes", med(_._1.inputBytes), "bytes")
      r.put("ingestion.input_bytes_ratio", med(x => x._1.inputBytes / x._2), "ratio")
      r.put("ingestion.shuffle_bytes", med(_._1.shuffleBytes), "bytes")
      r.put("ingestion.spill_bytes", med(_._1.spillBytes), "bytes")
      r.put("ingestion.output_bytes", med(_._1.outputBytes), "bytes")
      Seq(Zone.Raw -> "raw", Zone.Workflow -> "workflow", Zone.DeadLetter -> "dead_letter").foreach {
        case (zone, name) => r.put(s"ingestion.job_s.$name", med(_._4.getOrElse(zone, 0.0)), "s")
      }
      r.put("ingestion.driver_s", med(_._3), "s")
      SkipGates.foreach(g => r.put(s"ingestion.skip.${g.toLowerCase}", observedSkips(g).toDouble, "count"))
    }
  }

  def seedPublished(spark: SparkSession, c: Corpus, cfg: IngestionConfig): Unit = {
    import spark.implicits._
    c.published.zipWithIndex.map { case (isbn, i) => (isbn, 2000 + i % 25) }
      .toDF("isbn", "year").coalesce(1)
      .write.mode("overwrite").parquet(s"${cfg.warehouseDir}/${Zone.Published}")
  }

  /** Gate counts of the coming poll, observed by running the pipeline's own
    * transform on the current state (outside the poll's timing) and checked
    * against the generator's plan. */
  private def observeSkips(r: Run, spark: SparkSession, cfg: IngestionConfig,
                           drops: Seq[Seq[Zip]], acc: mutable.Map[String, Long]): Unit =
    r.tracer.span("probe", s"skips ${drops.size - 1}") { id =>
      r.tagged(spark, id) {
        val out = MetadataPipeline.process(spark, MetadataPipeline.readZips(spark, cfg.inputDir),
          MetadataPipeline.readState(spark, cfg.warehouseDir), cfg, new Timestamp(0L))
        val seen = out.skipped.groupBy("gate").count().collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap.withDefaultValue(0L)
        val want = Corpus.expectedSkips(drops, drops.size - 1)
        SkipGates.foreach { g =>
          acc(g) += seen(g)
          if (seen(g) != want(g))
            r.fail(s"poll ${drops.size - 1}: gate $g skipped ${seen(g)}, expected ${want(g)}")
        }
      }
    }

  /** Mismatches between the warehouse tables and the generator's plan.
    * Reads the committed tables, never the lazy pipeline outputs. */
  def check(spark: SparkSession, cfg: IngestionConfig, drops: Seq[Seq[Zip]]): Checked = {
    val zips = drops.flatten
    val wh = cfg.warehouseDir
    val committed = zips.filter(_.expect == Expect.Workflow)
    val workflow = spark.read.parquet(s"$wh/${Zone.Workflow}").groupBy("isbn").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = spark.read.parquet(s"$wh/${Zone.Raw}").select(col("zip_name"), md5(col("content")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val dl = spark.read.parquet(s"$wh/${Zone.DeadLetter}").select("zip_name", "error_code")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val wantDl = zips.collect { case Zip(n, _, _, Expect.DeadLetter(c)) => n -> c }
    Checked(
      workflow = workflow,
      wantWorkflow = committed.map(_.isbn).toSet,
      raw = raw,
      wantRaw = committed.map(z => z.name -> md5Hex(z.bytes)).toMap,
      deadLetter = dl,
      wantDeadLetter = wantDl.toSet,
      counts = Map("workflow_rows" -> workflow.values.sum.toDouble) ++
        DeadLetterCodes.map(c => s"dead_letter.${short(c)}" -> dl.count(_._2 == c).toDouble))
  }

  /** Runs [[check]] and records each mismatch, or the check's own
    * exception, as a failure; puts the warehouse outcome counts. */
  def checkInto(r: Run, spark: SparkSession, cfg: IngestionConfig, drops: Seq[Seq[Zip]]): Unit =
    try {
      val checked = check(spark, cfg, drops)
      failures(checked).foreach(r.fail)
      checked.counts.foreach { case (k, v) => r.put(s"ingestion.$k", v, "count") }
    } catch { case e: Exception => r.fail(s"output check threw $e") }

  final case class Checked(workflow: Map[String, Long], wantWorkflow: Set[String],
                           raw: Seq[(String, String)], wantRaw: Map[String, String],
                           deadLetter: Seq[(String, String)], wantDeadLetter: Set[(String, String)],
                           counts: Map[String, Double])

  /** One line per mismatching ZIP or row. */
  def failures(c: Checked): Seq[String] = {
    val wf = c.wantWorkflow.toSeq.sorted.flatMap { isbn =>
      c.workflow.get(isbn) match {
        case Some(1L) => None
        case n => Some(s"workflow rows for $isbn: ${n.getOrElse(0L)}, expected 1")
      }
    } ++ (c.workflow.keySet -- c.wantWorkflow).toSeq.sorted.map(i => s"unexpected workflow row for $i")
    val rawNames = c.raw.groupBy(_._1)
    val raw = c.wantRaw.toSeq.sorted.flatMap { case (name, sum) =>
      rawNames.get(name) match {
        case Some(Seq((_, s))) if s == sum => None
        case got => Some(s"raw zone holds ${got.map(_.size).getOrElse(0)} copies of $name, expected 1 matching")
      }
    } ++ (rawNames.keySet -- c.wantRaw.keySet).toSeq.sorted.map(n => s"unexpected raw zone file $n")
    val dlGroups = c.deadLetter.groupBy(identity)
    val dl = c.wantDeadLetter.toSeq.sorted.flatMap { k =>
      dlGroups.get(k).map(_.size).getOrElse(0) match {
        case 1 => None
        case n => Some(s"dead letter $k present $n times, expected once")
      }
    } ++ (dlGroups.keySet -- c.wantDeadLetter).toSeq.sorted.map(k => s"unexpected dead letter $k")
    wf ++ raw ++ dl
  }

  def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString
}
