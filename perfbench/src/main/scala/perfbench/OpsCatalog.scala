package perfbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** `ops_catalog`: catalog entries from `SparkEntry.queries`, each driven by
  * a `noop` write, one closed-loop caller, rounds in seeded order. The
  * entries read the catalog's `documents` fixture (5,000 documents), kept
  * in [[DataDir]] so that a run reads only inside its checkout and its
  * outputs can be checked against hashes kept with the benchmark. */
object OpsCatalog {
  /** Entry → family. Families name the end-to-end sums they feed. */
  val Entries: Seq[(String, String)] = Seq(
    "q_dedup_minhash_lsh" -> "dedup",
    "q_bpe_merges" -> "tokenize",
    "q_text_tokens_viterbi" -> "tokenize")

  /** Noop rounds after the check round, and timed rounds: one per
    * [[SecondsPerRound]] of `--seconds`, at least [[MinRounds]]. */
  val WarmupRounds = 1
  val MinRounds = 2
  val SecondsPerRound = 6

  def rounds(seconds: Int): Int = (seconds / SecondsPerRound).max(MinRounds)

  /** Expected `rows hash` per entry, one `name rows hash` line each. */
  val ExpectedFile = "perfbench/expected/ops_catalog.txt"

  /** The table directory the entries read (`documents.parquet`). */
  val DataDir = "perfbench/data"

  def run(r: Run): Unit = {
    val spark = r.session()
    val expected = readExpected()

    // Warm-up: one round that collects each entry's rows for the output
    // check, then rounds that drive the `noop` sink like the timed ones.
    val w0 = System.nanoTime()
    val got = Entries.map { case (e, _) =>
      r.attempted += 1
      e -> (try Some(digest(SparkEntry.queries(e)(spark, DataDir)))
            catch { case ex: Exception => r.fail(s"$e threw during the check: $ex"); None })
    }
    (1 to WarmupRounds).foreach(_ => Entries.foreach { case (e, _) => runNoop(spark, e) })
    r.put("session.warmup_s", (System.nanoTime() - w0) / 1e9, "s")
    got.foreach {
      case (e, Some(d)) if !expected.get(e).contains(d) =>
        r.fail(s"$e output $d, expected ${expected.getOrElse(e, "no stored value")}")
      case _ =>
    }

    val gc0 = r.gcSeconds
    val rnd = new SplittableRandom(r.seed)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val entrySpans = mutable.ArrayBuffer.empty[(String, Long)]
    val roundSpans = mutable.ArrayBuffer.empty[Long]
    r.tracer.span("workload", r.workload) { _ =>
      (0 until rounds(r.seconds)).foreach { k =>
        r.tracer.span("round", s"round $k") { rid =>
          roundSpans += rid
          Corpus.shuffled(Entries.map(_._1), rnd).foreach { e =>
            r.attempted += 1
            val t0 = System.nanoTime()
            try {
              r.tracer.span("entry", e) { id =>
                entrySpans += e -> id
                r.tagged(spark, id)(runNoop(spark, e))
              }
              times.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
            } catch { case ex: Exception => r.fail(s"$e threw in round $k: $ex") }
          }
        }
      }
    }
    val gcS = r.gcSeconds - gc0
    if (times.size < Entries.size) return

    Entries.foreach { case (e, _) => r.note(times(e).map(x => f"$x%.2f").mkString(s"$e times (s): ", " ", "")) }
    val med = Entries.map { case (e, _) => e -> Stats.median(times(e).toSeq) }.toMap
    val total = med.values.sum
    r.put("setup_s", r.value("session.start_s") + r.value("session.warmup_s"), "s")
    r.put("op_s_p50", total, "s", label = "ops_total_s")
    // A family of one entry is that entry's time: print it as a label.
    Entries.groupBy(_._2).toSeq.sortBy(_._1).foreach {
      case (fam, Seq((e, _))) => r.put(s"ops.$e.s", med(e), "s", label = s"ops_${fam}_s")
      case (fam, es) =>
        r.put(s"ops_${fam}_s", es.map(x => med(x._1)).sum, "s")
        es.foreach { case (e, _) => r.put(s"ops.$e.s", med(e), "s") }
    }
    r.put("ops_rounds", roundSpans.size.toDouble, "count")
    r.put("jvm.gc_s", gcS, "s")
    r.put("jvm.rss_peak_mb", r.rssPeakMb, "MB")

    if (r.traced) {
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      val spans = r.tracer.all
      def jobsOf(id: Long) = spans.filter(s => s.kind == "spark.job" && s.parent == id)
      Entries.foreach { case (e, _) =>
        val per = entrySpans.collect { case (`e`, id) =>
          val jobs = jobsOf(id)
          (JobTotals.of(jobs), Span.selfTime(spans.find(_.id == id).get, jobs) / 1e3)
        }.toSeq
        def m(f: JobTotals => Double) = Stats.median(per.map(x => f(x._1)))
        r.put(s"ops.$e.jobs", m(_.jobs.toDouble), "count")
        r.put(s"ops.$e.stages", m(_.stages), "count")
        r.put(s"ops.$e.task_s", m(_.taskS), "s")
        r.put(s"ops.$e.shuffle_bytes", m(_.shuffleBytes), "bytes")
        r.put(s"ops.$e.input_bytes", m(_.inputBytes), "bytes")
        r.put(s"ops.$e.spill_bytes", m(_.spillBytes), "bytes")
        r.put(s"ops.$e.driver_s", Stats.median(per.map(_._2)), "s")
      }
      val perRound = roundSpans.toSeq.map { rid =>
        val entryIds = spans.filter(_.parent == rid).map(_.id).toSet
        val jobs = spans.filter(s => s.kind == "spark.job" && entryIds(s.parent))
        (JobTotals.of(jobs), Span.selfTime(spans.find(_.id == rid).get, jobs) / 1e3)
      }
      Layers.putWork(r, perRound.map(_._1), perRound.map(_._2))
    }
  }

  private def runNoop(spark: SparkSession, entry: String): Unit =
    SparkEntry.queries(entry)(spark, DataDir).write.mode("overwrite").format("noop").save()

  def readExpected(): Map[String, String] = {
    val f = new File(ExpectedFile)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\\s+", 2); p(0) -> p(1) }.toMap
  }

  /** `<rows> <sha-256>` of an entry's rows, independent of row order and of
    * float noise below six significant digits. */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map(canon).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    s"${rows.length} ${md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)}"
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case x => x.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString
}
