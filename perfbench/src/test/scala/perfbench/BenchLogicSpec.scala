package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingestion.model.{ErrorCode, SkipGate}

class BenchLogicSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 99).contains(990.0)) // ranks 991..1000 lie beyond
    assert(Stats.percentile(xs.take(999), 99).isEmpty) // rank 990 leaves only 9
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median of even and odd sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def zip(name: String) = Zip(name, "", Array.emptyByteArray, Expect.Workflow)

  test("open-loop latency runs from the due time, so a stalled consumer shows as latency") {
    // Ten ZIPs due every 100 ms and landed on time; the consumer takes the
    // first five in a batch ending at 600 ms, then stalls until 5000 ms.
    val landed = (0 until 10).map(i => IngestStream.Landed(zip(s"z$i.zip"), i * 100.0, i * 100.0 + 1))
    val batchOf = (0 until 10).map(i => s"z$i.zip" -> (if (i < 5) 0L else 1L)).toMap
    val ends = Map(0L -> 600.0, 1L -> 5000.0)
    val lat = IngestStream.latencies(landed, batchOf, ends).map(_._2.get)
    assert(lat.take(5) == Seq(600.0, 500.0, 400.0, 300.0, 200.0))
    assert(lat.drop(5) == Seq(4500.0, 4400.0, 4300.0, 4200.0, 4100.0))
    // just before the first commit, z0..z6 are due and none is committed
    assert(IngestStream.backlogMax(IngestStream.latencies(landed, batchOf, ends), ends.values) == 7)
    // a file no committed batch took has no latency yet
    assert(IngestStream.latencies(landed, batchOf - "z9.zip", ends).last._2.isEmpty)
  }

  test("the generator keeps its schedule whatever the consumer does") {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    val zips = (0 until 20).map(i => zip(s"g$i.zip"))
    val t0 = System.nanoTime() / 1e6 + 50
    val gen = new IngestStream.Generator(dir, zips, 200.0, t0, () => System.nanoTime() / 1e6)
    gen.start(); gen.join() // nobody consumes the directory
    val recs = gen.records
    assert(recs.size == 20)
    assert(recs.map(_.dueMs) == (0 until 20).map(i => t0 + i * 5.0))
    assert(recs.forall(r => r.landedMs >= r.dueMs))
    assert(dir.list().count(_.endsWith(".zip")) == 20)
    dir.listFiles().foreach(_.delete()); dir.delete()
  }

  test("span self time subtracts the union of child intervals inside the span") {
    val parent = Span(1, Span.NoParent, "poll", "p", 0, 100)
    val kids = Seq(Span(2, 1, "spark.job", "a", 10, 30), Span(3, 1, "spark.job", "b", 20, 50),
      Span(4, 1, "spark.job", "c", 90, 120))
    assert(Span.covered(kids.map(k => (k.start, k.end)), 0, 100) == 50.0)
    assert(Span.selfTime(parent, kids) == 50.0)
    assert(Span.selfTime(parent, Nil) == 100.0)
    assert(Span.selfTime(parent, Seq(Span(5, 1, "x", "all", -5, 105))) == 0.0)
  }

  test("tracer spans nest and record their parent") {
    val t = new Tracer
    val inner = t.span("workload", "w") { _ => t.span("poll", "p") { id => id } }
    val spans = t.all
    val w = spans.find(_.kind == "workload").get
    assert(spans.find(_.id == inner).get.parent == w.id)
    assert(w.parent == Span.NoParent)
  }

  test("micro-batch spans of two query runs with the same batch ids stay apart") {
    val p = new ProgressListener(new Tracer)
    val warm0 = p.spanOf("warm-up run", 0L)
    assert(p.spanOf("warm-up run", 0L) == warm0)
    assert(p.spanOf("timed run", 0L) != warm0)
  }

  test("sink attribution reads the insert target from plan text") {
    assert(JobListener.sinkOf(
      "Execute InsertIntoHadoopFsRelationCommand file:/w/timed/wh/raw_zone, false, Parquet, [path=x]")
      .contains("raw_zone"))
    val formatted = """== Physical Plan ==
      |AdaptiveSparkPlan (4)
      |+- Execute InsertIntoHadoopFsRelationCommand (3)
      |   +- WriteFiles (2)
      |      +- LocalTableScan (1)
      |
      |(1) LocalTableScan
      |Output [2]: [zip_name#1, error_code#2]
      |Arguments: [zip_name#1, error_code#2]
      |
      |(2) WriteFiles
      |Input [2]: [zip_name#1, error_code#2]
      |
      |(3) Execute InsertIntoHadoopFsRelationCommand
      |Input: []
      |Arguments: file:/w/timed/wh/dead_letter, false, Parquet, [path=file:/w/timed/wh/dead_letter], Append
      |""".stripMargin
    assert(JobListener.sinkOf(formatted).contains("dead_letter"))
    assert(JobListener.sinkOf("== Physical Plan ==\nLocalTableScan").isEmpty)
  }

  test("the same seed gives a byte-identical corpus; another seed does not") {
    def corpus(seed: Long) = { val c = new Corpus(seed); (c.published, Seq.fill(3)(c.drop(300))) }
    val (pa, a) = corpus(7)
    val (pb, b) = corpus(7)
    val (_, c) = corpus(8)
    assert(pa == pb)
    assert(a.flatten.map(_.name) == b.flatten.map(_.name))
    assert(a.flatten.zip(b.flatten).forall { case (x, y) => x.bytes.sameElements(y.bytes) && x.expect == y.expect })
    assert(a.flatten.map(_.name) != c.flatten.map(_.name))
  }

  test("a drop carries every outcome the pipeline can produce, in the planned shares") {
    val c = new Corpus(3)
    val first = c.drop(1000)
    val second = c.drop(1000)
    def n(d: Seq[Zip], e: Expect) = d.count(_.expect == e)
    assert(first.size == 1000 && second.size == 1000)
    assert(first.map(_.name).distinct.size == 1000)
    assert(n(first, Expect.Skip(SkipGate.WorkflowExists)) == 0) // nothing committed yet
    assert(n(second, Expect.Skip(SkipGate.WorkflowExists)) == 30)
    assert(n(second, Expect.Skip(SkipGate.IsbnFolderExists)) == 30)
    assert(n(second, Expect.Skip(SkipGate.DuplicateInBatch)) == 20)
    Seq(ErrorCode.InvalidGenre, ErrorCode.MissingBookMetadata, ErrorCode.ExtractZip)
      .foreach(code => assert(n(second, Expect.DeadLetter(code)) == 8))
    assert(n(second, Expect.DeadLetter(ErrorCode.MissingIsbn)) == 16)
    val skips = Corpus.expectedSkips(Seq(first, second), 1)
    assert(skips(SkipGate.AlreadyUploaded) == n(first, Expect.Workflow))
    assert(skips(SkipGate.WorkflowExists) == 30 + 20) // re-drops + last poll's duplicate losers
    assert(skips(SkipGate.IsbnFolderExists) == 60)
    assert(skips(SkipGate.DuplicateInBatch) == 20)
  }

  test("re-drops in a stream reuse only ISBNs old enough to have committed") {
    val c = new Corpus(5, redropLag = 3)
    val drops = Seq.fill(6)(c.drop(100))
    val committedBy = drops.map(_.filter(_.expect == Expect.Workflow).map(_.isbn).toSet)
    drops.zipWithIndex.foreach { case (d, i) =>
      d.filter(_.expect == Expect.Skip(SkipGate.WorkflowExists)).foreach { z =>
        assert(committedBy.take((i - 3).max(0)).exists(_(z.isbn)), s"${z.name} in drop $i")
      }
    }
    assert(drops.take(3).forall(_.forall(_.expect != Expect.Skip(SkipGate.WorkflowExists))))
  }

  test("JSON numbers keep their digits") {
    assert(Json.num(1.2034) == "1.2034")
    assert(Json.num(3.0) == "3")
    assert(Json.obj(Seq("a" -> Json.str("x\"y"))) == "{\"a\": \"x\\\"y\"}")
  }
}
