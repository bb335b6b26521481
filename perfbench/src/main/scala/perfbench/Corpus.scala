package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable

import graft.ingestion.Fixtures
import graft.ingestion.model.{ErrorCode, SkipGate}

/** What the pipeline must do with one ZIP, as planned by the generator. */
sealed trait Expect
object Expect {
  /** Committed: one workflow row for its ISBN and a raw-zone copy. */
  case object Workflow extends Expect
  /** Skipped by `gate` in the poll that first sees it. */
  final case class Skip(gate: String) extends Expect
  /** Dead-lettered with `code`, once, and retried every later poll. */
  final case class DeadLetter(code: String) extends Expect
}

final case class Zip(name: String, isbn: String, bytes: Array[Byte], expect: Expect)

/** Seeded ZIP corpus for the ingestion workloads. Every ZIP is built with
  * [[Fixtures.zipBytes]] (through `zipOf`) around ISBNs from
  * [[Fixtures.isbn]], so the same seed gives byte-identical files.
  *
  * A drop of `n` ZIPs holds, in seeded order: fresh valid books with 1–12
  * chapters; re-drops of ISBNs committed by an earlier drop under a new
  * file name (gate 2); ISBNs of the pre-seeded `published` table (gate 3);
  * pairs sharing one fresh ISBN (the later name loses in its poll); and
  * malformed ZIPs, one of each kind in turn: invalid genre, no book record,
  * corrupt bytes, bad check digit, no ISBN in the name. Re-drops only
  * reuse ISBNs from drops at least `redropLag` drops old, so that in a
  * stream the original has committed before its re-drop lands. */
final class Corpus(seed: Long, redropLag: Int = 0) {
  import Corpus._

  private val rnd = new SplittableRandom(seed)
  // Disjoint serial ranges per seed keep ISBNs of different seeds apart.
  private var serial = 1000000 + java.lang.Math.floorMod(seed * 7919L, 900L).toInt * 1000000
  private def freshIsbn(): String = { serial += 1; Fixtures.isbn(serial) }

  /** ISBNs of the pre-seeded `published` table. */
  val published: IndexedSeq[String] = IndexedSeq.fill(Published)(freshIsbn())
  private val committedByDrop = mutable.ArrayBuffer.empty[IndexedSeq[String]]
  private var drops = 0
  private var malformedKind = 0

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def words(n: Int): String =
    Seq.fill(n)(pick(Vocabulary)).map(_.capitalize).mkString(" ")

  private def book(isbn: String, genre: String): Fixtures.Book =
    Fixtures.Book(isbn, words(2 + rnd.nextInt(3)), genre,
      s"${pick(Vocabulary).capitalize} ${pick(Vocabulary).capitalize}",
      40 + rnd.nextInt(600), Seq.fill(1 + rnd.nextInt(12))(words(1 + rnd.nextInt(3))))

  private def validZip(isbn: String): Array[Byte] = Fixtures.zipOf(book(isbn, pick(Genres)))

  /** The next drop of `n` ZIPs. */
  def drop(n: Int): IndexedSeq[Zip] = {
    val d = drops
    drops += 1
    val nMal = math.round(n * MalformedShare).toInt
    val nPub = math.round(n * PublishedShare).toInt
    val committed = committedByDrop.dropRight(redropLag).flatten.toIndexedSeq
    val nRe = if (committed.isEmpty) 0 else math.round(n * RedropShare).toInt
    val nPairs = math.round(n * DuplicateShare).toInt
    val nFresh = n - nMal - nPub - nRe - 2 * nPairs
    require(nFresh > 0, s"drop of $n leaves no fresh books")
    val kinds = IndexedSeq.fill(nFresh)(0) ++ IndexedSeq.fill(nMal)(1) ++
      IndexedSeq.fill(nPub)(2) ++ IndexedSeq.fill(nRe)(3) ++ IndexedSeq.fill(nPairs)(4)
    val order = shuffled(kinds, rnd)
    val newlyCommitted = mutable.ArrayBuffer.empty[String]
    val out = order.zipWithIndex.flatMap { case (kind, k) =>
      kind match {
        case 0 =>
          val isbn = freshIsbn(); newlyCommitted += isbn
          Seq(Zip(s"book-$isbn.zip", isbn, validZip(isbn), Expect.Workflow))
        case 1 => Seq(malformed(d, k))
        case 2 =>
          val isbn = pick(published)
          Seq(Zip(s"book-$isbn-p${d}x$k.zip", isbn, validZip(isbn), Expect.Skip(SkipGate.IsbnFolderExists)))
        case 3 =>
          val isbn = pick(committed)
          Seq(Zip(s"book-$isbn-r${d}x$k.zip", isbn, validZip(isbn), Expect.Skip(SkipGate.WorkflowExists)))
        case _ =>
          val isbn = freshIsbn(); newlyCommitted += isbn
          Seq(Zip(s"book-$isbn-a.zip", isbn, validZip(isbn), Expect.Workflow),
            Zip(s"book-$isbn-b.zip", isbn, validZip(isbn), Expect.Skip(SkipGate.DuplicateInBatch)))
      }
    }
    committedByDrop += newlyCommitted.toIndexedSeq
    out
  }

  private def malformed(d: Int, k: Int): Zip = {
    val kind = malformedKind % 5
    malformedKind += 1
    val isbn = freshIsbn()
    kind match {
      case 0 => Zip(s"book-$isbn.zip", isbn, Fixtures.zipOf(book(isbn, "Cooking")),
        Expect.DeadLetter(ErrorCode.InvalidGenre))
      case 1 => Zip(s"book-$isbn.zip", isbn, Fixtures.zipOf(book(isbn, pick(Genres)), includeBook = false),
        Expect.DeadLetter(ErrorCode.MissingBookMetadata))
      case 2 =>
        val junk = Array.fill(32 + rnd.nextInt(64))(rnd.nextInt(256).toByte)
        junk(0) = 'X'.toByte // never a ZIP local-file header
        Zip(s"book-$isbn.zip", isbn, junk, Expect.DeadLetter(ErrorCode.ExtractZip))
      case 3 =>
        val bad = isbn.init + ((isbn.last - '0' + 1) % 10).toString
        Zip(s"book-$bad.zip", bad, validZip(isbn), Expect.DeadLetter(ErrorCode.MissingIsbn))
      case _ => Zip(s"upload-${d}x$k.zip", "", validZip(isbn), Expect.DeadLetter(ErrorCode.MissingIsbn))
    }
  }
}

object Corpus {
  val Genres: IndexedSeq[String] =
    IndexedSeq("Fiction", "NonFiction", "Biography", "Children", "Poetry", "Reference")
  /** ISBNs in the pre-seeded `published` table. */
  val Published = 500
  val MalformedShare = 0.04
  val PublishedShare = 0.03
  val RedropShare = 0.03
  val DuplicateShare = 0.02

  private val Vocabulary = IndexedSeq("river", "stone", "light", "garden", "winter",
    "harbor", "letter", "silver", "forest", "engine", "window", "shadow", "island",
    "market", "signal", "mirror", "orchard", "summer", "lantern", "bridge", "canyon",
    "meadow", "thunder", "velvet", "copper", "tide", "ember", "falcon", "quarry", "atlas")

  /** Fisher–Yates shuffle driven by `rnd`. */
  def shuffled[T](xs: Seq[T], rnd: SplittableRandom): IndexedSeq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Write each ZIP under a temporary name, then rename it into place, so a
    * directory scan never sees a partial file. */
  def land(dir: File, zips: Seq[Zip]): Unit = {
    dir.mkdirs()
    zips.foreach { z =>
      val tmp = new File(dir, s".${z.name}.part")
      Files.write(tmp.toPath, z.bytes)
      Files.move(tmp.toPath, new File(dir, z.name).toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Expected gate counts of one poll that sees `drops(0..p)`, all earlier
    * polls having committed as planned. Gates run in the pipeline's order:
    * raw-zone name, workflow ISBN, published ISBN, then in-poll duplicates. */
  def expectedSkips(drops: Seq[Seq[Zip]], p: Int): Map[String, Long] = {
    val earlier = drops.take(p).flatten
    val upTo = drops.take(p + 1).flatten
    def n(zs: Seq[Zip], e: Expect) = zs.count(_.expect == e).toLong
    Map(
      SkipGate.AlreadyUploaded -> n(earlier, Expect.Workflow),
      SkipGate.WorkflowExists -> (n(upTo, Expect.Skip(SkipGate.WorkflowExists)) +
        n(earlier, Expect.Skip(SkipGate.DuplicateInBatch))),
      SkipGate.IsbnFolderExists -> n(upTo, Expect.Skip(SkipGate.IsbnFolderExists)),
      SkipGate.DuplicateInBatch -> n(drops(p), Expect.Skip(SkipGate.DuplicateInBatch)))
  }
}
