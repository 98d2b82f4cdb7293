package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.{DayOfWeek, LocalDate}
import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every input the program reads is derived here
  * from the seed, so no change to the program can alter the inputs. */
object Generators {

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Fixed-point price text with 4 decimals (no locale, no rounding surprises). */
  private def price(x: Double): String = {
    val v = math.round(x * 10000)
    val frac = (v % 10000).toString
    s"${v / 10000}.${"0" * (4 - frac.length)}$frac"
  }

  // ------------------------------------------------------------------ bars

  /** One raw CSV bar, every cell as written. */
  final case class Bar(date: String, symbol: String, open: String, high: String,
      low: String, close: String, adjClose: String, volume: String)

  /** @param valid the symbols the program must keep after cleaning
    * @param days trading days, ascending
    * @param bars the history in file order (date, then symbol) */
  final case class Bars(valid: Set[String], days: IndexedSeq[LocalDate], bars: Array[Bar])

  /** A date-ordered bar history for `nSymbols` valid symbols (plus bars for
    * symbols the constituent cleaning must drop) over `nDays` trading days,
    * with planted bad rows on every day: an unparseable date, a non-numeric
    * Open, a null Close, a non-numeric Close and a zero Low. The constituent
    * list adds 6-char, padded, empty, punctuated and `BRK.B`-style cells.
    * Written as `nFiles` CSVs split by date under `dir/bars`, plus
    * `dir/constituents.csv`. */
  def bars(seed: Long, nSymbols: Int, nDays: Int, nFiles: Int, dir: String): Bars = {
    val rnd = new Random(seed)
    val letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    def word(n: Int) = (1 to n).map(_ => letters(rnd.nextInt(26))).mkString
    val syms = mutable.LinkedHashSet.empty[String]
    while (syms.size < nSymbols) {
      val r = rnd.nextInt(100)
      syms += (if (r < 4) word(3) + ".B" else if (r < 6) word(2) + "-A"
        else word(1 + rnd.nextInt(4)))
    }
    val valid = syms.toIndexedSeq
    val dropped = (1 to 4).map(_ => word(6)) ++ Seq("AB$C", "A B")
    val padded = valid.take(4).map(s => s"  $s ")
    val cells = rnd.shuffle(valid.drop(4) ++ padded ++ dropped ++ Seq("", "", ""))
    writeLines(s"$dir/constituents.csv",
      Iterator("Symbol,Security,GICS Sector") ++ cells.map(c =>
        s""""$c",Company ${c.trim},Sector ${rnd.nextInt(11)}"""))

    val days = Iterator.iterate(LocalDate.of(2019, 1, 2))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(nDays).toIndexedSeq
    val all = (valid ++ dropped).sorted
    val last = mutable.Map(all.map(s => s -> (20.0 + rnd.nextDouble() * 300)): _*)
    val out = Array.newBuilder[Bar]
    for (d <- days) {
      // the five planted kinds land on five distinct valid symbols each day
      val plant = rnd.shuffle(valid).take(5).zipWithIndex.toMap
      for (s <- all) {
        val prev = last(s)
        val close = prev * (1 + rnd.nextGaussian() * 0.02)
        val open = prev * (1 + rnd.nextGaussian() * 0.005)
        val high = math.max(open, close) * (1 + math.abs(rnd.nextGaussian()) * 0.01)
        val low = math.min(open, close) * (1 - math.abs(rnd.nextGaussian()) * 0.01)
        last(s) = close
        val b = Bar(d.toString, s, price(open), price(high), price(low), price(close),
          price(close * 0.98), (100000 + rnd.nextInt(5000000)).toString)
        out += (plant.get(s) match {
          case Some(0) => b.copy(date = "not-a-date")
          case Some(1) => b.copy(open = "n/a")
          case Some(2) => b.copy(close = "")
          case Some(3) => b.copy(close = "abc")
          case Some(4) => b.copy(low = "0")
          case _ => b
        })
      }
    }
    val rows = out.result()
    val per = (rows.length + nFiles - 1) / nFiles
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      writeLines(f"$dir/bars/bars-$i%03d.csv",
        Iterator("Date,Symbol,Open,High,Low,Close,Adj Close,Volume") ++ chunk.iterator.map(b =>
          Seq(b.date, b.symbol, b.open, b.high, b.low, b.close, b.adjClose, b.volume)
            .mkString(",")))
    }
    Bars(valid.toSet, days, rows)
  }

  // ---------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String)

  /** @param nearPairs (kept id, near-copy id) pairs that were planted
    * @param batches ingest batches; later batches repeat earlier ones */
  final case class Corpus(docs: IndexedSeq[Doc], eval: IndexedSeq[Doc],
      nearPairs: Seq[(Long, Long)], batches: IndexedSeq[IndexedSeq[Doc]])

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "that",
    "it", "for", "on", "with", "as", "was", "by")

  /** Zipf-distributed lowercase pseudo-words, stopwords at the head. */
  private final class Vocab(rnd: Random, size: Int) {
    private val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "pra", "stel", "qui", "bor", "dan", "fen", "gul", "hip", "jor")
    val words: IndexedSeq[String] = (stopwords ++ Iterator.continually(
      (1 to 1 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.size))).mkString)
      .filterNot(stopwords.contains).distinct.take(size - stopwords.size)).toIndexedSeq
    private val cdf = {
      val w = words.indices.map(i => 1.0 / (i + 1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): String = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(if (i >= 0) i else -i - 1, words.size - 1))
    }
  }

  private def render(words: Seq[String]): String =
    words.grouped(12).map(_.mkString(" ") + ".").mkString(" ")

  /** Replaces about `frac` of the words with fresh draws. */
  private def nearCopy(rnd: Random, v: Vocab, words: Seq[String], frac: Double): Seq[String] =
    words.map(w => if (rnd.nextDouble() < frac) v.next() else w)

  /** A corpus of `n` documents with planted exact copies, near copies,
    * eval-set contamination and low-quality documents, an eval set, and
    * `nBatches` ingest batches of `batchSize` documents that repeat and
    * near-copy earlier batches' documents and the corpus. */
  def corpus(seed: Long, n: Int, nEval: Int, nBatches: Int, batchSize: Int): Corpus = {
    val rnd = new Random(seed)
    val v = new Vocab(rnd, 3000)
    def body() = Seq.fill(40 + rnd.nextInt(120))(v.next())
    val eval = (0 until nEval).map(i => Doc(1000000L + i, render(body())))
    val evalWords = eval.map(_.text.replace(".", "").split(' ').toSeq)
    val docs = mutable.ArrayBuffer.empty[(Doc, Seq[String])]
    val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val low = mutable.Set.empty[Long]
    while (docs.size < n) {
      val id = docs.size.toLong
      val r = rnd.nextDouble()
      val originals = docs.filter { case (d, _) => !low(d.id) }
      if (r < 0.05 && originals.size > 10) {
        val (src, w) = originals(rnd.nextInt(originals.size))
        docs += ((Doc(id, src.text), w))
      } else if (r < 0.13 && originals.size > 10) {
        val (src, w) = originals(rnd.nextInt(originals.size))
        val w2 = nearCopy(rnd, v, w, 0.03)
        docs += ((Doc(id, render(w2)), w2)); nearPairs += ((src.id, id))
      } else if (r < 0.16) {
        val w = body()
        val e = evalWords(rnd.nextInt(nEval))
        val at = rnd.nextInt(math.max(1, e.size - 15))
        val w2 = w.take(w.size / 2) ++ e.slice(at, at + 15) ++ w.drop(w.size / 2)
        docs += ((Doc(id, render(w2)), w2))
      } else if (r < 0.21) {
        val w = Seq.fill(4 + rnd.nextInt(10))(
          (1 to 12 + rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        docs += ((Doc(id, render(w)), w)); low += id
      } else {
        val w = body()
        docs += ((Doc(id, render(w)), w))
      }
    }
    // ingest batches: fresh documents, repeats and near copies of earlier
    // batches, in-batch repeats, and repeats of corpus documents
    val batches = mutable.ArrayBuffer.empty[IndexedSeq[Doc]]
    val seen = mutable.ArrayBuffer.empty[Seq[String]]
    var nextId = 2000000L
    for (_ <- 0 until nBatches) {
      val b = mutable.ArrayBuffer.empty[Doc]
      while (b.size < batchSize) {
        val r = rnd.nextDouble()
        val w =
          if (r < 0.10 && seen.nonEmpty) seen(rnd.nextInt(seen.size))
          else if (r < 0.20 && seen.nonEmpty) nearCopy(rnd, v, seen(rnd.nextInt(seen.size)), 0.02)
          else if (r < 0.25 && b.nonEmpty) b(rnd.nextInt(b.size)).text.replace(".", "").split(' ').toSeq
          else if (r < 0.30) docs(rnd.nextInt(docs.size))._2
          else body()
        b += Doc(nextId, render(w)); nextId += 1
      }
      seen ++= b.map(_.text.replace(".", "").split(' ').toSeq)
      batches += b.toIndexedSeq
    }
    Corpus(docs.map(_._1).toIndexedSeq, eval, nearPairs.toSeq, batches.toIndexedSeq)
  }

  // ------------------------------------------------------------ embeddings

  /** @param ids the vector ids, `0 until n` shuffled
    * @param dupOf planted duplicate id → the id it copies */
  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]], dupOf: Map[Long, Long])

  /** `n` vectors in `clusters` Gaussian clusters (`dim` dims, unit noise
    * around N(0,1) centres, so unrelated members of a cluster sit near
    * cosine 0.5), about 6% of them planted copies of an earlier vector:
    * half near-exact (noise 0.002), half with noise 0.3–0.6 per dimension,
    * whose cosine to the source (about 0.92–0.98) straddles a 0.95
    * threshold. Every planted group is a pair: no vector is copied twice and
    * no copy is copied, because SemDeDup drops a vector whose lower-id
    * neighbour was itself dropped, and a chain of copies can leave a dropped
    * vector with no kept one near it. Ids are shuffled so a copy may carry a
    * lower id than its original. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int): Vectors = {
    val rnd = new Random(seed)
    val centres = Array.fill(clusters, dim)(rnd.nextGaussian())
    val raw = mutable.ArrayBuffer.empty[Array[Float]]
    val dupSrc = mutable.Map.empty[Int, Int]
    val paired = mutable.Set.empty[Int]
    while (raw.size < n) {
      val src = rnd.nextInt(math.max(raw.size, 1))
      if (raw.size > 20 && rnd.nextDouble() < 0.06 && !paired(src)) {
        val noise = if (rnd.nextBoolean()) 0.002 else 0.3 + 0.3 * rnd.nextDouble()
        dupSrc(raw.size) = src
        paired ++= Seq(src, raw.size)
        raw += raw(src).map(x => (x + rnd.nextGaussian() * noise).toFloat)
      } else {
        val c = centres(rnd.nextInt(clusters))
        raw += Array.tabulate(dim)(j => (c(j) + rnd.nextGaussian()).toFloat)
      }
    }
    val ids = rnd.shuffle((0 until n).map(_.toLong)).toArray
    Vectors(ids, raw.toArray, dupSrc.map { case (d, s) => ids(d) -> ids(s) }.toMap)
  }
}
