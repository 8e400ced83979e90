package graft.kmers

import org.scalatest.funsuite.AnyFunSuite

/** The wide minimizer kernel against an independent BigInt model: 2m-bit
  * m-mers as arbitrary-precision ints, reverse complement via the string
  * kernel, XOR with the toggle mask replicated per word — no shared code
  * with the four-slot implementation under test. Covers every key width
  * (two, three and four words). */
class XWideScannerSpec extends AnyFunSuite {

  private val BASES = "ACGT"

  private def randomDna(n: Int, seed: Int): String = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(_ => BASES(rng.nextInt(4))).mkString
  }

  private def encodeWords(s: String, words: Int): Array[Long] = {
    val out = new Array[Long](words)
    for (ch <- s) {
      var w = 0
      while (w < words - 1) {
        out(w) = (out(w) << 2) | (out(w + 1) >>> 62)
        w += 1
      }
      out(words - 1) = (out(words - 1) << 2) | Dna.code(ch)
    }
    out(0) &= Dna.merMask(s.length - 32 * (words - 1))
    out
  }

  private def big(s: String): BigInt =
    s.foldLeft(BigInt(0))((acc, ch) => (acc << 2) | Dna.code(ch))

  private def bigToWords(v: BigInt, words: Int): Array[Long] =
    Array.tabulate(words)(w =>
      ((v >> (64 * (words - 1 - w))) & BigInt("ffffffffffffffff", 16)).toLong)

  /** The model priority: canonical(mer, rc) XOR mask-replicated-per-word. */
  private def modelPriority(mer: String): BigInt = {
    val m = mer.length
    val words = (m + 31) / 32
    val topBases = m - 32 * (words - 1)
    val mask = BigInt(java.lang.Long.toUnsignedString(
      RandomXorPriority.DEFAULT_MASK))
    val topMask = (BigInt(1) << (2 * topBases)) - 1
    val priMask = (0 until words).foldLeft(BigInt(0))((acc, w) =>
      acc | ((if (w == 0) mask & topMask else mask) << (64 * (words - 1 - w))))
    val v = big(mer)
    val r = big(Dna.reverseComplement(mer))
    (if (v <= r) v else r) ^ priMask
  }

  /** Model super-mers of one segment: per-window minimum model priority
    * (leftmost on ties), grouped into runs. */
  private def modelSupermers(seq: String, k: Int, m: Int)
      : Seq[(Seq[Long], Int, Int)] = {
    val words = (m + 31) / 32
    val pris = (0 to seq.length - m).map(j => modelPriority(seq.substring(j, j + m)))
    val winners = (0 to seq.length - k).map { i =>
      pris.slice(i, i + k - m + 1).min
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Int, Int)]
    var start = 0
    for (i <- winners.indices) {
      if (i > 0 && winners(i) != winners(i - 1)) {
        out += ((bigToWords(winners(i - 1), words).toSeq, start, i - start))
        start = i
      }
    }
    if (winners.nonEmpty)
      out += ((bigToWords(winners.last, words).toSeq, start, winners.length - start))
    out.toSeq
  }

  /** (key words, start, kmers) of every super-mer of a scan. */
  private def scanOf(scanner: WideScanner, seq: String): Seq[(Seq[Long], Int, Int)] =
    scanner.scan(seq).map(sm => (sm.ids.take(scanner.words), sm.start, sm.kmers))
      .toSeq

  test("n-word reverse complement matches the string kernel at m = 65, 96, " +
    "97, 128") {
    // with a zero toggle mask the k = m priority IS the canonical mer: the
    // rolled reverse complement must make both strands land on the
    // unsigned-min of the two string encodings
    val rng = new scala.util.Random(5)
    for (m <- Seq(65, 96, 97, 128); _ <- 0 until 40) {
      val s = (0 until m).map(_ => BASES(rng.nextInt(4))).mkString
      val rc = Dna.reverseComplement(s)
      val scanner = new WideScanner(m, new WidePriority(m, xorMask = 0L))
      val words = scanner.words
      val fwd = encodeWords(s, words); val rev = encodeWords(rc, words)
      val expected = (if (WidePriority.unsignedLess(rev, fwd)) rev else fwd).toSeq
      assert(scanOf(scanner, s).map(_._1) == Seq(expected),
        s"canonical mismatch at m=$m for $s")
      assert(scanOf(scanner, rc).map(_._1) == Seq(expected),
        s"canonical mismatch at m=$m for the reverse complement of $s")
    }
  }

  private def checkModel(m: Int, seed: Int): Unit = {
    val k = m + 8
    val scanner = new WideScanner(k, new WidePriority(m))
    for (trial <- 0 until 15) {
      val seq = randomDna(k + 3 + (trial * 17) % 120, seed * 100 + trial)
      assert(scanOf(scanner, seq) == modelSupermers(seq, k, m),
        s"scan mismatch at m=$m k=$k trial=$trial seq=$seq")
    }
  }

  test("scanner super-mers equal the BigInt brute-force model (fuzz at " +
    "m = 65, 96, 97, 128)") {
    for ((m, seed) <- Seq((65, 1), (96, 2), (97, 3), (128, 4))) checkModel(m, seed)
  }

  test("scanner super-mers equal the BigInt brute-force model at two-word " +
    "widths (m = 33, 40, 63, 64)") {
    for ((m, seed) <- Seq((33, 5), (40, 6), (63, 7), (64, 8))) checkModel(m, seed)
  }

  /** Recover the canonical mer words from a priority (no spacing, no
    * demote flag): the XOR with the per-word toggle mask is an involution.
    * Demotion sets are keyed on CANONICAL mers (what FrequencyOrdering
    * counts), not on priorities. */
  private def unxor(pri: Seq[Long], m: Int): Array[Long] = {
    val words = (m + 31) / 32
    val topBases = m - 32 * (words - 1)
    val mask = RandomXorPriority.DEFAULT_MASK
    Array.tabulate(words)(w =>
      if (w == 0) (pri(0) ^ mask) & Dna.merMask(topBases)
      else pri(w) ^ mask)
  }

  test("out-of-band demotion (topBases = 32) changes the selected " +
    "minimizer and reproduces across scans") {
    val m = 96
    val k = 104
    val seq = randomDna(140, 42)
    val plain = new WideScanner(k, new WidePriority(m))
    val first = plain.scan(seq).toSeq
    assert(first.nonEmpty)
    // demote the most frequent winner (as its CANONICAL mer): the scan must
    // now prefer alternatives wherever the window offers one
    val winner = first.maxBy(_.kmers)
    val demotedScanner = new WideScanner(k,
      new WidePriority(m, demoted = unxor(winner.ids, m)))
    val second = demotedScanner.scan(seq).toSeq
    val winnerKmers = second.filter(_.ids == winner.ids).map(_.kmers).sum
    assert(winnerKmers < winner.kmers,
      s"demoted mer still wins $winnerKmers of its former ${winner.kmers} windows")
    assert(second != first, "demotion changed nothing")
    // deterministic: a second scan agrees exactly
    assert(demotedScanner.scan(seq).toSeq == second)
    // both scans cover every k-mer slot
    assert(first.map(_.kmers).sum == seq.length - k + 1)
    assert(second.map(_.kmers).sum == seq.length - k + 1)
  }

  test("in-band demotion (topBases < 32) raises the demote bit in the " +
    "stored key, like the two-word width<=63 path") {
    val m = 65
    val k = 70
    val seq = randomDna(120, 7)
    val plain = new WideScanner(k, new WidePriority(m))
    val first = plain.scan(seq).toSeq
    val winner = first.maxBy(_.kmers)
    val dem = new WideScanner(k,
      new WidePriority(m, demoted = unxor(winner.ids, m)))
    val second = dem.scan(seq).toSeq
    assert(second != first, "demotion changed nothing")
    // wherever the demoted mer still wins (windows with no alternative),
    // its stored key carries bit 63 of word 0 — and the flagged form is the
    // ONLY form it appears in after demotion
    val demBit = 1L << 63
    val flagged = (winner.ids(0) | demBit, winner.ids(1), winner.ids(2))
    assert(!second.exists(_.ids == winner.ids),
      "demoted key appeared without the in-band flag")
    val flaggedWins = second.filter(sm =>
      (sm.ids(0), sm.ids(1), sm.ids(2)) == flagged)
    assert(flaggedWins.map(_.kmers).sum < winner.kmers)
  }

  test("spaced seed clears positions across word boundaries and still " +
    "covers every k-mer slot") {
    val m = 96
    val k = 100
    for (spaces <- Seq(0, 7, 20, 48)) {
      val scanner = new WideScanner(k, new WidePriority(m, spaces = spaces))
      val seq = randomDna(150, 100 + spaces)
      val sms = scanner.scan(seq).toSeq
      assert(sms.map(_.kmers).sum == seq.length - k + 1)
    }
    // differing spaces genuinely change the selection
    val a = new WideScanner(k, new WidePriority(m))
      .scan(randomDna(150, 9)).toSeq.map(_.ids)
    val b = new WideScanner(k, new WidePriority(m, spaces = 20))
      .scan(randomDna(150, 9)).toSeq.map(_.ids)
    assert(a != b)
  }
}
