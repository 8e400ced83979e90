package graft.kmers

import scala.collection.mutable.ArrayBuffer

/** A wide super-mer: the minimizer priority as `words = ceil(m/32)` key
  * longs id1..id<words> (id1 = leading word; trailing ids are 0 above the
  * width), plus the run's first k-mer offset and k-mer count. */
final case class WideSupermer(id1: Long, id2: Long, id3: Long, id4: Long,
    start: Int, kmers: Int) {
  /** The key words, padded with 0 to four. */
  def ids: Seq[Long] = Seq(id1, id2, id3, id4)
}

/** Canonical XOR ordering over wide m-mers, m in [33, 128], written once over
  * `words = ceil(m/32)` — the reference's idLongs = ceil(m/32) key columns up
  * to its 4-long maximum (behavioral spec: reference
  * kmers/KmerKeyedIndex.scala:27-55). Key word 0 holds the leading
  * `topBases = m - 32*(words-1)` bases right-aligned, each following word 32
  * bases. The m <= 32 single-long [[MinimizerPriority]] family stays the
  * narrow specialization.
  *
  * The priority is: canonicalize, XOR with the Kraken 2 toggle mask
  * replicated on every word (word 0 truncated to its populated bits), clear
  * `spaces` spaced-seed positions (one apart from the second-from-last, the
  * [[SpacedSeedPriority]] scheme continued across word boundaries), and
  * demote the sampled most-frequent canonical m-mers. The demote flag rides
  * in-band in bit 63 of word 0 when that word has a spare bit
  * (topBases <= 31), so it survives into the stored keys; at topBases = 32
  * (m = 64, 96, 128) it is an out-of-band rank compared before the words.
  *
  * Internally the kernel keeps four scalar words with the key right-aligned
  * in the last `words` of them ("slots"; slot `lead = 4 - words` holds key
  * word 0) and the unused leading slots masked to 0, so one loop serves
  * every width.
  *
  * @param demoted canonical m-mers to demote, `words` longs each (word 0
  *                first); order is irrelevant — the set is hashed
  */
final class WidePriority(val width: Int,
    xorMask: Long = RandomXorPriority.DEFAULT_MASK,
    val canonical: Boolean = true,
    val spaces: Int = 0,
    demoted: Array[Long] = Array.emptyLongArray) extends Serializable {
  require(width >= 33 && width <= 128, s"wide width must be in [33,128], got $width")
  require(spaces >= 0 && spaces <= width / 2,
    s"spaces=$spaces too large for width $width")

  /** Number of key words: 2 for m in [33,64], 3 for [65,96], 4 for [97,128]. */
  val words: Int = (width + 31) / 32
  require(demoted.length % words == 0,
    s"demoted entries must be $words interleaved longs each")

  val topBases: Int = width - 32 * (words - 1)
  private[kmers] val lead: Int = 4 - words
  private[kmers] val demoteInBand: Boolean = topBases <= 31
  private[kmers] val hasDemoted: Boolean = demoted.nonEmpty

  /** Per-slot populated-bit masks (0 above the key, truncated at `lead`). */
  private[kmers] val merMask: Array[Long] = Array.tabulate(4)(s =>
    if (s < lead) 0L else if (s == lead) Dna.merMask(topBases) else -1L)
  /** Per-slot toggle masks. */
  private[kmers] val xorMasks: Array[Long] = merMask.map(_ & xorMask)
  /** Per-slot spaced-seed KEEP masks. */
  private[kmers] val keepMasks: Array[Long] = {
    val keep = WidePriority.spaceKeepMasks(width, spaces)
    Array.tabulate(4)(s => if (s < lead) 0L else keep(s - lead) & merMask(s))
  }

  /** The demotion set: open addressing over canonical m-mers, `words`
    * longs per table slot, with an explicit used[] — no Long sentinel is
    * safe, at topBases = 32 every word spans its full range. Built once per
    * deserialized priority; probed by [[WidePriority.isDemoted]]. */
  @transient private[kmers] lazy val table: (Array[Boolean], Array[Long]) = {
    val n = demoted.length / words
    val cap = Integer.highestOneBit(math.max(8, n * 2) * 2)
    val used = new Array[Boolean](cap)
    val keys = new Array[Long](cap * words)
    val e = new Array[Long](4)
    var p = 0
    while (p < n) {
      System.arraycopy(demoted, p * words, e, lead, words)
      if (!WidePriority.isDemoted(used, keys, lead, e(0), e(1), e(2), e(3))) {
        var i = WidePriority.hash(e(0), e(1), e(2), e(3)) & (cap - 1)
        while (used(i)) i = (i + 1) & (cap - 1)
        used(i) = true
        System.arraycopy(demoted, p * words, keys, i * words, words)
      }
      p += 1
    }
    (used, keys)
  }
}

object WidePriority {
  /** Independent multiplies per slot (unused leading slots are 0), folded
    * to an int. */
  @inline private def hash(c0: Long, c1: Long, c2: Long, c3: Long): Int =
    java.lang.Long.hashCode(c0 * 0x94d049bb133111ebL ^ c1 * 0xd6e8feb86659fd93L ^
      c2 * 0x9e3779b97f4a7c15L ^ c3 * 0xbf58476d1ce4e5b9L)

  /** Membership of a canonical m-mer, given in 4-slot form, in a
    * [[WidePriority.table]] whose key occupies slots `lead`..3. */
  private[kmers] def isDemoted(used: Array[Boolean], keys: Array[Long],
      lead: Int, c0: Long, c1: Long, c2: Long, c3: Long): Boolean = {
    val cap = used.length
    val words = 4 - lead
    var i = hash(c0, c1, c2, c3) & (cap - 1)
    while (used(i)) {
      val o = i * words - lead // keys(o + s) holds slot s, for s >= lead
      if ((lead > 0 || keys(o) == c0) && (lead > 1 || keys(o + 1) == c1) &&
          (lead > 2 || keys(o + 2) == c2) && keys(o + 3) == c3) return true
      i = (i + 1) & (cap - 1)
    }
    false
  }

  /** Unsigned word-lexicographic a > b over four words. */
  @inline private[kmers] def greater(a0: Long, a1: Long, a2: Long, a3: Long,
      b0: Long, b1: Long, b2: Long, b3: Long): Boolean =
    if (a0 != b0) java.lang.Long.compareUnsigned(a0, b0) > 0
    else if (a1 != b1) java.lang.Long.compareUnsigned(a1, b1) > 0
    else if (a2 != b2) java.lang.Long.compareUnsigned(a2, b2) > 0
    else java.lang.Long.compareUnsigned(a3, b3) > 0

  /** Unsigned word-lexicographic order over equal-length word arrays. */
  def unsignedLess(a: Array[Long], b: Array[Long]): Boolean = {
    var w = 0
    while (w < a.length) {
      val c = java.lang.Long.compareUnsigned(a(w), b(w))
      if (c != 0) return c < 0
      w += 1
    }
    false
  }

  /** Per-key-word KEEP masks for `spaces` spaced positions at width m, for
    * any m in [1, 128] (base position p = 2i+1, 0 = rightmost; key word
    * `words-1 - p/32`, bit offset `2*(p%32)`). All-ones base, NO word-0
    * truncation — respace needs the untruncated form to preserve an in-band
    * demote flag. */
  def spaceKeepMasks(m: Int, spaces: Int): Array[Long] = {
    val words = (m + 31) / 32
    val out = Array.fill(words)(-1L)
    var i = 0
    while (i < spaces) {
      val p = 2 * i + 1
      out(words - 1 - p / 32) &= ~(3L << (2 * (p % 32)))
      i += 1
    }
    out
  }
}

/** Super-mer extraction for wide minimizers: the narrow
  * [[SupermerScanner]]'s rolling scan + monotonic-deque window minimum,
  * over four scalar key slots. Both strands roll per base in O(words)
  * shifts — the forward mer shifts left, the reverse complement shifts
  * right and takes the complemented base at its top position — so no word
  * is ever re-reversed. The deque is five parallel rings plus the
  * out-of-band demotion flags; nothing is copied or allocated per base.
  * Ties take the leftmost minimal m-mer; a run ends when the key words
  * change. */
final class WideScanner(val k: Int, val priority: WidePriority)
    extends Serializable {
  require(k >= priority.width, s"k=$k must be >= m=${priority.width}")
  val m: Int = priority.width
  val words: Int = priority.words

  def scan(segment: CharSequence): Iterator[WideSupermer] = {
    val L = segment.length
    if (L < k) return Iterator.empty
    val out = new ArrayBuffer[WideSupermer](2 * L / math.max(1, k - m + 1) + 2)
    val p = priority
    val lead = p.lead
    val mm0 = p.merMask(0); val mm1 = p.merMask(1); val mm2 = p.merMask(2)
    val xm0 = p.xorMasks(0); val xm1 = p.xorMasks(1)
    val xm2 = p.xorMasks(2); val xm3 = p.xorMasks(3)
    val km0 = p.keepMasks(0); val km1 = p.keepMasks(1)
    val km2 = p.keepMasks(2); val km3 = p.keepMasks(3)
    // where the reverse complement takes its next base: bit offset within
    // the lead slot, and the lead slot as a per-slot select mask
    val rcShift = 2 * (p.topBases - 1)
    val sel0 = if (lead == 0) -1L else 0L
    val sel1 = if (lead == 1) -1L else 0L
    val sel2 = if (lead == 2) -1L else 0L
    val canonical = p.canonical
    val hasDemoted = p.hasDemoted
    val (demUsed, demKeys) = if (hasDemoted) p.table else (null, null)
    val inBand = p.demoteInBand
    val DEMOTE = 1L << 63

    val window = k - m + 1
    val cap = window + 1
    val posRing = new Array[Int](cap)
    val ring0 = new Array[Long](cap); val ring1 = new Array[Long](cap)
    val ring2 = new Array[Long](cap); val ring3 = new Array[Long](cap)
    val demRing = new Array[Boolean](cap)
    var head = 0
    var tail = 0

    var f0 = 0L; var f1 = 0L; var f2 = 0L; var f3 = 0L // forward mer
    var r0 = 0L; var r1 = 0L; var r2 = 0L; var r3 = 0L // reverse complement
    var cur0 = 0L; var cur1 = 0L; var cur2 = 0L; var cur3 = 0L
    var curStart = 0
    var curKmers = 0

    var i = 0
    while (i < L) {
      val c = Dna.code(segment.charAt(i)).toLong
      f0 = ((f0 << 2) | (f1 >>> 62)) & mm0
      f1 = ((f1 << 2) | (f2 >>> 62)) & mm1
      f2 = ((f2 << 2) | (f3 >>> 62)) & mm2
      f3 = (f3 << 2) | c
      val ins = (c ^ 3L) << rcShift
      r3 = (r3 >>> 2) | (r2 << 62)
      r2 = (r2 >>> 2) | (r1 << 62) | (ins & sel2)
      r1 = (r1 >>> 2) | (r0 << 62) | (ins & sel1)
      r0 = (r0 >>> 2) | (ins & sel0)
      if (i >= m - 1) {
        // canonical = unsigned-min of the strands (forward on a tie)
        var c0 = f0; var c1 = f1; var c2 = f2; var c3 = f3
        if (canonical && WidePriority.greater(f0, f1, f2, f3, r0, r1, r2, r3)) {
          c0 = r0; c1 = r1; c2 = r2; c3 = r3
        }
        var p0 = (c0 ^ xm0) & km0
        var p1 = (c1 ^ xm1) & km1
        var p2 = (c2 ^ xm2) & km2
        val p3 = (c3 ^ xm3) & km3
        var dem = false
        if (hasDemoted &&
            WidePriority.isDemoted(demUsed, demKeys, lead, c0, c1, c2, c3)) {
          if (!inBand) dem = true
          else if (lead == 0) p0 |= DEMOTE
          else if (lead == 1) p1 |= DEMOTE
          else p2 |= DEMOTE
        }
        // monotonic deque push: pop strictly greater (demotion rank first),
        // which keeps the leftmost on ties
        var prev = if (tail == 0) cap - 1 else tail - 1
        while (tail != head && ((demRing(prev) && !dem) ||
            (demRing(prev) == dem && WidePriority.greater(ring0(prev),
              ring1(prev), ring2(prev), ring3(prev), p0, p1, p2, p3)))) {
          tail = prev
          prev = if (tail == 0) cap - 1 else tail - 1
        }
        posRing(tail) = i
        ring0(tail) = p0; ring1(tail) = p1; ring2(tail) = p2; ring3(tail) = p3
        demRing(tail) = dem
        tail = if (tail == cap - 1) 0 else tail + 1
        if (i >= k - 1) {
          // evict m-mers that fell out of this k-mer's window
          while (posRing(head) < i - (k - m)) head = if (head == cap - 1) 0 else head + 1
          val kmerIdx = i - (k - 1)
          val h0 = ring0(head); val h1 = ring1(head)
          val h2 = ring2(head); val h3 = ring3(head)
          if (curKmers > 0 && h0 == cur0 && h1 == cur1 && h2 == cur2 && h3 == cur3)
            curKmers += 1
          else {
            if (curKmers > 0)
              out += WideScanner.supermer(lead, cur0, cur1, cur2, cur3,
                curStart, curKmers)
            cur0 = h0; cur1 = h1; cur2 = h2; cur3 = h3
            curStart = kmerIdx; curKmers = 1
          }
        }
      }
      i += 1
    }
    if (curKmers > 0)
      out += WideScanner.supermer(lead, cur0, cur1, cur2, cur3, curStart, curKmers)
    out.iterator
  }
}

object WideScanner {
  /** Left-align a 4-slot key into id1..id<words> (the stored key order). */
  private def supermer(lead: Int, s0: Long, s1: Long, s2: Long, s3: Long,
      start: Int, kmers: Int): WideSupermer = lead match {
    case 2 => WideSupermer(s2, s3, 0L, 0L, start, kmers)
    case 1 => WideSupermer(s1, s2, s3, 0L, start, kmers)
    case _ => WideSupermer(s0, s1, s2, s3, start, kmers)
  }
}
