package graft.index

import graft.taxa.Taxonomy

/** Broadcastable key -> LCA-taxon lookup for the in-memory classification
  * path (see [[KeyedIndex.inMemoryClassifier]]), width-normalized: lookups
  * take four key words (words above the index width are 0, which
  * round-trips because builds store the same padding). One narrow and one
  * wide implementation; sealed so [[LongKeyIndex]]'s probe dispatch is
  * exhaustive.
  *
  * Open addressing over plain arrays: (1 + 8*words + 4) bytes per slot at
  * load factor <= 0.5 — a 50M-record narrow index broadcasts at well under
  * 2 GB. An explicit used[] bitmap instead of a key sentinel: minimizer
  * priorities span the full Long range (0 and -1 are both legal keys).
  */
sealed trait KeyTaxonTable extends Serializable {
  def get(a: Long, b: Long, c: Long, d: Long): Int
  def byteSize: Long
}

/** Single-long-key table for narrow (m <= 32) indexes. */
final class LongTaxonMap private (used: Array[Boolean], keys: Array[Long],
    vals: Array[Int]) extends KeyTaxonTable {

  /** Width-normalized probe ([[KeyTaxonTable]]): only the first word is a
    * key at width 1. */
  @inline override def get(a: Long, b: Long, c: Long, d: Long): Int = get(a)

  @inline def get(key: Long): Int = {
    val cap = keys.length
    var i = java.lang.Long.hashCode(key * 0x9e3779b97f4a7c15L) & (cap - 1)
    while (true) {
      if (!used(i)) return Taxonomy.NONE
      if (keys(i) == key) return vals(i)
      i = (i + 1) & (cap - 1)
    }
    Taxonomy.NONE
  }
  def size: Int = used.count(identity)

  /** Measured table footprint: the three backing arrays (1 + 8 + 4
    * bytes/slot) plus array headers — the number the CLI reports so the
    * record-count auto-pick heuristic is observable memory accounting. */
  def byteSize: Long = LongTaxonMap.slotBytes(1) * keys.length + 3 * 16
}

object LongTaxonMap {
  /** Power-of-2 capacity >= 2n, computed in Long then bounded: beyond 2^28
    * records the table alone is multiple GB and the arithmetic would
    * overflow Int — fail loudly toward the join path instead. */
  private[index] def capacityFor(n: Int): Int = {
    require(n <= (1 << 28),
      s"in-memory classification table too large ($n records) — " +
        "use the bucketed-join classify path for indexes this size")
    java.lang.Long.highestOneBit(math.max(16L, n.toLong * 2) * 2).toInt
  }

  /** Bytes per table slot at a key width: used flag + key words + taxon. */
  private[index] def slotBytes(words: Int): Long = 1L + 8L * words + 4L

  /** Predicted table bytes for a record count at a key width of `words`
    * longs (the same capacity rule and slot size as the real build of
    * either table), BEFORE anything is collected — lets the CLI auto-pick
    * log a memory figure from the build-stamped record count alone.
    * Returns None when the count exceeds the hard table bound. */
  def estimatedBytes(records: Long, words: Int): Option[Long] =
    if (records > (1 << 28)) None
    else {
      val cap = java.lang.Long.highestOneBit(math.max(16L, records * 2) * 2)
      Some(cap * slotBytes(words) + 3 * 16L)
    }

  def apply(kv: Array[(Long, Int)]): LongTaxonMap = {
    val cap = capacityFor(kv.length)
    val used = new Array[Boolean](cap)
    val keys = new Array[Long](cap)
    val vals = new Array[Int](cap)
    for ((k, v) <- kv) {
      var i = java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L) & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      used(i) = true; keys(i) = k; vals(i) = v
    }
    new LongTaxonMap(used, keys, vals)
  }
}

/** Wide-key variant (m in [33, 128]): `words` = 2..4 key longs per slot,
  * flattened (keys(i*words .. i*words+words-1)) so a probe reads one
  * contiguous run. Lookups take the four normalized words (trailing words
  * are 0 above the width and are not stored). */
final class WideTaxonMap private (used: Array[Boolean], keys: Array[Long],
    vals: Array[Int], words: Int) extends KeyTaxonTable {

  @inline override def get(a: Long, b: Long, c: Long, d: Long): Int = {
    val cap = used.length
    var i = WideTaxonMap.hash(a, b, c, d) & (cap - 1)
    while (true) {
      if (!used(i)) return Taxonomy.NONE
      if (WideTaxonMap.same(keys, i * words, words, a, b, c, d)) return vals(i)
      i = (i + 1) & (cap - 1)
    }
    Taxonomy.NONE
  }

  /** Measured footprint: used + `words` key longs + taxon per slot, plus
    * the three array headers — see [[LongTaxonMap.byteSize]]. */
  def byteSize: Long = LongTaxonMap.slotBytes(words) * used.length + 3 * 16
}

object WideTaxonMap {
  /** ONE hash and ONE key-equality definition shared by build and probe —
    * a divergence between the two would make every lookup miss. */
  @inline private def hash(a: Long, b: Long, c: Long, d: Long): Int = {
    var h = (a * 0x9e3779b97f4a7c15L) ^ (b * 0xbf58476d1ce4e5b9L)
    h = (h * 0x9e3779b97f4a7c15L) ^ (c * 0xbf58476d1ce4e5b9L)
    h = (h * 0x9e3779b97f4a7c15L) ^ (d * 0xbf58476d1ce4e5b9L)
    java.lang.Long.hashCode(h)
  }

  @inline private def same(keys: Array[Long], o: Int, words: Int, a: Long,
      b: Long, c: Long, d: Long): Boolean =
    keys(o) == a && keys(o + 1) == b && (words < 3 || keys(o + 2) == c) &&
      (words < 4 || keys(o + 3) == d)

  /** Build from flattened keys (rows * words longs) and per-row taxa. */
  def apply(flat: Array[Long], taxa: Array[Int], words: Int): WideTaxonMap = {
    require(words >= 2 && words <= 4, s"wide keys are 2..4 words, got $words")
    val rows = taxa.length
    val cap = LongTaxonMap.capacityFor(rows)
    val used = new Array[Boolean](cap)
    val keys = new Array[Long](cap * words)
    val vals = new Array[Int](cap)
    var r = 0
    while (r < rows) {
      val o = r * words
      val a = flat(o); val b = flat(o + 1)
      val c = if (words > 2) flat(o + 2) else 0L
      val d = if (words > 3) flat(o + 3) else 0L
      var i = hash(a, b, c, d) & (cap - 1)
      while (used(i) && !same(keys, i * words, words, a, b, c, d))
        i = (i + 1) & (cap - 1)
      used(i) = true
      System.arraycopy(flat, o, keys, i * words, words)
      vals(i) = taxa(r)
      r += 1
    }
    new WideTaxonMap(used, keys, vals, words)
  }
}
