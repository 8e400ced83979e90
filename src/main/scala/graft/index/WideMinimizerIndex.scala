package graft.index

import org.apache.spark.broadcast.Broadcast
import graft.kmers.{WidePriority, WideScanner}
import graft.taxa.Taxonomy

/** Wide-minimizer index (m in [33, 128]): records carry
  * `words = ceil(m/32)` key columns id1..id<words> — the reference's
  * idLongs = ceil(m/32) column scheme at widths 2 to 4 (behavioral spec:
  * reference kmers/KmerKeyedIndex.scala:27-55; the arity-matched emission
  * mirrors reference slacken/Minimizers.scala:44-75). The whole
  * Dataset-level pipeline lives in [[LongKeyIndex]]; this class contributes
  * the wide scanner kernel and the flattened n-long broadcast table, so
  * joins / groupBys run on primitive long columns and Tungsten hashing stays
  * allocation-free. */
final class WideMinimizerIndex(k: Int, m: Int,
    override val bcTax: Broadcast[Taxonomy],
    spaces: Int = 0, demoted: Array[Long] = Array.emptyLongArray)
    extends LongKeyIndex {

  val scanner = new WideScanner(k,
    new WidePriority(m, spaces = spaces, demoted = demoted))

  override def words: Int = scanner.words

  override def kOf: Int = k

  override def scanKeyed(segment: CharSequence): Iterator[KeyedSupermer] =
    scanner.scan(segment).map(sm =>
      KeyedSupermer(sm.id1, sm.id2, sm.start, sm.kmers, sm.id3, sm.id4))

  override protected def buildTable(flat: Array[Long], taxa: Array[Int])
      : KeyTaxonTable = WideTaxonMap(flat, taxa, words)

  override protected def sidecarParams(buckets: Int): IndexParams =
    IndexParams(k = k, m = m, spaces = spaces, buckets = buckets,
      demoted = if (demoted.isEmpty) None else Some(demoted))
}
