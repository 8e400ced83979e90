package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.PropChecks
import graft.taxa.Taxonomy

/** The broadcast lookup tables must behave exactly like a Map under
  * adversarial keys: 0, -1 (no Long sentinel is safe — both are legal
  * minimizer priorities), duplicate inserts (last wins is NOT required —
  * records are unique per key by construction — but probing must not loop),
  * and dense collision clusters. */
class TaxonMapSpec extends AnyFunSuite with PropChecks {

  private val keyGen: Gen[Long] = Gen.oneOf(
    Gen.const(0L), Gen.const(-1L), Gen.const(Long.MinValue),
    Gen.chooseNum(Long.MinValue, Long.MaxValue),
    // dense cluster: many keys sharing low bits to force probe chains
    Gen.chooseNum(0L, 63L).map(_ << 58))

  test("LongTaxonMap agrees with Map on hits and misses") {
    forAll(Gen.listOf(Gen.zip(keyGen, Gen.chooseNum(1, 1 << 20)))) { kvs =>
      val distinct = kvs.toMap // records are unique per key
      val table = LongTaxonMap(distinct.toArray)
      for ((k, v) <- distinct) assert(table.get(k) == v)
      for ((k, _) <- kvs; miss = k + 1 if !distinct.contains(miss))
        assert(table.get(miss) == Taxonomy.NONE)
      assert(table.get(0x123456789abcdefL) ==
        distinct.getOrElse(0x123456789abcdefL, Taxonomy.NONE))
    }
  }

  test("WideTaxonMap agrees with Map on hits and misses") {
    for (words <- 2 to 4)
      forAll(Gen.listOf(Gen.zip(Gen.listOfN(words, keyGen),
          Gen.chooseNum(1, 1 << 20)))) { kvs =>
        val distinct = kvs.toMap.toSeq // records are unique per key
        val table = WideTaxonMap(distinct.flatMap(_._1).toArray,
          distinct.map(_._2).toArray, words)
        // probes take four normalized words: 0 above the width
        def get(key: Seq[Long]): Int = {
          val p = key.padTo(4, 0L)
          table.get(p(0), p(1), p(2), p(3))
        }
        val keys = distinct.map(_._1).toSet
        for ((key, v) <- distinct) assert(get(key) == v, s"words=$words")
        // misses differing in the first or the last stored word
        for ((key, _) <- distinct; w <- Seq(0, words - 1);
             miss = key.updated(w, key(w) + 1) if !keys.contains(miss))
          assert(get(miss) == Taxonomy.NONE, s"words=$words")
      }
  }
}
