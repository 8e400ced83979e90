package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.kmers.{Dna, FrequencyPriority, RandomXorPriority, SupermerScanner}
import graft.sources.InputFragment
import graft.taxa.Taxonomy
import scala.util.Random

class FrequencyOrderingSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(29)
  def dna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  test("demoted m-mers sort after all others; inner ordering breaks ties") {
    val m = 15
    val inner = RandomXorPriority(m)
    val mers = Array.fill(40)(Dna.canonical(rng.nextLong() & Dna.merMask(m), m))
    val demoted = mers.take(10).sorted
    val p = FrequencyPriority(demoted, inner)
    for (mer <- mers) {
      val pri = p.priorityOf(mer)
      val isDem = demoted.contains(Dna.canonical(mer, m))
      assert((pri < 0) == isDem) // top bit set exactly for demoted
      if (!isDem) assert(pri == inner.priorityOf(mer))
      // every demoted priority compares unsigned-after every non-demoted
      for (other <- mers if !demoted.contains(Dna.canonical(other, m)) && isDem)
        assert(java.lang.Long.compareUnsigned(p.priorityOf(other), pri) < 0)
    }
  }

  test("a demoted minimizer is only chosen when the window has no alternative") {
    val m = 15
    val k = 31
    val inner = RandomXorPriority(m)
    val seq = dna(600)
    val base = new SupermerScanner(k, inner)
    // demote exactly the minimizers the XOR ordering would choose
    val chosen = base.scan(seq).map(sm => inner.merFor(sm.minimizer)).toArray
      .map(Dna.canonical(_, m)).distinct.sorted
    val freq = new SupermerScanner(k, FrequencyPriority(chosen, inner))
    val rechosen = freq.scan(seq).map(_.minimizer).toSet
    // every window (17 candidate m-mers) holds some non-demoted alternative
    // with overwhelming probability, so no re-chosen minimizer is demoted
    assert(rechosen.forall(_ >= 0L), "a demoted m-mer was chosen despite alternatives")
    // counts still tile the sequence
    assert(freq.scan(seq).map(_.kmers).sum == seq.length - k + 1)
  }

  test("topCanonicalMers finds a planted over-represented m-mer") {
    import spark.implicits._
    val m = 15
    // plant a repeated motif so one canonical m-mer dominates the counts
    val motif = dna(m)
    val planted = (motif * 40) + dna(400)
    val lib = spark.createDataset(Seq(
      (4, Dna.pack2bit(planted), planted.length),
      (5, Dna.pack2bit(dna(500)), 500)))
    val top = FrequencyOrdering.topCanonicalMers(lib, m, fraction = 1.0, topN = 5)
    assert(top.length == 5)
    assert(top.contains(Dna.canonical(Dna.encode(motif), m)))
    // sorted ascending, ready for binary search / set construction
    assert(top.sameElements(top.sorted))
  }

  test("demotion set round-trips through the index sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-freq").toString
    val demoted = Array.fill(100)(rng.nextLong() & Dna.merMask(31)).sorted
    val params = IndexParams(k = 35, m = 31, demoted = Some(demoted))
    IndexParams.write(spark, params, dir)
    val back = IndexParams.read(spark, dir)
    assert(back.demoted.isDefined)
    assert(back.demoted.get.sameElements(demoted))
    // and an xor index reads back with no demotion set
    val dir2 = java.nio.file.Files.createTempDirectory("graft-xor").toString
    IndexParams.write(spark, IndexParams(k = 35, m = 31), dir2)
    assert(IndexParams.read(spark, dir2).demoted.isEmpty)
  }

  test("wide demotion: a demoted (hi, lo) m-mer is only chosen without alternatives") {
    import graft.kmers.{WidePriority, WideScanner}
    val m = 33
    val k = 45
    val seq = dna(600)
    // the scanner emits PRIORITIES; recover the demotable canonical mers by
    // re-scanning every position (the chosen ones are a subset)
    val chosen = FrequencyOrdering.canonicalWideMers(seq, m)
      .map(sm => (sm.id1, sm.id2)).toVector.distinct
    // a value-scattered third of the mers: every (k-m+1)-window keeps
    // non-demoted alternatives with overwhelming probability (a positional
    // prefix would demote whole windows and legitimately force demoted picks)
    val demoted = chosen.filter { case (h, l) => ((h ^ l) & 3L) == 0L }
      .sorted.flatMap { case (h, l) => Seq(h, l) }.toArray
    assert(demoted.nonEmpty)
    val freq = new WideScanner(k,
      new WidePriority(m, spaces = 0, demoted = demoted))
    val sms = freq.scan(seq).toVector
    // counts still tile, and no chosen priority carries the demote bit
    // unless a window held nothing else (600 random bases: never)
    assert(sms.map(_.kmers).sum == seq.length - k + 1)
    assert(sms.forall(_.id1 >= 0L), "a demoted wide m-mer was chosen")
  }

  test("wide demotion at m = 64: compare-time membership replaces the stolen bit") {
    import graft.kmers.{RandomXorPriority, WidePriority, WideScanner}
    val m = 64
    val k = 80
    val base = new WideScanner(k, new WidePriority(m))
    val seq = dna(800)
    val chosen = FrequencyOrdering.canonicalWideMers(seq, m)
      .map(sm => (sm.id1, sm.id2)).toVector.distinct
    // a value-scattered quarter of the mers (see the m=33 test above)
    val demotedPairs = chosen.filter { case (h, l) => ((h ^ l) & 3L) == 0L }
    val demoted = demotedPairs.sorted.flatMap { case (h, l) => Seq(h, l) }.toArray
    assert(demoted.nonEmpty)
    val freq = new WideScanner(k,
      new WidePriority(m, spaces = 0, demoted = demoted))
    val sms = freq.scan(seq).toVector
    assert(sms.map(_.kmers).sum == seq.length - k + 1)
    // at m=64 every hi bit is a priority bit — no demote flag in the value.
    // With spaces=0 the priority is a bijection (pure XOR), so invert it to
    // recover each chosen canonical mer and check set membership directly:
    // 800 random bases leave every window a non-demoted alternative
    val demSet = demotedPairs.toSet
    val mask = RandomXorPriority.DEFAULT_MASK
    for (sm <- sms)
      assert(!demSet.contains((sm.id1 ^ mask, sm.id2 ^ mask)),
        "a demoted m=64 m-mer was chosen despite alternatives")
    // and demotion really changed selection: the plain xor ordering picks
    // at least one mer from the demotion set on the same sequence
    assert(base.scan(seq).exists(sm =>
      demSet.contains((sm.id1 ^ mask, sm.id2 ^ mask))))
  }

  test("wide frequency sampling finds a planted wide motif; sidecar round-trips") {
    import spark.implicits._
    val m = 33
    val motif = dna(m)
    val planted = (motif * 30) + dna(300)
    val lib = spark.createDataset(Seq(
      (4, Dna.pack2bit(planted), planted.length),
      (5, Dna.pack2bit(dna(400)), 400)))
    val top = FrequencyOrdering.topCanonicalWideMers(lib, m, fraction = 1.0,
      topN = 4)
    assert(top.length == 8) // interleaved (hi, lo) pairs
    val pairs = top.grouped(2).map(a => (a(0), a(1))).toSet
    val enc = FrequencyOrdering.canonicalWideMers(motif * 2, m).next()
    assert(pairs.contains((enc.id1, enc.id2)),
      "planted wide motif not in the demotion set")
    // round-trip through the wide index sidecar
    val dir = java.nio.file.Files.createTempDirectory("graft-widefreq").toString
    IndexParams.write(spark,
      IndexParams(k = 45, m = m, spaces = 0, demoted = Some(top)), dir)
    assert(IndexParams.read(spark, dir).demoted.get.sameElements(top))
  }

  test("frequency-ordered index classifies reads to the source taxon") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    // low-complexity insert: the motif repeat is exactly what frequency
    // ordering exists to de-prioritize
    val genomes = Map(4 -> (dna(1200) + ("ACGTT" * 100) + dna(1200)),
      5 -> dna(2500))
    val lib = spark.createDataset(genomes.toSeq)
    val packed = new MinimizerIndex(IndexParams(k = 35, m = 31), bcTax)
      .packLibrary(lib)
    val demoted = FrequencyOrdering.topCanonicalMers(packed, 31,
      fraction = 1.0, topN = 256)
    val params = IndexParams(k = 35, m = 31, demoted = Some(demoted))
    val index = new MinimizerIndex(params, bcTax)
    val records = index.makeRecords(lib).cache()
    assert(records.count() > 0)

    val reads = (0 until 60).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"f$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    val out = index.classify(index.spans(spark.createDataset(reads)), records,
      minHitGroups = 1).collect()
    assert(out.length == 60)
    for (c <- out if c.classified)
      assert(tax.hasAncestor(c.title.split("src=")(1).toInt, c.taxon))
    assert(out.count(_.classified) > 50)

    // anti-skew: the demoted motif m-mers contribute no giant bucket — the
    // largest per-key record group shrinks (or stays) vs the xor ordering
    val xorIndex = new MinimizerIndex(
      IndexParams(k = 35, m = 31), bcTax)
    val xorRecords = xorIndex.makeRecords(lib)
    def spansMax(idx: MinimizerIndex): Long = {
      val sp = idx.spans(spark.createDataset(reads)).toDF()
      sp.groupBy("id1").count().agg(org.apache.spark.sql.functions.max("count"))
        .collect()(0).getLong(0)
    }
    assert(spansMax(index) <= spansMax(xorIndex),
      "frequency ordering must not increase the worst span bucket")
  }

  test("demotion set round-trips through the params-validated disk memo") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("freqmemo").toString
    val demoted = Array.fill(64)(rng.nextLong()).sorted
    FrequencyOrdering.write(spark, tmp, demoted)
    FrequencyOrdering.writeParams(spark, tmp, m = 31, fraction = 0.2,
      topN = 4096, seed = 42L, librarySpec = "lib.fna")
    // exact params -> reload
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 31, 0.2, 4096,
      42L, "lib.fna").map(_.toSeq).contains(demoted.toSeq))
    // ANY derivation-param mismatch -> recompute (None)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 32, 0.2, 4096,
      42L, "lib.fna").isEmpty)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 31, 0.5, 4096,
      42L, "lib.fna").isEmpty)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 31, 0.2, 512,
      42L, "lib.fna").isEmpty)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 31, 0.2, 4096,
      7L, "lib.fna").isEmpty)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp, 31, 0.2, 4096,
      42L, "other.fna").isEmpty)
    // a payload with no params provenance is never reused
    val tmp2 = java.nio.file.Files.createTempDirectory("freqmemo2").toString
    FrequencyOrdering.write(spark, tmp2, demoted)
    assert(FrequencyOrdering.readIfParamsMatch(spark, tmp2, 31, 0.2, 4096,
      42L, "lib.fna").isEmpty)
  }

  test("sessionTopMers computes once per (key, params) and matches topMers") {
    import spark.implicits._
    val lib = spark.createDataset(Seq(
      (1, Dna.pack2bit(dna(400)), 400), (2, Dna.pack2bit(dna(400)), 400)))
    val direct = FrequencyOrdering.topMers(lib, 15, fraction = 1.0, topN = 16)
    val key = s"spec:${rng.nextLong()}"
    val first = FrequencyOrdering.sessionTopMers(key, lib, 15,
      fraction = 1.0, topN = 16)
    assert(first.toSeq == direct.toSeq)
    // second call must return the CACHED array (same reference), not rescan
    val second = FrequencyOrdering.sessionTopMers(key, lib, 15,
      fraction = 1.0, topN = 16)
    assert(second eq first)
    // a different param under the same key is a different memo entry
    val other = FrequencyOrdering.sessionTopMers(key, lib, 15,
      fraction = 1.0, topN = 8)
    assert(!(other eq first) && other.length <= 8)
  }

  test("m=32 is rejected loudly (narrow needs a demote bit, wide starts at 33)") {
    import spark.implicits._
    val lib = spark.createDataset(Seq((1, Dna.pack2bit(dna(100)), 100)))
    val e = intercept[IllegalArgumentException] {
      FrequencyOrdering.topMers(lib, 32, fraction = 1.0, topN = 4)
    }
    assert(e.getMessage.contains("m=32 unsupported"))
    // both boundary neighbors still dispatch fine
    assert(FrequencyOrdering.topMers(lib, 31, fraction = 1.0, topN = 4).nonEmpty)
    assert(FrequencyOrdering.topMers(lib, 33, fraction = 1.0, topN = 4).nonEmpty)
  }

  test("memo eviction keeps the hot entry (ADVICE r17: no full clear)") {
    import spark.implicits._
    val lib = spark.createDataset(Seq((1, Dna.pack2bit(dna(60)), 60)))
    val hotKey = s"hot:${rng.nextLong()}"
    val hot = FrequencyOrdering.sessionTopMers(hotKey, lib, 15,
      fraction = 1.0, topN = 1)
    // overflow the 64-entry bound with cold keys; the hot entry must
    // survive every single-victim eviction and stay the SAME array
    for (i <- 0 until 70) {
      FrequencyOrdering.sessionTopMers(s"cold:$i:${rng.nextLong()}", lib, 15,
        fraction = 1.0, topN = 1)
      val again = FrequencyOrdering.sessionTopMers(hotKey, lib, 15,
        fraction = 1.0, topN = 1)
      assert(again eq hot,
        s"hot memo entry was evicted after $i cold inserts")
    }
  }

  test("disk memo invalidates when the library changes in place") {
    val dir = java.nio.file.Files.createTempDirectory("freqstamp")
    val libFile = dir.resolve("lib.fna")
    java.nio.file.Files.writeString(libFile, ">seq1\nACGTACGTACGT\n")
    val spec1 = FrequencyOrdering.libraryContentSpec(spark, libFile.toString)
    assert(spec1.startsWith(libFile.toString + "|"))
    val idx = dir.resolve("idx").toString
    val demoted = Array.fill(8)(rng.nextLong()).sorted
    FrequencyOrdering.write(spark, idx, demoted)
    FrequencyOrdering.writeParams(spark, idx, m = 31, fraction = 0.2,
      topN = 4096, seed = 42L, librarySpec = spec1)
    assert(FrequencyOrdering.readIfParamsMatch(spark, idx, 31, 0.2, 4096,
      42L, spec1).map(_.toSeq).contains(demoted.toSeq))
    // in-place content change (different length) -> stamp differs -> miss
    java.nio.file.Files.writeString(libFile, ">seq1\nACGTACGTACGTACGTACGT\n")
    val spec2 = FrequencyOrdering.libraryContentSpec(spark, libFile.toString)
    assert(spec2 != spec1)
    assert(FrequencyOrdering.readIfParamsMatch(spark, idx, 31, 0.2, 4096,
      42L, spec2).isEmpty)
    // same-length rewrite: caught whenever the filesystem advances mtime
    // (millisecond granularity) — stamp includes both length and mtime
    Thread.sleep(5)
    java.nio.file.Files.writeString(libFile, ">seq1\nTGCATGCATGCATGCATGCA\n")
    assert(FrequencyOrdering.libraryContentSpec(spark, libFile.toString) != spec2)
    // an unreadable path stamps as unknown — never reused as a match
    assert(FrequencyOrdering.libraryContentSpec(spark,
      dir.resolve("missing.fna").toString).endsWith("|unknown"))
    // @file-list expansion reaches the underlying files' stamps
    val list = dir.resolve("libs.txt")
    java.nio.file.Files.writeString(list, libFile.toString + "\n")
    assert(FrequencyOrdering.libraryContentSpec(spark, "@" + list)
      .contains(":"))
  }
}
