package graft.kmers

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.PropChecks

class WideScannerSpec extends AnyFunSuite with PropChecks {
  import Gens._

  /** A string m-mer as its `ceil(m/32)` key words (word 0 first, holding
    * the leading m - 32*(words-1) bases), via the narrow string encoder. */
  def words(s: String): Seq[Long] = {
    val m = s.length
    val top = m - 32 * ((m + 31) / 32 - 1)
    Dna.encode(s.substring(0, top)) +: s.substring(top).grouped(32)
      .map(Dna.encode).toSeq
  }

  def unsignedLess(a: Seq[Long], b: Seq[Long]): Boolean =
    WidePriority.unsignedLess(a.toArray, b.toArray)

  /** Priority of one m-mer: the scanner at k = m has exactly one window. */
  def priorityOf(mer: String, p: WidePriority): Seq[Long] =
    new WideScanner(p.width, p).scan(mer).next().ids.take(p.words)

  /** Brute-force wide minimizer of every k-mer: per-position priorities,
    * then the leftmost unsigned-least in each window. */
  def bruteMins(seq: String, k: Int, p: WidePriority): Seq[Seq[Long]] = {
    val m = p.width
    val pris = (0 to seq.length - m).map(j => priorityOf(seq.substring(j, j + m), p))
    (0 to seq.length - k).map(i =>
      pris.slice(i, i + k - m + 1).reduceLeft((a, b) => if (unsignedLess(b, a)) b else a))
  }

  val wideCase: Gen[(String, Int, Int)] = for {
    m <- Gen.chooseNum(33, 128)
    k <- Gen.chooseNum(m, m + 30)
    s <- dnaString(k, 2 * k + 40)
  } yield (s, m, k)

  test("two-word rolling rc matches string reverse complement") {
    // with a zero toggle mask the priority IS the canonical mer, so both
    // strands must land on the unsigned-min of the two string encodings
    forAll(Gen.chooseNum(33, 64).flatMap(m => dnaString(m, m))) { s =>
      val p = new WidePriority(s.length, xorMask = 0L)
      val rc = Dna.reverseComplement(s)
      val expected = if (unsignedLess(words(rc), words(s))) words(rc) else words(s)
      assert(priorityOf(s, p) == expected)
      assert(priorityOf(rc, p) == expected)
    }
  }

  test("wide per-kmer minimizer matches brute force; counts sum correctly") {
    forAll(wideCase) { case (s, m, k) =>
      val p = new WidePriority(m)
      val sc = new WideScanner(k, p)
      val sms = sc.scan(s).toVector
      assert(sms.map(_.kmers).sum == s.length - k + 1)
      val perKmer = sms.flatMap(sm => Vector.fill(sm.kmers)(sm.ids.take(p.words)))
      assert(perKmer == bruteMins(s, k, p))
      for (w <- sms.sliding(2) if sms.size > 1)
        assert(w(0).ids != w(1).ids)
    }
  }

  test("wide canonical minimizer multiset is reverse-complement invariant") {
    forAll(wideCase) { case (s, m, k) =>
      val sc = new WideScanner(k, new WidePriority(m))
      val fwd = sc.scan(s).map(_.ids).toVector.sortBy(_.mkString(","))
      val rev = sc.scan(Dna.reverseComplement(s)).map(_.ids).toVector
        .sortBy(_.mkString(","))
      assert(fwd == rev)
    }
  }

  test("wide space masks clear exactly the odd positions, across both words") {
    for (m <- Seq(33, 40, 64, 65, 96, 97, 128); s <- 0 to m / 2) {
      val masks = WidePriority.spaceKeepMasks(m, s)
      val n = masks.length
      assert(n == (m + 31) / 32)
      def kept(pos: Int): Boolean =
        ((masks(n - 1 - pos / 32) >>> (2 * (pos % 32))) & 3L) == 3L
      for (pos <- 0 until m) {
        val spaced = pos % 2 == 1 && pos < 2 * s
        assert(kept(pos) != spaced, s"m=$m s=$s pos=$pos")
      }
    }
  }

  test("spaced wide priority ignores spaced positions, sees kept ones") {
    val spacedCase = for {
      m <- Gen.chooseNum(33, 128)
      s <- Gen.chooseNum(1, m / 2)
      mer <- dnaString(m, m)
    } yield (m, s, mer)
    forAll(spacedCase) { case (m, s, mer) =>
      // canonical=false isolates the spacing semantics: canonicalization
      // happens before spacing, so a mutation could otherwise flip strands
      val p = new WidePriority(m, canonical = false, spaces = s)
      val base = priorityOf(mer, p)
      def mutate(pos: Int): String = {
        // position counted from the RIGHT end (bit position), not string index
        val i = m - 1 - pos
        val c = "ACGT"((("ACGT".indexOf(mer(i)) + 1) % 4))
        mer.substring(0, i) + c + mer.substring(i + 1)
      }
      val spacedPos = 2 * (s - 1) + 1 // last spaced position
      assert(priorityOf(mutate(spacedPos), p) == base,
        "spaced position must not matter")
      val keptPos = 2 * (s - 1) // even positions are always kept
      assert(priorityOf(mutate(keptPos), p) != base, "kept position must matter")
    }
  }

  test("wide scanner with spacing: counts still tile, fewer distinct keys") {
    forAll(wideCase) { case (s, m, k) =>
      val sp = math.min(7, m / 2)
      val spaced = new WideScanner(k, new WidePriority(m, spaces = sp))
      val sms = spaced.scan(s).toVector
      assert(sms.map(_.kmers).sum == s.length - k + 1)
      // spacing only masks priority bits: every key has the spaced bits zero
      val keep = WidePriority.spaceKeepMasks(m, sp)
      for (sm <- sms; (w, mask) <- sm.ids.zip(keep))
        assert((w & ~mask) == 0L)
    }
  }
}

class WideIndexSpec extends AnyFunSuite with graft.SparkSessionTestWrapper {
  import graft.index.WideMinimizerIndex
  import graft.sources.InputFragment
  import graft.taxa.Taxonomy
  import scala.util.Random

  val rng = new Random(47)
  def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  test("wide-m end-to-end: build (id1,id2) records and classify reads") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val index = new WideMinimizerIndex(k = 50, m = 40, bcTax)
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()
    assert(records.columns.toSeq == Seq("id1", "id2", "taxon"))
    assert(records.count() > 0)
    // distinct (id1, id2) pairs computed locally agree
    val local = genomes.values.flatMap(g =>
      index.scanner.scan(g).map(sm => (sm.id1, sm.id2))).toSet
    assert(records.count() == local.size)

    val reads = (0 until 100).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"w$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    val got = index.classifyReport(index.spans(spark.createDataset(reads)), records)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got.size == 100)
    var classified = 0
    for ((title, taxon) <- got if taxon != Taxonomy.NONE) {
      classified += 1
      assert(tax.hasAncestor(title.split("src=")(1).toInt, taxon))
    }
    assert(classified > 90)
  }

  test("wide packed build equals the string build (salted too)") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val index = new WideMinimizerIndex(k = 45, m = 36, bcTax)
    val genomes = Map(4 -> dna(2000),
      5 -> (dna(800) + "NNN" + dna(800))) // ambiguity split before packing
    val lib = spark.createDataset(genomes.toSeq)
    val packed = lib.flatMap { case (t, seq) =>
      graft.kmers.SupermerScanner.splitByAmbiguity(seq).collect {
        case run if run.valid && run.seq.length >= 45 =>
          (t, graft.kmers.Dna.pack2bit(run.seq), run.seq.length)
      }
    }
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int)].collect().toSet
    val viaString = toSet(index.makeRecords(lib))
    assert(toSet(index.makeRecordsPacked(packed)) == viaString)
    assert(toSet(index.makeRecordsPacked(packed, saltBuckets = 5)) == viaString)
  }

  test("wide per-read classify carries hit strings, ordinals and confidence") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val index = new WideMinimizerIndex(k = 50, m = 40, bcTax)
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()

    val reads = (0 until 50).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"p$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    val out = index.classify(index.spans(spark.createDataset(reads)), records)
      .collect()
    assert(out.length == 50)
    for (c <- out if c.classified) {
      assert(tax.hasAncestor(c.title.split("src=")(1).toInt, c.taxon))
      assert(c.hits.nonEmpty && c.hits.contains(":"))
      assert(c.length == 150)
    }
    assert(out.count(_.classified) > 45)
    // a strict confidence threshold classifies no more reads than a loose one
    val strict = index
      .classify(index.spans(spark.createDataset(reads)), records, confidence = 0.9)
      .collect()
    assert(strict.count(_.classified) <= out.count(_.classified))

    // ambiguous-junk chimera: classified loose, lifted/unclassified strict
    val chimera = (0 until 10).map { i =>
      val g = genomes(4)
      val s = rng.nextInt(g.length - 80)
      InputFragment(s"chi$i", 0L, g.substring(s, s + 80) + dna(120), None)
    }
    val loose = index.classify(index.spans(spark.createDataset(chimera)), records,
      minHitGroups = 1).collect()
    val hard = index.classify(index.spans(spark.createDataset(chimera)), records,
      confidence = 0.9, minHitGroups = 1).collect()
    assert(hard.count(_.classified) < loose.count(_.classified))
  }

  test("wide multi-threshold sweep equals per-threshold classification") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val index = new WideMinimizerIndex(k = 45, m = 33, bcTax)
    val genomes = Map(4 -> dna(2500), 5 -> dna(2500))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()
    val reads = (0 until 40).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 140)
      InputFragment(s"mt$i|src=$t", 0L, g.substring(s, s + 140), None)
    }
    val spans = index.spans(spark.createDataset(reads)).cache()
    index.classifyMultiThresholdDF(spans.toDF(), records,
        Seq(0.0, 0.9), minHitGroups = 1) { results =>
      assert(results.map(_._1) == Seq(0.0, 0.9))
      for ((conf, swept) <- results) {
        val single = index.classify(spans, records, conf, minHitGroups = 1)
          .collect().map(c => c.title -> c.taxon).toMap
        assert(swept.collect().map(c => c.title -> c.taxon).toMap == single,
          s"conf $conf")
      }
    }
  }

  test("wide paired-end reads use the mate-pair border protocol") {
    import spark.implicits._
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val index = new WideMinimizerIndex(k = 50, m = 40, bcTax)
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()

    val g = genomes(5)
    val reads = (0 until 30).map { i =>
      val s1 = rng.nextInt(g.length - 400)
      InputFragment(s"pair$i", 0L, g.substring(s1, s1 + 130),
        Some(Dna.reverseComplement(g.substring(s1 + 200, s1 + 330))))
    }
    val out = index.classify(index.spans(spark.createDataset(reads)), records)
      .collect()
    for (c <- out if c.classified) assert(tax.hasAncestor(5, c.taxon))
    assert(out.count(_.classified) > 25)
    // both mates contribute: the span count exceeds what either mate alone
    // yields, and the hit string shows the border sentinel
    assert(out.exists(_.hits.contains("|:|")))
    // total length covers both mates
    assert(out.forall(_.length == 260))
  }

  test("m=31 (narrow) and m=33 (wide) classifications agree on clean reads") {
    import spark.implicits._
    import graft.index.{IndexParams, MinimizerIndex}
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    val bcTax = spark.sparkContext.broadcast(tax)
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    val lib = spark.createDataset(genomes.toSeq)

    val narrow = new MinimizerIndex(
      IndexParams(k = 45, m = 31, spaces = 0, buckets = 4), bcTax)
    val wide = new WideMinimizerIndex(k = 45, m = 33, bcTax)
    val nRec = narrow.makeRecords(lib).cache()
    val wRec = wide.makeRecords(lib).cache()

    val reads = (0 until 80).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"a$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    val ds = spark.createDataset(reads)
    val nGot = narrow.classify(narrow.spans(ds), nRec, minHitGroups = 1)
      .collect().map(c => c.title -> c.taxon).toMap
    val wGot = wide.classify(wide.spans(ds), wRec, minHitGroups = 1)
      .collect().map(c => c.title -> c.taxon).toMap
    assert(nGot.keySet == wGot.keySet)
    // different m => different minimizer sets, but on clean single-source
    // reads both protocols must land on the source taxon almost always
    val agree = nGot.count { case (t, tx) => wGot(t) == tx }
    assert(agree >= 72, s"only $agree/80 reads agree between m=31 and m=33")
    for ((title, tx) <- nGot if tx != Taxonomy.NONE)
      assert(tax.hasAncestor(title.split("src=")(1).toInt, tx))
    for ((title, tx) <- wGot if tx != Taxonomy.NONE)
      assert(tax.hasAncestor(title.split("src=")(1).toInt, tx))
  }
}
