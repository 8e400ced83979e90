package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.sources.InputFragment
import graft.taxa.Taxonomy
import scala.util.Random

/** The reference's layer-3 acceptance, randomized: generate a random
  * taxonomy, attach random genomes to leaves, build, classify simulated
  * reads — every classified read must resolve to its source taxon or an
  * ancestor (ClassifierTest.scala:75-130). */
class RandomizedEndToEndSpec extends AnyFunSuite with SparkSessionTestWrapper {

  def randomTaxonomy(rng: Random, n: Int): Taxonomy = {
    val ranks = Array("kingdom", "phylum", "genus", "species")
    Taxonomy.fromTuples((2 to n).map { i =>
      val parent = 1 + rng.nextInt(i - 1)
      (i, parent, ranks(rng.nextInt(ranks.length)), s"t$i")
    })
  }

  test("random taxonomies: classified reads map to source taxon or ancestor") {
    for (seed <- Seq(101, 202, 303)) {
      val rng = new Random(seed)
      val tax = randomTaxonomy(rng, 12 + rng.nextInt(20))
      val leaves = (2 until tax.size).filter(t => tax.children(t).isEmpty)
      val genomeTaxa = rng.shuffle(leaves).take(math.min(5, leaves.size))
      def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
      val genomes = genomeTaxa.map(t => t -> dna(2000)).toMap

      import spark.implicits._
      val bcTax = spark.sparkContext.broadcast(tax)
      val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 4)
      val index = new MinimizerIndex(params, bcTax)
      val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()

      val reads = (0 until 80).map { i =>
        val t = genomeTaxa(rng.nextInt(genomeTaxa.size))
        val g = genomes(t)
        val s = rng.nextInt(g.length - 120)
        InputFragment(s"e2e$i|src=$t", 0L, g.substring(s, s + 120), None)
      }
      val classified = index
        .classify(index.spans(spark.createDataset(reads)), records)
        .collect()
      assert(classified.length == 80, s"seed $seed")
      var nC = 0
      for (c <- classified if c.classified) {
        nC += 1
        val src = c.title.split("src=")(1).toInt
        assert(tax.hasAncestor(src, c.taxon),
          s"seed $seed: ${c.title} -> ${c.taxon}")
      }
      assert(nC > 60, s"seed $seed: only $nC classified")
      records.unpersist()
    }
  }

  test("random paired-end reads: narrow and wide KeyedIndex paths agree") {
    for (seed <- Seq(404, 505)) {
      val rng = new Random(seed)
      val tax = randomTaxonomy(rng, 12 + rng.nextInt(12))
      val leaves = (2 until tax.size).filter(t => tax.children(t).isEmpty)
      val genomeTaxa = rng.shuffle(leaves).take(math.min(4, leaves.size))
      def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
      val genomes = genomeTaxa.map(t => t -> dna(2500)).toMap

      import spark.implicits._
      val bcTax = spark.sparkContext.broadcast(tax)
      // spaces=0 so narrow and wide differ ONLY in minimizer width
      val narrow: KeyedIndex = new MinimizerIndex(
        IndexParams(k = 45, m = 31, spaces = 0, buckets = 4), bcTax)
      val wide: KeyedIndex = new WideMinimizerIndex(k = 45, m = 33, bcTax)
      val lib = spark.createDataset(genomes.toSeq)

      // paired-end: two mates from the same genome (mate border protocol)
      val reads = (0 until 60).map { i =>
        val t = genomeTaxa(rng.nextInt(genomeTaxa.size))
        val g = genomes(t)
        val s1 = rng.nextInt(g.length - 150)
        val s2 = rng.nextInt(g.length - 150)
        InputFragment(s"pe$i|src=$t", 0L, g.substring(s1, s1 + 150),
          Some(g.substring(s2, s2 + 150)))
      }
      val ds = spark.createDataset(reads)

      val byWidth = Seq(narrow, wide).map { idx =>
        val recs = idx.buildRecords(lib)
        val cls = idx.classifyDF(idx.spansDF(ds), recs).collect()
        assert(cls.length == 60, s"seed $seed")
        for (c <- cls if c.classified) {
          val src = c.title.split("src=")(1).toInt
          assert(tax.hasAncestor(src, c.taxon), s"seed $seed ${c.title}")
        }
        assert(cls.count(_.classified) > 50, s"seed $seed")
        cls.map(c => c.title -> c.taxon).toMap
      }
      // distinct random genomes: widths must agree on nearly every read
      val agree = byWidth(0).count { case (t, x) => byWidth(1)(t) == x }
      assert(agree >= 54, s"seed $seed: only $agree/60 agree across widths")
    }
  }

  test("respaced index + respaced spans classify consistently") {
    val rng = new Random(71)
    def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    import spark.implicits._
    val bcTax = spark.sparkContext.broadcast(tax)
    val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 4)
    val index = new MinimizerIndex(params, bcTax)
    val genomes = Map(4 -> dna(2500), 5 -> dna(2500))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()
    val respaced = IndexOps.respace(records, params, 10, bcTax).cache()

    val reads = (0 until 60).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 130)
      InputFragment(s"rs$i|src=$t", 0L, g.substring(s, s + 130), None)
    }
    val spans = index.spans(spark.createDataset(reads))
    val wideSpans = IndexOps.respaceSpans(spans, params, 10)
    val classified = index.classify(wideSpans, respaced).collect()
    var nC = 0
    for (c <- classified if c.classified) {
      nC += 1
      val src = c.title.split("src=")(1).toInt
      assert(tax.hasAncestor(src, c.taxon))
    }
    // wider spacing loses specificity but must stay ancestor-consistent
    assert(nC > 40, s"only $nC classified after respace")
  }

  test("extra-wide: respaced 3-long index + respaced spans classify " +
    "consistently") {
    val rng = new Random(97)
    def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    import spark.implicits._
    val bcTax = spark.sparkContext.broadcast(tax)
    val params = IndexParams(k = 104, m = 96, spaces = 5, buckets = 4)
    val index = new WideMinimizerIndex(104, 96, bcTax, spaces = 5)
    val genomes = Map(4 -> dna(2500), 5 -> dna(2500))
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()
    val respaced = IndexOps.respace(records, params, 12, bcTax).cache()
    assert(respaced.count() <= records.count())
    val reads = (0 until 60).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 200)
      InputFragment(s"rx$i|src=$t", 0L, g.substring(s, s + 200), None)
    }
    val spans = index.spans(spark.createDataset(reads))
    val wideSpans = IndexOps.respaceSpans(spans, params, 12)
    val classified = index.classify(wideSpans, respaced, minHitGroups = 1)
      .collect()
    var nC = 0
    for (c <- classified if c.classified) {
      nC += 1
      val src = c.title.split("src=")(1).toInt
      assert(tax.hasAncestor(src, c.taxon))
    }
    assert(nC > 40, s"only $nC classified after extra-wide respace")
  }

  test("wide: spaced build classifies; respaced wide index + spans consistent") {
    val rng = new Random(83)
    def dna(n: Int) = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString
    val tax = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
    import spark.implicits._
    val bcTax = spark.sparkContext.broadcast(tax)
    val genomes = Map(4 -> dna(2500), 5 -> dna(2500))
    val lib = spark.createDataset(genomes.toSeq)
    val reads = (0 until 60).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 130)
      InputFragment(s"ws$i|src=$t", 0L, g.substring(s, s + 130), None)
    }
    val ds = spark.createDataset(reads)

    // (a) a directly spaced wide build classifies ancestor-consistently
    val spaced = new WideMinimizerIndex(k = 45, m = 33, bcTax, spaces = 7)
    val spacedRec = spaced.buildRecords(lib).cache()
    val direct = spaced.classify(spaced.spans(ds), spacedRec).collect()
    var nDirect = 0
    for (c <- direct if c.classified) {
      nDirect += 1
      assert(tax.hasAncestor(c.title.split("src=")(1).toInt, c.taxon))
    }
    assert(nDirect > 40, s"only $nDirect classified with wide spaced build")

    // (b) respacing an unspaced wide index + its spans stays consistent
    val plain = new WideMinimizerIndex(k = 45, m = 33, bcTax)
    val params = IndexParams(k = 45, m = 33, spaces = 0, buckets = 4)
    val records = plain.buildRecords(lib).cache()
    val respaced = IndexOps.respace(records, params, 7, bcTax).cache()
    val spans = plain.spans(ds)
    val wideSpans = IndexOps.respaceSpans(spans, params, 7)
    val classified = plain.classify(wideSpans, respaced).collect()
    var nC = 0
    for (c <- classified if c.classified) {
      nC += 1
      assert(tax.hasAncestor(c.title.split("src=")(1).toInt, c.taxon))
    }
    assert(nC > 40, s"only $nC classified after wide respace")
  }
}
