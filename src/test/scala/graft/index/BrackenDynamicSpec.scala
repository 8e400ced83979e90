package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.kmers.SupermerScanner
import graft.sources.InputFragment
import graft.taxa.{LcaResolver, Taxonomy}
import org.apache.spark.sql.functions.regexp_extract
import scala.util.Random

class BrackenSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(13)
  def randomDna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g1"),
    (4, 2, "species", "s4"), (5, 2, "species", "s5")))

  val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 4)
  lazy val bcTax = spark.sparkContext.broadcast(tax)
  lazy val index = new MinimizerIndex(params, bcTax)
  lazy val bracken = new Bracken(params, bcTax)

  val genomes = Map(4 -> randomDna(1200), 5 -> randomDna(1200))

  def lib = {
    import spark.implicits._
    spark.createDataset(genomes.toSeq)
  }

  /** Brute-force oracle: classify the window starting at `start` by direct
    * k-mer minimizer lookup (recomputes everything per window). */
  def bruteWindow(seq: String, start: Int, readLen: Int,
      lcaOf: Map[Long, Int]): Int = {
    val window = seq.substring(start, start + readLen)
    val scanner = params.scanner
    val resolver = new LcaResolver(tax)
    var hitGroups = 0
    var lastMin = 0L
    var first = true
    val counts = scala.collection.mutable.Map.empty[Int, Int]
    for (run <- SupermerScanner.splitByAmbiguity(window)
         if run.valid && run.seq.length >= params.k;
         sm <- scanner.scan(run.seq)) {
      val t = lcaOf.getOrElse(sm.minimizer, Taxonomy.NONE)
      if ((first || sm.minimizer != lastMin) && t != Taxonomy.NONE) hitGroups += 1
      first = false; lastMin = sm.minimizer
      if (t != Taxonomy.NONE) counts(t) = counts.getOrElse(t, 0) + sm.kmers
    }
    if (hitGroups < 2 || counts.isEmpty) Taxonomy.NONE
    else resolver.resolveTree(counts, 0.0)
  }

  test("hit runs tile every k-mer slot exactly once (with ambiguity)") {
    import spark.implicits._
    val records = index.makeRecords(lib).as[(Long, Int)].collect().toMap
    val resolver = new graft.taxa.LcaResolver(tax)
    for (seq <- Seq(genomes(4),
      genomes(4).substring(0, 200) + "NNNNN" + genomes(5).substring(0, 200),
      "N" * 50 + genomes(5).substring(0, 150))) {
      // windowClassifications emits exactly one result per window position —
      // which requires the internal runs to cover every k-mer slot
      val got = bracken.windowClassifications(seq, records, 80, resolver).size
      assert(got == math.max(0, seq.length - 80 + 1), s"len ${seq.length}")
    }
  }

  test("sliding-window classifications match per-window brute force") {
    import spark.implicits._
    val records = index.makeRecords(lib).as[(Long, Int)].collect().toMap
    val seq = genomes(4)
    val readLen = 100
    val resolver = new LcaResolver(tax)
    val got = bracken.windowClassifications(seq, records, readLen, resolver)
      .map(_._1).toVector
    assert(got.length == seq.length - readLen + 1)
    val expected = (0 to seq.length - readLen)
      .map(s => bruteWindow(seq, s, readLen, records))
    assert(got == expected)
  }

  test("window classify handles ambiguous regions") {
    import spark.implicits._
    val records = index.makeRecords(lib).as[(Long, Int)].collect().toMap
    val seq = genomes(4).substring(0, 300) + ("N" * 40) + genomes(4).substring(340, 640)
    val resolver = new LcaResolver(tax)
    val got = bracken.windowClassifications(seq, records, 100, resolver).toVector
    assert(got.length == seq.length - 100 + 1)
    val expected = (0 to seq.length - 100).map(s => bruteWindow(seq, s, 100, records))
    assert(got.map(_._1) == expected)
  }

  test("end-to-end weights: self-classification lands in the source clade") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val w = bracken.weights(lib, records, readLen = 100)
      .as[(Int, Int, Long)].collect()
    assert(w.nonEmpty)
    val total = w.map(_._3).sum
    // every window of every genome is accounted for
    val expectedWindows = genomes.values.map(g => g.length - 100 + 1).sum
    assert(total == expectedWindows)
    // classified windows map into the source's clade (or its ancestors)
    for ((src, dest, _) <- w if dest != Taxonomy.NONE)
      assert(tax.hasAncestor(src, dest) || tax.hasAncestor(dest, src))
    // most windows of distinct random genomes classify to their own species
    val own = w.filter(x => x._1 == x._2).map(_._3).sum
    assert(own.toDouble / total > 0.8)
    // fragment splitting must not change totals
    val wSplit = new Bracken(params, bcTax)
      .weights(lib, records, readLen = 100, maxFragment = 300)
      .as[(Int, Int, Long)].collect()
    assert(wSplit.map(_._3).sum == total)
  }

  test("weight lines render source:count:fraction triples per destination") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val lines = bracken.weightLines(bracken.weights(lib, records, 100))
      .collect()
    assert(lines.nonEmpty)
    for (r <- lines) assert(r.getString(1).matches("[0-9]+:[0-9]+:[0-9.]+( .*)?"))
  }

  test("weights run width-generically over a wide (m=33) index") {
    import spark.implicits._
    val wide = new WideMinimizerIndex(k = 35, m = 33, bcTax)
    val wBracken = new Bracken(wide, bcTax)
    val records = wide.buildRecords(lib)
    val w = wBracken.weights(lib, records, readLen = 100)
      .as[(Int, Int, Long)].collect()
    assert(w.nonEmpty)
    // every window of every genome is accounted for, as in the narrow path
    val expectedWindows = genomes.values.map(g => g.length - 100 + 1).sum
    assert(w.map(_._3).sum == expectedWindows)
    for ((src, dest, _) <- w if dest != Taxonomy.NONE)
      assert(tax.hasAncestor(src, dest) || tax.hasAncestor(dest, src))
    val own = w.filter(x => x._1 == x._2).map(_._3).sum
    assert(own.toDouble / expectedWindows > 0.8)
  }
}

class DynamicClassifierSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(17)
  def randomDna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  // two genera, four species; reads come only from species 4 and 6
  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g1"), (3, 1, "genus", "g2"),
    (4, 2, "species", "s4"), (5, 2, "species", "s5"),
    (6, 3, "species", "s6"), (7, 3, "species", "s7")))

  val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 4)
  lazy val bcTax = spark.sparkContext.broadcast(tax)
  lazy val dyn = new DynamicClassifier(params, bcTax)

  val genomes = Map(4 -> randomDna(3000), 5 -> randomDna(3000),
    6 -> randomDna(3000), 7 -> randomDna(3000))

  def lib = {
    import spark.implicits._
    spark.createDataset(genomes.toSeq)
  }

  def reads: Seq[InputFragment] = (0 until 120).map { i =>
    val t = if (i % 2 == 0) 4 else 6
    val g = genomes(t)
    val s = rng.nextInt(g.length - 150)
    InputFragment(s"r$i|src=$t", 0L, g.substring(s, s + 150), None)
  }

  test("2-step classification selects only present taxa and stays correct") {
    import spark.implicits._
    val staticRecords = dyn.index.buildRecords(lib)
    val (classified, selected, release) = dyn.classify2(
      spark.createDataset(reads), lib, staticRecords,
      criterion = DistinctMinimizers, rank = "species", threshold = 50)
    // only species 4 and 6 (plus no others) are selected
    assert(selected.contains(4) && selected.contains(6))
    assert(!selected.contains(5) && !selected.contains(7))
    val res = classified.collect()
    release()
    assert(res.count(_.classified) > 100)
    for (c <- res if c.classified) {
      val src = c.title.split("src=")(1).toInt
      assert(tax.hasAncestor(src, c.taxon))
    }
  }

  test("selectTaxa is reference-exact: clade-thresholded over DIRECTLY " +
      "evidenced taxa only, never a rank ancestor without its own evidence") {
    // strains 40/41 under species 4; 60 under species 6
    val t2 = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g1"), (3, 1, "genus", "g2"),
      (4, 2, "species", "s4"), (6, 3, "species", "s6"),
      (40, 4, "strain", "s4a"), (41, 4, "strain", "s4b"),
      (60, 6, "strain", "s6a")))
    val d2 = new DynamicClassifier(params,
      spark.sparkContext.broadcast(t2))

    // combined strain evidence (30+30) passes 50 but NEITHER strain's own
    // clade does, and species 4 has no direct evidence: selection is EMPTY
    // (the reference's CountFilter iterates direct-count keys only —
    // verified against the running reference engine in the head-to-head)
    assert(d2.selectTaxa(Array(40 -> 30L, 41 -> 30L), "species", 50).isEmpty)

    // direct species evidence passes: species + its strains come in via
    // descendant expansion
    assert(d2.selectTaxa(Array(4 -> 60L), "species", 50)
      == collection.BitSet(4, 40, 41))

    // a strain passing on its own clade selects the strain (not its
    // sibling, not the species)
    assert(d2.selectTaxa(Array(40 -> 60L, 41 -> 30L), "species", 50)
      == collection.BitSet(40))

    // sub-threshold direct species evidence is topped up by descendant
    // evidence through the CLADE total: 20 at the species + 40 at a strain
    // selects the species (clade 60) and the evidenced strain (clade 40
    // falls short on its own... but it is a descendant of the species)
    assert(d2.selectTaxa(Array(4 -> 20L, 40 -> 40L), "species", 50)
      == collection.BitSet(4, 40, 41))

    // evidence above the rank cutoff never selects: genus-level evidence
    // is not a candidate at species rank
    assert(d2.selectTaxa(Array(2 -> 500L), "species", 50).isEmpty)

    // rank-skipping lineage: a strain directly under a GENUS has lineage
    // depth genus (< species) — excluded, matching reference
    // Taxonomy.depth's parent-fallback for nonstandard ranks
    val t3 = Taxonomy.fromTuples(Seq(
      (2, 1, "genus", "g1"), (20, 2, "strain", "odd")))
    val d3 = new DynamicClassifier(params,
      spark.sparkContext.broadcast(t3))
    assert(d3.selectTaxa(Array(20 -> 500L), "species", 50).isEmpty)
    assert(d3.selectTaxa(Array(20 -> 500L), "genus", 50)
      == collection.BitSet(20))
  }

  test("gold-set mode replaces heuristic selection; metrics score it") {
    import spark.implicits._
    val staticRecords = dyn.index.buildRecords(lib)
    val (classified, selected, release) = dyn.classify2(
      spark.createDataset(reads), lib, staticRecords,
      goldSet = Some(Set(4, 6)))
    assert(selected.contains(4) && selected.contains(6))
    assert(!selected.contains(5) && !selected.contains(7))
    assert(classified.collect().count(_.classified) > 100)
    release()
    // metrics against a gold set containing one extra taxon
    val (precision, recall) = dyn.goldSetMetrics(selected, Set(4, 6, 7), "species")
    assert(precision == 1.0) // everything selected is in gold
    assert(math.abs(recall - 2.0 / 3.0) < 1e-12)
  }

  test("evidence criteria agree on which taxa dominate") {
    import spark.implicits._
    val staticRecords = dyn.index.buildRecords(lib)
    val spans = dyn.index.spansDF(spark.createDataset(reads))
    for (crit <- Seq(TotalMinimizers, DistinctMinimizers, ClassifiedReads)) {
      val ev = dyn.evidence(spans, staticRecords, crit)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(ev.getOrElse(4, 0L) > ev.getOrElse(5, 0L), s"$crit")
      assert(ev.getOrElse(6, 0L) > ev.getOrElse(7, 0L), s"$crit")
    }
  }

  test("dynamic bracken weights cover only the selected sub-library") {
    import spark.implicits._
    val staticRecords = dyn.index.buildRecords(lib)
    val (_, baseSelection, selected, subLib, dynRecords, cleanup) =
      dyn.classify2Full(
        spark.createDataset(reads), lib, staticRecords,
        criterion = DistinctMinimizers, rank = "species", threshold = 50)
    val w = dyn.dynamicWeights(subLib, dynRecords, readLen = 100)
      .as[(Int, Int, Long)].collect()
    cleanup()
    assert(w.nonEmpty)
    // sources are exactly the selected genomes; windows tile them fully
    assert(w.map(_._1).toSet == Set(4, 6))
    val expectedWindows = Seq(4, 6).map(t => genomes(t).length - 100 + 1).sum
    assert(w.map(_._3).sum == expectedWindows)
    // destinations never leave the selected clades (plus NONE/ancestors)
    for ((src, dest, _) <- w if dest != Taxonomy.NONE)
      assert(tax.hasAncestor(src, dest) || tax.hasAncestor(dest, src))
    assert(selected.contains(4) && selected.contains(6))
    // the pre-expansion selection is exactly the evidenced species — what
    // classify2 persists to _taxonSet.txt (reference byte compatibility)
    assert(baseSelection == Seq(4, 6))
  }

  test("multi-sample classify2 equals per-sample classify2, sample by sample") {
    import spark.implicits._
    // three samples with different compositions: sa is dominated by species
    // 4 with ONE species-6 contaminant read (below threshold), sb holds only
    // species 6, sc holds both above threshold
    def sampleReads(sample: String, counts: Map[Int, Int]): Seq[InputFragment] =
      counts.toSeq.sortBy(_._1).flatMap { case (t, n) =>
        (0 until n).map { i =>
          val g = genomes(t)
          val s = rng.nextInt(g.length - 150)
          InputFragment(s"${sample}_r$t-$i|src=$t", 0L,
            g.substring(s, s + 150), None)
        }
      }
    val bySampleReads = Map(
      "sa" -> sampleReads("sa", Map(4 -> 25, 6 -> 1)),
      "sb" -> sampleReads("sb", Map(6 -> 25)),
      "sc" -> sampleReads("sc", Map(4 -> 20, 6 -> 20)))
    val all = bySampleReads.values.flatten.toSeq
    val staticRecords = dyn.index.buildRecords(lib).cache()

    val (classified, perSample, cleanup) = dyn.classify2MultiSample(
      spark.createDataset(all), "^([^_]+)_", lib, staticRecords,
      criterion = DistinctMinimizers, rank = "species", threshold = 50)
    val multi = classified.collect().map(c => c.title -> c.taxon).toMap
    cleanup()
    assert(multi.size == all.size)

    // per-sample selections: the single contaminant read stays below the
    // threshold, so species 6 is NOT in sa's tailored index
    assert(perSample.keySet == Set("sa", "sb", "sc"))
    assert(perSample("sa").contains(4) && !perSample("sa").contains(6))
    assert(perSample("sb").contains(6) && !perSample("sb").contains(4))
    assert(perSample("sc").contains(4) && perSample("sc").contains(6))
    // the contaminant is unclassified in sa — a global selection (species 6
    // is abundant in sb/sc) would have classified it
    val contaminant = multi.filter(_._1.startsWith("sa_r6"))
    assert(contaminant.size == 1 && contaminant.values.head == Taxonomy.NONE)

    // exact per-read agreement with the single-sample pipeline run
    // independently on each sample's reads
    for ((s, rs) <- bySampleReads) {
      val (single, selected, release) = dyn.classify2(
        spark.createDataset(rs), lib, staticRecords,
        criterion = DistinctMinimizers, rank = "species", threshold = 50)
      val want = single.collect().map(c => c.title -> c.taxon).toMap
      release()
      assert(selected == perSample(s), s"selection mismatch for $s")
      for ((title, taxon) <- want)
        assert(multi(title) == taxon, s"$title: multi=${multi(title)} single=$taxon")
    }
    staticRecords.unpersist()
  }

  test("leaf-pair re-fold equals a direct sub-library build for random subsets") {
    // the multi-sample pipeline derives each group's records from shared
    // distinct (key, taxon) pairs instead of re-scanning the library; that
    // is only legal if filter+re-fold reproduces buildRecords on the
    // filtered library EXACTLY, for any subset, at both key widths
    import spark.implicits._
    val narrow = new MinimizerIndex(IndexParams(k = 35, m = 31, buckets = 4), bcTax)
    val wide = new WideMinimizerIndex(k = 40, m = 33, bcTax)
    val lib = spark.createDataset(genomes.toSeq)
    val taxa = genomes.keySet.toSeq
    val localRng = new Random(7)
    for (index <- Seq(narrow: KeyedIndex, wide: KeyedIndex)) {
      val pairs = index.buildLeafPairs(lib).cache()
      for (_ <- 0 until 5) {
        val subset = taxa.filter(_ => localRng.nextBoolean()).toSet
        val bcSub = spark.sparkContext.broadcast(subset)
        val refolded = index.foldLeafPairs(
            pairs.filter(r => bcSub.value.contains(
              r.getInt(r.fieldIndex("taxon")))))
          .collect().map(_.toSeq).toSet
        val direct = index.buildRecords(lib.filter(g => bcSub.value.contains(g._1)))
          .collect().map(_.toSeq).toSet
        assert(refolded == direct, s"subset $subset width ${index.keyCols.size}")
      }
      pairs.unpersist()
    }
  }

  test("multi-sample classify2 runs width-generically (wide m=33 keys)") {
    import spark.implicits._
    val wide = new WideMinimizerIndex(k = 35, m = 33, bcTax)
    val dynW = new DynamicClassifier(wide, bcTax)
    val staticRecords = wide.buildRecords(lib)
    val reads46 = (0 until 60).map { i =>
      val t = if (i % 2 == 0) 4 else 6
      val sample = if (i % 4 < 2) "wa" else "wb"
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"${sample}_w$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    val (classified, perSample, cleanup) = dynW.classify2MultiSample(
      spark.createDataset(reads46), "^([^_]+)_", lib, staticRecords,
      criterion = DistinctMinimizers, rank = "species", threshold = 50)
    val res = classified.collect()
    cleanup()
    assert(perSample.keySet == Set("wa", "wb"))
    assert(res.length == 60 && res.count(_.classified) > 50)
    for (c <- res if c.classified) {
      val src = c.title.split("src=")(1).toInt
      assert(tax.hasAncestor(src, c.taxon))
    }
  }

  test("2-step classification runs width-generically over a wide (m=33) index") {
    import spark.implicits._
    val wide = new WideMinimizerIndex(k = 35, m = 33, bcTax)
    val dynW = new DynamicClassifier(wide, bcTax)
    val staticRecords = wide.buildRecords(lib)
    val (classified, selected, releaseW) = dynW.classify2(
      spark.createDataset(reads), lib, staticRecords,
      criterion = DistinctMinimizers, rank = "species", threshold = 50)
    assert(selected.contains(4) && selected.contains(6))
    assert(!selected.contains(5) && !selected.contains(7))
    val res = classified.collect()
    releaseW()
    assert(res.count(_.classified) > 100)
    for (c <- res if c.classified) {
      val src = c.title.split("src=")(1).toInt
      assert(tax.hasAncestor(src, c.taxon))
    }
  }
}

class IndexOpsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(19)
  def randomDna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g1"),
    (4, 2, "species", "s4"), (5, 2, "species", "s5")))
  val params = IndexParams(k = 35, m = 31, spaces = 7, buckets = 4)
  lazy val bcTax = spark.sparkContext.broadcast(tax)
  lazy val index = new MinimizerIndex(params, bcTax)
  val genomes = Map(4 -> randomDna(2000), 5 -> randomDna(2000))

  def lib = {
    import spark.implicits._
    spark.createDataset(genomes.toSeq)
  }

  test("stats: minimizers per taxon + depth/rank histograms are consistent") {
    val records = index.makeRecords(lib).cache()
    val total = records.count()
    val perTaxon = IndexOps.minimizersPerTaxon(records).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perTaxon.values.sum == total)
    val byDepth = IndexOps.depthHistogram(records, bcTax).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDepth.values.sum == total)
    // species sit at depth 2, shared minimizers lift to genus depth 1
    assert(byDepth.getOrElse(2, 0L) > 0)
    val byRank = IndexOps.rankHistogram(records, bcTax).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRank.getOrElse("species", 0L) == byDepth.getOrElse(2, 0L))
  }

  test("respace widens the mask: fewer distinct minimizers, LCA re-folded") {
    val records = index.makeRecords(lib).cache()
    val respaced = IndexOps.respace(records, params, newSpaces = 10, bcTax).cache()
    assert(respaced.count() <= records.count())
    // all respaced keys have the extra positions cleared
    var mask = graft.kmers.Dna.merMask(params.m)
    for (i <- 0 until 10) mask &= ~(3L << (2 * (2 * i + 1)))
    for (r <- respaced.collect())
      assert((r.getLong(0) & ~mask) == 0L)
  }

  test("per-taxon counts memoize to disk and read back unchanged") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    val direct = IndexOps.minimizersPerTaxon(records)
      .as[(Int, Long)].collect().toMap
    val first = IndexOps.minimizersPerTaxonMemo(records, dir)
      .as[(Int, Long)].collect().toMap
    assert(first == direct)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_taxon_counts")))
    // second call must serve the memo even if the records change underneath
    val again = IndexOps.minimizersPerTaxonMemo(records.limit(1), dir)
      .as[(Int, Long)].collect().toMap
    assert(again == direct)
  }

  test("missingGenomes is empty when every genome contributed") {
    val records = index.makeRecords(lib)
    assert(IndexOps.missingGenomes(index, lib, records).count() == 0)
  }

  test("SQL report path agrees with the typed path on per-taxon counts") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val reads = (0 until 100).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 120)
      InputFragment(s"r$i", 0L, g.substring(s, s + 120), None)
    }
    val ds = spark.createDataset(reads)
    val spans = index.spans(ds).cache()
    val typed = index.classify(spans, records)
      .groupBy($"taxon").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sqlPath = IndexOps.classifyReport(index, spans, records)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(typed == sqlPath)
  }

  test("SQL report path agrees with the typed path at wide and extra-wide " +
    "key widths (regression: the report join must use the FULL keyCols)") {
    import spark.implicits._
    val wideGenomes = Map(4 -> randomDna(2500), 5 -> randomDna(2500))
    val wideLib = spark.createDataset(wideGenomes.toSeq)
    val reads = (0 until 80).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = wideGenomes(t)
      val s = rng.nextInt(g.length - 200)
      InputFragment(s"w$i", 0L, g.substring(s, s + 200), None)
    }
    val ds = spark.createDataset(reads)
    for (idx <- Seq[LongKeyIndex](
        new WideMinimizerIndex(k = 45, m = 33, bcTax),
        new WideMinimizerIndex(k = 104, m = 96, bcTax))) {
      val records = idx.buildRecords(wideLib).cache()
      val spans = idx.spans(ds).cache()
      val typed = idx.classify(spans, records)
        .groupBy($"taxon").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val sqlPath = IndexOps.classifyReport(idx, spans, records)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(typed == sqlPath, s"report mismatch at ${idx.keyCols}")
      records.unpersist(); spans.unpersist()
    }
  }

  test("multi-sample classification splits counts by sample regex") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val reads = (0 until 60).map { i =>
      val sample = s"S${i % 3}"
      val g = genomes(4)
      val s = rng.nextInt(g.length - 120)
      InputFragment(s"${sample}R$i", 0L, g.substring(s, s + 120), None)
    }
    val bySample = IndexOps.classifyMultiSample(index,
      spark.createDataset(reads), records, "(S\\d+)R")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(bySample.map(_._1).distinct.sorted.toSeq == Seq("S0", "S1", "S2"))
    assert(bySample.map(_._3).sum == 60)
  }

  test("multi-sample classification is width-generic (wide m=33 keys)") {
    // regression for the r14 narrow-type straggler: classifyMultiSample
    // took MinimizerIndex, so a wide/xwide caller had to copy the body
    import spark.implicits._
    val wideGenomes = Map(4 -> randomDna(2500), 5 -> randomDna(2500))
    val idx = new WideMinimizerIndex(k = 45, m = 33, bcTax)
    val records = idx.buildRecords(spark.createDataset(wideGenomes.toSeq))
    val reads = (0 until 60).map { i =>
      val sample = s"S${i % 3}"
      val g = wideGenomes(if (i % 2 == 0) 4 else 5)
      val s = rng.nextInt(g.length - 200)
      InputFragment(s"${sample}R$i", 0L, g.substring(s, s + 200), None)
    }
    val ds = spark.createDataset(reads)
    val bySample = IndexOps.classifyMultiSample(idx, ds, records, "(S\\d+)R")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(bySample.map(_._1).distinct.sorted.toSeq == Seq("S0", "S1", "S2"))
    assert(bySample.map(_._3).sum == 60)
    // per-(sample, taxon) counts must equal the single-sample classify
    // regrouped — the multisample path adds the sample split, nothing else
    val direct = idx.classify(idx.spans(ds), records)
      .withColumn("sample", regexp_extract($"title", "(S\\d+)R", 1))
      .groupBy($"sample", $"taxon").count()
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(bySample.sorted.toSeq == direct.sorted.toSeq)
  }

  test("per-sample output sink writes kraken-format gzip text") {
    import spark.implicits._
    val records = index.makeRecords(lib)
    val reads = (0 until 20).map { i =>
      val g = genomes(5)
      val s = rng.nextInt(g.length - 120)
      InputFragment(s"S${i % 2}R$i", 0L, g.substring(s, s + 120), None)
    }
    val classified = index.classify(index.spans(spark.createDataset(reads)), records)
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString + "/reads"
    IndexOps.writePerSampleOutput(classified, Some("(S\\d+)R"), out, maxPartitions = 2)
    val back = spark.read.text(out + "/sample=S0").collect()
    assert(back.nonEmpty)
    assert(back.head.getString(0).matches("[CU]\t.*\t-?[0-9]+\t[0-9]+\t.*"))
  }
}
