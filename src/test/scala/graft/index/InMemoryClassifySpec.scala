package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.sources.InputFragment
import graft.kmers.Dna
import graft.taxa.Taxonomy
import scala.util.Random

/** The zero-shuffle in-memory classification path must be ROW-IDENTICAL to
  * the bucketed-join path — same taxa, same hit strings, same lengths —
  * on clean, ambiguous (short and >= k N runs), sub-k, paired and chimeric
  * reads, at every key width (m = 31, 40, 64 with frequency demotion, 96,
  * 112) and under confidence/min-hit-groups gates. */
class InMemoryClassifySpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(83)
  def dna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
  lazy val bcTax = spark.sparkContext.broadcast(tax)
  val genomes = Map(4 -> dna(3000), 5 -> dna(3000))

  /** Reads against an index of k-mer length `k`. */
  def reads(k: Int): Seq[InputFragment] = {
    val clean = (0 until 40).map { i =>
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      InputFragment(s"c$i|src=$t", 0L, g.substring(s, s + 150), None)
    }
    // ambiguous middles, chimeras, paired-end with RC mates, junk
    val gnarly = (0 until 15).map { i =>
      val g = genomes(4)
      val s = rng.nextInt(g.length - 400)
      i % 3 match {
        case 0 => InputFragment(s"n$i", 0L,
          g.substring(s, s + 60) + "NNNNN" + g.substring(s + 65, s + 150), None)
        case 1 => InputFragment(s"p$i", 0L, g.substring(s, s + 130),
          Some(graft.kmers.Dna.reverseComplement(g.substring(s + 200, s + 330))))
        case _ => InputFragment(s"x$i", 0L, g.substring(s, s + 60) + dna(90), None)
      }
    }
    // sub-k reads and segments: no spans at all, a valid segment split
    // below k by an N run, a >= k N run (an ambiguous pseudo-span between
    // valid spans), and mates of which one is shorter than k
    val edges = (0 until 8).flatMap { i =>
      val g = genomes(5)
      val s = rng.nextInt(g.length - 3 * k - 20)
      Seq(
        InputFragment(s"short$i", 0L, g.substring(s, s + k - 1), None),
        InputFragment(s"nsplit$i", 0L, g.substring(s, s + k - 1) + "NN" +
          g.substring(s + k + 1, s + 2 * k), None),
        InputFragment(s"nrun$i", 0L, g.substring(s, s + k + 10) + "N" * k +
          g.substring(s + 2 * k + 10, s + 3 * k + 20), None),
        InputFragment(s"subpair$i", 0L, g.substring(s, s + k + 30),
          Some(Dna.reverseComplement(g.substring(s + k + 40, s + 2 * k + 30)))))
    }
    clean ++ gnarly ++ edges
  }

  /** Join path and in-memory path agree row for row. */
  def assertRowIdentical(index: LongKeyIndex, k: Int, label: String,
      gates: Seq[(Double, Int)]): Unit = {
    import spark.implicits._
    val records = index.makeRecords(spark.createDataset(genomes.toSeq)).cache()
    val ds = spark.createDataset(reads(k))
    for ((conf, mhg) <- gates) {
      val joined = asMap(index.classify(index.spans(ds), records, conf, mhg)
        .collect())
      val inMem = asMap(index.classifyInMemory(ds, records, conf, mhg).collect())
      assert(inMem == joined, s"$label conf=$conf minHitGroups=$mhg")
      assert(joined.keys.exists(_.startsWith("nrun")), label)
    }
    records.unpersist()
  }

  def asMap(rs: Array[ClassifiedRead]): Map[String, (Boolean, Int, Int, String)] =
    rs.map(c => c.title -> ((c.classified, c.taxon, c.length, c.hits))).toMap

  test("narrow in-memory classification is row-identical to the join path") {
    val index = new MinimizerIndex(IndexParams(k = 35, m = 31, buckets = 4), bcTax)
    assertRowIdentical(index, 35, "m=31", Seq((0.0, 1), (0.0, 2), (0.35, 1)))
  }

  test("wide in-memory classification is row-identical to the join path") {
    import spark.implicits._
    // m=64 with frequency demotion: half the library's canonical m-mers
    // demoted, so the out-of-band rank genuinely changes the selected keys
    val probe = new WideMinimizerIndex(k = 66, m = 64, bcTax)
    val demoted = FrequencyOrdering.topCanonicalWideMers(
      probe.packLibrary(spark.createDataset(genomes.toSeq)), 64,
      fraction = 1.0, topN = 3000)
    assert(demoted.length == 2 * 3000)
    for ((label, k, index) <- Seq(
        ("m=40", 50, new WideMinimizerIndex(k = 50, m = 40, bcTax)),
        ("m=64 frequency", 66,
          new WideMinimizerIndex(k = 66, m = 64, bcTax, 0, demoted)),
        ("m=96", 104, new WideMinimizerIndex(k = 104, m = 96, bcTax)),
        ("m=112", 120, new WideMinimizerIndex(k = 120, m = 112, bcTax))))
      assertRowIdentical(index, k, label, Seq((0.0, 1), (0.9, 2)))
  }

  test("in-memory sweep equals per-threshold classification at both widths") {
    import spark.implicits._
    val confs = Seq(0.0, 0.35, 0.9)
    val narrow = new MinimizerIndex(IndexParams(k = 35, m = 31, buckets = 4), bcTax)
    val wide = new WideMinimizerIndex(k = 50, m = 40, bcTax)
    val lib = spark.createDataset(genomes.toSeq)
    val ds = spark.createDataset(reads(50))
    for (index <- Seq(narrow: KeyedIndex, wide: KeyedIndex)) {
      val records = index.buildRecords(lib).cache()
      val mem = index.inMemoryClassifier(records)
      val swept = mem.classifySweep(ds, confs).collect()
        .groupBy(_._1).view.mapValues(v => asMap(v.map(_._2))).toMap
      assert(swept.keySet == confs.toSet)
      for (conf <- confs)
        assert(swept(conf) == asMap(mem.classify(ds, conf).collect()),
          s"conf=$conf width=${index.keyCols.size}")
      records.unpersist()
    }
  }

  test("table byte-size accounting tracks the real JVM footprint") {
    import spark.implicits._
    // measured size: within 2x of Spark's SizeEstimator on the live table
    // (the backing arrays dominate; headers and object padding are noise)
    for (words <- 1 to 4) {
      val table: KeyTaxonTable =
        if (words == 1) LongTaxonMap(Array.tabulate(10000)(i => (i.toLong * 7919, i)))
        else WideTaxonMap(Array.tabulate(10000 * words)(i => i.toLong * 104729),
          Array.tabulate(10000)(identity), words)
      val est = org.apache.spark.util.SizeEstimator.estimate(table)
      assert(table.byteSize <= 2 * est && est <= 2 * table.byteSize,
        s"words=$words byteSize ${table.byteSize} vs SizeEstimator $est")
      // the pre-collect prediction from a record count matches the real build
      assert(LongTaxonMap.estimatedBytes(10000, words).contains(table.byteSize),
        s"words=$words")
      // beyond the hard table bound the prediction declines, like the build
      assert(LongTaxonMap.estimatedBytes((1L << 28) + 1, words).isEmpty)
    }
    // and the classifier exposes the measured size for the CLI log line
    for ((index, words) <- Seq(
        new MinimizerIndex(IndexParams(k = 35, m = 31, buckets = 4), bcTax) -> 1,
        new WideMinimizerIndex(k = 104, m = 96, bcTax) -> 3)) {
      val records = index.makeRecords(spark.createDataset(genomes.toSeq))
      val mem = index.inMemoryClassifier(records)
      val n = records.count()
      assert(LongTaxonMap.estimatedBytes(n, words).contains(mem.tableBytes),
        s"prediction from $n records must equal the measured build at $words words")
      mem.close()
    }
  }

  test("in-memory classification runs zero shuffles") {
    import spark.implicits._
    val index = new MinimizerIndex(IndexParams(k = 35, m = 31, buckets = 4), bcTax)
    val lib = spark.createDataset(genomes.toSeq)
    // materialize records FIRST so the classification job starts from a
    // driver-local table, then count the shuffles its own job registers
    val records = index.makeRecords(lib).cache()
    records.count()
    val rs = reads(35)
    val ds = spark.createDataset(rs)
    val out = index.classifyInMemory(ds, records)
    // the classification dataset's physical plan contains no Exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"in-memory classify plan shuffles:\n$plan")
    // every read with at least one span (a valid or ambiguous segment
    // >= k) yields a row; the sub-k and split-below-k reads yield none
    assert(out.collect().length == rs.count(r => !r.header.startsWith("short") &&
      !r.header.startsWith("nsplit")))
    records.unpersist()
  }
}
