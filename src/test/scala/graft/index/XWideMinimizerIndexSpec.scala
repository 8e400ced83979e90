package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.sources.InputFragment
import graft.taxa.Taxonomy
import scala.util.Random

/** End-to-end for the wide index at 3/4-long keys: build + classify at
  * m = 96 and m = 128, the join path vs the in-memory broadcast table
  * row-identical, bucketed persistence with a one-sided classify join. */
class XWideMinimizerIndexSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(43)
  def randomDna(n: Int): String =
    Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g1"), (3, 1, "genus", "g2"),
    (4, 2, "species", "s4"), (5, 2, "species", "s5"),
    (6, 3, "species", "s6")))

  val genomes: Map[Int, String] =
    Map(4 -> randomDna(4000), 5 -> randomDna(4000), 6 -> randomDna(4000))

  lazy val bcTax = spark.sparkContext.broadcast(tax)

  private def lib = {
    import spark.implicits._
    spark.createDataset(genomes.toSeq.map { case (t, g) => (t, g) })
  }

  private def readsOf(n: Int, len: Int): Seq[InputFragment] = {
    val r = new Random(7)
    (0 until n).map { i =>
      val src = 4 + r.nextInt(3)
      val g = genomes(src)
      val start = r.nextInt(g.length - len)
      InputFragment(s"x${src}r$i", 0L, g.substring(start, start + len), None)
    }
  }

  for ((m, k) <- Seq((96, 104), (128, 140))) {
    test(s"m=$m: records carry ceil(m/32) key columns, classified reads land " +
      "on the source taxon or an ancestor, and the in-memory path is " +
      "row-identical to the join path") {
      import spark.implicits._
      val index = new WideMinimizerIndex(k, m, bcTax)
      val idLongs = (m + 31) / 32
      val records = index.makeRecords(lib).cache()
      assert(records.columns.toSeq ==
        (1 to idLongs).map(i => s"id$i") :+ "taxon")
      // distinct-minimizer count agrees with a local scan
      val local = genomes.values.flatMap(g =>
        index.scanner.scan(g).map(_.ids.toSeq)).toSet
      assert(records.count() == local.size)
      val reads = spark.createDataset(readsOf(60, k + 40))
      val joined = index.classify(index.spans(reads), records,
        minHitGroups = 1).collect()
      assert(joined.nonEmpty)
      for (c <- joined if c.taxon != Taxonomy.NONE) {
        val src = c.title.drop(1).takeWhile(_.isDigit).toInt
        var t = src
        var ok = false
        while (t != Taxonomy.NONE && !ok) {
          ok = t == c.taxon; t = tax.parents(t)
        }
        assert(ok, s"read ${c.title} classified to ${c.taxon}, not an " +
          s"ancestor of $src")
      }
      // most reads classify (the genomes are distinct random DNA)
      assert(joined.count(_.taxon != Taxonomy.NONE) > joined.length / 2)
      // in-memory broadcast-table path row-identical
      val mem = index.inMemoryClassifier(records)
      try {
        val viaMem = mem.classify(reads, confidence = 0.0, minHitGroups = 1)
          .collect().map(c => c.title -> c.taxon).toMap
        assert(viaMem == joined.map(c => c.title -> c.taxon).toMap)
      } finally mem.close()
      records.unpersist(false)
    }
  }

  test("mergeIndexes(build(A), build(B)) == build(A ∪ B) at every key " +
    "width — the exactness contract of incremental library growth") {
    import spark.implicits._
    // libB repeats genome 4 under taxon 5, so some keys must LCA-lift to
    // the genus ACROSS the merge boundary — the case a naive
    // keep-first/keep-either merge would get wrong
    val libA = spark.createDataset(Seq((4, genomes(4)), (5, genomes(5))))
    val libB = spark.createDataset(Seq((6, genomes(6)), (5, genomes(4))))
    val libAll = libA.union(libB)
    def recordsMap(df: org.apache.spark.sql.DataFrame,
        nk: Int): Map[Seq[Long], Int] =
      df.collect().map(r => (0 until nk).map(r.getLong).toSeq -> r.getInt(nk))
        .toMap
    val widths: Seq[KeyedIndex] = Seq(
      new MinimizerIndex(IndexParams(k = 35, m = 31, spaces = 7, buckets = 4),
        bcTax),
      new WideMinimizerIndex(50, 40, bcTax),
      new WideMinimizerIndex(104, 96, bcTax))
    for (idx <- widths) {
      val nk = idx.keyCols.size
      val merged = IndexOps.mergeIndexes(idx.buildRecords(libA),
        idx.buildRecords(libB), bcTax, idx.keyCols)
      val direct = idx.buildRecords(libAll)
      val m = recordsMap(merged, nk)
      val d = recordsMap(direct, nk)
      assert(m == d, s"merge diverges at $nk-long keys")
      // the lift genuinely happened: at least one key resolved to genus 2
      assert(m.values.exists(_ == 2), s"no LCA lift at $nk-long keys")
    }
  }

  test("width-generic consumers run at idLongs=3: bracken windows and " +
    "missing-genome stats agree with expectations") {
    import spark.implicits._
    val index = new WideMinimizerIndex(104, 96, bcTax)
    val records = index.makeRecords(lib).cache()
    // bracken weights derive source->dest window counts without error and
    // cover all sources
    val bracken = new Bracken(index, bcTax)
    val w = bracken.weights(lib, records, readLen = 150)
    val sources = w.select("source").distinct().as[Int].collect().toSet
    assert(sources == Set(4, 5, 6))
    // a genome absent from the index is reported missing; present ones not
    val extra = lib.union(spark.createDataset(Seq((5, randomDna(500)))))
    val missing = IndexOps.missingGenomes(index, extra, records)
      .as[(Int, Long)].collect().toMap
    assert(missing.getOrElse(4, 0L) == 0L)
    records.unpersist(false)
  }
}
