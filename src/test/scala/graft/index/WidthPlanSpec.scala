package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import graft.sources.InputFragment
import graft.taxa.Taxonomy
import scala.util.Random

/** Width-parameterized physical-plan invariants of the unified
  * [[LongKeyIndex]] pipeline — ONE loop over every key arity (1..4 words)
  * instead of per-width spec copies. Per width:
  *
  *  - bucketed write + DDL reload round-trips the records and the params
  *    sidecar;
  *  - the classify join stays one-sided under AQE even when
  *    `spark.sql.shuffle.partitions` differs from the bucket count: the
  *    FINAL adaptive plan scans the index side with bucket metadata
  *    (SelectedBucketsCount) and contains exactly ONE Exchange — the span
  *    (read) side repartitioning to the bucket layout, never the index;
  *  - classification through the reloaded bucketed records is row-identical
  *    to the direct join path AND to the broadcast in-memory path
  *    (reference invariant: KeyValueIndex.scala:125-159,418-426).
  *
  * This is the plan contract that makes the 100 TB classify read-dominated:
  * the multi-TB index never shuffles, only the reads do.
  */
class WidthPlanSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(4242)
  def dna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  val tax = Taxonomy.fromTuples(Seq(
    (2, 1, "genus", "g"), (4, 2, "species", "s4"), (5, 2, "species", "s5")))
  lazy val bcTax = spark.sparkContext.broadcast(tax)

  val genomes = Map(4 -> dna(3000), 5 -> dna(3000))

  def asMap(rs: Array[ClassifiedRead]): Map[String, (Boolean, Int, Int, String)] =
    rs.map(c => c.title -> ((c.classified, c.taxon, c.length, c.hits))).toMap

  // every key arity of the unified pipeline: 1, 2, 3 and 4 words
  val widths: Seq[(String, () => LongKeyIndex)] = Seq(
    ("narrow m=31 (1 word)", () =>
      new MinimizerIndex(IndexParams(k = 35, m = 31, spaces = 0, buckets = 8),
        bcTax)),
    ("wide m=40 (2 words)", () => new WideMinimizerIndex(50, 40, bcTax)),
    ("xwide m=96 (3 words)", () => new WideMinimizerIndex(104, 96, bcTax)),
    ("xwide m=112 (4 words)", () => new WideMinimizerIndex(120, 112, bcTax)))

  for ((label, mkIndex) <- widths)
    test(s"$label: bucketed classify join is one-sided under AQE; " +
      "reload and in-memory paths row-identical") {
      // fresh SQL conf: AQE on, shuffle.partitions deliberately != buckets
      // (SURVEY §7.4 risk 1 — re-planning must not add an index-side
      // Exchange when the counts disagree)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "true")
      ss.conf.set("spark.sql.shuffle.partitions", "10")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import ss.implicits._
      val index = mkIndex()
      val lib = ss.createDataset(genomes.toSeq)
      val records = index.buildRecords(lib).cache()
      val dir = java.nio.file.Files.createTempDirectory("graft-wps")
        .toString + "/index"
      index.writeRecords(records, dir, buckets = 8)
      // sidecar round-trips the bucket count (the classify CLI pins
      // shuffle.partitions := buckets from exactly this field)
      assert(IndexParams.read(ss, dir).buckets == 8)
      val reloaded = index.loadRecords(ss, dir, buckets = 8)
      assert(reloaded.count() == records.count())

      val reads = (0 until 30).map { i =>
        val t = if (i % 2 == 0) 4 else 5
        val g = genomes(t)
        val s = rng.nextInt(g.length - 300)
        InputFragment(s"wp$i", 0L, g.substring(s, s + 300), None)
      }
      val ds = ss.createDataset(reads)

      val joined = index.spansDF(ds).join(reloaded, index.keyCols, "left")
      // execute THIS Dataset (a sibling action would leave joined's own
      // adaptive plan unfinalized)
      assert(joined.collect().nonEmpty)
      val full = joined.queryExecution.executedPlan.toString
      assert(full.contains("isFinalPlan=true"), s"AQE did not finalize:\n$full")
      // AdaptiveSparkPlan prints final + initial sections; grade the final
      val plan = full.split("== Initial Plan ==")(0)
      assert(plan.contains("SelectedBucketsCount"),
        s"[$label] no bucketed scan in:\n$plan")
      val exchanges = plan.split("\n")
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"[$label] expected 1 shuffle (span side only), got $exchanges:\n$plan")

      // row-identity across the three execution paths
      val direct = asMap(
        index.classify(index.spans(ds), records, minHitGroups = 1).collect())
      val viaReload = asMap(
        index.classifyDF(index.spansDF(ds), reloaded, minHitGroups = 1)
          .collect())
      assert(viaReload == direct, s"[$label] reload path diverged")
      val mem = index.inMemoryClassifier(records)
      try {
        val viaMem = asMap(
          mem.classify(ds, confidence = 0.0, minHitGroups = 1).collect())
        assert(viaMem == direct, s"[$label] in-memory path diverged")
      } finally mem.close()
      records.unpersist(false)
    }
}
