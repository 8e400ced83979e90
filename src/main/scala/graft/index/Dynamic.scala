package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.RunLedger
import graft.sources.InputFragment
import graft.taxa.Taxonomy

/** Taxon-selection heuristic for the first pass of 2-step classification
  * (spec: reference slacken/Dynamic.scala:250-258). */
sealed trait TaxonCriterion
/** Total minimizer hits per taxon. */
case object TotalMinimizers extends TaxonCriterion
/** Distinct minimizers hit per taxon. */
case object DistinctMinimizers extends TaxonCriterion
/** Reads classified per taxon (full first-pass classification). */
case object ClassifiedReads extends TaxonCriterion

/** Two-step ("dynamic") classification: classify against the full static
  * index to find which taxa are present, cut a sample-tailored sub-index
  * restricted to those taxa (plus descendants), and re-classify
  * (spec: reference slacken/Dynamic.scala:314-354).
  *
  * Width-independent: runs over any [[KeyedIndex]] (narrow m <= 32 or wide
  * m in [33, 64]).
  *
  * Scale design: the expensive span extraction runs ONCE — spans depend only
  * on splitter parameters, so the cached span dataset is reused by the
  * evidence pass and the final pass. The rebuild filters the library BEFORE
  * minimizer extraction (predicate pushdown on taxon).
  */
final class DynamicClassifier(val index: KeyedIndex, bcTax: Broadcast[Taxonomy]) {

  def this(params: IndexParams, bcTax: Broadcast[Taxonomy]) =
    this(new MinimizerIndex(params, bcTax), bcTax)

  /** Per-taxon evidence counts from the first pass. The ClassifiedReads
    * criterion reuses the caller's classify parameters (confidence AND
    * minHitGroups) so the first pass counts reads at exactly the thresholds
    * the final pass will use (spec: reference Dynamic.scala
    * classifiedReadsPerTaxon reuses the same classify params). */
  def evidence(spans: DataFrame, records: DataFrame,
      criterion: TaxonCriterion, confidence: Double = 0.0,
      minHitGroups: Int = 2): DataFrame = {
    val spark = spans.sparkSession
    import spark.implicits._
    val keys = index.keyCols
    criterion match {
      case TotalMinimizers =>
        // pre-aggregate Σkmers per key BEFORE the join (guide §2.3
        // "aggregate before you shuffle"): the join's span-side exchange
        // then ships one (key, Σkmers) row per distinct span key instead
        // of every span row; the per-taxon total is a sum of sums
        spans.groupBy(keys.map(col): _*)
          .agg(sum($"kmers").as("kmers"))
          .join(records, keys)
          .groupBy($"taxon").agg(sum($"kmers").cast("long").as("count"))
      case DistinctMinimizers =>
        // countDistinct(keys) grouped by taxon planned a second
        // (taxon, keys) dedup exchange AFTER the join; the records side is
        // unique per key (the LCA fold is a groupBy(keys)), so the same
        // number is the per-taxon row count of (distinct span keys) ⋈
        // records. Deduping the span keys BEFORE the join also ships only
        // the deduped key columns through the join exchange, and the
        // distinct's output partitioning (keys) is exactly the join's, so
        // the plan drops from 3 exchanges to 2 (r22, guide §2.3/§2.4;
        // plans/r22/g04_classify2_*.txt)
        spans.select(keys.map(col): _*).distinct()
          .join(records, keys)
          .groupBy($"taxon").agg(count(lit(1)).cast("long").as("count"))
      case ClassifiedReads =>
        // count-only first pass: skip the per-read hit-string build
        index.classifyDF(spans, records, confidence, minHitGroups,
            detail = false)
          .filter(_.classified)
          .groupBy($"taxon").agg(count(lit(1)).cast("long").as("count"))
    }
  }

  /** Threshold clade-aggregated evidence at a rank; expand with descendants
    * (spec: Dynamic.scala:189-201, CountFilter). Driver-side tree math on
    * collected per-taxon counts (small).
    *
    * Reference-exact semantics (proven against the running reference engine
    * in the classify2 head-to-head, tools/refbaseline): candidates are the
    * taxa with DIRECT first-pass evidence only (CountFilter iterates
    * TreeAggregator.keys, KrakenReport.scala:27-41 — ancestors accumulate
    * clade totals but are not themselves candidates), kept when their
    * lineage depth is at/below the rank cutoff and their CLADE total (own +
    * descendants' evidence) reaches the threshold; descendants of every
    * kept taxon are pulled in afterwards (Dynamic.scala:377). A species
    * ancestor with no direct evidence is NOT selected even when its strains'
    * combined evidence passes the threshold — each strain must pass on its
    * own clade. */
  def selectTaxa(evidenceCounts: Array[(Int, Long)], rank: String,
      threshold: Long): collection.BitSet =
    collection.immutable.BitSet.empty ++ bcTax.value.withDescendants(
      selectTaxaBase(evidenceCounts, rank, threshold))

  /** The PRE-expansion selection — the directly-evidenced taxa passing the
    * clade threshold, before descendants are pulled in. This is the set the
    * reference persists to `_taxonSet.txt` (Dynamic.scala:325), so byte
    * compatibility with its output format needs this, not the expansion. */
  def selectTaxaBase(evidenceCounts: Array[(Int, Long)], rank: String,
      threshold: Long): Seq[Int] = {
    val tax = bcTax.value
    val minDepth = Taxonomy.rankCode(rank).toInt
    val clade = collection.mutable.Map.empty[Int, Long]
    for ((t, c) <- evidenceCounts if t > 0 && tax.isDefined(t)) {
      var cur = t
      while (cur != Taxonomy.NONE) {
        clade(cur) = clade.getOrElse(cur, 0L) + c
        cur = tax.parents(cur)
      }
    }
    evidenceCounts.collect {
      case (t, _) if t > 0 && tax.isDefined(t) &&
        tax.rankDepth(t) >= minDepth &&
        clade.getOrElse(t, 0L) >= threshold => t
    }.toSeq.distinct.sorted
  }

  /** Precision/recall of a selected taxon set against a gold-standard set at
    * a rank (spec: Dynamic.scala:284-312 gold-set comparison). */
  def goldSetMetrics(selected: collection.BitSet, gold: Set[Int],
      rank: String): (Double, Double) = {
    val tax = bcTax.value
    val rc = Taxonomy.rankCode(rank)
    def atRank(ts: Iterable[Int]): Set[Int] =
      ts.map(t => tax.ancestorAtRank(t, rc)).filter(_ != Taxonomy.NONE).toSet
    val sel = atRank(selected)
    val g = atRank(gold)
    val tp = sel.intersect(g).size.toDouble
    (if (sel.isEmpty) 0.0 else tp / sel.size,
      if (g.isEmpty) 0.0 else tp / g.size)
  }

  /** Full 2-step pipeline. Returns (classified reads, selected taxa,
    * release). Call `release()` once the classified dataset is materialized
    * — it frees the internal spans/records caches (dropping it leaks them
    * to Spark's LRU, the round-3 defect).
    * @param goldSet when given, REPLACES the heuristic selection (with
    *   descendants) — the reference's gold-standard mode. */
  def classify2(reads: Dataset[InputFragment], library: Dataset[(Int, String)],
      staticRecords: DataFrame, criterion: TaxonCriterion = DistinctMinimizers,
      rank: String = "species", threshold: Long = 100,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      goldSet: Option[Set[Int]] = None,
      initConfidence: Option[Double] = None,
      detail: Boolean = true,
      staticLeafPairs: Option[DataFrame] = None)
      : (Dataset[ClassifiedRead], collection.BitSet, () => Unit) = {
    val (classified, _, taxa, _, _, cleanup) = classify2Full(reads, library,
      staticRecords, criterion, rank, threshold, confidence, minHitGroups,
      goldSet, initConfidence, detail, staticLeafPairs)
    (classified, taxa, cleanup)
  }

  /** [[classify2]] plus the sample-tailored artifacts: the PRE-expansion
    * selection (what the reference persists to `_taxonSet.txt`), the
    * selected sub-library and the dynamic records (cached), so callers can
    * derive bracken weights or persist the dynamic index without
    * rebuilding. The last element releases the internal caches (spans +
    * dynamic records) — call it once every derived output is materialized.
    * @param initConfidence confidence for the FIRST pass only (the
    *   ClassifiedReads evidence scan) — the reference's --init-confidence
    *   (Slacken.scala:219-221, default 0.15 there); None = reuse
    *   `confidence`, the pre-existing behavior.
    * @param staticLeafPairs the library's distinct (key..., taxon) leaf
    *   pairs, when the caller already has them (typically cached beside the
    *   static records they were folded from): the sub-index then derives by
    *   a broadcast taxon filter + re-fold of THESE pairs instead of
    *   re-extracting the library's minimizers from scratch (r21, guide
    *   §1.2 step 1 — the re-extraction was the single largest phase of the
    *   g04/g10 lanes). Legal because a subset's record LCA depends only on
    *   the subset's leaf pairs, and the LCA fold is idempotent (fold over
    *   the distinct pair set ≡ fold over the raw multiset). None = extract
    *   from the filtered library, the pre-existing behavior. */
  def classify2Full(reads: Dataset[InputFragment], library: Dataset[(Int, String)],
      staticRecords: DataFrame, criterion: TaxonCriterion = DistinctMinimizers,
      rank: String = "species", threshold: Long = 100,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      goldSet: Option[Set[Int]] = None,
      initConfidence: Option[Double] = None,
      detail: Boolean = true,
      staticLeafPairs: Option[DataFrame] = None)
      : (Dataset[ClassifiedRead], Seq[Int], collection.BitSet,
        Dataset[(Int, String)], DataFrame, () => Unit) = {
    val spark = reads.sparkSession
    import spark.implicits._

    // the spans cache is deliberately NOT pre-partitioned on the keys:
    // caching it repartition(keys)+sorted was measured SLOWER (r21 A/B,
    // +0.4 s on g04/g10 at sf0.1) — the cache-build exchange moves FULL
    // span rows (title strings included), while the per-join exchanges it
    // would replace shuffle pruned projections (the evidence join ships
    // only keys+kmers[+sample]).
    val spans = index.spansDF(reads).persist(StorageLevel.MEMORY_AND_DISK)
    val base: Seq[Int] = goldSet match {
      case Some(g) => g.toSeq.sorted
      case None =>
        // forward the caller's classify params so the ClassifiedReads
        // criterion counts first-pass reads at the same thresholds the final
        // pass uses (and classify2MultiSample on one sample stays equivalent);
        // initConfidence overrides the first-pass confidence only
        val ev = RunLedger.phase(spark, "evidence") {
          evidence(spans, staticRecords, criterion,
            initConfidence.getOrElse(confidence),
            minHitGroups).as[(Int, Long)].collect()
        }
        selectTaxaBase(ev, rank, threshold)
    }
    val taxa: collection.BitSet =
      collection.immutable.BitSet.empty ++ bcTax.value.withDescendants(base)
    val bcTaxa = spark.sparkContext.broadcast(taxa)

    // rebuild restricted to selected taxa: filter BEFORE extraction — or,
    // when the caller supplied the static leaf pairs, filter THOSE by a
    // broadcast taxon join and re-fold (no second extraction at all)
    val subLibrary = library.filter(g => bcTaxa.value.contains(g._1))
    val dynRecords = (staticLeafPairs match {
      case Some(lp) =>
        val taxaDf = spark.createDataset(taxa.toSeq)(
          org.apache.spark.sql.Encoders.scalaInt).toDF("taxon")
        index.foldLeafPairs(lp.join(broadcast(taxaDf), "taxon"))
      case None => index.buildRecords(subLibrary)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // spans must stay cached until the returned dataset is consumed (eager
    // unpersist here would recompute the expensive span extraction), so the
    // caller gets an explicit release handle to call after materializing.
    val result = index.classifyDF(spans, dynRecords, confidence, minHitGroups,
      detail)
    val cleanup = () => {
      spans.unpersist(blocking = false)
      dynRecords.unpersist(blocking = false)
      ()
    }
    (result, base, taxa, subLibrary, dynRecords, cleanup)
  }

  /** Per-sample two-step classification over MANY samples in one
    * distributed pass (beyond the reference, which treats the whole input
    * as one sample): sample ids come from `sampleRegex` applied to read
    * titles; evidence, taxon selection and the tailored sub-index are all
    * per sample. Returns (classified reads, per-sample selections, release).
    *
    * Scale design — nothing here is per-sample work:
    *  - span extraction runs ONCE and is cached;
    *  - evidence is ONE aggregation keyed by (sample, taxon); only
    *    samples x present-taxa rows reach the driver;
    *  - samples with identical selections share a selection GROUP, so the
    *    library minimizer extraction runs ONCE over the union of all
    *    selections as distinct (key, leaf-taxon) pairs, and each group's
    *    LCA records derive from those pairs by a broadcast tag-join +
    *    re-fold (legal: a subset's record LCA depends only on the subset's
    *    leaf pairs);
    *  - classification is ONE left join on (grp, key...) — each read meets
    *    exactly its own sample's records. No per-sample scans, joins or
    *    driver loops anywhere in the distributed path.
    *
    * The two actions submitted here run under the `sample_enum` and
    * `evidence` [[RunLedger]] phases; the sub-index fold and the final
    * classification have no action of their own — they run fused in the
    * caller's action on the returned dataset. */
  def classify2MultiSample(reads: Dataset[InputFragment], sampleRegex: String,
      library: Dataset[(Int, String)], staticRecords: DataFrame,
      criterion: TaxonCriterion = DistinctMinimizers,
      rank: String = "species", threshold: Long = 100,
      confidence: Double = 0.0, minHitGroups: Int = 2,
      initConfidence: Option[Double] = None,
      detail: Boolean = true,
      staticLeafPairs: Option[DataFrame] = None)
      : (Dataset[ClassifiedRead], Map[String, collection.BitSet], () => Unit) = {
    val spark = reads.sparkSession
    import spark.implicits._
    val keys = index.keyCols

    // the sample id is extracted ONCE into the cached span frame (r21):
    // three consumers read it (sample enumeration, the evidence rollup,
    // the group tag join) and each previously re-ran the regex over every
    // span row. Not pre-partitioned on the keys — see classify2Full's note
    // (the full-row cache exchange measured slower than the pruned
    // per-join exchanges it would replace).
    val spans = index.spansDF(reads)
      .withColumn("sample", regexp_extract(col("title"), sampleRegex, 1))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // guard the driver BEFORE collecting any per-(sample, taxon) evidence:
    // a too-broad regex (e.g. the "^(.*)$" output default) would make every
    // read its own sample, and the evidence collect itself — not just the
    // later selection — would degenerate into per-read driver state. Samples
    // enumerate from the spans, not the evidence, so a sample whose reads
    // hit nothing still gets an (empty) selection and a result.
    val samples = RunLedger.phase(spark, "sample_enum") {
      spans.select(col("sample")).distinct().as[String].collect()
    }
    require(samples.length <= 100000,
      s"sample regex '$sampleRegex' yields ${samples.length} distinct " +
        "samples — per-sample selection needs a regex that groups reads " +
        "into samples, not one per read")

    // one evidence aggregation for every sample at once
    val evidenceDf = criterion match {
      case TotalMinimizers =>
        // per-(sample, key) Σkmers BEFORE the join — see the single-sample
        // evidence note (sum of sums; the join ships pre-aggregated rows)
        spans.groupBy((col("sample") +: keys.map(col)): _*)
          .agg(sum($"kmers").as("kmers"))
          .join(staticRecords, keys)
          .groupBy(col("sample"), col("taxon"))
          .agg(sum($"kmers").cast("long").as("count"))
      case DistinctMinimizers =>
        // distinct (sample, key) pairs BEFORE the join — the records side
        // is unique per key, so per-(sample, taxon) countDistinct(keys)
        // equals the joined row count (see the single-sample evidence
        // note); the dedup exchange moves to the slim pre-join projection
        // and the post-join countDistinct expand disappears
        spans.select((col("sample") +: keys.map(col)): _*).distinct()
          .join(staticRecords, keys)
          .groupBy(col("sample"), col("taxon"))
          .agg(count(lit(1)).cast("long").as("count"))
      case ClassifiedReads =>
        // initConfidence overrides the first-pass confidence only, like
        // the single-sample path
        // count-only first pass: skip the per-read hit-string build.
        // classifyDF re-derives per-read rows, so the cached sample column
        // is not in scope here — re-extract from the title
        index.classifyDF(spans, staticRecords,
            initConfidence.getOrElse(confidence), minHitGroups,
            detail = false)
          .filter(_.classified).toDF()
          .groupBy(regexp_extract(col("title"), sampleRegex, 1).as("sample"),
            col("taxon"))
          .agg(count(lit(1)).cast("long").as("count"))
    }
    val ev = RunLedger.phase(spark, "evidence") {
      evidenceDf.as[(String, Int, Long)].collect()
    }

    // driver-side per-sample selection on the collected evidence (small)
    val bySample = ev.groupBy(_._1)
    val perSample: Map[String, collection.BitSet] = samples.map { s =>
      s -> selectTaxa(bySample.getOrElse(s, Array.empty).map(e => (e._2, e._3)),
        rank, threshold)
    }.toMap

    // distinct selections -> group ids; samples sharing a selection share
    // the sub-index build and the records themselves
    val groups: Seq[(collection.BitSet, Int)] =
      perSample.values.toSeq.distinct.zipWithIndex
    val grpOfSet = groups.toMap
    val sampleGrp = perSample.toSeq.map { case (s, t) => (s, grpOfSet(t)) }

    // ONE extraction over the union of all selections, then per-group LCA
    // records via broadcast taxon->grp tagging (a taxon selected by several
    // groups duplicates only its small (key, taxon) pairs, never the
    // library). With caller-supplied static leaf pairs the extraction is
    // skipped entirely: the broadcast taxon->grp join restricts the pairs
    // to the union of selections by itself (see classify2Full's
    // staticLeafPairs note for why the re-fold is exact).
    val taxonGrp = groups.flatMap { case (set, g) => set.toSeq.map(t => (t, g)) }
      .toDF("taxon", "grp")
    val pairsSrc = staticLeafPairs.getOrElse {
      val union = perSample.values
        .foldLeft(collection.immutable.BitSet.empty: collection.BitSet)(_ | _)
      val bcUnion = spark.sparkContext.broadcast(union)
      index.buildLeafPairs(library.filter(g => bcUnion.value.contains(g._1)))
    }
    val dynRecords = index.foldLeafPairs(
        pairsSrc.join(broadcast(taxonGrp), "taxon"),
        extraCols = Seq("grp"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // one classification join on (grp, key...); the sample tag is already
    // a cached span column
    val taggedSpans = spans
      .join(broadcast(sampleGrp.toDF("sample", "grp")), Seq("sample"))
    val result = ClassifyKernel.classifyJoined(
      taggedSpans.join(dynRecords, "grp" +: keys, "left"),
      bcTax, confidence, minHitGroups, detail)
    val cleanup = () => {
      spans.unpersist(blocking = false)
      dynRecords.unpersist(blocking = false)
      ()
    }
    (result, perSample, cleanup)
  }

  /** Bracken weights against the DYNAMIC sub-index (spec: reference
    * Dynamic.scala:339-344 — weights regenerated per selected-taxa set, not
    * against the static library): self-classify the sub-library's windows
    * over the dynamic records. */
  def dynamicWeights(subLibrary: Dataset[(Int, String)], dynRecords: DataFrame,
      readLen: Int): DataFrame =
    new Bracken(index, bcTax).weights(subLibrary, dynRecords, readLen)
}
