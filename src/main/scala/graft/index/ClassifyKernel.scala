package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.taxa.{LcaResolver, Sentinels, Taxonomy}

/** Key-width-independent half of the classification pipeline (spec: reference
  * slacken/Classifier.scala:96-150 — the reference treats minimizer width
  * uniformly, KmerKeyedIndex.scala:27-55; graft joins on the width's key
  * columns and shares everything after it).
  *
  * Both [[MinimizerIndex]] (single-long keys, m <= 32) and
  * [[WideMinimizerIndex]] (2..4 long keys, m in [33, 128]) produce, after
  * their span ⋈ records join, rows of
  * (title, hit struct(ordinal, taxon, kmers, distinct), seqLen); from there
  * the regroup, the ordinal re-sort, the Kraken hit string and the
  * LCA resolution are identical and live here.
  */
object ClassifyKernel {
  import Sentinels._

  /** Span flag -> taxon projection: ambiguous and mate-border spans become
    * sentinel taxa, unjoined spans become NONE. */
  def sentinelTaxon(flag: Column, taxon: Column): Column =
    when(flag === AMBIGUOUS_FLAG, lit(AMBIGUOUS_SPAN))
      .when(flag === MATE_PAIR_BORDER_FLAG, lit(MATE_PAIR_BORDER))
      .otherwise(coalesce(taxon, lit(Taxonomy.NONE)))

  /** Regroup joined spans per read. Input columns: title, flag, taxon
    * (nullable, from the left join), ordinal, kmers, distinct, seqLen. */
  def group(joined: DataFrame): Dataset[(String, Seq[TaxonHit], Long, Int)] = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined
      .select($"title",
        struct($"ordinal", sentinelTaxon($"flag", $"taxon").as("taxon"),
          $"kmers", $"distinct").as("hit"),
        $"seqLen")
      .groupBy($"title")
      .agg(collect_list($"hit").as("hits"),
        sum(when($"hit.distinct" && $"hit.taxon" > 0, 1).otherwise(0)).as("hitGroups"),
        max($"seqLen").as("seqLen"))
      .as[(String, Seq[TaxonHit], Long, Int)]
  }

  /** Resolve grouped hits to per-read classifications.
    * @param detail emit the Kraken hit-detail string (costs the string build) */
  def resolve(grouped: Dataset[(String, Seq[TaxonHit], Long, Int)],
      bcTax: Broadcast[Taxonomy], confidence: Double, minHitGroups: Int,
      detail: Boolean = true): Dataset[ClassifiedRead] = {
    val spark = grouped.sparkSession
    import spark.implicits._
    grouped.mapPartitions { it =>
      // one resolver per task, not per read
      val resolver = new LcaResolver(bcTax.value)
      it.map { case (title, hits, hitGroups, seqLen) =>
        val ordered = hits.sortBy(_.ordinal)
        val taxon =
          if (hitGroups < minHitGroups) Taxonomy.NONE
          else resolver.classify(ordered.map(h => (h.taxon, h.kmers)), confidence)
        ClassifiedRead(title, taxon != Taxonomy.NONE, taxon, seqLen,
          if (detail) hitString(ordered) else "")
      }
    }
  }

  /** Count-only regroup (r21, guide §2.3 "shuffle fewer bytes"): when the
    * consumer discards the Kraken hit string (`detail = false`),
    * resolution needs neither the span ORDINALS (LcaResolver.classify sums
    * per-taxon counts — the hit-count map is order-independent, and the
    * tie-break folds ties through the commutative LCA) nor the DISTINCT
    * flags inside the buffer (the hit-group gate is a pre-aggregated SUM
    * column). The collected hit struct narrows from (ordinal, taxon,
    * kmers, distinct) to (taxon, kmers) — the regroup exchange and the
    * per-group object buffers shed the two columns. Row-identical to
    * [[group]] + [[resolve]] at `detail = false` (pinned by the oracle on
    * every classify lane and by OrderInsensitivitySpec).
    *
    * r22 (guide §2.3 "aggregate before you shuffle"): the hit list is now
    * built by [[graft.functions.TaxonCountsAggregate]] — a per-group
    * (taxon -> Σkmers) counter — instead of `collect_list(struct(taxon,
    * kmers))`. A read's spans mostly repeat the same taxon (a read is
    * drawn from one genome), so the partial-aggregation buffers that cross
    * the title regroup exchange carry one (taxon, Σkmers) entry per
    * DISTINCT taxon per read instead of one entry per span. Legal by the
    * same order-independence argument as the r21 narrowing: the resolver
    * only ever sums kmers per taxon (sums of sums), and its tie arm
    * LCA-folds the max-scoring taxa commutatively. Pinned by
    * TaxonCountsAggregateSpec + ClassifyCountsSpec + the full oracle. */
  def groupCounts(joined: DataFrame): Dataset[(String, Seq[(Int, Int)], Long, Int)] = {
    val spark = joined.sparkSession
    import spark.implicits._
    graft.functions.TaxonCountsAggregate.register(spark)
    val taxon = sentinelTaxon($"flag", $"taxon")
    joined
      .select($"title", taxon.as("t"), $"kmers",
        when($"distinct" && taxon > 0, 1).otherwise(0).as("hg"),
        $"seqLen")
      .groupBy($"title")
      .agg(graft.functions.TaxonCountsAggregate.taxonCounts($"t", $"kmers")
          .as("hits"),
        sum($"hg").as("hitGroups"),
        max($"seqLen").as("seqLen"))
      .as[(String, Seq[(Int, Int)], Long, Int)]
  }

  /** Resolve count-only groups ([[groupCounts]]) to per-read
    * classifications — the `detail = false` twin of [[resolve]]. */
  def resolveCounts(grouped: Dataset[(String, Seq[(Int, Int)], Long, Int)],
      bcTax: Broadcast[Taxonomy], confidence: Double, minHitGroups: Int)
      : Dataset[ClassifiedRead] = {
    val spark = grouped.sparkSession
    import spark.implicits._
    grouped.mapPartitions { it =>
      val resolver = new LcaResolver(bcTax.value)
      it.map { case (title, hits, hitGroups, seqLen) =>
        val taxon =
          if (hitGroups < minHitGroups) Taxonomy.NONE
          else resolver.classify(hits, confidence)
        ClassifiedRead(title, taxon != Taxonomy.NONE, taxon, seqLen, "")
      }
    }
  }

  /** [[group]]+[[resolve]] or the narrow [[groupCounts]]+[[resolveCounts]]
    * pair, chosen by `detail` — the shared entry every classify join path
    * routes through. */
  def classifyJoined(joined: DataFrame, bcTax: Broadcast[Taxonomy],
      confidence: Double, minHitGroups: Int, detail: Boolean)
      : Dataset[ClassifiedRead] =
    if (detail)
      resolve(group(joined), bcTax, confidence, minHitGroups, detail = true)
    else resolveCounts(groupCounts(joined), bcTax, confidence, minHitGroups)

  /** Resolve ONE read's ordered hits executor-locally — the core of the
    * zero-shuffle in-memory classification path
    * ([[MinimizerIndex.classifyInMemory]]). Semantically identical to
    * [[group]] + [[resolve]]: hitGroups counts distinct positive-taxon hits,
    * the min-hit-groups gate precedes LCA resolution, and `detail` renders
    * the same Kraken hit string. */
  def resolveLocal(title: String, ordered: Seq[TaxonHit], seqLen: Int,
      resolver: LcaResolver, confidence: Double, minHitGroups: Int,
      detail: Boolean): ClassifiedRead = {
    val hitGroups = ordered.count(h => h.distinct && h.taxon > 0)
    val taxon =
      if (hitGroups < minHitGroups) Taxonomy.NONE
      else resolver.classify(ordered.map(h => (h.taxon, h.kmers)), confidence)
    ClassifiedRead(title, taxon != Taxonomy.NONE, taxon, seqLen,
      if (detail) hitString(ordered) else "")
  }

  /** Kraken 2 hit-detail string: "taxon:count taxon:count |:| ...",
    * run-length merging consecutive equal taxa, A for ambiguous. */
  def hitString(ordered: Seq[TaxonHit]): String = {
    val sb = new StringBuilder
    var lastTaxon = Int.MinValue
    var lastCount = 0
    def flush(): Unit = if (lastCount > 0 || lastTaxon != Int.MinValue) {
      if (lastTaxon != Int.MinValue) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(if (lastTaxon == AMBIGUOUS_SPAN) "A" else lastTaxon.toString)
        sb.append(':').append(lastCount)
      }
    }
    for (h <- ordered) {
      if (h.taxon == MATE_PAIR_BORDER) {
        flush(); lastTaxon = Int.MinValue; lastCount = 0
        if (sb.nonEmpty) sb.append(' ')
        sb.append("|:|")
      } else if (h.taxon == lastTaxon) lastCount += h.kmers
      else {
        flush(); lastTaxon = h.taxon; lastCount = h.kmers
      }
    }
    flush()
    sb.toString
  }

  /** Per-taxon read counts -> Kraken-style report (driver-side clade DFS). */
  def report(classified: Dataset[ClassifiedRead], bcTax: Broadcast[Taxonomy])
      : KrakenReport = {
    val spark = classified.sparkSession
    import spark.implicits._
    val counts = classified
      .groupBy($"taxon").agg(count(lit(1)).as("cnt"))
      .as[(Int, Long)].collect()
    new KrakenReport(bcTax.value, counts)
  }
}
